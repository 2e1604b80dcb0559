package org.apache.hadoop.fs.local

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus,
  LocatedFileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import perfbench.Ledger.op

import java.net.URI

/** The `FileContext` twin of `perfbench.CountingFileSystem`: Hadoop's own
  * `LocalFs` (same checksum and rename behaviour), with each public
  * operation reported to the ledger. Lives in `LocalFs`'s package because
  * its constructors are package-private. Installed through
  * `spark.hadoop.fs.AbstractFileSystem.file.impl`.
  */
class CountingLocalFs(uri: URI, conf: Configuration) extends LocalFs(uri, conf) {
  override def listStatus(f: Path): Array[FileStatus] = op("list", f)(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    op("list", f)(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    op("list", f)(super.listLocatedStatus(f))
  override def getFileStatus(f: Path): FileStatus = op("stat", f)(super.getFileStatus(f))
  override def getFileLinkStatus(f: Path): FileStatus = op("stat", f)(super.getFileLinkStatus(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    op("open", f)(super.open(f, bufferSize))
  override def createInternal(f: Path, flag: java.util.EnumSet[CreateFlag],
      absolutePermission: FsPermission, bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable, checksumOpt: Options.ChecksumOpt,
      createParent: Boolean): FSDataOutputStream =
    op("create", f)(super.createInternal(f, flag, absolutePermission, bufferSize, replication,
      blockSize, progress, checksumOpt, createParent))
  override def renameInternal(src: Path, dst: Path): Unit =
    op("rename", src)(super.renameInternal(src, dst))
  override def renameInternal(src: Path, dst: Path, overwrite: Boolean): Unit =
    op("rename", src)(super.renameInternal(src, dst, overwrite))
  override def delete(f: Path, recursive: Boolean): Boolean =
    op("delete", f)(super.delete(f, recursive))
  override def mkdir(dir: Path, permission: FsPermission, createParent: Boolean): Unit =
    op("mkdirs", dir)(super.mkdir(dir, permission, createParent))
}
