package perfbench

import org.apache.hadoop.fs.{CreateFlag, FSDataInputStream, FSDataOutputStream, FileStatus,
  LocalFileSystem, LocatedFileStatus, Options, Path, RemoteIterator}
import org.apache.hadoop.fs.impl.OpenFileParameters
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

import java.util.concurrent.{CompletableFuture, ConcurrentHashMap}
import java.util.concurrent.atomic.LongAdder
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** The filesystem ledger: every `file:` operation the program issues,
  * counted by path class and kind. Fed by [[CountingFileSystem]] (the
  * `FileSystem` API) and `org.apache.hadoop.fs.local.CountingLocalFs`
  * (the `FileContext` API the streaming checkpoint uses). Both are
  * installed only in the benchmark's own session, through
  * `spark.hadoop.fs.file.impl` / `fs.AbstractFileSystem.file.impl`.
  */
object Ledger {
  val Classes: Seq[String] = Seq("manifest", "data", "index", "view", "checkpoint", "other")
  val Kinds: Seq[String] = Seq("list", "stat", "open", "create", "rename", "delete", "mkdirs")

  @volatile var enabled = false

  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val openedData = ConcurrentHashMap.newKeySet[String]()
  // (absolute path prefix, role): role is "table", "view" or "checkpoint"
  @volatile private var roots: Seq[(String, String)] = Nil
  // nested calls on the same thread (exists -> getFileStatus, open ->
  // openFileWithOptions) are one operation of the caller, counted once
  private val depth = ThreadLocal.withInitial[Integer](() => 0)

  def register(path: String, role: String): Unit = synchronized {
    roots = (norm(path), role) +: roots.filterNot(_._1 == norm(path))
  }

  private def norm(p: String): String = new Path(p).toUri.getPath.stripSuffix("/")

  def classify(p: Path): String = {
    val s = p.toUri.getPath
    roots.find { case (r, _) => s == r || s.startsWith(r + "/") } match {
      case None => "other"
      case Some((r, role)) => role match {
        case "checkpoint" => "checkpoint"
        case "view" => "view"
        case _ =>
          s.drop(r.length + 1).takeWhile(_ != '/') match {
            case "_versions" | "_groups" => "manifest"
            case "data" => "data"
            case "_indices" => "index"
            case _ => "other"
          }
      }
    }
  }

  def op[T](kind: String, path: Path)(body: => T): T = {
    val d: Int = depth.get()
    if (d == 0 && enabled) {
      val cls = classify(path)
      counts.computeIfAbsent(s"fs.$cls.$kind", _ => new LongAdder).increment()
      if (kind == "open" && cls == "data") openedData.add(path.toUri.getPath)
    }
    depth.set(d + 1)
    try body finally depth.set(d)
  }

  /** Bytes written through Hadoop's local filesystem by every caller in
    * this JVM (data, manifests, checksums, checkpoint files). */
  def bytesWritten: Long =
    org.apache.hadoop.fs.FileSystem.getAllStatistics.asScala
      .filter(_.getScheme == "file").map(_.getBytesWritten).sum

  def snapshot(): Map[String, Long] = {
    val m = counts.asScala.map { case (k, v) => k -> v.sum() }.toMap
    m + ("fs.bytes_written" -> bytesWritten)
  }

  /** Distinct data files opened since the last call, and reset. */
  def takeOpenedData(): Int = {
    val n = openedData.size(); openedData.clear(); n
  }
}

/** `LocalFileSystem` that reports each public operation to [[Ledger]]. */
class CountingFileSystem extends LocalFileSystem {
  import Ledger.op

  override def listStatus(f: Path): Array[FileStatus] = op("list", f)(super.listStatus(f))
  override def listStatusIterator(f: Path): RemoteIterator[FileStatus] =
    op("list", f)(super.listStatusIterator(f))
  override def listLocatedStatus(f: Path): RemoteIterator[LocatedFileStatus] =
    op("list", f)(super.listLocatedStatus(f))
  override def getFileStatus(f: Path): FileStatus = op("stat", f)(super.getFileStatus(f))
  override def exists(f: Path): Boolean = op("stat", f)(super.exists(f))
  override def open(f: Path, bufferSize: Int): FSDataInputStream =
    op("open", f)(super.open(f, bufferSize))
  override protected def openFileWithOptions(f: Path, p: OpenFileParameters)
      : CompletableFuture[FSDataInputStream] = op("open", f)(super.openFileWithOptions(f, p))
  override def create(f: Path, permission: FsPermission, overwrite: Boolean, bufferSize: Int,
      replication: Short, blockSize: Long, progress: Progressable): FSDataOutputStream =
    op("create", f)(super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress))
  override def create(f: Path, permission: FsPermission, flags: java.util.EnumSet[CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long, progress: Progressable,
      checksumOpt: Options.ChecksumOpt): FSDataOutputStream =
    op("create", f)(super.create(f, permission, flags, bufferSize, replication, blockSize,
      progress, checksumOpt))
  override def createNonRecursive(f: Path, permission: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream =
    op("create", f)(super.createNonRecursive(f, permission, overwrite, bufferSize,
      replication, blockSize, progress))
  override def createNonRecursive(f: Path, permission: FsPermission,
      flags: java.util.EnumSet[CreateFlag], bufferSize: Int, replication: Short,
      blockSize: Long, progress: Progressable): FSDataOutputStream =
    op("create", f)(super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress))
  override def rename(src: Path, dst: Path): Boolean = op("rename", src)(super.rename(src, dst))
  override def delete(f: Path, recursive: Boolean): Boolean =
    op("delete", f)(super.delete(f, recursive))
  override def mkdirs(f: Path): Boolean = op("mkdirs", f)(super.mkdirs(f))
  override def mkdirs(f: Path, permission: FsPermission): Boolean =
    op("mkdirs", f)(super.mkdirs(f, permission))
}

/** Spark engine ledger: jobs (by the module that started them), stages,
  * tasks, executor time and I/O, plus the wall-clock intervals during
  * which at least one job ran (for `engine.driver_ms`). */
class EngineListener(moduleOf: String => String) extends SparkListener {
  private val counts = new ConcurrentHashMap[String, LongAdder]()
  private val jobStart = new ConcurrentHashMap[Int, java.lang.Long]()
  private val intervals = mutable.ArrayBuffer.empty[(Long, Long)]

  private def add(k: String, n: Long): Unit =
    counts.computeIfAbsent(k, _ => new LongAdder).add(n)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    add("engine.jobs", 1)
    // a streaming query's jobs keep the call site of its start(); name them
    // by the query instead. Others: the result stage is named after the
    // job's call site (`callSite.short`).
    val streaming = Option(e.properties).exists(_.getProperty("sql.streaming.queryId") != null)
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    add(s"engine.jobs.${if (streaming) "streaming" else moduleOf(site)}", 1)
    jobStart.put(e.jobId, e.time)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = {
    val s = jobStart.remove(e.jobId)
    if (s != null) intervals.synchronized { intervals += ((s.longValue, e.time)) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = add("engine.stages", 1)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    add("engine.tasks", 1)
    val m = e.taskMetrics
    if (m != null) {
      add("engine.task_ms", m.executorRunTime)
      add("engine.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten)
      add("engine.input_bytes", m.inputMetrics.bytesRead)
      add("engine.records_read", m.inputMetrics.recordsRead)
    }
  }

  def snapshot(): Map[String, Long] = counts.asScala.map { case (k, v) => k -> v.sum() }.toMap

  /** Milliseconds of [from, to] covered by at least one running job. */
  def jobBusyMs(from: Long, to: Long): Long = {
    val iv = intervals.synchronized(intervals.toList)
      .map { case (s, e) => (math.max(s, from), math.min(e, to)) }
      .filter { case (s, e) => e > s }.sortBy(_._1)
    var busy = 0L; var curS = -1L; var curE = -1L
    iv.foreach { case (s, e) =>
      if (s > curE) { busy += curE - curS; curS = s; curE = e }
      else curE = math.max(curE, e)
    }
    busy + (curE - curS)
  }
}

object EngineListener {
  val Modules: Seq[String] =
    Seq("connector", "format", "index", "operators", "streaming", "bench", "other")

  private val SiteFile = """ at ([A-Za-z0-9_$]+\.scala):""".r

  /** Maps a call site such as `collect at IvfIndex.scala:590` to the
    * module whose source file it names: the graft package directory the
    * file lives in, `bench` for this benchmark's own files, else `other`
    * (including jobs started from thread pools, whose call site names no
    * graft file). */
  def moduleMap(srcRoot: java.io.File, benchRoot: java.io.File): String => String = {
    def files(d: java.io.File): Seq[java.io.File] =
      Option(d.listFiles).toSeq.flatten.flatMap(f => if (f.isDirectory) files(f) else Seq(f))
    val graft = new java.io.File(srcRoot, "graft")
    val main = files(graft).filter(_.getName.endsWith(".scala")).map { f =>
      val dir = f.getParentFile.getName
      f.getName -> (if (Modules.contains(dir)) dir else "other")
    }.toMap
    val bench = files(benchRoot).filter(_.getName.endsWith(".scala")).map(_.getName -> "bench").toMap
    val all = main ++ bench
    site => SiteFile.findFirstMatchIn(site).flatMap(m => all.get(m.group(1))).getOrElse("other")
  }
}
