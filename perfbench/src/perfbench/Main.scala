package perfbench

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import java.io.File
import java.lang.management.ManagementFactory
import scala.jdk.CollectionConverters._

/** Benchmark entry point:
  * `perfbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>`.
  *
  * Untraced (`--trace 0`): sets up the workload several times (the median
  * is `setup_s`), warms up, then runs the closed loop for `--seconds` and
  * prints the end-to-end metrics. Traced (`--trace 1`): one set-up, the
  * machine reference jobs, then the same fixed op count twice, first
  * untraced and then with the ledger and spans on; prints the per-layer
  * metrics. Every run checks every output; the last stdout line is the
  * JSON result.
  */
object Main {
  val Workloads: Seq[String] = Seq("vector-serve", "ingest-cdc")
  val SetupRepeats = 3
  /** Every op kind of every workload, and the workload-specific figures:
    * a traced run reports all of them (0 where the workload has none). */
  val AllKinds: Seq[String] =
    Seq("ivf", "ivf_filtered", "hnsw", "range", "point", "agg", "full", "epoch", "upsert", "delete")
  val Extras: Seq[(String, String)] = Seq("recall_at_10" -> "ratio", "space_amp" -> "ratio") ++
    Seq("add_batch", "wal_commit", "commit_offsets", "query_planning", "latest_offset", "get_batch")
      .map(s => s"streaming.${s}_ms" -> "ms")

  final case class Opts(workload: String, seed: Long, seconds: Int, trace: Boolean) {
    val work: File = new File(".bench_build/perfbench/work").getAbsoluteFile
  }

  def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    val w = need("workload")
    require(Workloads.contains(w), s"unknown workload $w (one of ${Workloads.mkString(", ")})")
    Opts(w, need("seed").toLong, need("seconds").toInt, need("trace") == "1")
  }

  def session(work: File, ledger: Boolean): SparkSession = {
    val cpus = Runtime.getRuntime.availableProcessors().toString
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.extensions", "graft.GraftSparkExtensions")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(work, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(work, "warehouse").getPath)
    if (ledger) {
      b.config("spark.hadoop.fs.file.impl", classOf[CountingFileSystem].getName)
      b.config("spark.hadoop.fs.AbstractFileSystem.file.impl",
        classOf[org.apache.hadoop.fs.local.CountingLocalFs].getName)
    }
    val spark = b.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    if (ledger) {
      def fsClass = new Path("file:///").getFileSystem(spark.sessionState.newHadoopConf()).getClass
      // a `file:` instance cached before the session existed would bypass the ledger
      if (fsClass != classOf[CountingFileSystem]) org.apache.hadoop.fs.FileSystem.closeAll()
      require(fsClass == classOf[CountingFileSystem], s"ledger filesystem not installed: $fsClass")
    }
    spark
  }

  def make(name: String, spark: SparkSession, seed: Long): Workload = name match {
    case "vector-serve" => new VectorServe(spark, seed)
    case "ingest-cdc" => new IngestCdc(spark, seed)
  }

  def deleteRecursively(f: File): Unit = {
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.foreach(deleteRecursively)
    f.delete()
  }

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** The two reference jobs `graft.Bench` times as its canaries: a
    * CPU-bound Spark job and 128 x 8 KiB write+fsync. Median of 3. */
  def cpuRefMs(spark: SparkSession): Double = {
    def once() = {
      val t0 = System.nanoTime()
      spark.range(0L, 400000000L, 1L, 32).selectExpr("sum(hash(id))").collect()
      (System.nanoTime() - t0) / 1e6
    }
    once(); Stats.median(Seq.fill(3)(once()))
  }

  def fsyncRefMs(dir: File): Double = {
    def once() = {
      dir.mkdirs()
      val buf = Array.fill[Byte](8192)(7)
      val t0 = System.nanoTime()
      (0 until 128).foreach { i =>
        val out = new java.io.FileOutputStream(new File(dir, s"c$i.bin"))
        try { out.write(buf); out.getFD.sync() } finally out.close()
      }
      val ms = (System.nanoTime() - t0) / 1e6
      deleteRecursively(dir)
      ms
    }
    once(); Stats.median(Seq.fill(3)(once()))
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    deleteRecursively(o.work)
    o.work.mkdirs()
    val spark = session(o.work, o.trace)
    val code = try run(o, spark) finally spark.stop()
    sys.exit(code)
  }

  private val t0 = System.nanoTime()
  def note(what: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%7.2f s: $what")

  def run(o: Opts, spark: SparkSession): Int = {
    note("session up")
    val w = make(o.workload, spark, o.seed)
    val metrics = scala.collection.mutable.LinkedHashMap.empty[String, (Double, String)]
    def put(n: String, v: Double, u: String): Unit = metrics(n) = (v, u)
    val listener = if (o.trace) {
      val srcRoot = new File("src/main/scala"); val benchRoot = new File("perfbench/src")
      Some(new EngineListener(EngineListener.moduleMap(srcRoot, benchRoot)))
    } else None
    val h = new Harness(spark, listener)

    val cpuRef = if (o.trace) cpuRefMs(spark) else 0.0
    val fsyncRef = if (o.trace) fsyncRefMs(new File(o.work, "fsync-ref")) else 0.0

    // set-up: several full builds in untraced runs (their median is
    // setup_s; the first also warms the JVM up), one when traced
    Tracer.enabled = o.trace
    val repeats = if (o.trace) 1 else SetupRepeats
    val setupS = (1 to repeats).map { r =>
      val dir = new File(o.work, s"setup-$r")
      val t0 = System.nanoTime()
      w.setup(dir)
      val s = (System.nanoTime() - t0) / 1e9
      if (r < repeats) { w.close(); deleteRecursively(dir) }
      note(f"set-up $r took $s%.3f s")
      s
    }
    Tracer.enabled = false
    w.roots.foreach { case (p, role) => Ledger.register(p, role) }
    w.start()
    var i = 0
    (0 until w.warmupOps).foreach { _ => Tracer.setOp(i); w.op(i, h); i += 1 }
    note("warm-up ops done")
    h.log.clear()

    /** Runs ops; returns the rate: ops per cycle over the median cycle's
      * wall-clock, so a burst of load on the machine that slows one cycle
      * does not move it. */
    def phase(ops: Option[Int]): Double = {
      val t0 = System.nanoTime()
      val deadline = t0 + o.seconds * 1000000000L
      var n = 0
      var cycleStart = t0
      val cycleS = scala.collection.mutable.ArrayBuffer.empty[Double]
      // whole cycles only, so every run sees the same mix of kinds
      def more = System.nanoTime() < deadline || n % w.kinds.size != 0
      while (ops.fold(more)(n < _)) {
        Tracer.setOp(i); w.op(i, h); i += 1; n += 1
        if (n % w.kinds.size == 0) {
          val now = System.nanoTime()
          cycleS += (now - cycleStart) / 1e9
          cycleStart = now
        }
      }
      w.kinds.size / Stats.median(cycleS)
    }

    val kindsLog = if (!o.trace) {
      val gc0 = gcMs()
      val opsPerS = phase(None)
      val gc = gcMs() - gc0
      w.close() // a running stream would leave a batch in flight on the heap
      // the second collection takes what Spark's cleaner released after the
      // first (broadcasts and shuffles of collected plans)
      System.gc(); Thread.sleep(1000); System.gc()
      // what the full collection left live, not what was allocated since
      val heapMb = ManagementFactory.getMemoryPoolMXBeans.asScala
        .filter(_.getType == java.lang.management.MemoryType.HEAP)
        .flatMap(p => Option(p.getCollectionUsage)).map(_.getUsed).sum / 1048576.0
      println(f"[perfbench] p95 over ${h.log.count(w.kinds)} ops: " +
        f"${Stats.quantile(h.log.all(w.kinds), 0.95)}%.1f ms")
      val p50s = w.kinds.flatMap(k => h.log.latMs.get(k).map(Stats.median))
      put("setup_s", Stats.median(setupS), "s")
      put("ops_per_s", opsPerS, "1/s")
      put("p50_ms", math.exp(p50s.map(math.log).sum / p50s.size), "ms")
      put("heap_after_gc_mb", heapMb, "MB")
      System.err.println(f"[perfbench] jvm.gc_ms=$gc")
      h.log
    } else {
      // phase A: untraced, same op count as the traced phase
      val untraced = phase(Some(w.tracedOps))
      val logA = h.log.copy()
      h.log.clear()
      // phase B: ledger, engine listener and spans on
      listener.foreach(spark.sparkContext.addSparkListener)
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      Ledger.enabled = true; h.ledgerOn = true; Tracer.enabled = true
      val firstTraced = i
      val gc0 = gcMs()
      val traced = phase(Some(w.tracedOps))
      val gc = gcMs() - gc0
      Ledger.enabled = false; h.ledgerOn = false; Tracer.enabled = false
      val n = h.log.count(w.kinds).toDouble
      def per(k: String): Double = h.totals.getOrElse(k, 0L) / n
      Seq("engine.jobs", "engine.stages", "engine.tasks", "engine.task_ms").foreach(k =>
        put(k, per(k), if (k.endsWith("_ms")) "ms" else "count"))
      put("engine.shuffle_write_bytes", per("engine.shuffle_write_bytes"), "bytes")
      put("engine.input_bytes", per("engine.input_bytes"), "bytes")
      put("engine.records_read", per("engine.records_read"), "count")
      put("engine.driver_ms", h.driverMs / n, "ms")
      EngineListener.Modules.foreach(m => put(s"engine.jobs.$m", per(s"engine.jobs.$m"), "count"))
      for (c <- Ledger.Classes; k <- Ledger.Kinds) put(s"fs.$c.$k", per(s"fs.$c.$k"), "count")
      put("fs.bytes_written", per("fs.bytes_written"), "bytes")
      val fmt = Format.describe(spark, w.mainTable)
      put("format.versions", fmt.versions, "count")
      put("format.fragments", fmt.fragments, "count")
      put("format.manifest_bytes", fmt.manifestBytes, "bytes")
      val user = w.userBytesWritten.toDouble
      put("format.bytes_written_per_user_byte",
        if (user > 0) h.totals.getOrElse("fs.bytes_written", 0L) / user else 0.0, "ratio")
      val self = Tracer.selfMs(_.op >= firstTraced)
      Seq("op", "index.search", "connector.read", "engine.plan", "engine.execute",
        "streaming.epoch", "operators.upsert", "operators.delete", "connector.check").foreach { s =>
        val v = if (s == "op") self.filter(_._1.startsWith("op.")).values.sum
          else self.getOrElse(s"span.$s", 0.0)
        put(s"span.$s", v / n, "ms")
      }
      val setupSelf = Tracer.selfMs(_.op < 0)
      Seq("generate", "write", "ivf_build", "hnsw_build", "scalar_build", "analyze", "mv_create")
        .foreach(s => put(s"span.setup.$s", setupSelf.getOrElse(s"span.setup.$s", 0.0), "ms"))
      put("machine.cpu_ref_ms", cpuRef, "ms")
      put("machine.fsync_ref_ms", fsyncRef, "ms")
      put("jvm.gc_ms", gc.toDouble, "ms")
      put("tracing.overhead_ops_per_s", untraced - traced, "1/s")
      put("p95_ms", Stats.quantile(logA.all(w.kinds), 0.95), "ms")
      def kindRatio(kinds: Seq[String], counter: String, per: Double): Unit = kinds.foreach { k =>
        val ops = h.log.attempted.getOrElse(k, 0)
        val v = h.perKind.get(k).fold(0L)(_(counter))
        val name = if (counter == "engine.records_read") s"index.rows_read_per_result.$k"
          else s"connector.files_opened_ratio.$k"
        put(name, if (ops > 0 && per > 0) v / (per * ops) else 0.0, "ratio")
      }
      kindRatio(Seq("range", "point", "agg", "full"), "fs.data.opened_distinct", fmt.fragments)
      kindRatio(Seq("ivf", "ivf_filtered", "hnsw"), "engine.records_read", VectorServe.K)
      logA
    }
    note("measured")
    val errors = w.verify()
    note("verified")
    val extras = w.extras()
    if (o.trace) {
      AllKinds.foreach(k => put(s"${k}_p50_ms", kindsLog.latMs.get(k).fold(0.0)(Stats.median), "ms"))
      Extras.foreach { case (n, u) => put(n, extras.getOrElse(n, 0.0), u) }
    } else extras.foreach { case (n, v) => println(f"[perfbench] $n = $v%.4f") }

    w.close()
    if (o.trace) Tracer.write(new File(o.work, s"../trace/${o.workload}-seed${o.seed}.spans.jsonl"))

    // human-readable report, then the JSON result as the last line
    (w.kinds :+ "check").foreach { k =>
      kindsLog.attempted.get(k).foreach { a =>
        println(f"[perfbench] $k%-14s attempted=$a%4d failed=${kindsLog.failed.getOrElse(k, 0)}%3d " +
          f"p50=${Stats.median(kindsLog.latMs(k))}%9.2f ms")
      }
    }
    errors.foreach(e => println(s"[perfbench] CHECK FAILED: $e"))
    // a traced run's phases A and B both count
    val logs = if (o.trace) Seq(kindsLog, h.log) else Seq(h.log)
    val attempted = logs.map(_.attempted.values.sum).sum
    val failed = logs.map(_.failed.values.sum).sum
    val body = metrics.map { case (n, (v, u)) =>
      val x = if (v.isNaN || v.isInfinite) 1e15 else v
      s""""$n": {"value": ${BigDecimal(x).bigDecimal.toPlainString}, "unit": "$u"}"""
    }.mkString(", ")
    println(s"""{"correct": ${errors.isEmpty}, "attempted": $attempted, "failed": $failed, """ +
      s""""metrics": {$body}}""")
    if (errors.isEmpty) 0 else 1
  }
}

/** The `format.*` figures, read through the program's own format API. */
object Format {
  final case class Desc(versions: Double, fragments: Double, manifestBytes: Double)

  def describe(spark: SparkSession, table: String): Desc = {
    import graft.format.LanceFormat
    val root = new Path(table)
    val fs = LanceFormat.fileSystem(root, spark.sessionState.newHadoopConf())
    val versions = LanceFormat.listVersions(fs, root).size
    val frags = LanceFormat.readLatest(fs, root).fold(0)(_.fragments.size)
    val bytes = Seq(LanceFormat.VersionsDir, LanceFormat.GroupsDir).map(new Path(root, _))
      .filter(fs.exists).map(p => fs.getContentSummary(p).getLength).sum
    Desc(versions, frags, bytes)
  }
}
