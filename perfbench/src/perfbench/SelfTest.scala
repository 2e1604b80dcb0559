package perfbench

import graft.Lance
import org.apache.spark.sql.functions._

import java.io.File

/** The ledger's own test: one append of the same 1000 rows to a fresh
  * table, three times, must cost the same filesystem ops and Spark jobs
  * and tasks each time, and must show the writes the append has to make.
  * Prints one line per append and exits non-zero on a mismatch. */
object SelfTest {
  def main(args: Array[String]): Unit = {
    val work = new File(".bench_build/perfbench/selftest").getAbsoluteFile
    Main.deleteRecursively(work)
    work.mkdirs()
    val spark = Main.session(work, ledger = true)
    val listener = new EngineListener(_ => "other")
    spark.sparkContext.addSparkListener(listener)
    val counts = try (1 to 3).map { r =>
      val path = new File(work, s"t$r").getPath
      Ledger.register(path, "table")
      val df = spark.range(0L, 1000L, 1L, 2).select(col("id"), (col("id") % 7).as("g"))
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val before = Ledger.snapshot() ++ listener.snapshot()
      Ledger.enabled = true
      Lance.write(df, path)
      Ledger.enabled = false
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val after = Ledger.snapshot() ++ listener.snapshot()
      val delta = after.keySet.filter(k => k.startsWith("fs.") && k != "fs.bytes_written" ||
        Set("engine.jobs", "engine.tasks", "engine.stages").contains(k))
        .map(k => k -> (after(k) - before.getOrElse(k, 0L))).filter(_._2 != 0).toMap
      println(s"[selftest] append $r: ${delta.toSeq.sorted.map { case (k, v) => s"$k=$v" }.mkString(" ")}")
      delta
    } finally spark.stop()
    val problems =
      (if (counts.distinct.size != 1) Seq("op counts differ between identical appends") else Nil) ++
      Seq("fs.data.create", "fs.manifest.create", "engine.jobs")
        .filterNot(k => counts.head.getOrElse(k, 0L) > 0).map(k => s"$k not counted")
    problems.foreach(p => println(s"[selftest] FAIL: $p"))
    if (problems.isEmpty) println("[selftest] PASS: identical appends, identical ledger")
    sys.exit(if (problems.isEmpty) 0 else 1)
  }
}
