package perfbench

import org.apache.spark.sql.SparkSession

import scala.collection.mutable

/** One workload: how to build its state, run its i-th operation, and
  * check everything it returned. Operations are a fixed function of the
  * seed and the op index, so two runs with one seed do the same work. */
trait Workload {
  /** The op kinds, in the fixed order op i runs kind `i % kinds.size`;
    * each kind's median is reported as `<kind>_p50_ms`. */
  def kinds: Seq[String]
  /** Ops in the warm-up before timing, and in each phase of a traced run. */
  def warmupOps: Int
  def tracedOps: Int
  /** Build the whole state from scratch under `dir` (discarded afterwards
    * unless it is the last set-up). Spans `span.setup.*`. */
  def setup(dir: java.io.File): Unit
  /** Paths the filesystem ledger classifies: (path, role). */
  def roots: Seq[(String, String)]
  /** Untimed start after the last set-up (e.g. starting a stream). */
  def start(): Unit = ()
  def op(i: Int, h: Harness): Unit
  /** Correctness failures; empty when every check passed. */
  def verify(): Seq[String]
  /** The table whose history the `format.*` metrics describe. */
  def mainTable: String
  /** Workload-specific figures named in `Main.Extras`. */
  def extras(): Map[String, Double] = Map.empty
  /** Logical bytes the measured ops handed to the program to store. */
  def userBytesWritten: Long = 0L
  def close(): Unit = ()
}

/** Latency and failure accounting for measured ops. A thrown op counts
  * as failed and as missing every latency bound (its latency is +inf). */
final class OpLog {
  val attempted = mutable.LinkedHashMap.empty[String, Int]
  val failed = mutable.LinkedHashMap.empty[String, Int]
  val latMs = mutable.LinkedHashMap.empty[String, mutable.ArrayBuffer[Double]]

  def record(kind: String, ms: Double, ok: Boolean): Unit = {
    attempted(kind) = attempted.getOrElse(kind, 0) + 1
    if (!ok) failed(kind) = failed.getOrElse(kind, 0) + 1
    latMs.getOrElseUpdate(kind, mutable.ArrayBuffer.empty) += (if (ok) ms else Double.PositiveInfinity)
  }

  def clear(): Unit = { attempted.clear(); failed.clear(); latMs.clear() }

  def copy(): OpLog = {
    val c = new OpLog
    c.attempted ++= attempted; c.failed ++= failed
    latMs.foreach { case (k, v) => c.latMs(k) = v.clone() }
    c
  }

  def all(kinds: Seq[String]): collection.Seq[Double] = kinds.flatMap(k => latMs.getOrElse(k, Nil))
  def count(kinds: Seq[String]): Int = kinds.map(k => attempted.getOrElse(k, 0)).sum
}

object Stats {
  /** Linear-interpolated quantile, q in [0, 1]. */
  def quantile(xs: collection.Seq[Double], q: Double): Double = {
    require(xs.nonEmpty)
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = pos.toInt; val hi = math.min(lo + 1, s.size - 1)
    if (s(hi).isInfinite || s(lo).isInfinite) s(hi)
    else s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: collection.Seq[Double]): Double = quantile(xs, 0.5)
}

/** Runs ops, timing each, and (when the ledger is on) attributes the
  * engine and filesystem counters each op moved. */
final class Harness(spark: SparkSession, listener: Option[EngineListener]) {
  val log = new OpLog
  var ledgerOn = false
  val totals = mutable.Map.empty[String, Long].withDefaultValue(0L)
  val perKind = mutable.Map.empty[String, mutable.Map[String, Long]]
  var driverMs = 0L

  private def counters(): Map[String, Long] =
    Ledger.snapshot() ++ listener.fold(Map.empty[String, Long])(_.snapshot())

  /** Time `body` as one op of `kind`; returns false if it threw. */
  def timed(kind: String)(body: => Unit): Boolean = {
    if (ledgerOn) Ledger.takeOpenedData()
    val before = if (ledgerOn) counters() else Map.empty[String, Long]
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val ok = try { Tracer.span(s"op.$kind")(body); true } catch {
      case e: Throwable =>
        System.err.println(s"[perfbench] op $kind failed: $e")
        e.printStackTrace()
        false
    }
    val ms = (System.nanoTime() - t0) / 1e6
    val w1 = System.currentTimeMillis()
    log.record(kind, ms, ok)
    if (ledgerOn) {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val after = counters()
      val k = perKind.getOrElseUpdate(kind, mutable.Map.empty[String, Long].withDefaultValue(0L))
      (after.keySet ++ before.keySet).foreach { c =>
        val d = after.getOrElse(c, 0L) - before.getOrElse(c, 0L)
        totals(c) += d; k(c) += d
      }
      k("fs.data.opened_distinct") += Ledger.takeOpenedData()
      driverMs += (w1 - w0) - listener.fold(0L)(_.jobBusyMs(w0, w1))
    }
    ok
  }
}
