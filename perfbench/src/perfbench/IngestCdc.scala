package perfbench

import graft.Lance
import graft.operators.MaterializedView
import graft.operators.MaterializedView.AggSpec
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import scala.collection.mutable

/** `ingest-cdc`: a keyed events table (id, user, kind, value), range-
  * clustered on id, with a scalar index on `user`, ANALYZE statistics and
  * a count/sum-by-user materialized view. One client runs a fixed cycle
  * of seven ops, each waiting for the previous one:
  *
  *  - writes: a micro-batch `epoch` through the streaming sink (refreshing
  *    the index and the view in the commit), an `upsert` over recent keys
  *    and a `delete` of a recent key range; each is followed by a
  *    read-after-write lookup of a key it touched (kind `check`);
  *  - reads through `Lance.read`: `range` (clustered-key range plus an
  *    aggregate, pruned by manifest stats), `point` (indexed equality plus
  *    a projection, pruned by the scalar index), `agg` (count/min/max with
  *    no filter, answered from the manifest) and `full` (an unprunable
  *    predicate plus a group-by: the control that pruning cannot help).
  *
  * An in-memory model of the live rows is the reference for every answer.
  * A user's rows share one id stripe, so a user lives in few fragments
  * while every fragment spans the whole user range: min/max statistics
  * cannot prune a point lookup, the scalar index can.
  */
final class IngestCdc(spark: SparkSession, seed: Long) extends Workload {
  import IngestCdc._
  import spark.implicits._

  val kinds: Seq[String] = Cycle
  val warmupOps: Int = Cycle.size
  val tracedOps: Int = 2 * Cycle.size

  private var path: String = _
  private var view: String = _
  private var ckpt: String = _
  private var input: MemoryStream[(Long, Long, Int, Long)] = _
  private var query: StreamingQuery = _

  /** One live row of the model; `cents` is the exact decimal value. */
  private final case class Ev(user: Long, kind: Int, cents: Long)
  private val live = mutable.LongMap.empty[Ev]
  private var nextId = 0L
  private var userBytes = 0L
  private val errors = mutable.ArrayBuffer.empty[String]
  private val progress = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private var tracedEpochs = 0

  def mainTable: String = path
  def roots: Seq[(String, String)] = Seq(path -> "table", view -> "view", ckpt -> "checkpoint")
  override def userBytesWritten: Long = userBytes

  private def typed(df: DataFrame): DataFrame = df.toDF("id", "user", "kind", "cents")
    .select(col("id"), col("user"), col("kind"),
      (col("cents").cast("decimal(20,0)") / 100).cast(ValueType).as("value"))

  private def frame(rows: Seq[(Long, Long, Int, Long)]): DataFrame = typed(rows.toDF())

  private def userOf(id: Long, rnd: java.util.Random): Long =
    (id / StripeRows) % Stripes + Stripes * rnd.nextInt(UsersPerStripe).toLong

  private def put(id: Long, user: Long, rnd: java.util.Random): (Long, Long, Int, Long) = {
    val e = Ev(user, rnd.nextInt(Kinds), rnd.nextInt(1000000).toLong)
    live(id) = e
    (id, e.user, e.kind, e.cents)
  }

  private def newRow(rnd: java.util.Random): (Long, Long, Int, Long) = {
    val id = nextId; nextId += 1
    put(id, userOf(id, rnd), rnd)
  }

  def setup(dir: java.io.File): Unit = {
    path = new java.io.File(dir, "events").getAbsolutePath
    view = new java.io.File(dir, "events_by_user").getAbsolutePath
    ckpt = new java.io.File(dir, "events_ckpt").getAbsolutePath
    live.clear(); nextId = 0L
    val rnd = new java.util.Random(seed)
    val rows = Tracer.span("span.setup.generate")(Seq.fill(InitialRows)(newRow(rnd)))
    Tracer.span("span.setup.write") {
      Lance.write(frame(rows).repartitionByRange(Stripes, col("id")), path, "overwrite")
    }
    Tracer.span("span.setup.scalar_build")(Lance.buildScalarIndex(spark, path, "user", IndexBuckets))
    Tracer.span("span.setup.analyze")(Lance.analyze(spark, path))
    Tracer.span("span.setup.mv_create") {
      Lance.createMaterializedView(spark, view, path, Seq("user"),
        Seq(AggSpec("count", "*", "n"), AggSpec("sum", "value", "total")))
    }
  }

  override def start(): Unit = {
    spark.conf.set("spark.graft.dml.refreshIndexes", "scalar")
    input = MemoryStream[(Long, Long, Int, Long)](spark)
    query = typed(input.toDF())
      .writeStream.format("lance")
      .option("checkpointLocation", ckpt)
      .option("write.refresh-indexes", "scalar")
      .option("write.refresh-mvs", "true")
      .option("path", path).start()
  }

  private def cents(d: java.math.BigDecimal): Long = d.movePointRight(2).longValueExact
  private def money(c: Long): BigDecimal = BigDecimal(c) / 100

  /** Read-after-write: key `id` must read back as the model says. */
  private def check(h: Harness, id: Long): Unit = {
    var got = Seq.empty[Ev]
    h.timed("check") {
      got = Tracer.span("span.connector.check") {
        Lance.read(spark, path, filter = Some(s"id = $id")).select("user", "kind", "value").collect()
      }.map(r => Ev(r.getLong(0), r.getInt(1), cents(r.getDecimal(2)))).toSeq
    }
    if (got != live.get(id).toSeq) errors += s"read-after-write of id $id: got $got want ${live.get(id)}"
  }

  /** A timed read: `Lance.read` with a filter and projection, then `post`;
    * the answer must equal `want`, computed from the model. */
  private def read(h: Harness, kind: String, filter: Option[String],
      columns: Option[Seq[String]], post: DataFrame => DataFrame, want: => Seq[String]): Unit = {
    var got: Seq[String] = Nil
    val ok = h.timed(kind) {
      val df = Tracer.span("span.connector.read") {
        post(Lance.read(spark, path, filter = filter, columns = columns))
      }
      Tracer.span("span.engine.plan")(df.queryExecution.executedPlan)
      got = Tracer.span("span.engine.execute")(df.collect()).map(canon).toSeq.sorted
    }
    if (ok && got != want.sorted) errors += s"$kind ${filter.getOrElse("")}: got ${got.take(3)} want ${want.sorted.take(3)}"
  }

  private def canon(r: Row): String = r.toSeq.map {
    case d: java.math.BigDecimal => money(cents(d)).toString
    case x => String.valueOf(x)
  }.mkString("[", ",", "]")

  def op(i: Int, h: Harness): Unit = {
    val rnd = new java.util.Random(seed * 1000003L + i)
    val recent = math.max(0L, nextId - RecentKeys)
    Cycle(i % Cycle.size) match {
      case "epoch" =>
        val rows = Seq.fill(EpochRows)(newRow(rnd))
        userBytes += RowBytes * rows.size
        h.timed("epoch") {
          Tracer.span("span.streaming.epoch") {
            input.addData(rows)
            query.processAllAvailable()
          }
        }
        if (h.ledgerOn) {
          tracedEpochs += 1
          Option(query.lastProgress).foreach(_.durationMs.forEach((k, v) => progress(k) += v))
        }
        check(h, rows(rnd.nextInt(rows.size))._1)
      case "upsert" =>
        // new kind and value for recent keys (deleted ones come back), plus inserts
        val updates = Seq.fill(UpsertRows * 4 / 5)(recent + rnd.nextInt((nextId - recent).toInt))
          .distinct.map(id => put(id, live.get(id).fold(userOf(id, rnd))(_.user), rnd))
        val rows = updates ++ Seq.fill(UpsertRows / 5)(newRow(rnd))
        userBytes += RowBytes * rows.size
        h.timed("upsert") {
          Tracer.span("span.operators.upsert")(Lance.upsert(spark, path, frame(rows), Seq("id")))
        }
        check(h, rows(rnd.nextInt(rows.size))._1)
      case "delete" =>
        val lo = recent + rnd.nextInt((nextId - recent - DeleteKeys).toInt.max(1))
        (lo until lo + DeleteKeys).foreach(live.remove)
        h.timed("delete") {
          Tracer.span("span.operators.delete") {
            Lance.deleteWhere(spark, path, s"id >= $lo AND id < ${lo + DeleteKeys}")
          }
        }
        check(h, lo + rnd.nextInt(DeleteKeys))
      case "range" =>
        val lo = rnd.nextInt((nextId - StripeRows).toInt).toLong; val hi = lo + StripeRows
        read(h, "range", Some(s"id BETWEEN $lo AND $hi"), None,
          _.agg(count(lit(1)), sum("value")), {
            val in = (lo to hi).flatMap(live.get)
            Seq(s"[${in.size},${if (in.isEmpty) "null" else money(in.map(_.cents).sum)}]")
          })
      case "point" =>
        val u = rnd.nextInt(Stripes * UsersPerStripe).toLong
        read(h, "point", Some(s"user = $u"), Some(Seq("id", "value")), identity,
          live.iterator.collect { case (id, e) if e.user == u => s"[$id,${money(e.cents)}]" }.toSeq)
      case "agg" =>
        val (c, f) = Seq[(String, Ev => Long)]("user" -> (_.user), "kind" -> (_.kind.toLong))(rnd.nextInt(2))
        read(h, "agg", None, None, _.agg(count(lit(1)), min("id"), max("id"), min(c), max(c)),
          Seq(s"[${live.size},${live.keysIterator.min},${live.keysIterator.max}," +
            s"${live.valuesIterator.map(f).min},${live.valuesIterator.map(f).max}]"))
      case "full" =>
        val x = rnd.nextInt(1000000).toLong; val k = rnd.nextInt(Kinds)
        read(h, "full", Some(f"value >= ${money(x)} AND kind <> $k"), None,
          _.groupBy("kind").agg(count(lit(1)), sum("value")),
          live.valuesIterator.filter(e => e.cents >= x && e.kind != k).toSeq.groupBy(_.kind)
            .map { case (kd, es) => s"[$kd,${es.size},${money(es.map(_.cents).sum)}]" }.toSeq)
    }
  }

  private def diskBytes(f: java.io.File): Long =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(diskBytes).sum else f.length

  private var spaceAmp = 0.0

  /** Every op's answer (checked as it ran); at the end the table equals
    * the model (count, exact sum, per-user aggregates), the view once
    * caught up equals a recompute from the table, and fsck finds no
    * errors in either. */
  def verify(): Seq[String] = {
    close()
    val t = Lance.read(spark, path)
    val r = t.agg(count(lit(1)), sum("value")).head()
    val wantSum = money(live.valuesIterator.map(_.cents).sum)
    if (r.getLong(0) != live.size) errors += s"table has ${r.getLong(0)} rows, model ${live.size}"
    if (BigDecimal(r.getDecimal(1)) != wantSum) errors += s"table sum ${r.getDecimal(1)} != $wantSum"
    Lance.refreshMaterializedView(spark, view)
    def byUser(df: DataFrame) = df.select(col("user"), col("n").cast("long"),
      col("total").cast("decimal(38,2)")).collect().map(canon).toSeq.sorted
    val mv = byUser(MaterializedView.read(spark, view))
    val fromTable = byUser(t.groupBy("user").agg(count(lit(1)).as("n"), sum("value").as("total")))
    val model = live.values.groupBy(_.user).map { case (u, es) =>
      s"[$u,${es.size},${money(es.map(_.cents).sum)}]" }.toSeq.sorted
    if (mv != fromTable) errors += s"view differs from a recompute: ${mv.diff(fromTable).take(3)}"
    if (model != fromTable) errors += s"per-user aggregates differ from the model: ${model.diff(fromTable).take(3)}"
    (Lance.fsck(spark, path) ++ Lance.fsck(spark, view)).filter(_.severity == "error")
      .foreach(e => errors += s"fsck: ${e.what}")
    spaceAmp = (diskBytes(new java.io.File(path)) + diskBytes(new java.io.File(view))).toDouble /
      (RowBytes * live.size)
    errors.distinct.toSeq
  }

  override def extras(): Map[String, Double] = {
    def perEpoch(k: String) = if (tracedEpochs == 0) 0.0 else progress(k).toDouble / tracedEpochs
    Map("space_amp" -> spaceAmp,
      "streaming.add_batch_ms" -> perEpoch("addBatch"),
      "streaming.wal_commit_ms" -> perEpoch("walCommit"),
      "streaming.commit_offsets_ms" -> perEpoch("commitOffsets"),
      "streaming.query_planning_ms" -> perEpoch("queryPlanning"),
      "streaming.latest_offset_ms" -> perEpoch("latestOffset"),
      "streaming.get_batch_ms" -> perEpoch("getBatch"))
  }

  override def close(): Unit = if (query != null) { query.stop(); query = null }
}

object IngestCdc {
  /** The op cycle: every write is followed by a read of another kind. */
  val Cycle: Seq[String] = Seq("epoch", "range", "upsert", "point", "delete", "agg", "full")
  val ValueType = "decimal(12,2)"
  /** Fixed-width logical size of a row: id, user, value (8 bytes each), kind (4). */
  val RowBytes = 28L
  val Stripes = 8
  val StripeRows = 2500L
  val InitialRows: Int = (Stripes * StripeRows).toInt
  val UsersPerStripe = 100
  val Kinds = 4
  /** Scalar-index buckets: each refresh writes one file per bucket. */
  val IndexBuckets = 8
  val EpochRows = 200
  val UpsertRows = 100
  val DeleteKeys = 40
  val RecentKeys = 2000
}
