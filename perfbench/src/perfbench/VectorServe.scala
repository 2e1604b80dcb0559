package perfbench

import graft.Lance
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import scala.collection.mutable

/** `vector-serve`: a retrieval service issuing top-10 requests one at a
  * time against a Gaussian-mixture corpus with an IVF index and an HNSW
  * graph. Queries fall between clusters, so partial probing loses some
  * neighbours; recall is checked against a brute-force top-10. */
final class VectorServe(spark: SparkSession, seed: Long) extends Workload {
  import VectorServe._

  val kinds: Seq[String] = Seq("ivf", "ivf_filtered", "hnsw")
  val warmupOps = 3
  val tracedOps = 24

  private var path: String = _
  private var vecs: Array[Array[Float]] = _
  private var labels: Array[Int] = _
  private var centers: Array[Array[Double]] = _
  private var partitions = 0

  private final case class Answer(kind: String, q: Array[Float], label: Int,
      ids: Array[Long], dists: Array[Double])
  private val answers = mutable.ArrayBuffer.empty[Answer]

  def mainTable: String = path
  def roots: Seq[(String, String)] = Seq(path -> "table")

  def setup(dir: java.io.File): Unit = {
    path = new java.io.File(dir, "corpus").getAbsolutePath
    val n = Vectors
    Tracer.span("span.setup.generate") {
      val rnd = new java.util.Random(seed)
      centers = Array.fill(Clusters)(Array.fill(Dim)(rnd.nextGaussian() * CenterSpread))
      // equal-weight mixture with exactly n / Clusters points per cluster,
      // so the partition sizes, and with them the work per probe, vary
      // little from seed to seed
      vecs = Array.tabulate(n) { i =>
        val c = centers(i % Clusters)
        Array.tabulate(Dim)(d => (c(d) + rnd.nextGaussian()).toFloat)
      }
      labels = Array.fill(n)(rnd.nextInt(Labels))
    }
    Tracer.span("span.setup.write") {
      val schema = StructType(Seq(StructField("id", LongType, false),
        StructField("label", IntegerType, false),
        StructField("vec", ArrayType(FloatType, false), false)))
      val rows = java.util.Arrays.asList(Array.tabulate(n)(i =>
        Row(i.toLong, labels(i), vecs(i).toSeq)): _*)
      val df = spark.createDataFrame(rows, schema).repartition(WriteFiles)
      Lance.write(Lance.withVectorDim(df, "vec", Dim), path, "overwrite")
    }
    Tracer.span("span.setup.ivf_build") {
      partitions = math.sqrt(n.toDouble).round.toInt
      val r = Lance.buildIndex(spark, Lance.read(spark, path), "vec", "id", path,
        numPartitions = partitions)
      require(r.success, s"IVF build failed: ${r.error}")
    }
    Tracer.span("span.setup.hnsw_build") {
      val r = Lance.buildHnswIndex(spark, path, "vec")
      require(r.success, s"HNSW build failed: ${r.error}")
    }
  }

  /** Op i: kinds rotate; the query lies near the segment between two
    * random cluster centres. */
  def op(i: Int, h: Harness): Unit = {
    val rnd = new java.util.Random(seed * 1000003L + i)
    val kind = kinds(i % kinds.size)
    val a = rnd.nextInt(Clusters); val b = (a + 1 + rnd.nextInt(Clusters - 1)) % Clusters
    val t = 0.3 + 0.4 * rnd.nextDouble()
    val q = Array.tabulate(Dim)(d =>
      (centers(a)(d) * t + centers(b)(d) * (1 - t) + 0.5 * rnd.nextGaussian()).toFloat)
    val label = rnd.nextInt(Labels)
    // the library's default probes and ef: what a caller gets unless it tunes
    h.timed(kind) {
      val df = Tracer.span("span.index.search") {
        kind match {
          case "ivf" => Lance.annSearch(spark, path, "vec", q, K)
          case "ivf_filtered" => Lance.annSearch(spark, path, "vec", q, K,
            filter = Some(col("label") === label))
          case "hnsw" => Lance.annSearchHnsw(spark, path, "vec", q, K)
        }
      }.select("id", "_distance")
      Tracer.span("span.engine.plan")(df.queryExecution.executedPlan)
      val rows = Tracer.span("span.engine.execute")(df.collect())
      answers += Answer(kind, q, label, rows.map(_.getLong(0)), rows.map(_.getDouble(1)))
    }
  }

  private def l2(q: Array[Float], v: Array[Float]): Double = {
    var s = 0.0; var d = 0
    while (d < Dim) { val x = q(d).toDouble - v(d); s += x * x; d += 1 }
    math.sqrt(s)
  }

  private var recall = Double.NaN

  /** Every answer: k rows, ascending distances that match the stored
    * vectors, the filter honoured; mean recall@10 against brute force. */
  def verify(): Seq[String] = {
    val errors = mutable.ArrayBuffer.empty[String]
    val recalls = answers.map { a =>
      val eligible = (0 until Vectors).filter(i => a.kind != "ivf_filtered" || labels(i) == a.label)
      val exact = eligible.map(i => (l2(a.q, vecs(i)), i.toLong)).sorted.take(K).map(_._2).toSet
      if (a.ids.length != K) errors += s"${a.kind}: ${a.ids.length} rows, expected $K"
      if (a.dists.toSeq != a.dists.toSeq.sorted) errors += s"${a.kind}: distances not ascending"
      a.ids.zip(a.dists).foreach { case (id, d) =>
        if (id < 0 || id >= Vectors) errors += s"${a.kind}: unknown id $id"
        else if (math.abs(l2(a.q, vecs(id.toInt)) - d) > 1e-4 * (1 + d))
          errors += s"${a.kind}: id $id distance $d != ${l2(a.q, vecs(id.toInt))}"
      }
      if (a.kind == "ivf_filtered" && a.ids.exists(id => labels(id.toInt) != a.label))
        errors += s"ivf_filtered: a row violates label = ${a.label}"
      a.ids.count(exact.contains).toDouble / K
    }
    recall = recalls.sum / recalls.size
    if (!(recall >= RecallFloor)) errors += f"recall@10 $recall%.3f below floor $RecallFloor"
    errors.distinct.toSeq
  }

  override def extras(): Map[String, Double] = Map("recall_at_10" -> recall)
}

object VectorServe {
  val K = 10
  val Dim = 64
  val Vectors = 2048
  val Clusters = 32
  /** Centre spread per dimension, against unit noise: clusters overlap. */
  val CenterSpread = 0.4
  val Labels = 20
  val WriteFiles = 8
  /** A little under the lowest mean recall@10 measured at the default
    * probes (0.85-0.92 per run): a change that trades away more than
    * about a tenth of the recall for latency fails the run. */
  val RecallFloor = 0.78
}
