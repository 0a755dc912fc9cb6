package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The QUERY-side probe selection (`graft.api.Graft.probeTopN` — the
  * shared s03/s04/s11/p16 probe core, the [[CentroidTopNF32]] kernel)
  * against the HOF sorted-slice oracle it replaced
  * ([[CentroidOracle.probeTopN]]): same queries and centroids must
  * produce identical probe rows in identical per-query order, in BOTH
  * scoring modes (cosine with a norm column, raw dot without), with
  * every ride-along column preserved. CentroidKernelSpec pins the
  * CORPUS assignment side; this is its query-side twin. */
class QueryProbeKernelSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Dim = 16

  private def queryDf(n: Int, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    (0 until n).map { i =>
      val v = Array.fill(Dim)(rnd.nextGaussian().toFloat)
      val nrm = math.sqrt(v.map(x => x.toDouble * x.toDouble).sum)
      (i.toLong, v, nrm, s"tag$i")
    }.toDF("query_id", "qe", "qn", "ride")
  }

  private def centDf(nlist: Int, seed: Int,
      dupEvery: Int = 0): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val base = (0 until nlist).map(i =>
      (i, Array.fill(Dim)(rnd.nextGaussian().toFloat)))
    val rows =
      if (dupEvery > 0) base.map { case (i, v) =>
        (i, if (i % dupEvery == 0 && i > 0) base(0)._2 else v) }
      else base
    rows.toDF("list_id", "centroid")
  }

  /** Ordered probe lists per query, plus the ride-along column —
    * through the kernel, or through the oracle when `oracle`. */
  private def probeRows(q: DataFrame, cents: DataFrame, nrmCol: Option[String],
      nProbe: Int, oracle: Boolean): Map[Long, (Seq[Int], Set[String])] =
    (if (oracle) CentroidOracle.probeTopN(q, "qe", nrmCol, cents, nProbe)
     else graft.api.Graft.probeTopN(q, "qe", nrmCol, cents, nProbe))
      .select(col("query_id"), col("list_id"), col("ride"))
      .collect().map(r => (r.getLong(0), r.getInt(1), r.getString(2)))
      .groupBy(_._1)
      .map { case (k, v) => k -> (v.map(_._2).toSeq, v.map(_._3).toSet) }

  test("cosine mode: kernel equals the HOF sorted slice, per-query " +
    "probe order and ride-along columns included") {
    val q = queryDf(120, seed = 1)
    val cents = centDf(40, seed = 2)
    val k = probeRows(q, cents, Some("qn"), nProbe = 4, oracle = false)
    val h = probeRows(q, cents, Some("qn"), nProbe = 4, oracle = true)
    k.keySet shouldBe h.keySet
    k.foreach { case (id, row) => row shouldBe h(id) }
  }

  test("dot mode (the s03/s04/p16 core's ordering — no norm division): " +
    "kernel equals the HOF sorted slice") {
    val q = queryDf(120, seed = 3)
    val cents = centDf(40, seed = 4)
    val k = probeRows(q, cents, None, nProbe = 4, oracle = false)
    val h = probeRows(q, cents, None, nProbe = 4, oracle = true)
    k.keySet shouldBe h.keySet
    k.foreach { case (id, row) => row shouldBe h(id) }
  }

  test("identical centroids tie-break by lower list_id on both paths, " +
    "both modes") {
    val q = queryDf(60, seed = 5)
    val cents = centDf(30, seed = 6, dupEvery = 5)
    for (mode <- Seq(Some("qn"), None)) {
      val k = probeRows(q, cents, mode, nProbe = 6, oracle = false)
      val h = probeRows(q, cents, mode, nProbe = 6, oracle = true)
      k.foreach { case (id, row) => row shouldBe h(id) }
    }
  }

  test("nProbe beyond nlist probes every list, like the HOF slice") {
    val q = queryDf(20, seed = 7)
    val cents = centDf(3, seed = 8)
    val k = probeRows(q, cents, Some("qn"), nProbe = 9, oracle = false)
    val h = probeRows(q, cents, Some("qn"), nProbe = 9, oracle = true)
    k.foreach { case (id, (lists, ride)) =>
      lists.length shouldBe 3
      (lists, ride) shouldBe h(id)
    }
  }

  test("empty centroid table: zero probe rows with the list_id column " +
    "present, on both paths") {
    val q = queryDf(5, seed = 9)
    val cents = centDf(4, seed = 10).filter(lit(false))
    for (out <- Seq(
        graft.api.Graft.probeTopN(q, "qe", Some("qn"), cents, nProbe = 3),
        CentroidOracle.probeTopN(q, "qe", Some("qn"), cents, nProbe = 3))) {
      out.columns should contain("list_id")
      out.count() shouldBe 0L
    }
  }

  test("ivfProbeSearch end-to-end parity: the full probe+rerank listing " +
    "is identical through the kernel and HOF probe paths") {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val corpus = (0 until 400).map(i =>
      (i.toLong, Array.fill(Dim)(rnd.nextGaussian().toFloat)))
      .toDF("vec_id", "embedding")
    val cents = centDf(25, seed = 12)
    val n = graft.api.Graft.normalized(corpus, "vec_id", "embedding")
    val assigned = graft.api.Graft
      .assignToCentroids(corpus, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("list_id"))
    val q = n.filter(col("vec_id") < 8)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    val listed = n.join(assigned, "vec_id")
    def rows(df: DataFrame): Seq[(Long, Long, Long)] =
      df.select(col("query_id"), col("neighbor_id"), col("rnk"))
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
        .toSeq.sorted
    // the reference listing: oracle probes, then the exact-cosine
    // rerank over the probed lists' members (self excluded)
    val dotF = VectorExpressions.dotF32(col("qe"), col("embedding"))
    val reference = CentroidOracle.probeTopN(q, "qe", None, cents, 4)
      .join(listed, "list_id")
      .filter(col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dotF / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("query_id")
          .orderBy(col("cos").desc, col("neighbor_id"))).cast("bigint"))
      .filter(col("rnk") <= 5)
    rows(graft.ops.Vector.ivfProbeSearch(q, listed, cents,
      nProbe = 4, k = 5)) shouldBe rows(reference)
  }
}
