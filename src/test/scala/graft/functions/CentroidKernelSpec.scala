package graft.functions

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The native centroid-assignment kernel ([[CentroidTopNF32]]) — the
  * only path behind `Graft.assignToCentroids` / `assignToCentroidsTopN`
  * — against the HOF broadcast-fold oracles it replaced
  * ([[CentroidOracle]]): argmax parity, top-N order parity, tie-break
  * by list_id, the NaN-placement split between the two shapes, and
  * codegen vs interpreted agreement. Same data through the kernel and
  * the oracle must be identical row for row. */
class CentroidKernelSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Dim = 16

  private def vecDf(n: Int, seed: Int,
      withZero: Boolean = false): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val rows = (0 until n).map { i =>
      (i.toLong,
        if (withZero && i % 17 == 0) Array.fill(Dim)(0.0f)
        else Array.fill(Dim)(rnd.nextGaussian().toFloat))
    }
    rows.toDF("vec_id", "embedding")
  }

  private def centDf(nlist: Int, seed: Int,
      dupEvery: Int = 0): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    val base = (0 until nlist).map(i =>
      (i, Array.fill(Dim)(rnd.nextGaussian().toFloat)))
    // dupEvery > 0 plants identical centroids under different list_ids
    // so ties are real, not just theoretical
    val rows =
      if (dupEvery > 0) base.map { case (i, v) =>
        (i, if (i % dupEvery == 0 && i > 0) base(0)._2 else v) }
      else base
    rows.toDF("list_id", "centroid")
  }

  private def argmaxRows(assigned: DataFrame): Seq[(Long, Int)] =
    assigned.select(col("vec_id"), col("list_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq.sorted

  private def kernelArgmax(vecs: DataFrame,
      cents: DataFrame): Seq[(Long, Int)] = argmaxRows(
    graft.api.Graft.assignToCentroids(vecs, "vec_id", "embedding", cents))

  private def oracleArgmax(vecs: DataFrame,
      cents: DataFrame): Seq[(Long, Int)] = argmaxRows(
    CentroidOracle.argmax(vecs, "vec_id", "embedding", cents))

  private def topNRows(assigned: DataFrame): Map[Long, Seq[Int]] =
    assigned.select(col("vec_id"), col("list_id"))
      .collect().map(r => (r.getLong(0), r.getInt(1)))
      .groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSeq }

  private def kernelTopN(vecs: DataFrame, cents: DataFrame,
      probes: Int): Map[Long, Seq[Int]] = topNRows(
    graft.api.Graft.assignToCentroidsTopN(vecs, "vec_id", "embedding",
      cents, probes))

  private def oracleTopN(vecs: DataFrame, cents: DataFrame,
      probes: Int): Map[Long, Seq[Int]] = topNRows(
    CentroidOracle.topN(vecs, "vec_id", "embedding", cents, probes))

  test("kernel argmax equals the HOF fold on random data") {
    val vecs = vecDf(200, seed = 1)
    val cents = centDf(50, seed = 2)
    kernelArgmax(vecs, cents) shouldBe oracleArgmax(vecs, cents)
  }

  test("kernel top-N equals the HOF sorted slice, per-query order " +
    "included (explode preserves best-first)") {
    val vecs = vecDf(150, seed = 3)
    val cents = centDf(40, seed = 4)
    val k = kernelTopN(vecs, cents, probes = 3)
    val h = oracleTopN(vecs, cents, probes = 3)
    k.keySet shouldBe h.keySet
    k.foreach { case (id, lists) => lists shouldBe h(id) }
  }

  test("identical centroids tie-break by lower list_id on both paths") {
    val vecs = vecDf(80, seed = 5)
    val cents = centDf(30, seed = 6, dupEvery = 7)
    kernelArgmax(vecs, cents) shouldBe oracleArgmax(vecs, cents)
    val k = kernelTopN(vecs, cents, probes = 4)
    val h = oracleTopN(vecs, cents, probes = 4)
    k.foreach { case (id, lists) => lists shouldBe h(id) }
  }

  test("zero-norm vector (all-NaN cosines): deterministic kernel " +
    "ordering — argmax takes the lowest list_id, top-N keeps ascending " +
    "ids (the HOF paths cannot run this case at all: ANSI mode turns " +
    "the 0/0 into DIVIDE_BY_ZERO)") {
    val vecs = vecDf(18, seed = 7, withZero = true) // ids 0, 17 are zero
    // a fixture-sized nlist: the HOF fold once served this regime, and
    // the zero vectors made it raise instead of assign
    val cents = centDf(25, seed = 8)
    // NaN ties resolve by list_id on both shapes
    val am = kernelArgmax(vecs, cents).toMap
    am(0L) shouldBe 0
    am(17L) shouldBe 0
    val tn = kernelTopN(vecs, cents, probes = 3)
    tn(0L) shouldBe Seq(0, 1, 2)
    tn(17L) shouldBe Seq(0, 1, 2)
    // the oracle fold on the same rows: ANSI's DIVIDE_BY_ZERO
    val e = intercept[Exception](oracleArgmax(vecs, cents))
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .exists(t => String.valueOf(t.getMessage)
        .contains("DIVIDE_BY_ZERO")) shouldBe true
  }

  test("probes beyond nlist returns nlist assignments, like the HOF " +
    "slice") {
    val vecs = vecDf(20, seed = 9)
    val cents = centDf(3, seed = 10)
    val k = kernelTopN(vecs, cents, probes = 5)
    val h = oracleTopN(vecs, cents, probes = 5)
    k.foreach { case (id, lists) =>
      lists.length shouldBe 3
      lists shouldBe h(id)
    }
  }

  test("codegen and interpreted kernel paths agree") {
    val vecs = vecDf(40, seed = 11)
    val cents = centDf(20, seed = 12)
    val onWS = kernelArgmax(vecs, cents)
    spark.conf.set("spark.sql.codegen.wholeStage", "false")
    spark.conf.set("spark.sql.codegen.factoryMode", "NO_CODEGEN")
    try kernelArgmax(vecs, cents) shouldBe onWS
    finally {
      spark.conf.set("spark.sql.codegen.wholeStage", "true")
      spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }
}
