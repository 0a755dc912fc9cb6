package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The saved-index store's codec-free contracts, run against both
  * codecs: a dir saved by one codec fails by name under the other, an
  * append never touches the live generation's `meta.parquet`, and codes
  * committed without a row-count record (a crash between the two) are
  * recounted by the next append. */
class SavedIndexStoreSpec extends AnyFunSuite with Matchers {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Dim = 16

  private def mkCorpus(ids: Range, seed: Int): DataFrame = {
    import spark.implicits._
    val rnd = new scala.util.Random(seed)
    ids.map { i =>
      (i.toLong, Array.fill(Dim)((rnd.nextGaussian() + 0.1).toFloat))
    }.toDF("vec_id", "embedding")
  }

  /** One codec's save, load and append over the same corpus shape. */
  private final case class Codec(name: String,
      save: (DataFrame, String) => Unit, loadedRows: String => Long,
      append: (String, DataFrame) => Graft.PqAppendStats)

  private val pq = Codec("IVF-PQ",
    (df, dir) => Graft.ivfPqSave(Graft.ivfPqBuild(df, "vec_id",
      "embedding", dim = Dim, nlist = 4, m = 4, ksub = 8, iters = 1),
      dir, buckets = 4),
    dir => Graft.ivfPqLoad(spark, dir).rows,
    (dir, b) => Graft.ivfPqAppend(spark, dir, b, "embedding"))

  private val sq = Codec("IVF-SQ8",
    (df, dir) => Graft.ivfSqSave(Graft.ivfSqBuild(df, "vec_id",
      "embedding", nlist = 4, iters = 1), dir, buckets = 4),
    dir => Graft.ivfSqLoad(spark, dir).rows,
    (dir, b) => Graft.ivfSqAppend(spark, dir, b, "embedding"))

  private def tempDir(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString

  test("a dir saved by the other codec fails load and append with a " +
      "named error, in both directions") {
    val a = mkCorpus(0 until 80, seed = 1)
    val b = mkCorpus(80 until 100, seed = 2)
    val pqDir = tempDir("store-pq")
    val sqDir = tempDir("store-sq")
    pq.save(a, pqDir)
    sq.save(a, sqDir)
    def named(dir: String)(call: => Any): Unit = {
      val e = intercept[IllegalArgumentException](call)
      e.getMessage should (include(dir) and include("IVF-PQ") and
        include("IVF-SQ8"))
    }
    named(pqDir)(Graft.ivfSqLoad(spark, pqDir))
    named(pqDir)(Graft.ivfSqAppend(spark, pqDir, b, "embedding"))
    named(sqDir)(Graft.ivfPqLoad(spark, sqDir))
    named(sqDir)(Graft.ivfPqAppend(spark, sqDir, b, "embedding"))
    // the refused calls changed nothing: each dir still serves its own
    // codec at the saved count
    pq.loadedRows(pqDir) shouldBe 80L
    sq.loadedRows(sqDir) shouldBe 80L
  }

  for (c <- Seq(pq, sq)) {
    test(s"${c.name}: appends never delete or rewrite the live " +
        "generation's meta.parquet") {
      val dir = tempDir("store-meta")
      c.save(mkCorpus(0 until 60, seed = 3), dir)
      val meta = new java.io.File(
        s"${Graft.resolveIndexTree(spark, dir)}/meta.parquet")
      def snapshot(): Seq[(String, Long)] =
        (meta +: meta.listFiles().toSeq)
          .map(f => (f.getName, f.lastModified())).sorted
      val before = snapshot()
      (0 until 3).foreach { i =>
        c.append(dir, mkCorpus(60 + i * 10 until 70 + i * 10,
          seed = 4 + i))
        withClue(s"after append $i:") { snapshot() shouldBe before }
      }
      c.loadedRows(dir) shouldBe 90L
    }

    test(s"${c.name}: codes committed without a count record load at " +
        "the stale count, and the next append recounts the true total") {
      val dir = tempDir("store-crash")
      c.save(mkCorpus(0 until 60, seed = 5), dir)
      // a crash between an append's codes commit and its count record:
      // re-commit 7 existing code rows under fresh ids, no record
      def commitCodesOnly(): Unit = {
        val codes = s"${Graft.resolveIndexTree(spark, dir)}/codes.parquet"
        spark.read.parquet(codes).filter(col("vec_id") < 7)
          .withColumn("vec_id", col("vec_id") + 10000L)
          .localCheckpoint()
          .write.mode("append").partitionBy("bucket").parquet(codes)
      }
      commitCodesOnly()
      c.loadedRows(dir) shouldBe 60L // meta's count, now stale
      c.append(dir, mkCorpus(60 + 1000 until 80 + 1000, seed = 6))
        .rowsAfter shouldBe 87L
      c.loadedRows(dir) shouldBe 87L
      // the same crash after a recorded append: the record goes stale
      commitCodesOnly()
      c.loadedRows(dir) shouldBe 87L
      c.append(dir, mkCorpus(80 + 1000 until 90 + 1000, seed = 7))
        .rowsAfter shouldBe 104L
      c.loadedRows(dir) shouldBe 104L
    }
  }
}
