package graft.api

import java.io.File
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The one generation publish of both index layouts: a bucketed catalog
  * table compacted through [[Graft.compactBucketedIndex]] (generations
  * are `.compact-<id>` siblings named by the catalog LOCATION) and a
  * saved IVF-PQ dir compacted through [[Graft.ivfPqCompact]]
  * (generations are `gen-<id>` children named by `CURRENT`). A failure
  * injected between the generation write and the pointer swap
  * ([[Graft.publishTestHook]]) must leave the pointer, the live rows and
  * their count unchanged and no fresh generation on disk; the next
  * compaction then publishes and leaves at most two generations, the
  * live one and its grace copy. */
class GenerationPublishSpec extends AnyFunSuite with Matchers {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Run `publish` with the hook throwing between write and swap. */
  private def crashBeforeSwap(publish: => Any): Unit = {
    Graft.publishTestHook =
      () => throw new IllegalStateException("injected before the swap")
    try {
      val e = the[IllegalStateException] thrownBy publish
      e.getMessage shouldBe "injected before the swap"
    } finally Graft.publishTestHook = () => ()
  }

  /** Every row of `df` as sortable JSON, so binary codes compare by
    * content. */
  private def content(df: DataFrame): Seq[String] = {
    val s = spark
    import s.implicits._
    df.selectExpr("to_json(struct(*))").as[String].collect().toSeq.sorted
  }

  test("bucketed table: a publish that fails before the swap keeps the " +
      "catalog LOCATION, the rows and the count, and leaves no fresh " +
      "generation") {
    val s = spark
    import s.implicits._
    val tbl = s"gen_pub_${System.nanoTime()}"
    val dir = Files.createTempDirectory("gen-pub-table").toString
    // three appends of three tasks each fragment the table, so the
    // compaction has files to fold
    (0 until 3).foreach { a =>
      (0 until 100).map(i => (a * 100L + i, i % 11)).toDF("vec_id", "list_id")
        .repartition(3).write.mode("append")
        .bucketBy(4, "list_id").sortBy("list_id")
        .option("path", s"$dir/t").saveAsTable(tbl)
    }
    def generations(): Seq[String] =
      new File(dir).listFiles().toSeq.map(_.getName)
        .filter(_.matches("t(\\.compact-[0-9a-f]{8})*")).sorted
    def tempTables(): Seq[String] = spark.catalog.listTables().collect()
      .toSeq.map(_.name).filter(_.startsWith(s"${tbl}_compact_"))
    val gen0 = Graft.indexGeneration(spark, tbl)
    val rows0 = content(spark.table(tbl))
    rows0 should have size 300

    crashBeforeSwap(Graft.compactBucketedIndex(spark, tbl))
    Graft.indexGeneration(spark, tbl) shouldBe gen0
    spark.catalog.refreshTable(tbl)
    content(spark.table(tbl)) shouldBe rows0
    Graft.indexStats(spark, tbl).rows shouldBe 300L
    generations() shouldBe Seq(gen0)
    tempTables() shouldBe empty

    (1 to 3).foreach { _ =>
      Graft.compactBucketedIndex(spark, tbl).rows shouldBe 300L
      generations().size should be <= 2
      generations() should contain(Graft.indexGeneration(spark, tbl))
    }
    Graft.indexGeneration(spark, tbl) should not be gen0
    content(spark.table(tbl)) shouldBe rows0
    tempTables() shouldBe empty
  }

  test("saved PQ dir: a publish that fails before the swap keeps CURRENT, " +
      "the codes and the count, and leaves no fresh generation") {
    val s = spark
    import s.implicits._
    val rnd = new scala.util.Random(5)
    def corpus(ids: Range): DataFrame = ids.map { i =>
      (i.toLong, Array.fill(16)((rnd.nextGaussian() + 0.1).toFloat))
    }.toDF("vec_id", "embedding")
    val dir = Files.createTempDirectory("gen-pub-pq").toString
    Graft.ivfPqSave(Graft.ivfPqBuild(corpus(0 until 120), "vec_id",
      "embedding", dim = 16, nlist = 4, m = 4, ksub = 8, iters = 1),
      dir, buckets = 4)
    Graft.ivfPqAppend(spark, dir, corpus(120 until 160), "embedding")
    def current(): String =
      new String(Files.readAllBytes(Paths.get(dir, "CURRENT")), "UTF-8").trim
    def generations(): Seq[String] =
      new File(dir).listFiles().toSeq
        .filter(f => f.isDirectory && f.getName.startsWith("gen-"))
        .map(_.getName).sorted
    def codes(): Seq[String] =
      content(Graft.ivfPqLoad(spark, dir).enc.drop("bucket"))
    val cur0 = current()
    val codes0 = codes()
    codes0 should have size 160

    crashBeforeSwap(Graft.ivfPqCompact(spark, dir))
    current() shouldBe cur0
    Graft.ivfPqLoad(spark, dir).rows shouldBe 160L
    codes() shouldBe codes0
    generations() shouldBe Seq(cur0)

    (1 to 3).foreach { _ =>
      Graft.ivfPqCompact(spark, dir).rows shouldBe 160L
      generations().size should be <= 2
      generations() should contain(current())
    }
    current() should not be cur0
    codes() shouldBe codes0
  }
}
