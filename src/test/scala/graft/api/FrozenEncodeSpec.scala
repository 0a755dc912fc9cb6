package graft.api

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** r17: the append path encodes against FROZEN per-generation state
  * re-embedded as plan literals (zero broadcast-future jobs per
  * micro-batch). These tests pin the two properties that make that
  * optimization safe:
  *
  *  1. the frozen-literal encodes (the IVF encode and the public flat
  *     `pqEncode`) are BIT-IDENTICAL to the broadcast-join reference
  *     encodes ([[ReferenceEncodes]]), and append-grown codes
  *     equal a batch build over the union, row for row, at a fixture
  *     nlist and at a √n-regime nlist (1,100 lists);
  *  2. the generation cache holds ONE live entry per index dir — a
  *     publish (retrain/compact) REPLACES the entry instead of
  *     accumulating one per dead generation (the r16-verdict eviction
  *     item), and the post-publish append encodes under the NEW
  *     generation's frozen state. */
class FrozenEncodeSpec extends AnyFunSuite with Matchers {

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
      val v = Array.fill(Dim)((rnd.nextGaussian() + 0.1).toFloat)
      (i.toLong, v, if (i % 3 == 0) "en" else "de")
    }.toDF("vec_id", "embedding", "lang")
  }

  /** Multiset equality via two-way exceptAll (test scope). */
  private def sameRows(a: DataFrame, b: DataFrame): Unit = {
    val cols = a.columns.toSeq.sorted.map(col)
    val l = a.select(cols: _*)
    val r = b.select(cols: _*)
    withClue("rows only in the grown index: ") {
      l.exceptAll(r).count() shouldBe 0L
    }
    withClue("rows only in the batch build: ") {
      r.exceptAll(l).count() shouldBe 0L
    }
  }

  test("PQ append-grown codes are bit-identical to the batch build " +
      "over the union (fixture nlist, payload carried)") {
    val a = mkCorpus(0 until 250, seed = 71)
    val b = mkCorpus(250 until 400, seed = 72)
    val union = a.unionByName(b)
    val dir = java.nio.file.Files
      .createTempDirectory("frozen-pq").toString
    val built = Graft.ivfPqBuild(union, "vec_id", "embedding",
      dim = Dim, nlist = 6, m = 4, ksub = 8, iters = 1,
      payload = Seq("lang"))
    val pinned = built.copy(enc = built.enc.localCheckpoint(true))
    val seed = pinned.enc.filter(col("vec_id") < 250)
    Graft.ivfPqSave(pinned.copy(enc = seed), dir, buckets = 4)
    // two appends so the second hits the warm cache entry
    Graft.ivfPqAppend(spark, dir,
      b.filter(col("vec_id") < 320), "embedding")
    Graft.ivfPqAppend(spark, dir,
      b.filter(col("vec_id") >= 320), "embedding")
    val grown = Graft.ivfPqLoad(spark, dir).enc.drop("bucket")
    sameRows(grown, pinned.enc)
  }

  test("PQ frozen encode stays bit-identical at a sqrt(n)-regime nlist " +
      "(1,100 lists)") {
    val a = mkCorpus(0 until 2400, seed = 81)
    val union = a
    val dir = java.nio.file.Files
      .createTempDirectory("frozen-pq-kernel").toString
    val built = Graft.ivfPqBuild(union, "vec_id", "embedding",
      dim = Dim, nlist = 1100, m = 4, ksub = 8, iters = 0)
    val pinned = built.copy(enc = built.enc.localCheckpoint(true))
    val seed = pinned.enc.filter(col("vec_id") < 1200)
    Graft.ivfPqSave(pinned.copy(enc = seed), dir, buckets = 4)
    Graft.ivfPqAppend(spark, dir,
      union.filter(col("vec_id") >= 1200)
        .select("vec_id", "embedding"), "embedding")
    val grown = Graft.ivfPqLoad(spark, dir).enc.drop("bucket")
    sameRows(grown, pinned.enc)
  }

  test("SQ append-grown codes are bit-identical to the batch build " +
      "over the union") {
    val a = mkCorpus(0 until 250, seed = 91)
    val b = mkCorpus(250 until 400, seed = 92)
    val union = a.unionByName(b)
    val dir = java.nio.file.Files
      .createTempDirectory("frozen-sq").toString
    val built = Graft.ivfSqBuild(union, "vec_id", "embedding",
      nlist = 6, iters = 1, payload = Seq("lang"))
    val pinned = built.copy(enc = built.enc.localCheckpoint(true))
    val seed = pinned.enc.filter(col("vec_id") < 250)
    Graft.ivfSqSave(pinned.copy(enc = seed), dir, buckets = 4)
    Graft.ivfSqAppend(spark, dir,
      b.filter(col("vec_id") < 320), "embedding")
    Graft.ivfSqAppend(spark, dir,
      b.filter(col("vec_id") >= 320), "embedding")
    val grown = Graft.ivfSqLoad(spark, dir).enc.drop("bucket")
    sameRows(grown, pinned.enc)
  }

  test("pqEncodeFrozen is bit-identical to the retained broadcast-join " +
      "reference (pqEncodeAgainst) on the same trained state — the " +
      "value-equality argument the r17 literal-plan encode rests on") {
    val corpus = mkCorpus(0 until 400, seed = 111)
    val built = Graft.ivfPqBuild(corpus, "vec_id", "embedding",
      dim = Dim, nlist = 6, m = 4, ksub = 8, iters = 1,
      payload = Seq("lang"))
    val reference = ReferenceEncodes.pqEncodeAgainst(corpus, "vec_id",
      "embedding", built.cents, built.lookup, Dim, 4, 8, Seq("lang"))
    sameRows(built.enc, reference)
  }

  test("sqEncodeFrozen is bit-identical to the retained broadcast-join " +
      "reference (sqEncodeAgainst) on the same trained state") {
    val corpus = mkCorpus(0 until 400, seed = 121)
    val built = Graft.ivfSqBuild(corpus, "vec_id", "embedding",
      nlist = 6, iters = 1, payload = Seq("lang"))
    val reference = ReferenceEncodes.sqEncodeAgainst(corpus, "vec_id",
      "embedding", built.cents, Seq("lang"))
    sameRows(built.enc, reference)
  }

  test("pqEncodeFrozen rejects a dim that m does not divide by name, " +
      "instead of mis-slicing the subvectors") {
    val corpus = mkCorpus(0 until 120, seed = 131)
    val built = Graft.ivfPqBuild(corpus, "vec_id", "embedding",
      dim = Dim, nlist = 4, m = 4, ksub = 8, iters = 1)
    val st = Graft.freezePq(Graft.freezeCents(built.cents), built.cents,
      built.lookup, Dim, 4, 8)
    val e = the[IllegalArgumentException] thrownBy
      Graft.pqEncodeFrozen(corpus, "vec_id", "embedding", st,
        dim = Dim, m = 3, ksub = 8, payload = Nil)
    e.getMessage should include("pqEncodeFrozen(dim=16, m=3, ksub=8)")
  }

  test("public pqEncode (frozen codebook) is bit-identical to the " +
      "broadcast-join reference (pqEncodeWith) over a hand-built " +
      "codebook with a dead cell") {
    import spark.implicits._
    val m = 4
    val ksub = 4
    val dsub = Dim / m
    val rnd = new scala.util.Random(141)
    // (m, list_id, centroid, cnrm); cell (mi=1, code=2) is DEAD
    val codebooks = (for { mi <- 0 until m; ki <- 0 until ksub
        if !(mi == 1 && ki == 2) } yield {
      val c = Array.fill(dsub)(rnd.nextGaussian().toFloat)
      (mi, ki, c, math.sqrt(c.map(x => x.toDouble * x).sum))
    }).toDF("m", "list_id", "centroid", "cnrm")
    val corpus = mkCorpus(0 until 120, seed = 142)
    def rowsOf(df: DataFrame): Seq[(Long, Seq[Int], Long)] =
      df.select(col("vec_id"), col("code").cast("array<int>"),
          col("rnorm"))
        .collect().toSeq
        .map(r => (r.getLong(0), r.getSeq[Int](1).toSeq,
          java.lang.Double.doubleToRawLongBits(r.getDouble(2))))
        .sortBy(_._1)
    val frozen = Graft.pqEncode(corpus, "vec_id", "embedding", codebooks,
      dim = Dim, m = m, ksub = ksub)
    val reference = ReferenceEncodes.pqEncodeWith(corpus, "vec_id",
      "embedding", Graft.pqLookup(codebooks), Dim, m, ksub)
    frozen.columns.toSeq shouldBe reference.columns.toSeq
    val got = rowsOf(frozen)
    got should have size 120
    got shouldBe rowsOf(reference)
    // no row reads the dead cell
    got.exists(_._2(1) == 2) shouldBe false
  }

  test("public pqEncode rejects a dim that m does not divide by name, " +
      "before it freezes the codebook (zero jobs)") {
    import spark.implicits._
    val codebooks = Seq((0, 0, Array(1f, 0f, 0f, 0f), 1.0))
      .toDF("m", "list_id", "centroid", "cnrm")
    val corpus = mkCorpus(0 until 10, seed = 151)
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(Option(js.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val e = the[IllegalArgumentException] thrownBy
        Graft.pqEncode(corpus, "vec_id", "embedding", codebooks,
          dim = 16, m = 3, ksub = 8)
      e.getMessage should include("pqEncode(dim=16, m=3, ksub=8)")
      // the listener bus is async and in order: once a sentinel job's
      // start is seen, any job the failed call ran was seen before it
      spark.sparkContext.setJobDescription("pqEncode-sentinel")
      spark.range(1).count()
      spark.sparkContext.setJobDescription(null)
      val deadline = System.nanoTime() + 30000000000L
      while (!jobs.contains("pqEncode-sentinel") &&
          System.nanoTime() < deadline) Thread.sleep(50)
    } finally spark.sparkContext.removeSparkListener(listener)
    val seen = jobs.toArray.toSeq
    seen should contain("pqEncode-sentinel")
    seen.filterNot(_ == "pqEncode-sentinel") shouldBe empty
  }

  test("the generation cache keeps ONE live entry per dir: a retrain " +
      "publish evicts the dead generation's entry and the next append " +
      "encodes under the new generation (r16-verdict eviction item)") {
    val a = mkCorpus(0 until 200, seed = 101)
    val b = mkCorpus(200 until 300, seed = 102)
    val c = mkCorpus(300 until 360, seed = 103)
    val dir = java.nio.file.Files
      .createTempDirectory("frozen-evict").toString
    Graft.ivfPqSave(Graft.ivfPqBuild(a, "vec_id", "embedding",
      dim = Dim, nlist = 4, m = 4, ksub = 8, iters = 1), dir,
      buckets = 4)
    Graft.ivfPqAppend(spark, dir,
      b.select("vec_id", "embedding"), "embedding")
    val gen1 = Graft.resolveIndexTree(spark, dir)
    Graft.frozenIdxCachedTrees(dir) shouldBe Seq(gen1)
    // publish: fresh generation, dead entry must be REPLACED not joined
    Graft.ivfPqRetrain(spark, dir,
      a.unionByName(b).select("vec_id", "embedding"), "embedding",
      iters = 1)
    val gen2 = Graft.resolveIndexTree(spark, dir)
    gen2 should not be gen1
    Graft.ivfPqAppend(spark, dir,
      c.select("vec_id", "embedding"), "embedding")
    Graft.frozenIdxCachedTrees(dir) shouldBe Seq(gen2)
    // the post-publish append landed on the new generation and the
    // index serves all 360 rows
    Graft.ivfPqLoad(spark, dir).enc.count() shouldBe 360L
  }
}
