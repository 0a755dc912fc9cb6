package graft.api

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[Graft.compactBucketedIndex]] — the streaming-ingest maintenance op
  * (r12 verdict item 1). Pins the three properties that make it an API
  * instead of a doc paragraph: (a) a fragmented bucketed table rewrites
  * to ≤ buckets data files with row AND content parity, still served
  * through the same catalog entry; (b) the bucketed-scan-read variant
  * FAILS the file-count bound — the `spark.table` elision gotcha the
  * API exists to encode; (c) repeated appends + compaction keep
  * converging (the cadence shape `StreamVecProbe soak` measures). */
class CompactIndexSpec extends AnyFunSuite with Matchers {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Buckets = 8

  /** A batch of (vec_id, list_id) rows spread over several input
    * partitions, so an un-repartitioned bucketed append fragments at
    * tasks × touched-buckets rate — the streaming failure shape. */
  private def batch(offset: Long, rows: Int): DataFrame = {
    import spark.implicits._
    (0 until rows).map(i => (offset + i, ((offset + i) % 23).toInt))
      .toDF("vec_id", "list_id")
      .repartition(4)
  }

  private def mkTable(name: String): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"compact-$name").toString
    batch(0, 500).write.bucketBy(Buckets, "list_id").sortBy("list_id")
      .option("path", s"$dir/t").saveAsTable(name)
    // five fragmenting appends: each writes up to 4 tasks × buckets
    // files because nothing co-locates the buckets per task
    (1 to 5).foreach { i =>
      batch(i * 500L, 500).write.mode(SaveMode.Append)
        .bucketBy(Buckets, "list_id").sortBy("list_id")
        .option("path", s"$dir/t").saveAsTable(name)
    }
    s"$dir/t"
  }

  private def parquetFiles(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".parquet"))

  /** The table's LIVE data dir — each catalog-swap compaction moves it
    * to a fresh `.compact-*` generation. */
  private def liveDir(tbl: String): String =
    Graft.bucketedTableLocation(spark, tbl).toUri.getPath

  test("compaction bounds the file count at <= buckets with row and " +
      "content parity, through the live catalog entry") {
    val tbl = s"cmp_ok_${System.nanoTime()}"
    val dir = mkTable(tbl)
    val nBefore = parquetFiles(dir).size
    nBefore should be > Buckets // fragmented, or the test proves nothing
    val expect = spark.table(tbl).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1))).sorted

    val stats = Graft.compactBucketedIndex(spark, tbl)
    stats.rows shouldBe 3000L
    stats.filesBefore shouldBe nBefore
    stats.filesAfter should be <= Buckets
    // the swap is a catalog-location move: the live generation dir
    // holds the compacted files, the PREVIOUS generation survives one
    // cycle for readers in flight (deleted at the next compaction)
    liveDir(tbl) should not be dir
    parquetFiles(liveDir(tbl)).size shouldBe stats.filesAfter
    parquetFiles(dir).size shouldBe nBefore // grace copy intact

    // the SAME catalog entry serves the compacted rows, content-equal
    val got = spark.table(tbl).collect().toSeq
      .map(r => (r.getLong(0), r.getInt(1))).sorted
    got shouldBe expect
    // and it still reads as a bucketed table (bucket-pruned filters work)
    spark.table(tbl).filter(col("list_id") === 3).count() shouldBe
      expect.count(_._2 == 3)
  }

  test("the spark.table-read variant KEEPS the fragmentation — the " +
      "gotcha the API's plain-parquet read exists to dodge") {
    val tbl = s"cmp_gotcha_${System.nanoTime()}"
    val dir = mkTable(tbl)
    parquetFiles(dir).size should be > Buckets
    // hand-rolled compaction through the bucketed scan: the scan claims
    // HashPartitioning(list_id, Buckets), the planner elides the
    // repartition as redundant, and the write keeps one file per
    // original task grouping instead of one per bucket
    val out = java.nio.file.Files
      .createTempDirectory("compact-gotcha-out").toString + "/t"
    val tmpTbl = s"${tbl}_out"
    spark.table(tbl).repartition(Buckets, col("list_id"))
      .write.bucketBy(Buckets, "list_id").sortBy("list_id")
      .option("path", out).saveAsTable(tmpTbl)
    val naive = parquetFiles(out).size
    withClue("Spark no longer elides the repartition under a bucketed " +
      "scan — compactBucketedIndex's plain-parquet read may be " +
      "droppable; re-measure before simplifying: ") {
      naive should be > Buckets
    }
    spark.sql(s"DROP TABLE $tmpTbl")
  }

  test("append -> compact -> append -> compact converges every time " +
      "(the maintenance-cadence shape)") {
    val tbl = s"cmp_cadence_${System.nanoTime()}"
    val dir = mkTable(tbl)
    var total = 3000L
    for (round <- 1 to 2) {
      val stats = Graft.compactBucketedIndex(spark, tbl)
      stats.rows shouldBe total
      stats.filesAfter should be <= Buckets
      // no path option on APPEND — the live location moved with the
      // compaction above; the catalog resolves it
      batch(10000L * round, 300).write.mode(SaveMode.Append)
        .bucketBy(Buckets, "list_id").sortBy("list_id")
        .saveAsTable(tbl)
      total += 300
    }
    val last = Graft.compactBucketedIndex(spark, tbl)
    last.rows shouldBe total
    last.filesAfter should be <= Buckets
    spark.table(tbl).count() shouldBe total
    // generation hygiene: after 3 compactions at most the live dir and
    // ONE grace predecessor remain — older generations were deleted at
    // the start of each subsequent call
    val base = new java.io.File(dir)
    val gens = Option(base.getParentFile.listFiles()).toSeq.flatten
      .filter(f => f.isDirectory && (f.getName == base.getName ||
        f.getName.startsWith(base.getName + ".compact-")))
    gens.size should be <= 2
  }

  test("compacting an index with no data files is a named no-op, not " +
      "a schema-inference crash") {
    val tbl = s"cmp_empty_${System.nanoTime()}"
    val dir = java.nio.file.Files
      .createTempDirectory("compact-empty").toString
    batch(0, 1).filter(col("vec_id") < 0) // zero rows -> zero files
      .write.bucketBy(Buckets, "list_id").sortBy("list_id")
      .option("path", s"$dir/t").saveAsTable(tbl)
    val st = Graft.compactBucketedIndex(spark, tbl)
    st shouldBe Graft.CompactionStats(0L, 0, 0, 0L)
  }

  test("ivfDelete tombstones hide rows at serve time immediately and " +
      "drop physically at compaction, which clears them") {
    import spark.implicits._
    val tbl = s"cmp_tomb_${System.nanoTime()}"
    mkTable(tbl) // 3000 rows, vec_id 0..2999
    // delete every vec_id % 100 == 0 (30 real ids), one id twice, and
    // one id that was never indexed — idempotent no-ops
    Graft.ivfDelete(spark, tbl,
      (0L until 3000L by 100L).toDF("vec_id"))
    Graft.ivfDelete(spark, tbl, Seq(200L, 999999L).toDF("vec_id"))

    // serve-time: hidden immediately, nothing else lost
    val served = Graft.applyTombstones(spark, tbl)
    served.count() shouldBe 2970L
    served.filter(col("vec_id") % 100 === 0).count() shouldBe 0L
    // the anti-join must broadcast the tombstones, never shuffle the
    // corpus-sized index side
    val plan = served.queryExecution.explainString(
      org.apache.spark.sql.execution.FormattedMode)
    withClue(s"tombstone anti-join is not broadcast:\n$plan") {
      plan should include("BroadcastHashJoin")
      plan.toLowerCase should not include "sortmergejoin"
    }

    // compaction purges physically and clears the tombstone table
    val stats = Graft.compactBucketedIndex(spark, tbl)
    stats.rows shouldBe 2970L
    stats.tombstonesPurged shouldBe 30L
    stats.filesAfter should be <= Buckets
    spark.table(tbl).count() shouldBe 2970L
    spark.table(tbl).filter(col("vec_id") % 100 === 0)
      .count() shouldBe 0L
    Graft.pendingTombstones(spark, tbl) shouldBe None
    // serving view == table once nothing is pending
    Graft.applyTombstones(spark, tbl).count() shouldBe 2970L
  }

  test("ivfDelete rejects a multi-column ids frame") {
    import spark.implicits._
    val tbl = s"cmp_tombbad_${System.nanoTime()}"
    mkTable(tbl)
    an[IllegalArgumentException] should be thrownBy
      Graft.ivfDelete(spark, tbl,
        Seq((1L, 2)).toDF("vec_id", "list_id"))
  }

  test("ivfDelete validates the id column against the index schema " +
      "EAGERLY — a misnamed or mistyped column fails at delete time, " +
      "not at the first serve") {
    import spark.implicits._
    val tbl = s"cmp_tombval_${System.nanoTime()}"
    mkTable(tbl)
    // wrong name
    an[IllegalArgumentException] should be thrownBy
      Graft.ivfDelete(spark, tbl, Seq(1L).toDF("doc_id"))
    // right name, wrong type (index vec_id is LONG)
    an[IllegalArgumentException] should be thrownBy
      Graft.ivfDelete(spark, tbl, Seq(1).toDF("vec_id"))
    // neither bad call may have left anything pending
    Graft.pendingTombstones(spark, tbl) shouldBe None
  }

  test("delete/compact cycles repeat: the file-scoped tombstone clear " +
      "leaves the side table reusable, and each compaction purges " +
      "exactly what it snapshotted") {
    import spark.implicits._
    val tbl = s"cmp_tombrace_${System.nanoTime()}"
    mkTable(tbl)
    Graft.ivfDelete(spark, tbl, Seq(100L).toDF("vec_id"))
    // (the true mid-compaction race needs a write hook to pin; what
    // IS pinnable from the public surface: clears are file-scoped —
    // a delete landing after one compaction is pending for the next,
    // never wiped unapplied by a dir-level clear)
    val s1 = Graft.compactBucketedIndex(spark, tbl)
    s1.tombstonesPurged shouldBe 1L
    Graft.ivfDelete(spark, tbl, Seq(200L).toDF("vec_id"))
    Graft.pendingTombstones(spark, tbl).map(_.count()) shouldBe Some(1L)
    val s2 = Graft.compactBucketedIndex(spark, tbl)
    s2.tombstonesPurged shouldBe 1L
    Graft.pendingTombstones(spark, tbl) shouldBe None
    spark.table(tbl).filter(col("vec_id").isin(100L, 200L))
      .count() shouldBe 0L
  }

  test("an ivfDelete RACING a compaction (landing after its tombstone " +
      "snapshot) survives the file-scoped clear and stays pending") {
    import spark.implicits._
    val tbl = s"cmp_race_${System.nanoTime()}"
    mkTable(tbl)
    Graft.ivfDelete(spark, tbl, Seq(100L).toDF("vec_id"))
    // inject the race through the test seam: this delete lands between
    // the compaction's tombstone snapshot and its clear
    Graft.compactionTestHook =
      () => Graft.ivfDelete(spark, tbl, Seq(200L).toDF("vec_id"))
    val st =
      try Graft.compactBucketedIndex(spark, tbl)
      finally Graft.compactionTestHook = () => ()
    // only the SNAPSHOTTED tombstone purged; the racing one is pending
    st.tombstonesPurged shouldBe 1L
    spark.table(tbl).filter(col("vec_id") === 100L).count() shouldBe 0L
    spark.table(tbl).filter(col("vec_id") === 200L).count() shouldBe 1L
    Graft.pendingTombstones(spark, tbl)
      .map(_.collect().map(_.getLong(0)).toSeq) shouldBe Some(Seq(200L))
    // the serving view hides it NOW; the next compaction purges it
    Graft.applyTombstones(spark, tbl)
      .filter(col("vec_id") === 200L).count() shouldBe 0L
    Graft.compactBucketedIndex(spark, tbl).tombstonesPurged shouldBe 1L
    Graft.pendingTombstones(spark, tbl) shouldBe None
  }

  test("bucketedIndexAppender drives the whole lifecycle: assign + " +
      "normalize + bounded appends + the compaction cadence purging " +
      "tombstones, as one foreachBatch function") {
    import spark.implicits._
    val tbl = s"cmp_appender_${System.nanoTime()}"
    val dir = java.nio.file.Files
      .createTempDirectory("compact-appender").toString
    // empty bucketed table, the streaming-ingest layout
    spark.createDataFrame(
      spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
      org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("vec_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("embedding",
          org.apache.spark.sql.types.ArrayType(
            org.apache.spark.sql.types.FloatType)),
        org.apache.spark.sql.types.StructField("nrm",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("list_id",
          org.apache.spark.sql.types.IntegerType))))
      .write.bucketBy(Buckets, "list_id").sortBy("list_id")
      .option("path", s"$dir/t").saveAsTable(tbl)
    // a 4-centroid frozen quantizer over a 8-dim toy corpus
    def vecs(offset: Long, rows: Int) = {
      val rnd = new scala.util.Random(7 + offset)
      (0 until rows).map(i => (offset + i,
        Array.fill(8)((rnd.nextGaussian() + 0.2).toFloat)))
        .toDF("vec_id", "embedding").repartition(4)
    }
    val cents = Graft.kmeansCentroids(vecs(0, 200), "vec_id",
      "embedding", nlist = 4, iters = 1).localCheckpoint(true)
    val append = Graft.bucketedIndexAppender(tbl, Buckets,
      Some(cents), "vec_id", "embedding", compactEvery = 3)
    // the job feed per batch, to count the quantizer's collect jobs
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[String]
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(
          js: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        jobs.add(js.stageInfos.map(_.name).mkString("|")); ()
      }
    }
    spark.sparkContext.addSparkListener(listener)
    val collectsPerBatch = try (0 until 6).map { i =>
      append(vecs(i * 200L, 200), i)
      if (i == 3) // a delete mid-stream, purged by the next cadence hit
        Graft.ivfDelete(spark, tbl, Seq(0L, 777L).toDF("vec_id"))
      // listener bus is async: wait for the job feed to go quiet
      var last = -1
      while (jobs.size != last) { last = jobs.size; Thread.sleep(200) }
      val names = jobs.toArray(Array.empty[String])
      jobs.clear()
      names.count(_.contains("collect at Graft"))
    } finally spark.sparkContext.removeSparkListener(listener)
    // the first batch freezes the quantizer (one collect); batches with
    // no compaction or delete run no collect at all — a steady-state
    // batch never re-collects the centroid table
    collectsPerBatch(0) shouldBe 1
    Seq(1, 4).map(collectsPerBatch) shouldBe Seq(0, 0)
    // two cadence compactions ran (after batches 2 and 5): bounded
    // files, exact rows (1200 ingested − 2 tombstoned), nothing pending
    parquetFiles(liveDir(tbl)).size should be <= Buckets
    spark.table(tbl).count() shouldBe 1198L
    Graft.pendingTombstones(spark, tbl) shouldBe None
    spark.table(tbl).filter(col("vec_id").isin(0L, 777L))
      .count() shouldBe 0L
    // the appended rows carry real norms and kernel-assigned lists
    spark.table(tbl).filter(col("nrm") <= 0 || col("list_id") < 0 ||
      col("list_id") >= 4).count() shouldBe 0L
    // a bucket-count mismatch fails by NAME before any data moves
    val bad = Graft.bucketedIndexAppender(tbl, Buckets * 2,
      Some(cents), "vec_id", "embedding")
    val e = the[IllegalArgumentException] thrownBy
      bad(vecs(9999L, 10), 99L)
    e.getMessage should include("bucket spec")
    spark.table(tbl).count() shouldBe 1198L // nothing appended
  }
}
