package graft.api

import org.apache.spark.sql.{DataFrame, SaveMode}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** [[Graft.retrainIndex]] — the quantizer-drift lifecycle op — plus the
  * `_quantizer` persistence contract ([[Graft.saveQuantizer]] /
  * [[Graft.loadQuantizer]] / compaction carry).
  *
  * The drift fixture is DETERMINISTIC by construction: four
  * axis-aligned clusters (cluster = vec_id % 4), the frozen quantizer
  * trained on clusters {0, 1} only. Drifted rows carry a small tilt
  * toward one OLD axis (cluster 2 → axis 0, cluster 3 → axis 1), so
  * frozen-quantizer ingest routes them deterministically; the drift
  * query for cluster 2 is tilted toward the OTHER old axis, so a
  * pre-retrain nProbe=1 probe provably lands in the list that holds
  * cluster 3 — zero cluster-2 neighbors, no tie lottery. After
  * retrain (nlist=4), the same query's probe list IS cluster 2's list
  * and every neighbor is from cluster 2.
  */
class RetrainIndexSpec extends AnyFunSuite with Matchers {

  private lazy val spark = org.apache.spark.sql.SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val Buckets = 4
  private val K = 5

  /** cluster = id % 4; jitter rides the dominant axis only (keeps the
    * direction, makes every vector distinct). */
  private def vec(id: Long): Array[Float] = {
    val v = new Array[Float](4)
    val c = (id % 4).toInt
    val mag = 10f + 0.01f * (id % 10)
    c match {
      case 0 => v(0) = mag
      case 1 => v(1) = mag
      case 2 => v(2) = mag; v(0) = 0.5f // tilt toward OLD axis 0
      case 3 => v(3) = mag; v(1) = 0.5f // tilt toward OLD axis 1
    }
    v
  }

  private def rows(ids: Seq[Long]): DataFrame = {
    import spark.implicits._
    ids.map(i => (i, vec(i))).toDF("vec_id", "embedding")
  }

  /** The frozen quantizer: exactly the two OLD axes. */
  private def oldQuantizer(): DataFrame = {
    import spark.implicits._
    Seq((0, Array(1f, 0f, 0f, 0f)), (1, Array(0f, 1f, 0f, 0f)))
      .toDF("list_id", "centroid")
  }

  private def nrmd(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(graft.functions.VectorExpressions
      .dotF32(col("embedding"), col("embedding"))))

  /** Index the TRAINING-era rows (clusters 0/1) under the old
    * quantizer, then frozen-ingest the DRIFTED rows (clusters 2/3)
    * through the appender. Returns the table name. */
  private def mkDriftedTable(name: String): String = {
    val dir = java.nio.file.Files
      .createTempDirectory(s"retrain-$name").toString
    val a = (0L until 80L).filter(i => i % 4 < 2)
    val b = (0L until 80L).filter(i => i % 4 >= 2)
    nrmd(Graft.assignToCentroids(rows(a), "vec_id", "embedding",
        oldQuantizer(), carry = Seq.empty))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))
      .write.bucketBy(Buckets, "list_id").sortBy("list_id")
      .option("path", s"$dir/t").saveAsTable(name)
    Graft.saveQuantizer(spark, name, oldQuantizer())
    Graft.bucketedIndexAppender(name, Buckets, Some(oldQuantizer()),
      "vec_id", "embedding")(rows(b), 0L)
    name
  }

  /** Probe for cluster 2, deliberately tilted toward old axis 1. */
  private def driftQuery(): DataFrame = {
    import spark.implicits._
    nrmd(Seq((1000L, Array(0f, 0.4f, 10f, 0f)))
      .toDF("query_id", "embedding"))
      .select(col("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
  }

  private def neighbors(tbl: String, cents: DataFrame): Seq[Long] =
    graft.ops.Vector.ivfProbeSearch(driftQuery(),
        Graft.applyTombstones(spark, tbl), cents, nProbe = 1, k = K)
      .collect().map(_.getLong(1)).toSeq

  test("frozen-quantizer drift mis-routes deterministically; retrain " +
      "re-derives the lists and recovers the probe") {
    val tbl = s"rt_drift_${System.nanoTime()}"
    mkDriftedTable(tbl)

    // pre-retrain: the cluster-2 query probes old list 1 (its tilt),
    // which holds clusters 1 and 3 — ZERO cluster-2 neighbors
    val pre = neighbors(tbl, Graft.loadQuantizer(spark, tbl).get)
    pre should have size K
    pre.count(_ % 4 == 2) shouldBe 0

    val stats = Graft.retrainIndex(spark, tbl, "vec_id", "embedding",
      nlist = 4)
    stats.rows shouldBe 80L
    stats.nlist shouldBe 4
    stats.filesAfter should be <= Buckets
    stats.tombstonesPurged shouldBe 0L

    // the NEW quantizer published with the swap: 4 lists now
    val newCents = Graft.loadQuantizer(spark, tbl).get
    newCents.count() shouldBe 4L

    // the same probe now lands in cluster 2's own list — every
    // neighbor is a cluster-2 row
    val post = neighbors(tbl, newCents)
    post should have size K
    post.count(_ % 4 == 2) shouldBe K

    // assignment coherence: every served row's list_id equals a fresh
    // argmax assignment under the published quantizer
    val served = spark.table(tbl)
    val reassigned = Graft.assignToCentroids(
      served.select("vec_id", "embedding"), "vec_id", "embedding",
      newCents)
    served.select(col("vec_id"), col("list_id"))
      .join(reassigned.select(col("vec_id"),
        col("list_id").as("fresh")), "vec_id")
      .filter(col("list_id") =!= col("fresh"))
      .count() shouldBe 0L
  }

  test("retrain folds pending tombstones and clears them, like " +
      "compaction") {
    val tbl = s"rt_tomb_${System.nanoTime()}"
    mkDriftedTable(tbl)
    import spark.implicits._
    // delete all of cluster 0 (20 rows)
    Graft.ivfDelete(spark, tbl,
      (0L until 80L).filter(_ % 4 == 0).toDF("vec_id"))
    val stats = Graft.retrainIndex(spark, tbl, "vec_id", "embedding",
      nlist = 3)
    stats.rows shouldBe 60L
    stats.tombstonesPurged shouldBe 20L
    Graft.pendingTombstones(spark, tbl) shouldBe None
    spark.table(tbl).filter(pmod(col("vec_id"), lit(4)) === 0)
      .count() shouldBe 0L
  }

  test("compaction CARRIES the quantizer into the new generation; " +
      "appends keep working with the retrained centroids") {
    val tbl = s"rt_carry_${System.nanoTime()}"
    mkDriftedTable(tbl)
    Graft.retrainIndex(spark, tbl, "vec_id", "embedding", nlist = 4)
    val cents = Graft.loadQuantizer(spark, tbl).get

    // a post-retrain append through the appender, with the NEW
    // quantizer: a fresh row aligned EXACTLY with the drift query
    // routes to cluster 2's list and ranks first in its probe
    import spark.implicits._
    Graft.bucketedIndexAppender(tbl, Buckets, Some(cents),
      "vec_id", "embedding")(
      Seq((202L, Array(0f, 0.4f, 10f, 0f))).toDF("vec_id", "embedding"),
      1L)
    val post = neighbors(tbl, cents)
    post.head shouldBe 202L

    // compaction (identity rewrite) must carry _quantizer forward —
    // dropping it would strand the serving path after maintenance
    Graft.compactBucketedIndex(spark, tbl)
    val carried = Graft.loadQuantizer(spark, tbl)
    carried should not be empty
    carried.get.collect().map(r => r.getInt(0)).sorted shouldBe
      cents.collect().map(r => r.getInt(0)).sorted
  }

  test("indexGeneration: an append keeps the token, compaction and " +
      "retrain each move it, and a quantizer read under an unmoved " +
      "token is that generation's") {
    val tbl = s"rt_gen_${System.nanoTime()}"
    mkDriftedTable(tbl)
    val g0 = Graft.indexGeneration(spark, tbl)
    // an append adds files to the live generation and publishes none
    Graft.bucketedIndexAppender(tbl, Buckets, Some(oldQuantizer()),
      "vec_id", "embedding")(rows(Seq(80L, 81L)), 1L)
    Graft.indexGeneration(spark, tbl) shouldBe g0
    Graft.compactBucketedIndex(spark, tbl)
    val g1 = Graft.indexGeneration(spark, tbl)
    g1 should not be g0
    Graft.retrainIndex(spark, tbl, "vec_id", "embedding", nlist = 4)
    val g2 = Graft.indexGeneration(spark, tbl)
    Set(g0, g1) should not contain g2
    // the serving recipe: token, quantizer, token again; an unmoved
    // token proves the quantizer is the retrained generation's
    val cents = Graft.loadQuantizer(spark, tbl).get
    Graft.indexGeneration(spark, tbl) shouldBe g2
    cents.count() shouldBe 4L
  }

  test("indexStats reads the numbers maintenance decides on; " +
      "tombstones and maintenance round-trip through the advice") {
    val tbl = s"rt_stats_${System.nanoTime()}"
    mkDriftedTable(tbl)
    val s0 = Graft.indexStats(spark, tbl)
    s0.rows shouldBe 80L
    s0.buckets shouldBe Buckets
    s0.lists shouldBe 2L // frozen 2-list quantizer routed everything
    s0.occMean shouldBe 40.0
    s0.pendingTombstones shouldBe 0L
    s0.quantizerLists shouldBe Some(2)

    // 25% deleted > the 5% default: compaction advised
    import spark.implicits._
    Graft.ivfDelete(spark, tbl,
      (0L until 80L).filter(_ % 4 == 0).toDF("vec_id"))
    val s1 = Graft.indexStats(spark, tbl)
    s1.pendingTombstones shouldBe 20L
    val a1 = Graft.maintenanceAdvice(s1)
    a1.compact shouldBe true
    a1.reasons.exists(_.contains("tombstones")) shouldBe true

    // acting on the advice clears it
    Graft.compactBucketedIndex(spark, tbl)
    val s2 = Graft.indexStats(spark, tbl)
    s2.rows shouldBe 60L
    s2.pendingTombstones shouldBe 0L
    s2.dataFiles should be <= Buckets
    Graft.maintenanceAdvice(s2).compact shouldBe false
  }

  test("maintenanceAdvice thresholds pin the measured failure shapes") {
    val healthy = Graft.IndexStats(rows = 1000000L, dataFiles = 256,
      buckets = 256, lists = 1250L, occMean = 800.0, occP99 = 1200L,
      occMax = 1500L, pendingTombstones = 0L,
      quantizerLists = Some(1250), targetNlist = 2500, generation = "t")
    // targetNlist 2500 = 2x quantizer 1250: the 1M drift shape — the
    // corpus doubled under the frozen quantizer
    val a = Graft.maintenanceAdvice(healthy)
    a.retrain shouldBe true
    a.reasons.exists(_.contains("outgrown")) shouldBe true

    // the soak's fragmentation shape: O(appends x buckets) files
    val frag = healthy.copy(dataFiles = 4567, targetNlist = 1250)
    val af = Graft.maintenanceAdvice(frag)
    af.compact shouldBe true
    af.retrain shouldBe false

    // occupancy skew without corpus growth (drift's early signature):
    // the advice NAMES the trigger so the maintain loop can apply
    // hysteresis to skew but not to outgrowth
    val skew = healthy.copy(targetNlist = 1250, occP99 = 4338L,
      occMean = 774.0)
    val as = Graft.maintenanceAdvice(skew)
    as.retrain shouldBe true
    as.skewed shouldBe true
    as.outgrown shouldBe false
    a.outgrown shouldBe true

    // the hysteresis rule: a skew-only retrain fires with no baseline,
    // or when skew grew >= 25% past what the last retrain left — an
    // inherently imbalanced corpus (post-retrain skew unchanged) must
    // NOT retrain-storm every cadence tick
    Graft.skewRetrainActionable(5.6, -1.0) shouldBe true
    Graft.skewRetrainActionable(5.6, 5.5) shouldBe false // 1.02x: inherent
    Graft.skewRetrainActionable(7.0, 5.5) shouldBe true // 1.27x: grew

    // no persisted quantizer: never advise retrain
    val blind = skew.copy(quantizerLists = None)
    Graft.maintenanceAdvice(blind).retrain shouldBe false

    // all-clear
    Graft.maintenanceAdvice(healthy.copy(targetNlist = 1250))
      .reasons shouldBe empty
  }

  test("maintainEvery: the appender reads the advice, retrains when " +
      "the corpus outgrows the quantizer, and swaps itself onto the " +
      "retrained quantizer — later batches route under the NEW lists") {
    val tbl = s"rt_auto_${System.nanoTime()}"
    val dir = java.nio.file.Files
      .createTempDirectory("retrain-auto").toString
    // 1600 rows total: the derived target nlist (1600/400 = 4) reaches
    // 2x the persisted 2-list quantizer exactly when the drifted half
    // lands — the outgrown trigger, at spec scale
    val a = (0L until 1600L).filter(i => i % 4 < 2)
    val b = (0L until 1600L).filter(i => i % 4 >= 2)
    nrmd(Graft.assignToCentroids(rows(a), "vec_id", "embedding",
        oldQuantizer()))
      .select(col("vec_id"), col("embedding"), col("nrm"), col("list_id"))
      .write.bucketBy(Buckets, "list_id").sortBy("list_id")
      .option("path", s"$dir/t").saveAsTable(tbl)
    // deliberately NO saveQuantizer here: the maintain loop must
    // self-heal the persistence (the retrain trigger reads the
    // PERSISTED quantizer; without the self-heal a forgotten setup
    // step silently degrades the feature to compaction-only)

    val append = Graft.bucketedIndexAppender(tbl, Buckets,
      Some(oldQuantizer()), "vec_id", "embedding", maintainEvery = 1)
    // no maintenance owed after the historical half alone
    Graft.maintenanceAdvice(Graft.indexStats(spark, tbl))
      .reasons shouldBe empty

    append(rows(b), 0L) // drift lands -> advice fires -> retrain runs
    val s1 = Graft.indexStats(spark, tbl)
    s1.rows shouldBe 1600L
    s1.quantizerLists shouldBe Some(4)
    Graft.maintenanceAdvice(s1).retrain shouldBe false // acted on

    // the appender's own quantizer swapped: this batch must route
    // under the retrained 4-list layout, not the frozen 2-list one
    import spark.implicits._
    append(Seq((9999L, Array(0f, 0f, 10f, 0f)))
      .toDF("vec_id", "embedding"), 1L)
    val served = spark.table(tbl)
    served.count() shouldBe 1601L
    val fresh = Graft.assignToCentroids(
        served.select("vec_id", "embedding"), "vec_id", "embedding",
        Graft.loadQuantizer(spark, tbl).get)
      .select(col("vec_id"), col("list_id").as("fresh"))
    served.select(col("vec_id"), col("list_id")).join(fresh, "vec_id")
      .filter(col("list_id") =!= col("fresh")).count() shouldBe 0L
  }

  test("the persisted sizing rule calibrates the outgrown trigger and " +
      "the retrain width (r13 ADVICE: non-default deployments)") {
    val tbl = s"rt_deriv_${System.nanoTime()}"
    mkDriftedTable(tbl)
    // re-save with a NON-default rule: 10 vectors/list instead of 400.
    // 80 rows -> targetNlist = min(80/10, 4*sqrt(80)) = 8, vs 1 under
    // the defaults the stats used to hardcode.
    Graft.saveQuantizer(spark, tbl, oldQuantizer(),
      vectorsPerList = 10, sqrtFactor = 4.0)
    val stats = Graft.indexStats(spark, tbl)
    stats.targetNlist shouldBe Graft.deriveNlist(80L, 10, 4.0)
    stats.targetNlist shouldBe 8
    // the outgrown trigger now fires against the deployment's OWN rule
    // (8 >= 2 * 2 persisted lists); under the old hardcoded defaults
    // targetNlist = 1 could never fire
    Graft.maintenanceAdvice(stats).outgrown shouldBe true
    // retrain with nlist = 0 re-derives under the persisted rule...
    Graft.retrainIndex(spark, tbl, "vec_id", "embedding").nlist shouldBe 8
    // ...and carries the sidecar into the new generation, so the NEXT
    // cycle still sizes by the same rule
    Graft.indexStats(spark, tbl).targetNlist shouldBe 8
  }

  test("derivation sidecar: scientific-notation doubles round-trip; " +
      "malformed content fails loudly (r14 review)") {
    val tbl = s"rt_sci_${System.nanoTime()}"
    mkDriftedTable(tbl)
    // Scala renders 1e-10 as "1.0E-10" — a digits-and-dots parse would
    // silently truncate it to 1.0, a 10^10-different rule
    Graft.saveQuantizer(spark, tbl, oldQuantizer(),
      vectorsPerList = 10, sqrtFactor = 1e-10)
    Graft.loadDerivation(spark, tbl) shouldBe ((10, 1e-10))
    // malformed sidecar content must throw, never fall back silently
    val p = new org.apache.hadoop.fs.Path(
      Graft.bucketedTableLocation(spark, tbl),
      "_quantizer/.derivation.json")
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val out = fs.create(p, true)
    try out.write("{\"vectorsPerList\":oops}".getBytes("UTF-8"))
    finally out.close()
    an[IllegalStateException] should be thrownBy
      Graft.loadDerivation(spark, tbl)
  }

  test("an empty index is a named retrain no-op") {
    val tbl = s"rt_empty_${System.nanoTime()}"
    val dir = java.nio.file.Files
      .createTempDirectory("retrain-empty").toString
    rows(Seq.empty).withColumn("nrm", lit(0f))
      .withColumn("list_id", lit(0))
      .filter(lit(false))
      .write.bucketBy(Buckets, "list_id").sortBy("list_id")
      .option("path", s"$dir/t").saveAsTable(tbl)
    val stats = Graft.retrainIndex(spark, tbl, "vec_id", "embedding")
    stats shouldBe Graft.RetrainStats(0L, 0, 0, 0L, 0)
  }
}
