package graft

import java.util.UUID

import graft.pubsub.EmbeddedBroker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Dev measurement main (SCALE.md cites its numbers; not library
  * surface): the MANY-QUERY regime of the STREAMING retrieval path
  * (r11 verdict item 6). p16's gate pins correctness with 10-query
  * micro-batches against a small label index; the online-retrieval
  * deployment shape is micro-batches of 10³–10⁴ query vectors probing
  * a STATIC corpus-scale IVF-PQ index. This main builds the index once
  * over a vectors-only slice (ScaleDataGen `embeddings`/`margin`
  * mode), publishes batches·batchSize query vectors through the
  * embedded broker, streams them back under a
  * `max_messages_per_trigger = batchSize` admission cap, and times the
  * [[graft.api.Graft.ivfPqSearch]] probe per micro-batch — per-query
  * ms should stay FLAT across batches (no state accumulates; the
  * replay cache holds one batch).
  *
  * The `ingest` mode measures p17's deployment shape at corpus scale
  * instead: vectors stream in and the list_id-bucketed index GROWS by
  * batch-sized appends (frozen kmeans quantizer, map-side
  * normalize+assign) — per-batch append wall should stay FLAT as the
  * index grows, because an append writes its own bucket files and
  * never touches the accumulated table.
  *
  * The `persist` mode measures the build-once / serve-for-weeks shape:
  * build the IVF-PQ index over the slice, [[graft.api.Graft.ivfPqSave]]
  * it (bucket-partitioned codes), [[graft.api.Graft.ivfPqLoad]] it
  * back, and A/B a small serving batch pruned vs full-scan against the
  * loaded index, with a row-parity require.
  *
  * The `soak` mode composes the whole deployment loop — appends,
  * tombstone deletes ([[graft.api.Graft.ivfDelete]]), the compaction
  * cadence ([[graft.api.Graft.compactBucketedIndex]]), probes sampled
  * after every append — and fails loudly on any tombstoned neighbor or
  * broken row accounting; its latency table is SCALE.md's bounded-
  * sawtooth evidence.
  *
  * The `drift` mode measures the quantizer-drift lifecycle
  * [[graft.api.Graft.retrainIndex]] exists for: train the quantizer on
  * HALF the cluster space (labels < 500 of the margin slice), ingest
  * that half, then frozen-ingest the OTHER half (the distribution
  * shift), and read the bill — list-occupancy skew, probe latency, and
  * recall for drifted vs historical queries — before and after one
  * retrainIndex call.
  *
  * Usage: StreamVecProbe [dir] [batchSize] [nBatches] [nProbe]
  *        StreamVecProbe [dir] ingest [batchSize]
  *        StreamVecProbe [dir] persist [buckets]
  *        StreamVecProbe [dir] soak [nAppends] [compactEvery]
  *        StreamVecProbe [dir] drift
  *        StreamVecProbe [dir] driftauto
  *        StreamVecProbe [dir] mixedm [maintainEvery]
  */
object StreamVecProbe {
  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/vec1m")
    if (args.length > 1 && args(1) == "ingest") {
      ingest(dir, if (args.length > 2) args(2).toInt else 100000)
      return
    }
    if (args.length > 1 && args(1) == "persist") {
      persist(dir, if (args.length > 2) args(2).toInt else 256)
      return
    }
    if (args.length > 1 && args(1) == "mixed") {
      mixed(dir)
      return
    }
    if (args.length > 1 && args(1) == "mixedc") {
      mixed(dir, compactEvery =
        if (args.length > 2) args(2).toInt else 3)
      return
    }
    if (args.length > 1 && args(1) == "mixedm") {
      mixed(dir, compactEvery = 0, maintainEvery =
        if (args.length > 2) args(2).toInt else 3)
      return
    }
    if (args.length > 1 && args(1) == "soak") {
      soak(dir,
        nAppends = if (args.length > 2) args(2).toInt else 100,
        compactEvery = if (args.length > 3) args(3).toInt else 20)
      return
    }
    if (args.length > 1 && args(1) == "drift") {
      drift(dir)
      return
    }
    if (args.length > 1 && args(1) == "driftauto") {
      driftAuto(dir)
      return
    }
    val batchSize = if (args.length > 1) args(1).toInt else 1000
    val nBatches = if (args.length > 2) args(2).toInt else 8
    val nProbe = if (args.length > 3) args(3).toInt else 64
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val nlist = graft.api.Graft.deriveNlist(n)
    val shortlist = 256
    val t0 = System.nanoTime()
    val built = graft.api.Graft.ivfPqBuild(emb, "vec_id", "embedding",
      dim = 64, nlist = nlist)
    val index = built.copy(
      cents = built.cents.localCheckpoint(true),
      enc = built.enc.localCheckpoint(true))
    println(f"[streamvec] index build=${(System.nanoTime() - t0) / 1e9}%.1f " +
      s"n=$n nlist=$nlist nProbe=$nProbe batch=$batchSize x $nBatches")

    // publish nBatches·batchSize queries drawn evenly across the slice.
    // The stride filter can emit FEWER than nQ rows (nQ > n, or the
    // stride rounding leaves < nQ survivors), so the drain guard below
    // compares against the ACTUAL published count, not the request
    // (r12 advice: a healthy small-slice run used to fail the require
    // with a misleading "measurement incomplete").
    val nQ = batchSize.toLong * nBatches
    val topic = "projects/p/topics/svp-queries"
    val ep = s"svp-${UUID.randomUUID()}"
    EmbeddedBroker.get(ep).createTopic(topic)
    val pubFrame = emb
      .filter(pmod(col("vec_id"), lit(math.max(1L, n / nQ))) === 0)
      .limit(nQ.toInt)
      .select(col("vec_id"), col("embedding"))
      .localCheckpoint(true)
    val nPublished = pubFrame.count()
    pubFrame
      .repartition(1)
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val b = EmbeddedBroker.get(ep)
        rows.grouped(5000).foreach { g =>
          b.publishBatch(topic, g.map { r =>
            (r.getSeq[Float](1).mkString(",").getBytes("UTF-8"),
              Map("vec_id" -> r.getLong(0).toString), "")
          })
        }
      }
    val sub = s"svp-sub-${UUID.randomUUID().toString.take(8)}"
    EmbeddedBroker.get(ep).createSubscription(
      s"projects/p/subscriptions/$sub", topic, backfill = true)

    // per batch: (id, wall, rows drained, result-bearing query count) —
    // drained is the drain-guard term; the result count is a separate
    // diagnostic (a query CAN legitimately return zero neighbors).
    val walls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Long, Long)]()
    val q = spark.readStream.format("pubsub")
      .option("project_id", "p")
      .option("subscription", sub)
      .option("endpoint", ep)
      .option("max_messages_per_trigger", batchSize.toString)
      .option("max_messages_per_partition", "50000")
      .option("dynamic_partitioning", "false")
      .option("ack_deadline_seconds", "600")
      .load()
      .selectExpr(
        "CAST(attributes['vec_id'] AS BIGINT) AS query_id",
        "transform(split(CAST(data AS STRING), ','), " +
          "x -> CAST(x AS FLOAT)) AS embedding")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val b = batch.localCheckpoint(true)
        val drained = b.count()
        val t = System.nanoTime()
        val got = graft.api.Graft.ivfPqSearch(index, b,
          "query_id", "embedding", emb, "embedding", k = 5,
          nProbe = nProbe, shortlist = shortlist)
          .select("query_id").distinct().count()
        walls.add((id, (System.nanoTime() - t) / 1e9, drained, got))
        ()
      }
      .option("checkpointLocation",
        java.nio.file.Files.createTempDirectory("svp-cp").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(1200000)
    import scala.jdk.CollectionConverters._
    val got = walls.asScala.toSeq.sortBy(_._1)
    got.foreach { case (id, w, nq, nr) =>
      println(f"[streamvec] batch=$id nq=$nq with_results=$nr " +
        f"wall=$w%7.2f perq_ms=${w * 1000 / math.max(1L, nq)}%7.2f")
    }
    // Fail LOUDLY if the stream drained nothing — one r12 run printed
    // only the build line and exited 0 (an empty AvailableNow pass over
    // a subscription that saw no backfill), which reads as success to
    // anything scraping the walls. A measurement main must not be able
    // to succeed without measuring. The guard compares ROWS DRAINED
    // against ROWS PUBLISHED — the result-bearing query count is a
    // diagnostic, not the guard term.
    require(got.map(_._3).sum == nPublished,
      s"stream drained ${got.map(_._3).sum} of $nPublished published " +
        s"queries across ${got.size} batches — measurement incomplete")
    index.cents.unpersist(); index.enc.unpersist()
    spark.stop()
  }

  /** Build-once / serve-for-weeks: build the IVF-PQ index over the
    * slice, save it bucket-partitioned, load it back, and A/B the
    * pruned serving probe against the loaded index's full scan. */
  private def persist(dir: String, buckets: Int): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val nlist = graft.api.Graft.deriveNlist(n)
    val t0 = System.nanoTime()
    val built = graft.api.Graft.ivfPqBuild(emb, "vec_id", "embedding",
      dim = 64, nlist = nlist)
    val index = built.copy(
      cents = built.cents.localCheckpoint(true),
      enc = built.enc.localCheckpoint(true))
    println(f"[persist] build=${(System.nanoTime() - t0) / 1e9}%.1f " +
      s"n=$n nlist=$nlist buckets=$buckets")
    val idxDir = java.nio.file.Files
      .createTempDirectory("svp-persist").toString
    val t1 = System.nanoTime()
    graft.api.Graft.ivfPqSave(index, idxDir, buckets)
    println(f"[persist] save=${(System.nanoTime() - t1) / 1e9}%.1f")
    index.cents.unpersist(); index.enc.unpersist()
    val loaded = graft.api.Graft.ivfPqLoad(spark, idxDir)
    val q8 = emb.filter(col("vec_id") % (n / 8) === 0)
      .select(col("vec_id").as("qid"), col("embedding"))
      .localCheckpoint(true)
    def probe(prune: Boolean): (Double, Array[org.apache.spark.sql.Row]) = {
      val t = System.nanoTime()
      val rows = graft.api.Graft.ivfPqSearch(loaded, q8, "qid",
        "embedding", emb, "embedding", k = 5, nProbe = 16,
        shortlist = 256, pruneLists = prune)
        .orderBy("query_id", "rnk").collect()
      ((System.nanoTime() - t) / 1e9, rows)
    }
    for (rep <- 1 to 2) {
      val (wp, rp) = probe(prune = true)
      val (wf, rf) = probe(prune = false)
      require(rp.toSeq == rf.toSeq,
        s"pruned probe diverged: ${rp.length} vs ${rf.length} rows")
      println(f"[persist] serving probe rep=$rep n_q=${q8.count()} " +
        f"pruned=$wp%6.2f full=$wf%6.2f")
    }
    spark.stop()
  }

  /** p17's shape at corpus scale: stream `n` vectors through the broker
    * in `batchSize` micro-batches, each batch map-side assigned against
    * a FROZEN kmeans quantizer and appended to a list_id-bucketed index
    * table. Prints per-batch append walls (should be flat in the
    * accumulated index size) and a post-drain probe wall over the
    * fully-ingested table. */
  /** The empty bucketed index table every arm starts from — one
    * definition of the (vec_id, embedding, nrm, list_id) layout
    * instead of a copy per arm (r13 review: a schema change must not
    * need five edits). */
  private def createEmptyIndexTable(spark: SparkSession, path: String,
      table: String, buckets: Int): Unit =
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
      .write.bucketBy(buckets, "list_id").sortBy("list_id")
      .option("path", path).saveAsTable(table)

  /** The mixed shape: queries SERVE while the index GROWS — an ingest
    * stream appends 100k-vector batches to the bucketed table and a
    * concurrent query stream (ProcessingTime trigger) probes the
    * CURRENT table per micro-batch (refreshTable, pruneLists) — each
    * probe's wall is recorded next to the index size it actually saw.
    * Appends only ADD files, so concurrent reads are safe: a new file
    * is simply invisible until the next refresh. */
  /** `compactEvery > 0` (the `mixedc` arm) runs the appender's
    * compaction cadence WHILE the query stream serves — the question a
    * zero-downtime deployment asks. Compaction is serialized with
    * appends (same foreachBatch thread) but NOT with probes. With the
    * catalog-pointer swap there is no absence window by design — the
    * rename-swap predecessor measured 2 swap-window collisions in 21
    * probes here; the pointer swap measured 0 — but a probe in flight
    * ACROSS two full compactions could still outlive its generation's
    * grace files, so the retry-once-on-transient-scan-failure policy
    * stays as the belt to the design's braces. The run fails loudly if
    * any probe fails twice.
    *
    * `maintainEvery > 0` (the `mixedm` arm) serves through the
    * AUTOPILOT instead: advice-driven retrains re-assign every row to
    * NEW list ids mid-serve, so the probe side must run the
    * read-committed recipe ([[graft.api.Graft.indexGeneration]]):
    * resolve the generation, load ITS quantizer, probe, and verify the
    * generation did not move — a moved generation means the
    * quantizer/rows pair may be torn, and the probe retries rather
    * than silently returning candidates joined across two
    * assignments. */
  private def mixed(dir: String, compactEvery: Int = 0,
      maintainEvery: Int = 0): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    // mixedm seeds an UNDERSIZED quantizer (width for n/8) so the
    // autopilot's outgrown trigger provably fires mid-ingest — the
    // deployment shape where the index outgrows its training era while
    // queries keep serving
    val nlist = if (maintainEvery > 0)
      graft.api.Graft.deriveNlist(math.max(1L, n / 8))
    else graft.api.Graft.deriveNlist(n)
    val cents = graft.api.Graft
      .kmeansCentroids(emb.filter(pmod(col("vec_id"), lit(math.max(1L,
        n / (nlist.toLong * 128)))) === 0), "vec_id", "embedding",
        nlist, iters = 2)
      .localCheckpoint(true)
    println(s"[mixed] n=$n nlist=$nlist maintainEvery=$maintainEvery")

    // ingest stream: 10 batches of 100k
    val epI = s"svpm-i-${UUID.randomUUID()}"
    EmbeddedBroker.get(epI).createTopic("projects/p/topics/mi")
    emb.select(col("vec_id"), col("embedding")).repartition(8)
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val b = EmbeddedBroker.get(epI)
        rows.grouped(5000).foreach { g =>
          b.publishBatch("projects/p/topics/mi", g.map { r =>
            (r.getSeq[Float](1).mkString(",").getBytes("UTF-8"),
              Map("vec_id" -> r.getLong(0).toString), "")
          })
        }
      }
    EmbeddedBroker.get(epI).createSubscription(
      "projects/p/subscriptions/mi-sub", "projects/p/topics/mi",
      backfill = true)
    // query stream: 100-query batches every 2s while ingest runs
    val epQ = s"svpm-q-${UUID.randomUUID()}"
    EmbeddedBroker.get(epQ).createTopic("projects/p/topics/mq")
    // max(1, ·): a slice under the cap would otherwise compute
    // stride 0 — pmod by zero is null, the filter selects nothing, and
    // the run dies on the misleading "probed nothing" require (r12
    // advice). mixedm publishes 3x the queries: its ingest runs ~3x
    // longer (the retrains), and the serving window must OBSERVE the
    // whole of it, including probes co-running with each retrain.
    val nQPub = if (maintainEvery > 0) 6000 else 2000
    emb.filter(pmod(col("vec_id"), lit(math.max(1L, n / nQPub))) === 0)
      .limit(nQPub)
      .select(col("vec_id"), col("embedding")).repartition(1)
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val b = EmbeddedBroker.get(epQ)
        rows.grouped(5000).foreach { g =>
          b.publishBatch("projects/p/topics/mq", g.map { r =>
            (r.getSeq[Float](1).mkString(",").getBytes("UTF-8"),
              Map("vec_id" -> r.getLong(0).toString), "")
          })
        }
      }
    EmbeddedBroker.get(epQ).createSubscription(
      "projects/p/subscriptions/mq-sub", "projects/p/topics/mq",
      backfill = true)

    val idxDir = java.nio.file.Files
      .createTempDirectory("svp-mixed-idx").toString
    val idxTbl = s"svp_mix_${UUID.randomUUID().toString.take(8)}"
    createEmptyIndexTable(spark, s"$idxDir/t", idxTbl,
      buckets = 256)

    val cpI = java.nio.file.Files.createTempDirectory("svp-mi-cp").toString
    val cpQ = java.nio.file.Files.createTempDirectory("svp-mq-cp").toString
    val qi = spark.readStream.format("pubsub")
      .option("project_id", "p").option("subscription", "mi-sub")
      .option("endpoint", epI)
      .option("max_messages_per_trigger", "100000")
      .option("max_messages_per_partition", "50000")
      .option("dynamic_partitioning", "false")
      .option("ack_deadline_seconds", "600")
      .load()
      .selectExpr("CAST(attributes['vec_id'] AS BIGINT) AS vec_id",
        "transform(split(CAST(data AS STRING), ','), " +
          "x -> CAST(x AS FLOAT)) AS embedding")
      .writeStream
      .foreachBatch {
        // the deployment write path: assign + normalize + bounded
        // bucketed append, with the compaction cadence when mixedc
        // asks for it (runs in THIS thread — serialized with appends,
        // concurrent with the query stream below)
        val append = graft.api.Graft.bucketedIndexAppender(idxTbl,
          buckets = 256, centroids = Some(cents), idCol = "vec_id",
          vecCol = "embedding", compactEvery = compactEvery,
          maintainEvery = maintainEvery)
        (batch: DataFrame, id: Long) => append(batch, id)
      }
      .option("checkpointLocation", cpI)
      .trigger(Trigger.AvailableNow())
      .start()

    val probes = new java.util.concurrent.ConcurrentLinkedQueue[
      (Long, Double, Long, Long, Int)]()
    // a scan planned before a concurrent compaction's directory swap
    // reads moved files — the ONE transient failure class the serving
    // retry policy absorbs (anything else propagates, fail-loud)
    def transientScan(e: Throwable): Boolean = {
      var c: Throwable = e
      while (c != null) {
        if (c.isInstanceOf[java.io.FileNotFoundException] ||
            (c.getMessage != null &&
              (c.getMessage.contains("FileNotFound") ||
               c.getMessage.contains("does not exist") ||
               // the mixedm read-committed check: the generation moved
               // between quantizer load and probe — a torn pair, retry
               c.getMessage.contains("generation moved")))) return true
        c = c.getCause
      }
      false
    }
    val qq = spark.readStream.format("pubsub")
      .option("project_id", "p").option("subscription", "mq-sub")
      .option("endpoint", epQ)
      .option("max_messages_per_trigger", "100")
      .option("max_messages_per_partition", "50000")
      .option("dynamic_partitioning", "false")
      .option("ack_deadline_seconds", "600")
      .load()
      .selectExpr("CAST(attributes['vec_id'] AS BIGINT) AS query_id",
        "transform(split(CAST(data AS STRING), ','), " +
          "x -> CAST(x AS FLOAT)) AS qe")
      .writeStream
      .foreachBatch {
        // read-committed serve across live RETRAINS (mixedm only; a
        // compaction preserves list ids, so mixedc probes are coherent
        // across its swaps by design and keep the old policy): the
        // quantizer must be the one the current generation's rows were
        // assigned under — the pair publishes atomically inside the
        // generation dir, so an unmoved generation token brackets a
        // coherent (quantizer, rows) read; a moved one may be torn
        // (old rows + new quantizer or vice versa) and must retry.
        // The quantizer is CACHED keyed by the token — reloaded (and
        // the previous generation's pin released at the RDD level,
        // Dataset.unpersist being a documented no-op on checkpointed
        // frames) only when a swap actually landed, not per probe.
        var cachedGen: String = null
        var cachedQuant: DataFrame = null
        def quantFor(sess: SparkSession, g: String): DataFrame = {
          if (maintainEvery == 0) return cents
          if (g != cachedGen) {
            if (cachedQuant != null && cachedQuant.ne(cents))
              graft.ops.ListingCache.release(cachedQuant)
            cachedQuant = graft.api.Graft.loadQuantizer(sess, idxTbl)
              .getOrElse(cents)
            cachedGen = g
          }
          cachedQuant
        }
        (batch: DataFrame, id: Long) =>
        val sess = batch.sparkSession
        val q = batch.withColumn("qn",
          sqrt(graft.functions.VectorExpressions.dotF32(col("qe"),
            col("qe"))))
          .select(col("query_id"), col("qe"), col("qn"))
        def probeOnce(): (Long, Long) = {
          val g0 = graft.api.Graft.indexGeneration(sess, idxTbl)
          sess.catalog.refreshTable(idxTbl)
          val quant = quantFor(sess, g0)
          val seen = sess.table(idxTbl).count()
          val rows = graft.ops.Vector.ivfProbeSearch(q,
            sess.table(idxTbl), quant, nProbe = 16, k = 5,
            pruneLists = true).count()
          if (maintainEvery > 0 &&
              graft.api.Graft.indexGeneration(sess, idxTbl) != g0) {
            cachedGen = null // the pair may be torn: force a reload
            throw new java.io.IOException(
              s"generation moved during probe (was $g0)")
          }
          (seen, rows)
        }
        val t = System.nanoTime()
        val ((seen, rows), retried) =
          try ((probeOnce(), 0))
          catch { case e: Throwable if transientScan(e) =>
            (probeOnce(), 1) // a SECOND failure propagates — fail loud
          }
        probes.add((id, (System.nanoTime() - t) / 1e9, seen, rows,
          retried))
        ()
      }
      .option("checkpointLocation", cpQ)
      .trigger(Trigger.ProcessingTime("2 seconds"))
      .start()

    qi.awaitTermination(3600000)   // ingest drains fully
    Thread.sleep(8000)             // a few post-drain probes
    qq.stop(); qq.awaitTermination()
    import scala.jdk.CollectionConverters._
    probes.asScala.toSeq.sortBy(_._1).foreach {
      case (id, w, seen, r, retried) =>
        println(f"[mixed] probe batch=$id indexSeen=$seen wall=$w%6.2f " +
          s"rows=$r" + (if (retried > 0) " RETRIED" else ""))
    }
    val nRetried = probes.asScala.count(_._5 > 0)
    if (compactEvery > 0)
      println(s"[mixed] compactEvery=$compactEvery probes=" +
        s"${probes.size} retried=$nRetried (every probe succeeded; " +
        "retries are the transient swap-window collisions)")
    if (maintainEvery > 0) {
      val s = graft.api.Graft.indexStats(spark, idxTbl)
      println(s"[mixed] maintainEvery=$maintainEvery probes=" +
        s"${probes.size} retried=$nRetried quantLists=" +
        s"${s.quantizerLists.getOrElse(-1)} files=${s.dataFiles} " +
        "(every probe coherent: quantizer/rows pair verified by the " +
        "generation token)")
    }
    require(!probes.isEmpty, "mixed run probed nothing")
    spark.sql(s"DROP TABLE IF EXISTS $idxTbl")
    // temp hygiene (r12 advice): the checkpoint and index dirs are
    // per-run scratch, not artifacts — a repeated dev loop should not
    // accumulate them.
    Seq(cpI, cpQ, idxDir).foreach(p =>
      graft.ops.StreamingOps.deleteRecursively(new java.io.File(p)))
    spark.stop()
  }

  /** The end-to-end deployment soak (r13): appends + tombstone deletes
    * + compaction cadence + probes sampled THROUGHOUT — composes the
    * three r12 measurements (flat appends, fragmentation wall,
    * compaction recovery) into one long run. The guards are
    * correctness (a probe can NEVER return a tombstoned neighbor; row
    * accounting holds through every compaction) and the mechanism
    * bound (every compaction lands the table back at ≤ buckets files);
    * the probe-latency table is the SCALE.md artifact — bounded
    * sawtooth, no creep. Appends are batch-driven through the
    * identical foreachBatch write path (`ingest`/`mixed` cover the
    * broker-driven regimes; the file/serving dynamics live in the
    * write path, not the transport) and everything runs on ONE thread,
    * so compaction is serialized with appends — the documented
    * compactBucketedIndex discipline. */
  private def soak(dir: String, nAppends: Int, compactEvery: Int): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val appendRows = math.max(1L, n / nAppends)
    val nlist = graft.api.Graft.deriveNlist(n)
    val train = emb.filter(pmod(col("vec_id"), lit(math.max(1L,
      n / (nlist.toLong * 128)))) === 0)
    val cents = graft.api.Graft
      .kmeansCentroids(train, "vec_id", "embedding", nlist, iters = 2)
      .localCheckpoint(true)
    println(s"[soak] n=$n nlist=$nlist appends=$nAppends x $appendRows " +
      s"compactEvery=$compactEvery")

    val idxDir = java.nio.file.Files
      .createTempDirectory("svp-soak-idx").toString
    val idxTbl = s"svp_soak_${UUID.randomUUID().toString.take(8)}"
    createEmptyIndexTable(spark, s"$idxDir/t", idxTbl,
      buckets = 256)

    val probeQ = emb.filter(pmod(col("vec_id"), lit(math.max(1L, n / 8)))
        === 0)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        sqrt(graft.functions.VectorExpressions
          .dotF32(col("embedding"), col("embedding"))).as("qn"))
      .localCheckpoint(true)
    val deletedIds = scala.collection.mutable.Set[Long]()
    var ingested = 0L
    var purged = 0L
    // resolve the LIVE location from the catalog — each catalog-swap
    // compaction moves it to a fresh .compact-* generation dir
    def files(): Int = Option(new java.io.File(
        graft.api.Graft.bucketedTableLocation(spark, idxTbl).toUri)
      .listFiles()).map(_.count(_.getName.endsWith(".parquet")))
      .getOrElse(0)

    for (i <- 0 until nAppends) {
      val lo = i * appendRows
      // clamp BOTH bounds into [0, n]: with nAppends > n the tail
      // batches are empty, and naive hi-lo accounting would overcount
      // (middle) then go negative (last) and fail the compaction
      // require on a healthy table (r13 review)
      val hi = math.min(n,
        if (i == nAppends - 1) math.max(lo, n) else lo + appendRows)
      val batch = emb
        .filter(col("vec_id") >= lo && col("vec_id") < hi)
      val tA = System.nanoTime()
      graft.api.Graft
        .assignToCentroids(batch, "vec_id", "embedding", cents)
        .withColumn("nrm", sqrt(graft.functions.VectorExpressions
          .dotF32(col("embedding"), col("embedding"))))
        .select(col("vec_id"), col("embedding"), col("nrm"),
          col("list_id"))
        .repartition(256, col("list_id")).write.mode("append")
        // no path option on APPEND: the catalog location is
        // authoritative, and it MOVES at each catalog-swap compaction
        .bucketBy(256, "list_id").sortBy("list_id").saveAsTable(idxTbl)
      val wAppend = (System.nanoTime() - tA) / 1e9
      ingested += math.max(0L, hi - lo)

      // deletes: every 5th append tombstones ~1% of the PREVIOUS
      // append's ids (a curation pipeline dropping documents it
      // ingested earlier)
      if (i % 5 == 4) {
        val dLo = (i - 1) * appendRows
        val delFrame = emb.filter(col("vec_id") >= dLo &&
            col("vec_id") < lo &&
            pmod(col("vec_id"), lit(97)) === 0)
          .select("vec_id")
        val ids = delFrame.collect().map(_.getLong(0))
        if (ids.nonEmpty) {
          graft.api.Graft.ivfDelete(spark, idxTbl, delFrame)
          deletedIds ++= ids
        }
      }

      // compaction cadence — physically drops the pending tombstones
      var wCompact = 0.0
      var compactNote = ""
      if ((i + 1) % compactEvery == 0) {
        val tC = System.nanoTime()
        val st = graft.api.Graft.compactBucketedIndex(spark, idxTbl)
        wCompact = (System.nanoTime() - tC) / 1e9
        purged += st.tombstonesPurged
        require(st.filesAfter <= 256,
          s"soak: compaction left ${st.filesAfter} files (> buckets)")
        require(st.rows == ingested - purged,
          s"soak: row accounting broke at append $i: table ${st.rows}" +
            s" vs ingested $ingested - purged $purged")
        compactNote = s" compact=${st.filesBefore}->${st.filesAfter}"
      }

      // probe the SERVING view every append — tombstoned neighbors
      // must never appear, compacted or not
      val served = graft.api.Graft.applyTombstones(spark, idxTbl)
      val tP = System.nanoTime()
      val hits = graft.ops.Vector.ivfProbeSearch(probeQ, served, cents,
        nProbe = 16, k = 5, pruneLists = true)
        .collect()
      val wProbe = (System.nanoTime() - tP) / 1e9
      val bad = hits.map(_.getLong(1)).filter(deletedIds.contains)
      require(bad.isEmpty,
        s"soak: probe returned tombstoned neighbors ${bad.toSeq} at " +
          s"append $i")
      println(f"[soak] append=$i%3d rows=$ingested files=${files()}%6d " +
        f"tombs=${deletedIds.size - purged}%5d append=$wAppend%6.2f " +
        f"probe=$wProbe%6.2f" +
        (if (wCompact > 0) f" compactWall=$wCompact%6.1f" else "") +
        compactNote)
    }
    // close out: one final compaction must reconcile the books exactly
    val fin = graft.api.Graft.compactBucketedIndex(spark, idxTbl)
    purged += fin.tombstonesPurged
    require(fin.rows == n - deletedIds.size && purged == deletedIds.size,
      s"soak: final accounting ${fin.rows} rows, purged $purged, " +
        s"expected ${n - deletedIds.size} rows / ${deletedIds.size} purged")
    println(s"[soak] done rows=${fin.rows} files=${fin.filesAfter} " +
      s"purged=$purged")
    spark.sql(s"DROP TABLE IF EXISTS $idxTbl")
    graft.ops.StreamingOps.deleteRecursively(new java.io.File(idxDir))
    spark.stop()
  }

  /** Quantizer drift, measured (see the object scaladoc). Pre-phase
    * trains on labels < 500 ONLY; ingest phase B shifts the
    * distribution to labels >= 500 under the frozen quantizer; one
    * retrainIndex call re-derives nlist from the doubled corpus and
    * re-assigns. Prints occupancy skew, probe latency, and recall for
    * drifted vs historical query slices at each stage. */
  private def drift(dir: String): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.load(spark, dir, "embeddings")
      .localCheckpoint(true)
    require(emb.columns.contains("label"),
      "drift needs the margin slice (label = cluster id)")
    val hist = emb.filter(col("label") < 500)
    val drifted = emb.filter(col("label") >= 500)
    val (nHist, nDrift) = (hist.count(), drifted.count())
    val n = nHist + nDrift
    // the deployment trains for the corpus it HAS: nlist sized to the
    // historical half
    val nlist0 = graft.api.Graft.deriveNlist(nHist)
    val t0 = System.nanoTime()
    val train = hist.filter(pmod(col("vec_id"), lit(math.max(1L,
      nHist / (nlist0.toLong * 128)))) === 0)
    val cents0 = graft.api.Graft
      .kmeansCentroids(train, "vec_id", "embedding", nlist0, iters = 2)
      .localCheckpoint(true)
    println(f"[drift] n=$n (hist=$nHist drift=$nDrift) nlist0=$nlist0 " +
      f"train=${(System.nanoTime() - t0) / 1e9}%.1f")

    val buckets = 256
    val idxDir = java.nio.file.Files
      .createTempDirectory("svp-drift-idx").toString
    val idxTbl = s"svp_drift_${UUID.randomUUID().toString.take(8)}"
    createEmptyIndexTable(spark, s"$idxDir/t", idxTbl,
      buckets = buckets)
    graft.api.Graft.saveQuantizer(spark, idxTbl, cents0)

    // ingest through the deployment write path, 10 appends per phase
    def ingestPhase(name: String, rows: DataFrame,
        quant: DataFrame): Unit = {
      val append = graft.api.Graft.bucketedIndexAppender(idxTbl,
        buckets, Some(quant), "vec_id", "embedding")
      val withSlice = rows.withColumn("__slice",
        pmod(col("vec_id"), lit(10)))
      val t = System.nanoTime()
      (0 until 10).foreach { i =>
        append(withSlice.filter(col("__slice") === i)
          .drop("__slice"), i.toLong)
      }
      println(f"[drift] ingest $name wall=" +
        f"${(System.nanoTime() - t) / 1e9}%.1f")
    }

    // one source of truth for occupancy: the SAME numbers the
    // maintenance loop triggers on (r13 review: a local reimplementation
    // here could diverge from what maintenanceAdvice reads)
    def occupancy(tag: String): Unit = {
      val s = graft.api.Graft.indexStats(spark, idxTbl)
      println(f"[drift] occupancy $tag lists=${s.lists} " +
        f"mean=${s.occMean}%.0f p99=${s.occP99} max=${s.occMax} " +
        f"rows=${s.rows} files=${s.dataFiles}")
    }

    // query slices: 64 drifted + 64 historical corpus vectors
    def queries(src: DataFrame, nSrc: Long): DataFrame = src
      .filter(pmod(col("vec_id"), lit(math.max(1L, nSrc / 64))) === 0)
      .limit(64)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        sqrt(graft.functions.VectorExpressions
          .dotF32(col("embedding"), col("embedding"))).as("qn"))
      .localCheckpoint(true)
    val qDrift = queries(drifted, nDrift)
    val qHist = queries(hist, nHist)
    val k = 5
    // ground truth is scoped to the corpus the index HOLDS at probe
    // time: a hist query probed pre-drift can only ever recall hist
    // rows, so its baseline must be exact-over-hist, not exact-over-
    // everything (r13 review — on this margin fixture neighbors never
    // cross clusters so the distinction is belt-and-braces, but the
    // harness should not depend on that)
    def exact(q: DataFrame, corpus: DataFrame): Set[(Long, Long)] = {
      val ids = q.select("query_id").collect().map(_.getLong(0)).toSet
      graft.api.Graft.cosineTopK(corpus, "vec_id", "embedding",
          queryPred = col("vec_id").isin(ids.toSeq: _*), k = k)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    }
    val exHistPre = exact(qHist, hist)
    val (exDrift, exHist) = (exact(qDrift, emb), exact(qHist, emb))

    def probe(tag: String, q: DataFrame, truth: Set[(Long, Long)],
        quant: DataFrame, nProbe: Int): Unit = {
      val walls = (1 to 3).map { _ =>
        val t = System.nanoTime()
        val got = graft.ops.Vector.ivfProbeSearch(q,
            spark.table(idxTbl), quant, nProbe = nProbe, k = k)
          .select("query_id", "neighbor_id")
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        ((System.nanoTime() - t) / 1e9,
          (got & truth).size.toDouble / truth.size)
      }
      println(f"[drift] probe $tag nProbe=$nProbe " +
        f"wall=${walls.map(_._1).min}%.2f " +
        f"recall=${walls.head._2}%.3f")
    }

    ingestPhase("A-historical", hist, cents0)
    occupancy("post-A")
    for (np <- Seq(4, 16)) probe("hist pre-drift", qHist, exHistPre,
      cents0, np)

    ingestPhase("B-drifted(frozen)", drifted, cents0)
    occupancy("post-B-frozen")
    for (np <- Seq(4, 16)) {
      probe("hist  frozen", qHist, exHist, cents0, np)
      probe("drift frozen", qDrift, exDrift, cents0, np)
    }

    val tR = System.nanoTime()
    val stats = graft.api.Graft.retrainIndex(spark, idxTbl,
      "vec_id", "embedding")
    println(f"[drift] retrain wall=${(System.nanoTime() - tR) / 1e9}%.1f " +
      s"rows=${stats.rows} nlist=${stats.nlist} files=" +
      s"${stats.filesBefore}->${stats.filesAfter}")
    val cents1 = graft.api.Graft.loadQuantizer(spark, idxTbl).get
      .localCheckpoint(true)
    occupancy("post-retrain")
    for (np <- Seq(4, 16)) {
      probe("hist  retrained", qHist, exHist, cents1, np)
      probe("drift retrained", qDrift, exDrift, cents1, np)
    }

    spark.sql(s"DROP TABLE IF EXISTS $idxTbl")
    graft.ops.StreamingOps.deleteRecursively(new java.io.File(idxDir))
    spark.stop()
  }

  /** The AUTOPILOT arm: the same drift scenario, but nobody calls
    * retrainIndex — `bucketedIndexAppender(maintainEvery = 5)` must
    * notice and act on its own. The split is 40/60 (quantizer trained
    * on labels < 400) so the outgrown trigger (targetNlist ≥ 2×
    * quantizer lists) fires mid-way through the drifted ingest with a
    * robust margin, and the ticks after the retrain must take NO
    * action (outgrowth cleared, skew hysteresis holding) — the loop
    * settles instead of storming. saveQuantizer is deliberately never
    * called: the first tick self-heals the persistence. */
  private def driftAuto(dir: String): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.load(spark, dir, "embeddings").localCheckpoint(true)
    val hist = emb.filter(col("label") < 400)
    val drifted = emb.filter(col("label") >= 400)
    val (nHist, nDrift) = (hist.count(), drifted.count())
    val nlist0 = graft.api.Graft.deriveNlist(nHist)
    val cents0 = graft.api.Graft
      .kmeansCentroids(hist.filter(pmod(col("vec_id"), lit(math.max(1L,
          nHist / (nlist0.toLong * 128)))) === 0),
        "vec_id", "embedding", nlist0, iters = 2)
      .localCheckpoint(true)
    println(s"[driftauto] n=${nHist + nDrift} (hist=$nHist " +
      s"drift=$nDrift) nlist0=$nlist0 quantRows=${cents0.count()}")

    val buckets = 256
    val idxDir = java.nio.file.Files
      .createTempDirectory("svp-dauto-idx").toString
    val idxTbl = s"svp_dauto_${UUID.randomUUID().toString.take(8)}"
    createEmptyIndexTable(spark, s"$idxDir/t", idxTbl,
      buckets = buckets)

    val append = graft.api.Graft.bucketedIndexAppender(idxTbl, buckets,
      Some(cents0), "vec_id", "embedding", maintainEvery = 5)

    val qDrift = drifted
      .filter(pmod(col("vec_id"), lit(math.max(1L, nDrift / 64))) === 0)
      .limit(64)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        sqrt(graft.functions.VectorExpressions
          .dotF32(col("embedding"), col("embedding"))).as("qn"))
      .localCheckpoint(true)
    val qIds = qDrift.select("query_id").collect().map(_.getLong(0)).toSet
    val truth = graft.api.Graft.cosineTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id").isin(qIds.toSeq: _*), k = 5)
      .select("query_id", "neighbor_id")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

    // (quantLists, targetNlist, lastRecall) per tick — the fail-loud
    // requires below read these (r13 review: every sibling arm fails
    // loudly; a printed-only autopilot claim could rot silently)
    val ticks = scala.collection.mutable.ArrayBuffer[(Int, Int, Double)]()
    def report(afterBatch: Long): Unit = {
      val s = graft.api.Graft.indexStats(spark, idxTbl)
      val quant = graft.api.Graft.loadQuantizer(spark, idxTbl).get
      val t = System.nanoTime()
      val got = graft.ops.Vector.ivfProbeSearch(qDrift,
          spark.table(idxTbl), quant, nProbe = 16, k = 5)
        .select("query_id", "neighbor_id")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val wall = (System.nanoTime() - t) / 1e9
      // recall counted over queries already ingested (phase-B ticks
      // early in the drifted ingest have not indexed every query's
      // cluster yet — count hits against the truth rows present)
      val present = spark.table(idxTbl)
        .filter(col("vec_id").isin(truth.map(_._2).toSeq: _*))
        .select("vec_id").collect().map(_.getLong(0)).toSet
      val truthIn = truth.filter(p => present.contains(p._2))
      val rec = if (truthIn.isEmpty) -1.0
        else (got & truthIn).size.toDouble / truthIn.size
      println(f"[driftauto] tick after batch=$afterBatch " +
        f"rows=${s.rows} quantLists=${s.quantizerLists.getOrElse(-1)} " +
        f"targetNlist=${s.targetNlist} occMean=${s.occMean}%.0f " +
        f"occP99=${s.occP99} files=${s.dataFiles} " +
        f"probe=$wall%.2f recall_ingested=$rec%.3f")
      ticks += ((s.quantizerLists.getOrElse(-1), s.targetNlist, rec))
      // RDD-level release — Dataset.unpersist on a checkpointed frame
      // is a documented no-op (the r9 leak class)
      graft.ops.ListingCache.release(quant)
    }

    var id = 0L
    for (i <- 0 until 10) { // phase A: historical, 10 slices
      append(hist.filter(pmod(col("vec_id"), lit(10)) === i), id)
      if ((id + 1) % 5 == 0) report(id)
      id += 1
    }
    for (j <- 0 until 15) { // phase B: drifted, 15 slices
      append(drifted.filter(pmod(col("vec_id"), lit(15)) === j), id)
      if ((id + 1) % 5 == 0) report(id)
      id += 1
    }
    // fail-loud: the run's claims, require()'d. (1) the autopilot
    // actually retrained — the persisted quantizer widened past the
    // seed; (2) the loop SETTLED — the final width is not still
    // outgrown; (3) quality held — final-tick recall over ingested
    // truth is ~1.
    val q0 = cents0.count()
    require(ticks.nonEmpty && ticks.last._1 > q0,
      s"driftauto: no advice-driven retrain fired (quantizer stayed " +
        s"at $q0 lists): ${ticks.mkString(", ")}")
    require(ticks.last._2 < 2 * ticks.last._1,
      s"driftauto: loop did not settle — final targetNlist " +
        s"${ticks.last._2} still >= 2x quantizer ${ticks.last._1}")
    require(ticks.last._3 >= 0.95,
      s"driftauto: final recall ${ticks.last._3} < 0.95")
    spark.sql(s"DROP TABLE IF EXISTS $idxTbl")
    graft.ops.StreamingOps.deleteRecursively(new java.io.File(idxDir))
    spark.stop()
  }

  private def ingest(dir: String, batchSize: Int): Unit = {
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val nlist = graft.api.Graft.deriveNlist(n)
    // frozen quantizer: batch-trained on a bounded historical sample
    val t0 = System.nanoTime()
    val train = emb.filter(pmod(col("vec_id"), lit(math.max(1L,
      n / (nlist.toLong * 128)))) === 0)
    val cents = graft.api.Graft
      .kmeansCentroids(train, "vec_id", "embedding", nlist, iters = 2)
      .localCheckpoint(true)
    println(f"[ingest] quantizer train=${(System.nanoTime() - t0) / 1e9}%.1f " +
      s"n=$n nlist=$nlist batch=$batchSize")

    val topic = "projects/p/topics/svp-ingest"
    val ep = s"svpi-${UUID.randomUUID()}"
    EmbeddedBroker.get(ep).createTopic(topic)
    emb.select(col("vec_id"), col("embedding")).repartition(8)
      .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
        val b = EmbeddedBroker.get(ep)
        rows.grouped(5000).foreach { g =>
          b.publishBatch(topic, g.map { r =>
            (r.getSeq[Float](1).mkString(",").getBytes("UTF-8"),
              Map("vec_id" -> r.getLong(0).toString), "")
          })
        }
      }
    val sub = s"svpi-sub-${UUID.randomUUID().toString.take(8)}"
    EmbeddedBroker.get(ep).createSubscription(
      s"projects/p/subscriptions/$sub", topic, backfill = true)

    val idxDir = java.nio.file.Files
      .createTempDirectory("svp-ingest-idx").toString
    val idxTbl = s"svp_idx_${UUID.randomUUID().toString.take(8)}"
    createEmptyIndexTable(spark, s"$idxDir/t", idxTbl,
      buckets = 256)

    val walls = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Double, Long)]()
    val q = spark.readStream.format("pubsub")
      .option("project_id", "p")
      .option("subscription", sub)
      .option("endpoint", ep)
      .option("max_messages_per_trigger", batchSize.toString)
      .option("max_messages_per_partition", "50000")
      .option("dynamic_partitioning", "false")
      .option("ack_deadline_seconds", "600")
      .load()
      .selectExpr(
        "CAST(attributes['vec_id'] AS BIGINT) AS vec_id",
        "transform(split(CAST(data AS STRING), ','), " +
          "x -> CAST(x AS FLOAT)) AS embedding")
      .writeStream
      .foreachBatch { (batch: DataFrame, id: Long) =>
        val t = System.nanoTime()
        val assigned = graft.api.Graft
          .assignToCentroids(batch, "vec_id", "embedding", cents)
          .withColumn("nrm", sqrt(graft.functions.VectorExpressions
            .dotF32(col("embedding"), col("embedding"))))
          .select(col("vec_id"), col("embedding"), col("nrm"),
            col("list_id"))
        // repartition onto the bucket count BY the bucket column —
        // repartition(n, col)'s murmur3-pmod IS the bucketing hash, so
        // each task holds exactly one bucket and the append writes
        // <= buckets files. Without it the write emits one file per
        // (task x touched bucket): measured 991 files per 10k-row
        // append, 99,080 files after 100 appends, and a serving probe
        // 10x slower than the clean layout purely from file count.
        assigned.repartition(256, col("list_id")).write.mode("append")
          .bucketBy(256, "list_id").sortBy("list_id").saveAsTable(idxTbl)
        // batch size only (batch-sized work) — counting the accumulated
        // table here would add the O(index) scan the measurement exists
        // to rule out
        walls.add((id, (System.nanoTime() - t) / 1e9, batch.count()))
        ()
      }
      .option("checkpointLocation", java.nio.file.Files
        .createTempDirectory("svp-ingest-cp").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(3600000)
    import scala.jdk.CollectionConverters._
    val got = walls.asScala.toSeq.sortBy(_._1)
    var acc = 0L
    got.foreach { case (id, w, bn) =>
      acc += bn
      println(f"[ingest] batch=$id nq=$bn wall=$w%7.2f accumulated=$acc")
    }
    spark.catalog.refreshTable(idxTbl)
    val listed = spark.table(idxTbl)
    val nIndexed = listed.count()
    require(nIndexed == n,
      s"ingest drained $nIndexed of $n published vectors")
    // the ingested table serves queries immediately, no build step
    val t1 = System.nanoTime()
    val queries = listed.filter(col("vec_id") % 10000 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("nrm").as("qn"))
    val hits = graft.ops.Vector.ivfProbeSearch(queries, listed, cents,
        nProbe = 64, k = 5)
      .count()
    println(f"[ingest] post-drain probe rows=$hits " +
      f"wall=${(System.nanoTime() - t1) / 1e9}%.1f")
    // The serving shape: a SMALL query batch probes few lists, so the
    // pruned path (isin pushdown on the bucketed/sorted list_id) should
    // read only the probed buckets' row groups instead of scanning the
    // whole ingested table. A/B with identical-results require, 2 reps
    // each, pruned first so page-cache warm-up favors the full scan.
    val q8 = listed.filter(col("vec_id") % 125000 === 0)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("nrm").as("qn"))
      .localCheckpoint(true)
    def probe(prune: Boolean): (Double, Array[org.apache.spark.sql.Row]) = {
      val t = System.nanoTime()
      val rows = graft.ops.Vector.ivfProbeSearch(q8, listed, cents,
        nProbe = 16, k = 5, pruneLists = prune)
        .collect()
      ((System.nanoTime() - t) / 1e9, rows)
    }
    for (rep <- 1 to 2) {
      val (wp, rp) = probe(prune = true)
      val (wf, rf) = probe(prune = false)
      require(rp.toSeq == rf.toSeq,
        s"pruned probe diverged: ${rp.length} vs ${rf.length} rows")
      println(f"[ingest] serving probe rep=$rep n_q=${q8.count()} " +
        f"pruned=$wp%6.2f full=$wf%6.2f")
    }
    // Fragmentation: every append wrote its own bucket files, so the
    // table accrues nBatches·buckets files — the small-files wall a
    // long-running ingest stream hits. Compact through the first-class
    // API (in place, same catalog entry — the r12 hand-rolled rewrite
    // into a SECOND table is now [[graft.api.Graft.compactBucketedIndex]],
    // which also encodes the plain-parquet-read gotcha); A/B the
    // serving probe fragmented-then-compacted with identical-results
    // require.
    val (wFrag, rFrag) = probe(prune = true)
    val t2 = System.nanoTime()
    val stats = graft.api.Graft.compactBucketedIndex(spark, idxTbl)
    val compactWall = (System.nanoTime() - t2) / 1e9
    require(stats.rows == n,
      s"compaction changed the row count: ${stats.rows} of $n")
    val recompacted = spark.table(idxTbl)
    for (rep <- 1 to 2) {
      val t = System.nanoTime()
      val rows = graft.ops.Vector.ivfProbeSearch(q8, recompacted, cents,
        nProbe = 16, k = 5, pruneLists = true)
        .collect()
      val wc = (System.nanoTime() - t) / 1e9
      require(rows.toSeq == rFrag.toSeq, "compacted probe diverged")
      println(f"[ingest] compact rep=$rep " +
        f"files=${stats.filesBefore}->${stats.filesAfter} " +
        f"compactWall=$compactWall%6.1f frag=$wFrag%6.2f compacted=$wc%6.2f")
    }
    spark.sql(s"DROP TABLE IF EXISTS $idxTbl")
    spark.stop()
  }
}
