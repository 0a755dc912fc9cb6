package graft

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** Dev measurement tool for [[graft.api.Graft.deriveNlist]]'s √n regime
  * (not part of the library surface; SCALE.md cites its numbers): wall
  * and pooled recall for the derived-nlist index family at a
  * vectors-only slice (ScaleDataGen's `embeddings` mode), across the
  * 2.56M-vector crossover where the 4·√n cap starts binding.
  *
  * Usage: VecProbe [dir] [arms]
  *   arms ⊆ s04d,s11,s12,mq,mqx (comma-separated; default the first
  *   three — the √n-regime arms)
  *
  *  - s04d: trained IVF at DERIVED nlist (the gate's s04 pins nlist=10
  *    as a fixture; this arm is what a corpus-sized deployment runs) —
  *    build (sampled Lloyd + one full-corpus kernel assignment) timed
  *    separately from the probe+rerank search.
  *  - s11: ivfPqTopK with the ivfpqListing derivation (nlist from
  *    deriveNlist, 40%-of-lists probes, n/10 shortlist).
  *  - s12: annKnnJoin over the full slice; recall measured on the
  *    fixture query ids (replica 0 keeps original ids).
  *  - mq: the MANY-QUERY regime (r10 verdict item 2) — ONE ivfPqBuild,
  *    then ivfPqSearch batches of growing n_q drawn evenly across
  *    replicas, spanning the broadcastQueries=4096 regime switch; the
  *    committed walls all use the 8-query fixture, this arm measures
  *    whether per-query cost stays flat when a SemDeDup-neighborhood /
  *    batched-retrieval workload probes 10⁴–10⁵ queries.
  *  - mqx: the exact + flat-scan controls for mq (cosineTopK, sqTopK)
  *    at small n_q — their per-query cost is O(corpus) by construction,
  *    the number the indexed path's flat line is read against.
  *
  * Recall convention: pooled hits vs the exact cosine top-K for
  * `vec_id < 8` (the s07 contract's query set), K = 5; the mq batches
  * draw queries as `pmod(vec_id, 10⁷) < perReplica`, so the replica-0
  * ids < 8 ride every batch and recall is measured on whichever of the
  * 8 are present. */
object VecProbe {
  private val K = 5
  private val NQueries = 8

  def main(args: Array[String]): Unit = {
    val dir = args.headOption.getOrElse("target/vec1m")
    val arms =
      if (args.length > 1) args(1).split(",").toSeq
      else Seq("s04d", "s11", "s12")
    val spark = SparkSession.builder().master("local[32]")
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.ui.enabled", "false").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    import spark.implicits._

    val emb = Tables.load(spark, dir, "embeddings")
    val n = emb.count()
    val nlist = graft.api.Graft.deriveNlist(n)
    println(s"n=$n nlist=$nlist sqrt_capped=${nlist < n / 400}")

    val exact = graft.api.Graft
      .cosineTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < NQueries, k = K)
      .select(col("query_id"), col("neighbor_id"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    println(s"n_exact=${exact.size}")

    def recallOf(listing: org.apache.spark.sql.DataFrame): Double = {
      val approx = listing
        .filter(col("query_id") < NQueries)
        .select(col("query_id"), col("neighbor_id"))
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      (approx & exact).size.toDouble / exact.size
    }

    for (arm <- arms) arm match {
      case "s04u" =>
        // CONTROL: the fixed-occupancy derivation with the √n cap
        // removed (what deriveNlist would do past the crossover if the
        // r8 cap didn't exist) — same build pipeline as s04d, so the
        // same-session wall difference isolates the cap's effect.
        val nlistU = math.max(1L, n / 400).toInt
        val t0 = System.nanoTime()
        val cap = nlistU.toLong * 128
        val train =
          if (n <= cap) emb
          else emb.filter(expr(
            "pmod(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8)," +
              " 16, 10), 1000000) < " +
              s"${math.max(1L, cap * 1000000L / n)}"))
        val cents = graft.api.Graft
          .kmeansCentroids(train, "vec_id", "embedding", nlistU, iters = 2)
          .localCheckpoint(true)
        val assigned = graft.api.Graft
          .assignToCentroids(emb, "vec_id", "embedding", cents)
          .select(col("vec_id"), col("list_id"))
          .localCheckpoint(true)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val nrm = graft.api.Graft.normalized(emb, "vec_id", "embedding")
        val q = nrm.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qe"), col("nrm").as("qn"))
        val nProbe = math.max(2, math.ceil(nlistU * 0.4).toInt)
        val listing = graft.ops.Vector.ivfProbeSearch(
          q, nrm.join(assigned, "vec_id"), cents, nProbe, K)
        val r = recallOf(listing)
        val tSearch = (System.nanoTime() - t1) / 1e9
        println(f"s04u build=$tBuild%.1f search=$tSearch%.1f " +
          f"recall=$r%.3f nlist_uncapped=$nlistU")
        cents.unpersist(); assigned.unpersist()
      case "s04d" =>
        // the ivfPqTopK build discipline at derived nlist, minus PQ:
        // sampled Lloyd training, one full-corpus kernel assignment
        val t0 = System.nanoTime()
        val cap = nlist.toLong * 128
        val train =
          if (n <= cap) emb
          else emb.filter(expr(
            "pmod(conv(substring(md5(CAST(vec_id AS STRING)), 1, 8)," +
              " 16, 10), 1000000) < " +
              s"${math.max(1L, cap * 1000000L / n)}"))
        val cents = graft.api.Graft
          .kmeansCentroids(train, "vec_id", "embedding", nlist, iters = 2)
          .localCheckpoint(true)
        val assigned = graft.api.Graft
          .assignToCentroids(emb, "vec_id", "embedding", cents)
          .select(col("vec_id"), col("list_id"))
          .localCheckpoint(true)
        val tBuild = (System.nanoTime() - t0) / 1e9
        val t1 = System.nanoTime()
        val nrm = graft.api.Graft.normalized(emb, "vec_id", "embedding")
        val q = nrm.filter(col("vec_id") < NQueries)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qe"), col("nrm").as("qn"))
        val nProbe = math.max(2, math.ceil(nlist * 0.4).toInt)
        val listing = graft.ops.Vector.ivfProbeSearch(
          q, nrm.join(assigned, "vec_id"), cents, nProbe, K)
        val r = recallOf(listing)
        val tSearch = (System.nanoTime() - t1) / 1e9
        println(f"s04d build=$tBuild%.1f search=$tSearch%.1f " +
          f"recall=$r%.3f nProbe=$nProbe")
        cents.unpersist(); assigned.unpersist()
      case "s11" =>
        val t0 = System.nanoTime()
        val nProbe = math.max(2, math.ceil(nlist * 0.4).toInt)
        val shortlist = math.max(50L, n / 10).toInt
        val listing = graft.api.Graft.ivfPqTopK(emb, "vec_id",
          "embedding", queryPred = col("vec_id") < NQueries, k = K,
          dim = 64, nlist = nlist, nProbe = nProbe, shortlist = shortlist)
        val r = recallOf(listing)
        println(f"s11  wall=${(System.nanoTime() - t0) / 1e9}%.1f " +
          f"recall=$r%.3f nProbe=$nProbe shortlist=$shortlist")
      case "s12" =>
        val t0 = System.nanoTime()
        val listing = graft.api.Graft
          .annKnnJoin(emb, "vec_id", "embedding", k = K)
        val r = recallOf(listing
          .select(col("query_id"), col("neighbor_id")))
        println(f"s12  wall=${(System.nanoTime() - t0) / 1e9}%.1f " +
          f"recall=$r%.3f")
      case "mq" =>
        // Deployment probe count, NOT the fixture's 40%-of-lists: a
        // many-query batch pins a small absolute nProbe (the Faiss
        // convention); recall here rides the slice's replica-cluster
        // structure, the contract recall lives in s07.
        val nProbe = 64
        val shortlist = 256
        val t0 = System.nanoTime()
        val built = graft.api.Graft.ivfPqBuild(emb, "vec_id",
          "embedding", dim = 64, nlist = nlist)
        // Materialize the amortizable state once — the long-lived-index
        // deployment shape ivfPqBuild/Search exists for.
        val index = built.copy(
          cents = built.cents.localCheckpoint(true),
          enc = built.enc.localCheckpoint(true))
        println(f"mq build=${(System.nanoTime() - t0) / 1e9}%.1f " +
          s"nlist=$nlist nProbe=$nProbe shortlist=$shortlist " +
          s"(probe kernel engaged: ${nlist > 1024})")
        val IdStride = 10000000L
        // (label, per-replica id cut): n_q = 500·perRep on a
        // factor-500 slice, except the 8-query fixture baseline.
        val batches = Seq(
          ("8", col("vec_id") < 8),
          ("1k", pmod(col("vec_id"), lit(IdStride)) < 2),
          ("8k", pmod(col("vec_id"), lit(IdStride)) < 16),
          ("64k", pmod(col("vec_id"), lit(IdStride)) < 128))
        for ((label, pred) <- batches) {
          val q = emb.filter(pred)
            .select(col("vec_id").as("query_id"), col("embedding"))
          val t1 = System.nanoTime()
          val listing = graft.api.Graft.ivfPqSearch(index, q,
            "query_id", "embedding", emb, "embedding", k = K,
            nProbe = nProbe, shortlist = shortlist)
            .localCheckpoint(true)
          val wall = (System.nanoTime() - t1) / 1e9
          val nq = listing.select("query_id").distinct().count()
          val ap = listing.filter(col("query_id") < NQueries)
            .select(col("query_id"), col("neighbor_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          val qids = ap.map(_._1)
          val ex = exact.filter(p => qids.contains(p._1))
          val r = if (ex.isEmpty) Double.NaN
            else (ap & ex).size.toDouble / ex.size
          println(f"mq nq=$label%-3s wall=$wall%7.1f " +
            f"perq_ms=${wall * 1000 / math.max(1L, nq)}%8.2f " +
            f"n_q=$nq recall=$r%.3f")
          listing.unpersist()
        }
        index.cents.unpersist(); index.enc.unpersist()
      case "ivfsqm" =>
        // r14 (verdict item 3): IVF-SQ8 vs the flat SQ8 scan on the
        // margin slice — recall@5 over a 64-query sample at nProbe in
        // {16, 64, 256}, shortlist DERIVED (the occupancy rule, now the
        // default), against s13's flat scan at the same derived
        // shortlist. The claim to verify: the router buys the SQ
        // family sub-linear candidates at recall >= the flat scan's.
        val qPred = col("vec_id") < 64
        val t0 = System.nanoTime()
        val exact64 = graft.api.Graft
          .cosineTopK(emb, "vec_id", "embedding", queryPred = qPred,
            k = K)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(f"ivfsqm exact64 wall=" +
          f"${(System.nanoTime() - t0) / 1e9}%.1f n=${exact64.size}")
        def recall64(listing: org.apache.spark.sql.DataFrame): Double = {
          val ap = listing.filter(col("query_id") < 64)
            .select(col("query_id"), col("neighbor_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          (ap & exact64).size.toDouble / exact64.size
        }
        val tB = System.nanoTime()
        val built = graft.api.Graft.ivfSqBuild(emb, "vec_id",
          "embedding")
        val index = built.copy(
          cents = built.cents.localCheckpoint(true),
          enc = built.enc.localCheckpoint(true))
        val derived = graft.api.Graft.deriveShortlist(n, index.nlist)
        println(f"ivfsqm build wall=" +
          f"${(System.nanoTime() - tB) / 1e9}%.1f nlist=${index.nlist} " +
          s"derived_shortlist=$derived")
        val q64 = emb.filter(qPred)
          .select(col("vec_id").as("query_id"), col("embedding"))
        for (nProbe <- Seq(16, 64, 256)) {
          val walls = (1 to 2).map { _ =>
            val t1 = System.nanoTime()
            val listing = graft.api.Graft.ivfSqSearch(index, q64,
              "query_id", "embedding", emb, "embedding", k = K,
              nProbe = nProbe).localCheckpoint(true)
            val r = recall64(listing)
            listing.unpersist()
            ((System.nanoTime() - t1) / 1e9, r)
          }
          println(f"ivfsqm s16 nProbe=$nProbe%-4d " +
            f"probe_pct=${100.0 * nProbe / index.nlist}%5.2f " +
            f"wall=${walls.map(_._1).min}%6.1f " +
            f"recall=${walls.head._2}%.3f")
        }
        // ListingCache.release, not unpersist: unpersist is the
        // documented no-op on localCheckpointed frames (the r13 ADVICE
        // class) — at the 5M slice the pinned codes would otherwise
        // stay resident through every later arm
        graft.ops.ListingCache.release(index.cents)
        graft.ops.ListingCache.release(index.enc)
        // flat-scan control at the SAME derived shortlist
        val t2 = System.nanoTime()
        val sq = graft.api.Graft.sqTopK(emb, "vec_id", "embedding",
          queryPred = qPred, k = K, shortlist = derived)
        println(f"ivfsqm s13 shortlist=$derived " +
          f"wall=${(System.nanoTime() - t2) / 1e9}%6.1f " +
          f"recall=${recall64(sq)}%.3f")

      case "knnprobes" =>
        // r14 (verdict item 2): annKnnJoin at the DERIVED probe width
        // (deriveProbes' cluster-span rule, now the default) on the
        // margin slice — the 5M-decade configuration that read 0.706
        // at the old fixed probes = 4. Recall@5 on a 64-query sample.
        val qPred = col("vec_id") < 64
        val exact64 = graft.api.Graft
          .cosineTopK(emb, "vec_id", "embedding", queryPred = qPred,
            k = K)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        val derivedP = graft.api.Graft.deriveProbes(nlist)
        println(s"knnprobes nlist=$nlist derived_probes=$derivedP " +
          s"n_exact=${exact64.size}")
        val t1 = System.nanoTime()
        val knn = graft.api.Graft.annKnnJoin(emb, "vec_id", "embedding",
          k = K)
        val ap = knn.filter(col("query_id") < 64)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(f"knnprobes s12 wall=" +
          f"${(System.nanoTime() - t1) / 1e9}%6.1f " +
          f"recall=${(ap & exact64).size.toDouble / exact64.size}%.3f")

      case "pqdrift" =>
        // r14 (verdict item 1): the r13 retrainIndex drift protocol on
        // the SAVED IVF-PQ layout. Train-era = labels < 500; the
        // drifted half ingests through ivfPqAppend (frozen quantizer +
        // frozen codebooks — a distribution the trained state never
        // saw); ivfPqIndexStats + maintenanceAdvice must read the
        // outgrowth; one advice-driven ivfPqRetrain (rebuild + swap)
        // restores. Recall measured for drifted vs historical query
        // slices at each stage, UNFILTERED and FILTERED (payload
        // predicate label % 2 = 0 — the filtered-retrieval arm the
        // verdict names), probes through the pruneLists serving path.
        require(emb.columns.contains("label"),
          "pqdrift needs the margin slice (label = cluster id)")
        val hist = emb.filter(col("label") < 500)
        val drifted = emb.filter(col("label") >= 500)
        val (nHist, nDrift) = (hist.count(), drifted.count())
        val nlist0 = graft.api.Graft.deriveNlist(nHist)
        val idxDir = java.nio.file.Files
          .createTempDirectory("vp-pqdrift").toString + "/idx"
        val tB = System.nanoTime()
        graft.api.Graft.ivfPqSave(
          graft.api.Graft.ivfPqBuild(hist, "vec_id", "embedding",
            dim = 64, nlist = nlist0, m = 8, ksub = 16,
            payload = Seq("label")),
          idxDir, buckets = 256)
        println(f"pqdrift build+save wall=" +
          f"${(System.nanoTime() - tB) / 1e9}%.1f " +
          s"n_hist=$nHist n_drift=$nDrift nlist0=$nlist0")
        def queries(src: org.apache.spark.sql.DataFrame, nSrc: Long)
            : org.apache.spark.sql.DataFrame = src
          .filter(pmod(col("vec_id"), lit(math.max(1L, nSrc / 64))) === 0)
          .limit(64)
          .select(col("vec_id").as("query_id"), col("embedding"))
          .localCheckpoint(true)
        val qHist = queries(hist, nHist)
        val qDrift = queries(drifted, nDrift)
        def exactOf(q: org.apache.spark.sql.DataFrame,
            corpus: org.apache.spark.sql.DataFrame): Set[(Long, Long)] = {
          val ids = q.select("query_id").collect().map(_.getLong(0)).toSet
          graft.api.Graft.cosineTopK(corpus, "vec_id", "embedding",
              queryPred = col("vec_id").isin(ids.toSeq: _*), k = K)
            .select("query_id", "neighbor_id")
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        }
        // ground truth scoped to the corpus the index holds at probe
        // time (hist-only pre-drift), and to the FILTER for the
        // filtered arm
        val exHistPre = exactOf(qHist, hist)
        val exHist = exactOf(qHist, emb)
        val exDrift = exactOf(qDrift, emb)
        val exHistF = exactOf(qHist, emb.filter(col("label") % 2 === 0))
        val exDriftF = exactOf(qDrift, emb.filter(col("label") % 2 === 0))
        def probe(tag: String, q: org.apache.spark.sql.DataFrame,
            truth: Set[(Long, Long)], nProbe: Int,
            filt: Option[org.apache.spark.sql.Column]): Unit = {
          val idx = graft.api.Graft.ivfPqLoad(spark, idxDir)
          val walls = (1 to 2).map { _ =>
            val t = System.nanoTime()
            val got = graft.api.Graft.ivfPqSearch(idx, q, "query_id",
                "embedding", emb, "embedding", k = K, nProbe = nProbe,
                pruneLists = true, filter = filt)
              .select("query_id", "neighbor_id")
              .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
            ((System.nanoTime() - t) / 1e9,
              (got & truth).size.toDouble / truth.size)
          }
          println(f"pqdrift probe $tag nProbe=$nProbe " +
            f"wall=${walls.map(_._1).min}%.2f " +
            f"recall=${walls.head._2}%.3f")
        }
        def stage(tag: String): Unit = {
          val s1 = graft.api.Graft.ivfPqIndexStats(spark, idxDir)
          val adv = graft.api.Graft.maintenanceAdvice(s1)
          println(f"pqdrift stats $tag rows=${s1.rows} " +
            f"lists=${s1.lists} mean=${s1.occMean}%.0f p99=${s1.occP99} " +
            s"files=${s1.dataFiles} target=${s1.targetNlist} " +
            s"quant=${s1.quantizerLists.getOrElse(-1)} " +
            s"advice=[compact=${adv.compact} outgrown=${adv.outgrown} " +
            s"skewed=${adv.skewed}]")
        }
        stage("post-build")
        for (np <- Seq(4, 16)) probe("hist pre-drift ", qHist,
          exHistPre, np, None)
        // drifted ingest in 10 frozen appends (the batch cadence)
        val tI = System.nanoTime()
        (0 until 10).foreach { i =>
          graft.api.Graft.ivfPqAppend(spark, idxDir,
            drifted.filter(pmod(col("vec_id"), lit(10)) === i),
            "embedding")
        }
        println(f"pqdrift ingest wall=" +
          f"${(System.nanoTime() - tI) / 1e9}%.1f (10 appends)")
        stage("post-drift-frozen")
        for (np <- Seq(4, 16)) {
          probe("hist  frozen   ", qHist, exHist, np, None)
          probe("drift frozen   ", qDrift, exDrift, np, None)
          probe("driftF frozen  ", qDrift, exDriftF, np,
            Some(col("label") % 2 === 0))
        }
        val tR = System.nanoTime()
        val rt = graft.api.Graft.ivfPqRetrain(spark, idxDir, emb,
          "embedding")
        println(f"pqdrift retrain wall=" +
          f"${(System.nanoTime() - tR) / 1e9}%.1f rows=${rt.rows} " +
          s"nlist=${rt.nlistBefore}->${rt.nlistAfter} " +
          s"files=${rt.filesBefore}->${rt.filesAfter}")
        stage("post-retrain")
        for (np <- Seq(4, 16)) {
          probe("hist  retrained", qHist, exHist, np, None)
          probe("drift retrained", qDrift, exDrift, np, None)
          probe("driftF retrained", qDrift, exDriftF, np,
            Some(col("label") % 2 === 0))
        }
        graft.ops.ListingCache.release(qHist)
        graft.ops.ListingCache.release(qDrift)
        graft.ops.StreamingOps.deleteRecursively(
          new java.io.File(idxDir).getParentFile)

      case "pqserve" =>
        // r14: serving THROUGH a live ivfPqRetrain on the saved layout
        // — the generational-publish claim, measured (the mixedm
        // protocol brought to saved dirs). A probe thread runs batch
        // after batch, each batch loading the index fresh (the serving
        // convention) AND re-probing a HELD pre-retrain index (the
        // grace-generation claim); a retrain of the whole corpus fires
        // mid-run. Every batch must return full k-per-query results —
        // count the failures instead of crashing so the measurement
        // reports the true collision rate.
        val dirIdx = java.nio.file.Files
          .createTempDirectory("vp-pqserve").toString + "/idx"
        val tB2 = System.nanoTime()
        graft.api.Graft.ivfPqSave(
          graft.api.Graft.ivfPqBuild(emb, "vec_id", "embedding",
            dim = 64, nlist = nlist, m = 8, ksub = 16),
          dirIdx, buckets = 256)
        println(f"pqserve build+save wall=" +
          f"${(System.nanoTime() - tB2) / 1e9}%.1f nlist=$nlist")
        val qServe = emb.filter(col("vec_id") < 32)
          .select(col("vec_id").as("query_id"), col("embedding"))
          .localCheckpoint(true)
        val held = graft.api.Graft.ivfPqLoad(spark, dirIdx)
        // by-name: the LOAD races the pointer swap too — it must be
        // inside the try, or the exact collision this arm measures
        // crashes the measurement instead of counting (r14 review)
        def probeOnce(idx: => graft.api.Graft.IvfPqIndex): (Boolean, Double) =
          try {
            val t = System.nanoTime()
            val got = graft.api.Graft.ivfPqSearch(idx, qServe,
                "query_id", "embedding", emb, "embedding", k = K,
                nProbe = 16, pruneLists = true)
              .groupBy("query_id").count().collect()
            ((System.nanoTime() - t) / 1e9,
              got.length == 32 && got.forall(_.getLong(1) == K)) match {
              case (w, ok) => (ok, w)
            }
          } catch { case e: Throwable =>
            println(s"pqserve probe FAILED: ${e.getMessage.take(120)}")
            (false, -1.0)
          }
        val retrainer = new Thread(() => {
          Thread.sleep(3000)
          val t = System.nanoTime()
          val rt = graft.api.Graft.ivfPqRetrain(spark, dirIdx, emb,
            "embedding")
          println(f"pqserve retrain wall=" +
            f"${(System.nanoTime() - t) / 1e9}%.1f " +
            s"nlist=${rt.nlistBefore}->${rt.nlistAfter}")
        })
        retrainer.start()
        var okFresh = 0; var okHeld = 0; var nB = 0
        val deadline = System.nanoTime() + 45L * 1000000000L
        while (System.nanoTime() < deadline &&
            (retrainer.isAlive || nB < 8)) {
          val (fOk, fW) = probeOnce(graft.api.Graft.ivfPqLoad(spark,
            dirIdx))
          val (hOk, hW) = probeOnce(held)
          if (fOk) okFresh += 1
          if (hOk) okHeld += 1
          nB += 1
          println(f"pqserve batch=$nB fresh_ok=$fOk wall=$fW%.2f " +
            f"held_ok=$hOk wall=$hW%.2f " +
            s"retraining=${retrainer.isAlive}")
        }
        retrainer.join()
        println(s"pqserve done batches=$nB fresh_ok=$okFresh/" +
          s"$nB held_ok=$okHeld/$nB")
        graft.ops.ListingCache.release(qServe)
        graft.ops.StreamingOps.deleteRecursively(
          new java.io.File(dirIdx).getParentFile)

      case "recallm" =>
        // Margin-slice recall sweep (r11 verdict item 2): deployment
        // probe fractions on data with real cluster structure
        // (ScaleDataGen `margin` mode), against the exact top-K of a
        // 64-query sample. The replicated slices' mq recall of 0.375
        // was adjudicated as the jittered-replica tie lottery — this
        // arm verifies that adjudication by construction: if recall at
        // ~2.6% probes stays below 0.9 HERE, it is a real quality bug,
        // not the fixture.
        val qPred = col("vec_id") < 64
        val t0 = System.nanoTime()
        val exact64 = graft.api.Graft
          .cosineTopK(emb, "vec_id", "embedding", queryPred = qPred,
            k = K)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(f"recallm exact64 wall=" +
          f"${(System.nanoTime() - t0) / 1e9}%.1f n=${exact64.size}")
        def recall64(listing: org.apache.spark.sql.DataFrame): Double = {
          val ap = listing.filter(col("query_id") < 64)
            .select(col("query_id"), col("neighbor_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          (ap & exact64).size.toDouble / exact64.size
        }
        val shortlist =
          sys.env.getOrElse("SPARK_GRAFT_RECALLM_SHORTLIST", "256").toInt
        val pqM = sys.env.getOrElse("SPARK_GRAFT_RECALLM_M", "8").toInt
        val pqKsub = sys.env.getOrElse("SPARK_GRAFT_RECALLM_KSUB", "16").toInt
        val tB = System.nanoTime()
        val built = graft.api.Graft.ivfPqBuild(emb, "vec_id",
          "embedding", dim = 64, nlist = nlist, m = pqM, ksub = pqKsub)
        val index = built.copy(
          cents = built.cents.localCheckpoint(true),
          enc = built.enc.localCheckpoint(true))
        println(f"recallm s11-build wall=" +
          f"${(System.nanoTime() - tB) / 1e9}%.1f nlist=$nlist " +
          s"m=$pqM ksub=$pqKsub shortlist=$shortlist")
        val q64 = emb.filter(qPred)
          .select(col("vec_id").as("query_id"), col("embedding"))
        for (nProbe <- Seq(16, 64, 256)) {
          val t1 = System.nanoTime()
          val listing = graft.api.Graft.ivfPqSearch(index, q64,
            "query_id", "embedding", emb, "embedding", k = K,
            nProbe = nProbe, shortlist = shortlist)
            .localCheckpoint(true)
          val r = recall64(listing)
          println(f"recallm s11 nProbe=$nProbe%-4d " +
            f"probe_pct=${100.0 * nProbe / nlist}%5.2f " +
            f"wall=${(System.nanoTime() - t1) / 1e9}%6.1f recall=$r%.3f")
          listing.unpersist()
        }
        graft.ops.ListingCache.release(index.cents)
        graft.ops.ListingCache.release(index.enc)
        val t2 = System.nanoTime()
        val sq = graft.api.Graft.sqTopK(emb, "vec_id", "embedding",
          queryPred = qPred, k = K, shortlist = shortlist)
        println(f"recallm s13 shortlist=$shortlist " +
          f"wall=${(System.nanoTime() - t2) / 1e9}%6.1f " +
          f"recall=${recall64(sq)}%.3f")
        val t3 = System.nanoTime()
        val knn = graft.api.Graft.annKnnJoin(emb, "vec_id", "embedding",
          k = K)
        println(f"recallm s12 wall=" +
          f"${(System.nanoTime() - t3) / 1e9}%6.1f " +
          f"recall=${recall64(knn)}%.3f")
      case "recallx" =>
        // r12 verdict item 5: margin-slice recall for the REMAINING
        // ANN arms — s03 (label IVF), s04 (trained IVF), s02 (LSH) —
        // the indexes p16/p17 actually serve. The recallm sweep
        // covered s11/s12/s13; the plain-IVF arms' recall at
        // deployment probe fractions was inferred, not measured.
        // Same convention as recallm: recall@5 over a 64-query sample
        // vs the exact cosine top-K, on margin data (real cluster
        // structure, 1000 centers).
        val qPred = col("vec_id") < 64
        val t0 = System.nanoTime()
        val exact64 = graft.api.Graft
          .cosineTopK(emb, "vec_id", "embedding", queryPred = qPred,
            k = K)
          .select(col("query_id"), col("neighbor_id"))
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
        println(f"recallx exact64 wall=" +
          f"${(System.nanoTime() - t0) / 1e9}%.1f n=${exact64.size}")
        def recall64(listing: org.apache.spark.sql.DataFrame): Double = {
          val ap = listing.filter(col("query_id") < 64)
            .select(col("query_id"), col("neighbor_id"))
            .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
          (ap & exact64).size.toDouble / exact64.size
        }
        val normed = graft.api.Graft
          .normalized(emb, "vec_id", "embedding").localCheckpoint(true)
        val q64 = normed.filter(qPred)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qe"), col("nrm").as("qn"))
          .localCheckpoint(true)

        // s03: the label column IS the coarse quantizer (margin data's
        // labels are the true generating clusters — the BEST case for
        // label IVF; a deployment with noisy labels sits below this).
        val cents03 = graft.ops.Vector.labelCentroids(emb)
          .localCheckpoint(true)
        val nlist03 = cents03.count().toInt
        val listed03 = normed
          .join(emb.select(col("vec_id"), col("label").as("list_id")),
            "vec_id")
          .localCheckpoint(true)
        for (nProbe <- Seq(16, 64, 256)) {
          val t1 = System.nanoTime()
          val r = recall64(graft.ops.Vector.ivfProbeSearch(q64, listed03,
            cents03, nProbe, K))
          println(f"recallx s03 nlist=$nlist03 nProbe=$nProbe%-4d " +
            f"probe_pct=${100.0 * nProbe / nlist03}%5.2f " +
            f"wall=${(System.nanoTime() - t1) / 1e9}%6.1f recall=$r%.3f")
        }

        // s04: trained quantizer at the deriveNlist deployment
        // occupancy (what p17's frozen quantizer is built with).
        val nlist04 = graft.api.Graft.deriveNlist(n)
        val tB = System.nanoTime()
        val cents04 = graft.api.Graft.kmeansCentroids(emb, "vec_id",
          "embedding", nlist = nlist04, iters = 2).localCheckpoint(true)
        val listed04 = normed
          .join(graft.api.Graft.assignToCentroids(emb, "vec_id",
              "embedding", cents04)
              .select(col("vec_id"), col("list_id")), "vec_id")
          .localCheckpoint(true)
        println(f"recallx s04-build wall=" +
          f"${(System.nanoTime() - tB) / 1e9}%.1f nlist=$nlist04")
        for (nProbe <- Seq(16, 64, 256)) {
          val t1 = System.nanoTime()
          val r = recall64(graft.ops.Vector.ivfProbeSearch(q64, listed04,
            cents04, nProbe, K))
          println(f"recallx s04 nlist=$nlist04 nProbe=$nProbe%-4d " +
            f"probe_pct=${100.0 * nProbe / nlist04}%5.2f " +
            f"wall=${(System.nanoTime() - t1) / 1e9}%6.1f recall=$r%.3f")
        }

        // s02: LSH at the DERIVED deployment params (occupancy 8 →
        // 16 bits × 64 tables at 1M, full hamming-1 multiprobe), plus
        // coarser occupancies as the recall-vs-cost sweep axis (the
        // LSH analog of the nProbe axis: more rows per bucket = more
        // candidates = higher recall, more rerank work).
        for (occ <- Seq(8, 64, 512)) {
          val t1 = System.nanoTime()
          val r = recall64(graft.api.Graft.annLshTopK(emb, "vec_id",
            "embedding", queryPred = qPred, k = K,
            p0 = graft.api.Graft.LshParams(targetOccupancy = occ)))
          println(f"recallx s02 occupancy=$occ%-4d " +
            f"wall=${(System.nanoTime() - t1) / 1e9}%6.1f recall=$r%.3f")
        }

      case "sqab" =>
        // ORDER-SWAPPED A/B for the sqTopK session cache (r12): mqx
        // runs per-call BEFORE the warm control, so JIT/page-cache
        // warm-up rides entirely on the per-call readings. Here the
        // control goes FIRST and each shape runs twice — compare the
        // SECOND readings of each (both fully warm).
        val pred64 = col("vec_id") < 64
        val tE = System.nanoTime()
        val encoded = graft.api.Graft
          .sq8Encode(emb, "vec_id", "embedding").localCheckpoint(true)
        println(f"sqab encode-once wall=" +
          f"${(System.nanoTime() - tE) / 1e9}%.1f")
        for (rep <- 1 to 2) {
          val t = System.nanoTime()
          val n = graft.api.Graft.sqTopKFromEncoded(encoded, "vec_id",
            "embedding", queryPred = pred64, k = K, shortlist = 256)
            .select("query_id").distinct().count()
          println(f"sqab warm    rep$rep nq=$n%-3d " +
            f"wall=${(System.nanoTime() - t) / 1e9}%6.1f")
        }
        encoded.unpersist()
        for (rep <- 1 to 2) {
          val t = System.nanoTime()
          val n = graft.api.Graft.sqTopK(emb, "vec_id", "embedding",
            queryPred = pred64, k = K, shortlist = 256)
            .select("query_id").distinct().count()
          println(f"sqab percall rep$rep nq=$n%-3d " +
            f"wall=${(System.nanoTime() - t) / 1e9}%6.1f " +
            s"enc_builds=${graft.ops.ListingCache.builds.get()}")
        }
      case "mqx" =>
        // Exact + SQ8 flat-scan controls: per-query cost is O(corpus)
        // in both (every query scores every row; SQ8 just reads the
        // 4x-smaller int8 column before its rerank). Small n_q only:
        // the candidate set is n_q·corpus rows BY DESIGN — a 500-query
        // exact batch at 1M vectors spilled >80 GB through the global
        // top-k sort (measured, this host), which is the point the
        // indexed path exists to make.
        val ctl = Seq(
          ("8", col("vec_id") < 8),
          ("64", col("vec_id") < 64))
        for ((label, pred) <- ctl) {
          val t1 = System.nanoTime()
          val ex1 = graft.api.Graft.cosineTopK(emb, "vec_id",
            "embedding", queryPred = pred, k = K)
          val n1 = ex1.select("query_id").distinct().count()
          val w1 = (System.nanoTime() - t1) / 1e9
          println(f"mqx exact nq=$label%-4s wall=$w1%7.1f " +
            f"perq_ms=${w1 * 1000 / math.max(1L, n1)}%8.2f")
          val t2 = System.nanoTime()
          val sq = graft.api.Graft.sqTopK(emb, "vec_id", "embedding",
            queryPred = pred, k = K, shortlist = 256)
          val n2 = sq.select("query_id").distinct().count()
          val w2 = (System.nanoTime() - t2) / 1e9
          println(f"mqx sq8   nq=$label%-4s wall=$w2%7.1f " +
            f"perq_ms=${w2 * 1000 / math.max(1L, n2)}%8.2f " +
            s"enc_builds=${graft.ops.ListingCache.builds.get()}")
        }
        // The stored-codes deployment shape: pay sq8Encode once, then
        // sqTopKFromEncoded per batch — the amortized per-query scan
        // cost next to sqTopK's encode-per-call walls above.
        val tE = System.nanoTime()
        val encoded = graft.api.Graft
          .sq8Encode(emb, "vec_id", "embedding").localCheckpoint(true)
        println(f"mqx sq8-encode-once wall=" +
          f"${(System.nanoTime() - tE) / 1e9}%.1f")
        for ((label, pred) <- ctl) {
          val t3 = System.nanoTime()
          val sq = graft.api.Graft.sqTopKFromEncoded(encoded, "vec_id",
            "embedding", queryPred = pred, k = K, shortlist = 256)
          val n3 = sq.select("query_id").distinct().count()
          val w3 = (System.nanoTime() - t3) / 1e9
          println(f"mqx sq8-enc nq=$label%-3s wall=$w3%7.1f " +
            f"perq_ms=${w3 * 1000 / math.max(1L, n3)}%8.2f")
        }
        encoded.unpersist()
      case other => println(s"unknown arm: $other")
    }
    spark.stop()
  }
}
