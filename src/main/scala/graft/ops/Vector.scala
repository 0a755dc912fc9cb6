package graft.ops

import graft.{Q, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Similarity search over the `embeddings` table (64-dim float vectors).
  *
  *  - s01: brute-force cosine top-k — the exact baseline. The tiny query
  *    side is broadcast, so the big side streams once with no shuffle;
  *    at cluster scale this is one map-side pass over the corpus.
  *  - s02: LSH-bucketed ANN (random-hyperplane signs + multiprobe) — the
  *    scale path: candidates come from equi-join on bucket code instead of
  *    a cross product.
  */
object Vector {

  private def dot(a: String, b: String): Column =
    graft.functions.VectorExpressions.dotF32(col(a), col(b))

  private val K = 5        // neighbors per query
  private val NQueries = 8 // query vectors: vec_id < 8

  /** IVF probe + rerank shared by s03/s04: queries pick their nProbe
    * max-cosine lists from the collected centroid table, then ONLY the
    * probed lists are searched and reranked by exact cosine — the
    * candidate join is an equi-join on the list id, never a cross
    * product. `assignments` = (vec_id, list_id). */
  private def ivfSearch(s: SparkSession, d: String,
      centroids: DataFrame, assignments: DataFrame,
      nProbe: Int): DataFrame = {
    val n = Dedup.normed(s, d)
    val q = n.filter(col("vec_id") < NQueries)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("nrm").as("qn"))
    ivfProbeSearch(q, n.join(assignments, "vec_id"), centroids, nProbe, K)
  }

  /** The probe+rerank core, decoupled from where the queries come from
    * (s03/s04 derive them from a fixture predicate; p16 receives them
    * from a micro-batch): `q` = (query_id, qe, qn), `listed` = the
    * searchable index (vec_id, embedding, nrm, list_id). Queries pick
    * their nProbe max-dot lists through [[graft.api.Graft.probeTopN]]
    * — per-row map-side selection by the native CentroidTopNF32 kernel
    * (no window shuffle, no join; the centroid table is collected once
    * per call, so a 10⁴⁺-query batch against a √n-capped nlist never
    * runs an interpreted per-centroid lambda), then ONLY the probed
    * lists are searched and reranked by exact cosine — the candidate
    * join is an equi-join on the list id, never a cross product. */
  private[graft] def ivfProbeSearch(q: DataFrame, listed: DataFrame,
      centroids: DataFrame, nProbe: Int, k: Int,
      pruneLists: Boolean = false): DataFrame = {
    val probes0 = graft.api.Graft
      .probeTopN(q, "qe", nrmCol = None, centroids, nProbe)
      .select(col("query_id"), col("qe"), col("qn"), col("list_id"))
    // pruneLists: the online-serving path. The broadcast equi-join
    // already touches only the probed lists' ROWS, but the index SCAN
    // under it reads the whole table — O(corpus) per micro-batch no
    // matter how few lists a small query batch probes. Collecting the
    // batch's distinct probed list ids (bounded by min(n_q·nProbe,
    // nlist) ints — driver-sized by construction) and pushing them as
    // an isin() filter turns the scan into bucket-pruned, row-group-
    // skipped reads of just those lists when the index is a table
    // bucketed/sorted on list_id: per-batch cost becomes O(probed
    // occupancy), not O(corpus). Worth it exactly when the probed
    // fraction is small (low-latency serving batches); a throughput
    // batch probing most lists should keep the full scan.
    // When pruning, PIN the probe rows before deriving the pushdown
    // id set: collecting ids from one execution and joining against a
    // RE-execution would silently drop candidates whenever the probe
    // input or scoring is nondeterministic between the two runs
    // (sampled/rand-derived queries, tie reshuffles) — the isin filter
    // must come from the EXACT rows the join will see (r12 advice).
    // localCheckpoint materializes the bounded n_q·nProbe probe rows
    // once and both consumers read the pinned copy; this makes
    // pruneLists EAGER at call time (checkpoint + id collect run
    // before the DataFrame returns) — the serving path's intended
    // trade, noted in the param doc above.
    val (probes, listedSide) =
      if (!pruneLists) (probes0, listed)
      else {
        val pinned = probes0.localCheckpoint(true)
        val ids = pinned.select("list_id").distinct()
          .collect().map(_.get(0)).toSeq
        (pinned, listed.filter(col("list_id").isin(ids: _*)))
      }
    val wRank = Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes)
      .join(listedSide, probes("list_id") === listedSide("list_id") &&
        col("query_id") =!= col("vec_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"),
        (dot("qe", "embedding") / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(wRank).cast("bigint"))
      .filter(col("rnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rnk")
  }

  /** Listing share between each index's gate query and the s07 recall
    * contract (r7 verdict: s07 re-trained and re-scanned every index a
    * second time — 22.5 s of the 799 s bench was pure duplicate work).
    * See [[ListingCache]] for the mechanism (incl. the lost-block
    * rebuild fallback). NOTE the warm-cache precondition on s07's
    * bench number: its committed reference (~0.5-0.6 s) measures
    * reading listings the sXX gate queries materialized earlier in the
    * same bench session; run in isolation s07 pays the full fresh
    * index builds (~20 s at sf0.1) — by design, so the fresh-build
    * cost is charged to the index queries, exactly once. */
  private def shared(method: String, s: SparkSession, d: String,
      reuse: Boolean)(build: => DataFrame): DataFrame =
    ListingCache.shared(method, s, d, reuse)(build)

  /** The approximate listings, shared by their gate entries and the
    * s07 recall contract. Approximate by construction — which neighbors
    * they return depends on the index — so the GATE checks two
    * complementary oracle-backed invariants instead of the raw listing:
    * [[annContract]] (per-query structural contract, hash-checked) and
    * s07 (pooled recall vs the exact top-k, hash-checked). */
  private[graft] def lshListing(s: SparkSession, d: String,
      reuse: Boolean = false): DataFrame =
    shared("lsh", s, d, reuse)(lshListingPlan(s, d))

  /** The un-materialized build plan, separate so PlanPropertiesSpec
    * audits the physical plan a 100 TB build would run (the shared
    * listing above explains as a checkpoint scan). */
  private[graft] def lshListingPlan(s: SparkSession, d: String): DataFrame = {
    graft.api.Graft
      .annLshTopK(Tables.load(s, d, "embeddings"), "vec_id",
        "embedding", queryPred = col("vec_id") < NQueries, k = K)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rnk")
  }

  private[graft] def ivfLabelListing(s: SparkSession, d: String,
      reuse: Boolean = false): DataFrame =
    shared("ivf", s, d, reuse)(ivfLabelListingPlan(s, d))

  /** Element-wise centroid per label — the label-IVF coarse "quantizer"
    * (a semantic grouping standing in for a trained one; shared by s03
    * and p16's static stream index). */
  private[graft] def labelCentroids(emb: DataFrame): DataFrame =
    emb
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(avg("v").as("m"))
      .groupBy("label")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("label").as("list_id"),
        expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("centroid"))

  /** The un-materialized build plan, separate so PlanPropertiesSpec
    * audits the physical plan a 100 TB build would run (the shared
    * listing above explains as a checkpoint scan). */
  private[graft] def ivfLabelListingPlan(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.load(s, d, "embeddings")
    val centroids = labelCentroids(emb)
    // Queries probe their nProbe nearest centroids. nProbe=4 of 10
    // lists here: this synthetic corpus is nearly unclustered, so the
    // quantizer's signal is weak and recall is bought by probing
    // wider (recall floor asserted in SketchAccuracySpec). On a real
    // clustered corpus nProbe/nlist would be far smaller.
    ivfSearch(s, d, centroids,
      emb.select(col("vec_id"), col("label").as("list_id")), nProbe = 4)
  }

  private[graft] def pqListing(s: SparkSession, d: String,
      reuse: Boolean = false): DataFrame =
    shared("pq", s, d, reuse)(pqListingPlan(s, d))

  /** The un-materialized build plan, separate so PlanPropertiesSpec
    * audits the physical plan a 100 TB build would run (the shared
    * listing above explains as a checkpoint scan). */
  private[graft] def pqListingPlan(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.load(s, d, "embeddings")
    // Rerank shortlist sized as a corpus fraction: a FIXED shortlist
    // dilutes with corpus growth (50 of 2000 is 2.5% and recall sags on
    // this isotropic fixture). 10% keeps the recall contract stable
    // across the sf fixtures; at real scale PQ pairs with an IVF
    // partition (s03/s04) so the ADC scan and its shortlist run per
    // probed list, not per corpus.
    val shortlist = math.max(50L, emb.count() / 10).toInt
    graft.api.Graft
      .pqTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < NQueries, k = K, dim = 64,
        shortlist = shortlist)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rnk")
  }

  private[graft] def ivfTrainedListing(s: SparkSession, d: String,
      reuse: Boolean = false): DataFrame =
    shared("ivf_trained", s, d, reuse)(ivfTrainedListingPlan(s, d))

  /** The un-materialized build plan, separate so PlanPropertiesSpec
    * audits the physical plan a 100 TB build would run (the shared
    * listing above explains as a checkpoint scan). */
  private[graft] def ivfTrainedListingPlan(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.load(s, d, "embeddings")
    val cents = graft.api.Graft
      .kmeansCentroids(emb, "vec_id", "embedding", nlist = 10, iters = 2)
    val assigned = graft.api.Graft
      .assignToCentroids(emb, "vec_id", "embedding", cents)
      .select(col("vec_id"), col("list_id"))
    ivfSearch(s, d, cents, assigned, nProbe = 4)
  }

  private[graft] def ivfpqListing(s: SparkSession, d: String,
      reuse: Boolean = false): DataFrame =
    shared("ivfpq", s, d, reuse)(ivfpqListingPlan(s, d))

  /** The un-materialized build plan, separate so PlanPropertiesSpec
    * audits the physical plan a 100 TB build would run (the shared
    * listing above explains as a checkpoint scan). */
  private[graft] def ivfpqListingPlan(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.load(s, d, "embeddings")
    val n = emb.count()
    // nlist from the corpus count (graft.api.Graft.deriveNlist: ~400
    // vectors/list below the 2.56M-vector crossover — identical layout
    // to the old fixed-occupancy derivation at every committed fixture
    // — and the Faiss 4·sqrt(n) convention past it, bounding the build's
    // assignment pass at O(n^1.5)). nProbe covers a fixed fraction of
    // lists because THIS fixture is near-isotropic (recall tracks the
    // probed fraction — a property of the data; see
    // [[graft.api.Graft.ivfPqTopK]]); a clustered real corpus would pin
    // nProbe small and get the sub-linear per-query cost.
    val nlist = math.max(5, graft.api.Graft.deriveNlist(n))
    val nProbe = math.max(2, math.ceil(nlist * 0.4).toInt)
    val shortlist = math.max(50L, n / 10).toInt
    graft.api.Graft
      .ivfPqTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < NQueries, k = K, dim = 64,
        nlist = nlist, nProbe = nProbe, shortlist = shortlist)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rnk")
  }

  private[graft] def sqListing(s: SparkSession, d: String,
      reuse: Boolean = false): DataFrame =
    shared("sq", s, d, reuse)(sqListingPlan(s, d))

  /** The un-materialized build plan, separate so PlanPropertiesSpec
    * audits the physical plan a 100 TB build would run (the shared
    * listing above explains as a checkpoint scan). */
  private[graft] def sqListingPlan(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.load(s, d, "embeddings")
    // Same shortlist-as-corpus-fraction discipline as s10's PQ: a fixed
    // shortlist dilutes as the corpus grows on this isotropic fixture.
    val shortlist = math.max(50L, emb.count() / 10).toInt
    graft.api.Graft
      .sqTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < NQueries, k = K, shortlist = shortlist)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rnk")
  }

  private[graft] def ivfSqListing(s: SparkSession, d: String,
      reuse: Boolean = false): DataFrame =
    shared("ivfsq", s, d, reuse)(ivfSqListingPlan(s, d))

  /** The un-materialized build plan, separate so PlanPropertiesSpec
    * audits the physical plan a 100 TB build would run (the shared
    * listing above explains as a checkpoint scan). */
  private[graft] def ivfSqListingPlan(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.load(s, d, "embeddings")
    val n = emb.count()
    // the s11 sizing conventions: nlist from the corpus count, nProbe a
    // fixed fraction of lists (this fixture is near-isotropic — recall
    // tracks the probed fraction, a property of the data), shortlist as
    // a corpus fraction
    val nlist = math.max(5, graft.api.Graft.deriveNlist(n))
    val nProbe = math.max(2, math.ceil(nlist * 0.4).toInt)
    val shortlist = math.max(50L, n / 10).toInt
    graft.api.Graft
      .ivfSqTopK(emb, "vec_id", "embedding",
        queryPred = col("vec_id") < NQueries, k = K, nlist = nlist,
        nProbe = nProbe, shortlist = shortlist)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rnk")
  }

  private[graft] def knnJoinListing(s: SparkSession, d: String,
      reuse: Boolean = false): DataFrame =
    shared("knn", s, d, reuse)(knnJoinListingPlan(s, d))

  /** The un-materialized build plan, separate so PlanPropertiesSpec
    * audits the physical plan a 100 TB build would run (the shared
    * listing above explains as a checkpoint scan). */
  private[graft] def knnJoinListingPlan(s: SparkSession, d: String): DataFrame = {
    graft.api.Graft
      .annKnnJoin(Tables.load(s, d, "embeddings"), "vec_id", "embedding",
        k = K)
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 4).as("cos"))
      .orderBy("query_id", "rnk")
  }

  /** Per-query structural contract over an ANN listing — every invariant
    * here is DETERMINISTIC for a correct index regardless of which
    * neighbors it picked, so DuckDB can recompute the expected rows
    * exactly and the gate hash-checks (the raw listing could not:
    * neighbor choice is approximate by construction). One row per query:
    * exactly k results, ranks 1..k (sum k(k+1)/2), k distinct non-self
    * neighbors, cosines in [-1, 1] and non-increasing with rank. Recall
    * — the one property this can't see — is s07's oracle row. */
  private[graft] def annContract(listing: DataFrame): DataFrame =
    listing
      .groupBy(col("query_id"))
      .agg(
        count(lit(1)).as("n_ret"),
        sum(col("rnk")).as("rnk_sum"),
        countDistinct(col("neighbor_id")).as("n_distinct"),
        // min over booleans = AND (false < true)
        min(col("neighbor_id") =!= col("query_id")).as("self_excluded"),
        min(col("cos") >= -1.0001 && col("cos") <= 1.0001)
          .as("cos_bounded"),
        // cos non-increasing in rank: the rank-ordered cos sequence must
        // equal the descending sort of the same values
        (expr("transform(array_sort(collect_list(struct(rnk, cos))), " +
          "x -> x.cos)") === expr("reverse(array_sort(collect_list(cos)))"))
          .as("ranked_desc"))
      .orderBy("query_id")

  /** The DuckDB side of [[annContract]]: the expected contract row for
    * every query id, recomputed from the embeddings table alone. */
  private[graft] def annContractSqlWhere(where: String): String =
    s"SELECT vec_id AS query_id, CAST($K AS BIGINT) AS n_ret, " +
      s"CAST(${K * (K + 1) / 2} AS BIGINT) AS rnk_sum, " +
      s"CAST($K AS BIGINT) AS n_distinct, " +
      "true AS self_excluded, true AS cos_bounded, true AS ranked_desc " +
      s"FROM embeddings $where ORDER BY query_id"

  private def annContractSql: String =
    annContractSqlWhere(s"WHERE vec_id < $NQueries")

  val defs: Seq[Q] = Seq(

    Q("s01_cosine_topk",
      (s, d) => graft.api.Graft
        .cosineTopK(Tables.load(s, d, "embeddings"), "vec_id", "embedding",
          queryPred = col("vec_id") < NQueries, k = K)
        .select(col("query_id"), col("neighbor_id"), col("rnk"),
          round(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rnk"),
      Some("WITH n AS (SELECT vec_id, embedding, " +
        "sqrt(list_sum(list_transform(list_zip(embedding, embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS nrm " +
        "FROM embeddings), " +
        s"p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(a.nrm * b.nrm) AS cos FROM n a JOIN n b " +
        s"ON a.vec_id < $NQueries AND a.vec_id <> b.vec_id), " +
        "r AS (SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk " +
        "FROM p) SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, " +
        s"ROUND(cos, 4) AS cos FROM r WHERE rnk <= $K " +
        "ORDER BY query_id, rnk")),

    Q("s06_cosine_range",
      // Radius search: all neighbors above a similarity floor per query
      // — the retrieval twin of s01's top-k (count-bounded vs
      // similarity-bounded). Same broadcast-query single-corpus-pass
      // shape. See [[graft.api.Graft.cosineRange]].
      (s, d) => graft.api.Graft
        .cosineRange(Tables.load(s, d, "embeddings"), "vec_id",
          "embedding", queryPred = col("vec_id") < NQueries,
          threshold = 0.3)
        .select(col("query_id"), col("neighbor_id"),
          round(col("cos"), 4).as("cos"))
        .orderBy("query_id", "neighbor_id"),
      Some("WITH n AS (SELECT vec_id, embedding, " +
        "sqrt(list_sum(list_transform(list_zip(embedding, embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS nrm " +
        "FROM embeddings), " +
        "p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(a.nrm * b.nrm) AS cos FROM n a JOIN n b " +
        s"ON a.vec_id < $NQueries AND a.vec_id <> b.vec_id) " +
        "SELECT query_id, neighbor_id, ROUND(cos, 4) AS cos FROM p " +
        "WHERE cos >= 0.3 ORDER BY query_id, neighbor_id")),

    Q("s08_matryoshka_topk",
      // Matryoshka two-stage retrieval: shortlist on the 16-dim prefix
      // cosine (1/4 of the flops per corpus row), full-dim rerank on the
      // 20-row shortlist. Deterministic end to end — unlike LSH/IVF the
      // whole pipeline is exactly reproducible in SQL, so this is the
      // one ANN-shaped query that hash-checks instead of recall-gating.
      // See [[graft.api.Graft.matryoshkaTopK]].
      (s, d) => graft.api.Graft
        .matryoshkaTopK(Tables.load(s, d, "embeddings"), "vec_id",
          "embedding", queryPred = col("vec_id") < NQueries,
          prefixDim = 16, shortlist = 20, k = K)
        .select(col("query_id"), col("neighbor_id"), col("rnk"),
          round(col("cos"), 4).as("cos"))
        .orderBy("query_id", "rnk"),
      Some("WITH n AS (SELECT vec_id, embedding, " +
        "embedding[1:16] AS pv, " +
        "sqrt(list_sum(list_transform(list_zip(embedding, embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS nrm, " +
        "sqrt(list_sum(list_transform(list_zip(embedding[1:16], " +
        "embedding[1:16]), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS pn " +
        "FROM embeddings), " +
        "p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "a.embedding AS qe, a.nrm AS qn, b.embedding AS ne, " +
        "b.nrm AS nn, " +
        "list_sum(list_transform(list_zip(a.pv, b.pv), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(a.pn * b.pn) AS pcos FROM n a JOIN n b " +
        s"ON a.vec_id < $NQueries AND a.vec_id <> b.vec_id), " +
        "sh AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY query_id " +
        "ORDER BY pcos DESC, neighbor_id) AS srnk FROM p), " +
        "rr AS (SELECT query_id, neighbor_id, " +
        "list_sum(list_transform(list_zip(qe, ne), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(qn * nn) AS cos FROM sh WHERE srnk <= 20), " +
        "r AS (SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk " +
        "FROM rr) " +
        "SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, " +
        s"ROUND(cos, 4) AS cos FROM r WHERE rnk <= $K " +
        "ORDER BY query_id, rnk")),

    Q("s09_rrf_fusion",
      // Hybrid retrieval: reciprocal-rank fusion of two rankers — the
      // full-dim exact cosine top-10 and the 16-dim prefix cosine
      // top-10 — Σ 1/(60 + rank), top-5 fused per query. Rank-based, so
      // no score calibration; deterministic end to end, so the fused
      // list hash-checks exactly (the property score-weighted fusion of
      // floating scorers wouldn't have). See [[graft.api.Graft.rrfFuse]].
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val full = graft.api.Graft.cosineTopK(emb, "vec_id", "embedding",
          queryPred = col("vec_id") < NQueries, k = 10)
        val prefix = graft.api.Graft.cosineTopK(
          emb.select(col("vec_id"),
            expr("slice(embedding, 1, 16)").as("embedding")),
          "vec_id", "embedding",
          queryPred = col("vec_id") < NQueries, k = 10)
        graft.api.Graft.rrfFuse(Seq(full, prefix), k0 = 60, topK = K)
          .orderBy("query_id", "rnk")
      },
      Some("WITH n AS (SELECT vec_id, embedding, " +
        "embedding[1:16] AS pv, " +
        "sqrt(list_sum(list_transform(list_zip(embedding, embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS nrm, " +
        "sqrt(list_sum(list_transform(list_zip(embedding[1:16], " +
        "embedding[1:16]), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS pn " +
        "FROM embeddings), " +
        "p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(a.nrm * b.nrm) AS cos, " +
        "list_sum(list_transform(list_zip(a.pv, b.pv), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(a.pn * b.pn) AS pcos FROM n a JOIN n b " +
        s"ON a.vec_id < $NQueries AND a.vec_id <> b.vec_id), " +
        "rf AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk " +
        "FROM p), " +
        "rp AS (SELECT query_id, neighbor_id, ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY pcos DESC, neighbor_id) AS rnk " +
        "FROM p), " +
        // CAST to DOUBLE: DuckDB would otherwise divide in DECIMAL and
        // round differently from Spark's binary double (the t19 lesson)
        "u AS (SELECT query_id, neighbor_id, " +
        "CAST(1.0 AS DOUBLE)/(60 + rnk) AS c " +
        "FROM rf WHERE rnk <= 10 " +
        "UNION ALL SELECT query_id, neighbor_id, " +
        "CAST(1.0 AS DOUBLE)/(60 + rnk) " +
        "FROM rp WHERE rnk <= 10), " +
        "f AS (SELECT query_id, neighbor_id, SUM(c) AS score " +
        "FROM u GROUP BY 1, 2), " +
        "r AS (SELECT query_id, neighbor_id, score, ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY score DESC, neighbor_id) " +
        "AS rnk FROM f) " +
        "SELECT query_id, neighbor_id, ROUND(score, 6) AS rrf_score, " +
        s"CAST(rnk AS BIGINT) AS rnk FROM r WHERE rnk <= $K " +
        "ORDER BY query_id, rnk")),

    Q("s02_ann_lsh",
      // Multi-table random-hyperplane LSH (4 tables x 6 sign bits),
      // hamming-1 multiprobe per table. Candidate generation is a
      // NARROW equi-join on (table, code) — only (vec_id, tbl, code)
      // rows cross the wire, never embeddings; the exact-cosine rerank
      // re-joins embeddings for the surviving candidates only. That
      // split (narrow index join, then fat rerank on the short list) is
      // what makes the shape hold when the corpus is 100 TB.
      // Gate row = the hash-checked per-query contract over the listing
      // (annContract); recall is s07's oracle row.
      (s, d) => annContract(lshListing(s, d)),
      Some(annContractSql)),

    Q("s03_ann_ivf",
      // IVF-style ANN: the label column plays the coarse quantizer's
      // inverted-list id. Centroids are computed distributedly (explode to
      // (label, dim, value), one aggregation), queries probe their
      // nProbe=4 nearest lists, and only those lists are reranked by
      // exact cosine — the candidate join is an equi-join on the list id,
      // which is what makes IVF the 100 TB path (no cross product).
      // Gate row = hash-checked per-query contract (annContract); recall
      // is s07's oracle row.
      (s, d) => annContract(ivfLabelListing(s, d)),
      Some(annContractSql)),

    Q("s05_embed_quantize",
      // Int8 symmetric quantization of the embedding column — the
      // storage/bandwidth step of a large-scale vector pipeline (4x
      // smaller than float32). Per-vector max-abs scale, q = round(x *
      // 127 / scale); emitted as exact integer summaries plus the max
      // reconstruction error. The scale + encode run through the
      // native MaxAbsF32 / Sq8EncodeF32 kernels (the transform/
      // array_max HOFs evaluate interpreted — the r11 many-query probe
      // measured them at ~107 s per 1M-vector pass); rounding replays
      // Spark round() bit for bit, so parity with the oracle is exact.
      // Zero shuffle; hash-checked.
      (s, d) => Tables.load(s, d, "embeddings")
        .select(col("vec_id"), col("embedding"),
          graft.functions.VectorExpressions.maxAbsF32(col("embedding"))
            .as("mx"))
        .filter(col("mx") > 0)
        .select(col("vec_id"),
          graft.functions.VectorExpressions
            .sq8EncodeF32(col("embedding"), col("mx"))
            .cast("array<bigint>").as("q"),
          col("embedding"), col("mx"))
        .select(col("vec_id"),
          expr("aggregate(q, CAST(0 AS BIGINT), (a, x) -> a + x)")
            .as("q_sum"),
          expr("array_min(q)").as("q_min"),
          expr("array_max(q)").as("q_max"),
          round(expr("array_max(zip_with(q, embedding, " +
            "(qq, x) -> abs(qq * mx / 127 - CAST(x AS DOUBLE))))"), 6)
            .as("max_err"))
        .orderBy("vec_id"),
      Some("WITH m AS (SELECT vec_id, embedding, " +
        "list_max(list_transform(embedding, " +
        "x -> abs(CAST(x AS DOUBLE)))) AS mx FROM embeddings), " +
        "qz AS (SELECT vec_id, embedding, mx, " +
        "list_transform(embedding, " +
        "x -> CAST(round(CAST(x AS DOUBLE) * 127 / mx) AS BIGINT)) AS q " +
        "FROM m WHERE mx > 0) " +
        "SELECT vec_id, CAST(list_sum(q) AS BIGINT) AS q_sum, " +
        "list_min(q) AS q_min, list_max(q) AS q_max, " +
        "ROUND(list_max(list_transform(list_zip(q, embedding), " +
        "p -> abs(p[1] * mx / 127 - CAST(p[2] AS DOUBLE)))), 6) AS max_err " +
        "FROM qz ORDER BY vec_id")),

    Q("s04_ann_ivf_trained",
      // IVF with a TRAINED coarse quantizer: instead of trusting the
      // label column (s03), the centroids come from two distributed
      // Lloyd iterations — deterministic id%nlist init, then
      // assign-to-nearest + element-wise mean, the corpus never
      // collected (graft.api.Graft.kmeansCentroids). The
      // probe + rerank tail is identical to s03's. SketchAccuracySpec
      // additionally asserts that training does not degrade the
      // quantizer (mean assigned cosine >= the untrained init's).
      // Gate row = hash-checked per-query contract (annContract); recall
      // is s07's oracle row.
      (s, d) => annContract(ivfTrainedListing(s, d)),
      Some(annContractSql)),

    Q("s10_pq_topk",
      // Product quantization (Jégou et al. 2011) — the memory-bounded
      // ANN path: 8 subspaces × 16-centroid codebooks turn each 256-byte
      // float vector into 8 codes; queries score the code index by ADC
      // (sum of sub-dot-products against reconstructed centroids) in one
      // corpus pass against the frozen codebook, then the shortlist
      // reranks by exact cosine. The flat-scan shape of a Faiss IndexPQ;
      // combine with IVF (s03/s04) for sub-linear candidates at 100 TB.
      // Gate row = hash-checked per-query contract (annContract);
      // recall is s07's oracle row.
      (s, d) => annContract(pqListing(s, d)),
      Some(annContractSql)),

    Q("s11_ivfpq_topk",
      // IVF-PQ (Faiss IVFPQ shape; Jégou et al. 2011) — the composition
      // s10's Scaladoc promised: the trained coarse quantizer routes
      // each query to its nProbe nearest inverted lists, ADC scores ONLY
      // those lists' codes (equi-join on list id — sub-linear candidate
      // selection, vs s10's flat corpus scan), and the shortlist reranks
      // by exact cosine. nlist grows with the corpus so list occupancy
      // is constant (the d12 lesson). Gate row = hash-checked per-query
      // contract (annContract); recall is s07's oracle row.
      (s, d) => annContract(ivfpqListing(s, d)),
      Some(annContractSql)),

    Q("s12_ann_knn_join",
      // ANN kNN SELF-join: top-k neighbors for EVERY corpus vector (the
      // query set is the corpus — SemDeDup neighborhoods, diversity
      // filters, kNN-graph construction). IVF-blocked: one primary list
      // per vector, each vector-as-query probes its 4 nearest lists
      // (sized with the point-init quantizer's finer effective lists —
      // 4 probes at the halved occupancy cost what 2 did before, and
      // margin recall reads 1.000),
      // candidates come from the list-id equi-join — O(n · probes ·
      // occupancy) dot products, never n², with occupancy held constant
      // by deriving nlist from count() (the d12 lesson). Gate row = the
      // per-query structural contract over ALL vectors (one row per
      // corpus vector, hash-checked); recall is s07's 'knn' oracle row.
      // See [[graft.api.Graft.annKnnJoin]].
      (s, d) => annContract(knnJoinListing(s, d)),
      Some(annContractSqlWhere(""))),

    Q("s13_sq_topk",
      // Scalar quantization (SQ8, Faiss IndexScalarQuantizer shape) —
      // the training-free quantized-retrieval path next to PQ (s10):
      // per-vector max-abs int8 codes (s05's storage convention), the
      // approximate score an EXACT 64-bit integer fold via the codegen
      // dot_i32 kernel (no float-ordering concerns, no codebook, no
      // training — incremental ingest never re-trains), exact cosine
      // rerank on the shortlist. At scale the scan reads the 4x-smaller
      // int8 column; only the shortlist touches floats. Gate row =
      // hash-checked per-query contract (annContract); recall is s07's
      // oracle row.
      (s, d) => annContract(sqListing(s, d)),
      Some(annContractSql)),

    Q("s14_ivf_tombstone",
      // Index lifecycle DELETES (r12 verdict item 2) — the Faiss
      // remove_ids analog on the streaming-ingest bucketed layout: a
      // curation pipeline that drops documents (dedup) must drop their
      // vectors without rewriting the corpus-sized index. ivfDelete
      // appends the ids to a side tombstone table (batch-sized write,
      // no index shuffle); applyTombstones is the serving view — a
      // BROADCAST anti-join, so the index side never moves — and the
      // next compactBucketedIndex drops the rows physically and clears
      // the tombstones (CompactIndexSpec pins that half). Gate: index
      // the embeddings in the bucketed-table layout, tombstone every
      // vec_id % 10 == 3, probe through the serving view — the
      // per-query structural contract must hold AND no returned
      // neighbor may be tombstoned, with the served count pinned.
      // DuckDB recomputes everything from the embeddings table minus
      // the deletions.
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val centroids = labelCentroids(emb).localCheckpoint(true)
        val idxDir = java.nio.file.Files
          .createTempDirectory("graft-s14-idx").toString
        val tbl = s"s14_idx_${java.util.UUID.randomUUID().toString.take(8)}"
        emb
          .select(col("vec_id"), col("embedding"),
            sqrt(dot("embedding", "embedding")).as("nrm"),
            col("label").as("list_id"))
          .repartition(8, col("list_id"))
          .write.bucketBy(8, "list_id").sortBy("list_id")
          .option("path", s"$idxDir/t").saveAsTable(tbl)
        graft.api.Graft.ivfDelete(s, tbl,
          emb.filter(pmod(col("vec_id"), lit(10)) === 3).select("vec_id"))
        val served = graft.api.Graft.applyTombstones(s, tbl)
        val nServed = served.count()
        val queries = served.filter(col("vec_id") < 40)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qe"), col("nrm").as("qn"))
        val search = ivfProbeSearch(queries, served, centroids,
          nProbe = 4, k = K)
        val contract = annContract(search)
          .join(search.groupBy("query_id")
            .agg(min(pmod(col("neighbor_id"), lit(10)) =!= 3)
              .as("no_tombstoned")), "query_id")
          .withColumn("n_served", lit(nServed))
          .orderBy("query_id")
        // materialize the bounded contract rows so the temp table and
        // dir can be dropped before returning (the p17 discipline)
        val rows = contract.collect()
        val out = s.createDataFrame(
          java.util.Arrays.asList(rows: _*), contract.schema)
        ListingCache.release(centroids)
        s.sql(s"DROP TABLE IF EXISTS $tbl")
        StreamingOps.deleteRecursively(new java.io.File(idxDir))
        out
      },
      Some("SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_ret, " +
        "CAST(15 AS BIGINT) AS rnk_sum, CAST(5 AS BIGINT) AS n_distinct, " +
        "true AS self_excluded, true AS cos_bounded, true AS ranked_desc, " +
        "true AS no_tombstoned, " +
        "(SELECT COUNT(*) FROM embeddings WHERE vec_id % 10 != 3) " +
        "AS n_served " +
        "FROM embeddings WHERE vec_id < 40 AND vec_id % 10 != 3 " +
        "ORDER BY query_id")),

    Q("s15_filtered_ann",
      // FILTERED ANN — the retrieval-deployment shape every vector
      // store ships (Qdrant/Vespa payload filters, Faiss + metadata
      // stores): "top-k neighbors among documents WHERE lang = 'en'".
      // The Spark-first answer is PRE-filtering, not post-filtering:
      // the predicate is an ordinary relational filter on the INDEX
      // side of the search, applied BEFORE probe-candidate generation,
      // so Catalyst pushes it beneath the candidate equi-join into the
      // metadata scan (PushedFilters: EqualTo(lang,'en') —
      // FilteredAnnSpec pins the plan) and every probed list
      // contributes only matching candidates. Post-filtering an
      // unfiltered top-k instead returns < k rows whenever the
      // unfiltered neighborhood is filter-sparse — at a 40% match rate
      // an unfiltered top-5 post-filtered keeps ~2 — and re-searching
      // with inflated k to compensate is unbounded for rare filters.
      // Pre-filtering keeps the k-of-matching contract exact at any
      // selectivity: candidates are the probed lists ∩ filter, cost
      // SHRINKS with selectivity (the scan prunes first), and the
      // per-query contract below holds deterministically, which is
      // what lets DuckDB recompute it. Queries themselves are NOT
      // filtered (an any-language query asks for English neighbors).
      (s, d) => {
        val docs = Tables.load(s, d, "documents")
        val emb = Tables.load(s, d, "embeddings")
        val centroids = labelCentroids(emb)
        val n = Dedup.normed(s, d)
        // the index side: vectors + their list routing, restricted to
        // the filter BEFORE any search work — the lang predicate
        // reaches the documents parquet scan
        val listed = n
          .join(emb.select(col("vec_id"), col("label").as("list_id")),
            "vec_id")
          .join(docs.filter(col("lang") === "en")
            .select(col("doc_id").as("vec_id")), "vec_id")
        val q = n.filter(col("vec_id") < 40)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qe"), col("nrm").as("qn"))
        val search = ivfProbeSearch(q, listed, centroids, nProbe = 4,
          k = K)
        annContract(search)
          .join(search
            .join(docs.select(col("doc_id").as("neighbor_id"),
              col("lang")), "neighbor_id")
            .groupBy("query_id")
            .agg(min(col("lang") === "en").as("all_match")), "query_id")
          .orderBy("query_id")
      },
      Some("SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_ret, " +
        "CAST(15 AS BIGINT) AS rnk_sum, CAST(5 AS BIGINT) AS n_distinct, " +
        "true AS self_excluded, true AS cos_bounded, true AS ranked_desc, " +
        "true AS all_match " +
        "FROM embeddings WHERE vec_id < 40 ORDER BY query_id")),

    Q("s16_ivf_sq8",
      // IVF-SQ8 (Faiss IndexIVFScalarQuantizer shape; r13 verdict item
      // 3) — sub-linear candidate selection for the SQ family: s13's
      // flat int8 scan reads the whole corpus per query batch (measured
      // 12.8–46 s at 5M), the one retrieval member still O(corpus) per
      // query; composing the trained IVF router with SQ8-coded lists
      // makes candidates probes x occupancy while keeping SQ8's
      // training-free encode (no codebooks — ingest never re-trains,
      // the property s13 exists for). Gate row = hash-checked per-query
      // contract (annContract); recall is s07's 'ivfsq' oracle row; the
      // 5M wall-vs-recall comparison against s13 is in SCALE.md.
      (s, d) => annContract(ivfSqListing(s, d)),
      Some(annContractSql)),

    Q("s17_pq_maintain",
      // Maintenance loop for the SAVED IVF-PQ layout (r13 verdict item
      // 1) — the full lifecycle a serving deployment runs, in one gate:
      // (1) BUILD on half the corpus (lang payload riding the codes —
      // the s15 filtered-retrieval shape) and ivfPqSave; (2) GROW with
      // the other half through ivfPqAppend — frozen quantizer + frozen
      // codebooks, Faiss `add` semantics, existing codes never read;
      // (3) ivfPqIndexStats + maintenanceAdvice reads the drift: the
      // corpus DOUBLED under a quantizer sized for half, so the
      // outgrown trigger (targetNlist >= 2x built nlist — pure count
      // arithmetic, deterministic at every fixture under
      // vectorsPerList = 100) must fire; (4) ivfPqRetrain acts on the
      // advice — rebuild over the current corpus + atomic dir swap,
      // width re-derived; (5) the retrained index serves a FILTERED
      // search ("top-k among lang = 'en'") probed at full coverage, so
      // the result is the EXACT filtered top-k, which DuckDB recomputes
      // independently — a wrong retrain (lost rows, lost payload,
      // mis-assigned lists) cannot hash-match. The recall
      // degrade→restore of this exact drift shape is measured at 1M in
      // SCALE.md (the r13 retrainIndex protocol, PQ-layout arm).
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val docs = Tables.load(s, d, "documents")
        val full = emb
          .join(docs.select(col("doc_id").as("vec_id"), col("lang")),
            "vec_id")
        // one pass over the joined corpus for both sizing counts
        // (r16: n and the half count each re-ran the emb⋈docs join)
        val cnts = full.agg(count(lit(1)).as("n"),
          sum(when(pmod(col("vec_id"), lit(2)) === 0, 1L)
            .otherwise(0L)).as("nhalf")).head()
        val n = cnts.getLong(0)
        val dir = java.nio.file.Files
          .createTempDirectory("graft-s17-pq").toString
        val Vpl = 100 // sizing rule: outgrown fires on a 2x corpus at
                      // every fixture (the 4-sqrt(n) cap never binds
                      // below 160k rows at this width)
        val half = full.filter(pmod(col("vec_id"), lit(2)) === 0)
        // FLOOR, not deriveNlist's round: the outgrown trigger below
        // compares deriveNlist(2n) >= 2 * nlist0, and round(n/Vpl) at a
        // half-integral count (250/100 -> 3) would make doubling the
        // corpus land short of doubling the width — floor keeps the
        // gate's arithmetic exact at every fixture count
        val nlist0 = math.max(1, (cnts.getLong(1) / Vpl).toInt)
        graft.api.Graft.ivfPqSave(
          // iters = 1: the gate's oracle is EXACTNESS under full
          // coverage (independent of quantizer quality — that is the
          // 1M measurement's job), so one Lloyd pass keeps the
          // lifecycle gate cheap
          graft.api.Graft.ivfPqBuild(half, "vec_id", "embedding",
            dim = 64, nlist = nlist0, m = 8, ksub = 16, iters = 1,
            payload = Seq("lang")),
          // the sizing rule persists WITH the index — the no-arg
          // stats/retrain calls below read it back, the deployment
          // flow (r14 review)
          dir, buckets = 8, vectorsPerList = Vpl)
        graft.api.Graft.ivfPqAppend(s, dir,
          full.filter(pmod(col("vec_id"), lit(2)) === 1), "embedding")
        val stats = graft.api.Graft.ivfPqIndexStats(s, dir)
        val advice = graft.api.Graft.maintenanceAdvice(stats)
        val rt = graft.api.Graft.ivfPqRetrain(s, dir, full, "embedding",
          iters = 1)
        val loaded = graft.api.Graft.ivfPqLoad(s, dir)
        val queries = emb.filter(col("vec_id") < 40)
          .select(col("vec_id").as("query_id"), col("embedding"))
        val search = graft.api.Graft.ivfPqSearch(loaded, queries,
          "query_id", "embedding", emb, "embedding", k = K,
          nProbe = loaded.nlist, shortlist = math.max(K, n.toInt),
          filter = Some(col("lang") === "en"))
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            round(col("cos"), 4).as("cos"))
          .withColumn("advice_outgrown", lit(advice.outgrown))
          .withColumn("retrain_grew",
            lit(rt.nlistAfter >= 2 * rt.nlistBefore))
          .withColumn("n_indexed", lit(loaded.rows))
          .orderBy("query_id", "rnk")
        // materialize the bounded listing so the temp dir can drop
        // before returning (the s14/p17 discipline)
        val rows = search.collect()
        val out = s.createDataFrame(
          java.util.Arrays.asList(rows: _*), search.schema)
        StreamingOps.deleteRecursively(new java.io.File(dir))
        out
      },
      Some("WITH nn AS (SELECT vec_id, embedding, " +
        "sqrt(list_sum(list_transform(list_zip(embedding, embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS nrm " +
        "FROM embeddings), " +
        "en AS (SELECT doc_id FROM documents WHERE lang = 'en'), " +
        "p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(a.nrm * b.nrm) AS cos FROM nn a JOIN nn b " +
        "ON a.vec_id < 40 AND a.vec_id <> b.vec_id " +
        "JOIN en e ON b.vec_id = e.doc_id), " +
        "r AS (SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk " +
        "FROM p) SELECT query_id, neighbor_id, " +
        "CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 4) AS cos, " +
        "true AS advice_outgrown, true AS retrain_grew, " +
        "(SELECT COUNT(*) FROM embeddings e JOIN documents d " +
        "ON e.vec_id = d.doc_id) AS n_indexed " +
        s"FROM r WHERE rnk <= $K ORDER BY query_id, rnk")),

    Q("s07_ann_recall",
      // The recall CONTRACT for every ANN variant, promoted from
      // SketchAccuracySpec into the oracle gate: the exact top-k (s01's
      // brute-force cosine, which DuckDB recomputes independently) is
      // the in-Spark ground truth, and each approximate index (s02 LSH,
      // s03 IVF-by-label, s04 IVF-trained, s10 PQ+rerank, s11 IVF-PQ,
      // s12 kNN self-join restricted to the query set, s13 SQ8+rerank)
      // must recover a committed floor of its pairs pooled across
      // queries: 0.5 for LSH, the trained IVF and PQ (PQ measured
      // 0.6-0.8 across the three fixtures with the 10%-of-corpus rerank
      // shortlist), 0.3 for label-IVF (the label column is a SEMANTIC
      // grouping, not a geometric quantizer — its recall is the weak
      // baseline the trained variant exists to beat; measured 0.375 /
      // 0.575 / 0.45 across sf0.1 / 0.01 / 0.001 vs the trained IVF's
      // 0.625+ everywhere) and for IVF-PQ (probe-fraction-bound on this
      // near-isotropic fixture: measured 0.475 / 0.725 / 0.475 at
      // sf0.001 / 0.01 / 0.1 with a constant 40% probed fraction —
      // within probed lists the ADC+rerank recall is near-total, so the
      // pooled number tracks nProbe/nlist, a property of unclustered
      // DATA, not the index; RecallProbe reproduces the measurement). One row per method: n_queries
      // (every query produced >= 1 candidate — an index that loses
      // queries entirely fails here), n_exact (DuckDB recomputes the
      // exact pair count), recall_ok (the committed floor). A recall
      // regression in any index flips its boolean and the hash goes
      // red — together with the s02/s03/s04 per-query contract rows
      // (annContract) every ANN gate entry is fully oracle-checked.
      (s, d) => {
        val emb = Tables.load(s, d, "embeddings")
        val exact = graft.api.Graft
          .cosineTopK(emb, "vec_id", "embedding",
            queryPred = col("vec_id") < NQueries, k = K)
          .select(col("query_id"), col("neighbor_id"))
        // reuse = true: the contract pools the listings the sXX gate
        // queries already materialized this session instead of
        // re-training and re-scanning every index (r7: 22.5 s of
        // duplicate builds). Indexes whose gate query hasn't run yet
        // (alphabetical order puts s10-s12 after s07) build here once.
        val approx = Seq(
          "lsh" -> lshListing(s, d, reuse = true),
          "ivf" -> ivfLabelListing(s, d, reuse = true),
          "ivf_trained" -> ivfTrainedListing(s, d, reuse = true),
          "pq" -> pqListing(s, d, reuse = true),
          "ivfpq" -> ivfpqListing(s, d, reuse = true),
          "ivfsq" -> ivfSqListing(s, d, reuse = true),
          "sq" -> sqListing(s, d, reuse = true),
          "knn" -> knnJoinListing(s, d, reuse = true)
            .filter(col("query_id") < NQueries))
          .map { case (m, df) =>
            df.select(lit(m).as("method"), col("query_id"),
              col("neighbor_id"))
          }.reduce(_.unionAll(_))
        approx
          .join(exact.withColumn("hit", lit(1L)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy("method")
          .agg(countDistinct("query_id").as("n_queries"),
            coalesce(sum(col("hit")), lit(0L)).as("hits"))
          .crossJoin(broadcast(exact.agg(count(lit(1)).as("n_exact"))))
          .select(col("method"), col("n_queries"), col("n_exact"),
            // 0.3 group = the probe-fraction-bound indexes on this
            // near-isotropic fixture (recall tracks nProbe/nlist — a
            // data property, see the s07 scaladoc); ivfsq joins ivfpq
            // there (same router, same probed fraction). Its
            // clustered-corpus recall vs s13 is the SCALE.md 5M arm.
            (col("hits") >= col("n_exact") *
              when(col("method").isin("ivf", "ivfpq", "ivfsq", "knn"),
                0.3).otherwise(0.5))
              .as("recall_ok"))
          .orderBy("method")
      },
      Some("WITH n AS (SELECT vec_id, embedding, " +
        "sqrt(list_sum(list_transform(list_zip(embedding, embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS nrm " +
        "FROM embeddings), " +
        "p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
        "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
        "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
        "(a.nrm * b.nrm) AS cos FROM n a JOIN n b " +
        s"ON a.vec_id < $NQueries AND a.vec_id <> b.vec_id), " +
        "r AS (SELECT query_id, ROW_NUMBER() OVER " +
        "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk " +
        "FROM p), " +
        s"ex AS (SELECT query_id FROM r WHERE rnk <= $K), " +
        "m(method) AS (VALUES ('ivf'), ('ivf_trained'), ('ivfpq'), " +
        "('ivfsq'), ('knn'), ('lsh'), ('pq'), ('sq')) " +
        "SELECT m.method, " +
        "(SELECT CAST(COUNT(DISTINCT query_id) AS BIGINT) FROM ex) " +
        "AS n_queries, " +
        "(SELECT CAST(COUNT(*) AS BIGINT) FROM ex) AS n_exact, " +
        "true AS recall_ok FROM m ORDER BY method"))
  )
}
