package graft.api

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The reusable library surface for LLM-data-pipeline operators: every
  * transform takes an arbitrary DataFrame plus column names and returns a
  * DataFrame, so they compose with any schema — the gate queries in
  * `graft.ops` are thin bindings of these onto the fixture tables (which
  * keeps this whole API on the hash-checked path).
  *
  * Scale notes live with each operator; the common theme is that pair
  * generation is always an equi-join on a bucket/band key (shuffle
  * partitioned by bucket), never a cross product, and per-document ops
  * are pure map work.
  */
object Graft {

  /** The clustering/packing ops order and shard by the id NUMERICALLY
    * (`cluster_id` = component min; shard = id mod shards); a
    * non-numeric id would silently cast to null instead of failing, so
    * reject it up front. Ops that only carry the id through (dedup,
    * similarity, text stats) stay schema-agnostic. */
  private def requireNumericId(df: DataFrame, idCol: String,
      op: String): Unit = {
    val dt = df.schema(idCol).dataType
    require(dt.isInstanceOf[org.apache.spark.sql.types.NumericType],
      s"$op: id column '$idCol' must be numeric (found $dt) — " +
        "cluster/shard math is defined on numeric ids")
  }

  // ---------------------------------------------------------------- text

  /** Distinct word n-gram shingles: (id, s). Documents shorter than n
    * words yield no rows. The n-gram pass is the native
    * [[graft.functions.WordNgrams]] kernel — the interpreted
    * `transform(sequence)` HOF it replaces was 78% of this build at
    * 150k docs (r11 TextProbe), and every shingle consumer (d02/d04/
    * d14/d17/d18/t13/t25) shares this pass. */
  def shingles(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame =
    df.select(col(idCol), split(col(textCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(col(idCol), explode(
        graft.functions.TextExpressions.wordNgrams(col("w"), n)).as("s"))
      .distinct()

  /** Per-document n-gram NOVELTY: the fraction of a document's distinct
    * word n-grams that appear in NO other document (corpus document
    * frequency 1) — the memorization/uniqueness diagnostic of a
    * training-data pipeline (a near-zero score marks boilerplate or a
    * near-duplicate; near-one marks content the corpus has nowhere
    * else). Shingles hash to a 60-BIT md5 slice (seed "0:", first 15
    * hex chars — [[bigramLogProb]]'s width, NOT the 32-bit minhash h0:
    * df=1 detection is maximally collision-sensitive, and at corpus
    * scale billions of distinct shingles in a 2³² space would inflate
    * df and bias novelty toward 0, silently defeating the diagnostic;
    * a 2⁶⁰ space keeps expected collisions ≪ 1 per billion shingles)
    * so only the 8-byte hash ever shuffles, never shingle text: one
    * shuffle keyed by hash for the document-frequency count, one keyed
    * by id for the per-document fold — both map-side-combined
    * hash aggregations, the d01 digest discipline. Hash collisions can
    * only merge two shingles (deterministically), which the oracle
    * replays exactly. Documents with fewer than n words have no
    * shingles and are reported with n_shingles=0 and a null score by
    * the t25 gate's left join. */
  def ngramNoveltyScores(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3): DataFrame = {
    require(n > 0, s"ngramNoveltyScores(n=$n)")
    ngramNoveltyScoresFromShingles(shingles(df, idCol, textCol, n), idCol)
  }

  /** [[ngramNoveltyScores]] over a PRECOMPUTED distinct shingle table
    * (id, s) — see [[ngramJaccardPairsFromShingles]]. */
  def ngramNoveltyScoresFromShingles(sh: DataFrame,
      idCol: String): DataFrame = {
    val hashed = sh
      .select(col(idCol), graft.functions.TextExpressions.hexSliceLong(
        md5(concat(lit("0:"), col("s"))), 1, 15).as("h"))
      .distinct()
    val dfreq = hashed.groupBy(col("h"))
      .agg(count(lit(1)).as("df"))
    hashed.join(dfreq, "h")
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_shingles"),
        sum(when(col("df") === 1, 1L).otherwise(0L)).as("n_unique"))
      .select(col(idCol), col("n_shingles"),
        round(col("n_unique").cast("double") / col("n_shingles"), 4)
          .as("novelty"))
  }

  /** Whitespace + BPE-ish regex token counts per row. */
  def tokenCounts(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.select(col(idCol),
      size(split(col(textCol), "\\s+")).cast("bigint").as("n_ws"),
      regexp_count(col(textCol), lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"))
        .cast("bigint").as("n_bpe"))

  /** Length/word-length/stopword-ratio quality signals per row. */
  def qualityScore(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val words = size(split(col(textCol), " ")).cast("bigint")
    val chars = length(col(textCol)).cast("bigint")
    val stops = regexp_count(col(textCol), lit("\\b(the|a)\\b")).cast("bigint")
    df.select(col(idCol),
      chars.as("chars"), words.as("words"),
      round((chars - words + lit(1)).cast("double") / words, 4).as("avg_wlen"),
      round(stops.cast("double") / words, 4).as("stop_ratio"))
  }

  /** The argmax-in-profile-order prediction expression of [[langId]] —
    * row-local, so pipeline composers ([[curate]]) can ride it on an
    * existing scan instead of paying a separate langId pass + semi
    * join. */
  private def langIdPred(text: Column,
      profiles: Seq[(String, String)]): Column = {
    val scores = profiles.map { case (_, re) =>
      regexp_count(text, lit(s"\\b($re)\\b"))
    }
    profiles.zipWithIndex.foldRight(
      lit(profiles.last._1): Column) { case (((lang, _), i), els) =>
      if (i == profiles.size - 1) els
      else when(scores.drop(i + 1).map(scores(i) >= _).reduce(_ && _),
        lang).otherwise(els)
    }
  }

  /** Stopword-profile language ID; profiles are (lang, regex-alternation)
    * pairs scored by hit count, argmax in profile order. */
  def langId(df: DataFrame, idCol: String, textCol: String,
      profiles: Seq[(String, String)]): DataFrame =
    df.select(col(idCol),
      langIdPred(col(textCol), profiles).as("pred_lang"))

  /** PII patterns shared by [[redactPii]] and its oracle: RE2-compatible
    * (no backreferences/lookaround), so DuckDB applies them verbatim. */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "email" -> "[a-zA-Z0-9._%+-]+@[a-zA-Z0-9.-]+\\.[a-zA-Z]{2,}",
    "phone" -> "\\b[0-9]{3}[-. ][0-9]{3}[-. ][0-9]{4}\\b",
    "ipv4" -> "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b")

  /** PII scrub for training corpora: every match of each pattern is
    * replaced with `[<NAME>]` and counted. Pure codegen map work
    * (regexp_count + regexp_replace), zero shuffle — the redaction pass
    * rides the same scan as any other per-document op. Patterns apply in
    * [[PiiPatterns]] order (email before ipv4 so `a@1.2.3.4`-style text
    * redacts deterministically on both engines). */
  def redactPii(df: DataFrame, idCol: String, textCol: String,
      patterns: Seq[(String, String)] = PiiPatterns): DataFrame = {
    val counts = patterns.map { case (name, re) =>
      regexp_count(col(textCol), lit(re)).cast("bigint").as(s"n_$name")
    }
    val redacted = patterns.foldLeft(col(textCol)) { case (c, (name, re)) =>
      regexp_replace(c, re, s"[${name.toUpperCase}]")
    }
    df.select(col(idCol) +: counts :+ redacted.as("redacted"): _*)
  }

  /** Character-trigram language ID: count every 3-char window of the
    * lowercased text against the (lang, trigram) profile, argmax per
    * document (count desc, then lang asc for a deterministic tie),
    * `default` when no profile trigram occurs. Materially finer-grained
    * than stopword regex counting ([[langId]]), and as of r4 a single
    * native codegen pass per row ([[graft.functions.TrigramLangIdExpr]]
    * — the profile compiles into the expression): map-only, ZERO
    * shuffle (the earlier formulation exploded one row per text
    * position, broadcast-joined the profile and ran a window argmax —
    * two shuffles and a per-window string allocation). */
  def trigramLangId(df: DataFrame, idCol: String, textCol: String,
      profiles: Seq[(String, Seq[String])],
      default: String): DataFrame =
    df.select(col(idCol),
      // coalesce: a NULL text row still reports the default (the old
      // left-join formulation did; a null-intolerant expression alone
      // would propagate the NULL)
      coalesce(graft.functions.TextExpressions.trigramLangId(
        lower(col(textCol)), profiles, default), lit(default))
        .as("pred_lang"))

  // --------------------------------------------------------------- dedup

  /** Exact dedup groups: one row per distinct content digest with the
    * kept id and duplicate count. */
  def exactDedup(df: DataFrame, idCol: String, textCol: String): DataFrame =
    df.groupBy(sha2(col(textCol).cast("binary"), 256).as("h"))
      .agg(min(idCol).as("keep_id"), count(lit(1)).as("dups"))
      .select("keep_id", "dups")

  /** Incremental exact dedup: dedup a NEW batch of documents against an
    * existing digest index WITHOUT rescanning the corpus — the shape
    * production pipelines actually run (the corpus is deduped once;
    * every later crawl shard arrives incrementally). `priorIndex` is
    * (digestCol, keeperCol): one row per already-kept content digest.
    * Returns one row per new doc: its digest, its verdict — 'kept' (new
    * content), 'dup_of_index' (bytes already in the corpus),
    * 'dup_in_batch' (duplicate within the new batch; minimum id wins) —
    * and `dup_of` (the id it duplicates, NULL when kept). Append the
    * kept rows' (digest, id) to the index and the pipeline is ready for
    * the next shard.
    *
    * Scale shape: the batch's digests are map work on the scan; the
    * within-batch keeper is one aggregation and the index probe one
    * equi-join, BOTH hash-partitioned by digest so the planner reuses
    * one exchange of the shard. Store the index bucketed by digest and
    * the probe is co-located: the corpus-sized side never reshuffles
    * for a shard-sized batch — that asymmetry is the whole point of
    * incremental dedup at 100 TB. */
  def incrementalDedup(newDocs: DataFrame, idCol: String, textCol: String,
      priorIndex: DataFrame, digestCol: String = "digest",
      keeperCol: String = "keep_id"): DataFrame = {
    val d = newDocs.select(col(idCol),
      sha2(col(textCol).cast("binary"), 256).as("digest"))
    val batchKeeper = d.groupBy("digest")
      .agg(min(col(idCol)).as("batch_keeper"))
    d.join(priorIndex.select(col(digestCol).as("digest"),
        col(keeperCol).as("index_keeper")), Seq("digest"), "left")
      .join(batchKeeper, Seq("digest"))
      .select(col(idCol), col("digest"),
        when(col("index_keeper").isNotNull, lit("dup_of_index"))
          .when(col(idCol) =!= col("batch_keeper"), lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        when(col("index_keeper").isNotNull, col("index_keeper"))
          .when(col(idCol) =!= col("batch_keeper"), col("batch_keeper"))
          .as("dup_of"))
  }

  /** [[incrementalDedup]] with a Bloom-filter pre-prune of the index
    * probe — identical EXACT results (the filter only routes rows), but
    * batch rows whose digest is definitely-not-indexed skip the
    * corpus-sized equi-join entirely. In an incremental ingest most
    * arriving content is new, so at 100 TB the probe join receives the
    * might-contain sliver instead of the whole shard — the same
    * pruning Spark's own InjectRuntimeFilter applies to selective
    * joins, here made explicit because the index outlives the query.
    *
    * The filter is built DISTRIBUTED over `xxhash64(digest)` in one
    * mergeable aggregation pass (`DataFrameStatFunctions.bloomFilter`),
    * and the driver then embeds the finished sketch as a constant so
    * probing rides the scan as a codegen'd map filter
    * (`BloomFilterMightContain` requires a constant — it deserializes
    * the sketch once per task, not per row). Driver memory holds only
    * the sketch: ~`-log2(fpp)·1.44` bits per indexed item (~0.9 GB per
    * 10⁹ items at the 3% default) — the membership analog of a
    * broadcast dimension table, NOT a corpus collect. Build it once per
    * ingest cycle and reuse across shards; false positives cost one
    * extra probe row each, false negatives cannot happen, so results
    * never depend on `fpp`. */
  def bloomIncrementalDedup(newDocs: DataFrame, idCol: String,
      textCol: String, priorIndex: DataFrame, digestCol: String = "digest",
      keeperCol: String = "keep_id", expectedItems: Long = 0L,
      fpp: Double = 0.03): DataFrame = {
    require(fpp > 0.0 && fpp < 1.0,
      s"bloomIncrementalDedup(fpp=$fpp) must be in (0, 1)")
    val items =
      if (expectedItems > 0L) expectedItems
      else math.max(1L, priorIndex.count())
    val bf = priorIndex
      .select(xxhash64(col(digestCol)).as("xh"))
      .stat.bloomFilter("xh", items, fpp)
    val out = new java.io.ByteArrayOutputStream()
    bf.writeTo(out)
    val bfLit = org.apache.spark.sql.catalyst.expressions.Literal
      .create(out.toByteArray,
        org.apache.spark.sql.types.BinaryType)
    def mightContain(c: Column): Column =
      org.apache.spark.sql.graft.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(
          bfLit,
          org.apache.spark.sql.graft.Bridge.expression(xxhash64(c))))
    val d = newDocs.select(col(idCol),
      sha2(col(textCol).cast("binary"), 256).as("digest"))
    val batchKeeper = d.groupBy("digest")
      .agg(min(col(idCol)).as("batch_keeper"))
    val maybe = d.filter(mightContain(col("digest")))
      .join(priorIndex.select(col(digestCol).as("digest"),
        col(keeperCol).as("index_keeper")), Seq("digest"), "left")
    val fresh = d.filter(!mightContain(col("digest")))
      .withColumn("index_keeper",
        lit(null).cast(priorIndex.schema(keeperCol).dataType))
    maybe.unionByName(fresh)
      .join(batchKeeper, Seq("digest"))
      .select(col(idCol), col("digest"),
        when(col("index_keeper").isNotNull, lit("dup_of_index"))
          .when(col(idCol) =!= col("batch_keeper"), lit("dup_in_batch"))
          .otherwise(lit("kept")).as("status"),
        when(col("index_keeper").isNotNull, col("index_keeper"))
          .when(col(idCol) =!= col("batch_keeper"), col("batch_keeper"))
          .as("dup_of"))
  }

  /** MinHash signature columns m0..m{k-1} per id: seeded-md5 slices
    * parsed to BIGINT (portable across engines — fixed-width hex order ==
    * numeric order, and DuckDB parses the same slice via
    * `('0x' || substring(...))::BIGINT`). Numeric slices matter twice at
    * scale: the per-id MIN aggregation runs as a HashAggregate (string
    * buffers force a SortAggregate — two extra sorts around the shuffle),
    * and the shuffle carries 8-byte longs instead of hex strings. Codegen
    * CSE shares each md5 digest across its 4 slices. */
  def minhashSignatures(sh: DataFrame, idCol: String,
      k: Int = 32): DataFrame = {
    val hashed = sh.select(col(idCol) +:
      (0 until k).map { i =>
        val (seed, slice) = (i / 4, i % 4)
        graft.functions.TextExpressions.hexSliceLong(
          md5(concat(lit(s"$seed:"), col("s"))), 8 * slice + 1, 8)
          .as(s"h$i")
      }: _*)
    val minCols = (0 until k).map(i => min(s"h$i").as(s"m$i"))
    hashed.groupBy(idCol).agg(minCols.head, minCols.tail: _*)
  }

  /** Near-duplicate pairs by MinHash+LSH banding: (id_a, id_b, est_jac)
    * for pairs whose estimated Jaccard clears `threshold`.
    *
    * `maxBandBucket` caps the per-(band, hash) bucket size before the
    * candidate self-join: a bucket of b identical band-signatures
    * contributes ~b²/2 candidate rows, so ONE mass-duplicated template
    * (SEO farms, licence boilerplate) with 10⁶ copies would put 5·10¹¹
    * pairs through the shuffle. An over-cap bucket is near-certainly a
    * mass-duplicated template — exactly the mass [[exactDedup]] /
    * [[normalizeText]]+[[exactDedup]] removes for a digest-shuffle
    * first (run those upstream; pairwise MinHash on a million copies of
    * one template computes nothing the digest didn't). The default
    * tripwire (`hotBandGuard`, d04's pattern) therefore fails loudly
    * instead of silently truncating: pass a finite `maxBandBucket` to
    * adopt skip-the-bucket semantics explicitly, or raise the guard to
    * force the unbounded join. */
  def minhashLshPairs(df: DataFrame, idCol: String, textCol: String,
      k: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBandBucket: Int = Int.MaxValue,
      hotBandGuard: Int = 100000): DataFrame =
    minhashLshPairsFromShingles(shingles(df, idCol, textCol), idCol,
      k, bands, threshold, maxBandBucket, hotBandGuard)

  /** [[minhashLshPairs]] over a PRECOMPUTED distinct shingle table
    * (id, s) — the entry point for callers that share one materialized
    * shingle build across several sketch ops (the r9 verdict: four
    * gate queries each re-ran the identical shingles → distinct
    * shuffle in one run). Semantically identical to the text variant
    * by construction. */
  def minhashLshPairsFromShingles(sh: DataFrame, idCol: String,
      k: Int = 32, bands: Int = 8, threshold: Double = 0.5,
      maxBandBucket: Int = Int.MaxValue,
      hotBandGuard: Int = 100000): DataFrame = {
    // bands > k would make r = 0 (every band hashes only its index, so
    // every document collides in every band and the candidate join
    // silently degenerates to all-pairs O(n²)); k % bands != 0 would
    // silently drop trailing signature columns from the banding.
    require(bands > 0 && k >= bands && k % bands == 0,
      s"minhashLshPairs: k ($k) must be a positive multiple of bands ($bands)")
    require(maxBandBucket > 0, s"minhashLshPairs($maxBandBucket)")
    val sig = minhashSignatures(sh, idCol, k)
    val r = k / bands
    val bandCols = (0 until bands).map { j =>
      md5(concat_ws(",",
        (0 until r).map(x => col(s"m${j * r + x}")) :+ lit(j.toString): _*))
    }
    val allBands = sig.select(col(idCol),
      posexplode(array(bandCols: _*)).as(Seq("band", "bh")))
    val bandsDf =
      if (maxBandBucket != Int.MaxValue) {
        val quiet = allBands.groupBy("band", "bh")
          .agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") <= maxBandBucket)
          .select("band", "bh")
        allBands.join(quiet, Seq("band", "bh"))
      } else if (hotBandGuard != Int.MaxValue) {
        // In-plan tripwire: a separate guard JOB would recompute the
        // whole signature pipeline (measured 2× on d02); instead the
        // breaching buckets (normally zero rows) left-join back onto
        // the band rows and raise_error fires BEFORE the self-join can
        // expand them. The (band, bh) aggregation reuses the exchange
        // the candidate join needs anyway.
        val breach = allBands.groupBy("band", "bh")
          .agg(count(lit(1)).as("bsz"))
          .filter(col("bsz") > hotBandGuard)
        allBands.join(breach, Seq("band", "bh"), "left")
          .select(col(idCol), col("band"),
            when(col("bsz").isNotNull, raise_error(concat(
              lit("minhashLshPairs: a band bucket holds "), col("bsz"),
              lit(" documents (> hotBandGuard); its self-join alone is " +
                "~bsz^2/2 candidate rows. Run exactDedup upstream or " +
                "pass maxBandBucket to skip over-cap buckets, or raise " +
                "hotBandGuard to force the unbounded join."))))
              .otherwise(col("bh")).as("bh"))
      } else allBands
    val cand = bandsDf.as("a")
      .join(bandsDf.as("b"),
        col("a.band") === col("b.band") && col("a.bh") === col("b.bh") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    val agree = (0 until k)
      .map(i => when(col(s"sa.m$i") === col(s"sb.m$i"), 1).otherwise(0))
      .reduce(_ + _)
    cand
      .join(sig.as("sa"), col("id_a") === col(s"sa.$idCol"))
      .join(sig.as("sb"), col("id_b") === col(s"sb.$idCol"))
      .select(col("id_a"), col("id_b"),
        (agree.cast("double") / k).as("est_jac"))
      .filter(col("est_jac") >= threshold)
  }

  /** Gopher-style repetition signals per row: word count, duplicate-word
    * fraction (1 - distinct/total) and the fraction of word bigrams taken
    * by the single most frequent bigram — the standard cheap screens for
    * boilerplate/spam before a corpus reaches training. Explodes are
    * partition-local; only (id, word) / (id, bigram) rows shuffle for the
    * two aggregations, so the pass scales with the scan. */
  def repetitionSignals(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val w = df.select(col(idCol), split(col(textCol), " ").as("w"))
    val wordStats = w
      .select(col(idCol), explode(col("w")).as("word"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("nw"), countDistinct("word").as("ndw"))
    val bgStats = w
      .filter(size(col("w")) >= 2)
      .select(col(idCol), explode(
        graft.functions.TextExpressions.wordNgrams(col("w"), 2)).as("bg"))
      .groupBy(col(idCol), col("bg")).agg(count(lit(1)).as("c"))
      .groupBy(idCol).agg(sum("c").as("nbg"), max("c").as("maxbg"))
    wordStats.join(bgStats, Seq(idCol), "left")
      .select(col(idCol),
        col("nw").cast("bigint").as("words"),
        round(lit(1.0) - col("ndw").cast("double") / col("nw"), 4)
          .as("dup_word_frac"),
        coalesce(round(col("maxbg").cast("double") / col("nbg"), 4),
          lit(0.0)).as("top_bigram_frac"))
  }

  /** Duplicated-passage statistics per document (the C4/RefinedWeb
    * passage-dedup signal): the text splits into tumbling `unitWords`-word
    * passages, each passage is md5-keyed, and a passage counts as
    * DUPLICATED when its exact content occurs more than once corpus-wide
    * (in another document or repeated within one). Returns per document
    * the passage count, duplicated-passage count, and duplicated
    * fraction — the quality screen pipelines threshold on before
    * training, and the unit a passage-level deduper would drop.
    *
    * Scale shape: passage construction is a per-row HOF (map-only,
    * partition-local explode); the corpus-wide occurrence count is one
    * hash aggregation over (passage-md5) rows — map-side combined, the
    * payload never shuffles, keys are fixed-width digests; the join back
    * is an equi-join on the digest. Full md5 keys (not truncated longs):
    * at 10^12 passages a 64-bit key WOULD birthday-collide and
    * overcount duplication. */
  def duplicatePassageStats(df: DataFrame, idCol: String, textCol: String,
      unitWords: Int = 10): DataFrame = {
    require(unitWords > 0, s"duplicatePassageStats($unitWords)")
    // WordChunks kernel + md5 OUTSIDE the explode (both halves of the
    // old lambda ran interpreted per chunk).
    val units = df
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol), explode(
        graft.functions.TextExpressions.wordChunks(col("w"), unitWords))
        .as("unit"))
      .select(col(idCol), md5(col("unit")).as("uh"))
    val occ = units.groupBy("uh").agg(count(lit(1)).as("occ"))
    units.join(occ, "uh")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_units"))
      .select(col(idCol), col("n_units"), col("n_dup_units"),
        round(col("n_dup_units").cast("double") / col("n_units"), 4)
          .as("dup_frac"))
  }

  /** The transform counterpart of [[duplicatePassageStats]]: REMOVES
    * every tumbling `unitWords`-word passage whose exact content occurs
    * more than `maxOcc` times corpus-wide and reassembles each document
    * from its surviving passages in original order (the
    * C4/RefinedWeb-style boilerplate scrub — repeated navigation
    * blocks, cookie banners, licence footers). Returns (id, n_units,
    * n_dropped, scrubbed_text); a fully-boilerplate document comes back
    * as the empty string, not NULL.
    *
    * Scale shape: passage construction is a per-row HOF; the occurrence
    * count shuffles fixed-width digests with map-side combine; only the
    * digests that BREACH `maxOcc` survive the filter, so the drop-set
    * join is against the (small) boilerplate table; the one
    * corpus-sized shuffle is the per-doc reassembly — unavoidable, the
    * output IS the text — and it carries each passage exactly once. */
  def scrubDuplicatePassages(df: DataFrame, idCol: String,
      textCol: String, unitWords: Int = 10, maxOcc: Int = 1): DataFrame = {
    require(unitWords > 0 && maxOcc >= 1,
      s"scrubDuplicatePassages($unitWords, $maxOcc)")
    val units = df
      .select(col(idCol), split(col(textCol), " ").as("w"))
      .select(col(idCol), posexplode(
        graft.functions.TextExpressions.wordChunks(col("w"), unitWords))
        .as(Seq("pos", "unit")))
      .withColumn("uh", md5(col("unit")))
    val hot = units.groupBy("uh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc)
    units.join(hot, Seq("uh"), "left")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_units"),
        sum(when(col("occ").isNotNull, 1L).otherwise(0L)).as("n_dropped"),
        // order-stable reassembly: collect (pos, unit) structs of the
        // surviving passages, sort by pos, join — collect_list order is
        // nondeterministic, the sort is what makes the text exact
        array_join(expr(
          "transform(array_sort(collect_list(" +
            "CASE WHEN occ IS NULL THEN struct(pos, unit) END)), " +
            "x -> x.unit)"), " ").as("scrubbed_text"))
  }

  /** The keep decision that closes the dedup loop: cluster near-dup
    * pairs ([[dupClusters]]' min-id components) and keep exactly one
    * document per cluster — the highest-`scoreCol` member, ties to the
    * smaller id (the "keep longest/best-quality" heuristic every corpus
    * curation pipeline applies after pair generation). Output: one row
    * per document (id, cluster_id, score, kept); filtering `kept` is
    * the deduplicated corpus.
    *
    * Scale shape: clustering is [[dupClusters]]' equi-join propagation;
    * the keep pick is ONE hash shuffle on cluster_id and a row_number
    * over clusters, which are near-clique SMALL (bounded by dup-group
    * size, not corpus size) — no skew risk beyond what the pair
    * generator already bounded. */
  def keepBestPerCluster(df: DataFrame, idCol: String, scoreCol: String,
      pairs: DataFrame, aCol: String, bCol: String): DataFrame =
    keepBestFromClusters(df, idCol, scoreCol,
      dupClusters(df, idCol, pairs, aCol, bCol))

  /** The keep pick of [[keepBestPerCluster]] over ALREADY-computed
    * clusters (`idCol`, `cluster_id` rows — [[dupClusters]]' output or
    * a cached copy of it): one hash shuffle on cluster_id + a
    * row_number over near-clique-small clusters. Split out so a
    * pipeline that has just clustered (d07's gate, an incremental-dedup
    * loop) does not pay the pair generation and propagation a second
    * time — the r8 verdict measured the fused form re-running d07's
    * whole clustering inside d16. */
  def keepBestFromClusters(df: DataFrame, idCol: String, scoreCol: String,
      clusters: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id")
      .orderBy(col(scoreCol).desc, col(idCol))
    clusters.join(df.select(col(idCol), col(scoreCol)), Seq(idCol))
      .withColumn("kept", row_number().over(w) === 1)
      .select(col(idCol), col("cluster_id"), col(scoreCol), col("kept"))
  }

  /** SLIDING-window repeated-span detection — the exact-substring dedup
    * signal of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better": every `windowWords`-word window at every word
    * offset (stride 1, where [[duplicatePassageStats]]' tumbling
    * windows only see aligned repeats) is keyed by md5, windows whose
    * exact content occurs more than `maxOcc` times corpus-wide are
    * flagged, and a document's flagged windows merge into covered
    * spans. Returns per doc: total windows, flagged windows, and the
    * number of distinct word positions covered by any flagged window —
    * the mass an exact-substring scrubber would cut. Documents shorter
    * than `windowWords` words report zeros.
    *
    * Scale shape: window construction is a per-row HOF (a stride-1 doc
    * contributes len−w+1 digest rows — w× the tumbling variant's, the
    * price of offset-invariance); the occurrence count shuffles
    * fixed-width digests map-side combined; the flag-back is an
    * equi-join on the digest against only the BREACHING digests; and
    * covered positions expand w rows per flagged window (bounded by
    * the flagged mass, not the corpus) before one per-doc distinct
    * count. Full md5 keys for the same birthday-bound reason as
    * [[duplicatePassageStats]]. */
  def repeatedSpanStats(df: DataFrame, idCol: String, textCol: String,
      windowWords: Int = 10, maxOcc: Int = 1): DataFrame = {
    require(windowWords > 0 && maxOcc >= 1,
      s"repeatedSpanStats($windowWords, $maxOcc)")
    val base = df.select(col(idCol), split(col(textCol), " ").as("w"))
    // The window pass is the WordNgrams kernel (empty array below
    // windowWords words — the old CASE guard built in) with the md5
    // applied OUTSIDE the explode, where it codegens; the old
    // md5-inside-the-transform-lambda ran interpreted per window.
    val wins = base
      .select(col(idCol), posexplode(
        graft.functions.TextExpressions.wordNgrams(col("w"), windowWords))
        .as(Seq("pos", "s")))
      .select(col(idCol), col("pos"), md5(col("s")).as("wh"))
    val hot = wins.groupBy("wh").agg(count(lit(1)).as("occ"))
      .filter(col("occ") > maxOcc)
    val flagged = wins.join(hot, Seq("wh"), "left_semi")
    val covered = flagged
      .select(col(idCol), explode(expr(
        s"sequence(pos, pos + $windowWords - 1)")).as("p"))
      .groupBy(idCol).agg(countDistinct("p").as("n_covered"))
    val winStats = wins.groupBy(idCol)
      .agg(count(lit(1)).as("n_windows"))
    val flagStats = flagged.groupBy(idCol)
      .agg(count(lit(1)).as("n_dup_windows"))
    df.select(col(idCol))
      .join(winStats, Seq(idCol), "left")
      .join(flagStats, Seq(idCol), "left")
      .join(covered, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_windows"), lit(0L)).as("n_windows"),
        coalesce(col("n_dup_windows"), lit(0L)).as("n_dup_windows"),
        coalesce(col("n_covered"), lit(0L)).as("n_covered"))
  }

  /** Corpus-wide adjacent-symbol-pair counts at the character level —
    * the statistic the first BPE merge iteration maximizes (pair counts
    * weighted by word frequency). Returns the `topK` pairs by count
    * (ties broken by pair value, deterministic).
    *
    * The classic tokenizer-training shape: one pass builds the word
    * vocabulary (map-side-combined count per word — the only shuffle
    * that scales with the corpus, and it carries (word, count) rows,
    * not text); pair expansion then runs over DISTINCT words only —
    * at web scale the vocabulary is millions of rows where the corpus
    * is trillions — and the final pair aggregation is bounded by the
    * symbol alphabet squared.
    *
    * Pair expansion is explode-positions + NATIVE substring, not a
    * `transform(sequence(...), i -> substring(...))` lambda: the HOF
    * lambda evaluates interpreted per vocab row, which is invisible on
    * a corpus-bounded vocabulary (the r12 TextProbe adjudication
    * measured the two within 15% at 3 scales) but becomes the term
    * that costs on a web-scale vocabulary of millions of distinct
    * words. The explode shape keeps every expression inside codegen at
    * ANY vocab size — no threshold, no cliff — and words are short, so
    * the m09 payload-rides-the-explode amplification (a long payload
    * column duplicated per exploded row) does not apply to the (wc,
    * word) rows exploded here. */
  def bpePairCounts(df: DataFrame, textCol: String,
      topK: Int = 20): DataFrame = {
    require(topK > 0, s"bpePairCounts($topK)")
    val vocab = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 2)
      .groupBy("word").agg(count(lit(1)).as("wc"))
    vocab
      .select(col("wc"), col("word"),
        explode(expr("sequence(1, length(word) - 1)")).as("i"))
      .select(col("wc"), expr("substring(word, i, 2)").as("pair"))
      .groupBy("pair").agg(sum("wc").as("cnt"))
      .orderBy(col("cnt").desc, col("pair"))
      .limit(topK)
  }

  /** Vocabulary ceiling for [[bpeTrain]]'s local merge loop: up to
    * this many distinct words collect to the driver (~a few hundred
    * MB of heap at 4M typical words — weigh against a driver that
    * holds multi-GB broadcast tables routinely). Past it the trainer
    * falls back to the distributed per-merge loop (capped at 64
    * merges) rather than risk a driver OOM. */
  val BpeLocalVocabMax: Long = 4L * 1000 * 1000

  /** Unsigned UTF-8 byte-order comparison — Spark's binary string
    * ordering (UTF8String), which differs from Java's UTF-16
    * `compareTo` for supplementary code points and is what the
    * distributed loop's `ORDER BY pair ASC` uses. */
  private def utf8Lt(a: String, b: String): Boolean = {
    val x = a.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    val y = b.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    var i = 0
    val n = math.min(x.length, y.length)
    while (i < n) {
      val c = (x(i) & 0xff) - (y(i) & 0xff)
      if (c != 0) return c < 0
      i += 1
    }
    x.length < y.length
  }

  /** Driver-side BPE merge loop over a collected weighted vocabulary —
    * [[bpeTrain]]'s local regime. Incremental pair-count maintenance
    * (the classic trainer shape): a `stats` map holds every adjacent
    * pair's weighted count and a `where` index maps each pair to the
    * words containing it, so a merge re-counts only the affected
    * words. Semantics replay the distributed loop exactly: counts
    * over ALL adjacent positions (overlapping runs included), winner
    * = (count desc, then the "l r" pair string asc in UTF-8 byte
    * order), rewrite = leftmost-first non-overlapping, initial tokens
    * = code points (Spark `substring` semantics, so a surrogate pair
    * is ONE token on both paths). */
  private def bpeMergeLoopLocal(vocabIn: Array[(String, Long)],
      merges: Int): Seq[(Long, String, String, Long)] = {
    import scala.collection.mutable
    val words: Array[Array[String]] = vocabIn.map { case (w, _) =>
      w.codePoints().toArray
        .map(cp => new String(Character.toChars(cp)))
    }
    val wcs: Array[Long] = vocabIn.map(_._2)
    val stats = mutable.HashMap.empty[(String, String), Long]
    val where =
      mutable.HashMap.empty[(String, String), mutable.Set[Int]]
    def index(wi: Int): Unit = {
      val t = words(wi); val wc = wcs(wi); var i = 0
      while (i < t.length - 1) {
        val p = (t(i), t(i + 1))
        stats.update(p, stats.getOrElse(p, 0L) + wc)
        where.getOrElseUpdate(p, mutable.Set.empty) += wi
        i += 1
      }
    }
    def unindex(wi: Int): Unit = {
      val t = words(wi); val wc = wcs(wi); var i = 0
      while (i < t.length - 1) {
        val p = (t(i), t(i + 1))
        val c = stats.getOrElse(p, 0L) - wc
        if (c == 0L) stats.remove(p) else stats.update(p, c)
        where.get(p).foreach(_ -= wi)
        i += 1
      }
    }
    var wi = 0
    while (wi < words.length) { index(wi); wi += 1 }
    val steps = Seq.newBuilder[(Long, String, String, Long)]
    var k = 1
    while (k <= merges && stats.nonEmpty) {
      var bestPair: (String, String) = null
      var bestStr: String = null
      var bestCnt = Long.MinValue
      for ((p, c) <- stats) {
        if (c >= bestCnt) {
          val s = p._1 + " " + p._2
          if (c > bestCnt || utf8Lt(s, bestStr)) {
            bestPair = p; bestStr = s; bestCnt = c
          }
        }
      }
      val (l, r) = bestPair
      val merged = l + r
      steps += ((k.toLong, bestStr, merged, bestCnt))
      val affected =
        where.getOrElse(bestPair, mutable.Set.empty[Int]).toArray
      var j = 0
      while (j < affected.length) {
        val w = affected(j)
        unindex(w)
        val t = words(w)
        val out = Array.newBuilder[String]
        var i = 0
        while (i < t.length) {
          if (i < t.length - 1 && t(i) == l && t(i + 1) == r) {
            out += merged; i += 2
          } else { out += t(i); i += 1 }
        }
        words(w) = out.result()
        index(w)
        j += 1
      }
      k += 1
    }
    steps.result()
  }

  /** Below this vocabulary size the local merge loop wins even at
    * small merge counts — collecting a quarter-million weighted words
    * is cheaper than ANY number of vocabulary-sized Spark rounds.
    * Above it, the driver collect itself is the cost: measured at a
    * 2M-word vocabulary with merges = 8, local read 14.1 s (the
    * collect dominates) vs 5.2 s distributed (r16) — so a multi-
    * million-word vocabulary only goes local when the merge count
    * actually NEEDS the local loop (merges > 64, the distributed
    * cap's territory, where 30k vocabulary-sized rounds would dwarf
    * any collect). */
  val BpeLocalSmallVocab: Long = 256L * 1024

  /** Multi-iteration BPE TRAINER — [[bpePairCounts]] run to a
    * vocabulary: `merges` rounds of (count adjacent token pairs over
    * the weighted word vocabulary → merge the winner everywhere),
    * the loop every byte-pair tokenizer training runs (r14 verdict
    * item 5). Returns the merge TABLE (step, pair, merged, cnt) —
    * the artifact a tokenizer ships. Deterministic: the winner is
    * (count desc, pair asc), so both engines replay the identical
    * sequence.
    *
    * Scale shape: the corpus is touched ONCE (the word-count shuffle,
    * carrying (word, count) rows, materialized); the merge loop then
    * runs over the DISTINCT vocabulary only — millions of rows at web
    * scale where the corpus is trillions — in one of two regimes
    * picked by vocabulary size:
    *
    *  - `nVocab <= localVocabMax` (the common case — even
    *    trillion-token web corpora have ~10⁸ distinct words, and BPE
    *    trainers conventionally run on a word-count table): the
    *    weighted vocabulary collects ONCE and the merge loop runs on
    *    the driver with incremental pair-count maintenance
    *    ([[bpeMergeLoopLocal]]) — the only loop shape that reaches a
    *    production tokenizer's ~30k merges, since per-merge work is
    *    proportional to the words containing the merged pair, not the
    *    vocabulary.
    *  - above it: the distributed loop — one vocabulary-sized
    *    aggregation per round (pair counts, map-side combined, keyed
    *    by the bounded pair alphabet) and one map-only rewrite; the
    *    per-round winner is a LIMIT-1 collect (one row; the
    *    kmeans-loop discipline), and the rewritten vocabulary
    *    checkpoints so round k+1's plan does not recompute rounds
    *    1..k. One driver round-trip per merge caps this regime at 64
    *    merges.
    *
    * The two regimes emit the IDENTICAL merge table (spec-pinned at
    * K=64): same all-adjacent-positions pair counting, same leftmost-
    * first non-overlapping rewrite, same (count desc, pair asc)
    * winner with the tie compared in UTF-8 BYTE order — Spark's
    * binary string ordering — not Java's UTF-16 order, and the same
    * code-point (not UTF-16 code unit) initial tokenization.
    *
    * Words are token SEQUENCES encoded as a sentinel-spaced string —
    * every token wrapped in its own leading/trailing space
    * (`" t1  t2  t3 "`): a merge of (t1, t2) is then the plain
    * left-to-right non-overlapping `replace(" t1  t2 ", " t1t2 ")`,
    * with each token's own wrapping intact on both sides of any
    * match, so consecutive same-pair runs merge exactly like BPE's
    * leftmost-first scan ("a a a a" → "aa aa", never "aa a a") and a
    * token SUFFIX can never false-match a pair boundary ("xa b" does
    * not contain pair (a, b)). Tokens themselves contain no spaces —
    * they come from whitespace-split words. */
  def bpeTrain(df: DataFrame, textCol: String, merges: Int = 8,
      localVocabMax: Long = BpeLocalVocabMax): DataFrame = {
    require(merges > 0, s"bpeTrain(merges=$merges)")
    val spark = df.sparkSession
    import spark.implicits._
    // ONE corpus shuffle either way: the weighted word vocabulary.
    // Materialized so the regime decision and the chosen loop's first
    // pass both read the checkpoint, not the corpus; the vocabulary
    // count rides the materialization as an observed metric (the r16
    // observe discipline — no separate count job).
    val obs = new org.apache.spark.sql.Observation
    val wordCounts = iterCheckpoint(df
      .select(explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy("word").agg(count(lit(1)).as("wc"))
      .observe(obs, count(lit(1)).as("n")))
    val nVocab = obs.get("n").asInstanceOf[Long]
    // Regime choice (r16): the local loop is MANDATORY past the
    // distributed cap (merges > 64 — its reason to exist) and a free
    // win on driver-trivial vocabularies; in between (big vocabulary,
    // few merges) the distributed rounds are cheaper than the collect
    // — see [[BpeLocalSmallVocab]]. Both regimes emit the IDENTICAL
    // table (spec-pinned), so this is a cost choice, never a
    // semantic one.
    if (nVocab <= localVocabMax &&
        (merges > 64 || nVocab <= BpeLocalSmallVocab)) {
      // Local regime: collect the bounded vocabulary once and run the
      // merge loop on the driver — the only loop shape that reaches a
      // production tokenizer's ~30k merges (the distributed loop pays
      // one driver round-trip + checkpoint PER MERGE: 30k Spark jobs).
      val vocab = wordCounts.collect()
        .map(r => (r.getString(0), r.getLong(1)))
      graft.ops.ListingCache.release(wordCounts)
      return bpeMergeLoopLocal(vocab, merges)
        .toDF("step", "pair", "merged", "cnt")
    }
    require(merges <= 64, s"bpeTrain(merges=$merges): the distributed " +
      s"merge loop pays one driver round-trip + checkpoint per merge " +
      s"and is capped at 64; a $nVocab-word vocabulary exceeds " +
      s"localVocabMax=$localVocabMax, so either raise localVocabMax " +
      s"(driver memory permitting) or train on a corpus sample")
    var vocab = iterCheckpoint(wordCounts
      .select(concat(lit(" "), array_join(
          expr("transform(sequence(1, length(word)), " +
            "i -> substring(word, i, 1))"), "  "), lit(" ")).as("s"),
        col("wc")))
    graft.ops.ListingCache.release(wordCounts)
    val steps = Seq.newBuilder[(Long, String, String, Long)]
    var k = 1
    var exhausted = false
    while (k <= merges && !exhausted) {
      val best = vocab
        .select(col("wc"), split(trim(col("s")), "  ").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("wc"),
          explode(expr("sequence(1, size(t) - 1)")).as("i"), col("t"))
        .select(col("wc"), concat(element_at(col("t"), col("i")),
          lit(" "), element_at(col("t"), col("i") + 1)).as("pair"))
        .groupBy("pair").agg(sum("wc").as("cnt"))
        .orderBy(col("cnt").desc, col("pair"))
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val pair = best(0).getString(0)
        val cnt = best(0).getLong(1)
        val Array(l, r) = pair.split(" ", 2)
        steps += ((k.toLong, pair, l + r, cnt))
        val old = vocab
        vocab = iterCheckpoint(vocab.select(
          org.apache.spark.sql.functions.replace(col("s"),
            lit(s" $l  $r "), lit(s" ${l + r} ")).as("s"),
          col("wc")))
        graft.ops.ListingCache.release(old)
        k += 1
      }
    }
    graft.ops.ListingCache.release(vocab)
    steps.result().toDF("step", "pair", "merged", "cnt")
  }

  /** Tokenizer APPLY — the other half of [[bpeTrain]]: encode a corpus
    * under a trained merge table and report per-document token counts
    * (`n_words`, `n_tokens`), the number every training pipeline needs
    * per document once a real tokenizer replaces the whitespace
    * heuristics (t01). Documents with no words keep a zero row.
    *
    * Scale shape: the merge table is tokenizer-sized (thousands of
    * rows at most), so collecting it is the broadcast every tokenizer
    * apply does — the merges compile into a map-only chain of
    * `replace` calls over the DISTINCT vocabulary (same sentinel-spaced
    * representation as training; sequential fold in step order is
    * exactly the training rewrite order). Up to 64 merges the chain is
    * ONE codegen'd projection (the t28 gate's plan); longer tables —
    * [[bpeTrain]]'s local loop emits production-sized ones — apply in
    * chunks of 64 replaces with a checkpoint between chunks, each
    * materialization vocabulary-sized, so per-stage codegen stays
    * bounded at the same width the single-projection path compiles.
    * The corpus itself is touched once for per-doc word counts; the
    * vocabulary join back is an equi-join on the word, dwarfed by the
    * corpus-side explode. */
  def bpeEncode(df: DataFrame, idCol: String, textCol: String,
      merges: DataFrame): DataFrame = {
    val steps = merges.select(col("step"), col("pair"), col("merged"))
      .collect().sortBy(_.getLong(0))
      .map(r => (r.getString(1), r.getString(2)))
    val words = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= 1)
      .groupBy(col(idCol), col("word")).agg(count(lit(1)).as("n"))
    val spaced = concat(lit(" "), array_join(
      expr("transform(sequence(1, length(word)), " +
        "i -> substring(word, i, 1))"), "  "), lit(" "))
    def chain(base: Column, chunk: Array[(String, String)]): Column =
      chunk.foldLeft(base) { case (acc, (pair, merged)) =>
        val Array(l, r) = pair.split(" ", 2)
        org.apache.spark.sql.functions.replace(acc,
          lit(s" $l  $r "), lit(s" $merged "))
      }
    val chunks = steps.grouped(64).toSeq
    val vocabTok =
      if (chunks.length <= 1) {
        val applied = chain(spaced, steps)
        words.select(col("word")).distinct()
          .select(col("word"),
            size(split(trim(applied), "  ")).cast("bigint").as("wt"))
      } else {
        // chunked apply: vocabulary-sized intermediates, 64 replaces
        // per codegen'd stage (the final checkpoint stays referenced
        // by the returned plan; Spark's context cleaner reclaims it)
        var v = iterCheckpoint(words.select(col("word")).distinct()
          .select(col("word"), chain(spaced, chunks.head).as("s")))
        chunks.tail.foreach { c =>
          val old = v
          v = iterCheckpoint(
            v.select(col("word"), chain(col("s"), c).as("s")))
          graft.ops.ListingCache.release(old)
        }
        v.select(col("word"),
          size(split(trim(col("s")), "  ")).cast("bigint").as("wt"))
      }
    val perDoc = words.join(vocabTok, "word")
      .groupBy(col(idCol))
      .agg(sum(col("n")).as("w"), sum(col("n") * col("wt")).as("t"))
    df.select(col(idCol)).join(perDoc, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("w"), lit(0L)).cast("bigint").as("n_words"),
        coalesce(col("t"), lit(0L)).cast("bigint").as("n_tokens"))
  }

  /** Top-`k` TF-IDF terms per document: tf = in-document occurrences,
    * idf = ln((N+1)/(df+1)) with df = number of documents containing the
    * term. The corpus size N stays a one-row broadcast (never a driver
    * `collect`), document frequencies aggregate map-side, and the rank
    * runs on the ROUNDED score so cross-engine float ordering is stable.
    * One explode + three aggregations — every join is an equi-join on the
    * term or the id. */
  def tfidfTopTerms(df: DataFrame, idCol: String, textCol: String,
      k: Int = 3, minWordLen: Int = 4): DataFrame = {
    val words = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .filter(length(col("word")) >= minWordLen)
    val tf = words.groupBy(col(idCol), col("word"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy("word").agg(count(lit(1)).as("df"))
    val n = df.agg(count(lit(1)).as("n_docs"))
    val score = round(col("tf").cast("double") *
      log((col("n_docs") + lit(1)).cast("double") /
        (col("df") + lit(1)).cast("double")), 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("score").desc, col("word"))
    tf.join(dfreq, "word")
      .crossJoin(broadcast(n))
      .select(col(idCol), col("word"), score.as("score"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  /** Deterministic stratified sampling — the data-mixing step of a
    * training pipeline (sampling weights per language/source/quality
    * bucket). A row survives when the 60-bit value of
    * md5(salt:id) falls under its stratum's rate: membership is a pure
    * function of (salt, id), so re-runs, re-partitioning and corpus
    * growth never flip a row in or out (the t12 split discipline applied
    * to rates). Strata missing from `rates` drop (rate 0). Pure map
    * work, zero shuffle — the sample rides the scan. Rate thresholds
    * are FLOOR'd to integers on both engines, so the comparison is
    * exact (a raw double->int cast truncates on one engine and rounds
    * on the other) — PROVIDED the cross-engine oracle also computes
    * the product in binary DOUBLE (CAST the rate literal): DECIMAL
    * arithmetic floors a few units away from Spark's
    * `rate * 2^60` double for non-dyadic rates like 0.1. */
  def stratifiedSample(df: DataFrame, idCol: String, strataCol: String,
      rates: Seq[(String, Double)],
      salt: String = "sample"): DataFrame = {
    require(rates.nonEmpty && rates.forall(r => r._2 >= 0 && r._2 <= 1),
      s"stratifiedSample: rates must be in [0, 1]")
    val h = graft.functions.TextExpressions.hexSliceLong(
      md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), 1, 15)
    val rate = rates.tail
      .foldLeft(when(col(strataCol) === rates.head._1,
        lit(rates.head._2))) { case (acc, (k, r)) =>
        acc.when(col(strataCol) === k, lit(r))
      }.otherwise(lit(0.0))
    df.filter(h < floor(rate * lit((1L << 60).toDouble)).cast("long"))
  }

  /** Token-budget mixture composition — the step that actually BUILDS a
    * training mix: for each source, admit documents in a deterministic
    * md5-priority order until the source's token budget is exhausted
    * (greedy prefix: a document enters iff its running total stays
    * within budget). Unlike [[stratifiedSample]] (rate per stratum)
    * this hits absolute token targets — "500 B tokens of web, 200 B of
    * code" — and the priority hash makes the selection a pure function
    * of (salt, id): re-runs, repartitioning and corpus growth never
    * reorder the admitted prefix. Sources absent from `budgets` drop.
    * Output: (id, source, n_tok, cum_tok) for admitted rows.
    *
    * Scale shape: NO per-source global window (a 100 TB source in one
    * window partition is a single-task sort). The priority's top 8 bits
    * pre-bucket each source into 256 slices; per-slice token sums make
    * a tiny (≤ 256 × sources row) cut table whose running sum locates
    * every slice's starting offset, and slices that begin past their
    * budget are filtered BEFORE the detail window runs — so the only
    * row-level window partitions by (source, slice), 1/256th of a
    * source, and covers only slices that can still admit rows. The
    * admitted set is bit-identical to the naive global-window
    * formulation because slice order is the priority's own high bits —
    * which is exactly how the DuckDB oracle recomputes it. */
  def mixtureByBudget(df: DataFrame, idCol: String, tokenCol: String,
      sourceCol: String, budgets: Seq[(String, Long)],
      salt: String = "mix"): DataFrame = {
    require(budgets.nonEmpty && budgets.forall(_._2 >= 0L),
      "mixtureByBudget: budgets must be non-negative")
    require(budgets.map(_._1).distinct.size == budgets.size,
      "mixtureByBudget: duplicate source in budgets")
    val s = df.sparkSession
    import s.implicits._
    val bdf = budgets.toDF(sourceCol, "budget")
    val pri = graft.functions.TextExpressions.hexSliceLong(
      md5(concat_ws(":", lit(salt), col(idCol).cast("string"))), 1, 15)
    val base = df
      .select(col(idCol), col(sourceCol),
        col(tokenCol).cast("long").as("n_tok"))
      .withColumn("pri", pri)
      .withColumn("bkt", shiftright(col("pri"), 52).cast("int"))
      .join(broadcast(bdf), Seq(sourceCol))
    val bktAgg = base.groupBy(sourceCol, "bkt")
      .agg(sum("n_tok").as("btok"))
    val wCut = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol).orderBy("bkt")
      .rowsBetween(Long.MinValue, -1)
    val cuts = bktAgg
      .withColumn("cum_before", coalesce(sum("btok").over(wCut), lit(0L)))
      .select(col(sourceCol), col("bkt"), col("cum_before"))
    val wRow = org.apache.spark.sql.expressions.Window
      .partitionBy(sourceCol, "bkt").orderBy(col("pri"), col(idCol))
      .rowsBetween(Long.MinValue, 0)
    base.join(broadcast(cuts), Seq(sourceCol, "bkt"))
      .filter(col("cum_before") < col("budget"))
      .withColumn("cum_tok", col("cum_before") + sum("n_tok").over(wRow))
      .filter(col("cum_tok") <= col("budget"))
      .select(col(idCol), col(sourceCol), col("n_tok"), col("cum_tok"))
  }

  /** Unigram log-probability score per document — the in-corpus stand-in
    * for CCNet-style LM-perplexity filtering: build the corpus unigram
    * model (top-`vocabSize` words by frequency; out-of-vocabulary words
    * score at a 0.5-count floor), then score each document by its mean
    * token log-probability. Boilerplate and natural text score high,
    * gibberish and rare-token spam score low — the standard cheap
    * fluency screen when no trained LM is available at corpus scale.
    *
    * Scale shape: the vocabulary aggregation is the only corpus-scale
    * shuffle and carries (word, count) rows; the top-`vocabSize` cut is
    * a distributed TakeOrdered, the vocab + total broadcast, and the
    * per-doc score is one map-side-combined aggregation. */
  def unigramLogProb(df: DataFrame, idCol: String, textCol: String,
      vocabSize: Int = 50000): DataFrame = {
    require(vocabSize > 0, s"unigramLogProb($vocabSize)")
    val words = df.select(col(idCol),
      explode(split(col(textCol), " ")).as("word"))
    val counts = words.groupBy("word").agg(count(lit(1)).as("c"))
    val total = counts.agg(sum("c").as("total"))
    val vocab = counts.orderBy(col("c").desc, col("word")).limit(vocabSize)
    words
      .join(broadcast(vocab), Seq("word"), "left")
      .crossJoin(broadcast(total))
      .select(col(idCol),
        when(col("c").isNotNull,
          log(col("c").cast("double") / col("total")))
          .otherwise(log(lit(0.5) / col("total"))).as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(avg("lp"), 4).as("avg_logp"))
  }

  /** Corpus BIGRAM language-model score per document — the next step up
    * from [[unigramLogProb]]'s fluency screen (CCNet's actual filter is
    * a trained n-gram LM; this is its corpus-self-trained analogue):
    * mean log P(wᵢ | wᵢ₋₁) over a document's word transitions, with
    * add-0.5 smoothing against the distinct-unigram vocabulary size,
    * P = (c_bigram + 0.5) / (c_context + 0.5·V). Word-repetitive or
    * templated documents score high; token-soup scores low — combine
    * with t10's repetition signals to separate the two.
    *
    * Scale shape: bigrams come from a partition-local indexed-sequence
    * explode (no window), and both count tables key on 60-bit md5
    * hashes (the t21/t25 feature-hashing discipline) so every shuffle
    * carries 8-byte keys, never word text; collisions merge counts
    * deterministically and the oracle replays the identical hash
    * arithmetic. Joins and aggregations are all hash-keyed equi-ops
    * with map-side partials; the vocabulary size is a 1-row broadcast. */
  def bigramLogProb(df: DataFrame, idCol: String, textCol: String,
      alpha: Double = 0.5): DataFrame = {
    require(alpha > 0, s"bigramLogProb(alpha=$alpha)")
    def h(c: Column): Column =
      graft.functions.TextExpressions.hexSliceLong(md5(c), 1, 15)
    val toks = df.select(col(idCol), split(col(textCol), " ").as("w"))
    // Bigrams via the WordNgrams kernel (the struct-building transform
    // lambda it replaces ran interpreted per pair). A 2-gram string has
    // exactly ONE space -- words are space-split, so neither side can
    // contain one -- which makes both hash keys derivable with codegen
    // builtins: prev = the prefix before the space, and the
    // \u0001-keyed bigram = the space translated (\u0001 cannot occur
    // AS the separator in word-split text, so ("ab","c") never collides
    // with ("a","bc"); DuckDB rebuilds it as `prev || chr(1) || cur`).
    val pairs = toks.filter(size(col("w")) >= 2)
      .select(col(idCol), explode(
        graft.functions.TextExpressions.wordNgrams(col("w"), 2)).as("bg"))
      .select(col(idCol),
        h(substring_index(col("bg"), " ", 1)).as("hp"),
        h(translate(col("bg"), " ", "\u0001")).as("hb"))
    val cb = pairs.groupBy("hb").agg(count(lit(1)).as("cb"))
    val cc = pairs.groupBy("hp").agg(count(lit(1)).as("cc"))
    val vocab = df
      .select(explode(split(col(textCol), " ")).as("word"))
      .select(h(col("word")).as("hw"))
      .agg(countDistinct("hw").cast("double").as("nv"))
    val scored = pairs
      .join(cb, "hb").join(cc, "hp")
      .crossJoin(broadcast(vocab))
      .select(col(idCol),
        log((col("cb") + lit(alpha)) /
          (col("cc") + lit(alpha) * col("nv"))).as("lp"))
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_bigrams"),
        round(avg("lp"), 4).as("avg_logp"))
    df.select(col(idCol))
      .join(scored, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        col("avg_logp"))
  }

  /** DSIR-style importance weights (Xie et al., "Data Selection for
    * Language Models via Importance Resampling"): score every document
    * by how much more likely its hashed word features are under the
    * TARGET slice (`targetPred` — the high-quality subset you want more
    * of) than under the raw corpus. `log_weight` is the per-doc sum of
    * log(p_target(bucket) / p_raw(bucket)) over its words, with hashed
    * unigram features folded into `buckets` buckets and add-`alpha`
    * smoothing on both distributions; resample the corpus proportional
    * to exp(log_weight) to tilt it toward the target domain. Feature
    * hashing uses the md5 slice shared with t12/t19, so the weights are
    * exactly reproducible cross-engine.
    *
    * Scale shape: both distributions come from ONE aggregation over the
    * exploded words (map-side combined, `buckets`-bounded output); the
    * log-ratio table is `buckets` rows and BROADCASTS; the per-doc sum
    * is one map-side-combined aggregation on the id. No corpus-sized
    * shuffle anywhere — the heavy rows ride the scan. */
  def importanceWeights(df: DataFrame, idCol: String, textCol: String,
      targetPred: Column, buckets: Int = 64,
      alpha: Double = 0.5): DataFrame = {
    require(buckets > 0 && alpha > 0,
      s"importanceWeights(buckets=$buckets, alpha=$alpha)")
    val words = df.select(col(idCol), targetPred.as("is_target"),
      explode(split(col(textCol), " ")).as("word"))
      .withColumn("bucket",
        graft.functions.TextExpressions.hexSliceLong(
          md5(col("word")), 1, 15) % buckets)
    val counts = words.groupBy("bucket").agg(
      count(lit(1)).as("c_raw"),
      sum(when(col("is_target"), 1L).otherwise(0L)).as("c_tgt"))
    val totals = counts.agg(
      sum("c_raw").cast("double").as("n_raw"),
      sum("c_tgt").cast("double").as("n_tgt"))
    val ratios = counts.crossJoin(broadcast(totals))
      .select(col("bucket"),
        (log((col("c_tgt") + alpha) / (col("n_tgt") + alpha * buckets)) -
          log((col("c_raw") + alpha) / (col("n_raw") + alpha * buckets)))
          .as("lr"))
    words
      .join(broadcast(ratios), "bucket")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_tokens"),
        round(sum("lr"), 4).as("log_weight"))
  }

  /** Canonical text normalization for dedup keys and training input:
    * lowercase, strip non-printable/control characters, collapse runs of
    * whitespace to single spaces, trim. Returns the normalized text
    * plus its length — callers typically fingerprint it (dedup on
    * normalized content catches case/whitespace variants that byte-exact
    * dedup misses). Pure codegen map work, zero shuffle. */
  def normalizeText(df: DataFrame, idCol: String,
      textCol: String): DataFrame = {
    val norm = trim(regexp_replace(
      regexp_replace(lower(col(textCol)), "[^\\x20-\\x7e]", " "),
      "\\s+", " "))
    df.select(col(idCol), norm.as("norm_text"),
      length(norm).cast("bigint").as("norm_chars"))
  }

  /** Benchmark decontamination screen: for every corpus row, how many of
    * its word n-gram shingles also occur in `evalDf` (the held-out /
    * benchmark text whose leakage into training data must be detected),
    * plus that count as a fraction of the row's shingles. Rows sharing
    * nothing report (0, 0.0). Eval suites are tiny next to a training
    * corpus, so the eval shingle set is BROADCAST and the overlap join
    * never shuffles the corpus — one map-side pass plus the per-doc
    * count aggregation. Callers typically drop rows above a
    * `contam_frac` threshold and audit rows with any overlap at all. */
  def contaminationFlags(df: DataFrame, idCol: String, textCol: String,
      evalDf: DataFrame, evalTextCol: String, n: Int = 3): DataFrame = {
    val evalSh = evalDf
      .select(split(col(evalTextCol), " ").as("w"))
      .filter(size(col("w")) >= n)
      .select(explode(
        graft.functions.TextExpressions.wordNgrams(col("w"), n)).as("s"))
      .distinct()
    contaminationFlagsFromShingles(df, idCol,
      shingles(df, idCol, textCol, n), evalSh)
  }

  /** [[contaminationFlags]] over PRECOMPUTED shingle tables: `corpusSh`
    * is the corpus's distinct (id, s) table (shareable across the
    * dedup/text family — see [[ngramJaccardPairsFromShingles]]) and
    * `evalSh` the benchmark's distinct 1-column shingle set ("s"); `df`
    * supplies the full id list so shingle-less documents still surface
    * with zero counts. */
  def contaminationFlagsFromShingles(df: DataFrame, idCol: String,
      corpusSh: DataFrame, evalSh: DataFrame): DataFrame = {
    val cnt = corpusSh.groupBy(idCol).agg(count(lit(1)).as("n_sh"))
    val shared = corpusSh.join(broadcast(evalSh), "s")
      .groupBy(idCol).agg(count(lit(1)).as("n_shared"))
    df.select(col(idCol))
      .join(cnt, Seq(idCol), "left")
      .join(shared, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_shared"), lit(0L)).as("n_shared"),
        coalesce(round(col("n_shared").cast("double") / col("n_sh"), 4),
          lit(0.0)).as("contam_frac"))
  }

  /** Sequence-pack assignment for training batches: each row gets a
    * (shard, pack_id) so that consecutive rows within a shard fill packs
    * of ~`capacity` tokens (`pack_id = prefix-sum-before-this-row DIV
    * capacity` — the standard distributed approximation of greedy
    * packing, which is inherently sequential). Sharding by id makes the
    * prefix sum a PER-SHARD window, so shards pack in parallel and the
    * only shuffle is one hash-partition on the shard key; the capacity
    * utilization lost at shard boundaries is negligible once each
    * shard's token mass >> capacity. Deterministic: depends only on
    * (id, token count). */
  def packAssignments(df: DataFrame, idCol: String, textCol: String,
      capacity: Int = 2048, shards: Int = 8): DataFrame = {
    require(capacity > 0 && shards > 0,
      s"packAssignments($capacity, $shards)")
    requireNumericId(df, idCol, "packAssignments")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("shard").orderBy(idCol)
    df.select(col(idCol),
      size(split(col(textCol), "\\s+")).cast("bigint").as("tokens"),
      pmod(col(idCol).cast("long"), lit(shards.toLong)).as("shard"))
      .withColumn("cum", sum("tokens").over(w))
      .select(col(idCol), col("shard"), col("tokens"),
        expr(s"CAST((cum - tokens) DIV $capacity AS BIGINT)").as("pack_id"))
  }

  /** Deterministic train/val/test assignment: the split depends only on
    * md5(salt + id), so it is stable under corpus growth, re-runs, and
    * re-partitioning — the property a training pipeline needs so that no
    * eval document ever drifts into train. `weights` are integer percent
    * slices of the 100 hash buckets, in order. Pure codegen map work
    * (one digest per row, no shuffle), portable bit-for-bit to the
    * oracle's `('0x' || substring(md5(...)))::BIGINT`. */
  def deterministicSplit(df: DataFrame, idCol: String,
      weights: Seq[(String, Int)] =
        Seq("train" -> 80, "val" -> 10, "test" -> 10),
      salt: String = "split"): DataFrame = {
    require(weights.nonEmpty && weights.map(_._2).sum == 100 &&
      weights.forall(_._2 > 0),
      s"deterministicSplit: weights must be positive and sum to 100: $weights")
    val bucket = graft.functions.TextExpressions.hexSliceLong(
      md5(concat(lit(s"$salt:"), col(idCol).cast("string"))), 1, 8) % 100
    val cuts = weights.map(_._2).scanLeft(0)(_ + _).tail
    val split = weights.zip(cuts).init.foldRight(
      lit(weights.last._1): Column) { case (((name, _), cut), els) =>
      when(col("bucket") < cut, name).otherwise(els)
    }
    df.select(col(idCol), bucket.as("bucket"))
      .select(col(idCol), col("bucket"), split.as("split"))
  }

  // ---------------------------------------------------------- similarity

  private def dot(a: Column, b: Column): Column =
    graft.functions.VectorExpressions.dotF32(a, b)

  /** (id, vec, nrm): L2 norms via the native codegen dot product. */
  def normalized(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    df.select(col(idCol), col(vecCol),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))

  /** Exact cosine top-k: for every row matching `queryPred`, the k
    * nearest neighbors by cosine. The query side is broadcast, so the
    * corpus streams once with no shuffle — one map-side pass at scale. */
  def cosineTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int): DataFrame = {
    val n = normalized(df, idCol, vecCol)
    val q = n.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"),
        col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(q)
      .join(n, col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (dot(col("qe"), col(vecCol)) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  /** Exact cosine range search: every neighbor with cosine >=
    * `threshold` for each row matching `queryPred` — the radius twin of
    * [[cosineTopK]] (top-k bounds the result count, range bounds the
    * similarity; retrieval pipelines need both). Same scale shape: the
    * query side broadcasts and the corpus streams once with no
    * shuffle. */
  def cosineRange(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, threshold: Double): DataFrame = {
    val n = normalized(df, idCol, vecCol)
    val q = n.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"),
        col("nrm").as("qn"))
    broadcast(q)
      .join(n, col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (dot(col("qe"), col(vecCol)) / (col("qn") * col("nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Matryoshka-style two-stage retrieval: shortlist by cosine over the
    * first `prefixDim` dimensions (MRL-trained embeddings pack the
    * coarse signal into the prefix), then rerank ONLY the shortlist with
    * the full-dimension cosine. Deterministic end to end (fixed
    * shortlist size, ties broken by neighbor id), so unlike LSH/IVF the
    * whole pipeline is exactly reproducible by an oracle.
    *
    * Scale shape: the shortlist pass streams the corpus once against the
    * broadcast queries but computes only prefixDim/dim of the flops (the
    * dominant cost of brute-force search); the full-dim rerank touches
    * `shortlist` rows per query. With prefixDim = dim/4 the scan cost
    * drops ~4× versus [[cosineTopK]] while the rerank restores full-dim
    * ordering on the survivors. */
  def matryoshkaTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, prefixDim: Int = 16, shortlist: Int = 20,
      k: Int = 5): DataFrame = {
    require(prefixDim > 0 && shortlist >= k && k > 0,
      s"matryoshkaTopK($prefixDim, $shortlist, $k)")
    val pre = df.select(col(idCol), col(vecCol),
      expr(s"slice($vecCol, 1, $prefixDim)").as("pv"))
    val n = pre.select(col(idCol), col(vecCol), col("pv"),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"),
      sqrt(dot(col("pv"), col("pv"))).as("pn"))
    val q = n.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"),
        col("pv").as("qpv"), col("nrm").as("qn"), col("pn").as("qpn"))
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("pcos").desc, col("neighbor_id"))
    val short = broadcast(q)
      .join(n, col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        col("qe"), col("qn"), col(vecCol), col("nrm"),
        (dot(col("qpv"), col("pv")) / (col("qpn") * col("pn")))
          .as("pcos"))
      .withColumn("srnk", row_number().over(wShort))
      .filter(col("srnk") <= shortlist)
    val wFull = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    short
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col(vecCol)) / (col("qn") * col("nrm")))
          .as("cos"))
      .withColumn("rnk", row_number().over(wFull).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  // ------------------------------------------------ product quantization

  /** Per-subspace codebooks for product quantization (Jégou et al.,
    * "Product Quantization for Nearest Neighbor Search"): the `dim`-dim
    * vector splits into `m` contiguous `dim/m`-dim subvectors, and each
    * subspace trains its own `ksub`-centroid quantizer with the
    * distributed Lloyd loop ([[kmeansCentroids]] — deterministic init,
    * the corpus never collected). Returns (m, list_id, centroid, cnrm). At
    * corpus scale codebooks are trained on a SAMPLE (they are a few KB
    * of state describing the space, not the data); encoding the full
    * corpus is then one map pass.
    *
    * NOT lazy: each Lloyd round collects its bounded m·ksub-row
    * codebook table on the driver (the kernel-path discipline — the
    * collected values keep round i+1's plan flat instead of nesting
    * round i's subplan), so the training jobs run when this DataFrame
    * is CONSTRUCTED, not at the first action, and upstream errors
    * surface at call time. Documented build-time driver cost, same
    * class as [[kmeansCentroids]].
    *
    * `l2 = true` trains under the L2 objective (Lloyd assignment by
    * argmin ‖sub − c‖², the Jégou/Faiss PQ formulation) — REQUIRED for
    * residual codebooks ([[ivfPqBuild]]): under max-cosine a grown
    * codebook just accumulates near-duplicate DIRECTIONS at wrong
    * magnitudes and reconstruction worsens (measured r12: margin-slice
    * recall fell 0.778 → 0.475 going ksub 16 → 256 under cosine).
    * Default stays cosine for the flat [[pqTopK]] path's committed
    * behavior. */
  def pqCodebooks(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      l2: Boolean = false): DataFrame = {
    require(m > 0 && dim % m == 0 && ksub > 1 && iters >= 0,
      s"pqCodebooks(dim=$dim, m=$m, ksub=$ksub, iters=$iters)")
    val dsub = dim / m
    // ALL subspaces train in one Lloyd loop over the exploded
    // (id, mi, subvector) rows — one aggregation job per round for the
    // whole codebook, instead of m independent trainings each paying
    // per-job driver latency (measured: the m-sequential version spent
    // most of its wall clock scheduling its ~3m tiny jobs).
    val sub = df.select(col(idCol), expr(
      s"""explode(transform(sequence(0, ${m - 1}), mi ->
         |  struct(mi AS mi, slice($vecCol, mi * $dsub + 1, $dsub)
         |    AS sub)))""".stripMargin).as("e"))
      .select(col(idCol), col("e.mi").as("mi"), col("e.sub").as("sub"))
    def means(assigned: DataFrame): DataFrame =
      assigned
        .select(col("mi"), col("list_id"),
          posexplode(col("sub")).as(Seq("pos", "v")))
        .groupBy("mi", "list_id", "pos")
        .agg(avg("v").as("mv"))
        .groupBy("mi", "list_id")
        .agg(array_sort(collect_list(struct(col("pos"), col("mv"))))
          .as("pm"))
        .select(col("mi"), col("list_id"),
          expr("transform(pm, x -> CAST(x.mv AS FLOAT))").as("centroid"))
    var cents = means(
      sub.withColumn("list_id", (col(idCol) % ksub).cast("int")))
    (0 until iters).foreach { _ =>
      // Per-subspace argmax of dot/cnrm through the native
      // CentroidTopNF32 kernel (nrm = 1: the row norm is constant per
      // row, so max dot/cnrm IS the kernel's max cosine — identical
      // double fold, identical (value, list_id) tie order to the
      // array_min-over-structs HOF this replaces). The HOF evaluated
      // interpreted at sample·m rows × m·ksub structs — ~10⁹ lambda
      // evaluations once deriveNlist-sized samples (nlist·128 vectors)
      // feed it, dominating the whole IVF-PQ build (measured 604 s of
      // a 1M-vector s11 build; PqCodebooksKernelSpec pins parity).
      // Collecting the codebook per round (m·ksub rows, a few KB) also
      // keeps each round's plan flat — the Faiss-style bounded
      // build-time driver state, same as kmeansCentroids.
      val rows = cents
        .select(col("mi").cast("int"), col("list_id").cast("int"),
          col("centroid"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getSeq[Float](2)))
      val byMi = rows.groupBy(_._1)
      val assignFor: Int => Column = { mi =>
        val cs = byMi(mi)
        val flat = new Array[Float](cs.length * dsub)
        val cnrms = new Array[Double](cs.length)
        val ids = new Array[Int](cs.length)
        var i = 0
        while (i < cs.length) {
          val v = cs(i)._3
          ids(i) = cs(i)._2
          var acc = 0.0
          var k = 0
          while (k < v.length && k < dsub) {
            flat(i * dsub + k) = v(k)
            acc += v(k).toDouble * v(k).toDouble
            k += 1
          }
          cnrms(i) = math.sqrt(acc)
          i += 1
        }
        graft.functions.VectorExpressions.centroidTopN(
          col("sub"), lit(1.0), flat, cnrms, ids, dsub,
          probes = 1, nanWins = false, l2 = l2).getItem(0)
      }
      // empty-corpus degenerate: sub has no rows either, any value works
      val assigned =
        if (rows.isEmpty) sub.withColumn("list_id", lit(null).cast("int"))
        else sub.withColumn("list_id",
          (0 until m).filter(byMi.contains).map(mi =>
            when(col("mi") === mi, assignFor(mi)))
            // right fold: otherwise() chains once per CASE level
            .reduceRight((a, b) => a.otherwise(b)))
      cents = means(assigned)
    }
    cents.select(col("mi").as("m"), col("list_id"), col("centroid"),
      sqrt(dot(col("centroid"), col("centroid"))).as("cnrm"))
  }

  /** Deterministic md5-bucket training sample: keep a document iff its
    * id's md5-derived bucket falls under cap/n — stable across runs,
    * partition layouts and corpus growth (the t19 sampling trick shared
    * by every trained index here). `n` is the caller's corpus count (all
    * callers already have it; no extra job). Returns `df` unchanged when
    * the corpus fits the cap. */
  private def trainSample(df: DataFrame, idCol: String, cap: Long,
      n: Long): DataFrame =
    if (n <= cap) df
    else df.filter(expr(
      s"pmod(conv(substring(md5(CAST($idCol AS STRING)), 1, 8), 16, 10)," +
        s" 1000000) < ${math.max(1L, cap * 1000000L / n)}"))

  /** The codebook lookup: one row holding
    * mb: MAP<m, MAP<list_id, STRUCT<centroid, cnrm>>>. */
  private[graft] def pqLookup(codebooks: DataFrame): DataFrame =
    codebooks
      .groupBy("m")
      .agg(map_from_entries(collect_list(struct(col("list_id"),
        struct(col("centroid"), col("cnrm"))))).as("cmap"))
      .groupBy()
      .agg(map_from_entries(collect_list(struct(col("m"), col("cmap"))))
        .as("mb"))

  /** PQ encoding: every vector becomes `m` small codes — the code for
    * subspace mi is the sub-centroid with maximal cosine to the mi-th
    * subvector. One map pass against the frozen codebook (the few-KB
    * flattened table collected once and embedded as plan literals —
    * no join, no shuffle); also emits `rnorm`, the norm of the
    * reconstruction, so ADC scores can be cosine-normalized. At 16
    * centroids per subspace a 64-dim float vector (256 bytes) becomes
    * m=8 nibble-codes — a 64× smaller index is the entire point of PQ
    * at 100 TB. EAGER like [[pqTopK]]: freezing the codebook runs one
    * bounded head() job at call time. */
  def pqEncode(df: DataFrame, idCol: String, vecCol: String,
      codebooks: DataFrame, dim: Int, m: Int = 8,
      ksub: Int = 16): DataFrame = {
    require(m > 0 && dim % m == 0 && ksub > 1,
      s"pqEncode(dim=$dim, m=$m, ksub=$ksub)")
    pqEncodeWithFrozen(df, idCol, vecCol,
      freezeFlatLookup(pqLookup(codebooks), m, ksub), dim, m, ksub)
  }

  /** The flattened codebook (one row): sorted live cells
    * (`mi * ksub + code` — Lloyd can empty cells, so entries are
    * sparse), their centroids concatenated, their norms, and a dense
    * m·ksub cnrm² lookup (0.0 at dead cells — no corpus row carries a
    * dead code, so those cells are never read). Feeds the codegen'd
    * [[graft.functions.PqEncodeF32]] encode kernel and the rnorm
    * computation via [[graft.functions.PqAdcLut]]. */
  private[graft] def pqFlatLookup(lookup: DataFrame, m: Int,
      ksub: Int): DataFrame =
    lookup.select(expr(
      s"""array_sort(flatten(transform(map_entries(mb), me ->
         |  transform(map_entries(me.value), e ->
         |    struct(me.key * $ksub + e.key AS cell,
         |      e.value.centroid AS centroid,
         |      CAST(e.value.cnrm AS DOUBLE) AS cnrm)))))""".stripMargin)
      .as("es"))
      .select(
        expr("transform(es, x -> x.cell)").as("cells"),
        expr("flatten(transform(es, x -> x.centroid))").as("cents"),
        expr("transform(es, x -> x.cnrm)").as("cnrms"),
        expr(
          s"""transform(sequence(0, ${m * ksub - 1}), i ->
             |  coalesce(try_element_at(map_from_entries(
             |    transform(es, x -> struct(x.cell, x.cnrm * x.cnrm))), i),
             |  CAST(0 AS DOUBLE)))""".stripMargin).as("cnrm2"))

  /** The one-row flattened codebook ([[pqFlatLookup]]) collected once
    * and re-embedded as four plan literals (cells, cents, cnrms,
    * cnrm2) — the flat-PQ member of the r17 frozen-literal family:
    * the per-call broadcast-future job the one-row join paid becomes
    * one head() at freeze time, and every consumer plan is map-only. */
  private def freezeFlatLookup(lookup: DataFrame, m: Int,
      ksub: Int): FrozenFlat = {
    val flatDf = pqFlatLookup(lookup, m, ksub)
    val fSchema = flatDf.schema
    val fRow = flatDf.head()
    def flit(name: String): Column = {
      val i = fSchema.fieldIndex(name)
      org.apache.spark.sql.graft.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          fRow.get(i), fSchema(i).dataType))
    }
    FrozenFlat(flit("cells"), flit("cents"), flit("cnrms"), flit("cnrm2"))
  }

  /** [[freezeFlatLookup]]'s four plan literals, named as in
    * [[pqFlatLookup]]. */
  private[graft] final case class FrozenFlat(cells: Column, cents: Column,
      cnrms: Column, cnrm2: Column)

  /** The one PQ encode: the codegen'd [[graft.functions.PqEncodeF32]]
    * kernel against a FROZEN codebook, zero broadcast jobs. rnorm reads
    * the dense cnrm² table through the ADC-LUT kernel: the
    * reconstruction norm is itself a code-indexed lookup sum. Output:
    * (idCol, carry..., vecCol, code, rnorm). */
  private def pqEncodeWithFrozen(df: DataFrame, idCol: String,
      vecCol: String, cb: FrozenFlat, dim: Int, m: Int, ksub: Int,
      carry: Seq[String] = Nil, l2: Boolean = false): DataFrame = {
    require(m > 0 && dim % m == 0 && ksub > 1,
      s"pqEncodeWithFrozen(dim=$dim, m=$m, ksub=$ksub)")
    val dsub = dim / m
    df.withColumn("code", graft.functions.VectorExpressions.pqEncodeF32(
        col(vecCol), cb.cells, cb.cents, cb.cnrms, m, ksub, dsub, l2 = l2))
      .withColumn("rnorm", sqrt(graft.functions.VectorExpressions
        .pqAdcLut(cb.cnrm2, col("code"), ksub)))
      .select(col(idCol) +: carry.map(col) :+ col(vecCol) :+
        col("code") :+ col("rnorm"): _*)
  }

  /** PQ-ADC approximate top-k with exact rerank: queries score every
    * encoded corpus row by Asymmetric Distance Computation — the sum
    * over subspaces of dot(query subvector, reconstructed sub-centroid),
    * normalized by the reconstruction norm — take a `shortlist` per
    * query, then rerank the shortlist with the exact full cosine.
    *
    * Scale shape: one corpus pass against the broadcast queries and the
    * frozen few-KB codebook (plan literals), reading CODES (m bytes)
    * instead of vectors — the flat-scan cost drops by the compression
    * factor, and at real scale the ADC pass runs over the compact code
    * index while only the shortlist (bounded rows per query) touches
    * the full vector store. Combine with an IVF partition (s03/s04) for
    * sub-linear candidate selection; this flat version is the exact
    * shape of a Faiss IndexPQ.
    *
    * The per-query ADC lookup table `qlut` (Jégou et al.'s table trick,
    * shared with [[ivfPqSearch]]) holds
    * `dot(qe_sub(mi), centroid(mi, code))` at `mi * ksub + code` for
    * EVERY cell — m·ksub doubles, built once on the tiny query side by
    * the [[graft.functions.PqQueryLutF32]] kernel over the frozen
    * codebook. The per-CANDIDATE score then degenerates to m array
    * reads ([[graft.functions.PqAdcLut]]) instead of m×dsub interpreted
    * multiply-adds per row (the r7 bench's slowest per-byte code, s10).
    * Each cell's dot is the same ascending fold, so scores and
    * shortlist order are bit-identical (QueryLutKernelSpec). Dead cells
    * (Lloyd can empty one) read 0.0 and no corpus row carries them. */
  def pqTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, dim: Int, m: Int = 8, ksub: Int = 16,
      iters: Int = 2, shortlist: Int = 50,
      trainPerSub: Int = 128): DataFrame = {
    require(shortlist >= k && k > 0,
      s"pqTopK(k=$k, shortlist=$shortlist)")
    val dsub = dim / m
    // Codebooks train on a bounded md5-bucket sample (~trainPerSub
    // vectors per sub-centroid, the Faiss convention — [[ivfPqTopK]]'s
    // discipline applied to the flat index too): full-corpus Lloyd was
    // the dominant cost of the whole query (r8 profile: ~2 s of 3.2 s at
    // sf0.1) and buys nothing — codebooks describe the SPACE. Every
    // fixture at or below ksub·trainPerSub vectors trains on the full
    // corpus, unchanged.
    val train = trainSample(df, idCol, ksub.toLong * trainPerSub,
      df.count())
    val cb = pqCodebooks(train, idCol, vecCol, dim, m, ksub, iters)
    // FREEZE the one-row flattened codebook as plan literals (one
    // head() runs the training pipeline once): the encode pass and the
    // per-query LUT read the same values with zero broadcast jobs.
    val flat = freezeFlatLookup(pqLookup(cb), m, ksub)
    val enc = pqEncodeWithFrozen(df, idCol, vecCol, flat, dim, m, ksub)
    val q = normalized(df.filter(queryPred), idCol, vecCol)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"),
        col("nrm").as("qn"))
      .withColumn("qlut", graft.functions.VectorExpressions
        .pqQueryLutF32(col("qe"), flat.cells, flat.cents, m, ksub, dsub))
    // The ADC scan reads CODES and emits only (query_id, neighbor_id,
    // adc) — m bytes scored, ~24 bytes shuffled per candidate. The raw
    // vectors join back AFTER the shortlist cut (shortlist·n_q rows):
    // dragging qe + the float vector through the full-corpus window
    // was ~60× the shuffle bytes and contradicted the documented point
    // of PQ (scan the 64×-smaller index; touch floats only on the
    // shortlist). Same slimming as [[ivfPqTopK]]'s probed variant.
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("adc").desc, col("neighbor_id"))
    val short = broadcast(q.select(col("query_id"), col("qlut")))
      .join(enc.select(col(idCol), col("code"), col("rnorm")),
        col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (graft.functions.VectorExpressions
          .pqAdcLut(col("qlut"), col("code"), ksub) / col("rnorm"))
          .as("adc"))
      .withColumn("srnk", row_number().over(wShort))
      .filter(col("srnk") <= shortlist)
    val wFull = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val nvec = normalized(df, idCol, vecCol)
    short
      .join(nvec, short("neighbor_id") === nvec(idCol))
      .join(broadcast(q.select(col("query_id"), col("qe"), col("qn"))),
        Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col(vecCol)) /
          (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(wFull).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  /** Scalar-quantized (SQ8) approximate top-k with exact rerank — the
    * Faiss IndexScalarQuantizer shape, completing the quantized-
    * retrieval family next to PQ ([[pqTopK]]): each vector stores
    * per-vector max-abs int8 codes (the s05 storage convention:
    * `q = round(x · 127 / mx)`), the approximate dot is the EXACT
    * integer fold
    * `idot(qa, qc) · mxq · mxc / 127²` (64-bit integer arithmetic —
    * cross-engine parity by construction, no float ordering concerns),
    * and the per-query `shortlist` reranks by exact full cosine.
    *
    * Scale shape: one corpus pass against the broadcast queries — the
    * scoring loop is the codegen'd [[graft.functions.DotProductI32]]
    * kernel over int codes, and at real scale the scan reads the
    * 4×-smaller int8 code column (64 bytes/vector at dim 64) while
    * only the bounded shortlist touches the float store. No training
    * step at all — SQ's operational advantage over PQ: encode is pure
    * per-row map work, so incremental ingest never re-trains. Rows
    * whose max-abs is 0 (the all-zero vector) carry no direction and
    * are excluded, matching s05's guard. */
  def sqTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k && k > 0, s"sqTopK(k=$k, shortlist=$shortlist)")
    // Session-cache the encoded corpus (r11 verdict: the naive per-call
    // path re-encoded the full corpus on EVERY call — the deployment
    // shape stores codes once). Keyed by the MD5 of the input's
    // CANONICALIZED plan string PLUS its source identities: the
    // canonical string alone ELIDES file paths (`Relation[...] parquet`
    // prints no location), so two corpora at different paths collided
    // to one key the first time this shipped — caught by
    // Sq8KernelSpec's end-to-end parity test returning another
    // fixture's neighbors. File sources key by root paths, local test
    // relations by their data, checkpoint scans by RDD id; same
    // lost-block revalidation + rebuild as every [[graft.ops
    // .ListingCache]] listing. NOTE this makes sqTopK EAGER (the first
    // call per corpus materializes the codes — a Spark job at call
    // time, the pqCodebooks convention) and the encode a checkpoint
    // scan in the returned plan; audit the cold-build plan through
    // [[sq8Encode]] + [[sqTopKFromEncoded]] directly.
    val planKey = {
      val plan = df.queryExecution.analyzed
      val sources = plan.collect {
        case lr: org.apache.spark.sql.execution.datasources.LogicalRelation =>
          lr.relation match {
            case fs: org.apache.spark.sql.execution.datasources.HadoopFsRelation =>
              "files:" + fs.location.rootPaths.mkString(",")
            case other => "rel:" + other.toString
          }
        case loc: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
          "local:" + loc.data.hashCode()
        case rdd: org.apache.spark.sql.execution.LogicalRDD =>
          "rdd:" + rdd.rdd.id
      }.mkString(";")
      val canon = plan.canonicalized.toString + "|" + sources
      java.security.MessageDigest.getInstance("MD5")
        .digest(canon.getBytes(java.nio.charset.StandardCharsets.UTF_8))
        .map("%02x".format(_)).mkString
    }
    val enc = graft.ops.ListingCache.shared(
      s"sq8_encode:$idCol:$vecCol", df.sparkSession, s"plan:$planKey",
      reuse = true)(sq8Encode(df, idCol, vecCol))
    sqTopKFromEncoded(enc, idCol, vecCol, queryPred, k, shortlist)
  }

  /** The SQ8-encoded corpus — the amortizable state a deployment stores
    * (s05 IS the storage op): (idCol, vecCol, nrm, mx, q) with
    * `mx = max |x|` and `q = round(x · 127 / mx)` int8-range codes,
    * zero-direction rows (mx = 0) excluded. Encode is pure per-row map
    * work through the native [[graft.functions.MaxAbsF32]] /
    * [[graft.functions.Sq8EncodeF32]] kernels: the
    * `array_max(transform(...))` / `transform(round(...))` HOFs this
    * replaces evaluate their lambdas INTERPRETED — measured 107 s of a
    * 113 s sqTopK call at 1M vectors (the r11 many-query probe), paid
    * per CALL because the encode was inlined; factoring it out both
    * compiles the loop and lets one encode serve every later
    * [[sqTopKFromEncoded]] batch. Kernel ≡ HOF bit-for-bit
    * (Sq8KernelSpec). */
  def sq8Encode(df: DataFrame, idCol: String, vecCol: String): DataFrame =
    normalized(df, idCol, vecCol)
      .withColumn("mx",
        graft.functions.VectorExpressions.maxAbsF32(col(vecCol)))
      .filter(col("mx") > 0)
      .withColumn("q", graft.functions.VectorExpressions
        .sq8EncodeF32(col(vecCol), col("mx")))

  /** [[sqTopK]] steps (2)–(3) against a PRECOMPUTED [[sq8Encode]]
    * corpus: the int-dot scan over the broadcast query batch and the
    * exact-cosine rerank of the per-query `shortlist`. Per-query cost
    * is O(corpus) BY DESIGN (SQ8 is the training-free flat-scan path —
    * the scan just reads 4×-smaller codes); sub-linear per-query work
    * is [[ivfPqBuild]]/[[ivfPqSearch]]'s job.
    *
    * The scan emits ONLY (query_id, neighbor_id, approx) into the
    * shortlist window — ~24 bytes per candidate, the r10 codes-only
    * discipline ([[pqTopK]]): the pre-r11 shape dragged qe + the float
    * vector (~0.5 KB) through the n_q·corpus window shuffle, which
    * inverted SQ8's whole premise (the int8 scan read 4× LESS but
    * shuffled 20× MORE than the exact float scan). Raw vectors re-join
    * AFTER the cut, shortlist·n_q rows by id. */
  def sqTopKFromEncoded(enc: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, shortlist: Int = 50): DataFrame = {
    require(shortlist >= k && k > 0,
      s"sqTopKFromEncoded(k=$k, shortlist=$shortlist)")
    val qcodes = enc.filter(queryPred)
      .select(col(idCol).as("query_id"),
        col("nrm").as("qn"), col("mx").as("qmx"), col("q").as("qq"))
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("approx").desc, col("neighbor_id"))
    val short = broadcast(qcodes)
      .join(enc.select(col(idCol), col("mx"), col("q"), col("nrm")),
        col("query_id") =!= col(idCol))
      .select(col("query_id"), col(idCol).as("neighbor_id"),
        (graft.functions.VectorExpressions.dotI32(col("qq"), col("q"))
          .cast("double") * col("qmx") * col("mx") / lit(16129.0) /
          (col("qn") * col("nrm"))).as("approx"))
      .withColumn("srnk", row_number().over(wShort))
      .filter(col("srnk") <= shortlist)
    val wFull = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val nvec = enc.select(col(idCol), col(vecCol), col("nrm"))
    val qvec = enc.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"),
        col("nrm").as("qn"))
    short
      .join(nvec, short("neighbor_id") === nvec(idCol))
      .join(broadcast(qvec), Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col(vecCol)) / (col("qn") * col("nrm")))
          .as("cos"))
      .withColumn("rnk", row_number().over(wFull).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  /** A built IVF-SQ8 index — the Faiss `IndexIVFScalarQuantizer` shape
    * (r13 verdict item 3): the trained coarse quantizer gives the SQ
    * family SUB-LINEAR candidate selection (s13's flat scan reads the
    * whole corpus per query batch — measured 12.8–46 s at 5M), while
    * the per-list codes keep SQ8's training-free encode: ingest never
    * re-trains codebooks (there are none — `mx`/`q` are per-vector),
    * so growing this index is assign + encode, exactly like
    * [[ivfPqAppend]] but without even the frozen-codebook caveat.
    *
    *  - `cents` (list_id, centroid): the coarse quantizer (≤ 4√n rows
    *    under [[deriveNlist]]).
    *  - `enc` (idCol, list_id, mx, q, nrm): the [[sq8Encode]] codes +
    *    norms, routed — 4× smaller than the float corpus; no raw
    *    vectors (rerank re-joins the vector store by id). */
  final case class IvfSqIndex(cents: DataFrame, enc: DataFrame,
      idCol: String, nlist: Int, rows: Long = -1L, buckets: Int = 0,
      dim: Int = -1)

  /** Fail by name when a build's `payload` names one of the index's
    * own columns (the `reserved` set of build `op`). */
  private def requirePayloadFree(op: String, payload: Seq[String],
      reserved: Set[String]): Unit = {
    val bad = payload.filter(reserved)
    require(bad.isEmpty, s"$op: payload column(s) " +
      s"${bad.mkString(", ")} collide with reserved index columns " +
      s"(${reserved.toSeq.sorted.mkString(", ")}) — rename them")
  }

  /** Build an [[IvfSqIndex]]: sampled-Lloyd coarse centroids, then ONE
    * corpus pass that assigns (kernel argmax) and SQ8-encodes
    * map-side. Zero-direction rows (mx = 0) are excluded, the
    * [[sq8Encode]] convention. */
  def ivfSqBuild(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int = 0, iters: Int = 2, trainPerList: Int = 128,
      payload: Seq[String] = Nil): IvfSqIndex = {
    // `payload`: metadata columns carried into the codes frame — the
    // vector-store payload-filter design, exactly [[ivfPqBuild]]'s
    // (serve-time predicates evaluate against the codes scan itself:
    // [[ivfSqSearch]]'s `filter`).
    require(nlist >= 0 && iters >= 0 && trainPerList > 0,
      s"ivfSqBuild(nlist=$nlist)")
    requirePayloadFree("ivfSqBuild", payload, Set("bucket", "mx", "q",
      "nrm", "list_id", "cells", "cents", "cnrms", "cnrm2", idCol, vecCol,
      "query_id", "neighbor_id", "qe", "qn", "qmx", "qq",
      "cos", "rnk", "srnk", "lrnk"))
    val n = df.count()
    require(n > 0, s"ivfSqBuild: empty corpus — nothing to index " +
      s"(the $vecCol dimension cannot even be established)")
    val nl = math.max(1,
      if (nlist > 0) nlist else deriveNlist(n))
    val train = trainSample(df, idCol, nl.toLong * trainPerList, n)
    val cents =
      iterCheckpoint(kmeansCentroids(train, idCol, vecCol, nl, iters))
    // record the dimension (one bounded aggregate job): the SQ kernels
    // TRUNCATE mismatched lengths to min(length) instead of failing,
    // so a wrong-dimension append would otherwise corrupt rankings
    // silently (r14 review); [[ivfSqAppend]] checks batches against
    // this. Aggregate, not head(): a mixed-width CORPUS must fail the
    // build, not record whatever width row 1 happened to have (r14
    // advice).
    val dimRow = df.agg(min(size(col(vecCol))).as("lo"),
      max(size(col(vecCol))).as("hi")).head()
    val dim = dimRow.getInt(0)
    require(dim == dimRow.getInt(1) && dim > 0,
      s"ivfSqBuild: $vecCol has mixed dimensions " +
        s"${dimRow.getInt(0)}..${dimRow.getInt(1)} — the int8 dot " +
        "kernels would silently truncate mismatched rows")
    IvfSqIndex(cents,
      // frozen-literal encode (r17): one bounded centroid collect,
      // zero broadcast jobs on the corpus encode pass — bit-identical
      // to the broadcast-join reference encode (FrozenEncodeSpec)
      sqEncodeFrozen(df, idCol, vecCol, freezeCents(cents), payload),
      idCol, nl, n, dim = dim)
  }

  /** Probe + scan + rerank against a built [[IvfSqIndex]] — the
    * [[ivfPqSearch]] serving discipline with the int8 dot kernel in
    * place of ADC: each query routes to its `nProbe` max-cosine lists
    * ([[probeTopN]]), the candidate join is an EQUI-JOIN on the list id
    * over the int8 codes (never a flat corpus scan — the s13 gap this
    * exists to close), the per-query `shortlist` (default:
    * [[deriveShortlist]]'s occupancy rule against the index's own row
    * count) cuts on the approximate int-dot score, and the exact-cosine
    * rerank re-joins the full-vector store by id.
    *
    * Two physical regimes by query-batch size, the [[ivfPqSearch]]
    * switch: ≤ `broadcastQueries` broadcasts the probe rows into the
    * candidate join; above it the probes SHUFFLE-join the codes on
    * list_id and the shortlist cut is TWO-PHASE (rank within
    * (list_id, query_id) first — a sort in the join's existing
    * partitioning, zero new Exchange — so occupancy drops out of the
    * one unbounded shuffle). The scan carries ONLY (query_id,
    * neighbor_id, approx) into the shortlist window — the codes-only
    * discipline; raw vectors re-join AFTER the cut. */
  def ivfSqSearch(index: IvfSqIndex, queries: DataFrame, qidCol: String,
      qvecCol: String, vectors: DataFrame, vecCol: String, k: Int,
      nProbe: Int, shortlist: Int = 0,
      broadcastQueries: Int = 4096,
      pruneLists: Boolean = false,
      filter: Option[Column] = None): DataFrame = {
    // pruneLists: the serving path for a LOADED index ([[ivfSqLoad]]) —
    // same semantics and same eager-pin discipline as
    // [[ivfPqSearch]]'s: the batch's distinct probed list ids are
    // collected from PINNED probe rows and pushed as filters, so a
    // bucket-partitioned codes layout partition-prunes to the probed
    // lists' buckets. `filter`: a metadata predicate over the index's
    // payload columns ([[ivfSqBuild]]), PRE-applied to the codes side —
    // top-k of the MATCHING rows, exact at any selectivity
    // ([[ivfPqSearch]]'s payload-filter semantics).
    require(k > 0 && nProbe > 0 && broadcastQueries >= 0 &&
        (shortlist == 0 || shortlist >= k),
      s"ivfSqSearch(k=$k, shortlist=$shortlist, nProbe=$nProbe)")
    val encFiltered = filter.map(index.enc.filter).getOrElse(index.enc)
    val effShortlist =
      if (shortlist > 0) shortlist
      else deriveShortlist(
        if (index.rows >= 0) index.rows else index.enc.count(),
        index.nlist, k)
    val q0 = sq8Encode(queries, qidCol, qvecCol)
      .select(col(qidCol).as("query_id"), col(qvecCol).as("qe"),
        col("nrm").as("qn"), col("mx").as("qmx"), col("q").as("qq"))
    val probes0 = probeTopN(q0, "qe", Some("qn"), index.cents, nProbe)
      .select(col("query_id"), col("qn"), col("qmx"), col("qq"),
        col("list_id"))
    // the shared serving tail ([[pruneToProbedLists]]/[[shortlistCut]]/
    // [[exactRerank]]) with the int8 dot kernel as the score
    val (probes, encSide) = pruneToProbedLists(probes0, encFiltered,
      index.buckets, pruneLists)
    val probeLimit = (math.min(broadcastQueries.toLong, Int.MaxValue - 1L)
      + 1L).toInt
    val small =
      queries.select(col(qidCol)).limit(probeLimit).count() <=
        broadcastQueries
    val approx = graft.functions.VectorExpressions
      .dotI32(col("qq"), col("q")).cast("double") *
      col("qmx") * col("mx") / lit(16129.0) / (col("qn") * col("nrm"))
    val short = shortlistCut(probes, encSide, index.idCol, approx,
      effShortlist, small)
    exactRerank(short, vectors, index.idCol, vecCol,
      q0.select(col("query_id"), col("qe"), col("qn")), k, small)
  }

  /** IVF-SQ8 convenience — [[ivfSqBuild]] + [[ivfSqSearch]] in one call
    * (the [[ivfPqTopK]] shape); long-lived deployments call the parts
    * and amortize the build. */
  def ivfSqTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, nlist: Int = 0, nProbe: Int = 4,
      iters: Int = 2, shortlist: Int = 0,
      trainPerList: Int = 128): DataFrame = {
    val index = ivfSqBuild(df, idCol, vecCol, nlist, iters, trainPerList)
    ivfSqSearch(index, df.filter(queryPred)
        .select(col(idCol).as("query_id"), col(vecCol)),
      "query_id", vecCol, df, vecCol, k, nProbe, shortlist)
  }

  /** Persist an [[IvfSqIndex]] under `dir` — the saved-index store of
    * [[ivfPqSave]] with the SQ8 codec: the same layout (centroids + a
    * one-row meta frame, codes hive-partitioned by
    * `bucket = pmod(list_id, buckets)` and list_id-sorted within each
    * partition), generational publish, row-count record and checks. */
  def ivfSqSave(index: IvfSqIndex, dir: String, buckets: Int = 64,
      vectorsPerList: Int = 400, sqrtFactor: Double = 4.0): Unit =
    saveIndexDir(SqDir, index, dir, buckets, vectorsPerList, sqrtFactor)

  /** Restore an [[ivfSqSave]]d index (codes keep their `bucket`
    * partition column — what makes `pruneLists` partition-prune). */
  def ivfSqLoad(spark: SparkSession, dir: String): IvfSqIndex =
    loadIndexDir(SqDir, "ivfSqLoad", spark, dir,
      resolveIndexTree(spark, dir)).idx

  /** Grow a saved IVF-SQ8 index in place — [[ivfPqAppend]] with the SQ8
    * codec, and the PURE Faiss `add` case: the SQ8 encode has no
    * trainable state (no codebooks), so nothing is frozen-but-stale
    * beyond the coarse quantizer. Serialize with compact/retrain. */
  def ivfSqAppend(spark: SparkSession, dir: String, batch: DataFrame,
      vecCol: String): PqAppendStats =
    appendIndexDir(SqDir, spark, dir, batch, vecCol)

  /** [[ivfPqIndexStats]] for a saved IVF-SQ8 index. */
  def ivfSqIndexStats(spark: SparkSession, dir: String,
      vectorsPerList: Int = 0, sqrtFactor: Double = 0.0): IndexStats =
    indexDirStats(SqDir, spark, dir, vectorsPerList, sqrtFactor)

  /** [[ivfPqCompact]] for a saved IVF-SQ8 index. */
  def ivfSqCompact(spark: SparkSession, dir: String): CompactionStats =
    compactIndexDir(SqDir, spark, dir)

  /** [[ivfPqRetrain]] for a saved IVF-SQ8 index. The SQ codes do NOT
    * depend on the quantizer (`mx`/`q` are per-vector), so a retrain
    * COULD re-route existing codes without the raw corpus; the rebuild
    * over `vectors` is kept for the exact [[ivfPqRetrain]] contract
    * (fresh sample-trained centroids — a re-route under stale centroids
    * would keep the drifted geometry). */
  def ivfSqRetrain(spark: SparkSession, dir: String, vectors: DataFrame,
      vecCol: String, nlist: Int = 0, iters: Int = 2,
      trainPerList: Int = 128, vectorsPerList: Int = 0,
      sqrtFactor: Double = 0.0): PqRetrainStats =
    retrainIndexDir(SqDir, spark, dir, vectors, vecCol, nlist, iters,
      trainPerList, vectorsPerList, sqrtFactor)

  /** IVF-PQ approximate top-k — the Faiss IVFPQ composition ([[pqTopK]]'s
    * own Scaladoc promise): a TRAINED coarse quantizer cuts candidates
    * SUB-LINEARLY before the ADC scan, so neither the queries nor the
    * ADC ever touch the whole corpus.
    *
    * Pipeline: (1) `nlist` coarse centroids by distributed Lloyd
    * ([[kmeansCentroids]] — the corpus never visits the driver);
    * (2) every corpus vector
    * joins its argmax list ([[assignToCentroids]], map-only); (3) PQ
    * codebooks train in one Lloyd loop and encode each vector as `m`
    * codes ([[pqCodebooks]]/encode, map-only against the frozen
    * codebook); (4) each query probes its `nProbe` max-cosine lists
    * ([[probeTopN]] — the native CentroidTopNF32 kernel per row, no
    * window); (5) ADC scores ONLY the
    * probed lists' codes — the
    * candidate join is an EQUI-JOIN on the list id, never a flat scan
    * (s10's documented gap); (6) the per-query `shortlist` reranks by
    * exact cosine.
    *
    * Scale shape: work per query is nProbe × (corpus/nlist) CODE reads
    * (m bytes each, not vectors) + `shortlist` full-vector reads. With
    * nlist grown with the corpus per [[deriveNlist]] (fixed occupancy
    * up to the 2.56M-vector crossover, the Faiss 4√n convention past
    * it — which caps the build's assignment pass at O(n^1.5)) and
    * fixed nProbe, per-query cost is constant in corpus size up to the
    * crossover and √n-ish past it, absorbed by the m-byte-per-code ADC
    * scan; the remaining linear passes (train/assign/encode) are
    * map-side index-BUILD cost paid once, amortized over every query
    * batch against the index. On a near-isotropic corpus (no cluster
    * structure for the quantizer to find) recall tracks the probed
    * fraction nProbe/nlist — that is a property of the DATA, not the
    * index; clustered real-world embedding corpora probe a few percent
    * for high recall.
    *
    * Training runs on a deterministic md5-bucket SAMPLE of
    * ~`trainPerList`·nlist vectors (the Faiss convention, and t19's
    * sampling trick): centroids and codebooks describe the SPACE, not
    * the data, so bounded-occupancy training loses nothing — while
    * full-corpus training makes index build O(n·nlist), quadratic once
    * nlist grows with the corpus (the d12 lesson's ANN twin: measured
    * 10.7× wall on 10× data before the sample, sub-linear after). The
    * full corpus still takes exactly ONE assignment + ONE encode pass.
    *
    * This convenience composes [[ivfPqBuild]] + [[ivfPqSearch]] —
    * deployments with a long-lived index or more than one query batch
    * call those directly and pay the build once. */
  def ivfPqTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, dim: Int, nlist: Int, nProbe: Int = 4,
      m: Int = 8, ksub: Int = 16, iters: Int = 2,
      shortlist: Int = 0, trainPerList: Int = 128): DataFrame = {
    // shortlist = 0 derives from the corpus count ([[ivfPqSearch]]'s
    // default — [[deriveShortlist]]'s occupancy rule)
    require((shortlist == 0 || shortlist >= k) && k > 0 && nlist > 0 &&
      nProbe > 0 && trainPerList > 0,
      s"ivfPqTopK(k=$k, shortlist=$shortlist, nlist=$nlist, nProbe=$nProbe)")
    val index = ivfPqBuild(df, idCol, vecCol, dim, nlist, m, ksub,
      iters, trainPerList)
    ivfPqSearch(index, df.filter(queryPred)
        .select(col(idCol).as("query_id"), col(vecCol)),
      "query_id", vecCol, df, vecCol, k, nProbe, shortlist)
  }

  /** A built IVF-PQ index — the amortizable state [[ivfPqBuild]]
    * produces ONCE and [[ivfPqSearch]] queries many times (the p16
    * streaming-ANN deployment shape: index build is the per-corpus-byte
    * cost; query batches arrive forever after).
    *
    *  - `cents` (list_id, centroid): the coarse quantizer, ≤ 4√n rows
    *    under the [[deriveNlist]] discipline.
    *  - `enc` (idCol, list_id, code, rnorm): the codes-only corpus —
    *    `m` bytes of code + the reconstruction norm per vector, NO raw
    *    vectors (the 64× compression IS the index; rerank re-joins the
    *    vector store by id).
    *  - `lookup`: the one-row PQ codebook map; every encode and query
    *    LUT freezes it into plan literals ([[freezeFlatLookup]]).
    *
    * Persist/restore: [[ivfPqSave]]/[[ivfPqLoad]] — plain parquet on the
    * three frames, with the codes hive-partitioned by
    * `bucket = pmod(list_id, buckets)` so a loaded index's serving-time
    * probe partition-prunes to the probed lists' buckets
    * (`buckets` = 0 means in-session/unpartitioned — the build shape). */
  final case class IvfPqIndex(cents: DataFrame, enc: DataFrame,
      lookup: DataFrame, idCol: String, nlist: Int, dim: Int, m: Int,
      ksub: Int, buckets: Int = 0, rows: Long = -1L)
  // `rows`: the corpus count at build time — what [[ivfPqSearch]]'s
  // default shortlist derivation sizes against ([[deriveShortlist]]
  // needs n, and the build already paid the count). -1 = unknown
  // (hand-assembled or pre-r14 saved index); the search then counts
  // the codes frame once.

  /** Build an [[IvfPqIndex]] over `df` — steps (1)–(3) of the
    * [[ivfPqTopK]] pipeline (sampled Lloyd for centroids and codebooks,
    * ONE full-corpus assignment pass, ONE full-corpus encode pass), with
    * the per-query state factored out so a long-lived index amortizes
    * the build over every later [[ivfPqSearch]] batch.
    *
    * The PQ encodes RESIDUALS — `x − centroid(list)`, the Faiss
    * IndexIVFPQ `by_residual` convention — not raw vectors. On
    * clustered data (every real embedding corpus) the members of one
    * coarse list agree on the centroid and differ only in the
    * residual; raw-vector PQ therefore assigns near-IDENTICAL codes to
    * a whole list and the ADC shortlist degenerates to an id-ordered
    * lottery over it. Measured (r12, margin-bearing 1M-vector slice,
    * 1000 true clusters): raw-code recall@5 was 0.300 FLAT in nProbe ∈
    * {16, 64, 256} — the shortlist, not probe selection, was the loss
    * — while SQ8/exact read 1.000 on the same slice. Residual encoding
    * spends the codebook's resolution inside the list, where the
    * candidates actually differ. ADC scores become
    * `(q·c + LUT_r(q, code)) / ‖c + r̂‖` ([[ivfPqSearch]]): `q·c` is
    * exact per (query, list) — one extra double on each probe row —
    * and the stored `rnorm` is the FULL reconstruction norm
    * `‖c + r̂‖ = √(‖c‖² + 2·c·r̂ + ‖r̂‖²)`, each term a code-indexed
    * LUT read against per-list tables of bounded size (nlist rows —
    * driver/broadcast-safe under the [[deriveNlist]] 4√n cap). */
  def ivfPqBuild(df: DataFrame, idCol: String, vecCol: String,
      dim: Int, nlist: Int, m: Int = 8, ksub: Int = 16, iters: Int = 2,
      trainPerList: Int = 128, payload: Seq[String] = Nil): IvfPqIndex = {
    // `payload`: extra columns of `df` carried into the CODES frame —
    // the vector-store payload-filter design (Qdrant/Vespa): serve-time
    // metadata predicates ([[ivfPqSearch]]'s `filter`) evaluate against
    // the codes scan itself, so a filtered search never joins the
    // corpus to fetch attributes. They persist through [[ivfPqSave]] /
    // [[ivfPqLoad]] (the codes frame writes wholesale), costing their
    // width once per code row.
    require(nlist > 0 && trainPerList > 0 && m > 0 && dim % m == 0 &&
      ksub > 1 && iters >= 0,
      s"ivfPqBuild(dim=$dim, nlist=$nlist, m=$m, ksub=$ksub)")
    // fail by NAME on payload columns that collide with the pipeline's
    // internals: `bucket` would be SILENTLY overwritten by ivfPqSave's
    // partition column (a serve-time filter on it would then compare
    // against pmod(list_id, buckets), wrong results, no error); the
    // rest die later as opaque ambiguous-column AnalysisExceptions
    requirePayloadFree("ivfPqBuild", payload, Set("bucket", "code",
      "rnorm", "list_id", "nrm", "cells", "cents", "cnrms", "cnrm2", idCol,
      vecCol,
      // serve-time internals ([[ivfPqSearch]]): a payload column named
      // one of these builds fine and then dies at search time as an
      // opaque ambiguous-column error — or silently shadows the
      // pipeline's own column (r13 ADVICE). The __-prefixed
      // intermediates are already collision-proof by convention but
      // guard them too: the codes frame carries payload columns
      // verbatim into every serve-time join.
      "query_id", "neighbor_id", "qe", "qn", "qc", "qlut", "adc",
      "cos", "rnk", "srnk", "lrnk"))
    val nRows = df.count()
    val train = trainSample(df, idCol, nlist.toLong * trainPerList,
      nRows)
    // The centroid table feeds two subtrees (corpus assignment + query
    // probes); materialize the Lloyd loop once. The trained table is
    // then FROZEN once (r17 — one bounded collect over the checkpoint
    // blocks, the [[FrozenCents]] literal-plan discipline): the
    // codebook-training residuals and the corpus encode pass read the
    // centroids as plan literals instead of re-executing a
    // broadcast-join subtree each, which removes every per-build
    // broadcast-future job from the encode tail while keeping each
    // value bit-identical (FrozenEncodeSpec pins frozen == broadcast
    // encode).
    val cents =
      iterCheckpoint(kmeansCentroids(train, idCol, vecCol, nlist, iters))
    val fc = freezeCents(cents)
    // assignment + residual: literal-table argmax + O(1) element_at
    // centroid fetch, subtraction through the codegen'd VecSubF32
    // kernel (an interpreted zip_with here would put a lambda on the
    // full-corpus encode pass — the r10/r11 cliff class)
    def residuals(src: DataFrame, carry: Seq[String] = Nil): DataFrame =
      assignFrozen(src, idCol, vecCol, fc, carry = carry)
        .withColumn("__res", graft.functions.VectorExpressions
          .vecSubF32(col(vecCol),
            element_at(fc.centByList, col("list_id") + 1)))
    // codebooks train on the SAMPLE's residuals (one shared PQ across
    // lists, the Faiss shape — per-list codebooks would be nlist·m·ksub
    // driver state for nothing)
    // L2 objective throughout the residual PQ (train AND encode): the
    // residual is a small displacement to RECONSTRUCT, not a direction
    // to match — see [[pqCodebooks]]'s l2 note for the measured cosine
    // failure mode
    val lookup = iterCheckpoint(pqLookup(pqCodebooks(
      residuals(train), idCol, "__res", dim, m, ksub, iters, l2 = true)))
    val enc = pqEncodeFrozen(df, idCol, vecCol,
      freezePq(fc, cents, lookup, dim, m, ksub), dim, m, ksub, payload)
    IvfPqIndex(cents, enc, lookup, idCol, nlist, dim, m, ksub,
      rows = nRows)
  }

  /** The ACTIVE tree of a saved index dir. Since r14 the save layout is
    * generational: `dir/CURRENT` (a one-line pointer file) names the
    * live `gen-<id>/` subdir holding codes/cents/lookup/meta, and
    * [[saveIndexDir]] publishes a rewrite by swapping the POINTER —
    * the previous generation's files stay on disk for one full save
    * cycle, so an index loaded before a retrain/compact keeps scanning
    * its own complete generation instead of dying on deleted files
    * mid-probe (the table layout's no-absence-window property,
    * [[compactBucketedIndex]], brought to the saved layout). A
    * pre-generational dir (no CURRENT) resolves to itself — legacy
    * saves keep loading. Reading the pointer pins a COHERENT snapshot:
    * every frame a load reads comes from the one generation the
    * pointer named. */
  private[graft] def resolveIndexTree(spark: SparkSession, dir: String)
      : String = {
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    readSmallFile(fs, new org.apache.hadoop.fs.Path(root, "CURRENT")) match {
      case None =>
        // missing pointer + generation dirs present = a swap that
        // crashed between the delete and the rename of a save written
        // before the pointer swap became one atomic rename: falling
        // back to the root here would SILENTLY serve a stale legacy
        // tree kept for grace — fail loudly instead; the next save
        // self-heals it (it writes a fresh generation and pointer).
        // Only a dir with NO generations is a legacy layout.
        val hasGens = fs.exists(root) && fs.listStatus(root)
          .exists(st => st.isDirectory &&
            st.getPath.getName.startsWith("gen-"))
        if (hasGens)
          throw new IllegalStateException(
            s"resolveIndexTree($dir): CURRENT pointer missing while " +
              "generation dirs exist — a publish swap is in flight " +
              "(retry) or crashed mid-swap (the next save repairs it)")
        dir
      case Some(name) =>
        require(name.nonEmpty && !name.contains("/"),
          s"resolveIndexTree($dir): malformed CURRENT pointer '$name'")
        new org.apache.hadoop.fs.Path(root, name).toString
    }
  }

  /** A small text file's trimmed content, or None when it is absent. */
  private def readSmallFile(fs: org.apache.hadoop.fs.FileSystem,
      p: org.apache.hadoop.fs.Path): Option[String] =
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      try Some(scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim)
      finally in.close()
    }

  /** Replace `p` with `text` in one atomic step, never a delete then a
    * rename: a crash leaves the old content or the new, and a reader
    * never finds the file missing. Local paths are written through
    * java.nio (temp file + atomic rename); every other filesystem goes
    * through Spark's checkpoint file manager, which renames with
    * overwrite. */
  private def writeAtomic(spark: SparkSession,
      p: org.apache.hadoop.fs.Path, text: String): Unit = {
    val out = new graft.pubsub.LocalCheckpointFileManager(p.getParent,
      spark.sparkContext.hadoopConfiguration)
      .createAtomic(p, overwriteIfPossible = true)
    try out.write(text.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    catch { case e: Throwable => out.cancel(); throw e }
    out.close()
  }

  /** The row count an append records inside the live generation (one
    * decimal line). A save writes none — the generation's
    * `meta.parquet` carries the count it was published with — so a
    * load reads this record when present, then meta's `rows`, then a
    * codes footer count (pre-r14 saves). */
  private val RowsRecord = "ROWS"

  /** A frozen batch encode: (batch, vecCol, payload) => codes. */
  private type BatchEncode = (DataFrame, String, Seq[String]) => DataFrame

  /** The codec-free shape of a saved index: what every lifecycle step
    * reads from an [[IvfSqIndex]] or [[IvfPqIndex]]. */
  private final case class DirCore(enc: DataFrame, idCol: String,
      nlist: Int, dim: Int, buckets: Int, rows: Long)

  /** What distinguishes the two codecs of the saved-index store: the
    * meta columns, the extra frames, the pipeline-owned code columns
    * (everything else in the codes frame is payload), the frozen batch
    * encode, and the rebuild a retrain runs. `family` prefixes the op
    * names in errors (`ivfSqAppend`, `ivfPqRetrain`, ...). */
  private sealed abstract class DirCodec[I](val family: String,
      val label: String, codeCols: Set[String]) {
    def core(i: I): DirCore
    def withCodes(i: I, enc: DataFrame, rows: Long): I
    def extras(i: I): Seq[(String, DataFrame)]
    def meta(i: I, buckets: Int, vpl: Int, sf: Double): DataFrame
    def fromTree(spark: SparkSession, tree: String,
        meta: org.apache.spark.sql.Row, enc: DataFrame, rows: Long): I
    /** Freeze the generation's encode state once (bounded collects);
      * the returned encode runs zero side jobs per batch. */
    def encoder(i: I): BatchEncode
    def rebuild(old: I, vectors: DataFrame, vecCol: String, nlist: Int,
        iters: Int, trainPerList: Int, payload: Seq[String]): I
    def payload(c: DirCore): Seq[String] =
      c.enc.columns.filterNot(codeCols + c.idCol).toSeq
  }

  private object SqDir extends DirCodec[IvfSqIndex]("ivfSq", "IVF-SQ8",
      Set("list_id", "mx", "q", "nrm", "bucket")) {
    def core(i: IvfSqIndex) =
      DirCore(i.enc, i.idCol, i.nlist, i.dim, i.buckets, i.rows)
    def withCodes(i: IvfSqIndex, enc: DataFrame, rows: Long) =
      i.copy(enc = enc, rows = rows)
    def extras(i: IvfSqIndex) = Seq("cents.parquet" -> i.cents)
    def meta(i: IvfSqIndex, buckets: Int, vpl: Int, sf: Double) = {
      val s = i.cents.sparkSession
      import s.implicits._
      Seq((i.idCol, i.nlist, buckets, i.rows, vpl, sf, i.dim))
        .toDF("id_col", "nlist", "buckets", "rows", "vectors_per_list",
          "sqrt_factor", "dim")
    }
    def fromTree(spark: SparkSession, tree: String,
        meta: org.apache.spark.sql.Row, enc: DataFrame, rows: Long) =
      IvfSqIndex(spark.read.parquet(s"$tree/cents.parquet"), enc,
        meta.getAs[String]("id_col"), meta.getAs[Int]("nlist"), rows,
        meta.getAs[Int]("buckets"),
        // saves before the dim column resolve -1: no dim guard
        if (meta.schema.fieldNames.contains("dim")) meta.getAs[Int]("dim")
        else -1)
    def encoder(i: IvfSqIndex): BatchEncode = {
      val fc = freezeCents(i.cents)
      (b, vecCol, payload) => sqEncodeFrozen(b, i.idCol, vecCol, fc, payload)
    }
    def rebuild(old: IvfSqIndex, vectors: DataFrame, vecCol: String,
        nlist: Int, iters: Int, trainPerList: Int, payload: Seq[String]) =
      ivfSqBuild(vectors, old.idCol, vecCol, nlist, iters, trainPerList,
        payload)
  }

  private object PqDir extends DirCodec[IvfPqIndex]("ivfPq", "IVF-PQ",
      Set("list_id", "code", "rnorm", "bucket")) {
    def core(i: IvfPqIndex) =
      DirCore(i.enc, i.idCol, i.nlist, i.dim, i.buckets, i.rows)
    def withCodes(i: IvfPqIndex, enc: DataFrame, rows: Long) =
      i.copy(enc = enc, rows = rows)
    def extras(i: IvfPqIndex) =
      Seq("cents.parquet" -> i.cents, "lookup.parquet" -> i.lookup)
    def meta(i: IvfPqIndex, buckets: Int, vpl: Int, sf: Double) = {
      val s = i.cents.sparkSession
      import s.implicits._
      Seq((i.idCol, i.nlist, i.dim, i.m, i.ksub, buckets, i.rows, vpl, sf))
        .toDF("id_col", "nlist", "dim", "m", "ksub", "buckets", "rows",
          "vectors_per_list", "sqrt_factor")
    }
    def fromTree(spark: SparkSession, tree: String,
        meta: org.apache.spark.sql.Row, enc: DataFrame, rows: Long) =
      IvfPqIndex(spark.read.parquet(s"$tree/cents.parquet"), enc,
        spark.read.parquet(s"$tree/lookup.parquet"),
        meta.getAs[String]("id_col"), meta.getAs[Int]("nlist"),
        meta.getAs[Int]("dim"), meta.getAs[Int]("m"),
        meta.getAs[Int]("ksub"), meta.getAs[Int]("buckets"), rows)
    def encoder(i: IvfPqIndex): BatchEncode = {
      val st = freezePq(freezeCents(i.cents), i.cents, i.lookup, i.dim,
        i.m, i.ksub)
      (b, vecCol, payload) =>
        pqEncodeFrozen(b, i.idCol, vecCol, st, i.dim, i.m, i.ksub, payload)
    }
    def rebuild(old: IvfPqIndex, vectors: DataFrame, vecCol: String,
        nlist: Int, iters: Int, trainPerList: Int, payload: Seq[String]) =
      ivfPqBuild(vectors, old.idCol, vecCol, old.dim, nlist, old.m,
        old.ksub, iters, trainPerList, payload)
  }

  /** The one save of a saved index dir, for either codec: write a fresh
    * generation, then swap the pointer ([[publishGeneration]]). The
    * sub-frames write independently, so writing in place would let a
    * mid-save failure leave NEW codes under OLD meta (or vice versa) —
    * a later load + pruneLists would then filter on bucket = id % the
    * WRONG modulus and silently drop whole probed lists (r12 advice);
    * with the swap a load can never read a torn index. Codes sort by
    * (bucket, list_id): the partition column leads, so the write
    * inserts no sort of its own and the intra-bucket list_id order the
    * row-group-skip needs survives (r12 advice). `vpl`/`sf`: the
    * deriveNlist rule this deployment sizes with, persisted in the meta
    * frame so stats' outgrown trigger and retrain's width re-derivation
    * default to the SAME rule the index was built with. Returns the new
    * generation's tree. */
  private def saveIndexDir[I](c: DirCodec[I], index: I, dir: String,
      buckets: Int, vpl: Int, sf: Double): String = {
    val opName = s"${c.family}Save"
    require(buckets > 0 && vpl > 0 && sf > 0,
      s"$opName(buckets=$buckets, vectorsPerList=$vpl, sqrtFactor=$sf)")
    val core = c.core(index)
    val s = core.enc.sparkSession
    val root = new org.apache.hadoop.fs.Path(dir)
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    val curFile = new org.apache.hadoop.fs.Path(root, "CURRENT")
    // the generation the pointer names NOW (None on a fresh or legacy
    // dir) — it survives this save as the grace copy for readers in
    // flight, and is reclaimed by the NEXT save. If CURRENT is ABSENT
    // but complete generations exist, a save written before the atomic
    // pointer swap crashed inside its delete→rename: readers loaded
    // before the crash still hold frames of the newest complete
    // generation, so THAT generation is the grace copy — treating it as
    // None would let the publish's cleanup delete it out from under
    // them (r14 advice).
    val prevGen: Option[String] = readSmallFile(fs, curFile).orElse(
      if (!fs.exists(root)) None
      else fs.listStatus(root)
        .filter(st => st.isDirectory &&
          st.getPath.getName.startsWith("gen-") &&
          fs.exists(new org.apache.hadoop.fs.Path(st.getPath,
            "meta.parquet")))
        .sortBy(_.getModificationTime)
        .lastOption.map(_.getPath.getName))
    val genName = "gen-" +
      java.util.UUID.randomUUID().toString.take(8)
    val gen = new org.apache.hadoop.fs.Path(root, genName)
    publishGeneration(fs, gen, prevGen,
      generations = () => fs.listStatus(root).toSeq
        .filter(st => st.isDirectory && st.getPath.getName.startsWith("gen-"))
        .map(_.getPath),
      write = () => {
        core.enc
          .withColumn("bucket", pmod(col("list_id"), lit(buckets)))
          .repartition(col("bucket"))
          .sortWithinPartitions("bucket", "list_id")
          .write.mode("overwrite").partitionBy("bucket")
          .parquet(s"$gen/codes.parquet")
        c.extras(index).foreach { case (name, df) =>
          df.write.mode("overwrite").parquet(s"$gen/$name") }
        // meta LAST — the commit marker within the generation: a gen
        // tree missing meta is visibly incomplete
        c.meta(index, buckets, vpl, sf)
          .write.mode("overwrite").parquet(s"$gen/meta.parquet")
      },
      // the POINTER swaps, not the data, in one atomic rename
      swap = () => writeAtomic(s, curFile, genName))
    // legacy top-level frames (pre-generational saves) are a cycle stale
    // once a previous generation existed; so are pointer temp files a
    // crash left behind
    val legacyFrames = Set("codes.parquet", "cents.parquet",
      "lookup.parquet", "meta.parquet", RowsRecord)
    fs.listStatus(root).foreach { st =>
      val n = st.getPath.getName
      if (prevGen.isDefined && legacyFrames(n) ||
          n.stripPrefix(".").startsWith("CURRENT.") && n.contains("tmp"))
        fs.delete(st.getPath, true)
    }
    gen.toString
  }

  /** Test hook inside [[publishGeneration]]: runs after the generation
    * write and before the pointer swap, inside the write's failure
    * scope. No-op in production; specs must reset it. */
  private[graft] var publishTestHook: () => Unit = () => ()

  /** The one generation publish of both index layouts — a saved dir
    * (`gen-<id>` children named by its `CURRENT` pointer) and a bucketed
    * table (`.compact-<id>` siblings named by its catalog LOCATION):
    *  1. `write` fills the fresh generation `gen` and may verify it; on
    *     a throw `gen` is deleted (a failed cleanup is suppressed, never
    *     masking the cause) and the pointer is never touched;
    *  2. `swap` moves the one pointer to `gen` atomically: a reader sees
    *     the old generation or the new one, never a torn tree. A failed
    *     swap leaves `gen` for the next publish to clean;
    *  3. every generation `generations()` lists except `gen` and
    *     `replaced` (the grace copy for readers that planned before the
    *     swap) is deleted: a full cycle stale under the
    *     serialize-maintenance contract. Siblings compare by name. */
  private def publishGeneration(fs: org.apache.hadoop.fs.FileSystem,
      gen: org.apache.hadoop.fs.Path, replaced: Option[String],
      generations: () => Seq[org.apache.hadoop.fs.Path],
      write: () => Unit, swap: () => Unit): Unit = {
    try { write(); publishTestHook() }
    catch { case e: Throwable =>
      try fs.delete(gen, true)
      catch { case ce: Throwable => e.addSuppressed(ce) }
      throw e
    }
    swap()
    generations().foreach { p =>
      if (p.getName != gen.getName && !replaced.contains(p.getName))
        fs.delete(p, true)
    }
  }

  /** The one data-file count of both index layouts: `.parquet` leaves
    * under `dir`, recursively, skipping every path segment below `dir`
    * that starts with `_` or `.` — side state no scan reads (the
    * `_quantizer` dir, `_SUCCESS` markers, checksum and temp files). */
  private def dataFiles(spark: SparkSession, dir: String): Int = {
    val p = new org.apache.hadoop.fs.Path(dir)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(p)) return 0
    val root = fs.makeQualified(p).toUri.getPath
    val it = fs.listFiles(p, true)
    var n = 0
    while (it.hasNext) {
      val f = it.next().getPath
      val hidden = f.toUri.getPath.stripPrefix(root).split("/")
        .exists(s => s.startsWith("_") || s.startsWith("."))
      if (!hidden && f.getName.endsWith(".parquet")) n += 1
    }
    n
  }

  /** One loaded generation of a saved dir: the index, its codec-free
    * shape, the tree it was read from, and the persisted deriveNlist
    * rule (400/4.0 for saves that predate it). */
  private final case class SavedGen[I](idx: I, core: DirCore,
      tree: String, vpl: Int, sf: Double)

  /** The one load of a saved index dir: reads `tree` (the generation
    * the caller resolved once), meta by column name. A dir saved by the
    * other codec fails by name instead of misreading its meta. */
  private def loadIndexDir[I](c: DirCodec[I], op: String,
      spark: SparkSession, dir: String, tree: String): SavedGen[I] = {
    val metaDf = spark.read.parquet(s"$tree/meta.parquet")
    def has(col: String) = metaDf.columns.contains(col)
    val saved: DirCodec[_] = if (has("ksub")) PqDir else SqDir
    require(saved eq c, s"$op($dir): the dir holds a saved " +
      s"${saved.label} index, not ${c.label} — use the " +
      s"${saved.family}* entry points")
    val meta = metaDf.head()
    val enc = spark.read.parquet(s"$tree/codes.parquet")
    val fs = new org.apache.hadoop.fs.Path(tree)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    // a pre-r14 index resolves `rows` ONCE here (a parquet footer
    // count), never per search call: the default-shortlist derivation
    // reads index.rows on every search, and a per-call count would put
    // an O(files) job in front of every pruned serving probe
    val rows = readSmallFile(fs,
        new org.apache.hadoop.fs.Path(tree, RowsRecord)).map(_.toLong)
      .getOrElse(if (has("rows")) meta.getAs[Long]("rows") else enc.count())
    val idx = c.fromTree(spark, tree, meta, enc, rows)
    val (vpl, sf) =
      if (!has("vectors_per_list")) (400, 4.0)
      else (meta.getAs[Int]("vectors_per_list"),
        meta.getAs[Double]("sqrt_factor"))
    SavedGen(idx, c.core(idx), tree, vpl, sf)
  }

  /** Persist an [[IvfPqIndex]] as plain parquet under `dir` — the
    * build-once / serve-for-weeks deployment shape. Centroids, PQ
    * lookup, and a one-row meta frame are tiny; the codes write
    * hive-partitioned by `bucket = pmod(list_id, buckets)` and SORTED
    * by list_id within each partition, so a loaded index's
    * `pruneLists` probe partition-prunes to the probed lists' buckets
    * and row-group-skips within them. The codes pay one bounded
    * shuffle here (repartition into buckets — persist-time batch work,
    * a few dozen bytes per vector); size `buckets` to the serving
    * batch's probed-list count — more buckets prune sharper but write
    * more files. `vectorsPerList`/`sqrtFactor` persist the deriveNlist
    * rule ([[saveIndexDir]]). */
  def ivfPqSave(index: IvfPqIndex, dir: String, buckets: Int = 64,
      vectorsPerList: Int = 400, sqrtFactor: Double = 4.0): Unit =
    saveIndexDir(PqDir, index, dir, buckets, vectorsPerList, sqrtFactor)

  /** Restore an [[ivfPqSave]]d index. The codes frame keeps its
    * `bucket` partition column (harmless to the search joins; it is
    * what makes `pruneLists` partition-prune). The generation resolves
    * ONCE: every frame reads the one coherent tree the pointer named. */
  def ivfPqLoad(spark: SparkSession, dir: String): IvfPqIndex =
    loadIndexDir(PqDir, "ivfPqLoad", spark, dir,
      resolveIndexTree(spark, dir)).idx

  /** A cached generation: its codec-free shape, its payload columns and
    * its frozen batch encode. */
  private final case class FrozenGen(core: DirCore, payload: Seq[String],
      encode: BatchEncode)

  /** Per-application cache of a saved index tree's FROZEN state (r16),
    * keyed by (applicationId, codec, index dir) and VALIDATED against
    * the resolved generation tree. Within one generation the quantizer
    * (cents), codebooks (lookup), structural meta and the codes SCHEMA
    * are immutable by the layout's design — appends only ADD code
    * files and advance the row-count record — and generation names are
    * fresh UUIDs on every publish ([[saveIndexDir]]), so a
    * retrain/compact is a guaranteed cache miss: the append path
    * re-resolves CURRENT per call and lands on the new generation's
    * entry (the autopilot specs pin post-swap batches routing under
    * the NEW lists). Keying by DIR and replacing on a tree change
    * (r17, the r16-verdict eviction item) means a dead generation's
    * entry is dropped the moment the next append sees the new
    * generation — a weeks-long retraining stream holds ONE entry per
    * index, not one per publish. Only the APPEND path reads this
    * cache — loads that serve searches must see freshly-listed code
    * files and keep using [[ivfPqLoad]]/[[ivfSqLoad]]. An entry's
    * `rows` may predate later appends within the same generation:
    * appends recount from the committed codes, and the empty-batch
    * path re-reads the live count. Since r17 the entry also carries
    * the generation's FROZEN ENCODE ([[FrozenCents]]/[[FrozenPq]] —
    * bounded tables collected once and re-embedded as plan literals),
    * which is what removes the per-micro-batch broadcast-future jobs
    * from the append encode. */
  private val frozenIdxCache =
    new java.util.concurrent.ConcurrentHashMap[
      (String, String, String), (String, FrozenGen)]()

  private def frozenIdx(spark: SparkSession, layout: String, dir: String,
      tree: String, load: () => FrozenGen): FrozenGen =
    frozenIdxCache.compute(
      (spark.sparkContext.applicationId, layout, dir),
      (_, cur) => if (cur != null && cur._1 == tree) cur
        else (tree, load()))._2

  /** Test hook: the cached generation trees for one index dir (all
    * layouts) — pins the r17 eviction contract (one live entry per
    * dir; a publish replaces, never accumulates). */
  private[graft] def frozenIdxCachedTrees(dir: String): Seq[String] =
    frozenIdxCache.entrySet().stream()
      .filter(e => e.getKey._3 == dir)
      .map[String](e => e.getValue._1)
      .toArray.toSeq.map(_.toString)

  /** FROZEN quantizer state (r17): the bounded centroid table collected
    * ONCE and re-embedded as kernel arrays and plan literals, so
    * re-encoding a batch against it runs ZERO side jobs per call. The
    * broadcast-join shape launched one broadcast-future job per frozen
    * subtree per call — 4-5 per append, per MICRO-BATCH, measured as
    * the dominant job count on the p18/p19/p20/s17 ingest gates (guide
    * §1.2-1/§3: the frozen tables are immutable within a generation,
    * so re-executing their subtrees per batch buys nothing). Values
    * come from executing the SAME Spark expressions the join shape
    * broadcast (one bounded job at freeze time), so every downstream
    * float is bit-identical — p18/p19's grown-equals-built multiset
    * gates pin this. nlist is bounded by the deriveNlist 4√n cap. */
  private[graft] final case class FrozenCents(
      rows: Array[(Int, scala.collection.Seq[Float], Double)],
      centroidType: org.apache.spark.sql.types.DataType) {
    import org.apache.spark.sql.types._
    def isEmpty: Boolean = rows.isEmpty
    /** Dense array<array<float>> literal indexed by list_id + 1 —
      * replaces the broadcast equi-join that re-attached the centroid
      * for the residual step. Gaps (a Lloyd list can die) are null and
      * never read: list_id always comes from the argmax over this same
      * table. */
    lazy val centByList: Column = {
      val size = if (rows.isEmpty) 0 else rows.map(_._1).max + 1
      val dense = new Array[Any](size)
      rows.foreach { case (id, c, _) => dense(id) = c }
      org.apache.spark.sql.graft.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          dense.toSeq, ArrayType(centroidType, containsNull = true)))
    }
    /** The [[graft.functions.CentroidTopNF32]] constructor data: (flat
      * row-major float matrix, cnrm per row, list_id per row, dim).
      * Short centroids are zero-padded, which the dot product and norm
      * cannot observe. */
    lazy val kernelArrays: (Array[Float], Array[Double], Array[Int], Int) = {
      val dim = if (rows.isEmpty) 0 else rows.map(_._2.length).max
      val flat = new Array[Float](rows.length * dim)
      val cnrms = new Array[Double](rows.length)
      val ids = new Array[Int](rows.length)
      var i = 0
      while (i < rows.length) {
        val (id, v, nr) = rows(i)
        ids(i) = id
        cnrms(i) = nr
        var k = 0
        while (k < v.length) { flat(i * dim + k) = v(k); k += 1 }
        i += 1
      }
      (flat, cnrms, ids, dim)
    }
    /** The `probes` best list ids per `vec` (ARRAY<INT>, best first):
      * cosine against `nrm` when given, the raw dot product (unit norms
      * on both sides) when None. Callers handle [[isEmpty]] first. */
    def topN(vec: Column, nrm: Option[Column], probes: Int,
        nanWins: Boolean): Column = {
      val (flat, cnrms, ids, dim) = kernelArrays
      graft.functions.VectorExpressions.centroidTopN(vec,
        nrm.getOrElse(lit(1.0)), flat,
        if (nrm.isDefined) cnrms else Array.fill(cnrms.length)(1.0),
        ids, dim, probes, nanWins)
    }
  }

  /** Collect a bounded centroid table once (ONE job). cnrm is
    * sqrt(dotF32(centroid, centroid)), the same double-accumulated
    * fold the kernel applies to each vector; rows sort by list_id so
    * the embedded literals are deterministic across runs (the kernel
    * itself is order-independent). */
  private[graft] def freezeCents(cents: DataFrame): FrozenCents = {
    val rows = cents
      .select(col("list_id").cast("int"), col("centroid"),
        sqrt(dot(col("centroid"), col("centroid"))).as("cnrm"))
      .collect()
      .map(r => (r.getInt(0),
        r.getSeq[Float](1): scala.collection.Seq[Float],
        r.getDouble(2)))
      .sortBy(_._1)
    FrozenCents(rows, cents.schema("centroid").dataType)
  }

  /** [[assignToCentroids]] against a FROZEN quantizer: the argmax
    * kernel (`nanWins = true`) over the collected table, no per-call
    * collect. `carry`: extra columns to pass through the assignment
    * (payload columns of an index row); a carried column named `nrm`
    * is RECOMPUTED as the L2 norm of `vecCol` — identical when it held
    * that norm already (the index layouts all do). Output: (idCol,
    * vecCol, carry..., list_id INT). */
  private def assignFrozen(df: DataFrame, idCol: String, vecCol: String,
      fc: FrozenCents, carry: Seq[String] = Nil): DataFrame = {
    val n =
      if (carry.isEmpty) normalized(df, idCol, vecCol)
      else df.select(col(idCol) +: col(vecCol) +:
        carry.filterNot(_ == "nrm").map(col) :+
        sqrt(dot(col(vecCol), col(vecCol))).as("nrm"): _*)
    val keep = col(idCol) +: col(vecCol) +: carry.map(col)
    if (fc.isEmpty) noLists(n, keep)
    else n.select(keep :+ fc.topN(col(vecCol), Some(col("nrm")), 1,
      nanWins = true).getItem(0).as("list_id"): _*)
  }

  /** A generation's frozen IVF-PQ encode state: codebook arrays
    * ([[pqFlatLookup]]'s one row) plus the per-list reconstruction
    * terms, dense-indexed by list_id. */
  private[graft] final case class FrozenPq(cents: FrozenCents,
      flat: FrozenFlat, clutByList: Column, cn2ByList: Column)

  /** Freeze a full PQ encode state from a (frozen-cents, lookup) pair:
    * ONE bounded job (centTerms collect) and one head() on the one-row
    * flattened codebook — paid once per generation (append path) or
    * once per build (the [[ivfPqBuild]] encode tail), amortized over
    * the corpus-sized encode pass / every later micro-batch. */
  private[graft] def freezePq(fc: FrozenCents, cents: DataFrame,
      lookup: DataFrame, dim: Int, m: Int, ksub: Int): FrozenPq = {
    import org.apache.spark.sql.types._
    val dsub = dim / m
    val flat = freezeFlatLookup(lookup, m, ksub)
    // per-list reconstruction terms (c_sub(mi)·codebook(mi, code) — the
    // query-LUT kernel run with the centroid as the "query" — and
    // ‖c‖²), computed ONCE from the already-frozen codebook literals
    val ctDf = cents.select(col("list_id").cast("int"),
      graft.functions.VectorExpressions.pqQueryLutF32(col("centroid"),
        flat.cells, flat.cents, m, ksub, dsub).as("__clut"),
      dot(col("centroid"), col("centroid")).as("__cn2"))
    val clutType = ctDf.schema("__clut").dataType
    val ct = ctDf.collect()
    val size = if (ct.isEmpty) 0 else ct.map(_.getInt(0)).max + 1
    val clutDense = new Array[Any](size)
    val cn2Dense = new Array[Any](size)
    ct.foreach { r =>
      clutDense(r.getInt(0)) = r.get(1)
      cn2Dense(r.getInt(0)) = r.getDouble(2)
    }
    def dlit(v: Array[Any], elem: DataType): Column =
      org.apache.spark.sql.graft.Bridge.column(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          v.toSeq, ArrayType(elem, containsNull = true)))
    FrozenPq(fc, flat, dlit(clutDense, clutType),
      dlit(cn2Dense, DoubleType))
  }

  /** The IVF-PQ ENCODE pass against a FROZEN generation: assign each
    * row to its argmax list, residual-encode against the list centroid,
    * and attach the full reconstruction norm. Every per-generation
    * table is a plan literal instead of a broadcast join, so the whole
    * encode is ONE map-only stage with zero broadcast-future jobs;
    * dense element_at lookups replace the two nlist-row equi-joins
    * (O(1) per row; list_id always indexes a live entry — it came from
    * the argmax over the same table). FrozenEncodeSpec pins it
    * bit-identical to the broadcast-join formulation, kept in test
    * scope as the oracle. Output: (idCol, list_id, code, rnorm,
    * payload...). */
  private[graft] def pqEncodeFrozen(src: DataFrame, idCol: String,
      vecCol: String, st: FrozenPq, dim: Int, m: Int, ksub: Int,
      payload: Seq[String]): DataFrame = {
    require(m > 0 && dim % m == 0 && ksub > 1,
      s"pqEncodeFrozen(dim=$dim, m=$m, ksub=$ksub)")
    val residuals = assignFrozen(src, idCol, vecCol, st.cents,
        carry = payload)
      .withColumn("__res", graft.functions.VectorExpressions
        .vecSubF32(col(vecCol),
          element_at(st.cents.centByList, col("list_id") + 1)))
    // `rnorm` here is the codebook-only reconstruction norm; the full
    // norm adds the per-list centroid terms below
    pqEncodeWithFrozen(residuals, idCol, "__res", st.flat, dim, m, ksub,
        carry = "list_id" +: payload, l2 = true)
      // greatest(0, ·): the three LUT terms are float-rounded; a zero
      // reconstruction must read 0.0, not √(-1e-17) = NaN
      .select(col(idCol) +: col("list_id") +: col("code") +:
        sqrt(greatest(lit(0.0),
          element_at(st.cn2ByList, col("list_id") + 1) +
          lit(2.0) * graft.functions.VectorExpressions.pqAdcLut(
            element_at(st.clutByList, col("list_id") + 1),
            col("code"), ksub) +
          col("rnorm") * col("rnorm"))).as("rnorm") +:
          payload.map(col): _*)
  }

  /** The IVF-SQ8 ENCODE pass against a FROZEN quantizer: one corpus
    * pass of assign (payload carried) + the max-abs int8 kernels
    * map-side, zero side jobs per batch. Zero-direction rows (mx = 0)
    * are excluded, the [[sq8Encode]] convention. Output:
    * (idCol, list_id, mx, q, nrm, payload...). */
  private[graft] def sqEncodeFrozen(src: DataFrame, idCol: String,
      vecCol: String, fc: FrozenCents, payload: Seq[String]): DataFrame =
    assignFrozen(src, idCol, vecCol, fc, carry = payload)
      .withColumn("nrm", sqrt(dot(col(vecCol), col(vecCol))))
      .withColumn("mx",
        graft.functions.VectorExpressions.maxAbsF32(col(vecCol)))
      .filter(col("mx") > 0)
      .withColumn("q", graft.functions.VectorExpressions
        .sq8EncodeF32(col(vecCol), col("mx")))
      .select(col(idCol) +: col("list_id") +: col("mx") +: col("q") +:
        col("nrm") +: payload.map(col): _*)

  // ------------------------------------------------------------------
  // Lifecycle of a SAVED index dir ([[ivfPqSave]]/[[ivfSqSave]]) — the
  // serving deployment's index. The streaming bucketed-TABLE layout
  // ([[bucketedIndexAppender]]/[[retrainIndex]]) keeps raw vectors so
  // its maintenance is one-pass; this layout keeps CODES (64× smaller
  // serving scans), so growth uses frozen-quantizer encode (Faiss `add`)
  // and retrain is a rebuild — each op below names that trade. Every
  // body is codec-free: [[DirCodec]] supplies the IVF-PQ/IVF-SQ8 parts,
  // and the public `ivfPq*`/`ivfSq*` entry points are thin wrappers.
  // ------------------------------------------------------------------

  final case class PqAppendStats(appended: Long, rowsAfter: Long,
      codeFiles: Int)

  /** Grow a SAVED IVF-PQ index in place — Faiss `IndexIVFPQ.add`
    * semantics: the coarse quantizer and PQ codebooks stay FROZEN
    * (training is batch work on historical data), each new row is
    * assigned + residual-encoded map-side against the frozen tables
    * ([[pqEncodeFrozen]] — the exact encode the build ran, so an
    * append-built index is row-identical to a batch build
    * over the union given the same trained state), and the codes
    * append into the existing `bucket=` hive partitions. The EXISTING
    * codes never read or shuffle.
    *
    * Payload columns persist automatically: whatever payload the index
    * was built with must be present on `batch` (checked by name).
    * The row count advances so [[ivfPqSearch]]'s default-shortlist
    * derivation keeps sizing to the TRUE corpus: it is RECOUNTED from
    * the committed codes (one parquet-footer job) and written to the
    * generation's `ROWS` record — never to `meta.parquet`, which is
    * written once, by the save that created the generation.
    *
    * Fragmentation: each append writes ≤ touched-bucket files, so a
    * long-running ingest accrues O(appends · buckets) files and the
    * pruned serving probe degrades linearly in file count (measured on
    * the table layout: ~16× by 100 appends) — run [[ivfPqCompact]] on a
    * cadence, or [[ivfPqRetrain]] when [[maintenanceAdvice]] on
    * [[ivfPqIndexStats]] says the quantizer itself is stale. Appends
    * must be serialized with compact/retrain (single maintenance
    * writer — the [[bucketedIndexAppender]] discipline). */
  def ivfPqAppend(spark: SparkSession, dir: String, batch: DataFrame,
      vecCol: String): PqAppendStats =
    appendIndexDir(PqDir, spark, dir, batch, vecCol)

  private def appendIndexDir[I](c: DirCodec[I], spark: SparkSession,
      dir: String, batch: DataFrame, vecCol: String): PqAppendStats = {
    val op = s"${c.family}Append"
    // resolve the live generation once for all reads AND writes; the
    // frozen state comes from the per-generation cache (see
    // [[frozenIdxCache]]), so a steady-state streaming append pays no
    // footer/schema re-reads and no broadcast-future jobs
    val tree = resolveIndexTree(spark, dir)
    val fz = frozenIdx(spark, c.family, dir, tree, () => {
      val g = loadIndexDir(c, op, spark, dir, tree)
      FrozenGen(g.core, c.payload(g.core), c.encoder(g.idx))
    })
    val core = fz.core
    require(core.buckets > 0,
      s"$op($dir): saved index has no bucket layout")
    requireIndexCols(op, dir, "batch lacks", batch, core.idCol, vecCol,
      fz.payload)
    val n = countAndCheckDim(op, batch, vecCol, core.dim)
    val rowsAfter =
      // empty batch: the cached count may predate earlier appends in
      // this generation — re-read the live one so the stats stay exact
      if (n == 0) loadIndexDir(c, op, spark, dir, tree).core.rows
      else {
        fz.encode(batch, vecCol, fz.payload)
          .withColumn("bucket", pmod(col("list_id"), lit(core.buckets)))
          .repartition(col("bucket"))
          .sortWithinPartitions("bucket", "list_id")
          .write.mode("append").partitionBy("bucket")
          .parquet(s"$tree/codes.parquet")
        // RECOUNT from the committed codes, never advance a possibly
        // stale count: a crash between a previous append's codes commit
        // and its record write would otherwise undercount forever. The
        // recount makes the record SELF-HEALING.
        val rows = spark.read.parquet(s"$tree/codes.parquet").count()
        writeAtomic(spark,
          new org.apache.hadoop.fs.Path(tree, RowsRecord), rows.toString)
        rows
      }
    PqAppendStats(n, rowsAfter, dataFiles(spark, s"$tree/codes.parquet"))
  }

  /** Point-in-time health of a SAVED IVF-PQ index — the same decision
    * surface as the table layout's [[indexStats]], so the SAME
    * [[maintenanceAdvice]] reads it: `quantizerLists` is the built
    * nlist (the saved quantizer always exists here), `targetNlist` the
    * width a fresh build over the CURRENT corpus would choose, so the
    * outgrown trigger fires when append-driven growth has doubled the
    * derived width; occupancy skew reads drift even before that.
    * `pendingTombstones` is 0 (the codes layout has no tombstone
    * channel — deletes on the serving store are the table layout's
    * job). Cost: one codes scan (groupBy list_id) + a file listing.
    *
    * `vectorsPerList`/`sqrtFactor` = 0 (the defaults) read the rule
    * PERSISTED at [[ivfPqSave]] time — an index sized with a
    * non-default rule gets its outgrown trigger calibrated to its own
    * rule without every ops caller having to know it (r14 review; the
    * same fix the table layout's sidecar applies). Pass explicit
    * values to override. */
  def ivfPqIndexStats(spark: SparkSession, dir: String,
      vectorsPerList: Int = 0, sqrtFactor: Double = 0.0): IndexStats =
    indexDirStats(PqDir, spark, dir, vectorsPerList, sqrtFactor)

  private def indexDirStats[I](c: DirCodec[I], spark: SparkSession,
      dir: String, vectorsPerList: Int, sqrtFactor: Double): IndexStats = {
    val g = loadIndexDir(c, s"${c.family}IndexStats", spark, dir,
      resolveIndexTree(spark, dir))
    occupancyStats(g.core.enc,
      dataFiles(spark, s"${g.tree}/codes.parquet"), g.core.buckets,
      pendingTombstones = 0L, Some(g.core.nlist),
      if (vectorsPerList > 0) vectorsPerList else g.vpl,
      if (sqrtFactor > 0) sqrtFactor else g.sf,
      // the LIVE generation's name — it moves on every retrain/compact,
      // so before/after comparisons detect a publish (the table
      // layout's indexGeneration contract; r14 review)
      new org.apache.hadoop.fs.Path(g.tree).getName)
  }

  /** Rewrite a saved index's codes back to ≤ buckets files — the
    * fragmentation maintenance for [[ivfPqAppend]]-grown indexes
    * ([[maintenanceAdvice]]'s `compact` arm). Reuses [[ivfPqSave]]'s
    * generational publish (the new generation writes completely,
    * reading the old codes as input, before the pointer moves), so a
    * failure leaves the live generation untouched and readers of the
    * old one keep serving through the swap. Serialize with appends. */
  def ivfPqCompact(spark: SparkSession, dir: String): CompactionStats =
    compactIndexDir(PqDir, spark, dir)

  private def compactIndexDir[I](c: DirCodec[I], spark: SparkSession,
      dir: String): CompactionStats = {
    val op = s"${c.family}Compact"
    val g = loadIndexDir(c, op, spark, dir, resolveIndexTree(spark, dir))
    require(g.core.buckets > 0,
      s"$op($dir): saved index has no bucket layout")
    val before = dataFiles(spark, s"${g.tree}/codes.parquet")
    // RECOUNT, never trust the loaded count: a crash-orphaned stale
    // count must not be re-persisted forward (r14 review)
    val rows = g.core.enc.count()
    // drop the partition column before re-saving: the save re-derives
    // it, and a duplicate `bucket` would collide
    val tree = saveIndexDir(c,
      c.withCodes(g.idx, g.core.enc.drop("bucket"), rows), dir,
      g.core.buckets, g.vpl, g.sf)
    CompactionStats(rows, before, dataFiles(spark, s"$tree/codes.parquet"))
  }

  final case class PqRetrainStats(rows: Long, nlistBefore: Int,
      nlistAfter: Int, filesBefore: Int, filesAfter: Int)

  /** Re-train a SAVED IVF-PQ index from the current corpus and swap it
    * in place — the quantizer-staleness maintenance for the serving
    * layout ([[maintenanceAdvice]]'s `retrain` arm on
    * [[ivfPqIndexStats]]). Unlike the raw-vector table layout
    * ([[retrainIndex]] — one re-assignment pass), the PQ codes quantize
    * RESIDUALS against the trained centroids and codebooks: new
    * centroids invalidate every code, so the retrain here IS a rebuild
    * — [[ivfPqBuild]] over `vectors` (the current full-vector corpus;
    * the codes-only index cannot reconstruct it) + [[ivfPqSave]] to the
    * same dir, whose generational pointer swap publishes rows,
    * quantizer, codebooks and meta atomically while readers of the
    * previous generation keep serving (Faiss deployments do exactly
    * this rebuild for `IndexIVFPQ` drift). Structure (m, ksub, dim, idCol, buckets) and
    * payload columns carry over from the saved meta; `nlist` = 0
    * re-derives the width from the CURRENT corpus count — growth is
    * what moves it. vectorsPerList/sqrtFactor = 0 re-derive under the
    * rule PERSISTED at save time (see [[ivfPqIndexStats]]) and
    * re-persist it with the rebuilt index, so the sizing rule survives
    * every retrain cycle. Serialize with appends; serving probes load
    * the new generation on their next [[ivfPqLoad]]. */
  def ivfPqRetrain(spark: SparkSession, dir: String, vectors: DataFrame,
      vecCol: String, nlist: Int = 0, iters: Int = 2,
      trainPerList: Int = 128, vectorsPerList: Int = 0,
      sqrtFactor: Double = 0.0): PqRetrainStats =
    retrainIndexDir(PqDir, spark, dir, vectors, vecCol, nlist, iters,
      trainPerList, vectorsPerList, sqrtFactor)

  private def retrainIndexDir[I](c: DirCodec[I], spark: SparkSession,
      dir: String, vectors: DataFrame, vecCol: String, nlist: Int,
      iters: Int, trainPerList: Int, vectorsPerList: Int,
      sqrtFactor: Double): PqRetrainStats = {
    val op = s"${c.family}Retrain"
    require(nlist >= 0 && iters >= 0 && trainPerList > 0,
      s"$op($dir, nlist=$nlist)")
    val old = loadIndexDir(c, op, spark, dir, resolveIndexTree(spark, dir))
    val vpl = if (vectorsPerList > 0) vectorsPerList else old.vpl
    val sf = if (sqrtFactor > 0) sqrtFactor else old.sf
    val payload = c.payload(old.core)
    requireIndexCols(op, dir, "vectors lack", vectors, old.core.idCol,
      vecCol, payload)
    val filesBefore = dataFiles(spark, s"${old.tree}/codes.parquet")
    val n = vectors.count()
    val nl = math.max(1,
      if (nlist > 0) nlist else deriveNlist(n, vpl, sf))
    val tree = saveIndexDir(c,
      c.rebuild(old.idx, vectors, vecCol, nl, iters, trainPerList,
        payload), dir, old.core.buckets, vpl, sf)
    PqRetrainStats(n, old.core.nlist, nl, filesBefore,
      dataFiles(spark, s"$tree/codes.parquet"))
  }

  /** The maintenance AUTOPILOT for a saved IVF-PQ serving dir — the
    * [[bucketedIndexAppender]] `maintainEvery` loop brought to the
    * generational layout, so a long-lived deployment wires
    * `writeStream.foreachBatch(Graft.ivfPqDirAppender(...))` and never
    * calls stats/compact/retrain by hand (r14 verdict item 1):
    *
    *  1. each micro-batch appends through [[ivfPqAppend]] — frozen
    *     quantizer + codebooks, O(batch), existing code files never
    *     read;
    *  2. every `maintainEvery` batches, the tick the table loop runs
    *     too: [[ivfPqIndexStats]] → [[maintenanceAdvice]] →
    *     [[ivfPqRetrain]] when outgrown or skewed (under the
    *     [[skewRetrainActionable]] hysteresis), else [[ivfPqCompact]]
    *     when fragmented.
    *
    * Unlike the table-layout loop, NO quantizer-swap state lives here:
    * every [[ivfPqAppend]] resolves the dir's CURRENT pointer and
    * loads the live generation's frozen state, so the first append
    * after a retrain automatically assigns + encodes under the NEW
    * quantizer/codebooks — the appender "swaps itself onto the new
    * generation" by construction, and readers holding the previous
    * generation keep serving through it (the [[saveIndexDir]] grace
    * guarantee).
    *
    * `vectors` is a SUPPLIER of the current raw-vector corpus,
    * re-evaluated at retrain time — PQ codes quantize residuals, so a
    * retrain is a rebuild and needs the full vectors ([[ivfPqRetrain]]
    * scaladoc). It must cover every row ingested so far, including
    * payload columns: the raw store the serving path's exact rerank
    * already requires (typically the table/dir the deployment appends
    * raw rows to alongside the coded index — the p20 gate's shape).
    * All maintenance runs on the foreachBatch thread, serialized with
    * appends by construction (the documented serialize-maintenance
    * contract). `maintainEvery` = 0 disables the cadence. */
  def ivfPqDirAppender(spark: SparkSession, dir: String, vecCol: String,
      vectors: () => DataFrame, maintainEvery: Int = 0, iters: Int = 2)
      : (DataFrame, Long) => Unit =
    savedDirAppender(PqDir, spark, dir, vecCol, vectors, maintainEvery,
      iters)

  /** [[ivfPqDirAppender]] for a saved IVF-SQ8 dir: the same loop on the
    * same store, with [[ivfSqAppend]]'s pure Faiss `add` and
    * [[ivfSqRetrain]]'s fresh-centroid rebuild. */
  def ivfSqDirAppender(spark: SparkSession, dir: String, vecCol: String,
      vectors: () => DataFrame, maintainEvery: Int = 0, iters: Int = 2)
      : (DataFrame, Long) => Unit =
    savedDirAppender(SqDir, spark, dir, vecCol, vectors, maintainEvery,
      iters)

  /** The autopilot loop of a saved dir: append, then the one
    * [[maintenanceTick]] the table loop runs too. */
  private def savedDirAppender[I](c: DirCodec[I], spark: SparkSession,
      dir: String, vecCol: String, vectors: () => DataFrame,
      maintainEvery: Int, iters: Int): (DataFrame, Long) => Unit = {
    require(maintainEvery >= 0,
      s"${c.family}DirAppender(maintainEvery=$maintainEvery)")
    val tick = maintenanceTick(maintainEvery,
      stats = _ => indexDirStats(c, spark, dir, 0, 0.0),
      retrain = _ => retrainIndexDir(c, spark, dir, vectors(), vecCol, 0,
        iters, 128, 0, 0.0),
      compact = _ => compactIndexDir(c, spark, dir))
    (batch: DataFrame, batchId: Long) => {
      appendIndexDir(c, spark, dir, batch, vecCol)
      tick(spark, batchId)
    }
  }

  /** The one maintenance tick of both autopilots ([[ivfPqDirAppender]]
    * and [[ivfSqDirAppender]] on a saved dir, [[bucketedIndexAppender]]
    * on a table). Every `every` batches of the stream's batchId (0 =
    * never): `stats` → [[maintenanceAdvice]] → `retrain` when the
    * quantizer is outgrown, or skewed under the [[skewRetrainActionable]]
    * hysteresis, else `compact` when fragmented or tombstone-heavy —
    * retrain subsumes compact (its rewrite IS one). The returned closure
    * holds the hysteresis baseline: the skew (p99/mean) the last
    * advice-driven retrain left behind, -1 until one runs. Callbacks get
    * the batch's session. */
  private def maintenanceTick(every: Int,
      stats: SparkSession => IndexStats, retrain: SparkSession => Unit,
      compact: SparkSession => Unit): (SparkSession, Long) => Unit = {
    def skew(st: IndexStats) =
      if (st.occMean > 0) st.occP99 / st.occMean else 0.0
    var postRetrainSkew = -1.0
    (spark, batchId) =>
      if (every > 0 && (batchId + 1) % every == 0) {
        val st = stats(spark)
        val advice = maintenanceAdvice(st)
        if (advice.outgrown || advice.skewed &&
            skewRetrainActionable(skew(st), postRetrainSkew)) {
          retrain(spark)
          postRetrainSkew = skew(stats(spark))
        } else if (advice.compact) compact(spark)
      }
  }

  /** Fail-by-name dimension check for the frozen append paths: the
    * dot kernels truncate mismatched lengths to min(length) (never
    * throw), so a wrong-width batch would corrupt every later ranking
    * silently.
    *
    * Fused with the batch count since r16 — ONE aggregation
    * job per streaming append instead of count + dim-check back to
    * back (r16: the appends run per micro-batch, so per-call jobs are
    * the ingest path's fixed cost). The check aggregates over the
    * WHOLE batch, not head(): a mixed-width batch whose first row
    * happens to match would otherwise pass and still truncate in the
    * kernels (r14 advice); it is skipped when the index predates the
    * dim column (-1) or the batch is empty. Returns the count. */
  private def countAndCheckDim(op: String, batch: DataFrame,
      vecCol: String, expected: Int): Long = {
    val mm = batch.agg(count(lit(1)).as("n"),
      min(size(col(vecCol))).as("lo"),
      max(size(col(vecCol))).as("hi")).head()
    val n = mm.getLong(0)
    if (expected > 0 && n > 0) {
      // an all-null vector column yields null min/max (size(null) is
      // null under the default conf) — fold it into the named failure
      // instead of an opaque NPE on getInt (r16 ADVICE)
      val nulls = mm.isNullAt(1) || mm.isNullAt(2)
      val (lo, hi) =
        if (nulls) (-1, -1) else (mm.getInt(1), mm.getInt(2))
      require(!nulls && lo == expected && hi == expected,
        s"$op: batch $vecCol has dimension(s) " +
          s"${if (nulls) "null (all-null vectors)" else s"$lo..$hi"} " +
          s"but the index was built at $expected — the int8/float dot " +
          "kernels would silently truncate to the overlap")
    }
    n
  }

  /** Fail by name when `df` lacks a column an index row needs. */
  private def requireIndexCols(op: String, dir: String, lacks: String,
      df: DataFrame, idCol: String, vecCol: String,
      payload: Seq[String]): Unit = {
    val missing = (idCol +: vecCol +: payload).filterNot(df.columns.contains)
    require(missing.isEmpty,
      s"$op($dir): $lacks column(s) ${missing.mkString(", ")} " +
        s"(index schema: id=$idCol, payload=${payload.mkString(", ")})")
  }

  /** What [[compactBucketedIndex]] did: `rows` survived the rewrite
    * (require()'d inside the call: input rows minus purged tombstones),
    * `filesBefore`/`filesAfter` are the data-file counts under the
    * table location, `tombstonesPurged` the rows physically dropped
    * because an [[ivfDelete]] had tombstoned their ids. */
  final case class CompactionStats(rows: Long, filesBefore: Int,
      filesAfter: Int, tombstonesPurged: Long = 0L)

  /** Parse, don't wrap: `TableIdentifier("db.t")` would treat the whole
    * string as an unqualified name in the current database (r13
    * review); the parser handles `db.table` and backticks. */
  private def tableIdent(spark: SparkSession, table: String)
      : org.apache.spark.sql.catalyst.TableIdentifier =
    spark.sessionState.sqlParser.parseTableIdentifier(table)

  private[graft] def bucketedTableLocation(spark: SparkSession,
      table: String): org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(spark.sessionState.catalog
      .getTableMetadata(tableIdent(spark, table)).location)

  /** The table's ORIGINAL location, with any `.compact-<id>` suffixes
    * the catalog-swap compaction appends stripped — the stable name
    * generation-independent side state (tombstones) keys on. */
  private def stableRoot(loc: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(loc.getParent,
      loc.getName.replaceAll("(\\.compact-[0-9a-f]{8})+$", ""))

  private def tombstoneDir(loc: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.Path = {
    val root = stableRoot(loc)
    new org.apache.hadoop.fs.Path(root.getParent,
      root.getName + ".tombstones")
  }

  /** Tombstone-delete ids from a bucketed index table (the streaming-
    * ingest layout [[compactBucketedIndex]] maintains) — the Faiss
    * `remove_ids` analog for an append-only index: a curation pipeline
    * deletes vectors (dedup drops documents) without rewriting the
    * corpus-sized table. `ids` must be a ONE-column frame of the
    * table's id column (same name and type); the ids append to a side
    * tombstone table next to the index files — batch-sized write, no
    * index shuffle. Deletes become visible through
    * [[applyTombstones]] (serve-time anti-join) immediately and are
    * physically dropped at the next [[compactBucketedIndex]], which
    * also clears the tombstone table. Deleting an id not in the index
    * is a no-op; re-deleting is idempotent (the serve-side anti-join
    * and the compaction distinct both absorb duplicates). */
  def ivfDelete(spark: SparkSession, table: String, ids: DataFrame): Unit = {
    require(ids.schema.length == 1,
      s"ivfDelete($table): ids must be a single-column frame of the " +
        s"index id column, got ${ids.schema.map(_.name).mkString(", ")}")
    // validate against the index schema NOW, not at serve time — a
    // misnamed id column would otherwise sit silently in the tombstone
    // table until the first applyTombstones call fails
    val idCol = ids.schema.head
    val indexField = spark.table(table).schema.find(_.name == idCol.name)
    require(indexField.exists(_.dataType == idCol.dataType),
      s"ivfDelete($table): id column ${idCol.name}: ${idCol.dataType
        .simpleString} does not match the index schema " +
        spark.table(table).schema.map(f =>
          s"${f.name}: ${f.dataType.simpleString}").mkString(", "))
    ids.write.mode("append")
      .parquet(tombstoneDir(bucketedTableLocation(spark, table)).toString)
  }

  /** The pending (not yet compacted-away) tombstones of a bucketed
    * index table — empty-schema None if nothing was ever deleted. */
  def pendingTombstones(spark: SparkSession, table: String)
      : Option[DataFrame] =
    // a compaction clears tombstones FILE by file (so an ivfDelete
    // racing it survives), which can leave the dir present but empty
    // of data files — that's "nothing pending", not a read error
    parquetLeaves(spark, tombstoneDir(bucketedTableLocation(spark, table)))._2

  /** The `.parquet` files directly inside `dir` (none when it is
    * absent), and a frame over exactly those files when there are any.
    * Reading the files, not the dir, also serves a `_`-prefixed dir,
    * which a directory read would treat as hidden. */
  private def parquetLeaves(spark: SparkSession,
      dir: org.apache.hadoop.fs.Path)
      : (Seq[org.apache.hadoop.fs.Path], Option[DataFrame]) = {
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files =
      if (!fs.exists(dir)) Nil
      else fs.listStatus(dir).toSeq.map(_.getPath)
        .filter(_.getName.endsWith(".parquet"))
    (files, if (files.isEmpty) None
      else Some(spark.read.parquet(files.map(_.toString): _*)))
  }

  /** The SERVING view of a bucketed index table: the table minus its
    * pending tombstones. The anti-join BROADCASTS the tombstone side
    * (bounded by deletes since the last compaction — keep the
    * compaction cadence ahead of the delete rate), so the corpus-sized
    * index never shuffles for a delete; a probe against this view can
    * never return a tombstoned neighbor ([[graft.ops.Vector]] s14 is
    * the oracle-checked contract). */
  def applyTombstones(spark: SparkSession, table: String): DataFrame = {
    val base = spark.table(table)
    pendingTombstones(spark, table) match {
      case None => base
      case Some(t) =>
        val idCol = t.schema.head.name
        require(base.columns.contains(idCol),
          s"applyTombstones($table): tombstone column $idCol not in " +
            s"the index schema ${base.columns.mkString(", ")}")
        base.join(broadcast(t), Seq(idCol), "left_anti")
    }
  }

  /** Test seam for [[compactBucketedIndex]]: invoked AFTER the
    * tombstone snapshot and before the rewrite's reads begin. Lets
    * CompactIndexSpec inject an [[ivfDelete]] racing the compaction
    * and pin the claim the file-scoped clear makes: a tombstone file
    * landing after the snapshot survives to stay pending, never wiped
    * unapplied. No-op in production; specs must reset it. */
  private[graft] var compactionTestHook: () => Unit = () => ()

  /** Rewrite a bucketed index TABLE (the [[graft.ops.StreamingOps]] p17
    * / streaming-ingest layout: `bucketBy(n, bucketCol).sortBy(...)`
    * over an external path) down to ≤ n data files — the maintenance
    * op a long-running ingest stream needs on a cadence.
    *
    * Why this must exist as an API and not a doc paragraph (r12
    * verdict): every streaming append writes its own bucket files, so
    * the table accrues O(appends · buckets) files and the serving
    * probe degrades linearly in the file count — measured 4.0 → 15.5 s
    * (≈16×) by ~100 appends at 1M vectors, recovered to 0.95 s by one
    * compaction. The rewrite itself has a measured footgun this method
    * encodes: the files must be read as PLAIN parquet, NOT through
    * `spark.table(...)` — the bucketed scan claims
    * `HashPartitioning(bucketCol, n)`, the planner then elides the
    * repartition below as redundant, and the "compacted" write keeps
    * the per-task fragmentation (measured: 25,101 → 16,272 files
    * through the table read vs ≤ buckets through the plain read;
    * CompactIndexSpec pins the failure shape so a Spark version that
    * changes the elision surfaces by name).
    *
    * Mechanics: plain-parquet read of the table's files →
    * `repartition(n, bucketCol)` (repartition's murmur3-pmod IS the
    * bucketing hash, so each task holds exactly one bucket and the
    * bucketed write emits ≤ n files, sorted per `sortBy`) → bucketed
    * write to a fresh `.compact-<id>` sibling dir → row-parity
    * require → METADATA-POINTER swap: the catalog entry's LOCATION is
    * repointed at the compacted dir (the Iceberg/Delta commit shape,
    * scaled down to one pointer). There is NO absence window: a reader
    * planned before the swap keeps reading the previous generation's
    * files — still on disk — and one planned after reads the new; a
    * directory-rename swap instead leaves an instant where the
    * location does not exist, which Spark's tolerant file listing
    * reads as an EMPTY table, silently returning zero rows to a
    * concurrent serve (r13 review). The swap is [[publishGeneration]]:
    * the previous generation stays one full compaction cycle, and a
    * failure at any step leaves the catalog pointing at exactly one
    * complete file set. Appends must still be serialized with this call
    * (the p15/p17 foreachBatch discipline — see
    * [[bucketedIndexAppender]]): an append committing between the
    * plain read and the swap would be silently dropped by the swap.
    * Pending [[ivfDelete]] tombstones are physically dropped by the
    * rewrite and their side table (keyed on the STABLE root name, so
    * it never moves across generations) cleared once the swap holds.
    * Cost: one corpus-sized shuffle — batch maintenance work,
    * amortized across the appends since the last compaction. */
  def compactBucketedIndex(spark: SparkSession, table: String)
      : CompactionStats =
    rewriteIndexGeneration(spark, table, transform = (df, _) => df,
      beforeSwap = (newLoc, fs) => {
        // the quantizer travels WITH the generation (it is published by
        // the same pointer swap that publishes the rows encoded under
        // it) — a compaction that dropped it would strand the next
        // append/serve without its routing table
        val conf = spark.sparkContext.hadoopConfiguration
        val old = quantizerPath(bucketedTableLocation(spark, table))
        if (fs.exists(old))
          org.apache.hadoop.fs.FileUtil.copy(fs, old, fs,
            quantizerPath(newLoc), false, conf)
      })

  /** The shared generation-rewrite core behind [[compactBucketedIndex]]
    * and [[retrainIndex]]: plain-parquet read of the live generation,
    * snapshot-scoped tombstone fold, a ROW-PRESERVING `transform` of the
    * cleaned rows (identity for compaction; re-assignment for retrain),
    * bucketed rewrite into a fresh `.compact-<id>` sibling generation,
    * row-parity require, `beforeSwap(newGenerationDir, fs)` (quantizer
    * carry/replace — runs inside the failure scope, so a throw deletes
    * the torn generation), catalog-pointer swap — the write and swap of
    * [[publishGeneration]] — then the snapshotted-tombstone clear. All
    * the atomicity and race arguments in
    * [[compactBucketedIndex]]'s scaladoc apply to every caller. */
  private def rewriteIndexGeneration(spark: SparkSession, table: String,
      transform: (DataFrame, Long) => DataFrame,
      beforeSwap: (org.apache.hadoop.fs.Path,
        org.apache.hadoop.fs.FileSystem) => Unit)
      : CompactionStats = {
    val cat = spark.sessionState.catalog
    val ident = tableIdent(spark, table)
    val meta = cat.getTableMetadata(ident)
    val bucketSpec = meta.bucketSpec.getOrElse(throw new
        IllegalArgumentException(s"compactBucketedIndex($table): not a " +
          "bucketed table"))
    // EXTERNAL tables only: the pointer swap moves the data to sibling
    // generation dirs, and DROP TABLE on a MANAGED table would purge
    // only the live generation — the grace copy would leak forever in
    // the warehouse (r13 review). The streaming-ingest layout creates
    // its tables with an explicit path, which is exactly this.
    require(meta.tableType ==
        org.apache.spark.sql.catalyst.catalog.CatalogTableType.EXTERNAL,
      s"compactBucketedIndex($table): only EXTERNAL tables (created " +
        "with an explicit path) are supported — the generation swap " +
        "would strand a managed table's grace files in the warehouse")
    val nBuckets = bucketSpec.numBuckets
    val bucketCols = bucketSpec.bucketColumnNames
    val sortCols = bucketSpec.sortColumnNames
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    val fs = loc.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val root = stableRoot(loc)
    val before = dataFiles(spark, loc.toString)
    // a freshly created (or fully empty) index has no data files —
    // nothing to compact and no schema to infer; leave any pending
    // tombstones pending (there is nothing to apply them to)
    if (before == 0)
      return CompactionStats(0L, 0, 0, 0L)
    // PLAIN parquet read — see the scaladoc; spark.table() here keeps
    // the fragmentation.
    val src = spark.read.parquet(loc.toString)
    // compaction is where [[ivfDelete]]'s tombstones physically drop:
    // the rewrite anti-joins them out (broadcast — bounded by deletes
    // since the last compaction) and the tombstone table clears after
    // the swap succeeds. Snapshot the tombstone FILES, read only
    // those, and later delete only those — an ivfDelete racing this
    // compaction appends a new file, which survives the clear and
    // stays pending instead of being silently dropped unapplied.
    val (tombFiles, tombRead) = parquetLeaves(spark, tombstoneDir(loc))
    val tombs = tombRead.map(_.distinct().localCheckpoint(true))
    compactionTestHook() // test seam — see its scaladoc; no-op in prod
    // ONE corpus scan yields both sides of the accounting (total and
    // survivors); a separate cleaned.count() would re-scan the corpus
    // purely to derive tombstonesPurged (r13 review)
    val (rowsBefore, expected) = tombs match {
      case None =>
        val c = src.count(); (c, c)
      case Some(t) =>
        // a marker name the index does not carry, so the join never
        // meets an ambiguous reference (names resolve case-insensitively)
        val marker = Iterator.iterate("_tombstoned")(_ + "_")
          .find(m => !src.columns.exists(_.equalsIgnoreCase(m))).get
        val r = src.join(broadcast(t.withColumn(marker, lit(1))),
            Seq(t.schema.head.name), "left")
          .agg(count(lit(1)).as("n"),
            count(when(col(marker).isNull, lit(1))).as("kept"))
          .head()
        (r.getLong(0), r.getLong(1))
    }
    val cleaned = tombs match {
      case None => src
      case Some(t) =>
        src.join(broadcast(t), Seq(t.schema.head.name), "left_anti")
    }
    // the new generation: a fresh sibling of the STABLE root (never a
    // suffix of the current location — names would otherwise grow a
    // .compact segment per cycle)
    val newLoc = new org.apache.hadoop.fs.Path(root.getParent,
      root.getName + ".compact-" +
        java.util.UUID.randomUUID().toString.take(8))
    val tmpTbl = ident.table + "_compact_" +
      java.util.UUID.randomUUID().toString.take(8)
    // the transform must be row-preserving (the parity require below
    // holds it to that) and schema-preserving up to column order — the
    // bucketed write needs the table's exact column set. It receives
    // the cleaned ROW COUNT the accounting scan above already paid for,
    // so a transform needing it (retrain's deriveNlist) never re-scans
    // the corpus (r13 review: the duplicate cleaned.count() class).
    val rewritten = transform(cleaned, expected)
      .select(cleaned.columns.toSeq.map(col): _*)
    var w = rewritten.repartition(nBuckets, bucketCols.map(col): _*)
      .write.bucketBy(nBuckets, bucketCols.head, bucketCols.tail: _*)
    if (sortCols.nonEmpty)
      w = w.sortBy(sortCols.head, sortCols.tail: _*)
    // generations: the stable root and its .compact-* siblings
    val genPattern = ("\\Q" + root.getName + "\\E" +
      "(\\.compact-[0-9a-f]{8})*").r
    publishGeneration(fs, newLoc, Some(loc.getName),
      generations = () => fs.listStatus(root.getParent).toSeq
        .filter(st => st.isDirectory &&
          genPattern.pattern.matcher(st.getPath.getName).matches())
        .map(_.getPath),
      write = () => {
        // the temp catalog table carries the bucket spec for the write;
        // dropping it (never purging) leaves its files as the generation
        val rowsAfter =
          try {
            w.option("path", newLoc.toString).saveAsTable(tmpTbl)
            spark.table(tmpTbl).count()
          } finally cat.dropTable(tableIdent(spark, tmpTbl),
            ignoreIfNotExists = true, purge = false)
        require(rowsAfter == expected,
          s"rewriteIndexGeneration($table): rewrite produced $rowsAfter " +
            s"of $expected rows — original left untouched")
        beforeSwap(newLoc, fs)
      },
      // the METADATA-POINTER swap (see the scaladoc): repoint the
      // catalog entry's location at the new generation
      swap = () => cat.alterTable(meta.copy(storage = meta.storage.copy(
        locationUri = Some(newLoc.toUri)))))
    spark.catalog.refreshTable(table)
    // only now that the swap holds do the SNAPSHOTTED tombstone files
    // clear — a failed compaction leaves them pending (the serve-time
    // anti-join still hides the deleted rows), and tombstones appended
    // DURING the compaction survive to the next one
    tombFiles.foreach(p => fs.delete(p, false))
    CompactionStats(expected, before, dataFiles(spark, newLoc.toString),
      tombstonesPurged = rowsBefore - expected)
  }

  /** The quantizer's home INSIDE the generation dir: `_`-prefixed, so
    * every table/parquet scan ignores it, and it is published by the
    * same catalog-pointer swap that publishes the rows encoded under
    * it — no window where rows and routing disagree. */
  private def quantizerPath(loc: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.Path =
    new org.apache.hadoop.fs.Path(loc, "_quantizer")

  /** Persist `centroids` (`list_id`, `centroid`) as the bucketed index
    * table's quantizer — stored under `_quantizer` inside the CURRENT
    * generation dir, invisible to table scans, carried forward by
    * [[compactBucketedIndex]] and replaced by [[retrainIndex]]. Call
    * once at deployment setup (after training, before wiring
    * [[bucketedIndexAppender]]); this is a setup-time overwrite, not
    * a concurrent-safe commit. */
  def saveQuantizer(spark: SparkSession, table: String,
      centroids: DataFrame, vectorsPerList: Int = 400,
      sqrtFactor: Double = 4.0): Unit = {
    // `vectorsPerList`/`sqrtFactor`: the [[deriveNlist]] parameters this
    // deployment sizes its index with — persisted in a sidecar next to
    // the centroids so [[indexStats]]' outgrown trigger and
    // [[retrainIndex]]'s width re-derivation use the SAME sizing rule
    // the index was built with (r13 ADVICE: an index built with
    // non-default width got a miscalibrated outgrown trigger from the
    // stats' hardcoded defaults — firing too early, or never).
    require(vectorsPerList > 0 && sqrtFactor > 0,
      s"saveQuantizer($table, vectorsPerList=$vectorsPerList, " +
        s"sqrtFactor=$sqrtFactor)")
    val dir = quantizerPath(bucketedTableLocation(spark, table))
    // parquet overwrite deletes the dir — the sidecar writes AFTER
    centroids.write.mode("overwrite").parquet(dir.toString)
    writeDerivationSidecar(spark, dir, vectorsPerList, sqrtFactor)
  }

  /** The [[deriveNlist]] parameters persisted next to a table's
    * quantizer ([[saveQuantizer]]'s sidecar) — the build-time sizing
    * rule; defaults when the sidecar is absent (pre-r14 indexes). */
  private[graft] def loadDerivation(spark: SparkSession, table: String)
      : (Int, Double) = {
    val p = new org.apache.hadoop.fs.Path(
      quantizerPath(bucketedTableLocation(spark, table)),
      DerivationSidecar)
    readSmallFile(p.getFileSystem(spark.sparkContext.hadoopConfiguration),
        p).fold((400, 4.0)) { content =>
      // value-shaped token up to the next JSON delimiter, parsed with
      // toInt/toDouble — a digits-and-dots regex would silently
      // TRUNCATE scientific-notation doubles (1.0E-3 -> "1.0", a
      // 1000x different rule with no error: the exact silent
      // miscalibration this sidecar exists to eliminate), and a
      // malformed sidecar must fail LOUDLY, not fall back (r14 review)
      def field(name: String): String =
        ("\"" + name + "\"\\s*:\\s*([^,}\\s]+)").r
          .findFirstMatchIn(content).map(_.group(1)).getOrElse(
            throw new IllegalStateException(
              s"quantizer derivation sidecar $p is malformed " +
                s"(missing $name): $content"))
      try (field("vectorsPerList").toInt, field("sqrtFactor").toDouble)
      catch { case e: NumberFormatException =>
        throw new IllegalStateException(
          s"quantizer derivation sidecar $p is malformed: $content", e)
      }
    }
  }

  /** `.`-prefixed so both [[rawQuantizer]]'s `.parquet` filter and
    * parquet directory listings ignore it. */
  private val DerivationSidecar = ".derivation.json"

  /** Written atomically: the appender's quantizer self-heal writes it
    * into the LIVE generation, and a torn sidecar would fail every later
    * [[loadDerivation]] as malformed. */
  private def writeDerivationSidecar(spark: SparkSession,
      quantDir: org.apache.hadoop.fs.Path, vectorsPerList: Int,
      sqrtFactor: Double): Unit =
    writeAtomic(spark, new org.apache.hadoop.fs.Path(quantDir,
      DerivationSidecar),
      s"""{"vectorsPerList":$vectorsPerList,"sqrtFactor":$sqrtFactor}""")

  /** The persisted quantizer of a bucketed index table — None when the
    * table was never given one ([[saveQuantizer]] / [[retrainIndex]]).
    *
    * The returned frame is PINNED (eager localCheckpoint): the files it
    * was read from live inside the CURRENT generation dir, and the
    * grace cleanup of the second maintenance rewrite after this call
    * deletes that dir — a lazy plan cached across rewrites would then
    * throw FileNotFound mid-serve (r13 review). The quantizer is nlist
    * rows (~KBs), so the pin is cheap; callers holding one across
    * maintenance cycles read their consistent snapshot, and re-calling
    * after a retrain reads the new one. */
  def loadQuantizer(spark: SparkSession, table: String)
      : Option[DataFrame] =
    rawQuantizer(spark, table).map(_.localCheckpoint(true))

  /** The live GENERATION of a bucketed index table — the name of the
    * directory the catalog currently points at; every maintenance
    * rewrite ([[compactBucketedIndex]]/[[retrainIndex]]) moves it.
    * This is the read-committed token for serving across LIVE
    * retrains: a retrain re-assigns every row to NEW list ids, so a
    * probe that ranks lists under one generation's quantizer but joins
    * candidates against another generation's rows silently returns
    * garbage (contract-valid rows, arbitrary recall — no error). The
    * coherent serve: read the generation, load the quantizer, probe,
    * re-read the generation — if it moved, RETRY the batch (the
    * quantizer publishes inside the generation dir, so equal tokens
    * prove the pair matched). SCALE.md's "r13: serving THROUGH live
    * retrains" section measures the recipe; the window is the swap
    * instant, so one retry suffices. */
  def indexGeneration(spark: SparkSession, table: String): String =
    bucketedTableLocation(spark, table).getName

  /** Lazy variant bound to the current generation's files — for
    * immediately-consumed reads ([[indexStats]] counts it and drops
    * it) where pinning would accumulate checkpoint blocks. */
  private def rawQuantizer(spark: SparkSession, table: String)
      : Option[DataFrame] =
    parquetLeaves(spark, quantizerPath(bucketedTableLocation(spark, table)))._2

  final case class RetrainStats(rows: Long, filesBefore: Int,
      filesAfter: Int, tombstonesPurged: Long, nlist: Int)

  /** Point-in-time health of a bucketed index table — the numbers a
    * deployment reads to DECIDE its maintenance (see
    * [[maintenanceAdvice]]); every field is bounded work (one
    * groupBy-count over the index, a file listing, a tombstone count).
    * `quantizerLists` is None when the table has no persisted quantizer
    * ([[saveQuantizer]]); `targetNlist` is [[deriveNlist]] at the
    * CURRENT row count — the width a fresh build would choose. */
  final case class IndexStats(rows: Long, dataFiles: Int, buckets: Int,
      lists: Long, occMean: Double, occP99: Long, occMax: Long,
      pendingTombstones: Long, quantizerLists: Option[Int],
      targetNlist: Int, generation: String)

  def indexStats(spark: SparkSession, table: String): IndexStats = {
    val meta = spark.sessionState.catalog
      .getTableMetadata(tableIdent(spark, table))
    val loc = new org.apache.hadoop.fs.Path(meta.location)
    // targetNlist under the PERSISTED derivation params
    // ([[saveQuantizer]]'s sidecar): the outgrown trigger compares
    // against the sizing rule the index was actually built with, not
    // the defaults (r13 ADVICE)
    val (vpl, sf) = loadDerivation(spark, table)
    occupancyStats(spark.table(table), dataFiles(spark, loc.toString),
      meta.bucketSpec.map(_.numBuckets).getOrElse(0),
      pendingTombstones(spark, table).map(_.distinct().count())
        .getOrElse(0L),
      rawQuantizer(spark, table).map(_.count().toInt), vpl, sf,
      loc.getName)
  }

  /** The [[IndexStats]] of both layouts around their one occupancy
    * aggregation: a groupBy-count of `rows` by list_id gives the row,
    * list, mean, approximate p99 and max occupancy, and `targetNlist`
    * is [[deriveNlist]] at that row count under the (vpl, sf) rule. */
  private def occupancyStats(rows: DataFrame, dataFiles: Int,
      buckets: Int, pendingTombstones: Long, quantizerLists: Option[Int],
      vpl: Int, sf: Double, generation: String): IndexStats = {
    val occ = rows.groupBy(col("list_id")).count()
      .agg(count(lit(1)).as("lists"),
        coalesce(sum("count"), lit(0L)).as("rows"),
        coalesce(avg("count"), lit(0.0)).as("mean"),
        coalesce(expr("percentile_approx(count, 0.99)"), lit(0L))
          .as("p99"),
        coalesce(max("count"), lit(0L)).as("max"))
      .head()
    IndexStats(rows = occ.getLong(1), dataFiles = dataFiles,
      buckets = buckets, lists = occ.getLong(0),
      occMean = occ.getDouble(2), occP99 = occ.getLong(3),
      occMax = occ.getLong(4), pendingTombstones = pendingTombstones,
      quantizerLists = quantizerLists,
      targetNlist = deriveNlist(occ.getLong(1), vpl, sf),
      generation = generation)
  }

  /** `outgrown`/`skewed` name WHICH retrain trigger fired — a caller
    * applying hysteresis (the [[bucketedIndexAppender]] maintain loop)
    * needs to distinguish the monotone trigger (outgrown: a bigger
    * corpus stays bigger) from the one a retrain may not be able to
    * fix (skewed: some corpora are INHERENTLY imbalanced — Zipfian
    * topics — and re-training cannot equalize what the data refuses
    * to). */
  final case class MaintenanceAdvice(compact: Boolean, retrain: Boolean,
      outgrown: Boolean, skewed: Boolean, reasons: Seq[String])

  /** The skew-trigger hysteresis the maintain loop applies on top of
    * [[maintenanceAdvice]]: a skew-ONLY retrain is actionable when no
    * post-retrain baseline exists yet, or when the current skew has
    * grown past the baseline by `growth` — an inherently imbalanced
    * corpus (Zipfian topics) reads p99 > 4x mean even right after
    * training, and without this check the loop would pay a full-corpus
    * rewrite every cadence tick forever, converging on nothing. The
    * outgrown trigger is exempt (monotone: a bigger corpus stays
    * bigger, and the retrain provably resolves it by re-deriving
    * nlist). */
  private[graft] def skewRetrainActionable(curSkew: Double,
      postRetrainBaseline: Double, growth: Double = 1.25): Boolean =
    postRetrainBaseline < 0 || curSkew >= postRetrainBaseline * growth

  /** What maintenance the index owes, derived from [[IndexStats]] with
    * thresholds calibrated on the measured failure shapes:
    *
    *  - `compact` when the file count exceeds `maxFilesPerBucket` per
    *    bucket (the soak measured probes degrading ~linearly in file
    *    count — 16× by ~100 appends — and one compaction rewrites to
    *    ≤ buckets files) or when pending tombstones exceed
    *    `maxTombstoneFrac` of the rows (the serve-time anti-join
    *    broadcast grows with them).
    *  - `retrain` when the corpus has outgrown the frozen quantizer —
    *    `targetNlist ≥ 2 × quantizerLists`, i.e. the width a fresh
    *    build would choose has doubled (the 1M drift run: ingesting a
    *    distribution shift equal to the corpus doubled occupancy and
    *    cost 3-4× probe latency; one retrain restored it) — or when
    *    occupancy skew `occP99 > skewFactor × occMean` says mass is
    *    crowding into few lists (drift's signature even before the
    *    corpus doubles). Never advised without a persisted quantizer
    *    (nothing to compare against — route your own decision).
    *
    * retrain subsumes compact (its rewrite IS a compaction), so a
    * caller acts on retrain first. */
  def maintenanceAdvice(stats: IndexStats, maxFilesPerBucket: Int = 4,
      maxTombstoneFrac: Double = 0.05,
      skewFactor: Double = 4.0): MaintenanceAdvice = {
    require(maxFilesPerBucket > 0 && maxTombstoneFrac > 0 &&
      skewFactor > 1.0, s"maintenanceAdvice($maxFilesPerBucket, " +
      s"$maxTombstoneFrac, $skewFactor)")
    val reasons = scala.collection.mutable.ArrayBuffer[String]()
    val fileCap = maxFilesPerBucket.toLong * math.max(1, stats.buckets)
    if (stats.dataFiles > fileCap)
      reasons += s"fragmented: ${stats.dataFiles} data files > " +
        s"$fileCap (= $maxFilesPerBucket/bucket)"
    if (stats.rows > 0 &&
        stats.pendingTombstones > maxTombstoneFrac * stats.rows)
      reasons += s"tombstones pending: ${stats.pendingTombstones} > " +
        s"$maxTombstoneFrac of ${stats.rows} rows"
    val compact = reasons.nonEmpty
    var outgrown = false
    var skewed = false
    stats.quantizerLists.foreach { ql =>
      if (ql > 0 && stats.targetNlist >= 2 * ql) {
        outgrown = true
        reasons += s"quantizer outgrown: targetNlist " +
          s"${stats.targetNlist} >= 2x quantizer lists $ql"
      }
      if (stats.occMean > 0 && stats.occP99 > skewFactor * stats.occMean) {
        skewed = true
        reasons += f"occupancy skew: p99 ${stats.occP99} > " +
          f"$skewFactor x mean ${stats.occMean}%.0f"
      }
    }
    MaintenanceAdvice(compact, outgrown || skewed, outgrown, skewed,
      reasons.toSeq)
  }

  /** Re-train the coarse quantizer of a streaming-ingested bucketed
    * index table from its CURRENT live rows and re-assign every row to
    * the new lists — the lifecycle step after compaction
    * ([[compactBucketedIndex]]) and deletes ([[ivfDelete]]): the
    * appender's quantizer is FROZEN (Faiss `add` semantics), so an
    * ingest whose distribution drifts away from the training slice
    * routes new vectors into the nearest OLD lists — occupancy skews,
    * per-probe candidate quality decays, and recall at a fixed nProbe
    * degrades without any error (measured in SCALE.md's drift section:
    * a quantizer trained on half the cluster space serves the other
    * half at materially lower recall until retrain). Faiss has no
    * in-place analog (deployments rebuild and re-`add`); here the
    * rebuild IS the maintenance op, reusing the generation machinery:
    *
    *  1. plain-parquet read of the live generation, pending tombstones
    *     folded out (retrain is a full rewrite — the same
    *     snapshot-scoped clear discipline as compaction),
    *  2. `nlist` derived from the CURRENT corpus size when 0
    *     ([[deriveNlist]] — growth re-derives the width that the
    *     build-time derivation froze),
    *  3. sampled Lloyd over the live rows ([[trainSample]] +
    *     [[kmeansCentroids]] — bounded driver/train cost, identical to
    *     the build path),
    *  4. ONE full-corpus re-assignment pass (map-side against the
    *     collected centroid table; payload columns carried through),
    *  5. bucketed rewrite + catalog-pointer swap ([[compactBucketedIndex]]'s
    *     no-absence-window commit), with the NEW quantizer written
    *     into the new generation dir before the swap — rows and
    *     routing publish atomically.
    *
    * After it returns, serve probes against `loadQuantizer(...)` and
    * rebuild the appender with the new centroids AT A BATCH BOUNDARY
    * (the appender must stay serialized with this call, exactly like
    * compaction — an append between the read and the swap would be
    * dropped by the swap). Cost: one corpus scan for training sample +
    * count, one re-assignment pass, one corpus-sized bucketed shuffle —
    * the same order as a compaction plus the assignment map work.
    * An empty index is a named no-op (`nlist = 0`, nothing trained).
    *
    * Scope: the raw-vector STREAMING layout (p17's — re-encode is just
    * re-assignment, so retrain is a one-pass rewrite). The PQ-coded
    * saved layout retrains by REBUILD ([[ivfPqRetrain]]): its codes
    * quantize residuals, so new centroids invalidate every code. Both
    * publish through the one [[publishGeneration]]. */
  def retrainIndex(spark: SparkSession, table: String, idCol: String,
      vecCol: String, nlist: Int = 0, iters: Int = 2,
      trainPerList: Int = 128): RetrainStats = {
    require(nlist >= 0 && iters >= 0 && trainPerList > 0,
      s"retrainIndex($table, nlist=$nlist, iters=$iters, " +
        s"trainPerList=$trainPerList)")
    var chosenNlist = 0
    var trained: Option[DataFrame] = None
    // re-derive the width under the BUILD-TIME sizing rule (the
    // saveQuantizer sidecar), not the deriveNlist defaults — a
    // deployment that sized its index with non-default
    // vectorsPerList/sqrtFactor must be retrained to the width its own
    // rule chooses (r13 ADVICE); read before the rewrite so the new
    // generation re-persists the same rule
    val (dVpl, dSf) = loadDerivation(spark, table)
    val stats = rewriteIndexGeneration(spark, table,
      transform = (cleaned, n) => {
        require(cleaned.columns.contains(idCol) &&
            cleaned.columns.contains(vecCol) &&
            cleaned.columns.contains("list_id"),
          s"retrainIndex($table): index schema " +
            s"${cleaned.columns.mkString(", ")} lacks $idCol/$vecCol/" +
            "list_id")
        val nl = if (nlist > 0) nlist else deriveNlist(n, dVpl, dSf)
        chosenNlist = nl
        val train = trainSample(cleaned, idCol, nl.toLong * trainPerList, n)
        val cents = iterCheckpoint(
          kmeansCentroids(train, idCol, vecCol, nl, iters))
        trained = Some(cents)
        val payload = cleaned.columns
          .filterNot(c => c == idCol || c == vecCol || c == "list_id")
        assignToCentroids(cleaned, idCol, vecCol, cents,
          carry = payload.toSeq)
      },
      beforeSwap = (newLoc, _) => {
        // write, not copy: the new generation's rows are encoded under
        // the NEW quantizer; publishing the old one would mis-route
        // every probe
        trained.get.write.mode("overwrite")
          .parquet(quantizerPath(newLoc).toString)
        // the sizing rule travels with the new quantizer
        writeDerivationSidecar(spark, quantizerPath(newLoc), dVpl, dSf)
      })
    RetrainStats(stats.rows, stats.filesBefore, stats.filesAfter,
      stats.tombstonesPurged, chosenNlist)
  }

  /** The streaming-ingest write path as a first-class `foreachBatch`
    * function — assign + normalize + bucketed append + the maintenance
    * cadence, so a deployment wires `writeStream.foreachBatch(
    * Graft.bucketedIndexAppender(...))` instead of re-deriving the
    * p17/soak discipline by hand:
    *
    *  1. each micro-batch assigns to the FROZEN quantizer (`centroids`
    *     — Faiss `add` semantics: training is batch work on historical
    *     data; pass None when the stream already carries a `list_id`
    *     column, e.g. upstream-routed ingest),
    *  2. normalizes map-side (`nrm` via the codegen dot kernel),
    *  3. `repartition(buckets, list_id)` — repartition's murmur3-pmod
    *     IS the bucketing hash, so each task holds exactly one bucket
    *     and an append writes ≤ buckets files instead of one per
    *     (task × touched bucket) (the r12 fragmentation fix),
    *  4. appends to the bucketed `table` (`bucketBy(buckets, "list_id")
    *     .sortBy("list_id")` — must match the table's spec), and
    *  5. every `compactEvery` batches runs [[compactBucketedIndex]]
    *     from this same thread — serialized with appends by
    *     construction, the documented compaction discipline — which
    *     also physically drops pending [[ivfDelete]] tombstones.
    *
    * `compactEvery = 0` disables the cadence (run compaction on your
    * own schedule). The returned function is a plain
    * `(DataFrame, Long) => Unit`, so batch jobs can drive the same
    * path (SCALE.md's "r13: the full deployment-loop soak" section:
    * its 100-append run measured probes flat at 0.4–1.5 s with the
    * every-20 cadence, vs 16× degradation without compaction).
    * Expects batches of (`idCol`, `vecCol`) vectors; rows with ids
    * already indexed are NOT deduplicated — exactly-once delivery is
    * the stream's contract (the pubsub source's replay cache provides
    * it). */
  def bucketedIndexAppender(table: String, buckets: Int,
      centroids: Option[DataFrame], idCol: String, vecCol: String,
      compactEvery: Int = 0, maintainEvery: Int = 0)
      : (DataFrame, Long) => Unit = {
    require(buckets > 0, s"bucketedIndexAppender(buckets=$buckets)")
    require(compactEvery >= 0,
      s"bucketedIndexAppender(compactEvery=$compactEvery)")
    require(maintainEvery >= 0,
      s"bucketedIndexAppender(maintainEvery=$maintainEvery)")
    require(maintainEvery == 0 || centroids.nonEmpty,
      s"bucketedIndexAppender($table): maintainEvery without a " +
        "quantizer — an advice-driven retrain would re-assign the " +
        "index while upstream keeps routing under its own list ids")
    // `maintainEvery`: the SELF-MAINTAINING cadence, the one
    // [[maintenanceTick]] over [[indexStats]]: [[retrainIndex]], after
    // which THIS appender's quantizer swaps to the retrained one so the
    // next batch routes under the NEW lists (appending under the old
    // quantizer into a re-assigned table silently hides those rows from
    // probes), else [[compactBucketedIndex]]. Composes with
    // `compactEvery` (a fixed-cadence compaction floor); both run from
    // the foreachBatch thread, serialized with appends by construction.
    var quant = centroids
    // `quant`'s collected kernel state: frozen by the first batch and
    // re-frozen when a retrain swaps `quant`, so a steady-state batch
    // runs no centroid-collect job
    var frozen: Option[FrozenCents] = None
    // true once `quant` is a frame THIS loop pinned (loadQuantizer
    // localCheckpoints); the caller's `centroids` arg is never released
    // here — the caller may still hold it
    var quantPinned = false
    val tick = maintenanceTick(maintainEvery,
      stats = spark => {
        // self-heal the setup step the retrain trigger reads: without a
        // PERSISTED quantizer the advice never retrains (r13 review).
        // The check reads LAZILY: loadQuantizer's eager localCheckpoint
        // would pin blocks on every tick, never released (r13 ADVICE)
        if (rawQuantizer(spark, table).isEmpty)
          saveQuantizer(spark, table, quant.get)
        indexStats(spark, table)
      },
      retrain = spark => {
        retrainIndex(spark, table, idCol, vecCol)
        // swap THIS appender onto the retrained quantizer — the next
        // batch must route under the lists the table now holds.
        // Release the frame the PREVIOUS swap pinned (unpersist is a
        // no-op on localCheckpointed frames — r13 ADVICE: without
        // this, every retrain leaks the replaced quantizer's blocks);
        // never the caller's original `centroids`.
        val prev = if (quantPinned) quant else None
        quant = Some(loadQuantizer(spark, table).getOrElse(
          throw new IllegalStateException(
            s"bucketedIndexAppender($table): retrainIndex published " +
              "no quantizer")))
        quantPinned = true
        frozen = quant.map(freezeCents)
        prev.foreach(graft.ops.ListingCache.release)
      },
      compact = compactBucketedIndex(_, table))
    (batch: DataFrame, batchId: Long) => {
      // fail by NAME on a layout mismatch before any data moves — the
      // append itself would only throw Spark's generic bucket-spec
      // error after the batch-sized shuffle ran
      val spec = batch.sparkSession.sessionState.catalog
        .getTableMetadata(tableIdent(batch.sparkSession, table))
        .bucketSpec
      require(spec.exists(s => s.numBuckets == buckets &&
          s.bucketColumnNames == Seq("list_id")),
        s"bucketedIndexAppender($table): table bucket spec " +
          s"${spec.map(s => s"(${s.numBuckets}, ${s.bucketColumnNames
            .mkString(",")})").getOrElse("(none)")} does not match " +
          s"appender ($buckets, list_id)")
      val assigned = quant match {
        case Some(c) =>
          val fc = frozen.getOrElse(freezeCents(c))
          frozen = Some(fc)
          assignFrozen(batch, idCol, vecCol, fc)
        case None =>
          require(batch.columns.contains("list_id"),
            s"bucketedIndexAppender($table): no centroids given and " +
              "the batch carries no list_id column — either train a " +
              "quantizer or route list ids upstream")
          batch.select(col(idCol), col(vecCol), col("list_id"))
      }
      val enc = assigned
        .withColumn("nrm", sqrt(graft.functions.VectorExpressions
          .dotF32(col(vecCol), col(vecCol))))
        .select(col(idCol), col(vecCol), col("nrm"), col("list_id"))
      enc.repartition(buckets, col("list_id")).write.mode("append")
        .bucketBy(buckets, "list_id").sortBy("list_id")
        .saveAsTable(table)
      if (compactEvery > 0 && (batchId + 1) % compactEvery == 0)
        compactBucketedIndex(batch.sparkSession, table)
      tick(batch.sparkSession, batchId)
    }
  }

  /** The shared prune step of the [[ivfPqSearch]]/[[ivfSqSearch]]
    * serving paths: pin the probe rows (localCheckpoint — the r12
    * determinism fix: the pushdown id set must come from the EXACT
    * rows the candidate join will read, never a re-execution), collect
    * the batch's distinct probed list ids (bounded by
    * min(n_q·nProbe, nlist) ints), and push them as list and bucket
    * filters so a bucket-partitioned codes layout partition-prunes and
    * row-group-skips to just the probed lists. ONE implementation so a
    * fix to either search path cannot silently miss its twin
    * (r14 review). The pinned blocks are reclaimed by Spark's
    * ContextCleaner once the caller drops the returned search frame
    * (weak-reference GC cleanup — unlike the r9/r13 leak class, no
    * session-lived strong reference holds them), so a serving loop
    * that discards each batch's result does not accumulate pins. */
  private def pruneToProbedLists(probes0: DataFrame, enc: DataFrame,
      buckets: Int, pruneLists: Boolean): (DataFrame, DataFrame) =
    if (!pruneLists) (probes0, enc)
    else {
      val pinned = probes0.localCheckpoint(true)
      val ids = pinned.select("list_id").distinct()
        .collect().map(_.getInt(0)).toSeq
      val byList = enc.filter(col("list_id").isin(ids: _*))
      val pruned =
        if (buckets > 0)
          byList.filter(col("bucket").isin(
            ids.map(_ % buckets).distinct: _*))
        else byList
      (pinned, pruned)
    }

  /** The shared shortlist cut: candidates = probes ⋈ codes on list_id
    * (each corpus row lives in exactly ONE list, so a (query, neighbor)
    * candidate appears at most once — no dedup), self-excluded, scored
    * by `score` (ADC for PQ, the int8 dot for SQ), and cut to the
    * per-query `effShortlist`. Only (query_id, neighbor_id, score)
    * rides the shortlist window — the codes-only discipline (~24 bytes
    * per candidate; raw vectors re-join AFTER the cut). `small`
    * broadcasts the probe rows; above the switch the probes
    * SHUFFLE-join the codes and the cut is TWO-PHASE: phase 1 ranks
    * within (list_id, query_id) — a sort in the join output's existing
    * list_id hash partitioning, ZERO new Exchange — and is EXACT (a
    * candidate in a query's global top-shortlist is necessarily in the
    * top-shortlist of its own (query, list) under the same
    * (score desc, neighbor asc) total order), so occupancy drops out
    * of the one unbounded shuffle. */
  private def shortlistCut(probes: DataFrame, encSide: DataFrame,
      idCol: String, score: Column, effShortlist: Int,
      small: Boolean): DataFrame = {
    val wShort = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("__score").desc, col("neighbor_id"))
    if (small)
      broadcast(probes)
        .join(encSide, Seq("list_id"))
        .filter(col("query_id") =!= col(idCol))
        .select(col("query_id"), col(idCol).as("neighbor_id"),
          score.as("__score"))
        .withColumn("srnk", row_number().over(wShort))
        .filter(col("srnk") <= effShortlist)
    else {
      val wLocal = org.apache.spark.sql.expressions.Window
        .partitionBy("list_id", "query_id")
        .orderBy(col("__score").desc, col("neighbor_id"))
      probes
        .join(encSide, Seq("list_id"))
        .filter(col("query_id") =!= col(idCol))
        .select(col("list_id"), col("query_id"),
          col(idCol).as("neighbor_id"), score.as("__score"))
        .withColumn("lrnk", row_number().over(wLocal))
        .filter(col("lrnk") <= effShortlist)
        .select(col("query_id"), col("neighbor_id"), col("__score"))
        .withColumn("srnk", row_number().over(wShort))
        .filter(col("srnk") <= effShortlist)
    }
  }

  /** The shared exact-cosine rerank: the shortlist re-joins the
    * full-vector store by id (shortlist·n_q rows) and the query side
    * (`qside` = (query_id, qe, qn), broadcast in the small regime),
    * then the per-query top-k window orders by exact cosine. */
  private def exactRerank(short: DataFrame, vectors: DataFrame,
      idCol: String, vecCol: String, qside: DataFrame, k: Int,
      small: Boolean): DataFrame = {
    val wFull = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val nvec = normalized(vectors, idCol, vecCol)
    short
      .join(nvec, short("neighbor_id") === nvec(idCol))
      .join(if (small) broadcast(qside) else qside, Seq("query_id"))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col(vecCol)) /
          (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(wFull).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  /** Steps (4)–(6) of [[ivfPqTopK]] against a built [[IvfPqIndex]]:
    * probe selection ([[probeTopN]] — the CentroidTopNF32 kernel),
    * ADC over ONLY the probed lists' codes (equi-join
    * on the list id, never a flat scan), exact-cosine rerank of the
    * per-query `shortlist`. `queries` carries (`qidCol`, `qvecCol`);
    * `vectors` is the full-vector store (`index.idCol`, `vecCol`) the
    * rerank re-joins by id — the codes-only index never stores vectors.
    * A query whose id equals a corpus id is treated as that corpus row
    * asking for neighbors: the row itself is excluded.
    *
    * Two physical regimes by query-batch size, identical results
    * (IvfPqManyQuerySpec pins row-for-row parity; the switch probes
    * `queries` with a LIMIT-bounded count, never a full scan):
    *
    *  - ≤ `broadcastQueries`: the probe rows (each carrying its ~KB
    *    qlut) BROADCAST into the candidate join and the global
    *    shortlist window shuffles the bounded n_q·nProbe·occupancy
    *    candidate set — the right plan while n_q·nProbe·|qlut| fits an
    *    executor.
    *  - above it (batched retrieval, SemDeDup neighborhoods): probe
    *    rows SHUFFLE-join the codes on list_id — qluts ride the
    *    exchange, nothing query-sized is ever broadcast or collected —
    *    and the shortlist cut is TWO-PHASE (the s12 discipline): rank
    *    within (list_id, query_id) first, which the join output's
    *    list_id hash partitioning already satisfies (a sort, ZERO new
    *    Exchange — PlanPropertiesSpec), so the global window shuffles
    *    n_q·nProbe·min(shortlist, occupancy) rows and occupancy — which
    *    grows as √n/4 past the [[deriveNlist]] crossover — drops out of
    *    the one unbounded shuffle.
    *
    * `pruneLists = true` (the [[ivfPqLoad]] serving path) is EAGER and
    * BLOCKING at call time: the probe subplan is localCheckpoint-pinned
    * and its distinct list ids collected (bounded by min(n_q·nProbe,
    * nlist) ints) before this method returns, so the pushdown filter is
    * derived from the exact probe rows the candidate join will read —
    * never from a re-execution that nondeterministic inputs could
    * change. */
  def ivfPqSearch(index: IvfPqIndex, queries: DataFrame, qidCol: String,
      qvecCol: String, vectors: DataFrame, vecCol: String, k: Int,
      nProbe: Int, shortlist: Int = 0,
      broadcastQueries: Int = 4096,
      pruneLists: Boolean = false,
      filter: Option[Column] = None): DataFrame = {
    // shortlist = 0 (the default) DERIVES the size from the index's own
    // row count: [[deriveShortlist]] — the shortlist must cover a probed
    // list's occupancy or recall caps shortlist-bound (flat in nProbe;
    // the 5M decade measured 0.713 at the old static 256-ish defaults
    // vs 0.984 at occupancy-sized, SCALE.md). The build/save path
    // records `rows`, so the derivation is free; a hand-assembled index
    // without it pays one codes-frame count. Pass an explicit shortlist
    // to override (fixture oracles pin corpus-fraction sizes).
    require(k > 0 && nProbe > 0 && broadcastQueries >= 0 &&
        (shortlist == 0 || shortlist >= k),
      s"ivfPqSearch(k=$k, shortlist=$shortlist, nProbe=$nProbe)")
    val effShortlist =
      if (shortlist > 0) shortlist
      else deriveShortlist(
        if (index.rows >= 0) index.rows else index.enc.count(),
        index.nlist, k)
    // `filter`: a metadata predicate over the index's `payload` columns
    // ([[ivfPqBuild]]), PRE-applied to the codes side — results are the
    // top-k MATCHING rows of the probed lists, exact at any selectivity
    // (post-filtering an unfiltered top-k returns < k whenever the
    // unfiltered neighborhood is filter-sparse). On a loaded index the
    // predicate pushes into the codes parquet scan, composing with
    // `pruneLists`' bucket pruning.
    val encFiltered = filter.map(index.enc.filter).getOrElse(index.enc)
    val dsub = index.dim / index.m
    val q0 = normalized(queries, qidCol, qvecCol)
      .select(col(qidCol).as("query_id"), col(qvecCol).as("qe"),
        col("nrm").as("qn"))
    // the [[pqTopK]] query LUT over the frozen codebook: one bounded
    // head() at call time, and the per-batch plan stays map-only
    val flat = freezeFlatLookup(index.lookup, index.m, index.ksub)
    val q = q0.withColumn("qlut", graft.functions.VectorExpressions
      .pqQueryLutF32(col("qe"), flat.cells, flat.cents, index.m,
        index.ksub, dsub))
    // Each probe row also carries qc = q·centroid(list): the exact
    // coarse term of the residual ADC score (see [[ivfPqBuild]]) — one
    // broadcast equi-join on the bounded centroid table, one extra
    // double per probe row.
    val probes0 = probeTopN(q, "qe", Some("qn"), index.cents, nProbe)
      .join(broadcast(index.cents
        .select(col("list_id"), col("centroid").as("__qcent"))), "list_id")
      .select(col("query_id"), col("qlut"), col("list_id"),
        dot(col("qe"), col("__qcent")).as("qc"))
    // prune/pin + shortlist + rerank: the shared serving tail
    // ([[pruneToProbedLists]]/[[shortlistCut]]/[[exactRerank]] — see
    // their scaladoc for the pin-before-collect determinism argument,
    // the codes-only shuffle discipline, and the two-phase cut's
    // exactness proof). The pin makes pruneLists EAGER at call time;
    // bounded at n_q·nProbe rows (~KB qlut each), the serving-batch
    // size this path exists for.
    val (probes, encSide) = pruneToProbedLists(probes0, encFiltered,
      index.buckets, pruneLists)
    val probeLimit = (math.min(broadcastQueries.toLong, Int.MaxValue - 1L)
      + 1L).toInt
    val small =
      queries.select(col(qidCol)).limit(probeLimit).count() <=
        broadcastQueries
    val adc = (col("qc") + graft.functions.VectorExpressions
      .pqAdcLut(col("qlut"), col("code"), index.ksub)) / col("rnorm")
    val short = shortlistCut(probes, encSide, index.idCol, adc,
      effShortlist, small)
    exactRerank(short, vectors, index.idCol, vecCol,
      q0.select(col("query_id"), col("qe"), col("qn")), k, small)
  }

  /** The serving-shortlist sizing rule, measured at 1M and 5M
    * (SCALE.md r12 shortlist analysis + the r13 5M-decade row): the
    * ADC shortlist must cover a probed LIST'S OCCUPANCY, or recall
    * caps shortlist-bound — flat in nProbe — once clusters outgrow
    * the shortlist (5M defaults read 0.713; shortlist = occupancy
    * read 0.984 at the same probed fraction). Use with the corpus
    * size and the index's nlist:
    * `ivfPqSearch(..., shortlist = deriveShortlist(n, index.nlist))`.
    * Past the [[deriveNlist]] √n crossover occupancy grows as √n/4,
    * so this grows with it — which is exactly why it cannot be a
    * static default. */
  def deriveShortlist(n: Long, nlist: Int, k: Int = 50): Int = {
    require(n >= 0 && nlist > 0 && k > 0,
      s"deriveShortlist($n, $nlist, $k)")
    math.max(k.toLong, (n + nlist - 1) / nlist).toInt
  }

  /** The multiprobe sizing rule for the kNN self-join family
    * ([[annKnnJoin]] s12), measured at 1M and 5M (SCALE.md): a fixed
    * probe count loses recall as clusters outgrow lists — probes must
    * cover a cluster's LIST SPAN. Under a corpus with K intrinsic
    * clusters the span is nlist/K (cluster size n/K over occupancy
    * n/nlist) — a constant FRACTION of lists, independent of n — so the
    * rule is probes = slack · spanFraction · nlist, floored for
    * boundary-overlap recall at small nlist (the fixture regime, where
    * probes = 4 of ≤ 15 lists is the committed behavior) and capped at
    * nlist. `spanFraction` = 1/K is a property of the DATA (default
    * anchored to the measured 1000-cluster corpus: probes 2 → 4 at 1M
    * restored recall 0.78 → 1.000 exactly when probes crossed the
    * span ~2.5; 5M's span ~9 reads 0.706 at the old fixed 4); `slack`
    * covers boundary queries whose cluster straddles more lists than
    * the mean (1M measured 1.6× needed; see SCALE.md r14 for the 5M
    * confirmation). Per-query candidate cost scales as
    * probes · occupancy = slack/K · n — linear in n with a 1/K
    * constant, the right bill for density that genuinely grew. */
  def deriveProbes(nlist: Int, spanFraction: Double = 0.001,
      slack: Double = 1.5, floor: Int = 4): Int = {
    require(nlist > 0 && spanFraction > 0 && slack > 0 && floor > 0,
      s"deriveProbes($nlist, $spanFraction, $slack, $floor)")
    math.min(nlist.toLong,
      math.max(floor.toLong,
        math.ceil(nlist * spanFraction * slack).toLong)).toInt
  }

  /** List-count derivation for every k-means-derived index (IVF, IVF-PQ,
    * the kNN self-join blocks, SemDeDup's clusters): the smaller of the
    * fixed-occupancy count `n / vectorsPerList` and the Faiss convention
    * `sqrtFactor · √n` (Jégou et al.; Faiss guidelines use 4√n–16√n).
    *
    * Why two regimes: at small n, fixed occupancy keeps every list
    * usefully populated (√n would over-split a 10⁴-vector corpus into
    * starving lists). At large n, a count ∝ n makes the one full-corpus
    * assignment pass O(n·nlist) = O(n²/occupancy) — the engine's last
    * super-linear term (r8 verdict); capping at `sqrtFactor·√n` bounds
    * assignment at O(n^1.5) while per-list occupancy grows as
    * √n/sqrtFactor, which the PQ/ADC scan path absorbs linearly. The
    * crossover sits at n = (vectorsPerList·sqrtFactor)² — 2.56M vectors
    * at the defaults — so every committed fixture (and the 10×/30×/100×
    * scale runs) resolves to the identical layout the fixed-occupancy
    * derivation produced, while a 10⁹-vector corpus gets 4√n ≈ 126k
    * lists instead of 2.5M and a 20× cheaper build. */
  def deriveNlist(n: Long, vectorsPerList: Int = 400,
      sqrtFactor: Double = 4.0, floor: Int = 1): Int = {
    require(n >= 0 && vectorsPerList > 0 && sqrtFactor > 0 && floor > 0,
      s"deriveNlist($n, $vectorsPerList, $sqrtFactor, $floor)")
    math.max(floor.toLong, math.round(math.min(
      n.toDouble / vectorsPerList,
      sqrtFactor * math.sqrt(n.toDouble)))).toInt
  }

  /** Signature-width derivation for the exact hamming-banded near-dup
    * joins ([[ahashNearDupPairs]], [[simhashNearDupPairs]]) — the
    * [[deriveNlist]] discipline applied to the one index width the
    * engine still left manual (r9 verdict): how many 60-bit words the
    * pigeonhole signature should span at corpus count `n`.
    *
    * The model is SCALE.md's measured m11-vs-m13 / d03-vs-d19
    * comparison: with radius+1 disjoint bands of width w =
    * 60·words/(radius+1), a banded self-join enumerates ~bands·n/2^w
    * RANDOM band collisions per item on top of the true near-pairs, so
    * the candidate class is occupancy-quadratic until 2^w outruns n.
    * The narrow signature is cheaper map-side (8-byte banded rows, half
    * the vote aggregates), so the right width is the SMALLEST
    * word-aligned one whose expected random collisions per item stay
    * under `collisionsPerItem` — wider buys nothing below the
    * crossover and the class bend above it. At the defaults
    * (radius 3, budget 32) the 60→120-bit switch lands at
    * n = 32·2¹⁵/4 = 262 144 items, inside the measured bracket where
    * m13 overtakes m11 (60-bit still faster at 171 k rows, 2.5× slower
    * at 571 k — SCALE.md's 100× table); simhash callers pass budget 8
    * because text band values skew hot sooner (d19 overtakes d03 a
    * decade earlier, at ~150 k docs). Every committed fixture (≤ ~6 k
    * docs) resolves to words = 1, today's widths.
    *
    * Only widths [[hammingBandLayout]] can band at `radius` are
    * candidates (each band must live inside one 60-bit word);
    * words = 1 is always admissible because the single-word path bands
    * by an even split at any radius. radius = 0 is an equality join at
    * any width, so the narrow signature always wins. */
  def deriveHammingWords(n: Long, radius: Int = 3,
      collisionsPerItem: Double = 32.0, maxWords: Int = 4): Int = {
    require(n >= 0 && radius >= 0 && collisionsPerItem > 0 &&
      (maxWords == 1 || maxWords == 2 || maxWords == 4),
      s"deriveHammingWords($n, $radius, $collisionsPerItem, $maxWords)")
    if (radius == 0) return 1
    val bands = radius + 1
    val candidates = 1 +: Seq(2, 4).filter(w =>
      w <= maxWords && hammingBandLayout(w, radius).isDefined)
    candidates.find { w =>
      val width = 60.0 * w / bands
      bands.toDouble * n.toDouble / math.pow(2.0, width) <=
        collisionsPerItem
    }.getOrElse(candidates.last)
  }

  /** ANN k-nearest-neighbor SELF-join: approximate top-`k` neighbors
    * for EVERY corpus vector — the all-pairs retrieval shape behind
    * embedding-level curation (SemDeDup neighborhoods, diversity
    * filtering, graph construction), where the query set IS the corpus
    * and the broadcast-the-queries trick of `cosineTopK` cannot apply.
    *
    * Shape: train an IVF coarse quantizer on a bounded md5-bucket
    * sample (the [[ivfPqTopK]] discipline), assign each corpus vector
    * to its ONE primary list, let each vector-as-query probe its
    * `probes` nearest lists ([[assignToCentroidsTopN]] — map-only), and
    * join query probes to list members on the list id. Per-query
    * candidates ≈ probes × occupancy, and occupancy is bounded by
    * deriving `nlist` from the corpus count ([[deriveNlist]]) — so
    * total work is O(n · probes · occupancy) dot products (occupancy =
    * `vectorsPerList` up to the √n crossover, √n/4 past it): at most
    * O(n^1.5), never the n² cross product. The per-query top-k window partitions
    * by query id over those bounded candidate lists. A neighbor's
    * primary list is unique and probed lists are distinct, so a
    * (query, neighbor) pair appears at most once — no dedup pass.
    * Boundary recall comes from multi-probe overlap, exactly like
    * [[semanticDedupPairs]]' 2-probe assignment. */
  def annKnnJoin(df: DataFrame, idCol: String, vecCol: String, k: Int,
      probes: Int = 0, iters: Int = 2, vectorsPerList: Int = 400,
      trainPerList: Int = 128): DataFrame = {
    // probes = 0 (the default) derives the multiprobe width from the
    // derived nlist ([[deriveProbes]] — the cluster-span rule): at
    // fixture scale this resolves to the committed probes = 4, past
    // the density decades it grows with nlist, which removes the
    // 5M-decade recall collapse MEASURED on the 1000-cluster corpus
    // (0.706 at the fixed width, 0.997 derived — SCALE.md r14). The
    // rule's spanFraction = 1/K is a DATA property (deriveProbes'
    // scaladoc): a corpus with far fewer intrinsic clusters has a
    // proportionally larger span and should pass spanFraction = 1/K
    // explicitly — the default encodes the measured corpus, not a
    // universal guarantee.
    require(k > 0 && probes >= 0 && vectorsPerList > 0 && trainPerList > 0,
      s"annKnnJoin(k=$k, probes=$probes, vectorsPerList=$vectorsPerList)")
    val count = df.count()
    val nlist = deriveNlist(count, vectorsPerList, floor = 1)
    val effProbes = if (probes > 0) probes else {
      val p = deriveProbes(nlist)
      // the derived default encodes spanFraction = 0.001 (the measured
      // 1000-cluster corpus); say so OUT LOUD so a deployment on a
      // corpus with far fewer intrinsic clusters notices the knob
      // instead of silently under-probing (r14 advice)
      org.apache.log4j.Logger.getLogger(getClass)
        .info(s"annKnnJoin: probes derived as $p of nlist=$nlist via " +
          "deriveProbes(spanFraction=0.001, slack=1.5) — the default " +
          "assumes ~1000 intrinsic clusters; on a corpus with K " +
          "clusters pass probes explicitly or use " +
          "deriveProbes(nlist, spanFraction = 1.0/K)")
      p
    }
    val train = trainSample(df, idCol, nlist.toLong * trainPerList, count)
    val cents =
      iterCheckpoint(kmeansCentroids(train, idCol, vecCol, nlist, iters))
    // Both sides are MAP-ONLY since r16: the assignment carries the
    // norm through (`carry`) and the probe side rides [[probeTopN]]
    // over the normalized frame — the old shape joined each back to
    // normalized(df) on id, paying two corpus-sized hash joins for
    // columns the assignment pass already had in hand.
    val listed = assignToCentroids(df, idCol, vecCol, cents,
      carry = Seq("nrm"))
    val qProbes = probeTopN(
      normalized(df, idCol, vecCol)
        .select(col(idCol).as("query_id"), col(vecCol).as("qe"),
          col("nrm").as("qn")),
      "qe", Some("qn"), cents, math.min(effProbes, nlist))
    // Two-phase top-k. The candidate join emits n·probes·occupancy
    // rows; a single global window over query_id would SHUFFLE all of
    // them (the op's one unbounded shuffle — ~10¹⁰ rows past the
    // deriveNlist √n crossover, where occupancy grows as √n/4).
    // Phase 1 ranks within (list_id, query_id): the join output is
    // already hash-partitioned by list_id, which satisfies the
    // window's ClusteredDistribution on (list_id, query_id) — a SORT
    // within existing partitions, zero new shuffle (PlanPropertiesSpec
    // pins one Exchange between the join and the final window). A
    // query's candidates in one list that survive to the global top-k
    // are necessarily in that list's local top-k under the same
    // (cos desc, neighbor_id) total order, so keeping k per (query,
    // list) is EXACT. Phase 2's global window then shuffles only
    // n·probes·k rows — occupancy drops out of the shuffle volume
    // entirely (113× fewer rows at the 5M-vector slice).
    val wLocal = org.apache.spark.sql.expressions.Window
      .partitionBy("list_id", "query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    // `merge` hint: this is a corpus×corpus SELF-join — at scale
    // neither side ever fits a broadcast, and the r16 map-only sides
    // (above) otherwise estimate under the 10 MB threshold at FIXTURE
    // scale, flipping the planner to a broadcast join whose output is
    // unpartitioned — which re-shuffles the full n·probes·occupancy
    // candidate set into the local window, the exact shuffle the
    // two-phase cut exists to avoid. The hint pins the scale-true
    // sort-merge shape: both sides exchange ONCE on list_id and the
    // local window rides that partitioning (PlanPropertiesSpec).
    qProbes.as("q")
      .join(listed.as("c").hint("merge"),
        col("q.list_id") === col("c.list_id") &&
        col("q.query_id") =!= col(s"c.$idCol"))
      .select(col("q.query_id"), col("q.list_id"),
        col(s"c.$idCol").as("neighbor_id"),
        (dot(col("q.qe"), col(s"c.$vecCol")) /
          (col("q.qn") * col("c.nrm"))).as("cos"))
      .withColumn("lrnk", row_number().over(wLocal))
      .filter(col("lrnk") <= k)
      .select(col("query_id"), col("neighbor_id"), col("cos"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  /** Reciprocal-rank fusion of retrieval rankings (Cormack et al.; the
    * hybrid-search combiner in Elasticsearch/OpenSearch/Vespa): each
    * input carries (query_id, neighbor_id, `rankCol`) and a candidate's
    * fused score is Σ 1/(k0 + rank) over the rankings that surfaced it —
    * rank-based, so wildly different scorers (cosine, BM25, a prefix
    * index) fuse without score calibration. Returns the `topK` fused
    * results per query (score desc, neighbor asc — deterministic, so
    * the whole operator is exactly hash-checkable, unlike score-weighted
    * fusion of floating scorers).
    *
    * Scale shape: inputs are already per-query top-k lists (bounded
    * rows), so the union + per-(query, neighbor) sum + per-query window
    * all run on candidate-sized data — the corpus was paid for by the
    * upstream rankers. */
  def rrfFuse(rankings: Seq[DataFrame], rankCol: String = "rnk",
      k0: Int = 60, topK: Int = 10, queryCol: String = "query_id",
      neighborCol: String = "neighbor_id"): DataFrame = {
    require(rankings.nonEmpty && k0 > 0 && topK > 0,
      s"rrfFuse(n=${rankings.size}, k0=$k0, topK=$topK)")
    val scored = rankings
      .map(_.select(col(queryCol), col(neighborCol),
        (lit(1.0) / (lit(k0.toDouble) + col(rankCol))).as("c")))
      .reduce(_.union(_))
      .groupBy(queryCol, neighborCol)
      .agg(sum("c").as("score"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy(queryCol)
      .orderBy(col("score").desc, col(neighborCol))
    scored
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= topK)
      .select(col(queryCol), col(neighborCol),
        round(col("score"), 6).as("rrf_score"), col("rnk"))
  }

  /** Exact all-pairs cosine near-dup — the O(n²) baseline; prefer
    * [[lshCosinePairs]] or [[blockedCosinePairs]] beyond ~10⁴ vectors.
    *
    * Guarded: refuses inputs larger than `maxRows` (default 2²⁰ ≈ 10⁶,
    * already half a trillion candidate pairs) so the quadratic join
    * can't be pointed at a corpus by accident — pass a larger `maxRows`
    * to opt in explicitly. The guard is one narrow COUNT of the id
    * column, noise next to the join it fences. */
  def cosinePairsExact(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, maxRows: Long = 1L << 20): DataFrame = {
    val rows = df.select(col(idCol)).count()
    // BigInt: rows*rows overflows Long beyond ~3e9 rows and would print
    // a nonsense pair estimate in exactly the case the guard matters.
    require(rows <= maxRows,
      s"cosinePairsExact over $rows rows would build " +
        s"~${BigInt(rows) * BigInt(rows) / 2} " +
        s"candidate pairs (O(n²)); this is the exact BASELINE, not the " +
        s"scale path. Use lshCosinePairs/blockedCosinePairs, or pass " +
        s"maxRows >= $rows to force the quadratic join.")
    val n = normalized(df, idCol, vecCol)
    n.as("a")
      .join(n.as("b"), col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        (dot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** Blocked cosine near-dup: exact pairs computed only WITHIN a
    * blocking key (language, source, shard, cluster id…) — the classic
    * record-linkage candidate cutter. With K balanced blocks the pair
    * space drops from n²/2 to n²/(2K), and — unlike LSH — the result is
    * deterministic and exactly verifiable: it IS the definition "pairs
    * that agree on the block and clear the threshold". Physically one
    * equi-join on the block key (shuffle partitioned by block, no
    * cartesian), then the native dot product on the co-located rows —
    * the same shape at 100 TB with blocks as the shuffle keys. Skewed
    * blocks (one language dominating) are the known failure mode; cap
    * or sub-block the hot key the way d04's maxShingleDf does. */
  def blockedCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      blockCol: String, threshold: Double): DataFrame = {
    val n = df.select(col(idCol), col(vecCol), col(blockCol),
      sqrt(dot(col(vecCol), col(vecCol))).as("nrm"))
    n.as("a")
      .join(n.as("b"),
        col(s"a.$blockCol") === col(s"b.$blockCol") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$blockCol").as("block"),
        col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"),
        (dot(col(s"a.$vecCol"), col(s"b.$vecCol")) /
          (col("a.nrm") * col("b.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  /** SemDeDup-style semantic near-dup pairs (Abbas et al., "SemDeDup:
    * Data-efficient learning at web-scale through semantic
    * deduplication"): cluster the embedding space with the distributed
    * k-means quantizer ([[kmeansCentroids]] — deterministic init, the
    * corpus never collected), assign each vector to its `probes` nearest
    * clusters ([[assignToCentroidsTopN]] — multi-probe assignment
    * recovers the near-dups that sit just across a cluster boundary;
    * probes=1 is the paper's plain single-assignment), then compute
    * EXACT cosine pairs only WITHIN a shared cluster
    * ([[blockedCosinePairs]] on the assigned list id, de-duplicated
    * across shared probes). The cluster step cuts the pair space from
    * n²/2 to ~probes²·n²/(2K) while keeping the near-dups — semantic
    * duplicates co-cluster when the quantizer is any good, which is the
    * paper's premise — and the within-cluster filter is the exact
    * cosine, so the output has NO false positives against the
    * threshold; the only loss is cross-cluster recall, gated d06-style
    * by the d12 contract.
    *
    * Scale shape: k-means is `iters` rounds of map-side assignment
    * against the collected nlist-row centroid table plus one aggregation;
    * multi-probe assignment is a map-side kernel top-N; the pair join
    * is an equi-join shuffled by list id. The classic blocked-dedup
    * skew — a dominant cluster degenerating toward the quadratic
    * baseline — is AUTO-HANDLED: lists hotter than `hotFactor` × the
    * mean occupancy are sub-clustered one level before the pair join
    * ([[containHotClusters]]); exact duplicates always survive the
    * split (identical vectors share the argmax sub-assignment). */
  def semanticDedupPairs(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int, threshold: Double,
      probes: Int = 2, hotFactor: Double = 8.0): DataFrame = {
    val cents = kmeansCentroids(df, idCol, vecCol, nlist, iters)
    val assigned =
      if (probes <= 1) assignToCentroids(df, idCol, vecCol, cents)
      else assignToCentroidsTopN(df, idCol, vecCol, cents, probes)
    val contained = containHotClusters(
      assigned.select(col(idCol), col(vecCol), col("list_id")),
      idCol, vecCol, hotFactor)
    blockedCosinePairs(contained, idCol, vecCol, "block_id", threshold)
      // a pair sharing two probed clusters appears once per shared list;
      // cos is the identical arithmetic both times, so DISTINCT dedupes
      .select(col("id_a"), col("id_b"), col("cos")).distinct()
  }

  /** Hot-cluster containment for blocked pair joins — the auto-handling
    * for the dominant-cluster skew every blocked dedup documents: a
    * list whose occupancy exceeds `hotFactor` × the MEAN occupancy
    * would push its within-block pair join toward the quadratic
    * baseline (one 50%-cluster is ~25% of all-pairs), so hot lists are
    * SUB-CLUSTERED one level and their rows re-keyed to
    * `"l<list>_<sub>"`; cold lists keep `"l<list>"`. Returns
    * (idCol, vecCol, block_id STRING).
    *
    * The second level trains for ALL hot lists in ONE pass (the
    * pqCodebooks trick): deterministic id-mod init into
    * ceil(size/mean) subs per hot list, element-wise means keyed by
    * (list, sub), then a single map-side argmax re-assignment against
    * the broadcast per-list sub-centroids — row norms cancel in the
    * argmax, so no normalization pass. Splitting trades the same
    * cross-boundary recall the top-level clustering already trades
    * (gated by the d12 recall contract); what it buys is bounded
    * occupancy: post-split blocks sit near the mean, so the pair join
    * stays ~n·mean instead of hot². */
  def containHotClusters(assigned: DataFrame, idCol: String,
      vecCol: String, hotFactor: Double = 8.0): DataFrame = {
    require(hotFactor > 1.0, s"containHotClusters(hotFactor=$hotFactor)")
    // Materialize the assignment ONCE: this function fans out into a
    // counts branch plus cold/hot row branches, and the caller
    // self-joins the result — without truncation every branch re-runs
    // the upstream plan (for semanticDedupPairs that is the whole
    // Lloyd training, measured ~4x the query at sf0.1).
    val mat = iterCheckpoint(assigned)
    val counts = mat.groupBy("list_id").agg(count(lit(1)).as("sz"))
    val meanDf = counts.agg(avg(col("sz")).as("mean_sz"))
    val hot = counts.crossJoin(broadcast(meanDf))
      .filter(col("sz") > lit(hotFactor) * col("mean_sz"))
      .select(col("list_id"),
        ceil(col("sz") / col("mean_sz")).cast("int").as("nsub"))
    // Common case: occupancies are bounded and nothing is hot. One
    // driver action on the (<= nlist)-row hot table buys a plan that is
    // just a projection of the materialized rows — no join, no union,
    // no empty-branch aggregation machinery downstream.
    if (hot.isEmpty)
      return mat.select(col(idCol), col(vecCol),
        concat(lit("l"), col("list_id")).as("block_id"))
    val marked = mat.join(broadcast(hot), Seq("list_id"), "left")
    val cold = marked.filter(col("nsub").isNull)
      .select(col(idCol), col(vecCol),
        concat(lit("l"), col("list_id")).as("block_id"))
    val hotRows = marked.filter(col("nsub").isNotNull)
    val subMeans = hotRows
      .withColumn("sub",
        pmod(col(idCol).cast("long"), col("nsub").cast("long")).cast("int"))
      .select(col("list_id"), col("sub"),
        posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("list_id", "sub", "pos").agg(avg("v").as("m"))
      .groupBy("list_id", "sub")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("list_id"), col("sub"),
        expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("centroid"))
    val cn = subMeans
      .select(col("list_id"), struct(col("sub"), col("centroid"),
        sqrt(dot(col("centroid"), col("centroid"))).as("cnrm")).as("c"))
      .groupBy("list_id").agg(collect_list(col("c")).as("cents"))
    val resub = hotRows.join(broadcast(cn), Seq("list_id"))
      .filter(size(col("cents")) > 0)
      .select(col(idCol), col(vecCol), col("list_id"),
        aggregate(
          // argmax of dot/cnrm == argmax of cosine (the row norm is a
          // positive constant across one row's candidates); winner
          // condition is order-independent, so collect_list order
          // cannot change the result (the assignToCentroids discipline)
          transform(col("cents"), c => struct(
            c("sub").cast("int").as("sub"),
            (dot(col(vecCol), c("centroid")) / c("cnrm"))
              .cast("double").as("d"))),
          struct(lit(Int.MaxValue).as("sub"),
            lit(Double.NegativeInfinity).cast("double").as("d")),
          (acc, e) =>
            when(e("d") > acc("d") ||
                (e("d") === acc("d") && e("sub") < acc("sub")),
              e).otherwise(acc))("sub").as("sub"))
      .select(col(idCol), col(vecCol),
        concat(lit("l"), col("list_id"), lit("_"), col("sub"))
          .as("block_id"))
    // The hot path's re-keyed rows come out of an aggregation tree;
    // truncate before returning so the caller's pair self-join scans
    // materialized rows instead of running the sub-clustering twice.
    iterCheckpoint(cold.union(resub))
  }

  /** Random-hyperplane LSH index parameters — the recall/cost tuning
    * surface: `tables` independent tables of `bits` sign bits each (AND
    * within a table keeps candidate lists short, OR across tables
    * recovers recall; more tables = more recall and more index rows,
    * more bits = shorter lists and less recall per table), `seed` for
    * the deterministic plane draw, and the plane dimensionality `dim` —
    * 0 (the default) derives it from the data's first row, because
    * planes NARROWER than the vectors silently ignore the tail
    * components and planes wider waste draw entropy.
    *
    * `bits = 0` (the default) derives the bit width from the corpus so
    * bucket occupancy stays ~`targetOccupancy` as the data grows:
    * `clamp(ceil(log2(n / targetOccupancy)), 4, 16)`. A PINNED bit
    * width fixes the bucket count, which makes the candidate stage of
    * [[lshCosinePairs]] O(n²/2^bits) — measured 41× wall growth on 10×
    * data before this derivation (SCALE.md), the same super-linearity
    * the k-means `nlist` derivation fixes for d12.
    *
    * `tables = 0` (the default) derives the table count from the
    * RESOLVED bit width — `clamp(4 · 2^((bits-6)/2), 4, 64)` — because
    * per-table collision probability decays geometrically in `bits`
    * (measured ~0.55× per +2 bits on the fixtures, hamming-1 probing
    * included), so recall at a fixed table count decays with corpus
    * growth: sf0.1 measured 0.806 → 0.563 → 0.326 at bits 6/8/10 with
    * 4 tables, restored to 0.819 at bits 8 with the derived 8 tables.
    * Doubling tables per +2 bits holds recall ~flat at total work
    * O(n^1.5) — the classic sub-quadratic LSH exponent; beyond the
    * bits cap (corpus ≫ 10⁶ per partition-disjoint shard) switch
    * families (minhash banding over shingles, or IVF/k-means blocking
    * via [[semanticDedupPairs]]) rather than stretching sign-LSH. Pin
    * either field to reproduce a specific index layout.
    *
    * `probeBits`/`probeBits2` (query-directed multiprobe, Lv et al.
    * 2007) engage ONLY when `probeHamming1 = true` — directed probing
    * is a refinement of hamming multiprobe, and with multiprobe off the
    * index probes exact codes alone, whatever the pinned widths. A
    * pinned `probeBits ≥ bits` is CLAMPED to `bits − 1` at resolution
    * (flipping every bit of a code enumerates the whole table — that
    * is full multiprobe, spelled `probeBits = 0`), keeping the
    * requested `probeBits2` pair flips live instead of silently
    * falling back to the classic path. */
  final case class LshParams(tables: Int = 0, bits: Int = 0,
      dim: Int = 0, seed: Long = 42L, targetOccupancy: Int = 8,
      probeHamming1: Boolean = true, probeBits: Int = -1,
      probeBits2: Int = 0) {
    require(probeBits >= -1,
      s"LshParams.probeBits must be >= -1 (-1 derives, 0 = all): $probeBits")
    require(probeBits2 >= 0,
      s"LshParams.probeBits2 must be >= 0 (pair flips of that many " +
        s"lowest-margin bits): $probeBits2")
    require(tables >= 0,
      s"LshParams.tables must be >= 0 (0 derives from bits): $tables")
    require(bits >= 0 && bits <= 30,
      s"LshParams.bits out of range (0 derives from the data): $bits")
    require(dim >= 0, s"LshParams.dim must be >= 0: $dim")
    require(targetOccupancy > 0,
      s"LshParams.targetOccupancy must be positive: $targetOccupancy")
  }

  /** Deterministic gaussian hyperplane VALUES for `p` at dimensionality
    * `dim`: tables × bits planes of `dim` components, in the seed's
    * draw order. Shared by the SQL-literal rendering below and the
    * native all-tables probe kernel, which stores them as FLOAT so its
    * double-accumulated fold reproduces the dotF32-vs-FLOAT-literal
    * codes bit for bit. */
  private def tablePlaneValues(p: LshParams,
      dim: Int): Array[Array[Array[Double]]] = {
    val rnd = new scala.util.Random(p.seed)
    Array.fill(p.tables, p.bits)(Array.fill(dim)(rnd.nextGaussian()))
  }

  /** [[tablePlaneValues]] as SQL array literals (constant-folded by
    * Catalyst). */
  private def tablePlanes(p: LshParams, dim: Int): Seq[Seq[String]] =
    tablePlaneValues(p, dim).toSeq.map(_.toSeq.map(
      _.map(v => s"CAST($v AS FLOAT)").mkString("array(", ",", ")")))

  /** `p.dim`, or the data's vector width when `p.dim == 0` (one narrow
    * LIMIT-1 job — index-build cost, paid once per plan). */
  private def resolveLshDim(df: DataFrame, vecCol: String,
      p: LshParams): Int =
    if (p.dim > 0) p.dim
    else df.select(size(col(vecCol)).cast("int")).limit(1).collect()
      .headOption.map(_.getInt(0)).getOrElse(1)

  /** Resolve the `bits = 0` / `dim = 0` sentinels against the data: one
    * count + one LIMIT-1 job, index-build cost paid once per operator
    * call. Idempotent on an already-resolved params value. */
  private def resolveLsh(df: DataFrame, vecCol: String,
      p: LshParams): LshParams = {
    val dim = resolveLshDim(df, vecCol, p)
    val bits =
      if (p.bits > 0) p.bits
      else {
        val n = math.max(1L, df.count()).toDouble
        def derive(occ: Double, cap: Int) = math.min(cap, math.max(4,
          math.ceil(math.log(n / occ) / math.log(2.0)).toInt))
        // The r10 adjudication (SCALE.md's d06 section) kept this
        // derivation AS COMMITTED after measuring the alternatives:
        // "spend bits past the 64-table cap" points (occupancy 1.5-4,
        // bits 16-17, directed probing) measured recall 0.918-0.956
        // and min-of-2 walls 1.5× the classic layout at the 100×
        // slice at the equal-recall point — directed probes
        // concentrate into the dup clusters' sibling buckets, the one
        // place candidates are already irreducible. d06's measured
        // super-linearity is OUTPUT-bound on that corpus (true pairs
        // grow ~quadratically with replication — sampled-arm counts
        // 104k / 1.0M / 11.5M across the 10×/30×/100× slices — while
        // the wall grows SLOWER than the output), which no index
        // layout can derive away.
        derive(p.targetOccupancy.toDouble, 16)
      }
    val tables =
      if (p.tables > 0) p.tables
      else math.min(64, math.max(4,
        math.ceil(4.0 * math.pow(2.0, (bits - 6) / 2.0)).toInt))
    // probeBits = -1 derives the multiprobe width: full hamming-1
    // multiprobe (0) at EVERY corpus size. Query-directed probing
    // (probeBits > 0 — flip only the lowest-|margin| bits, Lv et al.
    // 2007) is available as an explicit knob but deliberately NOT
    // derived: on dup-clustered corpora the directed flips target
    // exactly the sibling buckets where the dup cluster already
    // lives, multiplying the hot buckets' candidate load — measured
    // same-session min-of-2 at the 100× slice, the directed 19-probe
    // bits-16 layout ran 1.5× slower than classic full multiprobe at
    // equal 0.950 recall, and every lower-occupancy directed point
    // traded recall too (0.918-0.940; SCALE.md's r10 d06
    // adjudication). On a corpus with a small dup fraction the knob
    // trades recall-per-probe efficiently; derive conservatively, let
    // the caller opt in.
    val (probeBits, probeBits2) =
      if (p.probeBits >= 0)
        // clamp a pinned width into the directed regime: probeBits ≥
        // bits would silently lose the directed path (the caller's
        // probeBits2 pair flips with it) to the classic fallback's
        // `probeBits < bits` guard — flipping all bits IS full
        // multiprobe, which is spelled probeBits = 0 (ADVICE r10)
        (math.min(p.probeBits, bits - 1), p.probeBits2)
      else (0, p.probeBits2)
    p.copy(tables = tables, bits = bits, dim = dim,
      probeBits = probeBits, probeBits2 = probeBits2)
  }

  /** (id, tbl, probe) probe rows for [[lshCosinePairs]]' candidate
    * join when the caller opts into query-directed probing
    * (`probeBits = m > 0`, Lv et al. 2007 "Multi-Probe LSH"): each
    * row's exact code, single flips of the m lowest-|margin| bits, and
    * pair flips of the `probeBits2` lowest — a true neighbor's code
    * differs from the row's almost surely in low-margin bits, so
    * directed probes buy more recall per probe row than undirected
    * flips. NOT the derived default: on dup-clustered corpora the
    * directed flips all land in the dup cluster's own sibling buckets
    * — the hot keys of the candidate join — and the probe-efficiency
    * win inverts into a 1.5× wall loss at equal recall (the r10
    * 100×-slice min-of-2 adjudication in SCALE.md; resolveLsh keeps
    * classic full multiprobe unless probeBits is pinned). */
  private def lshMarginProbed(n: DataFrame, idCol: String, vecCol: String,
      p: LshParams): DataFrame = {
    val m = p.probeBits
    val deep = math.min(p.probeBits2, m)
    // ONE kernel call per row computes every table's margins, code and
    // directed probes (planes ride along as plain data, zero expression
    // nodes) — the per-table expression formulation built a ~25k-node
    // tree whose generated method fell off the JIT and ran ~40µs per
    // row-table interpreted; see LshProbesAll
    val ppt = graft.functions.LshProbesAll.probesPerTable(p.bits, m, deep)
    n.select(col(idCol),
        posexplode(graft.functions.VectorExpressions.lshProbesAll(
          col(vecCol), flatPlanes(p), p.tables, p.bits, p.dim, m, deep))
          .as(Seq("pos", "probe")))
      .select(col(idCol), (col("pos") / ppt).cast("int").as("tbl"),
        col("probe"))
  }

  /** One bucket-code column per LSH table for `vecCol`. Requires
    * resolved params (`bits > 0`) — the public operators resolve the
    * derive-from-data sentinel before calling this. */
  def lshCodeExprs(vecCol: String, p: LshParams, dim: Int): Seq[Column] = {
    require(p.bits > 0 && p.tables > 0, "lshCodeExprs needs resolved " +
      "params: the bits = 0 / tables = 0 sentinels derive from the data " +
      "inside lshIndex/annLshTopK/lshCosinePairs")
    tablePlanes(p, dim).map(_.zipWithIndex
      .map { case (pl, j) =>
        when(dot(col(vecCol), expr(pl)) > 0, lit(1 << j)).otherwise(lit(0)) }
      .reduce(_ + _))
  }

  /** The resolved plane matrix as one flat FLOAT array, table-major —
    * the form [[graft.functions.LshProbesAll]] carries as plain data. */
  private def flatPlanes(p: LshParams): Array[Float] = {
    val values = tablePlaneValues(p, p.dim)
    val flat = new Array[Float](p.tables * p.bits * p.dim)
    var w = 0
    for (t <- 0 until p.tables; j <- 0 until p.bits; k <- 0 until p.dim) {
      flat(w) = values(t)(j)(k).toFloat; w += 1
    }
    flat
  }

  /** (id, tbl, code) inverted index over all tables — the probe kernel
    * with zero flip bits, one native pass per row. The per-table
    * expression formulation ([[lshCodeExprs]] under a posexplode) built
    * a tables × bits × dim node tree whose generated method fell off
    * the JIT at the derived 100×-scale layout and ran interpreted; the
    * kernel computes the identical codes (same FLOAT planes, same
    * double-accumulated fold, bit-for-bit) in one compiled loop. */
  def lshIndex(df: DataFrame, idCol: String, vecCol: String,
      p: LshParams = LshParams()): DataFrame = {
    val r = resolveLsh(df, vecCol, p)
    df.select(col(idCol),
      posexplode(graft.functions.VectorExpressions.lshProbesAll(
        col(vecCol), flatPlanes(r), r.tables, r.bits, r.dim, 0, 0))
        .as(Seq("tbl", "code")))
  }

  /** Approximate top-k via multi-table LSH with hamming-1 multiprobe:
    * narrow candidate equi-join on (table, code), exact-cosine rerank on
    * the short list only. `p` is the index tuning surface
    * ([[LshParams]]); the defaults reproduce the committed gate
    * behavior. */
  def annLshTopK(df: DataFrame, idCol: String, vecCol: String,
      queryPred: Column, k: Int, p0: LshParams = LshParams()): DataFrame = {
    val n = normalized(df, idCol, vecCol)
    val p = resolveLsh(df, vecCol, p0)
    val codes = lshIndex(n, idCol, vecCol, p)
    val probes =
      (if (p.probeHamming1)
        (0 until p.bits).map(i => col("code").bitwiseXOR(lit(1 << i)))
      else Seq.empty) :+ col("code")
    val qProbes = codes.filter(queryPred)
      .select(col(idCol).as("query_id"), col("tbl"),
        explode(array(probes: _*)).as("probe"))
    val cand = broadcast(qProbes).as("q")
      .join(codes.as("c"),
        col("q.tbl") === col("c.tbl") && col("q.probe") === col("c.code") &&
          col("q.query_id") =!= col(s"c.$idCol"))
      .select(col("q.query_id"), col(s"c.$idCol").as("neighbor_id"))
      .distinct()
    val qv = n.filter(queryPred)
      .select(col(idCol).as("query_id"), col(vecCol).as("qe"),
        col("nrm").as("qn"))
    val w = org.apache.spark.sql.expressions.Window.partitionBy("query_id")
      .orderBy(col("cos").desc, col("neighbor_id"))
    cand
      .join(broadcast(qv), "query_id")
      .join(n, col("neighbor_id") === n(idCol))
      .select(col("query_id"), col("neighbor_id"),
        (dot(col("qe"), col(vecCol)) / (col("qn") * col("nrm"))).as("cos"))
      .withColumn("rnk", row_number().over(w).cast("bigint"))
      .filter(col("rnk") <= k)
  }

  /** Approximate near-dup pairs: LSH candidates (any-table match with
    * hamming-1 multiprobe), exact cosine + threshold on candidates only
    * — no false positives, recall < 1 by construction. */
  def lshCosinePairs(df: DataFrame, idCol: String, vecCol: String,
      threshold: Double, p0: LshParams = LshParams()): DataFrame = {
    val n = normalized(df, idCol, vecCol)
    val p = resolveLsh(df, vecCol, p0)
    val codes = lshIndex(n, idCol, vecCol, p)
    val probed =
      if (p.probeHamming1 && p.probeBits > 0 && p.probeBits < p.bits)
        lshMarginProbed(n, idCol, vecCol, p)
      else {
        val probes =
          (if (p.probeHamming1)
            (0 until p.bits).map(i => col("code").bitwiseXOR(lit(1 << i)))
          else Seq.empty) :+ col("code")
        codes.select(col(idCol), col("tbl"),
          explode(array(probes: _*)).as("probe"))
      }
    val cand = probed.as("a")
      .join(codes.as("b"),
        col("a.tbl") === col("b.tbl") && col("a.probe") === col("b.code") &&
          col(s"a.$idCol") < col(s"b.$idCol"))
      .select(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .distinct()
    cand
      .join(n.as("x"), col("id_a") === col(s"x.$idCol"))
      .join(n.as("y"), col("id_b") === col(s"y.$idCol"))
      .select(col("id_a"), col("id_b"),
        (dot(col(s"x.$vecCol"), col(s"y.$vecCol")) /
          (col("x.nrm") * col("y.nrm"))).as("cos"))
      .filter(col("cos") >= threshold)
  }

  // ---------------------------------------------------------- clustering

  /** Element-wise mean centroid per `list_id`: explode to (list, dim,
    * value), ONE aggregation (map-side partial), re-assemble the array.
    * The shuffle carries (list, dim, partial-sum) — never the vectors. */
  private def meanCentroids(assigned: DataFrame, vecCol: String): DataFrame =
    assigned
      .select(col("list_id"), posexplode(col(vecCol)).as(Seq("pos", "v")))
      .groupBy("list_id", "pos").agg(avg("v").as("m"))
      .groupBy("list_id")
      .agg(array_sort(collect_list(struct(col("pos"), col("m")))).as("pm"))
      .select(col("list_id"),
        expr("transform(pm, x -> CAST(x.m AS FLOAT))").as("centroid"))

  /** Assign every vector to its max-cosine centroid through the native
    * [[graft.functions.CentroidTopNF32]] kernel: the centroid table
    * (nlist rows, bounded by deriveNlist's 4√n cap) is collected once
    * on the driver ([[freezeCents]] — ONE job, so this is eager) and
    * rides the plan as kernel constructor data, and each vector takes
    * its argmax in one compiled loop — purely map-side: no explode to
    * n×nlist rows, no aggregate, no shuffle, no sort (a ranking window
    * here paid a shuffle + sort per Lloyd round inside
    * [[kmeansCentroids]]). Ties go to the lower list_id. A NaN cosine
    * (zero-norm vector) WINS (`nanWins = true`), so a zero vector lands
    * deterministically on the lowest list_id instead of raising
    * DIVIDE_BY_ZERO under ANSI. An empty centroid table gives zero rows
    * with the same schema. */
  def assignToCentroids(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, carry: Seq[String] = Nil): DataFrame =
    assignFrozen(df, idCol, vecCol, freezeCents(centroids), carry)

  /** Multi-probe assignment: each vector joins its `probes` nearest
    * centroids (cos desc, list asc tie-break) instead of only the
    * argmax. Map-only like [[assignToCentroids]] — the per-vector
    * centroid ranking is [[probeTopN]]'s kernel call inside the row, no
    * window, no shuffle — at the cost of a ≤`probes`× row amplification
    * downstream. A NaN cosine LOSES. This is the
    * spill-tree/overlapping-clusters recall fix for cluster-blocked
    * operations: near-dups sitting just across a cluster boundary share
    * a probe with high probability. */
  def assignToCentroidsTopN(df: DataFrame, idCol: String, vecCol: String,
      centroids: DataFrame, probes: Int): DataFrame = {
    require(probes > 0, s"assignToCentroidsTopN(probes=$probes)")
    probeTopN(normalized(df, idCol, vecCol), vecCol, Some("nrm"),
        centroids, probes)
      .select(col(idCol), col(vecCol), col("list_id"))
  }

  /** QUERY-side probe selection shared by the IVF family ([[ivfPqTopK]]
    * step 4 and the s03/s04/p16 probe core in `graft.ops.Vector`):
    * append each row's `nProbe` best centroid lists as an exploded
    * `list_id` INT column (score desc, list_id asc on ties), keeping
    * every other column of `q`. The score is the cosine
    * dotF32(vec, centroid) / (nrm · cnrm) when `nrmCol` is given, and
    * the raw double-accumulated dot product when it is None — the
    * probe-ordering convention of the s03/s04/p16 core (the per-query
    * norm is constant within a query and cannot change its own probe
    * ranking, so that core never divides).
    *
    * One [[graft.functions.CentroidTopNF32]] call per row against the
    * collected centroid table (one bounded job at call time): map-only,
    * no window, no join. A real retrieval or SemDeDup batch probes
    * 10⁴–10⁶ queries against a 4√n-capped nlist (~126k lists at 10⁹
    * vectors) — the n·nlist product an interpreted per-row lambda
    * would pay was measured at 604 s on the corpus assignment side.
    * A NaN score loses (`nanWins = false`). An empty centroid table
    * gives zero probe rows with the same schema. */
  private[graft] def probeTopN(q: DataFrame, vecCol: String,
      nrmCol: Option[String], centroids: DataFrame,
      nProbe: Int): DataFrame = {
    require(nProbe > 0, s"probeTopN(nProbe=$nProbe)")
    val fc = freezeCents(centroids)
    val keep = q.columns.toSeq.map(col)
    if (fc.isEmpty) noLists(q, keep)
    else q.select(keep :+ explode(fc.topN(col(vecCol),
      nrmCol.map(col(_).cast("double")), nProbe, nanWins = false))
      .as("list_id"): _*)
  }

  /** Zero rows of `keep` plus an INT `list_id` — every assignment's
    * answer to an empty centroid table. */
  private def noLists(df: DataFrame, keep: Seq[Column]): DataFrame =
    df.filter(lit(false)).select(keep :+ lit(0).as("list_id"): _*)

  /** Distributed Lloyd refinement for an IVF coarse quantizer:
    * deterministic FORGY init — each initial centroid is a REAL data
    * point (the min-id vector of its `id % nlist` bucket) — then
    * `iters` rounds of assign-to-nearest + element-wise mean. Init
    * from points, not bucket MEANS: the modulo buckets mix the data's
    * natural clusters, so every bucket-mean initial centroid sits near
    * the GLOBAL mean and two Lloyd rounds strand most centroids dead
    * (measured on the 1M/1000-cluster margin slice: mean-init trained
    * 999 lists of which only 277 ended nonempty — 3.6× the intended
    * occupancy crowded into the survivors; point-init covers the
    * clusters because every initial centroid already sits inside one).
    * The CORPUS never visits the driver, so the shape holds at any
    * scale. Each round's assignment ([[assignToCentroids]]) collects
    * the bounded nlist-row centroid table for the native argmax kernel
    * — ≤ 4√n rows by the deriveNlist discipline, the Faiss-style
    * build-time driver cost — which also keeps each round's plan flat:
    * the collected values replace the nested centroid subplan, so
    * round i+1 never re-executes round i. This is therefore NOT lazy:
    * the Lloyd jobs (one nlist-row collect per round) run at DataFrame
    * construction, and upstream errors surface at call time.
    * Returns (list_id, centroid). */
  def kmeansCentroids(df: DataFrame, idCol: String, vecCol: String,
      nlist: Int, iters: Int): DataFrame = {
    require(nlist > 0 && iters >= 0, s"kmeansCentroids($nlist, $iters)")
    // seeds keyed AND ordered by hash(id): modulo-bucketing by raw id
    // would draw all seeds from an id PREFIX whenever ids correlate
    // with position (the hot-cluster spec fixture: ids 0..99 are one
    // cluster — every id-ordered seed landed inside it)
    var cents = df
      .groupBy(pmod(hash(col(idCol)), lit(nlist)).as("list_id"))
      .agg(min_by(col(vecCol), hash(col(idCol))).as("centroid"))
    (0 until iters).foreach { _ =>
      cents = meanCentroids(
        assignToCentroids(df, idCol, vecCol, cents)
          .select(col("list_id"), col(vecCol)), vecCol)
    }
    cents
  }

  /** Eagerly materialize one iteration's result with a truncated plan.
    * When the session has a checkpoint dir configured
    * (`sparkContext.setCheckpointDir` — every long-lived cluster
    * deployment should), this is a RELIABLE checkpoint: blocks live in
    * the checkpoint filesystem and survive executor loss, so a
    * 1000-executor clustering run doesn't restart from nothing when one
    * executor dies mid-round. Without one it falls back to
    * `localCheckpoint` (executor-resident blocks — fine for local/test
    * runs, where the only executor dying means the job is gone anyway).
    * Note the reliable path recomputes the plan once to write the
    * checkpoint files, so accumulators populated during materialization
    * may double-count — callers must treat accumulator values as
    * over-counts (both clustering loops do). */
  private def iterCheckpoint(df: DataFrame): DataFrame =
    if (df.sparkSession.sparkContext.getCheckpointDir.isDefined)
      df.checkpoint(eager = true)
    else df.localCheckpoint(eager = true)

  /** Duplicate-cluster ids by connected components over a pair list:
    * every node gets `cluster_id` = the minimum node id reachable through
    * `pairs` (undirected); singletons keep their own id. This is the step
    * that turns near-dup PAIRS (from [[minhashLshPairs]],
    * [[ngramJaccardPairs]], [[lshCosinePairs]]…) into keep-one-per-group
    * decisions.
    *
    * Algorithm: distributed min-label propagation — each round is one
    * equi-join of the current labels with the (symmetrized) edge list
    * plus a min-aggregation, all hash-partitioned by node id; the driver
    * only ever sees a "did any label decrease" accumulator (populated
    * while the round's labels materialize — ONE Spark job per round),
    * never the data. Rounds needed = the graph diameter, and dup clusters are
    * near-cliques (diameter 1-2 — LSH emits most intra-cluster pairs), so
    * the loop converges in 2-3 rounds at any corpus size. For adversarial
    * high-diameter graphs (long chains) the two-phase large-star/
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond") drops rounds to O(log d); not needed for dup
    * graphs.
    *
    * Every round materializes its labels with [[iterCheckpoint]] — this
    * TRUNCATES the logical plan, which is what makes iteration viable:
    * under plain `cache()` the analyzer re-walks a plan that nests one
    * union+aggregate+join deeper per round (measured minutes for a
    * 10-round chain on a 10-row graph), and the upstream pair
    * computation (an LSH join) would be re-planned every round too.
    * Set a checkpoint dir (`sparkContext.setCheckpointDir`) to make the
    * per-round materialization executor-loss-proof; the algorithm is
    * unchanged. */
  def dupClusters(nodes: DataFrame, idCol: String, pairs: DataFrame,
      aCol: String, bCol: String, maxIters: Int = 50,
      onRounds: Int => Unit = _ => ()): DataFrame = {
    requireNumericId(nodes, idCol, "dupClusters")
    val sym = iterCheckpoint(pairs // pair generation runs ONCE, not per round
      .select(col(aCol).cast("long").as("src"), col(bCol).cast("long").as("dst"))
      .union(pairs
        .select(col(bCol).cast("long").as("src"), col(aCol).cast("long").as("dst")))
      .distinct())
    var labels = iterCheckpoint(nodes
      .select(col(idCol).cast("long").as("id"), col(idCol).cast("long").as("lab")))
    var converged = false
    var it = 0
    while (!converged && it < maxIters) {
      val prop = labels.join(sym, col("id") === col("src"))
        .select(col("dst").as("id"), col("lab"), lit(false).as("self"))
      // One Spark job per round, not two: the old-label row rides the
      // same aggregation tagged `self` (each id has exactly ONE self
      // row, so min-over-self recovers it), and convergence is counted
      // DURING the checkpoint materialization — the separate
      // join+count job doubled per-round driver latency and was d07's
      // main scheduler-jitter amplifier (round-4 verdict). Since r16
      // the count rides a declarative `observe` (CollectMetrics) on
      // the materialized frame instead of an accumulator fed by an
      // rdd.map pass: the round stays whole-stage-codegen end to end
      // (no DeserializeToObject/SerializeFromObject row conversion on
      // the full-corpus pass), and the observed value is EXACT under
      // task retries — no over-count, no spurious extra round.
      // Labels only ever decrease, so "no decrease" == fixpoint.
      val merged = labels.select(col("id"), col("lab"), lit(true).as("self"))
        .union(prop)
        .groupBy("id").agg(min("lab").as("lab"),
          // ids appearing only in pairs have no self row: treat as
          // unchanged (the old join-based check never counted them)
          coalesce(min(when(col("self"), col("lab"))), min("lab"))
            .as("old_lab"))
      val obs = new org.apache.spark.sql.Observation
      labels = iterCheckpoint(merged
        .observe(obs, coalesce(
          sum(when(col("lab") < col("old_lab"), 1L).otherwise(0L)),
          lit(0L)).as("decreases"))
        .select(col("id"), col("lab")))
      converged = obs.get("decreases").asInstanceOf[Long] == 0L
      it += 1
    }
    // Rounds-to-convergence diagnostic (includes the fixpoint-confirming
    // round): SCALE.md's "r16: the cluster-propagation decade" reads it —
    // round count is the term that would bend this loop super-linear on
    // high-diameter graphs, so the growth record tracks it explicitly.
    onRounds(it)
    labels.select(col("id").as(idCol), col("lab").as("cluster_id"))
  }

  /** [[dupClusters]]' O(log d) counterpart: two-phase large-star /
    * small-star contraction (Kiveris et al., "Connected Components in
    * MapReduce and Beyond"). Label propagation needs one round per hop
    * of graph diameter — fine for near-clique dup clusters, quadratic
    * pain on chain-shaped graphs (mention graphs, link graphs). Each
    * contraction round here HALVES long paths:
    *
    *  - large-star: every node's strictly-larger neighbors re-attach to
    *    the minimum of its neighborhood (incl. itself);
    *  - small-star: on hi→lo oriented edges, every node's smaller
    *    neighbors (and the node) re-attach to the neighborhood minimum.
    *
    * Both phases are one groupBy(min) + one equi-join, hash-partitioned
    * by node — same per-round shuffle discipline as propagation, just
    * O(log d) rounds instead of O(d). At the fixpoint the edge set is a
    * star per component centered on its minimum, so the labeling is a
    * single left join. Same contract as [[dupClusters]]: every node
    * labeled with its component's min id, singletons label themselves
    * (equivalence on random graphs asserted in ApiSpec). */
  def dupClustersLargeStar(nodes: DataFrame, idCol: String,
      pairs: DataFrame, aCol: String, bCol: String,
      maxIters: Int = 50, onRounds: Int => Unit = _ => ()): DataFrame = {
    requireNumericId(nodes, idCol, "dupClustersLargeStar")
    def canon(e: DataFrame): DataFrame = e
      .select(greatest(col("u"), col("v")).as("hi"),
        least(col("u"), col("v")).as("lo"))
      .filter(col("hi") =!= col("lo"))
      .distinct()
    // Edge count observed on every materialization (declarative
    // CollectMetrics riding the checkpoint job — the r16 observe
    // discipline, see [[dupClusters]]): the convergence test below
    // compares round-over-round sizes without ever paying a separate
    // count() job.
    def observedCheckpoint(df: DataFrame): (DataFrame, Long) = {
      val obs = new org.apache.spark.sql.Observation
      val out = iterCheckpoint(
        df.observe(obs, count(lit(1)).as("n")))
      (out, obs.get("n").asInstanceOf[Long])
    }
    var (edges, edgeCount) = observedCheckpoint(canon(pairs
      .select(col(aCol).cast("long").as("u"), col(bCol).cast("long").as("v"))))
    var it = 0
    var converged = edgeCount == 0L
    while (!converged && it < maxIters) {
      // large-star over the symmetric adjacency. Since r17 each round
      // materializes ONCE (the round-end checkpoint), not twice: the
      // large-star output flows into small-star as a plain
      // `repartition(hi)` exchange that BOTH small-star consumers
      // (min-agg on hi, re-attach join on hi) sit directly on top of,
      // so ReuseExchange executes the large phase once and reads the
      // one shuffle twice (guide §2.4 — two operations keyed the same
      // way share one exchange; the r16 shape checkpointed `large`
      // because the groupBy's partial-aggregate sat BELOW its
      // exchange, which defeated reuse). Dedup of the large output is
      // DEFERRED to smallCand's canon: min-per-hi and the re-attach
      // are duplicate-insensitive, and the canon distinct collapses
      // them before anything is counted, so every round's edge SET —
      // and therefore the observed convergence counts and the final
      // labeling — is identical to the two-checkpoint shape.
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .union(edges.select(col("lo").as("u"), col("hi").as("v")))
      val mins = sym.groupBy("u").agg(min("v").as("mn"))
        .select(col("u"), least(col("u"), col("mn")).as("m"))
      // the large-star edges arrive already hi->lo oriented and
      // loop-free: m <= u < v on every emitted row
      val large = sym.join(mins, "u")
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo"))
        .repartition(col("hi"))
      // small-star on the hi->lo orientation
      val mins2 = large.groupBy("hi").agg(min("lo").as("m"))
      val smallCand = canon(large.join(mins2, "hi")
        .select(col("lo").as("u"), col("m").as("v"))
        .union(mins2.select(col("hi").as("u"), col("m").as("v"))))
      // Fixpoint = edge set unchanged. Tag each candidate edge with
      // whether it already existed; new-edge and total counts ride the
      // SAME materialization as exact observe metrics (r16 — the old
      // shape fed an accumulator through an rdd.map row-conversion
      // pass, then paid two extra count() jobs on candidate rounds
      // because accumulators over-count under retries; CollectMetrics
      // is exact, so newCount == 0 plus total == previous round's
      // observed total decides convergence with ZERO extra jobs and
      // the round stays whole-stage codegen).
      val obs = new org.apache.spark.sql.Observation
      val small = iterCheckpoint(smallCand.join(
          edges.select(col("hi"), col("lo"), lit(true).as("was")),
          Seq("hi", "lo"), "left")
        .observe(obs,
          coalesce(sum(when(col("was").isNull, 1L).otherwise(0L)),
            lit(0L)).as("new_edges"),
          count(lit(1)).as("n"))
        .select(col("hi"), col("lo")))
      val newCount = obs.get("new_edges").asInstanceOf[Long]
      val smallCount = obs.get("n").asInstanceOf[Long]
      converged = newCount == 0L && smallCount == edgeCount
      edges = small
      edgeCount = smallCount
      it += 1
    }
    onRounds(it) // same diagnostic contract as [[dupClusters]]
    val labels = edges.select(col("hi").as("id"), col("lo").as("cl"))
    nodes.select(col(idCol).cast("long").as("id"))
      .join(labels, Seq("id"), "left")
      .select(col("id").as(idCol),
        coalesce(col("cl"), col("id")).as("cluster_id"))
  }

  // ---------------------------------------------------------- multimodal

  /** Binary-payload metadata pass (size + digest): the cheap first scan
    * of any media pipeline — codegen'd, no decode. */
  def mediaMeta(df: DataFrame, idCol: String, payloadCol: String): DataFrame =
    df.select(col(idCol),
      length(col(payloadCol)).cast("bigint").as("nbytes"),
      md5(col(payloadCol)).as("digest"))

  /** Chunk-level duplication across binary payloads — t17's passage
    * signal applied to the byte domain (content-defined-storage /
    * CDC-style dedup): each payload splits into tumbling `chunkBytes`
    * chunks (trailing partial chunk included), each chunk is md5-keyed,
    * and a chunk counts as duplicated when its exact bytes occur more
    * than once corpus-wide. Per file: chunk count, duplicated-chunk
    * count, duplicated fraction — the signal a media pipeline uses to
    * find re-encoded copies, shared intros/watermarks, and storage
    * dedup opportunities without decoding anything.
    *
    * Scale shape: chunking is a per-row HOF emitting DIGESTS (the
    * payload bytes never leave the scan); the occurrence count and the
    * join back both move fixed-width digest rows only, map-side
    * combined. Empty payloads yield no chunks and drop out. */
  def chunkDedupStats(df: DataFrame, idCol: String, payloadCol: String,
      chunkBytes: Int = 16): DataFrame = {
    require(chunkBytes > 0, s"chunkDedupStats($chunkBytes)")
    // Deliberately the md5-inside-the-lambda shape: the r11 HOF sweep
    // A/B'd the explode-positions-then-md5 rewrite (the t17/t22 move)
    // and it measured ~15% SLOWER here — the exploded rows carry the
    // payload once per chunk (a 64x byte amplification at 16-byte
    // chunks), which costs more than the interpreted-lambda overhead
    // saved, because md5 dominates per-chunk work (unlike the
    // cheap-per-element word n-grams). Digests-only explode wins.
    val chunks = df.select(col(idCol), col(payloadCol).as("p"))
      .filter(length(col("p")) >= 1)
      .select(col(idCol), explode(expr(
        s"transform(sequence(0, CAST((length(p) + $chunkBytes - 1) " +
          s"DIV $chunkBytes AS INT) - 1), " +
          s"i -> md5(substring(p, i * $chunkBytes + 1, $chunkBytes)))"))
        .as("ch"))
    val occ = chunks.groupBy("ch").agg(count(lit(1)).as("occ"))
    chunks.join(occ, "ch")
      .groupBy(idCol)
      .agg(count(lit(1)).as("n_chunks"),
        sum(when(col("occ") > 1, 1L).otherwise(0L)).as("n_dup_chunks"))
      .select(col(idCol), col("n_chunks"), col("n_dup_chunks"),
        round(col("n_dup_chunks").cast("double") / col("n_chunks"), 4)
          .as("dup_frac"))
  }

  /** Frame sampling as a relational op: fixed-size frames from the
    * opaque payload, every `every`-th kept, one digest row per sampled
    * frame. Partition-local explode — the expansion never shuffles. */
  def frameSample(df: DataFrame, idCol: String, payloadCol: String,
      frameBytes: Int = 16, every: Int = 4): DataFrame =
    df.select(col(idCol), col(payloadCol).as("payload"),
      expr(s"CAST(length($payloadCol) DIV $frameBytes AS INT)").as("nf"))
      .filter(col("nf") >= 1)
      .select(col(idCol),
        explode(expr(s"sequence(0, nf-1, $every)")).as("f"), col("payload"))
      .select(col(idCol), col("f").cast("bigint").as("frame_idx"),
        md5(expr(s"substring(payload, f*$frameBytes+1, $frameBytes)"))
          .as("frame_digest"))

  /** Scene-cut detection over the frame stream — the TEMPORAL structure
    * pass the per-frame ops (frame digests, energies) don't see: a
    * "cut" is a frame whose mean byte value jumps more than `threshold`
    * from the previous frame, the byte-level analogue of histogram-
    * difference shot detection (the pass a video pipeline runs to
    * sample training frames at scene boundaries instead of uniformly).
    * One summary row per document: (id, n_frames, n_cuts, max_delta).
    *
    * Exactness: frame means are SUM(16 bytes)/16.0 — integer sums and a
    * dyadic divisor, so every mean, delta, and comparison is exact in
    * doubles and DuckDB reproduces them bit-for-bit. Pick thresholds
    * off the 1/16 grid (e.g. 8.03125) so `>` can never tie.
    *
    * Scale shape: the per-frame mean is a partition-local explode +
    * fold (map-only); the lag is ONE window partitioned by document —
    * the same single hash-shuffle any per-asset sessionization pays.
    * Frame COUNT per document is bounded by payload size, so window
    * partitions stay asset-sized, never corpus-sized. */
  def frameSceneCuts(df: DataFrame, idCol: String, payloadCol: String,
      frameBytes: Int = 16, threshold: Double = 8.03125): DataFrame = {
    require(frameBytes > 0, s"frameSceneCuts($frameBytes)")
    // One native pass computes every frame mean (codegen'd
    // [[graft.functions.FrameMeans]] — the hex/conv formulation
    // allocated a string per BYTE); the posexplode is partition-local.
    val base = df.select(col(idCol),
      graft.functions.MediaExpressions
        .frameMeans(col(payloadCol), frameBytes).as("mvs"))
      .withColumn("nf", size(col("mvs")).cast("bigint"))
    val means = base.filter(col("nf") >= 1)
      .select(col(idCol), col("nf"),
        posexplode(col("mvs")).as(Seq("f", "mv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("f")
    val deltas = means
      .withColumn("delta", abs(col("mv") - lag("mv", 1).over(w)))
    val agg = deltas.groupBy(idCol)
      .agg(max(col("nf")).as("n_frames"),
        sum(when(col("delta") > threshold, 1L).otherwise(0L))
          .as("n_cuts"),
        round(coalesce(max(col("delta")), lit(0.0)), 4).as("max_delta"))
    df.select(col(idCol))
      .join(agg, Seq(idCol), "left")
      .select(col(idCol),
        coalesce(col("n_frames"), lit(0L)).as("n_frames"),
        coalesce(col("n_cuts"), lit(0L)).as("n_cuts"),
        coalesce(col("max_delta"), lit(0.0)).as("max_delta"))
  }

  /** Keyframe SELECTION over the frame stream — the step after
    * [[frameSceneCuts]] in a video curation pipeline: instead of
    * sampling frames uniformly, keep frame 0 plus the first frame of
    * every detected shot (the frame whose mean jumps past the cut
    * threshold), which is how VLM training data samples one
    * representative frame per scene. One row per kept frame:
    * (id, kf, mv) — frame index and its exact mean.
    *
    * Exactness and scale shape are [[frameSceneCuts]]'s verbatim: frame
    * means are dyadic-exact (native one-pass [[graft.functions.FrameMeans]]
    * kernel), the lag is the same ONE asset-partitioned window, and the
    * selection is a filter over it — no extra shuffle, no new pass. */
  def keyframeSelect(df: DataFrame, idCol: String, payloadCol: String,
      frameBytes: Int = 16, threshold: Double = 8.03125): DataFrame = {
    require(frameBytes > 0, s"keyframeSelect($frameBytes)")
    val means = df.select(col(idCol),
      graft.functions.MediaExpressions
        .frameMeans(col(payloadCol), frameBytes).as("mvs"))
      .filter(size(col("mvs")) >= 1)
      .select(col(idCol), posexplode(col("mvs")).as(Seq("f", "mv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy("f")
    means
      .withColumn("delta", abs(col("mv") - lag("mv", 1).over(w)))
      .filter(col("f") === 0 || col("delta") > threshold)
      .select(col(idCol), col("f").cast("bigint").as("kf"),
        round(col("mv"), 4).as("mv"))
  }

  /** Audio-frame energy over a PCM16LE binary payload: non-overlapping
    * windows of `windowSamples` 16-bit little-endian samples, one row per
    * COMPLETE window with the sum of absolute sample values — the
    * voice-activity/loudness pass of an audio pipeline, computed honestly
    * (no codec needed; PCM is just integers). One pass per row via the
    * native codegen [[graft.functions.Pcm16WindowEnergy]], which emits
    * one struct per window; the explode is partition-local and the
    * operator is map-only — ZERO shuffle (the earlier hex-parse
    * formulation exploded a row per SAMPLE — 2 input bytes — and
    * hash-aggregated them back into windows). */
  def pcm16WindowEnergy(df: DataFrame, idCol: String, payloadCol: String,
      windowSamples: Int = 16): DataFrame = {
    require(windowSamples > 0, s"pcm16WindowEnergy($windowSamples)")
    df.select(col(idCol),
      explode(graft.functions.MediaExpressions.pcm16WindowEnergy(
        col(payloadCol), windowSamples, channels = 1)).as("w"))
      .select(col(idCol), col("w.win_idx").as("win_idx"),
        col("w.energy").as("energy"))
  }

  /** VAD-style silence segmentation over [[pcm16WindowEnergy]]'s
    * window stream: maximal runs of consecutive windows whose energy
    * falls below `thresholdNum/thresholdDen` of the asset's own mean
    * window energy — the data-adaptive silence criterion an audio
    * pipeline uses to trim lead-in/lead-out and split long recordings
    * before transcription. The comparison is an exact integer
    * cross-product (`den * energy * nwin < num * total`), so DuckDB
    * reproduces every island bit for bit; runs shorter than
    * `minWindows` are dropped (isolated quiet windows are not
    * silence). Plan: the native one-pass energy kernel explodes
    * map-side, then ONE hash shuffle on the asset id feeds the
    * per-asset total, the run-length islands (win_idx − row_number,
    * the standard gaps-and-islands identity) and the per-run
    * aggregation — partitions stay asset-sized at any corpus scale. */
  def silenceSegments(df: DataFrame, idCol: String, payloadCol: String,
      windowSamples: Int = 16, thresholdNum: Int = 4,
      thresholdDen: Int = 5, minWindows: Int = 2): DataFrame = {
    require(thresholdNum > 0 && thresholdDen > 0 && minWindows >= 1,
      s"silenceSegments($thresholdNum/$thresholdDen, $minWindows)")
    val en = pcm16WindowEnergy(df, idCol, payloadCol, windowSamples)
    val byDoc = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
    val byWin = org.apache.spark.sql.expressions.Window.partitionBy(idCol)
      .orderBy("win_idx")
    en
      .withColumn("total", sum(col("energy")).over(byDoc))
      .withColumn("nwin", count(lit(1)).over(byDoc))
      .filter(col("energy") * lit(thresholdDen.toLong) * col("nwin") <
        lit(thresholdNum.toLong) * col("total"))
      .withColumn("grp", col("win_idx") - row_number().over(byWin))
      .groupBy(col(idCol), col("grp"))
      .agg(min(col("win_idx")).as("seg_start"),
        max(col("win_idx")).as("seg_end"),
        count(lit(1)).as("n_wins"))
      .filter(col("n_wins") >= minWindows)
      .select(col(idCol), col("seg_start"), col("seg_end"), col("n_wins"))
  }

  /** Shannon byte entropy (bits/byte) of a binary payload, plus size and
    * distinct-byte count: the standard corrupt-vs-compressed-vs-text
    * screen for opaque media columns (UTF-8 text sits ~4-5 bits/byte,
    * compressed/encrypted media ~8, zero-padded corruption near 0) —
    * no decode needed, so it runs ahead of any codec. One histogram
    * pass per row via the native codegen
    * [[graft.functions.ByteEntropyStats]]: map-only, ZERO shuffle
    * (the earlier explode-per-byte + double-aggregation formulation
    * materialized a row per input byte — 10^14 rows at 100 TB — before
    * the first combine). */
  def byteEntropy(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    df.filter(length(col(payloadCol)) >= 1)
      .select(col(idCol),
        graft.functions.TextExpressions.byteEntropyStats(col(payloadCol))
          .as("st"))
      .select(col(idCol),
        col("st.nbytes").as("nbytes"),
        col("st.n_distinct").as("n_distinct"),
        // -0.0 guard: a one-byte-alphabet payload sums to -0.0 exactly
        round(col("st.entropy") + lit(0.0), 4).as("entropy"))

  /** 60-bit byte-level average-hash per row (perceptual-hash
    * construction over raw bytes — see [[graft.functions.AHash60]]):
    * the content fingerprint a media pipeline computes ahead of any
    * decode, stable under small byte-level perturbations (re-encodes,
    * metadata patches) where exact digests flip. Map-only, zero
    * shuffle. */
  def mediaAHash(df: DataFrame, idCol: String,
      payloadCol: String): DataFrame =
    df.select(col(idCol),
      graft.functions.MediaExpressions.ahash60(col(payloadCol))
        .as("ahash"))

  /** Near-duplicate payload pairs by aHash hamming distance: pairs of
    * rows whose [[mediaAHash]] values differ in at most `radius` of the
    * 60 bits, found by exact pigeonhole banding ([[hammingPairs]] — the
    * d03 SimHash discipline applied to media bytes). The 60-bit hash
    * bands by an even split, so every radius below 60 is supported.
    *
    * `words = 0` (the default) DERIVES the signature width from the
    * corpus count ([[deriveHammingWords]] — one count job, the
    * resolveLsh/deriveNlist convention): 60-bit below the
    * random-collision crossover (~262 k items at radius 3, where the
    * narrow hash's smaller banded rows win — every committed fixture),
    * the wide [[ahashWideNearDupPairs]] above it (where the 60-bit
    * op's bands·n²/2^15 random collisions would dominate the shuffle —
    * SCALE.md's measured m11-vs-m13 story). Pin `words` to force a
    * width (1 = always 60-bit, the pre-derivation behavior). */
  def ahashNearDupPairs(df: DataFrame, idCol: String, payloadCol: String,
      radius: Int = 3, words: Int = 0): DataFrame = {
    require(radius >= 0 && radius < graft.functions.AHash60.Bits,
      s"ahashNearDupPairs($radius)")
    require(words == 0 || words == 1 || words == 2 || words == 4,
      s"ahashNearDupPairs(words=$words)")
    val w =
      if (words > 0) words
      else deriveHammingWords(df.count(), radius)
    if (w > 1) ahashWideNearDupPairs(df, idCol, payloadCol, radius, w)
    else hammingPairs(mediaAHash(df, idCol, payloadCol), idCol,
      Seq("ahash"), radius, "ahashNearDupPairs")
  }

  /** 60-bit term-frequency SimHash signature per row (id, sim): every
    * word occurrence votes +/-1 on all 60 bits of its hash (md5
    * truncated to 15 hex chars — portable, so the DuckDB oracle
    * replays it bit for bit) and the sign vector packs into one
    * signed-BIGINT-safe signature. One partial-sum aggregation pass —
    * the d03 construction, promoted from the gate binding to the
    * public API so [[simhashNearDupPairs]] can route between widths. */
  def simhashSignatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    simhashWords(df, idCol, textCol, Seq("sim"))

  /** Near-duplicate text pairs by SimHash hamming distance — the
    * width-derived front door over the 60-bit ([[simhashSignatures]])
    * and 120-bit ([[simhashWideNearDupPairs]]) constructions: exact
    * pigeonhole banding ([[hammingPairs]]) either way, (id_a, id_b,
    * dist) out.
    *
    * `words = 0` (the default) DERIVES the signature width from the
    * corpus count ([[deriveHammingWords]] with collision budget 8 —
    * text band values skew hot sooner than media hashes, so the
    * measured d03-vs-d19 crossover sits a decade earlier than
    * m11-vs-m13: the wide signature wins from ~150 k docs on, i.e.
    * 60-bit up to n = 8·2¹⁵/4 = 65 536 docs, 120-bit past it). Every
    * committed fixture resolves to words = 1 — d03's exact pair set.
    * Pin `words` to force a width. The 60-bit path bands by an even
    * split, so any radius < 60 is supported there; the wide
    * path's word-aligned radii are documented at
    * [[simhashWideNearDupPairs]]. */
  def simhashNearDupPairs(df: DataFrame, idCol: String, textCol: String,
      radius: Int = 3, words: Int = 0): DataFrame = {
    require(radius >= 0 && radius < 60,
      s"simhashNearDupPairs($radius)")
    require(words == 0 || words == 1 || words == 2,
      s"simhashNearDupPairs(words=$words)")
    val w =
      if (words > 0) words
      else deriveHammingWords(df.count(), radius,
        collisionsPerItem = 8.0, maxWords = 2)
    if (w > 1) simhashWideNearDupPairs(df, idCol, textCol, radius)
    else hammingPairs(simhashSignatures(df, idCol, textCol), idCol,
      Seq("sim"), radius, "simhashNearDupPairs")
  }

  /** 120-bit term-frequency SimHash signature per row, as two 60-bit
    * words from DISJOINT md5 slices of each word's hash (chars 1-15
    * and 16-30): every word occurrence votes +/-1 on all 120 bits and
    * the sign vector packs into (sim0, sim1). The extra 60 bits over
    * d03's signature exist for band WIDTH under pigeonhole banding —
    * see [[simhashWideNearDupPairs]]. One partial-sum aggregation
    * pass; the md5 slices keep the whole construction bit-exact
    * cross-engine. */
  def simhashWideSignatures(df: DataFrame, idCol: String,
      textCol: String): DataFrame =
    simhashWords(df, idCol, textCol, Seq("sim0", "sim1"))

  /** The one SimHash builder: signature word k (named `names(k)`) takes
    * its 60 votes from md5 chars 15k+1 .. 15k+15 of each word's hash,
    * so one name is d03's signature and two are d19's. */
  private def simhashWords(df: DataFrame, idCol: String, textCol: String,
      names: Seq[String]): DataFrame = {
    val hashes = names.indices.map(k =>
      graft.functions.TextExpressions
        .hexSliceLong(md5(col("word")), 1 + 15 * k, 15).as(s"h$k"))
    val words = df
      .select(col(idCol), explode(split(col(textCol), " ")).as("word"))
      .select(col(idCol) +: hashes: _*)
    val bitSums = for (k <- names.indices; i <- 0 until 60) yield
      sum(when(shiftright(col(s"h$k"), i).bitwiseAND(lit(1L)) === 1L, 1)
        .otherwise(-1)).as(s"b${60 * k + i}")
    val packed = names.indices.map(k => (0 until 60).map(i =>
      when(col(s"b${60 * k + i}") > 0, lit(1L << i)).otherwise(lit(0L)))
      .reduce(_ + _).as(names(k)))
    words.groupBy(idCol)
      .agg(bitSums.head, bitSums.tail: _*)
      .select(col(idCol) +: packed: _*)
  }

  /** Near-duplicate text pairs by hamming distance over the 120-bit
    * wide SimHash — d03's exact pigeonhole banding with the band-width
    * lever pulled (the text twin of [[ahashWideNearDupPairs]]): at
    * radius 3 the four disjoint bands are 30 bits wide (2^30 buckets
    * vs 60 bits' 2^15), so random band agreement vanishes and the
    * candidate class bends from occupancy-quadratic to ~linear while
    * the banding stays EXACT — any pair within the radius must agree
    * on >= 1 band. Bands are word-aligned ([[hammingBandLayout]]), so
    * the supported radii are 0 (a full-signature equality join) and
    * those where radius+1 bands of width 120/(radius+1) fit whole
    * inside a word: radius ∈ {1, 3, 5, 7, 9, 11, 19, 23, 29, 39, 59,
    * 119}. */
  def simhashWideNearDupPairs(df: DataFrame, idCol: String,
      textCol: String, radius: Int = 3): DataFrame = {
    require(radius >= 0 && radius < 120,
      s"simhashWideNearDupPairs($radius)")
    hammingPairs(simhashWideSignatures(df, idCol, textCol), idCol,
      Seq("sim0", "sim1"), radius, "simhashWideNearDupPairs")
  }

  /** `words` x 60-bit wide average-hash per row (see
    * [[graft.functions.AHashWide]]): [[mediaAHash]] with a longer
    * fingerprint, the input to [[ahashWideNearDupPairs]]. Map-only,
    * zero shuffle. */
  def mediaAHashWide(df: DataFrame, idCol: String, payloadCol: String,
      words: Int = 2): DataFrame =
    df.select(col(idCol),
      graft.functions.MediaExpressions.ahashWide(col(payloadCol), words)
        .as("ahash"))

  /** [[ahashNearDupPairs]] over the WIDE hash: near-duplicate pairs by
    * hamming distance over `words` x 60 bits, same exact pigeonhole
    * banding ([[hammingPairs]]). The wider hash exists for the band
    * WIDTH: at radius 3, 60 bits give 15-bit bands (2^15 buckets — the
    * n^2/2^15 random-collision candidate class SCALE.md documents for
    * m11), while 120 bits give 30-bit bands (2^30 buckets), pushing
    * random band agreement past any realistic corpus so the candidate
    * list is ~only the true near-pairs. That buys the same exact join
    * shape a growth class that bends from occupancy-quadratic to
    * ~linear — the version of this op a 100 TB media pipeline runs.
    * The radii follow [[hammingBandLayout]]: any radius below 60 at
    * `words = 1` (the [[ahashNearDupPairs]] hash), otherwise 0 or a
    * radius whose radius+1 bands have a width dividing 60. */
  def ahashWideNearDupPairs(df: DataFrame, idCol: String,
      payloadCol: String, radius: Int = 3, words: Int = 2): DataFrame = {
    require(radius >= 0 && radius < 60 * words,
      s"ahashWideNearDupPairs($radius, $words)")
    hammingPairs(mediaAHashWide(df, idCol, payloadCol, words), idCol,
      (0 until words).map(w => s"ahash[$w]"), radius,
      "ahashWideNearDupPairs")
  }

  /** The one band-layout rule of the hamming near-dup join, and the only
    * place that decides which radii a signature of `words` 60-bit words
    * can band: band j of the radius+1 disjoint bands is (word, shift,
    * mask). The bits split evenly — the first bits mod (radius+1) bands
    * take one bit more than the rest — so every band lies below bit 60
    * of its word and no band is empty. One word bands at every radius
    * below 60; wider signatures need radius+1 to divide the bits and the
    * band width to divide 60, so every band lies inside one word.
    * radius 0 needs no bands (an equality join on every word) and is
    * supported at every width. None = the radius is not supported. */
  private[api] def hammingBandLayout(words: Int,
      radius: Int): Option[Seq[(Int, Int, Long)]] = {
    val bits = 60 * words
    val bands = radius + 1
    if (radius == 0) return Some(Nil)
    if (radius < 0 || radius >= bits) return None
    val (width, extra) = (bits / bands, bits % bands)
    if (words > 1 && (extra != 0 || 60 % width != 0)) None
    else Some((0 until bands).map { j =>
      val at = j * width + math.min(j, extra)
      val mask = (1L << (width + (if (j < extra) 1 else 0))) - 1
      (at / 60, at % 60, mask)
    })
  }

  /** The one exact hamming near-dup join behind all four near-dup ops —
    * the pigeonhole construction of Manku, Jain and Das Sarma
    * ("Detecting near-duplicates for web crawling", WWW 2007). `sig`
    * holds `idCol` and 1, 2 or 4 signature words of 60 bits, each named
    * by a SQL expression over a `sig` row in `wordCols` (a column, or
    * an element such as `ahash[1]`, so an array signature is read in
    * place); out come the pairs (id_a < id_b, dist) within
    * `radius`, dist the summed per-word popcount of the xor. radius 0
    * is one equality join on every word. Otherwise each row explodes
    * into its radius+1 disjoint bands ([[hammingBandLayout]]): a pair
    * within the radius must agree exactly on at least one band, so the
    * self EQUI-join on (band, bits) finds every qualifying pair without
    * an all-pairs compare; `distinct` folds pairs that share several
    * bands and the popcount filter drops the random band collisions. An
    * unsupported radius fails as an IllegalArgumentException naming
    * `op` and listing the supported radii. */
  private[api] def hammingPairs(sig: DataFrame, idCol: String,
      wordCols: Seq[String], radius: Int, op: String): DataFrame = {
    val words = wordCols.size
    val layout = hammingBandLayout(words, radius).getOrElse(
      throw new IllegalArgumentException(s"$op: radius $radius does not " +
        s"split ${60 * words} bits into ${radius + 1} word-aligned bands " +
        "(supported radii: " + (0 until 60 * words)
          .filter(hammingBandLayout(words, _).isDefined).mkString(", ") +
        ")"))
    def word(side: String) = wordCols.map(w => expr(side + w))
    val wordPairs = word("a.").zip(word("b."))
    val ids = col(s"a.$idCol") < col(s"b.$idCol")
    def pairs(joined: DataFrame, dist: Column): DataFrame =
      joined.select(col(s"a.$idCol").as("id_a"),
        col(s"b.$idCol").as("id_b"), dist.as("dist"))
    if (radius == 0)
      return pairs(sig.as("a").join(sig.as("b"), wordPairs.map {
        case (a, b) => a === b }.reduce(_ && _) && ids), lit(0L))
    val bandCols = layout.map { case (w, shift, mask) =>
      shiftright(word("")(w), shift).bitwiseAND(lit(mask))
    }
    val banded = sig.select(col("*"),
      posexplode(array(bandCols: _*)).as(Seq("band", "bits")))
    val dist = wordPairs.map { case (a, b) =>
      bit_count(a.bitwiseXOR(b)) }.reduce(_ + _)
    pairs(banded.as("a").join(banded.as("b"),
      col("a.band") === col("b.band") && col("a.bits") === col("b.bits") &&
        ids), dist.cast("bigint"))
      .distinct()
      .filter(col("dist") <= radius)
  }

  /** Multi-channel generalization of [[pcm16WindowEnergy]]: the payload
    * is INTERLEAVED PCM16LE (sample s belongs to channel s mod
    * `channels`), and energy windows are computed per channel — the
    * deinterleave every stereo/multi-channel audio pipeline performs
    * before per-channel analysis (VAD on the voice channel, music/noise
    * split…). The deinterleave is index arithmetic inside the same
    * single-pass native expression as the mono path: one struct per
    * (channel, window), partition-local explode, map-only, ZERO
    * shuffle. */
  def pcm16ChannelWindowEnergy(df: DataFrame, idCol: String,
      payloadCol: String, windowSamples: Int = 16,
      channels: Int = 2): DataFrame = {
    require(windowSamples > 0 && channels > 0,
      s"pcm16ChannelWindowEnergy($windowSamples, $channels)")
    df.select(col(idCol),
      explode(graft.functions.MediaExpressions.pcm16WindowEnergy(
        col(payloadCol), windowSamples, channels)).as("w"))
      .select(col(idCol), col("w.channel").as("channel"),
        col("w.win_idx").as("win_idx"), col("w.energy").as("energy"))
  }

  /** Default ceiling for the hottest admitted shingle's document
    * frequency when no `maxShingleDf` cap is set: 10⁴ docs sharing one
    * shingle is already ~5·10⁷ pair rows from that single bucket. */
  val DefaultHotShingleGuardDf: Int = 10000

  /** Ceiling on the corpus document count up to which the pair ops'
    * per-document shingle-count table is force-broadcast. The
    * broadcast keeps the thresholded Jaccard/containment a map-side
    * filter with no join against the candidate table (the r15 5M
    * decade measured the shuffled shape's two sort-merge joins of the
    * ~100×-corpus-rows candidate table as the dominant super-linear
    * cost) — but the build side is one row per DOCUMENT, a dimension
    * the hot-shingle guard does not bound: past ~10⁸ mostly-unique
    * docs it hits Spark's 8 GB broadcast hard limit. 10⁷ rows is a
    * few hundred MB built; beyond it the count table joins by plain
    * shuffled equi-join (slower, never fatal). */
  val MaxBroadcastCountDocs: Long = 10L * 1000 * 1000

  /** The per-document count side of a pair op's size join: broadcast
    * up to [[MaxBroadcastCountDocs]] documents, shuffled past it. */
  private def countSide(cnt: DataFrame, nDocs: Long): DataFrame =
    if (nDocs <= MaxBroadcastCountDocs) broadcast(cnt) else cnt

  /** Shingles admitted to a pair join, with the skew tripwire.
    *
    * With a finite `maxShingleDf`, shingles hotter than the cap are
    * dropped up front (stopword-removal semantics) via a plain equi-join
    * on the shingle — broadcast-ability of the hot list is not assumed.
    * With no cap, the hottest shingle's document frequency is measured
    * first (one map+agg pass, noise next to the O(df²) join it fences —
    * the [[cosinePairsExact]] guard pattern) and the join REFUSES to run
    * when it exceeds `hotShingleGuardDf`: one web-scale stop-shingle
    * ("in the the") makes its self-join bucket alone O(df²) rows and can
    * dominate the whole shuffle.
    *
    * Returns the admitted shingle table plus, when the guard pass ran
    * (the default), the exact candidate volume Σ df·(df−1)/2 it
    * computed for free — [[candidateAggPartitions]] derives the pair
    * aggregation's width from it. */
  private def admittedShingles(all: DataFrame, idCol: String,
      maxShingleDf: Int, hotShingleGuardDf: Int, op: String,
      keyCol: String = "s"): (DataFrame, Option[Long]) =
    if (maxShingleDf != Int.MaxValue) {
      val quiet = all.groupBy(keyCol).agg(count(lit(1)).as("df"))
        .filter(col("df") <= maxShingleDf)
      // The df-cap branch aggregates per-key df anyway; one more
      // driver-side aggregate over that pass yields the EXACT capped
      // candidate volume, so [[candidateAggPartitions]] sizes the pair
      // aggregation on this path too — the hash-map-per-partition
      // memory cliff the estimate fences is independent of HOW
      // shingles were admitted (the r15 decade measured ~45 GB of
      // live map at 32 partitions on 1.13 B candidates). The join
      // below recomputes the df aggregation (one extra map-side-
      // combined pass over rows it already scans — the guard-pass
      // cost argument).
      val r = quiet.agg(sum(col("df") * (col("df") - 1L))).head()
      val est = if (r.isNullAt(0)) 0L else r.getLong(0) / 2
      (all.join(quiet.select(keyCol), keyCol), Some(est))
    } else {
      if (hotShingleGuardDf != Int.MaxValue) {
        // df·(df−1) stays integral (SQL `/` would widen to DOUBLE);
        // halve on the driver
        val m = all.groupBy(keyCol).agg(count(lit(1)).as("df"))
          .agg(max(col("df")),
            sum(col("df") * (col("df") - 1L))).head()
        val hot = if (m.isNullAt(0)) 0L else m.getLong(0)
        require(hot <= hotShingleGuardDf,
          s"$op: the hottest shingle occurs in $hot documents; its " +
            s"self-join bucket alone is ~${BigInt(hot) * BigInt(hot) / 2} " +
            s"pair rows and would dominate the shuffle. Pass maxShingleDf " +
            s"to drop hot shingles (stopword semantics), or " +
            s"hotShingleGuardDf >= $hot to force the unbounded join.")
        (all, Some(if (m.isNullAt(1)) 0L else m.getLong(1) / 2))
      } else (all, None)
    }

  /** Partition count for a candidate-pair aggregation, derived from
    * the guard pass's exact candidate volume: the (id_a, id_b) agg
    * holds its hash map per partition, so at a FIXED partition count
    * the map crosses execution memory once the corpus is big enough —
    * the r15 5M decade measured exactly that cliff (candidate rows
    * 226M→1.13B, perfectly linear ×5.0, while the agg wall went
    * ×10.5; ~45 GB of live map at 32 partitions). ~2M candidates per
    * partition keeps the map in the low hundreds of MB. Never BELOW
    * the session's shuffle partitions (fixture plans unchanged —
    * callers skip the explicit repartition then), capped at 4096. */
  private def candidateAggPartitions(spark: SparkSession,
      est: Option[Long]): Int = {
    val sess = spark.sessionState.conf.numShufflePartitions
    est.fold(sess)(e => math.min(4096L,
      math.max(sess.toLong, e / 2000000L + 1)).toInt)
  }

  /** Exact n-gram Jaccard pairs over shared shingles, thresholded.
    * The join runs in [[shingleKey]]'s 60-bit hash space (16-byte
    * shuffle rows; the oracle replays the identical key, so both
    * engines agree even on a collision).
    *
    * `maxShingleDf` caps the document frequency of shingles admitted to
    * the pair space: at web scale a stop-shingle ("in the the") occurs in
    * millions of documents and its self-join bucket alone is O(df²) rows —
    * one hot shingle can dominate the whole shuffle. With a cap, shingles
    * with df > maxShingleDf are dropped up front and the Jaccard is the
    * exact similarity of the REDUCED shingle sets (standard stopword-
    * removal semantics: pairs sharing only ultra-common shingles stop
    * pairing, which is almost always the wanted behavior). Without a cap
    * the join is exact but guarded: it refuses to run if the hottest
    * shingle's df exceeds `hotShingleGuardDf`
    * ([[admittedShingles]]).
    *
    * The df cap and guard operate on the 60-bit [[shingleKey]] hash,
    * not the shingle string: a key collision (~n²/2⁶¹ expected —
    * single digits at 10⁹ distinct shingles) merges two shingles'
    * document frequencies and can admit/drop marginally differently
    * from string-space semantics. The gate oracles replay the
    * identical key (d04 unguarded, d22 df-capped), so whichever way a
    * collision falls, both engines fall the same way. */
  def ngramJaccardPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.5,
      maxShingleDf: Int = Int.MaxValue,
      hotShingleGuardDf: Int = DefaultHotShingleGuardDf): DataFrame =
    ngramJaccardPairsFromShingles(shingles(df, idCol, textCol, n), idCol,
      threshold, maxShingleDf, hotShingleGuardDf)

  /** The 60-bit shingle join key: first 15 hex chars of md5(s), the
    * [[ngramNovelty]] width. The shingle equi-joins run entirely in
    * this hash space — the shuffle then carries 16-byte (id, h) rows
    * instead of ~30-byte shingle strings, which is what kept the d07
    * decade super-linear (1M→5M docs read 8.8× on 5× data: ~500M
    * string rows through a 32-partition sort-merge join spill; the
    * probe put 94% of the wall in pair generation, rounds flat at 2).
    * Exactness is preserved CROSS-ENGINE, not just probabilistically:
    * the oracles compute the identical md5-slice key, so even a
    * collision (~n²/2⁶¹ expected pairs — single digits at 10⁹
    * shingles) replays identically on both engines. */
  private def shingleKey(c: Column): Column =
    graft.functions.TextExpressions.hexSliceLong(md5(c), 1, 15)

  /** [[ngramJaccardPairs]] over a PRECOMPUTED distinct shingle table
    * (id, s) — for sharing one materialized shingle build across the
    * dedup family (see [[minhashLshPairsFromShingles]]). The df cap /
    * hot-shingle tripwire still run here (they are one map+agg pass
    * over the shared table, not a rebuild). */
  def ngramJaccardPairsFromShingles(shIn: DataFrame, idCol: String,
      threshold: Double = 0.5,
      maxShingleDf: Int = Int.MaxValue,
      hotShingleGuardDf: Int = DefaultHotShingleGuardDf): DataFrame = {
    // Hash-space rows from here on ([[shingleKey]]): the df cap, the
    // per-doc counts and the self-join all see (id, h) only. The
    // count table broadcasts up to [[MaxBroadcastCountDocs]] docs
    // ([[countSide]] — doc-count rows, a dimension the hot-shingle
    // guard does not bound), so attaching (na, nb) is map-side and
    // they ride the candidate shuffle: the thresholded Jaccard
    // becomes a map-side filter with NO join against the
    // candidate-pair table — the r15 5M decade measured the old
    // shape's two sort-merge joins of that ~100x-corpus-rows table
    // against the counts as the dominant, super-linear cost. The two
    // join sides stay canonically identical, so ReusedExchange keeps
    // the candidate shuffle to one write.
    val (sh, est) = admittedShingles(
      shIn.select(col(idCol), shingleKey(col("s")).as("h")), idCol,
      maxShingleDf, hotShingleGuardDf, "ngramJaccardPairs", keyCol = "h")
    val cnt = sh.groupBy(idCol).agg(count(lit(1)).as("n"))
    // exact doc count for the broadcast guard — one small driver
    // action over an aggregation the query runs anyway
    val withN = sh.join(countSide(cnt, cnt.count()), Seq(idCol))
    val a = withN.select(col(idCol).as("id_a"), col("h"),
      col("n").as("na"))
    val b = withN.select(col(idCol).as("id_b"), col("h"),
      col("n").as("nb"))
    val joined = a.join(b, "h").filter(col("id_a") < col("id_b"))
    val parts = candidateAggPartitions(shIn.sparkSession, est)
    val pre =
      if (parts > shIn.sparkSession.sessionState.conf.numShufflePartitions)
        joined.repartition(parts, col("id_a"), col("id_b"))
      else joined
    val inter = pre
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("i"), min("na").as("na"),
        min("nb").as("nb"))
    val jac = col("i").cast("double") / (col("na") + col("nb") - col("i"))
    inter.filter(jac >= threshold)
      .select(col("id_a"), col("id_b"), jac.as("jac"))
  }

  /** Shingle containment pairs — the ASYMMETRIC near-dup signal:
    * how much of document a's shingle set lies inside document b,
    * |S(a)∩S(b)| / |S(a)|. Jaccard ([[ngramJaccardPairs]]) misses
    * wholesale INCLUSION: a short document quoted verbatim inside a
    * long one scores near zero on the union but 1.0 on containment,
    * which is exactly the boilerplate/quotation/aggregator-page signal
    * a corpus pipeline needs (Broder's resemblance-vs-containment
    * distinction). Emits ORDERED pairs (id_a contained-in id_b, both
    * directions when both clear the threshold). Same
    * shingle-equi-join shuffle discipline as [[ngramJaccardPairs]],
    * including the hot-shingle document-frequency cap and skew
    * tripwire ([[admittedShingles]]; like there, the cap counts df in
    * [[shingleKey]] hash space — see [[ngramJaccardPairs]] on
    * collision semantics). */
  def containmentPairs(df: DataFrame, idCol: String, textCol: String,
      n: Int = 3, threshold: Double = 0.8,
      maxShingleDf: Int = Int.MaxValue,
      hotShingleGuardDf: Int = DefaultHotShingleGuardDf): DataFrame =
    containmentPairsFromShingles(shingles(df, idCol, textCol, n), idCol,
      threshold, maxShingleDf, hotShingleGuardDf)

  /** [[containmentPairs]] over a PRECOMPUTED distinct shingle table
    * (id, s) — see [[ngramJaccardPairsFromShingles]]. */
  def containmentPairsFromShingles(shIn: DataFrame, idCol: String,
      threshold: Double = 0.8,
      maxShingleDf: Int = Int.MaxValue,
      hotShingleGuardDf: Int = DefaultHotShingleGuardDf): DataFrame = {
    // same hash-space + broadcast-the-counts discipline as
    // [[ngramJaccardPairsFromShingles]]; containment is asymmetric so
    // only side a's count rides the candidate shuffle
    val (sh, est) = admittedShingles(
      shIn.select(col(idCol), shingleKey(col("s")).as("h")), idCol,
      maxShingleDf, hotShingleGuardDf, "containmentPairs", keyCol = "h")
    val cnt = sh.groupBy(idCol).agg(count(lit(1)).as("n"))
    val a = sh.join(countSide(cnt, cnt.count()), Seq(idCol))
      .select(col(idCol).as("id_a"), col("h"), col("n").as("na"))
    val b = sh.select(col(idCol).as("id_b"), col("h"))
    val joined = a.join(b, "h").filter(col("id_a") =!= col("id_b"))
    // ordered pairs: both orientations survive, so the candidate
    // volume is twice the guard's Σ df·(df−1)/2
    val parts = candidateAggPartitions(shIn.sparkSession,
      est.map(e => if (e > Long.MaxValue / 2) Long.MaxValue else e * 2))
    val pre =
      if (parts > shIn.sparkSession.sessionState.conf.numShufflePartitions)
        joined.repartition(parts, col("id_a"), col("id_b"))
      else joined
    val inter = pre
      .groupBy("id_a", "id_b")
      .agg(count(lit(1)).as("i"), min("na").as("na"))
    val cont = col("i").cast("double") / col("na")
    inter.filter(cont >= threshold)
      .select(col("id_a"), col("id_b"), cont.as("containment"))
  }

  /** Sketch-estimated containment pairs — [[containmentPairs]]' scale
    * path, the same way MinHash+LSH (d02) is [[ngramJaccardPairs]]'
    * (d04): candidates come from LSH band buckets instead of the
    * shingle self-join, and the containment is DERIVED from the
    * signature-agreement Jaccard estimate plus the two exact shingle
    * counts (map-side aggregates): with ĵ = agreement/k,
    * î = ĵ·(|A|+|B|)/(1+ĵ) and ĉ(A⊆B) = î/|A|, capped at 1. Emits both
    * orientations of every banded candidate above `threshold`.
    *
    * Scale shape: signatures + banding shuffle fixed-width longs (the
    * d02 machinery verbatim — shingle text never joins itself); the
    * size join adds one (id, count) broadcast-sized aggregate. Known
    * recall limit, inherent to plain MinHash banding: an A≪B inclusion
    * has SMALL Jaccard (ĉ·|A| / |B|), so band collisions fade exactly
    * when the size ratio grows — the asymmetric-sketch literature's
    * motivation for bottom-k/containment sketches. Use [[containmentPairs]]
    * (exact, bounded by the shingle-df guard) when small-in-big
    * inclusions matter; this op screens the near-peer-size bulk
    * cheaply. */
  def containmentMinhashPairs(df: DataFrame, idCol: String,
      textCol: String, k: Int = 24, bands: Int = 8,
      threshold: Double = 0.8): DataFrame =
    containmentMinhashPairsFromShingles(shingles(df, idCol, textCol),
      idCol, k, bands, threshold)

  /** [[containmentMinhashPairs]] over a PRECOMPUTED distinct shingle
    * table (id, s) — see [[minhashLshPairsFromShingles]]. Both the
    * signature build and the exact size counts read the shared
    * table. */
  def containmentMinhashPairsFromShingles(sh: DataFrame, idCol: String,
      k: Int = 24, bands: Int = 8,
      threshold: Double = 0.8): DataFrame = {
    // threshold = 0.0 on the jaccard filter: every banded candidate
    // passes through to the containment math (est_jac >= 0 always)
    val cand = minhashLshPairsFromShingles(sh, idCol, k, bands,
      threshold = 0.0)
    val cnt = sh.groupBy(idCol)
      .agg(count(lit(1)).as("n"))
    val both = cand.select(col("id_a"), col("id_b"), col("est_jac"))
      .unionAll(cand.select(col("id_b").as("id_a"),
        col("id_a").as("id_b"), col("est_jac")))
    val est = col("est_jac") * (col("ca.n") + col("cb.n")) /
      ((lit(1.0) + col("est_jac")) * col("ca.n"))
    both
      .join(cnt.as("ca"), col("id_a") === col(s"ca.$idCol"))
      .join(cnt.as("cb"), col("id_b") === col(s"cb.$idCol"))
      .filter(est >= threshold)
      .select(col("id_a"), col("id_b"),
        round(least(est, lit(1.0)), 4).as("est_containment"))
  }

  /** Bottom-k containment pairs — the TRUE asymmetric sketch that
    * closes [[containmentMinhashPairs]]' documented recall hole for
    * small-in-big inclusions (Broder's containment sketch; the
    * bottom-k estimator of Cohen & Kaplan, and the "screen" shape of
    * Mash Screen / sourmash in the k-mer world): each document keeps
    * the k SMALLEST of its distinct shingle hashes — a uniform sample
    * of its shingle set — and ĉ(A⊆B) = |S_k(A) ∩ H(B)| / |S_k(A)|,
    * the fraction of A's sample found anywhere in B's full hash set.
    * Because the sample is drawn from A alone, a verbatim inclusion
    * A⊂B scores EXACTLY 1.0 no matter how much bigger B is — where
    * symmetric MinHash banding fades precisely as |B|/|A| grows (the
    * pair's Jaccard ≈ |A|/|B|), which is d17's documented limit. A
    * document with ≤ k distinct hashes is sketched in full, so its
    * estimate is exact.
    *
    * Scale shape: the candidate/estimate pass is ONE equi-join of the
    * sketch table (≤ k fixed-width longs per document) against the
    * distinct (id, hash) table on the 32-bit hash — shingle TEXT never
    * shuffles, and the per-hash join fan-out is (docs sketching h) ×
    * df(h), fenced by the same df cap / hot-key tripwire as the exact
    * shingle joins ([[admittedShingles]] on the hash). The bottom-k
    * pick itself is a per-document window over that document's own
    * hashes — partition-bounded by document length. Compare
    * [[containmentPairs]] (exact, both join sides full) when the
    * estimate must be an exact count; this is the sketch-cost screen
    * that keeps small-in-big recall. */
  def bottomKContainmentPairs(df: DataFrame, idCol: String,
      textCol: String, n: Int = 3, k: Int = 16, threshold: Double = 0.8,
      maxShingleDf: Int = Int.MaxValue,
      hotShingleGuardDf: Int = DefaultHotShingleGuardDf): DataFrame = {
    require(n > 0, s"bottomKContainmentPairs(n=$n)")
    bottomKContainmentPairsFromShingles(shingles(df, idCol, textCol, n),
      idCol, k, threshold, maxShingleDf, hotShingleGuardDf)
  }

  /** [[bottomKContainmentPairs]] over a PRECOMPUTED distinct shingle
    * table (id, s) — see [[ngramJaccardPairsFromShingles]]; the hash
    * projection and df admission are map+agg passes over the shared
    * table, never a rebuild. */
  def bottomKContainmentPairsFromShingles(sh: DataFrame, idCol: String,
      k: Int = 16, threshold: Double = 0.8,
      maxShingleDf: Int = Int.MaxValue,
      hotShingleGuardDf: Int = DefaultHotShingleGuardDf): DataFrame =
    bottomKContainmentPairsFromHashes(hashShingles(sh, idCol), idCol,
      k, threshold, maxShingleDf, hotShingleGuardDf)

  /** The h0 hash projection of a distinct shingle table: DISTINCT
    * (id, h) with h = the first 8 md5 hex chars of `"0:" + shingle` as
    * int64 — seed 0 of the MinHash family, the same convention
    * [[minhashSignatures]] uses, so the DuckDB oracle replays it bit
    * for bit. Factored out (r10 verdict item 7) so a curation session
    * materializes the corpus hash table ONCE and runs every
    * [[bottomKContainmentPairsFromHashes]] probe against it; two
    * disjoint-id corpora's hash tables union into the augmented
    * corpus's (per-document distinct survives a disjoint union). */
  def hashShingles(sh: DataFrame, idCol: String): DataFrame =
    sh.select(col(idCol), graft.functions.TextExpressions.hexSliceLong(
        md5(concat(lit("0:"), col("s"))), 1, 8).as("h"))
      .distinct()

  /** [[bottomKContainmentPairs]] over a PRECOMPUTED distinct hash
    * table (id, h) from [[hashShingles]]: df admission, the
    * per-document bottom-k window, and the sketch-vs-full equi-join
    * run here; the corpus-scale hash build is the amortizable part a
    * long-lived session pays once. */
  def bottomKContainmentPairsFromHashes(hashedIn: DataFrame,
      idCol: String, k: Int = 16, threshold: Double = 0.8,
      maxShingleDf: Int = Int.MaxValue,
      hotShingleGuardDf: Int = DefaultHotShingleGuardDf): DataFrame = {
    require(k > 0 && threshold >= 0,
      s"bottomKContainmentPairs(k=$k, threshold=$threshold)")
    val hashed = admittedShingles(hashedIn,
      idCol, maxShingleDf, hotShingleGuardDf, "bottomKContainmentPairs",
      keyCol = "h")._1 // sketch side joins k-bounded rows; no wide agg
    val cnt = hashed.groupBy(idCol).agg(count(lit(1)).as("nh"))
    val wBk = org.apache.spark.sql.expressions.Window
      .partitionBy(idCol).orderBy(col("h"))
    val sketch = hashed
      .withColumn("rn", row_number().over(wBk))
      .filter(col("rn") <= k)
      .select(col(idCol), col("h"))
    val inter = sketch.as("a")
      .join(hashed.as("b"),
        col("a.h") === col("b.h") && col(s"a.$idCol") =!= col(s"b.$idCol"))
      .groupBy(col(s"a.$idCol").as("id_a"), col(s"b.$idCol").as("id_b"))
      .agg(count(lit(1)).as("i"))
    val est = col("i").cast("double") / least(lit(k.toLong), col("ca.nh"))
    inter
      .join(cnt.as("ca"), col("id_a") === col(s"ca.$idCol"))
      .filter(est >= threshold)
      .select(col("id_a"), col("id_b"), est.as("est_containment"))
  }

  // ------------------------------------------------------------ pipeline

  /** The end-to-end corpus-curation pass a 100 TB training-data run
    * actually executes, composed ENTIRELY from this API's stages in
    * their production order — quality gate → language filter → exact
    * dedup → MinHash-LSH near-dedup (pairs → connected components →
    * keep-best) → token-budget mixture — returning the ONE-ROW impact
    * report that decides whether each stage paid for itself:
    *
    *   n_input, n_quality (word-band pass), n_lang (∧ language match),
    *   n_exact (∧ exact-dedup keeper), n_near (∧ near-dup cluster
    *   winner), chars_removed_near (d20's tie-independent
    *   sum-minus-max per cluster), n_admitted / tok_admitted (the
    *   mixture actually admitted).
    *
    * Stage semantics are CUMULATIVE (each count is the surviving-corpus
    * size after that stage), and every stage is the same public
    * operator users call directly — [[qualityScore]], [[langId]],
    * [[exactDedup]], [[minhashLshPairs]], [[dupClusters]],
    * [[keepBestFromClusters]], [[mixtureByBudget]] — so the report is
    * the integration proof of the composed API, not a parallel
    * implementation.
    *
    * Scale shape (r16): the quality word band and the language argmax
    * are row-local predicates riding ONE scan — the input counts come
    * from a single flagged aggregation of it, and the survivor set is
    * the same predicates as a pushed filter; exact dedup is one
    * digest-keyed aggregation whose keeper ids MATERIALIZE once
    * (narrow — one id per survivor, the decide-with-small-rows shape)
    * and re-attach by one semi join; near-dedup pair generation is the
    * banded equi-join (never all-pairs) running on the ALREADY
    * exact-deduped survivor set (the documented order — pairwise
    * MinHash on a million verbatim copies computes nothing the digest
    * shuffle didn't); clustering's label frame is reliably checkpointed
    * per round; the keep pick materializes once as narrow
    * (id, size, kept) rows that the near-stage count, the
    * removed-chars report AND the mixture's survivor set all read
    * (the kept row's size is its cluster's max, so the removed-chars
    * branch needs no per-cluster aggregation). The report row itself
    * is a crossJoin of 1-row aggregates — scalar broadcasts, no
    * data-scale work. */
  def curate(df: DataFrame, idCol: String, textCol: String,
      sizeCol: String, sourceCol: String,
      langProfiles: Seq[(String, String)], keepLang: String,
      minWords: Long, maxWords: Long,
      budgets: Seq[(String, Long)],
      minhashK: Int = 24, bands: Int = 8,
      jaccardThreshold: Double = 0.5): DataFrame = {
    require(minWords <= maxWords, s"curate($minWords > $maxWords)")
    val idc = col(idCol)
    // The quality word band and the language argmax are ROW-LOCAL
    // predicates — ride them on one scan (as filter / flag columns)
    // instead of the r15 shape's two separate corpus passes + two semi
    // joins. The one flagged aggregation at the bottom reads n_input /
    // n_quality / n_lang off the same single scan.
    val qFlag = size(split(col(textCol), " ")).cast("bigint")
      .between(minWords, maxWords)
    val lFlag = langIdPred(col(textCol), langProfiles) === keepLang
    val s1 = df.filter(qFlag && lFlag)
    // Exact-dedup keepers materialize ONCE, ids only (narrow, bounded:
    // one long per surviving doc — the guide's decide-with-small-rows
    // shape). They define s2, its count, AND every downstream branch;
    // the r15 shape re-ran the quality+lang+digest chain inside each
    // crossJoin branch instead.
    val exactKeep = iterCheckpoint(exactDedup(s1, idCol, textCol)
      .select(col("keep_id").as(idCol)))
    // keepers ⊆ s1 by construction, so the exact-dedup survivor set is
    // one semi join against the RAW corpus — no quality/lang re-scan
    val s2 = df.join(exactKeep, Seq(idCol), "left_semi")
    val clusters = dupClusters(s2, idCol,
      minhashLshPairs(s2, idCol, textCol,
        k = minhashK, bands = bands, threshold = jaccardThreshold),
      "id_a", "id_b")
    // Keep pick, materialized once as narrow (id, size, kept) rows: the
    // near-stage count, the removed-chars report and the mixture's
    // survivor set all read this frame. Joining `df` (not s2) is
    // equivalent — the inner join restricts to the clusters' ids, which
    // ARE s2's ids — and skips a semi join.
    val keep = iterCheckpoint(
      keepBestFromClusters(df, idCol, sizeCol, clusters)
        .select(idc, col(sizeCol).cast("long").as("__sz"), col("kept")))
    val s3 = df.join(keep.filter(col("kept")).select(idc),
      Seq(idCol), "left_semi")
    val mix = mixtureByBudget(s3, idCol, sizeCol, sourceCol, budgets)
    // chars_removed_near: the kept row's size IS its cluster's max
    // (row_number orders size desc), so Σ sz − Σ (sz | kept) equals
    // d20's per-cluster sum-minus-max without the separate
    // groupBy(cluster_id) pass.
    df.select(qFlag.as("__q"), lFlag.as("__l"))
      .agg(count(lit(1)).cast("bigint").as("n_input"),
        coalesce(sum(when(col("__q"), 1L).otherwise(0L)), lit(0L))
          .cast("bigint").as("n_quality"),
        coalesce(sum(when(col("__q") && col("__l"), 1L).otherwise(0L)),
          lit(0L)).cast("bigint").as("n_lang"))
      .crossJoin(exactKeep
        .agg(count(lit(1)).cast("bigint").as("n_exact")))
      .crossJoin(keep.agg(
        coalesce(sum(when(col("kept"), 1L).otherwise(0L)), lit(0L))
          .cast("bigint").as("n_near"),
        (coalesce(sum("__sz"), lit(0L)) -
          coalesce(sum(when(col("kept"), col("__sz"))), lit(0L)))
          .cast("bigint").as("chars_removed_near")))
      .crossJoin(mix.agg(count(lit(1)).cast("bigint").as("n_admitted"),
        coalesce(sum("n_tok"), lit(0L)).cast("bigint").as("tok_admitted")))
  }
}
