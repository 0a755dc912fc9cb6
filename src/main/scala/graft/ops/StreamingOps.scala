package graft.ops

import java.nio.file.Files
import java.util.UUID

import scala.collection.mutable

import graft.{Q, Tables}
import graft.pubsub.EmbeddedBroker
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.{LongType, MapType, StringType, StructField, StructType}

/** Per-user running event counter on the Spark 4 arbitrary-state API:
  * typed ValueState survives across micro-batches; each batch emits the
  * per-key increment (see p10). */
class UserEventCounter
    extends org.apache.spark.sql.streaming.StatefulProcessor[
      Long, Long, (Long, Long)] {
  import org.apache.spark.sql.streaming.{OutputMode, TimeMode, TimerValues, TTLConfig, ValueState}
  @transient private var total: ValueState[Long] = _

  override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
    total = getHandle.getValueState[Long]("total",
      org.apache.spark.sql.Encoders.scalaLong, TTLConfig.NONE)

  override def handleInputRows(key: Long, rows: Iterator[Long],
      timerValues: TimerValues): Iterator[(Long, Long)] = {
    val inc = rows.size.toLong
    total.update((if (total.exists()) total.get() else 0L) + inc)
    Iterator.single((key, inc))
  }
}

/** Streaming-surface proofs that run inside the batch correctness gate:
  * each query publishes fixture rows through the embedded broker, runs a
  * real Structured Streaming query over the `pubsub` source
  * (Trigger.AvailableNow, memory sink), and returns a batch DataFrame the
  * DuckDB oracle can reproduce with plain SQL over the same fixture —
  * so the connector's source, sink, offsets, replay cache and ack flow
  * are all inside the hash-checked path, not just unit tests.
  *
  * The embedded broker is in-process (the `endpoint` option would point at
  * a real service on a cluster); publishing happens from executors via
  * foreachPartition, the shape a distributed producer would have.
  */
object StreamingOps {

  private val publishedBrokers = mutable.Map[(String, String, Int), String]()
  private val bucketedTables = mutable.Map[String, (String, String)]()

  /** Remove a per-rep scratch directory once its contents have been
    * materialized (p16 — r9 review: temp probe output accumulated one
    * copy per bench/verify rep). */
  private[graft] def deleteRecursively(f: java.io.File): Unit = {
    if (f.isDirectory) Option(f.listFiles()).foreach(_.foreach(deleteRecursively))
    f.delete()
    ()
  }

  /** Scratch checkpoint dir for in-gate streams. Prefers tmpfs
    * (/dev/shm): the offset/commit-log fsyncs per micro-batch are pure
    * harness overhead locally — a cluster would point this at HDFS/S3,
    * where the same fsyncs are the durability contract. */
  private[ops] def tmpCheckpoint(prefix: String): String = {
    val shm = java.nio.file.Paths.get("/dev/shm")
    if (Files.isDirectory(shm) && Files.isWritable(shm))
      Files.createTempDirectory(shm, prefix).toString
    else Files.createTempDirectory(prefix).toString
  }

  /** Publish a projection of the events fixture once per (topic, fixture
    * dir, copies) to a retaining topic on a fresh broker; each caller
    * gets its own subscription backfilled from topic retention, so the
    * p-queries share one publish per shape instead of re-sending the
    * fixture per query. `toMsg` maps a projected row to (payload,
    * attributes) on the executors. Returns (endpoint, sub short name). */
  private def publishEventsWith(s: SparkSession, d: String, topic: String,
      subPrefix: String, copies: Int,
      projection: Seq[org.apache.spark.sql.Column],
      toMsg: org.apache.spark.sql.Row => (Array[Byte], Map[String, String]))
      : (String, String) =
    synchronized {
      val ep = publishedBrokers.getOrElseUpdate((topic, d, copies), {
        val ep = s"$subPrefix-${UUID.randomUUID()}"
        EmbeddedBroker.get(ep).createTopic(topic)
        val n = copies
        Tables.load(s, d, "events")
          .select(projection: _*)
          .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
            val b = EmbeddedBroker.get(ep)
            rows.grouped(5000).foreach { group =>
              val batch = group.flatMap { r =>
                val (data, attrs) = toMsg(r)
                Seq.fill(n)((data, attrs, ""))
              }
              b.publishBatch(topic, batch)
            }
          }
        ep
      })
      val sub = s"$subPrefix-sub-${UUID.randomUUID().toString.take(8)}"
      EmbeddedBroker.get(ep).createSubscription(
        s"projects/p/subscriptions/$sub", topic, backfill = true)
      (ep, sub)
    }

  /** Documents published in doc_id order from ONE task, so the broker's
    * queue order — and with it micro-batch MEMBERSHIP under an admission
    * cap — is deterministic: batch k holds the k-th cap-sized doc_id
    * range. That determinism is what lets p15's per-batch dedup verdicts
    * hash-check against a relational oracle. (The single-task publish is
    * fixture-harness setup, not the operator: a production producer
    * publishes from every executor and dedup verdicts are then
    * arrival-order facts, not replayable ones.) */
  private def publishDocumentsSorted(s: SparkSession, d: String)
      : (String, String) =
    synchronized {
      val topic = "projects/p/topics/docs-sorted"
      val ep = publishedBrokers.getOrElseUpdate((topic, d, 1), {
        val ep0 = s"docs-${UUID.randomUUID()}"
        EmbeddedBroker.get(ep0).createTopic(topic)
        Tables.load(s, d, "documents")
          .select(col("doc_id"), col("text"))
          .repartition(1).sortWithinPartitions("doc_id")
          .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
            val b = EmbeddedBroker.get(ep0)
            rows.grouped(5000).foreach { g =>
              b.publishBatch(topic, g.map(r =>
                (r.getString(1).getBytes("UTF-8"),
                  Map("doc_id" -> r.getLong(0).toString), "")))
            }
          }
        ep0
      })
      val sub = s"docs-sub-${UUID.randomUUID().toString.take(8)}"
      EmbeddedBroker.get(ep).createSubscription(
        s"projects/p/subscriptions/$sub", topic, backfill = true)
      (ep, sub)
    }

  /** Query embedding vectors as messages: data = comma-joined float
    * components (Scala Float.toString round-trips through Spark's
    * CAST(string AS FLOAT), so the parsed vector is bit-identical to
    * the fixture row), vec_id attribute, published in vec_id order
    * from one task so admission-cap batch membership is deterministic
    * (the p15 discipline). */
  private def publishEmbeddingQueries(s: SparkSession, d: String,
      nQueries: Int): (String, String) =
    synchronized {
      val topic = "projects/p/topics/emb-queries"
      val ep = publishedBrokers.getOrElseUpdate((topic, d, nQueries), {
        val ep0 = s"embq-${UUID.randomUUID()}"
        EmbeddedBroker.get(ep0).createTopic(topic)
        Tables.load(s, d, "embeddings")
          .filter(col("vec_id") < nQueries)
          .select(col("vec_id"), col("embedding"))
          .repartition(1).sortWithinPartitions("vec_id")
          .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
            val b = EmbeddedBroker.get(ep0)
            rows.grouped(5000).foreach { g =>
              b.publishBatch(topic, g.map { r =>
                val vec = r.getSeq[Float](1)
                (vec.mkString(",").getBytes("UTF-8"),
                  Map("vec_id" -> r.getLong(0).toString), "")
              })
            }
          }
        ep0
      })
      val sub = s"embq-sub-${UUID.randomUUID().toString.take(8)}"
      EmbeddedBroker.get(ep).createSubscription(
        s"projects/p/subscriptions/$sub", topic, backfill = true)
      (ep, sub)
    }

  /** ALL embeddings rows, vec_id-sorted, with the label attribute riding
    * along — the ingest stream for p17 (label = the frozen coarse
    * quantizer's routing, computed upstream the way a real ingest
    * pipeline routes before publish). */
  private def publishEmbeddingsAll(s: SparkSession, d: String): (String, String) =
    synchronized {
      val topic = "projects/p/topics/emb-ingest"
      val ep = publishedBrokers.getOrElseUpdate((topic, d, -1), {
        val ep0 = s"embi-${UUID.randomUUID()}"
        EmbeddedBroker.get(ep0).createTopic(topic)
        Tables.load(s, d, "embeddings")
          .select(col("vec_id"), col("embedding"), col("label"))
          .repartition(1).sortWithinPartitions("vec_id")
          .foreachPartition { rows: Iterator[org.apache.spark.sql.Row] =>
            val b = EmbeddedBroker.get(ep0)
            rows.grouped(5000).foreach { g =>
              b.publishBatch(topic, g.map { r =>
                (r.getSeq[Float](1).mkString(",").getBytes("UTF-8"),
                  Map("vec_id" -> r.getLong(0).toString,
                    "label" -> r.getInt(2).toString), "")
              })
            }
          }
        ep0
      })
      val sub = s"embi-sub-${UUID.randomUUID().toString.take(8)}"
      EmbeddedBroker.get(ep).createSubscription(
        s"projects/p/subscriptions/$sub", topic, backfill = true)
      (ep, sub)
    }

  /** Events rows as (event_type payload, ts/value/eid/uid attributes). */
  private def publishEvents(s: SparkSession, d: String,
      copies: Int = 1): (String, String) =
    publishEventsWith(s, d, "projects/p/topics/events", "events", copies,
      Seq(col("event_type"), expr("unix_micros(ts)").as("ts_us"),
        col("value"), col("event_id"), col("user_id")),
      r => (r.getString(0).getBytes, Map(
        "ts" -> r.getLong(1).toString,
        "value" -> r.getDouble(2).toString,
        "eid" -> r.getLong(3).toString,
        "uid" -> r.getLong(4).toString)))

  /** Events with a skewed `region` attribute (event_id % 10 == 0 ->
    * eu-west1, else us-east1: a 90/10 split, above the 0.7 region-split
    * threshold) so the backlog monitor's per-region metrics see a
    * dominant region. Deterministic from event_id, so the DuckDB oracle
    * recomputes the same assignment with a CASE. */
  private def publishEventsRegional(s: SparkSession, d: String): (String, String) =
    publishEventsWith(s, d, "projects/p/topics/events-regional", "regional",
      copies = 1,
      Seq(col("event_type"), col("event_id"), col("value")),
      r => {
        val eid = r.getLong(1)
        (r.getString(0).getBytes, Map(
          "region" -> (if (eid % 10 == 0) "eu-west1" else "us-east1"),
          "eid" -> eid.toString,
          "value" -> r.getDouble(2).toString))
      })

  private def sourceDF(s: SparkSession, ep: String, sub: String): DataFrame =
    s.readStream.format("pubsub")
      .option("project_id", "p")
      .option("subscription", sub)
      .option("endpoint", ep)
      // Size pulls so AvailableNow drains the whole fixture in one or two
      // micro-batches — per-batch overhead (state checkpointing) dominates
      // otherwise. 8 x 50k covers the largest fixture (2 x 100k events).
      .option("num_partitions", "8")
      .option("max_messages_per_partition", "50000")
      // dynamic_partitioning now defaults ON (reference parity); pin it
      // off here so the tuned 8 x 50k drain sizing above stays in force.
      .option("dynamic_partitioning", "false")
      // Ack deadline sized far above worst-case drain time: on a loaded
      // machine a >10s batch would otherwise get its pulled messages
      // redelivered into the trailing batch, double-counting append-mode
      // gate results (the exact failure ADVICE r1 predicted).
      .option("ack_deadline_seconds", "600")
      .load()

  /** The gates' admission-capped reader: at most `cap` messages per
    * micro-batch (max_messages_per_trigger), static partitioning, and
    * [[sourceDF]]'s drain-sized ack deadline. */
  private def cappedSourceDF(s: SparkSession, ep: String, sub: String,
      cap: Long): DataFrame =
    s.readStream.format("pubsub")
      .option("project_id", "p")
      .option("subscription", sub)
      .option("endpoint", ep)
      .option("max_messages_per_trigger", cap.toString)
      .option("max_messages_per_partition", "50000")
      .option("dynamic_partitioning", "false")
      .option("ack_deadline_seconds", "600")
      .load()

  /** Drain the stream into a memory sink synchronously; returns the sink
    * table.
    *
    * Stateful streaming queries pin one state store per shuffle partition,
    * and every micro-batch commits every store to the checkpoint — at the
    * fixture's state sizes (<=100k keys) 32 stores are pure overhead, so
    * the session's shuffle partitioning is dialed down for the stream and
    * restored after. (On a real cluster this knob is sized to state
    * volume, not CPU count.) */
  private def drain(df: DataFrame, mode: String): DataFrame = {
    val s = df.sparkSession
    val prevShuffle = s.conf.get("spark.sql.shuffle.partitions")
    val name = "sink_" + UUID.randomUUID().toString.replace("-", "_")
    try {
      s.conf.set("spark.sql.shuffle.partitions", "8")
      df.writeStream.format("memory").queryName(name)
        .outputMode(mode)
        .option("checkpointLocation", tmpCheckpoint("graft-stream"))
        .trigger(Trigger.AvailableNow())
        .start()
        .awaitTermination(300000)
    } finally s.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    df.sparkSession.table(name)
  }

  /** The saved-dir streaming ingest gate of p18 (IVF-PQ) and p19
    * (IVF-SQ8), one body for both codecs. It seeds a saved index with
    * the first 40 rows' codes, streams the REST through foreachBatch ->
    * `append`, then checks three things a broken ingest cannot fake:
    * (a) the grown codes are ROW-IDENTICAL to the batch build's over the
    * full corpus (same frozen state + same deterministic encode =>
    * multiset-equal — the p17 "incremental equals batch" oracle, at
    * code level); (b) the SEED code files never changed (existing codes
    * are never read or rewritten — per-append cost is O(batch), the
    * scale property); (c) a full-coverage probe of the grown index
    * returns the EXACT top-k, which DuckDB recomputes
    * ([[SavedIngestOracle]]). `search` gets (loaded index, queries,
    * vectors, shortlist). */
  private def savedIngestGate[I](s: SparkSession, d: String, tag: String,
      build: (DataFrame, Int) => I, enc: I => DataFrame,
      withCodes: (I, DataFrame, Long) => I, save: (I, String) => Unit,
      append: (String, DataFrame) => Unit, load: String => I,
      search: (I, DataFrame, DataFrame, Int) => DataFrame): DataFrame = {
    val (ep, sub) = publishEmbeddingsAll(s, d)
    val emb = Tables.load(s, d, "embeddings")
    val n = emb.count()
    val cap = math.max(50L, (n + 3) / 4)
    val nlist = math.max(2, graft.api.Graft.deriveNlist(n))
    // iters = 1 (exactness oracle — see s17); the codes frame pins
    // once so the seed write and both sides of (a) read the
    // materialized codes instead of re-running the encode pass
    val built = build(emb, nlist)
    val codes = enc(built).localCheckpoint(true)
    val dir = Files.createTempDirectory(s"graft-$tag-idx").toString
    val seed = codes.filter(col("vec_id") < 40)
    save(withCodes(built, seed, seed.count()), dir)
    // snapshot the seed code files: appends may only ADD files
    // (resolve the live generation — the save layout is
    // generational since r14)
    def codeFiles(): Map[String, Long] = {
      def walk(f: java.io.File): Seq[java.io.File] =
        if (f.isDirectory) f.listFiles().toSeq.flatMap(walk)
        else Seq(f)
      walk(new java.io.File(
        s"${graft.api.Graft.resolveIndexTree(s, dir)}/codes.parquet"))
        .filter(_.getName.endsWith(".parquet"))
        .map(f => f.getPath -> f.length()).toMap
    }
    val seedFiles = codeFiles()
    val sizes =
      new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val q = cappedSourceDF(s, ep, sub, cap)
      .selectExpr(
        "CAST(attributes['vec_id'] AS BIGINT) AS vec_id",
        "transform(split(CAST(data AS STRING), ','), " +
          "x -> CAST(x AS FLOAT)) AS embedding")
      .filter(col("vec_id") >= 40)
      .writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        sizes.add(batch.count())
        append(dir, batch)
      }
      .option("checkpointLocation", tmpCheckpoint(s"graft-$tag"))
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(300000)
    val after = codeFiles()
    val seedIntact = seedFiles.forall { case (p, len) =>
      after.get(p).contains(len) }
    val loaded = load(dir)
    val nIndexed = enc(loaded).count()
    import scala.jdk.CollectionConverters._
    val sz = sizes.asScala.toSeq
    require(nIndexed == n && sz.forall(_ <= cap),
      s"$tag ingest broke: indexed $nIndexed of $n over batches $sz " +
        s"(cap $cap)")
    // (a) grown codes == batch-built codes, row for row: multiset
    // equality via ONE tagged-union aggregation (sum of +1/-1 tags
    // zero for every row group) — exact like the r15 two-way
    // exceptAll but one shuffle + one action instead of two of each
    val cols = codes.columns.toSeq
    val grown = enc(loaded).drop("bucket")
    val codesMatch = grown.select(cols.map(col): _*)
      .withColumn("__t", lit(1L))
      .unionAll(codes.withColumn("__t", lit(-1L)))
      .groupBy(cols.map(col): _*).agg(sum("__t").as("__d"))
      .filter(col("__d") =!= 0L).isEmpty
    val queries = emb.filter(col("vec_id") < 40)
      .select(col("vec_id").as("query_id"), col("embedding"))
    val res = search(loaded, queries, emb, math.max(5, n.toInt))
      .select(col("query_id"), col("neighbor_id"), col("rnk"),
        round(col("cos"), 4).as("cos"))
      .withColumn("codes_match", lit(codesMatch))
      .withColumn("seed_intact", lit(seedIntact))
      .withColumn("n_indexed", lit(nIndexed))
      .orderBy("query_id", "rnk")
    val rows = res.collect()
    val out = s.createDataFrame(
      java.util.Arrays.asList(rows: _*), res.schema)
    deleteRecursively(new java.io.File(dir))
    out
  }

  /** [[savedIngestGate]]'s oracle: the exact cosine top-5 of the first
    * 40 embeddings over the whole table, plus the three gate flags. */
  private val SavedIngestOracle =
    "WITH nn AS (SELECT vec_id, embedding, " +
      "sqrt(list_sum(list_transform(list_zip(embedding, embedding), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)))) AS nrm " +
      "FROM embeddings), " +
      "p AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, " +
      "list_sum(list_transform(list_zip(a.embedding, b.embedding), " +
      "x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE))) / " +
      "(a.nrm * b.nrm) AS cos FROM nn a JOIN nn b " +
      "ON a.vec_id < 40 AND a.vec_id <> b.vec_id), " +
      "r AS (SELECT query_id, neighbor_id, cos, ROW_NUMBER() OVER " +
      "(PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rnk " +
      "FROM p) SELECT query_id, neighbor_id, " +
      "CAST(rnk AS BIGINT) AS rnk, ROUND(cos, 4) AS cos, " +
      "true AS codes_match, true AS seed_intact, " +
      "(SELECT COUNT(*) FROM embeddings) AS n_indexed " +
      "FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"

  val defs: Seq[Q] = Seq(

    Q("p01_stream_roundtrip",
      // B1's canonical CAST(data AS STRING) idiom + attribute access, then
      // a batch aggregate over what actually came through the stream.
      (s, d) => {
        val (ep, sub) = publishEvents(s, d)
        val sunk = drain(sourceDF(s, ep, sub).selectExpr(
          "CAST(data AS STRING) AS event_type",
          "CAST(attributes['value'] AS DOUBLE) AS value"), "append")
        sunk.groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sv " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    Q("p02_stream_window",
      // Streaming tumbling-window aggregation with a watermark (B5).
      (s, d) => {
        val (ep, sub) = publishEvents(s, d)
        val parsed = sourceDF(s, ep, sub).selectExpr(
          "CAST(data AS STRING) AS event_type",
          "timestamp_micros(CAST(attributes['ts'] AS BIGINT)) AS ts",
          "CAST(attributes['value'] AS DOUBLE) AS value")
        val windowed = parsed
          .withWatermark("ts", "10 seconds")
          .groupBy(window(col("ts"), "1 hour"), col("event_type"))
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
        drain(windowed, "complete")
          .select(
            date_format(col("window.start"), "yyyy-MM-dd HH:mm:ss")
              .as("hour_start"),
            col("event_type"), col("cnt"), col("sv"))
          .orderBy("hour_start", "event_type")
      },
      Some("SELECT CAST(date_trunc('hour', ts) AS VARCHAR) AS hour_start, " +
        "event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sv " +
        "FROM events GROUP BY 1, 2 ORDER BY hour_start, event_type")),

    Q("p03_stream_dedup",
      // Streaming dropDuplicates over redelivered/duplicated messages
      // (B6): every event is published twice; exactly one copy survives.
      (s, d) => {
        val (ep, sub) = publishEvents(s, d, copies = 2)
        val deduped = sourceDF(s, ep, sub)
          .selectExpr("attributes['eid'] AS eid")
          .dropDuplicates("eid")
        drain(deduped, "append")
          .agg(count(lit(1)).as("cnt"))
      },
      Some("SELECT COUNT(*) AS cnt FROM events")),

    Q("p08_stream_dedup_watermark",
      // Bounded-state streaming dedup: p03's dropDuplicates keeps every
      // key seen forever (state grows without bound on an unbounded
      // stream); dropDuplicatesWithinWatermark expires dedup state once
      // the event-time watermark passes, which is the only shape that
      // holds at 100 TB/stream. The fixture publishes every event twice
      // with the same event time, so duplicates always land inside the
      // watermark and the result is exact.
      (s, d) => {
        val (ep, sub) = publishEvents(s, d, copies = 2)
        val deduped = sourceDF(s, ep, sub)
          .selectExpr(
            "attributes['eid'] AS eid",
            "timestamp_micros(CAST(attributes['ts'] AS BIGINT)) AS ts")
          .withWatermark("ts", "10 seconds")
          .dropDuplicatesWithinWatermark("eid")
        drain(deduped.select("eid"), "append")
          .agg(count(lit(1)).as("cnt"))
      },
      Some("SELECT COUNT(*) AS cnt FROM events")),

    Q("p04_stateful_counts",
      // Custom stateful streaming operator (flatMapGroupsWithState): a
      // per-user running event counter. Each batch emits the per-user
      // increment, so the post-hoc sum equals the total regardless of how
      // the stream was micro-batched; the GroupState carries the running
      // total across batches.
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
        val (ep, sub) = publishEvents(s, d)
        val uids = sourceDF(s, ep, sub)
          .selectExpr("CAST(attributes['uid'] AS BIGINT) AS uid")
          .as[Long]
        val increments = uids.groupByKey(identity)
          .flatMapGroupsWithState(OutputMode.Append(),
            GroupStateTimeout.NoTimeout()) {
            (uid: Long, rows: Iterator[Long], state: GroupState[Long]) =>
              val inc = rows.size.toLong
              state.update(state.getOption.getOrElse(0L) + inc)
              Iterator((uid, inc))
          }
          .toDF("user_id", "inc")
        drain(increments, "append")
          .groupBy("user_id")
          .agg(sum("inc").as("n_events"))
          .orderBy("user_id")
      },
      Some("SELECT user_id, COUNT(*) AS n_events FROM events " +
        "GROUP BY user_id ORDER BY user_id")),

    Q("p05_stream_static_join",
      // Stream-static join: the live stream enriches against a broadcast
      // dimension table INSIDE the streaming plan (the standard dimension
      // -enrichment shape — at scale the static side is broadcast to every
      // executor once, not re-shuffled per micro-batch). The post-drain
      // batch aggregate then matches the oracle's plain join.
      (s, d) => {
        val (ep, sub) = publishEvents(s, d)
        val cust = broadcast(Tables.load(s, d, "customer")
          .select(col("c_custkey"), col("c_mktsegment")))
        val joined = sourceDF(s, ep, sub)
          .selectExpr("CAST(attributes['uid'] AS BIGINT) AS user_id",
            "CAST(attributes['value'] AS DOUBLE) AS value")
          .join(cust, col("user_id") === col("c_custkey"))
        drain(joined, "append")
          .groupBy("c_mktsegment")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
          .orderBy("c_mktsegment")
      },
      Some("SELECT c_mktsegment, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sv " +
        "FROM events JOIN customer ON user_id = c_custkey " +
        "GROUP BY c_mktsegment ORDER BY c_mktsegment")),

    Q("p06_sink_roundtrip",
      // Source AND sink in one gate query: stream from the subscription,
      // relay through the DSv2 pubsub sink to a second topic, then stream
      // the relayed copy back and aggregate. The sink's executor-side
      // publish, the broker's per-ordinal dedup of ordered publishes
      // (`publishOrdered`) and schema validation are all on the
      // hash-checked path.
      (s, d) => {
        val (ep, sub) = publishEvents(s, d)
        val b = EmbeddedBroker.get(ep)
        val relayTopic = "projects/p/topics/relay"
        b.createTopic(relayTopic)
        val relaySub = s"relay-sub-${UUID.randomUUID().toString.take(8)}"
        b.createSubscription(s"projects/p/subscriptions/$relaySub", relayTopic)
        val q = sourceDF(s, ep, sub).select(col("data"), col("attributes"))
          .writeStream.format("pubsub")
          .option("project_id", "p")
          .option("topic", "relay")
          .option("endpoint", ep)
          .option("checkpointLocation", tmpCheckpoint("graft-relay"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        val sunk = drain(sourceDF(s, ep, relaySub).selectExpr(
          "CAST(data AS STRING) AS event_type",
          "CAST(attributes['value'] AS DOUBLE) AS value"), "append")
        sunk.groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sv " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    Q("p07_stream_stream_join",
      // Watermarked stream-stream inner join: the error stream joins the
      // click stream (a SECOND subscription of the same topic) per user
      // within a 6-hour lookback. Both sides carry watermarks AND the
      // join predicate carries the time-range bound — that pair is what
      // lets Spark size and expire the join state instead of buffering
      // both streams forever, the only shape that survives an unbounded
      // stream at scale.
      (s, d) => {
        val (ep, subE) = publishEvents(s, d)
        val (_, subC) = publishEvents(s, d) // same topic, own subscription
        def side(sub: String, prefix: String) =
          sourceDF(s, ep, sub).selectExpr(
            "CAST(data AS STRING) AS et",
            s"timestamp_micros(CAST(attributes['ts'] AS BIGINT)) AS ${prefix}_ts",
            s"CAST(attributes['uid'] AS BIGINT) AS ${prefix}_uid")
        val errors = side(subE, "e").filter(col("et") === "error").drop("et")
          .withWatermark("e_ts", "10 seconds")
        val clicks = side(subC, "c").filter(col("et") === "click").drop("et")
          .withWatermark("c_ts", "10 seconds")
        val joined = errors.join(clicks, expr(
          "e_uid = c_uid AND c_ts >= e_ts - INTERVAL 6 HOURS AND c_ts <= e_ts"))
        drain(joined.select(col("e_uid")), "append")
          .groupBy(col("e_uid").as("user_id"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy("user_id")
      },
      Some("SELECT e.user_id AS user_id, COUNT(*) AS n_pairs " +
        "FROM events e JOIN events c ON e.user_id = c.user_id " +
        "AND c.ts >= e.ts - INTERVAL 6 HOUR AND c.ts <= e.ts " +
        "WHERE e.event_type = 'error' AND c.event_type = 'click' " +
        "GROUP BY 1 ORDER BY user_id")),

    Q("p11_stream_stream_left_join",
      // Watermarked stream-stream LEFT OUTER join: like p07 but unmatched
      // errors must ALSO emit, with null click columns. Outer rows only
      // materialize when the watermark passes the point where a match is
      // no longer possible (e_ts here, since c_ts <= e_ts) — which happens
      // in the trailing AvailableNow batch, whose watermark derives from
      // the final data batch's max event time. Errors inside the last
      // watermark-delay of event time would stay withheld in state, so the
      // error side is cut 30 s (3x the delay) before the fixture's max
      // event time; the oracle applies the identical cutoff via a scalar
      // subquery. The join state itself stays bounded by the watermark +
      // time-range pair exactly as in p07.
      (s, d) => {
        val (ep, subE) = publishEvents(s, d)
        val (_, subC) = publishEvents(s, d) // same topic, own subscription
        // The cutoff must sit under the join's final watermark, and the
        // watermark each side actually reaches is its own max event time
        // minus the delay — Catalyst pushes the event-type filters below
        // the EventTimeWatermark nodes, so each side's watermark derives
        // from the FILTERED rows (an e_ts <= cutoff filter anywhere in
        // the streaming plan gets pushed down too and pins the watermark
        // at cutoff-10s, permanently withholding the newest kept errors).
        // So: no cutoff inside the stream at all — the stream emits every
        // matched row eagerly and evicts unmatched errors up to
        // min(maxErrorTs, maxClickTs) - 10s in the trailing AvailableNow
        // batch; the cutoff (same min - 30s, 3x the delay) is applied as
        // a BATCH filter after the drain, keeping only rows the stream
        // deterministically emitted. The oracle applies the identical
        // cutoff via LEAST of two scalar subqueries.
        val cutoffMicros = Tables.load(s, d, "events")
          .filter(col("event_type").isin("error", "click"))
          .groupBy("event_type").agg(max(expr("unix_micros(ts)")).as("m"))
          .agg(min("m")).head().getLong(0) - 30000000L
        def side(sub: String, prefix: String) =
          sourceDF(s, ep, sub).selectExpr(
            "CAST(data AS STRING) AS et",
            s"timestamp_micros(CAST(attributes['ts'] AS BIGINT)) AS ${prefix}_ts",
            s"CAST(attributes['uid'] AS BIGINT) AS ${prefix}_uid")
        val errors = side(subE, "e")
          .withWatermark("e_ts", "10 seconds")
          .filter(col("et") === "error").drop("et")
        val clicks = side(subC, "c")
          .withWatermark("c_ts", "10 seconds")
          .filter(col("et") === "click").drop("et")
        val joined = errors.join(clicks, expr(
          "e_uid = c_uid AND c_ts >= e_ts - INTERVAL 6 HOURS AND c_ts <= e_ts"),
          "left_outer")
        drain(joined.select(col("e_uid"), col("e_ts"), col("c_uid")), "append")
          .filter(col("e_ts") <= timestamp_micros(lit(cutoffMicros)))
          .groupBy(col("e_uid").as("user_id"))
          .agg(count(lit(1)).as("n_rows"), count(col("c_uid")).as("n_matched"))
          .orderBy("user_id")
      },
      Some("SELECT e.user_id AS user_id, COUNT(*) AS n_rows, " +
        "COUNT(c.user_id) AS n_matched " +
        "FROM (SELECT * FROM events WHERE event_type = 'error' AND " +
        "ts <= LEAST(" +
        "(SELECT MAX(ts) FROM events WHERE event_type = 'error'), " +
        "(SELECT MAX(ts) FROM events WHERE event_type = 'click')) " +
        "- INTERVAL 30 SECOND) e " +
        "LEFT JOIN (SELECT * FROM events WHERE event_type = 'click') c " +
        "ON e.user_id = c.user_id " +
        "AND c.ts >= e.ts - INTERVAL 6 HOUR AND c.ts <= e.ts " +
        "GROUP BY 1 ORDER BY user_id")),

    Q("p12_stream_session_window",
      // Streaming sessionization: Spark's native session_window with a
      // 10-minute inactivity gap under a watermark, append mode — the
      // streaming twin of a25's batch gaps-and-islands. A session emits
      // once the watermark passes its end (last event + gap), so sessions
      // in the final stretch of event time are still open when
      // AvailableNow stops; as in p11 the cutoff (session end <=
      // max event time - 30 s) runs as a BATCH filter after the drain —
      // inside the plan it would be pushed below the watermark node and
      // pin the watermark under itself. The oracle rebuilds the same
      // sessions with window SQL and applies the identical cutoff.
      (s, d) => {
        val (ep, sub) = publishEvents(s, d)
        val maxTsMicros = Tables.load(s, d, "events")
          .agg(max(expr("unix_micros(ts)"))).head().getLong(0)
        val parsed = sourceDF(s, ep, sub).selectExpr(
          "timestamp_micros(CAST(attributes['ts'] AS BIGINT)) AS ts",
          "CAST(attributes['uid'] AS BIGINT) AS user_id")
          .withWatermark("ts", "10 seconds")
        val sessions = parsed
          .groupBy(col("user_id"), session_window(col("ts"), "10 minutes"))
          .agg(count(lit(1)).as("cnt"))
          .select(col("user_id"),
            col("session_window.start").as("ws"),
            col("session_window.end").as("we"), col("cnt"))
        drain(sessions, "append")
          .filter(expr("unix_micros(we)") <= maxTsMicros - 30000000L)
          .select(col("user_id"),
            expr("unix_micros(ws)").as("session_start"), col("cnt"))
          .orderBy("user_id", "session_start")
      },
      Some("WITH o AS (SELECT user_id, ts, CASE WHEN " +
        "LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL OR " +
        "ts - LAG(ts) OVER (PARTITION BY user_id ORDER BY ts) >= " +
        "INTERVAL 10 MINUTE THEN 1 ELSE 0 END AS brk FROM events), " +
        "g AS (SELECT user_id, ts, SUM(brk) OVER (PARTITION BY user_id " +
        "ORDER BY ts ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) " +
        "AS grp FROM o), " +
        "sess AS (SELECT user_id, MIN(ts) AS st, MAX(ts) AS en, " +
        "COUNT(*) AS cnt FROM g GROUP BY user_id, grp) " +
        "SELECT user_id, CAST(epoch_us(st) AS BIGINT) AS session_start, " +
        "cnt FROM sess " +
        "WHERE en + INTERVAL 10 MINUTE <= " +
        "(SELECT MAX(ts) FROM events) - INTERVAL 30 SECOND " +
        "ORDER BY user_id, session_start")),

    Q("p10_transform_with_state",
      // Spark 4's transformWithState — the successor to
      // flatMapGroupsWithState (p04): typed per-key ValueState managed by
      // a StatefulProcessor, running on the RocksDB state store provider
      // (disk-backed + changelog-checkpointed, the store that actually
      // holds 100 TB-scale state; the default HDFS-backed store keeps
      // every key on-heap). Emits per-batch increments like p04, so the
      // post-hoc sum is batching-invariant.
      (s, d) => {
        import s.implicits._
        import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
        val (ep, sub) = publishEvents(s, d)
        val uids = sourceDF(s, ep, sub)
          .selectExpr("CAST(attributes['uid'] AS BIGINT) AS uid")
          .as[Long]
        val increments = uids.groupByKey(identity)
          .transformWithState(new UserEventCounter,
            TimeMode.None(), OutputMode.Append())
          .toDF("user_id", "inc")
        val prevProvider =
          s.conf.getOption("spark.sql.streaming.stateStore.providerClass")
        val sunk =
          try {
            s.conf.set("spark.sql.streaming.stateStore.providerClass",
              "org.apache.spark.sql.execution.streaming.state." +
                "RocksDBStateStoreProvider")
            drain(increments, "append")
          } finally prevProvider match {
            case Some(p) => s.conf.set(
              "spark.sql.streaming.stateStore.providerClass", p)
            case None => s.conf.unset(
              "spark.sql.streaming.stateStore.providerClass")
          }
        sunk.groupBy("user_id")
          .agg(sum("inc").as("n_events"))
          .orderBy("user_id")
      },
      Some("SELECT user_id, COUNT(*) AS n_events FROM events " +
        "GROUP BY user_id ORDER BY user_id")),

    Q("p09_foreachbatch_fanout",
      // The reference's documented multi-sink recipe (README.md:131):
      // foreachBatch fans one micro-batch out to two sinks. The batch
      // DataFrame is deliberately NOT persisted, so each sink triggers
      // its own evaluation of the source — the replay cache must hand
      // both the identical row set (the reference's show()+count()
      // determinism test, PubsubConnectorTest.scala:141-145, as a
      // hash-checked gate query). The fan-out writes raw rows to one
      // parquet sink and pre-aggregated rows to another; the result
      // re-aggregates sink 1 and cross-checks sink 2 against it.
      (s, d) => {
        val (ep, sub) = publishEvents(s, d)
        val outDir = Files.createTempDirectory("graft-fanout").toString
        val q = sourceDF(s, ep, sub)
          .selectExpr("CAST(data AS STRING) AS event_type",
            "CAST(attributes['value'] AS DOUBLE) AS value")
          .writeStream
          .foreachBatch { (batch: DataFrame, _: Long) =>
            batch.write.mode("append").parquet(s"$outDir/raw")
            batch.groupBy("event_type")
              .agg(count(lit(1)).as("cnt"), sum("value").as("sv"))
              .write.mode("append").parquet(s"$outDir/agg")
          }
          .option("checkpointLocation", tmpCheckpoint("graft-fanout-chk"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        val raw = s.read.parquet(s"$outDir/raw")
          .groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
        // the two sinks must agree — replay determinism made them see
        // the same rows even though each evaluated the source itself
        // (counts exact; sums within float re-association tolerance)
        val aggM = s.read.parquet(s"$outDir/agg")
          .groupBy("event_type")
          .agg(sum("cnt").as("cnt"), round(sum("sv"), 2).as("sv"))
          .collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        val rawM = raw.collect()
          .map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
        require(rawM.keySet == aggM.keySet &&
          rawM.forall { case (k, (c, sv)) =>
            aggM(k)._1 == c && math.abs(aggM(k)._2 - sv) <= 0.011 },
          "foreachBatch sinks diverged: replay determinism broken")
        raw.orderBy("event_type")
      },
      Some("SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sv " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    Q("p13_dynamic_partitioning",
      // Backlog-driven dynamic partitioning end-to-end (reference
      // PubsubSubscriptionMonitor.scala:136-187 feeding
      // PubsubMicroBatchStream.scala:58-74): events carry a skewed region
      // attribute (90/10), the source runs with dynamic_partitioning=true,
      // so the backlog monitor sizes the batch from live backlog counts
      // and the dominant region trips the per-region partition split —
      // each region's partitions pull through its own regional endpoint
      // alias. The require() proves the split path actually planned
      // regional endpoints (a static plan would pass the counts alone);
      // the per-region totals are then exact and DuckDB-checkable because
      // region is a pure function of event_id.
      (s, d) => {
        val (ep, sub) = publishEventsRegional(s, d)
        val src = s.readStream.format("pubsub")
          .option("project_id", "p")
          .option("subscription", sub)
          .option("endpoint", ep)
          .option("dynamic_partitioning", "true")
          .option("max_messages_per_partition", "50000")
          .option("ack_deadline_seconds", "600")
          .load()
        val sunk = drain(src.selectExpr(
          "attributes['region'] AS region",
          "CAST(attributes['value'] AS DOUBLE) AS value"), "append")
        require(EmbeddedBroker.isAliased(s"us-east1-$ep") &&
          EmbeddedBroker.isAliased(s"eu-west1-$ep"),
          "dynamic partitioning did not engage the region split: no " +
            "regional endpoint aliases were planned")
        sunk.groupBy("region")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
          .orderBy("region")
      },
      Some("SELECT CASE WHEN event_id % 10 = 0 THEN 'eu-west1' " +
        "ELSE 'us-east1' END AS region, COUNT(*) AS cnt, " +
        "ROUND(SUM(value), 2) AS sv FROM events GROUP BY 1 " +
        "ORDER BY region")),

    Q("p14_admission_control",
      // ReadLimit-based admission control end-to-end
      // (max_messages_per_trigger -> Spark ReadLimit.maxRows ->
      // per-partition pull budgets): the whole events fixture drains
      // under Trigger.AvailableNow with a per-trigger cap sized to force
      // several micro-batches. Each batch lands in its own parquet
      // partition, so the per-batch sizes are exact; the require() proves
      // the cap bound EVERY batch and that the drain really split into
      // >= ceil(N/cap) of them, then the aggregate over all batches is
      // DuckDB-checkable (complete + exactly-once under the cap).
      (s, d) => {
        val (ep, sub) = publishEvents(s, d)
        val nEvents = Tables.load(s, d, "events").count()
        // >= 4 batches at every fixture scale without making the sf0.1
        // bench pay hundreds of micro-batch round-trips
        val cap = math.max(2500L, nEvents / 4)
        val outDir = Files.createTempDirectory("graft-p14").toString
        val q = cappedSourceDF(s, ep, sub, cap)
          .selectExpr("CAST(data AS STRING) AS event_type",
            "CAST(attributes['value'] AS DOUBLE) AS value")
          .writeStream
          .foreachBatch {
            (ds: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
             id: Long) =>
              ds.write.mode("overwrite").parquet(s"$outDir/batch=$id")
              ()
          }
          .option("checkpointLocation", tmpCheckpoint("graft-p14"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        val all = s.read.option("basePath", outDir)
          .parquet(s"$outDir/batch=*")
        val sizes = all.groupBy("batch").count()
          .collect().map(_.getLong(1))
        require(sizes.forall(_ <= cap),
          s"admission control violated: batch sizes ${sizes.toSeq} " +
            s"exceed the $cap-row trigger cap")
        require(sizes.count(_ > 0) >= (nEvents + cap - 1) / cap,
          s"cap $cap did not split the $nEvents-row drain: " +
            s"batch sizes ${sizes.toSeq}")
        all.groupBy("event_type")
          .agg(count(lit(1)).as("cnt"), round(sum("value"), 2).as("sv"))
          .orderBy("event_type")
      },
      Some("SELECT event_type, COUNT(*) AS cnt, ROUND(SUM(value), 2) AS sv " +
        "FROM events GROUP BY event_type ORDER BY event_type")),

    Q("p15_stream_incremental_dedup",
      // Streaming incremental dedup — the LLM pipeline's actual
      // ingestion shape (the reference's foreachBatch recipe,
      // README.md:131, meets graft.api.Graft.incrementalDedup): each
      // micro-batch of arriving documents dedups against the GROWING
      // digest index, batch verdicts land in per-batch parquet, and the
      // batch's kept rows append to the index before the next batch
      // plans. The index is a digest-BUCKETED table, so every probe
      // join co-locates on the index side: the corpus-sized index never
      // reshuffles for a shard-sized batch (the require below puts that
      // plan property on the hash-checked path, b07-style). Documents
      // arrive in doc_id order under a per-trigger admission cap, so
      // batch membership — and with it every kept/dup_in_batch/
      // dup_of_index verdict — is deterministic and the DuckDB oracle
      // reconstructs all of it relationally.
      (s, d) => {
        val (ep, sub) = publishDocumentsSorted(s, d)
        val nDocs = Tables.load(s, d, "documents").count()
        val cap = math.max(50L, (nDocs + 3) / 4)
        val outDir = Files.createTempDirectory("graft-p15").toString
        val idxDir = Files.createTempDirectory("graft-p15-idx").toString
        val idxTbl = s"p15_idx_${UUID.randomUUID().toString.take(8)}"
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("digest", StringType),
            StructField("keep_id", LongType))))
          .write.bucketBy(8, "digest").sortBy("digest")
          .option("path", s"$idxDir/t").saveAsTable(idxTbl)
        val q = cappedSourceDF(s, ep, sub, cap)
          .selectExpr("CAST(attributes['doc_id'] AS BIGINT) AS doc_id",
            "CAST(data AS STRING) AS text")
          .writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val sess = batch.sparkSession
            // bust the file-listing cache: earlier batches appended
            sess.catalog.refreshTable(idxTbl)
            graft.api.Graft
              .incrementalDedup(batch, "doc_id", "text", sess.table(idxTbl))
              .write.mode("overwrite").parquet(s"$outDir/batch=$id")
            // append this batch's kept rows from the WRITTEN verdicts
            // (the index must not mutate under the verdict evaluation)
            sess.read.parquet(s"$outDir/batch=$id")
              .filter(col("status") === "kept")
              .select(col("digest"), col("doc_id").as("keep_id"))
              .write.mode("append").bucketBy(8, "digest").sortBy("digest")
              .option("path", s"$idxDir/t").saveAsTable(idxTbl)
            ()
          }
          .option("checkpointLocation", tmpCheckpoint("graft-p15"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        val all = s.read.option("basePath", outDir)
          .parquet(s"$outDir/batch=*")
        val sizes = all.groupBy("batch").count().collect().map(_.getLong(1))
        require(sizes.forall(_ <= cap) &&
          sizes.count(_ > 0) == (nDocs + cap - 1) / cap,
          s"p15 batching broke: sizes ${sizes.toSeq} vs cap $cap over " +
            s"$nDocs docs")
        // The scale property itself, on the checked path: probing the
        // bucketed index joins WITHOUT an index-side Exchange (the one
        // Exchange in the probe plan is the shard side hashing into the
        // index's bucket layout).
        val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          s.catalog.refreshTable(idxTbl)
          val plan = all.select("digest")
            .join(s.table(idxTbl), Seq("digest"), "left")
            .queryExecution.explainString(
              org.apache.spark.sql.execution.FormattedMode)
          require(plan.contains("SortMergeJoin") &&
            plan.contains("Bucketed: true") &&
            """\(\d+\) Exchange""".r.findAllIn(plan).size == 1,
            "index probe is not co-located: the bucketed index side " +
              "reshuffled")
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        all.select(col("doc_id"), col("digest"), col("status"),
          col("dup_of")).orderBy("doc_id")
      },
      // The oracle reconstructs the stream: batch k = k-th cap-sized
      // doc_id range (sorted single-task publish + admission cap); the
      // global min doc_id of a digest is always in that digest's FIRST
      // batch, so the keeper is the global min and the verdict depends
      // only on whether a doc shares the keeper's batch.
      Some("WITH d AS (SELECT doc_id, sha256(text) AS digest " +
        "FROM documents), " +
        "n AS (SELECT GREATEST(50, CAST(CEIL(COUNT(*) / 4.0) AS BIGINT)) " +
        "AS cap FROM d), " +
        "r AS (SELECT doc_id, digest, CAST(FLOOR((ROW_NUMBER() OVER " +
        "(ORDER BY doc_id) - 1) / cap) AS BIGINT) AS batch FROM d, n), " +
        "k AS (SELECT digest, MIN(doc_id) AS keeper FROM r " +
        "GROUP BY digest), " +
        "kb AS (SELECT r.digest, r.batch AS kbatch, k.keeper FROM r " +
        "JOIN k ON r.doc_id = k.keeper) " +
        "SELECT r.doc_id, r.digest, " +
        "CASE WHEN r.doc_id = kb.keeper THEN 'kept' " +
        "WHEN r.batch = kb.kbatch THEN 'dup_in_batch' " +
        "ELSE 'dup_of_index' END AS status, " +
        "CASE WHEN r.doc_id = kb.keeper THEN NULL ELSE kb.keeper END " +
        "AS dup_of " +
        "FROM r JOIN kb ON r.digest = kb.digest ORDER BY r.doc_id")),

    Q("b03_json_scalar",
      // JSON scalar extraction over events.props (B3).
      (s, d) => Tables.load(s, d, "events")
        .select(col("event_id"),
          get_json_object(col("props"), "$.k").cast("bigint").as("k"))
        .orderBy("event_id"),
      Some("SELECT event_id, CAST(json_extract_string(props, '$.k') " +
        "AS BIGINT) AS k FROM events ORDER BY event_id")),

    Q("b04_array_ops",
      // Array surface over embeddings (B4): size, element access, slice
      // aggregation — double-cast before arithmetic for oracle parity.
      (s, d) => Tables.load(s, d, "embeddings")
        .select(col("vec_id"),
          size(col("embedding")).cast("bigint").as("dim"),
          round(element_at(col("embedding"), 1).cast("double"), 4).as("e1"),
          round(expr("aggregate(slice(embedding, 1, 8), CAST(0 AS DOUBLE), " +
            "(acc, x) -> acc + CAST(x AS DOUBLE))"), 4).as("s8"))
        .orderBy("vec_id"),
      Some("SELECT vec_id, len(embedding) AS dim, " +
        "ROUND(CAST(embedding[1] AS DOUBLE), 4) AS e1, " +
        "ROUND(list_sum(list_transform(embedding[1:8], " +
        "x -> CAST(x AS DOUBLE))), 4) AS s8 " +
        "FROM embeddings ORDER BY vec_id")),

    Q("b06_map_ops",
      // Map-column surface (B2 beyond the stream's attributes map):
      // parse events.props into MAP<STRING,STRING>, then key listing,
      // cardinality, and typed element access — per-row map work,
      // codegen'd, no shuffle before the output sort.
      (s, d) => Tables.load(s, d, "events")
        .select(col("event_id"),
          from_json(col("props"), MapType(StringType, StringType))
            .as("m"))
        .select(col("event_id"),
          size(col("m")).cast("bigint").as("n_keys"),
          array_join(array_sort(map_keys(col("m"))), ",").as("keys_sorted"),
          element_at(col("m"), "k").cast("bigint").as("kval"))
        .orderBy("event_id"),
      Some("SELECT event_id, " +
        "CAST(len(json_keys(props)) AS BIGINT) AS n_keys, " +
        "array_to_string(list_sort(json_keys(props)), ',') AS keys_sorted, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS kval " +
        "FROM events ORDER BY event_id")),

    Q("b07_bucketed_join",
      // Bucketed co-located fact-to-fact join: both sides pre-hash into
      // the same bucket count on the join key, so the join runs
      // bucket-to-bucket with NO Exchange — at 100 TB this is the
      // difference between a partition-local merge and a full-cluster
      // shuffle of both fact tables every nightly run. The require()
      // puts the no-shuffle property itself on the hash-checked path
      // (checked with broadcast disabled, since the fixture-sized dim
      // would otherwise broadcast and hide a missing co-location); the
      // aggregate result is oracle-checked against the plain join.
      (s, d) => {
        // bucketed copies build ONCE per (session, fixture dir) — a
        // fresh UUID per call would leak a full lineitem+orders copy
        // and two catalog tables every bench rep / gate re-run
        val (liTbl, ordTbl) = StreamingOps.synchronized {
          bucketedTables.getOrElseUpdate(d, {
            // session-unique tag: abs(hashCode) can collide across
            // distinct dirs (and abs(Int.MinValue) is negative), which
            // would fail the second saveAsTable with "already exists"
            val tag = s"${bucketedTables.size}"
            val dir = Files.createTempDirectory("graft-bucket").toString
            Tables.load(s, d, "lineitem")
              .select("l_orderkey", "l_extendedprice")
              .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
              .option("path", s"$dir/li").saveAsTable(s"li_bkt_$tag")
            Tables.load(s, d, "orders")
              .select("o_orderkey", "o_orderstatus")
              .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
              .option("path", s"$dir/ord").saveAsTable(s"ord_bkt_$tag")
            (s"li_bkt_$tag", s"ord_bkt_$tag")
          })
        }
        val joined = s.table(liTbl)
          .join(s.table(ordTbl),
            col("l_orderkey") === col("o_orderkey"))
        val prev = s.conf.get("spark.sql.autoBroadcastJoinThreshold")
        try {
          s.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
          val plan = joined.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          require(plan.contains("SortMergeJoin") &&
            !plan.contains("Exchange"),
            "bucketed join is not co-located: plan has a shuffle")
        } finally s.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        joined.groupBy("o_orderstatus")
          .agg(count(lit(1)).as("cnt"),
            round(sum("l_extendedprice"), 2).as("rev"))
          .orderBy("o_orderstatus")
      },
      Some("SELECT o_orderstatus, COUNT(*) AS cnt, " +
        "ROUND(SUM(l_extendedprice), 2) AS rev " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey " +
        "GROUP BY 1 ORDER BY 1")),

    Q("b05_partitioned_write",
      // Partitioned-parquet output round-trip: the layout a training-data
      // pipeline actually ships (hive-style lang=<v> directories so
      // downstream readers partition-prune instead of scanning 100 TB).
      // Writes with partitionBy, reads back through the pruned layout,
      // and aggregates — write path + partition discovery are both on the
      // hash-checked path.
      (s, d) => {
        val out = Files.createTempDirectory("graft-pwrite").toString
        Tables.load(s, d, "documents")
          .write.mode("overwrite").partitionBy("lang").parquet(out)
        s.read.parquet(out)
          .groupBy("lang")
          .agg(count(lit(1)).as("cnt"), sum("n_chars").as("total_chars"))
          .orderBy("lang")
      },
      Some("SELECT lang, COUNT(*) AS cnt, CAST(SUM(n_chars) AS BIGINT) " +
        "AS total_chars FROM documents GROUP BY lang ORDER BY lang")),

    Q("p16_stream_ann",
      // Streaming similarity search — the online-retrieval shape of a
      // training-data pipeline (embedding queries arrive continuously;
      // the index is batch-built): query vectors stream through the
      // pubsub source under an admission cap and every micro-batch
      // probes a STATIC label-IVF index materialized ONCE before the
      // stream starts (localCheckpoint here; a bucketed table on a
      // cluster — index build is batch work, the stream only probes).
      // Per batch the probe is Vector.ivfProbeSearch: the tiny query
      // batch broadcasts against the centroid table, candidates come
      // from the list-id equi-join into the materialized index, exact
      // cosine rerank — no index rebuild, no corpus shuffle per batch.
      // Each query's top-k is independent of batching, so the union of
      // per-batch listings is deterministic, and the gate row is the
      // per-query structural contract (annContract) the s-family uses —
      // DuckDB recomputes the expected contract row for every streamed
      // query. Vectors round-trip the broker bit-exactly (Float.toString
      // -> CAST AS FLOAT).
      (s, d) => {
        val nQ = 40
        val (ep, sub) = publishEmbeddingQueries(s, d, nQ)
        val emb = Tables.load(s, d, "embeddings")
        val centroids = Vector.labelCentroids(emb).localCheckpoint(true)
        val listed = graft.api.Graft
          .normalized(emb, "vec_id", "embedding")
          .join(emb.select(col("vec_id"), col("label").as("list_id")),
            "vec_id")
          .localCheckpoint(true)
        val outDir = Files.createTempDirectory("graft-p16").toString
        val q = cappedSourceDF(s, ep, sub, 10)
          .selectExpr(
            "CAST(attributes['vec_id'] AS BIGINT) AS query_id",
            "transform(split(CAST(data AS STRING), ','), " +
              "x -> CAST(x AS FLOAT)) AS qe")
          .writeStream
          .foreachBatch { (batch: DataFrame, id: Long) =>
            val qn = batch.withColumn("qn",
              sqrt(graft.functions.VectorExpressions
                .dotF32(col("qe"), col("qe"))))
              .select(col("query_id"), col("qe"), col("qn"))
            Vector.ivfProbeSearch(qn, listed, centroids,
                nProbe = 4, k = 5)
              .write.mode("overwrite").parquet(s"$outDir/batch=$id")
            ()
          }
          .option("checkpointLocation", tmpCheckpoint("graft-p16"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        // the stream has terminated, so the checkpointed static index is
        // no longer readable by anything — release its blocks NOW (r9
        // review: eager localCheckpoints with no unpersist leaked one
        // index copy per bench/verify rep until session end)
        ListingCache.release(listed)
        ListingCache.release(centroids)
        val all = s.read.option("basePath", outDir)
          .parquet(s"$outDir/batch=*")
        // the admission cap actually sliced the stream into micro-batches
        val nBatches = all.select("batch").distinct().count()
        require(nBatches == (nQ + 9) / 10,
          s"p16 batching broke: $nBatches batches over $nQ queries")
        val contract = Vector.annContract(
          all.select(col("query_id"), col("neighbor_id"), col("rnk"),
            col("cos")))
        // Materialize the per-query contract rows (nQ rows) so the temp
        // probe-output directory can be deleted before returning instead
        // of accumulating one copy per rep (r9 review) — the same tiny
        // driver-side contract materialization the p04/p10 gates use.
        val rows = contract.collect()
        val out = s.createDataFrame(
          java.util.Arrays.asList(rows: _*), contract.schema)
        deleteRecursively(new java.io.File(outDir))
        out
      },
      Some(Vector.annContractSqlWhere("WHERE vec_id < 40"))),

    Q("p17_stream_ann_ingest",
      // Streaming index MAINTENANCE — the other half of the retrieval
      // deployment p16 covers: there the index is static and queries
      // stream; here the VECTORS stream and the index grows, the Faiss
      // `add` semantics (quantizer frozen — training is batch work on
      // historical data; ingest only assigns + appends). Each
      // micro-batch of arriving vectors is normalized map-side and
      // APPENDED to a list_id-BUCKETED index table (the p15 discipline:
      // the corpus-sized index never reshuffles for a batch-sized
      // append — each append writes its own bucket files), with no
      // rebuild and no corpus shuffle per batch. After the drain the
      // fixed query set probes the fully-ingested table through the
      // same probe+rerank core as s03/s04/p16 — incremental ingest must
      // equal a batch build over the same vectors, so the gate row is
      // the per-query structural contract PLUS the ingested count
      // (DuckDB recomputes both from the embeddings table alone).
      (s, d) => {
        val (ep, sub) = publishEmbeddingsAll(s, d)
        val emb = Tables.load(s, d, "embeddings")
        val n = emb.count()
        val cap = math.max(50L, (n + 3) / 4)
        // frozen coarse quantizer: batch-trained before the stream
        val centroids = Vector.labelCentroids(emb).localCheckpoint(true)
        val idxDir = Files.createTempDirectory("graft-p17-idx").toString
        val idxTbl = s"p17_idx_${UUID.randomUUID().toString.take(8)}"
        s.createDataFrame(s.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          StructType(Seq(StructField("vec_id", LongType),
            StructField("embedding",
              org.apache.spark.sql.types.ArrayType(
                org.apache.spark.sql.types.FloatType)),
            StructField("nrm", org.apache.spark.sql.types.DoubleType),
            StructField("list_id", org.apache.spark.sql.types.IntegerType))))
          .write.bucketBy(8, "list_id").sortBy("list_id")
          .option("path", s"$idxDir/t").saveAsTable(idxTbl)
        val sizes =
          new java.util.concurrent.ConcurrentLinkedQueue[Long]()
        val q = cappedSourceDF(s, ep, sub, cap)
          .selectExpr(
            "CAST(attributes['vec_id'] AS BIGINT) AS vec_id",
            "transform(split(CAST(data AS STRING), ','), " +
              "x -> CAST(x AS FLOAT)) AS embedding",
            "CAST(attributes['label'] AS INT) AS list_id")
          .writeStream
          .foreachBatch {
            // the write path IS the deployment API: assign (upstream-
            // routed here, so no quantizer) + normalize + repartition-
            // by-bucket (each task holds exactly one bucket, an append
            // writes ≤ buckets files — the r12 fragmentation fix) +
            // bucketed append, via Graft.bucketedIndexAppender — the
            // gate drives the exact function a deployment wires into
            // its own writeStream
            val append = graft.api.Graft.bucketedIndexAppender(idxTbl,
              buckets = 8, centroids = None, idCol = "vec_id",
              vecCol = "embedding")
            (batch: DataFrame, id: Long) => {
              sizes.add(batch.count())
              append(batch, id)
            }
          }
          .option("checkpointLocation", tmpCheckpoint("graft-p17"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        s.catalog.refreshTable(idxTbl)
        val listed = s.table(idxTbl)
        val nIndexed = listed.count()
        import scala.jdk.CollectionConverters._
        val sz = sizes.asScala.toSeq
        require(nIndexed == n && sz.forall(_ <= cap) &&
          sz.count(_ > 0) == (n + cap - 1) / cap,
          s"p17 ingest broke: indexed $nIndexed of $n over batches $sz " +
            s"(cap $cap)")
        val queries = listed.filter(col("vec_id") < 40)
          .select(col("vec_id").as("query_id"),
            col("embedding").as("qe"), col("nrm").as("qn"))
        val search = Vector.ivfProbeSearch(queries, listed, centroids,
          nProbe = 4, k = 5)
        // The scale property on the checked path: the ingested index
        // never moves at query time either — the probe side broadcasts
        // into the candidate join, so no Exchange in the search plan
        // hash-partitions on list_id (the shuffles that remain are the
        // bounded nlist-row centroid fold, the rerank window keyed on
        // query_id, and the output sort — all query-sized, never
        // corpus-sized).
        val plan = search.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode)
        require(plan.contains("BroadcastHashJoin") &&
          !plan.contains("hashpartitioning(list_id"),
          "p17 probe plan moved the index: the candidate join must " +
            "broadcast the probes, never reshuffle the ingested table " +
            "on list_id")
        val contract = Vector.annContract(search)
          .withColumn("n_indexed", lit(nIndexed))
        val rows = contract.collect()
        val out = s.createDataFrame(
          java.util.Arrays.asList(rows: _*), contract.schema)
        ListingCache.release(centroids)
        s.sql(s"DROP TABLE IF EXISTS $idxTbl")
        deleteRecursively(new java.io.File(idxDir))
        out
      },
      Some("SELECT vec_id AS query_id, CAST(5 AS BIGINT) AS n_ret, " +
        "CAST(15 AS BIGINT) AS rnk_sum, CAST(5 AS BIGINT) AS n_distinct, " +
        "true AS self_excluded, true AS cos_bounded, true AS ranked_desc, " +
        "(SELECT COUNT(*) FROM embeddings) AS n_indexed " +
        "FROM embeddings WHERE vec_id < 40 ORDER BY query_id")),

    Q("p18_stream_pq_ingest",
      // PQ-CODED streaming ingest (r13 verdict item 4) — p17's growing
      // index for the SAVED IVF-PQ serving layout: the index stores
      // m-byte codes (64x smaller scans), so ingest must encode each
      // arriving batch against the FROZEN trained state (Faiss
      // `IndexIVFPQ.add`: quantizer + codebooks train once on
      // historical data; an append assigns + residual-encodes map-side
      // and appends into the bucket partitions). The gate itself is
      // [[savedIngestGate]], shared with p19.
      (s, d) => savedIngestGate[graft.api.Graft.IvfPqIndex](s, d, "p18",
        build = (emb, nlist) => graft.api.Graft.ivfPqBuild(emb, "vec_id",
          "embedding", dim = 64, nlist = nlist, m = 8, ksub = 16,
          iters = 1),
        enc = _.enc, withCodes = (i, enc, rows) =>
          i.copy(enc = enc, rows = rows),
        save = graft.api.Graft.ivfPqSave(_, _, buckets = 8),
        append = graft.api.Graft.ivfPqAppend(s, _, _, "embedding"),
        load = graft.api.Graft.ivfPqLoad(s, _),
        search = (i, queries, emb, shortlist) =>
          graft.api.Graft.ivfPqSearch(i, queries, "query_id", "embedding",
            emb, "embedding", k = 5, nProbe = i.nlist,
            shortlist = shortlist)),
      Some(SavedIngestOracle)),

    Q("p19_stream_sq_ingest",
      // SQ-CODED streaming ingest (r14 verdict item 2) — p18 for the
      // SAVED IVF-SQ8 layout, the TRAINING-FREE ingest path (the more
      // common one: SQ8's encode has no codebooks, so a frozen-state
      // append is the pure Faiss `IndexIVFScalarQuantizer.add` — only
      // the coarse quantizer is frozen state at all). Same gate, same
      // three properties as p18.
      (s, d) => savedIngestGate[graft.api.Graft.IvfSqIndex](s, d, "p19",
        build = (emb, nlist) => graft.api.Graft.ivfSqBuild(emb, "vec_id",
          "embedding", nlist = nlist, iters = 1),
        enc = _.enc, withCodes = (i, enc, rows) =>
          i.copy(enc = enc, rows = rows),
        save = graft.api.Graft.ivfSqSave(_, _, buckets = 8),
        append = graft.api.Graft.ivfSqAppend(s, _, _, "embedding"),
        load = graft.api.Graft.ivfSqLoad(s, _),
        search = (i, queries, emb, shortlist) =>
          graft.api.Graft.ivfSqSearch(i, queries, "query_id", "embedding",
            emb, "embedding", k = 5, nProbe = i.nlist,
            shortlist = shortlist)),
      Some(SavedIngestOracle)),

    Q("p20_pq_autopilot",
      // The saved-layout AUTOPILOT end-to-end (r14 verdict item 1):
      // a serving deployment wires foreachBatch(ivfPqDirAppender) and
      // the maintenance loop runs itself. The gate seeds a saved
      // IVF-PQ index on a THIRD of the corpus under a sizing rule
      // (vectorsPerList = n/10) whose outgrown trigger must fire
      // mid-stream (at ~2/3 ingested the derived width doubles the
      // built one), streams the remaining two thirds through the
      // appender with maintainEvery = 1, and checks what a faked loop
      // cannot: (a) the generation CHANGED strictly before the last
      // batch (retrain fired unprompted, mid-stream); (b) batches kept
      // appending AFTER the swap and the drained index holds the full
      // corpus (the post-retrain appends landed in the NEW generation —
      // the appender re-resolves the pointer per call); (c) the
      // retrained quantizer is wider than the seed's; (d) a
      // full-coverage FILTERED search (lang = 'en' payload riding the
      // codes through seed build, appends AND the rebuild) returns the
      // exact filtered top-k, which DuckDB recomputes. The raw-vector
      // store grows alongside the codes (each batch appends raw rows
      // to a parquet dir) — the retrain's vectors() supplier reads it,
      // so the rebuild sees exactly the rows ingested so far.
      (s, d) => {
        val (ep, sub) = publishEmbeddingsAll(s, d)
        val emb = Tables.load(s, d, "embeddings")
        val docs = Tables.load(s, d, "documents")
        val full = emb.join(
          docs.select(col("doc_id").as("vec_id"), col("lang")), "vec_id")
        // one pass over the joined corpus for both sizing counts
        // (r16: the n and seed counts each re-ran the emb⋈docs join)
        val cnts = full.agg(count(lit(1)).as("n"),
          sum(when(pmod(col("vec_id"), lit(3)) === 0, 1L)
            .otherwise(0L)).as("nseed")).head()
        val n = cnts.getLong(0)
        val vpl = math.max(1, (n / 10).toInt)
        val seed = full.filter(pmod(col("vec_id"), lit(3)) === 0)
        val nSeed = cnts.getLong(1)
        val nlist0 = math.max(1, (nSeed / vpl).toInt)
        val rawDir = Files.createTempDirectory("graft-p20-raw").toString
        val dir = Files.createTempDirectory("graft-p20-pq").toString
        seed.write.mode("overwrite").parquet(rawDir)
        graft.api.Graft.ivfPqSave(
          graft.api.Graft.ivfPqBuild(seed, "vec_id", "embedding",
            dim = 64, nlist = nlist0, m = 8, ksub = 16, iters = 1,
            payload = Seq("lang")),
          dir, buckets = 8, vectorsPerList = vpl)
        // maintainEvery = 2 over ~4 batches: the outgrown trigger
        // (rows >= 5.5 x vpl) lands on the SECOND tick at every
        // fixture, leaving the last two batches to append post-swap —
        // and the cadence halves the per-tick stats scans vs
        // every-batch (this gate is the suite's most expensive; the
        // cadence is also the realistic deployment shape)
        val appender = graft.api.Graft.ivfPqDirAppender(s, dir,
          "embedding", vectors = () => s.read.parquet(rawDir),
          maintainEvery = 2, iters = 1)
        val cap = math.max(50L, (n + 3) / 4)
        val langByDoc = docs
          .select(col("doc_id").as("vec_id"), col("lang"))
        val gens =
          new java.util.concurrent.ConcurrentLinkedQueue[String]()
        // record the SEED generation first: genSeq[i+1] is then the
        // live generation right after append i, so the first index
        // where it differs from genSeq.head is the append whose
        // maintenance tick retrained
        gens.add(new org.apache.hadoop.fs.Path(
          graft.api.Graft.resolveIndexTree(s, dir)).getName)
        val q = cappedSourceDF(s, ep, sub, cap)
          .selectExpr(
            "CAST(attributes['vec_id'] AS BIGINT) AS vec_id",
            "transform(split(CAST(data AS STRING), ','), " +
              "x -> CAST(x AS FLOAT)) AS embedding")
          .filter(pmod(col("vec_id"), lit(3)) =!= 0)
          .writeStream
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val withLang = batch
              .join(broadcast(langByDoc), "vec_id")
              .select(col("vec_id"), col("embedding"), col("lang"))
              .localCheckpoint(true)
            // the raw store grows FIRST (retrain reads it this tick)
            withLang.write.mode("append").parquet(rawDir)
            appender(withLang, batchId)
            gens.add(new org.apache.hadoop.fs.Path(
              graft.api.Graft.resolveIndexTree(s, dir)).getName)
            ()
          }
          .option("checkpointLocation", tmpCheckpoint("graft-p20"))
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination(300000)
        import scala.jdk.CollectionConverters._
        val genSeq = gens.asScala.toSeq
        val loaded = graft.api.Graft.ivfPqLoad(s, dir)
        val nIndexed = loaded.enc.count()
        // (a) unprompted retrain strictly before the last batch;
        // (b) post-swap batches appended into the new generation
        // (firstChange < size-1 means at least one append ran after
        // the swap; nIndexed == n below proves it landed)
        val firstChange = genSeq.indexWhere(_ != genSeq.head)
        val retrainMidStream =
          firstChange >= 1 && firstChange < genSeq.size - 1
        require(nIndexed == n,
          s"p20 autopilot broke: indexed $nIndexed of $n " +
            s"(generations ${genSeq.distinct.size}: $genSeq)")
        val queries = emb.filter(col("vec_id") < 40)
          .select(col("vec_id").as("query_id"), col("embedding"))
        val search = graft.api.Graft.ivfPqSearch(loaded, queries,
          "query_id", "embedding", emb, "embedding", k = 5,
          nProbe = loaded.nlist, shortlist = math.max(5, n.toInt),
          filter = Some(col("lang") === "en"))
          .select(col("query_id"), col("neighbor_id"), col("rnk"),
            round(col("cos"), 4).as("cos"))
          .withColumn("retrain_mid_stream", lit(retrainMidStream))
          .withColumn("quantizer_grew", lit(loaded.nlist > nlist0))
          .withColumn("n_indexed", lit(nIndexed))
          .orderBy("query_id", "rnk")
        val rows = search.collect()
        val out = s.createDataFrame(
          java.util.Arrays.asList(rows: _*), search.schema)
        deleteRecursively(new java.io.File(dir))
        deleteRecursively(new java.io.File(rawDir))
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
        "true AS retrain_mid_stream, true AS quantizer_grew, " +
        "(SELECT COUNT(*) FROM embeddings e JOIN documents d " +
        "ON e.vec_id = d.doc_id) AS n_indexed " +
        "FROM r WHERE rnk <= 5 ORDER BY query_id, rnk"))
  )
}
