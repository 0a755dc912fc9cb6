package graft.pubsub

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryException, Trigger}
import org.scalatest.BeforeAndAfterEach
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** End-to-end connector tests, mirroring the reference's four integration
  * scenarios (PubsubConnectorTest.scala:117-291) against the in-process
  * broker instead of a Docker emulator:
  *   1. source round-trip (publish 100 -> readStream -> count 100)
  *   2. sink round-trip (readStream -> writeStream -> raw pull)
  *   3. duplicate subscription rejected
  *   4. stream split rejected
  * plus determinism of double evaluation inside foreachBatch, which is
  * what the replay cache exists for (reference README.md:127).
  */
class PubsubConnectorSpec extends AnyFunSuite with Matchers
    with BeforeAndAfterEach {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private var ep: String = _
  private var broker: EmbeddedBroker.Broker = _
  private val Topic = "projects/p/topics/in-topic"
  private val Sub = "projects/p/subscriptions/in-sub"

  override def beforeEach(): Unit = {
    PubsubStreamRegistry.clear()
    ep = s"it-${System.nanoTime()}"
    broker = EmbeddedBroker.get(ep)
    broker.createTopic(Topic)
    broker.createSubscription(Sub, Topic)
  }

  private def publish100(): Unit =
    (0 until 100).foreach(i => broker.publish(Topic,
      s"Test Message: $i".getBytes, Map("key" -> s"value: $i")))

  private def sourceDF = spark.readStream.format("pubsub")
    .option("project_id", "p")
    .option("subscription", "in-sub")
    .option("endpoint", ep)
    .load()

  private def tmpDir(): String =
    Files.createTempDirectory("pubsub-it").toString

  test("source round-trip: 100 published messages arrive exactly once") {
    publish100()
    val total = new AtomicLong(0)
    val payloads = collection.mutable.Set[String]()
    val q = sourceDF.selectExpr("CAST(data AS STRING) AS text", "attributes")
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val rows = ds.collect()
        total.addAndGet(rows.length)
        payloads.synchronized {
          rows.foreach(r => payloads += r.getString(0))
        }
        ()
      }
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) shouldBe true
    total.get() shouldBe 100
    payloads should contain("Test Message: 0")
    payloads should have size 100
    // NOTE: Spark only delivers source.commit for batch N when batch N+1
    // starts, and AvailableNow stops right after the last batch — so acks
    // for the final batch are deferred to a later run. The continuous-
    // trigger test below asserts the ack flow.
  }

  test("max_messages_per_trigger caps each batch and AvailableNow still " +
    "drains the whole backlog exactly once") {
    publish100()
    val batchSizes = collection.mutable.ArrayBuffer[Long]()
    val payloads = collection.mutable.Set[String]()
    val q = spark.readStream.format("pubsub")
      .option("project_id", "p")
      .option("subscription", "in-sub")
      .option("endpoint", ep)
      .option("max_messages_per_trigger", "30")
      .load()
      .selectExpr("CAST(data AS STRING) AS text")
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Row], _: Long) =>
        val rows = ds.collect()
        batchSizes.synchronized { batchSizes += rows.length.toLong }
        payloads.synchronized { rows.foreach(r => payloads += r.getString(0)) }
        ()
      }
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) shouldBe true
    payloads should have size 100 // complete, no loss
    batchSizes.sum shouldBe 100L  // and exactly once
    // admission control held on every batch: never more than the cap
    all(batchSizes) should be <= 30L
    // and the cap actually split the drain into several batches
    batchSizes.count(_ > 0) should be >= 4
  }

  test("AvailableNow drains fully when the trigger cap exceeds what the " +
    "partitions can pull in one batch") {
    // cap=1000 but 2 partitions x 20 per-partition max = 40 effective
    // rows/batch: a budget of ceil(100/1000)=1 batch would terminate
    // with 60 messages still queued. The budget must divide by the
    // EFFECTIVE admission (ADVICE r6, PubsubMicroBatchStream:96).
    publish100()
    val total = new AtomicLong(0)
    val q = spark.readStream.format("pubsub")
      .option("project_id", "p")
      .option("subscription", "in-sub")
      .option("endpoint", ep)
      .option("num_partitions", "2")
      .option("max_messages_per_partition", "20")
      .option("max_messages_per_trigger", "1000")
      .load()
      .selectExpr("CAST(data AS STRING) AS text")
      .writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Row], _: Long) =>
        total.addAndGet(ds.count()); ()
      }
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) shouldBe true
    total.get() shouldBe 100 // complete drain, not a silent early stop
  }

  test("messages are acknowledged once the following batch commits") {
    publish100()
    val q = sourceDF.writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Row], _: Long) =>
        ds.count() // run the batch plan so the source actually pulls
        ()
      }
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      val deadline = System.currentTimeMillis() + 30000
      while (broker.backlog(Sub) > 0 &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)
      broker.backlog(Sub) shouldBe 0 // all pulled messages acked
    } finally q.stop()
  }

  test("double evaluation inside foreachBatch sees identical rows " +
    "(replay cache determinism)") {
    publish100()
    var firstIds: Seq[String] = Seq.empty
    var secondIds: Seq[String] = Seq.empty
    val q = sourceDF.writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Row], _: Long) =>
        // Two actions on the same batch DataFrame = two evaluations of
        // the source scan (the reference tests show()+count(),
        // PubsubConnectorTest.scala:141-145).
        val a = ds.select("message_id").collect().map(_.getString(0)).sorted
        val b = ds.select("message_id").collect().map(_.getString(0)).sorted
        if (a.nonEmpty) { firstIds = a.toSeq; secondIds = b.toSeq }
        ()
      }
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) shouldBe true
    firstIds should have size 100
    firstIds shouldBe secondIds
  }

  test("sink round-trip: payloads and attributes survive") {
    val outTopic = "projects/p/topics/out-topic"
    val outSub = "projects/p/subscriptions/out-sub"
    broker.createTopic(outTopic)
    broker.createSubscription(outSub, outTopic)
    publish100()
    val q = sourceDF.select("data", "attributes")
      .writeStream.format("pubsub")
      .option("project_id", "p")
      .option("topic", "out-topic")
      .option("endpoint", ep)
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) shouldBe true
    val got = broker.pull(outSub, 1000)
    got should have size 100
    val texts = got.map(p => new String(p._2.data)).toSet
    texts should contain("Test Message: 42")
    texts should have size 100
    val attrs = got.map(_._2.attributes("key")).toSet
    attrs should contain("value: 42")
  }

  test("sink validates schema: non-binary data column rejected") {
    publish100()
    val q = intercept[Exception] {
      val s = sourceDF.selectExpr("CAST(data AS STRING) AS data")
        .writeStream.format("pubsub")
        .option("project_id", "p")
        .option("topic", "out-topic2")
        .option("endpoint", ep)
        .option("checkpointLocation", tmpDir())
        .trigger(Trigger.AvailableNow())
        .start()
      s.awaitTermination(60000)
    }
    q.toString should include("data")
  }

  test("foreachBatch fan-out: one stream feeding two sinks " +
    "(the documented multi-sink pattern)") {
    val outTopicA = "projects/p/topics/fan-a"
    val outTopicB = "projects/p/topics/fan-b"
    val outSubA = "projects/p/subscriptions/fan-a-sub"
    val outSubB = "projects/p/subscriptions/fan-b-sub"
    broker.createTopic(outTopicA); broker.createSubscription(outSubA, outTopicA)
    broker.createTopic(outTopicB); broker.createSubscription(outSubB, outTopicB)
    publish100()
    val epLocal = ep
    val q = sourceDF.writeStream
      .foreachBatch { (ds: org.apache.spark.sql.Dataset[Row], _: Long) =>
        // One evaluation feeds both sinks deterministically thanks to the
        // replay cache: both publishes see identical rows.
        val b = EmbeddedBroker.get(epLocal)
        val rows = ds.select("data").collect()
          .map(r => (r.getAs[Array[Byte]](0), Map.empty[String, String], ""))
        b.publishBatch(outTopicA, rows.toSeq)
        b.publishBatch(outTopicB, rows.toSeq)
        ()
      }
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) shouldBe true
    broker.pull(outSubA, 1000) should have size 100
    broker.pull(outSubB, 1000) should have size 100
  }

  test("sink ordering-key column: keys land on the broker and stay FIFO") {
    val outTopic = "projects/p/topics/keyed-topic"
    val outSub = "projects/p/subscriptions/keyed-sub"
    broker.createTopic(outTopic)
    broker.createSubscription(outSub, outTopic)
    publish100()
    val q = sourceDF
      .selectExpr("data", "attributes",
        "concat('k', CAST(length(CAST(data AS STRING)) % 3 AS STRING)) AS okey")
      .writeStream.format("pubsub")
      .option("project_id", "p")
      .option("topic", "keyed-topic")
      .option("ordering_key_column", "okey")
      .option("endpoint", ep)
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) shouldBe true
    val got = broker.pull(outSub, 1000)
    got should have size 100
    got.map(_._2.orderingKey).toSet.subsetOf(Set("k0", "k1", "k2")) shouldBe true
    got.map(_._2.orderingKey).forall(_.nonEmpty) shouldBe true
  }

  test("watermark in append mode: closed windows emit, the open one is " +
    "withheld as potentially-late") {
    // Three 1-minute windows of events; watermark = max ts - 10s falls
    // inside the last window, so only the first two finalize.
    val base = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
    (0 until 30).foreach { i =>
      val tsMicros = base + i * 6000000L // every 6s -> 10 events/minute
      broker.publish(Topic, s"e$i".getBytes, Map("ts" -> tsMicros.toString))
    }
    val name = "wm_" + System.nanoTime()
    val q = sourceDF
      .selectExpr("timestamp_micros(CAST(attributes['ts'] AS BIGINT)) AS ts")
      .withWatermark("ts", "10 seconds")
      .groupBy(org.apache.spark.sql.functions.window(
        org.apache.spark.sql.functions.col("ts"), "1 minute"))
      .count()
      .writeStream.format("memory").queryName(name)
      .outputMode("append")
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(60000) shouldBe true
    val rows = spark.table(name)
      .selectExpr("CAST(window.start AS STRING) AS s", "count")
      .collect().map(r => (r.getString(0), r.getLong(1))).sortBy(_._1)
    // windows 00:00 and 00:01 finalized (10 events each); 00:02 withheld
    rows shouldBe Array(
      ("2024-01-01 00:00:00", 10L), ("2024-01-01 00:01:00", 10L))
  }

  test("restart from the same checkpoint resumes the offset log and " +
    "drains redeliveries (at-least-once across restarts)") {
    val FastSub = "projects/p/subscriptions/fast-sub"
    broker.createSubscription(FastSub, Topic, ackDeadlineMs = 300)
    publish100()
    val chk = tmpDir()
    val seen = collection.mutable.Set[String]()
    val batchIds = collection.mutable.Set[Long]()
    def runOnce(): Unit = {
      val q = spark.readStream.format("pubsub")
        .option("project_id", "p")
        .option("subscription", "fast-sub")
        .option("endpoint", ep)
        .load()
        .selectExpr("CAST(data AS STRING) AS text")
        .writeStream
        .foreachBatch { (ds: org.apache.spark.sql.Dataset[Row], id: Long) =>
          val rows = ds.collect()
          seen.synchronized { rows.foreach(r => seen += r.getString(0)) }
          batchIds.synchronized { batchIds += id }
          ()
        }
        .option("checkpointLocation", chk)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(60000) shouldBe true
    }
    runOnce()
    seen.synchronized { seen.size } shouldBe 100
    Thread.sleep(800) // run-1 leases lapse -> broker redelivers
    runOnce() // same checkpoint: registry re-registration is a no-op
    // the second run resumed PAST run 1's batch rather than restarting
    // the offset log from scratch
    batchIds.synchronized { batchIds.max } should be >= 1L
    // redeliveries are duplicates of known payloads, never new/lost rows
    seen.synchronized { seen.size } shouldBe 100
  }

  test("duplicate subscription: second stream is rejected") {
    publish100()
    val q1 = sourceDF.writeStream
      .foreachBatch { (_: org.apache.spark.sql.Dataset[Row], _: Long) => () }
      .option("checkpointLocation", tmpDir())
      .trigger(Trigger.ProcessingTime("100 milliseconds"))
      .start()
    try {
      val ex = intercept[StreamingQueryException] {
        val q2 = sourceDF.writeStream
          .foreachBatch {
            (_: org.apache.spark.sql.Dataset[Row], _: Long) => () }
          .option("checkpointLocation", tmpDir())
          .trigger(Trigger.ProcessingTime("100 milliseconds"))
          .start()
        q2.awaitTermination(30000)
      }
      def causes(t: Throwable): Seq[Throwable] =
        Option(t).toSeq.flatMap(x => x +: causes(x.getCause))
      causes(ex).exists(_.isInstanceOf[IllegalStateException]) shouldBe true
    } finally q1.stop()
  }

  test("executor loss: a rescheduled task replays the cached pull " +
    "identically, and losing the cache file itself still converges " +
    "with no double-ack") {
    val FastSub = "projects/p/subscriptions/loss-sub"
    broker.createSubscription(FastSub, Topic, ackDeadlineMs = 500)
    publish100()
    val cacheDir = Files.createTempDirectory("graft-loss").toString
    val part = PubsubInputPartition(FastSub, ep, batchId = 0,
      maxMessages = 1000,
      cachePath = s"$cacheDir/batch=0/part=0", region = "global")
    def evaluate(): Seq[(String, String)] = {
      // fresh reader object = the task re-run on another executor
      val r = new PubsubPartitionReaderFactory().createReader(part)
      val out = collection.mutable.ArrayBuffer[(String, String)]()
      while (r.next()) {
        val row = r.get()
        out += ((row.getString(1), row.getString(2))) // (ack_id, message_id)
      }
      r.close()
      out.toSeq
    }
    val first = evaluate()
    first should have size 100
    // Phase 1 — executor lost, checkpoint cache intact: the rescheduled
    // task replays the persisted pull byte-for-byte (same ack ids, same
    // order), never touching the broker again.
    evaluate() shouldBe first
    // Phase 2 — cache file ALSO lost (disk wiped with the executor).
    val fs = new org.apache.hadoop.fs.Path(part.cachePath)
      .getFileSystem(new org.apache.hadoop.conf.Configuration())
    fs.delete(new org.apache.hadoop.fs.Path(part.cachePath), false) shouldBe true
    // first pull's leases lapse -> broker redelivers; forced via the
    // deterministic hook instead of sleeping past the 500ms deadline
    // (a fixed sleep flakes when a loaded CI machine stalls the JVM)
    broker.expireLeases(FastSub)
    val second = evaluate()
    // redelivery is the same messages in the same (seq) order — new
    // leases, so new ack ids, but identical payload identity
    second.map(_._2) shouldBe first.map(_._2)
    second.map(_._1) should not be first.map(_._1)
    // Commit acks only what the (current) cache file holds: the stale
    // first-evaluation ack ids are gone with their leases, and acking
    // them anyway is a harmless no-op — no double-ack, backlog drains.
    val ackIds = ReplayCache.ackIds(
      new org.apache.hadoop.fs.Path(s"$cacheDir/batch=0"))
    ackIds.sorted shouldBe second.map(_._1).sorted
    broker.acknowledge(FastSub, first.map(_._1)) // stale ids: no-op
    broker.acknowledge(FastSub, ackIds)
    broker.backlog(FastSub) shouldBe 0
    broker.pull(FastSub, 1000) shouldBe empty // nothing redelivers later
  }

  test("at-least-once window: mid-batch ack-deadline expiry redelivers, " +
    "and the documented dropDuplicates(message_id) recipe restores " +
    "exact counts") {
    // SURVEY §7.4 item 2: the connector promises at-least-once, with
    // duplicates possible exactly when a lease lapses while its batch
    // is still in flight. Force that window deterministically and show
    // the user-side recipe (B6/p03) closes it.
    val LossSub = "projects/p/subscriptions/expiry-sub"
    broker.createSubscription(LossSub, Topic)
    publish100()
    val cacheDir = Files.createTempDirectory("graft-expiry").toString
    def readBatch(batchId: Int, max: Int): Seq[(String, String)] = {
      val part = PubsubInputPartition(LossSub, ep, batchId = batchId,
        maxMessages = max,
        cachePath = s"$cacheDir/batch=$batchId/part=0", region = "global")
      val r = new PubsubPartitionReaderFactory().createReader(part)
      val out = collection.mutable.ArrayBuffer[(String, String)]()
      while (r.next()) {
        val row = r.get()
        out += ((row.getString(1), row.getString(2))) // (ack_id, message_id)
      }
      r.close()
      out.toSeq
    }
    // Batch 0 takes 60 messages in flight; its leases expire BEFORE the
    // batch commits (slow batch, crashed commit — the at-least-once
    // window).
    val first = readBatch(0, 60)
    first should have size 60
    broker.expireLeases(LossSub)
    // Batch 1 sees the 60 redelivered PLUS the 40 never-delivered.
    val second = readBatch(1, 1000)
    second should have size 100
    // Redelivery happened: batch 1 contains every batch-0 message again.
    first.map(_._2).toSet.subsetOf(second.map(_._2).toSet) shouldBe true
    // The duplicate surface across the two delivered batches is exactly
    // the in-flight set...
    val delivered = first ++ second
    delivered.size shouldBe 160
    delivered.map(_._2).distinct.size shouldBe 100
    // ...and the documented recipe — dropDuplicates("message_id") on the
    // source DataFrame (B6/p03) — restores exact-once counts.
    val s = spark
    import s.implicits._
    val dedup = delivered.map(_._2).toDF("message_id")
      .dropDuplicates("message_id")
    dedup.count() shouldBe 100
    // acking batch 1's ids drains the backlog for good
    broker.acknowledge(LossSub, second.map(_._1))
    broker.backlog(LossSub) shouldBe 0
  }

  test("backlog monitor math: clamp and region split") {
    val conf = new org.apache.spark.SparkConf()
    val m = new PubsubBacklogMonitor(broker, Sub, conf)
    // 100 messages / threshold 10000 -> 1 partition
    publish100()
    m.refresh()
    m.partitionCount() shouldBe 1
    m.estimatedBatches(4) shouldBe 1
    // dominant region -> split
    (0 until 10).foreach(_ =>
      broker.publish(Topic, "r".getBytes, Map("region" -> "us-east1")))
    broker.publish(Topic, "r".getBytes, Map("region" -> "eu-west1"))
    m.refresh()
    val counts = m.regionPartitionCounts()
    counts.map(_._1) shouldBe Seq("eu-west1", "global", "us-east1")
    // The CEILING binds: ceil(backlog/threshold) above maxPartitions
    // clamps (the branch a 2.56M+ backlog hits at the 256/10k defaults,
    // scaled down here via the conf knobs: 40k/1k = 40 > ceiling 32).
    val tc = "projects/p/topics/ceil"
    val sc = "projects/p/subscriptions/ceil"
    broker.createTopic(tc)
    broker.createSubscription(sc, tc)
    (0 until 40).foreach(_ => broker.publishBatch(tc,
      (0 until 1000).map(i => (Array[Byte](1), Map.empty[String, String], ""))))
    val mCeil = new PubsubBacklogMonitor(broker, sc,
      new org.apache.spark.SparkConf()
        .set(PubsubBacklogMonitor.BacklogThreshold, "1000")
        .set(PubsubBacklogMonitor.MaxDynamicPartitions, "32"))
    try mCeil.partitionCount() shouldBe 32 // not ceil(40000/1000) = 40
    finally mCeil.stop()
  }

  test("monitor honors the reference's spark.sql.pubsub.* config keys " +
    "as aliases, with the graft key winning when both are set") {
    import PubsubBacklogMonitor._
    publish100()
    // reference-style keys alone steer every knob
    val refConf = new org.apache.spark.SparkConf()
      .set(RefBacklogThreshold, "1000")       // floor is 1000
      .set(RefMaxDynamicPartitions, "64")
      .set(RefMonitoringInterval, "30000")
      .set(RefRegionSplitThreshold, "0.5")
    val mRef = new PubsubBacklogMonitor(broker, Sub, refConf)
    try {
      // 100 msgs / threshold 1000 -> 1; raise backlog to see the knob bite
      (0 until 4900).foreach(i => broker.publish(Topic, s"x$i".getBytes))
      mRef.refresh()
      mRef.partitionCount() shouldBe 5 // ceil(5000/1000), not 1 (dflt 10k)
    } finally mRef.stop()
    // split threshold 0.5 (vs default 0.7): a 55/45 regional mix splits
    // under the alias-configured monitor but NOT under the defaults
    val t2 = "projects/p/topics/r2"
    val s2 = "projects/p/subscriptions/r2"
    broker.createTopic(t2)
    broker.createSubscription(s2, t2)
    (0 until 55).foreach(_ =>
      broker.publish(t2, "r".getBytes, Map("region" -> "us-east1")))
    (0 until 45).foreach(_ =>
      broker.publish(t2, "r".getBytes, Map("region" -> "eu-west1")))
    val mSplit = new PubsubBacklogMonitor(broker, s2,
      new org.apache.spark.SparkConf().set(RefRegionSplitThreshold, "0.5"))
    try {
      mSplit.regionPartitionCounts().map(_._1) shouldBe
        Seq("eu-west1", "us-east1")
    } finally mSplit.stop()
    val mDflt = new PubsubBacklogMonitor(broker, s2,
      new org.apache.spark.SparkConf())
    try {
      mDflt.regionPartitionCounts().map(_._1) shouldBe Seq("global")
    } finally mDflt.stop()
    // precedence: the graft-native key wins over the reference alias
    val both = new org.apache.spark.SparkConf()
      .set(BacklogThreshold, "2500")
      .set(RefBacklogThreshold, "1000")
    val mBoth = new PubsubBacklogMonitor(broker, Sub, both)
    try {
      mBoth.refresh()
      // backlog is 5000: graft threshold 2500 -> 2; the alias would say 5
      mBoth.partitionCount() shouldBe 2
    } finally mBoth.stop()
  }

  test("writer timeout falls back to the reference's " +
    "spark.sql.pubsub.writer.timeout.seconds conf when the option is unset") {
    spark.conf.set(PubsubOptions.RefWriterTimeoutConf, "123")
    try {
      val fromConf = PubsubOptions.writeOptions(Map(
        PubsubOptions.Topic -> "projects/p/topics/t"))
      fromConf.writerTimeoutSeconds shouldBe 123
      // explicit DSv2 option wins over the conf fallback
      val fromOpt = PubsubOptions.writeOptions(Map(
        PubsubOptions.Topic -> "projects/p/topics/t",
        PubsubOptions.WriterTimeoutSeconds -> "77"))
      fromOpt.writerTimeoutSeconds shouldBe 77
    } finally spark.conf.unset(PubsubOptions.RefWriterTimeoutConf)
  }

  test("region split assigns per-region endpoints and both resolve to " +
    "the topic's data") {
    spark.sparkContext // ensure an active session for the stream ctor
    // 90/10 backlog across two regions -> split is active (share > 0.7).
    (0 until 90).foreach(i => broker.publish(Topic, s"a$i".getBytes,
      Map("region" -> "us-east1")))
    (0 until 10).foreach(i => broker.publish(Topic, s"b$i".getBytes,
      Map("region" -> "eu-west1")))
    val opts = PubsubOptions.readOptions(Map(
      PubsubOptions.ProjectId -> "p",
      PubsubOptions.Subscription -> "in-sub",
      PubsubOptions.Endpoint -> ep,
      PubsubOptions.DynamicPartitioning -> "true"))
    val chk = Files.createTempDirectory("graft-region").toString
    val stream = new PubsubMicroBatchStream(opts, chk)
    try {
      val end = stream.latestOffset()
      val parts = stream.planInputPartitions(PubsubOffset(-1L), end)
        .map(_.asInstanceOf[PubsubInputPartition])
      // one partition per region, each carrying ITS region's endpoint
      // (reference PubsubMicroBatchStream.scala:58-74, package.scala:87-97)
      parts.map(p => (p.region, p.endpoint)).toSeq.sorted shouldBe Seq(
        ("eu-west1", s"eu-west1-$ep"), ("us-east1", s"us-east1-$ep"))
      // the regional endpoints are aliases onto the broker that actually
      // holds the subscription, so every partition's pull reaches the data
      val factory = stream.createReaderFactory()
      val pulled = parts.map { p =>
        val r = factory.createReader(p)
        var n = 0
        while (r.next()) { r.get(); n += 1 }
        r.close()
        n
      }
      pulled.sum shouldBe 100
      EmbeddedBroker.get(s"us-east1-$ep") should be theSameInstanceAs broker
      EmbeddedBroker.get(s"eu-west1-$ep") should be theSameInstanceAs broker
    } finally stream.stop()
  }

  test("nack returns leased messages to the queue immediately, in " +
      "publish order") {
    publish100()
    val first = broker.pull(Sub, 10)
    first should have size 10
    // invisible while leased
    broker.pull(Sub, 100).map(_._2.messageId) should not contain
      first.head._2.messageId
    broker.nack(Sub, first.map(_._1))
    // nacked messages redeliver at their original positions — the
    // NEXT pull starts with them again
    val again = broker.pull(Sub, 10)
    again.map(_._2.messageId) shouldBe first.map(_._2.messageId)
    // unknown / already-acked ids are no-ops
    broker.acknowledge(Sub, again.map(_._1))
    noException should be thrownBy
      broker.nack(Sub, again.map(_._1) :+ "ack-nonexistent")
  }

  test("concurrent first evaluations of one partition pull ONCE — the " +
      "slot lock closes the broadcast-job race that silently lost a " +
      "half-trigger (p15, r13)") {
    publish100()
    val cacheDir = Files.createTempDirectory("graft-race").toString
    val part = PubsubInputPartition(Sub, ep, batchId = 0,
      maxMessages = 50,
      cachePath = s"$cacheDir/batch=0/part=0", region = "global")
    def evaluate(): Seq[String] = {
      val r = new PubsubPartitionReaderFactory().createReader(part)
      val out = collection.mutable.ArrayBuffer[String]()
      while (r.next()) { out += r.get().getString(2) } // message_id
      r.close()
      out.toSeq
    }
    // two evaluations of the SAME batch partition racing from two
    // threads — the shape of a broadcast-exchange job racing the main
    // foreachBatch action. Before the slot lock, BOTH found no cache
    // and both pulled: one pull became the canonical cache, the other
    // pull's 50 messages sat leased-and-invisible for the whole ack
    // deadline, and the drain under-delivered with no error.
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val f1 = pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        def call(): Seq[String] = evaluate()
      })
      val f2 = pool.submit(new java.util.concurrent.Callable[Seq[String]] {
        def call(): Seq[String] = evaluate()
      })
      val (r1, r2) = (f1.get(), f2.get())
      // identical rows from both evaluations (replay determinism)...
      r1 shouldBe r2
      r1 should have size 50
      // ...and the OTHER 50 messages are still pullable RIGHT NOW: a
      // doubled pull would have leased them invisibly
      broker.pull(Sub, 100) should have size 50
    } finally pool.shutdown()
  }
}
