package graft.pubsub

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, Trigger}
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** The sink's exactly-once state on the broker (per-stream high-water
  * marks and per-row content hashes) stays bounded on a long-running
  * stream: each epoch commit releases the query's earlier epochs. */
class SinkStateSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  test("after 20 epochs the broker holds ordered state for at most 2 " +
    "epochs of the query") {
    PubsubStreamRegistry.clear()
    val ep = s"sink-state-${System.nanoTime()}"
    val b = EmbeddedBroker.get(ep)
    b.createTopic("projects/p/topics/in")
    b.createTopic("projects/p/topics/out")
    b.createSubscription("projects/p/subscriptions/in-sub",
      "projects/p/topics/in")
    b.createSubscription("projects/p/subscriptions/out-sub",
      "projects/p/topics/out")
    val N = 400
    b.publishBatch("projects/p/topics/in", (0 until N).map(i =>
      (s"m$i".getBytes(UTF_8), Map.empty[String, String], "")))

    def epochsHeld(queryId: String): Int =
      b.orderedKeys.flatMap(EmbeddedBroker.queryEpoch)
        .collect { case (`queryId`, e) => e }.distinct.size
    val maxHeld = new AtomicInteger(0)
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        maxHeld.accumulateAndGet(epochsHeld(e.progress.id.toString), math.max)
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      // 20-message triggers over 400 messages: at least 20 epochs
      val q = spark.readStream.format("pubsub")
        .option("project_id", "p")
        .option("subscription", "in-sub")
        .option("endpoint", ep)
        .option("num_partitions", "2")
        .option("max_messages_per_partition", "10")
        .option("max_messages_per_trigger", "20")
        .option("dynamic_partitioning", "false")
        .load()
        .select("data", "attributes")
        .writeStream.format("pubsub")
        .option("project_id", "p")
        .option("topic", "out")
        .option("endpoint", ep)
        .option("checkpointLocation",
          Files.createTempDirectory("sink-state").toString)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination(180000) shouldBe true
      q.recentProgress.count(_.numInputRows > 0) should be >= 20
      b.backlog("projects/p/subscriptions/out-sub") shouldBe N.toLong
      // sampled after each batch's commit: the stream keys carry the
      // query id (non-zero), and earlier epochs were released
      withClue("no progress sample saw this query's ordered state: ")(
        maxHeld.get() should be > 0)
      maxHeld.get() should be <= 2
      epochsHeld(q.id.toString) should be <= 2
    } finally spark.streams.removeListener(listener)
  }

  test("queryEpoch parses only sink stream keys") {
    val k = EmbeddedBroker.streamKey("q1", 7L, 3)
    EmbeddedBroker.queryEpoch(k) shouldBe Some(("q1", 7L))
    EmbeddedBroker.queryEpoch("q1/x/3") shouldBe None
    EmbeddedBroker.queryEpoch("q1/3") shouldBe None
    EmbeddedBroker.queryEpoch("s1") shouldBe None
  }

  test("a late publish to a released epoch (a zombie task of a committed " +
    "epoch) appends nothing") {
    val b = EmbeddedBroker.get(s"sink-zombie-${System.nanoTime()}")
    val t = "projects/p/topics/t"
    b.createTopic(t)
    b.createSubscription("projects/p/subscriptions/s", t)
    def rows(tag: String) = (0 until 5).map(i =>
      (s"$tag$i".getBytes(UTF_8), Map.empty[String, String], ""))
    b.publishOrdered(t, EmbeddedBroker.streamKey("q", 3L, 0), 0, rows("a"))
    b.publishOrdered(t, EmbeddedBroker.streamKey("q", 4L, 0), 0, rows("b"))
    b.releaseOrdered("q", 4L)
    b.orderedKeys shouldBe Seq(EmbeddedBroker.streamKey("q", 4L, 0))
    // epoch 3's state is gone, yet its late flush must not re-append
    b.publishOrdered(t, EmbeddedBroker.streamKey("q", 3L, 0), 0, rows("a"))
    // epoch 4 is still deduped by its mark; other queries are unaffected
    b.publishOrdered(t, EmbeddedBroker.streamKey("q", 4L, 0), 0, rows("b"))
    b.publishOrdered(t, EmbeddedBroker.streamKey("r", 3L, 0), 0, rows("c"))
    b.backlog("projects/p/subscriptions/s") shouldBe 15L
    // the mark never moves back
    b.releaseOrdered("q", 2L)
    b.publishOrdered(t, EmbeddedBroker.streamKey("q", 3L, 1), 0, rows("a"))
    b.backlog("projects/p/subscriptions/s") shouldBe 15L
  }
}
