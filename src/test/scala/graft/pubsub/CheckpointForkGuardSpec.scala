package graft.pubsub

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import jdk.jfr.Recording
import jdk.jfr.consumer.RecordingFile
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Fork guard: a pubsub -> pubsub micro-batch drain on a local checkpoint
  * must start no operating-system process. Without libhadoop, Hadoop's
  * local filesystem forks `chmod` and `readlink` for permission and
  * symlink checks; through Spark's stock checkpoint manager that is about
  * a dozen processes per micro-batch, tens of milliseconds each. The JDK's
  * own flight recorder counts `jdk.ProcessStart` events around the drain.
  */
class CheckpointForkGuardSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  /** Publishes 300 messages and drains them pubsub -> pubsub in three
    * 100-message triggers on a fresh local checkpoint; returns the
    * number of non-empty batches. */
  private def drain(): Int = {
    PubsubStreamRegistry.clear()
    val ep = s"fork-guard-${System.nanoTime()}"
    val b = EmbeddedBroker.get(ep)
    b.createTopic("projects/p/topics/in")
    b.createTopic("projects/p/topics/out")
    b.createSubscription("projects/p/subscriptions/in-sub",
      "projects/p/topics/in")
    b.createSubscription("projects/p/subscriptions/out-sub",
      "projects/p/topics/out")
    b.publishBatch("projects/p/topics/in", (0 until 300).map(i =>
      (s"m$i".getBytes(UTF_8), Map.empty[String, String], "")))
    val q = spark.readStream.format("pubsub")
      .option("project_id", "p")
      .option("subscription", "in-sub")
      .option("endpoint", ep)
      .option("num_partitions", "2")
      .option("max_messages_per_partition", "50")
      .option("max_messages_per_trigger", "100")
      .option("dynamic_partitioning", "false")
      .load()
      .select("data", "attributes")
      .writeStream.format("pubsub")
      .option("project_id", "p")
      .option("topic", "out")
      .option("endpoint", ep)
      // a checkpoint directory the query itself creates, as a user's is
      .option("checkpointLocation",
        Files.createTempDirectory("fork-guard").resolve("chk").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000) shouldBe true
    b.backlog("projects/p/subscriptions/out-sub") shouldBe 300L
    q.recentProgress.count(_.numInputRows > 0)
  }

  test("a 3-batch pubsub drain on a local checkpoint starts no process") {
    // one unrecorded drain first: one-time class initialisation (Hadoop's
    // Shell probes for setsid once per JVM) is not a per-batch cost
    drain()
    val rec = new Recording()
    rec.enable("jdk.ProcessStart").withStackTrace()
    val jfr = Files.createTempFile("fork-guard", ".jfr")
    val batches =
      try {
        rec.start()
        try drain() finally rec.stop()
      } finally {
        rec.dump(jfr)
        rec.close()
      }
    batches shouldBe 3
    // A JDK Cleaner action runs when the GC reclaims an object made
    // before the recording (Spark removes a dropped session's artifact
    // directory with `rm -rf` that way); it is not the drain's work.
    def fromCleaner(e: jdk.jfr.consumer.RecordedEvent): Boolean =
      Option(e.getStackTrace).exists(_.getFrames.asScala.exists(
        _.getMethod.getType.getName.startsWith("jdk.internal.ref.Cleaner")))
    val spawns = RecordingFile.readAllEvents(jfr).asScala
      .filter(e => e.getEventType.getName == "jdk.ProcessStart" &&
        !fromCleaner(e)).toVector
    Files.deleteIfExists(jfr)
    val detail = spawns.take(5).map { e =>
      val frames = Option(e.getStackTrace).map(_.getFrames.asScala
        .take(12).map(f => f.getMethod.getType.getName + "." +
          f.getMethod.getName).mkString("\n    ")).getOrElse("")
      s"${e.getString("command")}\n    $frames"
    }.mkString("\n")
    withClue(s"${spawns.size} processes started during the drain:\n" +
      s"$detail\n")(spawns.size shouldBe 0)
  }
}
