package graft.pubsub

import java.net.URI
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileAlreadyExistsException, Path, RawLocalFileSystem}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.streaming.checkpointing.{FileSystemBasedCheckpointFileManager, CheckpointFileManager}
import org.apache.spark.sql.streaming.Trigger
import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** A raw local filesystem under its own scheme: a non-local path to
  * Spark, with no FileContext binding, so Spark's checkpoint manager
  * factory falls back to its FileSystem-based manager. */
class NonLocalTestFs extends RawLocalFileSystem {
  override def getUri: URI = URI.create("nonlocal:///")
}

class LocalCheckpointFileManagerSpec extends AnyFunSuite with Matchers {

  private lazy val spark = SparkSession.builder()
    .master("local[4]")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .getOrCreate()

  private val ClassKey = LocalCheckpointFileManager.ClassKey
  private val StockManager = "org.apache.spark.sql.execution.streaming." +
    "checkpointing.FileContextBasedCheckpointFileManager"

  private def tmpDir(tag: String): java.nio.file.Path =
    Files.createTempDirectory(s"local-chk-$tag")

  private def manager(dir: java.nio.file.Path) =
    new LocalCheckpointFileManager(new Path(dir.toUri), new Configuration())

  private def write(m: CheckpointFileManager, p: Path, text: String,
      overwrite: Boolean): Unit = {
    val out = m.createAtomic(p, overwrite)
    out.write(text.getBytes(UTF_8))
    out.close()
  }

  private def read(p: java.nio.file.Path): String =
    new String(Files.readAllBytes(p), UTF_8)

  private def names(dir: java.nio.file.Path): Set[String] =
    Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSet

  test("no-overwrite claim on an existing path throws Hadoop's " +
    "FileAlreadyExistsException and keeps the first file's bytes") {
    val dir = tmpDir("claim")
    val m = manager(dir)
    val target = new Path(dir.resolve("0").toUri)
    write(m, target, "first", overwrite = false)
    val second = m.createAtomic(target, overwriteIfPossible = false)
    second.write("second".getBytes(UTF_8))
    intercept[FileAlreadyExistsException](second.close())
    // HDFSMetadataLog cancels after a failed close; that must be a no-op
    second.cancel()
    read(dir.resolve("0")) shouldBe "first"
    names(dir) shouldBe Set("0")
  }

  test("overwrite replaces the content and removes a stale .crc sidecar") {
    val dir = tmpDir("overwrite")
    val m = manager(dir)
    val target = new Path(dir.resolve("state.delta").toUri)
    write(m, target, "old", overwrite = true)
    Files.write(dir.resolve(".state.delta.crc"), Array[Byte](1, 2, 3))
    write(m, target, "new", overwrite = true)
    read(dir.resolve("state.delta")) shouldBe "new"
    names(dir) shouldBe Set("state.delta")
  }

  test("a no-overwrite claim removes a stale .crc whose file is gone, " +
    "but never the sidecar of an existing file") {
    val dir = tmpDir("stale")
    val m = manager(dir)
    Files.write(dir.resolve(".1.crc"), Array[Byte](1, 2, 3))
    write(m, new Path(dir.resolve("1").toUri), "one", overwrite = false)
    names(dir) shouldBe Set("1")
    Files.write(dir.resolve(".1.crc"), Array[Byte](4, 5, 6))
    intercept[FileAlreadyExistsException](
      write(m, new Path(dir.resolve("1").toUri), "again", overwrite = false))
    names(dir) shouldBe Set("1", ".1.crc")
  }

  test("cancel() leaves neither the target nor a temp file behind") {
    val dir = tmpDir("cancel")
    val m = manager(dir)
    val out = m.createAtomic(new Path(dir.resolve("5").toUri),
      overwriteIfPossible = false)
    out.write("partial".getBytes(UTF_8))
    names(dir).size shouldBe 1 // the temp file, while the write is open
    out.cancel()
    out.close() // after cancel, close must not claim
    names(dir) shouldBe empty
  }

  test("a non-local path is served by the delegate Spark would pick") {
    val dir = tmpDir("nonlocal")
    val conf = new Configuration()
    conf.set("fs.nonlocal.impl", classOf[NonLocalTestFs].getName)
    conf.setBoolean("fs.nonlocal.impl.disable.cache", true)
    conf.set(ClassKey, classOf[LocalCheckpointFileManager].getName)
    val root = new Path(s"nonlocal://${dir.toUri.getPath}")
    val m = CheckpointFileManager.create(root, conf)
    m shouldBe a[LocalCheckpointFileManager]
    // the class key is unset for the delegate: no self-recursion, and
    // FileContext's missing binding falls back to the FileSystem manager
    m.asInstanceOf[LocalCheckpointFileManager].delegate shouldBe
      a[FileSystemBasedCheckpointFileManager]
    val out = m.createAtomic(new Path(root, "0"), overwriteIfPossible = false)
    out.getClass.getSimpleName shouldBe "RenameBasedFSDataOutputStream"
    out.write("via delegate".getBytes(UTF_8))
    out.close()
    read(dir.resolve("0")) shouldBe "via delegate"
    m.exists(new Path(root, "0")) shouldBe true
    // a file: path on the same manager takes the local claim
    val local = m.createAtomic(new Path(dir.resolve("1").toUri), false)
    local.getClass.getSimpleName shouldBe "LocalAtomicOutputStream"
    local.cancel()
  }

  test("a path with no scheme under a non-local fs.defaultFS is served " +
    "by the delegate") {
    val dir = tmpDir("default-fs")
    val conf = new Configuration()
    conf.set("fs.defaultFS", "nonlocal:///")
    conf.set("fs.nonlocal.impl", classOf[NonLocalTestFs].getName)
    conf.setBoolean("fs.nonlocal.impl.disable.cache", true)
    // unqualified, as a file sink's metadata log under the user's `path`
    val root = new Path(dir.toUri.getPath)
    root.toUri.getScheme shouldBe null
    val m = new LocalCheckpointFileManager(root, conf)
    m.delegate shouldBe a[FileSystemBasedCheckpointFileManager]
    m.mkdirs(new Path(root, "sub"))
    val out = m.createAtomic(new Path(root, "sub/0"), overwriteIfPossible = false)
    out.getClass.getSimpleName shouldBe "RenameBasedFSDataOutputStream"
    out.write("via delegate".getBytes(UTF_8))
    out.close()
    // the write and the read go to the same filesystem
    m.exists(new Path(root, "sub/0")) shouldBe true
    m.list(new Path(root, "sub"), (_: Path) => true).map(_.getPath.getName)
      .toSet shouldBe Set("0")
    read(dir.resolve("sub").resolve("0")) shouldBe "via delegate"
  }

  test("a checkpoint location that is a symlink to a directory starts " +
    "and takes writes") {
    val target = tmpDir("link-target")
    val link = tmpDir("link-parent").resolve("chk")
    Files.createSymbolicLink(link, target)
    val root = new Path(link.toUri)
    val m = new LocalCheckpointFileManager(root, new Configuration())
    m.createCheckpointDirectory()
    m.mkdirs(root)
    m.mkdirs(new Path(root, "offsets"))
    write(m, new Path(root, "offsets/0"), "v1", overwrite = false)
    read(target.resolve("offsets").resolve("0")) shouldBe "v1"
  }

  test("a user-set checkpointFileManagerClass is left untouched") {
    val prev = spark.conf.getOption(ClassKey)
    try {
      spark.conf.set(ClassKey, StockManager)
      PubsubStreamRegistry.clear()
      val ep = s"user-mgr-${System.nanoTime()}"
      val b = EmbeddedBroker.get(ep)
      b.createTopic("projects/p/topics/t")
      b.createSubscription("projects/p/subscriptions/s", "projects/p/topics/t")
      spark.readStream.format("pubsub").option("project_id", "p")
        .option("subscription", "s").option("endpoint", ep).load()
      spark.conf.get(ClassKey) shouldBe StockManager
    } finally prev match {
      case Some(v) => spark.conf.set(ClassKey, v)
      case None => spark.conf.unset(ClassKey)
    }
  }

  /** One pubsub -> pubsub drain of everything on `in-sub` under `chk`,
    * in 100-message triggers, with `managerClass` as the session's
    * checkpoint file manager (None: left for the connector to install). */
  private def drain(ep: String, chk: String,
      managerClass: Option[String]): Unit = {
    managerClass match {
      case Some(c) => spark.conf.set(ClassKey, c)
      case None => spark.conf.unset(ClassKey)
    }
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
      .option("checkpointLocation", chk)
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000) shouldBe true
    spark.conf.get(ClassKey) shouldBe
      managerClass.getOrElse(classOf[LocalCheckpointFileManager].getName)
  }

  /** Runs two drains over one checkpoint, the first under `first`, the
    * second under `second`, with 200 new messages before each; asserts
    * all 400 arrive exactly once. Returns the offset log's file names. */
  private def restartAcross(first: Option[String],
      second: Option[String]): Set[String] = {
    val prev = spark.conf.getOption(ClassKey)
    try {
      PubsubStreamRegistry.clear()
      val ep = s"mgr-restart-${System.nanoTime()}"
      val b = EmbeddedBroker.get(ep)
      b.createTopic("projects/p/topics/in")
      b.createTopic("projects/p/topics/out")
      b.createSubscription("projects/p/subscriptions/in-sub",
        "projects/p/topics/in")
      b.createSubscription("projects/p/subscriptions/out-sub",
        "projects/p/topics/out")
      def publish(from: Int): Unit = b.publishBatch("projects/p/topics/in",
        (from until from + 200).map(i => (s"m$i".getBytes(UTF_8),
          Map.empty[String, String], "")))
      val chk = tmpDir("restart").toString
      publish(0)
      drain(ep, chk, first)
      publish(200)
      drain(ep, chk, second)
      val out = Iterator.continually(
        b.pull("projects/p/subscriptions/out-sub", 1000))
        .takeWhile(_.nonEmpty).flatten.toVector
      out.map(m => new String(m._2.data, UTF_8)).sorted shouldBe
        (0 until 400).map(i => s"m$i").sorted
      names(Paths.get(chk, "offsets"))
    } finally prev match {
      case Some(v) => spark.conf.set(ClassKey, v)
      case None => spark.conf.unset(ClassKey)
    }
  }

  private def batchIds(files: Set[String]): Set[Long] =
    files.filter(_.forall(_.isDigit)).map(_.toLong)

  private def crcIds(files: Set[String]): Set[Long] =
    files.collect { case n if n.startsWith(".") && n.endsWith(".crc") =>
      n.stripPrefix(".").stripSuffix(".crc") }.filter(_.forall(_.isDigit))
      .map(_.toLong)

  test("a stream checkpointed under Spark's stock manager (.crc sidecars) " +
    "restarts under the local manager and stays exactly-once") {
    val files = restartAcross(Some(StockManager), None)
    val ids = batchIds(files)
    // 2 x 200 messages in 100-message triggers: two drains of >= 2 batches
    ids.size should be >= 4
    // the stock drain wrote sidecars; the local drain wrote none
    crcIds(files) should not be empty
    (ids -- crcIds(files)) should not be empty
    files.filter(_.contains(".tmp")) shouldBe empty
  }

  test("a stream checkpointed under the local manager (no sidecars) " +
    "restarts under Spark's stock manager and stays exactly-once") {
    val files = restartAcross(None, Some(StockManager))
    val ids = batchIds(files)
    ids.size should be >= 4
    // the first (local) drain's entries have no sidecar, and the stock
    // drain's batches, written after them, all do
    val bare = ids -- crcIds(files)
    bare should not be empty
    crcIds(files) should not be empty
    crcIds(files).min should be > bare.max
  }
}
