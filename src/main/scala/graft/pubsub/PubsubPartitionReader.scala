package graft.pubsub

import java.io.{BufferedInputStream, BufferedOutputStream, DataInputStream, DataOutputStream}

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.{ArrayBasedMapData, GenericArrayData}
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReader, PartitionReaderFactory}
import org.apache.spark.unsafe.types.UTF8String

/** Serializable partition descriptor. Carries the replay-cache path for
  * its (batch, partition) slot and the pruned-schema field ordinals the
  * reader emits. Reference: PubsubInputPartition.scala:7-10.
  */
final case class PubsubInputPartition(
    subscriptionPath: String,
    endpoint: String,
    batchId: Long,
    maxMessages: Int,
    cachePath: String,
    region: String,
    fieldOrdinals: Array[Int] = PubsubInputPartition.AllFields)
  extends InputPartition

object PubsubInputPartition {
  /** Full-schema identity projection (ordinals into
    * [[PubsubOptions.ReadSchema]]). */
  val AllFields: Array[Int] = Array.range(0, 7)
}

class PubsubPartitionReaderFactory extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] =
    new PubsubPartitionReader(partition.asInstanceOf[PubsubInputPartition])
}

/** Executor-side reader: pulls once per (batch, partition), persists the
  * pulled messages to the checkpoint location, and replays from there on
  * any re-evaluation — so a plan that evaluates the source twice (e.g.
  * show() + count() in one foreachBatch) sees identical rows, and a task
  * rescheduled on another executor after executor loss still replays the
  * original pull. (The reference cached in the BlockManager with x2
  * replication, PubsubPartitionReader.scala:33-70; the checkpoint cache
  * trades a small write for surviving any executor loss.)
  *
  * The cache files double as the ack-id channel: the driver reads them at
  * commit time and acknowledges everything in them, so acks flow without
  * an executor->driver accumulator. (The reference used an accumulator,
  * PubsubPartitionReader.scala:26,100-103 — but re-registering one inside
  * a reader needs the private[spark] TaskContext.registerAccumulator; the
  * file channel stays on public APIs and survives executor loss.)
  */
class PubsubPartitionReader(p: PubsubInputPartition)
    extends PartitionReader[InternalRow] {

  private var fetched: Seq[(String, EmbeddedBroker.Message)] = _
  // Iterate, never index: Seq may be a List (O(n) apply -> O(n^2) scans).
  private var iter: Iterator[(String, EmbeddedBroker.Message)] = _
  private var current: (String, EmbeddedBroker.Message) = _

  private def ensureFetched(): Unit = if (fetched == null) {
    // Serialize same-slot first evaluations WITHIN this JVM (a striped
    // lock on the cache path): a batch whose plan evaluates the source
    // in TWO CONCURRENT JOBS — a broadcast-exchange job racing the main
    // action, p15's incremental-dedup shape — would otherwise have both
    // evaluations find no cache and BOTH pull. Only one pull becomes
    // canonical; the loser's messages sat leased-but-uncached for the
    // full ack deadline, and the AvailableNow drain under-delivered by
    // exactly that slice with no error (r13: p15 read 4,375 of 5,000,
    // the missing 625 = one partition's racing pull). Under the lock
    // the second evaluation hits the winner's cache. Across JVMs (real
    // cluster) the lock doesn't reach — there the loser-NACK below
    // returns the orphaned messages immediately.
    PubsubPartitionReader.slotLock(p.cachePath).synchronized {
      fetched = readCache().getOrElse {
        val broker = EmbeddedBroker.get(p.endpoint)
        val pulled = broker.pull(p.subscriptionPath, p.maxMessages)
        // writeCache returns the canonical rows for this slot (the
        // winner's, if a concurrent evaluation won the rename race).
        val canonical = writeCache(pulled)
        if (canonical ne pulled) {
          // lost the cross-JVM claim race: hand back every pulled
          // message the winner's file does not carry, or they stay
          // invisible until the ack deadline and the drain silently
          // under-delivers (the winner's own rows are acked at commit)
          val kept = canonical.iterator.map(_._1).toSet
          val orphaned = pulled.collect {
            case (aid, _) if !kept.contains(aid) => aid
          }
          if (orphaned.nonEmpty)
            broker.nack(p.subscriptionPath, orphaned)
        }
        canonical
      }
    }
    iter = fetched.iterator
  }

  override def next(): Boolean = {
    ensureFetched()
    if (iter.hasNext) { current = iter.next(); true } else false
  }

  // Converted once per partition, shared by every row.
  private lazy val subscriptionUtf8 =
    UTF8String.fromString(p.subscriptionPath)

  override def get(): InternalRow = {
    val (ackId, m) = current
    new PubsubMessageRow(subscriptionUtf8, ackId, m, p.fieldOrdinals)
  }

  override def close(): Unit = ()

  private def readCache() = ReplayCache.read(p.cachePath)
  private def writeCache(msgs: Seq[(String, EmbeddedBroker.Message)])
      : Seq[(String, EmbeddedBroker.Message)] =
    ReplayCache.write(p.cachePath, msgs)
}

object PubsubPartitionReader {
  // Striped locks for same-JVM same-slot first evaluations (see
  // ensureFetched): fixed-size, so the map never grows with stream
  // lifetime; a hash collision merely over-serializes two unrelated
  // slots' first pulls for one batch.
  private val slotLocks = Array.fill(64)(new Object)
  private def slotLock(cachePath: String): Object =
    slotLocks(math.floorMod(cachePath.hashCode, slotLocks.length))
}

/** Per-field LAZY row over one pulled message: each field converts to
  * its catalyst form the first time its ordinal is ACCESSED, so the
  * fused downstream Project touches only the columns the query reads —
  * `CAST(data AS STRING)` (the reference README's first example,
  * README.md:66-67) never pays the four UTF8String conversions or the
  * attributes-map array build of the untouched columns. This is the
  * narrow-projection win available WITHOUT optimizer pushdown: Spark
  * 4.1's micro-batch planner never calls pruneColumns (see
  * [[PubsubScanBuilder]]), but whole-stage codegen reads row fields by
  * ordinal on demand, and a full-width consumer (an Exchange's
  * UnsafeProjection) does the same per-field work the old eager
  * GenericInternalRow did up front — lazy is never worse.
  *
  * `ordinals` maps emitted field index -> FULL-schema ordinal
  * ([[PubsubOptions.ReadSchema]] order), so the same row type serves
  * pruned scans. Converted values memoize (a field read twice converts
  * once); `copy()` materializes every emitted field, preserving
  * InternalRow's contract for buffering consumers. All source fields
  * are non-null (`attributes` is `Map.empty` at minimum), so
  * `isNullAt` answers without materializing. */
final class PubsubMessageRow(
    subscription: UTF8String,
    ackId: String,
    m: EmbeddedBroker.Message,
    ordinals: Array[Int])
  extends InternalRow
  with org.apache.spark.sql.catalyst.expressions.BaseGenericInternalRow {

  private[this] val cache = new Array[AnyRef](ordinals.length)

  /** Test-scope visibility for the lazy-materialization win: how many
    * emitted fields have actually been converted. The timestamp fast
    * path ([[getLong]]) materializes nothing, so a timestamp-only
    * consumer reads 0. */
  private[pubsub] def touchedCount: Int = cache.count(_ != null)

  override def numFields: Int = ordinals.length

  override protected def genericGet(i: Int): Any = {
    var v = cache(i)
    if (v == null) {
      v = (ordinals(i): @scala.annotation.switch) match {
        case 0 => subscription
        case 1 => UTF8String.fromString(ackId)
        case 2 => UTF8String.fromString(m.messageId)
        case 3 => UTF8String.fromString(m.orderingKey)
        case 4 => m.data
        case 5 => java.lang.Long.valueOf(m.publishTimestampMicros)
        case 6 =>
          new ArrayBasedMapData(
            new GenericArrayData(m.attributes.keysIterator
              .map(UTF8String.fromString).toArray[Any]),
            new GenericArrayData(m.attributes.valuesIterator
              .map(UTF8String.fromString).toArray[Any]))
      }
      cache(i) = v.asInstanceOf[AnyRef]
    }
    v
  }

  // The timestamp is the one primitive column — skip the boxing the
  // generic path would pay on every row of a time-windowed query. Any
  // OTHER long-typed field (none in today's fixed schema, but a schema
  // evolution could add one) falls back to the generic boxed path
  // instead of throwing (r11 advice: a hard require here was a silent
  // trap coupled to the current schema shape).
  override def getLong(i: Int): Long =
    if (ordinals(i) == 5) m.publishTimestampMicros
    else genericGet(i).asInstanceOf[java.lang.Long].longValue()

  override def isNullAt(i: Int): Boolean = false
  override def anyNull: Boolean = false

  override def setNullAt(i: Int): Unit =
    throw new UnsupportedOperationException("PubsubMessageRow is read-only")
  override def update(i: Int, value: Any): Unit =
    throw new UnsupportedOperationException("PubsubMessageRow is read-only")

  override def copy(): GenericInternalRow =
    new GenericInternalRow(Array.tabulate[Any](ordinals.length)(genericGet))
}

/** Pulled-batch persistence under the checkpoint location: one file per
  * (batch, partition), written once by the first evaluation, replayed by
  * any later one, read by the driver at commit time for the ack ids, and
  * deleted after commit.
  *
  * Local paths (scheme `file` or none) go through java.nio directly:
  * Hadoop's default LocalFileSystem is a ChecksumFileSystem — every
  * cache write would also write a `.crc` sidecar and every read would
  * re-verify it, and each call paid a fresh `new Configuration()`. The
  * cache runs once per (batch, partition) INSIDE the micro-batch loop,
  * so that overhead is pure per-batch latency (measured ~20 ms of the
  * ~35 ms reader cost at defaults). Non-local schemes keep the Hadoop
  * path (HDFS rename-no-overwrite is already atomic there). */
object ReplayCache {

  import LocalFiles.nioPath

  /** One Configuration for all non-local calls — constructing one per
    * read/write re-parses the default resources. */
  private lazy val hadoopConf = new Configuration()
  private lazy val defaultScheme = LocalFiles.defaultScheme(hadoopConf)

  private def isLocal(p: Path): Boolean = LocalFiles.isLocal(p, defaultScheme)

  // Compact length-prefixed binary layout (java serialization of many
  // small Maps was measurable at 100k+ messages per partition). Strings
  // are raw length-prefixed UTF-8, NOT DataOutput.writeUTF — writeUTF
  // silently caps at 64 KB and a large attribute value would corrupt
  // the cache (caught by the BrokerPropertiesSpec round-trip property).

  private def writeStr(out: DataOutputStream, s: String): Unit = {
    val b = s.getBytes(java.nio.charset.StandardCharsets.UTF_8)
    out.writeInt(b.length)
    out.write(b)
  }

  private def readStr(in: DataInputStream): String = {
    val b = new Array[Byte](in.readInt())
    in.readFully(b)
    new String(b, java.nio.charset.StandardCharsets.UTF_8)
  }

  // File layout: count, then ALL ack ids (header), then message bodies.
  // The driver's commit path reads just the header — deserializing every
  // payload only to extract ack ids measurably delayed the next batch
  // (it runs inside Spark's between-batch source.commit call).

  /** Opens `p` for reading, None when absent — nio for local paths. */
  private def openFor(p: Path): Option[java.io.InputStream] =
    if (isLocal(p)) {
      val np = nioPath(p)
      try Some(java.nio.file.Files.newInputStream(np))
      catch { case _: java.nio.file.NoSuchFileException => None }
    } else {
      val fs = p.getFileSystem(hadoopConf)
      if (fs.exists(p)) Some(fs.open(p)) else None
    }

  def read(path: String): Option[Seq[(String, EmbeddedBroker.Message)]] =
    openFor(new Path(path)).map { raw =>
      val in = new DataInputStream(new BufferedInputStream(raw, 1 << 16))
      try {
        val count = in.readInt()
        val ids = Seq.fill(count)(readStr(in))
        ids.map { ackId =>
          val messageId = readStr(in)
          val orderingKey = readStr(in)
          val ts = in.readLong()
          val data = new Array[Byte](in.readInt())
          in.readFully(data)
          val nAttrs = in.readInt()
          val attrs = Seq.fill(nAttrs)(readStr(in) -> readStr(in)).toMap
          (ackId,
            EmbeddedBroker.Message(messageId, data, attrs, orderingKey, ts))
        }
      } finally in.close()
    }

  /** Just the ack ids of one cache file — reads the header only. */
  private def ackIdsOf(path: Path): Seq[String] =
    openFor(path).map { raw =>
      val in = new DataInputStream(new BufferedInputStream(raw, 1 << 16))
      try {
        val count = in.readInt()
        Seq.fill(count)(readStr(in))
      } finally in.close()
    }.getOrElse(Seq.empty)

  /** Persists `msgs` and returns the CANONICAL row set for this slot:
    * the argument when this writer's claim wins, the winner's file when
    * it loses — so two concurrent first evaluations of one
    * (batch, partition) always see identical rows, and the loser's
    * independently-leased pull never leaks into the stream (its leases
    * simply expire unacked and redeliver later, which at-least-once
    * semantics already cover). */
  def write(path: String,
      msgs: Seq[(String, EmbeddedBroker.Message)])
      : Seq[(String, EmbeddedBroker.Message)] = {
    val p = new Path(path)
    // First writer wins; a loser discards its pull and adopts the
    // winner's (retrying the read until the winner's file is visible).
    // Locally the claim is LocalFiles.claim's hard link; on HDFS-like
    // stores rename onto an existing path already fails atomically.
    val won =
      if (isLocal(p)) {
        val target = nioPath(p)
        java.nio.file.Files.createDirectories(target.getParent)
        val tmp = LocalFiles.tempBeside(target)
        writeTo(java.nio.file.Files.newOutputStream(tmp), msgs)
        LocalFiles.claim(tmp, target)
      } else {
        val fs = p.getFileSystem(hadoopConf)
        fs.mkdirs(p.getParent)
        val tmp = new Path(path + s".tmp-${java.util.UUID.randomUUID()}")
        writeTo(fs.create(tmp, true), msgs)
        val renamed = fs.rename(tmp, p)
        if (!renamed && fs.exists(tmp)) fs.delete(tmp, false)
        renamed
      }
    if (won) msgs
    else {
      var canonical: Option[Seq[(String, EmbeddedBroker.Message)]] = read(path)
      var attempts = 0
      while (canonical.isEmpty && attempts < 50) {
        Thread.sleep(100)
        canonical = read(path)
        attempts += 1
      }
      canonical.getOrElse(throw new java.io.IOException(
        s"replay cache $path: lost rename race but winner's file never " +
          "became visible"))
    }
  }

  private def writeTo(raw: java.io.OutputStream,
      msgs: Seq[(String, EmbeddedBroker.Message)]): Unit = {
    val out = new DataOutputStream(new BufferedOutputStream(raw, 1 << 16))
    try {
      out.writeInt(msgs.size)
      msgs.foreach { case (ackId, _) => writeStr(out, ackId) }
      msgs.foreach { case (_, m) =>
        writeStr(out, m.messageId)
        writeStr(out, m.orderingKey)
        out.writeLong(m.publishTimestampMicros)
        out.writeInt(m.data.length)
        out.write(m.data)
        out.writeInt(m.attributes.size)
        m.attributes.foreach { case (k, v) =>
          writeStr(out, k); writeStr(out, v)
        }
      }
    } finally out.close()
  }

  /** All ack ids recorded under a batch directory (driver side) —
    * header-only reads, the payloads stay on disk. */
  def ackIds(batchDir: Path): Seq[String] =
    partFiles(batchDir).flatMap(f =>
      try ackIdsOf(f)
      catch { case _: java.io.IOException => Seq.empty })

  private def partFiles(batchDir: Path): Seq[Path] =
    if (isLocal(batchDir)) {
      val d = nioPath(batchDir)
      if (!java.nio.file.Files.isDirectory(d)) Seq.empty
      else {
        val s = java.nio.file.Files.list(d)
        try {
          val out = Seq.newBuilder[Path]
          s.forEach { c =>
            val name = c.getFileName.toString
            if (!name.contains(".tmp-")) out += new Path(batchDir, name)
          }
          out.result()
        } finally s.close()
      }
    } else {
      val fs = batchDir.getFileSystem(hadoopConf)
      if (!fs.exists(batchDir)) Seq.empty
      else fs.listStatus(batchDir).toSeq.map(_.getPath)
        .filter(p => !p.getName.contains(".tmp-"))
    }

  /** Batch directories (`batch=N`) under the cache root with their ids —
    * ONE listing serves both the commit-time ack sweep and eviction. */
  def batchDirs(cacheRoot: Path): Seq[(Long, Path)] =
    if (isLocal(cacheRoot)) {
      val d = nioPath(cacheRoot)
      if (!java.nio.file.Files.isDirectory(d)) Seq.empty
      else {
        val s = java.nio.file.Files.list(d)
        try {
          val out = Seq.newBuilder[(Long, Path)]
          s.forEach { c =>
            val name = c.getFileName.toString
            if (name.startsWith("batch="))
              out += ((name.stripPrefix("batch=").toLong,
                new Path(cacheRoot, name)))
          }
          out.result()
        } finally s.close()
      }
    } else {
      val fs = cacheRoot.getFileSystem(hadoopConf)
      if (!fs.exists(cacheRoot)) Seq.empty
      else fs.listStatus(cacheRoot).toSeq.map(_.getPath)
        .filter(_.getName.startsWith("batch="))
        .map(p => (p.getName.stripPrefix("batch=").toLong, p))
    }

  /** Recursively deletes one batch directory (commit-time eviction). */
  def deleteBatchDir(dir: Path): Unit =
    if (isLocal(dir)) {
      val d = nioPath(dir)
      if (java.nio.file.Files.isDirectory(d)) {
        val s = java.nio.file.Files.list(d)
        try s.forEach(c => java.nio.file.Files.deleteIfExists(c))
        finally s.close()
        java.nio.file.Files.deleteIfExists(d)
      }
    } else {
      val fs = dir.getFileSystem(hadoopConf)
      if (fs.exists(dir)) { fs.delete(dir, true); () }
    }
}
