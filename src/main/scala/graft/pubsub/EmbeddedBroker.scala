package graft.pubsub

import java.util.concurrent.atomic.AtomicLong
import scala.collection.mutable

/** In-process pub/sub broker standing in for the cloud service (the build
  * environment is zero-egress; see SURVEY.md §7.2). Semantics replicate
  * what the connector relies on in the reference system:
  *
  *  - topics / subscriptions; publishing fans out to every subscription
  *    attached to the topic at publish time
  *  - leased pull with ack ids: a pulled message is invisible until its
  *    ack deadline lapses, then is redelivered (at-least-once)
  *  - `acknowledge` permanently removes delivered messages
  *  - per-ordering-key FIFO: messages sharing a key are delivered in
  *    publish order, and a later message of a key is withheld while an
  *    earlier one is outstanding (leased but unacked)
  *  - backlog metrics (total and per-"region") feeding dynamic
  *    partitioning, replacing the cloud monitoring API
  *  - idempotent ordered publish (`publishOrdered`): each sink stream's
  *    rows carry deterministic ordinals and each ordinal is accepted
  *    once, giving effectively-once sink publishes under task retry
  *
  * Brokers are keyed by `endpoint` string, mirroring the reference's
  * emulator endpoint override. Thread-safe; everything synchronizes on the
  * subscription/topic object, never globally.
  */
object EmbeddedBroker {
  private val brokers = new java.util.concurrent.ConcurrentHashMap[String, Broker]()
  private val aliases = new java.util.concurrent.ConcurrentHashMap[String, String]()

  val DefaultEndpoint = "embedded:default"

  /** The ordered-publish stream key of one sink partition's epoch. */
  private[pubsub] def streamKey(queryId: String, epochId: Long,
      partitionId: Int): String = s"$queryId/$epochId/$partitionId"

  /** (query id, epoch) of a key built by [[streamKey]]; None for any
    * other key. */
  private[pubsub] def queryEpoch(key: String): Option[(String, Long)] = {
    val p = key.lastIndexOf('/')
    val e = if (p > 0) key.lastIndexOf('/', p - 1) else -1
    if (e < 0) None
    else key.substring(e + 1, p).toLongOption.map(key.substring(0, e) -> _)
  }

  /** Route `alias` to the broker behind `target` — the in-process analog
    * of a regional endpoint: in the reference, a region's partitions pull
    * through "$region-pubsub.googleapis.com:443" (package.scala:87-97) but
    * reach the same logical topic data. Aliases resolve one level (no
    * chains) and never shadow a broker already bound to the alias name. */
  def aliasEndpoint(alias: String, target: String): Unit =
    if (alias != target) aliases.putIfAbsent(alias, target)

  /** Whether `endpoint` is a registered alias — i.e. some stream actually
    * routed a regional endpoint here (lets tests assert the region-split
    * path engaged without `get`'s create-on-miss side effect). */
  def isAliased(endpoint: String): Boolean = aliases.containsKey(endpoint)

  def get(endpoint: String): Broker = {
    val resolved = aliases.getOrDefault(endpoint, endpoint)
    brokers.computeIfAbsent(resolved, _ => new Broker)
  }

  def reset(): Unit = { brokers.clear(); aliases.clear() }

  final case class Message(
      messageId: String,
      data: Array[Byte],
      attributes: Map[String, String],
      orderingKey: String,
      publishTimestampMicros: Long)

  private final class Sub(val topic: String, var ackDeadlineMs: Long) {
    /** Entries in publish (seq) order. Publishes append in order; only a
      * redelivery re-queues out of order, flagging a one-off re-sort. */
    val pending = mutable.ArrayBuffer[Entry]()
    val leased = mutable.LinkedHashMap[String, Entry]() // ackId -> entry
    var seq = 0L
    var needsSort = false
  }

  private final class Entry(val msg: Message, val seqNo: Long) {
    var leaseExpiry: Long = 0L // 0 = not leased
    var ackId: String = _
  }

  final class Broker {
    private val topics = mutable.Set[String]()
    private val subsByTopic = mutable.Map[String, mutable.Buffer[String]]()
    private val subs = mutable.Map[String, Sub]()
    private val retained = mutable.Map[String, mutable.ArrayBuffer[Message]]()
    private val msgId = new AtomicLong(0)
    private val ackId = new AtomicLong(0)
    // streamKey -> count of ordered-publish rows already accepted
    private val orderedHwm = mutable.Map[String, Long]()
    // streamKey -> per-ordinal content hash of every accepted row. A
    // retry that re-offers a CLAIMED ordinal with different content
    // means the upstream plan is not attempt-deterministic — silently
    // skipping it would lose the new row and keep the old one, so the
    // mismatch fails fast instead. Lives as long as orderedHwm (one
    // entry per query/epoch/partition stream, until the sink's epoch
    // commit releases it through releaseOrdered).
    private val orderedHashes = mutable.Map[String, mutable.ArrayBuffer[Long]]()
    // queryId -> the sink released every epoch below this one. A late
    // publish to a released epoch (a zombie task of an epoch that already
    // committed, so whose rows were all accepted) is dropped. One Long
    // per query, however long the stream runs.
    private val releasedBelow = mutable.Map[String, Long]()

    private def isReleased(streamKey: String): Boolean =
      EmbeddedBroker.queryEpoch(streamKey).exists { case (q, e) =>
        releasedBelow.get(q).exists(e < _)
      }

    def createTopic(topic: String): Unit = synchronized {
      topics += topic
      subsByTopic.getOrElseUpdate(topic, mutable.Buffer())
      retained.getOrElseUpdate(topic, mutable.ArrayBuffer())
    }

    /** With `backfill = true` the new subscription is seeded with every
      * message the topic retains — the cloud service's topic-retention +
      * seek-to-start semantics, so late-created subscriptions can replay
      * history without a re-publish. */
    def createSubscription(name: String, topic: String,
        ackDeadlineMs: Long = 10000, backfill: Boolean = false): Unit =
      synchronized {
        require(topics.contains(topic), s"no such topic: $topic")
        val s = new Sub(topic, ackDeadlineMs)
        if (backfill) retained(topic).foreach { m =>
          s.pending += new Entry(m, s.seq)
          s.seq += 1
        }
        subs(name) = s
        subsByTopic(topic) += name
      }

    def deleteSubscription(name: String): Unit = synchronized {
      subs.remove(name).foreach(s =>
        subsByTopic.get(s.topic).foreach(_ -= name))
    }

    def publish(topic: String, data: Array[Byte],
        attributes: Map[String, String] = Map.empty,
        orderingKey: String = ""): String =
      publishBatch(topic, Seq((data, attributes, orderingKey))).head

    /** Bulk publish: one lock acquisition per subscription per batch
      * (single-message publishes at 100k+/s would serialize on locks). */
    def publishBatch(topic: String,
        msgs: Seq[(Array[Byte], Map[String, String], String)]): Seq[String] = {
      val (targets, prepared) = synchronized {
        require(topics.contains(topic), s"no such topic: $topic")
        val now = System.currentTimeMillis() * 1000L
        val ms = msgs.map { case (d, a, k) =>
          Message(msgId.incrementAndGet().toString, d, a, k, now)
        }
        retained(topic) ++= ms
        (subsByTopic(topic).toSeq, ms)
      }
      targets.foreach { sName =>
        val s = synchronized(subs(sName))
        s.synchronized {
          prepared.foreach { m =>
            s.pending += new Entry(m, s.seq)
            s.seq += 1
          }
        }
      }
      prepared.map(_.messageId)
    }

    /** Idempotent ORDERED publish for exactly-once sinks: rows of one
      * `streamKey` (query/epoch/partition) carry deterministic ordinals
      * `[startOrdinal, startOrdinal + msgs.size)`; only ordinals at or
      * above the stream's high-water mark are accepted. Chunk boundaries
      * therefore don't matter: a retried attempt that re-publishes the
      * same deterministic row sequence chunked DIFFERENTLY (the sink's
      * 10 ms delay flush moves boundaries under load) neither loses nor
      * duplicates rows — chunk-index dedup couldn't guarantee that (an
      * already-seen index arriving with a shorter chunk silently dropped
      * the tail rows). Ordinal claim and append run under one broker
      * lock, so a zombie attempt racing the retry can't double-publish:
      * each ordinal is accepted exactly once regardless of interleaving.
      * A stream key of an epoch released by [[releaseOrdered]] accepts
      * nothing.
      */
    def publishOrdered(topic: String, streamKey: String,
        startOrdinal: Long,
        msgs: Seq[(Array[Byte], Map[String, String], String)]): Unit = {
      // hashing is pure: done before the broker-wide lock, which then
      // covers only the compare, the append and the mark
      val msgHashes = msgs.iterator.map(contentHash).toArray
      synchronized {
        // a released epoch has committed: all its rows are in already
        if (!isReleased(streamKey)) {
          val hwm = orderedHwm.getOrElse(streamKey, 0L)
          val skip = math.min(math.max(hwm - startOrdinal, 0L),
            msgs.size.toLong).toInt
          val hashes =
            orderedHashes.getOrElseUpdate(streamKey, mutable.ArrayBuffer())
          // The skipped prefix must be byte-identical to what claimed those
          // ordinals: exactly-once by ordinal is only sound when row content
          // at each ordinal is stable across attempts. A mismatch is a
          // non-deterministic upstream (e.g. a shuffle whose intra-partition
          // order changed on retry) — data WOULD be lost, so fail the task.
          msgHashes.iterator.take(skip).zipWithIndex.foreach { case (h, i) =>
            val ord = startOrdinal + i
            if (ord < hashes.size && hashes(ord.toInt) != h)
              throw new IllegalStateException(
                s"pubsub sink: retried publish offered different content at " +
                  s"ordinal $ord of stream $streamKey; the upstream plan is " +
                  "not deterministic across attempts (see " +
                  "PubsubStreamingWrite determinism requirement)")
          }
          val fresh = msgs.drop(skip)
          // publish BEFORE advancing the mark: if the append throws, the
          // rows stay unclaimed and a retry re-publishes them (no loss)
          if (fresh.nonEmpty) publishBatch(topic, fresh)
          hashes ++= msgHashes.iterator.drop(skip)
          orderedHwm(streamKey) = math.max(hwm, startOrdinal + msgs.size)
        }
      }
    }

    /** Releases `queryId`'s epochs below `belowEpoch`: drops their
      * ordered-publish state, and later publishes to them are dropped.
      * The sink releases the epochs that the commit log already holds,
      * which no retry can re-offer (see [[PubsubStreamingWrite.commit]]). */
    private[pubsub] def releaseOrdered(queryId: String,
        belowEpoch: Long): Unit = synchronized {
      releasedBelow(queryId) =
        math.max(releasedBelow.getOrElse(queryId, belowEpoch), belowEpoch)
      orderedHwm.keys.filter(isReleased).toList.foreach { k =>
        orderedHwm.remove(k)
        orderedHashes.remove(k)
      }
    }

    /** Stream keys that still hold ordered-publish state. */
    private[pubsub] def orderedKeys: Seq[String] =
      synchronized(orderedHwm.keys.toList)

    /** 64-bit FNV-1a over data bytes, ordering key, and sorted attributes
      * — the per-ordinal content fingerprint for retry verification. */
    private def contentHash(
        m: (Array[Byte], Map[String, String], String)): Long = {
      var h = 0xcbf29ce484222325L
      def mix(b: Int): Unit = { h ^= (b & 0xff); h *= 0x100000001b3L }
      m._1.foreach(b => mix(b))
      m._3.getBytes("UTF-8").foreach(b => mix(b))
      m._2.toSeq.sorted.foreach { case (k, v) =>
        k.getBytes("UTF-8").foreach(b => mix(b)); mix(0)
        v.getBytes("UTF-8").foreach(b => mix(b)); mix(1)
      }
      h
    }

    /** Leased pull honoring per-key FIFO. Returns (ackId, message). */
    def pull(subscription: String, maxMessages: Int): Seq[(String, Message)] = {
      val s = synchronized(subs.getOrElse(subscription,
        throw new IllegalArgumentException(s"no such subscription: $subscription")))
      s.synchronized {
        val now = System.currentTimeMillis()
        // Reclaim expired leases back into pending (redelivery).
        val expired = s.leased.filter(_._2.leaseExpiry <= now)
        expired.foreach { case (aid, e) =>
          s.leased -= aid
          e.leaseExpiry = 0
          s.pending += e
          s.needsSort = true
        }
        if (s.needsSort) {
          s.pending.sortInPlaceBy(_.seqNo)
          s.needsSort = false
        }
        val keysOutstanding = mutable.Set.from(
          s.leased.values.view.map(_.msg.orderingKey).filter(_.nonEmpty))
        val out = mutable.ArrayBuffer[(String, Message)]()
        val taken = java.util.Collections.newSetFromMap(
          new java.util.IdentityHashMap[Entry, java.lang.Boolean]())
        val it = s.pending.iterator
        while (it.hasNext && out.size < maxMessages) {
          val e = it.next()
          val k = e.msg.orderingKey
          // A keyed message is deliverable only if no earlier message of
          // the same key is outstanding; within this pull, keys stay FIFO
          // because entries are scanned in seq order.
          if (k.isEmpty || !keysOutstanding.contains(k)) {
            val aid = s"ack-${ackId.incrementAndGet()}"
            e.ackId = aid
            e.leaseExpiry = now + s.ackDeadlineMs
            s.leased(aid) = e
            out += ((aid, e.msg))
            taken.add(e)
            // Same-key messages later in this scan may still deliver: they
            // ride the same response in order (within-pull FIFO).
          }
        }
        if (!taken.isEmpty) s.pending.filterInPlace(e => !taken.contains(e))
        out.toSeq
      }
    }

    def acknowledge(subscription: String, ackIds: Seq[String]): Unit = {
      val s = synchronized(subs.getOrElse(subscription, return))
      s.synchronized { ackIds.foreach(s.leased.remove) }
    }

    /** Return leased messages to the queue IMMEDIATELY — the cloud
      * service's `modifyAckDeadline(0)` nack. A reader that pulled
      * messages but lost the replay-cache claim race must hand them
      * back now: left leased, they stay invisible until the ack
      * deadline (p15's drain measured a silently missing half-trigger
      * under a 600 s deadline — r13). Unknown/already-acked ids are
      * no-ops. Entries re-enter pending at their original sequence
      * positions, so redelivery keeps publish order. */
    def nack(subscription: String, ackIds: Seq[String]): Unit = {
      val s = synchronized(subs.getOrElse(subscription, return))
      s.synchronized {
        ackIds.foreach { aid =>
          s.leased.remove(aid).foreach { e =>
            e.leaseExpiry = 0
            s.pending += e
            s.needsSort = true
          }
        }
      }
    }

    /** Changes the subscription's ack deadline for FUTURE leases (the
      * cloud service's UpdateSubscription(ackDeadlineSeconds) — lets a
      * consumer size the deadline above its worst-case pull-to-commit
      * latency so in-flight batches aren't redelivered mid-batch). */
    def setAckDeadline(subscription: String, deadlineMs: Long): Unit = {
      require(deadlineMs > 0, s"ack deadline must be positive: $deadlineMs")
      val s = synchronized(subs.getOrElse(subscription, return))
      s.synchronized { s.ackDeadlineMs = deadlineMs }
    }

    /** TEST HOOK: expires every outstanding lease immediately, so the
      * next pull redelivers the whole in-flight set. Deterministic
      * stand-in for waiting out the ack deadline on a wall clock —
      * tests that sleep past a deadline flake under CI load; this
      * doesn't (expiry reclamation itself is lazy, inside pull). */
    def expireLeases(subscription: String): Unit = {
      val s = synchronized(subs.getOrElse(subscription, return))
      s.synchronized { s.leased.valuesIterator.foreach(_.leaseExpiry = 0L) }
    }

    /** Extends the lease of every currently-outstanding message by the
      * subscription's deadline from now (ModifyAckDeadline over the whole
      * in-flight set — the streaming source calls this per planned batch
      * so slow batches keep their leases alive). */
    def extendLeases(subscription: String): Unit = {
      val s = synchronized(subs.getOrElse(subscription, return))
      s.synchronized {
        val expiry = System.currentTimeMillis() + s.ackDeadlineMs
        s.leased.valuesIterator.foreach(_.leaseExpiry = expiry)
      }
    }

    /** Undelivered = pending + leased-but-unacked
      * (mirrors `num_undelivered_messages`). */
    def backlog(subscription: String): Long = {
      val s = synchronized(subs.getOrElse(subscription, return 0L))
      s.synchronized { (s.pending.size + s.leased.size).toLong }
    }

    /** Per-region backlog, region taken from the `region` attribute
      * (mirrors `num_unacked_messages_by_region`). */
    def backlogByRegion(subscription: String): Map[String, Long] = {
      val s = synchronized(subs.getOrElse(subscription, return Map.empty))
      s.synchronized {
        (s.pending.iterator ++ s.leased.valuesIterator)
          .toSeq
          .groupBy(_.msg.attributes.getOrElse("region", "global"))
          .view.mapValues(_.size.toLong).toMap
      }
    }
  }
}
