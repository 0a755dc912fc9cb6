package graft.pubsub

import scala.collection.mutable

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.read.{InputPartition, PartitionReaderFactory}
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadLimit, ReadMaxRows, SupportsTriggerAvailableNow}

/** Micro-batch streaming source over the embedded broker.
  *
  * Semantics mirrored from the reference
  * (PubsubMicroBatchStream.scala:17-182):
  *  - offsets are logical batch counters, not positions (§3.1 step 4)
  *  - each batch plans N partitions, each pulling up to
  *    `max_messages_per_partition` leased messages
  *  - re-evaluation of a batch is deterministic: the first pull per
  *    (batch, partition) is persisted to the checkpoint location and
  *    replayed from there (the reference cached in the BlockManager and
  *    left checkpoint persistence as its own TODO,
  *    PubsubPartitionReader.scala:56 — the checkpoint cache is the
  *    public-API, executor-loss-proof version of the same idea)
  *  - ack ids flow executor->driver through the replay-cache files and
  *    are acknowledged only after the batch commits: at-least-once
  *  - one active stream per subscription; splitting a subscription across
  *    streams is rejected (reference companion registry,
  *    PubsubMicroBatchStream.scala:166-180)
  *  - Trigger.AvailableNow snapshots a batch budget from the backlog
  *  - admission control: `max_messages_per_trigger` flows through
  *    Spark's ReadLimit.maxRows and caps each batch's pull budget,
  *    spread across the planned partitions
  */
class PubsubMicroBatchStream(
    opts: PubsubReadOptions,
    checkpointLocation: String,
    readSchema: org.apache.spark.sql.types.StructType =
      PubsubOptions.ReadSchema)
    extends MicroBatchStream with SupportsTriggerAvailableNow {

  /** Emitted-field ordinals into the FULL source schema, in the pruned
    * schema's order — what [[PubsubPartitionReader]] materializes. */
  private val fieldOrdinals: Array[Int] =
    readSchema.fieldNames.map(PubsubOptions.ReadSchema.fieldIndex)

  private val session = SparkSession.active
  private val endpoint = opts.endpoint.getOrElse(EmbeddedBroker.DefaultEndpoint)
  private val broker = EmbeddedBroker.get(endpoint)
  private val monitor: Option[PubsubBacklogMonitor] =
    if (opts.dynamicPartitioning)
      Some(new PubsubBacklogMonitor(broker, opts.subscriptionPath,
        session.sparkContext.getConf))
    else None

  /** Last announced batch id; -1 = nothing announced yet. */
  private var current = -1L
  /** Remaining batch budget under Trigger.AvailableNow. */
  private var availableNowBudget: Option[Long] = None
  /** Per-trigger row cap from the last latestOffset's ReadLimit; the
    * next planInputPartitions spreads it across its partitions. */
  @volatile private var triggerMaxRows: Option[Long] =
    opts.maxMessagesPerTrigger

  // Registry key includes the endpoint: the same subscription name on two
  // different brokers is two different subscriptions.
  private val registryKey = s"$endpoint/${opts.subscriptionPath}"
  PubsubStreamRegistry.register(registryKey, checkpointLocation)

  // Size the ack deadline above the worst-case pull-to-commit latency so
  // a slow micro-batch isn't redelivered mid-flight (ADVICE: the 10s
  // broker default only holds when batches commit fast).
  opts.ackDeadlineSeconds.foreach(s =>
    broker.setAckDeadline(opts.subscriptionPath, s * 1000L))

  private def cacheRoot = new Path(checkpointLocation, "graft-pubsub-cache")

  override def initialOffset(): Offset = PubsubOffset(-1L)

  override def deserializeOffset(json: String): Offset =
    PubsubOffset(json.toLong)

  override def getDefaultReadLimit: ReadLimit =
    opts.maxMessagesPerTrigger
      .map(ReadLimit.maxRows)
      .getOrElse(ReadLimit.allAvailable())

  /** The per-trigger row cap inside `limit`, if any (AvailableNow wraps
    * the default limit in a composite). */
  private def maxRowsOf(limit: ReadLimit): Option[Long] = limit match {
    case r: ReadMaxRows => Some(r.maxRows())
    case c: CompositeReadLimit =>
      c.getReadLimits.collectFirst { case r: ReadMaxRows => r.maxRows() }
    case _ => None
  }

  override def prepareForTriggerAvailableNow(): Unit = synchronized {
    val backlog = broker.backlog(opts.subscriptionPath)
    val parts = plannedPartitionCount()
    // Batch-count estimate from the reference's AvailableNow sizing
    // (PubsubSubscriptionMonitor.scala:96-113): backlog/(partitions*500).
    // Under a per-trigger cap each batch admits at most `n` rows — but
    // planInputPartitions also clamps each partition at
    // max_messages_per_partition, so the EFFECTIVE per-batch admission is
    // min(n, parts * perPartitionCap). Budget = ceil(backlog / effective)
    // or the drain stops with messages still queued when the cap exceeds
    // what the partitions can physically pull in one batch.
    // +2 slack beyond the exact estimate: a cross-JVM replay-cache
    // claim race NACKs the loser's pulled slice back into the backlog
    // (PubsubPartitionReader), so a trigger can under-deliver and the
    // returned messages need extra triggers to drain. The slack only
    // engages when backlog remains (mayAdvance checks backlog > 0), so
    // a clean drain still stops at the estimate.
    availableNowBudget = Some(opts.maxMessagesPerTrigger match {
      case Some(n) =>
        val effective =
          math.max(math.min(n, parts.toLong * opts.maxMessagesPerPartition), 1L)
        math.max((backlog + effective - 1) / effective, 1L) + 2L
      case None => math.max(backlog / (parts * 500L), 1L) + 2L
    })
  }

  // The legacy no-arg path must still honor the configured per-trigger
  // cap: allAvailable() here would silently drop admission control for
  // any engine path that calls it.
  override def latestOffset(): Offset =
    latestOffset(PubsubOffset(current), getDefaultReadLimit)

  override def latestOffset(start: Offset, limit: ReadLimit): Offset =
    synchronized {
      triggerMaxRows = maxRowsOf(limit)
      current = math.max(current, start.asInstanceOf[PubsubOffset].batchId)
      val backlog = broker.backlog(opts.subscriptionPath)
      val mayAdvance = availableNowBudget match {
        case Some(remaining) => remaining > 0 && backlog > 0
        case None => backlog > 0
      }
      if (mayAdvance) {
        current += 1
        availableNowBudget = availableNowBudget.map(_ - 1)
      }
      PubsubOffset(current)
    }

  private def plannedPartitionCount(): Int =
    monitor.map(_.partitionCount()).getOrElse(opts.numPartitions)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val endBatch = end.asInstanceOf[PubsubOffset].batchId
    synchronized { current = math.max(current, endBatch) }
    // Planning a batch means earlier batches' messages are still in
    // flight (acked only at commit): renew their leases so they don't
    // expire and double-deliver into this batch.
    broker.extendLeases(opts.subscriptionPath)
    // Region-aware fan-out: when one region dominates the backlog, give
    // each region its own slice of partitions AND its own regional
    // endpoint (reference PubsubMicroBatchStream.scala:58-74 +
    // package.scala:87-97: Region -> "$region-pubsub.googleapis.com:443",
    // "global" keeps the base endpoint). In-process the regional endpoint
    // is an alias onto the same broker — the honest analog of GCP's
    // regional routes to one logical topic; on a real service it would be
    // the regional host.
    val regions: Seq[(String, Int)] = monitor match {
      case Some(m) => m.regionPartitionCounts()
      case None => Seq("global" -> opts.numPartitions)
    }
    // Admission control: spread the trigger's row cap over the planned
    // partitions (first `cap % P` partitions take one extra) and clamp
    // by the per-partition pull bound. Replay of a planned batch reads
    // the checkpoint cache, so the cap never affects determinism.
    val totalParts = regions.map(_._2).sum
    def partitionBudget(i: Int): Int = triggerMaxRows match {
      case Some(cap) =>
        val base = cap / totalParts
        val extra = if (i < cap % totalParts) 1L else 0L
        math.min(base + extra, opts.maxMessagesPerPartition.toLong).toInt
      case None => opts.maxMessagesPerPartition
    }
    var idx = -1
    regions.flatMap { case (region, n) =>
      val regionEp =
        if (region == "global") endpoint
        else {
          val ep = s"$region-$endpoint"
          EmbeddedBroker.aliasEndpoint(ep, endpoint)
          ep
        }
      (0 until n).map { _ =>
        idx += 1
        PubsubInputPartition(
          subscriptionPath = opts.subscriptionPath,
          endpoint = regionEp,
          batchId = endBatch,
          maxMessages = partitionBudget(idx),
          cachePath = new Path(cacheRoot,
            s"batch=$endBatch/part=$idx").toString,
          region = region,
          fieldOrdinals = fieldOrdinals)
      }
    }.toArray[InputPartition]
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new PubsubPartitionReaderFactory

  override def commit(end: Offset): Unit = {
    val endBatch = end.asInstanceOf[PubsubOffset].batchId
    // Ack ids come from the replay-cache files of every still-cached batch
    // up to `end` (dedup in case of racing re-pulls), acknowledged in
    // groups of 1500 (reference: PubsubMicroBatchStream.scala:93-107).
    // ONE directory sweep serves both the ack read and the eviction —
    // commit runs between micro-batches, so every filesystem call here
    // is per-batch latency.
    try {
      ReplayCache.batchDirs(cacheRoot).foreach { case (id, dir) =>
        if (id <= endBatch) {
          ReplayCache.ackIds(dir).distinct.grouped(1500).foreach(
            g => broker.acknowledge(opts.subscriptionPath, g))
          // The committed batch can never be re-planned: drop its cache.
          ReplayCache.deleteBatchDir(dir)
        }
      }
    } catch { case _: java.io.IOException => () } // redelivery covers us
  }

  override def stop(): Unit = {
    PubsubStreamRegistry.deregister(registryKey)
    monitor.foreach(_.stop())
    try ReplayCache.batchDirs(cacheRoot)
      .foreach(d => ReplayCache.deleteBatchDir(d._2))
    catch { case _: java.io.IOException => () } // best-effort eviction
  }

  override def toString: String =
    s"PubsubMicroBatchStream(${opts.subscriptionPath})"
}

/** One active stream per subscription, JVM-wide. Rejects both duplicate
  * subscriptions and stream splits (reference companion registry,
  * PubsubMicroBatchStream.scala:166-180, README.md:129-131). */
object PubsubStreamRegistry {
  private val active = mutable.Map[String, String]() // subPath -> checkpoint

  def register(subscriptionPath: String, checkpoint: String): Unit =
    synchronized {
      active.get(subscriptionPath) match {
        case Some(existing) if existing == checkpoint =>
          // Same stream restarting (same checkpoint) — idempotent no-op,
          // so a restart after a driver-side failure that skipped stop()
          // doesn't permanently block the subscription (reference
          // registerStream only rejects a DIFFERENT checkpoint).
          ()
        case Some(_) =>
          throw new IllegalStateException(
            s"Subscription $subscriptionPath is already bound to a " +
              "different stream; splitting one subscription across " +
              "streams/sinks is not supported (use foreachBatch for " +
              "multi-sink fan-out)")
        case None => active(subscriptionPath) = checkpoint
      }
    }

  def deregister(subscriptionPath: String): Unit =
    synchronized { active.remove(subscriptionPath) }

  def clear(): Unit = synchronized { active.clear() }
}
