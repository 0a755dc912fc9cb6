package graft.pubsub

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.connector.write.{DataWriter, LogicalWriteInfo, PhysicalWriteInfo, Write, WriteBuilder, WriterCommitMessage}
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.types.{BinaryType, MapType, StringType, StructType}

/** Streaming sink: validates the incoming schema once at planning time
  * (reference validated per-batch, PubsubSink.scala:23-35), then publishes
  * from the executors through the embedded broker's idempotent ORDERED
  * publish — each row of a (queryId, epoch, partition) stream carries its
  * deterministic ordinal (the source's checkpoint replay makes row order
  * identical across attempts), and the broker accepts each ordinal
  * exactly once. A retried task therefore republishes the same row
  * sequence and the broker drops exactly the already-delivered prefix —
  * even when the retry's chunk BOUNDARIES differ from the first
  * attempt's (the 10 ms delay flush is timing-dependent; keying dedup on
  * the chunk index lost rows whenever a retry re-chunked: an
  * already-seen index with a shorter chunk dropped its tail). That
  * upgrades the reference's batch-level at-least-once
  * (PubsubSink.scala:17-18) to effectively-once per row while keeping
  * the publish on the executors (reference PubsubWriter.scala:29).
  *
  * DETERMINISM REQUIREMENT: ordinal dedup is sound only when each sink
  * partition's row SEQUENCE is identical across task attempts. The
  * pubsub source guarantees this (checkpoint-file replay); a plan whose
  * intra-partition order may change on retry (e.g. an unsorted shuffle
  * or aggregation feeding the sink) must add an explicit per-partition
  * sort before writing. The broker verifies a content hash per claimed
  * ordinal and FAILS the task on mismatch rather than silently dropping
  * the differing row ([[EmbeddedBroker.Broker.publishOrdered]]).
  */
class PubsubWriteBuilder(opts: PubsubWriteOptions, info: LogicalWriteInfo)
    extends WriteBuilder {

  override def build(): Write = {
    val schema = info.schema()
    PubsubWriteBuilder.validate(schema, opts)
    new Write {
      override def toStreaming: StreamingWrite =
        new PubsubStreamingWrite(opts, schema, info.queryId())
      override def description(): String =
        s"PubsubWrite(${opts.topicPath})"
    }
  }
}

object PubsubWriteBuilder {
  /** Structural subset validation, name+type, mirroring
    * PubsubSink.scala:23-35: `data BINARY` required, `attributes
    * MAP<STRING,STRING>` optional, plus an optional STRING ordering-key
    * column when configured. */
  def validate(schema: StructType, opts: PubsubWriteOptions): Unit = {
    def fieldType(name: String) =
      schema.fields.find(_.name == name).map(_.dataType)
    fieldType("data") match {
      case Some(BinaryType) => ()
      case Some(t) => throw new IllegalArgumentException(
        s"Column 'data' must be BINARY, got $t")
      case None => throw new IllegalArgumentException(
        "Sink schema must contain a BINARY column named 'data'")
    }
    fieldType("attributes") match {
      case None | Some(MapType(StringType, StringType, _)) => ()
      case Some(t) => throw new IllegalArgumentException(
        s"Column 'attributes' must be MAP<STRING,STRING>, got $t")
    }
    opts.orderingKeyColumn.foreach { k =>
      fieldType(k) match {
        case Some(StringType) => ()
        case Some(t) => throw new IllegalArgumentException(
          s"Ordering key column '$k' must be STRING, got $t")
        case None => throw new IllegalArgumentException(
          s"Ordering key column '$k' is missing from the sink schema")
      }
    }
  }
}

class PubsubStreamingWrite(opts: PubsubWriteOptions, schema: StructType,
    queryId: String) extends StreamingWrite {

  override def createStreamingWriterFactory(
      info: PhysicalWriteInfo): StreamingDataWriterFactory =
    PubsubWriterFactory(
      endpoint = opts.endpoint.getOrElse(EmbeddedBroker.DefaultEndpoint),
      topicPath = opts.topicPath,
      queryId = queryId,
      dataIdx = schema.fieldIndex("data"),
      attrIdx = schema.fields.indexWhere(_.name == "attributes"),
      keyIdx = opts.orderingKeyColumn.map(schema.fieldIndex).getOrElse(-1),
      timeoutNanos = opts.writerTimeoutSeconds * 1000000000L,
      maxOutstandingBytes = opts.maxOutstandingBytes)

  /** Releases the broker's ordered-publish state of this query's epochs
    * below `epochId`. Spark writes epoch N-1 to the commit log before
    * epoch N runs, so those epochs can never be retried. Epoch N keeps
    * its state: a crash between this call and its commit-log write
    * re-runs it, and its ordinals must still dedup. */
  override def commit(epochId: Long,
      messages: Array[WriterCommitMessage]): Unit =
    EmbeddedBroker.get(opts.endpoint.getOrElse(EmbeddedBroker.DefaultEndpoint))
      .releaseOrdered(queryId, epochId)

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit = ()
}

final case class PubsubWriterFactory(
    endpoint: String,
    topicPath: String,
    queryId: String,
    dataIdx: Int,
    attrIdx: Int,
    keyIdx: Int,
    timeoutNanos: Long =
      PubsubOptions.DefaultWriterTimeoutSeconds * 1000000000L,
    maxOutstandingBytes: Long = PubsubOptions.DefaultMaxOutstandingBytes)
    extends StreamingDataWriterFactory {

  override def createWriter(partitionId: Int, taskId: Long,
      epochId: Long): DataWriter[InternalRow] =
    new PubsubDataWriter(this, partitionId, epochId)
}

private case object PubsubCommitMessage extends WriterCommitMessage

/** Publishes in chunks of 20 (the reference publisher's batching element
  * count, CachedPublishers.scala:27-31), each chunk idempotent under the
  * (query, epoch, partition) stream's row ordinals — boundary-proof, see
  * [[EmbeddedBroker.Broker.publishOrdered]]. Three flow-control bounds mirror
  * the reference publisher: a chunk also flushes once its buffered
  * payload reaches `maxOutstandingBytes` (CachedPublishers.scala:21-25
  * blocks at 20 MB outstanding — synchronous publish makes the buffer
  * the only outstanding data, so capping it is the same bound), a chunk
  * older than the 10 ms max batching delay flushes on the next row (the
  * reference's publishDelayThreshold — bounds how long a slow source can
  * hold rows unpublished), and a flush that exceeds the writer timeout
  * fails the task (PubsubWriter.scala:96-100's publish-barrier await,
  * 300 s default). */
class PubsubDataWriter(f: PubsubWriterFactory, partitionId: Int,
    epochId: Long) extends DataWriter[InternalRow] {

  private val ChunkSize = 20
  private val MaxDelayNanos = 10000000L // 10 ms, CachedPublishers.scala:29
  private val broker = EmbeddedBroker.get(f.endpoint)
  private val buf =
    collection.mutable.ArrayBuffer[(Array[Byte], Map[String, String], String)]()
  private var bufBytes = 0L
  private var firstBufferedAt = 0L
  private var chunkNo = 0L
  /** Ordinal of the first buffered row = rows already flushed. Row order
    * is deterministic across attempts (checkpoint-replayed source), so
    * this is the broker-side exactly-once dedup coordinate. */
  private var flushedRows = 0L

  override def write(row: InternalRow): Unit = {
    if (row.isNullAt(f.dataIdx)) throw new IllegalArgumentException(
      "sink column 'data' must not be NULL (schema validation checks the " +
        "type; nullability is only visible per-row)")
    val data = row.getBinary(f.dataIdx)
    val attrs: Map[String, String] =
      if (f.attrIdx < 0 || row.isNullAt(f.attrIdx)) Map.empty
      else {
        // MapData -> Scala map (reference bridged UnsafeMapData the same
        // way, package.scala:204-219).
        val md = row.getMap(f.attrIdx)
        val ks = md.keyArray(); val vs = md.valueArray()
        (0 until md.numElements()).map(i =>
          ks.getUTF8String(i).toString -> vs.getUTF8String(i).toString).toMap
      }
    val key =
      if (f.keyIdx < 0 || row.isNullAt(f.keyIdx)) ""
      else row.getUTF8String(f.keyIdx).toString
    if (buf.isEmpty) firstBufferedAt = System.nanoTime()
    buf += ((data.clone(), attrs, key))
    bufBytes += data.length
    if (buf.size >= ChunkSize || bufBytes >= f.maxOutstandingBytes ||
      System.nanoTime() - firstBufferedAt >= MaxDelayNanos) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    val t0 = System.nanoTime()
    broker.publishOrdered(f.topicPath,
      EmbeddedBroker.streamKey(f.queryId, epochId, partitionId),
      flushedRows, buf.toSeq)
    if (System.nanoTime() - t0 > f.timeoutNanos)
      throw new java.io.IOException(
        s"pubsub sink: publish of chunk $chunkNo exceeded the " +
          s"writer timeout (${f.timeoutNanos / 1000000000L} s); " +
          "the task fails and the batch retries")
    flushedRows += buf.size
    buf.clear()
    bufBytes = 0L
    chunkNo += 1
  }

  override def commit(): WriterCommitMessage = {
    flush()
    PubsubCommitMessage
  }

  override def abort(): Unit = { buf.clear(); bufBytes = 0L }
  override def close(): Unit = ()
}
