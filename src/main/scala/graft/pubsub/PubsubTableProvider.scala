package graft.pubsub

import java.util
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read.{Scan, ScanBuilder, SupportsPushDownRequiredColumns}
import org.apache.spark.sql.connector.read.streaming.MicroBatchStream
import org.apache.spark.sql.connector.write.{LogicalWriteInfo, Write, WriteBuilder}
import org.apache.spark.sql.connector.write.streaming.StreamingWrite
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types.StructType
import org.apache.spark.sql.util.CaseInsensitiveStringMap

/** Registers the `pubsub` short name and builds the streaming table.
  *
  * All-public DSv2 surface (reference used the internal
  * SimpleTableProvider + V1 StreamSinkProvider,
  * PubsubTableProvider.scala:12-31; see SURVEY.md §7.1 for why we use
  * TableProvider + SupportsWrite/STREAMING_WRITE instead).
  */
class PubsubTableProvider extends TableProvider with DataSourceRegister {
  override def shortName(): String = "pubsub"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    PubsubOptions.ReadSchema

  /** Also installs [[LocalCheckpointFileManager]] as the session's
    * checkpoint file manager unless one is configured: both
    * `readStream.format("pubsub").load()` and
    * `writeStream.format("pubsub").start()` get here before the query
    * builds its offset and commit logs. */
  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table = {
    LocalCheckpointFileManager.installIfUnset(SparkSession.active)
    new PubsubTable(properties.asScala.toMap)
  }
}

/** Fixed-schema streaming table: micro-batch readable, streaming
  * writable (append-only — no SupportsTruncate, so Complete/Update output
  * modes are rejected by Spark; reference enforced Append at
  * PubsubTableProvider.scala:24-25). */
class PubsubTable(properties: Map[String, String])
    extends Table with SupportsRead with SupportsWrite {

  override def name(): String = "PubsubTable"
  override def schema(): StructType = PubsubOptions.ReadSchema

  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(
      TableCapability.MICRO_BATCH_READ,
      TableCapability.STREAMING_WRITE,
      // The sink accepts any schema containing (data, attributes[, key]);
      // validation happens in PubsubWriteBuilder.
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(options: CaseInsensitiveStringMap): ScanBuilder = {
    // Merge table properties under scan options (scan options win), the
    // same merge the reference does at PubsubTable.scala:24-28.
    val merged = properties ++ options.asScala
    new PubsubScanBuilder(PubsubOptions.readOptions(merged))
  }

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder = {
    val merged = properties ++ info.options().asScala
    new PubsubWriteBuilder(PubsubOptions.writeOptions(merged), info)
  }
}

/** Scan builder with column-pruning pushdown (the reference's
  * PubsubScanBuilder.scala:6-8 implements no pushdown mix-ins; every
  * real user's first query is `CAST(data AS STRING)` — reference
  * README.md:66-67 — so the 7-column row should narrow to what the
  * query reads).
  *
  * HONESTY NOTE on who calls this: Spark 4.1's micro-batch planner
  * builds streaming scans directly (MicroBatchExecution's relation
  * transform calls `newScanBuilder(options).build()` with no
  * V2ScanRelationPushDown pass — the rule only matches batch
  * relations), so TODAY no streaming query triggers `pruneColumns`;
  * the pushdown is exercised by direct builder use (PubsubPruningSpec)
  * and engages automatically the release Spark extends pushdown to
  * streaming. The narrow-projection win that IS reachable today comes
  * from the reader's per-field LAZY row ([[PubsubMessageRow]]): the
  * fused Project accesses only the ordinals it needs, so untouched
  * columns never materialize regardless of pushdown. */
class PubsubScanBuilder(opts: PubsubReadOptions)
    extends ScanBuilder with SupportsPushDownRequiredColumns {
  private var required: StructType = PubsubOptions.ReadSchema
  override def pruneColumns(requiredSchema: StructType): Unit = {
    // Spark passes a subset of the table schema in schema order; an
    // empty projection (pure count) is legal and yields 0-field rows.
    PubsubScanBuilder.pruneCalls.incrementAndGet()
    required = requiredSchema
  }
  override def build(): Scan = new PubsubScan(opts, required)
}

object PubsubScanBuilder {
  /** Counts every planner-initiated pruneColumns call — exists for the
    * canary spec that pins the honesty note above: the day a Spark
    * release starts running a pushdown pass over streaming relations,
    * PubsubPruningSpec's canary FAILS, which is the signal to wire the
    * (already-working) pushdown into p01's PLANS.md plan assertion and
    * retire the note. Monotonic process-wide counter; test-scope reads
    * diff it around a query. */
  private[pubsub] val pruneCalls =
    new java.util.concurrent.atomic.AtomicLong(0)
}

/** Row-oriented scan (columnar unsupported, as in the reference:
  * PubsubScan.scala:13) over the (possibly pruned) `schema`. */
class PubsubScan(opts: PubsubReadOptions,
    schema: StructType = PubsubOptions.ReadSchema) extends Scan {
  override def readSchema(): StructType = schema
  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    new PubsubMicroBatchStream(opts, checkpointLocation, schema)
  override def description(): String =
    s"PubsubScan(${opts.subscriptionPath})" +
      s"[${schema.fieldNames.mkString(",")}]"
}
