package perfbench

import java.io.{File, PrintWriter}
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.perfbench.ListenerBus
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.LambdaFunction
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** The traced run's recorder. Everything is observed from outside the
  * program: spans around the benchmark's own calls, Spark jobs and
  * stages from a `SparkListener`, micro-batches from a
  * `StreamingQueryListener`, executed plans from a
  * `QueryExecutionListener`. Records stay in memory; [[write]] puts them
  * out once, as spans linked to their parents, each with its self time.
  *
  * Spans nest workload -> phase/pass -> query or micro-batch -> the
  * micro-batch's `durationMs` parts -> Spark job -> stage. A job finds
  * its parent through its local properties: `streaming.sql.batchId` and
  * `sql.streaming.queryId` for a micro-batch, the job group for a corpus
  * query, otherwise the innermost benchmark span open when it started.
  */
final class Trace {
  import Trace._

  private val epochBase = System.currentTimeMillis().toDouble
  private val nanoBase = System.nanoTime()
  /** Epoch ms on the monotonic clock (Spark's event times are epoch ms). */
  def nowMs(): Double = epochBase + (System.nanoTime() - nanoBase) / 1e6

  private val ids = new AtomicLong(0)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val jobs = new ConcurrentHashMap[Int, JobRec]()
  private val stages = new ConcurrentHashMap[Int, StageRec]()
  private val batches = new ConcurrentLinkedQueue[BatchRec]()
  private val plans = new ConcurrentLinkedQueue[PlanRec]()
  /** The benchmark span plan callbacks are credited to. Plan callbacks
    * arrive on the listener bus; [[flush]] at every span end keeps them
    * with the span that ran them. */
  @volatile private var current = 0L

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val props = Option(e.properties).map(_.asScala.toMap)
        .getOrElse(Map.empty[String, String])
      // A job's call site: Spark's property when set, else the name of
      // its last stage ("<API method> at <file>:<line>").
      val site = props.get("callSite.short")
        .orElse(e.stageInfos.sortBy(_.stageId).lastOption.map(_.name))
        .getOrElse("")
      jobs.put(e.jobId, new JobRec(e.jobId, e.time, props, site, e.stageIds))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobs.get(e.jobId)).foreach(_.end = e.time)
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val i = e.stageInfo
      val m = i.taskMetrics
      stages.put(i.stageId, StageRec(i.stageId,
        i.submissionTime.getOrElse(0L), i.completionTime.getOrElse(0L),
        i.numTasks, m.executorCpuTime, m.executorRunTime, m.jvmGCTime,
        m.shuffleWriteMetrics.bytesWritten))
    }
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      batches.add(BatchRec(p.id.toString, p.batchId,
        java.time.Instant.parse(p.timestamp).toEpochMilli,
        p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap,
        p.numInputRows))
    }
  }

  private val planListener = new QueryExecutionListener {
    override def onSuccess(func: String, qe: QueryExecution, ns: Long): Unit = {
      var lambdas = 0
      var natives = 0
      val nodes = PlanWalk.collectWithSubqueries(qe.executedPlan) { case p => p }
      nodes.foreach(_.expressions.foreach(_.foreach {
        case _: LambdaFunction => lambdas += 1
        case x if x.getClass.getName.startsWith("graft.functions.") =>
          natives += 1
        case _ =>
      }))
      plans.add(PlanRec(current, lambdas, natives,
        nodes.count(_.isInstanceOf[BroadcastExchangeExec])))
    }
    override def onFailure(func: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  /** Runs `body` with every listener attached, inside a benchmark span. */
  def traced[T](name: String)(body: => T): T = {
    val s = SparkSession.active
    s.sparkContext.addSparkListener(sparkListener)
    s.streams.addListener(streamListener)
    s.listenerManager.register(planListener)
    try span("bench", name)(_ => body)
    finally {
      s.sparkContext.removeSparkListener(sparkListener)
      s.streams.removeListener(streamListener)
      s.listenerManager.unregister(planListener)
    }
  }

  /** Waits until the listener bus has delivered every event so far. */
  def flush(): Unit = ListenerBus.waitUntilEmpty(SparkSession.active)

  /** A span around the benchmark's own call into a layer. */
  def span[T](layer: String, name: String, attrs: (String, String)*)(
      body: Long => T): T = {
    val id = ids.incrementAndGet()
    val parent = current
    val start = nowMs()
    current = id
    try body(id)
    finally {
      flush()
      current = parent
      spans.add(Span(id, parent, layer, name, start, nowMs(), attrs.toMap))
    }
  }

  private def spanById(id: Long): Span = spans.asScala.find(_.id == id).get

  private def jobsIn(s: Span): Seq[JobRec] = {
    val group = s.attrs.get("group")
    jobs.values.asScala.toSeq.filter { j =>
      group.exists(j.props.get("spark.jobGroup.id").contains(_)) ||
        (j.start >= s.start && j.start <= s.end)
    }.sortBy(_.start)
  }

  private def stagesOf(js: Seq[JobRec]): Seq[StageRec] =
    js.flatMap(_.stageIds).distinct.flatMap(i => Option(stages.get(i)))

  /** Micro-batches that read data since `fromMs`, with their jobs. */
  private def dataBatches(fromMs: Long): Seq[(BatchRec, Seq[JobRec])] = {
    val byBatch = jobs.values.asScala.toSeq.groupBy(j =>
      (j.props.getOrElse("sql.streaming.queryId", ""),
        j.props.getOrElse("streaming.sql.batchId", "")))
    batches.asScala.toSeq.filter(b => b.rows > 0 && b.startMs >= fromMs).map(b =>
      b -> byBatch.getOrElse((b.queryId, b.batchId.toString), Nil))
  }

  /** Source and micro-batch metrics over the traced micro-batches that
    * started at or after `fromMs`. */
  def streamMetrics(fromMs: Long): Seq[Metric] = {
    val bs = dataBatches(fromMs)
    def p(xs: Seq[Double], q: Double) = if (xs.isEmpty) 0.0 else Stats.pct(xs, q)
    def dur(k: String) = bs.map(_._1.durationMs.getOrElse(k, 0L).toDouble)
    val streamJobs = bs.flatMap(_._2)
    val st = stagesOf(streamJobs)
    // The scan stage is a batch's first: one task per planned partition.
    val parts = bs.flatMap { case (_, js) =>
      stagesOf(js).sortBy(_.id).headOption.map(_.tasks.toDouble) }
    Seq(
      Metric("source.latest_offset_ms_p50", p(dur("latestOffset"), 50), "ms"),
      Metric("source.commit_ms_p50", p(dur("commitOffsets"), 50), "ms"),
      Metric("source.partitions_per_batch", p(parts, 50), "count"),
      Metric("source.rows_per_batch_p50", p(bs.map(_._1.rows.toDouble), 50),
        "count"),
      Metric("source.batches", bs.size, "count"),
      Metric("microbatch.trigger_ms_p50", p(dur("triggerExecution"), 50), "ms"),
      Metric("microbatch.trigger_ms_p99", p(dur("triggerExecution"), 99), "ms"),
      Metric("microbatch.wal_commit_ms_p50", p(dur("walCommit"), 50), "ms"),
      Metric("microbatch.planning_ms_p50", p(dur("queryPlanning"), 50), "ms"),
      Metric("microbatch.add_batch_ms_p50", p(dur("addBatch"), 50), "ms"),
      Metric("microbatch.jobs_per_batch",
        if (bs.isEmpty) 0.0 else streamJobs.size.toDouble / bs.size, "count"),
      Metric("microbatch.task_cpu_s", st.map(_.cpuNs).sum / 1e9, "s"),
      Metric("microbatch.task_run_s", st.map(_.runMs).sum / 1e3, "s"))
  }

  /** Plan, driver and kernel figures of one corpus query span. */
  def queryFigures(spanId: Long): QueryFigures = {
    val s = spanById(spanId)
    val js = jobsIn(s)
    val st = stagesOf(js)
    val ps = plans.asScala.toSeq.filter(_.span == spanId)
    QueryFigures(
      jobs = js.size,
      stages = st.size,
      shuffleMb = st.map(_.shuffleWriteBytes).sum / 1048576.0,
      broadcasts = ps.map(_.broadcasts).sum,
      checkpoints = js.count(j => j.site.startsWith("checkpoint at") ||
        j.site.startsWith("localCheckpoint at")),
      taskCpuS = st.map(_.cpuNs).sum / 1e9,
      gcS = st.map(_.gcMs).sum / 1e3,
      gapS = (s.end - s.start -
        coveredMs(js.map(j => (j.start.toDouble, j.endOr(s.end))), s)) / 1e3,
      lambdas = ps.map(_.lambdas).sum,
      natives = ps.map(_.natives).sum)
  }

  /** Writes every span, with parent links and self times, as JSON. */
  def write(file: File): Unit = {
    val bench = spans.asScala.toSeq
    val root = Span(0L, -1L, "workload", "workload",
      (bench.map(_.start) :+ nowMs()).min, nowMs(), Map.empty)
    def innermost(t: Double): Long = bench
      .filter(s => s.start <= t && t <= s.end)
      .sortBy(s => s.end - s.start).headOption.map(_.id).getOrElse(0L)

    val derived = scala.collection.mutable.ArrayBuffer[Span]()
    def add(parent: Long, layer: String, name: String, start: Double,
        end: Double, attrs: Map[String, String] = Map.empty): Long = {
      val id = ids.incrementAndGet()
      derived += Span(id, parent, layer, name, start, end, attrs)
      id
    }
    // Micro-batches, laid out part by part in execution order.
    val addBatchOf = scala.collection.mutable.Map[(String, String), Long]()
    batches.asScala.foreach { b =>
      val total = b.durationMs.getOrElse("triggerExecution", 0L)
      val id = add(innermost(b.startMs.toDouble), "microbatch",
        s"batch ${b.batchId}", b.startMs, b.startMs + total,
        Map("queryId" -> b.queryId, "rows" -> b.rows.toString))
      var at = b.startMs.toDouble
      Seq("latestOffset" -> "source", "walCommit" -> "microbatch",
        "getBatch" -> "source", "queryPlanning" -> "plan",
        "addBatch" -> "microbatch", "commitOffsets" -> "source").foreach {
        case (part, layer) => b.durationMs.get(part).foreach { d =>
          val pid = add(id, layer, part, at, at + d)
          if (part == "addBatch")
            addBatchOf((b.queryId, b.batchId.toString)) = pid
          at += d
        }
      }
    }
    val groups = bench.flatMap(s => s.attrs.get("group").map(_ -> s.id)).toMap
    jobs.values.asScala.toSeq.sortBy(_.id).foreach { j =>
      val parent = addBatchOf.get((
        j.props.getOrElse("sql.streaming.queryId", ""),
        j.props.getOrElse("streaming.sql.batchId", "")))
        .orElse(j.props.get("spark.jobGroup.id").flatMap(groups.get))
        .getOrElse(innermost(j.start.toDouble))
      val jid = add(parent, "spark.job", s"job ${j.id}", j.start,
        j.endOr(j.start.toDouble), Map("callSite" -> j.site))
      j.stageIds.flatMap(i => Option(stages.get(i))).foreach { s =>
        add(jid, "spark.stage", s"stage ${s.id}", s.submit, s.complete,
          Map("tasks" -> s.tasks.toString))
      }
    }

    val all = root +: (bench ++ derived)
    val children = all.groupBy(_.parent)
    def self(s: Span): Double = (s.end - s.start) -
      coveredMs(children.getOrElse(s.id, Nil).map(c => (c.start, c.end)), s)
    val selfMs = all.map(s => s.id -> self(s)).toMap
    val byLayer = all.groupBy(_.layer).view.mapValues(g =>
      g.map(s => selfMs(s.id)).sum).toMap

    val out = new PrintWriter(file, "UTF-8")
    try {
      out.println("{\"self_ms_by_layer\":{" + byLayer.toSeq.sortBy(_._1)
        .map { case (l, v) => s"${Json.str(l)}:${Json.num(v)}" }
        .mkString(",") + "},\"spans\":[")
      out.println(all.sortBy(_.start).map { s =>
        val attrs = s.attrs.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }
        s"""{"id":${s.id},"parent":${s.parent},"layer":${Json.str(s.layer)},""" +
          s""""name":${Json.str(s.name)},"start_ms":${Json.num(s.start)},""" +
          s""""end_ms":${Json.num(s.end)},"self_ms":${Json.num(selfMs(s.id))},""" +
          s""""attrs":{${attrs.mkString(",")}}}"""
      }.mkString(",\n"))
      out.println("]}")
    } finally out.close()
  }
}

object Trace {
  final case class Span(id: Long, parent: Long, layer: String, name: String,
      start: Double, end: Double, attrs: Map[String, String])

  final class JobRec(val id: Int, val start: Long,
      val props: Map[String, String], val site: String,
      val stageIds: Seq[Int]) {
    @volatile var end: Long = -1L
    def endOr(t: Double): Double = if (end < 0) t else end.toDouble
  }

  final case class StageRec(id: Int, submit: Long,
      complete: Long, tasks: Int, cpuNs: Long, runMs: Long, gcMs: Long,
      shuffleWriteBytes: Long)

  final case class BatchRec(queryId: String, batchId: Long, startMs: Long,
      durationMs: Map[String, Long], rows: Long)

  final case class PlanRec(span: Long, lambdas: Int, natives: Int,
      broadcasts: Int)

  final case class QueryFigures(jobs: Int, stages: Int,
      shuffleMb: Double, broadcasts: Int, checkpoints: Int, taskCpuS: Double,
      gcS: Double, gapS: Double, lambdas: Int, natives: Int)

  private object PlanWalk extends AdaptiveSparkPlanHelper

  /** Length of the union of `iv`, clipped to span `s`. */
  def coveredMs(iv: Seq[(Double, Double)], s: Span): Double = {
    val clipped = iv.map { case (a, b) => (a max s.start, b min s.end) }
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0.0
    var (lo, hi) = (Double.NaN, Double.NaN)
    clipped.foreach { case (a, b) =>
      if (hi.isNaN || a > hi) {
        if (!hi.isNaN) total += hi - lo
        lo = a; hi = b
      } else hi = hi max b
    }
    if (!hi.isNaN) total += hi - lo
    total
  }

  def heapAfterGcMb(): Double = {
    System.gc()
    java.lang.management.ManagementFactory.getMemoryMXBean
      .getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/** Every per-layer metric the traced run prints, with its unit. A layer
  * a workload does not exercise reads 0 there. */
object Layers {
  private val stream = Seq(
    "broker.publish_ms_per_1k" -> "ms",
    "broker.pull_ms_p50" -> "ms",
    "broker.in_backlog_max" -> "count",
    "broker.in_backlog_slope_per_s" -> "1/s",
    "broker.retained_msgs" -> "count",
    "broker.dup_deliveries" -> "count",
    "source.latest_offset_ms_p50" -> "ms",
    "source.commit_ms_p50" -> "ms",
    "source.partitions_per_batch" -> "count",
    "source.rows_per_batch_p50" -> "count",
    "source.batches" -> "count",
    "source.scaling_vs_1core" -> "x",
    "connector.in_to_out_ms_p50" -> "ms",
    "connector.in_to_out_ms_p99" -> "ms",
    "microbatch.trigger_ms_p50" -> "ms",
    "microbatch.trigger_ms_p99" -> "ms",
    "microbatch.wal_commit_ms_p50" -> "ms",
    "microbatch.planning_ms_p50" -> "ms",
    "microbatch.add_batch_ms_p50" -> "ms",
    "microbatch.jobs_per_batch" -> "count",
    "microbatch.task_cpu_s" -> "s",
    "microbatch.task_run_s" -> "s",
    "gen.late_ms_p99" -> "ms",
    "consumer.poll_lag_ms_p99" -> "ms")

  private val perQuery = Seq(
    "ops.%s.wall_s" -> "s",
    "plan.%s.jobs" -> "count",
    "plan.%s.stages" -> "count",
    "plan.%s.shuffle_mb" -> "MB",
    "plan.%s.broadcasts" -> "count",
    "plan.%s.checkpoints" -> "count",
    "plan.%s.task_cpu_s" -> "s",
    "plan.%s.gc_s" -> "s",
    "driver.%s.gap_s" -> "s",
    "kernels.%s.hof_lambdas" -> "count",
    "kernels.%s.native_exprs" -> "count")

  val all: Seq[(String, String)] = stream ++
    Seq("ops.index_family_s" -> "s", "ops.dedup_family_s" -> "s") ++
    Corpus.Queries.flatMap(q => perQuery.map { case (n, u) => n.format(q) -> u }) ++
    Seq("driver.heap_after_gc_mb" -> "MB", "trace.overhead_pct" -> "%")

  /** `ms` in the declared order, with every undeclared metric rejected
    * and every metric the workload did not produce filled with 0. */
  def complete(ms: Seq[Metric]): Seq[Metric] = {
    val units = all.toMap
    ms.foreach { m =>
      require(units.get(m.name).contains(m.unit),
        s"undeclared per-layer metric ${m.name} [${m.unit}]")
    }
    val byName = ms.map(m => m.name -> m).toMap
    all.map { case (n, u) => byName.getOrElse(n, Metric(n, 0.0, u)) }
  }
}
