package perfbench

import java.io.File
import java.time.{Instant, ZoneOffset}
import java.time.format.DateTimeFormatter

import scala.collection.mutable

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types._

import graft.pubsub.EmbeddedBroker

/** The `connector` workload's two phases, driven only through the public
  * surface: `EmbeddedBroker.Broker` (publishBatch, pull, acknowledge,
  * backlog) and `readStream`/`writeStream.format("pubsub")`.
  *
  *  - drain: a closed loop. Set-up publishes a backlog; the source,
  *    under its default options (dynamic partitioning, 1,000 messages
  *    per partition), feeds a light projection into the pubsub sink
  *    under `Trigger.AvailableNow`. Per-message costs dominate.
  *  - paced: an open loop. One generator thread publishes a batch
  *    every 10 ms tick at a fixed rate, keyed by `user_id`; the query
  *    runs under the default trigger with a keyed sink; one consumer
  *    thread pulls and acks the output. Per-batch fixed costs dominate,
  *    and the output subscription exercises the keyed-FIFO pull path.
  */
object Streams {

  private val Project = "bench"
  private val InTopic = s"projects/$Project/topics/in"
  private val OutTopic = s"projects/$Project/topics/out"
  private val InSub = s"projects/$Project/subscriptions/in-sub"
  private val OutSub = s"projects/$Project/subscriptions/out-sub"

  /** Distinct users in the events fixture, and so ordering keys. */
  private val Users = 1500

  /** Backlog per drain repetition, and the paced rate in msgs/s. */
  private def drainBacklog(tiny: Boolean): Int = if (tiny) 5000 else 100000
  private def pacedRate(tiny: Boolean): Int = if (tiny) 500 else 2000

  /** One events-fixture row as the JSON a message carries. `seq` is the
    * publish position, so every message is identifiable at the sink. */
  final case class Event(seq: Int, json: Array[Byte], userId: String)

  private val TsFormat =
    DateTimeFormatter.ofPattern("yyyy-MM-dd HH:mm:ss.SSSSSS")
      .withZone(ZoneOffset.UTC)

  /** `n` rows shaped like the events fixture (event_id, ts, user_id,
    * event_type, value, props), published in a seed-chosen order with
    * seed-chosen payloads and keys. */
  def events(seed: Long, n: Int): Array[Event] = {
    val rnd = new scala.util.Random(seed)
    val types = Array("click", "view", "purchase", "signup", "error")
    var ts = 1704067200000000L // 2024-01-01T00:00:00Z in µs
    val rows = Array.tabulate(n) { i =>
      ts += (rnd.nextDouble() * 60e6).toLong
      (i.toLong, ts, rnd.nextInt(Users), types(rnd.nextInt(types.length)),
        rnd.nextInt(20000) / 100.0, rnd.nextInt(100))
    }
    val order = rnd.shuffle(rows.indices.toVector)
    order.iterator.zipWithIndex.map { case (i, seq) =>
      val (eid, t, uid, et, v, k) = rows(i)
      val when = TsFormat.format(Instant.EPOCH.plusNanos(t * 1000))
      val json = s"""{"seq":$seq,"event_id":$eid,"ts":"$when",""" +
        s""""user_id":$uid,"event_type":"$et","value":$v,""" +
        s""""props":"{\\"k\\": $k}"}"""
      Event(seq, json.getBytes("UTF-8"), uid.toString)
    }.toArray
  }

  private val EventSchema = new StructType()
    .add("seq", LongType).add("event_id", LongType).add("ts", StringType)
    .add("user_id", LongType).add("event_type", StringType)
    .add("value", DoubleType).add("props", StringType)

  /** The light projection both workloads run: parse and re-encode the
    * JSON, copy the in-message's broker `publish_timestamp` into an
    * attribute, and (keyed) carry the ordering key to the sink. */
  private def project(src: DataFrame, keyed: Boolean): DataFrame = {
    val cols = Seq(
      to_json(from_json(col("data").cast("string"), EventSchema))
        .cast("binary").as("data"),
      map_concat(col("attributes"), map(lit("in_ts"),
        unix_micros(col("publish_timestamp")).cast("string")))
        .as("attributes")) ++
      (if (keyed) Seq(col("ordering_key").as("okey")) else Nil)
    src.select(cols: _*)
  }

  private def startQuery(spark: SparkSession, endpoint: String,
      checkpoint: String, keyed: Boolean): StreamingQuery = {
    val src = spark.readStream.format("pubsub")
      .option("project_id", Project)
      .option("subscription", "in-sub")
      .option("endpoint", endpoint)
      .load()
    val w = project(src, keyed).writeStream.format("pubsub")
      .option("project_id", Project)
      .option("topic", "out")
      .option("endpoint", endpoint)
      .option("checkpointLocation", checkpoint)
    if (keyed) w.option("ordering_key", "okey").start()
    else w.trigger(Trigger.AvailableNow()).start()
  }

  /** A broker of its own per repetition, so no state carries over. */
  private def freshBroker(endpoint: String): EmbeddedBroker.Broker = {
    EmbeddedBroker.reset()
    val b = EmbeddedBroker.get(endpoint)
    b.createTopic(InTopic)
    b.createTopic(OutTopic)
    b.createSubscription(InSub, InTopic)
    b.createSubscription(OutSub, OutTopic)
    b
  }


  /** Exactly-once check of the sink's output against the published
    * events: every expected seq once, with the re-encoded JSON of its
    * own row. */
  final class Ledger(evs: Array[Event]) {
    private val expected = new Array[Boolean](evs.length)
    private val seen = new Array[Boolean](evs.length)
    @volatile var attempted = 0L
    @volatile var received = 0L
    var dups = 0L
    var bad = 0L

    def expect(from: Int, until: Int): Unit = {
      (from until until).foreach(expected(_) = true)
      attempted += until - from
    }

    def record(m: EmbeddedBroker.Message): Unit = {
      received += 1
      val seq = m.attributes.get("seq").flatMap(_.toIntOption).getOrElse(-1)
      if (seq < 0 || seq >= evs.length || !expected(seq)) bad += 1
      else {
        if (seen(seq)) dups += 1
        seen(seq) = true
        val body = new String(m.data, "UTF-8")
        val e = evs(seq)
        if (!body.startsWith(s"""{"seq":$seq,""") ||
            !body.contains(s""""user_id":${e.userId},""") ||
            m.attributes.get("user_id").forall(_ != e.userId) ||
            !m.attributes.contains("in_ts")) bad += 1
      }
    }

    /** Forgets one delivered message, as if it were lost on the way
      * (`--inject drop`: proves the loss check is live). */
    def forgetOne(): Unit = seen.indexWhere(identity) match {
      case -1 => ()
      case i => seen(i) = false
    }

    def lost: Long = expected.indices.count(i => expected(i) && !seen(i)).toLong
    def failed: Long = lost + dups + bad
    def summary: String = s"lost $lost, duplicated $dups, malformed $bad"
  }

  /** Epoch µs on the monotonic clock, so generator and consumer agree to
    * the microsecond. */
  private val epochBase = System.currentTimeMillis() * 1000L
  private val nanoBase = System.nanoTime()

  /** One drain: the wall from query start to termination, the cost of
    * the benchmark's own publishes, and the messages the broker retains
    * after it. */
  private final case class DrainRep(wallS: Double, publishMsPer1k: Double,
      retained: Long)

  private def drainRep(spark: SparkSession, a: Main.Args,
      batches: Seq[Seq[(Array[Byte], Map[String, String], String)]],
      ledger: Ledger, tag: String): DrainRep = {
    val ep = s"perfbench-$tag"
    val b = freshBroker(ep)
    // The previous repetition's broker is garbage now; collect it here,
    // outside the timed intervals, so no repetition pays for the last.
    System.gc()
    var publishNs = 0L
    batches.foreach { g =>
      val p0 = System.nanoTime()
      b.publishBatch(InTopic, g)
      publishNs += System.nanoTime() - p0
    }
    val n = batches.map(_.size).sum

    val t1 = System.nanoTime()
    val q = startQuery(spark, ep,
      new File(a.out, s"ckpt/$tag").getPath, keyed = false)
    if (!q.awaitTermination(150000L)) {
      q.stop()
      sys.error(s"drain $tag did not finish within 150 s")
    }
    val wallS = (System.nanoTime() - t1) / 1e9
    q.exception.foreach(e => throw e)

    // Read the output back outside the timed interval.
    var got = b.pull(OutSub, 5000)
    while (got.nonEmpty) {
      got.foreach(m => ledger.record(m._2))
      b.acknowledge(OutSub, got.map(_._1))
      got = b.pull(OutSub, 5000)
    }
    DrainRep(wallS, publishNs / 1e6 / (n / 1000.0), retainedMsgs(b))
  }

  /** Messages the broker retains on both topics. A subscription created
    * with `backfill` starts with every message its topic retains, so its
    * backlog is that count; it is deleted again at once. */
  private def retainedMsgs(b: EmbeddedBroker.Broker): Long =
    Seq(InTopic, OutTopic).map { t =>
      val probe = s"projects/$Project/subscriptions/retained-" +
        t.split('/').last
      b.createSubscription(probe, t, backfill = true)
      try b.backlog(probe) finally b.deleteSubscription(probe)
    }.sum

  /** What one paced window measured, over the messages due in it;
    * latencies are keyed by the second of the window they were due in. */
  private final case class PacedWindow(latMs: Seq[(Long, Double)],
      inToOutMs: Seq[Double], genLateMs: Seq[Double], pollLagMs: Seq[Double],
      pullMs: Seq[Double], backlog: Seq[(Double, Double)], published: Int)

  /** One paced window: start the query, then generator and consumer.
    * Latencies count for messages due in the `measureS` seconds that
    * start `warmS` seconds after the first output message arrives. */
  private def pacedWindow(spark: SparkSession, a: Main.Args,
      evs: Array[Event], from: Int, ledger: Ledger, tag: String,
      warmS: Double, measureS: Double): PacedWindow = {
    val ep = s"perfbench-$tag"
    val b = freshBroker(ep)
    val perTick = pacedRate(a.tiny) / 100
    val tickNs = 10000000L
    def micros(nanoTime: Long) = epochBase + (nanoTime - nanoBase) / 1000

    val t0 = System.nanoTime()
    val q = startQuery(spark, ep, new File(a.out, s"ckpt/$tag").getPath,
      keyed = true)
    @volatile var firstReceipt = 0L // nanoTime; 0 = nothing yet
    @volatile var fromNs = Long.MaxValue
    @volatile var toNs = Long.MaxValue
    @volatile var consumerDone = false
    val genLate = mutable.ArrayBuffer[Double]()
    val backlog = mutable.ArrayBuffer[(Double, Double)]()
    @volatile var published = 0

    // The generator keeps its schedule whatever the engine does (open
    // loop): a late tick publishes at once, stamped with its due time.
    val gen = new Thread(() => {
      var k = 0L
      while (t0 + k * tickNs < toNs && from + published + perTick <= evs.length) {
        val dueNs = t0 + k * tickNs
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val lateMs = (System.nanoTime() - dueNs) / 1e6
        val msgs = (0 until perTick).map { j =>
          val e = evs(from + published + j)
          (e.json, Map("seq" -> e.seq.toString, "user_id" -> e.userId,
            "due" -> micros(dueNs).toString), e.userId)
        }
        ledger.expect(from + published, from + published + perTick)
        b.publishBatch(InTopic, msgs)
        published += perTick
        if (dueNs >= fromNs) {
          genLate += lateMs
          if (k % 10 == 0)
            backlog += ((dueNs - fromNs) / 1e9 -> b.backlog(InSub).toDouble)
        }
        k += 1
      }
    }, "perfbench-generator")

    val lat = mutable.ArrayBuffer[(Long, Double)]()
    val inOut = mutable.ArrayBuffer[Double]()
    val pollLag = mutable.ArrayBuffer[Double]()
    val pulls = mutable.ArrayBuffer[Double]()
    val cons = new Thread(() => {
      while (!consumerDone) {
        val p0 = System.nanoTime()
        val got = b.pull(OutSub, 1000)
        if (got.isEmpty) Thread.sleep(1)
        else {
          val now = System.nanoTime()
          if (firstReceipt == 0L) firstReceipt = now
          b.acknowledge(OutSub, got.map(_._1))
          pulls += (now - p0) / 1e6
          got.foreach { case (_, m) =>
            ledger.record(m)
            val due = m.attributes.get("due").flatMap(_.toLongOption)
              .getOrElse(0L)
            if (due >= micros(fromNs) && due < micros(toNs)) {
              lat += ((due - micros(fromNs)) / 1000000L -> (micros(now) - due) / 1e3)
              pollLag += (micros(now) - m.publishTimestampMicros) / 1e3
              m.attributes.get("in_ts").flatMap(_.toLongOption).foreach(in =>
                inOut += (m.publishTimestampMicros - in) / 1e3)
            }
          }
        }
      }
    }, "perfbench-consumer")
    gen.start()
    cons.start()

    def abort(why: String): Nothing = {
      toNs = 0L; consumerDone = true; gen.join(); cons.join(); q.stop()
      q.exception.foreach(e => throw e)
      sys.error(s"paced $tag: $why")
    }
    while (firstReceipt == 0L && System.nanoTime() - t0 < 60000000000L &&
      q.isActive) Thread.sleep(1)
    if (firstReceipt == 0L) abort("no output within 60 s")
    fromNs = firstReceipt + (warmS * 1e9).toLong
    toNs = fromNs + (measureS * 1e9).toLong
    gen.join()
    // Everything published must come out; let the pipeline flush.
    val flushStart = System.nanoTime()
    while (ledger.received < ledger.attempted &&
      System.nanoTime() - flushStart < 30000000000L && q.isActive)
      Thread.sleep(5)
    consumerDone = true
    cons.join()
    q.stop()
    q.exception.foreach(e => throw e)
    PacedWindow(lat.toSeq, inOut.toSeq, genLate.toSeq,
      pollLag.toSeq, pulls.toSeq, backlog.toSeq, published)
  }

  /** The connector workload: a drain phase, then a paced phase, each
    * measured for half of `--seconds`. Both run in one JVM, so the paced
    * phase starts with the shared source and sink paths already warm. */
  def connector(spark: SparkSession, a: Main.Args,
      trace: Option[Trace]): Result = {
    val notes = mutable.ArrayBuffer[String]()
    var attempted = 0L
    var failed = 0L
    val phaseS = a.seconds / 2.0

    // ---- drain: a closed loop over a fresh backlog per repetition
    val n = drainBacklog(a.tiny)
    val evs = events(a.seed, n)
    val batches = evs.toSeq.map(e => (e.json,
      Map("seq" -> e.seq.toString, "user_id" -> e.userId), "")).grouped(1000)
      .toSeq
    def rep(session: SparkSession, tag: String): DrainRep = {
      val ledger = new Ledger(evs)
      ledger.expect(0, n)
      val r = drainRep(session, a, batches, ledger, tag)
      if (a.inject == "drop") ledger.forgetOne()
      attempted += ledger.attempted
      failed += ledger.failed
      if (ledger.failed > 0) notes += s"drain $tag: ${ledger.summary}"
      r
    }
    // Set-up ends with two whole drains: they pay JIT, codegen and
    // first-use costs and are not measured. (Drain walls still fall for
    // several repetitions after the first, while the JIT compiles.)
    val w0 = System.nanoTime()
    rep(spark, "warmup0")
    rep(spark, "warmup1")
    val setupS = a.sessionS + (System.nanoTime() - w0) / 1e9
    // Traced runs alternate untraced and traced repetitions (and paced
    // windows below), so the tracing overhead is measured within the run.
    val drainFromMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val reps = mutable.ArrayBuffer[(DrainRep, Boolean)]()
    while (reps.size < 3 || (System.nanoTime() - t0) / 1e9 < phaseS) {
      val i = reps.size
      val traced = trace.isDefined && i % 2 == 1
      val r = trace.filter(_ => traced) match {
        case Some(t) => t.traced(s"drain rep $i")(rep(spark, s"rep$i"))
        case None => rep(spark, s"rep$i")
      }
      reps += (r -> traced)
    }
    val drainTrace = trace.map(_.streamMetrics(drainFromMs)).getOrElse(Nil)
    val plainReps = reps.filterNot(_._2).map(_._1).toSeq
    val tracedReps = reps.filter(_._2).map(_._1).toSeq
    val tput = Stats.median(plainReps.map(r => n / r.wallS))
    notes += f"drain: ${reps.size} repetitions of $n messages in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s; walls " +
      reps.map(r => f"${r._1.wallS}%.2f").mkString(" ")

    // ---- paced: an open loop at a fixed rate, in windows
    System.gc() // the drain's garbage is not the paced phase's cost
    // One window; traced runs split it into an untraced and a traced one.
    // The drain has warmed the shared source and sink paths; each window
    // still lets 1.5 s pass after its first output before it measures.
    val rate = pacedRate(a.tiny)
    val windows = if (trace.isDefined) 2 else 1
    val warmS = 1.5
    val measureS = phaseS / windows
    // Events for every window, with slack for set-up and flush.
    val perWindow = ((measureS + warmS + 60) * rate).toInt
    val pevs = events(a.seed + 1, perWindow * windows)
    val ledger = new Ledger(pevs)
    val pacedFromMs = System.currentTimeMillis()
    val ws = (0 until windows).map { w =>
      val traced = trace.isDefined && w % 2 == 1
      def go() = pacedWindow(spark, a, pevs, w * perWindow, ledger,
        s"paced$w", warmS, measureS)
      val r = trace.filter(_ => traced) match {
        case Some(t) => t.traced(s"paced window $w")(go())
        case None => go()
      }
      // An input backlog that grows by more than a second of offered
      // input over the window means the rate is above what the engine
      // sustains, so latencies would grow with run length: the window is
      // flagged and its messages count as failed. (Within a window the
      // backlog also saw-tooths with each micro-batch; that is not growth.)
      val slope = Stats.slope(r.backlog)
      if (slope * measureS > rate) {
        notes += f"paced window $w is above the sustainable rate: input " +
          f"backlog grew $slope%.0f msgs/s at $rate msgs/s offered"
        failed += r.published
      }
      (r, traced, slope)
    }
    val pacedTrace = trace.map(_.streamMetrics(pacedFromMs)).getOrElse(Nil)
    if (a.inject == "drop") ledger.forgetOne()
    attempted += ledger.attempted
    failed += ledger.failed
    if (ledger.failed > 0) notes += s"paced: ${ledger.summary}"
    val plainWs = ws.filterNot(_._2).map(_._1)
    val tracedWs = ws.filter(_._2).map(_._1)
    // Each latency percentile is taken per second of due time and the
    // median of those is reported, so a stall of the host during one or
    // two seconds moves it little.
    def perSecond(ws: Seq[PacedWindow], q: Double): Double =
      Stats.median(ws.flatMap(_.latMs.groupBy(_._1).values
        .map(g => Stats.pct(g.map(_._2), q))))
    val metrics = Seq(
      Metric("setup_s", setupS, "s"),
      Metric("throughput_per_s", tput, "1/s"),
      Metric("latency_p50_ms", perSecond(plainWs, 50), "ms"),
      Metric("latency_p90_ms", perSecond(plainWs, 90), "ms"))

    val layers = trace.map { _ =>
      val tracedTput = Stats.median(tracedReps.map(r => n / r.wallS))
      val (plainP50, tracedP50) = (perSecond(plainWs, 50), perSecond(tracedWs, 50))
      // The single-threaded baseline: the same drain under local[1].
      spark.stop()
      val oneCore = n / rep(Main.session(1, a.out), "local1").wallS
      notes += f"tracing: drain $tput%.0f msgs/s untraced, $tracedTput%.0f " +
        f"traced; paced p50 $plainP50%.1f ms untraced, " +
        f"$tracedP50%.1f traced; local[1] drain " +
        f"$oneCore%.0f msgs/s"
      // Each metric comes from the phase whose end-to-end figure it
      // should move: per-message costs from drain, per-batch costs from
      // paced.
      val fromDrain = Set("source.partitions_per_batch",
        "source.rows_per_batch_p50", "source.batches",
        "microbatch.add_batch_ms_p50", "microbatch.task_cpu_s",
        "microbatch.task_run_s")
      drainTrace.filter(m => fromDrain(m.name)) ++
        pacedTrace.filterNot(m => fromDrain(m.name)) ++ Seq(
        Metric("broker.publish_ms_per_1k",
          Stats.median(tracedReps.map(_.publishMsPer1k)), "ms"),
        Metric("broker.pull_ms_p50", Stats.pct(tracedWs.flatMap(_.pullMs), 50),
          "ms"),
        Metric("broker.in_backlog_max",
          tracedWs.flatMap(_.backlog.map(_._2)).max, "count"),
        Metric("broker.in_backlog_slope_per_s",
          Stats.median(ws.filter(_._2).map(_._3)), "1/s"),
        Metric("broker.retained_msgs", tracedReps.map(_.retained).max,
          "count"),
        Metric("broker.dup_deliveries", ledger.dups, "count"),
        Metric("connector.in_to_out_ms_p50",
          Stats.pct(tracedWs.flatMap(_.inToOutMs), 50), "ms"),
        Metric("connector.in_to_out_ms_p99",
          Stats.pct(tracedWs.flatMap(_.inToOutMs), 99), "ms"),
        Metric("source.scaling_vs_1core", tput / oneCore, "x"),
        Metric("gen.late_ms_p99", Stats.pct(tracedWs.flatMap(_.genLateMs), 99),
          "ms"),
        Metric("consumer.poll_lag_ms_p99",
          Stats.pct(tracedWs.flatMap(_.pollLagMs), 99), "ms"),
        Metric("trace.overhead_pct", (tput / tracedTput - 1) * 100, "%"))
    }.getOrElse(Nil)
    Result(failed == 0, attempted, failed, metrics, layers, notes.toSeq)
  }
}
