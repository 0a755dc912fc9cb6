package perfbench

import java.io.File

import org.apache.spark.sql.SparkSession

/** Entry point of the benchmark harness (one JVM per run; `run.py`
  * builds and launches it).
  *
  * Usage: perfbench.Main --workload connector|corpus --seed N
  *   --seconds S --trace 0|1 --out DIR [--cores K] [--scale full|tiny]
  *   [--inject none|drop|tamper]
  *
  * Prints one JSON object as the last stdout line:
  * `{"correct":..,"attempted":..,"failed":..,"metrics":{..},"notes":[..]}`.
  * `--inject` deliberately breaks one output check (a dropped message or
  * a tampered fingerprint) so the self-test can prove the check is live.
  */
object Main {

  final case class Args(
      workload: String,
      seed: Long,
      seconds: Int,
      trace: Boolean,
      out: String,
      cores: Int,
      tiny: Boolean,
      inject: String,
      sessionS: Double = 0.0) // set by main once the session is up

  def parse(argv: Array[String]): Args = {
    val kv = argv.grouped(2).map {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      case other => sys.error(s"bad argument: ${other.mkString(" ")}")
    }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"--$k is required"))
    val a = Args(
      workload = need("workload"),
      seed = need("seed").toLong,
      seconds = need("seconds").toInt,
      trace = need("trace") == "1",
      out = need("out"),
      cores = kv.get("cores").map(_.toInt)
        .getOrElse(Runtime.getRuntime.availableProcessors()),
      tiny = kv.get("scale").contains("tiny"),
      inject = kv.getOrElse("inject", "none"))
    require(Set("connector", "corpus")(a.workload),
      s"unknown workload ${a.workload}")
    require(a.seconds >= 1, "--seconds must be at least 1")
    require(Set("none", "drop", "tamper")(a.inject),
      s"unknown --inject ${a.inject}")
    a
  }

  /** `local[cores]` with one shuffle partition per core; every file
    * Spark writes stays under `dir`. */
  def session(cores: Int, dir: String): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", new File(dir, "spark-local").getPath)
      .config("spark.sql.warehouse.dir", new File(dir, "warehouse").getPath)
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val parsed = parse(argv)
    new File(parsed.out).mkdirs()
    // Session start-up, through its first job, is set-up time of every
    // workload.
    val t0 = System.nanoTime()
    val spark = session(parsed.cores, parsed.out)
    spark.range(1).collect()
    val a = parsed.copy(sessionS = (System.nanoTime() - t0) / 1e9)
    val trace = if (a.trace) Some(new Trace) else None
    val r = a.workload match {
      case "connector" => Streams.connector(spark, a, trace)
      case "corpus" => Corpus.run(spark, a, trace)
    }
    val reported = trace match {
      case Some(t) =>
        val file = new File(a.out, s"spans-${a.workload}-${a.seed}.json")
        t.write(file)
        r.copy(metrics = Layers.complete(r.layers :+
          Metric("driver.heap_after_gc_mb", Trace.heapAfterGcMb(), "MB")),
          notes = r.notes :+ s"spans: $file")
      case None => r
    }
    println(reported.json)
    // The embedded broker and Spark leave non-daemon threads behind;
    // stop Spark first so nothing is cut mid-write, then leave.
    SparkSession.getActiveSession.foreach(_.stop())
    System.exit(0)
  }
}

/** One metric as printed: name -> (value, unit). */
final case class Metric(name: String, value: Double, unit: String)

/** What a workload hands back: the end-to-end metrics of an untraced run
  * (`metrics`), the per-layer metrics of a traced one (`layers`), and the
  * failure accounting every run reports. */
final case class Result(
    correct: Boolean,
    attempted: Long,
    failed: Long,
    metrics: Seq[Metric],
    layers: Seq[Metric],
    notes: Seq[String]) {

  def json: String = {
    val ms = metrics.map { m =>
      s""""${m.name}":{"value":${Json.num(m.value)},"unit":${Json.str(m.unit)}}"""
    }.mkString(",")
    s"""{"correct":$correct,"attempted":$attempted,"failed":$failed,""" +
      s""""metrics":{$ms},"notes":[${notes.map(Json.str).mkString(",")}]}"""
  }
}

object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) sys.error(s"non-finite metric value $v")
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
}

object Stats {
  /** Nearest-rank percentile (p in [0, 100]) of an unsorted sample. */
  def pct(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of an empty sample")
    val s = xs.sorted
    s(math.min(s.size - 1, math.max(0, math.ceil(p / 100 * s.size).toInt - 1)))
  }

  def median(xs: Seq[Double]): Double = {
    require(xs.nonEmpty, "median of an empty sample")
    val s = xs.sorted
    val n = s.size
    if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
  }

  /** Least-squares slope of y over x. */
  def slope(pts: Seq[(Double, Double)]): Double =
    if (pts.size < 2) 0.0
    else {
      val mx = pts.map(_._1).sum / pts.size
      val my = pts.map(_._2).sum / pts.size
      val sxx = pts.map(p => (p._1 - mx) * (p._1 - mx)).sum
      if (sxx == 0) 0.0
      else pts.map(p => (p._1 - mx) * (p._2 - my)).sum / sxx
    }
}
