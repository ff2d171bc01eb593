package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/** Minimal JSON rendering for the result file. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}: $v" }.mkString("{", ", ", "}")
}

/** Percentile rules shared by every workload. */
object Stats {
  def median(xs: Seq[Double]): Double = percentile(xs, 50.0)

  /** Nearest-rank percentile: the smallest sample with at least p% of the
    * samples at or below it. */
  def percentile(xs: Seq[Double], p: Double): Double = {
    require(xs.nonEmpty, "percentile of no samples")
    val s = xs.sorted
    val rank = math.ceil(p / 100.0 * s.size).toInt max 1
    s(rank - 1)
  }

  /** The highest whole percentile of `n` samples with at least ten samples
    * strictly beyond it (99 needs 1000 samples, 90 needs 100), never below
    * the median: with fewer than 20 samples the tail is the median. */
  def tailPercentile(n: Int): Double = {
    val p = (99 to 50 by -1).find(p => n - math.ceil(p / 100.0 * n).toInt >= 10)
    p.getOrElse(50).toDouble
  }

  /** Self-test of the rules above, run at every harness start. */
  def selfTest(): Unit = {
    val cases = Seq(1000 -> 99.0, 999 -> 98.0, 100 -> 90.0, 99 -> 89.0, 21 -> 52.0, 20 -> 50.0,
      16 -> 50.0, 1 -> 50.0)
    for ((n, want) <- cases)
      require(tailPercentile(n) == want, s"tailPercentile($n) = ${tailPercentile(n)}, want $want")
    val xs = (1 to 1000).map(_.toDouble)
    require(percentile(xs, 99) == 990.0 && xs.count(_ > 990.0) == 10, "p99 of 1..1000")
    require(median(Seq(3.0, 1.0, 2.0)) == 2.0 && percentile(Seq(5.0), 99) == 5.0, "median rule")
  }
}

/** Arguments of one workload JVM. */
final case class Args(workload: String, data: String, work: String, out: String,
                      seed: Long, seconds: Int, trace: Boolean, cores: Int)

/** What a workload reports back: end-to-end figures from the untraced
  * path, per-layer figures when tracing, and outputs the calling process
  * still has to check against the DuckDB oracle. */
final class Report {
  var attempted = 0L
  var failed = 0L
  val setupSecs = ArrayBuffer.empty[Double]
  val latenciesMs = ArrayBuffer.empty[Double]
  var throughput = 0.0
  val layer = scala.collection.mutable.LinkedHashMap.empty[String, Double]
  /** query name -> (engine output dump dir, measured executions). */
  val dumps = scala.collection.mutable.LinkedHashMap.empty[String, (String, Long)]
  val notes = ArrayBuffer.empty[String]
  /** Named phase or operation -> wall seconds, logged by `run.py`. */
  val timings = ArrayBuffer.empty[(String, Double)]
}

/** One workload JVM: builds the session, runs the workload, and writes
  * its report as JSON. Run by `perfbench/run.py`, which generates the
  * inputs from the seed, checks oracle digests and prints the result. */
object Harness {

  def session(a: Args, cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName(s"perfbench-${a.workload}")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.adaptive.enabled", "true")
      // A dashboard server keeps the code it generated. Spark's default
      // cache of 100 generated classes holds less than one pass of
      // history_sql, so each pass compiled ~300 classes again, the JIT
      // started over on them, and pass time followed the JIT's progress.
      .config("spark.sql.codegen.cache.maxEntries", "2000")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"${a.work}/spark-local")
      .config("spark.sql.warehouse.dir", s"${a.work}/warehouse")
      .config("spark.sql.streaming.checkpointLocation", s"${a.work}/checkpoints")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** Stop the active session so the next `session` call starts afresh. */
  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }

  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("data"), need("work"), need("out"), need("seed").toLong,
      need("seconds").toInt, need("trace") == "1",
      m.get("cores").map(_.toInt).getOrElse(Runtime.getRuntime.availableProcessors()))
  }

  def main(argv: Array[String]): Unit = {
    Stats.selfTest()
    val a = parse(argv)
    new File(a.work).mkdirs()
    val tracer = new Tracer(a.trace)
    val report = new Report
    val run: (Args, Tracer, Report) => Unit = a.workload match {
      case "crowd_stream" => CrowdStream.run
      case "history_sql" => QueryMix.run
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    tracer.span(a.workload)(run(a, tracer, report))
    val tailP = Stats.tailPercentile(report.latenciesMs.size)
    val e2e = Seq(
      "setup_s" -> Stats.median(report.setupSecs.toSeq),
      "peak_rss_mb" -> peakRssMb(),
      "latency_p50_ms" -> Stats.median(report.latenciesMs.toSeq),
      "latency_tail_ms" -> Stats.percentile(report.latenciesMs.toSeq, tailP),
      "throughput_per_s" -> report.throughput)
    val json = Json.obj(Seq(
      "workload" -> Json.str(a.workload),
      "attempted" -> report.attempted.toString,
      "failed" -> report.failed.toString,
      "samples" -> report.latenciesMs.size.toString,
      "tail_percentile" -> Json.num(tailP),
      "setup_runs_s" -> report.setupSecs.map(Json.num).mkString("[", ", ", "]"),
      "end_to_end" -> Json.obj(e2e.map { case (k, v) => k -> Json.num(v) }),
      "per_layer" -> Json.obj(report.layer.map { case (k, v) => k -> Json.num(v) }),
      "dumps" -> Json.obj(report.dumps.map { case (q, (dir, n)) =>
        q -> Json.obj(Seq("dir" -> Json.str(dir), "runs" -> n.toString,
          "sql" -> Json.str(graft.SparkEntry.oracleSql(q)))) }),
      "timings" -> report.timings.map { case (k, v) => s"[${Json.str(k)}, ${Json.num(v)}]" }
        .mkString("[", ", ", "]"),
      "notes" -> report.notes.map(Json.str).mkString("[", ", ", "]")))
    Files.write(new File(a.out).toPath, json.getBytes(StandardCharsets.UTF_8))
    if (a.trace)
      Files.write(new File(a.out + ".spans.json").toPath,
        tracer.toJson.getBytes(StandardCharsets.UTF_8))
  }

  /** Per-layer counters every workload reports from the Spark listener,
    * over the measured phase. `wallNs` is the measured phase's wall time. */
  def sparkLayer(m: Meter, r: Report, wallNs: Long, cores: Int): Unit = {
    r.layer ++= Seq(
      "spark.jobs" -> m.jobs.toDouble,
      "spark.stages" -> m.stages.toDouble,
      "spark.tasks" -> m.tasks.toDouble,
      "spark.tasks_per_stage" -> (if (m.stages == 0) 0.0 else m.tasks.toDouble / m.stages),
      "spark.executor_run_ms" -> m.runMs.toDouble,
      "spark.executor_cpu_ms" -> m.cpuNs / 1e6,
      "spark.cpu_per_wall" -> (if (wallNs == 0) 0.0 else m.cpuNs.toDouble / wallNs),
      "spark.scheduler_delay_ms" -> m.schedDelayMs.toDouble,
      "spark.gc_ms" -> m.gcMs.toDouble,
      "spark.shuffle_write_bytes" -> m.shuffleWrite.toDouble,
      "spark.shuffle_read_bytes" -> m.shuffleRead.toDouble,
      "spark.spill_bytes" -> m.spill.toDouble,
      "spark.tasks_failed" -> m.tasksFailed.toDouble,
      "plans.analysis_ms" -> m.analysisMs.toDouble,
      "plans.optimization_ms" -> m.optimizationMs.toDouble,
      "plans.planning_ms" -> m.planningMs.toDouble,
      "sources.input_records" -> m.inRecords.toDouble,
      "sources.input_bytes" -> m.inBytes.toDouble)
  }
}
