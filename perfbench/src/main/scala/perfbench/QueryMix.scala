package perfbench

import java.io.File
import java.util.concurrent.{Callable, Executors, TimeUnit}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

import graft.{Preflight, SparkEntry}

/** `history_sql`: a closed loop of dashboard queries over stored events,
  * orders and lineitem, one client. Each query is built through
  * `SparkEntry.benchShapes` and materialized through the `noop` sink, as
  * `graft.Bench` does. */
object QueryMix {

  val queries = Seq("q_crowd_alert", "q_win_edge", "q_latch_replay", "q_session",
    "q_funnel", "q_watermark", "q_wau", "q_cohort", "q_concurrency", "q_join_multi", "q_agg",
    "q_rollup", "q_win_frames", "q_asof_join", "q_join_shuffle", "q_auth")

  /** Independent set-ups per run; `setup_s` is their median. */
  val SetupRepeats = 3
  /** Unmeasured passes after the check pass: on all cores, then on one
    * client as measured. After two on all cores, pass time on one client
    * still fell 10-15% a pass over three passes; a longer warm-up did not
    * fit the run's time budget. */
  val WarmPasses = 1
  val SerialWarmPasses = 1
  /** Fewest measured passes, so each query's median has a repeat. */
  val MinPasses = 2

  /** Session start and fixture preflight, against a fresh temp dir. */
  def setup(a: Args, rep: Int): SparkSession = {
    val tmp = new File(s"${a.work}/tmp-$rep"); tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getAbsolutePath)
    val spark = Harness.session(a, a.cores)
    Preflight.check(spark, a.data)
    spark
  }

  private def noop(spark: SparkSession, q: String, a: Args): Unit =
    SparkEntry.benchShapes(q)(spark, a.data).write.format("noop").mode("overwrite").save()

  /** Runs `f` once per query from `a.cores` client threads; returns each
    * query's wall seconds and error, in the order of `qs`. */
  private def onAllCores(a: Args, qs: Seq[String])(f: String => Unit)
      : Seq[(String, Double, Option[Exception])] = {
    val pool = Executors.newFixedThreadPool(a.cores)
    try {
      val futures = qs.map(q => pool.submit(new Callable[(String, Double, Option[Exception])] {
        def call() = {
          val t0 = System.nanoTime()
          val err = try { f(q); None } catch { case e: Exception => Some(e) }
          (q, (System.nanoTime() - t0) / 1e9, err)
        }
      }))
      futures.map(_.get())
    } finally {
      pool.shutdownNow()
      pool.awaitTermination(1, TimeUnit.MINUTES)
    }
  }

  def run(a: Args, tracer: Tracer, r: Report): Unit = {
    var spark: SparkSession = null
    for (rep <- 1 to SetupRepeats) {
      if (spark != null) Harness.stop(spark)
      val t0 = System.nanoTime()
      spark = tracer.span("setup")(setup(a, rep))
      r.setupSecs += (System.nanoTime() - t0) / 1e9
    }

    // Check pass, each query's first (cold) execution: every output is
    // dumped once for the oracle compare made after the run. Then the warm
    // passes. The check pass and the first warm pass run on one client
    // thread per core, which takes 40-50% off their wall.
    val broken = scala.collection.mutable.Set.empty[String]
    var c0 = System.nanoTime()
    tracer.span("check") {
      for ((q, secs, err) <- onAllCores(a, queries)(q => SparkEntry.benchShapes(q)(spark, a.data)
          .write.mode("overwrite").parquet(s"${a.work}/dumps/$q"))) {
        r.timings += ((s"check $q", secs))
        err.foreach { e => broken += q; r.notes += s"$q check pass failed: $e" }
      }
    }
    r.timings += (("check pass", (System.nanoTime() - c0) / 1e9))
    c0 = System.nanoTime()
    for (_ <- 1 to WarmPasses) tracer.span("warm") {
      for ((q, secs, err) <- onAllCores(a, queries.filterNot(broken))(noop(spark, _, a))) {
        r.timings += ((s"warm $q", secs))
        err.foreach(e => r.notes += s"$q warm pass failed: $e")
      }
    }
    spark.catalog.clearCache()
    for (_ <- 1 to SerialWarmPasses) tracer.span("warm") {
      for (q <- queries if !broken(q)) {
        try noop(spark, q, a)
        catch { case e: Exception => r.notes += s"$q warm pass failed: $e" }
        finally spark.catalog.clearCache()
      }
    }
    r.timings += (("warm passes", (System.nanoTime() - c0) / 1e9))

    val meter = new Meter(tracer)
    if (a.trace) { meter.attach(spark); meter.drain(spark); meter.reset() }
    val rng = new scala.util.Random(a.seed)
    val passWalls = scala.collection.mutable.ArrayBuffer.empty[Double]
    val buildSpans = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var buildNs, execNs = 0L
    /** query -> its measured latencies (build + exec), ms */
    val queryMs = scala.collection.mutable.LinkedHashMap.empty[String, ArrayBuffer[Double]]
    val m0 = System.nanoTime()
    // Whole passes, one client, until the measured seconds are spent and
    // at least `MinPasses` have run.
    def more = passWalls.size < MinPasses || (System.nanoTime() - m0) / 1e9 < a.seconds
    while (more) {
      val p0 = System.nanoTime()
      tracer.span("pass") {
        for (q <- rng.shuffle(queries)) {
          r.attempted += 1
          val t0 = System.nanoTime()
          try {
            val df = tracer.span("build")(SparkEntry.benchShapes(q)(spark, a.data))
            if (a.trace) meter.addAnalysis(df.queryExecution)
            val t1 = System.nanoTime()
            tracer.span("exec")(df.write.format("noop").mode("overwrite").save())
            val t2 = System.nanoTime()
            buildSpans += ((t0, t1)); buildNs += t1 - t0; execNs += t2 - t1
            // an output the check pass could not produce is unchecked
            if (broken(q)) r.failed += 1
            queryMs.getOrElseUpdate(q, ArrayBuffer.empty) += (t2 - t0) / 1e6
            r.timings += ((s"build $q", (t1 - t0) / 1e9)) += ((s"exec $q", (t2 - t1) / 1e9))
          } catch {
            case e: Exception => r.failed += 1; r.notes += s"$q failed: $e"
          } finally spark.catalog.clearCache()
        }
      }
      passWalls += (System.nanoTime() - p0) / 1e9
      r.timings += ((s"pass ${passWalls.size}", passWalls.last))
    }
    val wallNs = System.nanoTime() - m0
    // The latency of the workload is one dashboard refresh: the sum over
    // the 16 queries of each one's median latency across the passes. A
    // host hiccup slows one execution of a query, not its median; a single
    // pass's wall moved 25-35% between runs on a busy host.
    r.latenciesMs += queryMs.values.map(ms => Stats.median(ms.toSeq)).sum
    r.throughput = queryMs.values.map(_.size).sum / passWalls.sum

    for (q <- queries if !broken(q))
      r.dumps(q) = (s"${a.work}/dumps/$q", queryMs.get(q).map(_.size.toLong).getOrElse(0L))
    if (a.trace) {
      meter.drain(spark)
      Harness.sparkLayer(meter, r, wallNs, a.cores)
      r.layer ++= Seq(
        "operators.build_ms" -> buildNs / 1e6,
        "operators.build_jobs" -> meter.jobsWithin(buildSpans.toSeq).toDouble,
        "operators.exec_ms" -> execNs / 1e6,
        // time outside Spark jobs: build and exec spans minus the jobs in them
        "operators.build_self_ms" -> tracer.selfTime("build") / 1e6,
        "operators.exec_self_ms" -> tracer.selfTime("exec") / 1e6,
        "operators.build_share" -> buildNs.toDouble / (buildNs + execNs),
        "operators.query_ms_p50" -> Stats.median(queryMs.values.flatten.toSeq))
    }
    Harness.stop(spark)
  }
}
