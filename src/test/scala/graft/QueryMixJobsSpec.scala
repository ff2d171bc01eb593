package graft

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs per dashboard shape of the `history_sql` benchmark workload
  * (the 16 names of `perfbench/src/main/scala/perfbench/QueryMix.scala`).
  * On a few cores a one-task job costs tens of milliseconds, so that
  * workload's time follows its job count; a change that adds or removes a
  * job on any shape shows here as a changed pin. Each shape is built and
  * materialized once through the `noop` sink, as the workload does, and
  * the count covers jobs run while the frame is built as well. */
class QueryMixJobsSpec extends SparkSpec {
  // the sf0.01 fixture, beside the suite's sf0.001 one
  private val sf01 = new java.io.File(new java.io.File(sf).getParentFile, "sf0.01").getPath

  private val expected = Seq(
    "q_crowd_alert" -> 4, "q_win_edge" -> 4, "q_latch_replay" -> 2, "q_session" -> 4,
    "q_funnel" -> 10, "q_watermark" -> 8, "q_wau" -> 8, "q_cohort" -> 5,
    "q_concurrency" -> 4, "q_join_multi" -> 9, "q_agg" -> 4, "q_rollup" -> 8,
    "q_win_frames" -> 4, "q_asof_join" -> 4, "q_join_shuffle" -> 5, "q_auth" -> 4)

  test("each history_sql shape runs its pinned number of Spark jobs") {
    val jobs = new AtomicInteger(0)
    val l = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    val sc = spark.sparkContext
    GraftTestAccess.drainListenerBus(sc)
    sc.addSparkListener(l)
    try {
      val seen = expected.map { case (q, _) =>
        try SparkEntry.benchShapes(q)(spark, sf01).write.format("noop").mode("overwrite").save()
        finally spark.catalog.clearCache()
        GraftTestAccess.drainListenerBus(sc)
        q -> jobs.getAndSet(0)
      }
      val diff = seen.zip(expected).collect { case ((q, n), (_, want)) if n != want =>
        s"$q: $n jobs, pinned $want" }
      assert(diff.isEmpty, diff.mkString("\n"))
    } finally sc.removeSparkListener(l)
  }
}
