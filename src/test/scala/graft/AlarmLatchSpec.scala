package graft

import java.sql.Timestamp
import graft.streaming.{Alert, AlarmLatch, FireSignal}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
/** E-STATE truth table (SURVEY §5.4, from `main.py:171-185`): the latch
  * emits exactly once per rising edge, re-arms on falling edge, and holds
  * state across micro-batch boundaries. */
class AlarmLatchSpec extends SparkSpec {

  def ts(s: Long): Timestamp = new Timestamp(s * 1000L)

  private var runId = 0

  def runStream(batches: Seq[Seq[FireSignal]]): Seq[Alert] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    runId += 1
    val name = s"alerts_out_$runId"
    val input = MemoryStream[FireSignal]
    val query = AlarmLatch(input.toDS())
      .writeStream.outputMode("append")
      .format("memory").queryName(name)
      .start()
    try {
      batches.foreach { b => input.addData(b); query.processAllAvailable() }
    } finally query.stop()
    spark.table(name).as[Alert].collect().toSeq.sortBy(_.ts.getTime)
  }

  test("truth table in one batch: F→T emits once, T→T silent, T→F re-arms, F→F silent") {
    val cam = "c1"
    val signals = Seq(false, true, true, false, false, true).zipWithIndex
      .map { case (f, i) => FireSignal(cam, ts(i), f) }
    val alerts = runStream(Seq(signals))
    assert(alerts.map(_.ts.getTime / 1000) == Seq(1L, 5L)) // edges at t=1 and t=5
  }

  test("latch survives micro-batch boundaries: T…|…T emits only once") {
    val cam = "c1"
    val b1 = Seq(FireSignal(cam, ts(0), false), FireSignal(cam, ts(1), true))
    val b2 = Seq(FireSignal(cam, ts(2), true), FireSignal(cam, ts(3), true))
    val b3 = Seq(FireSignal(cam, ts(4), false), FireSignal(cam, ts(5), true))
    val alerts = runStream(Seq(b1, b2, b3))
    assert(alerts.map(_.ts.getTime / 1000) == Seq(1L, 5L))
  }

  test("cameras are independent keys") {
    val b = Seq(
      FireSignal("a", ts(0), true), FireSignal("b", ts(0), false),
      FireSignal("a", ts(1), true), FireSignal("b", ts(1), true))
    val alerts = runStream(Seq(b))
    assert(alerts.map(a => (a.camera_id, a.ts.getTime / 1000)).sorted ==
      Seq(("a", 0L), ("b", 1L)))
  }

  test("batch-mode lag formulation (q_win_edge) agrees with the latch on replay") {
    import spark.implicits._
    // same edge semantics, relational form: fire && !lag(fire)
    val signals = Seq(false, true, true, false, true, false, false, true).zipWithIndex
      .map { case (f, i) => FireSignal("c", ts(i), f) }
    val streamed = runStream(Seq(signals)).map(_.ts.getTime / 1000)
    val batch = {
      val df = spark.createDataset(signals).toDF()
      import org.apache.spark.sql.expressions.Window
      import org.apache.spark.sql.functions._
      df.withColumn("prev", lag(col("fire"), 1)
          .over(Window.partitionBy("camera_id").orderBy("ts")))
        .filter(col("fire") && !coalesce(col("prev"), lit(false)))
        .select("ts").as[Timestamp].collect().map(_.getTime / 1000).toSeq.sorted
    }
    assert(streamed == batch)
  }
}
