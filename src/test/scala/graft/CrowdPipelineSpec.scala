package graft

import java.sql.Timestamp
import graft.pipeline.CrowdPipeline
import graft.operators.Nms
import graft.streaming.{AlarmLatch, FireSignal}
import org.apache.spark.sql.Row
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._

case class Frame(camera_id: String, frame_id: Long, ts: Timestamp, image: Array[Byte])

/** The reference's full dataflow end-to-end (SURVEY §3.1): frames → score
  * → filter → NMS → count → threshold → latch; batch and streaming give
  * identical per-frame results (zero-shuffle row-local hot path). */
class CrowdPipelineSpec extends SparkSpec {

  def frame(cam: String, id: Long, body: String): Frame =
    Frame(cam, id, new Timestamp(id * 1000), body.getBytes("UTF-8"))

  lazy val frames: Seq[Frame] = (0 until 60).map { i =>
    frame(s"cam${i % 3}", i, "x" * (i % 37) + "payload" * (i % 11))
  }

  test("per-frame counts match a local reimplementation of the semantics") {
    import spark.implicits._
    val got = CrowdPipeline(spark.createDataset(frames).toDF())
      .select("frame_id", "person_count").as[(Long, Long)].collect().toMap
    frames.foreach { f =>
      val dets = CrowdPipeline.scoreHeavy(f.image).filter(_.class_id == 0)
      val kept = Nms.keepIndices(dets.map(_.x), dets.map(_.y), dets.map(_.w),
        dets.map(_.h), dets.map(_.conf), 0.5, 0.3)
      assert(got(f.frame_id) == kept.size.toLong, s"frame ${f.frame_id}")
    }
  }

  test("the hot path has zero exchanges (row-local after the scan)") {
    import spark.implicits._
    val plan = CrowdPipeline(spark.createDataset(frames).toDF())
      .queryExecution.executedPlan.toString
    assert(!plan.contains("Exchange"), s"unexpected shuffle in:\n$plan")
  }

  test("streaming run equals batch run frame by frame") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Frame]
    val q = CrowdPipeline(input.toDF())
      .select("frame_id", "person_count", "crowded")
      .writeStream.outputMode("append").format("memory").queryName("crowd_pipe").start()
    try { input.addData(frames.take(30)); input.addData(frames.drop(30)); q.processAllAvailable() }
    finally q.stop()
    val streamed = spark.table("crowd_pipe").as[(Long, Long, Boolean)].collect().toSet
    val batch = CrowdPipeline(spark.createDataset(frames).toDF())
      .select("frame_id", "person_count", "crowded")
      .as[(Long, Long, Boolean)].collect().toSet
    assert(streamed == batch)
  }

  test("alerts feed the alarm latch: one alert per crowded episode per camera") {
    import spark.implicits._
    val counted = CrowdPipeline(spark.createDataset(frames).toDF())
    val signals = counted
      .select(col("camera_id"), col("ts"), col("crowded").as("fire"))
      .as[FireSignal]
    val alerts = AlarmLatch(signals).collect()
    // every alert's camera was crowded at that ts; count = number of rising edges
    val byCam = counted.select("camera_id", "ts", "crowded")
      .as[(String, Timestamp, Boolean)].collect()
      .groupBy(_._1).view.mapValues(_.sortBy(_._2.getTime).map(_._3)).toMap
    val expectedEdges = byCam.view.mapValues(flags =>
      flags.zip(false +: flags.init).count { case (now, prev) => now && !prev }).toMap
    val gotEdges = alerts.groupBy(_.camera_id).view.mapValues(_.length).toMap
    assert(gotEdges == expectedEdges.filter(_._2 > 0))
  }

  test("label formatting matches the reference overlay (P19)") {
    import spark.implicits._
    val row = CrowdPipeline(spark.createDataset(Seq(frames.head)).toDF())
      .select("label", "person_count").head()
    assert(row.getString(0) == s"Persons: ${row.getLong(1)}")
  }

  test("batched scorer is batch-shape invariant and equals scoreHeavy on the driver") {
    import spark.implicits._
    val fdf = spark.createDataset(frames).toDF()
    def collectDets(df: org.apache.spark.sql.DataFrame): Map[Long, Seq[Row]] =
      df.select("frame_id", "dets").collect()
        .map(r => r.getLong(0) -> r.getSeq[Row](1)).toMap
    val onDriver: Map[Long, Seq[Row]] = frames.map(f => f.frame_id ->
      CrowdPipeline.scoreHeavy(f.image).map(d => Row(d.x, d.y, d.w, d.h, d.conf, d.class_id))).toMap
    // batch size must be invisible in the result — including a size that
    // straddles partition boundaries and one that exceeds the partition
    for (bs <- Seq(1, 7, 1024)) {
      val viaBatch = collectDets(CrowdPipeline.scoreBatched(fdf, CrowdPipeline.scoreHeavy _, bs))
      assert(viaBatch == onDriver, s"batchSize=$bs diverged")
    }
  }

  test("q_pipeline: benched pipeline entry is deterministic and exercises every stage") {
    import spark.implicits._
    val out = CrowdPipeline.pipelineQuery(spark, sf)
    val rows = out.collect()
    assert(rows.nonEmpty)
    // deterministic across plans/runs (it's in the bench + rows-only gate)
    assert(out.collect().toSeq == rows.toSeq)
    // the scorer actually detects (persons > 0 somewhere) and the crowd
    // threshold actually fires somewhere
    assert(rows.map(_.getLong(3)).sum > 0)
    assert(rows.map(_.getLong(2)).sum > 0)
  }
}
