package graft

import graft.pipeline.{CrowdPipeline, MlScoring}
import org.apache.spark.ml.PipelineModel
import org.apache.spark.sql.functions._

/** MLlib scoring-path wiring (SURVEY north star "Structured Streaming +
  * MLlib"): the inference boundary as a Pipeline stage, a genuinely
  * FITTED model stage, persistence round-trip, and streaming legality. */
class MlScoringSpec extends SparkSpec {

  private lazy val frames = MlScoring.labeledFrames(spark, sf).cache()
  private lazy val model: PipelineModel = MlScoring.fitOn(frames)

  test("fitted pipeline reproduces the crowd rule from frame features") {
    val scored = model.transform(frames)
    val n = scored.count()
    val agree = scored
      .filter(col("prediction") === col("crowd_label")).count()
    // n_person is IN the feature vector, so the learned boundary should
    // recover the person_count > 3 rule almost exactly (NMS suppression
    // makes kept-count ≤ n_person, hence "almost")
    assert(n > 0)
    assert(agree.toDouble / n > 0.9, s"model agrees on $agree of $n frames")
  }

  test("PipelineModel save/load round-trips and predicts identically") {
    val dir = java.nio.file.Files.createTempDirectory("graft_mlmodel")
      .toFile.getPath + "/m"
    model.write.overwrite().save(dir)
    val back = PipelineModel.load(dir)
    val a = model.transform(frames)
      .select("frame_id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val b = back.transform(frames)
      .select("frame_id", "prediction").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(a == b, "reloaded model must predict identically")
  }

  test("PipelineModel.transform is streaming-legal (memory source → sink)") {
    // every stage is per-row/per-partition algebra; the fitted model must
    // apply to an unbounded frame stream unchanged (the deployment shape:
    // readStream → model.transform → alert sink)
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val mem = MemoryStream[(String, Long, java.sql.Timestamp, Array[Byte])]
    val stream = mem.toDF()
      .toDF("camera_id", "frame_id", "ts", "image")
    val out = model.transform(stream)
      .select("camera_id", "frame_id", "prediction")
    val q = out.writeStream.format("memory").queryName("ml_stream_out")
      .outputMode("append").start()
    try {
      val rows = frames.select("camera_id", "frame_id", "ts", "image")
        .limit(8).collect()
        .map(r => (r.getString(0), r.getLong(1),
          r.getTimestamp(2), r.getAs[Array[Byte]](3)))
      mem.addData(rows.toIndexedSeq)
      q.processAllAvailable()
      val got = spark.table("ml_stream_out").collect()
      assert(got.length == 8, s"streamed ${got.length} of 8 frames")
      // streamed predictions must equal the batch predictions frame-for-frame
      val batch = model.transform(frames.limit(8))
        .select("frame_id", "prediction").collect()
        .map(r => r.getLong(0) -> r.getDouble(1)).toMap
      got.foreach { r =>
        assert(batch(r.getLong(1)) == r.getDouble(2),
          s"frame ${r.getLong(1)} streaming/batch prediction mismatch")
      }
    } finally q.stop()
  }

  test("serving model survives a session with non-serializable lazy state") {
    // initialize the session's ObservationManager — the lazily-created,
    // NON-serializable session field that a summary-pinned model drags
    // into every prediction closure (the full-suite failure mode this
    // spec regressed on: any suite touching the Observation API poisoned
    // model.transform). fitOn strips summaries, so this must pass.
    val obs = new org.apache.spark.sql.Observation()
    frames.limit(1).observe(obs, count(lit(1)).as("n")).collect()
    val m = MlScoring.fitOn(frames)
    assert(m.transform(frames).select("prediction").count() > 0)
  }

  test("model cache: reused while the corpus is unchanged, REPLACED when it changes") {
    // the Tables.FixtureCache lifecycle on the ml pipeline's model
    val dir = java.nio.file.Files.createTempDirectory("graft_ml_cache").toString
    java.nio.file.Files.copy(
      java.nio.file.Paths.get(s"$sf/documents.parquet"),
      java.nio.file.Paths.get(s"$dir/documents.parquet"))
    val first = MlScoring.fitCrowdRisk(spark, dir)
    val firstSig = MlScoring.modelByDir.entry(dir).map(_._1)
    assert(firstSig.nonEmpty)
    assert(MlScoring.fitCrowdRisk(spark, dir) eq first, "unchanged corpus must reuse the model")
    val f = new java.io.File(s"$dir/documents.parquet")
    assert(f.setLastModified(f.lastModified() + 60000))
    val second = MlScoring.fitCrowdRisk(spark, dir)
    assert(MlScoring.modelByDir.entry(dir).map(_._1) != firstSig, "content signature should have changed")
    assert(!(second eq first), "model should have been refitted")
  }

  test("q_ml_risk: per-camera rollup is stable-shaped and label-consistent") {
    val out = MlScoring.mlRiskQuery(spark, sf).collect()
    assert(out.nonEmpty)
    // one row per camera (documents.source), counts within frame totals
    out.foreach { r =>
      val (n, pred, lab) = (r.getLong(1), r.getLong(2), r.getLong(3))
      assert(pred >= 0 && pred <= n && lab >= 0 && lab <= n)
    }
  }
}
