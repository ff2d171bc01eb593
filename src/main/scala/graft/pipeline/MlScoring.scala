package graft.pipeline

import org.apache.spark.ml.{Pipeline, PipelineModel, Transformer}
import org.apache.spark.ml.classification.LogisticRegression
import org.apache.spark.ml.feature.VectorAssembler
import org.apache.spark.ml.param.{IntParam, ParamMap, ParamValidators}
import org.apache.spark.ml.util.{DefaultParamsReadable, DefaultParamsWritable, Identifiable}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, DoubleType, StructField, StructType}

/** MLlib integration for the scoring path — the "Structured Streaming +
  * MLlib" shape the reference's architecture implies (frame stream →
  * model → alert, `crowd_detection_backend_model/main.py:94-96, 145-270`)
  * expressed as a standard `org.apache.spark.ml.Pipeline`:
  *
  *   [[DetectionScorer]] (the P1/P2 inference boundary as a Transformer)
  *   → [[FrameFeatures]] (nested detections → flat numeric features)
  *   → VectorAssembler → LogisticRegression (a REAL fitted MLlib stage)
  *
  * Why a Pipeline and not just the CrowdPipeline functions: the MLlib API
  * is the deployment contract a model team actually ships against —
  * `Pipeline.fit` returns a `PipelineModel` that persists
  * (`model.write.save`), reloads (`PipelineModel.load`), and transforms
  * BATCH AND STREAMING frames identically (every stage below is per-row /
  * per-partition column algebra, legal under Structured Streaming). The
  * fitted stage demonstrates the model-backed path end to end; the YOLO
  * forward pass itself stays behind the [[DetectionScorer]] stub boundary
  * (the sanctioned public-knowledge cut — same stance as
  * [[CrowdPipeline.scoreBatched]]).
  *
  * Scale shape: fit aggregates only feature vectors (MLlib's L-BFGS
  * reduces per-partition gradient sums — no fact-sized collect);
  * transform is zero-shuffle column algebra, so scoring 100 TB of frames
  * is scan-bound, exactly like the non-MLlib path. */
class DetectionScorer(override val uid: String) extends Transformer
    with DefaultParamsWritable {
  def this() = this(Identifiable.randomUID("detScorer"))

  /** Frames per forward call (the P2 batch shape). */
  final val batchSize: IntParam = new IntParam(this, "batchSize",
    "frames per forward call", ParamValidators.gt(0))
  setDefault(batchSize -> 64)
  def setBatchSize(n: Int): this.type = set(batchSize, n)

  override def transform(ds: Dataset[_]): DataFrame =
    CrowdPipeline.scoreBatched(ds.toDF(), batchSize = $(batchSize))

  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields :+ StructField("dets", CrowdPipeline.detectionType))

  override def copy(extra: ParamMap): DetectionScorer = defaultCopy(extra)
}
object DetectionScorer extends DefaultParamsReadable[DetectionScorer]

/** Flattens the nested per-frame detection array into the numeric frame
  * features the model stage consumes — total detection count, person
  * count, CONFIDENT person count (conf ≥ 0.5, the rule's own gate — the
  * strongest predictor of the post-NMS kept count; the residual gap is
  * IoU suppression only), mean confidence. Pure codegen'd column algebra
  * (array HOFs), zero shuffles, streaming-legal. */
class FrameFeatures(override val uid: String) extends Transformer
    with DefaultParamsWritable {
  def this() = this(Identifiable.randomUID("frameFeatures"))

  override def transform(ds: Dataset[_]): DataFrame = {
    val persons = filter(col("dets"), d => d.getField("class_id") === 0)
    val confident = filter(col("dets"),
      d => d.getField("class_id") === 0 && d.getField("conf") >= 0.5)
    ds.toDF()
      .withColumn("n_dets", size(col("dets")).cast("long"))
      .withColumn("n_person", size(persons).cast("long"))
      .withColumn("n_person_conf", size(confident).cast("long"))
      .withColumn("mean_conf", coalesce(
        aggregate(col("dets"), lit(0.0), (a, d) => a + d.getField("conf"))
          / greatest(size(col("dets")), lit(1)), lit(0.0)))
  }

  override def transformSchema(schema: StructType): StructType =
    StructType(schema.fields ++ Seq(
      StructField("n_dets", LongType), StructField("n_person", LongType),
      StructField("n_person_conf", LongType), StructField("mean_conf", DoubleType)))

  override def copy(extra: ParamMap): FrameFeatures = defaultCopy(extra)
}
object FrameFeatures extends DefaultParamsReadable[FrameFeatures]

object MlScoring {

  /** The unfitted Pipeline: scorer → features → assembler → logistic
    * regression against the label column `crowd_label`. */
  def crowdRiskPipeline(batchSize: Int = 64): Pipeline = {
    val scorer = new DetectionScorer().setBatchSize(batchSize)
    val feats = new FrameFeatures()
    val assembler = new VectorAssembler()
      .setInputCols(Array("n_dets", "n_person", "n_person_conf", "mean_conf"))
      .setOutputCol("features")
    val lr = new LogisticRegression()
      .setLabelCol("crowd_label").setFeaturesCol("features")
      .setMaxIter(25).setRegParam(0.01)
    new Pipeline().setStages(Array(scorer, feats, assembler, lr))
  }

  /** Deterministic training frame: fixture-derived frames labeled by the
    * reference's own crowd rule (NMS'd person count > 3, `main.py:232`) —
    * the rule the fitted model learns to reproduce from frame features. */
  def labeledFrames(spark: SparkSession, dir: String): DataFrame =
    CrowdPipeline.personCounts(
        CrowdPipeline.scoreBatched(CrowdPipeline.framesFromDocuments(spark, dir)))
      .select(col("camera_id"), col("frame_id"), col("ts"), col("image"),
        when(col("crowded"), 1.0).otherwise(0.0).as("crowd_label"))

  /** Fit the pipeline and strip training summaries: a serving model must
    * not reference its training session (the summary pins the
    * SparkSession inside the prediction closure — see
    * [[org.apache.spark.ml.GraftMlBridge]]); the stripped model is in
    * the same state a persisted-and-reloaded one would be. */
  def fitOn(frames: DataFrame): PipelineModel =
    org.apache.spark.ml.GraftMlBridge.stripTrainingSummaries(
      crowdRiskPipeline().fit(frames))

  /** Fit-once-per-corpus cache: a model is trained OFFLINE once and
    * amortized over every scoring query (retraining per query charges
    * the full fit to each lookup — the r7 IVF lesson); a regenerated
    * fixture replaces the dir's model. */
  private[graft] val modelByDir = new graft.Tables.FixtureCache[PipelineModel]("documents")

  /** Fit the pipeline on the fixture's labeled frames (cached per
    * fixture content — probe-only after first touch). */
  def fitCrowdRisk(spark: SparkSession, dir: String): PipelineModel =
    modelByDir(dir)(fitOn(labeledFrames(spark, dir)))

  /** q_ml_risk: score + per-camera rollup of model-predicted crowd risk
    * — the MLlib twin of q_pipeline (rows-only correctness: LR
    * coefficients have no SQL oracle; the spec pins model quality and
    * save/load round-trip instead). The model comes from the fit-once
    * cache, so the steady-state query cost is transform-only — the
    * production lifecycle (train offline, serve per query).
    *
    * The heavy scoring boundary runs ONCE: raw frames go straight into
    * `model.transform` (whose first stage is the [[DetectionScorer]]),
    * and the reference-rule label is derived from the `dets` that pass
    * already produced via [[CrowdPipeline.personCounts]] — not by
    * re-scoring through [[labeledFrames]], which would double the
    * per-query inference cost for an identical (deterministic) label. */
  def mlRiskQuery(spark: SparkSession, dir: String): DataFrame = {
    val model = fitCrowdRisk(spark, dir)
    val scored = model.transform(CrowdPipeline.framesFromDocuments(spark, dir))
    CrowdPipeline.personCounts(scored)
      .withColumn("crowd_label", when(col("crowded"), 1.0).otherwise(0.0))
      .groupBy("camera_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(col("prediction")).cast("long").as("n_pred_crowded"),
        sum(col("crowd_label")).cast("long").as("n_label_crowded"))
      .orderBy("camera_id")
  }
}
