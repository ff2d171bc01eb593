package graft.pipeline

import graft.operators.Nms
import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** One stub detection (named fields so the scorer's struct schema matches
  * `detectionType`). */
case class Det(x: Int, y: Int, w: Int, h: Int, conf: Double, class_id: Int)

/** The reference's whole dataflow as one composable pipeline (SURVEY §3.1):
  *
  *   frames (S1) → batched scorer (P1/P2) → per-detection confidence filter
  *   (P6) → person-class gate via the class dim (P7) → row-local NMS (P9)
  *   → person count (P10) → crowd threshold (P11) → label (P19); alerts
  *   feed the AlarmLatch (P13/E-STATE) downstream.
  *
  * Everything after the scorer is row-local column algebra: detections
  * stay nested per frame row, so the hot path has ZERO shuffles — it
  * scales linearly with frame count and runs unchanged under
  * `readStream` (micro-batch) or batch. This is the engine answer to the
  * reference's frame-at-a-time loop (`main.py:145-270`): same per-frame
  * semantics, but planned once and executed data-parallel.
  *
  * The model is pluggable at the `BINARY → ARRAY<STRUCT<...>>` boundary
  * (SURVEY §7.1): `scoreBatched` accepts any `Array[Byte] => Seq[Det]`
  * scorer; `scoreHeavy` is the deterministic stand-in (the real YOLO
  * forward pass lives outside the engine contract).
  */
object CrowdPipeline {

  /** Frame record schema (SURVEY §1.1 "unbounded frame stream"). */
  val frameSchema: StructType = StructType(Seq(
    StructField("camera_id", StringType),
    StructField("frame_id", LongType),
    StructField("ts", TimestampType),
    StructField("image", BinaryType)))

  val detectionType: ArrayType = ArrayType(StructType(Seq(
    StructField("x", IntegerType), StructField("y", IntegerType),
    StructField("w", IntegerType), StructField("h", IntegerType),
    StructField("conf", DoubleType), StructField("class_id", IntegerType))))

  /** ======= STUB: stands in for a real batched forward pass (the YOLO
    * call, `main.py:94-96`). Non-trivial on purpose — several FNV mixing
    * rounds over every payload byte — so the benched pipeline measures the
    * scoring boundary at a realistic per-byte cost instead of a near-free
    * closure. Deterministic: detection count and geometry derive from the
    * digest; class ids cycle 0/1/2 with id 0 ("person") most frequent. */
  def scoreHeavy(image: Array[Byte]): Seq[Det] = {
    if (image == null || image.isEmpty) return Nil
    var h = -3750763034362895579L // FNV-1a 64 offset basis
    var round = 0
    while (round < 16) {
      var i = 0
      while (i < image.length) { h = (h ^ (image(i) & 0xff)) * 1099511628211L; i += 1 }
      round += 1
    }
    val sum = (h % 1000003L + 1000003L) % 1000003L
    val n = (sum % 9L).toInt
    (0 until n).map { i =>
      val seed = sum + i * 131
      Det((seed % 300).toInt, (seed % 271).toInt,
        40 + (seed % 5).toInt * 15, 40 + (seed % 7).toInt * 10,
        0.3 + (seed % 70) / 100.0,
        if (i % 4 == 0) (i % 3) else 0)
    }
  }
  // =======================================================================

  /** P1/P2 batched form: per-partition scoring with explicit batch shape —
    * the inference boundary a real model needs (one forward call per batch,
    * model initialized once per partition = the S3 broadcast-model
    * pattern, `main.py:26-48` module scope). Output: the input columns plus
    * `dets` (`detectionType`), what `personCounts` reads; CrowdPipelineSpec
    * pins batch-shape invariance (any batchSize ≡ the scorer applied
    * frame by frame on the driver). */
  def scoreBatched(frames: DataFrame, scorer: Array[Byte] => Seq[Det] = scoreHeavy,
                   batchSize: Int = 64): DataFrame = {
    // passthrough schema: every input column survives (a label or join key
    // riding on the frame reaches the stages AFTER the model boundary —
    // what the MLlib Pipeline wiring needs), `dets` appended last
    val inSchema = frames.schema
    // a frame that already carries `dets` means the scorer is being applied
    // twice (e.g. a double-applied PipelineModel) — the duplicate field name
    // would make downstream resolution ambiguous, so fail loudly here
    require(!inSchema.fieldNames.contains("dets"),
      "scoreBatched input already has a 'dets' column — scorer applied twice?")
    val imgIdx = inSchema.fieldIndex("image")
    val outSchema = StructType(inSchema.fields :+
      StructField("dets", detectionType))
    val enc = org.apache.spark.sql.catalyst.encoders.RowEncoder.encoderFor(outSchema)
    frames.mapPartitions { rows =>
      // per-partition init point: a real impl deserializes the broadcast
      // model here, once, before the batch loop
      val model: Array[Byte] => Seq[Det] = scorer
      rows.grouped(batchSize).flatMap { batch =>
        // one "forward call" per batch
        val dets = batch.map(r => model(r.getAs[Array[Byte]](imgIdx)))
        batch.lazyZip(dets).map { (r, ds) =>
          Row.fromSeq(r.toSeq :+
            ds.map(d => Row(d.x, d.y, d.w, d.h, d.conf, d.class_id)))
        }
      }
    }(enc)
  }

  /** Frame records derived from the documents fixture (payload bytes stand
    * in for the encoded image, source = camera) — the same stand-in
    * Multimodal.syntheticMedia uses, shaped to `frameSchema`. */
  def framesFromDocuments(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    graft.Tables.documents(spark, dir).select(
      col("source").as("camera_id"),
      col("doc_id").as("frame_id"),
      timestamp_seconds(lit(1704067200L) + col("doc_id")).as("ts"),
      encode(col("text"), "UTF-8").as("image"))

  /** q_pipeline: the full dataflow, benched — batched heavy scorer →
    * per-frame column algebra → per-camera rollup. Scoring and analytics
    * are one narrow pass (zero shuffles before the final small agg), so
    * the bench number is dominated by the scoring boundary itself — the
    * P2 pattern's overhead, measured. Deterministic (rows-only
    * correctness: the scorer's digest arithmetic has no SQL twin). */
  def pipelineQuery(spark: org.apache.spark.sql.SparkSession, dir: String): DataFrame =
    personCounts(scoreBatched(framesFromDocuments(spark, dir)))
      .groupBy("camera_id")
      .agg(count(lit(1)).as("n_frames"),
        sum(when(col("crowded"), 1L).otherwise(0L)).as("n_crowded"),
        sum("person_count").as("persons"))
      .orderBy("camera_id")

  private val keepIdxUdf = udf(
    (xs: Seq[Int], ys: Seq[Int], ws: Seq[Int], hs: Seq[Int], confs: Seq[Double],
     confT: Double, iouT: Double) => Nms.keepIndices(xs, ys, ws, hs, confs, confT, iouT))

  /** Per-frame analytics: confidence filter → person gate → row-local NMS
    * → count → threshold → display label. `personClassId` comes from the
    * class dim (tiny, driver-resolved — the reference's in-memory
    * `classes` list, `main.py:47-48`). */
  def personCounts(scored: DataFrame, personClassId: Int = 0,
                   confThreshold: Double = 0.5, iouThreshold: Double = 0.3,
                   crowdThreshold: Int = 3): DataFrame = {
    val persons = filter(col("dets"),
      d => d.getField("class_id") === personClassId)
    def field(name: String): Column = transform(col("persons"), _.getField(name))
    scored
      .withColumn("persons", persons)
      .withColumn("kept", keepIdxUdf(
        field("x"), field("y"), field("w"), field("h"), field("conf"),
        lit(confThreshold), lit(iouThreshold)))
      .withColumn("person_count", size(col("kept")).cast("long"))
      .withColumn("crowded", col("person_count") > crowdThreshold)
      .withColumn("label",
        format_string("Persons: %d", col("person_count")))  // P19, paper p.4 overlay
      .drop("persons")
  }

  /** Full pipeline: frames → per-frame counts (works batch or streaming). */
  def apply(frames: DataFrame): DataFrame = personCounts(scoreBatched(frames))

  /** The alert stream: crowded frames as (camera_id, ts) fire signals for
    * the AlarmLatch / foreachBatch sink (S7). */
  def alerts(counted: DataFrame): DataFrame =
    counted.filter(col("crowded")).select(col("camera_id"), col("ts"), col("person_count"))
}
