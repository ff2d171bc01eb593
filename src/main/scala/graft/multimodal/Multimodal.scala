package graft.multimodal

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Multimodal column plumbing (BASELINE.json mandate): image/audio/video as
  * opaque BINARY columns + typed metadata, with frame sampling as pure
  * metadata arithmetic. The model call over frame payloads lives in the
  * crowd pipeline's pluggable per-partition scorer
  * (graft.pipeline.CrowdPipeline).
  */
object Multimodal {

  /** media record: id + modality + opaque payload + typed metadata. */
  val mediaSchema: StructType = StructType(Seq(
    StructField("media_id", LongType),
    StructField("media_type", StringType),
    StructField("payload", BinaryType),
    StructField("meta", StructType(Seq(
      StructField("width", IntegerType),
      StructField("height", IntegerType),
      StructField("n_frames", IntegerType))))))

  /** Fixture stand-in: documents texts as payload bytes, metadata derived
    * deterministically from doc_id. */
  def syntheticMedia(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir).select(
      col("doc_id").as("media_id"),
      element_at(array(lit("image"), lit("audio"), lit("video")),
        (col("doc_id") % 3).cast("int") + 1).as("media_type"),
      encode(col("text"), "UTF-8").as("payload"),
      struct(
        (lit(64) + (col("doc_id") % 8) * 32).cast("int").as("width"),
        (lit(64) + (col("doc_id") % 5) * 32).cast("int").as("height"),
        when(col("doc_id") % 3 === 2, ((col("doc_id") % 30) + 1).cast("int"))
          .otherwise(lit(1)).cast("int").as("n_frames")).as("meta"))

  /** Frame sampling plan for videos: every k-th frame index as rows —
    * generator-shaped (E-UDTF via sequence+explode), no payload decode. */
  def sampleFrames(media: DataFrame, everyK: Int): DataFrame =
    media.filter(col("media_type") === "video")
      .select(col("media_id"),
        explode(sequence(lit(0), col("meta.n_frames") - 1, lit(everyK))).as("frame_idx"))

  /** q_frame_sample: every-5th-frame plan over the synthetic media table —
    * the generator path (sequence+explode) under the oracle gate; the
    * sampled index list is pure metadata arithmetic, so DuckDB reproduces
    * it exactly from the documents fixture. */
  def frameSampleQuery(spark: SparkSession, dir: String): DataFrame =
    sampleFrames(syntheticMedia(spark, dir), 5)
      .select(col("media_id"), col("frame_idx").cast("long").as("frame_idx"))
      .orderBy("media_id", "frame_idx")
}
