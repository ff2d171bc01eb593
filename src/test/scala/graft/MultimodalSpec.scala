package graft

import graft.multimodal.Multimodal

/** Multimodal plumbing: the synthetic media schema and the frame
  * sampling plan. */
class MultimodalSpec extends SparkSpec {

  lazy val media = Multimodal.syntheticMedia(spark, sf).cache()

  test("synthetic media matches the declared schema") {
    // compare names+types; nullability of derived columns is tighter
    def shape(t: org.apache.spark.sql.types.StructType) =
      t.fields.map(f => (f.name, f.dataType.catalogString)).toSeq
    assert(shape(media.schema) == shape(Multimodal.mediaSchema))
    assert(media.count() > 0)
  }

  test("sampleFrames explodes only videos at stride k") {
    val s = Multimodal.sampleFrames(media, everyK = 5)
    val idx = s.collect().map(r => r.getInt(1))
    assert(idx.nonEmpty && idx.forall(_ % 5 == 0))
  }
}
