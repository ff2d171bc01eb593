package graft

import java.nio.file.Files
import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** jaccardPairs on a vocabulary larger than 64 words: the sparse
  * MAP<block, mask> bitmap must agree with a brute-force token-set
  * Jaccard. The retired single-LONG bitmap wrapped `shiftleft` mod 64
  * here and produced corrupted intersections (ADVICE r2). */
class JaccardSpec extends SparkSpec {

  private def brute(docs: Seq[(Long, String, String)]): Set[(Long, Long, Double)] = {
    val sets = docs.map { case (id, text, src) => (id, src, text.split(" ").toSet) }
    (for {
      (d1, s1, t1) <- sets; (d2, s2, t2) <- sets
      if s1 == s2 && d1 < d2
      inter = (t1 & t2).size.toDouble
      jac = inter / (t1.size + t2.size - inter)
      if jac >= 0.9
    } yield (d1, d2, math.rint(jac * 10000) / 10000)).toSet
  }

  /** A sf-shaped dir whose documents table holds exactly `docs`. */
  private def docsDir(docs: Seq[(Long, String, String)]): String = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_jaccard").toString
    docs.toDF("doc_id", "text", "source")
      .withColumn("lang", lit("en"))
      .withColumn("n_chars", length(col("text")).cast("long"))
      .select("doc_id", "text", "lang", "source", "n_chars")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }

  test("a duplicate doc_id fails loudly instead of merging two documents") {
    // rows 7 and 7' would otherwise be merged into ONE token set (wrong
    // sizes, wrong pairs); the precondition rides the bitmap build
    val docs = Seq(
      (6L, "a b c d e f g h i j", "a"),
      (7L, "a b c d e f g h i j", "a"),
      (7L, "k l m", "a"))
    val e = intercept[Exception](TextOps.jaccardPairs(spark, docsDir(docs)).collect())
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("duplicate doc_id 7")),
      s"expected the doc_id precondition failure, got: $e")
    // the same corpus without the collision runs clean
    assert(TextOps.jaccardPairs(spark, docsDir(docs.take(2))).count() == 1L)
  }

  test("sparse bitmap Jaccard is exact on a 150-word vocabulary (> 64-bit block)") {
    import spark.implicits._
    val vocab = (0 until 150).map(i => f"w$i%03d")
    // near-dup pair: 100 tokens vs the same minus 2 (jaccard 0.98)
    // far pair: first/second halves overlap 50 of 100 vs 100 (jaccard 1/3)
    // cross-source near-dup must NOT pair (blocking key)
    val docs = Seq(
      (1L, vocab.take(100).mkString(" "), "a"),
      (2L, vocab.take(98).mkString(" "), "a"),
      (3L, vocab.slice(50, 150).mkString(" "), "a"),
      (4L, vocab.take(100).mkString(" "), "b"),
      (5L, vocab.take(99).mkString(" "), "b"))
    val got = TextOps.jaccardPairs(spark, docsDir(docs))
      .as[(Long, Long, Double)].collect().toSet
    val want = brute(docs)
    assert(want.map(p => (p._1, p._2)) == Set((1L, 2L), (4L, 5L)))
    assert(got == want)
  }

  test("bitmap_from_bits / bitmap_and_count: packing, unequal lengths, SQL surface") {
    // bits {0, 63, 64, 150} -> 3 blocks; {63, 64} -> 2 blocks; AND hits 63 and 64
    val row = spark.sql(
      """SELECT size(bitmap_from_bits(array(0, 63, 64, 150))) AS nblk,
        |       bitmap_and_count(bitmap_from_bits(array(0, 63, 64, 150)),
        |                        bitmap_from_bits(array(63, 64))) AS inter,
        |       bitmap_and_count(bitmap_from_bits(array(1)),
        |                        bitmap_from_bits(array(2))) AS disjoint
        |""".stripMargin).head()
    assert(row.getInt(0) == 3)
    assert(row.getLong(1) == 2L)
    assert(row.getLong(2) == 0L)
  }

  test("fixture-vocabulary result unchanged (regression vs oracle shape)") {
    import spark.implicits._
    val got = TextOps.jaccardPairs(spark, sf)
      .as[(Long, Long, Double)].collect()
    assert(got.nonEmpty)
    assert(got.forall(_._3 >= 0.9))
    // ordering contract: sorted by (d1, d2)
    assert(got.sortBy(p => (p._1, p._2)).toSeq == got.toSeq)
  }
}
