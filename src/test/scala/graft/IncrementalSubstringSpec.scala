package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** TextOps.substringStrip / substringFold — exact-substring dedup
  * against a persisted gram index: keep-first decisions, batch-grain
  * equivalence to a local recompute, probe idempotence, cross-batch
  * catches, and the no-Exchange index-side plan pin. */
class IncrementalSubstringSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private def freshIndex(): String =
    java.nio.file.Files.createTempDirectory("graft-substr-idx").toString + "/index.parquet"
  private def docs() = Tables.documents(spark, sfDir)

  /** Fold `d`'s distinct gram keys into the index at `idx` — the
    * q_strip_delta build. */
  private def fold(idx: String, d: org.apache.spark.sql.DataFrame): Unit =
    TextOps.substringFold(spark, idx,
      TextOps.gramKeyFrame(d).groupBy("k").agg(min("doc_id").as("min_doc")))

  /** Local keep-first recompute: (doc_id, n_tokens, n_dup_tokens,
    * text_clean) with a position stripped iff its 6-gram was first seen
    * on a smaller doc_id (global order — one batch, empty prior index). */
  private def localKeepFirst(): Seq[(Long, Long, Long, String)] = {
    val all = docs().select("doc_id", "text").collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq)
      .sortBy(_._1)
    val firstSeen = scala.collection.mutable.Map.empty[Seq[String], Long]
    all.foreach { case (id, toks) =>
      toks.sliding(6).filter(_.size == 6)
        .foreach(g => if (!firstSeen.contains(g)) firstSeen(g) = id)
    }
    all.map { case (id, toks) =>
      val hits = toks.sliding(6).zipWithIndex
        .collect { case (g, i) if g.size == 6 && firstSeen(g) < id => (i + 1).toLong }
        .toSeq
      val covered = hits.flatMap(j => j to j + 5).toSet
      val kept = toks.zipWithIndex.collect {
        case (t, i) if !covered((i + 1).toLong) => t
      }
      (id, toks.size.toLong, toks.size.toLong - kept.size, kept.mkString(" "))
    }.toSeq
  }

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, Long, Long, String)] =
    df.collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq

  test("one-batch keep-first strip matches the local recompute") {
    // an absent index is "nothing seen yet": the whole corpus as one
    // batch strips exactly the keep-first positions
    val got = rows(TextOps.substringStrip(spark, freshIndex(), docs()))
    val expect = localKeepFirst()
    assert(got == expect)
    assert(got.exists(_._3 > 0), "fixture must exercise keep-first stripping")
    // keep-first keeps strictly more text than the batch strip-all audit
    val batch = rows(TextOps.dupStrip(spark, sfDir)).map(r => r._1 -> r._3).toMap
    got.foreach { case (id, _, dup, _) =>
      assert(dup <= batch(id), s"doc $id: keep-first stripped more than strip-all")
    }
  }

  test("substringStrip is probe-only: repeats identical, index untouched, absent index legal") {
    // absent index: intra-batch keep-first still applies
    val ghost = freshIndex()
    val alone = rows(TextOps.substringStrip(spark, ghost, docs()))
    assert(alone == localKeepFirst(), "absent index must mean 'nothing seen yet'")
    val idx = freshIndex()
    fold(idx, docs().filter(col("doc_id") % 2 === 0))
    val t = TextOps.substringIndexState(idx).ensure(spark).get
    val before = spark.table(t).count()
    val s1 = rows(TextOps.substringStrip(spark, idx, docs().filter(col("doc_id") % 2 === 1)))
    val s2 = rows(TextOps.substringStrip(spark, idx, docs().filter(col("doc_id") % 2 === 1)))
    assert(s1 == s2)
    assert(spark.table(t).count() == before, "probe must not fold")
    // and the SparkEntry shape is this exact probe (fresh state path per
    // fixture content, so the query is reproducible across sessions)
    assert(rows(TextOps.stripDeltaQuery(spark, sfDir)) == s1)
  }

  test("a cross-batch duplicate span is caught and stripped keep-first") {
    import spark.implicits._
    val idx = freshIndex()
    val d1 = Seq((1L, "alpha beta gamma delta epsilon zeta eta theta")).toDF("doc_id", "text")
    val d2 = Seq((2L, "NEW prose here alpha beta gamma delta epsilon zeta eta theta Tail words linger on")).toDF("doc_id", "text")
    assert(rows(TextOps.substringStrip(spark, idx, d1)).head._3 == 0,
      "first copy must be kept whole")
    fold(idx, d1)
    val out = rows(TextOps.substringStrip(spark, idx, d2)).head
    // d2 tokens 4..11 carry d1's grams: starts 4,5,6 hit -> covered 4..11
    assert(out._3 == 8, s"expected the 8 shared tokens stripped, got $out")
    assert(out._4 == "NEW prose here Tail words linger on")
  }

  test("probe and fold co-locate: no Exchange above the bucketed index side") {
    val idx = freshIndex()
    fold(idx, docs().filter(col("doc_id") % 2 === 0))
    val t = TextOps.substringIndexState(idx).ensure(spark).get
    val odds = docs().filter(col("doc_id") % 2 === 1)
    // substringStrip freezes its hit set and substringFold its novel
    // keys, so the joins show only in the plans those jobs executed
    val (probe, folded) = withShuffleJoins {
      (executedPlans(TextOps.substringStrip(spark, idx, odds).count()),
        executedPlans(fold(idx, odds)))
    }
    for ((plans, face) <- Seq((probe, "probe semi-join"), (folded, "fold anti-join"))) {
      val onIndex = plans.filter(tableJoinSides(_, t).nonEmpty)
      assert(onIndex.nonEmpty, s"the $face must join the index table")
      onIndex.foreach { p =>
        assert(tableSideShuffles(p, t).isEmpty,
          s"the $face shuffles the corpus-sized index side:\n$p")
      }
      assert(onIndex.exists(_.exists(
          _.isInstanceOf[org.apache.spark.sql.execution.exchange.ShuffleExchangeExec])),
        s"expected the delta side of the $face to shuffle into the bucket layout")
    }
  }
}
