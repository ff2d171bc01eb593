package graft

import graft.operators.VectorOps
import org.apache.spark.sql.functions._

/** VectorOps.semDedupIncrement — the persisted frozen-geometry vector
  * index (SemDeDup on crawl deltas): batch-grain equivalence to the
  * oracle-checked q_semdedup, slice composability, replay rejection,
  * the probe-only q_semdedup_delta, the seed-size guards, and the
  * co-located probe plan. */
class IncrementalSemDedupSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private def freshIndex(): String =
    java.nio.file.Files.createTempDirectory("graft-semdedup-idx").toString + "/index.parquet"
  private def vecs() = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")

  private def reportOf(df: org.apache.spark.sql.DataFrame) =
    df.select("vec_id", "cluster", "admitted", "dup_of", "max_cos").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2),
        if (r.isNullAt(3)) -1L else r.getLong(3),
        if (r.isNullAt(4)) -999.0 else r.getDouble(4))) // sentinel, not NaN (NaN != NaN breaks tuple equality)
      .sortBy(_._1).toSeq

  test("one full-corpus increment matches the oracle-checked q_semdedup, vector for vector") {
    // one batch over an empty index freezes the geometry on the corpus's
    // 8 smallest vec_ids — the fixture's 0..7, i.e. exactly q_semdedup's
    // seedAssign — and the smaller-id-batch-mate rule IS q_semdedup's
    // lower-id-cluster-mate rule, so the reports must agree field-wise
    val incr = reportOf(VectorOps.semDedupIncrement(spark, freshIndex(), vecs()))
    val oneShot = VectorOps.semDedup(spark, sfDir)
      .select(col("vec_id"), col("cluster"), (!col("is_dup")).as("admitted"),
        col("dup_of"), col("max_cos"))
    assert(incr == reportOf(oneShot))
    assert(incr.exists(!_._3) && incr.exists(_._3),
      "fixture must exercise both admission outcomes")
  }

  test("vec_id-ordered slices compose: two increments ≡ one batch") {
    val ids = vecs().select("vec_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val idx2 = freshIndex()
    val a1 = reportOf(VectorOps.semDedupIncrement(spark, idx2,
      vecs().filter(col("vec_id") < mid)))
    val a2 = reportOf(VectorOps.semDedupIncrement(spark, idx2,
      vecs().filter(col("vec_id") >= mid)))
    val one = reportOf(VectorOps.semDedupIncrement(spark, freshIndex(), vecs()))
    assert((a1 ++ a2).sortBy(_._1) == one)
  }

  test("replaying a folded batch through the RAW api rejects everything and appends nothing") {
    val idx = freshIndex()
    VectorOps.semDedupIncrement(spark, idx, vecs())
    val t = VectorOps.semDedupIndexState(idx).ensure(spark).get
    val sizeBefore = spark.table(t).count()
    val replay = VectorOps.semDedupIncrement(spark, idx, vecs())
    // every vector meets its own stored copy at cosine 1 ≥ τ (its
    // reported dup_of is the MIN qualifying mate, which may be an even
    // smaller-id near-duplicate — but can never exceed self)
    assert(replay.filter(col("admitted")).isEmpty)
    assert(replay.filter(col("dup_of") > col("vec_id")).isEmpty,
      "the self-copy always qualifies, so dup_of can never exceed self")
    assert(spark.table(t).count() == sizeBefore, "novel-only appends")
  }

  test("q_semdedup_delta is probe-only: repeats identical, fixture index untouched") {
    val first = reportOf(VectorOps.semDedupDeltaQuery(spark, sfDir))
    val idx = Tables.fixtureStatePath("graft_semdedup_delta", sfDir, "embeddings")
    val t = VectorOps.semDedupIndexState(idx).ensure(spark).get
    val sizeBefore = spark.table(t).count()
    assert(reportOf(VectorOps.semDedupDeltaQuery(spark, sfDir)) == first,
      "probe-only repeats must be identical")
    assert(spark.table(t).count() == sizeBefore, "the query must not fold")
    assert(first.exists(!_._3) && first.exists(_._3),
      "fixture must exercise both admission outcomes")
  }

  test("empty first batch freezes no geometry; the next non-empty batch does") {
    val idx = freshIndex()
    val empty = vecs().limit(0)
    val r0 = VectorOps.semDedupIncrement(spark, idx, empty)
    assert(r0.isEmpty)
    // geometry must come from the FIRST NON-EMPTY batch — identical to
    // a run that never saw the empty batch
    val after = reportOf(VectorOps.semDedupIncrement(spark, idx, vecs()))
    val clean = reportOf(VectorOps.semDedupIncrement(spark, freshIndex(), vecs()))
    assert(after == clean)
  }

  test("a sub-seed first batch is refused; allowSmallSeed is the corpus-sized escape") {
    // r15 advice: geometry frozen from 1-2 vectors yields 1-2 clusters
    // forever — the within-cluster quadratic goes corpus-wide and
    // nothing downstream ever notices, so the freeze must fail loudly
    val idx = freshIndex()
    val tiny = vecs().orderBy("vec_id").limit(3)
    val e = intercept[IllegalArgumentException] {
      VectorOps.semDedupIncrement(spark, idx, tiny)
    }
    assert(e.getMessage.contains("at least"), e.getMessage)
    // the refusal froze nothing: a later full-size batch freezes cleanly
    val full = reportOf(VectorOps.semDedupIncrement(spark, idx, vecs()))
    assert(full == reportOf(VectorOps.semDedupIncrement(spark, freshIndex(), vecs())))
    // the escape hatch freezes a corpus-sized tiny batch explicitly,
    // and the guard is freeze-time only — later deltas may be any size
    val idx2 = freshIndex()
    val r1 = VectorOps.semDedupIncrement(spark, idx2, tiny, allowSmallSeed = true)
    assert(r1.count() == 3)
    val later = vecs().orderBy("vec_id").limit(5).filter(col("vec_id") >= lit(3L))
    assert(VectorOps.semDedupIncrement(spark, idx2, later).count() > 0)
  }

  test("the decide probe co-locates: no Exchange above the bucketed index side") {
    val idx = freshIndex()
    VectorOps.semDedupIncrement(spark, idx,
      vecs().filter(pmod(col("vec_id"), lit(2L)) === 0))
    val t = VectorOps.semDedupIndexState(idx).ensure(spark).get
    val odds = vecs().filter(pmod(col("vec_id"), lit(2L)) === 1)
    val centers = VectorOps.ensureSemDedupCenters(spark, idx, odds)
    // the decision is frozen, so its index join shows only in the plan
    // of the job that materialized it — q_semdedup_delta's probe
    val plans = withShuffleJoins {
      executedPlans(VectorOps.semDedupDecide(spark, idx, centers, odds))
    }
    val onIndex = plans.filter(tableJoinSides(_, t).nonEmpty)
    assert(onIndex.nonEmpty, "the decision must join the index table")
    onIndex.foreach { p =>
      assert(tableSideShuffles(p, t).isEmpty,
        s"the corpus-sized index side must never re-shuffle:\n$p")
    }
  }
}
