package graft

import graft.operators.Ivf
import org.apache.spark.sql.functions._

/** Ivf.ivfAppend / ivfSearch — the persisted posting lists: one-shot
  * equivalence to the in-memory q_ivf_topk path, delta composability,
  * replay idempotence and catalog self-healing, all on the shared
  * BucketedState layout. */
class IncrementalIvfSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private def freshIndex(): String =
    java.nio.file.Files.createTempDirectory("graft-ivf-idx").toString + "/postings"
  private def vectors() = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
  private def probes() = vectors().filter(col("vec_id") < 20)

  private def searchRows(idx: String) =
    Ivf.ivfSearch(spark, idx, probes())
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq

  test("one-shot append + search reproduces the in-memory q_ivf_topk path") {
    val idx = freshIndex()
    Ivf.ivfAppend(spark, idx, vectors())
    val incremental = searchRows(idx)
    val oneShot = Ivf.ivfTopK(spark, sfDir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3))).toSeq
    assert(incremental == oneShot && incremental.nonEmpty,
      s"incremental=${incremental.take(5)}… oneShot=${oneShot.take(5)}…")
  }

  test("replaying a folded delta appends nothing") {
    val idx = freshIndex()
    Ivf.ivfAppend(spark, idx, vectors())
    val t = Ivf.postingState(idx).ensure(spark).get
    val n = spark.table(t).count()
    Ivf.ivfAppend(spark, idx, vectors())
    assert(spark.table(t).count() == n, "replay must be a no-op fold")
  }

  test("delta growth: two slices cover the corpus; cross-slice neighbors are reachable") {
    val idx = freshIndex()
    val ids = vectors().select("vec_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    Ivf.ivfAppend(spark, idx, vectors().filter(col("vec_id") < mid))
    val partial = searchRows(idx)
    Ivf.ivfAppend(spark, idx, vectors().filter(col("vec_id") >= mid))
    val t = Ivf.postingState(idx).ensure(spark).get
    // every non-zero vector indexed exactly once
    val expected = graft.operators.Pq.normalized(vectors()).count()
    assert(spark.table(t).count() == expected, "slices must cover the corpus once")
    // the grown index can answer with candidates from BOTH slices
    val grown = searchRows(idx)
    assert(grown.exists(_._3 >= mid),
      "no second-slice candidate ever surfaced — the delta fold lost data")
    assert(grown.exists(_._3 < mid), "first-slice candidates must survive the growth")
    // growth only improves a probe's neighborhood: per (probe, rank) the
    // cosine is monotonically non-decreasing vs the half-corpus index
    val before = partial.map { case (p, r, _, c) => (p, r) -> c }.toMap
    grown.foreach { case (p, r, _, c) =>
      before.get((p, r)).foreach(c0 =>
        assert(c >= c0 - 1e-9, s"probe $p rank $r got worse: $c0 -> $c"))
    }
  }

  test("the index outlives the catalog: drop the table, search re-registers from files") {
    val idx = freshIndex()
    Ivf.ivfAppend(spark, idx, vectors())
    val first = searchRows(idx)
    spark.sql(s"DROP TABLE ${Ivf.postingState(idx).table}")
    assert(searchRows(idx) == first,
      "re-registered postings + sidecar centers must answer identically")
  }

}
