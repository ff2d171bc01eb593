package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** TextOps.lmModelAppend / lmScoreDelta — the persisted unigram corpus
  * model behind the daily scoring loop: slice-exact model folds,
  * bit-equality with the oracle-checked q_lm_score when the model holds
  * the scored corpus, frozen-model OOV semantics, monotone-batch replay
  * rejection, the single-writer guards, loud failure on an absent or
  * empty model, and the exchange-free scoring plan. */
class IncrementalLmSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private def freshModel(): String =
    java.nio.file.Files.createTempDirectory("graft-lm-model").toString + "/model.parquet"
  private def docs() = Tables.documents(spark, sfDir).select("doc_id", "text")

  private def totals(modelPath: String): Map[String, Long] = {
    val t = TextOps.lmModelTable(modelPath)
    spark.table(t).groupBy("tok").agg(sum("c").as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  test("model folded in slices ≡ the one-shot corpus counts, exactly") {
    val ids = docs().select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val m = freshModel()
    TextOps.lmModelAppend(spark, m, docs().filter(col("doc_id") < mid), 0L)
    TextOps.lmModelAppend(spark, m, docs().filter(col("doc_id") >= mid), 1L)
    val direct = docs()
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(totals(m) == direct)
  }

  test("scoring under the full model ≡ q_lm_score, bit for bit") {
    val m = freshModel()
    TextOps.lmModelAppend(spark, m, docs(), 0L)
    val delta = TextOps.lmScoreDelta(spark, m, docs()).collect()
    val oracleQ = TextOps.lmScore(spark, sfDir).collect()
    assert(delta.length == oracleQ.length && delta.length > 0)
    delta.zip(oracleQ).foreach { case (a, b) =>
      assert(a.getLong(0) == b.getLong(0) && a.getLong(1) == b.getLong(1))
      assert(java.lang.Double.doubleToRawLongBits(a.getDouble(2)) ==
        java.lang.Double.doubleToRawLongBits(b.getDouble(2)),
        s"lm_score bit mismatch for doc ${a.getLong(0)}: $a vs $b")
    }
  }

  test("frozen-model OOV: unseen tokens take the add-1 path with c = 0") {
    import spark.implicits._
    val m = freshModel()
    TextOps.lmModelAppend(spark, m,
      Seq((1L, "alpha beta alpha")).toDF("doc_id", "text"), 0L)
    // model: alpha=2, beta=1 → n=3, v=2; score a doc with OOV "gamma"
    val row = TextOps.lmScoreDelta(spark, m,
      Seq((9L, "alpha gamma")).toDF("doc_id", "text")).head()
    val n = 3.0 + 2.0
    val expected = BigDecimal(
      -(StrictMath.log((2 + 1) / n) + StrictMath.log((0 + 1) / n)) / 2.0)
      .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(row.getLong(1) == 2L)
    assert(math.abs(row.getDouble(2) - expected) < 1e-12,
      s"got ${row.getDouble(2)}, expected $expected")
  }

  test("replay skips silently; batch-id REGRESSION fails loudly (r12 advice)") {
    val m = freshModel()
    TextOps.lmModelAppend(spark, m, docs(), 3L)
    val before = totals(m)
    TextOps.lmModelAppend(spark, m, docs(), 3L) // replay of the last batch
    assert(totals(m) == before, "replayed batch must not double-count")
    // id < max is not a replay — it is a restarted stream with a
    // new/deleted checkpoint (ids back at 0) or a rewound day counter;
    // silently no-opping it (the pre-r13 shape) is data loss with no
    // error, so it must throw and name the cause
    val ex = intercept[IllegalStateException] {
      TextOps.lmModelAppend(spark, m, docs(), 1L)
    }
    assert(ex.getMessage.contains("regression"), ex.getMessage)
    assert(totals(m) == before, "a refused fold must not touch the model")
    TextOps.lmModelAppend(spark, m,
      docs().limit(0), 4L) // empty later batch is fine (appends no rows)
    assert(totals(m) == before)
  }

  test("a LIVE concurrent writer on the same modelPath is detected loudly") {
    val m = freshModel()
    TextOps.lmModelAppend(spark, m, docs(), 1L)
    val before = totals(m)
    val marker = new java.io.File(m + ".writer_inflight")
    // simulate another live process mid-append: a marker holding a pid
    // that is alive and not ours (pid 1 — the container init)
    java.nio.file.Files.write(marker.toPath, "1".getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] {
      TextOps.lmModelAppend(spark, m, docs(), 2L)
    }
    assert(ex.getMessage.contains("concurrent writer"), ex.getMessage)
    assert(totals(m) == before, "a refused fold must not touch the model")
    // a STALE marker (dead pid — a crashed writer) is reclaimed, not fatal
    java.nio.file.Files.write(marker.toPath, "999999999".getBytes("UTF-8"))
    TextOps.lmModelAppend(spark, m, docs(), 2L)
    assert(totals(m) != before, "a stale marker must not block folds")
    assert(!marker.exists(), "the marker must be released after the fold")
    // a GARBAGE marker (content parses to no pid) is by construction a
    // leftover, never mid-create (creates are atomic-with-content):
    // reclaimed like a dead pid rather than wedging the path (r13 advice)
    val mid = totals(m)
    java.nio.file.Files.write(marker.toPath, "not-a-pid".getBytes("UTF-8"))
    TextOps.lmModelAppend(spark, m, docs(), 3L)
    assert(totals(m) != mid, "a garbage marker must not block folds")
    assert(!marker.exists(), "the marker must be released after the fold")
    // no reclaim tombstones may leak next to the marker
    val leftovers = Option(marker.getParentFile.listFiles()).getOrElse(Array())
      .filter(_.getName.contains(".writer_inflight.reclaim."))
    assert(leftovers.isEmpty, s"leaked tombstones: ${leftovers.mkString(",")}")
  }

  test("a displaced writer claim aborts before the fold instead of folding unprotected") {
    // r15 advice: a pathological reclaim race can rename a live
    // holder's marker away; the holder re-verifies ownership right
    // before each mutation and must abort loudly on any displacement
    val m = freshModel()
    val marker = new java.io.File(m + ".writer_inflight")
    marker.getParentFile.mkdirs()
    // our own claim verifies silently
    java.nio.file.Files.write(marker.toPath,
      ProcessHandle.current().pid().toString.getBytes("UTF-8"))
    TextOps.verifyWriterMarker(marker)
    // a FOREIGN pid in the marker = a new claimant displaced us
    java.nio.file.Files.write(marker.toPath, "1".getBytes("UTF-8"))
    val ex = intercept[IllegalStateException] { TextOps.verifyWriterMarker(marker) }
    assert(ex.getMessage.contains("displaced"), ex.getMessage)
    // an ABSENT marker (renamed away, no new claimant yet) also aborts
    marker.delete()
    val ex2 = intercept[IllegalStateException] { TextOps.verifyWriterMarker(marker) }
    assert(ex2.getMessage.contains("displaced"), ex2.getMessage)
  }

  test("scoring under an empty or absent model fails loudly") {
    import spark.implicits._
    val delta = Seq((1L, "a")).toDF("doc_id", "text")
    intercept[IllegalStateException] {
      TextOps.lmScoreDelta(spark, freshModel(), delta).count()
    }
    // a model folded from an empty batch holds no rows: n = null would
    // poison every term into an all-null score column
    val empty = freshModel()
    TextOps.lmModelAppend(spark, empty, docs().limit(0), 1L)
    val e = intercept[IllegalArgumentException] {
      TextOps.lmScoreDelta(spark, empty, delta).count()
    }
    assert(e.getMessage.contains("empty"), e.getMessage)
  }

  test("scoring plan: no Exchange above the bucketed model side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val m = freshModel()
    TextOps.lmModelAppend(spark, m, docs(), 0L)
    val t = TextOps.lmModelTable(m)
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // at fixture scale Catalyst would broadcast the model; production
      // models are vocabulary-sized — pin the shuffle-join path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val scored = TextOps.lmScoreDelta(spark, m, docs())
      val plan = scored.queryExecution.executedPlan
      def scansModel(p: org.apache.spark.sql.execution.SparkPlan): Boolean = p.exists {
        case s: FileSourceScanExec => s.tableIdentifier.exists(_.table == t)
        case _ => false
      }
      // the tf⋈cf join's MODEL-side child must plan no Exchange between
      // the bucketed scan, its per-token aggregate, and the join — only
      // the delta side and the post-join doc_id regroup may shuffle
      // (delta-grain), and the one-row (n, v) scalar subtree is exempt
      val joins = plan.collect {
        case j: org.apache.spark.sql.execution.joins.SortMergeJoinExec
          if scansModel(j.right) || scansModel(j.left) => j
      }
      assert(joins.nonEmpty, s"expected a sort-merge scoring join:\n$plan")
      joins.foreach { j =>
        val modelSide = if (scansModel(j.right)) j.right else j.left
        assert(modelSide.collect { case e: ShuffleExchangeExec => e }.isEmpty,
          s"scoring shuffles the model side of the join:\n$modelSide")
      }
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
