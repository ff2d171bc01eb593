package graft

import graft.operators.TextOps
import graft.plans.Eager._
import org.apache.spark.sql.functions._

/** TextOps.dedupIncrement — the persisted-band-index admission loop:
  * batch-grain equivalence to the oracle-checked LSH pair graph, slice
  * composability, replay rejection, and the short-doc pass-through. */
class IncrementalDedupSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"
  private def freshIndex(): String =
    java.nio.file.Files.createTempDirectory("graft-dedup-idx").toString + "/index.parquet"
  private def docs() = Tables.documents(spark, sfDir).select("doc_id", "text")

  test("one full-corpus increment rejects exactly the larger side of the LSH pair graph") {
    val admitted = TextOps.dedupIncrement(spark, freshIndex(), docs())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val all = docs().select("doc_id").collect().map(_.getLong(0)).toSet
    // rejected ≡ docs with ANY smaller-id band-mate ≡ the d2 column of
    // the oracle-checked pair listing (pairs are exactly bucket-mates)
    val d2s = TextOps.minhashLsh(spark, sfDir)
      .select("d2").collect().map(_.getLong(0)).toSet
    assert(all -- admitted == d2s)
  }

  test("a fresh one-batch increment admits exactly the oracle-checked q_dedup_admit set") {
    val incr = TextOps.dedupIncrement(spark, freshIndex(), docs())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val query = TextOps.dedupAdmissions(spark, sfDir)
      .filter(col("admitted")).select("doc_id")
      .collect().map(_.getLong(0)).toSet
    assert(incr == query)
  }

  test("doc_id-ordered slices compose: two increments ≡ one batch") {
    val ids = docs().select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val idx2 = freshIndex()
    val a1 = TextOps.dedupIncrement(spark, idx2, docs().filter(col("doc_id") < mid))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val a2 = TextOps.dedupIncrement(spark, idx2, docs().filter(col("doc_id") >= mid))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = TextOps.dedupIncrement(spark, freshIndex(), docs())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((a1 ++ a2) == batch)
  }

  test("replaying a batch admits nothing; a planted pair is caught across increments") {
    val idx = freshIndex()
    val first = TextOps.dedupIncrement(spark, idx, docs())
    assert(first.count() > 0)
    assert(TextOps.dedupIncrement(spark, idx, docs()).count() == 0,
      "every key of a replayed batch is already in the index")
    // cross-increment catch: feed a known pair's smaller side into a
    // fresh index, then its larger side alone — it must be rejected
    val pair = TextOps.minhashLsh(spark, sfDir).limit(1).collect().head
    val (d1, d2) = (pair.getLong(0), pair.getLong(1))
    val idxP = freshIndex()
    TextOps.dedupIncrement(spark, idxP, docs().filter(col("doc_id") === d1)).count()
    assert(TextOps.dedupIncrement(spark, idxP,
      docs().filter(col("doc_id") === d2)).count() == 0,
      s"planted near-dup $d2 of $d1 must be rejected by the index")
  }

  test("probe and fold co-locate: no Exchange above the bucketed index side") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    val idx = freshIndex()
    TextOps.dedupIncrement(spark, idx, docs())
    val t = TextOps.ensureIndexTable(spark, idx).get
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      // at fixture scale Catalyst would happily broadcast the index; the
      // production index is corpus-sized, so pin the shuffle-join path
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def indexSideShuffles(df: org.apache.spark.sql.DataFrame): Seq[ShuffleExchangeExec] =
        df.queryExecution.executedPlan.collect {
          case e: ShuffleExchangeExec if e.exists {
            case s: FileSourceScanExec => s.tableIdentifier.exists(_.table == t)
            case _ => false
          } => e
        }
      val keys = TextOps.batchBandKeys(docs())
      val probe = keys.join(spark.table(t).select("band", "key"),
        Seq("band", "key"), "left_semi")
      assert(indexSideShuffles(probe).isEmpty,
        s"probe semi-join shuffles the corpus-sized index side:\n${probe.queryExecution.executedPlan}")
      val fold = TextOps.batchMinOf(keys)
        .join(spark.table(t).select("band", "key"), Seq("band", "key"), "left_anti")
      assert(indexSideShuffles(fold).isEmpty,
        s"fold anti-join shuffles the corpus-sized index side:\n${fold.queryExecution.executedPlan}")
      // the delta side DOES shuffle (into the index's bucket layout)
      assert(probe.queryExecution.executedPlan.collect {
        case e: ShuffleExchangeExec => e }.nonEmpty,
        "expected the delta side to shuffle into the bucket layout")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("index data outlives the catalog: a fresh session's probe re-registers from files") {
    val ids = docs().select("doc_id").collect().map(_.getLong(0)).sorted
    val mid = ids(ids.length / 2)
    val idx = freshIndex()
    val a1 = TextOps.dedupIncrement(spark, idx, docs().filter(col("doc_id") < mid))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // simulate a NEW session: the in-memory catalog entry is gone, the
    // bucket-written files remain (external table — drop keeps data)
    spark.sql(s"DROP TABLE ${TextOps.dedupIndexTable(idx)}")
    val a2 = TextOps.dedupIncrement(spark, idx, docs().filter(col("doc_id") >= mid))
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = TextOps.dedupIncrement(spark, freshIndex(), docs())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert((a1 ++ a2) == batch,
      "re-registered index must give the same admissions as an unbroken session")
  }

  test("compaction: one file set per bucket, admissions and index content unchanged") {
    def committedFiles(p: String): Seq[java.io.File] = {
      def rec(f: java.io.File): Seq[java.io.File] = {
        val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
        kids.filter(k => k.isFile && k.getName.endsWith(".parquet")
          && !k.getName.startsWith("_") && !k.getName.startsWith(".")) ++
          kids.filter(k => k.isDirectory && k.getName != "_temporary").flatMap(rec)
      }
      rec(new java.io.File(p))
    }
    val ids = docs().select("doc_id").collect().map(_.getLong(0)).sorted
    val (t1, t2) = (ids(ids.length / 3), ids(2 * ids.length / 3))
    val idx = freshIndex()
    TextOps.dedupIncrement(spark, idx, docs().filter(col("doc_id") < t1))
    TextOps.dedupIncrement(spark, idx,
      docs().filter(col("doc_id") >= t1 && col("doc_id") < t2))
    TextOps.dedupIncrement(spark, idx, docs().filter(col("doc_id") >= t2))
    val t = TextOps.ensureIndexTable(spark, idx).get
    val keysBefore = spark.table(t).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    val before = committedFiles(idx).size
    assert(before > TextOps.DedupIndexBuckets,
      s"three appends should leave more file sets than buckets (got $before)")
    TextOps.compactDedupIndex(spark, idx)
    val after = committedFiles(idx).size
    assert(after <= TextOps.DedupIndexBuckets,
      s"compaction must leave at most one file per bucket (got $after)")
    val keysAfter = spark.table(t).collect().map(r => (r.getInt(0), r.getString(1))).toSet
    assert(keysAfter == keysBefore, "compaction must not change the key set")
    assert(TextOps.dedupIncrement(spark, idx, docs()).count() == 0,
      "a replayed corpus must still be fully rejected after compaction")
  }

  test("streaming sink: two micro-batches of slices ≡ one batch increment") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx = spark.sqlContext
    val all = docs().as[(Long, String)].collect().sortBy(_._1)
    val (s1, s2) = all.splitAt(all.length / 2)
    val idx = freshIndex()
    val base = java.nio.file.Files.createTempDirectory("graft-dedup-sink").toString
    val out = base + "/admitted"
    val input = MemoryStream[(Long, String)]
    val q = graft.streaming.StreamOps.dedupIncrementSink(
      input.toDF().toDF("doc_id", "text"), idx, out, base + "/ckpt")
    try Seq(s1, s2).foreach { s => input.addData(s.toSeq); q.processAllAvailable() }
    finally q.stop()
    val streamed = spark.read.parquet(out)
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val batch = TextOps.dedupIncrement(spark, freshIndex(), docs())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(streamed == batch,
      "doc_id-ascending micro-batches must admit exactly the one-batch set")
  }

  test("streaming sink replay: a folded batch neither loses nor re-admits documents") {
    import graft.streaming.StreamOps
    val sess = spark
    import sess.implicits._
    val idx = freshIndex()
    val base = java.nio.file.Files.createTempDirectory("graft-dedup-replay").toString
    val out = base + "/admitted"
    val batch = docs()
    StreamOps.dedupIncrementSinkBatch(batch, idx, out, 0L)
    val first = spark.read.parquet(s"$out/batch_id=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(first.nonEmpty)
    // duplicate delivery of the SAME batch id: decisions were committed
    // before the fold, so the replay must keep them verbatim — a naive
    // recompute against the post-fold index would emit the empty set
    StreamOps.dedupIncrementSinkBatch(batch, idx, out, 0L)
    val replayed = spark.read.parquet(s"$out/batch_id=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(replayed == first, "replay of a committed batch must not change its output")
    // the same docs as a NEW batch id: every key is in the index now
    StreamOps.dedupIncrementSinkBatch(batch, idx, out, 1L)
    assert(spark.read.parquet(s"$out/batch_id=1").count() == 0,
      "a later duplicate delta admits nothing")
  }

  test("streaming sink crash window: committed decisions survive, the fold still lands") {
    import graft.streaming.StreamOps
    val sess = spark
    import sess.implicits._
    val idx = freshIndex()
    val base = java.nio.file.Files.createTempDirectory("graft-dedup-crash").toString
    val out = base + "/admitted"
    // simulate "crash after output commit, before fold": the batch dir is
    // committed with decisions, but the index never saw the keys
    val batch = docs()
    // frozen as the sink does (StreamOps.dedupIncrementSinkBatch):
    // dedupRejected plans several builds over the keys
    val keys = TextOps.batchBandKeys(batch).eagerly
    val rejected = TextOps.dedupRejected(spark, idx, keys, TextOps.batchMinOf(keys))
    batch.join(rejected, Seq("doc_id"), "left_anti")
      .write.mode("overwrite").parquet(s"$out/batch_id=0")
    keys.release()
    val committed = spark.read.parquet(s"$out/batch_id=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    // replay the batch: it must keep the committed output and fold the keys
    StreamOps.dedupIncrementSinkBatch(batch, idx, out, 0L)
    val after = spark.read.parquet(s"$out/batch_id=0")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(after == committed, "replay must not rewrite a committed decision set")
    assert(TextOps.dedupIncrement(spark, idx, batch).count() == 0,
      "the replayed fold must have landed every key in the index")
  }

  /** Mid-fold kill on the composition HEAD (the lm twin lives in
    * IncrementalLmSpec): the dedup sink's exactly-once relies on
    * decision-commit-then-fold, and a kill can land in EITHER phase —
    * before the batch dir's _SUCCESS (replay recomputes the identical
    * decisions against the untouched index) or between the commit and
    * the fold's end (replay keeps the dir verbatim, re-runs the
    * idempotent novel-keys-only fold). Both arms must end at the
    * one-shot admissions and index. */
  test("the dedup sink killed MID-BATCH converges after restart") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val sess = spark
    import sess.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val all = docs().as[(Long, String)].collect().sortBy(_._1)
    val (s1, s2) = all.splitAt(all.length / 2)
    val idx = freshIndex()
    val base = java.nio.file.Files.createTempDirectory("graft-dedup-midkill").toString
    val out = base + "/admitted"
    val input = MemoryStream[(Long, String)]
    def start() = graft.streaming.StreamOps.dedupIncrementSink(
      input.toDF().toDF("doc_id", "text").filter(FoldGate.gate),
      idx, out, base + "/ckpt")
    var q = start()
    try {
      input.addData(s1.toSeq); q.processAllAvailable() // batch 0 clean
      FoldGate.arm()
      input.addData(s2.toSeq)
      assert(FoldGate.entered.await(60, java.util.concurrent.TimeUnit.SECONDS),
        "the batch must be in flight before the kill")
      q.stop()
    } finally {
      FoldGate.disarm()
      if (q.isActive) q.stop()
    }
    q = start()
    try q.processAllAvailable() finally q.stop()
    val admitted = spark.read.parquet(out + "/batch_id=*")
      .select("doc_id").collect().map(_.getLong(0)).toSet
    val oneShot = TextOps.dedupIncrement(spark, freshIndex(), docs())
      .select("doc_id").collect().map(_.getLong(0)).toSet
    assert(admitted == oneShot,
      "a mid-batch kill must not lose or re-admit documents")
    // and the index absorbed everything: a full replay admits nothing
    assert(TextOps.dedupIncrement(spark, idx, docs()).count() == 0)
  }

  test("docs too short to shingle carry no keys and always pass") {
    val sess = spark
    import sess.implicits._
    val shorts = Seq((900001L, "solitary"), (900002L, "solitary"))
      .toDF("doc_id", "text")
    val idx = freshIndex()
    assert(TextOps.dedupIncrement(spark, idx, shorts).count() == 2)
    // no keys were stored either — replay still passes (documented:
    // band-grain dedup cannot see sub-shingle documents)
    assert(TextOps.dedupIncrement(spark, idx, shorts).count() == 2)
  }
}
