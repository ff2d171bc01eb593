package graft

import graft.operators.{Ivf, TextOps}
import graft.sources.BucketedState
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Shared once-failing task injector. A non-deterministic always-true
  * filter UDF counts rows; when armed, the first task to cross the
  * threshold throws EXACTLY once process-wide — its retry (and every
  * other task) passes. Statics are shared across executor threads in
  * local mode, which is the point: this simulates a transient task
  * failure (lost node, OOM-killed container) under
  * spark.task.maxFailures ≥ 2, not a deterministic data bug. */
object FaultInjection {
  @volatile private var armed = false
  private val seen = new java.util.concurrent.atomic.AtomicLong(0)
  private val fireAt = new java.util.concurrent.atomic.AtomicLong(Long.MaxValue)
  val tripped = new java.util.concurrent.atomic.AtomicBoolean(false)

  def arm(afterRows: Long): Unit = {
    seen.set(0); fireAt.set(afterRows); tripped.set(false); armed = true
  }
  def disarm(): Unit = armed = false

  def maybeThrow(): Boolean = {
    if (armed && seen.incrementAndGet() >= fireAt.get
        && tripped.compareAndSet(false, true))
      throw new RuntimeException(
        "graft test: injected once-failing task (first attempt)")
    true
  }

  /** The injection point as a Column: always-true, non-deterministic so
    * the optimizer can neither constant-fold it nor push it out of the
    * stage it is placed in. */
  def bomb: org.apache.spark.sql.Column =
    udf((_: Long) => maybeThrow()).asNondeterministic()(lit(0L))
}

/** r13 verdict task #2 — task-retry fault injection on the BucketedState
  * fold path: TASK-level retry, where a failed-then-retried write task
  * could in principle double-emit files into an append-only bucket. It
  * cannot,
  * and the boundary is mechanical: every append goes through
  * InsertIntoHadoopFsRelationCommand's HadoopMapReduceCommitProtocol —
  * task attempts write under the job's staging dir and only the attempt
  * that wins commitTask is moved by the job commit, so a failed first
  * attempt's partial file is dropped with its attempt context. The specs
  * below verify that boundary empirically on a raw append and three
  * state tables (substring gram index, LM model, IVF postings) — totals
  * AND committed-file-set counts unchanged vs a clean fold — with
  * a once-failing task injected under local[4, 2], in both stage shapes:
  * a WRITE-stage failure (filter above the final aggregate, so the
  * throwing task is the one holding an open parquet writer) and a
  * SHUFFLE-MAP-stage failure (filter at the scan, before the exchange).
  */
class TaskRetrySpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.001"
  private def tmp(prefix: String): String =
    java.nio.file.Files.createTempDirectory(prefix).toString
  private def docs() = Tables.documents(spark, sfDir).select("doc_id", "text")

  /** Committed data files under a state path (what a scan would read). */
  private def committedFiles(p: String): Seq[String] = {
    def rec(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids.filter(k => k.isFile && k.getName.endsWith(".parquet")
        && !k.getName.startsWith("_") && !k.getName.startsWith(".")) ++
        kids.filter(k => k.isDirectory && k.getName != "_temporary").flatMap(rec)
    }
    rec(new java.io.File(p)).map(_.getName).sorted
  }

  private def noStaging(p: String): Unit = {
    def rec(f: java.io.File): Seq[java.io.File] = {
      val kids = Option(f.listFiles()).map(_.toSeq).getOrElse(Seq.empty)
      kids ++ kids.filter(_.isDirectory).flatMap(rec)
    }
    val leftovers = rec(new java.io.File(p)).filter(f =>
      f.getName == "_temporary" || f.getName.startsWith(".spark-staging"))
    assert(leftovers.isEmpty, s"staging leftovers after job commit: $leftovers")
  }

  test("write-task retry on a raw BucketedState append: no double-emit, no stray file") {
    val sess = spark
    // a shuffle (groupBy) below the filter puts the bomb INSIDE the
    // final write stage: the failing task dies holding an open parquet
    // writer, the exact double-emit hazard
    def delta() = sess.range(0, 20000)
      .select((col("id") % 997).as("k"), col("id").as("v"))
      .groupBy("k").agg(sum("v").as("v"))
      .filter(FaultInjection.bomb)
    val ddl = "k BIGINT, v BIGINT"

    val clean = BucketedState(tmp("retry-clean") + "/state.parquet",
      "test_retry_clean_", ddl, Seq("k"), 4)
    clean.append(spark, delta())

    val faulty = BucketedState(tmp("retry-faulty") + "/state.parquet",
      "test_retry_faulty_", ddl, Seq("k"), 4)
    FaultInjection.arm(afterRows = 100) // mid-partition: rows already written
    try faulty.append(spark, delta())
    finally FaultInjection.disarm()
    assert(FaultInjection.tripped.get, "the injected failure must actually fire")

    val a = spark.table(clean.table).agg(count(lit(1)), sum("v")).head()
    val b = spark.table(faulty.table).agg(count(lit(1)), sum("v")).head()
    assert(a == b, "a retried write task must not change totals")
    assert(committedFiles(clean.path).size == committedFiles(faulty.path).size,
      "a retried write task must not add files to the bucket")
    noStaging(faulty.path)
  }

  test("substring fold: once-failing task strips and folds identically to a clean fold") {
    // the q_strip_delta lifecycle: fold the even docs' gram keys once,
    // then strip the odd docs keep-first against that index
    def even(d: DataFrame) = d.filter(col("doc_id") % 2 === 0)
    def build(idx: String, d: DataFrame): Unit =
      TextOps.substringFold(spark, idx,
        TextOps.gramKeyFrame(even(d)).groupBy("k").agg(min("doc_id").as("min_doc")))
    def stripped(idx: String) =
      TextOps.substringStrip(spark, idx, docs().filter(col("doc_id") % 2 === 1))
        .select("doc_id", "n_tokens", "n_dup_tokens", "text_clean").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getString(3))).toSeq
    val cleanIdx = tmp("retry-sub-c") + "/index.parquet"
    build(cleanIdx, docs())
    val faultyIdx = tmp("retry-sub-f") + "/index.parquet"
    FaultInjection.arm(afterRows = 50)
    try build(faultyIdx, docs().filter(FaultInjection.bomb))
    finally FaultInjection.disarm()
    assert(FaultInjection.tripped.get, "the injected failure must actually fire")

    // local keep-first reference: an odd doc's position strips iff its
    // 6-gram occurs in any even doc or in a smaller odd doc
    val all = docs().collect()
      .map(r => r.getLong(0) -> r.getString(1).split(" ", -1).toSeq).sortBy(_._1)
    def grams(toks: Seq[String]) = toks.sliding(6).filter(_.size == 6).toSeq
    val evenGrams = all.filter(_._1 % 2 == 0).flatMap(d => grams(d._2)).toSet
    val oddFirst = scala.collection.mutable.Map.empty[Seq[String], Long]
    val expect = all.filter(_._1 % 2 == 1).map { case (id, toks) =>
      val hits = grams(toks).zipWithIndex.collect {
        case (g, i) if evenGrams(g) || oddFirst.get(g).exists(_ < id) => i + 1
      }
      grams(toks).foreach(g => if (!oddFirst.contains(g)) oddFirst(g) = id)
      val covered = hits.flatMap(j => j to j + 5).toSet
      val kept = toks.zipWithIndex.collect { case (w, i) if !covered(i + 1) => w }
      (id, toks.size.toLong, (toks.size - kept.size).toLong, kept.mkString(" "))
    }.toSeq
    val clean = stripped(cleanIdx)
    assert(clean == expect && clean.exists(_._3 > 0),
      "the clean build must strip exactly the keep-first positions")
    assert(stripped(faultyIdx) == clean)
    def totals(idx: String) = {
      val t = TextOps.substringIndexState(idx).ensure(spark).get
      spark.table(t).agg(count(lit(1)), min("min_doc"), max("min_doc")).head()
    }
    assert(totals(faultyIdx) == totals(cleanIdx))
    assert(committedFiles(faultyIdx).size == committedFiles(cleanIdx).size)
    noStaging(faultyIdx)
  }

  test("lm model fold: once-failing task folds counts identical to a clean fold") {
    val cleanM = tmp("retry-lm-c") + "/model.parquet"
    TextOps.lmModelAppend(spark, cleanM, docs(), 1L)
    val faultyM = tmp("retry-lm-f") + "/model.parquet"
    FaultInjection.arm(afterRows = 50)
    try TextOps.lmModelAppend(spark, faultyM,
      docs().filter(FaultInjection.bomb), 1L)
    finally FaultInjection.disarm()
    assert(FaultInjection.tripped.get, "the injected failure must actually fire")

    def totals(m: String) = spark.table(TextOps.lmModelTable(m))
      .groupBy("tok").agg(sum("c").as("c"))
      .agg(count(lit(1)), sum("c")).head()
    assert(totals(faultyM) == totals(cleanM))
    assert(committedFiles(faultyM).size == committedFiles(cleanM).size)
    noStaging(faultyM)
  }

  test("ivf fold: once-failing task builds posting lists identical to a clean fold") {
    val vecs = Tables.embeddings(spark, sfDir).select("vec_id", "embedding")
    val cleanIdx = tmp("retry-ivf-c") + "/postings.parquet"
    Ivf.ivfAppend(spark, cleanIdx, vecs)
    val faultyIdx = tmp("retry-ivf-f") + "/postings.parquet"
    FaultInjection.arm(afterRows = 20)
    try Ivf.ivfAppend(spark, faultyIdx, vecs.filter(FaultInjection.bomb))
    finally FaultInjection.disarm()
    assert(FaultInjection.tripped.get, "the injected failure must actually fire")

    val probes = Tables.embeddings(spark, sfDir).filter(col("vec_id") < 10)
    val a = Ivf.ivfSearch(spark, cleanIdx, probes, k = 3).collect().toSeq
    val b = Ivf.ivfSearch(spark, faultyIdx, probes, k = 3).collect().toSeq
    assert(a == b && a.nonEmpty,
      "a retried task during the fold must not change search results")
    assert(committedFiles(faultyIdx).size == committedFiles(cleanIdx).size)
    noStaging(faultyIdx)
  }
}
