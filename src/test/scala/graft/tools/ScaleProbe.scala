package graft.tools

import graft.operators.TextOps
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** One-off empirical probe for the persisted indexes' 100 TB claim
  * (r13 verdict task #6): the PLAN-shape argument (no Exchange on the
  * index side, delta-only shuffles) predicts probe cost grows with DELTA
  * size and stays flat in INDEX size. This measures it: build the
  * unigram model, the semdedup vector index and the IVF postings at 1×
  * and 10× corpus scale from seed-stamped synthetic tables, then time
  * the same fixed deltas against both — the probe legs (lmScoreDelta,
  * ivfSearch) and the fold legs (lmModelAppend, semDedupIncrement,
  * ivfAppend), plus the graph loops' per-iteration shuffle. Results
  * land in PLANS.md as a table.
  *
  * Run: sbt "Test/runMain graft.tools.ScaleProbe [nBase] [reps]"
  * (defaults 5000 docs ≈ the sf0.1 documents row count, 3 reps).
  * Timings are medians of `reps` runs; each rep uses fresh delta ids
  * (the fold legs grow their state by a few deltas over the run — still
  * ≪ the 10× index gap probed).
  */
object ScaleProbe {

  /** Deterministic synthetic docs: ~100 tokens each, vocabulary scaled
    * with the corpus so model/index row counts actually grow 10×. */
  def synthDocs(spark: SparkSession, n: Long, idOffset: Long, seed: Long,
                vocab: Int): DataFrame =
    spark.range(n).select(
      (col("id") + idOffset).as("doc_id"),
      array_join(transform(sequence(lit(0), lit(99)),
        i => concat(lit("t"),
          pmod(hash(col("id") + idOffset, i, lit(seed)), lit(vocab)))), " ")
        .as("text"))

  /** Deterministic synthetic embeddings: 64-dim float arrays from the
    * same hash stamp (values in [−0.5, 0.5); no zero-norm rows at any
    * realistic n). */
  def synthVecs(spark: SparkSession, n: Long, idOffset: Long, seed: Long): DataFrame =
    spark.range(n).select(
      (col("id") + idOffset).as("vec_id"),
      transform(sequence(lit(0), lit(63)),
        i => (pmod(hash(col("id") + idOffset, i, lit(seed)), lit(1000))
          .cast("double") / 1000.0 - 0.5).cast("float")).as("embedding"))

  /** Cumulative shuffle-WRITE bytes across all completed stages — the
    * empirical face of the "no Exchange above the index side" plan pin:
    * a probe whose shuffle volume is flat in index size moves only the
    * delta (and its k-bounded results), never the stored corpus. */
  private final class ShuffleMeter extends org.apache.spark.scheduler.SparkListener {
    val bytes = new java.util.concurrent.atomic.AtomicLong(0L)
    override def onStageCompleted(
        sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit =
      bytes.addAndGet(sc.stageInfo.taskMetrics.shuffleWriteMetrics.bytesWritten)
  }

  private def time[A](f: => A): Double = {
    val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
  }
  private def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)

  def main(args: Array[String]): Unit = {
    val nBase = args.lift(0).map(_.toLong).getOrElse(5000L)
    val reps = args.lift(1).map(_.toInt).getOrElse(3)
    // optional 4th arg: shuffle compression codec (r16 verdict task #7
    // — the zstd evaluation wants shuffle-BYTES evidence, and the
    // meter below reads post-compression bytesWritten, so two probe
    // runs lz4-vs-zstd give both the ratio and the wall cost)
    val codec = args.lift(3).getOrElse("lz4")
    val spark = SparkSession.builder()
      .master("local[32]")
      .config("spark.io.compression.codec", codec)
      .config("spark.sql.shuffle.partitions", "32")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      // graph legs (r16 verdict task #6): a low rows-per-partition
      // target makes the probe-scale edge layouts wide (tens of
      // partitions, the shape a 100 TB run takes) instead of the
      // fixture-scale minimum. Only the graph loops read this conf.
      .config("spark.graft.layoutRowsPerPartition", "2000")
      .config("spark.sql.warehouse.dir",
        java.nio.file.Files.createTempDirectory("scaleprobe-wh").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val seed = 20260816L

    def base(tag: String) =
      java.nio.file.Files.createTempDirectory(s"scaleprobe-$tag").toString

    // two corpora: 1× and 10×, disjoint id ranges, vocab scaled with size
    val corpora = Seq(
      ("1x", nBase, (nBase / 10).toInt max 1000),
      ("10x", nBase * 10, nBase.toInt max 1000))

    // fixed deltas, ids far above both corpora, 1× vocab (identical
    // content probed against both indexes)
    val deltaIds = new java.util.concurrent.atomic.AtomicLong(100_000_000L)
    def freshDelta(rows: Long): DataFrame =
      synthDocs(spark, rows, deltaIds.getAndAdd(rows), seed + 7,
        (nBase / 10).toInt max 1000).localCheckpoint(true)
    def freshVecDelta(rows: Long): DataFrame =
      synthVecs(spark, rows, deltaIds.getAndAdd(rows), seed + 7)
        .localCheckpoint(true)

    val meter = new ShuffleMeter
    spark.sparkContext.addSparkListener(meter)
    // (wall seconds, shuffle-write MB) of one run; the short sleep lets
    // the async listener bus drain before the bytes are read
    def measure(run: => Unit): (Double, Double) = {
      Thread.sleep(300); val b0 = meter.bytes.get()
      val s = time(run)
      Thread.sleep(300)
      (s, (meter.bytes.get() - b0) / 1e6)
    }

    case class Cell(leg: String, index: String, deltaRows: Long,
                    secs: Double, shufMb: Double)
    val cells = Seq.newBuilder[Cell]
    def medianCell(leg: String, tag: String, deltaRows: Long,
                   mkDelta: Long => DataFrame)(run: DataFrame => Unit): Cell = {
      val ms = (1 to reps).map { _ =>
        val d = mkDelta(deltaRows)
        val m = measure(run(d))
        spark.catalog.clearCache()
        m
      }
      Cell(leg, tag, deltaRows, median(ms.map(_._1)), median(ms.map(_._2)))
    }

    for ((tag, n, vocab) <- corpora) {
      val corpus = synthDocs(spark, n, 0L, seed, vocab)
      val modelPath = base(s"lm-$tag") + "/model.parquet"
      println(s"[probe] building $tag state ($n docs, vocab $vocab)…")
      val tBuild = time(TextOps.lmModelAppend(spark, modelPath, corpus, 1L))
      println(f"[probe] $tag state built in $tBuild%.1f s")
      var lmBatch = 1L
      for (deltaRows <- Seq(500L, 2500L)) {
        cells += medianCell("lmScoreDelta", tag, deltaRows, freshDelta) {
          d => TextOps.lmScoreDelta(spark, modelPath, d).count() }
        // keep the model's fold leg honest too: one timed fold per size
        lmBatch += 1
        cells += {
          val d = freshDelta(deltaRows)
          val (s, mb) = measure(TextOps.lmModelAppend(spark, modelPath, d, lmBatch))
          Cell("lmModelAppend", tag, deltaRows, s, mb)
        }
      }
    }

    // ---- the two vector legs (r15 verdict task #4): semDedupIncrement
    // and ivfAppend/ivfSearch. Vector corpora are sized separately
    // (nVecBase, 10×): the semdedup one-shot build pays a per-cluster
    // quadratic, so the build stays probe-affordable while the INDEX
    // still grows a full 10×. Expectation: SHUFFLE flat in index size
    // (no Exchange above the bucketed index side — only the delta and
    // k-bounded results move); WALL grows with the probed-candidate
    // volume at FIXED cluster/list count, which is the documented
    // fixed-k trade (production grows K with the corpus: SemDeDup's
    // k≈10⁵ clusters, IVF's K-grows-with-corpus knob — cell sizes, and
    // with them per-delta compare volume, stay constant).
    import graft.operators.{Ivf, VectorOps}
    val nVecBase = args.lift(2).map(_.toLong).getOrElse(1500L)
    for ((tag, n) <- Seq(("1x", nVecBase), ("10x", nVecBase * 10))) {
      val vecs = synthVecs(spark, n, 0L, seed)
      val semIdx = base(s"semdedup-$tag") + "/index.parquet"
      val ivfIdx = base(s"ivf-$tag") + "/index.parquet"
      println(s"[probe] building $tag vector state ($n vectors)…")
      val tBuild = time {
        VectorOps.semDedupIncrement(spark, semIdx, vecs).count()
        Ivf.ivfAppend(spark, ivfIdx, vecs)
      }
      println(f"[probe] $tag vector state built in $tBuild%.1f s")
      for (deltaRows <- Seq(500L, 2500L)) {
        cells += medianCell("ivfSearch", tag, deltaRows, freshVecDelta) {
          d => Ivf.ivfSearch(spark, ivfIdx, d, k = 3).count() }
        // fold legs, one timed fold per size (state grows by the folded
        // deltas — still ≪ the 10× index gap probed)
        cells += {
          val d = freshVecDelta(deltaRows)
          val (s, mb) = measure(VectorOps.semDedupIncrement(spark, semIdx, d).count())
          Cell("semDedupIncrement", tag, deltaRows, s, mb)
        }
        cells += {
          val d = freshVecDelta(deltaRows)
          val (s, mb) = measure(Ivf.ivfAppend(spark, ivfIdx, d))
          Cell("ivfAppend", tag, deltaRows, s, mb)
        }
      }
    }

    // ---- graph-loop legs (r16 verdict task #6): the r16 pinned edge
    // layouts (pageRankOnGraph / connectedComponentsWithRounds) claim
    // zero per-iteration shuffle on the EDGE side — metered here, not
    // just plan-asserted. Synthetic graph: n nodes in chains of length
    // L; the undirected pair list is REPLICATED `rep` times (duplicate
    // edges change neither labels, rounds, nor the node-sized
    // per-iteration frames — only the edge side scales 10×).
    //  - pageRank takes an explicit iteration count: per-iteration
    //    shuffle = (bytes(10 iters) − bytes(5 iters)) / 5. Pinned: flat
    //    in edge replication (contribution partials are
    //    distinct-dst-bounded). Broken (the r16 localCheckpoint
    //    defect): each extra iteration re-exchanges the edge list →
    //    the delta scales ~10×.
    //  - CC's rounds are data-driven, so the per-round delta comes from
    //    two chain lengths at the same node count: (bytes(L=64) −
    //    bytes(L=4)) / (rounds₆₄ − rounds₄). Same discrimination.
    val nG = 20000L
    def chainPairs(l: Long, rep: Int): DataFrame =
      spark.range(nG - 1).filter(pmod(col("id"), lit(l)) =!= lit(l - 1))
        .select(col("id").as("d1"), (col("id") + 1).as("d2"))
        .withColumn("_r", explode(sequence(lit(1), lit(rep))))
        .drop("_r")
        .localCheckpoint(true)
    val gNodes = spark.range(nG).select(col("id").as("doc_id"))
      .localCheckpoint(true)
    case class GCell(leg: String, index: String, perUnitMb: Double,
                     units: Int, totalMb: Double)
    val gcells = Seq.newBuilder[GCell]
    for ((tag, rep) <- Seq(("1x", 1), ("10x", 10))) {
      val pairs = chainPairs(16L, rep)
      val (_, b5) = measure(
        TextOps.pageRankOnGraph(gNodes, pairs, iterations = 5)
          .write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      val (_, b10) = measure(
        TextOps.pageRankOnGraph(gNodes, pairs, iterations = 10)
          .write.format("noop").mode("overwrite").save())
      spark.catalog.clearCache()
      gcells += GCell("pageRank/iter", tag, (b10 - b5) / 5.0, 5, b10)
      var r4 = 0; var r64 = 0
      val (_, bL4) = measure {
        val (lab, r) = TextOps.connectedComponentsWithRounds(
          gNodes, chainPairs(4L, rep))
        lab.write.format("noop").mode("overwrite").save(); r4 = r
      }
      spark.catalog.clearCache()
      val (_, bL64) = measure {
        val (lab, r) = TextOps.connectedComponentsWithRounds(
          gNodes, chainPairs(64L, rep))
        lab.write.format("noop").mode("overwrite").save(); r64 = r
      }
      spark.catalog.clearCache()
      gcells += GCell("cc/round", tag,
        (bL64 - bL4) / math.max(1, r64 - r4), r64 - r4, bL64)
    }

    val all = cells.result()
    val gAll = gcells.result()
    println("\n| graph leg | per-unit 1x (MB) | per-unit 10x (MB) | per-unit 10x/1x | extra units | total 10x (MB) |")
    println("|---|---|---|---|---|---|")
    for (leg <- gAll.map(_.leg).distinct) {
      val a = gAll.find(c => c.leg == leg && c.index == "1x").get
      val b = gAll.find(c => c.leg == leg && c.index == "10x").get
      println(f"| $leg | ${a.perUnitMb}%.2f | ${b.perUnitMb}%.2f " +
        f"| ${if (a.perUnitMb > 0) b.perUnitMb / a.perUnitMb else -1.0}%.2f " +
        f"| ${b.units} | ${b.totalMb}%.2f |")
    }
    println("\n| leg | delta rows | 1x (s) | 10x (s) | wall 10x/1x | 1x shuffle (MB) | 10x shuffle (MB) | shuffle 10x/1x |")
    println("|---|---|---|---|---|---|---|---|")
    for (leg <- all.map(_.leg).distinct; dr <- all.map(_.deltaRows).distinct.sorted) {
      val a = all.find(c => c.leg == leg && c.index == "1x" && c.deltaRows == dr).get
      val b = all.find(c => c.leg == leg && c.index == "10x" && c.deltaRows == dr).get
      println(f"| $leg | $dr | ${a.secs}%.2f | ${b.secs}%.2f | ${b.secs / a.secs}%.2f " +
        f"| ${a.shufMb}%.2f | ${b.shufMb}%.2f | ${if (a.shufMb > 0) b.shufMb / a.shufMb else -1.0}%.2f |")
    }
    spark.stop()
  }
}
