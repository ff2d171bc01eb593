package graft.operators

import graft.Tables
import graft.functions.CosineSimilarity.cosineSim
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E-SIM, IVF variant (mandate: "an IVF or LSH-bucketed variant as the
  * scale path" — LSH lives in VectorOps; this is the inverted-file
  * sibling): a k-means coarse quantizer partitions vectors into k lists,
  * probes search only the nProbe nearest lists.
  *
  * Scale shape: training the quantizer is the standard driver-coordinated
  * step (centroids are tiny and broadcast); assignment is one broadcast
  * argmin projection; the probe phase is a centroid ranking over
  * k×probes rows followed by an equi-join on the list id — so, like
  * the LSH path, candidates meet through an equi-join and the all-pairs
  * product never materializes.
  *
  * The quantizer is [[detCenters]]: seeded Lloyd with every step
  * oracle-expressible — init from the K smallest vec_ids, a fixed number
  * of iterations whose cluster means are EXACT-INTEGER sums (each
  * dimension scaled to a BIGINT before summing; integer addition is
  * associative, so the mean is independent of partitioning AND
  * reproducible bit-for-bit by the DuckDB oracle, unlike any
  * floating-point SUM). q_ivf_topk / q_ivf_delta ride it and are
  * hash-checked end to end; IvfSpec pins recall against the brute-force
  * truth at a bounded scan fraction.
  *
  * The quantizer trains and probes on L2-NORMALIZED vectors: the search
  * metric is cosine, and euclidean cells over raw magnitudes split
  * equal-direction vectors across cells — cosine neighbors land outside
  * the probed lists and are unreachable at any NProbe. On the unit
  * sphere, squared euclidean is 2(1−cos): the quantizer's own metric IS
  * the search metric.
  */
object Ivf {

  /** K lists, NProbe probed: the scan fraction is NProbe/K (unchanged at
    * 1/8 from r8) but the r9 move to a FINER quantizer (16→32 cells,
    * probing 4) raises recall at the same scan budget — smaller cells
    * put more of each probe's true neighborhood inside its nearest
    * cells. The knob hierarchy at 100 TB: grow K with the corpus
    * (cells stay constant-sized), tune NProbe to the recall target. */
  val K = 32
  val NProbe = 4

  // ---- Deterministic quantizer (r15 verdict task #3) ----

  /** Lloyd iterations of the deterministic quantizer — fixed, part of
    * the operator's definition (and of its SQL twin, which unrolls one
    * CTE block per step). */
  private[graft] val DetSteps = 2

  /** Fixed-point scale of the exact-integer cluster means: each
    * normalized dimension becomes round(x·1e6) as a BIGINT before the
    * per-cluster SUM. 1e6 keeps |sum| far under 2⁵³ at any realistic
    * training-sample size (|x| ≤ 1 after L2 normalization), so the sum
    * is exact, order-independent, and converts back to DOUBLE
    * losslessly — the whole reason the Lloyd means are reproducible
    * across engines and partitionings. */
  private[graft] val MeanScale = 1e6

  /** The deterministic coarse quantizer: (list, center) over the
    * L2-normalized training vectors. Init = the K smallest vec_ids'
    * normalized embeddings (list ids 0..K-1 in vec_id order — the
    * seedAssign discipline at quantizer grain); each of [[DetSteps]]
    * Lloyd iterations assigns every vector to its nearest center
    * (sq_dist argmin, ties to the lowest list — a map-side min-struct
    * aggregate, no window shuffle) and recomputes each center as the
    * exact-integer mean of its members; a cluster that loses all
    * members keeps its previous center (the SQL twin's LEFT JOIN arm).
    *
    * Driver-coordinated like any k-means trainer: per iteration one
    * K×64-row sum frame is collected (a few KB at any corpus scale —
    * the TRAINING SAMPLE is driver-manageable by the same argument
    * MLlib's fit makes; at 100 TB the quantizer trains on a sample and
    * assignment streams the corpus, exactly as here). */
  private[graft] def detCenters(spark: SparkSession, vectors: DataFrame): Seq[(Int, Array[Double])] = {
    // eager: the normalized frame feeds every Lloyd iteration, and its
    // materialization job counts it — one materialization, not
    // DetSteps+1 recomputes (and no lazy-persist fan-out for
    // BroadcastRaceGuard to reject)
    val (emb, n) = graft.plans.Eager.materialize(
      Pq.normalized(vectors).select(col("vec_id"), col("nemb").as("v")))
    require(n >= K,
      s"IVF quantizer needs at least K=$K training vectors, got $n")
    detLloyd(spark, emb, K)
  }

  /** The deterministic Lloyd core over a (vec_id, v ARRAY<DOUBLE>)
    * frame: seeds = the k smallest vec_ids' vectors, [[DetSteps]]
    * iterations of sq_dist argmin + exact-integer means. Shared by the
    * IVF coarse quantizer (64-dim, K=32) and the PQ sub-quantizers
    * (8-dim slices, K=16 each) — ONE arithmetic definition, so the two
    * families cannot drift apart, and both stay oracle-expressible. */
  private[graft] def detLloyd(spark: SparkSession, frame: DataFrame,
                              k: Int): IndexedSeq[(Int, Array[Double])] = {
    import spark.implicits._
    import graft.functions.SqDistance.sqDist
    var centers: IndexedSeq[(Int, Array[Double])] =
      frame.orderBy("vec_id").limit(k).collect()
        .map(_.getSeq[Double](1).toArray)
        .zipWithIndex.map { case (c, i) => (i, c) }.toIndexedSeq
    for (_ <- 1 to DetSteps) {
      val cdf = centers.map { case (i, c) => (i, c.toSeq) }.toDF("list", "center")
      val sums = frame.crossJoin(broadcast(cdf))
        .withColumn("dist2", sqDist(col("v"), col("center")))
        .groupBy("vec_id")
        .agg(min(struct(col("dist2"), col("list"), col("v"))).as("m"))
        .select(col("m.list").as("list"), posexplode(col("m.v")))
        .groupBy("list", "pos")
        .agg(sum(round(col("col") * MeanScale).cast("long")).as("s"),
          count(lit(1)).as("cnt"))
        .collect()
      val byList = sums.groupBy(_.getInt(0))
      centers = centers.map { case (li, old) =>
        byList.get(li) match {
          case Some(rows) =>
            val cnt = rows.head.getLong(3)
            val arr = new Array[Double](old.length)
            rows.foreach(r => arr(r.getInt(1)) = r.getLong(2).toDouble / (MeanScale * cnt))
            (li, arr)
          case None => (li, old) // empty cluster keeps its center
        }
      }
    }
    centers
  }

  /** Deterministic centers, built once per fixture dir and rebuilt when
    * the corpus changes: an IVF index is built offline and amortized
    * over every query that probes it. */
  private[graft] val centersByDir = new Tables.FixtureCache[Seq[(Int, Array[Double])]]("embeddings")

  /** The probe-ranking step: rank the centers per probe by squared
    * euclidean distance in the NORMALIZED space (the quantizer's own
    * metric ≡ cosine on the unit sphere) and keep the NProbe nearest
    * lists, ties to the lowest list id. `probes` carries (probe_id,
    * p_nemb, ...); every probe column survives, plus `list`. */
  private def nearestLists(probes: DataFrame, centers: DataFrame): DataFrame = {
    val wc = Window.partitionBy("probe_id").orderBy(col("dist"), col("list"))
    probes.crossJoin(broadcast(centers))
      .withColumn("dist", graft.functions.SqDistance.sqDist(col("p_nemb"), col("center")))
      .withColumn("crank", row_number().over(wc))
      .filter(col("crank") <= NProbe)
  }

  /** The search phase: [[nearestLists]] per probe, then score candidates
    * from those lists only (equi-join on the list id). Exact scoring
    * stays on the raw vectors — cosine is scale-invariant. */
  private def searchLists(assigned: DataFrame, centersDf: DataFrame,
                          k: Int = 3): DataFrame = {
    val probes = assigned.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nemb").as("p_nemb"))
    val probeLists = nearestLists(probes, centersDf)
      .select(col("probe_id"), col("p_emb"), col("list"))
    // candidate ranking through the BOUNDED TopKAggregator, not a
    // row_number window (r16, the ScaleProbe finding): the candidate
    // frame is probes × probed-list-size — it GROWS with the index at
    // fixed K — and a window shuffles all of it to rank per probe,
    // while the aggregator's map-side partial merge ships only k rows
    // per probe per partition. Ordering (cos desc, cand_id asc) is the
    // aggregator's own (score desc, id asc) — identical rows out.
    val topk = udaf(graft.functions.TopKAggregator(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    assigned.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"), col("list"))
      .join(broadcast(probeLists), Seq("list"))
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("cos", cosineSim(col("p_emb"), col("c_emb")))
      .groupBy("probe_id")
      .agg(topk(col("cos"), col("cand_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"), round(col("col.score"), 4).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  /** q_ivf_topk: top-3 cosine neighbors per probe (vec_id < 20),
    * searching only the NProbe nearest inverted lists of the
    * DETERMINISTIC quantizer — hash-checked against the DuckDB twin
    * (every step of [[detCenters]] and of the search is
    * oracle-expressible; r15 verdict task #3). */
  def ivfTopK(spark: SparkSession, dir: String): DataFrame = {
    val (assigned, centersDf) = detAssigned(spark, dir)
    searchLists(assigned, centersDf)
  }

  /** Deterministic-quantizer assignment of the whole fixture corpus:
    * (vec_id, list, nemb, embedding) plus the centers frame. */
  private def detAssigned(spark: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import spark.implicits._
    import graft.functions.SqDistance.sqDist
    val centersDf = centersByDir(dir)(detCenters(spark, Tables.embeddings(spark, dir)))
      .map { case (i, c) => (i, c.toSeq) }.toDF("list", "center")
    val assigned = Pq.normalized(Tables.embeddings(spark, dir))
      .crossJoin(broadcast(centersDf))
      .withColumn("dist2", sqDist(col("nemb"), col("center")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("list"), col("nemb"), col("embedding"))).as("m"))
      .select(col("vec_id"), col("m.list").as("list"),
        col("m.nemb").as("nemb"), col("m.embedding").as("embedding"))
    (assigned, centersDf)
  }

  /** Test hook: corpus members per list under the deterministic
    * quantizer — the scan-bound pin's denominator. */
  private[graft] def detListSizes(spark: SparkSession, dir: String): Map[Int, Long] =
    detAssigned(spark, dir)._1.groupBy("list").count()
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap

  /** Test hook: the (probe_id, list) pairs the search scans, through
    * the same [[nearestLists]] step [[searchLists]] runs. */
  private[graft] def probedLists(spark: SparkSession, dir: String): Seq[(Long, Int)] = {
    val (assigned, centersDf) = detAssigned(spark, dir)
    val probes = assigned.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("nemb").as("p_nemb"))
    nearestLists(probes, centersDf).select("probe_id", "list")
      .collect().map(r => (r.getLong(0), r.getInt(1))).toSeq
  }

  // ---- Persisted index (r12) ----
  //
  // Refitting + reassigning a 100 TB embedding corpus per search
  // re-shuffles the corpus. The persisted index is therefore a
  // [[graft.sources.BucketedState]] posting table CLUSTERED BY list —
  // the layout the LM model, the gram index and the semdedup vectors
  // share — plus a sidecar parquet of the frozen coarse-quantizer
  // centers. The quantizer fits ONCE, on the first batch (standard IVF practice:
  // centroids are trained on a sample and frozen; recall drifts only if
  // the data distribution does, and that is a re-index decision, not a
  // per-delta one). Later deltas assign against the stored centers — a
  // broadcast argmin, no MLlib fit — and append only NOVEL (list,
  // vec_id) rows, so folds are delta-sized and replay-idempotent.
  //
  // Write order on first contact: centers FIRST, then postings. A crash
  // between the two leaves centers without postings — the next append
  // assigns with the stored quantizer and (re)appends, converging; the
  // reverse order could strand postings assigned under a LOST quantizer.
  // SINGLE-WRITER per indexPath, like every state path here.

  /** Bucket count of the posting layout — fixed at creation; production
    * sizes this near the cluster's shuffle-partition count. */
  private[graft] val PostingBuckets = 16

  private[graft] def postingState(indexPath: String): graft.sources.BucketedState =
    graft.sources.BucketedState(indexPath, "graft_ivf_idx_",
      "list INT, vec_id BIGINT, embedding ARRAY<FLOAT>", Seq("list"), PostingBuckets)

  private def centroidsPath(indexPath: String): String = indexPath + ".centroids"

  private def readCenters(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.schema("list INT, center ARRAY<DOUBLE>")
      .parquet(centroidsPath(indexPath))

  /** Nearest stored center per vector (normalized space — the fit
    * metric), ties to the lowest list id. Zero-norm vectors are dropped
    * ([[Pq.normalized]]): they are unsearchable under cosine. */
  private def assignWith(centers: DataFrame, vectors: DataFrame): DataFrame = {
    val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("list"))
    Pq.normalized(vectors)
      .crossJoin(broadcast(centers))
      .withColumn("dist", graft.functions.SqDistance.sqDist(col("nemb"), col("center")))
      .withColumn("crank", row_number().over(w))
      .filter(col("crank") === 1)
      .select(col("list"), col("vec_id"), col("embedding"))
  }

  /** Fold one delta of (vec_id, embedding) vectors into the persisted
    * index at indexPath. First contact fits the DETERMINISTIC quantizer
    * on the batch (≥ K vectors required, [[detCenters]] — so the
    * persisted index reproduces [[ivfTopK]]'s geometry exactly and
    * q_ivf_delta stays oracle-checkable) and freezes its centers; every
    * later call is fit-free. Replaying a folded delta appends nothing. */
  def ivfAppend(spark: SparkSession, indexPath: String, vectors: DataFrame): Unit = {
    import spark.implicits._
    val st = postingState(indexPath)
    val cdir = new java.io.File(centroidsPath(indexPath))
    // COMMIT marker, not directory existence (r15 review, the semdedup
    // twin): a crash DURING the centers write leaves a dir holding only
    // _temporary — treating it as a frozen quantizer would read EMPTY
    // centers forever. Uncommitted leftovers are deleted and the fit
    // re-runs, converging like a crash before the write.
    val centers: DataFrame =
      if (new java.io.File(cdir, "_SUCCESS").isFile) readCenters(spark, indexPath)
      else {
        if (cdir.exists()) graft.sources.Writers.deleteRecursively(cdir)
        detCenters(spark, vectors)
          .map { case (i, c) => (i, c.toSeq) }.toDF("list", "center")
          .coalesce(1).write.parquet(centroidsPath(indexPath))
        readCenters(spark, indexPath)
      }
    val assigned = assignWith(centers, vectors)
    val novel = st.ensure(spark) match {
      case Some(t) => assigned.join(
        spark.table(t).select("list", "vec_id"), Seq("list", "vec_id"), "left_anti")
      case None => assigned
    }
    st.append(spark, novel)
  }

  /** q_ivf_delta (r12 verdict task #4): [[ivfSearch]] over a PERSISTED
    * BucketedState index as a benched SparkEntry shape — the production
    * search join (probe lists ⋈ bucketed posting table, index side
    * exchange-free) runs end-to-end so the executed-plan lints sweep it
    * and a BASELINE row tracks its cost. The index builds ONCE per
    * fixture content (one-shot [[ivfAppend]] of the whole embeddings
    * table — quantizer fit + postings), keyed by (dir hash, content
    * signature) in tmp; every later call is probe-only. With the whole
    * corpus as the first batch, the result is EXACTLY [[ivfTopK]]'s
    * (IncrementalIvfSpec pins it), so the driver hash-checks it against
    * q_ivf_topk's SQL twin; IvfSpec's recall floor is the quality pin. */
  def ivfDeltaQuery(spark: SparkSession, dir: String): DataFrame = {
    // the quantizer is part of the persisted index's identity: the
    // prefix carries an algorithm tag (det quantizer, DetSteps Lloyd
    // rounds) so a quantizer change can never probe a stale index
    // built under the previous algorithm (fixtureStatePath keys on
    // CONTENT, which a code change does not move)
    val indexPath = Tables.fixtureStatePath(
      s"graft_ivf_delta_det${DetSteps}", dir, "embeddings")
    if (postingState(indexPath).ensure(spark).isEmpty)
      ivfAppend(spark, indexPath, Tables.embeddings(spark, dir))
    ivfSearch(spark, indexPath,
      Tables.embeddings(spark, dir).filter(col("vec_id") < 20), k = 3)
  }

  /** Top-k cosine neighbors of (vec_id, embedding) probes against the
    * persisted index: rank the stored centers per probe, search only
    * the NProbe nearest posting lists. The posting side is a bucketed
    * scan joined on its cluster key, so the corpus-sized index never
    * re-shuffles — only probe-list candidates move. */
  def ivfSearch(spark: SparkSession, indexPath: String, probes: DataFrame,
                k: Int = 3): DataFrame = {
    val t = postingState(indexPath).ensure(spark).getOrElse(
      throw new IllegalStateException(s"no committed IVF index at $indexPath"))
    val centers = readCenters(spark, indexPath)
    val np = Pq.normalized(probes)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"),
        col("nemb").as("p_nemb"))
    val probeLists = nearestLists(np, centers)
      .select(col("probe_id"), col("p_emb"), col("list"))
    // bounded top-k aggregation, same rationale (and identical rows)
    // as searchLists: the posting join's output grows with list size,
    // and only k rows per probe may reach the exchange
    val topk = udaf(graft.functions.TopKAggregator(k),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    spark.table(t)
      .select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"), col("list"))
      .join(broadcast(probeLists), Seq("list"))
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("cos", cosineSim(col("p_emb"), col("c_emb")))
      .groupBy("probe_id")
      .agg(topk(col("cos"), col("cand_id")).as("top"))
      .select(col("probe_id"), posexplode(col("top")))
      .select(col("probe_id"), (col("pos") + 1).cast("long").as("rank"),
        col("col.id").as("cand_id"), round(col("col.score"), 4).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }
}
