package graft.operators

import graft.Tables
import graft.functions.VectorFunctions._
import graft.functions.CosineSimilarity.cosineSim
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.Eager.EagerOps

/** Array/vector layer (SURVEY E-ARR, E-SIM; reference P3-P5, P12, P14-P17)
  * over the `embeddings` fixture (ARRAY<FLOAT>, dim 64 — the CLIP-embedding
  * analog of `main.py:75-88`).
  *
  * Scale stance: the brute-force cosine top-k (`simTopK`) is the
  * correctness baseline — probes are broadcast, so the scan over candidates
  * is embarrassingly parallel with no shuffle until the final per-probe
  * top-k (TakeOrdered-sized). The hyperplane-LSH variant (`annBuckets` /
  * `annTopK`) is the 100 TB path: bucketing turns the all-pairs problem
  * into an equi-join on bucket id, which shuffles only same-bucket pairs.
  */
object VectorOps {

  /** E-ARR basics: size / element_at / array_max / HOF aggregate / HOF
    * filter — the engine forms of slice/argmax/conditional-count
    * (`main.py:107-109, 155-168`). */
  def arrayOps(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        size(col("embedding")).cast("long").as("dim"),
        round(element_at(col("embedding"), 1).cast("double"), 4).as("first_val"),
        round(array_max(col("embedding")).cast("double"), 4).as("max_val"),
        round(aggregate(col("embedding"), lit(0.0), (a, x) => a + x.cast("double")), 4).as("sum_val"),
        size(filter(col("embedding"), x => x > lit(0.0))).cast("long").as("n_pos"),
        // array_sort / zip_with / array_position / arrays_zip surface
        // (scalar projections — array-typed output columns can't ride
        // through the driver's comparator)
        round(element_at(array_sort(col("embedding")), 2).cast("double"), 4).as("second_min"),
        round(aggregate(
          zip_with(col("embedding"), reverse(col("embedding")),
            (a, b) => a.cast("double") * b.cast("double")),
          lit(0.0), (acc, x) => acc + x), 4).as("rev_dot"),
        array_position(col("embedding"), array_max(col("embedding"))).cast("long").as("argmax_pos"),
        round(element_at(arrays_zip(col("embedding").as("x"), reverse(col("embedding")).as("y")), 1)
          .getField("x").cast("double"), 4).as("zip_first_x"))
      .orderBy("vec_id")

  /** P12 analog — conditional range count ("red pixel amount",
    * `main.py:155-171`): elements in [0.05, 0.2] per vector, thresholded
    * like the fire gate. */
  def rangeCount(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"),
        size(filter(col("embedding"), x => x.cast("double").between(0.05, 0.2)))
          .cast("long").as("n_in_range"))
      .filter(col("n_in_range") > 5)
      .orderBy("vec_id")

  /** P14/P16: L2 norm + max softmax probability per embedding. */
  def vectorNorms(spark: SparkSession, dir: String): DataFrame = {
    val e = col("embedding")
    val mx = array_max(e).cast("double")
    val sumExp = aggregate(e, lit(0.0), (acc, x) => acc + exp(x.cast("double") - mx))
    Tables.embeddings(spark, dir)
      .select(
        col("vec_id"),
        round(l2Norm(e), 4).as("l2_norm"),
        round(lit(1.0) / sumExp, 4).as("max_softmax"))
      .orderBy("vec_id")
  }

  /** E-SIM: brute-force cosine top-5 neighbors for probe vectors
    * (vec_id < 10), the CLIP topk path (`main.py:79-81`). Probes are
    * broadcast; ranking is a per-probe window. */
  def simTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val cands = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("cand_id"))
    cands.join(broadcast(probes), col("cand_id") =!= col("probe_id"))
      .withColumn("cos", cosineSim(col("p_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("probe_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  /** q_hard_negatives: hard-negative mining for contrastive training —
    * for each anchor (vec_id < 10), the 3 most cosine-similar vectors
    * whose LABEL DIFFERS (similar-but-wrong examples, the ones a
    * contrastive or reranker loss learns most from). Same brute-force
    * shape as [[simTopK]] (anchors broadcast, one fact scan, per-anchor
    * bounded window); at 100 TB the candidate stream swaps to the
    * ANN/IVF paths — the label-mismatch predicate and top-k are
    * unchanged. */
  def hardNegatives(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val probes = e.filter(col("vec_id") < 10)
      .select(col("vec_id").as("anchor_id"), col("label").as("a_label"),
        col("embedding").as("p_emb"))
    val cands = e.select(col("vec_id").as("cand_id"), col("label").as("c_label"),
      col("embedding").as("c_emb"))
    val w = Window.partitionBy("anchor_id").orderBy(col("cos").desc, col("cand_id"))
    cands.join(broadcast(probes), col("c_label") =!= col("a_label"))
      .withColumn("cos", cosineSim(col("p_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("anchor_id"), col("rank"), col("cand_id"),
        col("c_label").cast("long").as("neg_label"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("anchor_id", "rank")
  }

  /** Elementwise squared-L2 distance — the native codegen expression
    * [[graft.functions.SqDistance]], bit-identical to the HOF fold it
    * replaced (`aggregate(zip_with(...))` ≡ DuckDB
    * `list_sum(list_transform)`, the q_entropy precedent — same
    * float→double casts, same left-to-right accumulation;
    * ExpressionsSpec pins the equivalence). ONE definition shared by
    * [[kmeansAssign]], [[semDedup]] and [[semanticOutliers]]: a change
    * to the fold or casts cannot leave the three computing different
    * geometry. */
  private def sqDist(a: Column, b: Column): Column =
    graft.functions.SqDistance.sqDist(a, b)

  /** Nearest-seed-centroid assignment (deterministic vec_id < 8 seeds,
    * argmin with c_id tie-break) — the shared clustering step of
    * [[kmeansAssign]] (reports it) and [[semDedup]] (bounds its pairwise
    * compare with it). Returns (vec_id, cluster, dist2, embedding). */
  private def seedAssign(e: DataFrame): DataFrame =
    assignTo(e.filter(col("vec_id") < 8)
      .select(col("vec_id").as("c_id"), col("embedding").as("c_emb")), e)

  /** Nearest-centroid assignment of `e` against an explicit (c_id,
    * c_emb) centroid frame — [[seedAssign]]'s arithmetic with the
    * centroid choice factored out, so [[semDedupIncrement]] can assign
    * deltas against its FROZEN stored centers with bit-identical
    * geometry. Returns (vec_id, cluster, dist2, embedding). */
  private def assignTo(cents: DataFrame, e: DataFrame): DataFrame = {
    // argmin as min(struct(dist2, c_id, …)): struct ordering compares
    // dist2 first, then c_id — exactly the row_number-over-window
    // (orderBy dist2, c_id) pick, but as an AGGREGATE, so the partial min
    // runs map-side and the exchange moves one row per vector instead of
    // the full k×N candidate frame a window shuffle would carry (at k=10⁵
    // real-scale centroids that is the difference between shuffling N and
    // k·N rows). The embedding rides inside the struct but is never
    // compared — (dist2, c_id) is unique per vec_id since c_id is.
    e.crossJoin(broadcast(cents))
      .withColumn("dist2", sqDist(col("embedding"), col("c_emb")))
      .groupBy("vec_id")
      .agg(min(struct(col("dist2"), col("c_id"), col("embedding"))).as("m"))
      .select(col("vec_id"), col("m.c_id").as("cluster"),
        col("m.dist2").as("dist2"), col("m.embedding").as("embedding"))
  }

  /** E-SIM clustering assignment: every embedding labeled with its
    * nearest of 8 fixed centroids (vec_id < 8 as deterministic seeds) by
    * squared L2 — the assignment step at the heart of IVF/k-means,
    * exposed as an ORACLE-CHECKED query (this pins the geometry
    * arithmetic itself; `Ivf`'s seeded Lloyd quantizer builds on the
    * same argmin). Distances fold left-to-right over the
    * dimension sequence (`aggregate` ≡ DuckDB `list_sum(list_transform)`,
    * the q_entropy precedent), so both engines produce bit-identical
    * doubles and the argmin rank cannot flip. Centroids broadcast; the
    * scan stays narrow; per-vector argmin is a bounded window. */
  def kmeansAssign(spark: SparkSession, dir: String): DataFrame =
    seedAssign(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("cluster"), round(col("dist2"), 4).as("dist2"))
      .orderBy("vec_id")

  /** q_semdedup: SemDeDup (Abbas et al. 2023) — semantic deduplication
    * with the quadratic bounded by clustering: assign every embedding to
    * its nearest seed centroid (the [[kmeansAssign]] geometry, same
    * deterministic vec_id<8 seeds), then compare pairs ONLY within a
    * cluster; a vector is a duplicate iff some lower-id cluster-mate has
    * cosine ≥ τ (keep-lowest-id is the paper's keep-one-representative
    * rule made deterministic). Output: every vector with its cluster,
    * dup flag, the representative it collapses into (min such id) and its
    * strongest in-cluster similarity.
    *
    * Scale shape: the centroid table broadcasts (at real scale, k ≈ 10⁵
    * centroids from a trained k-means — still dimension-table-sized);
    * the pairwise compare is an equi-join on the cluster key, so the
    * quadratic is per-cluster, never corpus-wide — exactly the trade
    * SemDeDup makes to run on web-scale corpora. Cosines fold
    * sequentially (q_entropy precedent) → bit-identical to the oracle. */
  def semDedup(spark: SparkSession, dir: String): DataFrame = {
    val assigned = seedAssign(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("cluster"), col("embedding"))
      // EAGER, not a lazy persist (r14 verdict task #1 — the 18.3× gate
      // breach): three consumers (both pair sides + the final report)
      // plan DISTINCT shuffle builds over this frame, and concurrent
      // stages over a not-yet-materialized cache race to compute it —
      // each re-runs the k·|vecs| distance sweep (on a cluster the same
      // race re-fires whenever an executor loses cache blocks).
      // The Eager freeze materializes the assignment table exactly once
      // before any consumer plans (SemDeDup materializes it for the same
      // reason; the bandKeyFrame/ccnet-rarity discipline). Blocks are
      // reclaimed by the context cleaner once the frame is unreachable.
      .eagerly
    val dups = assigned.select(col("cluster"), col("vec_id"), col("embedding").as("e1"))
      .join(assigned.select(col("cluster"), col("vec_id").as("v2"), col("embedding").as("e2")),
        Seq("cluster"))
      .filter(col("v2") < col("vec_id"))
      .withColumn("cos", cosineSim(col("e1"), col("e2")))
      .filter(col("cos") >= 0.3)
      .groupBy("cluster", "vec_id")
      .agg(min("v2").as("dup_of"), round(max("cos"), 4).as("max_cos"))
    assigned.select("vec_id", "cluster")
      .join(dups, Seq("cluster", "vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNotNull.as("is_dup"), col("dup_of"), col("max_cos"))
      .orderBy("vec_id")
  }

  /** Cross-modal semantic outliers: per label, the 3 vectors furthest
    * (squared L2) from the label's ANCHOR vector, joined back to the
    * document metadata they embed — the "which docs don't belong to
    * their cluster" audit a curation pipeline runs after clustering.
    * The anchor is the label's min-vec_id member (a deterministic pick —
    * a float mean would sum in nondeterministic order and drift between
    * engines; the kmeansAssign seed-centroid trick). Distances fold
    * sequentially (q_entropy precedent) → bit-identical doubles; the
    * anchor frame is |labels| rows → broadcast; the doc join keys on the
    * 3·|labels| outlier rows. */
  def semanticOutliers(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val anchors = e.as("x").join(
        e.groupBy("label").agg(min("vec_id").as("a_id")).select("a_id"),
        col("x.vec_id") === col("a_id"))
      .select(col("x.label").as("label"), col("x.embedding").as("a_emb"))
    val w = Window.partitionBy("label").orderBy(col("dist2").desc, col("vec_id"))
    e.join(broadcast(anchors), "label")
      .withColumn("dist2", sqDist(col("embedding"), col("a_emb")))
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 3)
      .join(Tables.documents(spark, dir)
          .select(col("doc_id"), col("lang"), col("source")),
        col("vec_id") === col("doc_id"))
      .select(col("label").cast("long").as("label"), col("rk"), col("vec_id"),
        col("lang"), col("source"), round(col("dist2"), 4).as("dist2"))
      .orderBy("label", "rk")
  }

  /** Legacy 4-bit hyperplane LSH bucket id per vector (same-bucket
    * candidates only) — one WalshBandKeys pass over LegacyPlanes;
    * bit-identical to the original per-bit Hadamard HOF formulation
    * (ExpressionsSpec). */
  private def bucketExpr: Column =
    element_at(graft.functions.WalshBandKeys.walshBandKeys(
      col("embedding"), Seq(LegacyPlanes)), 1)

  /** ANN bucketing: vec_id → 4-bit hyperplane bucket. */
  def annBuckets(spark: SparkSession, dir: String): DataFrame =
    Tables.embeddings(spark, dir)
      .select(col("vec_id"), bucketExpr.as("bucket"))
      .orderBy("vec_id")

  /** Multiband LSH parameters: 4 bands × 6 bits = 24 Walsh-Hadamard
    * hyperplanes (component i of hyperplane j has sign
    * (-1)^popcount(i AND j); j = 1..24 — j = 0 is the all-positive plane
    * and carries no locality). OR-amplification: candidates match on ANY
    * band, so for neighbor collision probability p per bit, recall is
    * 1-(1-p^6)^4 instead of the single-code p^4 — higher recall at far
    * finer buckets (2^6 per band vs the legacy 2^4 total), which is what
    * keeps within-bucket candidate sets sub-quadratic at 100 TB. The
    * integer-only sign arithmetic is reproduced exactly by the DuckDB
    * oracle via bit_count((i-1) & j) % 2. */
  val Bands = 4
  val BitsPerBand = 6
  private[graft] val MultibandPlanes: Seq[Seq[Int]] =
    (0 until Bands).map(b => (0 until BitsPerBand).map(r => 1 + b * BitsPerBand + r))
  /** The legacy 4-bit single code = Walsh hyperplanes {1,2,4,8} (bit j of
    * i == popcount(i & 2^j) mod 2, so the original per-bit Hadamard
    * pattern is this subset of the Walsh family). */
  private[graft] val LegacyPlanes: Seq[Int] = Seq(1, 2, 4, 8)

  import graft.functions.WalshBandKeys.walshBandKeys

  /** vec_id → (band, key) pairs, one row per band — the narrow signature
    * projection (no shuffle; the only exchange is the candidate join).
    * All 24 hyperplane projections happen in ONE codegen'd pass over the
    * array (WalshBandKeys) instead of 24 interpreted HOF aggregates. */
  private[graft] def bandedSignaturesOf(emb: DataFrame): DataFrame =
    emb.select(col("vec_id"),
        posexplode(walshBandKeys(col("embedding"), MultibandPlanes)))
      .select(col("vec_id"), col("pos").as("band"), col("col").as("key"))

  /** Multiband ANN over an arbitrary (vec_id, embedding) frame: top-k
    * neighbors per probe over candidates sharing ANY of the 4 band keys.
    * Pair dedupe runs on bare ids; embeddings re-attach afterwards by key —
    * at 100 TB the wide vector column never rides through the distinct's
    * shuffle. */
  private[graft] def annMultibandOn(emb: DataFrame, isProbe: Column, k: Int): DataFrame = {
    val sigs = bandedSignaturesOf(emb)
    val probes = sigs.filter(isProbe)
      .select(col("vec_id").as("probe_id"), col("band"), col("key"))
    val cands = sigs.select(col("vec_id").as("cand_id"), col("band"), col("key"))
    val pairs = cands.join(broadcast(probes), Seq("band", "key"))
      .filter(col("cand_id") =!= col("probe_id"))
      .select("probe_id", "cand_id")
      .distinct()
    // probe filter applied BEFORE the broadcast: the equi-join would drop
    // non-probe rows anyway, but broadcasting the unfiltered table ships
    // every vector of the corpus to every executor — probe-set-sized is
    // the scale story this function's doc claims
    val pe = emb.filter(isProbe)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"))
    val ce = emb.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("cand_id"))
    pairs.join(broadcast(pe), "probe_id").join(ce, "cand_id")
      .withColumn("cos", cosineSim(col("p_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("rank"), col("cand_id"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  /** E-SIM scale path, multiband: top-3 neighbors per probe (vec_id < 20)
    * on the embeddings fixture. */
  def annTopKMultiband(spark: SparkSession, dir: String): DataFrame =
    annMultibandOn(Tables.embeddings(spark, dir), col("vec_id") < 20, 3)

  /** E-DEDUP, embedding form (mandate: embedding-cosine near-dup): ALL
    * near-duplicate pairs, not per-probe top-k — multiband LSH candidates
    * (v1 < v2, any shared band key) filtered by exact cosine ≥ threshold.
    * The candidate join is the same sub-quadratic band equi-join as
    * annTopKMultiband; embeddings re-attach by id after the pair dedupe so
    * the 64-float arrays never ride through the distinct's shuffle. The
    * fixture threshold 0.35 exercises the operator on data without planted
    * twins (true near-dup pipelines run ≥ 0.9 — AnnSpec's planted-twin test
    * covers that regime). */
  def embedNearDup(spark: SparkSession, dir: String): DataFrame = {
    val emb = Tables.embeddings(spark, dir)
    val sigs = bandedSignaturesOf(emb)
    val pairs = sigs.as("x")
      .join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key")
          && col("x.vec_id") < col("y.vec_id"))
      .select(col("x.vec_id").as("v1"), col("y.vec_id").as("v2"))
      .distinct()
    val e1 = emb.select(col("vec_id").as("v1"), col("embedding").as("emb1"))
    val e2 = emb.select(col("vec_id").as("v2"), col("embedding").as("emb2"))
    pairs.join(e1, "v1").join(e2, "v2")
      .withColumn("cos", cosineSim(col("emb1"), col("emb2")))
      .filter(col("cos") >= 0.35)
      .select(col("v1"), col("v2"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("v1", "v2")
  }

  /** ANN top-3 within-bucket neighbors for probes (vec_id < 20): the
    * bucket equi-join replaces the brute-force cross product. */
  def annTopK(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir).select(col("vec_id"), col("embedding"), bucketExpr.as("bucket"))
    val probes = e.filter(col("vec_id") < 20)
      .select(col("vec_id").as("probe_id"), col("embedding").as("p_emb"), col("bucket"))
    val cands = e.select(col("vec_id").as("cand_id"), col("embedding").as("c_emb"), col("bucket"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("cand_id"))
    cands.join(broadcast(probes), Seq("bucket"))
      .filter(col("cand_id") =!= col("probe_id"))
      .withColumn("cos", cosineSim(col("p_emb"), col("c_emb")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("probe_id"), col("rank"), col("cand_id"), col("bucket"), round(col("cos"), 4).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  /** Int8 scalar quantization of the embedding column: per-vector
    * max-abs scale, components rounded into [-127, 127] — 4× smaller at
    * rest (BYTE vs FLOAT), the storage lever for an embedding corpus at
    * 100 TB. One narrow codegen'd projection; the scale rides along so
    * any reader can dequantize. */
  def quantizeEmbeddings(df: DataFrame): DataFrame =
    df.withColumn("scale", greatest(aggregate(col("embedding"), lit(0.0),
        (acc, x) => greatest(acc, abs(x.cast("double")))), lit(1e-30)))
      .select(col("vec_id"), col("scale"),
        transform(col("embedding"),
          x => round(x.cast("double") / col("scale") * 127.0).cast("byte")).as("q"))

  /** Cosine top-k over the QUANTIZED corpus (dequantize-on-the-fly):
    * same plan shape as [[simTopK]] — probes broadcast, one scan, final
    * per-probe top-k — but the scanned column is int8, so the scan reads
    * a quarter of the bytes. Quantization error shifts ranks only where
    * true similarities are close; QuantizeSpec bounds top-10 recall
    * against the exact float path. Rows-only (the round/clamp arithmetic
    * has no portable SQL twin at hash precision). */
  def quantizedTopK(spark: SparkSession, dir: String): DataFrame = {
    val q = quantizeEmbeddings(Tables.embeddings(spark, dir))
    val deq = (v: Column, s: Column) => transform(v, x => x.cast("double") * s / 127.0)
    val probes = q.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), deq(col("q"), col("scale")).as("p_emb"))
    val cands = q.select(col("vec_id").as("cand_id"), deq(col("q"), col("scale")).as("c_emb"))
    val w = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("cand_id"))
    cands.join(broadcast(probes), col("cand_id") =!= col("probe_id"))
      .withColumn("cos", cosineSim(col("p_emb").cast("array<float>"), col("c_emb").cast("array<float>")))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("rank"), col("cand_id"))
      .orderBy("probe_id", "rank")
  }

  // ------------------------------------------------------------------
  // Incremental semantic dedup — SemDeDup on crawl deltas (r15)
  //
  // A 100 TB training corpus is not semantically deduplicated once:
  // embedding deltas arrive with every crawl, and re-running the
  // within-cluster quadratic over the world per delta re-pays the whole
  // corpus. The persisted index is a [[graft.sources.BucketedState]]
  // vector table CLUSTERED BY cluster — the same append-only bucketed
  // discipline as the MinHash band index and the IVF posting table —
  // plus a sidecar parquet of the FROZEN assignment centroids. The
  // geometry freezes on the first batch (the [[seedAssign]] rule, made
  // incremental: the batch's 8 smallest vec_ids — deterministic, so
  // unlike the IVF quantizer the whole path stays oracle-expressible);
  // later deltas assign against the stored centers — a broadcast
  // argmin — and compare ONLY within their cluster against the stored
  // vectors plus their own smaller-id batch mates, exactly the
  // keep-first admission [[TextOps.dedupIncrement]] applies at band
  // grain. ALL batch vectors fold (novel-only), admitted or not — the
  // dedupIncrement contract that makes increments compose: a later
  // vector duplicating a REJECTED earlier one is still a duplicate.
  //
  // Write order on first contact: centers FIRST, then the index (the
  // IVF crash-convergence argument — a crash between the two leaves
  // centers without vectors, and the next append assigns with the
  // stored centers and re-appends, converging; the reverse order could
  // strand vectors assigned under a LOST geometry). SINGLE-WRITER per
  // indexPath, like every state path here.
  // ------------------------------------------------------------------

  /** Cosine threshold of the dedup decision — [[semDedup]]'s τ. */
  private[graft] val SemDedupTau = 0.3

  /** Frozen-geometry seed count — [[seedAssign]]'s 8. */
  private[graft] val SemDedupSeedK = 8

  /** Bucket count of the index layout — fixed at creation; production
    * sizes this near the cluster's shuffle-partition count. */
  private[graft] val SemDedupIndexBuckets = 16

  private[graft] def semDedupIndexState(indexPath: String): graft.sources.BucketedState =
    graft.sources.BucketedState(indexPath, "graft_semdedup_idx_",
      "cluster BIGINT, vec_id BIGINT, embedding ARRAY<FLOAT>",
      Seq("cluster"), SemDedupIndexBuckets)

  private def semDedupCentroidsPath(indexPath: String): String =
    indexPath + ".centroids"

  private def readSemDedupCenters(spark: SparkSession, indexPath: String): DataFrame =
    spark.read.schema("c_id BIGINT, c_emb ARRAY<FLOAT>")
      .parquet(semDedupCentroidsPath(indexPath))

  /** Fold one delta of (vec_id, embedding) vectors into the persisted
    * semantic-dedup index and return the batch's ADMISSION REPORT —
    * (vec_id, cluster, admitted, dup_of, max_cos), delta-cardinality,
    * ordered by vec_id. A vector is rejected iff some stored vector or
    * smaller-id batch mate in its (frozen-geometry) cluster has cosine
    * ≥ τ; dup_of is the smallest such mate, max_cos the strongest
    * qualifying similarity (4 dp). First contact freezes the centroids
    * from the batch (its [[SemDedupSeedK]] smallest vec_ids); every
    * later call is a broadcast argmin against the stored centers.
    *
    * Contracts, mirrored from [[TextOps.dedupIncrement]]: the decision
    * is computed and MATERIALIZED against the pre-fold index before the
    * fold appends (decide-then-fold); ALL batch vectors fold, novel
    * (cluster, vec_id) rows only, so replaying a folded batch through
    * this RAW api rejects everything (each vector meets itself at
    * cosine 1) and appends nothing — the streaming face
    * ([[graft.streaming.StreamOps.semDedupIncrementSink]]) is the
    * replay-safe entry that keeps committed decisions verbatim.
    *
    * Scale shape: centers broadcast (k is dimension-table-sized at any
    * corpus scale); the probe joins on the index's bucket key, so the
    * corpus-sized stored side never re-shuffles — only the delta moves;
    * the quadratic is per-cluster (SemDeDup's trade), never corpus-wide. */
  def semDedupIncrement(spark: SparkSession, indexPath: String,
                        vecs: DataFrame,
                        allowSmallSeed: Boolean = false): DataFrame = {
    val centers = ensureSemDedupCenters(spark, indexPath, vecs, allowSmallSeed)
    val (report, assigned) = semDedupDecide(spark, indexPath, centers, vecs)
    semDedupFoldAssigned(spark, indexPath, assigned)
    report.orderBy("vec_id")
  }

  /** The frozen geometry for indexPath, freezing it from `firstBatch`'s
    * [[SemDedupSeedK]] smallest vec_ids on first contact (an EMPTY first
    * batch freezes nothing — the next non-empty batch does; a streaming
    * head's empty batch 0 must not ruin the geometry forever). Centers
    * write BEFORE any index append, the IVF crash-convergence order.
    *
    * A non-empty first batch SMALLER than [[SemDedupSeedK]] is REFUSED
    * (r15 advice, mirroring the IVF quantizer's first-batch ≥ K
    * require): geometry frozen from 1-2 vectors yields 1-2 clusters
    * FOREVER, so the within-cluster quadratic — the exact blowup
    * SemDeDup's clustering exists to bound — silently becomes
    * corpus-wide at scale. Correctness would be unaffected, which is
    * why the break must be loud: nothing downstream would ever notice.
    * `allowSmallSeed` is the documented escape for callers whose first
    * batch IS the whole corpus (degenerate fixtures, sub-seed-sized
    * tables), where few clusters bound a few vectors and the contract
    * holds trivially. */
  private[graft] def ensureSemDedupCenters(spark: SparkSession, indexPath: String,
                                           firstBatch: DataFrame,
                                           allowSmallSeed: Boolean = false): DataFrame = {
    val cdir = new java.io.File(semDedupCentroidsPath(indexPath))
    // COMMIT marker, not directory existence (r15 review): a crash DURING
    // the centroid write leaves a dir holding only _temporary — treating
    // that as frozen geometry would read EMPTY centers forever, silently
    // admitting everything. Only _SUCCESS means frozen; any uncommitted
    // leftover is deleted and the freeze re-runs (converging, same as a
    // crash before the write).
    if (!new java.io.File(cdir, "_SUCCESS").isFile) {
      if (cdir.exists()) graft.sources.Writers.deleteRecursively(cdir)
      val (seeds, n) = graft.plans.Eager.materialize(
        firstBatch.orderBy("vec_id").limit(SemDedupSeedK)
          .select(col("vec_id").as("c_id"), col("embedding").as("c_emb")))
      if (n == 0)
        return seeds // empty batch before first freeze: decide over nothing
      require(n >= SemDedupSeedK || allowSmallSeed,
        s"semantic-dedup geometry needs at least $SemDedupSeedK vectors in " +
          s"the first batch, got $n — a tiny frozen geometry makes the " +
          "within-cluster quadratic corpus-wide forever; accumulate a " +
          "larger first delta, or pass allowSmallSeed=true if this batch " +
          "is the whole corpus")
      seeds.coalesce(1).write.parquet(semDedupCentroidsPath(indexPath))
    }
    readSemDedupCenters(spark, indexPath)
  }

  /** Fold one EAGER assignment frame (cluster, vec_id, embedding) into
    * the index — novel rows only, so replays append exactly what a
    * crashed fold missed and nothing else. */
  private[graft] def semDedupFoldAssigned(spark: SparkSession, indexPath: String,
                                          assigned: DataFrame): Unit = {
    val st = semDedupIndexState(indexPath)
    val novel = st.ensure(spark) match {
      case Some(t) => assigned.join(
        spark.table(t).select("cluster", "vec_id"),
        Seq("cluster", "vec_id"), "left_anti")
      case None => assigned
    }
    st.append(spark, novel.select("cluster", "vec_id", "embedding"))
  }

  /** [[assignTo]] with the incremental family's projection and eager
    * materialization — shared by the decide path and the streaming
    * sink's replay-fold branch. */
  private[graft] def semDedupAssign(centers: DataFrame, vecs: DataFrame): DataFrame =
    assignTo(centers, vecs)
      .select(col("vec_id"), col("cluster"), col("embedding"))
      .eagerly

  /** The admission decision of one delta against the CURRENT index,
    * MATERIALIZED (decide-then-fold: [[semDedupIncrement]] consumes the
    * report after its fold, so it must reflect the pre-fold index).
    * Returns (report, eager assignment frame) — the latter so the fold
    * can reuse the one k·|delta| distance sweep. */
  private[graft] def semDedupDecide(spark: SparkSession, indexPath: String,
                                    centers: DataFrame,
                                    vecs: DataFrame): (DataFrame, DataFrame) = {
    // EAGER (this round's cache-race rule): the assignment feeds the
    // batch self-join's two sides, the index probe, the report and the
    // caller's fold — materialize the distance sweep exactly once
    val assigned = semDedupAssign(centers, vecs)
    val stored = semDedupIndexState(indexPath).ensure(spark) match {
      case Some(t) => spark.table(t)
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("cluster",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("vec_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("embedding",
            org.apache.spark.sql.types.ArrayType(
              org.apache.spark.sql.types.FloatType)))))
    }
    // rejecting mates: every stored same-cluster vector over τ, plus
    // every smaller-id same-cluster batch mate over τ — one unioned
    // (vec_id, mate, cos) stream folded to (dup_of = min mate,
    // max_cos = max). The index side joins on its bucket key, so the
    // corpus-sized stored side never re-shuffles.
    val vsIndex = assigned
      .join(stored.select(col("cluster"), col("vec_id").as("mate"),
        col("embedding").as("m_emb")), Seq("cluster"))
      .withColumn("cos", cosineSim(col("embedding"), col("m_emb")))
    val vsBatch = assigned
      .join(assigned.select(col("cluster"), col("vec_id").as("mate"),
        col("embedding").as("m_emb")), Seq("cluster"))
      .filter(col("mate") < col("vec_id"))
      .withColumn("cos", cosineSim(col("embedding"), col("m_emb")))
    val rejected = vsIndex.unionByName(vsBatch)
      .filter(col("cos") >= SemDedupTau)
      .groupBy("vec_id")
      .agg(min("mate").as("dup_of"), round(max("cos"), 4).as("max_cos"))
    val report = assigned.select("vec_id", "cluster")
      .join(rejected, Seq("vec_id"), "left")
      .select(col("vec_id"), col("cluster"),
        col("dup_of").isNull.as("admitted"), col("dup_of"), col("max_cos"))
      .eagerly
    (report, assigned)
  }

  /** Probe-only admission report of a delta against the CURRENT index —
    * [[semDedupIncrement]]'s decision without the fold, so repeats never
    * mutate state (the [[TextOps.substringStrip]] discipline). Requires
    * the frozen geometry to exist: first contact belongs to the folding
    * verb. */
  def semDedupAdmissions(spark: SparkSession, indexPath: String,
                         vecs: DataFrame): DataFrame = {
    require(new java.io.File(
        new java.io.File(semDedupCentroidsPath(indexPath)), "_SUCCESS").isFile,
      s"no frozen semantic-dedup geometry at $indexPath — fold a first " +
        "batch via semDedupIncrement")
    semDedupDecide(spark, indexPath,
      readSemDedupCenters(spark, indexPath), vecs)._1.orderBy("vec_id")
  }

  /** Policy-driven maintenance of the vector index — the shared
    * [[graft.sources.BucketedState.maintain]] knob. Rows are unique by
    * construction (novel-only appends), so the merge is identity —
    * pure file-count compaction. Returns whether a rewrite ran. */
  def maintainSemDedupIndex(spark: SparkSession, indexPath: String,
                            maxFileSetsPerBucket: Int =
                              graft.sources.BucketedState.DefaultMaxFileSetsPerBucket): Boolean =
    semDedupIndexState(indexPath).maintain(spark, maxFileSetsPerBucket)(identity)

  /** q_semdedup_delta: [[semDedupIncrement]] as a benched,
    * oracle-checked SparkEntry shape — a persisted vector index of the
    * EVEN vec_ids (built once per fixture content signature, the
    * q_strip_delta lifecycle; geometry frozen on the 8 smallest even
    * ids), probed by the ODD vec_ids as one frozen-index delta.
    * Keep-first over a deterministic split is exactly expressible in
    * SQL (an odd vector is rejected iff any even vector, or any smaller
    * odd vector, in its cluster reaches τ), and the cosine/argmin
    * arithmetic folds sequentially on both engines (the q_semdedup
    * precedent), so unlike the MLlib-seeded IVF leg this one is
    * hash-checked end to end. Probe-only ([[semDedupAdmissions]]):
    * repeats never mutate the index; the fold path is pinned by
    * IncrementalSemDedupSpec, the q_dedup_admit division of labor. */
  def semDedupDeltaQuery(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.embeddings(spark, dir)
    val odds = e.filter(pmod(col("vec_id"), lit(2L)) === 1)
    val report = if (e.filter(pmod(col("vec_id"), lit(2L)) === 0).isEmpty) {
      // degenerate fixture (no index side — the empty/one-row sweeps):
      // with no evens there is no geometry to freeze, and the query's
      // SQL twin (centroids FROM ... vec_id % 2 = 0) yields ZERO rows —
      // return the same empty report, keeping the query ≡ its oracle on
      // EVERY input (r15 review: a delta-side fallback geometry here
      // would diverge from the registered SQL). First-batch geometry
      // belongs to the VERB (semDedupIncrement), not this probe.
      val centers = odds.limit(0)
        .select(col("vec_id").as("c_id"), col("embedding").as("c_emb"))
      semDedupDecide(spark,
        Tables.fixtureStatePath("graft_semdedup_delta", dir, "embeddings"),
        centers, odds)._1
    } else {
      // the admissions face minus its global sort (added below)
      val idx = semDedupDeltaIndex(spark, dir)
      semDedupDecide(spark, idx, readSemDedupCenters(spark, idx), odds)._1
    }
    report.orderBy("vec_id")
  }

  /** The even-vectors index under q_semdedup_delta, built once per
    * fixture content signature (geometry frozen on the 8 smallest even
    * vec_ids). */
  private def semDedupDeltaIndex(spark: SparkSession, dir: String): String = {
    val indexPath = Tables.fixtureStatePath("graft_semdedup_delta", dir, "embeddings")
    if (semDedupIndexState(indexPath).ensure(spark).isEmpty)
      // allowSmallSeed: this batch IS the whole even-side corpus (the
      // one-row sweep fixtures land here), so a sub-seed geometry
      // bounds a sub-seed corpus — the scale contract holds trivially
      semDedupIncrement(spark, indexPath,
        Tables.embeddings(spark, dir)
          .filter(pmod(col("vec_id"), lit(2L)) === 0),
        allowSmallSeed = true).count()
    indexPath
  }
}
