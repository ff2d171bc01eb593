package graft.operators

import graft.Tables
import org.apache.spark.ml.clustering.{KMeans, KMeansModel}
import org.apache.spark.ml.functions.array_to_vector
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** E-SIM, product-quantization variant (Jégou, Douze, Schmid 2011 — the
  * canonical IVF-PQ recipe's second half; IVF itself lives in [[Ivf]]):
  * each 64-dim vector is split into M=8 subvectors of 8 dims, each
  * subvector quantized to one of K=16 per-subspace centroids — a 4-byte
  * code per vector (8 × 4-bit) versus 256 float bytes, 64× compression,
  * versus 4× for the int8 path in [[VectorOps.quantizeEmbeddings]].
  *
  * Search is the production two-stage recipe: (1) asymmetric distance
  * computation (ADC) — the probe stays exact; per probe an 8×16 table of
  * subspace dot products against the centroids is precomputed, and every
  * candidate's approximate cosine is the sum of 8 table lookups, no
  * per-candidate float arithmetic — prunes the corpus to a 50-vector
  * shortlist; (2) one exact cosine pass re-ranks the shortlist, touching
  * float vectors for |probes|·50 rows only.
  *
  * Scale shape: training is M tiny driver-coordinated k-means fits
  * (centroid tables are M·K·subdim doubles — kilobytes, broadcast);
  * encoding is one projection pass; the ADC scan joins the corpus codes
  * against the BROADCAST probe tables on (subspace, code) and partial-
  * aggregates the 8-term sums — |corpus|·M rows through one hash-agg,
  * never an all-pairs product with float vectors. Vectors are L2-
  * normalized before training so the ADC dot IS approximate cosine.
  *
  * TWO codebook fits (the [[Ivf]] r16 pattern): the DEFAULT is the
  * deterministic per-subspace Lloyd ([[Ivf.detLloyd]] on 8-dim slices —
  * seeded init from the K smallest vec_ids, exact-integer means), so
  * q_pq_topk is ORACLE-CHECKED end to end; the MLlib fit stays as
  * [[pqTopKTrained]], the recall reference. PqSpec pins recall against
  * the exact float path for BOTH, determinism, and the code-range /
  * compression contract. Reference analog: the CLIP embedding similarity
  * `main.py:79`, at the storage footprint 100 TB of vectors demands.
  */
object Pq {

  val M = 8
  val SubDim = 8
  val K = 16

  /** Same fit-once-per-corpus cache discipline as [[Ivf.modelCache]]
    * (lazy holder so no KMeans fit ever runs under the CHM bin lock). */
  private final class LazyModels(fit0: () => Array[KMeansModel]) {
    // thunk nulled after the fit (the Ivf.LazyModel hygiene): it captures
    // a DataFrame and its SparkSession for the cache entry's JVM lifetime
    private var f = fit0
    lazy val models: Array[KMeansModel] = {
      val m = f(); f = null; m
    }
  }
  private val modelCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, LazyModels)]()

  private def contentSig(dir: String): String =
    graft.Tables.parquetContentSig(dir, "embeddings")

  /** L2-normalized double-array embedding column `nemb`. Zero-norm
    * vectors (a failed encode) are FILTERED, not divided: 0/0 = NaN, and
    * Spark orders NaN above every double, so one all-zero vector would
    * rank as the top neighbor of every probe whose shortlist it enters —
    * the hazard CosineSimilarity's null-on-zero-norm convention exists
    * to prevent (this hand-rolled dot has no such guard). */
  private[graft] def normalized(df: DataFrame): DataFrame =
    df.withColumn("nrm", sqrt(aggregate(col("embedding"), lit(0.0),
        (acc, x) => acc + x.cast("double") * x.cast("double"))))
      .filter(col("nrm") > 0.0)
      .withColumn("nemb", transform(col("embedding"),
        x => x.cast("double") / col("nrm")))

  private def subCol(m: Int): Column = slice(col("nemb"), m * SubDim + 1, SubDim)

  /** (vec_id, nemb, c0..c{M-1}) codes plus centers\[m\]\[k\]\[subdim\]. */
  private def assign(spark: SparkSession, dir: String): (DataFrame, Array[Array[Array[Double]]]) = {
    val emb = normalized(Tables.embeddings(spark, dir)).select(col("vec_id"), col("nemb"))
    val withSubs = (0 until M).foldLeft(emb)((df, m) =>
      df.withColumn(s"f$m", array_to_vector(subCol(m))))
    val sig = contentSig(dir)
    val models = modelCache.compute(dir, (_, prev) =>
      if (prev != null && prev._1 == sig) prev
      else (sig, new LazyModels(() => {
        // fit-time guard (offline path, same rationale as Ivf.assign):
        // fewer vectors than codewords makes MLlib return < K centroids
        // per subspace and downstream code lookups an opaque AIOOBE
        val n = withSubs.count()
        require(n >= K,
          s"PQ codebooks need at least K=$K training vectors per subspace, got $n")
        (0 until M).map(m =>
          new KMeans().setK(K).setSeed(42L + m).setMaxIter(10)
            .setFeaturesCol(s"f$m").setPredictionCol(s"c$m")
            .fit(withSubs)).toArray
      })))._2.models
    val coded = models.foldLeft(withSubs)((df, mo) => mo.transform(df))
      .select(col("vec_id") +: col("nemb") +: (0 until M).map(m => col(s"c$m")): _*)
    (coded, models.map(_.clusterCenters.map(_.toArray)))
  }

  /** Shortlist size for the ADC prune stage — the recall/cost knob: the
    * exact re-rank touches |probes|·Shortlist float vectors, so widening
    * it buys recall at a cost INDEPENDENT of corpus size (200 of 6k here,
    * 200 of billions at 100 TB — same float budget per probe). 50 → 200
    * lifted measured recall@10 from 0.70 (r8) to ~0.9 (PqSpec). */
  val Shortlist = 200

  /** Deterministic per-subspace codebooks — [[Ivf.detLloyd]] on the
    * M 8-dim slices (K=16 seeds each = the same 16 smallest vec_ids'
    * slices, [[Ivf.DetSteps]] exact-integer-mean iterations): the
    * q_semdedup_delta / q_ivf_topk move applied to PQ, making the whole
    * codes → ADC → re-rank path oracle-expressible. Returned as
    * centers\[m\]\[k\]\[subdim\]. */
  private[graft] def detSubCenters(spark: SparkSession,
                                   vectors: DataFrame): Array[Array[Array[Double]]] = {
    val (emb, n) = graft.plans.Eager.materialize(
      normalized(vectors).select(col("vec_id"), col("nemb")))
    require(n >= K,
      s"PQ codebooks need at least K=$K training vectors per subspace, got $n")
    (0 until M).map { m =>
      Ivf.detLloyd(spark, emb.select(col("vec_id"), subCol(m).as("v")), K)
        .map(_._2).toArray
    }.toArray
  }

  /** Fit-once cache of the deterministic codebooks (the detCache
    * lifecycle from [[Ivf]]): deterministic, so a racing duplicate
    * build is wasted work, never divergence. */
  private[graft] val detCache =
    new java.util.concurrent.ConcurrentHashMap[String, (String, Array[Array[Array[Double]]])]()

  private def detSubCentersFor(spark: SparkSession, dir: String): Array[Array[Array[Double]]] = {
    val sig = contentSig(dir)
    val cached = detCache.get(dir)
    if (cached != null && cached._1 == sig) cached._2
    else {
      val c = detSubCenters(spark, Tables.embeddings(spark, dir))
      detCache.put(dir, (sig, c))
      c
    }
  }

  /** q_pq_topk (DEFAULT, oracle-checked since r16): the two-stage
    * search under the deterministic codebooks. Encoding is a broadcast
    * argmin per (vector, subspace) — min-struct aggregate, the
    * detAssigned shape — instead of M model.transform projections;
    * everything from the ADC tables down is identical to the trained
    * variant. */
  def pqTopK(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.SqDistance.sqDist
    val centers = detSubCentersFor(spark, dir)
    val centersDf = centers.zipWithIndex.flatMap { case (ks, m) =>
      ks.zipWithIndex.map { case (c, k) => (m, k, c.toSeq) }
    }.toSeq.toDF("m", "code", "center")
    val emb = normalized(Tables.embeddings(spark, dir))
      .select(col("vec_id"), col("nemb"))
    val subs = emb.select(col("vec_id"),
      posexplode(array((0 until M).map(subCol): _*)).as(Seq("m", "sub")))
    val codes = subs.join(broadcast(centersDf), Seq("m"))
      .withColumn("dist2", sqDist(col("sub"), col("center")))
      .groupBy("vec_id", "m")
      .agg(min(struct(col("dist2"), col("code"))).as("mm"))
      .select(col("vec_id"), col("m"), col("mm.code").as("code"))
    val probeSubs = subs.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("m"), col("sub"))
    val tables = probeSubs.join(broadcast(centersDf), Seq("m"))
      .select(col("probe_id"), col("m"), col("code"),
        aggregate(zip_with(col("sub"), col("center"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("part"))
    val wAdc = Window.partitionBy("probe_id").orderBy(col("approx").desc, col("vec_id"))
    val shortlist = codes.join(broadcast(tables), Seq("m", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("part")))).as("ps"))
      .withColumn("approx", expr("aggregate(ps, 0D, (acc, x) -> acc + x.part)"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= Shortlist)
      .select(col("probe_id"), col("vec_id"), col("approx"))
    val dot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val exactSide = emb.select(col("vec_id"), col("nemb"))
    val probeSide = emb.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("nemb").as("p_emb"))
    val wExact = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    shortlist
      .join(exactSide, "vec_id")
      .join(broadcast(probeSide), "probe_id")
      .withColumn("cos", dot(col("p_emb"), col("nemb")))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("rank"), col("vec_id").as("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }

  /** q_pq_topk: top-10 neighbors per probe (vec_id < 10) via the
    * production two-stage recipe — ADC over the 4-byte codes prunes the
    * corpus to a [[Shortlist]]-sized candidate set (byte scan, zero
    * per-candidate float math), then ONE exact cosine pass re-ranks the
    * shortlist (float reads for |probes|·Shortlist rows only, never the
    * corpus). The 8-term ADC sum folds over the subspace-sorted array
    * (sequential-fold determinism — a shuffled 8-double sum could flip
    * a shortlist-boundary tie across runs). */
  def pqTopKTrained(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val (coded, centers) = assign(spark, dir)
    val codes = coded.select(col("vec_id"),
        posexplode(array((0 until M).map(m => col(s"c$m")): _*)).as(Seq("m", "code")))
    val centersDf = centers.zipWithIndex.flatMap { case (ks, m) =>
      ks.zipWithIndex.map { case (c, k) => (m, k, c) }
    }.toSeq.toDF("m", "code", "center")
    val probeSubs = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"),
        posexplode(array((0 until M).map(subCol): _*)).as(Seq("m", "sub")))
    val tables = probeSubs.join(broadcast(centersDf), "m")
      .select(col("probe_id"), col("m"), col("code"),
        aggregate(zip_with(col("sub"), col("center"), (x, y) => x * y),
          lit(0.0), (acc, v) => acc + v).as("part"))
    val wAdc = Window.partitionBy("probe_id").orderBy(col("approx").desc, col("vec_id"))
    val shortlist = codes.join(broadcast(tables), Seq("m", "code"))
      .filter(col("vec_id") =!= col("probe_id"))
      .groupBy("probe_id", "vec_id")
      .agg(array_sort(collect_list(struct(col("m"), col("part")))).as("ps"))
      .withColumn("approx", expr("aggregate(ps, 0D, (acc, x) -> acc + x.part)"))
      .withColumn("arank", row_number().over(wAdc))
      .filter(col("arank") <= Shortlist)
      .select(col("probe_id"), col("vec_id"), col("approx"))
    // exact re-rank: normalized-dot cosine, shortlist rows only
    val dot = (a: Column, b: Column) =>
      aggregate(zip_with(a, b, (x, y) => x * y), lit(0.0), (acc, v) => acc + v)
    val exactSide = coded.select(col("vec_id"), col("nemb"))
    val probeSide = coded.filter(col("vec_id") < 10)
      .select(col("vec_id").as("probe_id"), col("nemb").as("p_emb"))
    val wExact = Window.partitionBy("probe_id").orderBy(col("cos").desc, col("vec_id"))
    shortlist
      .join(exactSide, "vec_id")
      .join(broadcast(probeSide), "probe_id")
      .withColumn("cos", dot(col("p_emb"), col("nemb")))
      .withColumn("rank", row_number().over(wExact).cast("long"))
      .filter(col("rank") <= 10)
      .select(col("probe_id"), col("rank"), col("vec_id").as("cand_id"),
        round(col("cos"), 6).as("cos_sim"))
      .orderBy("probe_id", "rank")
  }
}
