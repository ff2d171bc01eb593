package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions, SparkSessionExtensionsProvider}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{BitmapAndCount, BitmapFromBits, CondEntropySum, CosineSimilarity, DecaySum, Iou, JaroWinkler, MinHashSig, PlogpSum, SimHash16, SortedTermSum, SqDistance, TokenCode, WalshBandKeys}
import graft.operators.{TextOps, VectorOps}
import graft.plans.{BroadcastRaceGuard, CartesianGuard, Eager, GreedyNmsStrategy}

/** The engine's session contract, loaded by every session.
  *
  * This class is a `SparkSessionExtensionsProvider` listed in
  * `META-INF/services/org.apache.spark.sql.SparkSessionExtensionsProvider`,
  * so Spark's `ServiceLoader` applies it when any `SparkSession` is built
  * with the engine on its classpath: a plain
  * `SparkSession.builder().getOrCreate()` carries every rule below, and no
  * call site has to register anything. Cloned and new sessions (streaming
  * micro-batches, `newSession()`) share the extensions of their parent.
  *
  * It injects:
  *   - 14 SQL functions over the custom Catalyst expressions (SURVEY §7.1
  *     SQL-first testability): `cosine_sim(arr, arr)`, `iou(box, box)`,
  *     `token_code(str)`, the sketch family bound to the engine's
  *     canonical parameters (TextOps.MinhashParams,
  *     VectorOps.MultibandPlanes) and the order-pinned fold kernels;
  *   - the planner strategies for the engine's own plan nodes:
  *     `GreedyNmsStrategy` and `Eager.FrozenScan`;
  *   - two 100 TB guardrails: [[graft.plans.CartesianGuard]] (a pre-CBO
  *     optimizer rule) and [[graft.plans.BroadcastRaceGuard]] (an AQE
  *     query-stage prep rule). Both only inspect the plan and throw.
  */
class GraftExtensions extends SparkSessionExtensionsProvider {
  override def apply(e: SparkSessionExtensions): Unit = {
    GraftExtensions.builders.foreach { case (name, builder) =>
      e.injectFunction((
        FunctionIdentifier(name),
        new ExpressionInfo(builder.getClass.getName, name),
        builder))
    }
    e.injectPlannerStrategy(_ => GreedyNmsStrategy)
    e.injectPlannerStrategy(_ => Eager.FrozenScan)
    e.injectPreCBORule(CartesianGuard(_))
    e.injectQueryStagePrepRule(BroadcastRaceGuard(_))
  }
}

object GraftExtensions {
  /** Arity-checked builder: a wrong-argument-count SQL call must surface
    * Spark's standard invalid-arity analysis error, not an opaque
    * IndexOutOfBoundsException from `exprs(1)` inside resolution. */
  private def arity(name: String, n: Int)(
      build: Seq[Expression] => Expression): Seq[Expression] => Expression =
    exprs => {
      if (exprs.length != n)
        throw new org.apache.spark.sql.AnalysisException(
          errorClass = "WRONG_NUM_ARGS.WITHOUT_SUGGESTION",
          messageParameters = Map(
            "functionName" -> name, "expectedNum" -> n.toString,
            "actualNum" -> exprs.length.toString, "docroot" -> ""))
      build(exprs)
    }

  private[graft] val builders: Seq[(String, Seq[Expression] => Expression)] = Seq(
    "cosine_sim" -> arity("cosine_sim", 2)(exprs => CosineSimilarity(exprs(0), exprs(1))),
    "sq_dist" -> arity("sq_dist", 2)(exprs => SqDistance(exprs(0), exprs(1))),
    "iou" -> arity("iou", 2)(exprs => Iou(exprs(0), exprs(1))),
    "token_code" -> arity("token_code", 1)(exprs => TokenCode(exprs(0))),
    "minhash_sig" -> arity("minhash_sig", 1)(exprs =>
      MinHashSig(exprs(0), TextOps.MinhashParams.map(_._2),
        TextOps.MinhashParams.map(_._3), TextOps.MinhashPrime)),
    "simhash16" -> arity("simhash16", 1)(exprs =>
      SimHash16(exprs(0), TextOps.MinhashParams.map(_._2),
        TextOps.MinhashParams.map(_._3), TextOps.MinhashPrime)),
    "walsh_band_keys" -> arity("walsh_band_keys", 1)(exprs =>
      WalshBandKeys(exprs(0), VectorOps.MultibandPlanes)),
    "bitmap_from_bits" -> arity("bitmap_from_bits", 1)(exprs => BitmapFromBits(exprs(0))),
    "bitmap_and_count" -> arity("bitmap_and_count", 2)(exprs => BitmapAndCount(exprs(0), exprs(1))),
    "jaro_winkler" -> arity("jaro_winkler", 2)(exprs => JaroWinkler(exprs(0), exprs(1))),
    // the order-pinned fold kernels (functions/SortedFolds.scala); the
    // negated lm_score fold is Column-API-only (SortedFolds.sortedTermSumNeg)
    "sorted_term_sum" -> arity("sorted_term_sum", 1)(exprs =>
      SortedTermSum(exprs(0), negate = false)),
    "plogp_sum" -> arity("plogp_sum", 2)(exprs => PlogpSum(exprs(0), exprs(1))),
    "cond_entropy_sum" -> arity("cond_entropy_sum", 2)(exprs =>
      CondEntropySum(exprs(0), exprs(1))),
    "decay_sum" -> arity("decay_sum", 2)(exprs => DecaySum(exprs(0), exprs(1))))

  /** The engine's one local session builder (Bench, Verify, PlanDump,
    * Explain): `local[cpus]` with `cpus` shuffle partitions, AQE on, UTC,
    * no UI, then `confs` in order. The rules come from the provider above,
    * as in any other session. */
  def localSession(cpus: String, logLevel: String,
                   confs: Seq[(String, String)] = Nil): SparkSession = {
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
    confs.foreach { case (k, v) => builder.config(k, v) }
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }
}
