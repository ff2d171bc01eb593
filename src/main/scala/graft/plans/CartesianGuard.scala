package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.plans.{Cross, Inner}
import org.apache.spark.sql.catalyst.plans.logical.{BROADCAST, HintInfo, Join, LogicalPlan, SHUFFLE_REPLICATE_NL}
import org.apache.spark.sql.catalyst.rules.Rule

/** 100 TB guardrail (SURVEY §4): an optimizer-time check that REJECTS
  * unconditioned cartesian joins where both sides exceed broadcast size.
  *
  * The deadliest query shape at scale is the accidental cross join — a
  * missing join condition or an always-true predicate silently plans a
  * CartesianProduct whose output is |L|×|R|; on fact-sized inputs that is
  * a cluster-killer that no amount of tuning recovers. The engine's own
  * operators never build one (every deliberate crossJoin in this codebase
  * carries a broadcast()-hinted scalar or dim frame), so a surviving
  * fact×fact cartesian is always a bug.
  *
  * Policy: a Join of type Inner/Cross with no condition, where BOTH
  * sides' size estimate exceeds `spark.sql.autoBroadcastJoinThreshold`
  * and neither side of its `JoinHint` vouches for it, is rejected.
  * `spark.graft.allowCartesian=true` opts a session back in (mirroring
  * how spark.sql.crossJoin.enabled once worked — explicit intent, not an
  * accident).
  *
  * Why pre-CBO and not a check rule on the analyzed plan: the analyzed
  * plan still holds shapes that are not cartesian. `Dataset.join(right,
  * usingColumns)` first analyzes a condition-less `Join` to de-duplicate
  * self-join attributes, so a check rule saw every using-column equi-join
  * as unconditioned; `crossJoin(..).filter(a = b)` is a conditioned join
  * once predicates are pushed down. The pre-CBO batch runs after operator
  * optimization, so the plan it sees carries those conditions, has dropped
  * a literal-`true` condition (the `.join(df, lit(true))` accident is then
  * the unconditioned join it plans as), and holds every broadcast hint in
  * its `JoinHint`. The rule is injected through `injectPreCBORule`
  * (GraftExtensions) and returns the plan unchanged.
  */
case class CartesianGuard(spark: SparkSession) extends Rule[LogicalPlan] {

  /** Only hints that actually CHANGE the physical outcome of a
    * condition-less join vouch for it: BROADCAST (nested-loop over a
    * broadcast side — the engine's own deliberate-cartesian idiom) and
    * SHUFFLE_REPLICATE_NL (an explicit request for the replicated
    * cartesian). MERGE / SHUFFLE_HASH are inapplicable without join keys
    * — the planner ignores them and falls back to CartesianProduct, so
    * letting them vouch would wave through the exact cluster-killer the
    * guard exists for (e.g. a .hint("merge") left over from an unrelated
    * equi-join on the same frame). A hint on a dim inside a side's own
    * sub-join sits in THAT join's JoinHint and does not vouch here. */
  private def vouches(h: HintInfo): Boolean =
    h.strategy.contains(BROADCAST) || h.strategy.contains(SHUFFLE_REPLICATE_NL)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    // a rule must never throw on a conf it merely READS: a non-boolean
    // value ("1", "yes", trailing space) must not brick every query in
    // the session — anything that is not a parseable true keeps the
    // guard ACTIVE (fail safe)
    val allow = spark.conf.get("spark.graft.allowCartesian", "false")
      .trim.equalsIgnoreCase("true")
    // Spark parsed and validated the threshold when it was set
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    // threshold <= 0: auto-broadcast disabled -> guard undefined.
    // subqueriesAll: a cartesian INSIDE an EXISTS/IN/scalar subquery plan
    // is the same cluster-killer — TreeNode.foreach walks children only
    // and would never visit it
    if (!allow && threshold > 0) (plan +: plan.subqueriesAll).foreach(_.foreach {
      case j @ Join(left, right, Inner | Cross, None, hint)
          if !hint.leftHint.exists(vouches) && !hint.rightHint.exists(vouches) =>
        val (ls, rs) = (left.stats.sizeInBytes, right.stats.sizeInBytes)
        if (ls > threshold && rs > threshold)
          throw new SparkException(
            s"graft cartesian guard: unconditioned ${j.joinType} join of two " +
              s"non-broadcastable inputs (left ≈ $ls B, right ≈ $rs B, " +
              s"threshold $threshold B). Add a join condition, broadcast() a " +
              s"dim-sized side, or set spark.graft.allowCartesian=true.")
      case _ => ()
    })
    plan
  }
}
