package graft.plans

import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{Exchange, ReusedExchangeExec}

/** 100 TB guardrail, promoted from bench lint to planning-time guard
  * (r12 verdict task #7), widened from broadcast-only to ALL exchange
  * kinds (r14 verdict task #3): REJECT a plan that builds two or more
  * DISTINCT exchanges — broadcast OR shuffle — over one
  * not-yet-materialized cached frame.
  *
  * Why this is a defect class and not a style nit: Spark submits
  * broadcast-exchange build jobs concurrently, and independent shuffle
  * map stages of one job (or AQE's leaf query stages) are likewise
  * submitted concurrently — while a lazy `persist()` only promises each
  * partition computes once PER materialization. Concurrent builds racing
  * before any materialization finishes each run the cached frame's whole
  * upstream pipeline (on a cluster the two builds' tasks land on
  * different executors, so even block-level locking cannot dedup the
  * compute). The waste is correctness-invisible (results are identical):
  * the broadcast form was found FIVE times in one r12 sitting by
  * profiling alone (q_ccnet_buckets paid 3× its tf⋈vocab fold, q_basket
  * 4× its order-grain collect_set…), and the SHUFFLE form is exactly
  * what breached the r14 driver bench 2× gate at 18.3× — q_semdedup's
  * cluster-key self-join planned two shuffle builds over the lazily
  * persisted assignment frame and re-paid the k·|vecs| distance sweep
  * per side whenever the cache was cold. The BroadcastRaceLintSpec sweep
  * pins the BENCH fleet, but new non-bench code paths — streaming sink
  * bodies, future operators — got no sweep; this rule closes that gap at
  * planning time.
  *
  * Precondition, checked mechanically on the physical plan:
  *   - ≥ 2 exchanges (broadcast or shuffle) whose subtrees scan the SAME
  *     InMemoryRelation cache builder,
  *   - the exchanges are DISTINCT builds (different canonicalized
  *     subtrees) — identical builds are deduplicated by ReuseExchange /
  *     AQE stage reuse and cannot race,
  *   - the cache is NOT yet materialized (`isCachedColumnBuffersLoaded`
  *     is false) — builds over an already-loaded cache just read it.
  * The fix at the offending call site is an EAGER materialization
  * (`graft.plans.Eager`'s `.eagerly`, or the up-front count the
  * operator needs anyway)
  * before the consumers plan — never a lazy persist.
  *
  * Injected by GraftExtensions through `injectQueryStagePrepRule`, so
  * every session carries it: it runs on the WHOLE initial physical plan
  * under AQE, the default everywhere in this engine. Non-AQE plans are
  * covered by the spec harness calling [[BroadcastRaceGuard.check]]
  * directly, and by the fleet lint. `spark.graft.broadcastRaceGuard=false`
  * opts a session out — same explicit-intent escape hatch as the
  * cartesian guard. The rule only ever inspects and throws; it never
  * rewrites the plan.
  */
case class BroadcastRaceGuard(spark: SparkSession) extends Rule[SparkPlan] {
  override def apply(plan: SparkPlan): SparkPlan = {
    // fail-safe conf read (the CartesianGuard policy): only a parseable
    // literal false disables the guard — a typo keeps it active
    val disabled = spark.conf.get("spark.graft.broadcastRaceGuard", "true")
      .trim.equalsIgnoreCase("false")
    if (!disabled) BroadcastRaceGuard.check(plan)
    plan
  }
}

object BroadcastRaceGuard {

  /** Cache builders at risk: builder (opaque — `CachedRDDBuilder` is
    * private[sql], reached through GraftBridge) → count of distinct
    * CONCURRENT exchange builds (broadcast or shuffle) scanning it, for
    * builders with ≥ 2.
    *
    * Two prunings keep legitimate shapes out:
    *  - identical builds (same canonicalized subtree) collapse to one
    *    stage at execution (ReuseExchange statically, AQE stage reuse at
    *    runtime) and cannot race — count one representative;
    *  - NESTED builds are sequential, not concurrent: an enclosing
    *    exchange's build awaits every exchange inside its own subtree
    *    before its tasks can run (a shuffle stage awaits its child
    *    stages; a broadcast build awaits the exchanges in its subtree),
    *    so the inner build materializes the cache first and the outer
    *    one reads it warm. Only an ancestry ANTICHAIN (sibling builds
    *    under a common parent) is submitted concurrently — keep the
    *    innermost builds and count those. */
  private[graft] def racyCaches(plan: SparkPlan): Map[AnyRef, Int] = {
    val byCache: Map[AnyRef, Seq[Exchange]] = plan.collect {
      case e: Exchange =>
        e.collect { case s: InMemoryTableScanExec => GraftBridge.cacheBuilderOf(s) }
          .distinct.map(cb => (cb, e))
    }.flatten.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    byCache.view
      .mapValues { bs =>
        val groups = bs.groupBy(_.canonicalized)
        // drop any build GROUP that ENCLOSES another counted group: the
        // enclosing build awaits every exchange inside its own subtree
        // before its tasks run, so the inner build materializes the
        // cache first and the two are serialized, not concurrent.
        // Enclosure is tested CANONICALLY against every member of each
        // group, not by reference identity against one pre-order
        // representative — the inner group's representative may be a
        // standalone sibling while an identical copy sits nested inside
        // this build, either as a live duplicate or as a
        // ReusedExchangeExec reference after ReuseExchange (r13 advice:
        // the identity-vs-representative test spuriously counted that
        // shape as a race).
        def enclosesOtherGroup(canon: SparkPlan, g: Seq[Exchange]): Boolean =
          g.exists(b => b.exists {
            case o: Exchange if !(o eq b) =>
              val oc = o.canonicalized
              oc != canon && groups.contains(oc)
            case r: ReusedExchangeExec =>
              r.child match {
                case be: Exchange =>
                  val bc = be.canonicalized
                  bc != canon && groups.contains(bc)
                case _ => false
              }
            case _ => false
          })
        groups.filterNot { case (canon, g) => enclosesOtherGroup(canon, g) }
          .size
      }
      .toMap
      .filter { case (cb, n) => n >= 2 && !GraftBridge.cacheLoaded(cb) }
  }

  /** Throw on any racy cache in `plan` (shared by the injected rule and
    * the spec harness, so non-AQE plans can be swept with the exact
    * production predicate). */
  def check(plan: SparkPlan): Unit = {
    val racy = racyCaches(plan)
    if (racy.nonEmpty) {
      val worst = racy.values.max
      throw new SparkException(
        s"graft cache-race guard: $worst distinct exchange builds " +
          "(broadcast/shuffle) scan one not-yet-materialized cached " +
          "frame — concurrent build stages will race to materialize it " +
          "and each re-runs the frame's whole pipeline " +
          "(correctness-invisible, up to N-fold wasted work). " +
          "Materialize eagerly (Eager's .eagerly or an up-front count) " +
          "before the consumers plan, or set " +
          "spark.graft.broadcastRaceGuard=false.")
    }
  }
}
