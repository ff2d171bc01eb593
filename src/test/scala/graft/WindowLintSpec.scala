package graft

import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window => LWin}

/** Fleet-wide unpartitioned-window lint (r10 verdict task #6): the bench
  * tail prints `WindowExec: No Partition Defined` warnings, and every one
  * of them is SUPPOSED to be a documented dimension-/bucket-grain frame —
  * but until this spec the whitelist lived in prose. This sweep walks
  * every `SparkEntry.benchShapes` plan (the exact surface Bench runs) and
  * enforces two invariants mechanically:
  *
  *  1. ALLOWLIST — only the queries named below may plan an unpartitioned
  *     Window at all. A new query (or a reshaped old one) that sneaks a
  *     global window over a fact-cardinality frame fails here with its
  *     name, instead of becoming a single-task sort at 100 TB.
  *  2. BOUNDED GRAIN — each allowed unpartitioned Window must sit over an
  *     Aggregate in its subtree: the windowed frame is grouped down to a
  *     dimension / calendar / bucket grain before the single-partition
  *     scan, never the raw fact stream. (The per-query pins in PlansSpec
  *     additionally check the grain KEY for the two-level prefix queries;
  *     this sweep is the fleet-wide net under them.)
  *
  * The allowlist also self-cleans: an entry whose query no longer plans
  * any unpartitioned window fails the sweep as STALE, so the list tracks
  * reality in both directions.
  *
  * Plans are built at sf0.001 — analysis/optimization only for most
  * queries; the handful with eager construction (model fits, peel loops)
  * run against the smallest fixture and hit their content-keyed caches.
  */
class WindowLintSpec extends SparkSpec {

  /** query → why its unpartitioned window(s) are sub-fact-cardinality.
    * Every entry was audited r11; the grain claim is the Aggregate the
    * sweep verifies in the window's subtree. */
  private val allowed: Map[String, String] = Map(
    "q_anomaly_days" -> "daily aggregate frame (calendar-bounded)",
    "q_auc" -> "two-level prefix: bucket-offset scan over the bucket aggregate",
    "q_bootstrap" -> "resample-summary frame (one row per bootstrap replicate)",
    "q_emd" -> "cumulative distribution over the aggregated value domain",
    "q_interleave" -> "bucket-offset scan + source-quintile ntile (dimension frames)",
    // q_join_outer_replay's calendar-bounded block maxima left this list
    // in r15: the watermark frame became EAGER (an Eager freeze; the
    // lazy-persist sweep), so its windows execute at construction and no
    // unpartitioned Window remains in the inspected plan
    "q_km" -> "Kaplan-Meier fold over the aggregated event-time grid",
    "q_ks" -> "cumulative distribution over the aggregated value domain",
    "q_session_replay" -> "arrival-day block maxima (calendar-bounded, q_auc recipe)",
    "q_spearman" -> "rank frame over the aggregated per-day domain",
    "q_stl" -> "seasonal fold over the aggregated daily series",
    "q_vocab_growth" -> "two-level prefix: 1024-bucket block offsets",
    "q_watermark" -> "arrival-day block maxima (calendar-bounded, q_auc recipe)",
    "q_wau" -> "per-day delta aggregate frame (calendar-bounded)")

  test("every unpartitioned Window in the fleet is allowlisted and sits over an aggregated frame") {
    import org.apache.spark.sql.execution.columnar.InMemoryRelation
    import org.apache.spark.sql.execution.window.WindowExec
    import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
    val offenders = Seq.newBuilder[String]
    val stale = scala.collection.mutable.Set(allowed.keySet.toSeq: _*)
    SparkEntry.benchShapes.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sf)
      // (description, has-a-GROUPING-aggregate-below) per unpartitioned
      // window. Two collection surfaces: the logical plan, and — the r12
      // blind-spot fix — the PHYSICAL plans cached inside
      // InMemoryRelation nodes: a persist() between an operator's
      // windows and its output used to hide them from this sweep
      // entirely (q_join_outer_replay's block-prefix windows vanished
      // when its watermark frame gained a persist).
      val logical = df.queryExecution.optimizedPlan.collect {
        case w: LWin if w.partitionSpec.isEmpty =>
          (w.toString, w.child.collectFirst {
            case a: Aggregate if a.groupingExpressions.nonEmpty => a
          }.nonEmpty)
      }
      val cached = df.queryExecution.optimizedPlan.collect {
        case imr: InMemoryRelation =>
          // under AQE the cached plan is an AdaptiveSparkPlanExec whose
          // collect() sees only itself — unwrap to the input plan
          val plan = imr.cachedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.inputPlan
            case p => p
          }
          plan.collect {
            case w: WindowExec if w.partitionSpec.isEmpty =>
              (w.toString, w.child.collectFirst {
                case a: BaseAggregateExec if a.groupingExpressions.nonEmpty => a
              }.nonEmpty)
          }
      }.flatten
      val unpart = logical ++ cached
      if (unpart.nonEmpty) {
        if (!allowed.contains(name))
          offenders += s"$name plans ${unpart.size} unpartitioned Window(s) " +
            "but is not allowlisted — a fact-sized frame here is a " +
            "single-task sort at scale; fix the plan or justify an entry"
        stale -= name
        unpart.foreach { case (desc, grouped) =>
          // the Aggregate must GROUP (nonempty grouping expressions): a
          // grouping-less scalar aggregate cross-joined onto a raw fact
          // stream (the lmScore/dsir broadcast-nv shape) does not bound
          // the windowed frame and must not satisfy the check
          if (!grouped)
            offenders += s"$name has an unpartitioned Window with no " +
              s"GROUPING Aggregate below it (raw-stream global window):\n$desc"
        }
      }
    }
    assert(offenders.result().isEmpty,
      offenders.result().mkString("\n---\n"))
    assert(stale.isEmpty,
      s"stale allowlist entries (no unpartitioned window planned any " +
        s"more — remove them): ${stale.toSeq.sorted.mkString(", ")}")
  }
}
