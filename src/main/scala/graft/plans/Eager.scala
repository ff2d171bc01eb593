package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, Expression, SortOrder}
import org.apache.spark.sql.catalyst.plans.QueryPlan
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, PartitioningCollection}
import org.apache.spark.sql.classic.GraftBridge
import org.apache.spark.sql.connector.read.streaming.SparkDataStream
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SQLExecution, SparkPlan, SparkStrategy}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.storage.StorageLevel

/** The engine's ONE way to freeze a frame, identical on every master.
  *
  * [[materialize]] runs the frame's executed plan once (one Spark job,
  * plus whatever shuffle stages the plan itself needs), keeps the rows
  * as an RDD persisted `MEMORY_AND_DISK`, and returns a `LogicalRDD`
  * leaf over that RDD. The leaf carries the analyzed plan's output
  * attributes and the `outputPartitioning`/`outputOrdering` of the plan
  * that actually ran (the AQE FINAL plan, not the AdaptiveSparkPlan
  * shell, which reports `UnknownPartitioning(0)` — the reason a
  * `localCheckpoint` loses the layout). Three uses share it:
  *  - materialize-once before fan-out (the cache-race rule: N consumers
  *    of a lazy persist race to build it and redo the upstream work up
  *    to N×; BroadcastRaceGuard rejects that shape);
  *  - loop-invariant layouts: `repartition(n, k).sortWithinPartitions(k)`
  *    frozen here reaches every later join with no Exchange or Sort on
  *    its side (pageRank's and CC's edge lists);
  *  - loop-carried frames (CC labels, k-core rounds): each round is a
  *    single leaf, so the plan stays constant-size across rounds.
  *
  * Lineage is truncated at PLAN level (the leaf hides the upstream
  * plan from analysis and optimization) but KEPT at RDD level: the RDD
  * still depends on its parents, so a lost executor or a decommissioned
  * block recomputes the missing partitions instead of failing the query.
  * The price is an RDD DAG that grows one level per loop round. The
  * engine's loops are short (CC is O(log diameter), k-core is capped,
  * pageRank runs 5 lazy iterations); a long-running cluster loop should
  * set a reliable `SparkContext.setCheckpointDir` and `checkpoint()` its
  * carried frame every few dozen rounds, which cuts the RDD lineage.
  *
  * Releasing: the blocks are not in the CacheManager, so
  * `Dataset.unpersist()` and `catalog.clearCache()` do not see them.
  * `.release()` frees a frozen frame's blocks explicitly (CC drops its
  * pair and edge frames this way); otherwise the context cleaner frees
  * them once the frame is unreachable. */
object Eager {

  /** Freeze `df` (see the object doc); also returns the row count the
    * materialization job observed, so a caller sizing a layout from the
    * frozen rows pays no extra count job. */
  def materialize(df: DataFrame): (DataFrame, Long) = {
    val qe = df.queryExecution
    val (rdd, rows) = SQLExecution.withNewExecutionId(qe, Some("eagerly")) {
      val r = qe.executedPlan.execute().map(_.copy()).setName(FrozenScan.tag)
        .persist(StorageLevel.MEMORY_AND_DISK)
      (r, r.count())
    }
    val ran = qe.executedPlan match { case a: AdaptiveSparkPlanExec => a.executedPlan; case p => p }
    // a join's PartitioningCollection grows with join depth; its first
    // leaf is as true as the whole (LogicalRDD.fromDataset does the same)
    def leaf(p: Partitioning): Partitioning = p match {
      case c: PartitioningCollection => leaf(c.partitionings.head); case _ => p }
    (GraftBridge.frozenLeaf(df, rdd, leaf(ran.outputPartitioning), ran.outputOrdering), rows)
  }

  /** Plans the scan of a frozen RDD as [[FrozenScanExec]] (injected by
    * GraftExtensions). */
  object FrozenScan extends SparkStrategy {
    val tag = "graft-frozen"
    def apply(plan: LogicalPlan): Seq[SparkPlan] = plan match {
      case l: LogicalRDD if l.rdd.name == tag => new FrozenScanExec(l.output, l.rdd,
        "ExistingRDD", l.outputPartitioning, l.outputOrdering, None) :: Nil
      case _ => Nil
    }
  }

  /** `RDDScanExec` keeps the attribute ids of its reported partitioning
    * and ordering in its canonical form, so the two sides of a self-join
    * of one frozen frame never compare equal and lose exchange reuse
    * (each side re-runs the same shuffle). This scan normalizes them
    * against its own output, as the output itself already is. */
  class FrozenScanExec(out: Seq[Attribute], rdd: RDD[InternalRow], name: String,
      p: Partitioning, o: Seq[SortOrder], s: Option[SparkDataStream])
      extends RDDScanExec(out, rdd, name, p, o, s) {
    override def doCanonicalize(): SparkPlan = {
      def norm[T <: Expression](e: T): T = QueryPlan.normalizeExpressions(e, out)
      super.doCanonicalize().asInstanceOf[RDDScanExec].copy(outputOrdering = o.map(norm),
        outputPartitioning = p match { case e: Expression => norm(e).asInstanceOf[Partitioning]; case _ => p })
    }
  }

  /** Partition count for a frozen layout, derived from the frame's row
    * count (guide §2: scale-adaptive partitioning, "derive from input
    * size rather than a constant tuned for either local mode or the
    * cluster"). A frozen layout fixes its partition count — AQE can no
    * longer coalesce it, and every co-partitioned consumer must run at
    * that width — so pinning at `spark.sql.shuffle.partitions`
    * over-partitions small inputs (measured r16: the pageRank loop at
    * a fixture-scale 32-way pinned layout ran 5 iterations of 32-task
    * SortMergeJoins that AQE used to collapse to one partition —
    * ~1.7 s of pure scheduling). Target rows per partition is
    * `spark.graft.layoutRowsPerPartition` (default 4M rows ≈ 100-300 MB
    * of narrow key/metadata rows, the guide §2.2 partition-size band);
    * the count is capped at the session shuffle parallelism so a huge
    * frame still matches the cluster's configured width. A value that is
    * not a positive whole number is rejected, naming the conf. */
  def layoutPartitions(spark: SparkSession, rows: Long): Int = {
    val key = "spark.graft.layoutRowsPerPartition"
    val perPart = spark.conf.getOption(key).map(v => v.trim.toLongOption.filter(_ > 0)
      .getOrElse(throw new IllegalArgumentException(
        s"$key must be a positive number of rows, got '$v'")))
      .getOrElse(4L << 20)
    val cap = spark.sessionState.conf.numShufflePartitions
    math.max(1L, math.min(cap.toLong, (rows + perPart - 1) / perPart)).toInt
  }

  /** [[layoutPartitions]] for a layout that later joins must read as-is:
    * never below two partitions (within the session width). A
    * one-partition layout is `SinglePartition` to the planner, which
    * cannot impose it on a join's other side, so EnsureRequirements
    * re-shuffles BOTH sides to the session width. */
  def joinLayoutPartitions(spark: SparkSession, rows: Long): Int =
    math.max(layoutPartitions(spark, rows), math.min(2, spark.sessionState.conf.numShufflePartitions))

  implicit class EagerOps(private val df: DataFrame) extends AnyVal {
    /** `frame.eagerly` — the frozen frame of [[Eager.materialize]]. */
    def eagerly: DataFrame = materialize(df)._1

    /** `frame.release()`: free the blocks of a frame returned by
      * [[Eager.materialize]] / `.eagerly` (see the object doc). */
    def release(): Unit = df.queryExecution.analyzed match {
      case l: LogicalRDD => l.rdd.unpersist(blocking = false)
      case p => throw new IllegalArgumentException(s"not a frozen frame: ${p.nodeName}")
    }
  }
}
