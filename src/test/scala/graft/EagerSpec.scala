package graft

import graft.plans.Eager
import graft.plans.Eager._
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.{LogicalRDD, RDDScanExec, SortExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
import org.apache.spark.sql.execution.exchange.{ReusedExchangeExec, ShuffleExchangeLike}
import org.apache.spark.sql.execution.joins.SortMergeJoinExec
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Eager — the engine's one materialization primitive: a frozen frame
  * is a single `LogicalRDD` leaf over an RDD persisted with its lineage,
  * reporting the layout of the plan that produced it, on every master. */
class EagerSpec extends SparkSpec {

  private def frame() = {
    val sess = spark
    import sess.implicits._
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("id", "v")
  }

  private def frozenRdd(df: DataFrame) =
    df.queryExecution.analyzed.asInstanceOf[LogicalRDD].rdd

  test("eagerly freezes to one LogicalRDD leaf: plan lineage truncated, rows intact") {
    val (e, rows) = Eager.materialize(frame())
    assert(rows == 100L, "the materialization job's count is returned")
    assert(e.collect().length == 100)
    assert(e.queryExecution.analyzed.isInstanceOf[LogicalRDD],
      "a frozen frame is exactly one LogicalRDD leaf")
    // RDD lineage is KEPT (recomputable on executor loss), unlike
    // localCheckpoint, which replaces the dependencies with its blocks
    val rdd = frozenRdd(e)
    assert(rdd.getStorageLevel == StorageLevel.MEMORY_AND_DISK)
    assert(!rdd.isCheckpointed && rdd.dependencies.nonEmpty,
      "the frozen RDD must keep its parents")
    e.release()
  }

  test("materialization is ONE Spark job for a shuffle-free frame") {
    val jobs = new java.util.concurrent.atomic.AtomicInteger(0)
    val l = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(j: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        jobs.incrementAndGet()
    }
    val df = frame().filter(col("id") % 2 === 0)
    df.queryExecution.executedPlan // plan outside the measured window
    org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
    spark.sparkContext.addSparkListener(l)
    try {
      val (e, rows) = Eager.materialize(df)
      org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
      assert(rows == 50L)
      assert(jobs.get() == 1, s"expected one job, saw ${jobs.get()}")
      e.release()
    } finally spark.sparkContext.removeSparkListener(l)
  }

  test("release frees a frozen frame's blocks and rejects a non-frozen frame") {
    val e = frame().eagerly
    val id = frozenRdd(e).id
    assert(spark.sparkContext.getPersistentRDDs.contains(id))
    e.release()
    assert(!spark.sparkContext.getPersistentRDDs.contains(id),
      "release must unpersist the frozen RDD")
    intercept[IllegalArgumentException](frame().release())
  }

  test("a loop-carried frame stays a single leaf across 12 rounds") {
    var x = frame().select(col("id"), col("id").as("lab")).eagerly
    for (_ <- 1 to 12) {
      val prev = x
      x = x.join(x.select(col("id").as("id2"), col("lab").as("lab2")),
          col("lab") === col("id2"), "left")
        .select(col("id"), org.apache.spark.sql.functions.least(
          col("lab"), org.apache.spark.sql.functions.coalesce(col("lab2"), col("lab"))).as("lab"))
        .eagerly
      prev.release()
    }
    assert(x.queryExecution.analyzed.isInstanceOf[LogicalRDD])
    assert(x.count() == 100L)
    x.release()
  }

  test("a self-join of a frozen layout still reuses its exchange") {
    // the scan of a frozen frame reports a layout keyed on its own
    // attributes; the two sides of a self-join must still canonicalize
    // equal, or each side re-runs the same shuffle
    val frozen = frame().repartition(3, col("id")).sortWithinPartitions("id").eagerly
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      val j = frozen.select(col("v").as("v1"), col("id").as("id1"))
        .join(frozen.select(col("v").as("v2"), col("id").as("id2")), col("v1") === col("v2"))
      val p = j.queryExecution.executedPlan
      assert(p.collect { case r: ReusedExchangeExec => r }.size == 1,
        s"the second v-keyed exchange over the frozen scan must be reused:\n$p")
      assert(j.count() == 100L)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      frozen.release()
    }
  }

  test("layoutPartitions derives the width from rows, capped at session parallelism") {
    val cap = spark.sessionState.conf.numShufflePartitions
    assert(Eager.layoutPartitions(spark, 0L) == 1, "empty input still needs one partition")
    assert(Eager.layoutPartitions(spark, 1L) == 1)
    assert(Eager.layoutPartitions(spark, 4L << 20) == 1, "exactly one target-full partition")
    assert(Eager.layoutPartitions(spark, (4L << 20) + 1) == math.min(2, cap))
    assert(Eager.layoutPartitions(spark, Long.MaxValue / 4) == cap,
      "huge inputs clamp to the session shuffle width")
    spark.conf.set("spark.graft.layoutRowsPerPartition", "10")
    try assert(Eager.layoutPartitions(spark, 25L) == math.min(3, cap),
      "target rows per partition is configurable")
    finally spark.conf.unset("spark.graft.layoutRowsPerPartition")
  }

  test("a malformed layoutRowsPerPartition is rejected, naming the conf") {
    for (bad <- Seq("0", "-5", "abc")) {
      spark.conf.set("spark.graft.layoutRowsPerPartition", bad)
      try {
        val e = intercept[IllegalArgumentException](Eager.layoutPartitions(spark, 25L))
        assert(e.getMessage.contains("spark.graft.layoutRowsPerPartition") &&
          e.getMessage.contains(s"'$bad'"), e.getMessage)
      } finally spark.conf.unset("spark.graft.layoutRowsPerPartition")
    }
  }

  test("eagerly keeps the frozen partitioning+ordering visible to the planner") {
    // the defect a frozen layout must not have: localCheckpoint under AQE
    // records UnknownPartitioning(0), so a downstream join re-exchanges
    // and re-sorts the frame every time it is referenced (the r16
    // pageRank/CC finding)
    val laid = frame()
      .repartition(3, col("id"))
      .sortWithinPartitions("id")
    // both frames are frozen with AQE ON (production conditions — AQE is
    // where localCheckpoint loses the layout); the JOIN assertion then
    // plans with AQE/broadcast off so the plain executed tree exposes
    // exactly which sides EnsureRequirements re-exchanges (the
    // IncrementalSemDedupSpec plan-pin discipline)
    val frozen = laid.eagerly
    val ckpt = laid.localCheckpoint(true)
    val other = frame().select(col("id").as("id2"), col("v").as("v2"))
    val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.conf.set("spark.sql.adaptive.enabled", "false")
      def shape(left: DataFrame) = {
        val p = left.join(other, col("id") === col("id2")).queryExecution.executedPlan
        (p.collect { case e: ShuffleExchangeLike => e }.size,
          p.collect { case s: SortExec => s }.size)
      }
      // frozen side reaches the join bare: only the OTHER side is
      // exchanged and sorted
      assert(shape(frozen) == ((1, 1)),
        s"frozen layout not honored: ${shape(frozen)} (exchanges, sorts)")
      // contrast pin: the SAME layout through localCheckpoint is
      // UnknownPartitioning(0), so BOTH sides re-exchange and re-sort —
      // if Spark ever starts preserving it, Eager could use it again
      assert(shape(ckpt) == ((2, 2)),
        "localCheckpoint now PRESERVES partitioning — revisit Eager")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      frozen.release()
    }
  }

  test("one primitive: no localCheckpoint( outside plans/Eager.scala, no eagerMaterialize knob") {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p))
    assert(files.exists(_.endsWith("plans/Eager.scala")), s"scan root wrong: $root")
    val offenders = files.flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      val ckpt = text.contains("localCheckpoint(") && !p.endsWith("plans/Eager.scala")
      val knob = text.contains("spark.graft." + "eagerMaterialize")
      (if (ckpt) Seq(s"$p: localCheckpoint( call") else Nil) ++
        (if (knob) Seq(s"$p: spark.graft.eagerMaterialize") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}

/** Plan-shape check shared by the graph-loop specs: do the sort-merge
  * joins fed by a frozen layout read it bare? */
object FrozenLayout {
  /** Every node of a physical plan, through AQE shells and query stages. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case a: AdaptiveSparkPlanExec => nodes(a.executedPlan)
    case s: QueryStageExec => nodes(s.plan)
    case _ => p.children.flatMap(nodes)
  })

  /** The single-child chain under a join side, down to where it ends;
    * an aggregate ends it (its input is a different frame, not the
    * side's rows). */
  private def chain(p: SparkPlan): Seq[SparkPlan] = p +: (p match {
    case s: QueryStageExec => chain(s.plan)
    case _: BaseAggregateExec => Nil
    case _ if p.children.size == 1 => chain(p.children.head)
    case _ => Nil
  })

  /** (sort-merge join sides whose chain ends at a scan matching
    * `isLayoutScan`, how many of those pass an Exchange or Sort). */
  def layoutSides(plan: SparkPlan)(isLayoutScan: SparkPlan => Boolean): (Int, Int) = {
    val sides = nodes(plan).collect { case j: SortMergeJoinExec => j.children }
      .flatten.map(chain).filter(c => isLayoutScan(c.last))
    (sides.size, sides.count(_.exists {
      case _: ShuffleExchangeLike | _: ReusedExchangeExec | _: SortExec => true
      case _ => false
    }))
  }

  /** A scan of a frozen frame with exactly these output columns. */
  def scanOf(cols: String*)(p: SparkPlan): Boolean = p match {
    case r: RDDScanExec => r.output.map(_.name) == cols
    case _ => false
  }
}
