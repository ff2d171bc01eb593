package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session per suite (guide: one SparkSession per suite). */
trait SparkSpec extends AnyFunSuite {
  // local[4, 2]: allow ONE task retry, like any real cluster
  // (spark.task.maxFailures defaults to 4 there; plain local[4] pins it
  // to 1, which makes task-retry behavior untestable — TaskRetrySpec
  // injects once-failing tasks into the state-fold write paths). Guard
  // exceptions are planning-time, so intercept-based specs see no retry.
  lazy val spark: SparkSession = SparkSession.builder()
    .master("local[4, 2]")
    .appName(getClass.getSimpleName)
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.warehouse.dir", "/tmp/graft_warehouse")
    .getOrCreate()

  val sf: String = "/root/testdata/sf0.001"

  /** Executed plans of every SQL execution `body` runs, eager
    * materializations included — a frozen frame's own plan no longer
    * shows the joins that built it. */
  def executedPlans(body: => Unit): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[SparkPlan]())
    val listener = new org.apache.spark.sql.util.QueryExecutionListener {
      override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
      override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      body
      org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    plans.toArray(Array.empty[SparkPlan]).toSeq
  }

  /** The sides of `plan`'s shuffled joins that scan catalog `table`
    * with no other join in between — the corpus-sized side of a
    * persisted index. */
  def tableJoinSides(plan: org.apache.spark.sql.execution.SparkPlan,
                     table: String): Seq[org.apache.spark.sql.execution.SparkPlan] = {
    import org.apache.spark.sql.execution.{FileSourceScanExec, SparkPlan}
    import org.apache.spark.sql.execution.joins.{BaseJoinExec, ShuffledJoin}
    def scans(p: SparkPlan): Boolean = p match {
      case s: FileSourceScanExec => s.tableIdentifier.exists(_.table == table)
      case _: BaseJoinExec => false
      case _ => p.children.exists(scans)
    }
    plan.collect { case j: ShuffledJoin => Seq(j.left, j.right) }.flatten.filter(scans)
  }

  /** Shuffle exchanges between a scan of catalog `table` and the join
    * that consumes it — the index side that must never move. */
  def tableSideShuffles(plan: org.apache.spark.sql.execution.SparkPlan,
                        table: String): Seq[org.apache.spark.sql.execution.SparkPlan] =
    tableJoinSides(plan, table).flatMap(_.collect {
      case e: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => e
    })

  /** Runs `body` with broadcast joins and AQE off: at fixture scale
    * Catalyst would broadcast a persisted index that is corpus-sized in
    * production, so plan pins take the shuffle-join path. */
  def withShuffleJoins[A](body: => A): A = {
    val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    try body
    finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }
}
