package graft

import org.apache.spark.SparkException
import org.apache.spark.sql.functions._

/** The cartesian guard: unconditioned fact×fact joins are rejected when
  * the suite session optimizes them (the rule every session carries);
  * dim-sized, broadcast-hinted, conditioned, or explicitly-allowed shapes
  * pass. */
class CartesianGuardSpec extends SparkSpec {

  private val sfDir = "/root/testdata/sf0.01"

  // the sf0.01 fixture is smaller than the default 10 MB broadcast
  // threshold (at which size a cartesian is genuinely fine), so the
  // "fact-sized" tests shrink the threshold instead of scanning 100 TB
  private def withThreshold[A](bytes: Int)(f: => A): A = {
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    spark.conf.set(key, bytes.toString)
    try f finally spark.conf.set(key, prev)
  }

  test("fact x fact cross join is rejected") {
    val ev = Tables.events(spark, sfDir)
    val e = intercept[SparkException] {
      withThreshold(1024)(ev.crossJoin(ev).queryExecution.optimizedPlan)
    }
    assert(e.getMessage.contains("cartesian guard"))
  }

  test("broadcast-hinted and scalar-agg cross joins pass") {
    val ev = Tables.events(spark, sfDir)
    val one = ev.agg(count(lit(1)).as("n"))
    withThreshold(1024) {
      ev.crossJoin(broadcast(one)).queryExecution.optimizedPlan
      // un-hinted but dim-sized (1-row aggregate estimate under threshold)
      ev.crossJoin(one).queryExecution.optimizedPlan
    }
  }

  test("conditioned joins and the opt-out config pass") {
    val ev = Tables.events(spark, sfDir)
    ev.as("a").join(ev.as("b"),
      col("a.event_id") === col("b.event_id")).queryExecution.optimizedPlan
    spark.conf.set("spark.graft.allowCartesian", "true")
    try withThreshold(1024)(ev.crossJoin(ev).queryExecution.optimizedPlan)
    finally spark.conf.unset("spark.graft.allowCartesian")
  }

  test("literal-true condition is rejected like a missing one") {
    val ev = Tables.events(spark, sfDir)
    val e = intercept[SparkException] {
      withThreshold(1024)(ev.as("a").join(ev.as("b"), lit(true))
        .queryExecution.optimizedPlan)
    }
    // the optimizer drops a literal-true condition, so the guard sees the
    // unconditioned join it plans as and reports it as one
    assert(e.getMessage.contains("unconditioned"))
  }

  test("a hint buried in a side's sub-join does not vouch for the outer cartesian") {
    // events ⋈ broadcast(dim) is a legitimate hinted sub-join; crossing
    // ITS result with another fact must still trip the guard (the r6
    // advice hole: any-subtree hint detection waved this through)
    val ev = Tables.events(spark, sfDir)
    val dim = Tables.events(spark, sfDir).select("event_id").distinct()
    val side = ev.join(broadcast(dim), "event_id")
    val e = intercept[SparkException] {
      withThreshold(1024)(side.crossJoin(ev).queryExecution.optimizedPlan)
    }
    assert(e.getMessage.contains("cartesian guard"))
    // while a root hint (through a projection) still passes
    withThreshold(1024) {
      ev.crossJoin(broadcast(dim).select("event_id")).queryExecution.optimizedPlan
    }
  }

  test("an unparseable allowCartesian value neither throws nor disables the guard") {
    val ev = Tables.events(spark, sfDir)
    // the user typed "1" meaning true — the guard must not brick every
    // query with toBoolean's IllegalArgumentException, and (fail-safe)
    // must stay ACTIVE for anything that isn't a parseable true
    spark.conf.set("spark.graft.allowCartesian", "1")
    try {
      val e = intercept[SparkException] {
        withThreshold(1024)(ev.crossJoin(ev).queryExecution.optimizedPlan)
      }
      assert(e.getMessage.contains("cartesian guard"))
    } finally spark.conf.unset("spark.graft.allowCartesian")
  }

  test("an inapplicable merge hint does not vouch for a condition-less join") {
    // SHUFFLE_MERGE cannot be honored without join keys — the planner
    // falls back to CartesianProduct, so the hint must NOT pass the guard
    val ev = Tables.events(spark, sfDir)
    val e = intercept[SparkException] {
      withThreshold(1024)(
        ev.hint("merge").crossJoin(ev).queryExecution.optimizedPlan)
    }
    assert(e.getMessage.contains("cartesian guard"))
  }

  test("a cartesian inside an EXISTS subquery is rejected too") {
    val ev = Tables.events(spark, sfDir)
    ev.createOrReplaceTempView("guard_ev")
    val q = spark.sql(
      """SELECT * FROM guard_ev g WHERE EXISTS (
        |  SELECT 1 FROM guard_ev a CROSS JOIN guard_ev b
        |  WHERE a.value = g.value)""".stripMargin)
    val e = intercept[SparkException] {
      withThreshold(1024)(q.queryExecution.optimizedPlan)
    }
    assert(e.getMessage.contains("cartesian guard"))
  }

  test("using-column joins and crossJoin(..).filter(eq) over the threshold pass") {
    // Dataset.join(right, usingColumns) analyzes a condition-less Join
    // first; the optimized plan the guard reads carries the equi-condition
    val ev = Tables.events(spark, sfDir)
    val users = Tables.orders(spark, sfDir).withColumnRenamed("o_custkey", "user_id")
    val ids = ev.select("event_id", "user_id")
    withThreshold(1024) {
      Seq(ev.join(ev, Seq("event_id")), ev.join(ev, "event_id"),
        ev.join(users, Seq("user_id")), ev.join(users, "user_id"),
        ev.join(ids, Seq("event_id")), ev.join(ids, "event_id"),
        ev.crossJoin(users).filter(ev("user_id") === users("user_id")))
        .foreach(_.queryExecution.optimizedPlan)
    }
  }
}
