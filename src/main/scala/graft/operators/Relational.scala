package graft.operators

import graft.Tables
import graft.functions.SortedFolds
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.plans.Eager.EagerOps

/** Relational core (SURVEY §2.3 E-SCAN…E-SET, E-WIN, E-TOPK, E-DATE,
  * E-MATH, E-STR families).
  *
  * Every query here is the declarative logical plan only — strategy choice
  * (broadcast vs shuffle join, partial aggregation, pushdown) is left to
  * Catalyst/AQE, mirroring SURVEY §4: the reference's hand-applied orderings
  * (cheap filter before NMS, `main.py:111→125`) are free under Catalyst.
  *
  * Determinism rules shared with the DuckDB oracle:
  *   - every query ends in a total ORDER BY;
  *   - float aggregates are rounded (2 or 4 dp) on both sides;
  *   - derived integer columns are cast to BIGINT to match DuckDB's wider
  *     default integer results.
  *
  * Known cross-engine semantic boundaries (r11 oracle audit) — classes
  * where Spark and DuckDB are each internally deterministic but disagree
  * on some inputs OUTSIDE the fixture domain; each is a declared-
  * semantics decision, not an open bug:
  *   - round(double, n) ties and double→DECIMAL casts: Spark resolves
  *     x.xx5-adjacent doubles via shortest-repr + HALF_UP, DuckDB
  *     differs in both directions (verified: round(71.085, 2) → 71.09
  *     Spark / 71.08 DuckDB). The fixture's money values are exact 2-dp
  *     doubles, where both agree; the engine's declared semantics is
  *     Spark's. Sums avoid the class entirely via the dec2 discipline
  *     below — only round-of-raw-double outputs carry it.
  *   - upper/lower on non-ASCII: the engine uses JVM full Unicode case
  *     mapping (ß→SS, İ→i̇); DuckDB maps one-to-one (ß→ẞ). ASCII inputs
  *     agree; the engine's declared semantics is the JVM's.
  *   - libm pow/ln/exp: not correctly rounded on either side; a 1-ulp
  *     cross-libm difference can cross a round(…, n) grid boundary
  *     (adjudicated per-query where it appears: q_wsample, q_moments,
  *     q_lm_score, q_dsir, q_auc).
  * Integer hash/arithmetic divergences in this class were FIXED, not
  * declared: every Knuth fold mirrors pmod in SQL, minhash/simhash fold
  * codes to exact mathematical mod, and oracle-side BIGINT products are
  * HUGEINT-widened to match the engine's decimal(38,0) widening.
  */
object Relational {

  /** Money / measure columns are 2-dp values stored as DOUBLE. Summing them
    * as doubles is accumulation-order-dependent (Spark's partial aggregates
    * vs DuckDB's single pass differ in the last ulp), which flips 2-dp
    * rounding at .xx5 boundaries. So every SUM over money goes through exact
    * DECIMAL arithmetic — round happens on the exact decimal, then the
    * result is cast back to DOUBLE for a stable, engine-neutral compare.
    * The oracle SQL applies the identical CAST/round/CAST sequence. */
  private def dec2(c: Column): Column = c.cast("decimal(18,2)")
  private val oneDec: Column = lit(1).cast("decimal(18,2)")
  /** exact Σ price*(1-discount), rounded to 2 dp, as double */
  private def netRevenue(price: Column, discount: Column): Column =
    round(sum(dec2(price) * (oneDec - dec2(discount))), 2).cast("double")
  /** exact Σ of a 2-dp money column, rounded, as double */
  private def moneySum(c: Column): Column = round(sum(dec2(c)), 2).cast("double")

  /** E-SCAN + E-PROJ: arithmetic, cast, when/otherwise projection.
    * Reference analog: box-coordinate scaling `main.py:112-118` and the
    * threshold flag `main.py:232-233`.
    *
    * The production shape is the projection (narrow, no exchange); the
    * total ORDER BY exists purely for oracle determinism, and the bench
    * form drops it (`SparkEntry.benchShapes`). */
  def scanProject(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(dec2(col("l_extendedprice")) * (oneDec - dec2(col("l_discount"))), 2)
          .cast("double").as("net_price"),
        (col("l_quantity") > 25).cast("int").cast("long").as("bulk"),
        when(col("l_returnflag") === "R", lit("returned")).otherwise(lit("kept")).as("status"))
      .orderBy("l_orderkey", "l_linenumber", "net_price", "bulk", "status")

  /** E-FILT: conjunctive predicates — BETWEEN, IN, timestamp compare.
    * Reference analog: conf/class gates `main.py:111, 210-211`. */
  def filterPredicates(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_quantity").between(10, 30)
        && col("l_returnflag").isin("R", "A")
        && col("l_shipdate") >= lit("1996-01-01").cast("timestamp")
        && col("l_discount") =!= 0.0)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .orderBy("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")

  /** E-AGG: TPC-H Q1-shaped hash aggregate (partial+final under the hood).
    * Reference analog: per-frame person count `main.py:226`. */
  def aggPricingSummary(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .filter(col("l_shipdate") <= lit("2001-09-02").cast("timestamp"))
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        round(sum("l_quantity"), 2).as("sum_qty"),
        moneySum(col("l_extendedprice")).as("sum_base_price"),
        netRevenue(col("l_extendedprice"), col("l_discount")).as("sum_disc_price"),
        round(sum("l_quantity") / count(lit(1)), 2).as("avg_qty"),
        round(sum(dec2(col("l_discount"))).cast("double") / count(lit(1)), 4).as("avg_disc"),
        count(lit(1)).as("count_order"))
      .orderBy("l_returnflag", "l_linestatus")

  /** E-AGG: exact count-distinct (the HLL `approx_count_distinct` twin is
    * bench/test-only — sketches can't hash-match an oracle). */
  def aggDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct("user_id").as("n_users"),
        count(lit(1)).as("n_events"),
        moneySum(col("value")).as("total_value"),
        round(min("value"), 2).as("min_value"),
        round(max("value"), 2).as("max_value"))
      .orderBy("event_type")

  /** E-JOIN-BC: fact × small dim with an explicit broadcast hint — the
    * engine form of the class-dim lookup `main.py:211, 240` (80-row dim).
    * part is ≤ 200k rows even at sf100; always broadcastable. */
  def joinBroadcast(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(broadcast(Tables.part(spark, dir)), col("l_partkey") === col("p_partkey"))
      .groupBy("p_brand")
      .agg(
        netRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"),
        count(lit(1)).as("n_items"))
      .orderBy("p_brand")

  /** E-JOIN-SM: large × large equi join — shuffle exchange on the key, AQE
    * free to pick SMJ/SHJ. 100 TB mandate (SURVEY §2.2 "no evidence" note). */
  def joinShuffle(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_lines"),
        moneySum(col("l_extendedprice")).as("sum_price"))
      .orderBy("o_orderpriority")

  /** Multi-way join: customer⋈orders⋈lineitem⋈supplier⋈nation⋈region
    * (TPC-H Q5 shape) — revenue per nation in one region/year. Exercises
    * join reorder + mixed broadcast/shuffle strategies. */
  def joinMultiway(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"))
      .join(Tables.lineitem(spark, dir), col("o_orderkey") === col("l_orderkey"))
      .join(Tables.supplier(spark, dir),
        col("l_suppkey") === col("s_suppkey") && col("c_nationkey") === col("s_nationkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .filter(col("o_orderdate") >= lit("1996-01-01").cast("timestamp")
        && col("o_orderdate") < lit("1999-01-01").cast("timestamp"))
      .groupBy("r_name", "n_name")
      .agg(netRevenue(col("l_extendedprice"), col("l_discount")).as("revenue"))
      .orderBy("r_name", "n_name")

  /** E-JOIN-SEMI: EXISTS — customers that placed at least one order.
    * Reference analog: authenticate() point-lookup `views.py:27` (V4). */
  def joinSemi(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(Tables.orders(spark, dir), col("c_custkey") === col("o_custkey"), "left_semi")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** E-JOIN-ANTI: NOT EXISTS — customers with no orders in 1997H1.
    * The probe side is date-sliced BEFORE the anti-join (r12 verdict
    * task #2: the unfiltered form returned 0 rows at every SF — both
    * engines agreeing on an empty set verified nothing). The filter
    * lives under the join, so the plan is still a plain LeftAnti with
    * a pushed scan predicate — exactly the shape being tested, now
    * with non-vacuous output (701 rows at sf0.01). */
  def joinAnti(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .join(
        Tables.orders(spark, dir)
          .filter(col("o_orderdate") >= lit("1997-01-01").cast("timestamp")
            && col("o_orderdate") < lit("1997-07-01").cast("timestamp")),
        col("c_custkey") === col("o_custkey"), "left_anti")
      .select("c_custkey", "c_name")
      .orderBy("c_custkey")

  /** E-AGG-SETS: rollup region → nation revenue (historical trend analysis,
    * paper p.1). Rollup nulls are coalesced to 'ALL' so the oracle compare
    * is unambiguous and ordering is null-free. */
  def aggRollup(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      // Pre-aggregate to the finest grouping-set grain BEFORE the rollup:
      // SUM (exact decimal — reassociation-safe) and COUNT re-aggregate,
      // so Expand runs over ~125 (region, nation) partials instead of
      // 600k joined rows. At 100 TB this is the difference between
      // tripling the fact table through Expand and tripling a dim-sized
      // aggregate. Rounding happens on the final total, as before.
      .groupBy(col("r_name").as("rname"), col("n_name").as("nname"))
      .agg(sum(dec2(col("l_extendedprice")) * (oneDec - dec2(col("l_discount")))).as("rev"),
        count(lit(1)).as("cnt"))
      // The rollup goes through spark.sql: Dataset-API rollup tags grouping
      // attrs with dataset plan ids, and the Expand's duplicated attributes
      // then false-positive Spark's DetectAmbiguousSelfJoin check. SQL text
      // has no plan-id metadata; the physical plan (single-scan Expand +
      // hash agg) is identical.
      .transform { base =>
        Tables.withTempViews(base.sparkSession, "graft_rollup_base" -> base) { v =>
          base.sparkSession.sql(
            s"""SELECT * FROM (
              |  SELECT coalesce(rname, 'ALL') AS region, coalesce(nname, 'ALL') AS nation,
              |    CAST(grouping(rname) * 2 + grouping(nname) AS BIGINT) AS gid,
              |    CAST(round(sum(rev), 2) AS DOUBLE) AS revenue,
              |    CAST(sum(cnt) AS BIGINT) AS n_items
              |  FROM ${v("graft_rollup_base")}
              |  GROUP BY ROLLUP(rname, nname)) t
              |ORDER BY region, nation""".stripMargin)
        }
      }

  /** E-AGG-SETS: cube over returnflag × linestatus. Pre-aggregated to the
    * finest grain first (6 groups) so Expand quadruples partials, not the
    * fact table — safe because COUNT re-aggregates and l_quantity is
    * integer-valued, making its double sums exact under reassociation. */
  def aggCube(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag", "l_linestatus")
      .agg(count(lit(1)).as("cnt"), sum("l_quantity").as("qty"))
      .cube("l_returnflag", "l_linestatus")
      .agg(sum("cnt").as("n"), round(sum("qty"), 2).as("sum_qty"))
      .na.fill("ALL", Seq("l_returnflag", "l_linestatus"))
      .withColumnRenamed("l_returnflag", "returnflag")
      .withColumnRenamed("l_linestatus", "linestatus")
      .orderBy("returnflag", "linestatus")

  /** E-WIN ranking + per-group E-TOPK: top-3 orders per customer.
    * Reference analog: `.topk` over CLIP similarities `main.py:80-81`. */
  def windowTopkPerGroup(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy(col("o_totalprice").desc, col("o_orderkey"))
    Tables.orders(spark, dir)
      .withColumn("rn", row_number().over(w).cast("long"))
      .filter(col("rn") <= 3)
      .select("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  /** E-UDAF twin of windowTopkPerGroup: the same per-customer top-3, but
    * through the typed TopKAggregator — bounded k-row buffers with
    * map-side partial merge instead of a full per-group sort. Oracle SQL
    * is identical to q_win_topk. */
  def topkAggregator(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    import graft.functions.{Scored, TopKAggregator}
    val topk = TopKAggregator(3)
    // null key/score/id fail LOUDLY with a named error (the GreedyNmsPlan
    // null-geometry discipline) instead of the tuple encoder's generic
    // NOT_NULL_ASSERT_VIOLATION; a null score cannot rank and a null key
    // cannot group — filter or impute upstream. (The window twin
    // q_win_topk keeps SQL null semantics, like every SQL-form operator.)
    def req(c: Column, what: String, tpe: String): Column = coalesce(c,
      raise_error(lit(s"topkAggregator: null $what — inputs must be " +
        "non-null (filter or impute upstream)")).cast(tpe))
    Tables.orders(spark, dir)
      .select(req(col("o_custkey"), "o_custkey", "bigint"),
        req(col("o_totalprice"), "o_totalprice", "double"),
        req(col("o_orderkey"), "o_orderkey", "bigint"))
      .as[(Long, Double, Long)]
      .groupByKey(_._1)
      .mapValues(r => Scored(r._2, r._3))
      .agg(topk.toColumn)
      .flatMap { case (cust, top) =>
        top.zipWithIndex.map { case (s, i) => (cust, (i + 1).toLong, s.id, s.score) }
      }
      .toDF("o_custkey", "rn", "o_orderkey", "o_totalprice")
      .orderBy("o_custkey", "rn")
  }

  /** E-WIN analytic `lag` = the batch form of the edge-triggered alarm latch
    * (`main.py:171-185`): emit exactly the rows where `fire` rises F→T.
    * Streaming form lives in graft.streaming.AlarmLatch (E-STATE). */
  def windowAlarmEdge(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .withColumn("fire", col("value") > 150)
      .withColumn("prev", lag(col("fire"), 1).over(w))
      .filter(col("fire") && !coalesce(col("prev"), lit(false)))
      .select("user_id", "event_id")
      .orderBy("user_id", "event_id")
  }

  /** E-WIN frames: running sum (unbounded preceding) + moving average
    * (3-row window) of order totals per customer. */
  def windowFrames(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    // RANGE frame needs a single numeric ordering key; value-based frames
    // include ALL order-date ties, so the result is deterministic even
    // though the tie ORDER isn't — 30 trailing days of spend per customer.
    val wr = Window.partitionBy("o_custkey")
      .orderBy(unix_timestamp(col("o_orderdate")))
      .rangeBetween(-30L * 86400, 0)
    Tables.orders(spark, dir)
      .select(
        col("o_custkey"), col("o_orderkey"),
        round(sum(dec2(col("o_totalprice"))).over(w.rowsBetween(Window.unboundedPreceding, 0)), 2)
          .cast("double").as("running_total"),
        round(sum(dec2(col("o_totalprice"))).over(w.rowsBetween(-2, 0)), 2)
          .cast("double").as("moving_sum3"),
        round(sum(dec2(col("o_totalprice"))).over(wr), 2)
          .cast("double").as("trailing_30d"))
      .orderBy("o_custkey", "o_orderkey", "running_total")
  }

  /** E-TOPK global: `TakeOrderedAndProject` — no total sort at scale. */
  def topkGlobal(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .limit(10)
      .select("o_orderkey", "o_custkey", "o_totalprice")

  /** E-SORT: full multi-key sort (range-partitioned exchange at scale). */
  def sortMultiKey(spark: SparkSession, dir: String): DataFrame =
    // high_val is genuinely nullable (null for value <= 90), so the null
    // placement is explicit on BOTH engines: Spark's desc defaults to
    // nulls-last but DuckDB's default null order is a server setting —
    // spelling desc_nulls_last / DESC NULLS LAST pins it (E-SORT claim).
    Tables.events(spark, dir)
      .select(col("event_type"), col("user_id"), col("value"), col("event_id"),
        when(col("value") > 90, col("value")).as("high_val"))
      .orderBy(col("event_type").asc, col("high_val").desc_nulls_last,
        col("value").desc, col("event_id").asc)

  /** E-SET: intersect / except / union with a branch tag — user cohorts by
    * event type (multi-camera union analog, paper p.3). */
  def setOps(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click").select("user_id")
    val purchases = ev.filter(col("event_type") === "purchase").select("user_id")
    val both = clicks.intersect(purchases).withColumn("tag", lit("both"))
    val clickOnly = clicks.except(purchases).withColumn("tag", lit("click_only"))
    val purchaseOnly = purchases.except(clicks).withColumn("tag", lit("purchase_only"))
    both.unionByName(clickOnly).unionByName(purchaseOnly)
      .select("tag", "user_id")
      .orderBy("tag", "user_id")
  }

  /** E-DATE: calendar breakdown + interval arithmetic over order dates. */
  def dateBreakdown(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .filter(col("o_orderdate") >= lit("1995-01-01").cast("timestamp") + expr("INTERVAL 90 DAYS"))
      .groupBy(
        year(col("o_orderdate")).cast("long").as("yr"),
        month(col("o_orderdate")).cast("long").as("mo"))
      .agg(count(lit(1)).as("n_orders"), moneySum(col("o_totalprice")).as("total"))
      .orderBy("yr", "mo")

  /** E-DATE parts: day-of-week × hour-of-day activity heatmap over events
    * ("historical trend analysis", paper p.1). Spark dayofweek is
    * Sunday=1; the oracle maps DuckDB's Sunday=0 with +1. */
  def dateParts(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(
        dayofweek(col("ts")).cast("long").as("dow"),
        hour(col("ts")).cast("long").as("hr"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .orderBy("dow", "hr")

  /** E-MAP: MapType surface — parse `props` as MAP<STRING,INT>, then
    * map_keys/map_values/element_at/map_concat. Output columns are scalars
    * only (the key/value arrays go through array_join): the driver's
    * pandas-based comparator cannot sort ARRAY-typed cells, so array
    * outputs error in the harness even when values agree. */
  def mapFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.MapType(
          org.apache.spark.sql.types.StringType, org.apache.spark.sql.types.IntegerType)).as("m"))
      .select(
        col("event_id"),
        array_join(map_keys(col("m")), ",").as("keys_csv"),
        array_join(map_values(col("m")).cast("array<string>"), ",").as("vals_csv"),
        // try_element_at, not element_at: under ANSI mode a valid-JSON
        // payload WITHOUT "k" (the at-scale garbling corruptQuarantine
        // documents) would abort the job with MAP_KEY_DOES_NOT_EXIST —
        // the isNotNull filter below expects the null-degrade semantics
        expr("try_element_at(m, 'k')").cast("long").as("k_val"),
        size(map_concat(col("m"), map(lit("extra"), lit(1)))).cast("long").as("n_concat"))
      .filter(col("k_val").isNotNull)
      .orderBy("event_id")

  /** E-MATH: sqrt/exp/ln/pow/abs/round — the scalar pieces of softmax and
    * L2-normalize (`main.py:78-79`), checked on relational columns.
    *
    * Accepted knife-edge (r11 review adjudication): exp/ln are not
    * IEEE-correctly-rounded, so JVM libm and DuckDB's std::exp may
    * legally differ by 1 ulp, and round(·,4) could then flip a 4th
    * decimal when a value sits exactly on a rounding boundary — a
    * per-row exposure that would fail the hash compare. Empirically the
    * pair has matched bit-for-bit at every sf through eleven rounds
    * (incl. the full sf0.1 sweep), the inputs are 2-dp-quantized so the
    * boundary set is sparse, and there is no portable exact formulation
    * of exp/ln to swap in — if this ever flips, re-adjudicate to a
    * rows-only check rather than chasing libm. sqrt and the integer pow
    * ARE correctly rounded and carry no such risk. */
  def mathScalars(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select(
        col("l_orderkey"), col("l_linenumber"),
        round(sqrt(col("l_extendedprice")), 4).as("sqrt_price"),
        round(exp(col("l_discount")), 4).as("exp_disc"),
        round(log(col("l_extendedprice")), 4).as("ln_price"),
        round(pow(col("l_quantity"), 2), 2).as("qty_sq"),
        abs(round(col("l_tax") - col("l_discount"), 4)).as("abs_diff"))
      .orderBy("l_orderkey", "l_linenumber", "sqrt_price", "exp_disc", "ln_price",
        "qty_sq", "abs_diff")

  /** E-MAP/JSON: extract typed field from the `props` JSON payload
    * (`events.props`, FIXTURES.md) and aggregate on it. */
  def jsonExtract(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .select(col("event_id"),
        from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT"))
          .getField("k").cast("long").as("k"),
        // path-extraction twin (E-MAP/JSON claim): string-typed JSONPath
        // lookup without a declared schema — both forms must agree
        get_json_object(col("props"), "$.k").cast("long").as("k2"))
      .filter(col("k").isNotNull)
      .groupBy((col("k") % 10).as("k_bucket"))
      .agg(count(lit(1)).as("n"), sum("k").as("sum_k"),
        sum(when(col("k2") === col("k"), 0L).otherwise(1L)).as("n_mismatch"))
      .orderBy("k_bucket")

  /** Flagship (SURVEY §7.3) — "when is an area crowded?" on events:
    * tumbling 1-day window count per user above the reference's crowd
    * threshold of 3 (`main.py:226-233` spine: filter → windowed count →
    * threshold). */
  def crowdAlert(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .filter(col("event_type") =!= "error")
      .groupBy(window(col("ts"), "1 day"), col("user_id"))
      .agg(count(lit(1)).as("n_events"))
      .filter(col("n_events") > 3)
      .select(unix_timestamp(col("window.start")).as("win_start"), col("user_id"), col("n_events"))
      .orderBy("win_start", "user_id")

  /** E-WATERMARK batch twin (q_watermark): Structured Streaming's
    * late-data drop rule under a DETERMINISTIC replay, oracle-checkable —
    * the one streaming semantic that previously had spec-only coverage
    * (r8 verdict "what's missing" #2).
    *
    * Replay model: arrival order is event-time order plus bounded jitter
    * (arr = epoch(ts) + hash(event_id) mod 3600 − 1800 — the Knuth-hash
    * idiom, same draw both engines); the watermark after each arrival is
    * max(event time seen so far) − 10 min, and an event is DROPPED iff
    * its 10-min tumbling window has already closed (window_end ≤
    * watermark at arrival) — exactly when a streaming windowed aggregate
    * discards it. ~45% of fixture events arrive late enough to drop, so
    * the rule is exercised both ways. Output: kept-event count per
    * (event_type, window).
    *
    * Scale shape: the running max over arrival order is a prefix
    * aggregation, so it uses the q_auc two-level recipe instead of one
    * unpartitioned fact window — arrival-day block maxima take the
    * ordered window over the BLOCK frame (calendar-bounded), the exact
    * per-row prefix max is block offset (broadcast) + a within-block
    * window PARTITIONED by block. The hash multiply stays in ANSI-safe
    * long range up to ~3.5e9 events; past that, route the mix through
    * the 128-bit-safe TokenCode/xxhash path. */
  def watermarkReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("arr", replayArrival(col("sec"), col("event_id")))
    runningWatermarkOn(ev, delaySec = 600L)
      .withColumn("w_start", expr("sec div 600") * 600)
      .filter(col("w_start") + 600 > col("wm"))
      .groupBy("event_type", "w_start")
      .agg(count(lit(1)).as("n_kept"))
      .orderBy("event_type", "w_start")
  }

  /** The q_watermark deterministic arrival permutation: event time plus
    * a Knuth-hash jitter in [−1800, 1800) seconds keyed on event_id.
    * This is the ONE definition every replay twin shares — q_watermark,
    * q_latch_replay, and q_session_replay all claim "the same arrival
    * permutation", and ReplayTwinsSpec's streaming diffs rest on it, so
    * a drift in any inlined copy would silently break the cross-query
    * equivalence. The event_id folds to [0, 2³¹−1) before the multiply
    * (the Curation.knuthFold overflow rule, r11 — identity for every
    * fixture id): a raw id past ~3.48e9 would wrap on Spark and raise on
    * DuckDB, so the old form was only ANSI-safe to ~3.5e9 events. */
  private[graft] def replayArrival(sec: Column, eventId: Column): Column =
    sec + pmod(Curation.knuthFold(eventId) * lit(2654435761L), lit(3600L)) - 1800L

  /** Running watermark in force when each row is PROCESSED under the
    * replay: max event time over STRICTLY earlier arrivals − delay
    * (Spark computes the watermark from data through the previous
    * micro-batch). Shared by [[watermarkReplay]] and [[sessionReplayOn]].
    *
    * Scale shape: the q_auc two-level prefix recipe — arrival-day block
    * maxima take the ordered window over the BLOCK frame
    * (calendar-bounded), the exact per-row prefix max is block offset
    * (broadcast) + a within-block window PARTITIONED by block; no
    * unpartitioned fact window. Input needs (event_id, sec, arr);
    * output adds `wm` and keeps every input column. */
  private[graft] def runningWatermarkOn(ev: DataFrame, delaySec: Long): DataFrame = {
    // sentinel well below any epoch (and overflow-safe under − delay)
    // for "no arrivals yet": the global first arrival has no watermark
    val noWm = -1000000000000L
    val blocked = ev.withColumn("blk", expr("arr div 86400"))
    val wBlk = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val offsets = blocked.groupBy("blk").agg(max("sec").as("bmax"))
      .withColumn("off", max(col("bmax")).over(wBlk))
      .select(col("blk"), col("off"))
    val wIn = Window.partitionBy("blk").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    blocked
      .withColumn("inmax", max(col("sec")).over(wIn))
      .join(broadcast(offsets), "blk")
      .withColumn("wm", greatest(coalesce(col("inmax"), lit(noWm)),
        coalesce(col("off"), lit(noWm))) - delaySec)
      .drop("blk", "inmax", "off")
  }

  /** q_latch_replay: the ARRIVAL-ORDER batch twin of the streaming alarm
    * latch (AlarmLatch, `main.py:171-185`) — q_win_edge
    * answers "where does fire rise in EVENT-time order", this answers
    * what the latch actually EMITS when the feed is out of order: signals
    * replay one-per-micro-batch in the q_watermark deterministic arrival
    * permutation, and the latch fires on each F→T edge in that order
    * (the latch keys no watermark and no timeout, so arrival order is
    * the only thing that matters). ReplayTwinsSpec pins this formulation
    * against a real AlarmLatch run on the same replay.
    *
    * Scale shape: one lag window PARTITIONED by the latch key — state per
    * key like the streaming original, never a global sort. */
  def latchReplay(spark: SparkSession, dir: String): DataFrame =
    latchReplayOn(Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        (col("value") > 150).as("fire"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("arr", replayArrival(col("sec"), col("event_id"))))
      .select("user_id", "event_id", "arr")
      .orderBy("user_id", "event_id")

  /** Core of [[latchReplay]] on a prepared (user_id, event_id, arr, fire)
    * frame — separated so ReplayTwinsSpec can drive the SAME formulation
    * over a synthetic replay and diff it against the streaming latch. */
  private[graft] def latchReplayOn(sig: DataFrame): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("arr", "event_id")
    sig.withColumn("prev", lag(col("fire"), 1).over(w))
      .filter(col("fire") && !coalesce(col("prev"), lit(false)))
  }

  /** q_session_replay: the batch twin of [[graft.streaming.StreamOps
    * .sessionFinalize]]'s idle-timeout EVICTION under the q_watermark
    * deterministic replay — which closed sessions does the stateful
    * finalizer emit when events arrive one-per-micro-batch in the hashed
    * arrival permutation, with watermark delay 10 min and idle gap
    * 30 min. Replays the full contract: late rows (event time at or below
    * the watermark at arrival) never reach the state; a session CLOSES when
    * the watermark passes its end + gap, so the user's next kept row
    * starts a fresh session; still-open sessions at end of stream are
    * withheld (exactly-once emission on eviction only).
    *
    * Why this is window-expressible at all: the accumulator's
    * session-local max equals the user's GLOBAL running max over kept
    * rows — every kept row of a later session exceeds every earlier
    * session's end, because keeping it requires sec ≥ watermark and the
    * split required watermark > end + gap (proof in ReplayTwinsSpec,
    * which pins this against a real sessionFinalize run). So the fold
    * linearizes: split iff prev-max + gap < watermark-at-arrival.
    *
    * Scale shape: the q_auc two-level prefix max for the watermark
    * (unpartitioned window only over the arrival-day block frame); both
    * per-user windows are user-partitioned; the final watermark is a
    * one-row broadcast. */
  def sessionReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("arr", replayArrival(col("sec"), col("event_id")))
    sessionReplayOn(ev, delaySec = 600L, gapSec = 1800L)
      .orderBy("user_id", "session_start_sec")
  }

  /** Core of [[sessionReplay]] on a prepared (event_id, user_id, sec, arr)
    * frame — separated so the spec can drive the SAME logic over a
    * synthetic replay and diff it against the real streaming operator. */
  private[graft] def sessionReplayOn(ev: DataFrame, delaySec: Long,
                                     gapSec: Long): DataFrame = {
    val withWm = runningWatermarkOn(ev, delaySec)
    // late filter: rows at or below the watermark never reach the state
    // (STRICT — ReplayTwinsSpec pinned that a row with sec == wm is
    // dropped by the real operator)
    val kept = withWm.filter(col("sec") > col("wm"))
    val wu = Window.partitionBy("user_id").orderBy("arr", "event_id")
    val marked = kept
      .withColumn("m_prev", max(col("sec"))
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)))
      // session closed before this row iff the watermark strictly passed
      // its deadline (end + gap) — end ≡ the user's running kept-max
      .withColumn("new_sess", col("m_prev").isNull
        || col("m_prev") + gapSec < col("wm"))
      .withColumn("sess_id", sum(when(col("new_sess"), 1L).otherwise(0L))
        .over(wu.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val fw = ev.agg((max("sec") - delaySec).as("fwm"))
    marked.groupBy("user_id", "sess_id")
      .agg(min("sec").as("session_start_sec"),
        max("sec").as("session_end_sec"),
        count(lit(1)).as("n_events"))
      .crossJoin(broadcast(fw))
      // eviction = emission: only sessions whose deadline the FINAL
      // watermark strictly passed ever produce a row
      .filter(col("session_end_sec") + gapSec < col("fwm"))
      .select("user_id", "session_start_sec", "session_end_sec", "n_events")
  }

  /** q_attr_replay: the batch twin of [[graft.streaming.AttributionV2]]'s
    * TTL-expiring last-touch attribution under the q_watermark
    * deterministic replay — the LAST spec-only stateful operator to gain a
    * DuckDB-checked row (q_attribution covers the event-time fold;
    * this covers what TTL eviction does to it under out-of-order arrival).
    *
    * Replay model: events arrive one-per-micro-batch in the shared
    * [[replayArrival]] permutation, and the replay's processing clock IS
    * the arrival stamp (seconds granularity — the same contract as the
    * other twins; the processor compares milliseconds, which coincides on
    * whole-second fixtures). The processor calls `state.update` on EVERY
    * row of a user — clicks, purchases and bystander types alike — so the
    * per-state TTL refreshes on every arrival, and expiry happens exactly
    * when a user's consecutive-ARRIVAL gap exceeds the ttl. That makes
    * eviction value-independent, so the fold segments: a gap > ttl starts
    * a fresh segment with empty state (the islands trick on the arrival
    * axis), and within a segment the state is the max-(event-time, id)
    * click over strictly earlier arrivals. A purchase credits that state
    * iff it exists and is strictly earlier than the purchase itself in
    * (event-time, id) order — the processor's late-purchase guard.
    *
    * Scale shape: every window is user-partitioned (state per key, like
    * the streaming original); no global sort, no unpartitioned window.
    * The (sec, event_id) click key is packed into one BIGINT
    * (sec·10⁷ + id) so the running max stays a primitive long both here
    * and in the oracle; the pack is exact while event_id < 10⁷ — beyond
    * that (real 100 TB feeds) swap the packed max for `max_by(struct)`,
    * which trades oracle parity for unbounded ids. */
  def attrReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("arr", replayArrival(col("sec"), col("event_id")))
    attrReplayOn(ev, ttlSec = 28800L).orderBy("purchase_id")
  }

  /** Core of [[attrReplay]] on a prepared (event_id, user_id, event_type,
    * sec, arr) frame — separated so ReplayTwinsSpec can drive the SAME
    * formulation over a synthetic replay and diff it against a real
    * AttributionV2 run (ttl disabled ⇒ no segmentation) and against an
    * imperative fold with the replay clock (finite ttl). */
  private[graft] def attrReplayOn(ev: DataFrame, ttlSec: Long): DataFrame = {
    val enc = lit(10000000L)
    val wArr = Window.partitionBy("user_id").orderBy("arr", "event_id")
    val wSeg = Window.partitionBy("user_id", "seg").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    ev
      .withColumn("prev_arr", lag(col("arr"), 1).over(wArr))
      .withColumn("new_seg",
        col("prev_arr").isNull || col("arr") - col("prev_arr") > ttlSec)
      .withColumn("seg", sum(when(col("new_seg"), 1L).otherwise(0L))
        .over(wArr.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("best", max(when(col("event_type") === "click",
        col("sec") * enc + col("event_id"))).over(wSeg))
      .filter(col("event_type") === "purchase" && col("best").isNotNull
        && col("best") < col("sec") * enc + col("event_id"))
      .select(col("user_id"), col("event_id").as("purchase_id"),
        (col("best") % enc).as("click_id"),
        (col("sec") - expr("best div 10000000")).as("latency_s"))
  }

  /** q_funnel_replay: the batch twin of [[graft.streaming.StreamOps
    * .funnelStages]]'s ordered-sequence matcher under the q_watermark
    * deterministic replay — the last stateful operator with spec-only
    * coverage to gain a DuckDB-checked row. q_funnel answers "who
    * converted in EVENT-time order"; this answers what the bounded-state
    * stream matcher actually reports when the feed is out of order.
    *
    * Replay model: one event per micro-batch in the shared
    * [[replayArrival]] permutation (ties broken by event_id, the
    * contract every twin shares). The matcher's state is three
    * timestamps that only ever move EARLIER, so the fold linearizes per
    * user in arrival order: the view state is the running min of view
    * times over strictly earlier arrivals; a click is ACCEPTED iff it is
    * strictly after that view state at its own arrival (a click rejected
    * for lack of a known view is never revisited — the bounded-state
    * tradeoff documented on the operator); the click state is the
    * running min of accepted clicks; a purchase is accepted iff strictly
    * after the click state at its arrival. Output: each user's final
    * reached stage with the three state timestamps (null = never set) —
    * exactly the matcher's state at end of stream, which is also its
    * last update-mode emission for that user (ReplayTwinsSpec pins this
    * against a real funnelStages run on the same replay).
    *
    * Scale shape: both windows are user-partitioned with the same
    * (arr, event_id) order — one exchange, state per key like the
    * streaming original; no global sort, no unpartitioned window. */
  def funnelReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("arr", replayArrival(col("sec"), col("event_id")))
    funnelReplayOn(ev).orderBy("user_id")
  }

  /** Core of [[funnelReplay]] on a prepared (event_id, user_id,
    * event_type, sec, arr) frame — separated so ReplayTwinsSpec can
    * drive the SAME formulation over a synthetic replay and diff it
    * against the real mapGroupsWithState matcher. */
  private[graft] def funnelReplayOn(ev: DataFrame): DataFrame = {
    val wu = Window.partitionBy("user_id").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    // state BEFORE each row (strictly earlier arrivals): a null
    // comparison (no view yet / no accepted click yet) evaluates to null
    // and the when() drops the row — the matcher's MaxValue sentinel
    val staged = ev
      .withColumn("view_before",
        min(when(col("event_type") === "view", col("sec"))).over(wu))
      .withColumn("click_ok",
        col("event_type") === "click" && col("sec") > col("view_before"))
      .withColumn("click_before",
        min(when(col("click_ok"), col("sec"))).over(wu))
      .withColumn("buy_ok",
        col("event_type") === "purchase" && col("sec") > col("click_before"))
    staged.groupBy("user_id")
      .agg(
        min(when(col("event_type") === "view", col("sec"))).as("view_sec"),
        min(when(col("click_ok"), col("sec"))).as("click_sec"),
        min(when(col("buy_ok"), col("sec"))).as("buy_sec"))
      .select(col("user_id"),
        when(col("buy_sec").isNotNull, 3L)
          .when(col("click_sec").isNotNull, 2L)
          .when(col("view_sec").isNotNull, 1L)
          .otherwise(0L).as("stage"),
        col("view_sec"), col("click_sec"), col("buy_sec"))
  }

  /** q_join_outer_replay: the batch twin of [[graft.streaming.StreamOps
    * .clickPurchaseJoinOuter]]'s stream-stream LEFT OUTER join under the
    * q_watermark deterministic replay — the LAST stateful operator with
    * spec-only coverage to gain a DuckDB-checked row (r11 verdict task
    * #8). q_join_outer answers the event-time outer join; this answers
    * what the bounded-state streaming join actually EMITS when the two
    * feeds are out of order: which pairs form, which purchases
    * null-extend, which drop or stay withheld.
    *
    * Replay model (pinned against the real operator in ReplayTwinsSpec,
    * boundary cases probed empirically): clicks and purchases replay
    * one-per-micro-batch in the shared [[replayArrival]] permutation
    * over the click/purchase substream. The GLOBAL watermark in force at
    * each arrival is min(max click sec, max purchase sec over STRICTLY
    * earlier arrivals) − delay (Spark's multi-source min policy; an
    * unseen side pins the min at the epoch floor, which no 2024 fixture
    * second can undercut). The operator's one-sided rules, all
    * observed non-strict at equality:
    *  - a purchase arriving at or below the watermark is dropped at
    *    input — no state entry, so no match and NO null row, ever;
    *  - a stored click is gone once the watermark reaches c_sec + 1 h,
    *    a stored purchase once it reaches p_sec; with a monotone
    *    watermark both admission-at-own-arrival and survival-at-the-
    *    later-arrival collapse into ONE pair rule: a (click, purchase)
    *    pair in the hour window EMITS iff c_sec > W − 3600 and
    *    p_sec > W, where W = max of the two arrival watermarks;
    *  - an admitted purchase that never emitted a pair null-extends
    *    exactly when the FINAL watermark passes p_sec (eviction =
    *    emission, the sessionReplay rule); above it, the purchase is
    *    withheld at end of stream — no row.
    *
    * Scale shape: the two-sided running max is the q_auc two-level
    * prefix recipe (unpartitioned windows only over the arrival-day
    * block frame); the pair join is a user-keyed equi-join with the
    * range and watermark tests as residual predicates; the final
    * watermark is a one-row broadcast. No per-user or global fact-sized
    * window at all. */
  def joinOuterReplay(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .filter(col("event_type").isin("click", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"),
        unix_timestamp(col("ts")).as("sec"))
      .withColumn("arr", replayArrival(col("sec"), col("event_id")))
    joinOuterReplayOn(ev, delaySec = 7200L, windowSec = 3600L)
      .orderBy(col("purchase_id"), col("click_id").asc_nulls_first)
  }

  /** Core of [[joinOuterReplay]] on a prepared (event_id, user_id,
    * event_type, sec, arr) click/purchase frame — separated so
    * ReplayTwinsSpec can drive the SAME formulation over a synthetic
    * replay and diff it against a real clickPurchaseJoinOuter run. */
  private[graft] def joinOuterReplayOn(ev: DataFrame, delaySec: Long,
                                       windowSec: Long): DataFrame = {
    // EAGER (r14 lazy-persist sweep): the watermarked frame feeds the
    // click side, the purchase side's pair join AND its unmatched
    // anti-join — three distinct builds in one action, and concurrent
    // stages over a lazy cache race to run the two-window prefix
    // computation once each. The Eager freeze materializes it exactly
    // once before the consumers plan; context cleaner reclaims blocks.
    val withWm = runningJoinWatermarkOn(ev, delaySec).eagerly
    val c = withWm.filter(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("click_id"),
        col("sec").as("c_sec"), col("wm").as("c_wm"))
    val p = withWm.filter(col("event_type") === "purchase")
      // late-input drop: at or below the watermark at arrival (STRICT
      // survival — the probe pinned that p_sec == wm vanishes silently)
      .filter(col("sec") > col("wm"))
      .select(col("user_id"), col("event_id").as("purchase_id"),
        col("sec").as("p_sec"), col("wm").as("p_wm"))
    // a side that never produced pins the min at the sentinel (Spark's
    // watermark node stays at the epoch floor) — least() would SKIP a
    // null side and wrongly evict on the other side's clock alone
    val noWm = -1000000000000L
    val fw = ev.agg((least(
      coalesce(max(when(col("event_type") === "click", col("sec"))), lit(noWm)),
      coalesce(max(when(col("event_type") === "purchase", col("sec"))), lit(noWm)))
      - delaySec).as("fwm"))
    // ONE user-keyed left outer join carries both arms: the range and
    // watermark tests ride the ON clause, so they screen pairs BEFORE
    // null-extension — a purchase none of whose clicks survive them
    // null-extends, exactly the streaming rule (a pairs+anti-join
    // formulation computed the join twice; this is the same result in
    // one pass). Eviction = emission: only purchases the final watermark
    // evicted ever null-extend; later ones are withheld at end of stream.
    p.crossJoin(broadcast(fw))
      .join(c.withColumnRenamed("user_id", "c_user"),
        col("user_id") === col("c_user")
          && col("c_sec").between(col("p_sec") - windowSec, col("p_sec"))
          && col("c_sec") > greatest(col("c_wm"), col("p_wm")) - windowSec
          && col("p_sec") > greatest(col("c_wm"), col("p_wm")),
        "left_outer")
      .filter(col("click_id").isNotNull || col("p_sec") <= col("fwm"))
      .select(col("user_id"), col("purchase_id"), col("click_id"))
  }

  /** The two-sided running watermark of the stream-stream join replay:
    * min over sides of (max event time over STRICTLY earlier arrivals)
    * − delay. Same q_auc two-level shape as [[runningWatermarkOn]], with
    * per-side conditional maxima carried through one block pass. */
  private[graft] def runningJoinWatermarkOn(ev: DataFrame, delaySec: Long): DataFrame = {
    val noWm = -1000000000000L
    val blocked = ev.withColumn("blk", expr("arr div 86400"))
    val wBlk = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val offsets = blocked.groupBy("blk").agg(
        max(when(col("event_type") === "click", col("sec"))).as("bc"),
        max(when(col("event_type") === "purchase", col("sec"))).as("bp"))
      .withColumn("oc", max(col("bc")).over(wBlk))
      .withColumn("op", max(col("bp")).over(wBlk))
      .select("blk", "oc", "op")
    val wIn = Window.partitionBy("blk").orderBy("arr", "event_id")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    blocked
      .withColumn("ic", max(when(col("event_type") === "click", col("sec"))).over(wIn))
      .withColumn("ip", max(when(col("event_type") === "purchase", col("sec"))).over(wIn))
      .join(broadcast(offsets), "blk")
      .withColumn("wm", least(
        greatest(coalesce(col("ic"), lit(noWm)), coalesce(col("oc"), lit(noWm))),
        greatest(coalesce(col("ip"), lit(noWm)), coalesce(col("op"), lit(noWm)))) - delaySec)
      .drop("blk", "ic", "ip", "oc", "op")
  }

  /** E-SCAN partition pruning: daily totals for one queried week over the
    * date-partitioned events layout (Tables.eventsByDate). The event_date
    * predicate resolves against directory names (scan `PartitionFilters`),
    * so only 7 of the 30 day-partitions are ever opened — the per-day
    * historical trend query (paper p.1) at 100 TB touches the queried
    * window, not the table. Oracle runs the same filter on the raw table. */
  def datePruned(spark: SparkSession, dir: String): DataFrame =
    Tables.eventsByDate(spark, dir)
      .filter(col("event_date").between(lit("2024-01-08").cast("date"), lit("2024-01-14").cast("date")))
      .groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("day"), col("event_type"))
      .agg(count(lit(1)).as("n"), moneySum(col("value")).as("total_value"))
      .orderBy("day", "event_type")

  /** E-AGG quantiles: exact interpolated percentiles of document length
    * per source (the length-distribution profile every corpus pipeline
    * reports). Spark's `percentile` is the exact linear-interpolation
    * definition DuckDB's quantile_cont uses, so this is oracle-checkable;
    * the approximate sketch twin at scale is `percentile_approx`
    * (rows-only, like q_approx_distinct). */
  def quantiles(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(
        round(expr("percentile(n_chars, 0.5)"), 4).as("p50"),
        round(expr("percentile(n_chars, 0.9)"), 4).as("p90"),
        round(expr("percentile(n_chars, 0.99)"), 4).as("p99"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")

  /** Training-data imputation: rows with a missing measure (derived
    * nullable reading here) are filled with their group's MEDIAN — the
    * standard missing-value pass before model training. Scale shape: one
    * per-group aggregate (dim-sized) broadcast-joined back onto the fact
    * side; the fact table is scanned once and never windowed or
    * re-shuffled. `percentile` ≡ DuckDB `quantile_cont` exactly on
    * integer inputs (same linear interpolation — proven by q_quantiles). */
  def imputeQuery(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        when(col("n_chars") % 7 === 0, lit(null)).otherwise(col("n_chars"))
          .cast("long").as("nc"))
    val med = d.groupBy("source")
      .agg(expr("percentile(nc, 0.5)").as("grp_med"))
    d.join(broadcast(med), "source")
      .select(col("doc_id"), col("source"),
        round(coalesce(col("nc").cast("double"), col("grp_med")), 4).as("nc_imputed"),
        col("nc").isNull.cast("long").as("was_missing"))
      .orderBy("doc_id")
  }

  /** E-AGG sketch twin of `quantiles`: KLL/GK-style `percentile_approx` —
    * fixed-size mergeable sketch per group, so at 100 TB the exchange
    * carries sketches, never the value distribution. Rows-only driver
    * check (sketch estimates are engine-specific), benched alongside the
    * exact form; accuracy parameter 1000 ≈ ±0.1% rank error. */
  def quantilesApprox(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy("source")
      .agg(
        expr("percentile_approx(n_chars, 0.5, 1000)").as("p50"),
        expr("percentile_approx(n_chars, 0.9, 1000)").as("p90"),
        expr("percentile_approx(n_chars, 0.99, 1000)").as("p99"),
        count(lit(1)).as("n_docs"))
      .orderBy("source")

  /** E-AGG sketch: HLL distinct users per day-window × event type — the
    * 100 TB "count distinct per window" path. `approx_count_distinct` is a
    * fixed-size HLL++ sketch with map-side partial merge, so the plan has
    * no exact-distinct Expand/re-shuffle; cost is one hash-agg exchange
    * regardless of user cardinality. Bench/rows-only — sketch estimates
    * are engine-specific and can't hash-match a DuckDB oracle. */
  def approxDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(
        approx_count_distinct("user_id").as("n_users_approx"),
        count(lit(1)).as("n_events"))
      .select(
        unix_timestamp(col("window.start")).as("win_start"),
        col("event_type"), col("n_users_approx"), col("n_events"))
      .orderBy("win_start", "event_type")

  /** E-SKETCH heavy hitters: most-frequent items by a mergeable
    * frequent-items sketch (`approx_top_k`, DataSketches ItemsSketch under
    * a TypedImperativeAggregate) — the 100 TB way to ask "which cameras /
    * users dominate the feed": per-partition sketches of FIXED size merge
    * on the exchange; raw (item, count) pairs never shuffle. The sketch is
    * provably EXACT while distinct items fit its tracked capacity, so with
    * k and maxItemsTracked sized over the fixture cardinality (≤1.5k
    * distinct users at every test sf vs 8192 tracked) the result is the
    * exact histogram and the oracle is a plain GROUP BY; at corpus scale
    * the SAME query degrades gracefully to guaranteed-error-bound
    * estimates. A fixture regeneration past the k=2000 emission cap
    * cannot fail SILENTLY: the oracle is unbounded, so the row-count
    * mismatch trips the driver's compare loudly — the cardinality
    * contract is enforced by the check itself, not by a per-run
    * count-distinct guard this hot path would otherwise pay for. */
  def heavyHitters(spark: SparkSession, dir: String): DataFrame =
    Tables.withTempViews(spark, "graft_hh_events" -> Tables.events(spark, dir)) { v =>
      spark.sql(
        s"""SELECT item AS user_id, count AS n_events FROM (
          |  SELECT inline(approx_top_k(user_id, 2000, 8192)) FROM ${v("graft_hh_events")}
          |) ORDER BY n_events DESC, user_id""".stripMargin)
    }

  /** Conversion funnel: how many users progress view → click → purchase
    * IN ORDER (each stage strictly after the previous user's first
    * qualifying event) — the ordered-sequence analytics verb behind
    * "how far does traffic get". Each stage is a per-user min-timestamp
    * aggregate joined to the previous stage's frame; every step keys on
    * user_id, so at scale the whole chain reuses ONE hash partitioning
    * (stage frames are user-cardinality, far smaller than events) and
    * the fact table is scanned once per stage filter, never windowed. */
  def funnel(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select("user_id", "event_type", "ts")
    val fv = ev.filter(col("event_type") === "view")
      .groupBy("user_id").agg(min("ts").as("t_view"))
    val fc = ev.filter(col("event_type") === "click")
      .join(fv, "user_id").filter(col("ts") > col("t_view"))
      .groupBy("user_id").agg(min("ts").as("t_click"))
    val fp = ev.filter(col("event_type") === "purchase")
      .join(fc, "user_id").filter(col("ts") > col("t_click"))
      .groupBy("user_id").agg(min("ts").as("t_buy"))
    fv.agg(count(lit(1)).as("n_users")).select(lit("1_view").as("stage"), col("n_users"))
      .unionByName(fc.agg(count(lit(1)).as("n_users"))
        .select(lit("2_view_click").as("stage"), col("n_users")))
      .unionByName(fp.agg(count(lit(1)).as("n_users"))
        .select(lit("3_view_click_purchase").as("stage"), col("n_users")))
      .orderBy("stage")
  }

  /** Robust outlier screen (median + MAD): flag events whose value sits
    * more than 3 median-absolute-deviations from its group median — the
    * anomaly-detection verb the reference exists for ("unusual activity",
    * paper p.3), made distribution-robust (mean/stddev break under the
    * very outliers being hunted). Exactness discipline: values scale to
    * integer centi-units via floor (DuckDB CAST(double AS BIGINT) rounds,
    * Spark truncates — floor agrees everywhere), so both medians
    * interpolate over exact dyadic rationals and the oracle hash-matches.
    * Scale shape: the two medians are dim-sized per-group aggregates
    * broadcast back onto the fact scan (same pattern as q_impute); exact
    * `percentile` is fine while groups are few — the sketch twin
    * (percentile_approx) is the 100 TB swap-in. */
  def outliers(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), floor(col("value") * 100).cast("long").as("v"))
    val med = ev.groupBy("event_type").agg(expr("percentile(v, 0.5)").as("med"))
    val dev = ev.join(broadcast(med), "event_type")
      .select(col("event_type"), abs(col("v") - col("med")).as("adev"))
    val mad = dev.groupBy("event_type").agg(expr("percentile(adev, 0.5)").as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(when(col("adev") > col("mad") * 3, 1L).otherwise(0L)).as("n_outliers"))
      .orderBy("event_type")
  }

  /** E-AGG pivot: wide-format breakdown (return flag × line status counts
    * and quantity sums). `pivot` with an EXPLICIT value list — without it
    * Spark must first scan for distinct pivot values (an extra job) and
    * the output schema becomes data-dependent, which breaks at scale and
    * in streaming. Explicit values keep this a single hash aggregate. */
  def pivotQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .groupBy("l_returnflag")
      .pivot("l_linestatus", Seq("F", "O"))
      .agg(count(lit(1)).as("n"),
        round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double").as("qty"))
      .select(col("l_returnflag"),
        coalesce(col("F_n"), lit(0L)).as("f_n"), coalesce(col("F_qty"), lit(0.0)).as("f_qty"),
        coalesce(col("O_n"), lit(0L)).as("o_n"), coalesce(col("O_qty"), lit(0.0)).as("o_qty"))
      .orderBy("l_returnflag")

  /** E-WIN analytic functions with REAL ties: rank/dense_rank over order
    * priority (ties make them diverge from row_number — rank jumps,
    * dense_rank doesn't), lead over a tie-broken unique ordering (lead
    * under ties would be nondeterministic), and date_trunc to month
    * (E-DATE). Probe-bounded to keep the oracle output small. */
  def windowAnalytic(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTies = Window.partitionBy("o_custkey").orderBy(col("o_orderpriority"))
    val wUnique = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"),
        unix_timestamp(date_trunc("month", col("o_orderdate"))).as("order_month"))
      .withColumn("rnk", rank().over(wTies).cast("long"))
      .withColumn("drnk", dense_rank().over(wTies).cast("long"))
      .withColumn("next_price", coalesce(lead(col("o_totalprice"), 1).over(wUnique), lit(-1.0)))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** E-WIN distribution analytics: ntile / percent_rank / cume_dist /
    * first_value — the remaining analytic family next to rank/dense_rank/
    * lag/lead (windowAnalytic) and frames (windowFrames). Determinism
    * under ties is split by function kind: percent_rank and cume_dist are
    * RANK-based (all tied rows get the same value), so they run over the
    * genuinely tied priority ordering; ntile assigns by row POSITION
    * (ties would be placed arbitrarily), so it gets the tie-broken unique
    * ordering, as does first_value (whichever row is "first" among ties
    * would otherwise be engine-dependent). */
  def windowDistribution(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val wTies = Window.partitionBy("o_custkey").orderBy(col("o_orderpriority"))
    val wUnique = Window.partitionBy("o_custkey")
      .orderBy(col("o_orderpriority"), col("o_orderkey"))
    Tables.orders(spark, dir)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderpriority"),
        col("o_totalprice"))
      .withColumn("quartile", ntile(4).over(wUnique).cast("long"))
      .withColumn("pct_rank", round(percent_rank().over(wTies), 6))
      .withColumn("cume", round(cume_dist().over(wTies), 6))
      .withColumn("top_price", first_value(col("o_totalprice")).over(wUnique))
      // nth_value over the default growing frame: null until the frame
      // holds 2 rows — identical in DuckDB; coalesce pins the null
      .withColumn("second_price",
        coalesce(nth_value(col("o_totalprice"), 2).over(wUnique), lit(-1.0)))
      .orderBy("o_custkey", "o_orderkey")
  }

  /** E-AGG-SETS: explicit GROUPING SETS — ((region, nation), (nation), ())
    * — a NON-hierarchical set list (nation without its region) that neither
    * rollup nor cube can express. Same scale shape as aggRollup: one
    * pre-aggregation to the finest grain, then Expand over dim-sized
    * partials; SUM(decimal) and COUNT both re-aggregate exactly. */
  def aggGroupingSets(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.supplier(spark, dir), col("l_suppkey") === col("s_suppkey"))
      .join(broadcast(Tables.nation(spark, dir)), col("s_nationkey") === col("n_nationkey"))
      .join(broadcast(Tables.region(spark, dir)), col("n_regionkey") === col("r_regionkey"))
      .groupBy(col("r_name").as("rname"), col("n_name").as("nname"))
      .agg(sum(dec2(col("l_extendedprice")) * (oneDec - dec2(col("l_discount")))).as("rev"),
        count(lit(1)).as("cnt"))
      // SQL text for the same reason as aggRollup: Dataset-API grouping
      // attrs carry plan-id metadata that false-positives the ambiguous-
      // self-join check inside Expand.
      .transform { base =>
        Tables.withTempViews(base.sparkSession, "graft_gsets_base" -> base) { v =>
          base.sparkSession.sql(
            s"""SELECT * FROM (
              |  SELECT coalesce(rname, 'ALL') AS region, coalesce(nname, 'ALL') AS nation,
              |    CAST(grouping(rname) * 2 + grouping(nname) AS BIGINT) AS gid,
              |    CAST(round(sum(rev), 2) AS DOUBLE) AS revenue,
              |    CAST(sum(cnt) AS BIGINT) AS n_items
              |  FROM ${v("graft_gsets_base")}
              |  GROUP BY GROUPING SETS ((rname, nname), (nname), ())) t
              |ORDER BY region, nation""".stripMargin)
        }
      }

  /** E-PROJ unpivot (melt): the four lineitem measures to long format —
    * the wide→long reshape feeding per-measure profiling. Spark plans
    * `unpivot` as a codegen'd Expand (each row fans out to 4 in the same
    * WholeStageCodegen as the scan — PLANS.md shows a 3-node, zero-
    * exchange plan); the trailing total sort exists only for oracle
    * determinism and is dropped in the bench shape. */
  def unpivotQuery(spark: SparkSession, dir: String): DataFrame =
    Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice",
        "l_discount", "l_tax")
      .unpivot(
        Array(col("l_orderkey"), col("l_linenumber")),
        Array(col("l_quantity"), col("l_extendedprice"), col("l_discount"), col("l_tax")),
        "measure", "value")
      // (l_orderkey, l_linenumber) is NOT unique in the fixture: the total
      // order must include every output column
      .orderBy("l_orderkey", "l_linenumber", "measure", "value")

  /** Data-profiling histogram: fixed-width value buckets of order totals —
    * the distribution pass every ingest/training pipeline runs before
    * deciding filters. One narrow projection + partial-agg'd count per
    * bucket: cost is a scan plus a tiny exchange, at any scale. */
  def histogram(spark: SparkSession, dir: String): DataFrame =
    Tables.orders(spark, dir)
      .select((floor(col("o_totalprice") / 50000) * 50000).cast("long").as("bucket_lo"))
      .groupBy("bucket_lo")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket_lo")

  /** Equi-DEPTH histogram (quantile buckets) — the skew-honest twin of
    * the fixed-width [[histogram]]: bucket boundaries are the quartiles,
    * so each bucket holds ~25% of rows no matter how skewed the values.
    * The boundary frame is ONE 4-value exact-percentile aggregate
    * broadcast back onto a narrow scan (q_impute pattern); values are
    * floor-scaled to integer cents so both engines interpolate quartiles
    * over exact dyadic rationals (same discipline as q_outliers).
    * Half-open bucket rule [lo, hi) with the top bucket closed. */
  def histogramEquiDepth(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(floor(col("o_totalprice") * 100).cast("long").as("v"))
    val qs = o.agg(
      expr("percentile(v, 0.25)").as("q1"),
      expr("percentile(v, 0.50)").as("q2"),
      expr("percentile(v, 0.75)").as("q3"))
    o.crossJoin(broadcast(qs))
      .select(when(col("v") < col("q1"), lit(1L))
        .when(col("v") < col("q2"), lit(2L))
        .when(col("v") < col("q3"), lit(3L))
        .otherwise(lit(4L)).as("bucket"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n"))
      .orderBy("bucket")
  }

  /** Data-profiling summary statistics per group: count / mean / sample
    * stddev / extrema / value↔user correlation. All single-pass
    * partial-aggregable moments — the profile never reshuffles the data,
    * only the per-group moment tuples.
    *
    * Determinism discipline (r11 — the q_moments/q_xcorr recipe applied
    * here too): the built-in avg/stddev_samp/corr accumulate IEEE doubles
    * in partition-dependent partial-merge order, so their last ulp can
    * legally differ from DuckDB's sequential pass AND between two Spark
    * runs with different partitioning — a latent hash flake whenever a
    * statistic lands within ~1e-13 of a .xxxx5 rounding boundary.
    * Instead the moments are EXACT DECIMAL(38,0) sums over centi-unit
    * integers (value is 2-dp by fixture contract; floor(v·100) is the
    * established xcorr idiom), and the doubles derive from one fixed
    * expression tree mirrored in the oracle. min/max are
    * order-independent and stay on the raw column. n·(n−1) and the
    * variance numerators stay in long/decimal until a single terminal
    * double cast. */
  def groupStats(spark: SparkSession, dir: String): DataFrame = {
    val pts = Tables.events(spark, dir)
      .select(col("event_type"), col("value"),
        floor(col("value") * 100).cast("long").as("x"),
        col("user_id").as("y"))
    val s = pts.groupBy("event_type")
      .agg(count(lit(1)).as("n"),
        sum(col("x").cast("decimal(38,0)")).as("s1"),
        sum(col("x").cast("decimal(38,0)") * col("x")).as("s2"),
        sum(col("x").cast("decimal(38,0)") * col("y")).as("sxy"),
        sum(col("y").cast("decimal(38,0)")).as("sy"),
        sum(col("y").cast("decimal(38,0)") * col("y")).as("syy"),
        round(min(col("value")), 4).as("min_value"),
        round(max(col("value")), 4).as("max_value"))
    val nD = col("n").cast("double")
    val varx = (col("n") * col("s2") - col("s1") * col("s1")).cast("double")
    val vary = (col("n") * col("syy") - col("sy") * col("sy")).cast("double")
    s.select(col("event_type"), col("n"),
        round(col("s1").cast("double") / 100.0 / nD, 4).as("mean_value"),
        when(col("n") < 2, lit(null).cast("double"))
          .otherwise(round(
            sqrt(varx / (nD * (nD - 1.0))) / 100.0, 4)).as("sd_value"),
        col("min_value"), col("max_value"),
        when(col("n") < 2 || varx === 0.0 || vary === 0.0,
            lit(null).cast("double"))
          .otherwise(round(
            (col("n") * col("sxy") - col("s1") * col("sy")).cast("double")
              / (sqrt(varx) * sqrt(vary)), 4)).as("corr_value_user"))
      .orderBy("event_type")
  }

  /** E-STREAM-WIN batch analog: session windows per user with a 30-minute
    * gap via the built-in `session_window`. */
  def sessionize(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(session_window(col("ts"), "30 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"), moneySum(col("value")).as("session_value"))
      .select(
        col("user_id"),
        unix_timestamp(col("session_window.start")).as("sess_start"),
        col("n_events"), col("session_value"))
      .orderBy("user_id", "sess_start")

  /** V4 credential verification — the auth path's missing half: the
    * reference's `authenticate` does a point lookup AND verifies a salted
    * password digest (`crowd_surveillance/app/views.py:27-34`, Django
    * `check_password` over a stored salted hash), not just row existence.
    * Engine-neutral deterministic scheme: salt = md5(user key), stored =
    * sha256(salt || password). The credential store is derived from
    * `customer` so the DuckDB oracle can rebuild it from the same parquet;
    * the RDBMS-substrate twin (users in Derby, read via Tables.usersJdbc)
    * runs the identical verdict logic in JdbcSourceSpec. */
  def authUsers(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir).select(
      col("c_name").as("username"),
      md5(col("c_custkey").cast("string")).as("salt"),
      sha2(concat(md5(col("c_custkey").cast("string")),
        lit("pw_"), col("c_custkey").cast("string")), 256).as("pw_sha"),
      (col("c_custkey") % 7 =!= 0).as("is_active"))

  /** Login attempts: every third user typos the password, every eleventh
    * key also probes a nonexistent account ('?' can't collide with the
    * `Customer#...` namespace) — so all four verdict branches are hit. */
  def authAttempts(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    c.select(col("c_name").as("username"),
        when(col("c_custkey") % 3 === 0, lit("wrong"))
          .otherwise(concat(lit("pw_"), col("c_custkey").cast("string"))).as("attempt_pw"))
      .unionAll(c.filter(col("c_custkey") % 11 === 0)
        .select(concat(col("c_name"), lit("?")).as("username"), lit("x").as("attempt_pw")))
  }

  /** Verdict dispatch over any credential store (parquet-derived or JDBC):
    * find the user row, recompute the salted digest from the attempt,
    * classify — no_user / inactive / bad_password / ok. The digest
    * recompute is one codegen'd sha2 per attempt; at scale the users side
    * is a dim (broadcast) and attempts stream past it. */
  def authVerdicts(users: DataFrame, attempts: DataFrame): DataFrame =
    attempts.join(users, Seq("username"), "left")
      .select(col("username"),
        when(col("pw_sha").isNull, lit("no_user"))
          .when(!col("is_active"), lit("inactive"))
          .when(sha2(concat(col("salt"), col("attempt_pw")), 256) === col("pw_sha"), lit("ok"))
          .otherwise(lit("bad_password")).as("verdict"))

  def authenticate(spark: SparkSession, dir: String): DataFrame =
    authVerdicts(authUsers(spark, dir), authAttempts(spark, dir))
      .orderBy("username", "verdict")

  /** Correlated subqueries — the decorrelation surface: a correlated
    * SCALAR subquery (this order's price vs its customer's average) and a
    * correlated EXISTS (a heavy line item on the order), written as the
    * ANSI SQL a warehouse user would type. Catalyst DECORRELATES both:
    * the scalar subquery becomes a per-custkey aggregate joined back on
    * the key, EXISTS becomes a left-semi join — there is no per-row
    * re-execution anywhere in the plan (PLANS.md shows the rewrite), so
    * the shape scales like any aggregate + two joins. The oracle is the
    * IDENTICAL statement: both engines speak this dialect, which is
    * itself the point — q_corr_subq pins that the decorrelated plan
    * computes exactly what the correlated spec says.
    *
    * The "50% above the customer's average" threshold is stated in the
    * CROSS-MULTIPLIED exact form (2·price·n > 3·Σprice over exact
    * decimals) rather than `price > 1.5·avg(...)`: avg sums raw doubles
    * in engine-specific accumulation order, and a customer whose
    * threshold lands within one ulp of an order's price would give the
    * two engines DIFFERENT ROW SETS — the worst case for a hash check
    * (r11 review; every other money aggregate already goes through
    * exact DECIMAL for the same reason). Multiplying both sides by the
    * positive order count preserves the predicate exactly. */
  val CorrSubqSql: String =
    """SELECT o.o_orderkey, o.o_totalprice
      |FROM orders o
      |WHERE 2 * CAST(o.o_totalprice AS DECIMAL(18,2))
      |      * (SELECT count(*) FROM orders o2
      |         WHERE o2.o_custkey = o.o_custkey)
      |    > 3 * (SELECT sum(CAST(o2.o_totalprice AS DECIMAL(18,2)))
      |           FROM orders o2
      |           WHERE o2.o_custkey = o.o_custkey)
      |  AND EXISTS (SELECT 1 FROM lineitem l
      |              WHERE l.l_orderkey = o.o_orderkey AND l.l_quantity > 45)
      |ORDER BY o.o_orderkey""".stripMargin

  def correlatedSubqueries(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(spark, dir)
    spark.sql(CorrSubqSql)
  }

  /** E-JOIN NOT IN — the three-valued-logic anti join. `NOT IN
    * (subquery)` is NOT q_join_anti's plain anti join by spec: one NULL
    * in the subquery annuls every row, so Catalyst rewrites it with
    * null-aware handling and only simplifies down to the plain
    * BroadcastHashJoin LeftAnti this plan shows after PROVING the
    * nullability can't bite (the PLANS.md entry walks the rewrite).
    * Oracle = the identical statement (the q_corr_subq discipline):
    * both engines implement the same three-valued spec, and the hash
    * match pins that the simplified plan computes it. */
  val NotInSql: String =
    """SELECT o_orderkey, o_custkey,
      |  CAST(round(CAST(o_totalprice AS DECIMAL(18,2)), 2) AS DOUBLE) AS o_totalprice
      |FROM orders
      |WHERE o_custkey NOT IN
      |  (SELECT c_custkey FROM customer WHERE c_acctbal < 0)
      |ORDER BY o_orderkey""".stripMargin

  def notInJoin(spark: SparkSession, dir: String): DataFrame = {
    graft.Tables.registerViews(spark, dir)
    spark.sql(NotInSql)
  }

  /** E-SET multiset variants: INTERSECT ALL / EXCEPT ALL over the BAG of
    * per-event user ids — multiplicity-aware set algebra (min / truncated
    * difference of occurrence counts), a different physical operator from
    * q_set_ops' distinct INTERSECT/EXCEPT (Spark plans a replicate-by-
    * min-count Generate over a counting aggregate, not a semi/anti
    * join). Results aggregate to (tag, user_id, n) so the bag's contents
    * are deterministic row output. */
  def setOpsAll(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
    val clicks = ev.filter(col("event_type") === "click").select("user_id")
    val purchases = ev.filter(col("event_type") === "purchase").select("user_id")
    val common = clicks.intersectAll(purchases)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("common_min"))
    val surplus = clicks.exceptAll(purchases)
      .groupBy("user_id").agg(count(lit(1)).as("n"))
      .withColumn("tag", lit("click_surplus"))
    common.unionByName(surplus)
      .select("tag", "user_id", "n")
      .orderBy("tag", "user_id")
  }

  /** Time-decayed engagement score: per user, Σ 2^((t−t_ref)/halflife)
    * over their events at the corpus horizon t_ref — recency-weighted
    * activity (the freshness signal ranking and sampling pipelines decay
    * by). Half-life 7 days: an event a week old counts half.
    *
    * Two shapes, one semantics:
    *  - THIS one (the oracle query) folds each user's SORTED timestamp
    *    array left-to-right, the q_entropy determinism trick — both
    *    engines reduce the identical sequence, so doubles match
    *    bit-for-bit. Cost: per-user collected arrays (user-activity
    *    sized — fine for dim-like keys, not for the 100 TB hot path).
    *  - [[decayedActivityMonoid]] is the production shape: a plain
    *    partial-aggregable SUM of 2^((t−t_ref)/hl) — no collect, no
    *    sort, map-side combined like any sum; accumulation order varies,
    *    so it is float-equal only to ~1e-9 (spec-bounded), which is why
    *    the oracle pins the fold form instead. */
  def decayedActivity(spark: SparkSession, dir: String): DataFrame = {
    val ref = Tables.events(spark, dir)
      .agg(max(unix_timestamp(col("ts"))).as("t_ref"))
    Tables.events(spark, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"), collect_list(col("t")).as("tss"))
      .crossJoin(broadcast(ref))
      .select(col("user_id"), col("n_events"),
        // compiled DecaySum ≡ the interpreted time-ascending pow fold,
        // bit for bit (SortedFoldsSpec — StrictMath.pow, Catalyst Pow's
        // delegate; Math.pow flipped 4 of 51 terms by 1 ulp)
        round(SortedFolds.decaySum(col("tss"), col("t_ref")), 4)
          .as("score"))
      .orderBy("user_id")
  }

  /** 2-D skyline (Pareto frontier) per (event_type, day): the events no
    * peer dominates — none with value ≥ AND ts ≥ and at least one
    * strict — i.e. "highest-value AND most-recent" multi-criteria
    * selection, the shape data-selection passes use to keep
    * non-dominated candidates without collapsing criteria into one
    * score.
    *
    * The engine does NOT self-join: for a 2-D skyline, sort the distinct
    * value levels descending and keep a level iff its max-ts exceeds the
    * RUNNING max-ts of all strictly-higher levels (one per-group agg +
    * one bounded window over value levels); a row survives iff its level
    * survives and it carries the level's max ts. O(n log n) per group
    * and partial-aggregable, vs the textbook quadratic NOT-EXISTS
    * self-join. The ORACLE runs that quadratic NOT EXISTS — an
    * independent algorithm checking the window algebra, not a
    * re-statement of it. Dominance compares raw parquet doubles (no
    * arithmetic), so cross-engine equality is exact. */
  def skyline(spark: SparkSession, dir: String): DataFrame = {
    val evs = Tables.events(spark, dir)
      .select(col("event_type"), to_date(col("ts")).as("day"),
        col("value"), unix_timestamp(col("ts")).as("t"), col("event_id"))
    val levels = evs.groupBy("event_type", "day", "value")
      .agg(max("t").as("gmax"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type", "day").orderBy(col("value").desc)
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val frontier = levels
      .withColumn("smax", max("gmax").over(w))
      .filter(col("smax").isNull || col("gmax") > col("smax"))
      .select(col("event_type"), col("day"), col("value"), col("gmax"))
    evs.join(frontier, Seq("event_type", "day", "value"))
      .filter(col("t") === col("gmax"))
      .select(col("event_type"), col("day"), col("event_id"),
        col("value"), col("t").as("ts_sec"))
      .orderBy("event_type", "day", "event_id")
  }

  /** The partial-aggregable twin of [[decayedActivity]] — the shape a
    * 100 TB run uses (see that scaladoc). */
  def decayedActivityMonoid(spark: SparkSession, dir: String): DataFrame = {
    val ref = Tables.events(spark, dir)
      .agg(max(unix_timestamp(col("ts"))).as("t_ref"))
    Tables.events(spark, dir)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"))
      .crossJoin(broadcast(ref))
      .groupBy("user_id")
      .agg(count(lit(1)).as("n_events"),
        sum(pow(lit(2.0), (col("t") - col("t_ref")).cast("double") / 604800.0)).as("raw"))
      .select(col("user_id"), col("n_events"), round(col("raw"), 4).as("score"))
      .orderBy("user_id")
  }

  /** Rolling 7-day active users (WAU): per active day, distinct users
    * seen in the trailing week. Sliding-window DISTINCT cannot partial-
    * aggregate as a window function (distinct isn't subtractable), so
    * the standard shape: dedupe to (user, day) FIRST — the only
    * fact-sized shuffle — then count coverage per day.
    *
    * Coverage is computed by INTERVAL SWEEP, not the 7-way explode this
    * used through r9: a user active on day x covers WAU(d) for
    * d ∈ [x, x+6], so per user the covered days form a union of
    * intervals — active days ≤ 6 apart merge into one run [s, e+6]
    * (one lag + running-flag-sum window over the user's own activity
    * rows). Each run then emits two boundary deltas (+1 at s, −1 at
    * e+7); summing deltas per day is a partial-aggregable hash agg
    * down to CALENDAR cardinality, and the running prefix sum over
    * that calendar frame (domain-bounded single window — the
    * PLANS.md sanctioned class) is WAU for every day. The old shape
    * re-shuffled and re-deduped a 7×|act| exploded stream; the sweep
    * shuffles |act| once for the user-partitioned window and
    * boundary deltas collapse map-side, so the second exchange moves
    * ~2 rows per activity RUN instead of 7 per activity day. The
    * only join left is a broadcast-hash clip to observed grid days. */
  def rollingActiveUsers(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // `act` feeds the run fold and (twice, via `days`) the calendar
    // scaffold/clip; it is deliberately NOT persisted — an A/B at sf0.1
    // measured cache materialization costing ~2× what the two extra
    // scan+distinct passes do (0.62 → 1.04 s median, matched load). The
    // crossover flips when the fact scan dominates: at production volume
    // persist (or write out) this |users×days|-bounded frame.
    val act = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("day"), col("user_id")).distinct()
    val days = act.select(col("day").as("d")).distinct()
    val w = Window.partitionBy("user_id").orderBy("day")
    val runs = act
      .withColumn("gap", datediff(col("day"), lag("day", 1).over(w)))
      .withColumn("run", sum(when(col("gap").isNull || col("gap") > 6, 1L)
        .otherwise(0L)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("user_id", "run")
      .agg(min("day").as("s"), max("day").as("e"))
    val deltas = runs
      .select(explode(array(
        struct(col("s").as("d"), lit(1L).as("delta")),
        struct(date_add(col("e"), 7).as("d"), lit(-1L).as("delta")))).as("b"))
      .groupBy(col("b.d").as("d")).agg(sum(col("b.delta")).as("delta"))
      // scaffold: observed days with no run boundary still need a row
      // under the prefix sum, or the day clip below drops them
      .unionByName(days.select(col("d"), lit(0L).as("delta")))
      .groupBy("d").agg(sum("delta").as("delta"))
    val cal = Window.orderBy("d")
      .rowsBetween(Window.unboundedPreceding, 0)
    deltas
      .withColumn("wau", sum("delta").over(cal))
      .join(broadcast(days), "d")
      .select(col("d").as("day"), col("wau"))
      .orderBy("day")
  }

  /** Cohort retention: users grouped by FIRST-activity day, re-activity
    * counted at day offsets 0/1/7/14 — "of the users who arrived on day
    * X, how many came back a day/week/fortnight later".
    *
    * Shape (r8 reshape): cohort day rides in as min(day) OVER the
    * user-partitioned window on the raw narrow projection — ONE exchange
    * on user_id replaces the old aggregate + user-keyed self-join (two
    * exchanges of the same frame), and the (user, day) dedup is deferred
    * into countDistinct AFTER the offset filter has dropped everything
    * outside the four probe offsets. Per-user window groups are
    * events-per-user sized, so the sort inside each is trivial at any
    * scale; output stays |cohorts|×4. */
  def cohortRetention(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"))
      .withColumn("cohort_day", min("day").over(Window.partitionBy("user_id")))
      .withColumn("day_offset", datediff(col("day"), col("cohort_day")).cast("long"))
      .filter(col("day_offset").isin(0L, 1L, 7L, 14L))
      .groupBy("cohort_day", "day_offset")
      .agg(countDistinct(col("user_id")).as("n_users"))
      .orderBy("cohort_day", "day_offset")
  }

  /** LTV curve (q_ltv): cumulative revenue per acquisition cohort at
    * each age-in-days, absolute and per cohort user — the
    * lifetime-value read behind "how fast does a cohort pay back".
    * Cohort day is the user's FIRST activity day (any event type);
    * revenue is purchase value in exact DECIMAL cents. The cumulative
    * window runs over the |cohorts|×|ages| aggregate (calendar-bounded
    * on both axes — a dim frame at any corpus size); cohort sizes are a
    * dim aggregate broadcast back. Only the display columns convert to
    * double, after rounding the exact decimal. The per-user ltv column
    * TRUNCATES in integer arithmetic (cents·100 div users, one IEEE
    * division by 10⁴ at the end) — a `round(double/users, 4)` sat
    * exactly on a .00005 boundary on the fixture and the two engines'
    * round() broke the tie differently; truncation of exact integers
    * cannot tie-break at all. */
  def ltvCurve(spark: SparkSession, dir: String): DataFrame = {
    val act = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"),
        col("event_type"), col("value"))
    val first = act.groupBy("user_id").agg(min("day").as("cohort_day"))
    val sizes = first.groupBy("cohort_day")
      .agg(count(lit(1)).as("cohort_users"))
    val rev = act.filter(col("event_type") === "purchase")
      .join(first, "user_id")
      .groupBy(col("cohort_day"),
        datediff(col("day"), col("cohort_day")).cast("long").as("age"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("rev_dec"))
    val w = Window.partitionBy("cohort_day").orderBy("age")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rev.withColumn("cum_dec", sum("rev_dec").over(w))
      .join(broadcast(sizes), "cohort_day")
      .select(col("cohort_day"), col("age"),
        round(col("rev_dec"), 2).cast("double").as("rev"),
        round(col("cum_dec"), 2).cast("double").as("cum_rev"),
        col("cohort_users"),
        expr("((CAST(cum_dec * 100 AS BIGINT) * 100) div cohort_users) / 10000.0D")
          .as("ltv"))
      .orderBy("cohort_day", "age")
  }

  /** Market-basket co-occurrence: top part pairs bought together, with
    * lift (observed co-orders ÷ independence expectation) — the
    * association-rule verb behind "frequently bought together". The
    * pair join is a self-join WITHIN an order, and TPC-H-shaped orders
    * hold ≤7 lines, so the blow-up is quadratic in a BOUNDED group size
    * — a fundamentally different scale class from an unbounded-key
    * self-join (cf. the q_jaccard_pairs rework). Per-part supports are
    * part-cardinality (dim-sized) → broadcast back onto the pairs; the
    * order count is a 1-row agg cross-joined, never collected. */
  def basketPairs(spark: SparkSession, dir: String): DataFrame = {
    // One lineitem scan → per-order sorted part set (collect_set dedups,
    // array_sort makes downstream pair order deterministic). NOT a
    // distinct + self-join: that shape scans the fact table per side and
    // reshuffles each scan, and Catalyst will happily broadcast a
    // fact-sized "items" side. Here pairs are expanded IN-ARRAY (groups
    // are ≤7 parts, so the expansion is narrow and bounded) and the one
    // wide exchange is the per-order grouping.
    val sets = Tables.lineitem(spark, dir)
      .groupBy(col("l_orderkey"))
      .agg(array_sort(collect_set(col("l_partkey"))).as("pks"))
      // EAGER (the r12 ccnet lesson): three of the consumers — the two
      // broadcast(supp) builds and the broadcast order count — are
      // broadcast exchanges, and Spark submits broadcast jobs
      // concurrently; with a lazy persist they raced to materialize the
      // cache and the per-order collect_set aggregation ran up to four
      // times. The Eager freeze materializes the order-grain frame once,
      // before any consumer plans against it.
      .eagerly
    val nOrders = sets.select(count(lit(1)).as("n_orders"))
    // EAGER (r16, guide §2.4): supp feeds TWO broadcast builds (the s1
    // and s2 sides differ in projection, so their exchanges are not
    // canonically identical and AQE reuse cannot dedup them) — un-pinned,
    // each build re-ran the explode+agg over the order-grain checkpoint,
    // a second full pass at corpus scale. The frame itself is
    // part-cardinality (dim-sized), so the extra materialization is
    // cheap and both broadcasts read its blocks.
    val supp = sets.select(explode(col("pks")).as("pk"))
      .groupBy("pk").agg(count(lit(1)).as("supp"))
      .eagerly
    val pairs = sets
      .select(explode(flatten(transform(col("pks"), (x, i) =>
        transform(slice(col("pks"), i + lit(2), size(col("pks"))),
          y => struct(x.as("p1"), y.as("p2")))))).as("pair"))
      .groupBy(col("pair.p1").as("p1"), col("pair.p2").as("p2"))
      .agg(count(lit(1)).as("n_both"))
    pairs
      .join(broadcast(supp.select(col("pk").as("p1"), col("supp").as("s1"))), "p1")
      .join(broadcast(supp.select(col("pk").as("p2"), col("supp").as("s2"))), "p2")
      .crossJoin(broadcast(nOrders))
      .select(col("p1"), col("p2"), col("n_both"),
        // both products widen to DECIMAL(38,0) before the divide (the
        // chi2/Analytics long×long mandate): support×support and
        // n_both×n_orders pass 2^63 around 1.5e9 orders
        round((col("n_both").cast("decimal(38,0)") * col("n_orders")).cast("double")
          / (col("s1").cast("decimal(38,0)") * col("s2")).cast("double"), 4)
          .as("lift"))
      .orderBy(col("n_both").desc, col("p1"), col("p2"))
      .limit(100)
  }

  /** Two-proportion A/B z-test: users split by a deterministic variant
    * (user_id parity), conversion = any purchase over 150, pooled
    * z-score in one row. Counts are exact integers; every double is
    * derived from them by the same expression on both engines, so the
    * score is bit-stable. Shape: one user-keyed agg (the only shuffle)
    * → one global agg → scalar arithmetic. */
  def abTest(spark: SparkSession, dir: String): DataFrame = {
    val users = Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase" && col("value") > 150, 1L)
        .otherwise(0L)).as("conv"))
      .select((col("user_id") % 2).as("variant"), col("conv"))
    val counts = users.agg(
      sum(when(col("variant") === 0, 1L).otherwise(0L)).as("n0"),
      sum(when(col("variant") === 0, col("conv")).otherwise(0L)).as("c0"),
      sum(when(col("variant") === 1, 1L).otherwise(0L)).as("n1"),
      sum(when(col("variant") === 1, col("conv")).otherwise(0L)).as("c1"))
    val p0 = col("c0").cast("double") / col("n0")
    val p1 = col("c1").cast("double") / col("n1")
    val pPool = (col("c0") + col("c1")).cast("double") / (col("n0") + col("n1"))
    counts.select(col("n0"), col("c0"), col("n1"), col("c1"),
      round(p0, 4).as("p0"), round(p1, 4).as("p1"),
      round((p0 - p1) /
        sqrt(pPool * (lit(1.0) - pPool)
          * (lit(1.0) / col("n0") + lit(1.0) / col("n1"))), 4).as("z"))
  }

  /** Time-to-event: per signup-week cohort, how many users converted
    * (first purchase strictly after their first signup) and the
    * median / p90 conversion latency — survival-analysis-lite, the
    * "how long until activation" verb. Both anchor times are per-user
    * min aggregates (one user-keyed shuffle each, co-partitioned);
    * latencies are exact floor-epoch seconds; the exact interpolated
    * percentile runs per cohort (dim-sized groups — the sketch twin is
    * the 100 TB swap-in, as with q_impute). */
  def timeToEvent(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), col("event_type"), col("ts"))
    val signup = ev.filter(col("event_type") === "signup")
      .groupBy("user_id").agg(min("ts").as("t0"))
    val conv = ev.filter(col("event_type") === "purchase")
      .join(signup, "user_id")
      .filter(col("ts") > col("t0"))
      .groupBy("user_id").agg(min("ts").as("t1"))
    // cohort key = the signup week's START DATE (date_trunc, ISO
    // Monday) — the q_wow r11 fix: a bare weekofyear number merges
    // cohorts across years on any multi-year span
    val latency = signup.join(conv, "user_id")
      .select(col("user_id"),
        date_trunc("week", col("t0")).cast("date").as("week"),
        (unix_timestamp(col("t1")) - unix_timestamp(col("t0"))).as("lat_s"))
    val cohorts = signup
      .groupBy(date_trunc("week", col("t0")).cast("date").as("week"))
      .agg(count(lit(1)).as("n_signups"))
    cohorts.join(
        latency.groupBy("week").agg(
          count(lit(1)).as("n_converted"),
          round(expr("percentile(lat_s, 0.5)"), 2).as("median_s"),
          round(expr("percentile(lat_s, 0.9)"), 2).as("p90_s")),
        Seq("week"), "left")
      .select(col("week"), col("n_signups"),
        coalesce(col("n_converted"), lit(0L)).as("n_converted"),
        coalesce(col("median_s"), lit(-1.0)).as("median_s"),
        coalesce(col("p90_s"), lit(-1.0)).as("p90_s"))
      .orderBy("week")
  }

  /** Path trigrams: the most common consecutive event-type TRIPLES in
    * user journeys — the order-3 sequence-mining sibling of
    * [[transitions]] (order-2). Same single user-partitioned window, two
    * leads instead of one; the pattern frame is ≤ |types|³ rows. */
  def pathTrigrams(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("e2", lead("event_type", 1).over(w))
      .withColumn("e3", lead("event_type", 2).over(w))
      .filter(col("e3").isNotNull)
      .groupBy(concat_ws(">", col("event_type"), col("e2"), col("e3")).as("path"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("path"))
      .limit(10)
  }

  /** q_lateral: correlated LATERAL subquery — each customer joined to
    * their top-2 orders by price, expressed in the LATERAL syntax a
    * warehouse user migrates verbatim (the oracle runs the identical
    * statement). Catalyst decorrelates the per-row LIMIT into a
    * rank-filter join, so the plan is the q_win_topk shape, not one
    * subquery execution per customer row — proven by the identical
    * result and a plans note. */
  def lateralTopOrders(spark: SparkSession, dir: String): DataFrame = {
    Tables.withTempViews(spark,
      "graft_lat_customer" -> Tables.customer(spark, dir),
      "graft_lat_orders" -> Tables.orders(spark, dir)) { v =>
      spark.sql(
        s"""SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
          |FROM ${v("graft_lat_customer")} c,
          |LATERAL (SELECT o_orderkey, o_totalprice FROM ${v("graft_lat_orders")}
          |         WHERE o_custkey = c.c_custkey
          |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
          |WHERE c.c_custkey <= 100
          |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin)
    }
  }

  /** Week-over-week change: weekly revenue per event type with the
    * previous week's total and the percent delta — the lag-on-aggregate
    * reporting verb behind every trend arrow. The lag runs over the
    * |weeks|×|types| frame; deltas divide exact decimal totals as
    * doubles. The week key is the week's START DATE (ISO Monday via
    * date_trunc — identical on both engines), not weekofyear: a bare
    * week NUMBER folds week N of different years into one row and hands
    * lag() the wrong calendar neighbor on any multi-year span (r11
    * review — both engines agreed bit-for-bit, so the oracle could
    * never catch the wrong semantics). */
  def weekOverWeek(spark: SparkSession, dir: String): DataFrame = {
    val weekly = Tables.events(spark, dir)
      .groupBy(date_trunc("week", col("ts")).cast("date").as("week"),
        col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
    val w = Window.partitionBy("event_type").orderBy("week")
    weekly
      .withColumn("prev", lag("v", 1).over(w))
      .select(col("week"), col("event_type"),
        round(col("v"), 2).cast("double").as("total_value"),
        round(coalesce(col("prev"), lit(0)).cast("double"), 2).as("prev_value"),
        // prev = 0 folds into the no-delta branch: Spark's non-ANSI
        // x/0 is NULL while the oracle's IEEE double division is ±inf —
        // neither is a useful trend arrow, both engines must emit 0.0
        when(col("prev").isNull || col("prev") === 0, lit(0.0))
          .otherwise(round((col("v") - col("prev")).cast("double")
            / col("prev").cast("double"), 4)).as("wow_delta"))
      .orderBy("week", "event_type")
  }

  /** Weighted median: per return flag, the quantity-weighted median unit
    * price — "half the VOLUME sold at or below this price", the
    * volume-weighted sibling of q_quantiles' row-median. The median is
    * the least price whose cumulative weight reaches half the total;
    * ties share a price, so the reported MIN qualifying price is
    * deterministic; prices and weights are exact centi/integer units.
    *
    * Round-8 reshape (r7 verdict task #3): the old form ran ONE
    * flag-partitioned running-sum window over the full fact — with 3
    * distinct flags, three reducers each sort a third of lineitem at
    * 100 TB. Replaced by the two-pass BOUNDARY-BUCKET pick:
    *
    *  1. Collapse the fact to a (flag, price_c) weight histogram — a
    *     partial-aggregable groupBy whose output is bounded by the PRICE
    *     DOMAIN (≤ ~1e7 distinct cents), not the fact.
    *  2. Coarse $1000 buckets (1e5 cents): a per-flag running sum over
    *     ≤ ~110 bucket rows finds the single bucket where cumulative
    *     weight crosses half the total, plus the exact cumulative weight
    *     BEFORE that bucket.
    *  3. The exact pick re-sorts ONLY the boundary bucket's histogram
    *     rows (≤ 1e5 per flag, domain-bounded) against the carried-in
    *     offset — never the fact, never the whole histogram.
    *
    * Every window in the plan now runs over a domain-bounded frame;
    * the only fact-sized operation is the stage-1 partial agg. */
  def weightedMedian(spark: SparkSession, dir: String): DataFrame = {
    val bw = 100000L // $1000 coarse buckets over the cents domain
    val hist = Tables.lineitem(spark, dir)
      .select(col("l_returnflag"),
        floor(col("l_extendedprice") * 100).cast("long").as("price_c"),
        floor(col("l_quantity")).cast("long").as("qty"))
      .groupBy("l_returnflag", "price_c")
      .agg(sum("qty").as("q"))
    val wb = Window.partitionBy("bf").orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val boundary = hist
      .groupBy(col("l_returnflag").as("bf"),
        floor(col("price_c") / bw).cast("long").as("b"))
      .agg(sum("q").as("bq"))
      .withColumn("cum", sum("bq").over(wb))
      .withColumn("tot", sum("bq").over(Window.partitionBy("bf")))
      .filter(col("cum") * 2 >= col("tot")
        && (col("cum") - col("bq")) * 2 < col("tot"))
      .select(col("bf"), col("b"),
        (col("cum") - col("bq")).as("cum_before"), col("tot"))
    val wInner = Window.partitionBy("l_returnflag").orderBy("price_c")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    hist.join(broadcast(boundary),
        col("l_returnflag") === col("bf")
          && floor(col("price_c") / bw).cast("long") === col("b"))
      .withColumn("cum", col("cum_before") + sum("q").over(wInner))
      .filter(col("cum") * 2 >= col("tot"))
      .groupBy("l_returnflag")
      .agg(min("price_c").as("wmedian_price_c"), min("tot").as("total_qty"))
      .orderBy("l_returnflag")
  }

  /** Largest-remainder allocation (q_alloc): spread each order's total
    * (exact cents) across its lineitems proportionally to quantity so
    * that the per-order allocations SUM EXACTLY to the total — the
    * finance/attribution verb naive `round(T·q/Q)` gets wrong (rounded
    * shares drift off the total by ± a few cents). Pure integer
    * arithmetic: base = (T·q) div Q, and the T − Σbase leftover cents go
    * to the rows with the largest remainders (T·q mod Q), ties by line
    * number then quantity. Every window partitions by l_orderkey (≤ 7
    * rows per group at any scale) — no global or fact-wide sort; the one
    * fact-sized operation is the orders join, left to AQE.
    *
    * (l_orderkey, l_linenumber) is not unique in the synthetic fixture;
    * ties among bit-identical rows may rank either way, but the
    * MULTISET of output rows is invariant (the +1s land on
    * indistinguishable rows), so the sorted oracle compare is
    * deterministic. */
  def allocation(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"), col("l_linenumber"),
        floor(col("l_quantity")).cast("long").as("qty"))
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"),
        floor(col("o_totalprice") * 100).cast("long").as("t_c"))
    val wq = Window.partitionBy("l_orderkey")
    val wr = Window.partitionBy("l_orderkey")
      .orderBy(col("rem").desc, col("l_linenumber"), col("qty"))
    li.join(o, "l_orderkey")
      .withColumn("q_tot", sum("qty").over(wq))
      .withColumn("base", expr("(t_c * qty) div q_tot"))
      .withColumn("rem", expr("(t_c * qty) % q_tot"))
      .withColumn("n_extra", col("t_c") - sum("base").over(wq))
      .withColumn("rk", row_number().over(wr))
      .select(col("l_orderkey"), col("l_linenumber"), col("qty"),
        (col("base") + when(col("rk") <= col("n_extra"), 1L).otherwise(0L))
          .as("alloc_c"))
      .orderBy("l_orderkey", "l_linenumber", "qty", "alloc_c")
  }

  /** Chi-square independence test: is event type independent of
    * weekend/weekday? Observed counts are exact integers; expected cells
    * and the statistic derive from them, folded over a SORTED cell list
    * (q_entropy's determinism trick — a plain SUM would add the 10 cell
    * terms in nondeterministic order). One (type, weekend) aggregate is
    * the only fact-sized work; the contingency table is 10 rows. */
  def chiSquare(spark: SparkSession, dir: String): DataFrame = {
    val cells = Tables.events(spark, dir)
      .select(col("event_type"),
        when(dayofweek(to_date(col("ts"))).isin(1, 7), 1L).otherwise(0L).as("wkend"))
      .groupBy("event_type", "wkend").agg(count(lit(1)).as("o"))
    val rows = cells.groupBy("event_type").agg(sum("o").as("row_tot"))
    val cols = cells.groupBy("wkend").agg(sum("o").as("col_tot"))
    val n = cells.agg(sum("o").as("n"))
    cells
      .join(broadcast(rows), "event_type")
      .join(broadcast(cols), "wkend")
      .crossJoin(broadcast(n))
      .select(struct(col("event_type"), col("wkend"), col("o"),
        col("row_tot"), col("col_tot"), col("n")).as("c"))
      .agg(array_sort(collect_list(col("c"))).as("cs"))
      .select(
        round(aggregate(col("cs"), lit(0.0), (acc, c) => {
          // row_tot·col_tot widens to DECIMAL(38,0) BEFORE the multiply
          // (the Analytics long×long mandate): at ~1e10 events the raw
          // BIGINT product passes 2^63 — ANSI aborts, non-ANSI silently
          // wraps negative; decimal→double is bit-equal below 2^53
          val e = (c.getField("row_tot").cast("decimal(38,0)")
              * c.getField("col_tot")).cast("double") /
            c.getField("n")
          acc + (c.getField("o") - e) * (c.getField("o") - e) / e
        }), 4).as("chi2"),
        lit(4L).as("dof"))
  }

  /** Table checksum for cross-system reconciliation: an order-independent
    * per-group digest (sum of engine-neutral row hashes) plus row count —
    * the "did the migration copy everything" verb. Row hash = md5 of a
    * canonical field concatenation, folded to an integer by the same
    * ascii-weighted sum TokenCode uses, so BOTH engines compute the
    * identical value with no reliance on engine-specific hash(). Sum is
    * commutative → partial-aggregable, exchange carries one (group,
    * count, checksum) triple. */
  def tableChecksum(spark: SparkSession, dir: String): DataFrame = {
    val canonical = concat_ws("|",
      col("event_id"), col("user_id"), col("event_type"),
      unix_timestamp(col("ts")), floor(col("value") * 100))
    Tables.events(spark, dir)
      .select(col("event_type"),
        graft.functions.TokenCode.tokenCode(md5(encode(canonical, "UTF-8"))).as("h"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_rows"), sum("h").as("checksum"))
      .orderBy("event_type")
  }

  /** Ratio-to-report: each event type's share of its day's total value —
    * the percent-of-total window verb every BI layer ships. The share
    * divides two exact DECIMAL sums (per-type and per-day), both built
    * from ONE (day, type) aggregate: the day total is a window sum over
    * the aggregated frame (|days|×|types| rows), never a second fact
    * scan. */
  def shareOfDay(spark: SparkSession, dir: String): DataFrame = {
    val perType = Tables.events(spark, dir)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("event_type"))
      .agg(sum(col("value").cast("decimal(18,2)")).as("v"))
    val wDay = Window.partitionBy("day")
    perType
      .withColumn("day_total", sum("v").over(wDay))
      .select(col("day"), col("event_type"),
        round(col("v"), 2).cast("double").as("total_value"),
        // divide as doubles: decimal/decimal quotient scale differs
        // between engines, double division of exact decimals doesn't.
        // A zero day total (possible when values sum to exactly 0)
        // yields 0.0 on both engines instead of NULL-vs-±inf divergence
        when(col("day_total") === 0, lit(0.0))
          .otherwise(round(col("v").cast("double")
            / col("day_total").cast("double"), 4)).as("share"))
      .orderBy("day", "event_type")
  }

  /** Top-N-plus-other: per day, the top-3 users by event count keep
    * their identity and everyone else collapses into an 'other' bucket —
    * the presentation pattern behind every leaderboard with a long tail.
    * Rank runs over the AGGREGATED (day, user) frame; ties break on
    * user_id so the cut is a total order. */
  def topNOther(spark: SparkSession, dir: String): DataFrame = {
    val perUser = Tables.events(spark, dir)
      .groupBy(date_format(to_date(col("ts")), "yyyy-MM-dd").as("day"),
        col("user_id"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("day").orderBy(col("n").desc, col("user_id"))
    perUser
      .withColumn("rk", row_number().over(w))
      .withColumn("who",
        when(col("rk") <= 3, concat(lit("user_"), col("user_id")))
          .otherwise(lit("other")))
      .groupBy("day", "who")
      .agg(sum("n").as("n_events"), count(lit(1)).as("n_users"))
      .orderBy("day", "who")
  }

  /** Gaps-and-islands: each user's event stream merged into activity
    * islands (a new island opens when the gap from the previous event
    * exceeds 30 min), reporting island count, covered seconds, and the
    * longest stretch — the interval-merge verb behind uptime, coverage,
    * and session-coalescing questions. The classic two-window build
    * (lag-gap flag → running-sum island id) shares ONE user-partitioned
    * sort; timestamps are floor-epoch seconds so every comparison is
    * exact integer arithmetic on both engines. */
  def activityIslands(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("s", "event_id")
    val run = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val islands = Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), unix_timestamp(col("ts")).as("s"))
      .withColumn("new_island",
        when(lag("s", 1).over(w).isNull || col("s") - lag("s", 1).over(w) > 1800, 1L)
          .otherwise(0L))
      .withColumn("island_id", sum("new_island").over(run))
      .groupBy("user_id", "island_id")
      .agg(min("s").as("start_s"), (max("s") + 1800).as("end_s"))
    islands.groupBy("user_id")
      .agg(count(lit(1)).as("n_islands"),
        sum(col("end_s") - col("start_s")).as("covered_s"),
        max(col("end_s") - col("start_s")).as("longest_s"))
      .orderBy("user_id")
  }

  /** E-JOIN full outer: user-day click activity against user-day error
    * activity — rows surviving from EITHER side with absent-side counts
    * coalesced to zero, the reconciliation verb behind "who clicked but
    * never errored and vice versa". Both inputs are PRE-AGGREGATED onto
    * the join key before the outer join, so the wide join runs over two
    * user-day frames (≪ fact) that hash-partition identically — the
    * outer-join-after-reduce discipline that keeps full outer viable at
    * 100 TB. */
  def joinFullOuter(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("user_id"), to_date(col("ts")).as("d"), col("event_type"))
    def daily(tpe: String, out: String) =
      ev.filter(col("event_type") === tpe)
        .groupBy("user_id", "d").agg(count(lit(1)).as(out))
    daily("click", "n_clicks")
      .join(daily("error", "n_errors"), Seq("user_id", "d"), "full_outer")
      .select(col("user_id"), date_format(col("d"), "yyyy-MM-dd").as("day"),
        coalesce(col("n_clicks"), lit(0L)).as("n_clicks"),
        coalesce(col("n_errors"), lit(0L)).as("n_errors"))
      .withColumn("status",
        when(col("n_clicks") > 0 && col("n_errors") > 0, lit("both"))
          .when(col("n_clicks") > 0, lit("clicks_only"))
          .otherwise(lit("errors_only")))
      .orderBy("user_id", "day")
  }

  /** Cart abandonment: clicks with NO purchase by the same user within
    * the following hour — the time-bounded NOT EXISTS verb. Computed
    * WITHOUT a per-click subquery: one user-ordered window carries each
    * row's next purchase timestamp (first ignore-nulls over the
    * following frame), and the abandonment test is a scalar comparison.
    * The oracle deliberately runs the textbook correlated NOT EXISTS —
    * an independent algorithm checking the window algebra (the q_skyline
    * pattern). One fact-sized sort per user is the whole cost. */
  def cartAbandonment(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(1, Window.unboundedFollowing)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("next_buy",
        first(when(col("event_type") === "purchase", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "click")
      .select(to_date(col("ts")).as("d"),
        when(col("next_buy").isNull
          || col("next_buy") > col("ts") + expr("INTERVAL 1 HOUR"), 1L)
          .otherwise(0L).as("abandoned"))
      .groupBy(date_format(col("d"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_clicks"), sum("abandoned").as("n_abandoned"))
      .withColumn("abandon_rate",
        round(col("n_abandoned").cast("double") / col("n_clicks"), 4))
      .orderBy("day")
  }

  /** RFM customer segmentation: recency / frequency / monetary quintile
    * scores per purchasing user, plus a rule-based segment label — the
    * warehouse verb behind lifecycle marketing.
    *
    * Round-8 reshape (r7 verdict task #2): the three unpartitioned
    * `Window.orderBy` ntiles — a single-partition sort of every user,
    * three times, at 100 TB user cardinality — are replaced by
    * SKETCH-BOUNDARY scoring (the q_histogram_eq pattern, generalized to
    * reproduce ntile's rank semantics exactly):
    *
    *  1. `n` and the four ntile bucket-boundary RANKS b_i follow from
    *     ntile(5)'s size rule (first n mod 5 buckets get ⌈n/5⌉ rows).
    *  2. The VALUE at each boundary rank comes from one
    *     `percentile_approx(v, b_i/n, 1e6)` aggregate per metric —
    *     Spark's GK summary targets rank ⌈p·n⌉ with rank error
    *     < n/accuracy, so for n ≤ 1e6 the cut is the exact order
    *     statistic; beyond that a boundary may shift by < n·1e-6 ranks
    *     (immaterial for segmentation, and the documented sketch
    *     tradeoff).
    *  3. One conditional-sum aggregate counts rows strictly below each
    *     cut (`less_i`). A row's bucket is then decided by value
    *     comparison against the broadcast cuts; ONLY rows whose value
    *     EQUALS a cut need rank resolution, and their exact global rank
    *     is `less_i` + row_number within the value tie group — a window
    *     partitioned BY THE VALUE (hash-distributed across groups), never
    *     an unpartitioned sort. rank > b_i ⇔ the row falls past boundary
    *     i, which reproduces ntile's tie-splitting (user_id order) bit
    *     for bit, including tie groups that span multiple boundaries.
    *
    * Descending metrics (frequency, monetary) reuse the ascending
    * machinery on the negated exact value (cents for monetary), which is
    * the same total order ntile saw. Per-user frame is persisted: it
    * feeds the count, two boundary aggregates, and the final projection. */
  def rfm(spark: SparkSession, dir: String): DataFrame = {
    val maxDay = Tables.events(spark, dir)
      .select(max(to_date(col("ts"))).as("mx"))
    val per = Tables.events(spark, dir)
      .filter(col("event_type") === "purchase")
      .groupBy("user_id")
      .agg(max(to_date(col("ts"))).as("last_day"),
        count(lit(1)).as("frequency"),
        sum(col("value").cast("decimal(18,2)")).as("monetary_dec"))
      .crossJoin(broadcast(maxDay))
      .select(col("user_id"),
        datediff(col("mx"), col("last_day")).cast("long").as("recency"),
        col("frequency"),
        col("monetary_dec"))
      // ascending ntile sort keys, all exact longs: recency as-is;
      // frequency/monetary negated (DESC order); monetary in exact cents
      .withColumn("rv", col("recency"))
      .withColumn("fv", -col("frequency"))
      .withColumn("mv", -(col("monetary_dec") * 100).cast("long"))
      // (lifecycle: the final frame re-reads `per` at the caller's action
      // time, so not unpersistable here; harness clearCache reclaims)
      .persist()
    val n = per.count() // per-user scalar (same license as the CC fixpoint)
    // no purchasers: quintile boundaries b/n would be NaN and the NaN
    // would reach percentile_approx's SQL text as an unresolvable
    // identifier (empty-input sweep) — the segmentation of nobody is the
    // empty frame, shaped like the scored output
    if (n == 0)
      return per.select(col("user_id"), col("recency"), col("frequency"),
        round(col("monetary_dec"), 2).cast("double").as("monetary"),
        lit(0L).as("r_score"), lit(0L).as("f_score"), lit(0L).as("m_score"),
        lit("regular").as("segment"))
    val (q5, r5) = (n / 5L, n % 5L)
    // cumulative bucket-end ranks: b_i = i·q + min(i, r)
    val bounds = (1 to 4).map(i => i * q5 + math.min(i.toLong, r5))
    val ps = bounds.map(b => b.toDouble / n)
    val metrics = Seq("rv", "fv", "mv")
    val cutsRow = per.agg(
      expr(s"percentile_approx(rv, array(${ps.mkString(",")}), 1000000)").as("rv"),
      expr(s"percentile_approx(fv, array(${ps.mkString(",")}), 1000000)").as("fv"),
      expr(s"percentile_approx(mv, array(${ps.mkString(",")}), 1000000)").as("mv"))
      .head()
    val cuts: Map[String, Seq[Long]] =
      metrics.map(mc => mc -> cutsRow.getAs[Seq[Long]](mc)).toMap
    val lessAggs = for { mc <- metrics; i <- 0 to 3 } yield
      sum(when(col(mc) < cuts(mc)(i), 1L).otherwise(0L)).as(s"${mc}_$i")
    val lessRow = per.agg(lessAggs.head, lessAggs.tail: _*).head()
    val less: Map[String, Seq[Long]] =
      metrics.map(mc => mc -> (0 to 3).map(i =>
        Option(lessRow.getAs[Long](s"${mc}_$i")).getOrElse(0L))).toMap
    // score = 6 - bucket; bucket = 1 + #{i : row is past boundary i}
    def score(mc: String): Column = {
      val rw = row_number().over(Window.partitionBy(mc).orderBy("user_id"))
      val above = (0 to 3).map { i =>
        when(col(mc) > cuts(mc)(i)
          || (col(mc) === cuts(mc)(i) && lit(less(mc)(i)) + rw > bounds(i)),
          1).otherwise(0)
      }
      (lit(6) - (above.reduce(_ + _) + lit(1))).cast("long")
    }
    per.select(col("user_id"), col("recency"), col("frequency"),
        round(col("monetary_dec"), 2).cast("double").as("monetary"),
        score("rv").as("r_score"),
        score("fv").as("f_score"),
        score("mv").as("m_score"))
      .withColumn("segment",
        when(col("r_score") >= 4 && col("f_score") >= 4, lit("champion"))
          .when(col("r_score") <= 2 && col("f_score") >= 4, lit("at_risk"))
          .when(col("f_score") <= 2 && col("r_score") >= 4, lit("new"))
          .otherwise(lit("regular")))
      .orderBy("user_id")
  }

  /** Behavioral signatures: each user's sorted distinct event-type set
    * collapsed to one string, then the histogram of signatures — the
    * listagg/string_agg verb plus a "which behavior profiles exist"
    * rollup. Set collection is per-user (bounded by |event types|), the
    * signature histogram is |signatures| ≤ 2^|types| rows. */
  def behaviorSignatures(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      // first-3-days onboarding window: over the whole fixture every user
      // reaches all five types and the histogram collapses to one row
      .filter(to_date(col("ts")) <= lit("2024-01-03").cast("date"))
      .groupBy("user_id")
      .agg(array_join(array_sort(collect_set(col("event_type"))), ">").as("signature"))
      .groupBy("signature")
      .agg(count(lit(1)).as("n_users"))
      .orderBy(col("n_users").desc, col("signature"))

  /** Benford first-digit screen: distribution of the leading digit of
    * the centi-unit value — the classic fabricated-numbers smoke test, a
    * data-quality sibling of q_dq_checks. Digits come from exact integer
    * string heads; shares divide exact counts. One narrow projection +
    * a 9-row agg. */
  def benfordDigits(spark: SparkSession, dir: String): DataFrame = {
    val digits = Tables.events(spark, dir)
      .select(substring(floor(col("value") * 100).cast("long").cast("string"), 1, 1)
        .as("digit"))
      .groupBy("digit").agg(count(lit(1)).as("n"))
    val total = digits.select(sum("n").as("total"))
    digits.crossJoin(broadcast(total))
      .select(col("digit"), col("n"),
        round(col("n").cast("double") / col("total"), 4).as("share"))
      .orderBy("digit")
  }

  /** Multiple DISTINCT aggregates in one pass — `count(DISTINCT user)`,
    * `count(DISTINCT day)`, and a plain count share a single GROUP BY.
    * Catalyst rewrites this with Expand (one row replica per distinct
    * set), which is THE multi-distinct plan shape at scale: each replica
    * partial-aggregates map-side, so the exchange carries one row per
    * (group, distinct-value), never the raw fact stream twice. */
  def multiDistinct(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy("event_type")
      .agg(
        countDistinct(col("user_id")).as("n_users"),
        countDistinct(to_date(col("ts"))).as("n_days"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")

  /** Event-transition matrix (first-order Markov): counts and row-
    * normalized probabilities of consecutive event-type pairs per user —
    * the "what happens after X" verb behind next-action prediction and
    * journey maps. One user-partitioned window (lead) over the fact scan
    * is the only wide stage; the transition frame is |types|² (tiny), so
    * totals broadcast back. Probabilities divide exact counts. */
  def transitions(spark: SparkSession, dir: String): DataFrame = {
    val pairs = transitionPairs(spark, dir)
    val totals = pairs.groupBy("src").agg(sum("n").as("tot"))
    pairs.join(broadcast(totals), "src")
      .select(col("src"), col("dst"), col("n"),
        round(col("n").cast("double") / col("tot"), 4).as("p"))
      .orderBy("src", "dst")
  }

  /** Consecutive event-type pair counts per user — the SHARED estimation
    * stage of [[transitions]] (single-step probabilities) and
    * [[markovStationary]] (power iteration): one definition so an edit
    * to the ordering key or the null-tail filter cannot silently make
    * q_markov's chain diverge from q_transitions' matrix while both
    * still pass their independent oracles. */
  private def transitionPairs(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("dst", lead("event_type", 1).over(w))
      .filter(col("dst").isNotNull)
      .groupBy(col("event_type").as("src"), col("dst"))
      .agg(count(lit(1)).as("n"))
  }

  /** q_markov: steady-state distribution of the event-type Markov chain
    * — five synchronous power-iteration steps π ← πP from the uniform
    * start, over the transition matrix [[transitions]] estimates. Where
    * q_transitions reports single-step behavior, the (near-)stationary π
    * says where the process SPENDS its time — the load-mix forecast
    * behind capacity planning. Each step's per-state sum folds over the
    * source-SORTED term list (q_entropy's discipline: a 5-term double
    * sum in fixed order on both engines); every term is (π·n)/tot with
    * n, tot exact integers, so iteration k is bit-identical to the
    * oracle's chained CTE k.
    *
    * Scale shape: the fact collapses once into the |types|² transition
    * counts; all five iterations live on that dimension frame
    * (broadcast joins, ≤|types| rows of state). The iteration count is
    * fixed and tiny, so no checkpoint discipline is needed — the whole
    * loop is one linear plan over 25-row frames. */
  def markovStationary(spark: SparkSession, dir: String): DataFrame = {
    val pairs = transitionPairs(spark, dir)
      // freeze the |types|²-row transition counts: totals, the
      // uniform seed, every iteration's π, and the final join all derive
      // from this frame, so without truncation the per-user lead window
      // (the only fact-sized work) re-runs ~7× across the chain. The
      // residual bench cost after truncation is per-iteration job-launch
      // overhead on 25-row frames — constant in data size
      .eagerly
    val totals = pairs.groupBy("src").agg(sum("n").as("tot"))
    val p = pairs.join(broadcast(totals), "src")
    val k = totals.agg(count(lit(1)).as("k"))
    var pi = totals.crossJoin(broadcast(k))
      .select(col("src").as("state"), (lit(1.0) / col("k")).as("pi"))
    for (_ <- 1 to 5) {
      pi = p.join(broadcast(pi), col("src") === col("state"))
        .select(col("dst"),
          struct(col("src"), ((col("pi") * col("n")) / col("tot")).as("term"))
            .as("c"))
        .groupBy("dst")
        .agg(collect_list(col("c")).as("l"))
        .select(col("dst").as("state"),
          SortedFolds.sortedTermSum(col("l")).as("pi"))
    }
    pi.join(broadcast(totals.select(col("src").as("state"), col("tot"))), "state")
      .select(col("state"), col("tot").as("n_out"), round(col("pi"), 6).as("pi"))
      .orderBy("state")
  }

  /** Peak concurrency by sweep-line: each event opens a 1-hour interval;
    * +1/−1 boundary deltas, a running sum per type, max = the most
    * intervals ever open at once — the interval-overlap verb behind
    * "how many sessions were live at peak". End boundaries sort before
    * starts at the same instant (delta ascending), making intervals
    * end-exclusive. The running sum is a per-type ROWS window; rows with
    * identical (t, delta) permute only equal deltas, so the prefix-sum
    * MULTISET — and hence the max — is deterministic even though
    * individual row values aren't. */
  def peakConcurrency(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir).select(col("event_type"), col("ts"))
    val deltas = ev.select(col("event_type"), col("ts").as("t"), lit(1L).as("delta"))
      .unionByName(ev.select(col("event_type"),
        (col("ts") + expr("INTERVAL 1 HOUR")).as("t"), lit(-1L).as("delta")))
    val w = Window.partitionBy("event_type").orderBy("t", "delta")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    deltas.withColumn("conc", sum("delta").over(w))
      .groupBy("event_type").agg(max("conc").as("peak"))
      .orderBy("event_type")
  }

  /** Last-touch attribution: each purchase credited to the user's most
    * recent PRECEDING click, with the click→purchase latency — the
    * carry-forward-within-sequence verb (LOCF's cross-event-type
    * sibling) marketing attribution runs on. One user-partitioned sort
    * serves both carried columns; no self-join of the fact table against
    * itself per purchase. Seconds via floor(epoch) on both engines. */
  def attribution(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy("user_id").orderBy("ts", "event_id")
      .rowsBetween(Window.unboundedPreceding, -1)
    Tables.events(spark, dir)
      .select(col("user_id"), col("event_id"), col("event_type"), col("ts"))
      .withColumn("click_id",
        last(when(col("event_type") === "click", col("event_id")), ignoreNulls = true).over(w))
      .withColumn("click_ts",
        last(when(col("event_type") === "click", col("ts")), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" && col("click_id").isNotNull)
      .select(col("user_id"), col("event_id").as("purchase_id"), col("click_id"),
        (unix_timestamp(col("ts")) - unix_timestamp(col("click_ts"))).as("latency_s"))
      .orderBy("purchase_id")
  }

  /** Per-type linear trend (simple OLS of value on day): slope and
    * intercept from the five classic sums — and every sum is an exact
    * BIGINT (days since a fixed epoch × centi-unit values), so the only
    * doubles are the two final divisions and both engines agree
    * bit-for-bit. The sums partial-aggregate (one narrow scan + one
    * |types|-row agg); nothing about the shape changes at 100 TB. */
  def linearTrend(spark: SparkSession, dir: String): DataFrame = {
    val agg = Tables.events(spark, dir)
      .select(col("event_type"),
        datediff(to_date(col("ts")), lit("2024-01-01")).cast("long").as("x"),
        floor(col("value") * 100).cast("long").as("y"))
      .groupBy("event_type")
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("y")).as("sxy"), sum(col("x") * col("x")).as("sxx"))
    // a degenerate group (all events on one day) zeroes the denominator;
    // under ANSI mode an unguarded `/` ABORTS THE JOB, so degrade to NULL
    // instead — which is also DuckDB's x/0 convention, keeping the oracle
    // in agreement when a group IS degenerate
    val denom = col("n") * col("sxx") - col("sx") * col("sx")
    val slope = when(denom === 0, lit(null).cast("double"))
      .otherwise((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") / denom)
    agg.select(col("event_type"), col("n"),
        round(slope, 6).as("slope_cents_per_day"),
        round((col("sy") - slope * col("sx")).cast("double") / col("n"), 4)
          .as("intercept_cents"))
      .orderBy("event_type")
  }

  /** E-WIN SCD2: slowly-changing-dimension history from a change log —
    * each run of consecutive equal values per user becomes one validity
    * interval [valid_from, valid_to), the current row open-ended (-1).
    * The warehouse pattern behind "what was this entity's state at time
    * t" (the dimension-side complement of the as-of join): change flag by
    * lag, run id by running sum, interval bounds by min + lead. All three
    * windows share ONE (user_id)-partitioned sort at scale — no
    * fact-table self-join, no explode. */
  def scd2(spark: SparkSession, dir: String): DataFrame =
    // adjacent runs can share a boundary instant (equal-ts events), so
    // the total order needs all four columns
    scd2Unsorted(spark, dir)
      .orderBy("user_id", "valid_from", "event_type", "valid_to")

  private def scd2Unsorted(spark: SparkSession, dir: String): DataFrame = {
    val byEvent = Window.partitionBy("user_id").orderBy("ts", "event_id")
    val runs = Tables.events(spark, dir)
      .select("user_id", "ts", "event_id", "event_type")
      .withColumn("chg", when(lag("event_type", 1).over(byEvent).isNull
        || lag("event_type", 1).over(byEvent) =!= col("event_type"), 1L).otherwise(0L))
      .withColumn("run_id", sum("chg").over(
        byEvent.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy("user_id", "run_id")
      // event_type is constant within a run by construction
      .agg(min("event_type").as("event_type"), min("ts").as("vf"))
    val byRun = Window.partitionBy("user_id").orderBy("run_id")
    runs.select(col("user_id"), col("event_type"),
      unix_timestamp(col("vf")).as("valid_from"),
      coalesce(unix_timestamp(lead("vf", 1).over(byRun)), lit(-1L)).as("valid_to"))
  }

  /** q_asof_snapshot: point-in-time state from the SCD2 history — "what
    * was every user doing at time T" as one interval-containment filter
    * over the validity table ([[scd2]]'s output), T = 2024-01-15 UTC.
    * The dimension-side complement of the as-of JOIN: q_asof answers
    * "state at each fact's time", this answers "all states at ONE time"
    * (the warehouse time-travel read). One row per user active at T;
    * open intervals (valid_to = -1) are current state. */
  def asofSnapshot(spark: SparkSession, dir: String): DataFrame = {
    val t = lit(1705276800L) // 2024-01-15 00:00:00 UTC
    scd2Unsorted(spark, dir)
      .filter(col("valid_from") <= t
        && (col("valid_to") === -1L || col("valid_to") > t))
      .select(col("user_id"), col("event_type").as("state_at_t"),
        col("valid_from").as("since"))
      .orderBy("user_id")
  }

  /** Data-quality constraint report (the validation pass a training
    * pipeline runs before ingest; generalizes the reference's field
    * validators, `verify.py:40-50`, from per-row dispatch to table-level
    * contracts): each check is (name, violations, population). The three
    * customer column checks fold into ONE scan (a single aggregate
    * unpivoted by `stack`); primary-key uniqueness is a keyed count; the
    * referential check is a broadcast anti-join count, so the fact side
    * never shuffles. */
  def dqChecks(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    val o = Tables.orders(spark, dir)
    val colChecks = c.agg(
        count(lit(1)).as("n"),
        sum(when(col("c_acctbal").isNull, 1L).otherwise(0L)).as("v_null"),
        sum(when(!col("c_acctbal").between(-1000.0, 10000.0), 1L).otherwise(0L)).as("v_range"),
        sum(when(!col("c_name").rlike("^Customer#[0-9]+$"), 1L).otherwise(0L)).as("v_fmt"))
      .selectExpr(
        "stack(3, 'completeness_acctbal', v_null, 'range_acctbal', v_range, 'format_name', v_fmt) AS (check_name, n_violations)",
        "n AS n_checked")
    val pk = c.groupBy("c_custkey").agg(count(lit(1)).as("k"))
      .agg(coalesce(sum(when(col("k") > 1, 1L).otherwise(0L)), lit(0L)).as("n_violations"),
        count(lit(1)).as("n_checked"))
      .select(lit("pk_unique_custkey").as("check_name"), col("n_violations"), col("n_checked"))
    val fk = o.select(col("o_custkey"))
      .join(broadcast(c.select(col("c_custkey"))),
        col("o_custkey") === col("c_custkey"), "left_anti")
      .agg(count(lit(1)).as("n_violations"))
      .crossJoin(o.agg(count(lit(1)).as("n_checked")))
      .select(lit("fk_orders_customer").as("check_name"), col("n_violations"), col("n_checked"))
    colChecks.select("check_name", "n_violations", "n_checked")
      .unionByName(pk).unionByName(fk)
      .orderBy("check_name")
  }

  /** E-MERGE keyed upsert, query form — the reference's registration flow
    * is an ORM save (`app/views.py:49-52`: insert a new user, or update
    * the row a key collision finds), and every large-scale table needs the
    * same verb for late-arriving corrections. Relational shape:
    *   merged = (target ANTI-JOIN updates ON key) UNION ALL updates
    * — target rows not superseded survive, every update/insert row lands.
    * Updates are dim-sized in practice (a day of corrections against
    * years of data), so the anti-join BROADCASTS the update keyset and
    * the 100 TB fact side is one scan, no shuffle before the verify sort.
    * The physical twin, `Writers.mergeUpsert`, pushes the same plan
    * through dynamic partition overwrite so only partitions containing an
    * updated key are rewritten. */
  def mergeUpdates(spark: SparkSession, dir: String): DataFrame = {
    val c = Tables.customer(spark, dir)
    // corrections: every 10th key re-states its balance; inserts: every
    // 100th key spawns a new id outside the existing key range
    c.filter(col("c_custkey") % 10 === 0)
      .select(col("c_custkey"), col("c_name"),
        (col("c_acctbal") + 100.0).as("c_acctbal"))
      .unionByName(c.filter(col("c_custkey") % 100 === 0)
        .select((col("c_custkey") + 1000000L).as("c_custkey"),
          concat(lit("new_"), col("c_custkey").cast("string")).as("c_name"),
          lit(0.0).as("c_acctbal")))
  }

  def mergeUpsertQuery(spark: SparkSession, dir: String): DataFrame = {
    val target = Tables.customer(spark, dir)
      .select("c_custkey", "c_name", "c_acctbal")
    val updates = mergeUpdates(spark, dir)
    target.join(broadcast(updates), Seq("c_custkey"), "left_anti")
      .unionByName(updates)
      .orderBy("c_custkey")
  }

  /** E-MAP/JSON: malformed-record quarantine accounting — the
    * PERMISSIVE-mode half of JSON ingest (at 100 TB some fraction of
    * `props` payloads WILL be truncated/garbled; the pipeline must count
    * and route them, not die). A deterministic mangle (drop the leading
    * `{` on every 7th record, so the payload is invalid from byte 0 — no
    * partial-parse ambiguity between engines) stands in for wire
    * corruption. PERMISSIVE `from_json` never nulls the struct — it nulls
    * the FIELDS — so corrupt rows are detected the idiomatic way: a
    * `columnNameOfCorruptRecord` slot that captures the raw unparseable
    * payload (which is also what a real quarantine sink would route).
    * The aggregate reports per-type corrupt counts alongside the sum over
    * the rows that DID parse. One narrow scan, partial-aggregable. */
  def corruptQuarantine(spark: SparkSession, dir: String): DataFrame = {
    val mangled = when(col("event_id") % 7 === 0, substring(col("props"), 2, 1000000))
      .otherwise(col("props"))
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k BIGINT, _quarantine STRING")
    Tables.events(spark, dir)
      .select(col("event_type"),
        from_json(mangled, schema,
          Map("columnNameOfCorruptRecord" -> "_quarantine")).as("parsed"))
      .groupBy("event_type")
      .agg(
        count(lit(1)).as("n"),
        sum(when(col("parsed._quarantine").isNotNull, 1L).otherwise(0L)).as("n_corrupt"),
        sum(col("parsed.k")).as("k_sum"))
      .orderBy("event_type")
  }

  /** In-flight data-quality metrics via `Dataset.observe`: row count, null
    * count, and extrema of `valueCol` are accumulated DURING whatever
    * action the caller runs on the returned frame — no second scan, no
    * cache. This is how a 100 TB pipeline watches itself: contracts ride
    * on the production query instead of doubling the I/O bill (the
    * post-hoc twin of [[dqChecks]], which is its own scan). Metrics must
    * be partial-aggregable (they are: count/sum/min/max) because each
    * task contributes a partial buffer. */
  def observeDq(df: DataFrame, obs: org.apache.spark.sql.Observation,
                valueCol: String): DataFrame =
    df.observe(obs,
      count(lit(1)).as("n_rows"),
      sum(when(col(valueCol).isNull, 1L).otherwise(0L)).as("n_null"),
      min(col(valueCol)).as("v_min"),
      max(col(valueCol)).as("v_max"))

  /** E-WIN/E-DATE: time-series gap fill + forward fill (LOCF) — the
    * resample step every monitoring dashboard needs over the reference's
    * event history (`views.py` dashboard; "historical trend analysis",
    * paper p.1). A dense (event_type × day) calendar grid is generated
    * from ONE global min/max aggregate (`sequence` + explode — no driver
    * round-trip), daily counts left-join onto it, and missing days carry
    * the last observed count via `last(_, ignoreNulls)` over a
    * per-type ordered window. Scale: the grid is |types| × |days| — both
    * dimension-like — and the window partitions by type, so the sort is
    * per-type calendar-length, never event-count-length. */
  def gapFillLocf(spark: SparkSession, dir: String): DataFrame = {
    val ev = Tables.events(spark, dir)
      .select(col("event_type"), date_trunc("day", col("ts")).as("day"))
    val daily = ev.groupBy("event_type", "day").agg(count(lit(1)).as("n"))
    val grid = ev.agg(min("day").as("lo"), max("day").as("hi"))
      .select(explode(sequence(col("lo"), col("hi"), expr("interval 1 day"))).as("day"))
      .crossJoin(ev.select("event_type").distinct())
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("event_type").orderBy("day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)
    grid.join(daily, Seq("event_type", "day"), "left")
      .select(
        col("event_type"),
        col("day").cast("date").as("day"),
        coalesce(last(col("n"), ignoreNulls = true).over(w), lit(0L)).as("n_filled"),
        col("n").isNotNull.as("observed"))
      .orderBy("event_type", "day")
  }

  /** E-AGG/E-WIN: CDC apply — reduce a keyed change log to current state
    * (the log-compaction half of [[mergeUpsertQuery]]'s upsert; reference
    * seed: the per-user latest-state reads in `views.py`). `event_type`
    * plays the op column: `error` = tombstone, anything else upserts.
    * Scale shape: ONE `max_by(payload, (ts, event_id))` aggregate — the
    * struct buffer makes it a SortAggregate (partition-LOCAL sort), but
    * the partial max runs map-side, so the exchange moves one compacted
    * row per key instead of every key's full history like the
    * row_number-over-window formulation. Tombstoned keys are dropped
    * AFTER the reduce, so
    * a delete correctly shadows earlier updates. */
  def cdcApply(spark: SparkSession, dir: String): DataFrame =
    Tables.events(spark, dir)
      .groupBy(col("user_id"))
      .agg(max_by(
        struct(col("event_type"), col("value"), col("ts")),
        struct(col("ts"), col("event_id"))).as("last"))
      .select(
        col("user_id"),
        col("last.event_type").as("last_op"),
        col("last.value").as("last_value"),
        col("last.ts").as("last_ts"))
      .filter(col("last_op") =!= "error")
      .orderBy("user_id")

  /** V1-V5 validation dispatch (`verify.py:40-50`): first-failing-rule
    * when-chain over customer rows, aggregated to status counts. */
  def validationDispatch(spark: SparkSession, dir: String): DataFrame =
    Tables.customer(spark, dir)
      .select(
        when(!col("c_name").rlike("^Customer#[0-9]+$"), lit("bad_format"))
          .when(length(col("c_name")) < lit(10), lit("too_short"))
          .when(col("c_acctbal") < 0, lit("negative_balance"))
          .when(!col("c_mktsegment").rlike("^[A-Z]+$"), lit("bad_segment"))
          .otherwise(lit("ok")).as("status"))
      .groupBy("status").agg(count(lit(1)).as("n"))
      .orderBy("status")
}
