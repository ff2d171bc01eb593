package graft.operators

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scale patterns (SURVEY §4 / BASELINE.json 100 TB mandate): skew salting
  * and two-phase aggregation, written as reusable library transforms with
  * an oracle-checked query proving the rewrite is semantics-preserving.
  */
object Scale {

  /** Two-phase salted aggregation: groupBy(key, salt) partial → groupBy
    * (key) final. For a skewed key (one camera producing most frames, one
    * hot user), the first phase spreads the hot key over `buckets`
    * reducers; the second phase combines `buckets` rows per key —
    * O(keys × buckets), tiny. The salt derives from a hash of the whole
    * input row, so the rewrite is deterministic and, because both count
    * and decimal-sum are commutative monoids, the final result is
    * IDENTICAL to the direct aggregation (q_salted_agg's oracle is the
    * plain GROUP BY).
    *
    * (Spark's AQE skew handling covers joins; aggregation skew is still
    * the pipeline author's job — this is that tool.) */
  def saltedAgg(df: DataFrame, key: String, buckets: Int)(aggs: (Column, String)*): DataFrame = {
    // the CONTRACT lives in the final combine: every partial is re-merged
    // with sum(), so only sum-decomposable aggregates (count, sum) are
    // legal here — an avg/max/min partial summed over `buckets` rows is
    // silently ~buckets× wrong, which is worse than failing. The varargs
    // can't carry that proof, but an EMPTY call can at least die with the
    // contract instead of a bare aggs.head NoSuchElementException.
    require(aggs.nonEmpty,
      "saltedAgg needs at least one (aggregate, name) pair; aggregates " +
        "must be sum-decomposable (count/sum) — partials are re-merged with sum()")
    val salted = df.withColumn("_salt",
      pmod(hash(struct(df.columns.toIndexedSeq.map(col): _*)), lit(buckets)))
    val partial = salted.groupBy(col(key), col("_salt"))
      .agg(aggs.head._1.as("_p0"), aggs.tail.zipWithIndex.map { case ((c, _), i) => c.as(s"_p${i + 1}") }: _*)
    // final combine: sum of partial counts / sums per key
    partial.groupBy(col(key))
      .agg(sum(col("_p0")).as(aggs.head._2),
        aggs.tail.zipWithIndex.map { case ((_, n), i) => sum(col(s"_p${i + 1}")).as(n) }: _*)
  }

  /** Oracle-checked proof query: per-event-type count + exact decimal sum
    * via the salted two-phase plan; must hash-match the plain GROUP BY. */
  def saltedAggQuery(spark: SparkSession, dir: String): DataFrame =
    saltedAgg(Tables.events(spark, dir), "event_type", buckets = 8)(
      count(lit(1)) -> "n_events",
      sum(col("value").cast("decimal(18,2)")) -> "value_dec")
      .select(col("event_type"), col("n_events"),
        round(col("value_dec"), 2).cast("double").as("total_value"))
      .orderBy("event_type")

  /** Skew-safe replicated join: the JOIN twin of [[saltedAgg]]. A shuffle
    * join hashes each side by the join key, so one hot key (one camera
    * producing most frames) lands ALL its fact rows on one reducer no
    * matter how many there are. Salting spreads it: the fact side gets a
    * deterministic salt in [0, buckets) (hash of the whole row — same
    * derivation as saltedAgg, so the rewrite is replayable), the dim side
    * is REPLICATED once per salt value, and the join key becomes
    * (key, salt) — the hot key now occupies `buckets` reducers. Dim cost
    * is buckets× its size, which is why this is a FACT-×-MEDIUM-DIM tool:
    * a dim small enough to broadcast should broadcast (no shuffle at
    * all), and plain SMJ skew is AQE's job (SkewSpec); salting is for the
    * shapes AQE can't rebalance — streaming joins planned before stats
    * exist, or a build side just over the broadcast threshold. The
    * `shuffle_hash` hint keeps the demo on the shuffled-join path a
    * too-small fixture dim would otherwise broadcast away. Result is
    * IDENTICAL to the plain join: every fact row meets exactly the one
    * dim replica sharing its salt (q_salted_join's oracle is the plain
    * join). */
  def saltedJoin(fact: DataFrame, dim: DataFrame, key: String, buckets: Int): DataFrame = {
    val saltedFact = fact.withColumn("_salt",
      pmod(hash(struct(fact.columns.toIndexedSeq.map(col): _*)), lit(buckets)))
    val replicated = dim.withColumn("_salt",
      explode(array((0 until buckets).map(lit(_)): _*)))
    saltedFact.join(replicated.hint("shuffle_hash"), Seq(key, "_salt")).drop("_salt")
  }

  /** Oracle-checked proof query: lineitem×orders revenue per priority via
    * the salted replicated join; must hash-match the plain join. */
  def saltedJoinQuery(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.lineitem(spark, dir).select("l_orderkey", "l_extendedprice")
    val dim = Tables.orders(spark, dir)
      .select(col("o_orderkey").as("l_orderkey"), col("o_orderpriority"))
    saltedJoin(fact, dim, "l_orderkey", buckets = 8)
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_extendedprice").cast("decimal(18,2)")), 2).cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  /** Runtime-filter pattern: semi-join the fact table to a filtered dim,
    * with a Bloom filter of the dim keys pruning the fact side BEFORE the
    * join shuffle. At 100 TB this is THE lever for selective dim joins —
    * the shuffle only carries fact rows that can possibly match (plus the
    * sketch's ~fpp false positives, which the exact semi-join then
    * clears, so the RESULT is identical to the plain semi-join and the
    * oracle is the plain semi-join SQL). Building the sketch is one
    * driver-coordinated pass over the (small, already-filtered) dim keys
    * — the same lifecycle as a broadcast hash join's build side; the
    * probe-side filter stays in whole-stage codegen (MightContainLong).
    * Spark's AQE grows this filter automatically when statistics reveal
    * it; the library form is for build sides the author KNOWS are
    * selective (the reference's dim-table joins, SURVEY §2.2 P7). */
  def bloomSemiJoin(spark: SparkSession, dir: String): DataFrame = {
    // frozen: the filtered key set is read by the bloom build and the
    // semi-join probe — repeated passes over orders without it (the
    // contamination/testGrams lesson); the frame is selective-keys-sized
    // by construction. The probe pass runs at the CALLER'S action time,
    // so it cannot be released here — the context cleaner frees it once
    // the result frame is gone.
    // Sized from the actual build-side count (the freeze job's own):
    // fpp 1% keeps the sketch a few hundred KB per million keys. Zero
    // hot keys: Spark's bloomFilter aggregate NPEs on an empty frame
    // (null buffer) — and nothing can match anyway, so short-circuit the
    // probe side instead of building a sketch of nothing (empty-input
    // sweep)
    val (hot, nHot) = graft.plans.Eager.materialize(Tables.orders(spark, dir)
      .filter(col("o_totalprice") > 300000.0)
      .select("o_orderkey"))
    val base = Tables.lineitem(spark, dir)
      .select("l_orderkey", "l_quantity", "l_returnflag")
    val pruned =
      if (nHot == 0) base.where(lit(false))
      else {
        val bf = hot.stat.bloomFilter("o_orderkey",
          expectedNumItems = math.max(1000L, nHot), fpp = 0.01)
        base.filter(graft.functions.MightContainLong.mightContainLong(col("l_orderkey"), bf))
      }
    pruned.join(hot, pruned("l_orderkey") === hot("o_orderkey"), "left_semi")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("n_items"),
        round(sum(col("l_quantity").cast("decimal(18,2)")), 2).cast("double").as("sum_qty"))
      .orderBy("l_returnflag")
  }

  /** Incremental aggregate maintenance (materialized-view maintenance):
    * a stored per-key state of COMMUTATIVE-MONOID partials (count + exact
    * decimal sum — the same partials two-phase aggregation already
    * relies on) is folded together with one new data slice's partials,
    * instead of re-aggregating history. At 100 TB this is the rolling-
    * metrics pattern: each arriving day costs one slice-sized aggregate
    * plus a state-sized merge — the full table is never rescanned. Means,
    * rates etc. derive from (n, s) at read time (`readAggState`), which
    * is why the STATE stores raw partials rather than finished averages:
    * averages don't merge, partials do.
    *
    * Each slice must be folded exactly once (this is the batch twin of
    * the streaming sinks' replay discipline — gate redelivery upstream,
    * e.g. by slice id). The rewrite goes through the compact/merge
    * staging path: new state is written beside the old and swapped in,
    * so a crash mid-maintenance leaves the previous state readable.
    *
    * SINGLE-WRITER per statePath (r11 concurrency audit) — like any
    * checkpoint/state store: the read-merge-swap is not atomic across
    * CONCURRENT maintenance calls, so two simultaneous slices would
    * either lose one slice's partials (both merged against the pre-swap
    * state) or fail mid-scan when the other's swap renames files away.
    * Serialize maintenance (union concurrent slices into one call); a
    * JVM lock cannot express this — the state lives on shared storage
    * across processes, so the discipline is the caller's, exactly as it
    * is for a Structured Streaming checkpoint dir. */
  def maintainAggState(spark: SparkSession, statePath: String, slice: DataFrame,
                       key: String, valueCol: String): Unit = {
    // the STATE sum is decimal(38,2), not the per-value (18,2): a rolling
    // total accumulates across every slice ever folded, and a hot key's
    // lifetime total passing 10^16 would overflow an (18,2) cap — under
    // ANSI (the Spark 4 default) that throws on EVERY subsequent
    // maintenance (permanent outage for the whole state file), with ANSI
    // off it silently NULLs the state so the next merge restarts the key
    // from one slice. (38,2) holds 10^36 — beyond physical — and the cast
    // below only pins the schema against precision creep (28,2 → 38,2),
    // it can no longer truncate a real total.
    val partials = slice.groupBy(col(key))
      .agg(count(lit(1)).as("n"),
        sum(col(valueCol).cast("decimal(18,2)")).cast("decimal(38,2)").as("s"))
    val state = new java.io.File(statePath)
    if (!state.exists()) { partials.write.parquet(statePath); return }
    val merged = spark.read.parquet(statePath).unionByName(partials)
      .groupBy(col(key))
      .agg(sum(col("n")).as("n"),
        sum(col("s")).cast("decimal(38,2)").as("s"))
    val nonce = s"${ProcessHandle.current().pid()}_${System.nanoTime()}"
    val tmp = new java.io.File(statePath + s".maintain_$nonce")
    merged.write.parquet(tmp.getPath)
    graft.sources.Writers.swapIn(state, tmp, new java.io.File(statePath + s".old_$nonce"))
  }

  /** Read the maintained state back as finished metrics: count, exact
    * 2-dp total, and the derived mean. */
  def readAggState(spark: SparkSession, statePath: String): DataFrame =
    spark.read.parquet(statePath)
      .select(col("*"), round(col("s") / col("n"), 2).cast("double").as("mean"))

  /** Exact distinct users per event type through the fixed-width bitmap
    * aggregator (graft.functions.BitmapDistinct) — the dense-domain
    * exact twin of q_approx_distinct's HLL: constant 8 KB state per
    * group, OR-merge partials, popcount finish. The oracle is the plain
    * count(DISTINCT); at scale the win is the exchange carrying one blob
    * per group instead of every (group, user) pair. */
  def bitmapDistinctQuery(spark: SparkSession, dir: String): DataFrame = {
    val bd = udaf(graft.functions.BitmapDistinct(1 << 16),
      org.apache.spark.sql.Encoders.scalaLong)
    Tables.events(spark, dir)
      .groupBy("event_type")
      // null ids become the aggregator's skip sentinel: count(DISTINCT) —
      // the oracle — ignores nulls, but the udaf's primitive-Long input
      // encoder cannot represent null (a null slot would otherwise read
      // as 0 and alias id 0, or fail the batch). The fixture carries no
      // null user_id; the coalesce pins oracle-equal semantics for
      // inputs that do.
      .agg(bd(coalesce(col("user_id"),
          lit(graft.functions.BitmapDistinct.NullSentinel))).as("n_users"),
        count(lit(1)).as("n_events"))
      .orderBy("event_type")
  }

  /** Dynamic partition pruning: Sunday traffic summary against the
    * date-partitioned events layout. The weekday dim derives from the
    * UNPARTITIONED fixture file (a genuine second source), carries the
    * selective `dayofweek = Sunday` predicate, and joins on the fact's
    * PARTITION column — the shape where Spark injects a
    * dynamicpruningexpression into the fact scan's PartitionFilters and
    * opens only matching directories (4 of 30 here). At 100 TB this is
    * the difference between scanning a month and scanning its Sundays;
    * the static twin is q_date_pruned (literal predicate), this is the
    * runtime-valued one (dim rows known only after the dim scan). */
  def dppQuery(spark: SparkSession, dir: String): DataFrame = {
    val fact = Tables.eventsByDate(spark, dir)
    // Spark dayofweek: 1 = Sunday (oracle twin: DuckDB dayofweek = 0)
    val sundays = Tables.events(spark, dir)
      .select(to_date(col("ts")).as("event_date")).distinct()
      .filter(dayofweek(col("event_date")) === 1)
    fact.join(sundays, "event_date")
      .groupBy(date_format(col("event_date"), "yyyy-MM-dd").as("day"))
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).as("value_dec"))
      .select(col("day"), col("n_events"),
        round(col("value_dec"), 2).cast("double").as("total_value"))
      .orderBy("day")
  }
}
