package graft

import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Fleet-wide broadcast-over-lazy-cache lint (r12): Spark submits
  * broadcast-exchange jobs CONCURRENTLY, so two broadcast subtrees
  * scanning the same not-yet-materialized cached frame race to compute
  * it — each runs the frame's whole pipeline, and the cost is invisible
  * to every correctness check (q_ccnet_buckets paid 3× its tf⋈vocab
  * fold, q_basket up to 4× its order-grain collect_set, both for
  * rounds, both found only by profiling). The precondition is
  * mechanical: ≥ 2 BroadcastExchangeExec nodes over one InMemoryRelation
  * in a cold plan. This sweep walks every bench shape and fails on any
  * such pair — the fix is an EAGER materialization (Eager's `.eagerly`,
  * or an up-front count the operator needs anyway) before the consumers
  * plan, never a lazy persist. The production guard was widened in r15
  * (r14 verdict task #3) to SHUFFLE builds as well — the q_semdedup
  * 18.3× gate breach was the shuffle form of the same race — and the
  * sweep below runs every bench shape through that widened predicate.
  *
  * Plans are built at sf0.001 (analysis only for most queries; eager
  * constructors hit their content-keyed caches). The pre-AQE sparkPlan
  * is inspected — broadcast placement is decided there, and AQE's
  * re-planning only ever converts MORE joins to broadcast. */
class BroadcastRaceLintSpec extends SparkSpec {

  /** Max DISTINCT broadcast-exchange count over any single cached frame
    * in a fully-prepared physical plan — ≥ 2 is the race precondition.
    * Two subtleties the first draft got wrong:
    *  - the exchanges only exist after EnsureRequirements, so the plan
    *    must be the EXECUTED plan (built with AQE off — statically, AQE
    *    reuses stages by the same canonicalization at runtime);
    *  - identical builds collapse via ReuseExchange into ONE exchange
    *    plus ReusedExchange references — those cannot race, so only
    *    distinct live BroadcastExchangeExec nodes count. */
  private def racyBroadcasts(df: org.apache.spark.sql.DataFrame): Int = {
    val prevAqe = df.sparkSession.conf.get("spark.sql.adaptive.enabled")
    try {
      df.sparkSession.conf.set("spark.sql.adaptive.enabled", "false")
      val perBroadcast = df.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec =>
          b.collect { case s: InMemoryTableScanExec => s.relation.cacheBuilder }.distinct
      }
      val counts = perBroadcast.flatten.groupBy(identity).view.mapValues(_.size)
      if (counts.isEmpty) 0 else counts.values.max
    } finally df.sparkSession.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("positive control: the detector fires on a reconstructed q_basket-shaped race") {
    import org.apache.spark.sql.functions._
    val sess = spark
    import sess.implicits._
    val cached = (1 to 100).map(i => (i % 7, i.toLong)).toDF("k", "v").persist()
    try {
      val agg1 = cached.groupBy("k").agg(sum("v").as("s1"))
      val agg2 = cached.groupBy("k").agg(max("v").as("m2"))
      val racy = cached
        .join(broadcast(agg1), "k")
        .join(broadcast(agg2), "k")
      assert(racyBroadcasts(racy) >= 2,
        "two broadcast builds over one lazy cache must be detected:\n" +
          racy.queryExecution.sparkPlan)
    } finally cached.unpersist()
  }

  test("no query plans two broadcast exchanges over the same cached frame") {
    val offenders = Seq.newBuilder[String]
    SparkEntry.benchShapes.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val df = fn(spark, sf)
      val n = racyBroadcasts(df)
      if (n >= 2)
        offenders += s"$name: $n broadcast exchanges scan one cached frame " +
          "— concurrent broadcast jobs will race to materialize it; " +
          "replace the lazy persist with an Eager freeze (.eagerly) " +
          "(the q_ccnet_buckets/q_basket fix)"
      // the PRODUCTION guard predicate over the same plan (r13: the lint
      // logic was promoted to a planning-time rule — sweeping the fleet
      // with guard.check keeps the two predicates from drifting apart)
      val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
      try {
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        graft.plans.BroadcastRaceGuard.check(df.queryExecution.executedPlan)
      } catch { case e: org.apache.spark.SparkException =>
        offenders += s"$name: production cache-race guard fired: ${e.getMessage}"
      } finally spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.catalog.clearCache()
    }
    assert(offenders.result().isEmpty, offenders.result().mkString("\n"))
  }

  test("guard positive control: a cold racy plan throws; materialized or reused builds pass") {
    import graft.plans.BroadcastRaceGuard
    import org.apache.spark.sql.functions._
    val sess = spark
    import sess.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    val cached = (1 to 100).map(i => (i % 7, i.toLong)).toDF("k", "v").persist()
    try {
      val agg1 = cached.groupBy("k").agg(sum("v").as("s1"))
      val agg2 = cached.groupBy("k").agg(max("v").as("m2"))
      val racy = cached
        .join(broadcast(agg1), "k")
        .join(broadcast(agg2), "k")
      val e = intercept[org.apache.spark.SparkException] {
        BroadcastRaceGuard.check(racy.queryExecution.executedPlan)
      }
      assert(e.getMessage.contains("cache-race guard"), e.getMessage)
      // IDENTICAL builds collapse to one exchange + ReusedExchange and
      // cannot race — the guard must not cry wolf on them
      val reused = cached
        .join(broadcast(agg1), "k")
        .join(broadcast(agg1.as("again")), "k")
      BroadcastRaceGuard.check(reused.queryExecution.executedPlan)
      // NESTED builds are sequential, not concurrent: the outer
      // broadcast's build awaits the inner broadcast before its own
      // tasks run, so the inner materializes the cache and the outer
      // reads it warm — the guard must not reject the ancestry chain
      val nested = cached
        .join(broadcast(cached.join(broadcast(agg1), "k")
          .groupBy("k").agg(count(lit(1)).as("c"))), "k")
      assert(nested.queryExecution.executedPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.size >= 2, "premise: the nested shape must plan two broadcast builds")
      BroadcastRaceGuard.check(nested.queryExecution.executedPlan)
      // ...but a sibling pair UNDER an enclosing build still races: the
      // ancestry pruning keeps the innermost antichain, not just roots
      // (s1/m2 stay in the output — otherwise column pruning collapses
      // both aggregates to distinct-k and ReuseExchange defuses the race)
      val nestedRace = cached.join(
        broadcast(cached.join(broadcast(agg1), "k").join(broadcast(agg2), "k")
          .groupBy("k").agg(sum("s1").as("a"), sum("m2").as("b"))), "k")
      val e2 = intercept[org.apache.spark.SparkException] {
        BroadcastRaceGuard.check(nestedRace.queryExecution.executedPlan)
      }
      assert(e2.getMessage.contains("cache-race guard"), e2.getMessage)
      // a STANDALONE sibling with an IDENTICAL copy nested inside an
      // outer build does not race either: ReuseExchange executes the
      // inner group once and the outer build awaits it. Enclosure must
      // be tested canonically against every group member — whichever
      // instance stays live and whichever becomes the ReusedExchange
      // reference (r13 advice: the representative-identity test
      // spuriously counted this shape). s1 flows to both outputs so
      // column pruning cannot make the two agg1 builds differ.
      val innerReuse = cached.join(broadcast(agg1), "k")
        .groupBy("k").agg(sum("s1").as("c"))
      val siblingNested = cached.join(broadcast(agg1), "k")
        .join(broadcast(innerReuse), "k")
      val siblingPlan = siblingNested.queryExecution.executedPlan
      assert(siblingPlan.collect {
        case b: org.apache.spark.sql.execution.exchange.BroadcastExchangeExec => b
      }.size >= 2, "premise: the shape must plan two live broadcast builds")
      BroadcastRaceGuard.check(siblingPlan)
      // a MATERIALIZED cache cannot race — broadcasts just read it
      cached.count()
      BroadcastRaceGuard.check(racy.queryExecution.executedPlan)
    } finally {
      cached.unpersist()
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
    }
  }

  test("guard positive control: distinct SHUFFLE builds over a lazy cache throw (the q_semdedup shape)") {
    import graft.plans.BroadcastRaceGuard
    import org.apache.spark.sql.functions._
    val sess = spark
    import sess.implicits._
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false")
    // force shuffle joins so the race is the r14 q_semdedup mechanism:
    // two DISTINCT shuffle builds over one not-yet-materialized cached
    // frame, submitted concurrently. A bare identical self-join is NOT
    // a race — its two sides canonicalize equal and ReuseExchange
    // collapses them to one build — so, like q_semdedup (whose raw side
    // shuffled on cluster while the report side shuffled on
    // (cluster, vec_id)), the two builds here differ: a raw probe side
    // and an aggregated side, both scanning the same lazy cache
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    val cached = (1 to 100).map(i => (i % 7, i.toLong)).toDF("k", "v").persist()
    try {
      val racy = cached
        .join(cached.groupBy("k").agg(max("v").as("m")), "k")
      val plan = racy.queryExecution.executedPlan
      assert(plan.collect {
        case s: org.apache.spark.sql.execution.exchange.ShuffleExchangeExec => s
      }.size >= 2, s"premise: the join must plan two distinct shuffle builds:\n$plan")
      val e = intercept[org.apache.spark.SparkException] {
        BroadcastRaceGuard.check(plan)
      }
      assert(e.getMessage.contains("cache-race guard"), e.getMessage)
      // eager materialization is the documented fix: a loaded cache passes
      cached.count()
      BroadcastRaceGuard.check(racy.queryExecution.executedPlan)
      // and the engine's own fixed q_semdedup shape plans NO in-memory
      // scan at all (Eager freeze → LogicalRDD leaf) — guard-clean
      spark.catalog.clearCache()
      val semdedup = SparkEntry.benchShapes("q_semdedup")(spark, sf)
      BroadcastRaceGuard.check(semdedup.queryExecution.executedPlan)
    } finally {
      cached.unpersist()
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.catalog.clearCache()
    }
  }

  test("guard end-to-end: fires inside AQE planning via the injected rule; opt-out works") {
    import org.apache.spark.sql.functions._
    val sess = spark
    import sess.implicits._
    // the suite session carries the rule (GraftExtensions, loaded by
    // Spark's ServiceLoader): planning the racy shape under AQE throws
    val cached = (1 to 100).map(i => (i % 7, i.toLong)).toDF("k", "v").persist()
    try {
      def racy = cached
        .join(broadcast(cached.groupBy("k").agg(sum("v").as("s1"))), "k")
        .join(broadcast(cached.groupBy("k").agg(max("v").as("m2"))), "k")
      assert(spark.conf.get("spark.sql.adaptive.enabled") == "true")
      val e = intercept[org.apache.spark.SparkException] { racy.queryExecution.executedPlan }
      assert(e.getMessage.contains("cache-race guard"))
      spark.conf.set("spark.graft.broadcastRaceGuard", "false")
      try assert(racy.count() == 100) // explicit opt-out: inspect nothing, rewrite nothing
      finally spark.conf.unset("spark.graft.broadcastRaceGuard")
    } finally cached.unpersist()
  }
}
