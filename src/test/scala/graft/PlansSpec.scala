package graft

import graft.operators.Nms
import graft.plans.GreedyNms

/** The custom plan operator (GreedyNmsNode → Strategy → GreedyNmsExec):
  * result-identical to the typed flatMapGroups form, with the exchange +
  * sort planned from the operator's declared requirements. */
class PlansSpec extends SparkSpec {

  test("GreedyNmsExec ≡ flatMapGroups greedy NMS on the fixture") {
    import spark.implicits._
    val viaExec = Nms.greedyExecQuery(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    val viaGroups = Nms.greedyQuery(spark, sf)
      .as[(Long, Long, Double)].collect().toSeq
    assert(viaExec.nonEmpty && viaExec == viaGroups)
  }

  test("planner satisfies the declared distribution + ordering requirements") {
    val plan = GreedyNms(Nms.detectionsFromEvents(spark, sf), 0.3)
      .queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the "Exec" suffix in plan strings
    assert(plan.contains("GreedyNms"), s"strategy not applied:\n${plan.take(1200)}")
    assert(plan.contains("hashpartitioning(frame_id"),
      s"no frame_id exchange under the operator:\n${plan.take(1200)}")
    assert(plan.contains("conf#") && plan.contains("DESC"),
      s"no conf-desc sort under the operator:\n${plan.take(1200)}")
  }

  test("schema contract is checked up front") {
    val bad = Tables.events(spark, sf)
    val e = intercept[IllegalArgumentException](GreedyNms(bad, 0.3))
    assert(e.getMessage.contains("GreedyNms needs"))
  }

  test("null NMS geometry fails loudly, not as a phantom origin box") {
    // the schema check sees types, not nullability: a null x would be
    // read as 0 by getInt and anchor a phantom box at the origin — the
    // exec must throw like the typed twin does (r11 review sweep)
    import org.apache.spark.sql.functions.{col, expr, lit}
    val dets = Nms.detectionsFromEvents(spark, sf)
      .withColumn("x", expr("IF(det_id % 7 = 3, CAST(NULL AS INT), x)"))
    val e = intercept[org.apache.spark.SparkException] {
      GreedyNms(dets, 0.3).count()
    }
    assert(Option(e.getCause).exists(_.getMessage.contains("NMS geometry")) ||
      e.getMessage.contains("NMS geometry"), e.getMessage.take(300))
  }

  test("q_bloom_join plan: bloom predicate filters the probe side below the semi-join") {
    val plan = operators.Scale.bloomSemiJoin(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("mightcontainlong"), s"bloom filter absent:\n${plan.take(1500)}")
    val joinAt = plan.indexOf("LeftSemi")
    val bloomAt = plan.indexOf("mightcontainlong")
    assert(joinAt >= 0 && bloomAt > joinAt,
      "bloom filter should sit under (after, in tree print order) the semi-join")
  }

  test("q_pivot plan: pre-aggregated pivot, no distinct-value scan, no Expand") {
    val plan = operators.Relational.pivotQuery(spark, sf)
      .queryExecution.executedPlan.toString
    // explicit pivot values -> Spark pre-aggregates on (flag, status) and
    // pivots the aggregated tuples: exactly the 2 aggregation exchanges
    // (plus the output sort), never an Expand or a distinct-scan stage
    val exchanges = plan.linesIterator.count(_.trim.stripPrefix("+- ").stripPrefix(":- ")
      .startsWith("Exchange"))
    assert(exchanges <= 3, s"pivot should need at most 2 agg exchanges + output sort, got $exchanges")
    assert(!plan.contains("Expand"), "unexpected Expand in pivot plan")
  }

  test("q_jaccard_pairs plan: bitmap expressions are inline (no HOF lambda interpreter)") {
    val plan = operators.TextOps.jaccardPairs(spark, sf)
      .queryExecution.executedPlan.toString
    // bitmapfrombits left this plan in r15: the per-doc bitmap frame is
    // now EAGER, an Eager freeze (the lazy-persist sweep — its three
    // consumers raced the cache), so the dictionary/bitmap build runs
    // once at construction and the inspected plan starts from its RDD
    // leaf. The intersect-count verify stays inline and compiled.
    assert(plan.contains("bitmapandcount"),
      s"bitmap intersect-count expression missing:\n${plan.take(1500)}")
    assert(!plan.contains("lambdafunction"),
      "interpreted lambda in the pair-verification path")
    // the candidate/verify joins must never funnel through one task
    // (the construction-time vocabulary build is zipWithIndex-based —
    // distributed offsets, no empty-ORDER-BY window; ExpressionsSpec
    // pins the bitmap expressions themselves)
    assert(!plan.contains("SinglePartition"),
      "pair verification collapses to a single partition")
  }

  test("q_basket plan: one fact exchange, pairs expanded in-array, top-k not a sort") {
    val qe = operators.Relational.basketPairs(spark, sf).queryExecution
    val plan = qe.executedPlan.toString
    // pairs are expanded in-array off the materialized per-order sets:
    // there is no order-key JOIN anywhere — every join in the plan is a
    // broadcast of a dim-sized support/count frame.
    assert(!plan.contains("SortMergeJoin") && !plan.contains("ShuffledHashJoin"),
      s"fact-sized shuffle join in the basket plan:\n${plan.take(1500)}")
    assert(plan.contains("TakeOrderedAndProject"),
      "top-100 should be TakeOrderedAndProject, not a global Sort")
    // the per-order collect_set frame is EAGER, an Eager freeze (the
    // r12 broadcast-race fix, Relational.scala basketPairs): consumers
    // must scan the frozen RDD, and the expensive order-grain
    // aggregation must not appear anywhere in the executed plan — with
    // the old lazy persist each racing broadcast build re-ran it.
    assert(plan.contains("Scan ExistingRDD"),
      "per-order set frame should be an eager localCheckpoint scan")
    assert(!plan.contains("collect_set"),
      "order-grain collect_set must be materialized before consumers plan")
    spark.catalog.clearCache()
  }

  test("join strategy hints steer the planner: SHUFFLE_HASH and MERGE override the default") {
    import org.apache.spark.sql.functions.col
    val o = Tables.orders(spark, sf)
    val l = Tables.lineitem(spark, sf)
    def planOf(hint: String): String =
      l.join(o.hint(hint), col("l_orderkey") === col("o_orderkey"))
        .queryExecution.executedPlan.toString
    assert(planOf("shuffle_hash").contains("ShuffledHashJoin"),
      "SHUFFLE_HASH hint should plan a shuffled hash join")
    assert(planOf("merge").contains("SortMergeJoin"),
      "MERGE hint should plan a sort-merge join")
    // and the unhinted fact-fact join is the planner's own choice (either
    // shuffle strategy, never a broadcast of the fact side at scale caps)
    val free = l.join(o, col("l_orderkey") === col("o_orderkey"))
      .queryExecution.executedPlan.toString
    assert(free.contains("Join"), free.take(300))
  }

  test("AQE coalesces tiny shuffle partitions in the final adaptive plan") {
    // the runtime re-plan lever the 100 TB mandate leans on: partition
    // counts sized by data, not by the static shuffle.partitions conf
    val df = operators.Relational.aggPricingSummary(spark, sf)
    df.collect() // adaptive plan finalizes only on execution
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("AQEShuffleRead"), s"no AQE shuffle read:\n${plan.take(1200)}")
    assert(plan.contains("coalesced"), s"partitions not coalesced:\n${plan.take(1200)}")
  }

  test("q_rfm plan: sketch-boundary quintiles — no unpartitioned Window") {
    // r7 verdict task #2: the three global ntiles are gone; every window
    // left in the plan is partitioned (tie-group rank resolution), so no
    // single-partition sort of the whole user frame survives
    import org.apache.spark.sql.catalyst.plans.logical.Window
    val df = operators.Relational.rfm(spark, sf)
    val unpart = df.queryExecution.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty => w
    }
    assert(unpart.isEmpty, s"unpartitioned Window in q_rfm: $unpart")
    assert(df.count() > 0)
  }

  test("q_wmedian plan: every window runs over an aggregated (domain-bounded) frame") {
    // r7 verdict task #3: the fact-sized 3-partition running sum is gone —
    // each Window's input subtree contains an Aggregate, so windows only
    // ever see the (flag, price) histogram or its coarse buckets
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    val df = operators.Relational.weightedMedian(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(wins.nonEmpty, "expected boundary-bucket windows in q_wmedian")
    wins.foreach { w =>
      assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
        s"window over un-aggregated input:\n$w")
    }
  }

  test("q_contamination plan: test grams broadcast; no per-doc window shuffle") {
    val plan = operators.Curation.contamination(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"test-split gram set should broadcast:\n${plan.take(1500)}")
    // 4-grams come from chained zip_with projections, never a
    // lead()-window (which would shuffle every token row per doc)
    assert(!plan.contains("Window"), "unexpected window in gram formation")
  }

  test("q_winsorize / q_mad plans: percentile cuts come back as broadcast joins") {
    // the sketch-boundary recipe's signature shape: the per-type
    // percentile aggregate is dim-sized and must ride a BroadcastHashJoin
    // back onto the fact / daily frame — a shuffled join here would mean
    // the boundary frame got misplanned as fact-sized
    Seq(operators.Analytics.winsorize(spark, sf),
        operators.Analytics.madOutliers(spark, sf)).foreach { df =>
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("BroadcastHashJoin"),
        s"expected broadcast cut-join:\n${plan.take(1500)}")
      assert(!plan.contains("SortMergeJoin"),
        s"boundary frame should never sort-merge:\n${plan.take(1500)}")
    }
  }

  test("q_ks / q_emd plans: cumulative windows run over the aggregated value frame") {
    // the CDF windows must sit above the distinct-cents Aggregate — a
    // Window whose subtree has no Aggregate would be scanning the fact
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    Seq(operators.Analytics.ksTest(spark, sf),
        operators.Analytics.emdDistance(spark, sf)).foreach { df =>
      val wins = df.queryExecution.optimizedPlan.collect { case w: Window => w }
      assert(wins.nonEmpty, "expected CDF windows")
      wins.foreach { w =>
        assert(w.child.collectFirst { case a: Aggregate => a }.isDefined,
          s"window over un-aggregated input:\n$w")
      }
    }
  }

  test("q_kendall plan: the day-pair theta join broadcasts the daily frame") {
    val plan = operators.Analytics.mannKendall(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"daily self-join should broadcast:\n${plan.take(1500)}")
  }

  test("q_wau plan: interval sweep — user window + delta agg, no 7× distinct") {
    // r10 reshape: coverage comes from merged per-user activity runs
    // (one user-partitioned window) plus boundary deltas hash-agg'd to
    // calendar cardinality — NOT from re-deduping a 7×|act| exploded
    // stream (r8-r9), and never from the r7 nested-loop range join
    val plan = operators.Relational.rollingActiveUsers(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("BroadcastNestedLoopJoin"),
      s"BNLJ back in q_wau:\n${plan.take(1500)}")
    assert(plan.contains("Window") && plan.contains("user_id"),
      s"expected the user-partitioned run window:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastHashJoin"),
      s"expected the broadcast-hash day clip:\n${plan.take(1500)}")
    // the generator left is the 2-element boundary array, not sequence():
    // a sequence() explode means the 7-day expansion came back
    assert(!plan.contains("sequence("),
      s"7-day sequence explode back in q_wau:\n${plan.take(1500)}")
  }

  test("q_alloc bench shape carries no global sort; verify shape does") {
    // output is lineitem-sized: the range-partitioned Exchange under a
    // global Sort exists only in the oracle-compare form
    def hasGlobalSort(df: org.apache.spark.sql.DataFrame): Boolean =
      df.queryExecution.executedPlan.toString.contains("rangepartitioning")
    def bench(q: String) = SparkEntry.benchShapes(q)(spark, sf)
    assert(!hasGlobalSort(bench("q_alloc")),
      "q_alloc bench shape must keep per-partition order only")
    assert(hasGlobalSort(operators.Relational.allocation(spark, sf)),
      "verify form must stay globally sorted for the oracle")
    // the r10 table-cardinality outputs follow the same contract
    for ((name, shape, verify) <- Seq[(String,
        org.apache.spark.sql.DataFrame, org.apache.spark.sql.DataFrame)](
      ("scrub", bench("q_scrub"), operators.TextOps.scrub(spark, sf)),
      ("gopher_rules", bench("q_gopher_rules"), operators.TextOps.gopherRules(spark, sf)),
      ("chunk_overlap", bench("q_chunk_overlap"), operators.TextOps.chunkOverlap(spark, sf)),
      ("semdedup", bench("q_semdedup"), operators.VectorOps.semDedup(spark, sf)),
      ("attr_replay", bench("q_attr_replay"), operators.Relational.attrReplay(spark, sf)))) {
      assert(!hasGlobalSort(shape), s"$name bench shape must not globally sort")
      assert(hasGlobalSort(verify), s"$name verify form must stay sorted")
    }
  }

  test("q_dedup_curve plan: threshold grid broadcast; exact intersect pair-bounded") {
    // the 5-row tau frame must ride in as a broadcast (no shuffle for the
    // grid), and the code-set intersection must sit above the LSH pair
    // join, never an all-pairs product
    val plan = operators.TextOps.dedupCurve(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"),
      s"all-pairs product in q_dedup_curve:\n${plan.take(1500)}")
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastHashJoin"),
      s"tau grid should broadcast:\n${plan.take(1500)}")
  }

  test("de-distinct reshapes: no Expand over exploded streams (grams, bm25, winnow)") {
    // r9 sweep: countDistinct mixed with plain aggregates plans an
    // Expand that doubles the aggregate's input — fatal when that input
    // is an exploded token/gram/fingerprint stream (the widest frame in
    // each query). All three now use chained plain hash aggs; the
    // distinct-agg SHOWCASE queries (q_agg_distinct/q_multi_distinct)
    // keep their Expand on purpose and are not pinned here.
    import org.apache.spark.sql.catalyst.plans.logical.Expand
    for ((name, df) <- Seq(
        "q_repeated_grams" -> operators.TextOps.repeatedGrams(spark, sf),
        "q_bm25" -> operators.TextOps.bm25(spark, sf),
        "q_winnow" -> operators.TextOps.winnow(spark, sf))) {
      val expands = df.queryExecution.optimizedPlan.collect { case e: Expand => e }
      assert(expands.isEmpty, s"$name still plans an Expand:\n${expands.headOption}")
    }
  }

  test("span-family plans: no Expand over the gram stream, islands windows share one sort") {
    // the dup-span family inherits repeatedGrams' disciplines: cross-doc
    // detection is min≠max (one plain hash agg — no Expand doubling the
    // exploded gram stream), and the gaps-and-islands lag + running sum
    // must share ONE per-doc sort (same partition+order → Catalyst
    // plans both in one window group, no second Exchange/Sort pair)
    import org.apache.spark.sql.catalyst.plans.logical.{Expand, Window => LWindow}
    val prevAqe = spark.conf.get("spark.sql.adaptive.enabled")
    spark.conf.set("spark.sql.adaptive.enabled", "false") // real exec tree
    try for ((name, df) <- Seq(
        "q_dup_spans" -> operators.TextOps.dupSpans(spark, sf),
        "q_dup_strip" -> operators.TextOps.dupStrip(spark, sf),
        "q_strip_delta" -> operators.TextOps.stripDeltaQuery(spark, sf))) {
      val plan = df.queryExecution.optimizedPlan
      val expands = plan.collect { case e: Expand => e }
      assert(expands.isEmpty, s"$name plans an Expand:\n${expands.headOption}")
      val wins = plan.collect { case w: LWindow => w }
      assert(wins.nonEmpty, s"$name: expected islands windows")
      assert(wins.forall(_.partitionSpec.nonEmpty),
        s"$name: unpartitioned window in the islands stage")
      // both window nodes sit directly stacked (lag feeding the running
      // sum) — an operator BETWEEN them would force a re-sort
      val sortedExec = df.queryExecution.executedPlan.collect {
        case s: org.apache.spark.sql.execution.SortExec => s }
      assert(sortedExec.size <= 2, // one per-doc sort + the output orderBy
        s"$name: islands windows should share one sort, saw ${sortedExec.size}")
    } finally {
      spark.conf.set("spark.sql.adaptive.enabled", prevAqe)
      spark.catalog.clearCache()
    }
  }

  test("q_watermark plan: prefix max is two-level, no unpartitioned fact window") {
    // the replay watermark is a running max over arrival order — a prefix
    // aggregation, so it must use the q_auc recipe: the only unpartitioned
    // window runs over the arrival-day BLOCK frame (an Aggregate grouping
    // by the block key sits in its subtree); the per-row window is
    // partitioned by block
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    val df = operators.Relational.watermarkReplay(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(wins.nonEmpty, "expected windows in q_watermark")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val blockAgg = w.child.collectFirst {
        case a: Aggregate if a.groupingExpressions.size == 1 => a
      }
      assert(blockAgg.isDefined,
        s"unpartitioned window not over the block-grain aggregate:\n$w")
    }
    assert(df.count() > 0)
  }

  test("q_vocab_growth plan: prefix sum is two-level, no |docs|-scaling unpartitioned window") {
    // the docs_seen bucket frame scales as |docs|/50 — an unpartitioned
    // running sum over it is a 2x10^7-row single-task sort at 10^9 docs.
    // After the two-level reshape the only unpartitioned window runs over
    // the 1024-bucket BLOCK frame (an Aggregate grouping by the block key
    // alone sits in its subtree); the per-bucket window is partitioned.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    val df = operators.TextOps.vocabGrowth(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(wins.nonEmpty, "expected windows in q_vocab_growth")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      // arity-1 grouping alone is VACUOUS here: the forbidden single-level
      // form also groups by one expression (the docs_seen bucket). The
      // pin must see the BLOCK key — grouping on `blk`, whose defining
      // projection divides by the 50·1024 = 51200 block width — under
      // the unpartitioned window
      val blockAgg = w.child.collectFirst {
        case a: Aggregate if a.groupingExpressions.size == 1 &&
          a.groupingExpressions.head.toString.contains("blk") &&
          a.exists(_.expressions.exists(_.toString.contains("51200"))) => a
      }
      assert(blockAgg.isDefined,
        s"unpartitioned window not over the blk (÷51200) block-grain aggregate:\n$w")
    }
    assert(df.count() > 0)
  }

  test("q_auc plan: no unpartitioned Window over a doc-cardinality frame") {
    // r8 verdict task #4: avg_llr is a per-doc double, so the distinct-
    // score frame scales with |documents| — any unpartitioned window over
    // it is a single-task corpus sort at 100 TB. After the two-level
    // reshape the only unpartitioned window is the bucket-offset scan,
    // whose input aggregates scores down to the range-bounded bucket
    // grain (an Aggregate GROUPING BY the bucket key alone sits in its
    // subtree); the per-score window is partitioned by bucket.
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    val df = operators.Curation.dsirAuc(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(wins.nonEmpty, "expected windows in q_auc")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      val bucketAgg = w.child.collectFirst {
        case a: Aggregate if a.groupingExpressions.size == 1 => a
      }
      assert(bucketAgg.isDefined,
        s"unpartitioned window not over the bucket-grain aggregate:\n$w")
    }
    assert(df.count() == 1)
  }

  test("q_series_match plan: pair join broadcasts the query windows, never CartesianProduct") {
    // the window pair frame is a calendar-bounded dimension product — it
    // must materialize as a broadcast nested-loop with the purchase-side
    // windows as the build side, not a shuffled CartesianProduct (which
    // the guard would also reject without the hint)
    val df = operators.Analytics.seriesMatch(spark, sf)
    val phys = df.queryExecution.executedPlan.toString
    assert(!phys.contains("CartesianProduct"),
      s"series_match went cartesian:\n$phys")
    assert(phys.contains("BroadcastNestedLoopJoin"),
      s"expected a broadcast pair join:\n$phys")
    assert(df.count() > 0)
  }

  test("q_interleave plan: unpartitioned windows only over bucket- or source-grain aggregates") {
    // the global position is a rank over |docs| rows — the two-level
    // reshape keeps the doc-cardinality window PARTITIONED by the vt
    // bucket; the only unpartitioned windows are the bucket-offset scan
    // (over an Aggregate grouping by the shiftright-12 bucket key) and
    // the source-quintile ntile (over the |sources| dimension frame,
    // an Aggregate grouping by source).
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Window}
    val df = operators.TextOps.interleave(spark, sf)
    val wins = df.queryExecution.optimizedPlan.collect { case w: Window => w }
    assert(wins.nonEmpty, "expected windows in q_interleave")
    wins.filter(_.partitionSpec.isEmpty).foreach { w =>
      // the bucket key is an attribute (`b`) at the Aggregate — its
      // shiftright-12 definition sits in the subtree (vocab_growth pin
      // precedent); the ntile's dimension aggregate groups by source
      val grainAgg = w.child.collectFirst {
        case a: Aggregate if a.groupingExpressions.size == 1 &&
          (a.exists(_.expressions.exists(_.toString.contains("shiftright"))) ||
            a.groupingExpressions.head.toString.contains("source")) => a
      }
      assert(grainAgg.isDefined,
        s"unpartitioned window not over a bucket/source-grain aggregate:\n$w")
    }
    assert(df.count() > 0)
  }

  test("r10 additions: scrub is shuffle-free, gopher keeps the trigram in-array, semdedup never goes cartesian, attr_replay windows are keyed") {
    import org.apache.spark.sql.catalyst.plans.logical.{Expand, Generate, Join, Window}
    // q_scrub: a pure per-row map — no join, window, aggregate or
    // generator anywhere in the plan; the only exchange is the output sort
    val scrub = operators.TextOps.scrub(spark, sf).queryExecution
    assert(scrub.optimizedPlan.collect {
      case j: Join => j; case w: Window => w; case g: Generate => g
    }.isEmpty, s"q_scrub should be a pure map:\n${scrub.optimizedPlan}")
    assert("Exchange".r.findAllIn(scrub.executedPlan.toString).size <= 1,
      "q_scrub should shuffle only for the output sort")
    // q_gopher_rules: trigram duplication stays in-array — only the
    // bigram-mode explode generates rows; no Expand over it
    val gopher = operators.TextOps.gopherRules(spark, sf).queryExecution
    assert(gopher.optimizedPlan.collect { case g: Generate => g }.size == 1,
      "q_gopher_rules must explode exactly once (bigrams); trigrams are in-array")
    assert(gopher.optimizedPlan.collect { case e: Expand => e }.isEmpty,
      "q_gopher_rules must not plan an Expand")
    // q_semdedup: the pairwise compare is an equi-join on the cluster
    // key; the only nested-loop is the broadcast centroid cross join
    val sem = operators.VectorOps.semDedup(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!sem.contains("CartesianProduct"),
      s"q_semdedup pair compare went cartesian:\n${sem.take(1500)}")
    // q_attr_replay: state-per-key like the streaming original — every
    // window partitioned (no global prefix anywhere in the fold)
    val attr = operators.Relational.attrReplay(spark, sf).queryExecution
    val unkeyed = attr.optimizedPlan.collect {
      case w: Window if w.partitionSpec.isEmpty => w
    }
    assert(unkeyed.isEmpty,
      s"q_attr_replay has an unpartitioned window:\n${unkeyed.headOption}")
  }
}
