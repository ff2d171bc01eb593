package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.catalyst.expressions.HigherOrderFunction
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec

/** Fleet-wide interpreted-HOF lint (r12 fourth sitting): every Catalyst
  * higher-order function (`transform`/`aggregate`/`array_sort`-with-
  * comparator/`zip_with`/`filter`/`exists`…) evaluates its lambda
  * INTERPRETED — one expression-tree walk per element — and the
  * enclosing projection is CodegenFallback, so it also drops out of
  * whole-stage codegen. On a fact-grain frame that is a silent
  * multiplier the oracles can't see (q_lm_score carried ~0.3 s of it
  * for two rounds; the SortedFolds kernels removed it). This sweep
  * walks every bench shape's executed plan (AQE off, cached subtrees
  * included — the WindowLint blind-spot lesson) and pins the surviving
  * HOF inventory to an explicit allowlist: a NEW query that plans a
  * HOF, or a new HOF in an old query, fails here and must either be
  * compiled (the functions/SortedFolds or SqDistance pattern) or be
  * allowlisted with a boundedness note.
  *
  * Blind spot, by construction: subtrees frozen by Eager (`.eagerly`)
  * at build time (q_basket sets, q_ccnet_buckets rarity) are a single
  * scan leaf in the plan, so their HOFs are invisible here —
  * those operators' plan shapes are pinned by their own specs.
  *
  * The allowlist below records WHY each survivor stays interpreted:
  * bounded arrays (embedding dim ≤ 64, day grids, per-order parts ≤ 7)
  * where the lambda cost is a rounding error, or once-per-group
  * dimension-sized folds.
  */
class HofLintSpec extends SparkSpec {

  /** prettyName multiset of HOFs in the executed plan, cached subtrees
    * unwrapped. */
  private def hofInventory(df: DataFrame): Seq[String] = {
    val sess = df.sparkSession
    val prevAqe = sess.conf.get("spark.sql.adaptive.enabled")
    try {
      sess.conf.set("spark.sql.adaptive.enabled", "false")
      def scan(p: SparkPlan): Seq[String] = {
        val own = p.flatMap(op => op.expressions.flatMap(_.collect {
          case h: HigherOrderFunction => h.prettyName
        }))
        val cached = p.collect { case s: InMemoryTableScanExec =>
          // the cached plan was compiled when persist() ran — with the
          // session's AQE still ON, so it is an AdaptiveSparkPlanExec
          // whose collect() sees only itself; unwrap to the input plan
          // (the WindowLintSpec blind-spot fix, same shape)
          scan(s.relation.cachedPlan match {
            case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
              a.inputPlan
            case other => other
          })
        }.flatten
        // subquery plans ride inside EXPRESSIONS (ScalarSubquery /
        // InSubqueryExec), not children — TreeNode traversal never
        // visits them, so a HOF inside one would evade the allowlist
        // (r12 advice). QueryPlan.subqueries surfaces each node's
        // PlanExpression plans; recurse into every one.
        val sub = p.flatMap(op => op.subqueries.flatMap(scan))
        own ++ cached ++ sub
      }
      scan(df.queryExecution.executedPlan)
    } finally sess.conf.set("spark.sql.adaptive.enabled", prevAqe)
  }

  test("positive control: the detector sees an interpreted fold in a projection") {
    import org.apache.spark.sql.functions._
    val df = spark.range(10)
      .select(aggregate(array(col("id"), col("id") + 1), lit(0L), (a, x) => a + x).as("s"))
    assert(hofInventory(df).contains("aggregate"))
  }

  test("positive control: a HOF hidden behind a persist (AQE-compiled cache) is still seen") {
    import org.apache.spark.sql.functions._
    val cached = spark.range(10)
      .select(aggregate(array(col("id"), col("id") + 1), lit(0L), (a, x) => a + x).as("s"))
      .persist()
    try {
      val df = cached.select(col("s") + 1)
      // force the scan to go through InMemoryTableScanExec
      assert(df.queryExecution.executedPlan.toString.contains("InMemory") ||
        hofInventory(df).contains("aggregate"))
      assert(hofInventory(df).contains("aggregate"),
        "HOF inside an AQE-wrapped cached subtree must be visible:\n" +
          df.queryExecution.executedPlan)
    } finally cached.unpersist()
  }

  test("positive control: a HOF inside a scalar subquery is still seen") {
    val df = spark.sql(
      """SELECT id FROM range(10)
        |WHERE id > (SELECT aggregate(array(1L, 2L), 0L, (a, x) -> a + x)
        |            FROM range(1))""".stripMargin)
    assert(hofInventory(df).contains("aggregate"),
      "HOF inside a subquery plan must be visible:\n" +
        df.queryExecution.executedPlan)
  }

  test("the allowlist EXACTLY pins every bench query's interpreted-HOF inventory") {
    val offenders = Seq.newBuilder[String]
    SparkEntry.benchShapes.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      val inv = hofInventory(fn(spark, sf)).groupBy(identity).view.mapValues(_.size).toMap
      val allowed = HofLintSpec.allowlist.getOrElse(name, Map.empty)
      // exact pin, both directions (the WindowLint stale-entry lesson):
      // beyond-allowance = new unreviewed interpreted work; below-
      // allowance = the entry rotted and would mask the next addition
      if (inv != allowed) {
        val over = inv.filter { case (h, n) => n > allowed.getOrElse(h, 0) }
        val under = allowed.filter { case (h, n) => n > inv.getOrElse(h, 0) }
        if (over.nonEmpty)
          offenders += s"$name: interpreted HOFs beyond allowlist: " +
            over.map { case (h, n) => s"$h x$n (allowed ${allowed.getOrElse(h, 0)})" }
              .mkString(", ") +
            " — compile it (functions/SortedFolds pattern) or allowlist with a boundedness note"
        if (under.nonEmpty)
          offenders += s"$name: stale allowance (plan now has fewer): " +
            under.map { case (h, n) => s"$h allowed $n, observed ${inv.getOrElse(h, 0)}" }
              .mkString(", ") + " — shrink the entry so it can't mask a new HOF"
      }
      spark.catalog.clearCache()
    }
    assert(offenders.result().isEmpty, offenders.result().mkString("\n"))
  }
}

object HofLintSpec {
  /** query -> (hof prettyName -> max allowed count in the plan).
    *
    * Every entry is a REVIEWED survivor, grouped by why the interpreted
    * lambda is harmless there:
    *  - EMB: lambda over a ≤64-element embedding (or PQ sub-vector /
    *    int8 code) array — work per row is bounded by the vector dim,
    *    and the ANN paths do it only on bucket/shortlist candidates.
    *  - SIG: lambda over a shingle/minhash-signature/band array
    *    (≤ ~128 elements, often ≤ 16 bands) on the dedup paths.
    *  - GRID: lambda over a dimension-bounded grid collected to few
    *    rows (day grids, threshold grids, vocab-sized one-row report
    *    frames — the q_entropy boundedness class).
    *  - TOK: lambda over one document's token/chunk array — bounded by
    *    doc length, the same grain the tokenizer scan already pays.
    * Fact-grain order-pinned folds do NOT belong here — compile them
    * (functions/SortedFolds.scala); that family was removed in r12. */
  val allowlist: Map[String, Map[String, Int]] = Map(
    // EMB — vector-dim lambdas on ANN/quantization paths
    "q_ivf_topk" -> Map("aggregate" -> 6, "transform" -> 2),
    // probe-only search over the persisted index: the centroid-ranking
    // lambdas (probes × K=32 centers, dim ≤ 64) and the cosine re-rank —
    // the index build's HOFs are offline (warmup), not in this plan
    "q_ivf_delta" -> Map("aggregate" -> 3, "transform" -> 1),
    "q_pq_topk" -> Map("zip_with" -> 2, "aggregate" -> 15, "array_sort" -> 1, "transform" -> 4),
    "q_quantized_topk" -> Map("aggregate" -> 2, "transform" -> 4),
    "q_vec_norm" -> Map("aggregate" -> 2),
    "q_arr" -> Map("zip_with" -> 1, "aggregate" -> 2, "array_sort" -> 1, "filter" -> 1),
    "q_series_match" -> Map("zip_with" -> 1, "aggregate" -> 1),
    "q_ml_risk" -> Map("aggregate" -> 1, "filter" -> 3, "transform" -> 5),
    "q_pipeline" -> Map("filter" -> 1, "transform" -> 5),
    // SIG — shingle/signature/band lambdas on the dedup family. The r15
    // lazy-persist sweep made minhashPairsOver's band-key frame EAGER
    // (an Eager freeze), so the signature-stage lambdas now execute at
    // construction and leave the inspected final plans: the pure
    // LSH-headed queries (q_minhash_lsh/q_leakage/q_edit_sim/q_jw/
    // q_degree_dist) dropped to zero and left this list; containment/
    // dedupCurve keep only their own verify-side shingle lambdas.
    "q_minhash_est" -> Map("zip_with" -> 1, "filter" -> 1),
    "q_containment" -> Map("zip_with" -> 3, "transform" -> 3),
    "q_dedup_curve" -> Map("zip_with" -> 3, "transform" -> 3),
    "q_winnow" -> Map("zip_with" -> 6, "transform" -> 14),
    "q_signature" -> Map("array_sort" -> 1),
    "q_simhash" -> Map("transform" -> 1),
    // GRID — day/threshold/vocab-report grids (one-row or few-row frames)
    "q_chi2" -> Map("aggregate" -> 1, "array_sort" -> 1),
    "q_coverage" -> Map("aggregate" -> 1, "array_sort" -> 1),
    "q_zipf" -> Map("aggregate" -> 1, "array_sort" -> 1),
    "q_drift" -> Map("aggregate" -> 1, "array_sort" -> 1),
    "q_ema" -> Map("aggregate" -> 1, "array_sort" -> 1),
    "q_holt" -> Map("aggregate" -> 1, "array_sort" -> 1),
    "q_range_count" -> Map("filter" -> 3),
    // TOK (via langPredictions): per-document lambdas over the bounded
    // per-language n-gram profile arrays, repeated once per profile —
    // q_langid's own count times the confusion pipeline's plan reuse
    "q_eval_metrics" -> Map("filter" -> 38),
    "q_kappa" -> Map("filter" -> 43),
    // TOK — per-document token/chunk/n-gram lambdas
    "q_basket" -> Map("transform" -> 2),
    "q_bigram_lm" -> Map("zip_with" -> 2),
    "q_bpe_merges" -> Map("zip_with" -> 1),
    "q_chunk_dedup" -> Map("transform" -> 2),
    "q_chunk_overlap" -> Map("transform" -> 1),
    "q_cond_entropy" -> Map("zip_with" -> 1),
    "q_contamination" -> Map("transform" -> 2), // 2nd behind the Bloom-side persist
    "q_dup_strip" -> Map("transform" -> 1), // kept-token reassembly, one doc's array
    "q_strip_delta" -> Map("transform" -> 1), // same reassembly, delta side only
    "q_langid" -> Map("filter" -> 5),
    "q_ngram" -> Map("zip_with" -> 1),
    "q_novelty" -> Map("transform" -> 2),
    "q_overlap_frac" -> Map("transform" -> 3),
    "q_pmi" -> Map("zip_with" -> 2),
    "q_postings" -> Map("transform" -> 1),
    "q_repetition" -> Map("zip_with" -> 3),
    "q_text_quality" -> Map("filter" -> 1))
}
