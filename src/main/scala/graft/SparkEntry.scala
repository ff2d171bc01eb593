package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.plans.logical.Sort
import org.apache.spark.sql.classic.GraftBridge
import graft.operators._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Each `queries` entry is one operator family from SURVEY §2.3; the
  * matching `oracleSql` entry is ANSI SQL DuckDB runs over the same parquet
  * tables. Column names and row order are kept identical on both sides;
  * float aggregates are rounded identically (see Relational's scaladoc).
  */
object SparkEntry {

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0.
    * The reference's core question — when is an area crowded?
    * (`main.py:226-233`) — as a windowed threshold count. */
  def entry(spark: SparkSession): DataFrame =
    Relational.crowdAlert(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2. */
  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_scan_proj" -> (Relational.scanProject _),
    "q_filter" -> (Relational.filterPredicates _),
    "q_agg" -> (Relational.aggPricingSummary _),
    "q_agg_distinct" -> (Relational.aggDistinct _),
    "q_salted_agg" -> (Scale.saltedAggQuery _),
    "q_salted_join" -> (Scale.saltedJoinQuery _),
    "q_bloom_join" -> (Scale.bloomSemiJoin _),
    "q_merge" -> (Relational.mergeUpsertQuery _),
    "q_heavy_hitters" -> (Relational.heavyHitters _),
    "q_scd2" -> (Relational.scd2 _),
    "q_dq_checks" -> (Relational.dqChecks _),
    "q_outliers" -> (Relational.outliers _),
    "q_funnel" -> (Relational.funnel _),
    "q_join_bc" -> (Relational.joinBroadcast _),
    "q_join_shuffle" -> (Relational.joinShuffle _),
    "q_join_multi" -> (Relational.joinMultiway _),
    "q_join_semi" -> (Relational.joinSemi _),
    "q_join_anti" -> (Relational.joinAnti _),
    "q_asof_join" -> (AsOf.asofQuery _),
    "q_range_join" -> (RangeJoin.rangeJoinQuery _),
    "q_rollup" -> (Relational.aggRollup _),
    "q_cube" -> (Relational.aggCube _),
    "q_grouping_sets" -> (Relational.aggGroupingSets _),
    "q_win_topk" -> (Relational.windowTopkPerGroup _),
    "q_win_analytic" -> (Relational.windowAnalytic _),
    "q_win_dist" -> (Relational.windowDistribution _),
    "q_topk_agg" -> (Relational.topkAggregator _),
    "q_win_edge" -> (Relational.windowAlarmEdge _),
    "q_win_frames" -> (Relational.windowFrames _),
    "q_topk_global" -> (Relational.topkGlobal _),
    "q_sort" -> (Relational.sortMultiKey _),
    "q_set_ops" -> (Relational.setOps _),
    "q_date" -> (Relational.dateBreakdown _),
    "q_date_parts" -> (Relational.dateParts _),
    "q_date_pruned" -> (Relational.datePruned _),
    "q_map_funcs" -> (Relational.mapFunctions _),
    "q_math" -> (Relational.mathScalars _),
    "q_json" -> (Relational.jsonExtract _),
    "q_crowd_alert" -> (Relational.crowdAlert _),
    "q_session" -> (Relational.sessionize _),
    "q_watermark" -> (Relational.watermarkReplay _),
    "q_latch_replay" -> (Relational.latchReplay _),
    "q_session_replay" -> (Relational.sessionReplay _),
    "q_attr_replay" -> (Relational.attrReplay _),
    "q_funnel_replay" -> (Relational.funnelReplay _),
    "q_join_outer_replay" -> (Relational.joinOuterReplay _),
    "q_validate" -> (Relational.validationDispatch _),
    "q_auth" -> (Relational.authenticate _),
    "q_corr_subq" -> (Relational.correlatedSubqueries _),
    "q_decay" -> (Relational.decayedActivity _),
    "q_skyline" -> (Relational.skyline _),
    "q_wau" -> (Relational.rollingActiveUsers _),
    "q_cohort" -> (Relational.cohortRetention _),
    "q_basket" -> (Relational.basketPairs _),
    "q_abtest" -> (Relational.abTest _),
    "q_transitions" -> (Relational.transitions _),
    "q_concurrency" -> (Relational.peakConcurrency _),
    "q_attribution" -> (Relational.attribution _),
    "q_trend" -> (Relational.linearTrend _),
    "q_multi_distinct" -> (Relational.multiDistinct _),
    "q_dpp" -> (Scale.dppQuery _),
    "q_rfm" -> (Relational.rfm _),
    "q_signature" -> (Relational.behaviorSignatures _),
    "q_benford" -> (Relational.benfordDigits _),
    "q_join_outer" -> (Relational.joinFullOuter _),
    "q_abandon" -> (Relational.cartAbandonment _),
    "q_containment" -> (TextOps.containment _),
    "q_lm_score" -> (TextOps.lmScore _),
    "q_lm_delta" -> (TextOps.lmScoreDeltaQuery _),
    "q_ccnet_buckets" -> (TextOps.ccnetBuckets _),
    "q_winnow" -> (TextOps.winnow _),
    "q_islands" -> (Relational.activityIslands _),
    "q_bitmap_distinct" -> (Scale.bitmapDistinctQuery _),
    "q_share" -> (Relational.shareOfDay _),
    "q_top_other" -> (Relational.topNOther _),
    "q_not_in" -> (Relational.notInJoin _),
    "q_set_all" -> (Relational.setOpsAll _),
    "q_checksum" -> (Relational.tableChecksum _),
    "q_wmedian" -> (Relational.weightedMedian _),
    "q_chi2" -> (Relational.chiSquare _),
    "q_path3" -> (Relational.pathTrigrams _),
    "q_wow" -> (Relational.weekOverWeek _),
    "q_tte" -> (Relational.timeToEvent _),
    "q_moments" -> (Analytics.moments _),
    "q_calendar" -> (Analytics.calendar _),
    "q_ema" -> (Analytics.ema _),
    "q_key_skew" -> (Analytics.keySkew _),
    "q_lateral" -> (Relational.lateralTopOrders _),
    "q_reachable" -> (TextOps.reachable _),
    "q_dedup_decisions" -> (TextOps.dedupDecisions _),
    "q_repeated_grams" -> (TextOps.repeatedGrams _),
    "q_dup_spans" -> (TextOps.dupSpans _),
    "q_dup_strip" -> (TextOps.dupStrip _),
    "q_strip_delta" -> (TextOps.stripDeltaQuery _),
    "q_xcorr" -> (Analytics.xcorr _),
    "q_gap_stats" -> (Analytics.gapStats _),
    "q_gini" -> (Analytics.gini _),
    "q_hhi" -> (Analytics.hhi _),
    "q_autocorr" -> (Analytics.autocorr _),
    "q_pareto" -> (Analytics.pareto _),
    "q_seasonality" -> (Analytics.seasonality _),
    "q_ttr" -> (TextOps.typeTokenRatio _),
    "q_hapax" -> (TextOps.hapaxRate _),
    "q_vocab_growth" -> (TextOps.vocabGrowth _),
    "q_drift" -> (Analytics.drift _),
    "q_bpe_merges" -> (TextOps.bpeMerges _),
    "q_anomaly_days" -> (Analytics.anomalyDays _),
    "q_degree_dist" -> (TextOps.degreeDistribution _),
    "q_bigram_lm" -> (TextOps.bigramLm _),
    "q_minhash_est" -> (TextOps.minhashEstimate _),
    "q_asof_snapshot" -> (Relational.asofSnapshot _),
    "q_freq_buckets" -> (TextOps.freqBuckets _),
    "q_dedup_stats" -> (TextOps.dedupStats _),
    "q_overlap_frac" -> (Curation.overlapFraction _),
    "q_split" -> (Curation.splitAssign _),
    "q_leakage" -> (Curation.splitLeakage _),
    "q_contamination" -> (Curation.contamination _),
    "q_repetition" -> (Curation.repetitionScreen _),
    "q_class_balance" -> (Curation.classBalance _),
    "q_novelty" -> (Curation.gramNovelty _),
    "q_zipf" -> (TextOps.zipfFit _),
    "q_simpson" -> (TextOps.simpson _),
    "q_alloc" -> (Relational.allocation _),
    "q_ltv" -> (Relational.ltvCurve _),
    "q_cond_entropy" -> (TextOps.condEntropy _),
    "q_coverage" -> (TextOps.coverage _),
    "q_kanon" -> (Curation.kAnonymity _),
    "q_arr" -> (VectorOps.arrayOps _),
    "q_range_count" -> (VectorOps.rangeCount _),
    "q_vec_norm" -> (VectorOps.vectorNorms _),
    "q_sim_topk" -> (VectorOps.simTopK _),
    "q_ann_bucket" -> (VectorOps.annBuckets _),
    "q_ann_topk" -> (VectorOps.annTopK _),
    "q_ann_multiband" -> (VectorOps.annTopKMultiband _),
    "q_embed_neardup" -> (VectorOps.embedNearDup _),
    "q_kmeans_assign" -> (VectorOps.kmeansAssign _),
    "q_semdedup" -> (VectorOps.semDedup _),
    "q_semdedup_delta" -> (VectorOps.semDedupDeltaQuery _),
    "q_hard_negatives" -> (VectorOps.hardNegatives _),
    "q_outlier_embed" -> (VectorOps.semanticOutliers _),
    "q_str" -> (TextOps.strFunctions _),
    "q_text_quality" -> (TextOps.textQuality _),
    "q_scrub" -> (TextOps.scrub _),
    "q_gopher_rules" -> (TextOps.gopherRules _),
    "q_chunk_overlap" -> (TextOps.chunkOverlap _),
    "q_langid" -> (TextOps.langId _),
    "q_token_count" -> (TextOps.tokenCount _),
    "q_fingerprint" -> (TextOps.fingerprint _),
    "q_dedup_exact" -> (TextOps.dedupExact _),
    "q_jaccard_pairs" -> (TextOps.jaccardPairs _),
    "q_minhash_lsh" -> (TextOps.minhashLsh _),
    "q_dedup_admit" -> (TextOps.dedupAdmissions _),
    "q_neardup_clusters" -> (TextOps.nearDupClusters _),
    "q_pagerank" -> (TextOps.pageRank _),
    "q_corpus_prep" -> (TextOps.corpusPrep _),
    "q_tfidf" -> (TextOps.tfidf _),
    "q_simhash" -> (TextOps.simhash _),
    "q_top_terms" -> (TextOps.topTerms _),
    "q_ngram" -> ((s: SparkSession, d: String) => TextOps.ngramTopK(s, d)),
    "q_entropy" -> (TextOps.tokenEntropy _),
    "q_postings" -> (TextOps.postings _),
    "q_bm25" -> (TextOps.bm25 _),
    "q_pmi" -> (TextOps.pmiCollocations _),
    "q_edit_sim" -> (TextOps.editSimilarity _),
    "q_jw" -> (TextOps.jaroWinklerPairs _),
    "q_triangles" -> (TextOps.triangleCensus _),
    "q_mix" -> (TextOps.mixRates _),
    "q_temp_mix" -> (TextOps.tempMix _),
    "q_interleave" -> (TextOps.interleave _),
    "q_wsample" -> (TextOps.weightedSample _),
    "q_pack" -> ((s: SparkSession, d: String) => TextOps.packSequences(s, d)),
    "q_zorder" -> (Layout.zorderQuery _),
    "q_locf" -> (Relational.gapFillLocf _),
    "q_cdc" -> (Relational.cdcApply _),
    "q_corrupt" -> (Relational.corruptQuarantine _),
    "q_binary_meta" -> (TextOps.binaryMeta _),
    "q_frame_sample" -> (graft.multimodal.Multimodal.frameSampleQuery _),
    "q_nms_greedy" -> (Nms.greedyQuery _),
    "q_nms_exec" -> (Nms.greedyExecQuery _),
    "q_nms_dominance" -> (Nms.dominanceQuery _),
    "q_quantiles" -> (Relational.quantiles _),
    "q_stratified" -> (Curation.stratifiedExact _),
    "q_domain_cap" -> (Curation.domainCap _),
    "q_ks" -> (Analytics.ksTest _),
    "q_cusum" -> (Analytics.cusum _),
    "q_mad" -> (Analytics.madOutliers _),
    "q_winsorize" -> (Analytics.winsorize _),
    "q_runs" -> (Analytics.runsTest _),
    "q_kendall" -> (Analytics.mannKendall _),
    "q_emd" -> (Analytics.emdDistance _),
    "q_spearman" -> (Analytics.spearman _),
    "q_theilsen" -> (Analytics.theilSen _),
    "q_chunk_dedup" -> (TextOps.chunkDedup _),
    "q_dsir" -> (Curation.dsirScore _),
    "q_bootstrap" -> (Analytics.bootstrapCi _),
    "q_km" -> (Analytics.kaplanMeier _),
    "q_holt" -> (Analytics.holt _),
    "q_series_match" -> (Analytics.seriesMatch _),
    "q_kcore" -> (TextOps.kcore _),
    "q_source_overlap" -> (TextOps.sourceOverlap _),
    "q_dedup_curve" -> (TextOps.dedupCurve _),
    "q_markov" -> (Relational.markovStationary _),
    "q_eval_metrics" -> (TextOps.evalMetrics _),
    "q_auc" -> (Curation.dsirAuc _),
    "q_kappa" -> (TextOps.cohenKappa _),
    "q_stl" -> (Analytics.stlDecompose _),
    "q_ess" -> (Curation.effectiveSampleSize _),
    "q_dpnoise" -> (Curation.dpNoisedCounts _),
    "q_impute" -> (Relational.imputeQuery _),
    "q_histogram" -> (Relational.histogram _),
    "q_histogram_eq" -> (Relational.histogramEquiDepth _),
    "q_pivot" -> (Relational.pivotQuery _),
    "q_unpivot" -> (Relational.unpivotQuery _),
    "q_group_stats" -> (Relational.groupStats _),
    // rows-only driver checks: HLL estimates are engine-specific, so
    // deliberately no oracleSql entries
    "q_approx_distinct" -> (Relational.approxDistinct _),
    "q_quantiles_approx" -> (Relational.quantilesApprox _),
    // oracle-checked since r14: the integer-hash Bernoulli draw replaced
    // Spark's sampleBy XORShift stream (engine-neutral, same rates)
    "q_sample" -> (TextOps.stratifiedSample _),
    // oracle-checked since r16: the deterministic quantizer (seeded
    // Lloyd, exact-integer means) makes the whole index + search
    // SQL-expressible; IvfSpec pins recall and the scan fraction
    "q_ivf_topk" -> (Ivf.ivfTopK _),
    // oracle-checked since r16, sharing q_ivf_topk's generated SQL twin:
    // the same search over a PERSISTED BucketedState index — exercises
    // the production exchange-free posting join; IncrementalIvfSpec
    // pins one-shot ≡ persisted-index, IvfSpec pins the recall floor
    "q_ivf_delta" -> (Ivf.ivfDeltaQuery _),
    // oracle-checked since r16: every step of the int8 path IS portable
    // — max-abs scale (order-free max), round(x/scale*127) (the
    // established HALF_UP ≡ half-away agreement on non-tie doubles),
    // the dequantize float round-trip (CAST(CAST(x AS FLOAT) AS
    // DOUBLE)), and the q_sim_topk cosine fold; QuantizeSpec still
    // bounds reconstruction + recall vs the exact float path
    "q_quantized_topk" -> (VectorOps.quantizedTopK _),
    // oracle-checked since r16: the deterministic per-subspace Lloyd
    // codebooks (Ivf.detLloyd on 8-dim slices, exact-integer means)
    // make the codes → ADC → re-rank path SQL-expressible; PqSpec pins
    // recall against the exact float path
    "q_pq_topk" -> (Pq.pqTopK _),
    // rows-only: the batched scorer's digest arithmetic + row-local NMS
    // have no SQL twin; CrowdPipelineSpec pins batch-shape invariance
    "q_pipeline" -> (graft.pipeline.CrowdPipeline.pipelineQuery _),
    // rows-only: LR coefficients have no SQL twin; MlScoringSpec pins
    // model quality (>0.9 rule agreement), save/load round-trip, and
    // streaming/batch prediction equality
    "q_ml_risk" -> (graft.pipeline.MlScoring.mlRiskQuery _),
  )

  /** Bench-time plan shapes: `queries`, with one rule applied to the
    * [[oracleOnlySorts]]. Each of those registered queries ends in a
    * total ORDER BY over a table- or corpus-sized output; that sort
    * exists only so the oracle compare is deterministic, and at scale it
    * is a full range shuffle a production reader never pays. The bench
    * form builds the registered query once and takes the global half off
    * its root sort ([[withoutGlobalSort]]), so Bench times the plan
    * Verify checks, minus the range shuffle. */
  def benchShapes: Map[String, (SparkSession, String) => DataFrame] = {
    val registered = queries
    registered ++ oracleOnlySorts.map { case (name, keepOrder) =>
      val q = registered.getOrElse(name, throw new IllegalStateException(
        s"bench shape $name is not a registered query"))
      name -> ((spark: SparkSession, dir: String) => withoutGlobalSort(name, q(spark, dir), keepOrder))
    }
  }

  /** Registered queries whose root global sort is oracle-only, each with
    * whether the bench form keeps that order within partitions. The four
    * row-local projections keep none: their output has no order to keep,
    * and on the one-file lineitem fixture a partition-local sort is one
    * task over the whole table (q_unpivot measured 2.8 s at sf0.1 with it,
    * 0.47 s without; its BASELINE row is 0.32 s). */
  private[graft] val oracleOnlySorts: Map[String, Boolean] =
    Seq("q_scan_proj", "q_math", "q_map_funcs", "q_unpivot").map(_ -> false).toMap ++
      Seq("q_json", "q_scd2", "q_alloc", "q_latch_replay", "q_session_replay",
        "q_attr_replay", "q_funnel_replay", "q_join_outer_replay", "q_scrub",
        "q_gopher_rules", "q_chunk_overlap", "q_pagerank", "q_interleave",
        "q_dup_spans", "q_dup_strip", "q_strip_delta", "q_semdedup",
        "q_semdedup_delta").map(_ -> true)

  /** `df` with its analyzed root global `Sort` made partition-local on the
    * same keys (`keepOrder`) or removed; any other root fails. */
  private[graft] def withoutGlobalSort(name: String, df: DataFrame, keepOrder: Boolean): DataFrame =
    GraftBridge.analyzed(df) match {
      case s: Sort if s.global =>
        GraftBridge.ofRows(df.sparkSession, if (keepOrder) s.copy(global = false) else s.child)
      case root => throw new IllegalStateException(
        s"$name: bench rule needs a root global Sort, found ${root.nodeName}")
    }

  /** Shared oracle of q_lm_score AND q_lm_delta (the delta query scores
    * the same corpus under a persisted model of it, bit-identically —
    * IncrementalLmSpec). q_entropy's determinism discipline: per-doc
    * fold over a token-sorted list, every ln input an exact integer
    * ratio. */
  private val lmScoreOracle: String =
    """WITH occ AS (
      |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
      |), tf AS (
      |  SELECT doc_id, tok, count(*) AS tf FROM occ GROUP BY 1, 2
      |), cf AS (
      |  SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1
      |), nv AS (
      |  SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM cf
      |), per AS (
      |  SELECT doc_id,
      |    list_sort(list(struct_pack(tok := tok, tf := tf, c := c))) AS l,
      |    CAST(sum(tf) AS BIGINT) AS n_tokens
      |  FROM tf JOIN cf USING (tok) GROUP BY doc_id)
      |SELECT doc_id, n_tokens,
      |  round(list_sum(list_transform(l,
      |    s -> -s.tf * ln((s.c + 1) / CAST(n + v AS DOUBLE)))) / n_tokens, 4)
      |    AS lm_score
      |FROM per CROSS JOIN nv ORDER BY doc_id""".stripMargin

  /** SQL twin of Curation.splitOf — Knuth multiplicative hash, 90/5/5. */
  private val splitCaseSql: String =
    """CASE WHEN ((((doc_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 1000 < 900 THEN 'train'
      |       WHEN ((((doc_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 1000 < 950 THEN 'val'
      |       ELSE 'test' END""".stripMargin

  /** Shared CTE chain for the MinHash-LSH oracles (q_minhash_lsh,
    * q_neardup_clusters): word-bigram shingles → engine-neutral token
    * codes → 16 affine permutations → 2 band keys → candidate pairs.
    * Ends with the `pairs(d1, d2)` CTE. */
  private val minhashPairCtes: String =
    """toks AS (
      |  SELECT DISTINCT doc_id, tok FROM (
      |    SELECT doc_id, unnest(list_transform(range(1, len(string_split(text, ' '))),
      |      j -> string_split(text, ' ')[j] || '_' || string_split(text, ' ')[j + 1])) AS tok
      |    FROM documents) raw
      |), codes AS (
      |  SELECT tok, list_sum(list_transform(range(1, length(tok) + 1),
      |    j -> ascii(substr(tok, j, 1)) * j)) AS code
      |  FROM (SELECT DISTINCT tok FROM toks) dt
      |), params(i, a, b) AS (VALUES
      |  (0, 1000003, 42), (1, 1007922, 1051), (2, 1015841, 2060), (3, 1023760, 3069),
      |  (4, 1031679, 4078), (5, 1039598, 5087), (6, 1047517, 6096), (7, 1055436, 7105),
      |  (8, 1063355, 8114), (9, 1071274, 9123), (10, 1079193, 10132), (11, 1087112, 11141),
      |  (12, 1095031, 12150), (13, 1102950, 13159), (14, 1110869, 14168), (15, 1118788, 15177)
      |), sigs AS (
      |  SELECT t.doc_id, p.i,
      |    min((CAST(p.a AS BIGINT) * c.code + p.b) % 2147483647) AS minh
      |  FROM toks t JOIN codes c ON t.tok = c.tok CROSS JOIN params p
      |  GROUP BY 1, 2
      |), bands AS (
      |  SELECT doc_id, i // 8 AS band,
      |    string_agg(CAST(minh AS VARCHAR), ',' ORDER BY i) AS key
      |  FROM sigs GROUP BY 1, 2
      |), pairs AS (
      |  SELECT DISTINCT x.doc_id AS d1, y.doc_id AS d2
      |  FROM bands x JOIN bands y
      |    ON x.band = y.band AND x.key = y.key AND x.doc_id < y.doc_id
      |)""".stripMargin

  /** q_pagerank oracle iterations, unrolled: plain recursive CTEs cannot
    * aggregate over the recursive reference per step, so the 5 fixed
    * power iterations chain as r1..r5, each mirroring the Spark loop
    * body exactly — integer division only (`//` here, `div` there), sum
    * of per-edge quotients, then damping on the total. */
  private val pagerankIterCtes: String = (1 to 5).map { k =>
    s"""r$k AS (
       |  SELECT d.doc_id,
       |    (SELECT ((1000000000000 // n) * 15) // 100 FROM nn)
       |      + (85 * coalesce(c.c, 0)) // 100 AS pr
       |  FROM documents d LEFT JOIN (
       |    SELECT e.dst AS doc_id, CAST(sum(r.pr // g.deg) AS BIGINT) AS c
       |    FROM edges e JOIN r${k - 1} r ON e.src = r.doc_id JOIN deg g ON g.src = e.src
       |    GROUP BY e.dst) c ON c.doc_id = d.doc_id)""".stripMargin
  }.mkString(",\n")

  /** DuckDB twin of VectorOps.annTopKMultiband, generated so the 24
    * Walsh-hyperplane projections and 4 band keys stay structurally in
    * lockstep with the Scala constants (Bands × BitsPerBand). Integer-only
    * sign arithmetic (bit_count((i-1) & j) % 2) matches Spark's
    * bit_count(i & j) on the 0-based transform index exactly. */
  private def multibandNorm(t: String): String =
    s"sqrt(list_sum(list_transform(range(1,65), i -> CAST($t.embedding[i] AS DOUBLE) * CAST($t.embedding[i] AS DOUBLE))))"
  private val multibandDot: String =
    "list_sum(list_transform(range(1,65), i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))"

  /** Shared CTE prefix (d → keyed → bands) for the multiband-LSH oracles:
    * per-vector Walsh projections, per-band 6-bit keys, one (band, key)
    * row per band. */
  private def multibandCtes: String = {
    val bands = operators.VectorOps.Bands
    val bits = operators.VectorOps.BitsPerBand
    val dots = (1 to bands * bits).map { j =>
      s"    list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * (1.0 - 2.0 * (bit_count((i-1) & $j) % 2)))) AS d$j"
    }.mkString(",\n")
    val keyCols = (0 until bands).map { b =>
      (0 until bits).map { r =>
        s"(CASE WHEN d${1 + b * bits + r} > 0 THEN ${1L << r} ELSE 0 END)"
      }.mkString("    CAST(", " + ", s" AS BIGINT) AS k$b")
    }.mkString(",\n")
    val bandsUnion = (0 until bands).map { b =>
      s"  SELECT vec_id, $b AS band, k$b AS key FROM keyed"
    }.mkString("\n  UNION ALL\n")
    s"""WITH d AS (
       |  SELECT vec_id, embedding,
       |$dots
       |  FROM embeddings
       |), keyed AS (
       |  SELECT vec_id,
       |$keyCols
       |  FROM d
       |), bands AS (
       |$bandsUnion
       |)""".stripMargin
  }

  /** DuckDB twin of VectorOps.annTopKMultiband, generated so the 24
    * Walsh-hyperplane projections and 4 band keys stay structurally in
    * lockstep with the Scala constants (Bands × BitsPerBand). Integer-only
    * sign arithmetic (bit_count((i-1) & j) % 2) matches Spark's
    * bit_count(i & j) on the 0-based transform index exactly. */
  private def annMultibandOracle: String =
    s"""$multibandCtes, cand AS (
       |  SELECT DISTINCT p.vec_id AS probe_id, c.vec_id AS cand_id
       |  FROM bands p JOIN bands c ON p.band = c.band AND p.key = c.key AND c.vec_id <> p.vec_id
       |  WHERE p.vec_id < 20
       |), pairs AS (
       |  SELECT cd.probe_id, cd.cand_id, $multibandDot / (${multibandNorm("p")} * ${multibandNorm("c")}) AS cos
       |  FROM cand cd
       |  JOIN embeddings p ON p.vec_id = cd.probe_id
       |  JOIN embeddings c ON c.vec_id = cd.cand_id
       |), ranked AS (
       |  SELECT probe_id, cand_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
       |  FROM pairs)
       |SELECT probe_id, rank, cand_id, round(cos, 4) AS cos_sim
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin

  /** DuckDB twin of VectorOps.embedNearDup: same band CTEs, v1 < v2
    * candidate pairs, exact cosine ≥ 0.35 filter. */
  private def embedNearDupOracle: String =
    s"""$multibandCtes, cand AS (
       |  SELECT DISTINCT x.vec_id AS v1, y.vec_id AS v2
       |  FROM bands x JOIN bands y ON x.band = y.band AND x.key = y.key AND x.vec_id < y.vec_id
       |), scored AS (
       |  SELECT cd.v1, cd.v2, $multibandDot / (${multibandNorm("p")} * ${multibandNorm("c")}) AS cos
       |  FROM cand cd
       |  JOIN embeddings p ON p.vec_id = cd.v1
       |  JOIN embeddings c ON c.vec_id = cd.v2)
       |SELECT v1, v2, round(cos, 4) AS cos_sim
       |FROM scored WHERE cos >= 0.35 ORDER BY v1, v2""".stripMargin

  /** DuckDB twin of the deterministic IVF quantizer + search
    * (Ivf.detCenters → Ivf.ivfTopK), shared verbatim by q_ivf_topk and
    * q_ivf_delta (IncrementalIvfSpec pins that a whole-corpus-first-
    * batch persisted index reproduces ivfTopK exactly — the
    * greedyNmsOracle sharing precedent). GENERATED so the Lloyd blocks
    * stay structurally in lockstep with Ivf.DetSteps / Ivf.K /
    * Ivf.NProbe / Ivf.MeanScale:
    *  - `ne` normalizes exactly as Pq.normalized (per-element
    *    CAST-to-DOUBLE, sequential list_sum fold ≡ the aggregate HOF,
    *    zero-norm rows dropped);
    *  - `c0` seeds the K smallest vec_ids (list = vec_id rank − 1);
    *  - each Lloyd step re-assigns by the sq_dist fold (ties to the
    *    lowest list — row_number ≡ the engine's min-struct argmin) and
    *    recomputes means as EXACT INTEGER sums: round(x·1e6) per
    *    dimension as BIGINT, summed (associative, order-free), divided
    *    back once — the arithmetic trick that makes a k-means MEAN
    *    bit-reproducible across engines, where any double SUM would
    *    depend on accumulation order; a cluster with no members keeps
    *    its previous center (the LEFT JOIN arm ≡ the Scala fallback);
    *  - the search ranks centers per probe by the same fold, scans the
    *    NProbe nearest lists, and scores candidates by raw-embedding
    *    cosine (the q_sim_topk fold). The final `+ 0.0` collapses
    *    DuckDB's −0.0 at round() to Spark/BigDecimal's +0.0. */
  private def ivfDetOracle: String = {
    val K = graft.operators.Ivf.K
    val NProbe = graft.operators.Ivf.NProbe
    val dim = 65 // exclusive upper bound of range(1, dim) over 64 dims
    def sq(a: String, b: String): String =
      s"list_sum(list_transform(range(1,$dim), i -> ($a.nemb[i]-$b.center[i])*($a.nemb[i]-$b.center[i])))"
    def lloyd(step: Int, prev: String): String =
      s"""a$step AS (
         |  SELECT vec_id, nemb, list,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, list) AS rk
         |  FROM (
         |    SELECT n.vec_id, n.nemb, c.list, ${sq("n", "c")} AS dist2
         |    FROM ne n CROSS JOIN $prev c)
         |), s$step AS (
         |  SELECT list, i, SUM(CAST(round(nemb[i]*1000000.0) AS BIGINT)) AS s, COUNT(*) AS n
         |  FROM a$step CROSS JOIN range(1,$dim) t(i)
         |  WHERE rk = 1 GROUP BY list, i
         |), m$step AS (
         |  SELECT list, list(CAST(s AS DOUBLE) / (1000000.0 * n) ORDER BY i) AS center
         |  FROM s$step GROUP BY list
         |), c$step AS (
         |  SELECT p.list, COALESCE(m.center, p.center) AS center
         |  FROM $prev p LEFT JOIN m$step m ON p.list = m.list
         |)""".stripMargin
    val steps = (1 to graft.operators.Ivf.DetSteps)
      .map(s => lloyd(s, s"c${s - 1}")).mkString(", ")
    val cFinal = s"c${graft.operators.Ivf.DetSteps}"
    def dot(a: String, b: String): String =
      s"list_sum(list_transform(range(1,$dim), i -> CAST($a.embedding[i] AS DOUBLE) * CAST($b.embedding[i] AS DOUBLE)))"
    s"""WITH ne AS (
       |  SELECT vec_id, embedding,
       |    list_transform(range(1,$dim), i -> CAST(embedding[i] AS DOUBLE) /
       |      sqrt(list_sum(list_transform(range(1,$dim), j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))))) AS nemb
       |  FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(range(1,$dim), j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)))) > 0
       |), c0 AS (
       |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS list, nemb AS center
       |  FROM (SELECT vec_id, nemb FROM ne ORDER BY vec_id LIMIT $K)
       |), $steps, af AS (
       |  SELECT vec_id, embedding, nemb, list,
       |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, list) AS rk
       |  FROM (
       |    SELECT n.vec_id, n.embedding, n.nemb, c.list, ${sq("n", "c")} AS dist2
       |    FROM ne n CROSS JOIN $cFinal c)
       |), asg AS (
       |  SELECT vec_id, embedding, nemb, list FROM af WHERE rk = 1
       |), pl AS (
       |  SELECT probe_id, list FROM (
       |    SELECT p.vec_id AS probe_id, c.list,
       |      row_number() OVER (PARTITION BY p.vec_id ORDER BY ${sq("p", "c")}, c.list) AS crank
       |    FROM asg p CROSS JOIN $cFinal c WHERE p.vec_id < 20)
       |  WHERE crank <= $NProbe
       |), cand AS (
       |  SELECT pl.probe_id, a.vec_id AS cand_id,
       |    ${dot("p", "a")}
       |    / (sqrt(${dot("p", "p")}) * sqrt(${dot("a", "a")})) AS cos
       |  FROM pl
       |  JOIN asg a ON a.list = pl.list AND a.vec_id <> pl.probe_id
       |  JOIN asg p ON p.vec_id = pl.probe_id
       |), ranked AS (
       |  SELECT probe_id, cand_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
       |  FROM cand)
       |SELECT probe_id, rank, cand_id, round(cos, 4) + 0.0 AS cos_sim
       |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin
  }

  /** DuckDB twin of the deterministic-codebook PQ search
    * (Pq.detSubCenters → Pq.pqTopK): the ivfDetOracle generator applied
    * per SUBSPACE — one normalization CTE, then for each of the M=8
    * 8-dim slices a seeded init (the K=16 smallest vec_ids' slices) and
    * the unrolled exact-integer-mean Lloyd blocks, a final per-slice
    * code assignment, and the two-stage search: per-probe ADC tables
    * (subspace dot against every codeword), candidate approx = the
    * m-ordered sum of 8 table lookups (list(part ORDER BY m) →
    * list_sum, matching the engine's subspace-sorted fold — the
    * shortlist boundary at rank 200 must not flip), top-[[graft
    * .operators.Pq.Shortlist]] prune, exact normalized-dot re-rank. */
  private def pqDetOracle: String = {
    val M = graft.operators.Pq.M
    val K = graft.operators.Pq.K
    val SubDim = graft.operators.Pq.SubDim
    val Shortlist = graft.operators.Pq.Shortlist
    val dim = 65
    val sd = SubDim + 1 // exclusive bound of range(1, sd) over one slice
    def sq(a: String, b: String): String =
      s"list_sum(list_transform(range(1,$sd), i -> ($a.sub[i]-$b.center[i])*($a.sub[i]-$b.center[i])))"
    def lloyd(m: Int, step: Int, prev: String): String =
      s"""a${step}_$m AS (
         |  SELECT vec_id, sub, k,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, k) AS rk
         |  FROM (
         |    SELECT t.vec_id, t.sub, c.k, ${sq("t", "c")} AS dist2
         |    FROM sub_$m t CROSS JOIN $prev c)
         |), s${step}_$m AS (
         |  SELECT k, i, SUM(CAST(round(sub[i]*1000000.0) AS BIGINT)) AS s, COUNT(*) AS n
         |  FROM a${step}_$m CROSS JOIN range(1,$sd) t(i)
         |  WHERE rk = 1 GROUP BY k, i
         |), m${step}_$m AS (
         |  SELECT k, list(CAST(s AS DOUBLE) / (1000000.0 * n) ORDER BY i) AS center
         |  FROM s${step}_$m GROUP BY k
         |), c${step}_$m AS (
         |  SELECT p.k, COALESCE(mm.center, p.center) AS center
         |  FROM $prev p LEFT JOIN m${step}_$m mm ON p.k = mm.k
         |)""".stripMargin
    val steps = graft.operators.Ivf.DetSteps
    val perM = (0 until M).map { m =>
      val off = m * SubDim
      val subCte =
        s"""sub_$m AS (
           |  SELECT vec_id, list_transform(range(1,$sd), i -> nemb[$off + i]) AS sub
           |  FROM ne
           |)""".stripMargin
      val init =
        s"""c0_$m AS (
           |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS k, sub AS center
           |  FROM (SELECT vec_id, sub FROM sub_$m ORDER BY vec_id LIMIT $K)
           |)""".stripMargin
      val ll = (1 to steps).map(s => lloyd(m, s, s"c${s - 1}_$m")).mkString(", ")
      val code =
        s"""code_$m AS (
           |  SELECT vec_id, k AS code FROM (
           |    SELECT t.vec_id, c.k,
           |      row_number() OVER (PARTITION BY t.vec_id ORDER BY ${sq("t", "c")}, c.k) AS rk
           |    FROM sub_$m t CROSS JOIN c${steps}_$m c)
           |  WHERE rk = 1
           |)""".stripMargin
      s"$subCte, $init, $ll, $code"
    }.mkString(", ")
    val centUnion = (0 until M)
      .map(m => s"SELECT $m AS m, k AS code, center FROM c${steps}_$m")
      .mkString("\n  UNION ALL ")
    val codeUnion = (0 until M)
      .map(m => s"SELECT vec_id, $m AS m, code FROM code_$m")
      .mkString("\n  UNION ALL ")
    val subUnion = (0 until M)
      .map(m => s"SELECT vec_id, $m AS m, sub FROM sub_$m")
      .mkString("\n  UNION ALL ")
    s"""WITH ne AS (
       |  SELECT vec_id,
       |    list_transform(range(1,$dim), i -> CAST(embedding[i] AS DOUBLE) /
       |      sqrt(list_sum(list_transform(range(1,$dim), j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE))))) AS nemb
       |  FROM embeddings
       |  WHERE sqrt(list_sum(list_transform(range(1,$dim), j -> CAST(embedding[j] AS DOUBLE) * CAST(embedding[j] AS DOUBLE)))) > 0
       |), $perM, cent AS (
       |  $centUnion
       |), codes AS (
       |  $codeUnion
       |), allsubs AS (
       |  $subUnion
       |), tables AS (
       |  SELECT p.vec_id AS probe_id, c.m, c.code,
       |    list_sum(list_transform(range(1,$sd), i -> p.sub[i] * c.center[i])) AS part
       |  FROM allsubs p JOIN cent c ON c.m = p.m
       |  WHERE p.vec_id < 10
       |), short AS (
       |  SELECT probe_id, vec_id, approx,
       |    row_number() OVER (PARTITION BY probe_id ORDER BY approx DESC, vec_id) AS arank
       |  FROM (
       |    SELECT t.probe_id, cd.vec_id, list_sum(list(t.part ORDER BY t.m)) AS approx
       |    FROM codes cd JOIN tables t ON t.m = cd.m AND t.code = cd.code
       |    WHERE cd.vec_id <> t.probe_id
       |    GROUP BY t.probe_id, cd.vec_id)
       |), ranked AS (
       |  SELECT s.probe_id, s.vec_id AS cand_id,
       |    list_sum(list_transform(range(1,$dim), i -> p.nemb[i] * c.nemb[i])) AS cos
       |  FROM short s
       |  JOIN ne c ON c.vec_id = s.vec_id
       |  JOIN ne p ON p.vec_id = s.probe_id
       |  WHERE s.arank <= $Shortlist
       |), topd AS (
       |  SELECT probe_id, cand_id, cos,
       |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
       |  FROM ranked)
       |SELECT probe_id, rank, cand_id, round(cos, 6) + 0.0 AS cos_sim
       |FROM topd WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin
  }

  /** Shared by q_nms_greedy and q_nms_exec (identical semantics, two
    * execution strategies): the order-dependent greedy pass as a
    * recursive CTE — one iteration per confidence rank, carrying each
    * frame's kept-box list; division (not inter > t*union) so the IoU
    * comparison hits the same doubles as the engine (SURVEY §7.4 #1). */
  private val greedyNmsOracle: String =
    """WITH RECURSIVE dets AS (
      |  SELECT event_id AS det_id, user_id AS frame_id,
      |    CAST((event_id * 37) % 400 AS INT) AS x,
      |    CAST((event_id * 73) % 400 AS INT) AS y,
      |    CAST(40 + (event_id % 4) * 20 AS INT) AS w,
      |    CAST(40 + (event_id % 3) * 25 AS INT) AS h,
      |    value AS conf,
      |    CAST(row_number() OVER (PARTITION BY user_id ORDER BY value DESC, event_id) AS INT) AS rn
      |  FROM events
      |), step(r, frame_id, kept) AS (
      |  SELECT 1, frame_id,
      |    [struct_pack(det_id := det_id, x := x, y := y, w := w, h := h, conf := conf)]
      |  FROM dets WHERE rn = 1
      |  UNION ALL
      |  SELECT s.r + 1, s.frame_id,
      |    CASE WHEN len(list_filter(s.kept, k ->
      |        CAST(greatest(0, least(k.x + k.w, d.x + d.w) - greatest(k.x, d.x))
      |           * greatest(0, least(k.y + k.h, d.y + d.h) - greatest(k.y, d.y)) AS DOUBLE)
      |        / CAST(k.w * k.h + d.w * d.h
      |           - greatest(0, least(k.x + k.w, d.x + d.w) - greatest(k.x, d.x))
      |           * greatest(0, least(k.y + k.h, d.y + d.h) - greatest(k.y, d.y)) AS DOUBLE)
      |        > 0.3)) > 0
      |      THEN s.kept
      |      ELSE list_append(s.kept,
      |        struct_pack(det_id := d.det_id, x := d.x, y := d.y, w := d.w, h := d.h, conf := d.conf))
      |    END
      |  FROM step s JOIN dets d ON d.frame_id = s.frame_id AND d.rn = s.r + 1
      |)
      |SELECT frame_id, k.det_id AS det_id, k.conf AS conf FROM (
      |  SELECT frame_id, unnest(kept) AS k FROM (
      |    SELECT frame_id, kept, r, max(r) OVER (PARTITION BY frame_id) AS mx FROM step) t
      |  WHERE r = mx) u
      |ORDER BY frame_id, det_id""".stripMargin

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] = Map(
    "q_ann_multiband" -> annMultibandOracle,
    "q_embed_neardup" -> embedNearDupOracle,
    "q_ivf_topk" -> ivfDetOracle,
    "q_ivf_delta" -> ivfDetOracle,
    "q_pq_topk" -> pqDetOracle,
    // q_quantized_topk: int8 max-abs quantize → dequantize-on-the-fly
    // cosine top-10. The scale is an order-free max (list_max ≡ the
    // greatest fold); q = round(x/scale·127) as TINYINT (the round
    // agreement); dequantized values round-trip through FLOAT exactly
    // as the engine's .cast("array<float>") does — then the q_sim_topk
    // cosine fold. Output carries no float column (ranks only).
    "q_quantized_topk" ->
      """WITH s AS (
        |  SELECT vec_id, embedding,
        |    greatest(list_max(list_transform(range(1,65), i -> abs(CAST(embedding[i] AS DOUBLE)))), 1e-30) AS scale
        |  FROM embeddings
        |), q AS (
        |  SELECT vec_id, scale,
        |    list_transform(range(1,65), i -> CAST(round(CAST(embedding[i] AS DOUBLE) / scale * 127.0) AS TINYINT)) AS qv
        |  FROM s
        |), d AS (
        |  SELECT vec_id,
        |    list_transform(range(1,65), i -> CAST(CAST(CAST(qv[i] AS DOUBLE) * scale / 127.0 AS FLOAT) AS DOUBLE)) AS emb
        |  FROM q
        |), pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    list_sum(list_transform(range(1,65), i -> p.emb[i] * c.emb[i]))
        |    / (sqrt(list_sum(list_transform(range(1,65), i -> p.emb[i] * p.emb[i])))
        |     * sqrt(list_sum(list_transform(range(1,65), i -> c.emb[i] * c.emb[i])))) AS cos
        |  FROM d p JOIN d c ON c.vec_id <> p.vec_id
        |  WHERE p.vec_id < 10
        |), ranked AS (
        |  SELECT probe_id, cand_id,
        |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
        |  FROM pairs)
        |SELECT probe_id, rank, cand_id
        |FROM ranked WHERE rank <= 10 ORDER BY probe_id, rank""".stripMargin,
    "q_scan_proj" ->
      """SELECT l_orderkey, l_linenumber,
        |  CAST(round(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2))), 2) AS DOUBLE) AS net_price,
        |  CAST(l_quantity > 25 AS BIGINT) AS bulk,
        |  CASE WHEN l_returnflag = 'R' THEN 'returned' ELSE 'kept' END AS status
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, net_price, bulk, status""".stripMargin,
    "q_filter" ->
      """SELECT l_orderkey, l_linenumber, l_quantity, l_returnflag
        |FROM lineitem
        |WHERE l_quantity BETWEEN 10 AND 30
        |  AND l_returnflag IN ('R', 'A')
        |  AND l_shipdate >= TIMESTAMP '1996-01-01'
        |  AND l_discount <> 0.0
        |ORDER BY l_orderkey, l_linenumber, l_quantity, l_returnflag""".stripMargin,
    "q_agg" ->
      """SELECT l_returnflag, l_linestatus,
        |  round(sum(l_quantity), 2) AS sum_qty,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_base_price,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS sum_disc_price,
        |  round(sum(l_quantity) / count(*), 2) AS avg_qty,
        |  round(CAST(sum(CAST(l_discount AS DECIMAL(18,2))) AS DOUBLE) / count(*), 4) AS avg_disc,
        |  count(*) AS count_order
        |FROM lineitem WHERE l_shipdate <= TIMESTAMP '2001-09-02'
        |GROUP BY l_returnflag, l_linestatus
        |ORDER BY l_returnflag, l_linestatus""".stripMargin,
    "q_agg_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value,
        |  round(min(value), 2) AS min_value,
        |  round(max(value), 2) AS max_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q_salted_agg: the two-phase salted plan must equal the plain GROUP BY
    "q_salted_agg" ->
      """SELECT event_type, count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin,
    // q_heavy_hitters: the frequent-items sketch is exact while distinct
    // items fit its tracked capacity (fixture: ≤1.5k distinct vs 8192
    // tracked), so the oracle is the plain histogram
    "q_heavy_hitters" ->
      """SELECT user_id, count(*) AS n_events FROM events
        |GROUP BY user_id ORDER BY n_events DESC, user_id""".stripMargin,
    "q_scd2" ->
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), r AS (
        |  SELECT user_id, ts, event_type,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM s
        |), h AS (
        |  SELECT user_id, run_id, min(event_type) AS event_type, min(ts) AS vf
        |  FROM r GROUP BY user_id, run_id
        |)
        |SELECT user_id, event_type,
        |  CAST(floor(epoch(vf)) AS BIGINT) AS valid_from,
        |  coalesce(CAST(floor(epoch(lead(vf) OVER (PARTITION BY user_id ORDER BY run_id))) AS BIGINT), -1) AS valid_to
        |FROM h ORDER BY user_id, valid_from, event_type, valid_to""".stripMargin,
    "q_vocab_growth" ->
      // Heaps curve via first-occurrence bucketing — no per-prefix scan
      """WITH fs AS (
        |  SELECT tok, min(doc_id) AS first_doc FROM (
        |    SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) t
        |  GROUP BY 1
        |), pb AS (
        |  SELECT CAST(floor(first_doc / 50) * 50 + 50 AS BIGINT) AS docs_seen,
        |    count(*) AS new_types
        |  FROM fs GROUP BY 1)
        |SELECT docs_seen, new_types,
        |  CAST(sum(new_types) OVER (ORDER BY docs_seen
        |    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS vocab
        |FROM pb ORDER BY docs_seen""".stripMargin,
    "q_drift" ->
      // PSI over 5 fixed value buckets, add-one smoothed; the 5-term
      // double sum folds over a bucket-sorted list on both engines. The
      // grid LEFT JOIN materializes buckets empty in BOTH halves — their
      // smoothed term is nonzero whenever n_ref ≠ n_cur
      """WITH c AS (
        |  SELECT event_type,
        |    CASE WHEN value < 10 THEN 0 WHEN value < 50 THEN 1
        |         WHEN value < 100 THEN 2 WHEN value < 250 THEN 3
        |         ELSE 4 END AS b,
        |    sum(CASE WHEN dayofmonth(CAST(ts AS DATE)) <= 14 THEN 1 ELSE 0 END) AS r,
        |    sum(CASE WHEN dayofmonth(CAST(ts AS DATE)) <= 14 THEN 0 ELSE 1 END) AS c
        |  FROM events GROUP BY 1, 2
        |), grid AS (
        |  SELECT event_type, gb.b
        |  FROM (SELECT DISTINCT event_type FROM events) t
        |  CROSS JOIN (SELECT unnest(range(0, 5)) AS b) gb
        |), f AS (
        |  SELECT g.event_type, g.b,
        |    COALESCE(c.r, 0) AS r, COALESCE(c.c, 0) AS c
        |  FROM grid g LEFT JOIN c ON g.event_type = c.event_type AND g.b = c.b
        |), g AS (
        |  SELECT event_type,
        |    CAST(sum(r) AS BIGINT) AS n_ref, CAST(sum(c) AS BIGINT) AS n_cur,
        |    list(struct_pack(b := b, r := r, c := c) ORDER BY b) AS bs
        |  FROM f GROUP BY 1)
        |SELECT event_type, n_ref, n_cur,
        |  round(list_sum(list_transform(bs, x ->
        |    ((x.r + 1) / CAST(n_ref + 5 AS DOUBLE)
        |     - (x.c + 1) / CAST(n_cur + 5 AS DOUBLE))
        |    * ln(((x.r + 1) / CAST(n_ref + 5 AS DOUBLE))
        |        / ((x.c + 1) / CAST(n_cur + 5 AS DOUBLE))))), 6) AS psi
        |FROM g ORDER BY event_type""".stripMargin,
    "q_bpe_merges" ->
      // vocabulary-side char-pair counts weighted by word frequency
      """WITH freq AS (
        |  SELECT tok, count(*) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY 1
        |), pairs AS (
        |  SELECT unnest(list_transform(range(1, length(tok)),
        |    j -> substr(tok, j, 2))) AS pair, f
        |  FROM freq)
        |SELECT pair, CAST(sum(f) AS BIGINT) AS n_occurrences
        |FROM pairs GROUP BY 1
        |ORDER BY n_occurrences DESC, pair LIMIT 20""".stripMargin,
    "q_anomaly_days" ->
      // trailing-7-observed-days z-score; variance from exact sums in
      // the same ROWS frame; flag compares the UNROUNDED z on both sides
      """WITH daily AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1
        |), sc AS (
        |  SELECT day, v,
        |    count(*) OVER w AS n,
        |    sum(CAST(v AS HUGEINT)) OVER w AS s1,
        |    sum(CAST(v AS HUGEINT) * v) OVER w AS s2
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING)
        |), z AS (
        |  SELECT day, v, n,
        |    (CAST(n AS DOUBLE) * s2 - CAST(s1 AS DOUBLE) * s1)
        |      / (CAST(n AS DOUBLE) * n) AS var_d,
        |    (CAST(v AS DOUBLE) - CAST(s1 AS DOUBLE) / n) AS dev_n
        |  FROM sc)
        |SELECT day, v AS cents,
        |  CASE WHEN n < 7 OR var_d <= 0.0 THEN 0.0
        |       ELSE round(dev_n / sqrt(var_d), 4) END AS z,
        |  CASE WHEN n < 7 OR var_d <= 0.0 THEN false
        |       ELSE abs(dev_n / sqrt(var_d)) >= 2.0 END AS is_anomaly
        |FROM z ORDER BY day""".stripMargin,
    "q_degree_dist" ->
      // dup-graph degree histogram; zero-degree docs kept via left join
      s"""WITH $minhashPairCtes,
        |deg AS (
        |  SELECT doc_id, count(*) AS degree FROM (
        |    SELECT d1 AS doc_id FROM pairs
        |    UNION ALL
        |    SELECT d2 AS doc_id FROM pairs) e
        |  GROUP BY 1)
        |SELECT coalesce(deg.degree, 0) AS degree, count(*) AS n_docs
        |FROM documents d LEFT JOIN deg ON d.doc_id = deg.doc_id
        |GROUP BY 1 ORDER BY degree""".stripMargin,
    "q_bigram_lm" ->
      // top-3 successors of the 5 most frequent context words; exact
      // integer counts, probability is the only double
      """WITH big AS (
        |  SELECT split_part(g, ' ', 1) AS w1, split_part(g, ' ', 2) AS w2
        |  FROM (
        |    SELECT unnest(list_transform(range(1, len(string_split(text, ' '))),
        |      j -> string_split(text, ' ')[j] || ' ' ||
        |           string_split(text, ' ')[j + 1])) AS g
        |    FROM documents) raw
        |), pc AS (
        |  SELECT w1, w2, count(*) AS n12 FROM big GROUP BY 1, 2
        |), cc AS (
        |  SELECT w1, count(*) AS n1 FROM big GROUP BY 1
        |), top_ctx AS (
        |  SELECT w1, n1 FROM cc ORDER BY n1 DESC, w1 LIMIT 5
        |), ranked AS (
        |  SELECT p.w1, p.w2, p.n12, t.n1,
        |    row_number() OVER (PARTITION BY p.w1 ORDER BY p.n12 DESC, p.w2) AS rk
        |  FROM pc p JOIN top_ctx t USING (w1))
        |SELECT w1 AS context, w2 AS next_tok, n12, n1,
        |  round(CAST(n12 AS DOUBLE) / n1, 4) AS p_next
        |FROM ranked WHERE rk <= 3
        |ORDER BY context, n12 DESC, next_tok""".stripMargin,
    "q_minhash_est" ->
      // estimate from matching signature coords vs exact shingle-code
      // Jaccard, per candidate pair; LEFT join on the intersection so a
      // band collision without shared codes still reports
      s"""WITH $minhashPairCtes,
        |doc_codes AS (
        |  SELECT DISTINCT t.doc_id, c.code FROM toks t JOIN codes c USING (tok)
        |), sz AS (
        |  SELECT doc_id, count(*) AS n FROM doc_codes GROUP BY 1
        |), inter AS (
        |  SELECT p.d1, p.d2, count(*) AS n_inter
        |  FROM pairs p
        |  JOIN doc_codes a ON a.doc_id = p.d1
        |  JOIN doc_codes b ON b.doc_id = p.d2 AND b.code = a.code
        |  GROUP BY 1, 2
        |), est AS (
        |  SELECT p.d1, p.d2,
        |    sum(CASE WHEN s1.minh = s2.minh THEN 1 ELSE 0 END) AS n_match
        |  FROM pairs p
        |  JOIN sigs s1 ON s1.doc_id = p.d1
        |  JOIN sigs s2 ON s2.doc_id = p.d2 AND s2.i = s1.i
        |  GROUP BY 1, 2
        |), j AS (
        |  SELECT e.d1, e.d2,
        |    CAST(coalesce(i.n_inter, 0) AS BIGINT) AS n_inter,
        |    CAST(coalesce(i.n_inter, 0) AS DOUBLE)
        |      / (sa.n + sb.n - coalesce(i.n_inter, 0)) AS jac_d,
        |    CAST(e.n_match AS DOUBLE) / 16 AS est_d
        |  FROM est e
        |  LEFT JOIN inter i ON i.d1 = e.d1 AND i.d2 = e.d2
        |  JOIN sz sa ON sa.doc_id = e.d1
        |  JOIN sz sb ON sb.doc_id = e.d2)
        |SELECT d1, d2, n_inter,
        |  round(jac_d, 4) AS jaccard,
        |  round(est_d, 4) AS minhash_est,
        |  round(abs(jac_d - est_d), 4) AS abs_err
        |FROM j ORDER BY d1, d2""".stripMargin,
    "q_asof_snapshot" ->
      // the q_scd2 history filtered to intervals containing T=2024-01-15
      """WITH s AS (
        |  SELECT user_id, ts, event_id, event_type,
        |    CASE WHEN lag(event_type) OVER w IS NULL
        |           OR lag(event_type) OVER w <> event_type THEN 1 ELSE 0 END AS chg
        |  FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), r AS (
        |  SELECT user_id, ts, event_type,
        |    sum(chg) OVER (PARTITION BY user_id ORDER BY ts, event_id ROWS UNBOUNDED PRECEDING) AS run_id
        |  FROM s
        |), h AS (
        |  SELECT user_id, run_id, min(event_type) AS event_type, min(ts) AS vf
        |  FROM r GROUP BY user_id, run_id
        |), iv AS (
        |  SELECT user_id, event_type,
        |    CAST(floor(epoch(vf)) AS BIGINT) AS valid_from,
        |    coalesce(CAST(floor(epoch(lead(vf) OVER (PARTITION BY user_id ORDER BY run_id))) AS BIGINT), -1) AS valid_to
        |  FROM h)
        |SELECT user_id, event_type AS state_at_t, valid_from AS since
        |FROM iv
        |WHERE valid_from <= 1705276800 AND (valid_to = -1 OR valid_to > 1705276800)
        |ORDER BY user_id""".stripMargin,
    "q_freq_buckets" ->
      """WITH freq AS (
        |  SELECT tok, count(*) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |  GROUP BY 1)
        |SELECT CASE WHEN f = 1 THEN '1_hapax' WHEN f = 2 THEN '2_dis'
        |            WHEN f <= 10 THEN '3_to_10' WHEN f <= 100 THEN '11_to_100'
        |            ELSE '101_plus' END AS bucket,
        |  count(*) AS n_types, CAST(sum(f) AS BIGINT) AS n_occurrences
        |FROM freq GROUP BY 1 ORDER BY bucket""".stripMargin,
    "q_dedup_stats" ->
      // one-row dedup funnel: exact-dup mass, LSH pair count, min-label
      // cluster drops — same recursive clusters CTE as q_neardup_clusters
      s"""WITH RECURSIVE $minhashPairCtes,
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION ALL
        |  SELECT d2 AS src, d1 AS dst FROM pairs
        |), reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), clusters AS (
        |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        |), base AS (
        |  SELECT count(*) AS n_docs,
        |    count(DISTINCT md5(text)) AS n_distinct_texts
        |  FROM documents
        |), np AS (SELECT count(*) AS n_near_pairs FROM pairs
        |), dr AS (
        |  SELECT CAST(sum(CASE WHEN doc_id <> cluster_id THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_dropped
        |  FROM clusters)
        |SELECT n_docs, n_docs - n_distinct_texts AS n_exact_dups,
        |  n_near_pairs, n_dropped,
        |  round(CAST(n_docs - n_dropped AS DOUBLE) / n_docs, 4) AS pct_kept
        |FROM base, np, dr""".stripMargin,
    "q_funnel" ->
      """WITH fv AS (
        |  SELECT user_id, min(ts) AS t_view FROM events
        |  WHERE event_type = 'view' GROUP BY user_id
        |), fc AS (
        |  SELECT e.user_id, min(e.ts) AS t_click
        |  FROM events e JOIN fv USING (user_id)
        |  WHERE e.event_type = 'click' AND e.ts > fv.t_view GROUP BY e.user_id
        |), fp AS (
        |  SELECT e.user_id, min(e.ts) AS t_buy
        |  FROM events e JOIN fc USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > fc.t_click GROUP BY e.user_id
        |)
        |SELECT stage, n_users FROM (
        |  SELECT '1_view' AS stage, CAST(count(*) AS BIGINT) AS n_users FROM fv
        |  UNION ALL
        |  SELECT '2_view_click', CAST(count(*) AS BIGINT) FROM fc
        |  UNION ALL
        |  SELECT '3_view_click_purchase', CAST(count(*) AS BIGINT) FROM fp
        |) ORDER BY stage""".stripMargin,
    // q_outliers: floor-scaled integer centi-units on both sides (DuckDB
    // CAST(double AS BIGINT) rounds, Spark truncates; floor agrees), so
    // quantile_cont ≡ percentile over exact dyadic rationals
    "q_outliers" ->
      """WITH ev AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS v FROM events
        |), med AS (
        |  SELECT event_type, quantile_cont(v, 0.5) AS med FROM ev GROUP BY event_type
        |), dev AS (
        |  SELECT e.event_type, abs(e.v - m.med) AS adev
        |  FROM ev e JOIN med m USING (event_type)
        |), mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY event_type
        |)
        |SELECT d.event_type, CAST(count(*) AS BIGINT) AS n,
        |  CAST(sum(CASE WHEN d.adev > m.mad * 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM dev d JOIN mad m USING (event_type)
        |GROUP BY d.event_type ORDER BY d.event_type""".stripMargin,
    "q_dq_checks" ->
      """WITH cs AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |    CAST(sum(CASE WHEN c_acctbal IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_null,
        |    CAST(sum(CASE WHEN NOT (c_acctbal BETWEEN -1000.0 AND 10000.0) THEN 1 ELSE 0 END) AS BIGINT) AS v_range,
        |    CAST(sum(CASE WHEN NOT regexp_matches(c_name, '^Customer#[0-9]+$') THEN 1 ELSE 0 END) AS BIGINT) AS v_fmt
        |  FROM customer
        |)
        |SELECT check_name, n_violations, n_checked FROM (
        |  SELECT 'completeness_acctbal' AS check_name, v_null AS n_violations, n AS n_checked FROM cs
        |  UNION ALL SELECT 'range_acctbal', v_range, n FROM cs
        |  UNION ALL SELECT 'format_name', v_fmt, n FROM cs
        |  UNION ALL SELECT 'pk_unique_custkey',
        |    CAST(coalesce(sum(CASE WHEN k > 1 THEN 1 ELSE 0 END), 0) AS BIGINT),
        |    CAST(count(*) AS BIGINT)
        |  FROM (SELECT c_custkey, count(*) AS k FROM customer GROUP BY c_custkey)
        |  UNION ALL SELECT 'fk_orders_customer',
        |    CAST((SELECT count(*) FROM orders WHERE o_custkey NOT IN (SELECT c_custkey FROM customer)) AS BIGINT),
        |    CAST((SELECT count(*) FROM orders) AS BIGINT)
        |) ORDER BY check_name""".stripMargin,
    // q_salted_join: the replicated (key, salt) join must equal the plain join
    "q_salted_join" ->
      """SELECT o_orderpriority, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS revenue
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    // q_merge: anti-join-union upsert ≡ declarative "updates win, rest survive"
    "q_merge" ->
      """WITH updates AS (
        |  SELECT c_custkey, c_name, c_acctbal + 100.0 AS c_acctbal
        |  FROM customer WHERE c_custkey % 10 = 0
        |  UNION ALL
        |  SELECT c_custkey + 1000000 AS c_custkey,
        |    'new_' || CAST(c_custkey AS VARCHAR) AS c_name, 0.0 AS c_acctbal
        |  FROM customer WHERE c_custkey % 100 = 0
        |)
        |SELECT c_custkey, c_name, c_acctbal FROM (
        |  SELECT c.c_custkey, c.c_name, c.c_acctbal FROM customer c
        |  WHERE NOT EXISTS (SELECT 1 FROM updates u WHERE u.c_custkey = c.c_custkey)
        |  UNION ALL
        |  SELECT c_custkey, c_name, c_acctbal FROM updates
        |) ORDER BY c_custkey""".stripMargin,
    "q_bloom_join" ->
      // bloom false positives are cleared by the exact semi-join, so the
      // oracle is the PLAIN semi-join: the sketch changes the plan, never
      // the result
      """SELECT l_returnflag, count(*) AS n_items,
        |  CAST(round(sum(CAST(l_quantity AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_qty
        |FROM lineitem
        |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000.0)
        |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_join_bc" ->
      """SELECT p_brand,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem JOIN part ON l_partkey = p_partkey
        |GROUP BY p_brand ORDER BY p_brand""".stripMargin,
    "q_join_shuffle" ->
      """SELECT o_orderpriority,
        |  count(*) AS n_lines,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS sum_price
        |FROM orders JOIN lineitem ON o_orderkey = l_orderkey
        |WHERE o_orderdate >= TIMESTAMP '1997-01-01'
        |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin,
    "q_join_multi" ->
      """SELECT r_name, n_name,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue
        |FROM customer
        |JOIN orders ON c_custkey = o_custkey
        |JOIN lineitem ON o_orderkey = l_orderkey
        |JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |WHERE o_orderdate >= TIMESTAMP '1996-01-01'
        |  AND o_orderdate < TIMESTAMP '1999-01-01'
        |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin,
    "q_join_semi" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        |ORDER BY c_custkey""".stripMargin,
    "q_join_anti" ->
      """SELECT c_custkey, c_name FROM customer
        |WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
        |  AND o_orderdate >= TIMESTAMP '1997-01-01'
        |  AND o_orderdate < TIMESTAMP '1997-07-01')
        |ORDER BY c_custkey""".stripMargin,
    // q_quantiles: Spark `percentile` and DuckDB `quantile_cont` share the
    // exact linear-interpolation definition over integer inputs
    "q_quantiles" ->
      """SELECT source,
        |  round(quantile_cont(n_chars, 0.5), 4) AS p50,
        |  round(quantile_cont(n_chars, 0.9), 4) AS p90,
        |  round(quantile_cont(n_chars, 0.99), 4) AS p99,
        |  count(*) AS n_docs
        |FROM documents GROUP BY source ORDER BY source""".stripMargin,
    // q_stratified: md5 hex strings sort identically (lowercase hex, UTF8
    // byte order); the keep test 10·rn ≤ n+9 ⇔ rn ≤ ⌈n/10⌉ is pure integer
    "q_stratified" ->
      """WITH r AS (
        |  SELECT source, doc_id,
        |    row_number() OVER (PARTITION BY source
        |      ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
        |    count(*) OVER (PARTITION BY source) AS n_stratum
        |  FROM documents)
        |SELECT source, rn, doc_id, n_stratum
        |FROM r WHERE rn * 10 <= n_stratum + 9
        |ORDER BY source, rn""".stripMargin,
    // q_domain_cap: the aggregator's (−h desc, id asc) order ≡ this
    // window's (h asc, doc_id asc); the hash is the q_wsample integer
    // form, exact in BIGINT on both engines
    "q_domain_cap" ->
      """WITH h AS (
        |  SELECT source, doc_id, n_chars,
        |    ((((doc_id % 2147483647) + 2147483647) % 2147483647)
        |      * 2654435761) % 1000003 AS hkey
        |  FROM documents
        |), r AS (
        |  SELECT source, doc_id, n_chars, hkey,
        |    CAST(row_number() OVER (PARTITION BY source
        |      ORDER BY hkey, doc_id) AS BIGINT) AS rank
        |  FROM h)
        |SELECT source, rank, doc_id, hkey, n_chars
        |FROM r WHERE rank <= 10 ORDER BY source, rank""".stripMargin,
    // q_ks: the max runs over exact integer cross-products; the one double
    // division happens after the max on both engines
    "q_ks" ->
      """WITH f AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('click', 'view')
        |), pv AS (
        |  SELECT cents,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
        |  FROM f GROUP BY 1
        |), cum AS (
        |  SELECT cents,
        |    sum(c1) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum1,
        |    sum(c2) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum2
        |  FROM pv
        |), tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |                  CAST(sum(c2) AS BIGINT) AS n2 FROM pv)
        |SELECT n1, n2,
        |  CASE WHEN n1 = 0 OR n2 = 0 THEN 0.0
        |       ELSE round(CAST(max(abs(cum1 * n2 - cum2 * n1)) AS DOUBLE)
        |                  / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE), 6) END AS ks_stat
        |FROM cum CROSS JOIN tot GROUP BY n1, n2""".stripMargin,
    // q_cusum: dev = |n·cum_i − i·total| stays integer (DuckDB widens to
    // HUGEINT automatically where Spark casts to decimal(38,0))
    "q_cusum" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(floor(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2
        |), c AS (
        |  SELECT event_type, day,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS i,
        |    sum(v) OVER (PARTITION BY event_type ORDER BY day
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    count(*) OVER (PARTITION BY event_type) AS n,
        |    sum(v) OVER (PARTITION BY event_type) AS tot
        |  FROM daily
        |), d AS (
        |  SELECT event_type, day, n, abs(n * cum - i * tot) AS dev,
        |    row_number() OVER (PARTITION BY event_type
        |      ORDER BY abs(n * cum - i * tot) DESC, day) AS rn
        |  FROM c)
        |SELECT event_type, n AS n_days, strftime(day, '%Y-%m-%d') AS cp_day,
        |  round(CAST(dev AS DOUBLE) / CAST(n AS DOUBLE) / 100.0, 6) AS max_dev
        |FROM d WHERE rn = 1 ORDER BY event_type""".stripMargin,
    // q_mad: medians over exact cents / exact dyadic midpoints —
    // quantile_cont ≡ Spark percentile (q_quantiles precedent); the 2.5·MAD
    // threshold compare is exact-double on both engines
    "q_mad" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(floor(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2
        |), med AS (
        |  SELECT event_type, quantile_cont(v, 0.5) AS med FROM daily GROUP BY 1
        |), dev AS (
        |  SELECT d.event_type, d.day, d.v, m.med, abs(d.v - m.med) AS adev
        |  FROM daily d JOIN med m ON d.event_type = m.event_type
        |), mad AS (
        |  SELECT event_type, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1
        |)
        |SELECT dev.event_type, strftime(dev.day, '%Y-%m-%d') AS day,
        |  CAST(dev.v AS BIGINT) AS cents,
        |  round(0.6745 * (dev.v - dev.med) / mad.mad, 6) AS robust_z
        |FROM dev JOIN mad ON dev.event_type = mad.event_type
        |WHERE mad.mad > 0 AND dev.adev > 2.5 * mad.mad
        |ORDER BY dev.event_type, dev.day""".stripMargin,
    // q_winsorize: sketch-boundary reassembly — Σmid is an exact integer
    // sum; the two boundary products and the division are scalar doubles
    // evaluated in identical textual order on both engines
    "q_winsorize" ->
      """WITH e AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events
        |), cuts AS (
        |  SELECT event_type, quantile_cont(cents, 0.1) AS lo,
        |    quantile_cont(cents, 0.9) AS hi
        |  FROM e GROUP BY 1
        |)
        |SELECT e.event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS BIGINT) AS n_lo,
        |  CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS BIGINT) AS n_hi,
        |  round(lo / 100.0, 4) AS cut_lo,
        |  round(hi / 100.0, 4) AS cut_hi,
        |  round((CAST(sum(CASE WHEN cents >= lo AND cents <= hi
        |                       THEN cents ELSE 0 END) AS DOUBLE)
        |         + CAST(sum(CASE WHEN cents < lo THEN 1 ELSE 0 END) AS DOUBLE) * lo
        |         + CAST(sum(CASE WHEN cents > hi THEN 1 ELSE 0 END) AS DOUBLE) * hi)
        |        / CAST(count(*) AS DOUBLE) / 100.0, 6) AS wmean
        |FROM e JOIN cuts ON e.event_type = cuts.event_type
        |GROUP BY e.event_type, lo, hi
        |ORDER BY e.event_type""".stripMargin,
    // q_runs: a/b/R exact integers; E[R] and Var[R] evaluated as scalar
    // doubles in the same textual order as the Spark side
    "q_runs" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(floor(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2
        |), med AS (
        |  SELECT event_type, quantile_cont(v, 0.5) AS med FROM daily GROUP BY 1
        |), signed AS (
        |  SELECT d.event_type, d.day,
        |    CASE WHEN d.v > m.med THEN 1 ELSE 0 END AS s
        |  FROM daily d JOIN med m ON d.event_type = m.event_type
        |  WHERE d.v <> m.med
        |), runs AS (
        |  SELECT event_type, s,
        |    CASE WHEN lag(s) OVER (PARTITION BY event_type ORDER BY day)
        |           IS DISTINCT FROM s THEN 1 ELSE 0 END AS chg
        |  FROM signed
        |), agg AS (
        |  SELECT event_type, CAST(sum(s) AS BIGINT) AS n_above,
        |    CAST(sum(1 - s) AS BIGINT) AS n_below,
        |    CAST(sum(chg) AS BIGINT) AS runs
        |  FROM runs GROUP BY 1)
        |SELECT event_type, n_above, n_below, runs,
        |  CASE WHEN n_above = 0 OR n_below = 0 OR n_above + n_below <= 1
        |         OR 2 * n_above * n_below = n_above + n_below
        |       THEN 0.0
        |       ELSE round(
        |         (CAST(runs AS DOUBLE)
        |          - (CAST(2 * n_above * n_below AS DOUBLE)
        |             / CAST(n_above + n_below AS DOUBLE) + 1.0))
        |         / sqrt(CAST(2 * n_above * n_below AS DOUBLE)
        |             * (CAST(2 * n_above * n_below AS DOUBLE)
        |                - CAST(n_above + n_below AS DOUBLE))
        |             / (CAST(n_above + n_below AS DOUBLE)
        |                * CAST(n_above + n_below AS DOUBLE)
        |                * (CAST(n_above + n_below AS DOUBLE) - 1.0))), 6)
        |  END AS z
        |FROM agg ORDER BY event_type""".stripMargin,
    // q_kendall: S and the tie term exact integers over the bounded daily
    // pair join; z's continuity correction and variance mirror textually
    "q_kendall" ->
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    sum(CAST(floor(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2
        |), s AS (
        |  SELECT a.event_type,
        |    CAST(sum(CASE WHEN b.v > a.v THEN 1
        |             WHEN b.v < a.v THEN -1 ELSE 0 END) AS BIGINT) AS s_stat
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.day < b.day
        |  GROUP BY 1
        |), n AS (
        |  SELECT event_type, count(*) AS n_days FROM daily GROUP BY 1
        |), ties AS (
        |  SELECT event_type,
        |    sum(t * (t - 1) * (2 * t + 5)) AS tie_term
        |  FROM (SELECT event_type, v, count(*) AS t FROM daily GROUP BY 1, 2) g
        |  GROUP BY 1)
        |SELECT s.event_type, n.n_days, s.s_stat,
        |  CASE WHEN s.s_stat = 0 OR
        |            (CAST(n.n_days AS DOUBLE) * (CAST(n.n_days AS DOUBLE) - 1.0)
        |             * (2.0 * CAST(n.n_days AS DOUBLE) + 5.0)
        |             - CAST(ties.tie_term AS DOUBLE)) / 18.0 <= 0.0
        |       THEN 0.0
        |       ELSE round(
        |         (CAST(s.s_stat AS DOUBLE)
        |          - CASE WHEN s.s_stat > 0 THEN 1.0 ELSE -1.0 END)
        |         / sqrt((CAST(n.n_days AS DOUBLE)
        |                 * (CAST(n.n_days AS DOUBLE) - 1.0)
        |                 * (2.0 * CAST(n.n_days AS DOUBLE) + 5.0)
        |                 - CAST(ties.tie_term AS DOUBLE)) / 18.0), 6)
        |  END AS z
        |FROM s JOIN n ON s.event_type = n.event_type
        |JOIN ties ON s.event_type = ties.event_type
        |ORDER BY s.event_type""".stripMargin,
    // q_emd: every term |cum1*n2 - cum2*n1|*gap is an exact integer; one
    // division by n1*n2*100 at the end (DuckDB widens to HUGEINT)
    "q_emd" ->
      """WITH f AS (
        |  SELECT event_type, CAST(floor(value * 100) AS BIGINT) AS cents
        |  FROM events WHERE event_type IN ('click', 'view')
        |), pv AS (
        |  SELECT cents,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS c1,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS c2
        |  FROM f GROUP BY 1
        |), cum AS (
        |  SELECT cents,
        |    sum(c1) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum1,
        |    sum(c2) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING
        |      AND CURRENT ROW) AS cum2,
        |    lead(cents) OVER (ORDER BY cents) - cents AS gap
        |  FROM pv
        |), tot AS (SELECT CAST(sum(c1) AS BIGINT) AS n1,
        |                  CAST(sum(c2) AS BIGINT) AS n2 FROM pv)
        |SELECT n1, n2,
        |  CASE WHEN n1 = 0 OR n2 = 0 THEN 0.0
        |       ELSE round(CAST(sum(abs(cum1 * n2 - cum2 * n1) * gap) AS DOUBLE)
        |                  / CAST(CAST(n1 AS HUGEINT) * n2 AS DOUBLE) / 100.0, 6) END AS emd
        |FROM cum CROSS JOIN tot
        |WHERE gap IS NOT NULL GROUP BY n1, n2""".stripMargin,
    // q_spearman: Σd² is an exact integer (row_number ranks with day
    // tie-break are a total order on both engines); one division closes it
    "q_spearman" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END) AS nv,
        |    sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END) AS nc
        |  FROM events WHERE event_type IN ('click', 'view') GROUP BY 1
        |), ranked AS (
        |  SELECT row_number() OVER (ORDER BY nv, day) AS rv,
        |    row_number() OVER (ORDER BY nc, day) AS rc
        |  FROM daily)
        |SELECT count(*) AS n_days,
        |  CAST(sum((rv - rc) * (rv - rc)) AS BIGINT) AS sum_d2,
        |  CASE WHEN count(*) <= 1 THEN 0.0
        |       ELSE round(1.0 - 6.0 * CAST(sum((rv - rc) * (rv - rc)) AS DOUBLE)
        |         / (CAST(count(*) AS DOUBLE)
        |            * (CAST(count(*) AS DOUBLE) * CAST(count(*) AS DOUBLE) - 1.0)),
        |         6)
        |  END AS rho
        |FROM ranked""".stripMargin,
    // q_theilsen: every slope is ONE IEEE division of exact integers;
    // quantile_cont ≡ Spark percentile (same linear interpolation)
    "q_theilsen" ->
      """WITH daily AS (
        |  SELECT event_type,
        |    CAST(CAST(ts AS DATE) - DATE '1970-01-01' AS BIGINT) AS t,
        |    sum(CAST(floor(value * 100) AS BIGINT)) AS v
        |  FROM events GROUP BY 1, 2
        |), slopes AS (
        |  SELECT a.event_type,
        |    CAST(b.v - a.v AS DOUBLE) / CAST(b.t - a.t AS DOUBLE) AS slope
        |  FROM daily a JOIN daily b
        |    ON a.event_type = b.event_type AND a.t < b.t
        |), m AS (
        |  SELECT event_type, count(*) AS n_pairs,
        |    quantile_cont(slope, 0.5) AS slope_med
        |  FROM slopes GROUP BY 1)
        |SELECT d.event_type, m.n_pairs,
        |  round(m.slope_med, 4) AS sen_slope,
        |  round(quantile_cont(d.v - m.slope_med * d.t, 0.5), 2) AS sen_intercept
        |FROM daily d JOIN m ON d.event_type = m.event_type
        |GROUP BY d.event_type, m.n_pairs, m.slope_med
        |ORDER BY d.event_type""".stripMargin,
    // q_chunk_dedup: keep-first ≡ rk > 1 under the same (doc_id,
    // chunk_idx) total order; list slicing l[a:b] is 1-based inclusive,
    // matching Spark's slice(toks, a, 10)
    "q_chunk_dedup" ->
      """WITH docs AS (
        |  SELECT doc_id, string_split(text, ' ') AS l,
        |    CAST(len(string_split(text, ' ')) // 10 AS BIGINT) AS n_chunks
        |  FROM documents WHERE len(string_split(text, ' ')) >= 10
        |), flat AS (
        |  SELECT doc_id, n_chunks,
        |    unnest(list_transform(range(0, n_chunks),
        |      k -> struct_pack(ci := k,
        |        ch := array_to_string(l[k * 10 + 1 : k * 10 + 10], ' ')))) AS s
        |  FROM docs
        |), ranked AS (
        |  SELECT doc_id, n_chunks, s.ci AS chunk_idx, s.ch AS chunk,
        |    row_number() OVER (PARTITION BY s.ch ORDER BY doc_id, s.ci) AS rk
        |  FROM flat)
        |SELECT doc_id, n_chunks,
        |  CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
        |  CAST(10 * (n_chunks - sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END))
        |    AS BIGINT) AS n_tokens_kept,
        |  round(CAST(sum(CASE WHEN rk > 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / CAST(n_chunks AS DOUBLE), 4) AS drop_frac
        |FROM ranked GROUP BY doc_id, n_chunks ORDER BY doc_id""".stripMargin,
    // q_dsir: q_lm_score's fold discipline — token-sorted list, every ln
    // input an exact integer ratio, one division + round(4) at the end
    "q_dsir" ->
      """WITH occ AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, lang, tok, count(*) AS tf FROM occ GROUP BY 1, 2, 3
        |), corpus AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1
        |), target AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS ct FROM tf
        |  WHERE lang = 'en' GROUP BY 1
        |), vocab AS (
        |  SELECT corpus.tok, c, COALESCE(ct, 0) AS ct
        |  FROM corpus LEFT JOIN target ON corpus.tok = target.tok
        |), scalars AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(ct) AS BIGINT) AS nt,
        |    count(*) AS v
        |  FROM vocab
        |), per AS (
        |  SELECT doc_id, lang,
        |    list_sort(list(struct_pack(tok := tok, tf := tf, ct := ct, c := c)))
        |      AS l,
        |    CAST(sum(tf) AS BIGINT) AS n_tokens
        |  FROM tf JOIN vocab USING (tok) GROUP BY 1, 2)
        |SELECT doc_id, lang, n_tokens,
        |  round(list_sum(list_transform(l, s ->
        |    s.tf * (ln((s.ct + 1) / CAST(nt + v AS DOUBLE))
        |          - ln((s.c + 1) / CAST(n + v AS DOUBLE))))) / n_tokens, 4) + 0.0
        |    AS avg_llr
        |FROM per CROSS JOIN scalars ORDER BY doc_id""".stripMargin,
    // q_eval_metrics: F1 via the integer identity 2TP/(act+pred) — no
    // harmonic mean of double ratios; classes come from the labeled side
    "q_eval_metrics" ->
      """WITH pred AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN c_en >= greatest(c_de, c_es, c_fr, c_zh) THEN 'en'
        |         WHEN c_de >= greatest(c_es, c_fr, c_zh) THEN 'de'
        |         WHEN c_es >= greatest(c_fr, c_zh) THEN 'es'
        |         WHEN c_fr >= c_zh THEN 'fr'
        |         ELSE 'zh' END AS pred_lang
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of'))) AS c_en,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das'))) AS c_de,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'los'))) AS c_es,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('le', 'les', 'une'))) AS c_fr,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('shi', 'bu', 'wo'))) AS c_zh
        |    FROM documents) c
        |), conf AS (
        |  SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
        |), act AS (SELECT lang AS cls, CAST(sum(n) AS BIGINT) AS act_n
        |           FROM conf GROUP BY 1
        |), prd AS (SELECT pred_lang AS cls, CAST(sum(n) AS BIGINT) AS pred_n
        |           FROM conf GROUP BY 1
        |), tp AS (SELECT lang AS cls, CAST(n AS BIGINT) AS tp FROM conf
        |          WHERE lang = pred_lang)
        |SELECT act.cls, COALESCE(tp, 0) AS tp, act_n,
        |  COALESCE(pred_n, 0) AS pred_n,
        |  CASE WHEN COALESCE(pred_n, 0) = 0 THEN 0.0
        |       ELSE round(CAST(COALESCE(tp, 0) AS DOUBLE)
        |         / CAST(pred_n AS DOUBLE), 4) END AS precision,
        |  round(CAST(COALESCE(tp, 0) AS DOUBLE) / CAST(act_n AS DOUBLE), 4)
        |    AS recall,
        |  CASE WHEN act_n + COALESCE(pred_n, 0) = 0 THEN 0.0
        |       ELSE round(CAST(2 * COALESCE(tp, 0) AS DOUBLE)
        |         / CAST(act_n + COALESCE(pred_n, 0) AS DOUBLE), 4) END AS f1
        |FROM act
        |LEFT JOIN prd ON prd.cls = act.cls
        |LEFT JOIN tp ON tp.cls = act.cls
        |ORDER BY act.cls""".stripMargin,
    // q_kappa: po, pe exact integer ratios; kappa = (agree*N - chance)/
    // (N^2 - chance) in one closing division; N from the labeled side only
    "q_kappa" ->
      """WITH pred AS (
        |  SELECT doc_id, lang,
        |    CASE WHEN c_en >= greatest(c_de, c_es, c_fr, c_zh) THEN 'en'
        |         WHEN c_de >= greatest(c_es, c_fr, c_zh) THEN 'de'
        |         WHEN c_es >= greatest(c_fr, c_zh) THEN 'es'
        |         WHEN c_fr >= c_zh THEN 'fr'
        |         ELSE 'zh' END AS pred_lang
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of'))) AS c_en,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das'))) AS c_de,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'los'))) AS c_es,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('le', 'les', 'une'))) AS c_fr,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('shi', 'bu', 'wo'))) AS c_zh
        |    FROM documents) c
        |), conf AS (
        |  SELECT lang, pred_lang, count(*) AS n FROM pred GROUP BY 1, 2
        |), act AS (SELECT lang AS cls, CAST(sum(n) AS BIGINT) AS act_n
        |           FROM conf GROUP BY 1
        |), prd AS (SELECT pred_lang AS cls, CAST(sum(n) AS BIGINT) AS pred_n
        |           FROM conf GROUP BY 1
        |), agree AS (
        |  SELECT CAST(COALESCE(sum(n), 0) AS BIGINT) AS n_agree
        |  FROM conf WHERE lang = pred_lang
        |), totals AS (SELECT CAST(sum(act_n) AS BIGINT) AS n_total FROM act
        |), chance AS (
        |  SELECT COALESCE(sum(CAST(act_n AS HUGEINT) * pred_n), 0) AS chance_mass
        |  FROM act JOIN prd USING (cls))
        |SELECT n_total, n_agree,
        |  round(CAST(n_agree AS DOUBLE) / n_total, 4) AS po,
        |  round(CAST(chance_mass AS DOUBLE)
        |    / CAST(CAST(n_total AS HUGEINT) * n_total AS DOUBLE), 4) AS pe,
        |  round(CAST(CAST(n_agree AS HUGEINT) * n_total - chance_mass AS DOUBLE)
        |    / CAST(CAST(n_total AS HUGEINT) * n_total - chance_mass AS DOUBLE), 4) AS kappa
        |FROM agree CROSS JOIN chance CROSS JOIN totals""".stripMargin,
    // q_stl: trend window sums integer cents; detrended kept as the
    // scaled integer 7x - trend7 so the dow seasonal mean is an exact
    // integer sum with one division; interior days only (n_win = 7)
    "q_stl" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1
        |), tr AS (
        |  SELECT day, x,
        |    count(*) OVER w AS n_win,
        |    CAST(sum(x) OVER w AS BIGINT) AS trend7
        |  FROM daily
        |  WINDOW w AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)
        |), det AS (
        |  SELECT day, x, trend7, 7 * x - trend7 AS det7,
        |    CAST(dayofweek(day) AS BIGINT) AS dow
        |  FROM tr WHERE n_win = 7
        |), seas AS (
        |  SELECT dow, CAST(sum(det7) AS DOUBLE) / (7.0 * count(*))
        |    AS seasonal_raw
        |  FROM det GROUP BY 1)
        |SELECT day, x AS cents,
        |  round(trend7 / 7.0, 4) AS trend,
        |  round(seasonal_raw, 4) AS seasonal,
        |  round(det7 / 7.0 - seasonal_raw, 4) AS remainder
        |FROM det JOIN seas USING (dow) ORDER BY day""".stripMargin,
    // q_ess: Kish effective sample size; sums kept in HUGEINT end to end
    // (sum(w) is HUGEINT natively; the square is widened BEFORE the
    // product) so sw·sw and Σw² stay exact at any scale factor, matching
    // the Spark side's decimal(38,0) widening
    "q_ess" ->
      """WITH base AS (
        |  SELECT source, CAST(len(string_split(text, ' ')) AS BIGINT) AS w
        |  FROM documents
        |), per AS (
        |  SELECT source, count(*) AS n_docs, sum(w) AS sw,
        |    sum(CAST(w AS HUGEINT) * w) AS sw2
        |  FROM base GROUP BY 1
        |  UNION ALL
        |  SELECT 'ALL', count(*), sum(w), sum(CAST(w AS HUGEINT) * w)
        |  FROM base)
        |SELECT source, n_docs,
        |  round(CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE), 4) AS ess,
        |  round(CAST(sw * sw AS DOUBLE) / CAST(sw2 AS DOUBLE) / n_docs, 4)
        |    AS ess_ratio
        |FROM per ORDER BY source""".stripMargin,
    // q_dpnoise: inverse-CDF Laplace draw on a hash-uniform; the ln input
    // is the exact integer ratio (P - |2k+1-P|)/P
    "q_dpnoise" ->
      """WITH counts AS (
        |  SELECT event_type, count(*) AS n_true FROM events GROUP BY 1
        |), coded AS (
        |  SELECT event_type, n_true,
        |    coalesce(list_sum(list_transform(range(1, length(event_type) + 1),
        |      j -> ascii(substr(event_type, j, 1)) * j)), 0) AS code
        |  FROM counts
        |), drawn AS (
        |  SELECT event_type, n_true, ((code % 999983) * 2654435761) % 999983 AS k
        |  FROM coded)
        |SELECT event_type, CAST(n_true AS BIGINT) AS n_true,
        |  round((CASE WHEN 2 * k + 1 < 999983 THEN -1.0 ELSE 1.0 END)
        |    * -ln((999983 - abs(2 * k + 1 - 999983)) / 999983.0), 4) AS noise,
        |  round(n_true + (CASE WHEN 2 * k + 1 < 999983 THEN -1.0 ELSE 1.0 END)
        |    * -ln((999983 - abs(2 * k + 1 - 999983)) / 999983.0), 4)
        |    AS n_released
        |FROM drawn ORDER BY event_type""".stripMargin,
    // q_auc: tie-corrected rank-sum over the VALUE-GROUPED score frame;
    // every sum exact integer, one division closes it
    "q_auc" ->
      """WITH occ AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, lang, tok, count(*) AS tf FROM occ GROUP BY 1, 2, 3
        |), corpus AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1
        |), target AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS ct FROM tf
        |  WHERE lang = 'en' GROUP BY 1
        |), vocab AS (
        |  SELECT corpus.tok, c, COALESCE(ct, 0) AS ct
        |  FROM corpus LEFT JOIN target ON corpus.tok = target.tok
        |), scalars AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n, CAST(sum(ct) AS BIGINT) AS nt,
        |    count(*) AS v
        |  FROM vocab
        |), per AS (
        |  SELECT doc_id, lang,
        |    list_sort(list(struct_pack(tok := tok, tf := tf, ct := ct, c := c)))
        |      AS l,
        |    CAST(sum(tf) AS BIGINT) AS n_tokens
        |  FROM tf JOIN vocab USING (tok) GROUP BY 1, 2
        |), scored AS (
        |  SELECT doc_id, lang,
        |    round(list_sum(list_transform(l, s ->
        |      s.tf * (ln((s.ct + 1) / CAST(nt + v AS DOUBLE))
        |            - ln((s.c + 1) / CAST(n + v AS DOUBLE))))) / n_tokens, 4)
        |      AS s
        |  FROM per CROSS JOIN scalars
        |), pv AS (
        |  SELECT s, sum(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS p,
        |    sum(CASE WHEN lang = 'en' THEN 0 ELSE 1 END) AS ng
        |  FROM scored GROUP BY 1
        |), cum AS (
        |  SELECT s, p, ng, COALESCE(sum(ng) OVER
        |    (ORDER BY s ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |    AS nb
        |  FROM pv
        |), tot AS (
        |  SELECT CAST(sum(p) AS BIGINT) AS np, CAST(sum(ng) AS BIGINT) AS nn
        |  FROM pv)
        |SELECT np AS n_pos, nn AS n_neg,
        |  CASE WHEN np = 0 OR nn = 0 THEN 0.0
        |       ELSE round(CAST(sum(2 * nb * p + p * ng) AS DOUBLE)
        |         / (2.0 * np * nn), 6) END AS auc
        |FROM cum CROSS JOIN tot GROUP BY np, nn""".stripMargin,
    // q_bootstrap: the resampler is exact integer arithmetic (Knuth
    // multiplicative hash over (b, i)); no double is ever summed — each
    // resample mean is an exact cents sum divided once
    "q_bootstrap" ->
      """WITH daily AS (
        |  SELECT CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS x
        |  FROM events GROUP BY 1
        |), idx AS (
        |  SELECT row_number() OVER (ORDER BY day) - 1 AS i, x FROM daily
        |), tot AS (SELECT count(*) AS n_days FROM idx
        |), is_ AS (SELECT n_days, unnest(range(0, n_days)) AS i FROM tot
        |), draws AS (
        |  SELECT n_days, b,
        |    (((b * 1000003 + i) * 2654435761) % 999983) % n_days AS idx
        |  FROM (SELECT n_days, i, unnest(range(0, 200)) AS b FROM is_) g
        |), res AS (
        |  SELECT b, max(d.n_days) AS n_days, CAST(sum(x) AS BIGINT) AS sum_x
        |  FROM draws d JOIN idx ON d.idx = idx.i GROUP BY b
        |), rs AS (
        |  SELECT b, n_days, sum_x, CAST(sum_x AS DOUBLE) / n_days AS mean_b
        |  FROM res)
        |SELECT max(n_days) AS n_days, count(*) AS n_boot,
        |  round(CAST(sum(sum_x) AS DOUBLE) / CAST(count(*) * max(n_days) AS DOUBLE),
        |    4) AS boot_mean_cents,
        |  round(quantile_cont(mean_b, 0.025), 4) AS ci_lo_cents,
        |  round(quantile_cont(mean_b, 0.975), 4) AS ci_hi_cents
        |FROM rs""".stripMargin,
    // q_km: every ln input is the exact integer ratio (n_risk−d)/n_risk;
    // the cumulative sum runs in ORDER BY t frame order on both engines
    // (the d=0 rows are filtered by WHERE before the window on both sides)
    "q_km" ->
      """WITH pu AS (
        |  SELECT user_id, min(CAST(ts AS DATE)) AS t0,
        |    min(CASE WHEN event_type = 'purchase' THEN CAST(ts AS DATE) END)
        |      AS tp
        |  FROM events GROUP BY 1
        |), mx AS (SELECT max(CAST(ts AS DATE)) AS mxd FROM events
        |), dur AS (
        |  SELECT CASE WHEN tp IS NOT NULL THEN CAST(tp - t0 AS BIGINT)
        |              ELSE CAST(mxd - t0 AS BIGINT) END AS t,
        |         CASE WHEN tp IS NOT NULL THEN 1 ELSE 0 END AS observed
        |  FROM pu CROSS JOIN mx
        |), pert AS (
        |  SELECT t, CAST(sum(observed) AS BIGINT) AS d, count(*) AS leaving
        |  FROM dur GROUP BY 1
        |), tot AS (SELECT count(*) AS n_users FROM dur
        |), risk AS (
        |  SELECT t, d,
        |    CAST(n_users - COALESCE(sum(leaving) OVER
        |      (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
        |      AS BIGINT) AS n_risk
        |  FROM pert CROSS JOIN tot)
        |SELECT t AS t_days, n_risk, d AS d_events,
        |  CASE WHEN max(CASE WHEN d = n_risk THEN 1 ELSE 0 END) OVER
        |         (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
        |         = 1 THEN 0.0
        |  ELSE round(exp(sum(CASE WHEN d < n_risk THEN
        |      ln((n_risk - d) / CAST(n_risk AS DOUBLE)) END) OVER
        |    (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)), 6)
        |  END AS survival
        |FROM risk WHERE d > 0 ORDER BY t_days""".stripMargin,
    // q_holt: q_ema's recursive CTE with the trend state; constants cast
    // ::DOUBLE and the l_t expression repeated textually inside b_t so
    // both engines run the SAME float ops in the same order
    "q_holt" ->
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2
        |), idx AS (
        |  SELECT event_type, day, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily
        |), h(event_type, day, rn, l, b) AS (
        |  SELECT event_type, day, rn, CAST(cents AS DOUBLE), 0.0::DOUBLE
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT d.event_type, d.day, d.rn,
        |    0.3::DOUBLE * d.cents + 0.7::DOUBLE * (h.l + h.b),
        |    0.1::DOUBLE * ((0.3::DOUBLE * d.cents + 0.7::DOUBLE * (h.l + h.b))
        |      - h.l) + 0.9::DOUBLE * h.b
        |  FROM idx d JOIN h ON d.event_type = h.event_type AND d.rn = h.rn + 1)
        |SELECT event_type, day, round(l, 6) AS holt_level,
        |  round(b, 6) AS holt_trend, round(l + b, 6) AS forecast_next
        |FROM h ORDER BY event_type, day""".stripMargin,
    // q_series_match: nearest z-normalized 7-day subsequence per purchase
    // window — the match score is q_xcorr's Pearson r under its exact
    // integer-sums discipline (one double expression at the end); the
    // argmax ranks on round(r, 8) with (type, day) tie-break, the
    // weightedSample grid argument; zero-variance windows filtered BOTH
    // sides (r undefined); HUGEINT ≡ Spark decimal(38,0) throughout
    "q_series_match" ->
      """WITH daily AS (
        |  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2
        |), wins AS (
        |  SELECT event_type, day,
        |    list(cents) OVER w AS arr,
        |    CAST(sum(cents) OVER w AS HUGEINT) AS s,
        |    sum(CAST(cents AS HUGEINT) * cents) OVER w AS ss
        |  FROM daily
        |  WINDOW w AS (PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN CURRENT ROW AND 6 FOLLOWING)
        |), ok AS (
        |  SELECT event_type, day, arr, s, 7 * ss - s * s AS v
        |  FROM wins WHERE len(arr) = 7 AND 7 * ss - s * s > 0
        |), pair AS (
        |  SELECT q.day AS q_day, c.event_type AS m_type, c.day AS m_day,
        |    CAST(7 * list_sum(list_transform(range(1, 8),
        |        i -> CAST(q.arr[i] AS HUGEINT) * c.arr[i])) - q.s * c.s
        |      AS DOUBLE)
        |      / (sqrt(CAST(q.v AS DOUBLE)) * sqrt(CAST(c.v AS DOUBLE))) AS r
        |  FROM ok q JOIN ok c
        |    ON q.event_type = 'purchase' AND c.event_type <> 'purchase'
        |), ranked AS (
        |  SELECT q_day, m_type, m_day, r,
        |    row_number() OVER (PARTITION BY q_day
        |      ORDER BY round(r, 8) DESC, m_type, m_day) AS rk
        |  FROM pair)
        |SELECT q_day, m_type, m_day, round(r, 6) AS best_r
        |FROM ranked WHERE rk = 1 ORDER BY q_day""".stripMargin,
    // q_impute: per-group median fill — quantile_cont ≡ Spark percentile on
    // integer inputs; was_missing cast to BIGINT (scalar-only outputs)
    "q_impute" ->
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CASE WHEN n_chars % 7 = 0 THEN NULL ELSE n_chars END AS nc
        |  FROM documents
        |), m AS (
        |  SELECT source, quantile_cont(nc, 0.5) AS grp_med FROM d GROUP BY source
        |)
        |SELECT doc_id, d.source, round(coalesce(CAST(nc AS DOUBLE), grp_med), 4) AS nc_imputed,
        |  CAST(nc IS NULL AS BIGINT) AS was_missing
        |FROM d JOIN m ON d.source = m.source
        |ORDER BY doc_id""".stripMargin,
    "q_win_analytic" ->
      """SELECT o_custkey, o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(epoch(date_trunc('month', o_orderdate)) AS BIGINT) AS order_month,
        |  rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS rnk,
        |  dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderpriority) AS drnk,
        |  coalesce(lead(o_totalprice) OVER (
        |    PARTITION BY o_custkey ORDER BY o_orderpriority, o_orderkey), -1.0) AS next_price
        |FROM orders WHERE o_custkey < 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    // q_win_dist: percent_rank/cume_dist are rank-based (tie-safe) so they
    // run over the tied priority ordering; ntile and first_value are
    // position-based so they get the tie-broken unique ordering — identical
    // semantics in DuckDB
    "q_win_dist" ->
      """SELECT o_custkey, o_orderkey, o_orderpriority, o_totalprice,
        |  CAST(ntile(4) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderpriority, o_orderkey) AS BIGINT) AS quartile,
        |  round(percent_rank() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderpriority), 6) AS pct_rank,
        |  round(cume_dist() OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderpriority), 6) AS cume,
        |  first_value(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderpriority, o_orderkey) AS top_price,
        |  coalesce(nth_value(o_totalprice, 2) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderpriority, o_orderkey), -1.0) AS second_price
        |FROM orders WHERE o_custkey < 200
        |ORDER BY o_custkey, o_orderkey""".stripMargin,
    "q_unpivot" ->
      // portable melt: one UNION ALL branch per measure
      """SELECT * FROM (
        |  SELECT l_orderkey, l_linenumber, 'l_quantity' AS measure, l_quantity AS value FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_extendedprice', l_extendedprice FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_discount', l_discount FROM lineitem
        |  UNION ALL
        |  SELECT l_orderkey, l_linenumber, 'l_tax', l_tax FROM lineitem)
        |ORDER BY l_orderkey, l_linenumber, measure, value""".stripMargin,
    "q_histogram" ->
      """SELECT CAST(floor(o_totalprice / 50000) * 50000 AS BIGINT) AS bucket_lo,
        |  count(*) AS n
        |FROM orders GROUP BY 1 ORDER BY 1""".stripMargin,
    // q_histogram_eq: floor-scaled integer cents so quantile_cont ≡
    // percentile over exact dyadic rationals (q_outliers discipline)
    "q_histogram_eq" ->
      """WITH o AS (
        |  SELECT CAST(floor(o_totalprice * 100) AS BIGINT) AS v FROM orders
        |), qs AS (
        |  SELECT quantile_cont(v, 0.25) AS q1, quantile_cont(v, 0.50) AS q2,
        |    quantile_cont(v, 0.75) AS q3
        |  FROM o
        |)
        |SELECT CAST(CASE WHEN v < q1 THEN 1 WHEN v < q2 THEN 2
        |            WHEN v < q3 THEN 3 ELSE 4 END AS BIGINT) AS bucket,
        |  count(*) AS n
        |FROM o CROSS JOIN qs GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_pivot" ->
      // portable pivot: conditional aggregation (CASE) instead of engine
      // PIVOT syntax; zero-count cells coalesce to 0 on both sides
      """SELECT l_returnflag,
        |  count(CASE WHEN l_linestatus = 'F' THEN 1 END) AS f_n,
        |  coalesce(CAST(round(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 2) AS DOUBLE), 0.0) AS f_qty,
        |  count(CASE WHEN l_linestatus = 'O' THEN 1 END) AS o_n,
        |  coalesce(CAST(round(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 2) AS DOUBLE), 0.0) AS o_qty
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    // q_group_stats: exact DECIMAL(38,0) moment sums over centi-units,
    // doubles from one fixed expression tree (the q_xcorr discipline) —
    // built-in avg/stddev/corr would sum doubles in engine-specific order
    "q_group_stats" ->
      """WITH pts AS (
        |  SELECT event_type, value,
        |    CAST(floor(value * 100) AS BIGINT) AS x, user_id AS y
        |  FROM events
        |), s AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(x AS DECIMAL(38,0))) AS s1,
        |    sum(CAST(x AS DECIMAL(38,0)) * x) AS s2,
        |    sum(CAST(x AS DECIMAL(38,0)) * y) AS sxy,
        |    sum(CAST(y AS DECIMAL(38,0))) AS sy,
        |    sum(CAST(y AS DECIMAL(38,0)) * y) AS syy,
        |    round(min(value), 4) AS min_value,
        |    round(max(value), 4) AS max_value
        |  FROM pts GROUP BY event_type)
        |SELECT event_type, n,
        |  round(CAST(s1 AS DOUBLE) / 100 / CAST(n AS DOUBLE), 4) AS mean_value,
        |  CASE WHEN n < 2 THEN NULL ELSE
        |    round(sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE)
        |      / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) - 1))) / 100, 4)
        |  END AS sd_value,
        |  min_value, max_value,
        |  CASE WHEN n < 2 OR CAST(n * s2 - s1 * s1 AS DOUBLE) = 0
        |        OR CAST(n * syy - sy * sy AS DOUBLE) = 0 THEN NULL ELSE
        |    round(CAST(n * sxy - s1 * sy AS DOUBLE)
        |      / (sqrt(CAST(n * s2 - s1 * s1 AS DOUBLE))
        |        * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 4)
        |  END AS corr_value_user
        |FROM s ORDER BY event_type""".stripMargin,
    // q_range_join: the oracle states the range predicate directly; the
    // engine's bucketed equi-join + exact filter must produce identical
    // pairs (each true pair meets exactly once)
    "q_range_join" ->
      """SELECT p.user_id, p.event_id AS purchase_id, count(*) AS n_clicks
        |FROM events p JOIN events c
        |  ON c.user_id = p.user_id
        | AND p.event_type = 'purchase' AND c.event_type = 'click'
        | AND c.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
        |GROUP BY 1, 2 ORDER BY p.user_id, purchase_id""".stripMargin,
    // q_asof_join: the oracle replicates the engine's union-window as-of
    // form (ROWS-framed last_value IGNORE NULLS); side 0 sorts right rows
    // first at equal ts so the ≤ contract includes same-instant clicks
    "q_asof_join" ->
      """WITH u AS (
        |  SELECT user_id, ts, event_id AS purchase_id,
        |    CAST(NULL AS BIGINT) AS rv, CAST(NULL AS BIGINT) AS rtb, 1 AS side
        |  FROM events WHERE event_type = 'purchase'
        |  UNION ALL
        |  SELECT user_id, ts, CAST(NULL AS BIGINT), event_id, event_id, 0
        |  FROM events WHERE event_type = 'click'
        |), m AS (
        |  SELECT user_id, purchase_id, side,
        |    last_value(rv IGNORE NULLS) OVER (PARTITION BY user_id
        |      ORDER BY ts, side, rtb ROWS UNBOUNDED PRECEDING) AS click_id
        |  FROM u)
        |SELECT user_id, purchase_id, coalesce(click_id, -1) AS click_id
        |FROM m WHERE side = 1
        |ORDER BY user_id, purchase_id""".stripMargin,
    "q_rollup" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY ROLLUP(r_name, n_name)
        |ORDER BY region, nation""".stripMargin,
    "q_grouping_sets" ->
      """SELECT coalesce(r_name, 'ALL') AS region, coalesce(n_name, 'ALL') AS nation,
        |  CAST(GROUPING(r_name) * 2 + GROUPING(n_name) AS BIGINT) AS gid,
        |  CAST(round(sum(CAST(l_extendedprice AS DECIMAL(18,2)) * (1 - CAST(l_discount AS DECIMAL(18,2)))), 2) AS DOUBLE) AS revenue,
        |  count(*) AS n_items
        |FROM lineitem
        |JOIN supplier ON l_suppkey = s_suppkey
        |JOIN nation ON s_nationkey = n_nationkey
        |JOIN region ON n_regionkey = r_regionkey
        |GROUP BY GROUPING SETS ((r_name, n_name), (n_name), ())
        |ORDER BY region, nation""".stripMargin,
    "q_cube" ->
      """SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
        |  coalesce(l_linestatus, 'ALL') AS linestatus,
        |  count(*) AS n, round(sum(l_quantity), 2) AS sum_qty
        |FROM lineitem
        |GROUP BY CUBE(l_returnflag, l_linestatus)
        |ORDER BY returnflag, linestatus""".stripMargin,
    "q_win_topk" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    // q_topk_agg: identical semantics/oracle as q_win_topk, via the typed
    // TopKAggregator instead of a window (E-UDAF path)
    "q_topk_agg" ->
      """SELECT o_custkey, rn, o_orderkey, o_totalprice FROM (
        |  SELECT o_custkey, o_orderkey, o_totalprice,
        |    CAST(row_number() OVER (PARTITION BY o_custkey
        |      ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        |  FROM orders) t
        |WHERE rn <= 3 ORDER BY o_custkey, rn""".stripMargin,
    "q_win_edge" ->
      """SELECT user_id, event_id FROM (
        |  SELECT user_id, event_id, value > 150 AS fire,
        |    lag(value > 150) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS prev
        |  FROM events) t
        |WHERE fire AND NOT coalesce(prev, FALSE)
        |ORDER BY user_id, event_id""".stripMargin,
    "q_win_frames" ->
      """SELECT o_custkey, o_orderkey,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey ROWS UNBOUNDED PRECEDING), 2) AS DOUBLE) AS running_total,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey ROWS BETWEEN 2 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS moving_sum3,
        |  CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))) OVER (PARTITION BY o_custkey
        |    ORDER BY epoch(o_orderdate) RANGE BETWEEN 2592000 PRECEDING AND CURRENT ROW), 2) AS DOUBLE) AS trailing_30d
        |FROM orders ORDER BY o_custkey, o_orderkey, running_total""".stripMargin,
    "q_topk_global" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |ORDER BY o_totalprice DESC, o_orderkey LIMIT 10""".stripMargin,
    "q_sort" ->
      // high_val nulls: placement spelled explicitly (Spark desc default
      // is nulls-last; DuckDB's default null order is configurable)
      """SELECT event_type, user_id, value, event_id,
        |  CASE WHEN value > 90 THEN value END AS high_val
        |FROM events
        |ORDER BY event_type ASC, high_val DESC NULLS LAST, value DESC, event_id ASC""".stripMargin,
    "q_set_ops" ->
      """WITH clicks AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |     purchases AS (SELECT user_id FROM events WHERE event_type = 'purchase')
        |SELECT 'both' AS tag, user_id FROM (SELECT user_id FROM clicks INTERSECT SELECT user_id FROM purchases) a
        |UNION ALL
        |SELECT 'click_only' AS tag, user_id FROM (SELECT user_id FROM clicks EXCEPT SELECT user_id FROM purchases) b
        |UNION ALL
        |SELECT 'purchase_only' AS tag, user_id FROM (SELECT user_id FROM purchases EXCEPT SELECT user_id FROM clicks) c
        |ORDER BY tag, user_id""".stripMargin,
    "q_date" ->
      """SELECT CAST(year(o_orderdate) AS BIGINT) AS yr,
        |  CAST(month(o_orderdate) AS BIGINT) AS mo,
        |  count(*) AS n_orders, CAST(round(sum(CAST(o_totalprice AS DECIMAL(18,2))), 2) AS DOUBLE) AS total
        |FROM orders
        |WHERE o_orderdate >= TIMESTAMP '1995-01-01' + INTERVAL 90 DAY
        |GROUP BY 1, 2 ORDER BY yr, mo""".stripMargin,
    "q_date_parts" ->
      """SELECT dayofweek(ts) + 1 AS dow, hour(ts) AS hr,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |FROM events GROUP BY 1, 2 ORDER BY dow, hr""".stripMargin,
    // q_date_pruned: engine reads the date-PARTITIONED events twin with a
    // partition-pruned scan; the oracle applies the identical date window
    // to the raw single-file table — results must match exactly
    "q_date_pruned" ->
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |  count(*) AS n,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |FROM events
        |WHERE CAST(ts AS DATE) BETWEEN DATE '2024-01-08' AND DATE '2024-01-14'
        |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin,
    // q_map_funcs: the fixture's props format is fixed (`{"k": N}`), so the
    // MAP<STRING,INT> parse has an extension-free oracle. Scalar columns
    // only — the driver's pandas comparator cannot sort ARRAY cells.
    "q_map_funcs" ->
      """SELECT event_id, 'k' AS keys_csv,
        |  CAST(CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS INT) AS VARCHAR) AS vals_csv,
        |  CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k_val,
        |  CAST(2 AS BIGINT) AS n_concat
        |FROM events ORDER BY event_id""".stripMargin,
    "q_math" ->
      """SELECT l_orderkey, l_linenumber,
        |  round(sqrt(l_extendedprice), 4) AS sqrt_price,
        |  round(exp(l_discount), 4) AS exp_disc,
        |  round(ln(l_extendedprice), 4) AS ln_price,
        |  round(pow(l_quantity, 2), 2) AS qty_sq,
        |  abs(round(l_tax - l_discount, 4)) AS abs_diff
        |FROM lineitem ORDER BY l_orderkey, l_linenumber, sqrt_price, exp_disc, ln_price, qty_sq, abs_diff""".stripMargin,
    "q_json" ->
      // k via regexp, k2 via JSONPath (json_extract_string) — the engine's
      // from_json/get_json_object pair must agree, so n_mismatch is 0
      """SELECT k % 10 AS k_bucket, count(*) AS n, CAST(sum(k) AS BIGINT) AS sum_k,
        |  CAST(sum(CASE WHEN k2 = k THEN 0 ELSE 1 END) AS BIGINT) AS n_mismatch
        |FROM (SELECT CAST(regexp_extract(props, '"k": ([0-9]+)', 1) AS BIGINT) AS k,
        |             CAST(json_extract_string(props, '$.k') AS BIGINT) AS k2
        |      FROM events) t
        |WHERE k IS NOT NULL
        |GROUP BY 1 ORDER BY k_bucket""".stripMargin,
    "q_crowd_alert" ->
      """SELECT CAST(floor(epoch(ts) / 86400) * 86400 AS BIGINT) AS win_start,
        |  user_id, count(*) AS n_events
        |FROM events WHERE event_type <> 'error'
        |GROUP BY 1, 2 HAVING count(*) > 3
        |ORDER BY win_start, user_id""".stripMargin,
    "q_session" ->
      // the sid running sum orders by (ts, event_id) like the is_new
      // window — a ts-only ROWS frame would let a same-timestamp tie
      // order AHEAD of its session opener's +1 and split/merge sessions
      // nondeterministically between runs (r11 review)
      """WITH s AS (
        |  SELECT user_id, event_id, ts, value,
        |    CASE WHEN lag(ts) OVER w IS NULL
        |           OR ts - lag(ts) OVER w >= INTERVAL 30 MINUTE
        |         THEN 1 ELSE 0 END AS is_new
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        |), g AS (
        |  SELECT user_id, ts, value,
        |    sum(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
        |      ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM s
        |)
        |SELECT user_id, CAST(floor(epoch(min(ts))) AS BIGINT) AS sess_start,
        |  count(*) AS n_events, CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS session_value
        |FROM g GROUP BY user_id, sid ORDER BY user_id, sess_start""".stripMargin,
    // q_watermark: streaming late-drop rule under deterministic replay —
    // arrival = event time + bounded hash jitter; watermark = running
    // max(event time) − 10 min over arrival order; an event is dropped
    // iff its 10-min window end ≤ the watermark at its arrival
    "q_watermark" ->
      """WITH e AS (
        |  SELECT event_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      + ((((event_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 3600 - 1800 AS arr
        |  FROM events
        |), w AS (
        |  SELECT event_type, sec, (sec // 600) * 600 AS w_start,
        |    max(sec) OVER (ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS mx
        |  FROM e
        |)
        |SELECT event_type, w_start, count(*) AS n_kept
        |FROM w
        |WHERE mx IS NULL OR w_start + 600 > mx - 600
        |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,
    // q_latch_replay: the alarm latch replayed in the q_watermark arrival
    // permutation — F→T edges per user in ARRIVAL order (the latch keys
    // no watermark, so arrival order is all that matters)
    "q_latch_replay" ->
      """WITH sig AS (
        |  SELECT event_id, user_id, value > 150 AS fire,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      + ((((event_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 3600 - 1800 AS arr
        |  FROM events
        |), l AS (
        |  SELECT user_id, event_id, arr, fire,
        |    lag(fire) OVER (PARTITION BY user_id ORDER BY arr, event_id)
        |      AS prev
        |  FROM sig)
        |SELECT user_id, event_id, arr FROM l
        |WHERE fire AND NOT COALESCE(prev, false)
        |ORDER BY user_id, event_id""".stripMargin,
    // q_session_replay: sessionFinalize's idle-timeout eviction under the
    // same replay — late rows (sec < watermark at arrival) dropped, a
    // session closes when the watermark strictly passes end + gap (the
    // user's kept running max ≡ the session end, see Relational
    // .sessionReplayOn), open sessions withheld at end of stream
    "q_session_replay" ->
      """WITH e AS (
        |  SELECT event_id, user_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      + ((((event_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 3600 - 1800 AS arr
        |  FROM events
        |), w AS (
        |  SELECT *, max(sec) OVER (ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - 600 AS wm
        |  FROM e
        |), kept AS (
        |  SELECT * FROM w WHERE wm IS NULL OR sec > wm
        |), m AS (
        |  SELECT *, max(sec) OVER (PARTITION BY user_id ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS m_prev
        |  FROM kept
        |), s AS (
        |  SELECT *, CASE WHEN m_prev IS NULL OR m_prev + 1800 < wm
        |    THEN 1 ELSE 0 END AS new_sess
        |  FROM m
        |), sid AS (
        |  SELECT *, sum(new_sess) OVER (PARTITION BY user_id
        |      ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
        |  FROM s
        |), fw AS (SELECT max(sec) - 600 AS fwm FROM e)
        |SELECT user_id, min(sec) AS session_start_sec,
        |  max(sec) AS session_end_sec, count(*) AS n_events
        |FROM sid CROSS JOIN fw
        |GROUP BY user_id, sess_id, fwm
        |HAVING max(sec) + 1800 < fwm
        |ORDER BY user_id, session_start_sec""".stripMargin,
    // q_attr_replay: AttributionV2's TTL-expiring last-touch attribution
    // under the same replay — the state TTL refreshes on EVERY arrival of
    // a user (the processor updates unconditionally), so expiry is an
    // arrival-gap split (islands on the arrival axis); within a segment
    // the state is the max-(sec, id) click over strictly earlier
    // arrivals, packed into one BIGINT (sec·10⁷ + id) for a primitive
    // running max on both engines
    "q_attr_replay" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      + ((((event_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 3600 - 1800 AS arr
        |  FROM events
        |), g AS (
        |  SELECT *, CASE WHEN lag(arr) OVER
        |      (PARTITION BY user_id ORDER BY arr, event_id) IS NULL
        |    OR arr - lag(arr) OVER
        |      (PARTITION BY user_id ORDER BY arr, event_id) > 28800
        |    THEN 1 ELSE 0 END AS new_seg
        |  FROM e
        |), s AS (
        |  SELECT *, sum(new_seg) OVER (PARTITION BY user_id
        |      ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS seg
        |  FROM g
        |), b AS (
        |  SELECT *, max(CASE WHEN event_type = 'click'
        |      THEN sec * 10000000 + event_id END)
        |    OVER (PARTITION BY user_id, seg ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS best
        |  FROM s
        |)
        |SELECT user_id, event_id AS purchase_id,
        |  best % 10000000 AS click_id,
        |  sec - best // 10000000 AS latency_s
        |FROM b
        |WHERE event_type = 'purchase' AND best IS NOT NULL
        |  AND best < sec * 10000000 + event_id
        |ORDER BY purchase_id""".stripMargin,
    // q_funnel_replay: the funnelStages ordered-sequence matcher under
    // the same replay — state timestamps only move earlier, so the fold
    // linearizes: view state = running min of views over strictly
    // earlier arrivals; a click is accepted iff strictly after that
    // state AT ITS ARRIVAL (never revisited); purchases likewise against
    // the accepted-click running min. Final per-user stage + state.
    "q_funnel_replay" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      + ((((event_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 3600 - 1800 AS arr
        |  FROM events
        |), v AS (
        |  SELECT *, min(CASE WHEN event_type = 'view' THEN sec END)
        |    OVER (PARTITION BY user_id ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS view_before
        |  FROM e
        |), c AS (
        |  SELECT *, (event_type = 'click' AND sec > view_before)
        |    AS click_ok
        |  FROM v
        |), cb AS (
        |  SELECT *, min(CASE WHEN click_ok THEN sec END)
        |    OVER (PARTITION BY user_id ORDER BY arr, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
        |    AS click_before
        |  FROM c
        |)
        |SELECT user_id,
        |  CAST(CASE
        |    WHEN min(CASE WHEN event_type = 'purchase'
        |        AND sec > click_before THEN sec END) IS NOT NULL THEN 3
        |    WHEN min(CASE WHEN click_ok THEN sec END) IS NOT NULL THEN 2
        |    WHEN min(CASE WHEN event_type = 'view' THEN sec END)
        |      IS NOT NULL THEN 1
        |    ELSE 0 END AS BIGINT) AS stage,
        |  min(CASE WHEN event_type = 'view' THEN sec END) AS view_sec,
        |  min(CASE WHEN click_ok THEN sec END) AS click_sec,
        |  min(CASE WHEN event_type = 'purchase' AND sec > click_before
        |    THEN sec END) AS buy_sec
        |FROM cb
        |GROUP BY user_id
        |ORDER BY user_id""".stripMargin,
    // q_join_outer_replay: the stream-stream LEFT OUTER join under the
    // same replay — global watermark = min(per-side running max over
    // strictly earlier arrivals) − 2 h (sentinel −1e12 for an unseen
    // side, the Spark epoch-floor twin); purchases at/below it drop at
    // input; a pair emits iff c_sec > W − 3600 AND p_sec > W with W the
    // max of the two arrival watermarks; an admitted never-matched
    // purchase null-extends iff the FINAL watermark passed p_sec
    "q_join_outer_replay" ->
      """WITH e AS (
        |  SELECT event_id, user_id, event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS sec,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      + ((((event_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 3600 - 1800 AS arr
        |  FROM events WHERE event_type IN ('click', 'purchase')
        |), w AS (
        |  SELECT *, least(
        |    coalesce(max(CASE WHEN event_type = 'click' THEN sec END)
        |      OVER (ORDER BY arr, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -1000000000000),
        |    coalesce(max(CASE WHEN event_type = 'purchase' THEN sec END)
        |      OVER (ORDER BY arr, event_id
        |        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
        |      -1000000000000)) - 7200 AS wm
        |  FROM e
        |), p AS (
        |  SELECT user_id, event_id AS purchase_id, sec AS p_sec, wm AS p_wm
        |  FROM w WHERE event_type = 'purchase' AND sec > wm
        |), c AS (
        |  SELECT user_id, event_id AS click_id, sec AS c_sec, wm AS c_wm
        |  FROM w WHERE event_type = 'click'
        |), f AS (
        |  SELECT least(
        |    coalesce(max(CASE WHEN event_type = 'click' THEN sec END), -1000000000000),
        |    coalesce(max(CASE WHEN event_type = 'purchase' THEN sec END), -1000000000000))
        |    - 7200 AS fwm
        |  FROM e
        |), m AS (
        |  SELECT p.user_id, p.purchase_id, c.click_id
        |  FROM p JOIN c ON p.user_id = c.user_id
        |    AND c.c_sec BETWEEN p.p_sec - 3600 AND p.p_sec
        |    AND c.c_sec > greatest(c.c_wm, p.p_wm) - 3600
        |    AND p.p_sec > greatest(c.c_wm, p.p_wm)
        |)
        |SELECT user_id, purchase_id, click_id FROM m
        |UNION ALL
        |SELECT p.user_id, p.purchase_id, CAST(NULL AS BIGINT) AS click_id
        |FROM p CROSS JOIN f
        |WHERE p.p_sec <= f.fwm
        |  AND p.purchase_id NOT IN (SELECT purchase_id FROM m)
        |ORDER BY purchase_id, click_id NULLS FIRST""".stripMargin,
    "q_validate" ->
      """SELECT status, count(*) AS n FROM (
        |  SELECT CASE
        |    WHEN NOT regexp_matches(c_name, '^Customer#[0-9]+$') THEN 'bad_format'
        |    WHEN length(c_name) < 10 THEN 'too_short'
        |    WHEN c_acctbal < 0 THEN 'negative_balance'
        |    WHEN NOT regexp_matches(c_mktsegment, '^[A-Z]+$') THEN 'bad_segment'
        |    ELSE 'ok' END AS status
        |  FROM customer) t
        |GROUP BY status ORDER BY status""".stripMargin,
    "q_auth" ->
      """WITH users AS (
        |  SELECT c_name AS username,
        |    md5(CAST(c_custkey AS VARCHAR)) AS salt,
        |    sha256(md5(CAST(c_custkey AS VARCHAR)) || 'pw_' || CAST(c_custkey AS VARCHAR)) AS pw_sha,
        |    (c_custkey % 7 <> 0) AS is_active
        |  FROM customer
        |), attempts AS (
        |  SELECT c_name AS username,
        |    CASE WHEN c_custkey % 3 = 0 THEN 'wrong'
        |         ELSE 'pw_' || CAST(c_custkey AS VARCHAR) END AS attempt_pw
        |  FROM customer
        |  UNION ALL
        |  SELECT c_name || '?' AS username, 'x' AS attempt_pw
        |  FROM customer WHERE c_custkey % 11 = 0
        |)
        |SELECT a.username,
        |  CASE WHEN u.pw_sha IS NULL THEN 'no_user'
        |       WHEN NOT u.is_active THEN 'inactive'
        |       WHEN sha256(u.salt || a.attempt_pw) = u.pw_sha THEN 'ok'
        |       ELSE 'bad_password' END AS verdict
        |FROM attempts a LEFT JOIN users u ON a.username = u.username
        |ORDER BY a.username, verdict""".stripMargin,
    // the oracle IS the engine statement: both dialects speak this ANSI,
    // so the decorrelated Catalyst plan is checked against DuckDB's own
    // execution of the identical correlated spec
    "q_corr_subq" -> operators.Relational.CorrSubqSql,
    "q_not_in" -> operators.Relational.NotInSql,
    "q_tte" ->
      // quantile_cont ≡ Spark's exact interpolated percentile (the
      // q_quantiles precedent); anchors are per-user min timestamps
      """WITH s AS (
        |  SELECT user_id, min(ts) AS t0 FROM events
        |  WHERE event_type = 'signup' GROUP BY 1
        |), c AS (
        |  SELECT e.user_id, min(e.ts) AS t1
        |  FROM events e JOIN s USING (user_id)
        |  WHERE e.event_type = 'purchase' AND e.ts > s.t0
        |  GROUP BY 1
        |), lat AS (
        |  SELECT CAST(date_trunc('week', s.t0) AS DATE) AS week,
        |    CAST(floor(epoch(c.t1)) AS BIGINT)
        |      - CAST(floor(epoch(s.t0)) AS BIGINT) AS lat_s
        |  FROM s JOIN c USING (user_id)
        |), coh AS (
        |  SELECT CAST(date_trunc('week', t0) AS DATE) AS week,
        |    count(*) AS n_signups
        |  FROM s GROUP BY 1
        |), agg AS (
        |  SELECT week, count(*) AS n_converted,
        |    round(quantile_cont(lat_s, 0.5), 2) AS median_s,
        |    round(quantile_cont(lat_s, 0.9), 2) AS p90_s
        |  FROM lat GROUP BY 1)
        |SELECT coh.week, coh.n_signups,
        |  CAST(coalesce(agg.n_converted, 0) AS BIGINT) AS n_converted,
        |  coalesce(agg.median_s, -1.0) AS median_s,
        |  coalesce(agg.p90_s, -1.0) AS p90_s
        |FROM coh LEFT JOIN agg USING (week)
        |ORDER BY week""".stripMargin,
    "q_path3" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type, 1) OVER w AS e2,
        |    lead(event_type, 2) OVER w AS e3
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT event_type || '>' || e2 || '>' || e3 AS path, count(*) AS n
        |FROM seq WHERE e3 IS NOT NULL
        |GROUP BY 1 ORDER BY n DESC, path LIMIT 10""".stripMargin,
    "q_wow" ->
      """WITH weekly AS (
        |  SELECT CAST(date_trunc('week', ts) AS DATE) AS week,
        |    event_type, sum(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT week, event_type,
        |  CAST(round(v, 2) AS DOUBLE) AS total_value,
        |  round(CAST(coalesce(lag(v) OVER w, 0) AS DOUBLE), 2) AS prev_value,
        |  CASE WHEN lag(v) OVER w IS NULL OR lag(v) OVER w = 0 THEN 0.0
        |       ELSE round(CAST(v - lag(v) OVER w AS DOUBLE)
        |              / CAST(lag(v) OVER w AS DOUBLE), 4) END AS wow_delta
        |FROM weekly
        |WINDOW w AS (PARTITION BY event_type ORDER BY week)
        |ORDER BY week, event_type""".stripMargin,
    "q_wmedian" ->
      // least price whose cumulative quantity reaches half the total;
      // tie rows share the price so the min-qualifying pick is stable
      """WITH pts AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS price_c,
        |    CAST(floor(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem
        |), runs AS (
        |  SELECT l_returnflag, price_c, qty,
        |    sum(qty) OVER (PARTITION BY l_returnflag ORDER BY price_c
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(qty) OVER (PARTITION BY l_returnflag) AS tot
        |  FROM pts)
        |SELECT l_returnflag,
        |  CAST(min(price_c) AS BIGINT) AS wmedian_price_c,
        |  CAST(min(tot) AS BIGINT) AS total_qty
        |FROM runs WHERE cum * 2 >= tot
        |GROUP BY 1 ORDER BY l_returnflag""".stripMargin,
    "q_chi2" ->
      // the statistic folds a SORTED 10-cell list (q_entropy discipline)
      """WITH cells AS (
        |  SELECT event_type,
        |    CASE WHEN dayofweek(CAST(ts AS DATE)) IN (0, 6) THEN 1 ELSE 0 END AS wkend,
        |    count(*) AS o
        |  FROM events GROUP BY 1, 2
        |), rt AS (SELECT event_type, CAST(sum(o) AS BIGINT) AS row_tot FROM cells GROUP BY 1
        |), ct AS (SELECT wkend, CAST(sum(o) AS BIGINT) AS col_tot FROM cells GROUP BY 1
        |), nn AS (SELECT CAST(sum(o) AS BIGINT) AS n FROM cells
        |), packed AS (
        |  SELECT list_sort(list(struct_pack(
        |    event_type := c.event_type, wkend := c.wkend, o := CAST(c.o AS BIGINT),
        |    row_tot := rt.row_tot, col_tot := ct.col_tot, n := nn.n))) AS cs
        |  FROM cells c
        |  JOIN rt USING (event_type)
        |  JOIN ct USING (wkend)
        |  CROSS JOIN nn)
        |SELECT round(list_sum(list_transform(cs, c ->
        |    (c.o - CAST(CAST(c.row_tot AS DECIMAL(38,0)) * c.col_tot AS DOUBLE) / c.n)
        |  * (c.o - CAST(CAST(c.row_tot AS DECIMAL(38,0)) * c.col_tot AS DOUBLE) / c.n)
        |  / (CAST(CAST(c.row_tot AS DECIMAL(38,0)) * c.col_tot AS DOUBLE) / c.n))), 4) AS chi2,
        |  CAST(4 AS BIGINT) AS dof
        |FROM packed""".stripMargin,
    "q_checksum" ->
      // same canonical string, same md5-hex ascii fold on both engines
      """WITH rows_h AS (
        |  SELECT event_type,
        |    list_sum(list_transform(
        |      range(1, length(md5(concat_ws('|',
        |        event_id, user_id, event_type,
        |        CAST(floor(epoch(ts)) AS BIGINT),
        |        CAST(floor(value * 100) AS BIGINT)))) + 1),
        |      j -> ascii(substr(md5(concat_ws('|',
        |        event_id, user_id, event_type,
        |        CAST(floor(epoch(ts)) AS BIGINT),
        |        CAST(floor(value * 100) AS BIGINT))), j, 1)) * j)) AS h
        |  FROM events)
        |SELECT event_type, count(*) AS n_rows,
        |  CAST(sum(h) AS BIGINT) AS checksum
        |FROM rows_h GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_set_all" ->
      """WITH c AS (SELECT user_id FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id FROM events WHERE event_type = 'purchase'),
        |ia AS (SELECT user_id FROM c INTERSECT ALL SELECT user_id FROM p),
        |ea AS (SELECT user_id FROM c EXCEPT ALL SELECT user_id FROM p)
        |SELECT 'common_min' AS tag, user_id, count(*) AS n
        |FROM ia GROUP BY 2
        |UNION ALL
        |SELECT 'click_surplus' AS tag, user_id, count(*) AS n
        |FROM ea GROUP BY 2
        |ORDER BY tag, user_id""".stripMargin,
    "q_decay" ->
      // half-life decay folded over each user's SORTED timestamp list
      // (sequential list_sum ≡ Spark aggregate — the q_entropy trick)
      """WITH r AS (
        |  SELECT max(CAST(floor(epoch(ts)) AS BIGINT)) AS t_ref FROM events
        |), u AS (
        |  SELECT user_id, count(*) AS n_events,
        |    list_sort(list(CAST(floor(epoch(ts)) AS BIGINT))) AS tss
        |  FROM events GROUP BY user_id)
        |SELECT user_id, n_events,
        |  round(list_sum(list_transform(tss,
        |    t -> pow(CAST(2.0 AS DOUBLE), CAST(t - r.t_ref AS DOUBLE) / 604800.0))), 4) AS score
        |FROM u CROSS JOIN r ORDER BY user_id""".stripMargin,
    "q_arr" ->
      // every rounded double carries "+ 0.0": DuckDB's round() preserves
      // IEEE -0.0 where Spark's BigDecimal round has no signed zero — one
      // bit, hash fail (the q_dsir artifact class; an sf0.1 sweep caught
      // first_val rounding to -0.0 on a fixture vector)
      """SELECT vec_id,
        |  CAST(len(embedding) AS BIGINT) AS dim,
        |  round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS first_val,
        |  round(CAST(list_max(embedding) AS DOUBLE), 4) + 0.0 AS max_val,
        |  round(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE))), 4) + 0.0 AS sum_val,
        |  CAST(len(list_filter(embedding, x -> x > 0)) AS BIGINT) AS n_pos,
        |  round(CAST(list_sort(embedding)[2] AS DOUBLE), 4) + 0.0 AS second_min,
        |  round(list_sum(list_transform(range(1, len(embedding) + 1),
        |    i -> CAST(embedding[i] AS DOUBLE) * CAST(embedding[len(embedding) + 1 - i] AS DOUBLE))), 4) + 0.0 AS rev_dot,
        |  CAST(list_position(embedding, list_max(embedding)) AS BIGINT) AS argmax_pos,
        |  round(CAST(embedding[1] AS DOUBLE), 4) + 0.0 AS zip_first_x
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_range_count" ->
      """SELECT vec_id, n_in_range FROM (
        |  SELECT vec_id,
        |    CAST(len(list_filter(embedding, x -> CAST(x AS DOUBLE) BETWEEN 0.05 AND 0.2)) AS BIGINT) AS n_in_range
        |  FROM embeddings) t
        |WHERE n_in_range > 5 ORDER BY vec_id""".stripMargin,
    "q_vec_norm" ->
      """SELECT vec_id,
        |  round(sqrt(list_sum(list_transform(embedding,
        |    x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))), 4) AS l2_norm,
        |  round(1.0 / list_sum(list_transform(embedding,
        |    x -> exp(CAST(x AS DOUBLE) - CAST(list_max(embedding) AS DOUBLE)))), 4) AS max_softmax
        |FROM embeddings ORDER BY vec_id""".stripMargin,
    "q_sim_topk" ->
      """WITH pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id,
        |    list_sum(list_transform(range(1,65), i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1,65), i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1,65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
        |  FROM embeddings p JOIN embeddings c ON c.vec_id <> p.vec_id
        |  WHERE p.vec_id < 10
        |), ranked AS (
        |  SELECT probe_id, cand_id, cos,
        |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
        |  FROM pairs)
        |SELECT probe_id, rank, cand_id, round(cos, 4) AS cos_sim
        |FROM ranked WHERE rank <= 5 ORDER BY probe_id, rank""".stripMargin,
    // q_hard_negatives: the q_sim_topk shape restricted to label-mismatch
    // candidates — similar-but-differently-labeled vectors for
    // contrastive/reranker training
    "q_hard_negatives" ->
      """WITH pairs AS (
        |  SELECT p.vec_id AS anchor_id, c.vec_id AS cand_id,
        |    CAST(c.label AS BIGINT) AS neg_label,
        |    list_sum(list_transform(range(1,65), i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1,65), i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1,65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
        |  FROM embeddings p JOIN embeddings c ON c.label <> p.label
        |  WHERE p.vec_id < 10
        |), ranked AS (
        |  SELECT anchor_id, cand_id, neg_label, cos,
        |    CAST(row_number() OVER (PARTITION BY anchor_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
        |  FROM pairs)
        |SELECT anchor_id, rank, cand_id, neg_label, round(cos, 4) AS cos_sim
        |FROM ranked WHERE rank <= 3 ORDER BY anchor_id, rank""".stripMargin,
    "q_ann_bucket" ->
      """SELECT vec_id,
        |  CAST((CASE WHEN d0 > 0 THEN 1 ELSE 0 END) + 2 * (CASE WHEN d1 > 0 THEN 1 ELSE 0 END)
        |     + 4 * (CASE WHEN d2 > 0 THEN 1 ELSE 0 END) + 8 * (CASE WHEN d3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        |FROM (
        |  SELECT vec_id,
        |    list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * (1.0 - 2.0 * (((i-1) >> 0) % 2)))) AS d0,
        |    list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * (1.0 - 2.0 * (((i-1) >> 1) % 2)))) AS d1,
        |    list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * (1.0 - 2.0 * (((i-1) >> 2) % 2)))) AS d2,
        |    list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * (1.0 - 2.0 * (((i-1) >> 3) % 2)))) AS d3
        |  FROM embeddings) t
        |ORDER BY vec_id""".stripMargin,
    "q_ann_topk" ->
      """WITH bk AS (
        |  SELECT vec_id, embedding,
        |    CAST((CASE WHEN d0 > 0 THEN 1 ELSE 0 END) + 2 * (CASE WHEN d1 > 0 THEN 1 ELSE 0 END)
        |       + 4 * (CASE WHEN d2 > 0 THEN 1 ELSE 0 END) + 8 * (CASE WHEN d3 > 0 THEN 1 ELSE 0 END) AS BIGINT) AS bucket
        |  FROM (
        |    SELECT vec_id, embedding,
        |      list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * (1.0 - 2.0 * (((i-1) >> 0) % 2)))) AS d0,
        |      list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * (1.0 - 2.0 * (((i-1) >> 1) % 2)))) AS d1,
        |      list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * (1.0 - 2.0 * (((i-1) >> 2) % 2)))) AS d2,
        |      list_sum(list_transform(range(1,65), i -> CAST(embedding[i] AS DOUBLE) * (1.0 - 2.0 * (((i-1) >> 3) % 2)))) AS d3
        |    FROM embeddings) raw
        |), pairs AS (
        |  SELECT p.vec_id AS probe_id, c.vec_id AS cand_id, p.bucket,
        |    list_sum(list_transform(range(1,65), i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |    / (sqrt(list_sum(list_transform(range(1,65), i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))
        |     * sqrt(list_sum(list_transform(range(1,65), i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) AS cos
        |  FROM bk p JOIN bk c ON p.bucket = c.bucket AND c.vec_id <> p.vec_id
        |  WHERE p.vec_id < 20
        |), ranked AS (
        |  SELECT probe_id, cand_id, bucket, cos,
        |    CAST(row_number() OVER (PARTITION BY probe_id ORDER BY cos DESC, cand_id) AS BIGINT) AS rank
        |  FROM pairs)
        |SELECT probe_id, rank, cand_id, bucket, round(cos, 4) AS cos_sim
        |FROM ranked WHERE rank <= 3 ORDER BY probe_id, rank""".stripMargin,
    "q_str" ->
      """SELECT doc_id,
        |  length(text) AS len,
        |  upper(substr(text, 1, 10)) AS head10,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  regexp_extract(text, '^([a-z]+)', 1) AS first_word,
        |  concat(lang, ':', source) AS tag,
        |  trim(lower(lang)) AS lang_norm
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_text_quality" ->
      """SELECT doc_id, n_tokens, avg_tok_len, stopword_ratio,
        |  CASE WHEN n_tokens < 20 THEN 'short'
        |       WHEN stopword_ratio > 0.12 THEN 'boilerplate'
        |       ELSE 'ok' END AS quality
        |FROM (
        |  SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |    round(CAST(n_chars - (len(string_split(text, ' ')) - 1) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS avg_tok_len,
        |    round(CAST(len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a'))) AS DOUBLE)
        |      / len(string_split(text, ' ')), 4) AS stopword_ratio
        |  FROM documents) t
        |ORDER BY doc_id""".stripMargin,
    // q_scrub: blocklist redaction — identical RE2-safe word-boundary
    // pattern on both engines; the redacted text round-trips through md5
    // so the compare stays narrow
    "q_scrub" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text, '\b(customer|key)\b', 1)) AS BIGINT)
        |    AS n_hits,
        |  md5(regexp_replace(text, '\b(customer|key)\b', '[REDACTED]', 'g'))
        |    AS redacted_md5
        |FROM documents ORDER BY doc_id""".stripMargin,
    // q_chunk_overlap: the RAG chunker — 32-token windows, stride 16;
    // tail windows under 8 tokens dropped unless they are the doc's only
    // chunk; md5 of the joined chunk keys downstream embedding/dedup
    "q_chunk_overlap" ->
      """WITH d AS (
        |  SELECT doc_id, string_split(text, ' ') AS t,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents
        |), c AS (
        |  SELECT doc_id, CAST(u.k AS BIGINT) AS chunk_idx,
        |    CAST(u.k * 16 + 1 AS BIGINT) AS start_tok,
        |    CAST(least(32, n - u.k * 16) AS BIGINT) AS n_tok,
        |    array_to_string(t[(u.k * 16 + 1):(u.k * 16 + least(32, n - u.k * 16))], ' ')
        |      AS chunk
        |  FROM d, unnest(range(0, (n - 1) // 16 + 1)) AS u(k)
        |)
        |SELECT doc_id, chunk_idx, start_tok, n_tok, md5(chunk) AS chunk_md5
        |FROM c WHERE n_tok >= 8 OR chunk_idx = 0
        |ORDER BY doc_id, chunk_idx""".stripMargin,
    // q_gopher_rules: gram identity is the token TUPLE (the q_repetition
    // house rule) and the keep gates multiply exact BIGINTs — only the
    // reported fractions are rounded doubles
    "q_gopher_rules" ->
      """WITH d AS (
        |  SELECT doc_id, CAST(length(text) AS BIGINT) AS len,
        |    string_split(text, ' ') AS t,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), tri AS (
        |  SELECT doc_id,
        |    CAST(count(*) - count(DISTINCT (t[j], t[j+1], t[j+2])) AS BIGINT)
        |      AS dup3_cnt
        |  FROM d, unnest(range(1, len(t) - 1)) AS u(j)
        |  GROUP BY doc_id
        |), big AS (
        |  SELECT doc_id, CAST(max(c) AS BIGINT) AS top2_cnt FROM (
        |    SELECT doc_id, count(*) AS c
        |    FROM d, unnest(range(1, len(t))) AS u(j)
        |    GROUP BY doc_id, t[j], t[j+1]) g
        |  GROUP BY doc_id
        |)
        |SELECT d.doc_id, d.n_tok,
        |  round(CAST(d.len - d.n_tok + 1 AS DOUBLE) / d.n_tok, 4) + 0.0
        |    AS mean_wlen,
        |  COALESCE(big.top2_cnt, 0) AS top2_cnt,
        |  COALESCE(tri.dup3_cnt, 0) AS dup3_cnt,
        |  round(CAST(COALESCE(big.top2_cnt, 0) AS DOUBLE)
        |    / greatest(d.n_tok - 1, 1), 4) + 0.0 AS top2_frac,
        |  round(CAST(COALESCE(tri.dup3_cnt, 0) AS DOUBLE)
        |    / greatest(d.n_tok - 2, 1), 4) + 0.0 AS dup3_frac,
        |  (d.n_tok >= 20
        |    AND COALESCE(big.top2_cnt, 0) * 10000 < 800 * greatest(d.n_tok - 1, 1)
        |    AND COALESCE(tri.dup3_cnt, 0) * 10000 < 200 * greatest(d.n_tok - 2, 1))
        |    AS keep
        |FROM d LEFT JOIN tri USING (doc_id) LEFT JOIN big USING (doc_id)
        |ORDER BY doc_id""".stripMargin,
    "q_langid" ->
      """SELECT doc_id, pred_lang, pred_lang = lang AS is_match FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN c_en >= greatest(c_de, c_es, c_fr, c_zh) THEN 'en'
        |         WHEN c_de >= greatest(c_es, c_fr, c_zh) THEN 'de'
        |         WHEN c_es >= greatest(c_fr, c_zh) THEN 'es'
        |         WHEN c_fr >= c_zh THEN 'fr'
        |         ELSE 'zh' END AS pred_lang
        |  FROM (
        |    SELECT doc_id, lang,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('the', 'a', 'of'))) AS c_en,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('der', 'die', 'das'))) AS c_de,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('el', 'la', 'los'))) AS c_es,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('le', 'les', 'une'))) AS c_fr,
        |      len(list_filter(string_split(text, ' '), t -> t IN ('shi', 'bu', 'wo'))) AS c_zh
        |    FROM documents) c) p
        |ORDER BY doc_id""".stripMargin,
    "q_token_count" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+')) AS BIGINT) AS n_alpha_runs,
        |  CAST(ceil(n_chars / 4.0) AS BIGINT) AS n_bpe_est
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_fingerprint" ->
      """SELECT doc_id, md5(lower(trim(regexp_replace(text, '\s+', ' ', 'g')))) AS fp
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_dedup_exact" ->
      """SELECT min(doc_id) AS keep_id, count(*) AS dup_cnt, md5(text) AS text_hash
        |FROM documents GROUP BY md5(text) ORDER BY keep_id""".stripMargin,
    "q_jaccard_pairs" ->
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, source, tok FROM (
        |    SELECT doc_id, source, unnest(string_split(text, ' ')) AS tok FROM documents) raw
        |), sizes AS (
        |  SELECT doc_id, count(*) AS sz FROM toks GROUP BY doc_id
        |), inter AS (
        |  SELECT a.doc_id AS d1, b.doc_id AS d2, count(*) AS i
        |  FROM toks a JOIN toks b
        |    ON a.tok = b.tok AND a.source = b.source AND a.doc_id < b.doc_id
        |  GROUP BY 1, 2)
        |SELECT d1, d2, round(i / (sa.sz + sb.sz - i), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.doc_id = d1
        |JOIN sizes sb ON sb.doc_id = d2
        |WHERE i / (sa.sz + sb.sz - i) >= 0.9
        |ORDER BY d1, d2""".stripMargin,
    "q_minhash_lsh" ->
      s"""WITH $minhashPairCtes
        |SELECT d1, d2 FROM pairs
        |ORDER BY d1, d2""".stripMargin,
    // q_dedup_admit: bucket-mates ARE the pair listing, so "no smaller
    // bucket-mate" ≡ "not a d2 of any pair" — the shared CTE chain makes
    // the two oracles definitionally consistent
    "q_dedup_admit" ->
      s"""WITH $minhashPairCtes,
        |rej AS (SELECT DISTINCT d2 AS doc_id FROM pairs)
        |SELECT d.doc_id, d.source, r.doc_id IS NULL AS admitted
        |FROM documents d LEFT JOIN rej r ON d.doc_id = r.doc_id
        |ORDER BY d.doc_id""".stripMargin,
    // q_source_overlap: exact integer vocab counts, one division per pair
    "q_source_overlap" ->
      """WITH vocab AS (
        |  SELECT DISTINCT source, tok FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) raw
        |), sizes AS (
        |  SELECT source, count(*) AS sz FROM vocab GROUP BY 1
        |), inter AS (
        |  SELECT a.source AS s1, b.source AS s2, count(*) AS inter
        |  FROM vocab a JOIN vocab b ON a.tok = b.tok AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT s1, s2, CAST(inter AS BIGINT) AS inter,
        |  CAST(sa.sz + sb.sz - inter AS BIGINT) AS uni,
        |  round(CAST(inter AS DOUBLE)
        |    / CAST(sa.sz + sb.sz - inter AS DOUBLE), 4) AS jaccard
        |FROM inter
        |JOIN sizes sa ON sa.source = s1
        |JOIN sizes sb ON sb.source = s2
        |ORDER BY s1, s2""".stripMargin,
    // q_dedup_curve: 10*inter >= tau10*union keeps the threshold compare
    // in exact integers; zero-intersection LSH candidates are retained
    // via the LEFT JOIN + COALESCE
    "q_dedup_curve" ->
      s"""WITH $minhashPairCtes,
        |dcs AS (
        |  SELECT t.doc_id, c.code FROM toks t JOIN codes c ON c.tok = t.tok
        |  GROUP BY 1, 2
        |), dsz AS (SELECT doc_id, count(*) AS sz FROM dcs GROUP BY 1
        |), inter AS (
        |  SELECT p.d1, p.d2, count(*) AS i
        |  FROM pairs p
        |  JOIN dcs a ON a.doc_id = p.d1
        |  JOIN dcs b ON b.doc_id = p.d2 AND b.code = a.code
        |  GROUP BY 1, 2
        |), st AS (
        |  SELECT p.d1, p.d2, COALESCE(i.i, 0) AS inter,
        |    sa.sz + sb.sz - COALESCE(i.i, 0) AS uni
        |  FROM pairs p
        |  LEFT JOIN inter i ON i.d1 = p.d1 AND i.d2 = p.d2
        |  JOIN dsz sa ON sa.doc_id = p.d1
        |  JOIN dsz sb ON sb.doc_id = p.d2
        |), taus(tau_x10) AS (VALUES (5), (6), (7), (8), (9)
        |), pass AS (
        |  SELECT tau_x10, d1, d2 FROM st CROSS JOIN taus
        |  WHERE inter * 10 >= tau_x10 * uni
        |), pp AS (SELECT tau_x10, count(*) AS np FROM pass GROUP BY 1
        |), dd AS (
        |  SELECT tau_x10, count(DISTINCT doc) AS nd FROM (
        |    SELECT tau_x10, d1 AS doc FROM pass
        |    UNION ALL SELECT tau_x10, d2 AS doc FROM pass) u
        |  GROUP BY 1)
        |SELECT CAST(t.tau_x10 AS BIGINT) AS tau_x10,
        |  CAST(COALESCE(np, 0) AS BIGINT) AS n_pairs,
        |  CAST(COALESCE(nd, 0) AS BIGINT) AS n_docs
        |FROM taus t LEFT JOIN pp ON pp.tau_x10 = t.tau_x10
        |LEFT JOIN dd ON dd.tau_x10 = t.tau_x10
        |ORDER BY tau_x10""".stripMargin,
    // q_kcore: three explicit peel rounds (degree >= 2) over the
    // undirected candidate edge set; UNION dedups like union().distinct()
    "q_kcore" ->
      s"""WITH $minhashPairCtes,
        |e0 AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION SELECT d2 AS src, d1 AS dst FROM pairs
        |), k1 AS (SELECT src FROM e0 GROUP BY src HAVING count(*) >= 2
        |), e1 AS (
        |  SELECT e.src, e.dst FROM e0 e
        |  JOIN k1 a ON e.src = a.src JOIN k1 b ON e.dst = b.src
        |), k2 AS (SELECT src FROM e1 GROUP BY src HAVING count(*) >= 2
        |), e2 AS (
        |  SELECT e.src, e.dst FROM e1 e
        |  JOIN k2 a ON e.src = a.src JOIN k2 b ON e.dst = b.src
        |), k3 AS (SELECT src FROM e2 GROUP BY src HAVING count(*) >= 2
        |), e3 AS (
        |  SELECT e.src, e.dst FROM e2 e
        |  JOIN k3 a ON e.src = a.src JOIN k3 b ON e.dst = b.src)
        |SELECT src AS doc_id, count(*) AS core_deg
        |FROM e3 GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_containment" ->
      // subset test over shingle-CODE sets (distinct codes, mirroring the
      // engine's array_intersect over coded shingles) on the LSH pairs
      s"""WITH $minhashPairCtes,
        |dsz AS (
        |  SELECT t.doc_id, count(DISTINCT c.code) AS sz
        |  FROM toks t JOIN codes c ON c.tok = t.tok GROUP BY 1
        |), inter AS (
        |  SELECT p.d1, p.d2, count(DISTINCT ca.code) AS i
        |  FROM pairs p
        |  JOIN toks a ON a.doc_id = p.d1
        |  JOIN codes ca ON ca.tok = a.tok
        |  JOIN toks b ON b.doc_id = p.d2
        |  JOIN codes cb ON cb.tok = b.tok AND cb.code = ca.code
        |  GROUP BY 1, 2)
        |SELECT d1, d2,
        |  CAST(sa.sz AS BIGINT) AS sz1, CAST(sb.sz AS BIGINT) AS sz2,
        |  CAST(i AS BIGINT) AS inter,
        |  CASE WHEN sa.sz = sb.sz THEN 'equal'
        |       WHEN i = sa.sz THEN 'd1_in_d2'
        |       ELSE 'd2_in_d1' END AS relation
        |FROM inter
        |JOIN dsz sa ON sa.doc_id = d1
        |JOIN dsz sb ON sb.doc_id = d2
        |WHERE i = sa.sz OR i = sb.sz
        |ORDER BY d1, d2""".stripMargin,
    "q_lm_score" -> lmScoreOracle,
    // q_lm_delta scores the SAME corpus under a persisted model holding
    // exactly that corpus's counts — bit-identical to q_lm_score
    // (IncrementalLmSpec), so the oracle is shared verbatim
    "q_lm_delta" -> lmScoreOracle,
    // q_ccnet_buckets: the rank key is exact-rational (tf·(N+V)/(c+1)
    // terms, one correctly-rounded division each, summed token-sorted),
    // so tercile cuts cannot sit on the ln 1-ulp boundary; ntile hands
    // the n mod 3 extra rows to the first buckets on both engines (the
    // q_interleave precedent)
    "q_ccnet_buckets" ->
      """WITH occ AS (
        |  SELECT doc_id, lang, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, lang, tok, count(*) AS tf FROM occ GROUP BY 1, 2, 3
        |), cf AS (
        |  SELECT tok, CAST(sum(tf) AS BIGINT) AS c FROM tf GROUP BY 1
        |), nv AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS v FROM cf
        |), per AS (
        |  SELECT doc_id, lang,
        |    list_sort(list(struct_pack(tok := tok,
        |      term := tf * (CAST(n + v AS DOUBLE) / (c + 1))))) AS l,
        |    CAST(sum(tf) AS BIGINT) AS n_tokens
        |  FROM tf JOIN cf USING (tok) CROSS JOIN nv GROUP BY doc_id, lang
        |), sc AS (
        |  SELECT doc_id, lang,
        |    list_sum(list_transform(l, s -> s.term)) / n_tokens AS rarity
        |  FROM per
        |), bk AS (
        |  SELECT lang, rarity,
        |    ntile(3) OVER (PARTITION BY lang ORDER BY rarity, doc_id) AS b
        |  FROM sc)
        |SELECT lang,
        |  CASE b WHEN 1 THEN 'head' WHEN 2 THEN 'middle' ELSE 'tail' END
        |    AS bucket,
        |  count(*) AS n_docs,
        |  round(min(rarity), 4) AS min_rarity,
        |  round(max(rarity), 4) AS max_rarity
        |FROM bk GROUP BY 1, 2 ORDER BY lang, bucket""".stripMargin,
    "q_bitmap_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users, count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_share" ->
      """WITH per AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |    sum(CAST(value AS DECIMAL(18,2))) AS v
        |  FROM events GROUP BY 1, 2)
        |SELECT day, event_type,
        |  CAST(round(v, 2) AS DOUBLE) AS total_value,
        |  CASE WHEN sum(v) OVER (PARTITION BY day) = 0 THEN 0.0
        |       ELSE round(CAST(v AS DOUBLE) /
        |         CAST(sum(v) OVER (PARTITION BY day) AS DOUBLE), 4)
        |  END AS share
        |FROM per ORDER BY day, event_type""".stripMargin,
    "q_top_other" ->
      """WITH per AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, user_id,
        |    count(*) AS n
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT day, user_id, n,
        |    row_number() OVER (PARTITION BY day ORDER BY n DESC, user_id) AS rk
        |  FROM per)
        |SELECT day,
        |  CASE WHEN rk <= 3 THEN 'user_' || CAST(user_id AS VARCHAR)
        |       ELSE 'other' END AS who,
        |  CAST(sum(n) AS BIGINT) AS n_events, count(*) AS n_users
        |FROM ranked GROUP BY 1, 2 ORDER BY day, who""".stripMargin,
    "q_islands" ->
      // classic gaps-and-islands: lag-gap flag -> running-sum island id;
      // floor-epoch seconds keep every comparison integer-exact
      """WITH pts AS (
        |  SELECT user_id, event_id,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS s
        |  FROM events
        |), flagged AS (
        |  SELECT user_id, event_id, s,
        |    CASE WHEN lag(s) OVER w IS NULL OR s - lag(s) OVER w > 1800
        |      THEN 1 ELSE 0 END AS new_island
        |  FROM pts
        |  WINDOW w AS (PARTITION BY user_id ORDER BY s, event_id)
        |), ids AS (
        |  SELECT user_id, s,
        |    sum(new_island) OVER (PARTITION BY user_id ORDER BY s, event_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island_id
        |  FROM flagged
        |), isl AS (
        |  SELECT user_id, island_id, min(s) AS start_s, max(s) + 1800 AS end_s
        |  FROM ids GROUP BY 1, 2)
        |SELECT user_id, count(*) AS n_islands,
        |  CAST(sum(end_s - start_s) AS BIGINT) AS covered_s,
        |  CAST(max(end_s - start_s) AS BIGINT) AS longest_s
        |FROM isl GROUP BY 1 ORDER BY user_id""".stripMargin,
    "q_winnow" ->
      // token-code sequence -> 3-gram rolling hash -> min of each 4-window.
      // CAST fp AS BIGINT: DuckDB's list_sum over BIGINTs yields HUGEINT
      // (int128), which pandas materializes as float64 — the driver then
      // hashes 11027.0 against Spark's 11027 and flags every cell (the
      // r6 red row). Values were always identical; only the carrier
      // type differed.
      """WITH seqs AS (
        |  -- coalesce: list_sum over an EMPTY token ('' from a double
        |  -- space) is NULL in DuckDB while the engine's TokenCode('') is
        |  -- 0 — a NULL code nulls three trigram hashes and shifts window
        |  -- minima (r11 review; latent, fixtures have no empty tokens)
        |  SELECT doc_id, list_transform(string_split(text, ' '),
        |    t -> coalesce(list_sum(list_transform(range(1, length(t) + 1),
        |           j -> ascii(substr(t, j, 1)) * j)), 0)) AS c
        |  FROM documents
        |), grams AS (
        |  -- polynomial rolling hash mod 2^31-1, codes folded first —
        |  -- mirrors the engine's exact-long form in exact HUGEINT
        |  SELECT doc_id, list_transform(range(1, len(c) - 1),
        |    j -> ((((c[j] % 2147483647) * 2654435761 + (c[j + 1] % 2147483647))
        |           % 2147483647) * 2654435761 + (c[j + 2] % 2147483647))
        |         % 2147483647) AS h
        |  FROM seqs
        |), fps AS (
        |  SELECT DISTINCT doc_id, fp FROM (
        |    SELECT doc_id, unnest(list_transform(range(1, len(h) - 2),
        |      i -> list_min(h[i:i + 3]))) AS fp
        |    FROM grams WHERE len(h) >= 4) raw)
        |SELECT CAST(fp AS BIGINT) AS fingerprint, count(*) AS df,
        |  min(doc_id) AS min_doc
        |FROM fps GROUP BY 1 HAVING count(*) >= 2
        |ORDER BY df DESC, fingerprint LIMIT 50""".stripMargin,
    "q_pagerank" ->
      // same pair graph; 5 unrolled integer-arithmetic power iterations
      s"""WITH $minhashPairCtes,
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION ALL
        |  SELECT d2 AS src, d1 AS dst FROM pairs
        |), deg AS (
        |  SELECT src, CAST(count(*) AS BIGINT) AS deg FROM edges GROUP BY src
        |), nn AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
        |r0 AS (SELECT doc_id, (SELECT 1000000000000 // n FROM nn) AS pr FROM documents),
        |$pagerankIterCtes
        |SELECT doc_id, pr FROM r5 ORDER BY pr DESC, doc_id""".stripMargin,
    "q_neardup_clusters" ->
      // same pair graph as q_minhash_lsh; component min via WITH RECURSIVE
      // reachability (undirected edges = both orientations of each pair)
      s"""WITH RECURSIVE $minhashPairCtes,
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION ALL
        |  SELECT d2 AS src, d1 AS dst FROM pairs
        |), reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |)
        |SELECT src AS doc_id, min(dst) AS cluster_id
        |FROM reach GROUP BY src ORDER BY doc_id""".stripMargin,
    "q_corpus_prep" ->
      // composed pipeline: quality gate >= 20 tokens -> exact-dedup keepers
      // -> near-dup cluster representatives (cluster min = own id) ->
      // per-language doc/token totals
      s"""WITH RECURSIVE $minhashPairCtes,
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION ALL
        |  SELECT d2 AS src, d1 AS dst FROM pairs
        |), reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), clusters AS (
        |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        |), q AS (
        |  SELECT doc_id, lang, text, len(string_split(text, ' ')) AS n_tokens
        |  FROM documents WHERE len(string_split(text, ' ')) >= 20
        |), ke AS (
        |  SELECT min(doc_id) AS doc_id FROM q GROUP BY md5(text)
        |), kept AS (
        |  SELECT q.lang, q.n_tokens FROM q
        |  JOIN ke ON ke.doc_id = q.doc_id
        |  JOIN clusters c ON c.doc_id = q.doc_id AND c.cluster_id = q.doc_id
        |)
        |SELECT lang, count(*) AS n_docs, CAST(sum(n_tokens) AS BIGINT) AS n_tokens_total
        |FROM kept GROUP BY lang ORDER BY lang""".stripMargin,
    "q_tfidf" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        |), df AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |), n AS (SELECT count(*) AS n_docs FROM documents
        |), scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |    round(tf.tf * ln((n.n_docs + 1) / CAST(df.df + 1 AS DOUBLE)), 4) AS score
        |  FROM tf JOIN df USING (tok) CROSS JOIN n
        |), ranked AS (
        |  SELECT doc_id, tok, score,
        |    row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, tok, score FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_simhash" ->
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), coded AS (
        |  -- coalesce 0: TokenCode('') = 0 on the engine; DuckDB's
        |  -- list_sum([]) is NULL, and sum() would then silently skip the
        |  -- empty token's bit-vote (r11 review; latent at fixture)
        |  SELECT doc_id, coalesce(list_sum(list_transform(range(1, length(tok) + 1),
        |    j -> ascii(substr(tok, j, 1)) * j)), 0) AS code
        |  FROM toks
        |), params(i, a, b) AS (VALUES
        |  (0, 1000003, 42), (1, 1007922, 1051), (2, 1015841, 2060), (3, 1023760, 3069),
        |  (4, 1031679, 4078), (5, 1039598, 5087), (6, 1047517, 6096), (7, 1055436, 7105),
        |  (8, 1063355, 8114), (9, 1071274, 9123), (10, 1079193, 10132), (11, 1087112, 11141),
        |  (12, 1095031, 12150), (13, 1102950, 13159), (14, 1110869, 14168), (15, 1118788, 15177)
        |), bits AS (
        |  SELECT c.doc_id, p.i,
        |    sum(((CAST(p.a AS BIGINT) * c.code + p.b) % 2147483647 % 2) * 2 - 1) AS s
        |  FROM coded c CROSS JOIN params p GROUP BY 1, 2)
        |SELECT doc_id,
        |  CAST(sum(CASE WHEN s > 0 THEN CAST(1 AS BIGINT) << i ELSE 0 END) AS BIGINT) AS simhash
        |FROM bits GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "q_top_terms" ->
      """SELECT tok, count(*) AS cnt FROM (
        |  SELECT unnest(string_split(text, ' ')) AS tok FROM documents) t
        |GROUP BY tok ORDER BY cnt DESC, tok LIMIT 20""".stripMargin,
    "q_postings" ->
      // inverted index: df over the full posting; the rk<=10 sample here
      // must equal the engine's TopKAggregator output — top-10 by
      // (score = −doc_id desc, id asc) ≡ the 10 SMALLEST doc_ids in
      // ascending order, which is exactly row_number() OVER (ORDER BY
      // doc_id) <= 10 then string_agg ORDER BY doc_id
      """WITH toks AS (
        |  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), ranked AS (
        |  SELECT tok, doc_id,
        |    count(*) OVER (PARTITION BY tok) AS df,
        |    row_number() OVER (PARTITION BY tok ORDER BY doc_id) AS rk
        |  FROM toks)
        |SELECT tok, CAST(max(df) AS BIGINT) AS df,
        |  string_agg(CAST(doc_id AS VARCHAR), ',' ORDER BY doc_id) AS sample_docs
        |FROM ranked WHERE rk <= 10 GROUP BY tok ORDER BY tok""".stripMargin,
    "q_kmeans_assign" ->
      // nearest of 8 seed centroids by squared L2; the dimension fold is
      // sequential on both sides (list_sum ≡ aggregate, q_entropy
      // precedent) so distances are bit-identical before rank/round
      """WITH c AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
        |), d AS (
        |  SELECT e.vec_id, c.c_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE))
        |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE)))) AS dist2
        |  FROM embeddings e CROSS JOIN c
        |), r AS (
        |  SELECT vec_id, c_id, dist2,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rk
        |  FROM d)
        |SELECT vec_id, c_id AS cluster, round(dist2, 4) AS dist2
        |FROM r WHERE rk = 1 ORDER BY vec_id""".stripMargin,
    // q_semdedup: SemDeDup — the q_kmeans_assign geometry bounds the
    // pairwise cosine compare to within-cluster; duplicate iff a
    // lower-id cluster-mate has cosine ≥ 0.3; sequential dimension
    // folds keep every double bit-identical to the engine
    "q_semdedup" ->
      """WITH c AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings WHERE vec_id < 8
        |), d AS (
        |  SELECT e.vec_id, c.c_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE))
        |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE)))) AS dist2
        |  FROM embeddings e CROSS JOIN c
        |), r AS (
        |  SELECT vec_id, c_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rk
        |  FROM d
        |), a AS (
        |  SELECT e.vec_id, r.c_id AS cluster, e.embedding
        |  FROM embeddings e JOIN r ON r.vec_id = e.vec_id AND r.rk = 1
        |), dup AS (
        |  SELECT p.cluster, p.vec_id,
        |    min(c.vec_id) AS dup_of,
        |    round(max(
        |      list_sum(list_transform(range(1,65),
        |        i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1,65),
        |          i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1,65),
        |          i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))))
        |    ), 4) + 0.0 AS max_cos
        |  FROM a p JOIN a c ON p.cluster = c.cluster AND c.vec_id < p.vec_id
        |  WHERE list_sum(list_transform(range(1,65),
        |        i -> CAST(p.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1,65),
        |          i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1,65),
        |          i -> CAST(c.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))))) >= 0.3
        |  GROUP BY p.cluster, p.vec_id
        |)
        |SELECT a.vec_id, a.cluster, dup.dup_of IS NOT NULL AS is_dup,
        |  dup.dup_of, dup.max_cos
        |FROM a LEFT JOIN dup ON dup.cluster = a.cluster AND dup.vec_id = a.vec_id
        |ORDER BY a.vec_id""".stripMargin,
    // q_semdedup_delta: incremental SemDeDup — frozen geometry from the
    // 8 smallest EVEN vec_ids (the even-docs index's first batch); an
    // odd vector is rejected iff any even vector, or any smaller odd
    // vector, in its cluster reaches cosine 0.3. Same sequential
    // dimension folds as q_semdedup, bit-identical doubles.
    "q_semdedup_delta" ->
      """WITH c AS (
        |  SELECT vec_id AS c_id, embedding AS c_emb FROM embeddings
        |  WHERE vec_id % 2 = 0 ORDER BY vec_id LIMIT 8
        |), d AS (
        |  SELECT e.vec_id, c.c_id,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE))
        |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(c.c_emb[i] AS DOUBLE)))) AS dist2
        |  FROM embeddings e CROSS JOIN c
        |), r AS (
        |  SELECT vec_id, c_id,
        |    row_number() OVER (PARTITION BY vec_id ORDER BY dist2, c_id) AS rk
        |  FROM d
        |), a AS (
        |  SELECT e.vec_id, r.c_id AS cluster, e.embedding
        |  FROM embeddings e JOIN r ON r.vec_id = e.vec_id AND r.rk = 1
        |), p AS (
        |  SELECT * FROM a WHERE vec_id % 2 = 1
        |), dup AS (
        |  SELECT p.vec_id,
        |    min(m.vec_id) AS dup_of,
        |    round(max(
        |      list_sum(list_transform(range(1,65),
        |        i -> CAST(p.embedding[i] AS DOUBLE) * CAST(m.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1,65),
        |          i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1,65),
        |          i -> CAST(m.embedding[i] AS DOUBLE) * CAST(m.embedding[i] AS DOUBLE)))))
        |    ), 4) + 0.0 AS max_cos
        |  FROM p JOIN a m ON p.cluster = m.cluster
        |    AND (m.vec_id % 2 = 0 OR m.vec_id < p.vec_id)
        |  WHERE list_sum(list_transform(range(1,65),
        |        i -> CAST(p.embedding[i] AS DOUBLE) * CAST(m.embedding[i] AS DOUBLE)))
        |      / (sqrt(list_sum(list_transform(range(1,65),
        |          i -> CAST(p.embedding[i] AS DOUBLE) * CAST(p.embedding[i] AS DOUBLE))))
        |       * sqrt(list_sum(list_transform(range(1,65),
        |          i -> CAST(m.embedding[i] AS DOUBLE) * CAST(m.embedding[i] AS DOUBLE))))) >= 0.3
        |  GROUP BY p.vec_id
        |)
        |SELECT p.vec_id, p.cluster, dup.dup_of IS NULL AS admitted,
        |  dup.dup_of, dup.max_cos
        |FROM p LEFT JOIN dup ON dup.vec_id = p.vec_id
        |ORDER BY p.vec_id""".stripMargin,
    "q_outlier_embed" ->
      // anchor = min-vec_id member per label (deterministic pick, no
      // float-mean); sequential dimension fold as in q_kmeans_assign
      """WITH a AS (
        |  SELECT e.label, e.embedding AS a_emb
        |  FROM embeddings e
        |  JOIN (SELECT label, min(vec_id) AS a_id FROM embeddings GROUP BY 1) m
        |    ON e.vec_id = m.a_id
        |), d AS (
        |  SELECT e.vec_id, e.label,
        |    list_sum(list_transform(range(1, 65),
        |      i -> (CAST(e.embedding[i] AS DOUBLE) - CAST(a.a_emb[i] AS DOUBLE))
        |         * (CAST(e.embedding[i] AS DOUBLE) - CAST(a.a_emb[i] AS DOUBLE)))) AS dist2
        |  FROM embeddings e JOIN a ON e.label = a.label
        |), r AS (
        |  SELECT vec_id, label, dist2,
        |    row_number() OVER (PARTITION BY label ORDER BY dist2 DESC, vec_id) AS rk
        |  FROM d)
        |SELECT CAST(r.label AS BIGINT) AS label, rk, r.vec_id,
        |  doc.lang, doc.source, round(r.dist2, 4) AS dist2
        |FROM r JOIN documents doc ON r.vec_id = doc.doc_id
        |WHERE rk <= 3 ORDER BY label, rk""".stripMargin,
    "q_bm25" ->
      // Robertson BM25, Lucene idf variant; every fractional literal is
      // CAST to DOUBLE (bare 0.5/1.2 parse as DECIMAL in DuckDB and the
      // decimal-arithmetic rounding would diverge from Spark's doubles)
      """WITH toks AS (
        |  SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
        |), tf AS (
        |  SELECT doc_id, tok, count(*) AS tf FROM toks GROUP BY 1, 2
        |), dl AS (
        |  SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1
        |), df AS (
        |  SELECT tok, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
        |), c AS (
        |  SELECT count(DISTINCT doc_id) AS n_docs,
        |    CAST(count(*) AS DOUBLE) / count(DISTINCT doc_id) AS avgdl
        |  FROM toks
        |), scored AS (
        |  SELECT tf.doc_id, tf.tok,
        |    round(ln(CAST(1.0 AS DOUBLE)
        |        + (c.n_docs - df.df + CAST(0.5 AS DOUBLE)) / (df.df + CAST(0.5 AS DOUBLE)))
        |      * tf.tf * (CAST(1.2 AS DOUBLE) + 1)
        |      / (tf.tf + CAST(1.2 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST(0.75 AS DOUBLE)
        |          + CAST(0.75 AS DOUBLE) * dl.dl / c.avgdl)), 4) AS score
        |  FROM tf JOIN dl USING (doc_id) JOIN df USING (tok) CROSS JOIN c
        |), ranked AS (
        |  SELECT doc_id, tok, score,
        |    CAST(row_number() OVER (PARTITION BY doc_id ORDER BY score DESC, tok) AS BIGINT) AS rank
        |  FROM scored)
        |SELECT doc_id, rank, tok, score FROM ranked
        |WHERE rank <= 3 ORDER BY doc_id, rank""".stripMargin,
    "q_pmi" ->
      // PMI over word bigrams: integer count products stay exact on both
      // sides (decimal(38,0) there, HUGEINT here — overflow headroom past
      // 2^63, the q_ess precedent), cast to DOUBLE only at the division
      // so ln sees the identical IEEE value
      """WITH t AS (
        |  SELECT string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        |  FROM t
        |), bi AS (
        |  SELECT bigram, count(*) AS c_ab FROM g GROUP BY 1
        |), uni AS (
        |  SELECT w, count(*) AS c FROM (
        |    SELECT unnest(string_split(text, ' ')) AS w FROM documents) u
        |  GROUP BY 1
        |), n AS (SELECT CAST(sum(c_ab) AS BIGINT) AS n_bi FROM bi),
        |s AS (
        |  SELECT b.bigram, b.c_ab,
        |    round(ln(CAST(CAST(n.n_bi AS HUGEINT) * b.c_ab AS DOUBLE)
        |      / CAST(CAST(u1.c AS HUGEINT) * u2.c AS DOUBLE)), 4) AS pmi
        |  FROM bi b
        |  JOIN uni u1 ON u1.w = string_split(b.bigram, ' ')[1]
        |  JOIN uni u2 ON u2.w = string_split(b.bigram, ' ')[2]
        |  CROSS JOIN n
        |  WHERE b.c_ab >= 5)
        |SELECT bigram, c_ab, pmi FROM s ORDER BY pmi DESC, bigram LIMIT 15""".stripMargin,
    "q_edit_sim" ->
      // LSH candidate pairs -> Levenshtein over 80-char heads
      s"""WITH $minhashPairCtes
        |SELECT d1, d2,
        |  CAST(levenshtein(substr(x.text, 1, 80), substr(y.text, 1, 80)) AS BIGINT) AS edit_dist
        |FROM pairs
        |JOIN documents x ON x.doc_id = d1
        |JOIN documents y ON y.doc_id = d2
        |WHERE levenshtein(substr(x.text, 1, 80), substr(y.text, 1, 80)) <= 40
        |ORDER BY d1, d2""".stripMargin,
    "q_jw" ->
      // LSH candidate pairs -> Jaro-Winkler over full texts; the custom
      // expression's semantics are pinned to DuckDB's implementation
      s"""WITH $minhashPairCtes
        |SELECT d1, d2,
        |  round(jaro_winkler_similarity(x.text, y.text), 6) AS jw_sim
        |FROM pairs
        |JOIN documents x ON x.doc_id = d1
        |JOIN documents y ON y.doc_id = d2
        |ORDER BY d1, d2""".stripMargin,
    "q_triangles" ->
      // ordered-edge triangle join over the same pair graph (d1 < d2):
      // wedge a<b<c closed by edge (a, c); wedges from degree choose 2
      s"""WITH $minhashPairCtes,
        |deg AS (
        |  SELECT v, count(*) AS deg FROM (
        |    SELECT d1 AS v FROM pairs UNION ALL SELECT d2 AS v FROM pairs) b
        |  GROUP BY v
        |), w AS (SELECT CAST(sum(CAST(deg AS HUGEINT) * (deg - 1)) // 2
        |    AS BIGINT) AS n_wedges FROM deg),
        |t AS (
        |  SELECT count(*) AS n_triangles
        |  FROM pairs e1
        |  JOIN pairs e2 ON e1.d2 = e2.d1
        |  JOIN pairs e3 ON e3.d1 = e1.d1 AND e3.d2 = e2.d2
        |), e AS (SELECT count(*) AS n_edges FROM pairs)
        |SELECT n_edges, n_wedges, n_triangles,
        |  round(CASE WHEN n_wedges > 0
        |    THEN 3.0 * n_triangles / n_wedges ELSE 0.0 END, 4) AS clustering
        |FROM e CROSS JOIN w CROSS JOIN t""".stripMargin,
    // q_temp_mix: p is one double division of exact integer counts; the
    // pow(·, 0.3) sits on the documented cross-libm 1-ulp boundary
    // (display-rounded); Z folds the lang-sorted pa list (q_entropy
    // discipline) so the normalizer adds in the same order both sides
    "q_temp_mix" ->
      """WITH per AS (
        |  SELECT lang, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY lang
        |), tot AS (SELECT CAST(sum(n_tokens) AS BIGINT) AS n_total FROM per),
        |wp AS (
        |  SELECT lang, n_docs, n_tokens,
        |    CAST(n_tokens AS DOUBLE) / CAST(n_total AS DOUBLE) AS p,
        |    pow(CAST(n_tokens AS DOUBLE) / CAST(n_total AS DOUBLE),
        |      CAST(0.3 AS DOUBLE)) AS pa
        |  FROM per CROSS JOIN tot),
        |z AS (
        |  SELECT list_sum(list_transform(
        |    list_sort(list(struct_pack(lang := lang, pa := pa))),
        |    s -> s.pa)) AS z
        |  FROM wp)
        |SELECT lang, n_docs, n_tokens, round(p, 4) AS p_raw,
        |  round(pa / z, 4) AS p_temp, round(pa / z / p, 4) AS boost
        |FROM wp CROSS JOIN z ORDER BY lang""".stripMargin,
    "q_mix" ->
      // mixing plan: named shares sum to 0.8, remainder 0.2 split evenly
      // over unlisted sources; budget = half the corpus tokens; rate <= 1
      """WITH per AS (
        |  SELECT source, count(*) AS n_docs,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), b AS (SELECT CAST(sum(n_tokens) // 2 AS BIGINT) AS budget FROM per),
        |t(source, target_share) AS (VALUES
        |  ('src0', CAST(0.35 AS DOUBLE)), ('src1', CAST(0.20 AS DOUBLE)),
        |  ('src2', CAST(0.12 AS DOUBLE)), ('src3', CAST(0.08 AS DOUBLE)),
        |  ('src4', CAST(0.05 AS DOUBLE))),
        |j AS (
        |  SELECT per.source, per.n_docs, per.n_tokens, t.target_share
        |  FROM per LEFT JOIN t USING (source)
        |), n AS (SELECT count(*) AS n_other FROM j WHERE target_share IS NULL),
        |s AS (
        |  SELECT j.source, j.n_docs, j.n_tokens,
        |    round(coalesce(j.target_share, CAST(0.2 AS DOUBLE) / n.n_other), 4) AS share
        |  FROM j CROSS JOIN n
        |), r AS (
        |  SELECT s.source, s.n_docs, s.n_tokens, s.share,
        |    round(least(1.0, b.budget * s.share / s.n_tokens), 4) AS rate
        |  FROM s CROSS JOIN b)
        |SELECT source, n_docs, n_tokens, share, rate,
        |  CAST(floor(rate * n_tokens) AS BIGINT) AS est_tokens
        |FROM r ORDER BY source""".stripMargin,
    // q_interleave: stride scheduling — w = 6 − token-mass quintile,
    // vt = rank·(60/w) exact BIGINT (60 = lcm(1..5)), pos = global rank
    // of (vt, source, doc_id); ntile ties broken by (n_tokens, source),
    // both engines assign the first n mod 5 buckets the extra row
    "q_interleave" ->
      """WITH stats AS (
        |  SELECT source,
        |    CAST(sum(len(string_split(text, ' '))) AS BIGINT) AS n_tokens
        |  FROM documents GROUP BY source
        |), wgt AS (
        |  SELECT source,
        |    CAST(6 - ntile(5) OVER (ORDER BY n_tokens, source) AS BIGINT) AS w
        |  FROM stats
        |), ranked AS (
        |  SELECT doc_id, source,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS rank_in_source
        |  FROM documents
        |), vt AS (
        |  SELECT doc_id, ranked.source, w, rank_in_source,
        |    CAST(rank_in_source * (60 // w) AS BIGINT) AS vt
        |  FROM ranked JOIN wgt ON ranked.source = wgt.source)
        |SELECT doc_id, source, w, rank_in_source, vt,
        |  CAST(row_number() OVER (ORDER BY vt, source, doc_id) AS BIGINT) AS pos
        |FROM vt ORDER BY pos""".stripMargin,
    "q_wau" ->
      // trailing-7-day distinct users per active day
      """WITH act AS (
        |  SELECT DISTINCT CAST(ts AS DATE) AS day, user_id FROM events
        |), days AS (SELECT DISTINCT day AS d FROM act)
        |SELECT d AS day, count(DISTINCT user_id) AS wau
        |FROM act JOIN days ON act.day >= d - INTERVAL 6 DAY AND act.day <= d
        |GROUP BY d ORDER BY day""".stripMargin,
    "q_cohort" ->
      // first-activity cohorts probed at offsets 0/1/7/14
      """WITH act AS (
        |  SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events
        |), first AS (
        |  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id)
        |SELECT f.cohort_day, CAST(datediff('day', f.cohort_day, a.day) AS BIGINT) AS day_offset,
        |  count(DISTINCT a.user_id) AS n_users
        |FROM act a JOIN first f USING (user_id)
        |WHERE datediff('day', f.cohort_day, a.day) IN (0, 1, 7, 14)
        |GROUP BY 1, 2 ORDER BY cohort_day, day_offset""".stripMargin,
    "q_basket" ->
      // within-order pair join (bounded group size), supports + lift
      """WITH items AS (
        |  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
        |), n AS (SELECT count(DISTINCT ok) AS n_orders FROM items
        |), supp AS (SELECT pk, count(*) AS supp FROM items GROUP BY pk
        |), pairs AS (
        |  SELECT a.pk AS p1, b.pk AS p2, count(*) AS n_both
        |  FROM items a JOIN items b ON a.ok = b.ok AND a.pk < b.pk
        |  GROUP BY 1, 2)
        |SELECT p1, p2, CAST(n_both AS BIGINT) AS n_both,
        |  round(CAST(CAST(n_both AS DECIMAL(38,0)) * n.n_orders AS DOUBLE)
        |    / CAST(CAST(s1.supp AS DECIMAL(38,0)) * s2.supp AS DOUBLE), 4) AS lift
        |FROM pairs
        |JOIN supp s1 ON pairs.p1 = s1.pk
        |JOIN supp s2 ON pairs.p2 = s2.pk
        |CROSS JOIN n
        |ORDER BY n_both DESC, p1, p2 LIMIT 100""".stripMargin,
    "q_abtest" ->
      // two-proportion pooled z; every double derives from exact counts
      """WITH u AS (
        |  SELECT user_id,
        |    max(CASE WHEN event_type = 'purchase' AND value > 150
        |        THEN 1 ELSE 0 END) AS conv
        |  FROM events GROUP BY user_id
        |), v AS (SELECT user_id % 2 AS variant, conv FROM u
        |), c AS (
        |  SELECT
        |    CAST(sum(CASE WHEN variant = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n0,
        |    CAST(sum(CASE WHEN variant = 0 THEN conv ELSE 0 END) AS BIGINT) AS c0,
        |    CAST(sum(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(sum(CASE WHEN variant = 1 THEN conv ELSE 0 END) AS BIGINT) AS c1
        |  FROM v)
        |SELECT n0, c0, n1, c1,
        |  round(CAST(c0 AS DOUBLE) / n0, 4) AS p0,
        |  round(CAST(c1 AS DOUBLE) / n1, 4) AS p1,
        |  round((CAST(c0 AS DOUBLE) / n0 - CAST(c1 AS DOUBLE) / n1) /
        |    sqrt(CAST(c0 + c1 AS DOUBLE) / (n0 + n1)
        |      * (1.0 - CAST(c0 + c1 AS DOUBLE) / (n0 + n1))
        |      * (1.0 / n0 + 1.0 / n1)), 4) AS z
        |FROM c""".stripMargin,
    "q_moments" ->
      // power sums exact in HUGEINT; the closing double expression
      // mirrors the Spark tree token-for-token (sqrt(m2)*m2, never
      // pow(m2,1.5) — libm pow is not correctly rounded)
      """WITH pts AS (
        |  SELECT l_returnflag, CAST(floor(l_quantity * 100) AS BIGINT) AS x
        |  FROM lineitem
        |), s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS s1,
        |    sum(CAST(x AS HUGEINT) * x) AS s2,
        |    sum(CAST(x AS HUGEINT) * x * x) AS s3,
        |    sum(CAST(x AS HUGEINT) * x * x * x) AS s4
        |  FROM pts GROUP BY 1
        |), d AS (
        |  SELECT l_returnflag, n,
        |    CAST(n AS DOUBLE) AS nd, CAST(s1 AS DOUBLE) AS s1d,
        |    CAST(s2 AS DOUBLE) AS s2d, CAST(s3 AS DOUBLE) AS s3d,
        |    CAST(s4 AS DOUBLE) AS s4d
        |  FROM s
        |), m AS (
        |  SELECT l_returnflag, n,
        |    (nd * s2d - s1d * s1d) / (nd * nd) AS m2,
        |    (nd * nd * s3d - 3.0 * nd * s1d * s2d + 2.0 * s1d * s1d * s1d)
        |      / (nd * nd * nd) AS m3,
        |    (nd * nd * nd * s4d - 4.0 * nd * nd * s1d * s3d
        |      + 6.0 * nd * s1d * s1d * s2d - 3.0 * s1d * s1d * s1d * s1d)
        |      / (nd * nd * nd * nd) AS m4
        |  FROM d)
        |SELECT l_returnflag, n AS n_items,
        |  CASE WHEN n < 2 OR m2 = 0.0 THEN 0.0
        |       ELSE round(m3 / (sqrt(m2) * m2), 6) END AS skewness,
        |  CASE WHEN n < 2 OR m2 = 0.0 THEN 0.0
        |       ELSE round(m4 / (m2 * m2) - 3.0, 6) END AS excess_kurtosis
        |FROM m ORDER BY l_returnflag""".stripMargin,
    "q_calendar" ->
      // generated date spine, zero source tables; 0 = Sunday numbering
      """WITH days AS (
        |  SELECT unnest(generate_series(DATE '2024-01-01', DATE '2024-06-30',
        |    INTERVAL 1 DAY))::DATE AS day)
        |SELECT strftime(day, '%Y-%m-%d') AS day,
        |  CAST(dayofweek(day) AS BIGINT) AS dow,
        |  CAST(weekofyear(day) AS BIGINT) AS iso_week,
        |  CAST(month(day) AS BIGINT) AS month,
        |  CAST(quarter(day) AS BIGINT) AS quarter,
        |  dayofweek(day) IN (0, 6) AS is_weekend
        |FROM days ORDER BY day""".stripMargin,
    "q_ema" ->
      // the same α=0.3 recurrence the Spark side folds over a sorted
      // array, here as a recursive CTE on the row-numbered day series.
      // The constants are cast ::DOUBLE so DuckDB multiplies the SAME
      // rounded double 0.3/0.7 that Spark does — an uncast 0.3 would be
      // DECIMAL(2,1)×BIGINT, exact until the addition, which differs from
      // double(0.3)·x by 1 ulp for some inputs and lets the recurrence
      // drift across the round(…, 6) boundary
      """WITH RECURSIVE daily AS (
        |  SELECT event_type, strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1, 2
        |), idx AS (
        |  SELECT event_type, day, cents,
        |    row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn
        |  FROM daily
        |), ema(event_type, day, rn, ema) AS (
        |  SELECT event_type, day, rn, CAST(cents AS DOUBLE)
        |  FROM idx WHERE rn = 1
        |  UNION ALL
        |  SELECT d.event_type, d.day, d.rn,
        |    0.3::DOUBLE * d.cents + 0.7::DOUBLE * e.ema
        |  FROM idx d JOIN ema e
        |    ON d.event_type = e.event_type AND d.rn = e.rn + 1)
        |SELECT event_type, day, round(ema, 6) AS ema_cents
        |FROM ema ORDER BY event_type, day""".stripMargin,
    "q_key_skew" ->
      """WITH per AS (
        |  SELECT l_orderkey, count(*) AS rows_per_key
        |  FROM lineitem GROUP BY 1)
        |SELECT count(*) AS n_keys,
        |  CAST(sum(rows_per_key) AS BIGINT) AS n_rows,
        |  round(quantile_cont(rows_per_key, 0.5), 4) AS p50_rows,
        |  round(quantile_cont(rows_per_key, 0.99), 4) AS p99_rows,
        |  CAST(max(rows_per_key) AS BIGINT) AS max_rows,
        |  round(CAST(max(rows_per_key) * count(*) AS DOUBLE)
        |    / sum(rows_per_key), 4) AS skew_ratio
        |FROM per""".stripMargin,
    "q_lateral" ->
      // identical LATERAL statement to the Spark side (table names aside)
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        |FROM customer c,
        |LATERAL (SELECT o_orderkey, o_totalprice FROM orders
        |         WHERE o_custkey = c.c_custkey
        |         ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        |WHERE c.c_custkey <= 100
        |ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""".stripMargin,
    "q_reachable" ->
      // IDENTICAL recursive statement to the Spark side (which runs it
      // through spark.sql over the same pair graph) — bounded-depth
      // UNION ALL recursion, min(hop) collapses path multiplicity
      s"""WITH RECURSIVE $minhashPairCtes,
        |reach(seed_id, doc_id, hop) AS (
        |  SELECT doc_id, doc_id, CAST(0 AS BIGINT) FROM documents WHERE doc_id < 50
        |  UNION ALL
        |  SELECT r.seed_id, e.dst, r.hop + 1
        |  FROM reach r
        |  JOIN (SELECT d1 AS src, d2 AS dst FROM pairs
        |        UNION ALL
        |        SELECT d2 AS src, d1 AS dst FROM pairs) e
        |    ON r.doc_id = e.src
        |  WHERE r.hop < 3)
        |SELECT seed_id, doc_id, CAST(min(hop) AS BIGINT) AS min_hop
        |FROM reach GROUP BY 1, 2 ORDER BY seed_id, doc_id""".stripMargin,
    "q_dedup_decisions" ->
      // cluster via recursive reachability (q_neardup_clusters), then
      // representative = longest doc (ties to lowest id), rest dropped
      s"""WITH RECURSIVE $minhashPairCtes,
        |edges AS (
        |  SELECT d1 AS src, d2 AS dst FROM pairs
        |  UNION ALL
        |  SELECT d2 AS src, d1 AS dst FROM pairs
        |), reach AS (
        |  SELECT doc_id AS src, doc_id AS dst FROM documents
        |  UNION
        |  SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
        |), clusters AS (
        |  SELECT src AS doc_id, min(dst) AS cluster_id FROM reach GROUP BY src
        |), dec AS (
        |  SELECT c.doc_id, c.cluster_id,
        |    first_value(c.doc_id) OVER (PARTITION BY c.cluster_id
        |      ORDER BY d.n_chars DESC, c.doc_id) AS rep_id
        |  FROM clusters c JOIN documents d ON c.doc_id = d.doc_id)
        |SELECT doc_id, cluster_id, rep_id, doc_id = rep_id AS keep
        |FROM dec ORDER BY doc_id""".stripMargin,
    "q_repeated_grams" ->
      // literal repeated 6-token spans across documents (exact-substring
      // dedup audit): distinct-doc frequency + total occurrences
      // gram identity is the 6-token TUPLE (list slice), matching the
      // engine's xxhash64 token-tuple keys; the display string joins
      // with '_' only AFTER grouping, so underscore-bearing tokens
      // cannot merge distinct grams — and ties ORDER BY the tuple too
      // (two distinct tuples can render the same string, and an equal
      // (df, string) key would leave the LIMIT 50 cut engine-dependent)
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), grams AS (
        |  SELECT doc_id, unnest(list_transform(range(1, len(t) - 4),
        |    j -> t[j:j+5])) AS g
        |  FROM toks WHERE len(t) >= 6)
        |SELECT array_to_string(g, '_') AS gram, count(DISTINCT doc_id) AS df,
        |  count(*) AS n_occurrences, min(doc_id) AS min_doc
        |FROM grams GROUP BY g HAVING count(DISTINCT doc_id) >= 2
        |ORDER BY df DESC, g LIMIT 50""".stripMargin,
    "q_dup_spans" ->
      // maximal duplicated-span islands: positions of cross-document
      // 6-grams (min(doc)<>max(doc) ≡ df>=2, no DISTINCT agg), merged
      // when starts are within 6 of each other (overlap or adjacency);
      // gram identity = the token tuple, matching the engine's xxhash64
      // tuple keys modulo the documented 64-bit collision bound
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 4)) AS j
        |  FROM toks WHERE len(t) >= 6
        |), grams AS (
        |  SELECT doc_id, j, t[j:j+5] AS g FROM pos
        |), dup AS (
        |  SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)
        |), hits AS (
        |  SELECT doc_id, j FROM grams JOIN dup USING (g)
        |), flag AS (
        |  SELECT doc_id, j, CASE WHEN j > coalesce(lag(j)
        |      OVER (PARTITION BY doc_id ORDER BY j), -10) + 6
        |    THEN 1 ELSE 0 END AS nw
        |  FROM hits
        |), isl AS (
        |  SELECT doc_id, j,
        |    sum(nw) OVER (PARTITION BY doc_id ORDER BY j) AS island
        |  FROM flag)
        |SELECT doc_id, min(j) AS span_start, max(j) + 5 AS span_end,
        |  max(j) + 5 - min(j) + 1 AS span_tokens
        |FROM isl GROUP BY doc_id, island
        |ORDER BY doc_id, span_start""".stripMargin,
    "q_dup_strip" ->
      // the cleaned corpus: tokens inside any duplicated span removed,
      // remainder reassembled in position order (both engines rebuild
      // from tokens, so whitespace normalization cancels); span-free and
      // too-short docs flow through with n_dup_tokens = 0
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 4)) AS j
        |  FROM toks WHERE len(t) >= 6
        |), grams AS (
        |  SELECT doc_id, j, t[j:j+5] AS g FROM pos
        |), dup AS (
        |  SELECT g FROM grams GROUP BY g HAVING min(doc_id) <> max(doc_id)
        |), hits AS (
        |  SELECT doc_id, j FROM grams JOIN dup USING (g)
        |), flag AS (
        |  SELECT doc_id, j, CASE WHEN j > coalesce(lag(j)
        |      OVER (PARTITION BY doc_id ORDER BY j), -10) + 6
        |    THEN 1 ELSE 0 END AS nw
        |  FROM hits
        |), isl AS (
        |  SELECT doc_id, j,
        |    sum(nw) OVER (PARTITION BY doc_id ORDER BY j) AS island
        |  FROM flag
        |), spans AS (
        |  SELECT doc_id, min(j) AS s, max(j) + 5 AS e
        |  FROM isl GROUP BY doc_id, island
        |), covered AS (
        |  SELECT doc_id, unnest(range(s, e + 1)) AS p FROM spans
        |), alltoks AS (
        |  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
        |  FROM toks
        |), kept AS (
        |  SELECT a.doc_id, a.p, a.tok
        |  FROM alltoks a LEFT JOIN covered c
        |    ON a.doc_id = c.doc_id AND a.p = c.p
        |  WHERE c.p IS NULL
        |), rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT t.doc_id, len(t.t) AS n_tokens,
        |  len(t.t) - coalesce(r.n_kept, 0) AS n_dup_tokens,
        |  coalesce(r.text_clean, '') AS text_clean
        |FROM toks t LEFT JOIN rebuilt r ON t.doc_id = r.doc_id
        |ORDER BY t.doc_id""".stripMargin,
    "q_strip_delta" ->
      // keep-first frozen-index strip over a deterministic split: odd
      // doc_ids probe an index of the even doc_ids' 6-grams — a position
      // strips iff its gram appears in ANY even doc or in a SMALLER odd
      // doc; islands + reconstruction as in q_dup_strip, odd docs only
      """WITH toks AS (
        |  SELECT doc_id, string_split(text, ' ') AS t FROM documents
        |), pos AS (
        |  SELECT doc_id, t, unnest(range(1, len(t) - 4)) AS j
        |  FROM toks WHERE len(t) >= 6
        |), grams AS (
        |  SELECT doc_id, j, t[j:j+5] AS g FROM pos
        |), seen AS (
        |  SELECT DISTINCT g FROM grams WHERE doc_id % 2 = 0
        |), oddmin AS (
        |  SELECT g, min(doc_id) AS md FROM grams
        |  WHERE doc_id % 2 = 1 GROUP BY g
        |), hits AS (
        |  SELECT gr.doc_id, gr.j
        |  FROM grams gr
        |  JOIN oddmin m ON gr.g = m.g
        |  LEFT JOIN seen s ON gr.g = s.g
        |  WHERE gr.doc_id % 2 = 1 AND (s.g IS NOT NULL OR gr.doc_id > m.md)
        |), flag AS (
        |  SELECT doc_id, j, CASE WHEN j > coalesce(lag(j)
        |      OVER (PARTITION BY doc_id ORDER BY j), -10) + 6
        |    THEN 1 ELSE 0 END AS nw
        |  FROM hits
        |), isl AS (
        |  SELECT doc_id, j,
        |    sum(nw) OVER (PARTITION BY doc_id ORDER BY j) AS island
        |  FROM flag
        |), spans AS (
        |  SELECT doc_id, min(j) AS s, max(j) + 5 AS e
        |  FROM isl GROUP BY doc_id, island
        |), covered AS (
        |  SELECT doc_id, unnest(range(s, e + 1)) AS p FROM spans
        |), odd AS (
        |  SELECT doc_id, t FROM toks WHERE doc_id % 2 = 1
        |), alltoks AS (
        |  SELECT doc_id, unnest(t) AS tok, generate_subscripts(t, 1) AS p
        |  FROM odd
        |), kept AS (
        |  SELECT a.doc_id, a.p, a.tok
        |  FROM alltoks a LEFT JOIN covered c
        |    ON a.doc_id = c.doc_id AND a.p = c.p
        |  WHERE c.p IS NULL
        |), rebuilt AS (
        |  SELECT doc_id, count(*) AS n_kept,
        |    string_agg(tok, ' ' ORDER BY p) AS text_clean
        |  FROM kept GROUP BY doc_id)
        |SELECT o.doc_id, len(o.t) AS n_tokens,
        |  len(o.t) - coalesce(r.n_kept, 0) AS n_dup_tokens,
        |  coalesce(r.text_clean, '') AS text_clean
        |FROM odd o LEFT JOIN rebuilt r ON o.doc_id = r.doc_id
        |ORDER BY o.doc_id""".stripMargin,
    "q_xcorr" ->
      // Pearson r from six exact sums (never the engine's double-summing
      // corr aggregate); doubles only in the closing ratio
      """WITH pts AS (
        |  SELECT l_returnflag,
        |    CAST(floor(l_quantity * 100) AS BIGINT) AS x,
        |    CAST(floor(l_extendedprice * 100) AS BIGINT) AS y
        |  FROM lineitem
        |), s AS (
        |  SELECT l_returnflag, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM pts GROUP BY 1)
        |SELECT l_returnflag, n AS n_items,
        |  CASE WHEN n < 2 OR n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |       THEN 0.0
        |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        |  END AS qty_price_corr
        |FROM s ORDER BY l_returnflag""".stripMargin,
    "q_gap_stats" ->
      // seconds since the same user's previous event, quantiled per type
      // of the LATER event; quantile_cont ≡ Spark percentile on integers
      """WITH gaps AS (
        |  SELECT event_type,
        |    CAST(floor(epoch(ts)) AS BIGINT)
        |      - lag(CAST(floor(epoch(ts)) AS BIGINT))
        |          OVER (PARTITION BY user_id ORDER BY ts, event_id) AS gap_s
        |  FROM events)
        |SELECT event_type, count(*) AS n_gaps,
        |  round(quantile_cont(gap_s, 0.5), 4) AS p50_gap_s,
        |  round(quantile_cont(gap_s, 0.9), 4) AS p90_gap_s,
        |  CAST(max(gap_s) AS BIGINT) AS max_gap_s
        |FROM gaps WHERE gap_s IS NOT NULL
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_gini" ->
      // ascending-rank Gini over per-customer cents; rank ties break on
      // custkey so Σ(i·x) is a total order on both engines
      """WITH spend AS (
        |  SELECT o_custkey, CAST(sum(CAST(floor(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM orders GROUP BY 1
        |), geo AS (
        |  SELECT c_custkey, r_name
        |  FROM customer
        |  JOIN nation ON c_nationkey = n_nationkey
        |  JOIN region ON n_regionkey = r_regionkey
        |), ranked AS (
        |  SELECT r_name, cents,
        |    row_number() OVER (PARTITION BY r_name ORDER BY cents, o_custkey) AS i
        |  FROM spend JOIN geo ON o_custkey = c_custkey
        |), agg AS (
        |  SELECT r_name AS region, count(*) AS n_customers,
        |    sum(CAST(cents AS HUGEINT)) AS s,
        |    sum(CAST(i AS HUGEINT) * cents) AS w
        |  FROM ranked GROUP BY 1)
        |SELECT region, n_customers,
        |  CASE WHEN s = 0 THEN 0.0
        |       ELSE round(CAST(2 * w - (n_customers + 1) * s AS DOUBLE)
        |              / CAST(n_customers * s AS DOUBLE), 6) END AS gini
        |FROM agg ORDER BY region""".stripMargin,
    "q_hhi" ->
      // concentration from exact cents sums: Σv² / (Σv)², no double share
      // ever summed
      """WITH per AS (
        |  SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day, event_type,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2
        |), agg AS (
        |  SELECT day, count(*) AS n_types,
        |    sum(CAST(v AS HUGEINT)) AS tot,
        |    sum(CAST(v AS HUGEINT) * v) AS sq
        |  FROM per GROUP BY 1)
        |SELECT day, n_types,
        |  CASE WHEN tot = 0 THEN 0.0
        |       ELSE round(CAST(sq AS DOUBLE) / CAST(tot * tot AS DOUBLE), 6)
        |  END AS hhi
        |FROM agg ORDER BY day""".stripMargin,
    "q_autocorr" ->
      // Pearson r of (yesterday, today) daily cents from six exact sums;
      // doubles only at the closing ratio (sqrt/divide are IEEE-exact)
      """WITH daily AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2
        |), pairs AS (
        |  SELECT event_type,
        |    lag(v) OVER (PARTITION BY event_type ORDER BY day) AS x, v AS y
        |  FROM daily
        |), s AS (
        |  SELECT event_type, count(*) AS n,
        |    sum(CAST(x AS HUGEINT)) AS sx, sum(CAST(y AS HUGEINT)) AS sy,
        |    sum(CAST(x AS HUGEINT) * y) AS sxy,
        |    sum(CAST(x AS HUGEINT) * x) AS sxx,
        |    sum(CAST(y AS HUGEINT) * y) AS syy
        |  FROM pairs WHERE x IS NOT NULL GROUP BY 1)
        |SELECT event_type, n AS n_pairs,
        |  CASE WHEN n < 2 OR n * sxx - sx * sx = 0 OR n * syy - sy * sy = 0
        |       THEN 0.0
        |       ELSE round(CAST(n * sxy - sx * sy AS DOUBLE)
        |              / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
        |               * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
        |  END AS lag1_autocorr
        |FROM s ORDER BY event_type""".stripMargin,
    "q_pareto" ->
      // 80% coverage test as the exact integer comparison 5·cum ≥ 4·tot
      """WITH per AS (
        |  SELECT event_type, user_id,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS v
        |  FROM events GROUP BY 1, 2
        |), ranked AS (
        |  SELECT event_type, v,
        |    row_number() OVER (PARTITION BY event_type ORDER BY v DESC, user_id) AS rn,
        |    sum(CAST(v AS HUGEINT)) OVER (PARTITION BY event_type ORDER BY v DESC, user_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
        |    sum(CAST(v AS HUGEINT)) OVER (PARTITION BY event_type) AS tot,
        |    count(*) OVER (PARTITION BY event_type) AS n_users
        |  FROM per)
        |SELECT event_type, max(n_users) AS n_users,
        |  CAST(min(rn) AS BIGINT) AS users_to_80,
        |  round(CAST(min(rn) AS DOUBLE) / max(n_users), 4) AS user_share
        |FROM ranked WHERE cum * 5 >= tot * 4
        |GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_seasonality" ->
      // 0 = Sunday on both engines (DuckDB dayofweek ≡ Spark dayofweek−1)
      """WITH per AS (
        |  SELECT CAST(dayofweek(CAST(ts AS DATE)) AS BIGINT) AS dow,
        |    count(*) AS n_events,
        |    CAST(sum(CAST(floor(value * 100) AS BIGINT)) AS BIGINT) AS cents
        |  FROM events GROUP BY 1
        |), tot AS (SELECT sum(CAST(cents AS HUGEINT)) AS tot FROM per)
        |SELECT dow, n_events, cents,
        |  CASE WHEN tot = 0 THEN 0.0
        |       ELSE round(CAST(cents AS DOUBLE) / CAST(tot AS DOUBLE), 4)
        |  END AS rev_share,
        |  CASE WHEN tot = 0 THEN 0.0
        |       ELSE round(CAST(cents AS DOUBLE) * 7 / CAST(tot AS DOUBLE), 4)
        |  END AS rev_index
        |FROM per, tot ORDER BY dow""".stripMargin,
    "q_ttr" ->
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens,
        |  CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT) AS n_types,
        |  round(CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
        |    / len(string_split(text, ' ')), 4) AS ttr
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_hapax" ->
      """WITH tf AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok
        |  FROM documents
        |), freq AS (
        |  SELECT source, tok, count(*) AS f FROM tf GROUP BY 1, 2)
        |SELECT source, count(*) AS vocab,
        |  CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax,
        |  round(CAST(sum(CASE WHEN f = 1 THEN 1 ELSE 0 END) AS DOUBLE)
        |    / count(*), 4) AS hapax_rate
        |FROM freq GROUP BY 1 ORDER BY source""".stripMargin,
    "q_split" ->
      s"""WITH s AS (
        |  SELECT $splitCaseSql AS split, lang,
        |    len(string_split(text, ' ')) AS toks
        |  FROM documents)
        |SELECT split, lang, count(*) AS n_docs,
        |  CAST(sum(toks) AS BIGINT) AS n_tokens
        |FROM s GROUP BY 1, 2 ORDER BY split, lang""".stripMargin,
    "q_leakage" ->
      // same LSH pair graph as q_minhash_lsh, filtered to cross-split edges
      s"""WITH $minhashPairCtes,
        |splits AS (SELECT doc_id, $splitCaseSql AS split FROM documents)
        |SELECT p.d1, p.d2, s1.split AS split1, s2.split AS split2
        |FROM pairs p
        |JOIN splits s1 ON p.d1 = s1.doc_id
        |JOIN splits s2 ON p.d2 = s2.doc_id
        |WHERE s1.split <> s2.split
        |ORDER BY d1, d2""".stripMargin,
    "q_contamination" ->
      // word 4-grams of the test split probed against train docs. Gram
      // identity is the 4-token TUPLE (list slice), matching the
      // engine's xxhash64 token-tuple keys — the q_repetition
      // convention: a '_'-joined string would merge ("a_b","c") with
      // ("a","b_c") on underscore-bearing text (same CTE in
      // q_overlap_frac and q_novelty)
      s"""WITH grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, len(string_split(text, ' ')) - 2),
        |      j -> string_split(text, ' ')[j:j+3])) AS gram
        |    FROM documents) raw
        |), splits AS (SELECT doc_id, $splitCaseSql AS split FROM documents
        |), test_grams AS (
        |  SELECT DISTINCT gram FROM grams JOIN splits USING (doc_id)
        |  WHERE split = 'test')
        |SELECT g.doc_id, count(*) AS n_shared_grams
        |FROM grams g
        |JOIN splits s USING (doc_id)
        |JOIN test_grams t USING (gram)
        |WHERE s.split = 'train'
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_overlap_frac" ->
      // pairwise (test, train) 4-gram overlap fraction; 30% gate as the
      // exact integer comparison 10·shared ≥ 3·total
      s"""WITH grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, len(string_split(text, ' ')) - 2),
        |      j -> string_split(text, ' ')[j:j+3])) AS gram
        |    FROM documents) raw
        |), splits AS (SELECT doc_id, $splitCaseSql AS split FROM documents
        |), test_g AS (
        |  SELECT g.doc_id AS test_doc, g.gram FROM grams g
        |  JOIN splits s USING (doc_id) WHERE s.split = 'test'
        |), train_g AS (
        |  SELECT g.doc_id AS train_doc, g.gram FROM grams g
        |  JOIN splits s USING (doc_id) WHERE s.split = 'train'
        |), totals AS (
        |  SELECT test_doc, count(*) AS n_test_grams FROM test_g GROUP BY 1
        |), pairs AS (
        |  SELECT t.test_doc, r.train_doc, count(*) AS n_shared
        |  FROM test_g t JOIN train_g r USING (gram)
        |  GROUP BY 1, 2)
        |SELECT p.test_doc, p.train_doc, p.n_shared, tt.n_test_grams,
        |  round(CAST(p.n_shared AS DOUBLE) / tt.n_test_grams, 4) AS overlap_frac
        |FROM pairs p JOIN totals tt USING (test_doc)
        |WHERE p.n_shared * 10 >= tt.n_test_grams * 3
        |ORDER BY test_doc, train_doc""".stripMargin,
    "q_repetition" ->
      // duplicate-bigram mass; ratios divide exact BIGINT sums. Bigram
      // identity is the token PAIR (a 2-element list), matching the
      // engine's xxhash64(tok_i, tok_{i+1}) tuple keys — a '_'-joined
      // string would merge ("a_b","c") with ("a","b_c") on text that
      // contains underscores
      """WITH toks AS (
        |  SELECT doc_id, source, string_split(text, ' ') AS t FROM documents
        |), d AS (
        |  SELECT doc_id, any_value(source) AS source,
        |    CAST(count(*) AS BIGINT) AS n_grams,
        |    CAST(count(DISTINCT (t[j], t[j+1])) AS BIGINT) AS n_distinct
        |  FROM toks, unnest(range(1, len(t))) AS u(j)
        |  GROUP BY doc_id)
        |SELECT source, count(*) AS n_docs,
        |  round(1.0 - CAST(sum(n_distinct) AS DOUBLE) / CAST(sum(n_grams) AS DOUBLE), 4)
        |    AS avg_rep,
        |  CAST(sum(CASE WHEN 1.0 - CAST(n_distinct AS DOUBLE) / n_grams > 0.1
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged
        |FROM d GROUP BY source ORDER BY source""".stripMargin,
    "q_class_balance" ->
      // identical integer threshold + Knuth-hash bucket on both engines
      """WITH c AS (
        |  SELECT event_type, count(*) AS n_total FROM events GROUP BY 1
        |), t AS (
        |  SELECT event_type, CAST(n_total AS BIGINT) AS n_total,
        |    CAST(least(10000, (10000 * 2000) // n_total) AS BIGINT) AS threshold
        |  FROM c)
        |SELECT e.event_type, t.n_total, t.threshold,
        |  CAST(sum(CASE WHEN ((((e.event_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 10000 < t.threshold
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
        |  round(CAST(sum(CASE WHEN ((((e.event_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 10000 < t.threshold
        |    THEN 1 ELSE 0 END) AS DOUBLE) / t.n_total, 4) AS kept_rate
        |FROM events e JOIN t USING (event_type)
        |GROUP BY 1, 2, 3 ORDER BY event_type""".stripMargin,
    "q_novelty" ->
      // first-seen gram owner = min(doc_id); same gram CTE as
      // q_contamination
      """WITH grams AS (
        |  SELECT DISTINCT doc_id, gram FROM (
        |    SELECT doc_id, unnest(list_transform(
        |      range(1, len(string_split(text, ' ')) - 2),
        |      j -> string_split(text, ' ')[j:j+3])) AS gram
        |    FROM documents) raw
        |), fs AS (SELECT gram, min(doc_id) AS first_doc FROM grams GROUP BY 1)
        |SELECT g.doc_id, count(*) AS n_grams,
        |  CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_novel,
        |  round(CAST(sum(CASE WHEN f.first_doc = g.doc_id THEN 1 ELSE 0 END)
        |    AS DOUBLE) / count(*), 4) AS novelty
        |FROM grams g JOIN fs f USING (gram)
        |GROUP BY 1 ORDER BY doc_id""".stripMargin,
    "q_zipf" ->
      // the identical left-associated fold order as the Spark aggregate()
      // sweep, via a recursive CTE in rank order (the q_ema pattern);
      // slope/intercept repeat the same closed form textually
      """WITH RECURSIVE cf AS (
        |  SELECT tok, count(*) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
        |  GROUP BY 1
        |), idx AS (
        |  SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM cf
        |), acc(r, sx, sy, sxy, sxx) AS (
        |  SELECT CAST(1 AS BIGINT), ln(CAST(1 AS DOUBLE)), ln(CAST(f AS DOUBLE)),
        |    ln(CAST(1 AS DOUBLE)) * ln(CAST(f AS DOUBLE)),
        |    ln(CAST(1 AS DOUBLE)) * ln(CAST(1 AS DOUBLE))
        |  FROM idx WHERE r = 1
        |  UNION ALL
        |  SELECT i.r, a.sx + ln(CAST(i.r AS DOUBLE)), a.sy + ln(CAST(i.f AS DOUBLE)),
        |    a.sxy + ln(CAST(i.r AS DOUBLE)) * ln(CAST(i.f AS DOUBLE)),
        |    a.sxx + ln(CAST(i.r AS DOUBLE)) * ln(CAST(i.r AS DOUBLE))
        |  FROM idx i JOIN acc a ON i.r = a.r + 1
        |), fin AS (SELECT * FROM acc ORDER BY r DESC LIMIT 1)
        |SELECT r AS n_terms,
        |  round((r * sxy - sx * sy) / (r * sxx - sx * sx), 4) AS slope,
        |  round((sy - (r * sxy - sx * sy) / (r * sxx - sx * sx) * sx) / r, 4)
        |    AS intercept
        |FROM fin""".stripMargin,
    "q_simpson" ->
      // collision probability from exact integer sums; only the final
      // ratio is a double
      """WITH tfx AS (
        |  SELECT source, tok, count(*) AS tf FROM (
        |    SELECT source, unnest(string_split(text, ' ')) AS tok
        |    FROM documents) u
        |  GROUP BY 1, 2)
        |SELECT source, count(*) AS n_types,
        |  CAST(sum(tf) AS BIGINT) AS n_tokens,
        |  CAST(sum(tf * (tf - 1)) AS BIGINT) AS n_pairs_same,
        |  round(CAST(sum(tf * (tf - 1)) AS DOUBLE)
        |    / (CAST(sum(tf) AS BIGINT) * (CAST(sum(tf) AS BIGINT) - 1)), 6)
        |    AS simpson
        |FROM tfx GROUP BY 1 ORDER BY source""".stripMargin,
    "q_alloc" ->
      // largest-remainder rounding in exact integer cents; ties among
      // bit-identical fixture rows leave the output MULTISET invariant
      """WITH li AS (
        |  SELECT l_orderkey, l_linenumber,
        |    CAST(floor(l_quantity) AS BIGINT) AS qty
        |  FROM lineitem
        |), o AS (
        |  SELECT o_orderkey AS l_orderkey,
        |    CAST(floor(o_totalprice * 100) AS BIGINT) AS t_c
        |  FROM orders
        |), w AS (
        |  SELECT li.*, o.t_c,
        |    sum(qty) OVER (PARTITION BY li.l_orderkey) AS q_tot
        |  FROM li JOIN o USING (l_orderkey)
        |), b AS (
        |  SELECT *, (t_c * qty) // q_tot AS base, (t_c * qty) % q_tot AS rem
        |  FROM w
        |), r AS (
        |  SELECT *,
        |    row_number() OVER (PARTITION BY l_orderkey
        |      ORDER BY rem DESC, l_linenumber, qty) AS rk,
        |    sum(base) OVER (PARTITION BY l_orderkey) AS sb
        |  FROM b)
        |SELECT l_orderkey, l_linenumber, qty,
        |  CAST(base + CASE WHEN rk <= t_c - sb THEN 1 ELSE 0 END AS BIGINT)
        |    AS alloc_c
        |FROM r ORDER BY l_orderkey, l_linenumber, qty, alloc_c""".stripMargin,
    "q_ltv" ->
      // cumulative DECIMAL revenue per cohort age; doubles only at display
      """WITH act AS (
        |  SELECT user_id, CAST(ts AS DATE) AS day, event_type, value
        |  FROM events
        |), fst AS (
        |  SELECT user_id, min(day) AS cohort_day FROM act GROUP BY 1
        |), sizes AS (
        |  SELECT cohort_day, count(*) AS cohort_users FROM fst GROUP BY 1
        |), rev AS (
        |  SELECT f.cohort_day,
        |    CAST(datediff('day', f.cohort_day, a.day) AS BIGINT) AS age,
        |    sum(CAST(a.value AS DECIMAL(18,2))) AS rev_dec
        |  FROM act a JOIN fst f USING (user_id)
        |  WHERE a.event_type = 'purchase'
        |  GROUP BY 1, 2
        |), cum AS (
        |  SELECT cohort_day, age, rev_dec,
        |    sum(rev_dec) OVER (PARTITION BY cohort_day ORDER BY age) AS cum_dec
        |  FROM rev)
        |SELECT c.cohort_day, c.age,
        |  CAST(round(c.rev_dec, 2) AS DOUBLE) AS rev,
        |  CAST(round(c.cum_dec, 2) AS DOUBLE) AS cum_rev,
        |  CAST(s.cohort_users AS BIGINT) AS cohort_users,
        |  ((CAST(c.cum_dec * 100 AS BIGINT) * 100) // s.cohort_users) / 10000.0
        |    AS ltv
        |FROM cum c JOIN sizes s USING (cohort_day)
        |ORDER BY cohort_day, age""".stripMargin,
    "q_cond_entropy" ->
      // identical (u,v)-sorted fold; list_reduce's first-element seed
      // equals Spark's 0.0-seeded fold because 0.0 + t1 is IEEE-exact
      """WITH toks AS (
        |  SELECT string_split(text, ' ') AS t FROM documents
        |), pairs AS (
        |  SELECT unnest(list_transform(range(1, len(t)),
        |    j -> struct_pack(u := t[j], v := t[j + 1]))) AS p
        |  FROM toks
        |), cuv AS (
        |  SELECT p.u AS u, p.v AS v, count(*) AS c FROM pairs GROUP BY 1, 2
        |), cu AS (
        |  SELECT u, CAST(sum(c) AS BIGINT) AS cu FROM cuv GROUP BY 1
        |), j AS (
        |  SELECT cuv.u, cuv.v, CAST(cuv.c AS BIGINT) AS c, cu.cu
        |  FROM cuv JOIN cu USING (u)
        |), agg AS (
        |  SELECT CAST(sum(c) AS BIGINT) AS n, count(*) AS n_bigram_types,
        |    list_sort(list(struct_pack(u := u, v := v, c := c, cu := cu))) AS l
        |  FROM j)
        |SELECT n AS n_bigrams, n_bigram_types,
        |  round(list_reduce(
        |    list_transform(l, e ->
        |      -(CAST(e.c AS DOUBLE) / n) * ln(CAST(e.c AS DOUBLE) / e.cu)),
        |    (a, b) -> a + b), 4) AS cond_entropy
        |FROM agg""".stripMargin,
    "q_coverage" ->
      // exact integer covered-mass per K; the only double is the share
      """WITH cf AS (
        |  SELECT tok, count(*) AS f FROM (
        |    SELECT unnest(string_split(text, ' ')) AS tok FROM documents) u
        |  GROUP BY 1
        |), ranked AS (
        |  SELECT f, row_number() OVER (ORDER BY f DESC, tok) AS r FROM cf
        |), tot AS (
        |  SELECT CAST(sum(f) AS BIGINT) AS n, count(*) AS v FROM cf
        |), ks AS (SELECT CAST(unnest([1, 2, 5, 10, 20, 50]) AS BIGINT) AS k)
        |SELECT ks.k, least(ks.k, t.v) AS n_terms,
        |  CAST(sum(CASE WHEN r.r <= ks.k THEN r.f ELSE 0 END) AS BIGINT)
        |    AS covered,
        |  round(CAST(sum(CASE WHEN r.r <= ks.k THEN r.f ELSE 0 END) AS DOUBLE)
        |    / t.n, 4) AS coverage
        |FROM ks CROSS JOIN ranked r CROSS JOIN tot t
        |GROUP BY ks.k, t.v, t.n ORDER BY k""".stripMargin,
    "q_kanon" ->
      // generalization ladder as a UNION of three grouping keys; all
      // counts exact BIGINT, the only double is risk_rate (rounded once)
      """WITH lv AS (
        |  SELECT 'L0_band500' AS level, CAST(c_nationkey AS BIGINT) AS nation,
        |    floor(c_acctbal / 500) AS band, c_mktsegment AS sens FROM customer
        |  UNION ALL
        |  SELECT 'L1_band2000', CAST(c_nationkey AS BIGINT),
        |    floor(c_acctbal / 2000), c_mktsegment FROM customer
        |  UNION ALL
        |  SELECT 'L2_nation', CAST(c_nationkey AS BIGINT), NULL,
        |    c_mktsegment FROM customer
        |), g AS (
        |  SELECT level, nation, band, CAST(count(*) AS BIGINT) AS k,
        |    CAST(count(DISTINCT sens) AS BIGINT) AS l
        |  FROM lv GROUP BY 1, 2, 3)
        |SELECT level,
        |  CAST(count(*) AS BIGINT) AS n_groups,
        |  min(k) AS min_k,
        |  CAST(sum(CASE WHEN k < 5 THEN 1 ELSE 0 END) AS BIGINT) AS n_risky_groups,
        |  CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS BIGINT) AS risk_rows,
        |  round(CAST(sum(CASE WHEN k < 5 THEN k ELSE 0 END) AS DOUBLE)
        |    / sum(k), 4) AS risk_rate,
        |  min(l) AS min_l,
        |  CAST(sum(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_homog_groups
        |FROM g GROUP BY level ORDER BY level""".stripMargin,
    "q_transitions" ->
      // consecutive-pair lead per user; probabilities divide exact counts
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events
        |), pairs AS (
        |  SELECT event_type AS src, dst, count(*) AS n
        |  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
        |), tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM pairs GROUP BY 1)
        |SELECT src, dst, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / tot, 4) AS p
        |FROM pairs JOIN tot USING (src) ORDER BY src, dst""".stripMargin,
    // q_markov: 5 chained power-iteration CTEs; each per-state sum folds
    // the source-sorted term list, every term (pi*n)/tot with exact
    // integer n, tot — iteration k bit-identical on both engines
    "q_markov" ->
      """WITH seq AS (
        |  SELECT user_id, event_type,
        |    lead(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id) AS dst
        |  FROM events
        |), pairs AS (
        |  SELECT event_type AS src, dst, count(*) AS n
        |  FROM seq WHERE dst IS NOT NULL GROUP BY 1, 2
        |), tot AS (SELECT src, CAST(sum(n) AS BIGINT) AS tot FROM pairs GROUP BY 1
        |), p AS (SELECT pairs.src, dst, CAST(n AS BIGINT) AS n, tot
        |         FROM pairs JOIN tot USING (src)
        |), s0 AS (
        |  SELECT src AS state, 1.0::DOUBLE / (SELECT count(*) FROM tot) AS pi
        |  FROM tot
        |), s1 AS (
        |  SELECT dst AS state, list_sum(list_transform(list_sort(
        |    list(struct_pack(src := src, term := (pi * n) / tot))),
        |    x -> x.term)) AS pi
        |  FROM p JOIN s0 ON p.src = s0.state GROUP BY dst
        |), s2 AS (
        |  SELECT dst AS state, list_sum(list_transform(list_sort(
        |    list(struct_pack(src := src, term := (pi * n) / tot))),
        |    x -> x.term)) AS pi
        |  FROM p JOIN s1 ON p.src = s1.state GROUP BY dst
        |), s3 AS (
        |  SELECT dst AS state, list_sum(list_transform(list_sort(
        |    list(struct_pack(src := src, term := (pi * n) / tot))),
        |    x -> x.term)) AS pi
        |  FROM p JOIN s2 ON p.src = s2.state GROUP BY dst
        |), s4 AS (
        |  SELECT dst AS state, list_sum(list_transform(list_sort(
        |    list(struct_pack(src := src, term := (pi * n) / tot))),
        |    x -> x.term)) AS pi
        |  FROM p JOIN s3 ON p.src = s3.state GROUP BY dst
        |), s5 AS (
        |  SELECT dst AS state, list_sum(list_transform(list_sort(
        |    list(struct_pack(src := src, term := (pi * n) / tot))),
        |    x -> x.term)) AS pi
        |  FROM p JOIN s4 ON p.src = s4.state GROUP BY dst)
        |SELECT state, tot AS n_out, round(pi, 6) AS pi
        |FROM s5 JOIN tot ON tot.src = s5.state
        |ORDER BY state""".stripMargin,
    "q_concurrency" ->
      // sweep-line: explicit ROWS frame (RANGE default would sum peers);
      // ends (-1) sort before starts (+1) at the same instant
      """WITH d AS (
        |  SELECT event_type, ts AS t, 1 AS delta FROM events
        |  UNION ALL
        |  SELECT event_type, ts + INTERVAL 1 HOUR, -1 FROM events
        |), r AS (
        |  SELECT event_type, sum(delta) OVER (
        |    PARTITION BY event_type ORDER BY t, delta
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS conc
        |  FROM d)
        |SELECT event_type, CAST(max(conc) AS BIGINT) AS peak
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,
    "q_attribution" ->
      """WITH marked AS (
        |  SELECT user_id, event_id, event_type, ts,
        |    last_value(CASE WHEN event_type = 'click' THEN event_id END IGNORE NULLS)
        |      OVER w AS click_id,
        |    last_value(CASE WHEN event_type = 'click' THEN ts END IGNORE NULLS)
        |      OVER w AS click_ts
        |  FROM events
        |  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING))
        |SELECT user_id, event_id AS purchase_id, click_id,
        |  CAST(floor(epoch(ts)) AS BIGINT)
        |    - CAST(floor(epoch(click_ts)) AS BIGINT) AS latency_s
        |FROM marked
        |WHERE event_type = 'purchase' AND click_id IS NOT NULL
        |ORDER BY purchase_id""".stripMargin,
    "q_trend" ->
      // OLS over exact integer sums; doubles only at the two divisions
      """WITH pts AS (
        |  SELECT event_type,
        |    CAST(datediff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS BIGINT) AS x,
        |    CAST(floor(value * 100) AS BIGINT) AS y
        |  FROM events
        |), s AS (
        |  SELECT event_type, count(*) AS n,
        |    CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |    CAST(sum(x * y) AS BIGINT) AS sxy, CAST(sum(x * x) AS BIGINT) AS sxx
        |  FROM pts GROUP BY 1
        |), sl AS (
        |  SELECT *, CAST(n * sxy - sx * sy AS DOUBLE) / (n * sxx - sx * sx) AS slope
        |  FROM s)
        |SELECT event_type, n,
        |  round(slope, 6) AS slope_cents_per_day,
        |  round(CAST(sy - slope * sx AS DOUBLE) / n, 4) AS intercept_cents
        |FROM sl ORDER BY event_type""".stripMargin,
    "q_multi_distinct" ->
      """SELECT event_type,
        |  count(DISTINCT user_id) AS n_users,
        |  count(DISTINCT CAST(ts AS DATE)) AS n_days,
        |  count(*) AS n_events
        |FROM events GROUP BY 1 ORDER BY event_type""".stripMargin,
    "q_dpp" ->
      // Sunday filter: DuckDB dayofweek is 0 = Sunday (Spark: 1)
      """SELECT strftime(CAST(ts AS DATE), '%Y-%m-%d') AS day,
        |  count(*) AS n_events,
        |  CAST(round(sum(CAST(value AS DECIMAL(18,2))), 2) AS DOUBLE) AS total_value
        |FROM events
        |WHERE dayofweek(CAST(ts AS DATE)) = 0
        |GROUP BY 1 ORDER BY day""".stripMargin,
    "q_rfm" ->
      // quintiles over the per-user frame; user_id tiebreak makes ntile
      // assignment a total order on both engines
      """WITH maxd AS (SELECT max(CAST(ts AS DATE)) AS mx FROM events
        |), per AS (
        |  SELECT user_id, max(CAST(ts AS DATE)) AS last_day,
        |    count(*) AS frequency,
        |    sum(CAST(value AS DECIMAL(18,2))) AS monetary_dec
        |  FROM events WHERE event_type = 'purchase' GROUP BY 1
        |), sc AS (
        |  SELECT user_id,
        |    CAST(datediff('day', last_day, mx) AS BIGINT) AS recency,
        |    frequency,
        |    CAST(round(monetary_dec, 2) AS DOUBLE) AS monetary,
        |    6 - ntile(5) OVER (ORDER BY datediff('day', last_day, mx), user_id) AS r_score,
        |    6 - ntile(5) OVER (ORDER BY frequency DESC, user_id) AS f_score,
        |    6 - ntile(5) OVER (ORDER BY monetary_dec DESC, user_id) AS m_score
        |  FROM per CROSS JOIN maxd)
        |SELECT user_id, recency, frequency, monetary,
        |  r_score, f_score, m_score,
        |  CASE WHEN r_score >= 4 AND f_score >= 4 THEN 'champion'
        |       WHEN r_score <= 2 AND f_score >= 4 THEN 'at_risk'
        |       WHEN f_score <= 2 AND r_score >= 4 THEN 'new'
        |       ELSE 'regular' END AS segment
        |FROM sc ORDER BY user_id""".stripMargin,
    "q_signature" ->
      """WITH u AS (
        |  SELECT user_id,
        |    array_to_string(list_sort(list(DISTINCT event_type)), '>') AS signature
        |  FROM events WHERE CAST(ts AS DATE) <= DATE '2024-01-03' GROUP BY 1)
        |SELECT signature, count(*) AS n_users
        |FROM u GROUP BY 1 ORDER BY n_users DESC, signature""".stripMargin,
    "q_join_outer" ->
      """WITH c AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_clicks
        |  FROM events WHERE event_type = 'click' GROUP BY 1, 2
        |), e AS (
        |  SELECT user_id, CAST(ts AS DATE) AS d, count(*) AS n_errors
        |  FROM events WHERE event_type = 'error' GROUP BY 1, 2)
        |SELECT user_id, strftime(d, '%Y-%m-%d') AS day,
        |  coalesce(n_clicks, 0) AS n_clicks,
        |  coalesce(n_errors, 0) AS n_errors,
        |  CASE WHEN coalesce(n_clicks, 0) > 0 AND coalesce(n_errors, 0) > 0 THEN 'both'
        |       WHEN coalesce(n_clicks, 0) > 0 THEN 'clicks_only'
        |       ELSE 'errors_only' END AS status
        |FROM c FULL JOIN e USING (user_id, d)
        |ORDER BY user_id, day""".stripMargin,
    "q_abandon" ->
      // textbook correlated NOT EXISTS — an INDEPENDENT algorithm from
      // the engine's forward-carry window (q_skyline pattern); the lex
      // (ts, event_id) tiebreak makes both define "after" identically
      """WITH clicks AS (
        |  SELECT user_id, event_id, ts FROM events WHERE event_type = 'click'
        |), flagged AS (
        |  SELECT CAST(c.ts AS DATE) AS d,
        |    CASE WHEN NOT EXISTS (
        |      SELECT 1 FROM events p
        |      WHERE p.user_id = c.user_id AND p.event_type = 'purchase'
        |        AND (p.ts > c.ts OR (p.ts = c.ts AND p.event_id > c.event_id))
        |        AND p.ts <= c.ts + INTERVAL 1 HOUR)
        |      THEN 1 ELSE 0 END AS abandoned
        |  FROM clicks c)
        |SELECT strftime(d, '%Y-%m-%d') AS day,
        |  count(*) AS n_clicks,
        |  CAST(sum(abandoned) AS BIGINT) AS n_abandoned,
        |  round(CAST(sum(abandoned) AS DOUBLE) / count(*), 4) AS abandon_rate
        |FROM flagged GROUP BY 1 ORDER BY day""".stripMargin,
    "q_benford" ->
      """WITH d AS (
        |  SELECT substr(CAST(CAST(floor(value * 100) AS BIGINT) AS VARCHAR), 1, 1)
        |    AS digit, count(*) AS n
        |  FROM events GROUP BY 1
        |), t AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM d)
        |SELECT digit, CAST(n AS BIGINT) AS n,
        |  round(CAST(n AS DOUBLE) / total, 4) AS share
        |FROM d CROSS JOIN t ORDER BY digit""".stripMargin,
    "q_skyline" ->
      // textbook quadratic NOT-EXISTS dominance — deliberately a
      // DIFFERENT algorithm than the engine's sorted running-max window,
      // so the oracle checks the algebra, not a restatement of it
      """WITH e AS (
        |  SELECT event_type, CAST(ts AS DATE) AS day, event_id, value,
        |    CAST(floor(epoch(ts)) AS BIGINT) AS ts_sec
        |  FROM events)
        |SELECT event_type, day, event_id, value, ts_sec
        |FROM e
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM e d
        |  WHERE d.event_type = e.event_type AND d.day = e.day
        |    AND d.value >= e.value AND d.ts_sec >= e.ts_sec
        |    AND (d.value > e.value OR d.ts_sec > e.ts_sec))
        |ORDER BY event_type, day, event_id""".stripMargin,
    "q_pack" ->
      // concat-and-chunk packing: running token sum per source, integer
      // div/mod against the 2048 budget
      """WITH d AS (
        |  SELECT source, doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok
        |  FROM documents
        |), s AS (
        |  SELECT source, doc_id, n_tok,
        |    CAST(coalesce(sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
        |  FROM d)
        |SELECT source, doc_id, n_tok,
        |  start_off % 2048 AS offset,
        |  start_off // 2048 AS seq_id,
        |  ((start_off + n_tok - 1) // 2048) > (start_off // 2048) AS spans_cut
        |FROM s ORDER BY source, doc_id""".stripMargin,
    "q_sample" ->
      // stratified Bernoulli with the q_wsample integer-hash uniform;
      // keep iff u <= fraction(lang). The CASE is generated from
      // TextOps.SampleFractions so the two sides cannot drift.
      s"""WITH d AS (
        |  SELECT doc_id, lang, source,
        |    CAST(((((doc_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000003.0 AS u,
        |    ${TextOps.sampleFractionSql} AS f
        |  FROM documents)
        |SELECT doc_id, lang, source FROM d
        |WHERE u <= f ORDER BY doc_id""".stripMargin,
    "q_wsample" ->
      // Efraimidis-Spirakis weighted top-5 per source with a deterministic
      // integer-hash uniform, so the draw is engine-neutral and checkable
      """WITH d AS (
        |  SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tok,
        |    CAST(((((doc_id % 2147483647) + 2147483647) % 2147483647) * 2654435761) % 1000003 + 1 AS DOUBLE) / 1000003.0 AS u
        |  FROM documents
        |), k AS (
        |  SELECT doc_id, source, n_tok,
        |    round(pow(u, CAST(1.0 AS DOUBLE) / n_tok), 8) AS skey
        |  FROM d
        |), r AS (
        |  SELECT source, doc_id, n_tok, skey,
        |    CAST(row_number() OVER (PARTITION BY source ORDER BY skey DESC, doc_id) AS BIGINT) AS rank
        |  FROM k)
        |SELECT source, rank, doc_id, n_tok, skey
        |FROM r WHERE rank <= 5 ORDER BY source, rank""".stripMargin,
    "q_zorder" ->
      // the same 32 shift/mask interleave terms Layout.zkey16 emits,
      // generated from the shared bit-index loop (zkey16Sql)
      s"""SELECT l_orderkey, CAST(l_linenumber AS BIGINT) AS l_linenumber,
        |  l_partkey, l_suppkey,
        |  CAST(${operators.Layout.zkey16Sql("l_partkey", "l_suppkey")} AS BIGINT) AS zkey
        |FROM lineitem
        |ORDER BY zkey, l_orderkey, l_linenumber LIMIT 50""".stripMargin,
    // q_ngram: range(1, len) is end-exclusive → i = 1..len-1, and DuckDB
    // lists are 1-based, mirroring Spark's shifted-slice zip_with
    "q_ngram" ->
      """WITH t AS (
        |  SELECT source, string_split(text, ' ') AS toks FROM documents
        |), g AS (
        |  SELECT source, unnest(list_transform(range(1, len(toks)),
        |    i -> toks[i] || ' ' || toks[i + 1])) AS bigram
        |  FROM t
        |), c AS (
        |  SELECT source, bigram, count(*) AS n FROM g GROUP BY 1, 2
        |), r AS (
        |  SELECT source, bigram, n,
        |    row_number() OVER (PARTITION BY source ORDER BY n DESC, bigram) AS rk
        |  FROM c)
        |SELECT source, bigram, n, rk FROM r WHERE rk <= 10
        |ORDER BY source, rk""".stripMargin,
    // q_entropy: both engines fold the SAME sorted count array
    // left-to-right (list_sum(list_transform) ≡ aggregate) → bit-equal
    // doubles before the display rounding
    "q_entropy" ->
      """WITH toks AS (
        |  SELECT source, unnest(string_split(text, ' ')) AS tok FROM documents
        |), c AS (
        |  SELECT source, tok, count(*) AS c FROM toks GROUP BY 1, 2
        |), s AS (
        |  SELECT source, CAST(sum(c) AS BIGINT) AS n_tokens,
        |    list_sort(list(c)) AS cs
        |  FROM c GROUP BY 1)
        |SELECT source, n_tokens, CAST(len(cs) AS BIGINT) AS n_terms,
        |  round(list_sum(list_transform(cs,
        |    c -> -(c / CAST(n_tokens AS DOUBLE)) * ln(c / CAST(n_tokens AS DOUBLE)))), 4) AS entropy
        |FROM s ORDER BY source""".stripMargin,
    "q_locf" ->
      """WITH ev AS (
        |  SELECT event_type, date_trunc('day', ts) AS day FROM events
        |), daily AS (
        |  SELECT event_type, day, count(*) AS n FROM ev GROUP BY 1, 2
        |), b AS (SELECT min(day) AS lo, max(day) AS hi FROM ev
        |), grid AS (
        |  SELECT t.event_type, g.day
        |  FROM (SELECT DISTINCT event_type FROM ev) t
        |  CROSS JOIN (SELECT unnest(generate_series(lo, hi, INTERVAL 1 DAY)) AS day FROM b) g
        |), j AS (
        |  SELECT g.event_type, g.day, d.n
        |  FROM grid g LEFT JOIN daily d USING (event_type, day))
        |SELECT event_type, CAST(day AS DATE) AS day,
        |  CAST(coalesce(last_value(n IGNORE NULLS) OVER (
        |    PARTITION BY event_type ORDER BY day
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 0) AS BIGINT) AS n_filled,
        |  n IS NOT NULL AS observed
        |FROM j ORDER BY event_type, day""".stripMargin,
    // q_corrupt: the mangle drops the leading '{' so the payload is
    // invalid from byte 0 — Spark from_json → null row, DuckDB
    // json_valid → false, no partial-parse ambiguity
    "q_corrupt" ->
      """WITH m AS (
        |  SELECT event_type,
        |    CASE WHEN event_id % 7 = 0 THEN substr(props, 2) ELSE props END AS props
        |  FROM events)
        |SELECT event_type, count(*) AS n,
        |  CAST(sum(CASE WHEN json_valid(props) THEN 0 ELSE 1 END) AS BIGINT) AS n_corrupt,
        |  CAST(sum(CASE WHEN json_valid(props)
        |    THEN CAST(json_extract(props, '$.k') AS BIGINT) END) AS BIGINT) AS k_sum
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin,
    // q_cdc: oracle uses the window formulation on purpose — an
    // independent derivation of the same latest-state semantics as the
    // engine's max_by reduce
    "q_cdc" ->
      """WITH r AS (
        |  SELECT user_id, event_type, value, ts, event_id,
        |    row_number() OVER (PARTITION BY user_id
        |      ORDER BY ts DESC, event_id DESC) AS rk
        |  FROM events)
        |SELECT user_id, event_type AS last_op, value AS last_value,
        |  ts AS last_ts
        |FROM r WHERE rk = 1 AND event_type <> 'error'
        |ORDER BY user_id""".stripMargin,
    "q_binary_meta" ->
      """SELECT doc_id,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest
        |FROM documents ORDER BY doc_id""".stripMargin,
    "q_frame_sample" ->
      // synthetic media metadata (Multimodal.syntheticMedia): doc_id%3=2 ->
      // video with (doc_id%30)+1 frames; sampled every 5th frame index
      """SELECT doc_id AS media_id, unnest(range(0, (doc_id % 30) + 1, 5)) AS frame_idx
        |FROM documents WHERE doc_id % 3 = 2
        |ORDER BY media_id, frame_idx""".stripMargin,
    // Greedy NMS IS oracle-checkable after all: the order-dependent greedy
    // pass expressed as a recursive CTE — one iteration per confidence
    // rank, carrying each frame's kept-box list; division (not
    // inter > t*union) so the IoU comparison hits the same doubles as the
    // engine (SURVEY §7.4 #1). q_nms_exec (the custom-SparkPlan form) has
    // identical semantics and shares this oracle verbatim.
    "q_nms_exec" -> greedyNmsOracle,
    "q_nms_greedy" -> greedyNmsOracle,
    "q_nms_dominance" ->
      """WITH dets AS (
        |  SELECT event_id AS det_id, user_id AS frame_id,
        |    CAST((event_id * 37) % 400 AS INT) AS x,
        |    CAST((event_id * 73) % 400 AS INT) AS y,
        |    CAST(40 + (event_id % 4) * 20 AS INT) AS w,
        |    CAST(40 + (event_id % 3) * 25 AS INT) AS h,
        |    value AS conf
        |  FROM events)
        |SELECT b.frame_id, b.det_id, b.conf FROM dets b
        |WHERE NOT EXISTS (
        |  SELECT 1 FROM dets a
        |  WHERE a.frame_id = b.frame_id
        |    AND (a.conf > b.conf OR (a.conf = b.conf AND a.det_id < b.det_id))
        |    AND CAST(greatest(0, least(a.x + a.w, b.x + b.w) - greatest(a.x, b.x))
        |       * greatest(0, least(a.y + a.h, b.y + b.h) - greatest(a.y, b.y)) AS DOUBLE)
        |      / CAST(a.w * a.h + b.w * b.h
        |       - greatest(0, least(a.x + a.w, b.x + b.w) - greatest(a.x, b.x))
        |       * greatest(0, least(a.y + a.h, b.y + b.h) - greatest(a.y, b.y)) AS DOUBLE) > 0.3)
        |ORDER BY frame_id, det_id""".stripMargin,
  )
}
