package graft.operators

import graft.Tables
import graft.functions.SortedFolds
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}
import graft.plans.Eager.EagerOps

/** Text analysis + deduplication family (SURVEY E-TEXT, E-DEDUP, E-STR;
  * BASELINE.json LLM-pipeline mandate) over the `documents` fixture.
  *
  * Scale stance: the exact pairwise Jaccard (`jaccardPairs`) is quadratic
  * within its blocking key (source) — it is the small-scale oracle twin.
  * The 100 TB path is `minhashLsh`: signature computation is a single
  * narrow aggregation per doc, and candidate generation is an equi-join on
  * band keys, so only near-duplicates ever meet in a shuffle.
  *
  * All hash arithmetic (token codes, MinHash permutations, SimHash bits)
  * is integer-only and engine-neutral, so every query here is
  * DuckDB-oracle-checkable — no reliance on engine-specific hash().
  */
object TextOps {

  /** E-STR surface: length/upper/substring/split/regexp_extract/concat/
    * trim over documents (V1-V2, P19, §1.3 trim quirk). */
  def strFunctions(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        length(col("text")).cast("long").as("len"),
        upper(substring(col("text"), 1, 10)).as("head10"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        regexp_extract(col("text"), "^([a-z]+)", 1).as("first_word"),
        concat_ws(":", col("lang"), col("source")).as("tag"),
        trim(lower(col("lang"))).as("lang_norm"))
      .orderBy("doc_id")

  /** Text quality scoring: token stats + stopword ratio + quality gate
    * (mandate: quality scoring via length/stopword ratios). */
  def textQuality(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    val nTok = size(toks).cast("long")
    val nStop = size(filter(toks, t => t.isin("the", "a"))).cast("long")
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        nTok.as("n_tokens"),
        // single-space-separated text: token chars = n_chars - (n_tokens-1)
        round((col("n_chars") - (nTok - 1)).cast("double") / nTok, 4).as("avg_tok_len"),
        round(nStop.cast("double") / nTok, 4).as("stopword_ratio"))
      .withColumn("quality",
        when(col("n_tokens") < 20, lit("short"))
          .when(col("stopword_ratio") > 0.12, lit("boilerplate"))
          .otherwise(lit("ok")))
      .orderBy("doc_id")
  }

  /** q_scrub: blocklist scrubbing — the PII/sensitive-term redaction pass
    * every curation pipeline runs before training (emails, names, keys;
    * here the fixture-vocabulary stand-ins "customer"/"key"). Per doc:
    * the match count and the MD5 of the redacted text (the full redacted
    * string round-trips through the hash so the compare stays narrow).
    *
    * Scale shape: a pure per-row map — the regexp match/replace is
    * whole-stage-codegen'd, no shuffle, no UDF; the scan prunes to
    * (doc_id, text). The word-boundary alternation is RE2-safe, so the
    * identical pattern runs on the oracle side. */
  def scrub(spark: SparkSession, dir: String): DataFrame = {
    val pat = "\\b(customer|key)\\b"
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(regexp_extract_all(col("text"), lit(pat), lit(1)))
          .cast("long").as("n_hits"),
        md5(encode(regexp_replace(col("text"), pat, "[REDACTED]"), "UTF-8"))
          .as("redacted_md5"))
      .orderBy("doc_id")
  }

  /** q_chunk_overlap: the RAG/embedding chunker — sliding token windows
    * of 32 with stride 16 (half-overlap, the standard retrieval-corpus
    * prep), each chunk emitted with its offset bookkeeping and an md5 of
    * the joined text (the id a downstream embedding/dedup stage keys on).
    * Tail rule: a trailing window shorter than 8 tokens is dropped unless
    * it is the document's ONLY chunk. Complements [[packSequences]]
    * (training packing, no overlap) and [[chunkDedup]] (disjoint chunks
    * for dedup).
    *
    * Scale shape: the chunk list is built IN-ARRAY per row (one
    * `transform` over the start sequence) and exploded once — no window,
    * no join, no self-join on doc_id; the explode's fan-out is the
    * chunk count (≈ 2·tokens/32 per doc), partial work stays map-side. */
  def chunkOverlap(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .withColumn("n", size(col("t")).cast("long"))
    docs
      .withColumn("c", explode(transform(
        sequence(lit(0L), expr("(n - 1) div 16")),
        k => struct(
          k.as("k"),
          (k * 16L + 1L).as("start_tok"),
          least(lit(32L), col("n") - k * 16L).as("n_tok")))))
      .filter(col("c.n_tok") >= 8L || col("c.k") === 0L)
      .select(
        col("doc_id"), col("c.k").as("chunk_idx"),
        col("c.start_tok"), col("c.n_tok"),
        md5(encode(array_join(
          slice(col("t"), col("c.start_tok").cast("int"), col("c.n_tok").cast("int")),
          " "), "UTF-8")).as("chunk_md5"))
      .orderBy("doc_id", "chunk_idx")
  }

  /** q_gopher_rules: Gopher/MassiveText-STYLE per-document repetition
    * gates in the spirit of Rae et al. 2021 §A1.1 — a documented VARIANT,
    * not the published rule verbatim (r11 fidelity audit):
    *   - top2_frac / dup3_frac are OCCURRENCE fractions (top-bigram count
    *     over n_tok−1; duplicate-trigram count over n_tok−2), not §A1.1's
    *     fraction-of-CHARACTERS metrics — length-independent, exact in
    *     integer arithmetic, and ~2× stricter than char-coverage at
    *     typical word lengths;
    *   - thresholds (0.08 / 0.02) and the n_tok ≥ 20 floor are
    *     FIXTURE-SCALED stand-ins for the published 0.20 char-fraction /
    *     50–100k word gates, chosen so both keep branches are exercised
    *     at test SFs; a production deployment swaps the constants;
    *   - mean_wlen is REPORTED as a diagnostic but not gated (§A1.1
    *     gates it to 3–10).
    * The keep decision is computed in EXACT integer arithmetic (cnt·10⁴
    * vs threshold·denominator) so no float threshold can flip on a
    * rounding boundary; the reported fractions are 4-dp rounded doubles.
    *
    * Scale shape: trigram duplication is in-array per row (arrays_zip +
    * array_distinct — no explode, no shuffle); only the top-bigram count
    * explodes, and it aggregates on (doc_id, xxhash64(bigram)) 8-byte
    * codes map-side before the one exchange (the q_repetition idiom —
    * 64-bit collisions are the accepted sketch bound). Both frames are
    * doc-cardinality at the join. */
  def gopherRules(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), length(col("text")).cast("long").as("len"),
        split(col("text"), " ").as("t"))
      .withColumn("n_tok", size(col("t")).cast("long"))
      .withColumn("n3", greatest(size(col("t")) - 2, lit(0)))
      .withColumn("dup3_cnt",
        (col("n3") - size(array_distinct(arrays_zip(
          slice(col("t"), lit(1), col("n3")),
          slice(col("t"), lit(2), col("n3")),
          slice(col("t"), lit(3), col("n3")))))).cast("long"))
    // explode the zipped token structs and hash OUTSIDE the array: a
    // zip_with lambda would hash per element in the interpreted HOF
    // evaluator (measured 2.4× slower); arrays_zip + a post-explode
    // xxhash64 keep the hot path in codegen
    val top2 = docs
      .select(col("doc_id"), explode(arrays_zip(
        slice(col("t"), lit(1), greatest(size(col("t")) - 1, lit(0))),
        slice(col("t"), lit(2), greatest(size(col("t")) - 1, lit(0))))).as("b"))
      .groupBy(col("doc_id"), xxhash64(col("b.0"), col("b.1")).as("bh"))
      .agg(count(lit(1)).as("c"))
      .groupBy("doc_id").agg(max("c").as("top2_cnt"))
    val d1 = greatest(col("n_tok") - 1, lit(1L))
    val d3 = greatest(col("n_tok") - 2, lit(1L))
    docs.join(top2, Seq("doc_id"), "left")
      .withColumn("top2_cnt", coalesce(col("top2_cnt"), lit(0L)))
      .select(
        col("doc_id"), col("n_tok"),
        round((col("len") - col("n_tok") + 1).cast("double") / col("n_tok"), 4)
          .as("mean_wlen"),
        col("top2_cnt"), col("dup3_cnt"),
        round(col("top2_cnt").cast("double") / d1, 4).as("top2_frac"),
        round(col("dup3_cnt").cast("double") / d3, 4).as("dup3_frac"),
        (col("n_tok") >= 20 &&
          col("top2_cnt") * 10000L < d1 * 800L &&
          col("dup3_cnt") * 10000L < d3 * 200L).as("keep"))
      .orderBy("doc_id")
  }

  /** (doc_id, lang, pred_lang) — the marker-token heuristic shared by
    * [[langId]] (the per-doc report) and [[evalMetrics]] (the
    * per-class quality scorecard over the same predictions). */
  private def langPredictions(spark: SparkSession, dir: String): DataFrame = {
    val toks = split(col("text"), " ")
    def hits(markers: String*): Column =
      size(filter(toks, t => t.isin(markers: _*))).cast("long")
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"),
        hits("the", "a", "of").as("c_en"),
        hits("der", "die", "das").as("c_de"),
        hits("el", "la", "los").as("c_es"),
        hits("le", "les", "une").as("c_fr"),
        hits("shi", "bu", "wo").as("c_zh"))
      .withColumn("pred_lang",
        when(col("c_en") >= greatest(col("c_de"), col("c_es"), col("c_fr"), col("c_zh")), lit("en"))
          .when(col("c_de") >= greatest(col("c_es"), col("c_fr"), col("c_zh")), lit("de"))
          .when(col("c_es") >= greatest(col("c_fr"), col("c_zh")), lit("es"))
          .when(col("c_fr") >= col("c_zh"), lit("fr"))
          .otherwise(lit("zh")))
      .select(col("doc_id"), col("lang"), col("pred_lang"))
  }

  /** Language-ID heuristic: marker-stopword hit counts per language,
    * argmax with deterministic preference order (mandate: n-gram-style
    * langid; markers stand in for the n-gram tables). */
  def langId(spark: SparkSession, dir: String): DataFrame =
    langPredictions(spark, dir)
      .select(col("doc_id"), col("pred_lang"),
        (col("pred_lang") === col("lang")).as("is_match"))
      .orderBy("doc_id")

  /** |classes|² confusion matrix of [[langPredictions]] plus its two
    * marginal frames — the SHARED evaluation stage of [[evalMetrics]]
    * and [[cohenKappa]]: one definition so an edit to the matrix
    * construction (a null-label guard, a class filter) cannot silently
    * make q_kappa's pₒ/pₑ inconsistent with q_eval_metrics'
    * precision/recall over the same predictions. */
  private def confusion(spark: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame) = {
    val conf = langPredictions(spark, dir)
      .groupBy("lang", "pred_lang").agg(count(lit(1)).as("n"))
    val act = conf.groupBy(col("lang").as("cls")).agg(sum("n").as("act_n"))
    val prd = conf.groupBy(col("pred_lang").as("cls")).agg(sum("n").as("pred_n"))
    (conf, act, prd)
  }

  /** q_eval_metrics: the per-class classifier scorecard — precision,
    * recall, F1 of [[langPredictions]] against the labeled lang column,
    * the evaluation verb between "model runs" (q_langid) and "ship it".
    * F1 uses the integer identity 2·TP/(actual+predicted) — harmonic
    * mean without ever forming the two double ratios, so the only
    * doubles are the three final single divisions.
    *
    * Scale shape: one pass collapses predictions to the |classes|²
    * confusion matrix; everything else lives on ≤|classes| rows. The
    * class axis comes from the LABELED side, so a class the model never
    * predicts still reports (recall 0, precision 0-guarded). */
  def evalMetrics(spark: SparkSession, dir: String): DataFrame = {
    val (conf, act, prd) = confusion(spark, dir)
    val tp = conf.filter(col("lang") === col("pred_lang"))
      .select(col("lang").as("cls"), col("n").as("tp"))
    act
      .join(broadcast(prd), Seq("cls"), "left")
      .join(broadcast(tp), Seq("cls"), "left")
      .select(col("cls"), coalesce(col("tp"), lit(0L)).as("tp"),
        col("act_n"), coalesce(col("pred_n"), lit(0L)).as("pred_n"))
      .select(col("cls"), col("tp"), col("act_n"), col("pred_n"),
        when(col("pred_n") === 0, lit(0.0))
          .otherwise(round(col("tp").cast("double")
            / col("pred_n").cast("double"), 4)).as("precision"),
        round(col("tp").cast("double") / col("act_n").cast("double"), 4)
          .as("recall"),
        when(col("act_n") + col("pred_n") === 0, lit(0.0))
          .otherwise(round((lit(2L) * col("tp")).cast("double")
            / (col("act_n") + col("pred_n")).cast("double"), 4)).as("f1"))
      .orderBy("cls")
  }

  /** q_kappa: Cohen's κ of [[langPredictions]] against the labels —
    * chance-corrected agreement, the honest summary when classes are
    * imbalanced (raw accuracy q_langid reports is inflated by the
    * majority class). κ = (pₒ − pₑ)/(1 − pₑ) with pₒ = ΣTP/N and
    * pₑ = Σ(actᶜ·predᶜ)/N² — both exact integer ratios, so κ is three
    * integer aggregates and one closing double expression, computed in
    * mirrored textual order on both engines.
    *
    * Scale shape: the |classes|² confusion collapse is the only
    * fact-sized pass (shared shape with evalMetrics). */
  def cohenKappa(spark: SparkSession, dir: String): DataFrame = {
    val (conf, act, prd) = confusion(spark, dir)
    val agree = conf.filter(col("lang") === col("pred_lang"))
      .agg(coalesce(sum("n"), lit(0L)).as("n_agree"))
    // rank-style products widened to decimal BEFORE the sum (the
    // Analytics header rule: act·pred at 1e9 marginals overflows BIGINT);
    // n_total comes from the labeled marginals ALONE — the act⋈prd inner
    // join would silently drop a never-predicted class's mass from N
    val totals = act.agg(sum(col("act_n")).as("n_total"))
    val chance = act.join(prd, "cls")
      .agg(coalesce(sum(col("act_n").cast("decimal(38,0)") * col("pred_n")),
        lit(java.math.BigDecimal.ZERO)).as("chance_mass"))
    agree.crossJoin(broadcast(chance)).crossJoin(broadcast(totals))
      .select(col("n_total"), col("n_agree"),
        round(col("n_agree").cast("double") / col("n_total"), 4).as("po"),
        round(col("chance_mass").cast("double")
          / (col("n_total").cast("decimal(38,0)") * col("n_total"))
            .cast("double"), 4).as("pe"),
        round((col("n_agree").cast("decimal(38,0)") * col("n_total")
            - col("chance_mass")).cast("double")
          / (col("n_total").cast("decimal(38,0)") * col("n_total")
            - col("chance_mass")).cast("double"), 4).as("kappa"))
  }

  /** Token counting: whitespace tokens, BPE-ish alpha-run count, and the
    * chars/4 estimate (mandate: token counting). */
  def tokenCount(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(
        col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_ws_tokens"),
        regexp_count(col("text"), lit("[a-z]+")).cast("long").as("n_alpha_runs"),
        ceil(col("n_chars") / lit(4.0)).cast("long").as("n_bpe_est"))
      .orderBy("doc_id")

  /** Document fingerprint: md5 of whitespace-normalized lowercased text
    * (mandate: fingerprinting; exact-dedup key at scale). */
  def fingerprint(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        md5(encode(lower(trim(regexp_replace(col("text"), "\\s+", " "))), "UTF-8")).as("fp"))
      .orderBy("doc_id")

  /** E-DEDUP exact: canonical representative per distinct text — min
    * doc_id wins (deterministic, unlike dropDuplicates). */
  def dedupExact(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .groupBy(md5(encode(col("text"), "UTF-8")).as("text_hash"))
      .agg(min("doc_id").as("keep_id"), count(lit(1)).as("dup_cnt"))
      .select("keep_id", "dup_cnt", "text_hash")
      .orderBy("keep_id")

  /** E-DEDUP near-dup, exact form: token-set Jaccard ≥ 0.9 between doc
    * pairs blocked by source — PREFIX-FILTERED candidate join + bitmap
    * verification (the AllPairs/PPJoin recipe, Bayardo et al. WWW'07).
    *
    * Shape, in three scale-safe stages:
    *  1. Token ranks: global frequency-ordered dictionary (rarest = rank
    *     0) via distributed `zipWithIndex` over the sorted (freq, tok)
    *     frame — no driver collect; the orderBy makes a Catalyst
    *     recomputation rebuild the identical mapping.
    *  2. Candidates: each doc exposes only its PREFIX — the
    *     `sz - ceil(0.9·sz) + 1` rarest ranks (integer arithmetic, no
    *     double rounding). Two docs with Jaccard ≥ 0.9 provably share a
    *     prefix rank, so the equi-join on (source, prefix_rank) loses
    *     nothing, and its fan-out is bounded by posting-list length of the
    *     RARE tokens — sub-quadratic on any real corpus, vs the old
    *     within-`source` all-pairs self-join that was quadratic in group
    *     size (the one 100 TB scale-killer the round-5 audit found). A
    *     lossless length filter (10·min_sz ≥ 9·max_sz) prunes further.
    *  3. Verify: distinct candidate (d1,d2) pairs re-join the persisted
    *     per-doc bitmaps by id; the exact intersection is one codegen'd
    *     popcount sweep (BitmapAndCount over BitmapFromBits-packed
    *     ARRAY<LONG>, self-sized, vocabulary-unbounded).
    * The result set is identical to the all-pairs formulation (prefix +
    * length filters are lossless for jac ≥ 0.9); on the tiny-vocabulary
    * fixture the prefix join degenerates gracefully (rare-token postings
    * are still the shortest lists there are), while at 100 TB it is the
    * difference between a posting-list join and |group|² pairs. The LSH
    * path below remains the probabilistic screening sibling. */
  def jaccardPairs(spark: SparkSession, dir: String): DataFrame = {
    // n_tok: the row's distinct-token count, carried for the doc_id
    // uniqueness check below
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"), array_distinct(split(col("text"), " ")).as("ts"))
      .select(col("doc_id"), col("source"), size(col("ts")).as("n_tok"), explode(col("ts")).as("tok"))
    // rank: token -> global frequency order (ascending, ties by token), via
    // zipWithIndex — indices stay distributed (each partition offsets by
    // the preceding partitions' counts), unlike a row_number window whose
    // empty ORDER BY frame funnels the whole vocabulary through ONE task.
    val sess = spark
    import sess.implicits._
    val ranked = toks.groupBy("tok").agg(count(lit(1)).as("freq"))
      .orderBy("freq", "tok").select("tok").as[String]
      .rdd.zipWithIndex()
      // a vocabulary past 2^31 ranks would WRAP idx.toInt negative and
      // silently corrupt the prefix order (dropped true pairs) — fail
      // loudly instead and name the scale-path alternative. The exact
      // bitmap verify is corpus-bounded by design; past this rank count
      // the probabilistic MinHash-LSH sibling is the right tool.
      .map { case (tok, idx) =>
        require(idx < Int.MaxValue,
          "jaccardPairs vocabulary exceeds 2^31 token ranks — the exact " +
            "bitmap path is vocabulary-bounded; use minhashPairs at this scale")
        (tok, idx.toInt)
      }
      .toDF("tok", "bit")
    // the broadcast hint is a FIXTURE-SCALE choice (the RDD-derived rank
    // frame has no stats for Catalyst to decide with); at corpus scale the
    // vocabulary outgrows a broadcast and this hint should be dropped —
    // the tok equi-join then shuffles both sides, which is the correct
    // postings-join shape there
    // grouped by doc_id ALONE (source is 1:1 with doc_id — one document
    // row per id — so max() recovers it exactly): the frozen frame's
    // partitioning is then hash(doc_id), which the single payload join
    // below reuses as-is instead of re-exchanging the bitmaps (r17).
    // One row per doc_id is a PRECONDITION, enforced like the 2^31 rank
    // bound: two rows sharing an id would be merged into one token set
    // (wrong sizes, wrong pairs). Every row contributes n_tok ≥ 1 token
    // rows (split never yields an empty array), so a group holds exactly
    // one document iff its token-row count equals max(n_tok) — checked
    // inside the aggregation the build runs anyway, no extra job.
    val docs = toks.join(broadcast(ranked), "tok")
      .groupBy("doc_id")
      .agg(max(col("source")).as("source"),
        sort_array(collect_list(col("bit"))).as("bits"),
        (count(lit(1)) === max(col("n_tok"))).as("one_row"))
      .select(col("doc_id"), when(col("one_row"), col("source")).otherwise(raise_error(concat(
          lit("jaccardPairs requires unique doc_id; duplicate doc_id "), col("doc_id").cast("string"))))
          .as("source"), col("bits"),
        graft.functions.Bitmap.bitmapFromBits(col("bits")).as("mm"),
        size(col("bits")).cast("long").as("sz"))
      // EAGER (r14 lazy-persist sweep): the candidate side and the
      // verify join plan distinct shuffle builds over this frame, and
      // concurrent stages over a lazy cache race to re-run the whole
      // tokenize→rank→bitmap pipeline per build. The Eager freeze
      // materializes it exactly once before the consumers plan, and its
      // leaf KEEPS this aggregate's hash(doc_id) output partitioning —
      // so at scale the payload join's docs side reads the frozen
      // layout with no Exchange; locally the dim-sized frame
      // broadcasts and the layout is moot.
      .eagerly
    // prefix length p = sz - ceil(0.9*sz) + 1, via ceil(9x/10) =
    // floor((9x+9)/10) — exact in doubles because 10k/10 divides without
    // rounding, whereas a literal 0.9*sz can land on 18.000000000000004
    // and ceil to 19, silently dropping true pairs
    val prefix = docs.select(col("doc_id"), col("source"), col("sz"),
      explode(slice(col("bits"), lit(1),
        (col("sz") - floor((col("sz") * 9 + 9) / 10) + 1).cast("int"))).as("pbit"))
    val cands = prefix.select(col("doc_id").as("d1"), col("source"), col("pbit"), col("sz").as("sz1"))
      .join(prefix.select(col("doc_id").as("d2"), col("source"), col("pbit"), col("sz").as("sz2")),
        Seq("source", "pbit"))
      .filter(col("d1") < col("d2")
        && col("sz1") * 10 >= col("sz2") * 9 && col("sz2") * 10 >= col("sz1") * 9)
      .select("d1", "d2").distinct()
    val jac = col("inter") / (col("sz1") + col("sz2") - col("inter"))
    // r17 payload-exchange rework (guide §8 — decide with small rows,
    // move big rows once). The r16 shape shuffled bitmap payloads
    // through THREE corpus-proportional exchanges: docs grouped by
    // (doc_id, source) gave the cache a layout NO join key could reuse,
    // so the d1-join re-exchanged docs by d1, the d2-join re-exchanged
    // docs by d2, and the intermediate pair frame re-shuffled by d2
    // still carrying mm1. With docs grouped by doc_id ALONE (above),
    // the cached layout IS hash(doc_id) — both verify joins' docs side
    // reads it with no Exchange (doc_id is each join's key; on local
    // masters the dim-sized cache broadcasts instead, same effect) —
    // so the ONLY exchange that ever carries bitmap bytes is the
    // intermediate-by-d2 one: each pair ships mm1 exactly once.
    // Payload-carrying exchanges 3 → 1 at scale
    // (plans/r17/q_jaccard_pairs_before/after*.txt).
    // A full §8 explode-pair-ids + single-join + re-group restructure
    // was A/B'd this round and REJECTED: the (d1, d2) re-group ships
    // BOTH bitmaps per pair (2× this shape's payload bytes) and max()
    // over ARRAY<LONG> falls off hash aggregation to a SortAggregate
    // over the payload-carrying frame — measured +0.3-0.5 s at sf0.1
    // with no at-scale byte advantage.
    cands
      .join(docs.select(col("doc_id").as("d1"), col("mm").as("mm1"), col("sz").as("sz1")), "d1")
      .join(docs.select(col("doc_id").as("d2"), col("mm").as("mm2"), col("sz").as("sz2")), "d2")
      .withColumn("inter",
        graft.functions.Bitmap.bitmapAndCount(col("mm1"), col("mm2")))
      .filter(jac >= 0.9)
      .select(col("d1"), col("d2"), round(jac, 4).as("jaccard"))
      .orderBy("d1", "d2")
  }

  /** Engine-neutral token code: Σ codepoint(char_j)·j (1-based). Integer-
    * only so Spark and DuckDB agree exactly; codegen'd expression (the HOF
    * per-char formulation interpreted three lambdas per character —
    * see graft.functions.TokenCode). */
  private def tokenCode(tok: Column): Column =
    graft.functions.TokenCode.tokenCode(tok)

  /** MinHash permutation parameters: k=16 hashes, deterministic
    * "seed 42"-flavored affine constants, prime modulus 2^31−1. */
  val MinhashParams: Seq[(Int, Long, Long)] =
    (0 until 16).map(i => (i, 1000003L + 7919L * i, 42L + 1009L * i))
  private[graft] val MinhashPrime = 2147483647L

  /** Word-bigram shingle codes of a text column — zip_with of the two
    * shifted slices, NOT element_at(tokArr, i+2) in a transform lambda: a
    * non-foldable outer reference inside a HOF lambda is re-evaluated per
    * element, turning shingling quadratic in doc length (measured 3 s for
    * 5 k docs before the rewrite). */
  private[graft] def shingleCodes(text: Column): Column = {
    val tokArr = split(text, " ")
    val nShingle = greatest(size(tokArr) - 1, lit(0))
    val shingles = zip_with(
      slice(tokArr, lit(1), nShingle),
      slice(tokArr, lit(2), nShingle),
      (a, b) => concat(a, lit("_"), b))
    transform(array_distinct(shingles), tokenCode _)
  }

  /** Per-doc DISTINCT shingle-code arrays (doc_id, cs) — the shared scan
    * under [[minhashPairs]] (signatures) and [[containment]] (exact
    * subset test). Distinct over the CODES, not just the strings
    * shingleCodes dedups: two distinct shingles can collide to one code;
    * the subset test compares against array_intersect's deduped output,
    * and a minhash min is unaffected by duplicates — so one frame serves
    * both consumers (r7 verdict task #4). */
  private[graft] def shingleCodeFrame(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), array_distinct(shingleCodes(col("text"))).as("cs"))
      .filter(size(col("cs")) > 0) // 1-token docs have no shingles → no signature

  /** MinHash-LSH candidate pairs (d1 < d2), unordered — the shared edge
    * set for `minhashLsh` (the oracle-checked pair listing) and
    * `nearDupClusters` (the dedup decision built on it). */
  private[graft] def minhashPairs(spark: SparkSession, dir: String): DataFrame =
    minhashPairsOver(shingleCodeFrame(spark, dir))

  /** (doc_id, band, key) LSH band keys of a (doc_id, cs) shingle-code
    * frame — the signature stage shared by [[minhashPairsOver]] (pair
    * self-join) and [[dedupAdmissions]] (bucket-min anti-join). One
    * vectorized pass per doc: shingle codes once (codegen'd TokenCode),
    * then ALL 16 minhash permutations in a single codegen'd sweep over
    * the code array (MinHashSig — the HOF array_min-per-permutation twin
    * interpreted 32 lambdas/row). No shingle explode, no 16× cross join,
    * zero shuffle. At 100 TB the signature stage is a pure narrow
    * projection. */
  private[graft] def bandKeyFrame(codeFrame: DataFrame): DataFrame = {
    def bandKey(band: Int): Column =
      concat_ws(",", (0 until 8)
        .map(i => element_at(col("mins"), band * 8 + i + 1).cast("string")): _*)
    codeFrame
      .select(col("doc_id"),
        graft.functions.MinHashSig.minhashSig(col("cs"), MinhashParams, MinhashPrime).as("mins"))
      .select(col("doc_id"),
        posexplode(array(bandKey(0), bandKey(1))))
      .select(col("doc_id"), col("pos").as("band"), col("col").as("key"))
  }

  /** LSH band join over a (doc_id, cs) shingle-code frame. Split out so
    * [[containment]] can feed its PERSISTED code frame through and share
    * the one documents scan between the signature and verify stages. */
  private[graft] def minhashPairsOver(codeFrame: DataFrame): DataFrame = {
    val sigs = bandKeyFrame(codeFrame)
      // EAGER (r14 lazy-persist sweep): the self-join's two sides are
      // DISTINCT shuffle builds, and concurrent stages over a lazy cache
      // race to recompute the whole signature pipeline per side —
      // the Eager freeze materializes it exactly once before either side
      // plans (same strategy a 100 TB run uses: checkpoint signatures
      // before the candidate join). Side benefit: when the caller passes
      // a PERSISTED code frame (containment/dedupCurve), this eager scan
      // is that frame's single first consumer, so its cache is warm
      // before the verify joins fan out — single-consumer-first.
      .eagerly
    sigs.as("x")
      .join(sigs.as("y"),
        col("x.band") === col("y.band") && col("x.key") === col("y.key")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("d1"), col("y.doc_id").as("d2"))
      .distinct()
  }

  /** E-DEDUP scale path: MinHash+LSH candidate pairs — word-bigram
    * shingles, 16-hash signature, 2 bands × 8 rows, pairs bucketed by
    * identical band key. Shingles (not unigrams): the fixture vocabulary is
    * ~30 words, so unigram token sets collide for most long docs; bigram
    * sets are discriminative. At 100 TB the signature is one narrow agg per
    * doc and candidates meet via band-key equi-join (no all-pairs shuffle). */
  def minhashLsh(spark: SparkSession, dir: String): DataFrame =
    minhashPairs(spark, dir).orderBy("d1", "d2")

  /** E-DEDUP decision stage: near-dup CLUSTERING — connected components
    * of the MinHash-LSH candidate-pair graph; every document is labeled
    * with the minimum doc_id of its component, i.e. the canonical
    * representative a dedup pass keeps (singletons label themselves).
    *
    * Algorithm: iterative min-label propagation — label(v) ←
    * min(label(v), min over neighbors label(u)) until fixpoint. Each round
    * is one equi-join + partial-aggregated min, so a round scales like any
    * shuffle join; the round COUNT is the component diameter, and
    * near-dup components are small and shallow (dup clusters, not social
    * graphs), so rounds stay in single digits at any corpus size — the
    * standard Spark connected-components recipe. Labels only decrease, so
    * the fixpoint test is one monotone DECIMAL sum per round (overflow-
    * safe; no row-wise old-vs-new join). The driver loop is control flow
    * only — per-row data never leaves the cluster.
    *
    * Oracle: the same pair graph in DuckDB + WITH RECURSIVE reachability
    * (min reachable doc_id ≡ component min). */
  def nearDupClusters(spark: SparkSession, dir: String): DataFrame =
    connectedComponents(Tables.documents(spark, dir).select(col("doc_id")),
      minhashPairs(spark, dir)).orderBy("doc_id")

  /** q_dedup_admit: keep-first near-dup admission at LSH band-bucket
    * grain as a PURE, oracle-checkable query — every document flagged
    * admitted iff it has no smaller-doc_id band-bucket mate
    * (bucket-mates are exactly the minhashLsh pair listing, so the
    * oracle is `doc_id ∉ d2 column of the shared pairs CTE`). Differs
    * from the cluster-min keep rule (q_dedup_decisions): on a chain 1–5,
    * 3–5 the bucket rule keeps 3 (no smaller MATE) while cluster-min
    * keeps only the component minimum 1 — the bucket rule is the local
    * one, decidable per document without the component graph.
    *
    * Scale shape: signature projection (narrow) → bucket-min partial
    * agg → self-equi-join on bucket → anti-join; nothing fact-quadratic
    * (the minhashPairs discipline). */
  def dedupAdmissions(spark: SparkSession, dir: String): DataFrame = {
    // EAGER (the r12 broadcast-race lint): both the bucket-min build and
    // the rejected-id build end up broadcast, and two concurrent
    // broadcast jobs over a lazy persist would each run the whole
    // signature pipeline
    val keys = bandKeyFrame(shingleCodeFrame(spark, dir)).eagerly
    val bucketMin = keys.groupBy("band", "key").agg(min("doc_id").as("min_doc"))
    val rejected = keys.join(bucketMin, Seq("band", "key"))
      .filter(col("doc_id") > col("min_doc"))
      .select("doc_id").distinct()
      .withColumn("rej", lit(true))
    Tables.documents(spark, dir).select("doc_id", "source")
      .join(rejected, Seq("doc_id"), "left")
      .select(col("doc_id"), col("source"), col("rej").isNull.as("admitted"))
      .orderBy("doc_id")
  }

  // ------------------------------------------------------------------
  // Persisted unigram corpus model (r12) — one of the BucketedState
  // indexes (with the IVF postings, the gram index and the semdedup
  // vectors): [[lmScore]]-style scoring keeps the corpus unigram counts
  // in a persisted model and scores documents under it, instead of
  // rescanning the whole corpus per scoring run.
  // ------------------------------------------------------------------

  /** Bucket count of the persisted model layout — fixed at creation
    * (appends must match it). 16 suits the local fixture; production
    * sizes this near the cluster's shuffle-partition count once. */
  private[graft] val LmModelBuckets = 16

  /** The unigram model as a [[graft.sources.BucketedState]]: APPEND-ONLY
    * (tok, c, batch_id) count partials, CLUSTERED BY tok — the per-token
    * total is an exchange-free bucketed aggregate, and the scoring join
    * tf⋈model clusters on tok so only the (day-sized) delta shuffles,
    * never the vocabulary-sized model. */
  private[graft] def lmModelState(modelPath: String): graft.sources.BucketedState =
    graft.sources.BucketedState(modelPath, "graft_lm_model_",
      "tok STRING, c BIGINT, batch_id BIGINT", Seq("tok"), LmModelBuckets)

  /** Catalog name of the model table for a path (spec hook). */
  private[graft] def lmModelTable(modelPath: String): String =
    lmModelState(modelPath).table

  /** One batch's (tok, c, batch_id) count partials. */
  private def lmBatchPartials(docs: DataFrame, batchId: Long): DataFrame =
    docs.select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("c"))
      .withColumn("batch_id", lit(batchId))

  /** Fold one delta of documents into the persisted model at modelPath.
    *
    * CONTRACT: batch ids are strictly increasing per modelPath (a crawl
    * loop's day number; a stream's micro-batch id). The replay
    * guard is `batchId > max(batch_id in table)` — appends are atomic
    * (an uncommitted append is invisible, the BucketedState discipline),
    * so after a crash either the batch is fully absent (replay re-folds
    * it) or fully present (replay skips it); count partials can never
    * double-fold. `batchId == max` is the legitimate replay shape (the
    * redelivered last batch) and skips silently; `batchId < max` is ID
    * REGRESSION and FAILS LOUDLY (r12 advice): it means a streaming
    * checkpoint was deleted/replaced (micro-batch ids restarted at 0) or
    * a crawl loop rewound its day counter — silently no-opping those
    * folds is data loss with no error, so the caller must either keep
    * the checkpoint for the lifetime of the modelPath or start a fresh
    * modelPath. Exact count sums make slices compose to the one-shot
    * model under ANY slicing, so ordering only matters for these guards.
    *
    * SINGLE-WRITER per modelPath, like every BucketedState path. The
    * guard's read-then-append is non-atomic, so violation detection (r12
    * advice) is two-layer: same-JVM appends serialize on a per-path
    * lock (making the race impossible where it can actually occur in
    * this runtime), and cross-process appends are detected by an
    * in-flight marker file holding the writer's pid — a second writer
    * seeing a marker whose pid is still alive fails loudly instead of
    * silently double-folding. A crash leaves a stale marker with a
    * dead pid; the next writer reclaims it. Cross-HOST single-writer
    * remains contract-only (pid liveness is host-local). */
  def lmModelAppend(spark: SparkSession, modelPath: String, docs: DataFrame,
                    batchId: Long): Unit =
    pathLocks.computeIfAbsent(new java.io.File(modelPath).getAbsolutePath,
      _ => new Object).synchronized {
      val marker = new java.io.File(modelPath + ".writer_inflight")
      claimWriterMarker(marker)
      try {
        val st = lmModelState(modelPath)
        st.ensure(spark) match {
          case Some(t) =>
            val maxId = spark.table(t).agg(max("batch_id")).head()
            if (maxId.isNullAt(0) || maxId.getLong(0) < batchId) {
              // re-verify the claim IMMEDIATELY before mutating (r15
              // advice): a pathological reclaim race can rename a live
              // holder's marker away; the displaced holder must abort
              // loudly here, not keep folding unprotected beside the
              // new claimant
              verifyWriterMarker(marker)
              st.append(spark, lmBatchPartials(docs, batchId))
            } else if (maxId.getLong(0) > batchId)
              throw new IllegalStateException(
                s"batch id regression on $modelPath: fold $batchId arrived " +
                  s"after ${maxId.getLong(0)} — a restarted stream with a " +
                  "new/deleted checkpoint restarts ids at 0 and every fold " +
                  "would be silently lost; keep the checkpoint for the " +
                  "lifetime of the modelPath or start a fresh modelPath")
          // == max: the redelivered last batch — replay, skip silently
          case None =>
            verifyWriterMarker(marker)
            st.append(spark, lmBatchPartials(docs, batchId))
        }
      } finally {
        // release only OUR claim: after a displacement, the marker on
        // disk is the NEW claimant's — an unconditional delete here
        // would silently drop their live claim (the same class the
        // verify above aborts on)
        val raw = try new String(java.nio.file.Files.readAllBytes(marker.toPath),
          java.nio.charset.StandardCharsets.UTF_8).trim
        catch { case _: Throwable => "" }
        if (raw == ProcessHandle.current().pid().toString) marker.delete()
      }
    }

  /** Re-verify a held writer claim: the marker must still exist and
    * carry OUR pid. A displaced claim (the residual reclaim-race class
    * the tombstone restore documents) turns into a loud abort at the
    * last moment before the fold mutates state. */
  private[graft] def verifyWriterMarker(marker: java.io.File): Unit = {
    val raw = try new String(java.nio.file.Files.readAllBytes(marker.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "" }
    val self = ProcessHandle.current().pid().toString
    if (raw != self)
      throw new IllegalStateException(
        s"writer claim on ${marker.getPath} was displaced mid-hold " +
          s"(marker now '${if (raw.isEmpty) "<absent>" else raw}', we are $self) — " +
          "another process reclaimed the path; aborting this fold instead " +
          "of double-folding beside the new claimant")
  }

  /** Same-JVM append serialization points, one per canonical state path. */
  private val pathLocks =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Claim the cross-process in-flight marker: atomically create it with
    * our pid, or fail loudly if a LIVE other process holds it. A marker
    * whose pid is dead (crashed writer) or unparseable is reclaimed.
    * Creation and content are ONE atomic step (the classic lock-file
    * recipe: write a private temp, hard-LINK it into place — link(2)
    * atomically fails if the marker exists, and a marker that exists
    * always carries its full pid): the earlier createNewFile()-then-
    * write() left a window where a second process read an EMPTY marker,
    * parsed no pid, and "reclaimed" a live writer's claim (r13 review).
    *
    * The RECLAIM of a stale marker is exclusive too (r13 advice): the
    * reclaimer atomically RENAMEs the marker to a process-unique
    * tombstone — rename(2) is first-wins, the loser's source is gone —
    * then verifies the tombstone still carries the content it judged
    * stale before discarding it. An unconditional delete-then-create
    * let two reclaimers interleave (A delete+create, B's delete removes
    * A's FRESH marker) and hand both the single-writer claim. Because
    * creates are atomic-with-content, a marker whose content parses to
    * no pid is by construction leftover garbage (old-version crash,
    * truncated disk), never mid-create — it is reclaimed through the
    * same exclusive path rather than wedging the state path forever. */
  private def claimWriterMarker(marker: java.io.File): Unit = {
    // a brand-new state path may not exist yet (first fold creates the
    // table); the claim must not require the fold to have run first
    marker.getParentFile.mkdirs()
    val pidBytes = ProcessHandle.current().pid().toString
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
    def tryCreate(): Boolean = {
      val tmp = new java.io.File(marker.getParentFile,
        s".${marker.getName}.${ProcessHandle.current().pid()}")
      java.nio.file.Files.write(tmp.toPath, pidBytes)
      try {
        java.nio.file.Files.createLink(marker.toPath, tmp.toPath); true
      } catch {
        case _: java.nio.file.FileAlreadyExistsException => false
      } finally tmp.delete()
    }
    if (tryCreate()) return
    val raw = try new String(java.nio.file.Files.readAllBytes(marker.toPath),
      java.nio.charset.StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "" } // vanished mid-read: holder released
    val held = try raw.toLong catch { case _: Throwable => -1L }
    val self = ProcessHandle.current().pid()
    def concurrent(pid: Any): Nothing =
      throw new IllegalStateException(
        s"concurrent writer detected on ${marker.getPath}: pid $pid is " +
          "mid-append — two writers on one state path can double-fold " +
          "counts; this path is SINGLE-WRITER")
    val alive = held >= 0 && held != self &&
      ProcessHandle.of(held).map[Boolean](_.isAlive).orElse(false)
    if (alive) concurrent(held)
    // stale by observation: dead pid, our own leftover, or garbage
    // (creates are atomic-with-content, so garbage is never mid-create).
    // Reclaim EXCLUSIVELY: atomically rename the marker to a tombstone
    // only we name — of N reclaimers exactly one rename succeeds.
    val tomb = new java.io.File(marker.getParentFile,
      s".${marker.getName}.reclaim.$self")
    val renamed =
      try {
        java.nio.file.Files.move(marker.toPath, tomb.toPath,
          java.nio.file.StandardCopyOption.ATOMIC_MOVE)
        true
      } catch { case _: java.io.IOException => false }
    if (!renamed) {
      // lost the rename race (another reclaimer took it, or the holder
      // released): re-race the atomic create; an existing marker is a
      // LIVE claim by whoever won
      if (tryCreate()) return
      concurrent("unknown (lost the reclaim race)")
    }
    val tombRaw = try new String(java.nio.file.Files
      .readAllBytes(tomb.toPath), java.nio.charset.StandardCharsets.UTF_8).trim
    catch { case _: Throwable => "" }
    if (tombRaw != raw) {
      // the marker was REPLACED between our read and our rename — we
      // just renamed away a FRESH claim. Put it back and bail loudly.
      // Restore by MOVE, not hard link (r14 advice: createLink throws
      // UnsupportedOperationException on link-less filesystems, and that
      // escape deleted the displaced live claim). If a THIRD claimer
      // created a marker while the path was empty, restoring must not
      // destroy that claim either — POSIX rename silently replaces — so
      // check first and, when one is there, LEAVE the tomb on disk for
      // diagnosis (deleting it silently drops the displaced holder's
      // live claim while it keeps folding) and name both claims.
      if (marker.exists())
        concurrent(s"${if (tombRaw.nonEmpty) tombRaw else "unknown"} " +
          s"(displaced live claim preserved at ${tomb.getName}) and a newer claimer")
      // restore by atomic NO-REPLACE link first (fails rather than
      // destroy a third claim that raced in after the check above); on
      // link-less filesystems fall back to an atomic move — rename may
      // replace, but only within the microsecond window the exists()
      // check leaves open (r15 review: the move-only form re-widened
      // the TOCTOU the original link restore closed)
      try {
        java.nio.file.Files.createLink(marker.toPath, tomb.toPath)
        tomb.delete()
      } catch {
        case _: java.nio.file.FileAlreadyExistsException =>
          () // third claimer mid-restore: keep the tomb for diagnosis
        case _: UnsupportedOperationException | _: java.io.IOException =>
          try java.nio.file.Files.move(tomb.toPath, marker.toPath,
            java.nio.file.StandardCopyOption.ATOMIC_MOVE)
          catch {
            // restore failed: keep the tomb — a preserved-on-disk claim
            // beats a silently dropped one
            case _: java.io.IOException => ()
          }
      }
      concurrent(if (tombRaw.nonEmpty) tombRaw else "unknown")
    }
    tomb.delete()
    if (!tryCreate()) concurrent("unknown (lost the reclaim race)")
  }

  /** Score a delta of documents under the CURRENT persisted model —
    * [[lmScore]]'s formula (mean add-1-smoothed surprisal, order-pinned
    * by the compiled SortedTermSum fold) with the corpus counts read
    * from the model table instead of recomputed: when the model holds
    * exactly the scored corpus, the output is BIT-identical to
    * [[lmScore]] (IncrementalLmSpec pins it). Out-of-vocabulary tokens
    * take the same add-1 path with c = 0 — the natural frozen-model
    * semantics for scoring tomorrow's crawl under today's model.
    *
    * Scale shape: per-token totals are an exchange-free bucketed
    * aggregate over the vocabulary-sized table; the scoring join
    * clusters on tok, so only the delta's tf frame shuffles. */
  def lmScoreDelta(spark: SparkSession, modelPath: String,
                   docs: DataFrame): DataFrame = {
    val t = lmModelTableNonEmpty(spark, modelPath)
    val cf = spark.table(t).groupBy("tok").agg(sum("c").as("c"))
    val nv = cf.agg(sum("c").as("n"), count(lit(1)).as("v"))
    val tf = docs
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    tf.join(cf, Seq("tok"), "left")
      .crossJoin(broadcast(nv))
      .withColumn("term",
        col("tf") * log((coalesce(col("c"), lit(0L)) + 1)
          / (col("n") + col("v")).cast("double")))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("tok"), col("term"))).as("l"),
        sum("tf").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(SortedFolds.sortedTermSumNeg(col("l")) / col("n_tokens"), 4)
          .as("lm_score"))
      .orderBy("doc_id")
  }

  /** q_lm_delta (r12 verdict task #4): [[lmScoreDelta]] as a benched,
    * oracle-checked SparkEntry shape — score the documents table under a
    * PERSISTED model of the same corpus, exercising the production
    * frozen-model join (tf ⋈ bucketed model table, delta-side-only
    * shuffle) end-to-end so the executed-plan lints sweep it and a
    * BASELINE row tracks its cost. The model builds ONCE per fixture
    * content into a tmp-dir path keyed by (dir hash, content signature)
    * — index-built-offline/score-per-query, the q_ml_risk lifecycle —
    * and a regenerated fixture gets a fresh path instead of a stale
    * model. Because the model holds exactly the scored corpus, the
    * output is bit-identical to [[lmScore]] (IncrementalLmSpec), so the
    * oracle is q_lm_score's SQL verbatim. */
  def lmScoreDeltaQuery(spark: SparkSession, dir: String): DataFrame = {
    val modelPath = Tables.fixtureStatePath("graft_lm_delta", dir, "documents")
    if (lmModelState(modelPath).ensure(spark).isEmpty)
      lmModelAppend(spark, modelPath, Tables.documents(spark, dir), 1L)
    lmScoreDelta(spark, modelPath, Tables.documents(spark, dir))
  }

  /** The model table, failing LOUDLY when it is absent or empty: an
    * all-null score column from an accidentally-empty model (n = null
    * poisons every term) must not look like a successful scoring run. */
  private def lmModelTableNonEmpty(spark: SparkSession, modelPath: String): String = {
    val t = lmModelState(modelPath).ensure(spark).getOrElse(
      throw new IllegalStateException(s"no committed LM model at $modelPath"))
    require(!spark.table(t).isEmpty,
      s"LM model at $modelPath is empty — fold a non-empty batch first")
    t
  }

  /** Link-analysis centrality over the near-dup pair graph: PageRank with
    * 5 fixed power iterations and damping 0.85 — "which documents sit at
    * the center of a duplication neighborhood", the ranking complement of
    * the [[nearDupClusters]] partition (cluster representatives can be
    * chosen by rank instead of min-id). All arithmetic is INTEGER: ranks
    * live at scale 1e12, every division is integer division (`div`), so
    * the result is engine-neutral — no float accumulation-order drift —
    * and the DuckDB oracle unrolls the same 5 iterations as chained CTEs
    * (plain recursive CTEs cannot aggregate per step). Mass rounds down
    * and dangling mass evaporates; both sides do the same.
    *
    * Scale shape: each iteration is one equi-join (edges × ranks, both
    * partitioned by src at 100 TB) + a partial-agg contribution sum —
    * the same per-round discipline as [[connectedComponents]], no
    * driver-side data, fixed loop count. */
  def pageRank(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir)
    val nodes = Tables.documents(spark, dir).select("doc_id")
    pageRankOnGraph(nodes, pairs).orderBy(desc("pr"), col("doc_id"))
  }

  /** The power-iteration loop behind [[pageRank]], separated (same reason
    * as [[connectedComponents]]) so graph shapes the fixture can't
    * produce deterministically — stars, chains, dangling nodes — are
    * unit-testable. nodes(doc_id) + undirected pairs(d1, d2) →
    * (doc_id, pr) at integer scale 1e12, unsorted. */
  private[graft] def pageRankOnGraph(nodes: DataFrame, pairs: DataFrame,
                                     iterations: Int = 5): DataFrame = {
    // The pair list is frozen first: the edge list below reads it four
    // times (two directions, each feeding the degree agg and the join),
    // and its materialization job returns the row count that sizes the
    // layout (ADVICE: a dense graph's edge list dwarfs its node list, so
    // the width follows the EDGES, as in connectedComponentsWithRounds).
    val (pairsF, nPairs) = graft.plans.Eager.materialize(pairs)
    val edges = pairsF.select(col("d1").as("src"), col("d2").as("dst"))
      .unionByName(pairsF.select(col("d2").as("src"), col("d1").as("dst")))
    val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
      .withColumnRenamed("src", "deg_src")
    // Degree is loop-invariant: join it into the edge list ONCE, lay it
    // out hash(src) and sorted within partitions, and freeze it. Three
    // effects at once: (1) the per-iteration deg join disappears (was 5
    // joins); (2) the frozen leaf reports that layout, so each
    // iteration's src-keyed join reshuffles only the node-sized ranks
    // frame, never the edge list, and needs no Sort on the edge side;
    // (3) the (large) MinHash signature subtree is cut out of the
    // unrolled 5-iteration plan instead of appearing in it five times.
    //
    // The partition COUNT is explicit (guide §2.4): `repartition(col)`
    // leaves it to AQE, which coalesces below what the join requires,
    // and the edge side is then re-exchanged every iteration
    // (plans/r16/q_pagerank_before.txt). It is derived from the edge
    // count (Eager.joinLayoutPartitions — guide §2's scale-adaptive
    // rule; a constant session-width pin made the fixture-scale loop
    // run 5 rounds of 32-task joins AQE used to collapse).
    val nP = graft.plans.Eager.joinLayoutPartitions(nodes.sparkSession, 2L * nPairs)
    val linked = edges
      .join(deg, col("src") === col("deg_src"))
      .select(col("src"), col("dst"), col("deg"))
      .repartition(nP, col("src"))
      .sortWithinPartitions("src")
      .eagerly
    // The teleport join re-read `nodes` from parquet in every iteration
    // (5 scans + 5 node-sized Exchange+Sort): freeze it once, laid out
    // like the join wants it; the freeze also counts the nodes.
    val (nodesPart, n) = graft.plans.Eager.materialize(nodes
      .repartition(nP, col("doc_id"))
      .sortWithinPartitions("doc_id"))
    // empty graph: no nodes means no ranks — return the (empty) node
    // frame shaped like the loop's output instead of dividing by zero in
    // the teleport term (empty-input sweep: an empty corpus slice is a
    // no-op, not a driver ArithmeticException)
    if (n == 0) return nodesPart.select(col("doc_id"), lit(1000000000000L).as("pr"))
    val scale = 1000000000000L
    val teleport = (scale / n) * 15 / 100
    // ranks inherits nodesPart's hash(doc_id, nP) layout; the iteration
    // joins are keyed compatibly on both ends (src↔doc_id share the
    // hash position), so the only per-iteration exchange left is the
    // FUNDAMENTAL one — contributions regrouped by dst.
    var ranks = nodesPart.select(col("doc_id"), lit(scale / n).as("pr"))
    for (_ <- 1 to iterations) {
      val contrib = linked
        .join(ranks, col("src") === ranks("doc_id"))
        .select(col("dst"), expr("pr div deg").as("q"))
        .groupBy("dst").agg(sum(col("q")).as("c"))
        .withColumnRenamed("dst", "doc_id")
        // back to the layout width: the regroup shuffles at the session
        // width, and a wider ranks frame would make the next iteration
        // re-shuffle the EDGE side to match (elided when widths agree)
        .repartition(nP, col("doc_id"))
      ranks = nodesPart.join(contrib, Seq("doc_id"), "left")
        .select(col("doc_id"),
          (lit(teleport) + expr("(85 * coalesce(c, 0)) div 100")).as("pr"))
    }
    ranks
  }

  /** Min-label connected components: nodes(doc_id) + undirected edges
    * (d1, d2) → (doc_id, cluster_id = component min). The propagation loop
    * behind nearDupClusters, separated so graph shapes the fixture can't
    * produce deterministically (multi-hop chains) are unit-testable. */
  private[graft] def connectedComponents(nodes: DataFrame, pairs: DataFrame): DataFrame =
    connectedComponentsWithRounds(nodes, pairs)._1

  /** [[connectedComponents]] plus the number of fixpoint rounds taken —
    * the convergence-rate observable the long-chain spec pins. */
  private[graft] def connectedComponentsWithRounds(
      nodes: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    // r16 (guide §2.4, the q_pagerank fix's sibling): every fixpoint
    // round joins `edges` on dst — un-materialized, the round re-derived
    // the union from the callers' pair cache AND re-shuffled the whole
    // edge list per round (rounds × fact-exchange at corpus scale, the
    // exact cost the scaladoc below prices). Freeze the edge list ONCE,
    // hash(dst)-partitioned and in-partition sorted, so every round's
    // edge side satisfies the SortMergeJoin requirement as-is: per-round
    // work on the edge side drops to a frozen-block scan, and only
    // node-sized frames move. Width derived from the pair count
    // (Eager.joinLayoutPartitions — the scale-adaptive rule). The pair
    // frame is frozen first (the union scans it twice, so no two stages
    // race to compute it — the r14 lazy-persist sweep), and that job
    // returns the count.
    val (pairsF, nPairs) = graft.plans.Eager.materialize(pairs)
    val nP = graft.plans.Eager.joinLayoutPartitions(nodes.sparkSession, 2L * nPairs)
    val edges = pairsF.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairsF.select(col("d2").as("src"), col("d1").as("dst")))
      .repartition(nP, col("dst"))
      .sortWithinPartitions("dst")
      .eagerly
    // seed with min(self, direct neighbors) — round 1 folded into the
    // initialization, so the common diameter-1 components (pairwise dup
    // clusters) converge after a single fixpoint-check round
    val seed = edges.groupBy(col("src")).agg(min("dst").as("nbr0"))
      .select(col("src").as("seed_id"), col("nbr0"))
    // Frozen (Eager), never a plain persist: each round references the
    // previous labels frame MORE THAN ONCE (neighbor-min + the
    // shortcut's parent lookup), so without plan-level truncation the
    // analyzed plan doubles per round — by round ~10 the plan STRING
    // (built for the execution listener even with the UI off) is
    // gigabytes. Freezing replaces the plan with a LogicalRDD leaf each
    // round: plan size is constant in rounds, and each superseded
    // round's blocks are released as soon as the next round is frozen.
    var labels = nodes
      .join(seed, col("doc_id") === col("seed_id"), "left")
      .select(col("doc_id"),
        least(col("doc_id"), coalesce(col("nbr0"), col("doc_id"))).as("cluster_id"))
      .eagerly
    // coalesce to 0: sum() over zero rows is null, and a null labelSum
    // would never satisfy the fixpoint comparison — an empty nodes frame
    // must terminate (first round: 0 == 0), not loop forever
    def labelSum(df: DataFrame): java.math.BigDecimal =
      df.agg(coalesce(sum(col("cluster_id").cast("decimal(38,0)")),
        lit(java.math.BigDecimal.ZERO))).head().getDecimal(0)
    var prev: java.math.BigDecimal = null
    var cur = labelSum(labels)
    var rounds = 0
    while (prev == null || cur.compareTo(prev) != 0) {
      rounds += 1
      // rename away from labels' own column names before re-joining: nbrMin
      // carries labels in its lineage, and bare doc_id would be ambiguous
      val nbrMin = edges.join(labels, edges("dst") === labels("doc_id"))
        .groupBy(col("src"))
        .agg(min("cluster_id").as("nbr_min"))
        .select(col("src").as("nbr_id"), col("nbr_min"))
      val prop = labels.join(nbrMin, col("doc_id") === col("nbr_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("nbr_min"), col("cluster_id"))).as("cluster_id"))
      // Shortcut (pointer-doubling) step — the star-contraction idea of
      // Kiveris et al., "Connected Components in MapReduce and Beyond"
      // (SoCC'14), in label-pointer form: a label is always some node's
      // doc_id, so treating cluster_id as a parent pointer and folding in
      // the PARENT'S label halves every remaining chain per round. With
      // neighbor propagation alone a diameter-d path needs ~d rounds
      // (each round costs a full edges⋈labels shuffle — the 100 TB cost
      // is rounds × fact-exchange); with the shortcut the loop closes in
      // O(log d). One extra |nodes|-sized self-join per round buys it.
      val parent = prop.select(col("doc_id").as("p_id"), col("cluster_id").as("p_lab"))
      val next = prop.join(parent, col("cluster_id") === col("p_id"), "left")
        .select(col("doc_id"),
          least(col("cluster_id"), coalesce(col("p_lab"), col("cluster_id"))).as("cluster_id"))
        // loop-carried: frozen each round so the pointer-doubling rounds
        // never compound the plan (see the init note); the RDD lineage is
        // kept, so an executor loss mid-loop recomputes the lost blocks
        .eagerly
      prev = cur
      cur = labelSum(next)
      labels.release()
      labels = next
    }
    // `labels` stays frozen: it IS the result, and the caller's single
    // materialization (Verify write / bench noop sink) reads its blocks.
    // The pair and edge frames are only read by the loop — labels is a
    // leaf, so their blocks are dropped here rather than waiting for the
    // cleaner.
    pairsF.release()
    edges.release()
    (labels, rounds)
  }

  /** E-TEXT: TF-IDF top-3 terms per document — tf = in-doc term count,
    * idf = ln((N+1)/(df+1)) with df = docs containing the term; ranked per
    * doc by (score desc, term asc). The corpus size N rides in as a
    * broadcast one-row aggregate (no driver round-trip); document
    * frequencies are one narrow distinct + count, joined back on the term
    * key with the strategy left to AQE (a small vocabulary broadcasts, a
    * huge one shuffles — don't hint what the runtime can measure).
    *
    * r16 (guide §2.3/§2.4 — aggregate before you shuffle, share one
    * exchange): df is DERIVED from tf (`tf` rows are exactly the
    * distinct (doc, tok) pairs, so counting them per token is the same
    * value) instead of `toks.distinct().groupBy(tok)` — the distinct
    * re-tokenized the whole corpus a second time and paid a second
    * corpus-wide exchange at raw (doc, tok) grain; derived, both
    * consumers sit over ONE canonical tf exchange that AQE stage-reuse
    * dedups (plan diff: 2 Generate+Exchange subtrees → 1 + ReusedExchange). */
  def tfidf(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    // count(when(tf > 0, 1)) ≡ count(*) (tf is a count, always ≥ 1) but
    // KEEPS the tf column referenced through optimization: a bare
    // count(*) — or count("tf"), which Catalyst normalizes away — lets
    // column pruning strip tf from df's copy of the tf aggregate,
    // de-canonicalizing the two exchanges and losing the runtime
    // stage reuse (verified via PlanDump benchexec)
    val df = tf.groupBy("tok").agg(count(when(col("tf") > 0, 1)).as("df"))
    val n = Tables.documents(spark, dir).agg(count(lit(1)).as("n_docs"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.join(df, "tok")
      .crossJoin(broadcast(n))
      .withColumn("score",
        round(col("tf") * log((col("n_docs") + 1).cast("double") / (col("df") + 1)), 4))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("tok"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** E-TEXT ranking: BM25 term weights (Robertson; the Lucene-style
    * idf = ln(1 + (N−df+0.5)/(df+0.5)) variant), top-3 terms per doc —
    * [[tfidf]]'s production-ranking sibling: tf saturates at k1 and long
    * documents are normalized by dl/avgdl, so corpus-prep relevance
    * scoring doesn't overweight verbose or repetitive docs. Same scale
    * shape as tfidf: tf/dl are per-doc aggregates, df one narrow
    * distinct+count joined back on the term key (strategy left to AQE),
    * N and avgdl ride in as a broadcast one-row aggregate. k1 = 1.2,
    * b = 0.75 (the standard defaults). */
  def bm25(spark: SparkSession, dir: String): DataFrame = {
    val (k1, b) = (1.2, 0.75)
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
    // r16 (guide §2.3/§2.4, the tfidf move): dl and df are DERIVED from
    // tf — dl = Σ tf per doc (the doc's token count exactly) and df =
    // row count per token (tf rows are the distinct (doc, tok) pairs) —
    // instead of two more full tokenize passes (dl re-aggregated the raw
    // token stream; df paid a corpus-wide distinct exchange). All three
    // consumers now share ONE canonical tf exchange via AQE stage reuse:
    // 3 Generate (tokenize) subtrees → 1, the distinct's raw-grain
    // exchange is gone.
    val tf = toks.groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
    // count(when(tf > 0, 1)) keeps the tf column referenced so df's copy
    // of the tf aggregate stays canonically identical and the exchange
    // is reused (see tfidf)
    val df = tf.groupBy("tok").agg(count(when(col("tf") > 0, 1)).as("df"))
    // corpus stats from the doc-cardinality dl frame, not a
    // countDistinct over the exploded token stream (whose mixed
    // distinct+plain agg would Expand-double the widest frame):
    // n_docs = |dl| and avgdl = Σdl/|dl| are the same values exactly
    val corpus = dl.agg(
      count(lit(1)).as("n_docs"),
      (sum(col("dl")) / count(lit(1))).as("avgdl"))
    val idf = log(lit(1.0) +
      (col("n_docs") - col("df") + 0.5) / (col("df") + 0.5))
    val score = round(idf * col("tf") * (lit(k1) + 1) /
      (col("tf") + lit(k1) * (lit(1.0) - lit(b) + lit(b) * col("dl") / col("avgdl"))), 4)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy(col("score").desc, col("tok"))
    tf.join(dl, "doc_id")
      .join(df, "tok")
      .crossJoin(broadcast(corpus))
      .withColumn("score", score)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 3)
      .select(col("doc_id"), col("rank"), col("tok"), col("score"))
      .orderBy("doc_id", "rank")
  }

  /** E-TEXT collocations: pointwise mutual information over word bigrams —
    * PMI = ln(N_bi·c(ab) / (c(a)·c(b))), the association-mining step of
    * phrase detection (word2vec-style phrase merging, stopword-phrase
    * screens). Counts reuse the [[ngramTopK]] shifted-slice zip_with (one
    * codegen pass per row, no re-split); unigram counts join the bigram
    * frame twice on the word keys — both sides partial-aggregated before
    * the join, so the shuffle moves vocabulary-sized frames, not corpus
    * tokens. Gate c(ab) ≥ 5 screens noise pairs (standard practice) and
    * bounds the output; top-15 by (PMI desc, bigram) is a TakeOrdered. */
  def pmiCollocations(spark: SparkSession, dir: String): DataFrame = {
    val toksArr = split(col("text"), " ")
    val grams = zip_with(
      slice(toksArr, lit(1), greatest(size(toksArr) - 1, lit(0))),
      slice(toksArr, lit(2), greatest(size(toksArr) - 1, lit(0))),
      (a, bb) => concat(a, lit(" "), bb))
    val docs = Tables.documents(spark, dir)
    val bi = docs.select(explode(grams).as("bigram"))
      .groupBy("bigram").agg(count(lit(1)).as("c_ab"))
      .withColumn("w1", split(col("bigram"), " ").getItem(0))
      .withColumn("w2", split(col("bigram"), " ").getItem(1))
    val uni = docs.select(explode(toksArr).as("w"))
      .groupBy("w").agg(count(lit(1)).as("c"))
    val nBi = bi.agg(sum("c_ab").as("n_bi"))
    bi.filter(col("c_ab") >= 5)
      .join(uni.select(col("w").as("w1"), col("c").as("c1")), "w1")
      .join(uni.select(col("w").as("w2"), col("c").as("c2")), "w2")
      .crossJoin(broadcast(nBi))
      .select(col("bigram"), col("c_ab"),
        // products decimal-widened (the Analytics header rule): at corpus
        // scale n_bi·c_ab passes 2^63 and a raw long product aborts under
        // ANSI; decimal→double rounds to the same nearest double a long
        // product would, so the ln input is bit-unchanged at fixture scale
        round(log(
          (col("n_bi").cast("decimal(38,0)") * col("c_ab")).cast("double")
            / (col("c1").cast("decimal(38,0)") * col("c2")).cast("double")),
          4).as("pmi"))
      .orderBy(col("pmi").desc, col("bigram"))
      .limit(15)
  }

  /** E-DEDUP: 16-bit SimHash fingerprint — per-token hash bits weighted by
    * token multiplicity, sign-aggregated per bit position. */
  def simhash(spark: SparkSession, dir: String): DataFrame = {
    // Same vectorization as minhashLsh: token codes once (multiset — SimHash
    // weights by multiplicity), then ALL 16 signed bit-sums in a single
    // codegen'd sweep over the code array (SimHash16 — the per-bit HOF
    // aggregate twin interpreted 16 lambdas per element); the fingerprint
    // assembles inline, no explode/shuffle at all.
    val codes = transform(split(col("text"), " "), tokenCode _)
    Tables.documents(spark, dir)
      .select(col("doc_id"), codes.as("codes"))
      .select(col("doc_id"),
        graft.functions.SimHash16.simhash16(col("codes"), MinhashParams, MinhashPrime).as("simhash"))
      .orderBy("doc_id")
  }

  /** Stratified sampling (training-data rebalancing): per-language
    * Bernoulli fractions — downsample the dominant strata, keep the rare
    * ones whole. The per-row uniform is the q_wsample integer-hash draw
    * (knuthFold → Knuth multiply → mod-prime), NOT Spark's sampleBy
    * (whose XORShift stream no other engine reproduces, which forced a
    * rows-only driver check until r14): a doc is kept iff
    * u(doc_id) ≤ fraction(lang), so the draw is engine-neutral,
    * hash-checkable against DuckDB, deterministic across runs AND
    * engines, and stateless — at 100 TB the sample membership is
    * recomputed from the id wherever needed, the same property that
    * makes [[graft.operators.Curation.splitOf]] a narrow projection.
    * Strata absent from the map are dropped (sampleBy's contract). */
  val SampleFractions: Map[String, Double] =
    Map("en" -> 0.2, "de" -> 0.5, "es" -> 0.5, "fr" -> 0.8, "zh" -> 1.0)

  /** The per-language fraction as a SQL CASE over the same literals —
    * the oracle twin is GENERATED from [[SampleFractions]] (the zkey16Sql
    * precedent) so the two sides cannot drift. */
  def sampleFractionSql: String =
    SampleFractions.toSeq.sorted
      .map { case (l, f) => s"WHEN lang = '$l' THEN CAST($f AS DOUBLE)" }
      .mkString("CASE ", " ", " ELSE CAST(-1.0 AS DOUBLE) END")

  def stratifiedSample(spark: SparkSession, dir: String): DataFrame = {
    // the q_wsample uniform: (0, 1], identical arithmetic on both sides
    val u = ((graft.operators.Curation.knuthFold(col("doc_id"))
      * lit(2654435761L)) % 1000003L + 1L).cast("double") / 1000003.0
    val f = SampleFractions.toSeq.sorted.foldLeft(lit(-1.0)) {
      case (acc, (l, fr)) => when(col("lang") === l, lit(fr)).otherwise(acc)
    }
    Tables.documents(spark, dir)
      .filter(u <= f)
      .select(col("doc_id"), col("lang"), col("source"))
      .orderBy("doc_id")
  }

  /** Composed training-data prep pipeline (the mandate families working
    * together, not in isolation): quality gate (≥20 tokens) → exact dedup
    * (min doc_id per text hash) → near-dup representatives only (doc is
    * its own LSH cluster min) → per-language corpus stats. Every stage is
    * the already-oracled operator; the pipeline proves they compose —
    * semi-joins keep the doc set narrow between stages, and the only
    * wide columns (text) never cross a shuffle after tokenization. */
  def corpusPrep(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val quality = docs
      .withColumn("n_tokens", size(split(col("text"), " ")).cast("long"))
      .filter(col("n_tokens") >= 20)
    val exactKeep = quality
      .groupBy(md5(encode(col("text"), "UTF-8")).as("h"))
      .agg(min("doc_id").as("doc_id"))
      .select("doc_id")
    val reps = nearDupClusters(spark, dir)
      .filter(col("cluster_id") === col("doc_id"))
      .select("doc_id")
    quality
      .join(exactKeep, Seq("doc_id"), "left_semi")
      .join(reps, Seq("doc_id"), "left_semi")
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_tokens").cast("long").as("n_tokens_total"))
      .orderBy("lang")
  }

  /** E-TEXT: global top-20 terms (explode → count → TakeOrdered). */
  def topTerms(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("cnt"))
      .orderBy(col("cnt").desc, col("tok"))
      .limit(20)

  /** E-TEXT: top-k bigrams per source (n-gram language-model counts, the
    * unigram→n-gram step of the mandate's token-counting family). The
    * bigram array is built with `zip_with` over two shifted slices — one
    * codegen'd pass per row; the per-element `element_at(split(...), i)`
    * formulation would re-split the text for every gram (the interpreted-
    * HOF outer-reference trap). Count then rank per source; the per-group
    * top-k is a partial-aggregable count + one bounded window. */
  def ngramTopK(spark: SparkSession, dir: String, k: Int = 10): DataFrame = {
    val toks = split(col("text"), " ")
    val grams = zip_with(
      slice(toks, lit(1), greatest(size(toks) - 1, lit(0))),
      slice(toks, lit(2), greatest(size(toks) - 1, lit(0))),
      (a, b) => concat(a, lit(" "), b))
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(grams).as("bigram"))
      .groupBy("source", "bigram").agg(count(lit(1)).as("n"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("n").desc, col("bigram"))
    counts
      .withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
      .orderBy("source", "rk")
  }

  /** E-TEXT/E-AGG: per-source unigram Shannon entropy (corpus diversity
    * profiling). Double-summation order differs between engines, so the
    * term distribution is folded DETERMINISTICALLY: the compiled
    * [[graft.functions.PlogpSum]] kernel sorts the collected per-source
    * counts ascending and folds `acc − p·ln p` left-to-right — the same
    * sequence the oracle reduces, so the doubles match bit-for-bit
    * before the final display rounding (the r12 compiled twin of the
    * old `aggregate(array_sort(cs), …)` form). The collected array is
    * vocabulary-sized (distinct terms per source), not corpus-sized —
    * safe while vocabularies are dim-like (they are: text vocab, not
    * document count, bounds it). */
  def tokenEntropy(spark: SparkSession, dir: String): DataFrame = {
    val counts = Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
    counts.groupBy("source")
      .agg(
        sum("c").as("n_tokens"),
        collect_list(col("c")).as("cs"))
      .select(
        col("source"),
        col("n_tokens"),
        size(col("cs")).cast("long").as("n_terms"),
        // compiled PlogpSum ≡ the interpreted
        // aggregate(array_sort(cs), 0, acc - p·ln p) twin, bit for bit
        // (SortedFoldsSpec) — count-ascending fold order pins the sum
        round(SortedFolds.plogpSum(col("cs"), col("n_tokens")), 4).as("entropy"))
      .orderBy("source")
  }

  /** E-TEXT: inverted-index build (term → document frequency + bounded
    * posting sample) — the retrieval-side complement of [[tfidf]]: the
    * postings equi-join is what makes token-overlap dedup and keyword
    * search sub-quadratic at corpus scale.
    *
    * Scale shape (r11 reshape): ONE partial-aggregable groupBy computes
    * BOTH df (a plain count) and the 10-smallest-doc_id sample (the
    * bounded [[graft.functions.TopKAggregator]] with score = −doc_id —
    * k-row buffers, map-side combine). The old form routed each token's
    * FULL posting list through a window PARTITIONED by tok: at 100 TB a
    * stopword's ~1e12 posting rows would external-sort inside ONE task —
    * the row_number ≤ 10 cap bounded only the collect, never that sort.
    * Now the exchange carries one (count, ≤10-row buffer) per token per
    * map task; no task ever holds a full posting list. (−doc_id as a
    * double is exact below 2^53 — the same id-domain bound the packed
    * attr_replay key documents.) */
  def postings(spark: SparkSession, dir: String): DataFrame = {
    val tk = udaf(graft.functions.TopKAggregator(10),
      org.apache.spark.sql.Encoders.product[graft.functions.Scored])
    Tables.documents(spark, dir)
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("tok"))
      .groupBy("tok")
      .agg(count(lit(1)).as("df"),
        // aggregator order = (score desc, id asc) = doc_id ascending;
        // a product-encoded udaf takes its case-class fields as
        // FLATTENED column arguments, not one struct
        tk((-col("doc_id")).cast("double"), col("doc_id")).as("top"))
      .select(col("tok"), col("df"),
        concat_ws(",",
          transform(col("top"), s => s.getField("id").cast("string"))).as("sample_docs"))
      .orderBy("tok")
  }

  /** E-DEDUP verification lens #2: edit-distance (record linkage) —
    * Levenshtein over the first 80 chars of each LSH candidate pair.
    * Where [[jaccardPairs]] verifies bag-of-words overlap, this catches
    * ORDER-preserving near-duplication (shared prefixes, small edits) the
    * set view is blind to. Candidates come from [[minhashPairs]], so the
    * quadratic edit-distance kernel only ever runs on the LSH-screened
    * pair set — the same candidates-then-verify discipline as the bitmap
    * path; the 80-char cap bounds the O(n·m) DP per pair. */
  def editSimilarity(spark: SparkSession, dir: String): DataFrame = {
    val heads = Tables.documents(spark, dir)
      .select(col("doc_id"), substring(col("text"), 1, 80).as("head"))
    minhashPairs(spark, dir)
      .join(heads.select(col("doc_id").as("d1"), col("head").as("h1")), "d1")
      .join(heads.select(col("doc_id").as("d2"), col("head").as("h2")), "d2")
      .select(col("d1"), col("d2"), levenshtein(col("h1"), col("h2")).cast("long").as("edit_dist"))
      .filter(col("edit_dist") <= 40)
      .orderBy("d1", "d2")
  }

  /** q_jw: Jaro–Winkler similarity over the LSH candidate pairs — the
    * record-linkage companion to [[editSimilarity]]'s Levenshtein: JW
    * rewards shared prefixes and forgives transpositions, which is the
    * right bias for near-dup TITLES/heads where token swaps are common.
    * Runs the custom codegen expression [[graft.functions.JaroWinkler]]
    * (DuckDB-pinned semantics — see its scaladoc) over the full texts of
    * candidate pairs only; like every dedup audit here it is
    * pair-bounded on the LSH candidate set, never all-pairs.
    * Reference analog: the identity checks `verify.py:12-17` does with
    * exact equality — the engine generalizes them to graded similarity. */
  def jaroWinklerPairs(spark: SparkSession, dir: String): DataFrame = {
    val texts = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    minhashPairs(spark, dir)
      .join(texts.select(col("doc_id").as("d1"), col("text").as("t1")), "d1")
      .join(texts.select(col("doc_id").as("d2"), col("text").as("t2")), "d2")
      .select(col("d1"), col("d2"),
        round(graft.functions.JaroWinklerImpl.jaroWinkler(col("t1"), col("t2")), 6)
          .as("jw_sim"))
      .orderBy("d1", "d2")
  }

  /** Graph shape of the duplication neighborhood: global triangle census
    * over the MinHash-LSH pair graph — edge count, wedge count (paths of
    * length 2), triangle count, and the global clustering coefficient
    * 3·triangles/wedges. High clustering says near-dup candidates form
    * tight cliques (true dup families); low says chains/stars (shingle
    * collisions), so this is the graph-level quality gauge for the LSH
    * parameters, the same way [[pageRank]] gauges centrality.
    *
    * Algorithm: the standard ordered-edge triangle join — every edge is
    * kept as (lo, hi) once, and triangles are counted by joining the
    * wedge (a<b, b<c) against the closing edge (a, c). Each step is an
    * equi-join + partial-agg count: no node ever materializes its whole
    * neighborhood, so the plan survives corpus-scale graphs (skew bound =
    * max-degree wedge fan-out, the accepted cost of exact counting). */
  def triangleCensus(spark: SparkSession, dir: String): DataFrame =
    triangleCensusOnEdges(minhashPairs(spark, dir))

  /** The census over any (d1 < d2) edge frame, separated (same reason as
    * [[connectedComponents]]) so known graph shapes — a closed triangle
    * with a pendant, a pure star — are unit-testable. */
  private[graft] def triangleCensusOnEdges(pairs: DataFrame): DataFrame = {
    // EAGER (the r12 broadcast-race lint): the degree build and one
    // triangle-join side both broadcast over this frame — joined 3x +
    // degree scan, materialized once up front
    val edges = pairs.eagerly
    val deg = edges.select(col("d1").as("v")).unionByName(edges.select(col("d2").as("v")))
      .groupBy("v").agg(count(lit(1)).as("deg"))
    // wedge terms stay EXACT integers: deg widens to DECIMAL(38,0)
    // before the multiply (deg² passes 2^63 for a ~3e9-degree hub) and
    // the single ÷2 happens on the exact total (always even — deg·(deg−1)
    // is a product of consecutive integers; Spark decimal÷int stays
    // decimal, scale 6, exact here). The old per-term `/ 2` made each
    // term a DOUBLE summed in partition order — past 2^53 total wedges
    // (one 1e8-member boilerplate clique ≈ 5e15 wedges) partial sums
    // round differently between runs AND engines (r11 review). The
    // DuckDB twin must use HUGEINT and `//`: DuckDB's `/` yields DOUBLE
    // even on DECIMAL operands, which re-introduced the 2^53 rounding on
    // the oracle side (r11 second-pass review, verified on a 3e9 hub).
    val wedges = deg.agg(
      (sum(col("deg").cast("decimal(38,0)") * (col("deg") - 1)) / 2)
        .cast("long").as("n_wedges"))
    val tri = edges.as("e1")
      .join(edges.as("e2"), col("e1.d2") === col("e2.d1"))
      .join(edges.as("e3"),
        col("e1.d1") === col("e3.d1") && col("e2.d2") === col("e3.d2"))
      .agg(count(lit(1)).as("n_triangles"))
    val nEdges = edges.agg(count(lit(1)).as("n_edges"))
    nEdges.crossJoin(wedges).crossJoin(tri) // three 1-row aggregates
      .select(col("n_edges"), col("n_wedges"), col("n_triangles"),
        round(when(col("n_wedges") > 0,
          lit(3.0) * col("n_triangles") / col("n_wedges")).otherwise(lit(0.0)), 4)
          .as("clustering"))
  }

  /** Training-data mixing (mandate: corpus composition control): given a
    * domain recipe — five named sources with explicit shares summing to
    * 0.8, the remaining 0.2 split evenly across every OTHER source — and
    * a global token budget (half the corpus), compute each source's
    * sampling rate r = min(1, budget·share/tokens). This is the planning
    * step of every "mix N domains to a recipe" pipeline — the output
    * rates feed [[weightedSample]]-style selection. The recipe covers ALL
    * domains (a left join + even-split default), so no source is silently
    * dropped. One narrow agg per source + three 1-row broadcasts;
    * entirely deterministic (integer token counts, exact share literals —
    * the 0.2 remainder is a literal, not 1−0.8, which in doubles is
    * 0.19999999999999996). */
  val MixTargets: Seq[(String, Double)] = Seq(
    "src0" -> 0.35, "src1" -> 0.20, "src2" -> 0.12, "src3" -> 0.08, "src4" -> 0.05)

  def mixRates(spark: SparkSession, dir: String): DataFrame = {
    val sess = spark
    import sess.implicits._
    val targets = MixTargets.toDF("source", "target_share")
    val perSource = Tables.documents(spark, dir)
      .select(col("source"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens"))
    val joined = perSource.join(broadcast(targets), Seq("source"), "left")
    val nOther = joined.filter(col("target_share").isNull)
      .agg(count(lit(1)).as("n_other"))
    val budget = perSource.agg((sum("n_tokens") / 2).cast("long").as("budget"))
    joined
      .crossJoin(broadcast(budget))
      .crossJoin(broadcast(nOther))
      .withColumn("share",
        round(coalesce(col("target_share"), lit(0.2) / col("n_other")), 4))
      .withColumn("rate",
        round(least(lit(1.0), col("budget") * col("share") / col("n_tokens")), 4))
      .select(col("source"), col("n_docs"), col("n_tokens"), col("share"),
        col("rate"), floor(col("rate") * col("n_tokens")).cast("long").as("est_tokens"))
      .orderBy("source")
  }

  /** Weighted sampling without replacement (Efraimidis–Spirakis A-ES):
    * per-source top-5 docs by key u^(1/w), weight = document length, so
    * longer documents are proportionally likelier — the selection step of
    * token-budget mixing ([[mixRates]] plans, this draws). The uniform u
    * is NOT an engine RNG: it derives from doc_id by integer arithmetic
    * (Knuth multiplicative hash mod a prime), so the draw is reproducible
    * across engines and the oracle can check it exactly — unlike
    * [[stratifiedSample]], whose Spark-internal per-row draw forces a
    * rows-only check. Ranking keys are rounded to 8 decimals before the
    * (key desc, doc_id) order so cross-engine pow() ulp drift cannot flip
    * ranks (a 1-ulp difference only matters if the true value sits within
    * ~1e-16 of a 1e-8 grid boundary; ties themselves are safe — doc_id
    * breaks them identically on both sides). Per-group top-k via row_number — one partial-aggregable
    * shuffle, the q_win_topk shape. */
  def weightedSample(spark: SparkSession, dir: String): DataFrame = {
    // doc_id folds to [0, 2³¹−1) before the Knuth multiply (the Curation
    // .knuthFold overflow rule — identity for every fixture id); folded
    // positive, so the plain % can never go negative into the pow
    val u = ((graft.operators.Curation.knuthFold(col("doc_id")) * 2654435761L)
      % 1000003L + 1L).cast("double") / 1000003.0
    val key = round(pow(u, lit(1.0) / col("n_tok")), 8)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy(col("skey").desc, col("doc_id"))
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("skey", key)
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= 5)
      .select(col("source"), col("rank"), col("doc_id"), col("n_tok"), col("skey"))
      .orderBy("source", "rank")
  }

  /** q_temp_mix: temperature-rebalanced language mixture — the mT5 /
    * XLM-R multilingual sampling rule (Xue et al. 2021 §3.1; Conneau et
    * al. 2020 §3): sample language l with probability q_l ∝ p_l^α,
    * p_l = its raw token share, α = 0.3 — flattening the distribution so
    * low-resource languages are upsampled without letting any single
    * language dominate. Complements [[mixRates]]: that plans NAMED
    * per-source shares against a token budget; this DERIVES the shares
    * from the data by exponent rebalancing over the language axis.
    * Output per language: raw share, temperature share, and the boost
    * factor q_l/p_l a sampler applies on top of natural frequency.
    *
    * Determinism: p_l is one correctly-rounded double division of two
    * exact integer token counts (identical across engines); pow sits on
    * the documented cross-libm 1-ulp boundary (the q_wsample precedent —
    * display-rounded, and a flip needs the true value within ~1e-16 of a
    * 1e-4 grid line); the normalizer Z folds the p^α terms over the
    * LANG-SORTED list (q_entropy discipline) so addition order is a
    * total order on both engines.
    *
    * Scale shape: one map-side-combinable token-count aggregation over
    * the corpus; everything after runs on a |languages|-row frame with
    * two 1-row broadcasts — no fact-sized window, sort, or second scan. */
  def tempMix(spark: SparkSession, dir: String): DataFrame =
    tempMixOver(Tables.documents(spark, dir)
      .select(col("lang"), size(split(col("text"), " ")).cast("long").as("n_tok"))
      .groupBy("lang")
      .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("n_tokens")))

  /** The rebalancing math of [[tempMix]] over a prepared
    * (lang, n_docs, n_tokens) frame — separated (the pageRankOnGraph
    * pattern) so distributions the fixture can't produce (hundreds of
    * languages, extreme skew) are property-testable. */
  private[graft] def tempMixOver(per: DataFrame): DataFrame = {
    val tot = per.agg(sum("n_tokens").as("n_total"))
    val withP = per.crossJoin(broadcast(tot))
      .withColumn("p", col("n_tokens") / col("n_total").cast("double"))
      .withColumn("pa", pow(col("p"), lit(0.3)))
    val z = withP
      .agg(collect_list(struct(col("lang"), col("pa"))).as("l"))
      .select(SortedFolds.sortedTermSum(col("l")).as("z"))
    withP.crossJoin(broadcast(z))
      .select(col("lang"), col("n_docs"), col("n_tokens"),
        round(col("p"), 4).as("p_raw"),
        round(col("pa") / col("z"), 4).as("p_temp"),
        round(col("pa") / col("z") / col("p"), 4).as("boost"))
      .orderBy("lang")
  }

  /** q_interleave: deterministic stride-scheduled source interleaving —
    * the EXECUTABLE training order that [[mixRates]]'s weights only plan.
    * Classic stride scheduling (weighted round-robin): each source
    * advances a virtual clock by 60/w per document, and the global
    * training order is ascending virtual time — a source with weight w
    * contributes w docs per 60 virtual ticks, so sources interleave
    * ∝ weight instead of concatenating (the "don't train on one domain
    * for a million steps" rule). Weights are the standard
    * small-source-upweight policy, derived from the data: w = 6 − q
    * where q is the source's token-mass quintile (smallest curated
    * sources repeat up to 5× as densely as the web-crawl quintile).
    * 60 = lcm(1..5) keeps every stride integral — all arithmetic exact.
    *
    * Scale shape: the per-source rank is a source-partitioned window;
    * the quintile ntile runs over the SOURCE frame (|sources| rows, a
    * dimension); the global position is the q_auc two-level prefix sum —
    * per-bucket counts (bucket = vt ≫ 12) offset a bucket-PARTITIONED
    * row_number, so the only unpartitioned window is the bucket-offset
    * frame: vt_max/4096 ≈ 60·|docs| / (|sources|·4096) rows, ~0.07% of
    * the corpus (~730k rows at 10⁹ docs), never |docs| itself. */
  def interleave(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val docs = Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
    // source weights: token-mass quintile, inverted (|sources| rows — a
    // dimension frame; the unpartitioned ntile window is domain-bounded)
    val wQ = Window.orderBy("n_tokens", "source")
    val weights = docs.groupBy("source")
      .agg(sum("n_tok").as("n_tokens"))
      .withColumn("w", (lit(6) - ntile(5).over(wQ)).cast("long"))
      .select("source", "w")
    val wRank = Window.partitionBy("source").orderBy("doc_id")
    val vt = docs
      .join(broadcast(weights), "source")
      .withColumn("rank_in_source", row_number().over(wRank).cast("long"))
      // 60/w is integral for w ∈ 1..5 (60 = lcm); vt stays exact BIGINT
      .withColumn("vt", expr("rank_in_source * (60 div w)"))
      .withColumn("b", shiftright(col("vt"), 12))
    val wOff = Window.orderBy("b")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val offsets = vt.groupBy("b").agg(count(lit(1)).as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wOff), lit(0L)))
      .select("b", "off")
    val wIn = Window.partitionBy("b").orderBy("vt", "source", "doc_id")
    vt.join(broadcast(offsets), "b")
      .withColumn("pos", (col("off") + row_number().over(wIn)).cast("long"))
      .select(col("doc_id"), col("source"), col("w"),
        col("rank_in_source"), col("vt"), col("pos"))
      .orderBy("pos")
  }

  /** Training-sequence packing (the concat-and-chunk recipe): per source,
    * documents concatenate in doc_id order into one token stream that is
    * cut every `budget` tokens; each document is labeled with the
    * sequence its FIRST token lands in, its offset there, and whether it
    * spans a cut — the bookkeeping a packed-pretraining loader needs.
    * All integer arithmetic over one running-sum window.
    *
    * Scale shape: packing is inherently sequential along the stream, so
    * the stream is the PARTITION — one window per source, never a global
    * order. At 100 TB sources (or finer shard keys) are the parallel
    * unit, the same way tokenizer shards are; the window sorts only
    * within its shard. */
  def packSequences(spark: SparkSession, dir: String, budget: Int = 2048): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("source").orderBy("doc_id")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    Tables.documents(spark, dir)
      .select(col("doc_id"), col("source"),
        size(split(col("text"), " ")).cast("long").as("n_tok"))
      .withColumn("start_off", coalesce(sum("n_tok").over(w), lit(0L)))
      .select(col("source"), col("doc_id"), col("n_tok"),
        (col("start_off") % budget).as("offset"),
        expr(s"start_off div $budget").as("seq_id"),
        (expr(s"(start_off + n_tok - 1) div $budget") > expr(s"start_off div $budget"))
          .as("spans_cut"))
      .orderBy("source", "doc_id")
  }

  /** Containment detection on the LSH candidate set: a pair where one
    * doc's shingle SET is a subset of the other's — the "sub-document /
    * quoted-inside" relation near-dup Jaccard misses (a small doc fully
    * inside a big one has low Jaccard but total containment). Candidates
    * come from [[minhashPairs]] (band equi-join, sub-quadratic); the
    * subset test is |A∩B| = |A| over the per-doc shingle-code arrays
    * (vocabulary-bounded, array_intersect in one narrow pass).
    *
    * Round-8 reshape (r7 verdict task #4): the shingle-code scan is
    * computed ONCE and persisted, then threaded through BOTH the LSH
    * candidate stage ([[minhashPairsOver]]) and the verify joins — the
    * old form re-ran the whole tokenize→shingle→code pipeline a second
    * time for the subset test, doubling the heaviest scan of the
    * engine's tightest-baselined dedup query. */
  def containment(spark: SparkSession, dir: String): DataFrame = {
    // (lifecycle: caller's-action-time consumer, reclaimed by the harness
    // clearCache — the bloomSemiJoin note). Lazy persist is SAFE here by
    // single-consumer-first structure (r14 sweep): minhashPairsOver's
    // eager band-key freeze is this cache's sole first consumer and
    // loads it fully, so the two verify joins below read it warm.
    val codes = shingleCodeFrame(spark, dir).persist()
    minhashPairsOver(codes)
      .join(codes.select(col("doc_id").as("d1"), col("cs").as("cs1")), "d1")
      .join(codes.select(col("doc_id").as("d2"), col("cs").as("cs2")), "d2")
      .select(col("d1"), col("d2"),
        size(col("cs1")).cast("long").as("sz1"),
        size(col("cs2")).cast("long").as("sz2"),
        size(array_intersect(col("cs1"), col("cs2"))).cast("long").as("inter"))
      .filter(col("inter") === col("sz1") || col("inter") === col("sz2"))
      .withColumn("relation",
        when(col("sz1") === col("sz2"), lit("equal"))
          .when(col("inter") === col("sz1"), lit("d1_in_d2"))
          .otherwise(lit("d2_in_d1")))
      .orderBy("d1", "d2")
  }

  /** Unigram language-model quality score: per-doc mean negative log
    * probability under the corpus unigram distribution with add-1
    * smoothing — the perplexity-proxy scorer corpus filters rank on
    * (mandate: quality scoring). Determinism discipline is q_entropy's:
    * per-doc contributions are folded over an array SORTED by token
    * (unique within a doc), so the double summation order is fixed on
    * both engines; all inputs to every ln are exact integers. Corpus
    * totals ride in as a broadcast 1-row aggregate. */
  def lmScore(spark: SparkSession, dir: String): DataFrame = {
    // `tf` feeds the corpus model (cf → nv) and the per-doc join;
    // deliberately NOT persisted — an A/B at sf0.1 measured the cached
    // form at 1.92 s vs 1.19 s median (matched context): exchange reuse
    // already shares the aggregated subtree, so the persist only adds
    // materialization cost (the q_wau crossover). At production volume
    // with reuse disabled or multi-job consumers, persist (or write out)
    // this |docs×vocab|-bounded frame instead.
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("tok").agg(sum("tf").as("c"))
    val nv = cf.agg(sum("c").as("n"), count(lit(1)).as("v"))
    // the per-token surprisal term is computed HERE, in a codegen'd
    // projection (one ln per (doc, tok) row), not inside the array fold —
    // HOF lambdas evaluate interpreted, so keeping the ln/divide/multiply
    // in the fold charged the whole corpus-model math to the interpreter
    // (~0.2 s/run at sf0.1). The order-pinned subtraction fold is the
    // compiled SortedTermSum kernel (functions/SortedFolds.scala): it
    // sorts by the per-doc-unique tok with array_sort's struct natural
    // order and subtracts in that order, bit-identical to the oracle's
    // recurrence — without the two interpreted HOF passes (array_sort's
    // comparator + aggregate's lambda) of the r11 formulation.
    tf.join(cf, "tok")
      .crossJoin(broadcast(nv))
      .withColumn("term",
        col("tf") * log((col("c") + 1) / (col("n") + col("v")).cast("double")))
      .groupBy("doc_id")
      .agg(collect_list(struct(col("tok"), col("term"))).as("l"),
        sum("tf").as("n_tokens"))
      .select(col("doc_id"), col("n_tokens"),
        round(SortedFolds.sortedTermSumNeg(col("l")) / col("n_tokens"), 4)
          .as("lm_score"))
      .orderBy("doc_id")
  }

  /** q_ccnet_buckets: CCNet-style per-language quality buckets (Wenzek
    * et al. 2020 §4.3): score every document under a corpus unigram
    * model, then cut EACH LANGUAGE independently into head/middle/tail
    * terciles — per-language calibration is the paper's signature move
    * (a global cutoff would junk whole low-resource languages whose
    * scores sit in another language's tail). Downstream pipelines keep
    * head+middle and drop or down-weight tail.
    *
    * DEVIATION from the paper, by design: CCNet ranks by Kneser–Ney
    * 5-gram perplexity; the engine-neutral rank key here is mean inverse
    * unigram probability (add-1 smoothed) — monotone in "rare/surprising
    * tokens" like perplexity, but EXACT-RATIONAL end to end (each term
    * is tf·(N+V)/(c+1): integer ratios under one correctly-rounded
    * division, summed in token-sorted order — the q_entropy fold
    * discipline). [[lmScore]]'s ln-based surprisal would put the tercile
    * CUTS on the documented cross-libm 1-ulp boundary, where one flipped
    * rank moves a whole bucket row; a rank key must be bit-stable, a
    * display column only needs to round stably.
    *
    * Scale shape (r12 reshape, r11 verdict task #3): the model frames
    * are vocabulary-sized partial aggregates and the per-doc join is
    * tf⋈vocab on the token key — the exact shape q_lm_score benches.
    * The tercile CUT is NOT a per-language ntile window (a hot
    * language's whole corpus on one reducer at 100×); it is the r8
    * q_rfm/q_histogram_eq two-level recipe, reproducing ntile(3)'s rank
    * rule bit for bit:
    *
    *  1. Per-language (n, min, max) fix the ntile boundary RANKS
    *     b_i = i·⌊n/3⌋ + min(i, n mod 3) (first n mod 3 buckets get the
    *     extra row — the q_interleave precedent, same rule in DuckDB).
    *  2. Docs land in 1024 equal-width rarity CELLS per language (the
    *     cell id is a monotone function of the rarity double, so equal
    *     rarities — ntile's tie groups — never split across cells). A
    *     (lang, cell) count+min+max histogram plus a prefix sum over the
    *     ≤1024-row-per-language cell frame gives every cell its global
    *     rank range [start+1, start+cnt].
    *  3. A cell whose rank range sits inside one tercile assigns ALL its
    *     docs (and its min/max rarity) by arithmetic — no per-doc work.
    *     Only the ≤2 cells per language that STRADDLE a boundary rank
    *     resolve exactly: row_number over a (lang, cell)-PARTITIONED
    *     window — hash-distributed, ~n/1024 docs per cell — recovers
    *     rank = start + row_number, which equals ntile's (rarity,
    *     doc_id) rank because cells are rarity-monotone.
    *
    * Residual skew: a single rarity value carrying a macroscopic tie
    * mass puts that one cell's tie group in one task (the documented rfm
    * residual); every other frame is dimension- or cell-bounded. */
  def ccnetBuckets(spark: SparkSession, dir: String): DataFrame =
    ccnetBucketFrames(spark, dir)
      .select(col("lang"),
        when(col("b") === 1, "head")
          .when(col("b") === 2, "middle")
          .otherwise("tail").as("bucket"),
        col("n_docs"),
        round(col("min_r"), 4).as("min_rarity"),
        round(col("max_r"), 4).as("max_rarity"))
      .orderBy("lang", "bucket")

  /** Unrounded per-(lang, tercile) frame behind [[ccnetBuckets]] —
    * (lang, b ∈ {1,2,3}, n_docs, min_r, max_r); the query rounds the
    * rarity bounds to 4dp only at display. */
  private def ccnetBucketFrames(spark: SparkSession, dir: String): DataFrame = {
    val tf = Tables.documents(spark, dir)
      .select(col("doc_id"), col("lang"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "lang", "tok").agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("tok").agg(sum("tf").as("c"))
    val nv = cf.agg(sum("c").as("n"), count(lit(1)).as("v"))
    // term stays in a codegen'd projection (the lmScore lesson: HOF
    // lambdas evaluate interpreted); the order-pinned ADD is the compiled
    // SortedTermSum kernel — tok is per-doc-unique, so the struct sort is
    // total and the fold order matches the oracle's recurrence exactly
    val per = tf.join(cf, "tok")
      .crossJoin(broadcast(nv))
      .withColumn("term",
        col("tf") * ((col("n") + col("v")).cast("double") / (col("c") + 1)))
      .groupBy("doc_id", "lang")
      .agg(collect_list(struct(col("tok"), col("term"))).as("l"),
        sum("tf").as("n_tokens"))
      .select(col("doc_id"), col("lang"),
        (SortedFolds.sortedTermSum(col("l"))
          / col("n_tokens")).as("rarity"))
      // EAGER, not persist(): the three consumers (lang stats, cell
      // histogram, straddle probe) sit under separate broadcast
      // exchanges, and Spark submits broadcast jobs concurrently — with
      // a lazy cache each of them raced to materialize it and the whole
      // tf⋈vocab fold ran three times (measured 3× the subtree cost at
      // local[32]). The Eager freeze materializes the doc-sized frame
      // once, before any consumer plans against it.
      .eagerly
    // Downstream frames (stats, hist, ranges) are deliberately NOT
    // checkpointed: their subtrees repeat in the final plan (16 scans of
    // the checkpointed `per` statically), but every repeat sits behind a
    // canonically identical exchange that AQE stage-reuse dedups at
    // runtime. Measured r14 (BandProfile, sf0.1, steady reps): eager
    // stats+hist checkpoints grew build 1.2→2.2 s for a ~0.05 s exec
    // saving — total 2.2-2.7 s → 3.2-3.5 s. The duplication is free;
    // the extra eager jobs are not.
    val K = 1024L
    // (r17 A/B, tried and REVERTED: deriving b1/b2 inside `ranges` from
    // a whole-partition window sum over the histogram — to drop this
    // frame's second broadcast projection — measured ~0.2-0.3 s SLOWER
    // at sf0.1 across matched 7-rep subset runs and saves nothing at
    // scale: both stats projections already share one exchange via AQE
    // reuse, and the hist frame is cell-bounded either way. The
    // two-broadcast shape stays.)
    val stats = per.groupBy("lang").agg(
        count(lit(1)).as("n"), min("rarity").as("mn"), max("rarity").as("mx"))
      .withColumn("q3", expr("n div 3"))
      .withColumn("r3", pmod(col("n"), lit(3L)))
      // ntile bucket-end ranks: b_i = i·q + min(i, r)
      .withColumn("b1", col("q3") + least(lit(1L), col("r3")))
      .withColumn("b2", lit(2L) * col("q3") + least(lit(2L), col("r3")))
    // cell id: monotone in rarity ((x−mn)/(mx−mn) is IEEE-monotone for
    // mx>mn, floor/least preserve it), so equal rarities share a cell and
    // cross-cell order is strict — rank composes as start + in-cell rank
    val cells = per.join(broadcast(stats.select("lang", "mn", "mx")), "lang")
      .withColumn("k",
        when(col("mx") === col("mn"), lit(0L))
          .otherwise(least(
            floor((col("rarity") - col("mn")) / (col("mx") - col("mn")) * K)
              .cast("long"),
            lit(K - 1L))))
      .select("doc_id", "lang", "rarity", "k")
    val hist = cells.groupBy("lang", "k")
      .agg(count(lit(1)).as("cnt"),
        min("rarity").as("min_r"), max("rarity").as("max_r"))
    val wH = org.apache.spark.sql.expressions.Window
      .partitionBy("lang").orderBy("k")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    def bkt(rk: Column): Column =
      when(rk <= col("b1"), 1).when(rk <= col("b2"), 2).otherwise(3)
    val ranges = hist
      .withColumn("start", coalesce(sum("cnt").over(wH), lit(0L)))
      .join(broadcast(stats.select("lang", "b1", "b2")), "lang")
      .withColumn("blo", bkt(col("start") + 1))
      .withColumn("bhi", bkt(col("start") + col("cnt")))
    val whole = ranges.filter(col("blo") === col("bhi"))
      .select(col("lang"), col("blo").as("b"),
        col("cnt"), col("min_r"), col("max_r"))
    // ≤2 straddling cells per language (the ones holding ranks b1, b2)
    val straddle = ranges.filter(col("blo") =!= col("bhi"))
      .select("lang", "k", "start", "b1", "b2")
    val wS = org.apache.spark.sql.expressions.Window
      .partitionBy("lang", "k").orderBy("rarity", "doc_id")
    val resolved = cells.join(broadcast(straddle), Seq("lang", "k"))
      .withColumn("rk", col("start") + row_number().over(wS))
      .withColumn("b", bkt(col("rk")))
      .groupBy("lang", "b")
      .agg(count(lit(1)).as("cnt"),
        min("rarity").as("min_r"), max("rarity").as("max_r"))
    whole.unionByName(resolved)
      .groupBy("lang", "b")
      .agg(sum("cnt").as("n_docs"),
        min("min_r").as("min_r"),
        max("max_r").as("max_r"))
  }

  /** Winnowing fingerprints (the MOSS local-match scheme, Schleimer et
    * al. 2003): 3-gram rolling hashes of the token-code SEQUENCE, then
    * the min of every 4-hash window — guarantees any shared run of ≥ 6
    * tokens produces a shared fingerprint, localizing matches the way
    * whole-doc hashing can't. Both stages are chained zip_with /
    * bounded-slice transforms over materialized arrays (narrow, linear —
    * the per-element slice is the w=4 window, not the doc). Output: the
    * most widely shared fingerprints with their document frequency.
    *
    * Trigram hash (r11 fidelity audit): polynomial rolling hash
    * ((c₁·B + c₂)·B + c₃) mod p with p = 2³¹−1, B the Knuth constant,
    * codes folded to [0, p) first — every step exact in long on the
    * engine and in HUGEINT on the oracle. The old c₁ + 3·c₂ + 9·c₃ form
    * collided SYSTEMATICALLY (multipliers far below the code range:
    * ("ab","ac",w) and ("ae","ab",w) hashed equal for every w), so
    * Schleimer's rare-collision premise didn't hold and top-50 df
    * partly measured bucket aliasing. Residual false-share probability
    * is the birthday bound over p ≈ 2.1e9 — rare random noise in a df
    * report, not structure; past ~10⁵ distinct trigrams per shared
    * bucket regime, swap in a 61-bit scheme (needs the tuple-identity
    * q_repeated_grams shape — the fingerprint here is an ORACLE-MIRRORED
    * output, which 64-bit xxhash can't be). */
  def winnow(spark: SparkSession, dir: String): DataFrame = {
    val P = MinhashPrime
    val B = 2654435761L
    def fold(x: Column): Column = pmod(x, lit(P))
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"),
        transform(split(col("text"), " "), tokenCode _).as("c"))
    val m2 = greatest(size(col("c")) - 2, lit(0))
    val grams = toks.select(col("doc_id"),
      zip_with(slice(col("c"), lit(1), m2), slice(col("c"), lit(2), m2),
        (a, b) => pmod(fold(a) * B + fold(b), lit(P))).as("t1"),
      slice(col("c"), lit(3), m2).as("c3"))
      .select(col("doc_id"),
        zip_with(col("t1"), col("c3"), (t, cc) => pmod(t * B + fold(cc), lit(P))).as("h"))
    grams
      // sequence(1, n) DESCENDS for n < 1 — docs too short for one
      // window are dropped, not fed a reversed range
      .filter(size(col("h")) >= 4)
      .select(col("doc_id"),
        explode(array_distinct(transform(
          sequence(lit(1), size(col("h")) - 3),
          i => array_min(slice(col("h"), i, lit(4)))))).as("fingerprint"))
      // the per-doc array_distinct already makes (fingerprint, doc_id)
      // unique, so df is a plain count in ONE aggregation — no Expand,
      // and no intermediate (fingerprint, doc) hash-agg whose occ was
      // always 1 (dead stage removed in r10; repeatedGrams keeps its
      // two-level form because there occ and j0 are actually consumed)
      .groupBy("fingerprint")
      .agg(count(lit(1)).as("df"), min("doc_id").as("min_doc"))
      .filter(col("df") >= 2)
      .orderBy(col("df").desc, col("fingerprint"))
      .limit(50)
  }

  /** q_ttr: per-document type-token ratio — distinct tokens over total
    * tokens, the lexical-diversity screen a curation pipeline reads next
    * to the repetition gate (low TTR = template/boilerplate text). Both
    * counts are exact integers from one narrow projection (no explode,
    * no shuffle before the trailing verify sort); the ratio is the only
    * double. */
  def typeTokenRatio(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens"),
        size(array_distinct(split(col("text"), " "))).cast("long").as("n_types"))
      .select(col("doc_id"), col("n_tokens"), col("n_types"),
        round(col("n_types").cast("double") / col("n_tokens"), 4).as("ttr"))
      .orderBy("doc_id")

  /** q_hapax: per-source hapax legomena rate — the share of a source's
    * vocabulary that occurs exactly once in that source. A high hapax
    * rate signals noisy/OCR-damaged text; near-zero signals template
    * spam. One explode → (source, token) count → one integer-only
    * re-aggregate; vocabulary-cardinality intermediate, never
    * doc×vocab. */
  def hapaxRate(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("f"))
      .groupBy("source")
      .agg(count(lit(1)).as("vocab"),
        sum(when(col("f") === 1, 1L).otherwise(0L)).as("hapax"))
      .select(col("source"), col("vocab"), col("hapax"),
        round(col("hapax").cast("double") / col("vocab"), 4).as("hapax_rate"))
      .orderBy("source")

  /** q_reachable: bounded-depth BFS over the near-dup pair graph via
    * Spark 4's recursive CTE (`WITH RECURSIVE`, SPARK-24497) — for each
    * seed doc (doc_id < 50), every doc within 3 hops and its minimum hop
    * distance. The SQL-surface twin of the DataFrame-loop reachability
    * inside connectedComponents: a user migrating recursive warehouse
    * SQL runs the IDENTICAL statement on both engines (the oracle
    * differs only in how `pairs` is sourced). UNION ALL recursion with
    * an explicit hop bound, so cycles in the (undirected) graph
    * terminate by depth, not by dedup; the outer min(hop) collapses the
    * path multiplicity. At scale each recursion step is one equi-join of
    * the frontier against the edge list — bounded depth = bounded
    * stages.
    *
    * r16: the pair view is EAGERLY materialized — UnionLoopExec
    * re-evaluates the recursion step's plan each hop, and an
    * un-materialized view re-ran the LSH band self-join + distinct
    * (everything above the signature checkpoint) once per hop; frozen,
    * each hop joins the frontier against cached blocks (guide §2.4:
    * remove repeated upstream work from a loop). */
  def reachable(spark: SparkSession, dir: String): DataFrame =
    Tables.withTempViews(spark,
      "graft_dup_pairs" -> minhashPairs(spark, dir).eagerly,
      "graft_doc_ids" -> Tables.documents(spark, dir).select(col("doc_id"))) { v =>
      spark.sql(
        s"""WITH RECURSIVE reach(seed_id, doc_id, hop) AS (
          |  SELECT doc_id, doc_id, CAST(0 AS BIGINT) FROM ${v("graft_doc_ids")} WHERE doc_id < 50
          |  UNION ALL
          |  SELECT r.seed_id, e.dst, r.hop + 1
          |  FROM reach r
          |  JOIN (SELECT d1 AS src, d2 AS dst FROM ${v("graft_dup_pairs")}
          |        UNION ALL
          |        SELECT d2 AS src, d1 AS dst FROM ${v("graft_dup_pairs")}) e
          |    ON r.doc_id = e.src
          |  WHERE r.hop < 3)
          |SELECT seed_id, doc_id, min(hop) AS min_hop
          |FROM reach GROUP BY 1, 2 ORDER BY seed_id, doc_id""".stripMargin)
    }

  /** q_dedup_decisions: the DECIDE stage that closes the dedup story
    * (detect pairs → cluster → choose survivors): per near-dup cluster,
    * the representative is the longest document (ties to the lowest id),
    * every other member is marked for drop with its representative
    * recorded — the actionable keep/drop list a curation pipeline
    * actually executes. One dim-ish join onto the cluster labels + one
    * cluster-partitioned window. */
  def dedupDecisions(spark: SparkSession, dir: String): DataFrame = {
    val clusters = nearDupClusters(spark, dir)
    val meta = Tables.documents(spark, dir).select(col("doc_id"), col("n_chars"))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("cluster_id").orderBy(col("n_chars").desc, col("doc_id"))
    clusters.join(meta, "doc_id")
      .withColumn("rep_id", first("doc_id").over(w))
      .select(col("doc_id"), col("cluster_id"), col("rep_id"),
        (col("doc_id") === col("rep_id")).as("keep"))
      .orderBy("doc_id")
  }

  /** q_repeated_grams: the substring-level dedup audit (the signal
    * behind exact-substring training-data dedup, Lee et al. 2022,
    * "Deduplicating Training Data Makes Language Models Better"):
    * the most widely repeated word 6-grams across the corpus, with how
    * many distinct documents and total occurrences carry each. Where
    * winnow fingerprints LOCALIZE shared runs probabilistically, this
    * reports the literal repeated spans themselves — the rows a curator
    * reads to decide what boilerplate to strip.
    *
    * The wide stream carries ONLY 8-byte keys (the winnow trick): each
    * 6-gram position hashes to a LONG via one codegen'd `xxhash64` over
    * the six token columns — no concatenated 60-byte gram string is ever
    * built, shuffled, or hash-agg'd at corpus scale (the r9 profile
    * showed the string-keyed agg over ~500k grams at 1.9× baseline).
    * Two plain hash aggs (no Expand — PlansSpec pin): (key, doc) with
    * per-doc occurrence counts and first position, then per-key df /
    * occurrence totals. Gram TEXT is reconstructed only for the tiny
    * df ≥ 2 candidate frame, by broadcasting it against one more narrow
    * scan of its `min_doc` rows and slicing the tokens at the recorded
    * position — strings exist only on candidate-cardinality frames.
    * Key collisions are the usual 64-bit-sketch risk (~n²/2⁶⁵ — ~10⁻⁹
    * even at 10⁹ distinct grams), the same bound the MinHash/fingerprint
    * family already accepts. */
  def repeatedGrams(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      // sequence(1, n) DESCENDS for n < 1 — too-short docs are dropped
      .filter(size(col("t")) >= 6)
    val pos = toks
      .select(col("doc_id"), col("t"),
        explode(sequence(lit(1), size(col("t")) - 5)).as("j"))
      .select(col("doc_id"), col("j"),
        xxhash64((0 to 5).map(k => element_at(col("t"), col("j") + k)): _*)
          .as("k"))
    val cands = pos
      .groupBy("k", "doc_id")
      .agg(count(lit(1)).as("occ"), min("j").as("j0"))
      .groupBy("k")
      .agg(count(lit(1)).as("df"),
        sum("occ").as("n_occurrences"),
        // struct min = (lowest doc, lowest position within it): where the
        // text reconstruction below will read the gram back from
        min(struct(col("doc_id"), col("j0"))).as("loc"))
      .filter(col("df") >= 2)
      .select(col("k"), col("df"), col("n_occurrences"),
        col("loc.doc_id").as("min_doc"), col("loc.j0").as("j0"))
    toks
      // UNHINTED join (r11): the df≥2 candidate frame is
      // corpus-proportional on real text (repeated n-grams are pervasive
      // — that is Lee et al.'s premise), so a broadcast hint here would
      // OOM the driver at scale; AQE broadcasts it at fixture size and
      // shuffles it when runtime stats say otherwise. The top-50 cut
      // cannot move below this join: ties at the cut order by the
      // reconstructed token TUPLE, which only exists after it.
      .join(cands, col("doc_id") === col("min_doc"))
      // ties order by the token TUPLE (the group identity), not the '_'
      // display string: two distinct grams can render the same string on
      // underscore-bearing tokens, and an equal (df, string) key would
      // leave their relative order — and which survives the LIMIT 50
      // cut — engine-dependent. Array compare is elementwise binary on
      // both engines (oracle: ORDER BY g).
      .select(slice(col("t"), col("j0"), lit(6)).as("g_arr"),
        col("df"), col("n_occurrences"), col("min_doc"))
      .orderBy(col("df").desc, col("g_arr"))
      .limit(50)
      .select(array_join(col("g_arr"), "_").as("gram"),
        col("df"), col("n_occurrences"), col("min_doc"))
  }

  /** Positions (doc_id, j) of every word 6-gram that also appears in at
    * least one OTHER document — the hit set under [[dupSpans]] and
    * [[dupStrip]]. Same 8-byte-key discipline as [[repeatedGrams]]: the
    * wide stream carries only codegen'd xxhash64 token-tuple codes, never
    * a gram string; cross-doc duplication is decided by min(doc) ≠
    * max(doc) — ONE plain hash agg, no count(DISTINCT doc) Expand — and
    * the hit positions come back via a key semi-join (candidate-sized
    * build at fixture scale, AQE-decided at corpus scale: left unhinted
    * for the same reason as repeatedGrams' candidate join). */
  private[graft] def dupGramHitsOver(docs: DataFrame): DataFrame = {
    val pos = gramKeyFrame(docs)
    val dupKeys = pos.groupBy("k")
      .agg(min("doc_id").as("lo"), max("doc_id").as("hi"))
      .filter(col("lo") =!= col("hi"))
      .select("k")
    pos.join(dupKeys, Seq("k"), "left_semi")
      .select(col("doc_id"), col("j").cast("long").as("j"))
  }

  /** 6-gram position keys of a (doc_id, text) frame: (doc_id, j, k) with
    * j the 1-based start token and k the codegen'd xxhash64 token-tuple
    * code — the shared wide stream under the batch hit set
    * ([[dupGramHitsOver]]) and the incremental substring leg
    * ([[substringStrip]]/[[substringFold]]). Narrow
    * (scan → explode → hash), no shuffle. */
  private[graft] def gramKeyFrame(docs: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .filter(size(col("t")) >= 6)
      .select(col("doc_id"),
        explode(sequence(lit(1), size(col("t")) - 5)).as("j"),
        col("t"))
      .select(col("doc_id"), col("j"),
        xxhash64((0 to 5).map(k => element_at(col("t"), col("j") + k)): _*)
          .as("k"))

  /** q_dup_spans: MAXIMAL duplicated token spans per document — the
    * removal units of exact-substring training-data dedup (Lee et al.
    * 2022 strip repeated spans, not whole documents). A 6-gram starting
    * at j covers tokens [j, j+5]; overlapping/adjacent covered intervals
    * merge into islands (a new island starts when j > prev_j + 6, the
    * gaps-and-islands recipe q_islands pins), and each island reports its
    * first token, last token, and width.
    *
    * Scale shape: the gram/key stages are narrow + one partial-agg'd
    * hash agg (dupGramHitsOver); the island merge is a per-document window
    * (lag + running sum over ONE partition-local sort — doc-bounded
    * state, never corpus-wide). Oracle: identical islands arithmetic in
    * DuckDB with gram identity as the raw token tuple. */
  def dupSpans(spark: SparkSession, dir: String): DataFrame =
    dupSpansOver(Tables.documents(spark, dir))

  private[graft] def dupSpansOver(docs: DataFrame): DataFrame =
    islandSpans(dupGramHitsOver(docs))
      .select(col("doc_id"), col("span_start"), col("span_end"),
        (col("span_end") - col("span_start") + 1L).as("span_tokens"))
      .orderBy("doc_id", "span_start")

  /** Gaps-and-islands merge of 6-gram hit positions: (doc_id, j) →
    * (doc_id, span_start, span_end) with span_end = last covered token.
    * Both window functions share one (doc_id, j) sort. */
  private def islandSpans(hits: DataFrame): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("j")
    hits
      // j ≥ 1 always, so -10 makes the first row in each doc a new island
      .withColumn("nw",
        when(col("j") > coalesce(lag("j", 1).over(w), lit(-10L)) + 6, 1L)
          .otherwise(0L))
      .withColumn("island", sum("nw").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "island")
      .agg(min("j").as("span_start"), (max("j") + 5L).as("span_end"))
  }

  /** q_dup_strip: the cleaned corpus — every token inside a duplicated
    * span ([[dupSpans]]) removed, untouched documents passed through.
    * This is the face a training pipeline actually consumes: Lee et al.
    * strip the repeated substring and KEEP the remainder, preserving the
    * novel prose around boilerplate instead of dropping whole near-dup
    * documents.
    *
    * Shape: covered positions explode from the (few, disjoint) spans —
    * no distinct needed; the keep decision is a left-anti join on
    * (doc_id, pos); reconstruction is one per-doc sort_array over the
    * kept (pos, tok) structs. Everything is doc-bounded: the explode is
    * linear in tokens, the anti join keys are (doc, pos), and the
    * collect_list group is one document's tokens — the same per-doc
    * bound every tokenize pass here already carries. Short docs (< 6
    * tokens, no grams) and span-free docs flow through the same
    * reconstruction, so the output is deterministic full-corpus
    * cardinality; a fully-covered doc keeps an empty string. */
  def dupStrip(spark: SparkSession, dir: String): DataFrame =
    dupStripOver(Tables.documents(spark, dir))

  private[graft] def dupStripOver(docs: DataFrame): DataFrame =
    stripSpans(docs, islandSpans(dupGramHitsOver(docs))).orderBy("doc_id")

  /** Remove the tokens covered by `spans` from `docs` and reassemble the
    * remainder in position order — the shared reconstruction under
    * [[dupStrip]] (batch, strip-every-copy) and [[substringStrip]]
    * (incremental, keep-first). Covered positions explode from the
    * (few, disjoint) islands so no distinct is needed; the keep decision
    * is a (doc_id, pos) anti join; reassembly is one per-doc sort_array
    * over kept (pos, tok) structs. Every stage is doc-bounded or linear
    * in tokens. Docs outside the span set (short, span-free, or
    * null-text) flow through the same reconstruction; a fully-covered
    * doc keeps an empty string. */
  private def stripSpans(docs: DataFrame, spans: DataFrame): DataFrame = {
    val toks = docs.select(col("doc_id"), split(col("text"), " ").as("t"))
    val covered = spans
      .select(col("doc_id"),
        explode(sequence(col("span_start"), col("span_end"))).as("p"))
    val kept = toks
      .select(col("doc_id"), posexplode(col("t")))
      .select(col("doc_id"), (col("pos") + 1L).as("p"), col("col").as("tok"))
      .join(covered, Seq("doc_id", "p"), "left_anti")
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_kept"),
        array_join(
          transform(sort_array(collect_list(struct(col("p"), col("tok")))),
            x => x.getField("tok")),
          " ").as("text_clean"))
    toks.select(col("doc_id"), size(col("t")).cast("long").as("n_tokens"))
      .join(kept, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_tokens"),
        (col("n_tokens") - coalesce(col("n_kept"), lit(0L))).as("n_dup_tokens"),
        coalesce(col("text_clean"), lit("")).as("text_clean"))
  }

  /** Bucket count of the gram index layout — fixed at creation
    * (appends must match it); production sizes this near the cluster's
    * shuffle-partition count once. */
  private[graft] val SubstringIndexBuckets = 16

  /** The duplicated-gram index as a [[graft.sources.BucketedState]]
    * (beside the IVF postings, the LM model and the semdedup vectors):
    * one row per DISTINCT 6-gram key ever seen,
    * with the first document that carried it. Clustered on k so the
    * probe semi-join and the fold anti-join plan no Exchange on the
    * index side — only the delta's gram stream moves. State size is
    * O(distinct 6-grams) ≈ O(corpus tokens) — the same order as the
    * suffix array Lee et al. build for exact-substring dedup, but
    * bucketed + append-only instead of monolithic. */
  private[graft] def substringIndexState(indexPath: String): graft.sources.BucketedState =
    graft.sources.BucketedState(indexPath, "graft_substr_idx_",
      "k BIGINT, min_doc BIGINT", Seq("k"), SubstringIndexBuckets)

  /** Keep-first span stripping of a delta against the FROZEN gram index
    * at indexPath — the scoring face of incremental exact-substring
    * dedup ([[lmScoreDelta]]'s role in the LM leg): a token position is
    * stripped iff its 6-gram was seen in an earlier batch (key in the
    * index) or earlier in THIS batch on a smaller doc_id; covered
    * positions merge into maximal islands and [[stripSpans]] reassembles
    * the remainder. Unlike the batch [[dupStrip]] (an audit that strips
    * EVERY copy), the incremental form keeps the first occurrence — the
    * Lee et al. semantics for a corpus that is written once and only
    * grows. An ABSENT or empty index means "nothing seen yet" and is
    * legal (day-1 crawl): intra-batch duplication still strips — unlike
    * the LM model, where an empty denominator poisons the formula and
    * absence fails loudly.
    *
    * Mutates nothing: probe-only, so bench repeats and oracle runs are
    * idempotent. */
  def substringStrip(spark: SparkSession, indexPath: String,
                     docs: DataFrame): DataFrame = {
    // three consumers inside substringHits (seen-probe, batchMin, the
    // batchMin join's probe side) — frozen, or the scan→explode→hash
    // stream runs three times per call, and materialized BEFORE the
    // three builds fan out (r14 lazy-persist sweep: concurrent stages
    // over a lazy cache race); safe to release right after because
    // substringHits is frozen too.
    val pos = gramKeyFrame(docs).eagerly
    try stripSpans(docs, islandSpans(substringHits(spark, indexPath, pos)))
      .orderBy("doc_id")
    finally pos.release()
  }

  /** The keep-first hit positions of one batch's gram stream against the
    * CURRENT index: (doc_id, j) rows to strip. Frozen (Eager: the plan
    * no longer reads the index or the gram stream), so [[substringStrip]]
    * can release its frozen gram stream before the result runs. */
  private def substringHits(spark: SparkSession, indexPath: String,
                            pos: DataFrame): DataFrame = {
    val seen = substringIndexState(indexPath).ensure(spark)
      .map(t => spark.table(t).select("k"))
      .getOrElse(spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("k", LongType)))))
    val batchMin = pos.groupBy("k").agg(min("doc_id").as("min_doc"))
    pos.join(seen, Seq("k"), "left_semi")
      .select("doc_id", "j")
      .unionByName(pos.join(batchMin, Seq("k"))
        .filter(col("doc_id") > col("min_doc"))
        .select("doc_id", "j"))
      .distinct()
      .select(col("doc_id"), col("j").cast("long").as("j"))
      .eagerly
  }

  /** Fold one batch's distinct gram keys into the persisted index:
    * append only the NOVEL keys (anti-join on the bucket key — the
    * index side co-locates, the delta shuffles). Idempotent: replaying
    * a folded batch finds nothing novel and appends nothing. */
  private[graft] def substringFold(spark: SparkSession, indexPath: String,
                                   batchMin: DataFrame): Unit = {
    val st = substringIndexState(indexPath)
    st.ensure(spark) match {
      case Some(t) =>
        st.append(spark, batchMin
          .join(spark.table(t).select("k"), Seq("k"), "left_anti"))
      case None => st.append(spark, batchMin)
    }
  }

  /** q_strip_delta: [[substringStrip]] as a benched, oracle-checked
    * SparkEntry shape — a persisted gram index of the EVEN doc_ids
    * (built once per fixture content signature, the q_lm_delta
    * lifecycle), probed by the ODD doc_ids as one frozen-index delta.
    * Keep-first over a deterministic split is exactly expressible in
    * SQL (a position strips iff its gram appears in any even doc, or in
    * a smaller odd doc), so it is hash-checked end to end. Probe-only:
    * repeats never mutate the index. */
  def stripDeltaQuery(spark: SparkSession, dir: String): DataFrame = {
    val indexPath = stripDeltaIndex(spark, dir)
    substringStrip(spark, indexPath,
      Tables.documents(spark, dir).filter(pmod(col("doc_id"), lit(2L)) === 1))
  }

  /** The even-docs gram index under q_strip_delta, built once per
    * fixture content signature. */
  private def stripDeltaIndex(spark: SparkSession, dir: String): String = {
    val indexPath = Tables.fixtureStatePath("graft_substr_delta", dir, "documents")
    if (substringIndexState(indexPath).ensure(spark).isEmpty)
      substringFold(spark, indexPath,
        gramKeyFrame(Tables.documents(spark, dir)
          .filter(pmod(col("doc_id"), lit(2L)) === 0))
          .groupBy("k").agg(min("doc_id").as("min_doc")))
    indexPath
  }

  /** q_minhash_est: sketch calibration audit — for every LSH candidate
    * pair, the MinHash Jaccard ESTIMATE (matching signature coordinates
    * / 16) against the EXACT shingle-code Jaccard, with the absolute
    * error. The report that justifies trusting the probabilistic dedup
    * path: E[est] = true Jaccard, and a drifting error column means the
    * permutation family or band layout is wrong. Exact side joins the
    * distinct (doc, code) sets of only the CANDIDATE pairs (pair-bounded
    * fan-out, never all-pairs); estimate side zips the two 16-long
    * signatures. LEFT join on the intersection so a band collision
    * without shared codes still reports (est > 0, jaccard 0). */
  def minhashEstimate(spark: SparkSession, dir: String): DataFrame = {
    // ONE persisted shingle-code scan threaded through all three
    // consumers (signatures, exact-side code sets, LSH candidates) — the
    // containment/dedupCurve reuse pattern; the old form ran the
    // tokenize→shingle→TokenCode pipeline three times. Signature mins
    // are unaffected by the frame's code dedup (shingleCodeFrame doc).
    // EAGER (the r12 broadcast-race lint): four of the consumers'
    // broadcast builds scan this frame, and concurrent broadcast jobs
    // over a lazy persist each re-ran the tokenize→shingle→TokenCode
    // pipeline (checkpointing only the pair frame moved nothing — the
    // race was here, one level down)
    val codes = shingleCodeFrame(spark, dir).eagerly
    val sig = codes.select(col("doc_id"),
      graft.functions.MinHashSig.minhashSig(col("cs"), MinhashParams, MinhashPrime).as("mins"))
    val docCodes = codes.select(col("doc_id"), explode(col("cs")).as("code"))
    val sz = docCodes.groupBy("doc_id").agg(count(lit(1)).as("n"))
    val pairs = minhashPairsOver(codes)
    val inter = pairs
      .join(docCodes.select(col("doc_id").as("ia"), col("code")), col("d1") === col("ia"))
      .join(docCodes.select(col("doc_id").as("ib"), col("code").as("code_b")),
        col("d2") === col("ib") && col("code") === col("code_b"))
      .groupBy("d1", "d2").agg(count(lit(1)).as("n_inter"))
    val matches = pairs
      .join(sig.select(col("doc_id").as("sa"), col("mins").as("m1")), col("d1") === col("sa"))
      .join(sig.select(col("doc_id").as("sb"), col("mins").as("m2")), col("d2") === col("sb"))
      .select(col("d1"), col("d2"),
        size(filter(zip_with(col("m1"), col("m2"), (a, b) => a === b),
          (x: Column) => x)).cast("long").as("n_match"))
    val jacD = col("n_inter").cast("double") /
      (col("na") + col("nb") - col("n_inter")).cast("double")
    val estD = col("n_match").cast("double") / 16.0
    matches
      .join(inter, Seq("d1", "d2"), "left")
      .na.fill(0L, Seq("n_inter"))
      .join(sz.select(col("doc_id").as("za"), col("n").as("na")), col("d1") === col("za"))
      .join(sz.select(col("doc_id").as("zb"), col("n").as("nb")), col("d2") === col("zb"))
      .select(col("d1"), col("d2"), col("n_inter"),
        round(jacD, 4).as("jaccard"),
        round(estD, 4).as("minhash_est"),
        round(abs(jacD - estD), 4).as("abs_err"))
      .orderBy("d1", "d2")
  }

  /** q_degree_dist: degree distribution of the near-dup pair graph —
    * how many docs have 0, 1, 2, … dup neighbors. The graph-shape
    * report read before choosing a clustering strategy (a heavy tail
    * here predicts long CC chains and big clusters). Zero-degree docs
    * are counted via a left join against the node set, not dropped. */
  def degreeDistribution(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir)
    val deg = pairs.select(col("d1").as("doc_id"))
      .unionByName(pairs.select(col("d2").as("doc_id")))
      .groupBy("doc_id").agg(count(lit(1)).as("degree"))
    Tables.documents(spark, dir).select("doc_id")
      .join(deg, Seq("doc_id"), "left")
      .select(coalesce(col("degree"), lit(0L)).as("degree"))
      .groupBy("degree").agg(count(lit(1)).as("n_docs"))
      .orderBy("degree")
  }

  /** q_bigram_lm: conditional next-token probabilities — for each of
    * the 5 most frequent context words, the top-3 successors by
    * P(next | context) = count(context, next) / count(context as
    * context). A unigram-context language model in relational form (the
    * `lmScore` sibling: that scores documents, this inspects the
    * model). Exact integer counts; the probability is the only double;
    * ranking ties break lexicographically on the successor. */
  def bigramLm(spark: SparkSession, dir: String): DataFrame = {
    val toks = Tables.documents(spark, dir)
      .select(split(col("text"), " ").as("t"))
    val m1 = greatest(size(col("t")) - 1, lit(0))
    val big = toks.select(explode(zip_with(
        slice(col("t"), lit(1), m1), slice(col("t"), lit(2), m1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .select(col("p.w1"), col("p.w2"))
    val pairCounts = big.groupBy("w1", "w2").agg(count(lit(1)).as("n12"))
    val ctxCounts = big.groupBy("w1").agg(count(lit(1)).as("n1"))
    val topCtx = ctxCounts
      .orderBy(col("n1").desc, col("w1")).limit(5)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("w1").orderBy(col("n12").desc, col("w2"))
    pairCounts
      .join(topCtx, "w1")
      .withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3)
      .select(col("w1").as("context"), col("w2").as("next_tok"),
        col("n12"), col("n1"),
        round(col("n12").cast("double") / col("n1"), 4).as("p_next"))
      .orderBy(col("context"), col("n12").desc, col("next_tok"))
  }

  /** q_bpe_merges: the first step of BPE vocabulary induction — the
    * top-20 adjacent CHARACTER pairs by corpus occurrence count (each
    * distinct word's pairs weighted by the word's corpus frequency, so
    * the fact table is scanned once and the pair explosion runs over
    * the VOCABULARY, not the corpus). What a tokenizer trainer would
    * merge first; all counts exact integers. */
  def bpeMerges(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    val chars = split(col("tok"), "")
    val m1 = greatest(size(chars) - 1, lit(0))
    freq
      .select(col("f"), explode(zip_with(
        slice(chars, lit(1), m1), slice(chars, lit(2), m1),
        (a, b) => concat(a, b))).as("pair"))
      .groupBy("pair").agg(sum("f").as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair"))
      .limit(20)
  }

  /** q_vocab_growth: Heaps-law curve — corpus vocabulary size after
    * each 50-document prefix (in doc_id order). Computed exactly without
    * any per-prefix rescan: each token contributes at its FIRST
    * occurrence (min doc_id), so the curve is one vocabulary-cardinality
    * aggregate + a prefix sum over the ≤|docs|/50 bucket frame. The
    * report that sizes a tokenizer vocabulary and spots corpus
    * saturation.
    *
    * The bucket count scales with |docs| (2×10⁷ buckets at 10⁹ docs), so
    * the prefix sum uses the q_auc/q_wmedian TWO-LEVEL recipe rather
    * than one unpartitioned window: 1024-bucket BLOCKS aggregate their
    * totals, the only unpartitioned window runs over the block frame
    * (|docs|/51200 rows — a few-10⁴-row single task at 10⁹ docs), and
    * the per-bucket running sum is a window PARTITIONED by block plus
    * the broadcast block offset. Bit-identical to the one-window form. */
  def vocabGrowth(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val firstSeen = Tables.documents(spark, dir)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(min("doc_id").as("first_doc"))
    val perBucket = firstSeen
      .groupBy((floor(col("first_doc") / 50) * 50 + 50).as("docs_seen"))
      .agg(count(lit(1)).as("new_types"))
      .withColumn("blk", floor(col("docs_seen") / (50L * 1024)).cast("long"))
    val wBlock = Window.orderBy("blk")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow - 1)
    val offsets = perBucket.groupBy("blk").agg(sum("new_types").as("bn"))
      .withColumn("off", coalesce(sum(col("bn")).over(wBlock), lit(0L)))
      .select("blk", "off")
    val wIn = Window.partitionBy("blk").orderBy("docs_seen")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    perBucket
      .withColumn("run", sum("new_types").over(wIn))
      .join(broadcast(offsets), "blk")
      .select(col("docs_seen"), col("new_types"),
        (col("run") + col("off")).as("vocab"))
      .orderBy("docs_seen")
  }

  /** q_freq_buckets: frequency-of-frequencies — how many distinct
    * tokens occur once, twice, 3-10, 11-100, 101+ times in the corpus,
    * with each bucket's occurrence mass. The Good-Turing smoothing
    * input, and the vocabulary-shape report read before choosing a
    * tokenizer cutoff. Two integer-only aggregations: fact → (token,
    * freq), then vocabulary-cardinality → 5 buckets. */
  def freqBuckets(spark: SparkSession, dir: String): DataFrame = {
    val freq = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    freq
      .select(when(col("f") === 1, "1_hapax")
        .when(col("f") === 2, "2_dis")
        .when(col("f") <= 10, "3_to_10")
        .when(col("f") <= 100, "11_to_100")
        .otherwise("101_plus").as("bucket"), col("f"))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_types"), sum("f").as("n_occurrences"))
      .orderBy("bucket")
  }

  /** q_dedup_stats: the one-row corpus dedup report — how much of the
    * corpus survives each stage (exact text dedup, then near-dup
    * clustering under the min-label representative convention). The
    * summary a curation run logs per snapshot. Three dim-or-scalar
    * aggregates combined by broadcast cross join; the heavy lifting
    * (signatures, clustering) is the same machinery as
    * q_neardup_clusters. */
  def dedupStats(spark: SparkSession, dir: String): DataFrame = {
    val docs = Tables.documents(spark, dir)
    val base = docs.agg(count(lit(1)).as("n_docs"),
      countDistinct(md5(encode(col("text"), "UTF-8"))).as("n_distinct_texts"))
    // ONE LSH pair frame threads both consumers (r11): calling
    // nearDupClusters directly would rebuild the whole
    // tokenize→shingle→sign→band pipeline a second time for the same
    // query (its own internal minhashPairs call) — the containment/
    // dedupCurve shared-frame discipline applies across helper
    // boundaries too. Lifecycle (r11 second-pass review): the pair frame
    // is frozen (its job also yields the count reported below) and
    // RELEASED right after the loop — CC's result is a frozen LogicalRDD
    // leaf whose plan has no lineage back to pairsF, so nothing
    // downstream recomputes it and the band-join blocks don't outlive
    // the query in sessions that never call clearCache.
    val (pairsF, nNearPairs) = graft.plans.Eager.materialize(minhashPairs(spark, dir))
    val labels =
      try connectedComponents(docs.select(col("doc_id")), pairsF)
      finally pairsF.release()
    val clusters = labels
      .agg(sum(when(col("doc_id") =!= col("cluster_id"), 1L).otherwise(0L))
        .as("n_dropped"))
    base.crossJoin(broadcast(clusters))
      .select(col("n_docs"),
        (col("n_docs") - col("n_distinct_texts")).as("n_exact_dups"),
        lit(nNearPairs).as("n_near_pairs"), col("n_dropped"),
        round((col("n_docs") - col("n_dropped")).cast("double") / col("n_docs"), 4)
          .as("pct_kept"))
  }

  /** Conditional bigram entropy (q_cond_entropy): H(next | prev) =
    * −Σ (c_uv/N)·ln(c_uv/c_u) over all bigram types — the
    * entropy-RATE estimate that tells a corpus curator how predictable
    * the text is given one token of context (vs q_entropy's
    * context-free H(unigram); the gap between them is the information
    * carried by local structure — near zero for shuffled/templated
    * text). All counts are exact integers; the double sum folds over ONE
    * (u,v)-sorted array of bigram-type rows (the q_entropy determinism
    * discipline — the DuckDB twin folds the identical sequence via
    * list_reduce, and adding each term to a 0.0 seed is IEEE-exact, so
    * seeded and seedless folds agree bit-for-bit). The collected array
    * is BIGRAM-TYPE-sized — vocabulary², not corpus, bounded.
    *
    * Honest scale bound (r11): "vocabulary-bounded" still means one
    * global aggregation row, and real web-text bigram TYPES grow
    * near-linearly with the corpus — at 100 TB this single-task collect
    * (like q_zipf's and q_coverage's unigram twins) is past one buffer.
    * The production swap-in is the two-level fold (partial per-bucket
    * entropies merged by the exact decomposition H(V|U) = Σ p(bucket)·H
    * within + cross-term) with a tolerance check instead of the
    * bit-exact oracle — the q_quantiles → percentile_approx precedent;
    * the sequential-fold form here is what makes the DuckDB hash pin
    * possible at all. */
  def condEntropy(spark: SparkSession, dir: String): DataFrame = {
    val t = split(col("text"), " ")
    val m1 = greatest(size(t) - 1, lit(0))
    val pairs = Tables.documents(spark, dir)
      .select(explode(zip_with(slice(t, lit(1), m1), slice(t, lit(2), m1),
        (a, b) => struct(a.as("u"), b.as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val cuv = pairs.groupBy("u", "v").agg(count(lit(1)).as("cuv"))
    val cu = cuv.groupBy("u").agg(sum("cuv").as("cu"))
    cuv.join(cu, "u")
      .agg(sum("cuv").as("n"), count(lit(1)).as("n_bigram_types"),
        collect_list(struct(col("u"), col("v"),
          col("cuv").as("c"), col("cu"))).as("l"))
      .select(col("n").as("n_bigrams"), col("n_bigram_types"),
        // compiled CondEntropySum ≡ the interpreted (u,v)-sorted
        // aggregate twin, bit for bit (SortedFoldsSpec) — this single
        // bigram-type-sized array fold was the whole interpreted cost
        round(SortedFolds.condEntropySum(col("l"), col("n")), 4)
          .as("cond_entropy"))
  }

  /** Vocabulary coverage curve (q_coverage): for fixed vocabulary sizes
    * K, the share of all token OCCURRENCES covered by the K most
    * frequent types — the tokenizer-design table ("a 10k vocab leaves
    * x% OOV"). Selection is top-K of the (−freq, token)-sorted
    * vocabulary array, identical to rank ≤ K under (freq DESC, token);
    * covered mass is an EXACT integer sum over the slice, so there is
    * no floating-point order hazard at all — only the final share
    * divides. The collected array is vocabulary-sized (the q_entropy
    * boundedness class). */
  def coverage(spark: SparkSession, dir: String): DataFrame = {
    val ks = Seq(1, 2, 5, 10, 20, 50)
    val cf = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    cf.agg(sum("f").as("n"),
        array_sort(collect_list(struct((-col("f")).as("nf"), col("tok").as("t"))))
          .as("l"))
      .select(col("n"), col("l"),
        explode(array(ks.map(k => lit(k).cast("long")): _*)).as("k"))
      .select(col("k"), col("n"),
        least(col("k"), size(col("l")).cast("long")).as("n_terms"),
        aggregate(slice(col("l"), lit(1), col("k").cast("int")), lit(0L),
          (acc, e) => acc - e.getField("nf")).as("covered"))
      .select(col("k"), col("n_terms"), col("covered"),
        round(col("covered").cast("double") / col("n"), 4).as("coverage"))
      .orderBy("k")
  }

  /** Zipf law fit (q_zipf): least-squares slope/intercept of
    * ln(frequency) against ln(rank) over the frequency-ranked vocabulary
    * — the standard "is this corpus natural text" screen (natural
    * language sits near slope −1; templated/generated text departs).
    *
    * Determinism discipline is q_entropy's, extended to a REGRESSION:
    * the vocabulary collapses to ONE sorted array (freq desc, token asc —
    * struct sort on (−f, tok)), and all five OLS sums accumulate in a
    * single `aggregate` fold over that array, so the double summation
    * order is fixed; the DuckDB twin folds the identical order through a
    * recursive CTE (the q_ema pattern). Slope and intercept repeat the
    * same closed-form expression textually on both sides. The collected
    * array is VOCABULARY-sized (Heaps-sublinear; same boundedness class
    * as the q_vocab_growth bucket frame — see the PLANS.md window
    * inventory), never corpus-sized. */
  def zipfFit(spark: SparkSession, dir: String): DataFrame = {
    val cf = Tables.documents(spark, dir)
      .select(explode(split(col("text"), " ")).as("tok"))
      .groupBy("tok").agg(count(lit(1)).as("f"))
    cf.agg(array_sort(collect_list(struct((-col("f")).as("nf"), col("tok").as("t"))))
        .as("l"))
      .select(expr(
        """aggregate(l,
          |  named_struct('i', 0L, 'sx', 0D, 'sy', 0D, 'sxy', 0D, 'sxx', 0D),
          |  (a, e) -> named_struct(
          |    'i',   a.i + 1L,
          |    'sx',  a.sx + ln(cast(a.i + 1 as double)),
          |    'sy',  a.sy + ln(cast(-e.nf as double)),
          |    'sxy', a.sxy + ln(cast(a.i + 1 as double)) * ln(cast(-e.nf as double)),
          |    'sxx', a.sxx + ln(cast(a.i + 1 as double)) * ln(cast(a.i + 1 as double))))
          |""".stripMargin.trim).as("s"))
      .select(col("s.i").as("n_terms"),
        round((col("s.i") * col("s.sxy") - col("s.sx") * col("s.sy"))
          / (col("s.i") * col("s.sxx") - col("s.sx") * col("s.sx")), 4).as("slope"),
        round((col("s.sy")
          - (col("s.i") * col("s.sxy") - col("s.sx") * col("s.sy"))
            / (col("s.i") * col("s.sxx") - col("s.sx") * col("s.sx"))
            * col("s.sx")) / col("s.i"), 4).as("intercept"))
  }

  /** Simpson concentration index per source (q_simpson): the probability
    * two tokens drawn without replacement from a source's text are the
    * same type — Σ tf·(tf−1) / (n·(n−1)). The collision-probability
    * sibling of q_entropy/q_ttr (it is exp(−Rényi-2 entropy)): high
    * values flag templated or repetitive sources before training. All
    * sums are exact integers aggregated partial-aggregably; only the
    * final ratio is a double, so no summation-order hazard exists at
    * all. */
  def simpson(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("tf"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_types"),
        sum("tf").as("n_tokens"),
        sum(col("tf") * (col("tf") - 1)).as("n_pairs_same"))
      .withColumn("simpson",
        round(col("n_pairs_same").cast("double")
          / (col("n_tokens") * (col("n_tokens") - 1)), 6))
      .orderBy("source")

  /** q_source_overlap: pairwise vocabulary Jaccard between sources —
    * the corpus-diversity audit behind "is src7 just src12 re-crawled":
    * two sources whose token vocabularies overlap near 1.0 are
    * candidates for source-level dedup BEFORE any per-document pass
    * runs (cheapest possible pruning lever at 100 TB). Counts are exact
    * integers; one division per pair closes the Jaccard.
    *
    * Scale shape: the (source, token) frame is vocabulary×sources
    * bounded (never fact-sized after the distinct); the self-join is
    * token-keyed equi (each token meets only its own postings — the
    * |sources|²-bounded fan-out per token is the point, 190 output
    * rows); per-source sizes ride back in via broadcast. */
  def sourceOverlap(spark: SparkSession, dir: String): DataFrame = {
    val vocab = Tables.documents(spark, dir)
      .select(col("source"),
        explode(array_distinct(split(col("text"), " "))).as("tok"))
      .distinct()
    val sizes = vocab.groupBy("source").agg(count(lit(1)).as("sz"))
    val inter = vocab.select(col("source").as("s1"), col("tok"))
      .join(vocab.select(col("source").as("s2"), col("tok")), "tok")
      .filter(col("s1") < col("s2"))
      .groupBy("s1", "s2").agg(count(lit(1)).as("inter"))
    inter
      .join(broadcast(sizes.select(col("source").as("s1"), col("sz").as("sz1"))), "s1")
      .join(broadcast(sizes.select(col("source").as("s2"), col("sz").as("sz2"))), "s2")
      .select(col("s1"), col("s2"), col("inter"),
        (col("sz1") + col("sz2") - col("inter")).as("uni"),
        round(col("inter").cast("double")
          / (col("sz1") + col("sz2") - col("inter")).cast("double"), 4)
          .as("jaccard"))
      .orderBy("s1", "s2")
  }

  /** q_dedup_curve: threshold-sensitivity sweep for near-dup removal —
    * for τ ∈ {0.5 … 0.9}, how many LSH candidate pairs pass exact
    * shingle-code Jaccard ≥ τ and how many documents they touch. The
    * tuning curve a curation run reads BEFORE committing to a
    * threshold: the τ where n_docs stops falling steeply is the knee.
    * The compare is the integer cross-multiplication 10·inter ≥
    * τ₁₀·union — no double ever enters the decision, so the curve is
    * bit-deterministic.
    *
    * Scale shape: containment's — exact intersections computed ONLY on
    * the LSH candidate set over the shared persisted code frame (pair-
    * bounded, never all-pairs); the 5-threshold grid rides in as a
    * broadcast 5-row frame. */
  def dedupCurve(spark: SparkSession, dir: String): DataFrame = {
    // (lifecycle: caller's-action-time consumer, reclaimed by the harness
    // clearCache — the bloomSemiJoin note). Lazy persist is SAFE here by
    // single-consumer-first structure (r14 sweep): minhashPairsOver's
    // eager band-key freeze is this cache's sole first consumer and
    // loads it fully, so the two verify joins below read it warm.
    val codes = shingleCodeFrame(spark, dir).persist()
    val st = minhashPairsOver(codes)
      .join(codes.select(col("doc_id").as("d1"), col("cs").as("cs1")), "d1")
      .join(codes.select(col("doc_id").as("d2"), col("cs").as("cs2")), "d2")
      .select(col("d1"), col("d2"),
        size(array_intersect(col("cs1"), col("cs2"))).cast("long").as("inter"),
        (size(col("cs1")) + size(col("cs2"))).cast("long").as("szsum"))
      .withColumn("uni", col("szsum") - col("inter"))
    val taus = spark.range(1)
      .select(explode(sequence(lit(5L), lit(9L))).as("tau_x10"))
    val passing = st.crossJoin(broadcast(taus))
      .filter(col("inter") * 10 >= col("tau_x10") * col("uni"))
    val pairsPerTau = passing.groupBy("tau_x10")
      .agg(count(lit(1)).as("np"))
    val docsPerTau = passing
      .select(col("tau_x10"), explode(array(col("d1"), col("d2"))).as("doc"))
      .groupBy("tau_x10").agg(countDistinct(col("doc")).as("nd"))
    taus
      .join(pairsPerTau, Seq("tau_x10"), "left")
      .join(docsPerTau, Seq("tau_x10"), "left")
      .select(col("tau_x10"),
        coalesce(col("np"), lit(0L)).as("n_pairs"),
        coalesce(col("nd"), lit(0L)).as("n_docs"))
      .orderBy("tau_x10")
  }

  /** q_kcore: convergence-terminated k-core peel (k = 2) of the
    * MinHash-LSH candidate-pair graph — the graph-hygiene screen between
    * q_degree_dist's raw degrees and q_neardup_clusters' components:
    * nodes that survive repeated "drop degree-<2 nodes" rounds are the
    * dense template/boilerplate families worth human review, while
    * chains and pendants (one-off near-matches) peel away. The loop runs
    * to FIXPOINT with the connectedComponents discipline (one Eager
    * freeze per round, driver sees only convergence scalars) — a fixed round
    * count would be a silent cap at 100 TB, where a long chain peels one
    * endpoint pair per round (r10 verdict item). The oracle stays the
    * fixture-proven THREE chained CTEs: R8StatsSpec pins that the fixture
    * graph is stable by round 3, and extra fixpoint rounds are idempotent
    * on a stable graph, so loop and unrolled SQL agree; a regenerated
    * fixture needing more rounds would mismatch LOUDLY in selfcheck
    * instead of being silently under-peeled.
    *
    * Scale shape: edges live once (both directions, distinct); a round
    * shuffles on node id for the degree agg and semi-joins edges on
    * src/dst — partial-aggregable, never all-pairs, never a global
    * sort. */
  def kcore(spark: SparkSession, dir: String): DataFrame = {
    val pairs = minhashPairs(spark, dir)
    // frozen per round (the connectedComponentsWithRounds discipline):
    // each round references the edge frame THREE times
    // (degree agg + two semi-joins), so without truncation round 3's
    // plan re-evaluates the whole LSH pipeline ~3³ times — measured 10.3 s
    // unchecked vs 1.9 s checkpointed at sf0.1
    val edges = pairs.select(col("d1").as("src"), col("d2").as("dst"))
      .union(pairs.select(col("d2").as("src"), col("d1").as("dst")))
      .distinct()
      .eagerly
    kcorePeelWithRounds(edges)._1
      .groupBy(col("src").as("doc_id"))
      .agg(count(lit(1)).as("core_deg"))
      .orderBy("doc_id")
  }

  /** Peel loop behind [[kcore]], separated so graph shapes the fixture
    * can't produce (a chain needing ≥ 4 rounds) are unit-testable.
    * Input: undirected edges as both directed rows, lineage already
    * truncated. Returns (surviving edges, modifying rounds run). Each
    * round's degree frame is frozen once (node-sized, referenced
    * by both the convergence probe and the keep join); convergence =
    * a degree pass finding no sub-k node, checked BEFORE the join work
    * so the fixpoint confirmation costs one aggregate, not a full round.
    * Termination is structural (each modifying round removes ≥ 1 edge),
    * but `maxRounds` guards the pathological chain anyway — capping is
    * LOGGED, never silent: the survivor set may then include sub-k-core
    * nodes and the operator says so on stderr. */
  private[graft] def kcorePeelWithRounds(
      edges0: DataFrame, k: Int = 2, maxRounds: Int = 50): (DataFrame, Int) = {
    var edges = edges0
    var rounds = 0
    var converged = false
    var capped = false
    while (!converged && !capped) {
      val deg = edges.groupBy("src").agg(count(lit(1)).as("deg"))
        .eagerly
      if (deg.filter(col("deg") < k).isEmpty) converged = true
      // the probe runs BEFORE the cap check, so a peel that completes on
      // exactly the maxRounds-th modifying round reports converged, not
      // a false "may be under-peeled" alarm
      else if (rounds == maxRounds) capped = true
      else {
        rounds += 1
        val keep = deg.filter(col("deg") >= k).select("src")
        val peeled = edges
          .join(keep, "src")
          .join(keep.withColumnRenamed("src", "dst"), "dst")
          .select("src", "dst")
          .eagerly
        // a superseded round this loop froze (never the caller's edges0)
        if (rounds > 1) edges.release()
        edges = peeled
      }
      deg.release()
    }
    if (capped)
      System.err.println(s"[graft] kcorePeel capped at $maxRounds rounds " +
        s"before fixpoint — survivor set may still contain sub-$k-core nodes")
    (edges, rounds)
  }

  /** q_chunk_dedup: sub-document duplicate-span removal — the
    * paragraph-dedup stage of the RefinedWeb/Gopher curation recipes
    * (Penedo et al. 2023 §3.3 run through MassiveText's keep-first
    * rule), at fixed 10-token chunk granularity because the fixture
    * text has no paragraph delimiters. Every document is cut into
    * consecutive 10-token chunks (the ragged tail is dropped — a
    * boilerplate screen, not a reconstruction), each chunk is
    * deduplicated CORPUS-WIDE keeping the first occurrence in
    * (doc_id, chunk_idx) order, and the report is per-document
    * retention: how much of each doc survives span-level dedup.
    *
    * Scale shape: chunking is one narrow transform→explode (no
    * shuffle); the keep-first rule is a window PARTITIONED BY the chunk
    * text — hash-distributed over chunk cardinality, the same shape as
    * exact doc dedup (TextOps.dedupExact), never a global sort. A
    * popular chunk ("lorem lorem…" boilerplate at 100 TB) skews its
    * partition; that key's rows collapse to one winner via the
    * min-struct aggregate which is partial-aggregable, so the skew is
    * absorbed map-side. */
  def chunkDedup(spark: SparkSession, dir: String): DataFrame = {
    val chunks = Tables.documents(spark, dir)
      .select(col("doc_id"), split(col("text"), " ").as("toks"))
      // sequence(0, n-1) DESCENDS for n < 1 (the winnow lesson): docs
      // shorter than one chunk are screened out, mirrored in the oracle
      .filter(size(col("toks")) >= 10)
      .select(col("doc_id"),
        // Column `/` is true division (double) — floor+cast recovers the
        // integer chunk count for both the report column and sequence()
        floor(size(col("toks")) / 10).cast("long").as("n_chunks"),
        posexplode(transform(
          sequence(lit(0), floor(size(col("toks")) / 10).cast("int") - 1),
          k => array_join(slice(col("toks"), k * 10 + 1, lit(10)), " "))))
      .withColumnRenamed("pos", "chunk_idx").withColumnRenamed("col", "chunk")
    // keep-first: the corpus-wide earliest (doc_id, chunk_idx) owns the
    // chunk text; computed as a partial-aggregable min-struct, not a
    // row_number window, so a skewed boilerplate chunk combines map-side
    val first = chunks.groupBy("chunk")
      .agg(min(struct(col("doc_id"), col("chunk_idx"))).as("keeper"))
    chunks.join(first, "chunk")
      .groupBy("doc_id")
      .agg(max(col("n_chunks")).as("n_chunks"),
        sum(when(col("keeper") =!= struct(col("doc_id"), col("chunk_idx")), 1L)
          .otherwise(0L)).as("n_dropped"))
      .select(col("doc_id"), col("n_chunks"), col("n_dropped"),
        (lit(10L) * (col("n_chunks") - col("n_dropped"))).as("n_tokens_kept"),
        when(col("n_chunks") === 0, lit(0.0))
          .otherwise(round(col("n_dropped").cast("double")
            / col("n_chunks").cast("double"), 4)).as("drop_frac"))
      .orderBy("doc_id")
  }

  /** Multimodal plumbing (mandate): opaque binary column + typed metadata.
    * The "decode" here is byte-level (length + digest) — the model-decode
    * stage proper is the mapPartitions stub in graft.multimodal. */
  def binaryMeta(spark: SparkSession, dir: String): DataFrame =
    Tables.documents(spark, dir)
      .select(col("doc_id"), encode(col("text"), "UTF-8").as("payload"))
      .select(
        col("doc_id"),
        length(col("payload")).cast("long").as("n_bytes"),
        md5(col("payload")).as("digest"))
      .orderBy("doc_id")
}
