package graft

import graft.functions.SortedFolds._
import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/** The compiled sort+fold kernels (functions/SortedFolds.scala) against
  * the interpreted HOF formulations they replaced — BIT-for-bit on
  * unrounded doubles, because the swap sits under oracle-hash-checked
  * queries (q_lm_score, q_dsir, q_ccnet_buckets, q_entropy,
  * q_cond_entropy, q_markov, q_temp_mix, q_decay): any ulp drift here
  * is an oracle mismatch waiting for a boundary value. */
class SortedFoldsSpec extends SparkSpec {

  private def bitEqual(df: org.apache.spark.sql.DataFrame, a: Column, b: Column): Unit = {
    val rows = df.select(a.as("a"), b.as("b")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1), s"null mismatch: $r")
      if (!r.isNullAt(0))
        assert(java.lang.Double.doubleToRawLongBits(r.getDouble(0)) ==
          java.lang.Double.doubleToRawLongBits(r.getDouble(1)), s"bit mismatch: $r")
    }
  }

  // the lmScore/dsir shape: per-doc-unique string key, signed double term
  private lazy val docTerms = {
    val tf = Tables.documents(spark, sf)
      .select(col("doc_id"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("doc_id", "tok").agg(count(lit(1)).as("tf"))
    val cf = tf.groupBy("tok").agg(sum("tf").as("c"))
    val nv = cf.agg(sum("c").as("n"), count(lit(1)).as("v"))
    tf.join(cf, "tok").crossJoin(broadcast(nv))
      .withColumn("term",
        col("tf") * log((col("c") + 1) / (col("n") + col("v")).cast("double")))
      .groupBy("doc_id")
      .agg(array_sort(collect_list(struct(col("tok"), col("term")))).as("l"))
      .cache()
  }

  test("SortedTermSum === aggregate(array_sort(...)) twin, bit for bit, both signs") {
    // the kernel gets a SHUFFLED copy so its internal sort is what's
    // under test, not a no-op over the already-sorted input
    bitEqual(docTerms,
      sortedTermSum(shuffle(col("l"))),
      aggregate(col("l"), lit(0.0), (a, s) => a + s.getField("term")))
    bitEqual(docTerms,
      sortedTermSumNeg(shuffle(col("l"))),
      aggregate(col("l"), lit(0.0), (a, s) => a - s.getField("term")))
  }

  test("SortedTermSum: long keys, duplicate-key groups, empty, null element") {
    val df = spark.sql(
      """SELECT * FROM VALUES
        |  (array(named_struct('k', 3L, 'term', 0.1), named_struct('k', 1L, 'term', 0.3),
        |         named_struct('k', 2L, 'term', -0.7))),
        |  (array(named_struct('k', 1L, 'term', 1e-17), named_struct('k', 1L, 'term', 1.0),
        |         named_struct('k', 0L, 'term', 1e-17))),
        |  (CAST(array() AS ARRAY<STRUCT<k: BIGINT, term: DOUBLE>>)),
        |  (array(named_struct('k', 1L, 'term', 0.5), CAST(NULL AS STRUCT<k: BIGINT, term: DOUBLE>)))
        |AS t(l)""".stripMargin)
    // duplicate keys: ties resolved by the term field (full struct order),
    // exactly like array_sort's natural struct comparator
    bitEqual(df,
      sortedTermSum(col("l")),
      aggregate(array_sort(col("l")), lit(0.0), (a, s) => a + s.getField("term")))
    // empty → the fold's 0.0 init; null element → null
    val edge = df.select(sortedTermSum(col("l")).as("s")).collect()
    assert(edge(2).getDouble(0) == 0.0)
    assert(edge(3).isNullAt(0))
  }

  test("SortedTermSum negate: all-zero terms keep the fold's +0.0, not -0.0") {
    val df = spark.sql(
      "SELECT array(named_struct('k', 1L, 'term', CAST(0.0 AS DOUBLE)), " +
        "named_struct('k', 2L, 'term', CAST(0.0 AS DOUBLE))) AS l")
    val bits = df.select(sortedTermSumNeg(col("l")).as("s")).head().getDouble(0)
    assert(java.lang.Double.doubleToRawLongBits(bits) == 0L) // +0.0 exactly
  }

  test("PlogpSum === entropy HOF twin, bit for bit") {
    val counts = Tables.documents(spark, sf)
      .select(col("source"), explode(split(col("text"), " ")).as("tok"))
      .groupBy("source", "tok").agg(count(lit(1)).as("c"))
      .groupBy("source")
      .agg(sum("c").as("n_tokens"), collect_list(col("c")).as("cs"))
    bitEqual(counts,
      plogpSum(col("cs"), col("n_tokens")),
      aggregate(array_sort(col("cs")), lit(0.0), (acc, c) => {
        val p = c.cast("double") / col("n_tokens")
        acc - p * log(p)
      }))
  }

  test("CondEntropySum === cond-entropy HOF twin, bit for bit") {
    val toks = Tables.documents(spark, sf)
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .select(col("doc_id"), col("t"), (size(col("t")) - 1).as("m1"))
      .filter(col("m1") >= 1)
    val pairs = toks
      .select(explode(zip_with(slice(col("t"), lit(1), col("m1")),
        slice(col("t"), lit(2), col("m1")),
        (a, b) => struct(a.as("u"), b.as("v")))).as("p"))
      .select(col("p.u").as("u"), col("p.v").as("v"))
    val cuv = pairs.groupBy("u", "v").agg(count(lit(1)).as("cuv"))
    val cu = cuv.groupBy("u").agg(sum("cuv").as("cu"))
    val cells = cuv.join(cu, "u")
      .agg(sum("cuv").as("n"),
        collect_list(struct(col("u"), col("v"), col("cuv").as("c"), col("cu"))).as("l"))
    bitEqual(cells,
      condEntropySum(col("l"), col("n")),
      aggregate(array_sort(col("l")), lit(0.0), (acc, e) =>
        acc - (e.getField("c").cast("double") / col("n"))
          * log(e.getField("c").cast("double") / e.getField("cu"))))
  }

  test("DecaySum === decayed-activity HOF twin, bit for bit") {
    val ref = Tables.events(spark, sf).agg(max(unix_timestamp(col("ts"))).as("t_ref"))
    val byUser = Tables.events(spark, sf)
      .select(col("user_id"), unix_timestamp(col("ts")).as("t"))
      .groupBy("user_id")
      .agg(collect_list(col("t")).as("tss"))
      .crossJoin(broadcast(ref))
    bitEqual(byUser,
      decaySum(col("tss"), col("t_ref")),
      aggregate(array_sort(col("tss")), lit(0.0),
        (acc, t) => acc + pow(lit(2.0), (t - col("t_ref")).cast("double") / 604800.0)))
  }

  test("property: SortedTermSum === HOF twin on adversarial doubles (denormal/inf/NaN/±0/dup keys)") {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val rng = new scala.util.Random(11L)
    val specials = Array(0.0, -0.0, Double.MinPositiveValue, -Double.MinPositiveValue,
      1e308, -1e308, 1e-308, Double.PositiveInfinity, Double.NegativeInfinity,
      Double.NaN, 1.0 + 2e-16, -1.0 - 2e-16)
    def term(): Double =
      if (rng.nextInt(3) == 0) specials(rng.nextInt(specials.length))
      else java.lang.Double.longBitsToDouble(rng.nextLong()) match {
        case d if d.isNaN => 0.5 // keep raw-bit NaNs out: Catalyst canonicalizes
        case d => d
      }
    val rows = (0 until 80).map { _ =>
      val n = rng.nextInt(7)
      // duplicate keys on purpose: ties must resolve identically (full
      // struct order, term field included) in kernel and array_sort
      Row(Seq.fill(n)(Row(s"k${rng.nextInt(3)}", term())))
    }
    val schema = StructType(Seq(StructField("l", ArrayType(StructType(Seq(
      StructField("k", StringType), StructField("term", DoubleType)))))))
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    bitEqual(df,
      sortedTermSum(col("l")),
      aggregate(array_sort(col("l")), lit(0.0), (a, s) => a + s.getField("term")))
    bitEqual(df,
      sortedTermSumNeg(col("l")),
      aggregate(array_sort(col("l")), lit(0.0), (a, s) => a - s.getField("term")))
  }

  test("fold kernels are SQL-callable via GraftExtensions") {
    val row = spark.sql(
      """SELECT
        |  sorted_term_sum(array(named_struct('k', 'b', 'term', CAST(0.25 AS DOUBLE)),
        |                        named_struct('k', 'a', 'term', CAST(0.5 AS DOUBLE)))) AS s,
        |  plogp_sum(array(2L, 2L), 4L) AS h,
        |  cond_entropy_sum(array(named_struct('u', 'x', 'v', 'y', 'c', 2L, 'cu', 2L)), 2L) AS ce,
        |  decay_sum(array(604800L), 1209600L) AS d
        |""".stripMargin).head()
    assert(row.getDouble(0) == 0.75)
    assert(row.getDouble(1) == math.log(2.0)) // 2·(−½·ln ½) = ln 2
    assert(row.getDouble(2) == 0.0) // ln(c/cu) = ln 1
    assert(row.getDouble(3) == 0.5) // 2^−1
    // wrong arity surfaces Spark's standard analysis error
    val e = intercept[org.apache.spark.sql.AnalysisException] {
      spark.sql("SELECT plogp_sum(array(1L))").collect()
    }
    assert(e.getMessage.contains("plogp_sum"))
  }

  test("fold kernels COMPILE under CODEGEN_ONLY (no silent interpreter fallback)") {
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      val row = spark.range(1).select(
        sortedTermSum(array(struct(lit("a").as("k"), lit(0.5).as("term")),
          struct(lit("b").as("k"), lit(0.25).as("term")))).as("s"),
        sortedTermSumNeg(array(struct(lit("a").as("k"), lit(0.5).as("term")))).as("sn"),
        plogpSum(array(lit(1L), lit(3L)), lit(4L)).as("h"),
        condEntropySum(array(struct(lit("u").as("u"), lit("v").as("v"),
          lit(2L).as("c"), lit(4L).as("cu"))), lit(8L)).as("ce"),
        decaySum(array(lit(0L), lit(604800L)), lit(604800L)).as("d")).head()
      assert(row.getDouble(0) == 0.75 && row.getDouble(1) == -0.5)
      assert(row.getDouble(4) == 1.5) // 2^-1 + 2^0
    } finally {
      prevFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
    }
  }
}
