package graft

import graft.functions.CosineSimilarity.cosineSim
import graft.functions.Iou.{box, iou}
import graft.functions.VectorFunctions
import graft.operators.Nms
import org.apache.spark.sql.functions._

/** Custom Catalyst expressions: bit-identical to their HOF/Scala twins
  * (that equivalence is what makes swapping them under oracle-checked
  * queries safe) + SQL registration via the function registry. */
class ExpressionsSpec extends SparkSpec {

  lazy val emb = Tables.embeddings(spark, sf).cache()

  test("CosineSimilarity === HOF cosine, bit for bit") {
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .limit(2000)
    val diffs = pairs.select(
      (cosineSim(col("ea"), col("eb")) - VectorFunctions.cosine(col("ea"), col("eb"))).as("d"))
      .collect().map(_.getDouble(0))
    assert(diffs.nonEmpty && diffs.forall(_ == 0.0))
  }

  test("SqDistance === HOF squared-L2 fold, bit for bit") {
    import graft.functions.SqDistance.sqDist
    // the exact HOF formulation SqDistance replaced in VectorOps.sqDist
    def hof(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(
        zip_with(a, b,
          (x, y) => (x.cast("double") - y.cast("double")) * (x.cast("double") - y.cast("double"))),
        lit(0.0), (acc, x) => acc + x)
    val pairs = emb.select(col("vec_id").as("ia"), col("embedding").as("ea"))
      .crossJoin(emb.select(col("vec_id").as("ib"), col("embedding").as("eb")))
      .limit(2000)
    val diffs = pairs.select(
      (sqDist(col("ea"), col("eb")) - hof(col("ea"), col("eb"))).as("d"))
      .collect().map(_.getDouble(0))
    assert(diffs.nonEmpty && diffs.forall(_ == 0.0))
    // length mismatch → null, like the null-padded zip_with lane
    val mism = emb.limit(1).select(
      sqDist(col("embedding"), slice(col("embedding"), 1, 3).cast("array<float>")).as("d"))
      .head()
    assert(mism.isNullAt(0))
    // element null → null on the SQL surface (a nullable array's null
    // slot must not be silently read as 0.0f) — both expressions
    val nulls = spark.sql(
      """SELECT
        |  sq_dist(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
        |          array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS d,
        |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT)),
        |             array(CAST(1.0 AS FLOAT), CAST(2.0 AS FLOAT))) AS c
        |""".stripMargin).head()
    assert(nulls.isNullAt(0) && nulls.isNullAt(1))
  }

  test("sketch and box expressions null out on null elements/fields (SQL surface)") {
    // getLong/getFloat/getInt silently read a null slot as 0 — every
    // custom expression must return NULL instead of a silently wrong
    // sketch/overlap (r11 review sweep); engine columns are
    // containsNull=false so only the public SQL surface can hit this
    val r = spark.sql(
      """SELECT
        |  minhash_sig(array(CAST(7 AS BIGINT), CAST(NULL AS BIGINT))) AS m,
        |  simhash16(array(CAST(7 AS BIGINT), CAST(NULL AS BIGINT))) AS s,
        |  walsh_band_keys(array(CAST(1.0 AS FLOAT), CAST(NULL AS FLOAT))) AS w,
        |  iou(named_struct('x', CAST(NULL AS INT), 'y', 0, 'w', 10, 'h', 10),
        |      named_struct('x', 0, 'y', 0, 'w', 10, 'h', 10)) AS i
        |""".stripMargin).head()
    (0 until 4).foreach(j => assert(r.isNullAt(j), s"column $j should be null"))
    // and the non-null forms still produce values (no over-nulling)
    val ok = spark.sql(
      """SELECT minhash_sig(array(CAST(7 AS BIGINT))) AS m,
        |  iou(named_struct('x', 0, 'y', 0, 'w', 10, 'h', 10),
        |      named_struct('x', 0, 'y', 0, 'w', 10, 'h', 10)) AS i
        |""".stripMargin).head()
    assert(!ok.isNullAt(0) && ok.getDouble(1) == 1.0)
  }

  test("sq_dist participates in whole-stage codegen (no fallback in plan)") {
    import graft.functions.SqDistance.sqDist
    val plan = emb.select(sqDist(col("embedding"), col("embedding")).as("d"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1) Project"))
  }

  test("Iou expression === Nms.iou scala function") {
    import spark.implicits._
    val boxes = (0 until 50).map(i =>
      (i, (i * 17) % 90, (i * 31) % 90, 10 + i % 40, 10 + i % 30))
      .toDF("id", "x", "y", "w", "h")
    val a = boxes.select(col("id").as("ia"), box(col("x"), col("y"), col("w"), col("h")).as("ba"),
      col("x").as("xa"), col("y").as("ya"), col("w").as("wa"), col("h").as("ha"))
    val b = boxes.select(col("id").as("ib"), box(col("x"), col("y"), col("w"), col("h")).as("bb"),
      col("x").as("xb"), col("y").as("yb"), col("w").as("wb"), col("h").as("hb"))
    val rows = a.crossJoin(b)
      .select(iou(col("ba"), col("bb")).as("e"),
        col("xa"), col("ya"), col("wa"), col("ha"), col("xb"), col("yb"), col("wb"), col("hb"))
      .collect()
    rows.foreach { r =>
      val expected = Nms.iou(r.getInt(1), r.getInt(2), r.getInt(3), r.getInt(4),
        r.getInt(5), r.getInt(6), r.getInt(7), r.getInt(8))
      assert(r.getDouble(0) == expected)
    }
  }

  test("SQL surface: cosine_sim and iou callable from spark.sql after registration") {
    emb.createOrReplaceTempView("emb_ext_test")
    val c = spark.sql(
      """SELECT cosine_sim(a.embedding, b.embedding) AS c
        |FROM emb_ext_test a JOIN emb_ext_test b ON a.vec_id = b.vec_id
        |WHERE a.vec_id < 5""".stripMargin)
      .collect().map(_.getDouble(0))
    assert(c.length == 5 && c.forall(v => math.abs(v - 1.0) < 1e-9))
    val i = spark.sql(
      "SELECT iou(named_struct('x',0,'y',0,'w',10,'h',10), named_struct('x',5,'y',0,'w',10,'h',10)) AS i")
      .head().getDouble(0)
    assert(math.abs(i - 50.0 / 150.0) < 1e-12)
    val d = spark.sql(
      """SELECT sq_dist(a.embedding, b.embedding) AS d
        |FROM emb_ext_test a JOIN emb_ext_test b ON a.vec_id = b.vec_id
        |WHERE a.vec_id < 5""".stripMargin)
      .collect().map(_.getDouble(0))
    assert(d.length == 5 && d.forall(_ == 0.0))
  }

  test("cosine_sim participates in whole-stage codegen (no fallback in plan)") {
    val plan = emb.select(cosineSim(col("embedding"), col("embedding")).as("c"))
      .queryExecution.executedPlan.toString
    // "*(n)" is the compact WholeStageCodegen marker on the Project node
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1) Project"))
  }

  test("TokenCode expression === the HOF ascii-fold on fixture tokens") {
    import graft.functions.TokenCode.tokenCode
    val hof = aggregate(
      transform(split(col("tok"), ""), (c, i) => ascii(c).cast("long") * (i.cast("long") + 1L)),
      lit(0L), (acc, v) => acc + v)
    val toks = Tables.documents(spark, sf)
      .select(explode(split(col("text"), " ")).as("tok")).distinct()
    val diffs = toks.select((tokenCode(col("tok")) - hof).as("d"))
      .collect().map(_.getLong(0))
    assert(diffs.nonEmpty && diffs.forall(_ == 0L))
  }

  test("WalshBandKeys === per-hyperplane HOF aggregates, bit for bit") {
    import graft.functions.WalshBandKeys.walshBandKeys
    val planes = graft.operators.VectorOps.MultibandPlanes
    def whDot(j: Int) = aggregate(
      transform(col("embedding"), (x, i) => x.cast("double") *
        (lit(1.0) - lit(2.0) * (bit_count(i.bitwiseAND(lit(j))) % 2).cast("double"))),
      lit(0.0), (acc, v) => acc + v)
    def hofKey(band: Seq[Int]) = band.zipWithIndex.map { case (j, r) =>
      (whDot(j) > 0).cast("long") * lit(1L << r)
    }.reduce(_ + _)
    val rows = emb.select(
        walshBandKeys(col("embedding"), planes).as("expr"),
        array(planes.map(hofKey): _*).as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("MinHashSig === per-permutation HOF array_min, bit for bit") {
    import graft.functions.{MinHashSig, TokenCode}
    import graft.operators.TextOps
    val codes = transform(array_distinct(split(col("text"), " ")), TokenCode.tokenCode _)
    // folded HOF twin: the expression computes the exact mathematical
    // mod (code folds to [0, p) first — mod distributes over the affine
    // map), so the twin folds identically; an unfolded a*c twin would
    // wrap past 2^63 where the expression no longer does (r11 audit)
    val hof = array(TextOps.MinhashParams.map { case (_, a, b) =>
      array_min(transform(col("codes"),
        c => (lit(a) * pmod(c, lit(TextOps.MinhashPrime)) + lit(b)) % TextOps.MinhashPrime))
    }: _*)
    val rows = Tables.documents(spark, sf)
      .select(codes.as("codes")).filter(size(col("codes")) > 0)
      .select(
        MinHashSig.minhashSig(col("codes"), TextOps.MinhashParams, TextOps.MinhashPrime).as("expr"),
        hof.as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getSeq[Long](0) == r.getSeq[Long](1)))
  }

  test("SimHash16 === per-bit HOF aggregates, bit for bit") {
    import graft.functions.{SimHash16, TokenCode}
    import graft.operators.TextOps
    val codes = transform(split(col("text"), " "), TokenCode.tokenCode _)
    def bit(i: Int, a: Long, b: Long) = {
      val s = aggregate(col("codes"),
        lit(0L), (acc, c) => acc + ((lit(a) * pmod(c, lit(TextOps.MinhashPrime)) + lit(b))
          % TextOps.MinhashPrime % 2) * 2 - 1)
      when(s > 0, lit(1L << i)).otherwise(lit(0L))
    }
    val hof = TextOps.MinhashParams.map { case (i, a, b) => bit(i, a, b) }.reduce(_ + _)
    val rows = Tables.documents(spark, sf)
      .select(codes.as("codes"))
      .select(
        SimHash16.simhash16(col("codes"), TextOps.MinhashParams, TextOps.MinhashPrime).as("expr"),
        hof.as("hof"))
      .collect()
    assert(rows.nonEmpty)
    rows.foreach(r => assert(r.getLong(0) == r.getLong(1)))
  }

  test("sketch functions: SQL-callable and inside whole-stage codegen") {
    import graft.functions.WalshBandKeys.walshBandKeys
    Tables.documents(spark, sf).createOrReplaceTempView("docs_ext_test")
    val sketches = spark.sql(
      """SELECT simhash16(transform(split(text, ' '), t -> token_code(t))) AS s,
        |       minhash_sig(transform(split(text, ' '), t -> token_code(t))) AS m
        |FROM docs_ext_test""".stripMargin).collect()
    assert(sketches.nonEmpty && sketches.forall(r => !r.isNullAt(0) && r.getSeq[Long](1).length == 16))
    emb.createOrReplaceTempView("emb_ext_test")
    val keys = spark.sql("SELECT walsh_band_keys(embedding) AS k FROM emb_ext_test").collect()
    assert(keys.nonEmpty && keys.forall(_.getSeq[Long](0).length == graft.operators.VectorOps.Bands))
    val plan = emb.select(
        walshBandKeys(col("embedding"), graft.operators.VectorOps.MultibandPlanes).as("k"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1) Project"))
  }

  test("bitmap_from_bits: negative bit positions raise a descriptive error, not an opaque AIOOBE") {
    import spark.implicits._
    val err = intercept[Exception] {
      Seq(Array(3, -1, 5)).toDF("bits")
        .select(graft.functions.Bitmap.bitmapFromBits(col("bits")))
        .collect()
    }
    def msgs(t: Throwable): Seq[String] =
      if (t == null) Seq.empty else Option(t.getMessage).toSeq ++ msgs(t.getCause)
    assert(msgs(err).exists(_.contains("non-negative")), s"got: ${msgs(err)}")
  }

  test("bitmap_from_bits: nullable-element arrays are rejected at analysis time") {
    import spark.implicits._
    // array(col, lit(null)) has containsNull = true; a null slot would
    // otherwise silently read as bit 0
    val err = intercept[Exception] {
      Seq(1).toDF("b")
        .select(graft.functions.Bitmap.bitmapFromBits(
          array(col("b"), lit(null).cast("int"))))
        .collect()
    }
    assert(err.getMessage.toLowerCase.contains("non-nullable")
      || err.getMessage.toLowerCase.contains("null"), err.getMessage.take(300))
  }

  test("type checking rejects wrong argument types") {
    val err = intercept[Exception] {
      spark.sql("SELECT cosine_sim(array(1, 2), array(3, 4))").collect()
    }
    assert(err.getMessage.toLowerCase.contains("cosine_sim"))
  }

  test("BitmapDistinct === count(DISTINCT) on the fixture; out-of-domain ids fail fast") {
    import org.apache.spark.sql.functions._
    val sfDir = "/root/testdata/sf0.01"
    val bd = udaf(graft.functions.BitmapDistinct(1 << 16),
      org.apache.spark.sql.Encoders.scalaLong)
    val viaBitmap = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(bd(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val viaDistinct = Tables.events(spark, sfDir)
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(viaBitmap == viaDistinct && viaBitmap.nonEmpty)
    // a silent mask would undercount — the aggregator must throw instead
    import spark.implicits._
    val small = udaf(graft.functions.BitmapDistinct(7),
      org.apache.spark.sql.Encoders.scalaLong)
    val err = intercept[Exception] {
      Seq(1L, 99L).toDF("id").agg(small(col("id"))).collect()
    }
    assert(err.getMessage.contains("outside bitmap domain")
      || Option(err.getCause).exists(_.getMessage.contains("outside bitmap domain")))
  }

  test("JaroWinkler matches DuckDB jaro_winkler_similarity on probed pairs") {
    import graft.functions.JaroWinklerImpl
    import org.apache.spark.unsafe.types.UTF8String.{fromString => u}
    // expected values captured from DuckDB 1.x jaro_winkler_similarity —
    // these pin the exact semantics the q_jw oracle depends on: empty→0,
    // 0.7 boost threshold (ax/abcdefgh has prefix 1 but stays unboosted),
    // prefix cap 4, transposition halving
    val pinned = Seq(
      ("MARTHA", "MARHTA", 0.9611111111111111),
      ("DWAYNE", "DUANE", 0.8400000000000001),
      ("DIXON", "DICKSONX", 0.8133333333333332),
      ("abc", "", 0.0),
      ("", "", 0.0),
      ("a", "a", 1.0),
      ("abcdef", "fedcba", 0.38888888888888884),
      ("crate", "trace", 0.7333333333333334),
      ("sparky", "sparse", 0.8666666666666666),
      ("ab", "ba", 0.0),
      ("xyzw", "xqzw", 0.8500000000000001),
      ("ax", "abcdefgh", 0.5416666666666666),
      ("ab", "abcdefghijkl", 0.7777777777777779),
      ("abcdx", "abcdyzzzzzzz", 0.8266666666666667),
      ("aaaaaa", "aaxxxxxxxxxxxxxx", 0.4861111111111111),
      ("prefixmatch", "prefixnomatchxxxxxxx", 0.91))
    pinned.foreach { case (a, b, exp) =>
      val got = JaroWinklerImpl.jw(u(a), u(b))
      assert(got == exp, s"jw($a, $b): got $got expected $exp")
      // symmetric
      assert(JaroWinklerImpl.jw(u(b), u(a)) == exp)
    }
  }

  test("jaro_winkler: SQL-callable and inside whole-stage codegen") {
    val v = spark.sql("SELECT jaro_winkler('MARTHA', 'MARHTA') AS j")
      .head().getDouble(0)
    assert(v == 0.9611111111111111)
    import graft.functions.JaroWinklerImpl.jaroWinkler
    val df = Tables.documents(spark, sf).limit(50)
      .select(jaroWinkler(col("text"), reverse(col("text"))).as("j"))
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("WholeStageCodegen") || plan.contains("*(1)"),
      s"expected codegen in:\n${plan.take(800)}")
    // codegen path (executed plan) agrees with interpreted eval
    val rows = Tables.documents(spark, sf).limit(50)
      .select(col("text"), reverse(col("text")).as("rev")).collect()
    val expected = rows.map(r => graft.functions.JaroWinklerImpl.jw(
      org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(0)),
      org.apache.spark.unsafe.types.UTF8String.fromString(r.getString(1))))
    val got = df.collect().map(_.getDouble(0))
    assert(got.sameElements(expected))
  }

  test("every custom expression COMPILES under CODEGEN_ONLY (no silent interpreter fallback)") {
    // A doGenCode that emits unparseable Java does NOT fail any query:
    // Janino's CompileException is swallowed and the predicate/projection
    // silently drops to interpreted mode — correctness-invisible, 4-5x
    // slower (the r11 Iou leading-'|' stripMargin bug rode through the
    // full oracle suite and only surfaced as a q_nms_dominance bench
    // regression). CODEGEN_ONLY turns that swallow into a hard error, so
    // this test pins the compiled path for every custom expression in
    // the exact shapes the queries use (join predicate, projection, SQL).
    val prevFactory = spark.conf.getOption("spark.sql.codegen.factoryMode")
    val prevFallback = spark.conf.getOption("spark.sql.codegen.fallback")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    spark.conf.set("spark.sql.codegen.fallback", "false")
    try {
      // Iou inside a theta-join predicate — the shape that regressed
      assert(Nms.dominanceQuery(spark, sf).collect().nonEmpty)
      // the full scalar surface in one projection
      val row = spark.sql(
        """SELECT
          |  iou(named_struct('x', 0, 'y', 0, 'w', 10, 'h', 10),
          |      named_struct('x', 5, 'y', 5, 'w', 10, 'h', 10)) AS i,
          |  cosine_sim(array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT)),
          |             array(CAST(1.0 AS FLOAT), CAST(0.0 AS FLOAT))) AS c,
          |  sq_dist(array(CAST(1.0 AS FLOAT)), array(CAST(3.0 AS FLOAT))) AS d,
          |  minhash_sig(array(CAST(7 AS BIGINT), CAST(11 AS BIGINT))) AS m,
          |  simhash16(array(CAST(7 AS BIGINT))) AS s,
          |  walsh_band_keys(array(CAST(1.0 AS FLOAT), CAST(-2.0 AS FLOAT))) AS w,
          |  token_code('alpha') AS t,
          |  jaro_winkler('MARTHA', 'MARHTA') AS j,
          |  bitmap_and_count(bitmap_from_bits(array(1, 3)),
          |                   bitmap_from_bits(array(3, 5))) AS ba
          |""".stripMargin).head()
      assert(row.getDouble(7) == 0.9611111111111111)
      // might_contain_long is Column-API-only (carries a driver-side
      // BloomFilter) — compile it through a projection the same way
      val bf = Tables.orders(spark, sf).stat.bloomFilter("o_orderkey", 100, 0.03)
      val hits = Tables.orders(spark, sf).limit(20)
        .select(graft.functions.MightContainLong
          .mightContainLong(col("o_orderkey"), bf).as("hit"))
        .collect()
      assert(hits.nonEmpty && hits.forall(!_.isNullAt(0)))
      // and the null-guard branches compile too (the branch the r11 fix
      // added is only reachable with nullable inputs)
      val nulls = spark.sql(
        """SELECT iou(named_struct('x', CAST(NULL AS INT), 'y', 0, 'w', 1, 'h', 1),
          |           named_struct('x', 0, 'y', 0, 'w', 1, 'h', 1)) AS i,
          |  minhash_sig(array(CAST(7 AS BIGINT), CAST(NULL AS BIGINT))) AS m,
          |  simhash16(array(CAST(NULL AS BIGINT))) AS s,
          |  walsh_band_keys(array(CAST(NULL AS FLOAT))) AS w
          |""".stripMargin).head()
      (0 until 4).foreach(j => assert(nulls.isNullAt(j)))
    } finally {
      prevFactory.fold(spark.conf.unset("spark.sql.codegen.factoryMode"))(
        spark.conf.set("spark.sql.codegen.factoryMode", _))
      prevFallback.fold(spark.conf.unset("spark.sql.codegen.fallback"))(
        spark.conf.set("spark.sql.codegen.fallback", _))
    }
  }
}
