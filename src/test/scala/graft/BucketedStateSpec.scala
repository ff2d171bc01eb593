package graft

import graft.sources.BucketedState

/** The shared append-only bucketed-state layout, exercised directly on a
  * toy schema (its production consumers — the IVF postings, the LM
  * model, the gram index and the semdedup vectors — pin their own
  * end-to-end contracts). */
class BucketedStateSpec extends SparkSpec {

  private def fresh(): BucketedState = BucketedState(
    java.nio.file.Files.createTempDirectory("graft-bstate").toString + "/state",
    "graft_bstate_test_", "k INT, v STRING", Seq("k"), 4)

  private def rows(st: BucketedState): Set[(Int, String)] = {
    val t = st.ensure(spark).get
    spark.table(t).collect().map(r => (r.getInt(0), r.getString(1))).toSet
  }

  test("ensure is None before any committed data; append creates, then accumulates") {
    val sess = spark
    import sess.implicits._
    val st = fresh()
    assert(st.ensure(spark).isEmpty, "no data yet — nothing to register")
    st.append(spark, Seq((1, "a"), (2, "b")).toDF("k", "v"))
    assert(rows(st) == Set((1, "a"), (2, "b")))
    st.append(spark, Seq((3, "c")).toDF("k", "v"))
    assert(rows(st) == Set((1, "a"), (2, "b"), (3, "c")))
  }

  test("the table name is deterministic per path and distinct across paths") {
    val (a, b) = (fresh(), fresh())
    assert(a.table == BucketedState(a.path, a.prefix, a.schemaDdl, a.bucketCols, a.nBuckets).table)
    assert(a.table != b.table)
  }

  test("data outlives the catalog: drop + ensure re-registers, bucketing intact") {
    import org.apache.spark.sql.execution.FileSourceScanExec
    val sess = spark
    import sess.implicits._
    val st = fresh()
    st.append(spark, Seq((1, "a"), (2, "b"), (3, "c")).toDF("k", "v"))
    spark.sql(s"DROP TABLE ${st.table}")
    assert(rows(st) == Set((1, "a"), (2, "b"), (3, "c")))
    // the re-registered scan still carries the bucket spec
    val scan = spark.table(st.table).queryExecution.executedPlan.collectFirst {
      case s: FileSourceScanExec => s
    }
    assert(scan.exists(_.relation.bucketSpec.exists(_.numBuckets == 4)),
      "re-registration must preserve the declared bucketing")
  }

  test("a dir holding only uncommitted garbage reads as absent and is cleared by the first append") {
    val sess = spark
    import sess.implicits._
    val st = fresh()
    val tmp = new java.io.File(st.path, "_temporary/0")
    tmp.mkdirs()
    new java.io.File(tmp, "part-0001.parquet").createNewFile()
    assert(st.ensure(spark).isEmpty,
      "in-flight append staging must not register as committed state")
    st.append(spark, Seq((9, "z")).toDF("k", "v"))
    assert(rows(st) == Set((9, "z")))
  }

  test("a quoted path is refused rather than mis-quoted into DDL") {
    val sess = spark
    import sess.implicits._
    val base = java.nio.file.Files.createTempDirectory("graft-bstate-q").toString
    val evil = BucketedState(base + "/it's", "graft_bstate_test_",
      "k INT, v STRING", Seq("k"), 4)
    // create committed files at the path WITHOUT the DDL path (append's
    // CTAS path quotes nothing), then force the re-registration branch
    evil.append(spark, Seq((1, "a")).toDF("k", "v"))
    spark.sql(s"DROP TABLE ${evil.table}")
    val e = intercept[IllegalArgumentException] { evil.ensure(spark) }
    assert(e.getMessage.contains("quote"))
  }
}
