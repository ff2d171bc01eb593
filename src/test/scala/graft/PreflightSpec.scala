package graft

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger

import scala.concurrent.{Await, Future}
import scala.concurrent.ExecutionContext.Implicits.global
import scala.concurrent.duration._

import org.apache.spark.GraftTestAccess
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.functions._

/** The fixture-drift gate (round-8 lesson): Preflight must pass on the
  * real fixtures and must ABORT, naming the table and column, when a
  * fixture's footer type disagrees with the declared schema. It reads the
  * footers on the driver: no Spark job, no session conf written. */
class PreflightSpec extends SparkSpec {
  private val tables = Seq("region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")
  private val nanosKey = "spark.sql.legacy.parquet.nanosAsLong"

  /** A temp dir holding a copy of every fixture table of `sf`. */
  private def fixtureCopy(prefix: String): java.io.File = {
    val dir = Files.createTempDirectory(prefix).toFile
    for (name <- tables)
      Files.copy(new java.io.File(s"$sf/$name.parquet").toPath,
        new java.io.File(dir, s"$name.parquet").toPath)
    dir
  }

  /** The session's explicit setting of `nanosKey` (None when unset:
    * `spark.conf.getOption` would report the default instead). */
  private def nanosSetting: Option[String] = spark.sessionState.conf.getAllConfs.get(nanosKey)

  /** Runs `body` with `nanosKey` set to `value` (None: unset), then puts
    * the session's own setting back. */
  private def withNanosConf[A](value: Option[String])(body: => A): A = {
    val prev = nanosSetting
    value.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
    try body
    finally prev.fold(spark.conf.unset(nanosKey))(spark.conf.set(nanosKey, _))
  }

  test("preflight passes on the shipped fixtures") {
    Preflight.check(spark, sf) // must not throw
  }

  test("a mistyped column aborts with the table and column named") {
    val dir = Files.createTempDirectory("graft_preflight").toFile
    // copy every real fixture, then REWRITE region with r_regionkey as
    // LONG where the declared schema says INT — the exact class of silent
    // drift that burned round 8
    for (name <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      val src = new java.io.File(s"$sf/$name.parquet")
      Files.copy(src.toPath, new java.io.File(dir, s"$name.parquet").toPath)
    }
    new java.io.File(dir, "region.parquet").delete()
    Tables.region(spark, sf)
      .select(col("r_regionkey").cast("long").as("r_regionkey"), col("r_name"))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/region.parquet")
    val e = intercept[IllegalStateException](Preflight.check(spark, dir.getPath))
    assert(e.getMessage.contains("region.r_regionkey"), e.getMessage)
    assert(e.getMessage.contains("INT"), e.getMessage)
  }

  test("a missing column aborts and is named") {
    val dir = Files.createTempDirectory("graft_preflight2").toFile
    for (name <- Seq("region", "nation", "customer", "supplier", "part",
        "orders", "lineitem", "events", "documents", "embeddings")) {
      val src = new java.io.File(s"$sf/$name.parquet")
      Files.copy(src.toPath, new java.io.File(dir, s"$name.parquet").toPath)
    }
    new java.io.File(dir, "documents.parquet").delete()
    Tables.documents(spark, sf).drop("lang")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](Preflight.check(spark, dir.getPath))
    assert(e.getMessage.contains("documents.lang"), e.getMessage)
    assert(e.getMessage.contains("ABSENT"), e.getMessage)
  }

  test("check on sf0.01 starts no Spark job") {
    val sc = spark.sparkContext
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    }
    GraftTestAccess.drainListenerBus(sc)
    sc.addSparkListener(listener)
    try {
      Preflight.check(spark, "/root/testdata/sf0.01")
      GraftTestAccess.drainListenerBus(sc)
    } finally sc.removeSparkListener(listener)
    assert(jobs.get == 0, s"${jobs.get} Spark jobs during Preflight.check")
  }

  test("check leaves the session's nanosAsLong untouched, also when it throws") {
    val missing = Files.createTempDirectory("graft_preflight_none").toFile.getPath
    for (sentinel <- Seq(Some("false"), None)) withNanosConf(sentinel) {
      Preflight.check(spark, sf)
      assert(nanosSetting == sentinel)
      intercept[IllegalStateException](Preflight.check(spark, missing))
      assert(nanosSetting == sentinel)
    }
  }

  test("footer schema equals inference on every table of every fixture scale") {
    val dirs = Option(new java.io.File("/root/testdata").listFiles()).toSeq.flatten
      .filter(d => d.isDirectory && d.getName.startsWith("sf")).map(_.getPath).sorted
    assert(dirs.nonEmpty, "no /root/testdata/sf* fixture dirs")
    withNanosConf(Some("true")) {
      for (dir <- dirs; name <- tables)
        assert(Preflight.footerSchema(spark, dir, name) ==
          spark.read.parquet(s"$dir/$name.parquet").schema, s"$dir/$name")
    }
  }

  test("an undeclared extra column aborts with the table and column named") {
    val dir = fixtureCopy("graft_preflight3")
    new java.io.File(dir, "documents.parquet").delete()
    Tables.documents(spark, sf).withColumn("stowaway", lit(1))
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val e = intercept[IllegalStateException](Preflight.check(spark, dir.getPath))
    assert(e.getMessage.contains("documents.stowaway: in footer (INT) but not declared"),
      e.getMessage)
  }

  test("a truncated footer aborts as unreadable with the table named") {
    val dir = fixtureCopy("graft_preflight4")
    val region = new java.io.File(dir, "region.parquet").toPath
    val bytes = Files.readAllBytes(region)
    Files.write(region, bytes.take(bytes.length - 12))
    val e = intercept[IllegalStateException](Preflight.check(spark, dir.getPath))
    assert(e.getMessage.contains("region: footer unreadable"), e.getMessage)
  }

  test("four concurrent checks on one session all pass") {
    val checks = (1 to 4).map(_ => Future(Preflight.check(spark, sf)))
    checks.foreach(Await.result(_, 2.minutes))
  }

  test("a directory table reads the footer Spark's inference reads") {
    val dir = Files.createTempDirectory("graft_preflight_dir").toFile
    val path = s"$dir/events.parquet"
    Tables.events(spark, sf).repartition(3).write.parquet(path)
    val parts = new java.io.File(path).listFiles().map(_.getName).filter(_.startsWith("part-"))
    assert(parts.length == 3, parts.mkString(", "))
    // hidden files sort before the part files and hold another table:
    // Spark's file index skips them, so the helper must too
    for (hidden <- Seq(".stale.parquet", "_stale.parquet"))
      Files.copy(new java.io.File(s"$sf/region.parquet").toPath,
        new java.io.File(path, hidden).toPath)
    val rows = Tables.events(spark, sf).count()
    assert(Tables.parquetRowCount(spark, dir.getPath, "events") == rows)
    assert(Tables.events(spark, dir.getPath).count() == rows)
    assert(Tables.parquetFooters(spark, dir.getPath, "events").map(_.getFile.getName) ==
      Seq(parts.min))
    withNanosConf(Some("true")) {
      assert(Preflight.footerSchema(spark, dir.getPath, "events") ==
        spark.read.parquet(path).schema)
      // a summary file outranks every data file, in Spark and here
      Files.copy(new java.io.File(s"$sf/region.parquet").toPath,
        new java.io.File(path, "_common_metadata").toPath)
      val summarized = Preflight.footerSchema(spark, dir.getPath, "events")
      assert(summarized.fieldNames.toSeq == Schemas.region.fieldNames.toSeq)
      assert(summarized == spark.read.parquet(path).schema)
    }
    assert(Tables.parquetRowCount(spark, dir.getPath, "events") == rows)
  }

  test("no schema-only parquet read in src/main: inference would start a job") {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p))
    assert(files.exists(_.endsWith("graft/Preflight.scala")), s"scan root wrong: $root")
    val schemaRead = """read\.parquet\([^)]*\)\.schema""".r
    val offenders = files.flatMap { p =>
      val lines = new String(java.nio.file.Files.readAllBytes(p), "UTF-8").split("\n").toSeq
      lines.zipWithIndex.collect {
        case (l, i) if schemaRead.findFirstIn(l).isDefined => s"$p:${i + 1}: $l"
      }
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
