package graft

import graft.operators.Nms
import graft.plans.Eager._
import graft.plans.GreedyNmsExec
import org.apache.spark.SparkException
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The session contract: Spark's ServiceLoader applies GraftExtensions to
  * every session built with the engine on its classpath, and src/main has
  * no second way to install a rule or build a session. */
class SessionContractSpec extends SparkSpec {

  // the 14 functions, FrozenScanExec, greedy NMS, the rejection of an
  // unhinted fact×fact cartesian and BroadcastRaceGuard under AQE
  test("plain SparkSession.builder().getOrCreate() carries every engine rule") {
    val orig = spark // force shared-session init before we swap defaults
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val plain = SparkSession.builder().getOrCreate()
    try {
      assert(!(plain eq orig), "the test must build a new session")
      val names = GraftExtensions.builders.map(_._1)
      assert(names.distinct.size == 14)
      names.foreach(n => assert(plain.catalog.functionExists(n), s"function $n missing"))
      assert(plain.sql("SELECT jaro_winkler('MARTHA', 'MARHTA')").head().getDouble(0) > 0.96)

      val frozen = plain.range(100).toDF("id").eagerly
      try assert(frozen.queryExecution.sparkPlan.collectFirst {
        case _: FrozenScanExec => () }.nonEmpty, "FrozenScan strategy missing")
      finally frozen.release()
      assert(Nms.greedyExecQuery(plain, sf).queryExecution.sparkPlan.collectFirst {
        case _: GreedyNmsExec => () }.nonEmpty, "GreedyNmsStrategy missing")

      plain.conf.set("spark.sql.autoBroadcastJoinThreshold", "1024")
      val ev = Tables.events(plain, sf)
      val e = intercept[SparkException] { ev.crossJoin(ev).queryExecution.optimizedPlan }
      assert(e.getMessage.contains("cartesian guard"))
      // the hinted shape the engine itself uses still runs end to end
      assert(ev.crossJoin(broadcast(ev.agg(count(lit(1)).as("n")))).count() > 0)

      assert(plain.conf.get("spark.sql.adaptive.enabled") == "true")
      val cached = plain.range(100).select((col("id") % 7).as("k"), col("id").as("v")).persist()
      try {
        val racy = cached
          .join(broadcast(cached.groupBy("k").agg(sum("v").as("s1"))), "k")
          .join(broadcast(cached.groupBy("k").agg(max("v").as("m2"))), "k")
        val r = intercept[SparkException] { racy.queryExecution.executedPlan }
        assert(r.getMessage.contains("cache-race guard"))
      } finally cached.unpersist()
    } finally {
      SparkSession.setDefaultSession(orig)
      SparkSession.setActiveSession(orig)
    }
  }

  test("src/main: no late registration, one SparkSession.builder()") {
    val root = java.nio.file.Paths.get("src/main")
    val files = java.nio.file.Files.walk(root).toArray.toSeq
      .map(_.asInstanceOf[java.nio.file.Path])
      .filter(p => java.nio.file.Files.isRegularFile(p))
    val helper = "graft/GraftExtensions.scala"
    assert(files.exists(_.endsWith(helper)), s"scan root wrong: $root")
    val builder = "SparkSession.builder()"
    val offenders = files.flatMap { p =>
      val text = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
      Seq("extraStrategies", "createOrReplaceTempFunction", "withExtensions")
        .filter(text.contains).map(w => s"$p: $w") ++
        (if (text.contains(builder) && !p.endsWith(helper)) Seq(s"$p: $builder") else Nil)
    }
    assert(offenders.isEmpty, offenders.mkString("\n"))
  }
}
