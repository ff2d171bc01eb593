package graft

/** Prints the formatted physical plan of the named queries at the given
  * sf dir — the source for PLANS.md evidence sections.
  * Usage: runMain graft.PlanDump <sfDir> <name>[,<name>...] [bench|benchexec] [k=v ...]
  * ("bench" plans the benchShapes form — the production shape without
  * verify-only total sorts; "benchexec" additionally EXECUTES the query
  * through the noop sink first, so the printed plan is the FINAL
  * adaptive plan — ReusedExchange / AQEShuffleRead / runtime join
  * rewrites visible — not the conservative initial one. Every trailing
  * arg containing `=` is a session conf, in any position — for dumping
  * the CLUSTER-SHAPED plan a fixture-scale session hides, e.g.
  * spark.sql.autoBroadcastJoinThreshold=-1
  * spark.graft.layoutRowsPerPartition=1000.)
  */
object PlanDump {
  /** Trailing args → (mode, confs): every arg containing `=` is a conf
    * wherever it sits (parsed by [[Bench.confPairs]]); the first other
    * arg is the mode. */
  private[graft] def trailingArgs(args: Seq[String]): (Option[String], Seq[(String, String)]) =
    args.partition(_.contains("=")) match { case (confs, modes) => (modes.headOption, Bench.confPairs(confs)) }

  def main(args: Array[String]): Unit = {
    val (sfDir, names) = (args(0), args(1).split(",").toSeq)
    val (mode, confs) = trailingArgs(args.toSeq.drop(2))
    val shapes = if (mode.exists(_.startsWith("bench"))) SparkEntry.benchShapes
                 else SparkEntry.queries
    val spark = GraftExtensions.localSession("4", "ERROR", confs)
    names.foreach { name =>
      println(s"## $name")
      println()
      println("```")
      val df = shapes(name)(spark, sfDir)
      if (mode.contains("benchexec")) {
        // drive df's OWN QueryExecution (a noop write wraps the plan in
        // a separate command whose execution never finalizes df's
        // AdaptiveSparkPlan) so the print shows the final runtime plan
        df.collect()
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
        spark.catalog.clearCache()
      } else
        println(df.queryExecution.explainString(
          org.apache.spark.sql.execution.FormattedMode))
      println("```")
    }
    spark.stop()
  }
}
