package graft

/** Plan-audit utility: print the formatted physical plan of one or more
  * `SparkEntry.queries` entries (comma-separated names; `all` dumps
  * everything). The per-round workflow is correctness → plan audit →
  * bench; this is the middle step, so the audit doesn't require pasting
  * code into a REPL.
  *
  * Usage: `sbt "runMain graft.Explain <sfDir> q_a,q_b"`.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names: Seq[String] = args.lift(1) match {
      case None | Some("all") => SparkEntry.queries.keys.toSeq.sorted
      case Some(csv)          => csv.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    }
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftExtensions.localSession("4", "ERROR")
    names.foreach { name =>
      println(s"==== $name ====")
      println(SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode))
    }
    spark.stop()
  }
}
