package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val (sfDir, outDir) = (args(0), args(1))
    // optional third arg: comma-separated query names to dump (local
    // selfcheck of a single query without a full run); trimmed and
    // validated — a typo'd or space-bearing name would otherwise
    // silently dump a PARTIAL surface with exit 0 (Bench's fail-fast)
    val only: Option[Set[String]] = args.lift(2)
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    only.foreach { s =>
      val unknown = s -- SparkEntry.queries.keySet
      require(unknown.isEmpty, s"unknown verify queries: ${unknown.mkString(",")}")
    }
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = GraftExtensions.localSession(cpus, "WARN")
    // SPARK_GRAFT_CODEGEN_STRICT=1: run the WHOLE surface with codegen
    // fallback disabled. A doGenCode that emits unparseable Java fails
    // no check by default — Spark swallows Janino's CompileException and
    // runs the predicate/projection interpreted, correctness-identical
    // and 4-5× slower (the r11 Iou leading-'|' bug rode green through
    // every oracle and spec and only surfaced as a bench regression).
    // Strict mode turns that swallow into a per-query [verify] failure,
    // sweeping every plan shape the engine can produce — the
    // ExpressionsSpec CODEGEN_ONLY test covers the scalar surface; this
    // covers the queries.
    if (sys.env.get("SPARK_GRAFT_CODEGEN_STRICT").exists(_ == "1")) {
      spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
      spark.conf.set("spark.sql.codegen.fallback", "false")
      System.err.println("[verify] strict codegen: CODEGEN_ONLY, no whole-stage fallback")
    }
    // fail FAST and LOUD on fixture-schema drift (the round-8 lesson):
    // better no correctness rows than 199 plausible wrong ones
    Preflight.check(spark, sfDir)
    new java.io.File(outDir).mkdirs()
    // failures are tracked, not swallowed: a partially-dumped surface
    // must not LOOK like a clean run (the Bench exit-nonzero policy) —
    // a failed query's possibly-stale dump dir from a previous run into
    // the same outDir is also removed so the comparer can't read it
    var nFailed = 0
    SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
      .foreach { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
        } catch { case e: Throwable =>
          nFailed += 1
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          val stale = new java.io.File(s"$outDir/$name")
          if (stale.exists()) {
            def rm(f: java.io.File): Unit = {
              if (f.isDirectory)
                Option(f.listFiles()).getOrElse(Array.empty[java.io.File]).foreach(rm)
              f.delete()
            }
            rm(stale)
          }
        } finally {
          // release per-query persisted blocks (minhashLsh/jaccardPairs
          // cache intra-query) even when the query FAILED; without this,
          // cached RDDs accumulate across the 200-query session
          spark.catalog.clearCache()
        }
      }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    spark.stop()
    if (nFailed > 0) {
      System.err.println(s"[verify] $nFailed quer${if (nFailed == 1) "y" else "ies"} failed")
      sys.exit(1)
    }
  }
}
