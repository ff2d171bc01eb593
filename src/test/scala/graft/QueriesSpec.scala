package graft

/** Smoke over the full driver surface: every registered query runs at
  * sf0.001, has a non-empty schema, and every oracle key points at a real
  * query. entry() must return rows (driver t1 gate). */
class QueriesSpec extends SparkSpec {

  test("every oracleSql key has a matching queries entry") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry() returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("no duplicate keys in the oracleSql source literal") {
    // Map literals silently keep the last duplicate key; count the key
    // literals in the source text against the materialized map size.
    val src = new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get("src/main/scala/graft/SparkEntry.scala")), "UTF-8")
    def keysIn(section: String): Seq[String] =
      "\"(q_\\w+)\" ->".r.findAllMatchIn(section).map(_.group(1)).toSeq
    val querySection = src.substring(src.indexOf("def queries"), src.indexOf("def benchShapes"))
    val oracleSection = src.substring(src.indexOf("def oracleSql"))
    for ((lits, map, label) <- Seq(
        (keysIn(querySection), SparkEntry.queries, "queries"),
        (keysIn(oracleSection), SparkEntry.oracleSql, "oracleSql"))) {
      val dups = lits.groupBy(identity).filter(_._2.size > 1).keys
      assert(dups.isEmpty, s"duplicate $label key literals: $dups")
      assert(lits.size == map.size,
        s"source has ${lits.size} $label key literals but map has ${map.size}")
    }
  }

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name executes at sf0.001") {
      val df = fn(spark, sf)
      assert(df.schema.nonEmpty)
      assert(df.count() >= 0)
    }
  }

  // the bench rule: every declared shape is its registered query with
  // the root global Sort made partition-local or removed, nothing else
  test("bench rule: each declared shape is its registered plan minus the global sort") {
    import org.apache.spark.sql.catalyst.plans.logical.Sort
    import org.apache.spark.sql.classic.GraftBridge.analyzed
    val declared = SparkEntry.oracleOnlySorts
    assert(declared.size == 22 && declared.count(!_._2) == 4, s"declared set changed: $declared")
    val bench = SparkEntry.benchShapes
    for ((name, keepOrder) <- declared) {
      val registered = SparkEntry.queries(name)(spark, sf)
      val root = analyzed(registered) match {
        case s: Sort if s.global => s
        case p => fail(s"$name: registered root is ${p.nodeName}, not a global Sort")
      }
      val expected = if (keepOrder) root.copy(global = false) else root.child
      assert(analyzed(SparkEntry.withoutGlobalSort(name, registered, keepOrder)) == expected,
        s"$name: bench plan is not the registered plan minus the global sort")
      analyzed(bench(name)(spark, sf)) match {
        case s: Sort if keepOrder =>
          assert(!s.global && s.order.map(_.sql) == root.order.map(_.sql),
            s"$name: benchShapes does not apply the rule")
        case p => assert(!keepOrder && !p.isInstanceOf[Sort] && p.schema == root.schema,
          s"$name: benchShapes root is ${p.nodeName}")
      }
    }
    for ((name, fn) <- bench if !declared.contains(name))
      assert(SparkEntry.queries(name) eq fn, s"$name: bench shape differs from its registered query")
  }

  test("bench rule fails loudly on a root that is not a global Sort") {
    val unsorted = SparkEntry.queries("q_filter")(spark, sf).limit(5)
    val e = intercept[IllegalStateException](
      SparkEntry.withoutGlobalSort("q_filter", unsorted, keepOrder = true))
    assert(e.getMessage.contains("q_filter") && e.getMessage.contains("global Sort"))
  }
}
