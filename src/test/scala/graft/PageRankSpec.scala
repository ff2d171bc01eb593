package graft

import org.apache.spark.sql.functions._

/** Graph-shape laws for the PageRank loop (`TextOps.pageRankOnGraph`) on
  * graphs the fixture's near-dup pair set can't produce deterministically:
  * stars (hub dominance), symmetric positions (equal rank), dangling
  * nodes (mass evaporates but teleport floor holds), and conservation
  * (total rank never exceeds the injected mass). */
class PageRankSpec extends SparkSpec {

  private def rank(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    graft.operators.TextOps.pageRankOnGraph(
        nodes.toDF("doc_id"), pairs.toDF("d1", "d2"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
  }

  test("star graph: the hub outranks every leaf; leaves rank equally (symmetry)") {
    val pr = rank(Seq(0L, 1L, 2L, 3L, 4L), Seq((0L, 1L), (0L, 2L), (0L, 3L), (0L, 4L)))
    assert(pr(0L) > pr(1L))
    assert(Set(pr(1L), pr(2L), pr(3L), pr(4L)).size == 1, "leaves are interchangeable")
  }

  test("dangling node keeps exactly the teleport floor; mass is conserved (never created)") {
    val scale = 1000000000000L
    val n = 4L
    val pr = rank(Seq(0L, 1L, 2L, 3L), Seq((0L, 1L), (1L, 2L)))
    // node 3 has no edges: its rank is the teleport term alone
    assert(pr(3L) == (scale / n) * 15 / 100)
    // integer division only loses mass; total can never exceed the start
    assert(pr.values.sum <= scale)
    // and the chain's interior node (degree 2) outranks its endpoints
    assert(pr(1L) > pr(0L) && pr(1L) > pr(2L))
  }

  test("rank is invariant to node relabeling (arithmetic depends on structure only)") {
    val a = rank(Seq(0L, 1L, 2L), Seq((0L, 1L), (1L, 2L)))
    val b = rank(Seq(10L, 11L, 12L), Seq((10L, 11L), (11L, 12L)))
    assert(a(0L) == b(10L) && a(1L) == b(11L) && a(2L) == b(12L))
  }

  test("at-scale layout width (nP > 1): same ranks, no Exchange/Sort on the loop's edge side") {
    import spark.implicits._
    val nodes = 0L until 12L
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L), (1L, 2L), (3L, 4L), (4L, 5L),
      (5L, 6L), (6L, 7L), (8L, 9L), (9L, 10L))
    // two widths: the default (the two-partition floor, narrower than the
    // session's 4 shuffle partitions) and a low rows-per-partition target
    // that derives the full session width, the branch a large graph takes
    def ranksAndShape(rowsPerPartition: Option[String]) = {
      rowsPerPartition.foreach(spark.conf.set("spark.graft.layoutRowsPerPartition", _))
      val prev = Seq("spark.sql.autoBroadcastJoinThreshold", "spark.sql.adaptive.enabled")
        .map(k => k -> spark.conf.get(k))
      try {
        val ranks = graft.operators.TextOps.pageRankOnGraph(nodes.toDF("doc_id"), pairs.toDF("d1", "d2"))
        val got = ranks.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
        // plan the SAME frozen leaves again with AQE/broadcast off, so every
        // iteration join is a sort-merge join whose sides show exactly what
        // EnsureRequirements adds (the EagerSpec layout-test discipline)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.adaptive.enabled", "false")
        val plan = ranks.select(ranks.columns.map(col): _*).queryExecution.executedPlan
        (got, FrozenLayout.layoutSides(plan)(FrozenLayout.scanOf("src", "dst", "deg")), plan)
      } finally {
        spark.conf.unset("spark.graft.layoutRowsPerPartition")
        prev.foreach { case (k, v) => spark.conf.set(k, v) }
      }
    }
    assert(graft.plans.Eager.joinLayoutPartitions(spark, 2L * pairs.size) == 2)
    val (atDefault, (sides2, moving2), plan2) = ranksAndShape(None)
    val (atScale, (sides4, moving4), plan4) = ranksAndShape(Some("5"))
    assert(atScale == atDefault, "ranks must not depend on the layout width")
    assert(sides2 == 5 && sides4 == 5, s"expected the 5 iteration joins to read the edge layout:\n$plan2\n$plan4")
    assert(moving2 == 0, s"$moving2 iteration join(s) re-shuffle or re-sort the 2-wide edge side\n$plan2")
    assert(moving4 == 0, s"$moving4 iteration join(s) re-shuffle or re-sort the 4-wide edge side\n$plan4")
  }
}
