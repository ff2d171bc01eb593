package graft

import graft.operators.TextOps
import org.apache.spark.sql.functions._

/** Near-dup clustering (E-DEDUP decision stage): min-label propagation
  * must find true connected components — including multi-hop chains,
  * where a doc's canonical representative is only reachable transitively
  * (the case the per-pair LSH listing alone cannot decide). */
class ClusterSpec extends SparkSpec {

  private def cc(nodes: Seq[Long], pairs: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    TextOps.connectedComponents(
        nodes.toDF("doc_id"), pairs.toDF("d1", "d2"))
      .as[(Long, Long)].collect().toMap
  }

  test("multi-hop chain collapses to the component min; singletons self-label") {
    // chain 1-2-3-4 (diameter 3, needs >1 propagation round), pair 10-11,
    // isolated 20
    val got = cc(Seq(1L, 2L, 3L, 4L, 10L, 11L, 20L),
      Seq((1L, 2L), (2L, 3L), (3L, 4L), (10L, 11L)))
    assert(got == Map(1L -> 1L, 2L -> 1L, 3L -> 1L, 4L -> 1L,
      10L -> 10L, 11L -> 10L, 20L -> 20L))
  }

  test("empty nodes frame terminates with an empty result (fixpoint sum coalesces to 0)") {
    // sum() over zero rows is null; without the coalesce the fixpoint
    // comparison never succeeds and the propagation loop spins forever
    val got = cc(Seq.empty, Seq.empty)
    assert(got.isEmpty)
  }

  test("edgeless graph: every node is its own cluster") {
    val got = cc(Seq(5L, 6L, 7L), Seq.empty)
    assert(got == Map(5L -> 5L, 6L -> 6L, 7L -> 7L))
  }

  test("long chain converges in O(log d) rounds via the shortcut step") {
    import spark.implicits._
    // path graph 0-1-2-...-63: diameter 63. Neighbor propagation alone
    // needs ~63 rounds (each a full edge-join shuffle — the scale cost is
    // rounds x fact-exchange); the pointer-doubling shortcut closes it in
    // O(log d). The bound below (log2(64)=6, +4 slack for the seeded
    // first hop and the fixpoint-confirmation round) fails loudly if the
    // shortcut regresses to linear rounds.
    val n = 64
    val nodes = (0L until n.toLong).toDF("doc_id")
    val chain = (0L until (n - 1).toLong).map(i => (i, i + 1)).toDF("d1", "d2")
    val (labels, rounds) = TextOps.connectedComponentsWithRounds(nodes, chain)
    val got = labels.as[(Long, Long)].collect().toMap
    assert(got.size == n && got.values.forall(_ == 0L),
      s"all $n chain nodes must collapse to component min 0")
    assert(rounds <= 10, s"expected O(log d) convergence, took $rounds rounds")
  }

  test("dedup decisions: exactly one keeper per cluster, and it is the longest member") {
    import spark.implicits._
    val dec = TextOps.dedupDecisions(spark, sf)
      .as[(Long, Long, Long, Boolean)].collect()
    val chars = Tables.documents(spark, sf)
      .select("doc_id", "n_chars").as[(Long, Long)].collect().toMap
    dec.groupBy(_._2).foreach { case (cluster, members) =>
      val keepers = members.filter(_._4)
      assert(keepers.length == 1, s"cluster $cluster has ${keepers.length} keepers")
      val rep = keepers.head._1
      assert(members.forall(_._3 == rep), s"cluster $cluster members disagree on rep")
      val best = members.map(m => (chars(m._1), m._1)).sortBy(t => (-t._1, t._2)).head._2
      assert(rep == best, s"cluster $cluster rep $rep is not the longest member $best")
    }
  }

  test("recursive reachability agrees with a local BFS over the same pairs") {
    import spark.implicits._
    val pairs = TextOps.minhashLsh(spark, sf).as[(Long, Long)].collect()
    val adj = (pairs ++ pairs.map(_.swap)).groupBy(_._1)
      .view.mapValues(_.map(_._2).toSet).toMap
    val seeds = Tables.documents(spark, sf).select("doc_id").as[Long].collect()
      .filter(_ < 50).toSet
    val expect = seeds.toSeq.flatMap { s =>
      var frontier = Set(s); var seen = Map(s -> 0L)
      for (hop <- 1L to 3L) {
        frontier = frontier.flatMap(d => adj.getOrElse(d, Set.empty)) -- seen.keySet
        seen ++= frontier.map(_ -> hop)
      }
      seen.map { case (d, h) => (s, d, h) }
    }.sortBy(t => (t._1, t._2))
    val got = TextOps.reachable(spark, sf)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got == expect)
  }

  test("randomized graphs: CC labels match a local union-find (seeded, 5 shapes)") {
    // Deterministic seeded generator — five graph shapes the fixture
    // cannot produce: sparse random, two dense blobs, a long chain with
    // chords, a star forest, and a near-clique. Ground truth is a plain
    // union-find run locally.
    val rnd = new scala.util.Random(42)
    def unionFind(n: Int, edges: Seq[(Long, Long)]): Map[Long, Long] = {
      val parent = Array.tabulate(n)(identity)
      def find(x: Int): Int = { var r = x; while (parent(r) != r) r = parent(r)
        var c = x; while (parent(c) != c) { val nx = parent(c); parent(c) = r; c = nx }; r }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a.toInt), find(b.toInt))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      (0 until n).map(i => i.toLong -> find(i).toLong).toMap
    }
    val shapes: Seq[(Int, Seq[(Long, Long)])] = Seq(
      (40, Seq.fill(25)((rnd.nextInt(40).toLong, rnd.nextInt(40).toLong))
        .filter(p => p._1 != p._2)),
      (30, (0 until 60).map(_ => (rnd.nextInt(15).toLong, rnd.nextInt(15).toLong))
        .filter(p => p._1 != p._2)
        ++ (0 until 60).map(_ => (15L + rnd.nextInt(15), 15L + rnd.nextInt(15)))
        .filter(p => p._1 != p._2)),
      (50, (0L until 49L).map(i => (i, i + 1)) ++ Seq((0L, 25L), (10L, 40L))),
      (36, (0 until 6).flatMap(h => (1 to 5).map(s => (h * 6L, h * 6L + s)))),
      (12, (for (i <- 0 until 12; j <- i + 1 until 12 if rnd.nextDouble() < 0.6)
        yield (i.toLong, j.toLong)).toSeq))
    import spark.implicits._
    shapes.zipWithIndex.foreach { case ((n, edges), i) =>
      val got = TextOps.connectedComponents(
          (0L until n.toLong).toDF("doc_id"), edges.toDF("d1", "d2"))
        .as[(Long, Long)].collect().toMap
      assert(got == unionFind(n, edges), s"shape $i diverged from union-find")
    }
  }

  test("q_neardup_clusters on the fixture: labels cover all docs, respect the LSH pairs") {
    import spark.implicits._
    val labels = TextOps.nearDupClusters(spark, sf)
      .as[(Long, Long)].collect().toMap
    val docs = Tables.documents(spark, sf).select("doc_id").as[Long].collect()
    assert(labels.keySet == docs.toSet)
    // every LSH pair must land in the same cluster
    val pairs = TextOps.minhashLsh(spark, sf).as[(Long, Long)].collect()
    pairs.foreach { case (d1, d2) =>
      assert(labels(d1) == labels(d2), s"pair ($d1,$d2) split across clusters")
    }
    // a cluster's label is a member of the cluster and its minimum
    labels.groupBy(_._2).foreach { case (label, members) =>
      assert(members.keySet.min == label)
    }
  }

  test("at-scale layout width (nP > 1): same labels, no Exchange/Sort on a round's edge side") {
    import spark.implicits._
    import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
    // chains of diameter 9 and 7 (several rounds), a star, singletons
    val nodes = 0L until 40L
    val pairs = (0L until 9L).map(i => (i, i + 1)) ++
      (10L until 17L).map(i => (i + 1, i)) ++ (21L to 26L).map(i => (20L, i))
    // every round is frozen inside the loop, so its join plans are read
    // off the freeze executions themselves; broadcast off keeps the round
    // joins sort-merge joins, whose sides show any Exchange/Sort
    // EnsureRequirements adds (AQE stays ON)
    def run(rowsPerPartition: Option[String]) = {
      val plans = java.util.Collections.synchronizedList(new java.util.ArrayList[SparkPlan]())
      val listener = new org.apache.spark.sql.util.QueryExecutionListener {
        override def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit = plans.add(qe.executedPlan)
        override def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
      }
      val prevBc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      rowsPerPartition.foreach(spark.conf.set("spark.graft.layoutRowsPerPartition", _))
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      spark.listenerManager.register(listener)
      try {
        val (labels, rounds) = TextOps.connectedComponentsWithRounds(
          nodes.toDF("doc_id"), pairs.toDF("d1", "d2"))
        val got = labels.as[(Long, Long)].collect().toMap
        org.apache.spark.GraftTestAccess.drainListenerBus(spark.sparkContext)
        val shapes = plans.toArray(Array.empty[SparkPlan])
          .map(p => p -> FrozenLayout.layoutSides(p)(FrozenLayout.scanOf("src", "dst")))
        val sides = shapes.map(_._2._1).sum
        assert(sides >= rounds, s"expected one edge-side join per round ($rounds), saw $sides")
        val moving = shapes.filter(_._2._2 > 0).map(_._1)
        assert(moving.isEmpty, s"a round re-exchanges or re-sorts the edge layout " +
          s"(target ${rowsPerPartition.getOrElse("default")}):\n" + moving.mkString("\n"))
        got
      } finally {
        spark.listenerManager.unregister(listener)
        spark.conf.unset("spark.graft.layoutRowsPerPartition")
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevBc)
      }
    }
    // the default width is the two-partition floor (narrower than the
    // session's 4 shuffle partitions); target 13 derives the full 4, the
    // branch a large graph takes
    assert(graft.plans.Eager.joinLayoutPartitions(spark, 2L * pairs.size) == 2)
    val atDefault = run(None)
    assert(atDefault == cc(nodes, pairs))
    assert(run(Some("13")) == atDefault, "labels must not depend on the layout width")
  }
}
