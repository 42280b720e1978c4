package graft

import graft.operators.Graph
import org.apache.spark.sql.functions._

class GraphSpec extends SparkSpecBase {

  /** Run BOTH execution paths — the single-task union-find finish
    * (default threshold) and the distributed label-propagation loop
    * (threshold 0) — and pin that they agree before returning. Every
    * case in this spec therefore checks path-equivalence for free. */
  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] = {
    import spark.implicits._
    val local = Graph.connectedComponents(edges.toDF("src", "dst"), "src", "dst")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val looped = Graph.connectedComponents(edges.toDF("src", "dst"), "src", "dst",
        localThreshold = 0L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(local == looped,
      "single-task union-find and distributed loop disagree")
    local
  }

  test("chain A~B~C collapses into one component (the greedy-rule gap)") {
    // Pair-level dedup alone cannot see that 1 and 3 are transitive dups.
    assert(cc(Seq((1L, 2L), (2L, 3L))) ==
      Map(1L -> 1L, 2L -> 1L, 3L -> 1L))
  }

  test("separate components keep separate labels; cycles converge") {
    val got = cc(Seq(
      (10L, 11L), (11L, 12L), (12L, 10L), // a triangle
      (20L, 21L),                         // a pair
      (30L, 31L), (32L, 31L), (33L, 32L), (34L, 33L))) // a 5-chain
    assert(got == Map(
      10L -> 10L, 11L -> 10L, 12L -> 10L,
      20L -> 20L, 21L -> 20L,
      30L -> 30L, 31L -> 30L, 32L -> 30L, 33L -> 30L, 34L -> 30L))
  }

  test("long path converges within the round bound (path halving)") {
    // A 64-node path has diameter 63; plain one-hop propagation would
    // need ~63 rounds and trip maxIters=25 — halving must compress it.
    val edges = (0L until 63L).map(i => (i, i + 1))
    val got = cc(edges)
    assert(got.size == 64 && got.values.forall(_ == 0L))
  }

  test("direction and duplicate edges are irrelevant; singletons absent") {
    val got = cc(Seq((5L, 4L), (4L, 5L), (5L, 4L)))
    assert(got == Map(4L -> 4L, 5L -> 4L))
  }

  test("gr1 integer PageRank: deterministic, bounded below, hub-ordered") {
    def run() = SparkEntry.queries("gr1_pagerank")(spark, sfDir).collect().toSeq
    val a = run()
    assert(a.size == 20)
    // integer arithmetic => re-running cannot drift by summation order
    assert(a == run())
    // every rank carries at least the damping base (0.15 in 1e-12 units)
    assert(a.forall(_.getAs[Long]("rank_e12") >= 150000000000L))
    // emitted in strict descending rank order
    val ranks = a.map(_.getAs[Long]("rank_e12"))
    assert(ranks == ranks.sortBy(-_))
    // on the bipartite trading graph suppliers are the hubs (each trades
    // with many customers), so the top of the ranking is supplier-heavy
    assert(a.take(5).forall(_.getAs[String]("node_kind") == "supplier"))
  }

  test("repeated graph queries release their storage (no accumulation)") {
    // The gr pack materializes its dimension-sized result eagerly, then
    // unpersists every query-local cache and checkpoint; after the caller
    // releases the returned frame, none of the RDDs its jobs persisted
    // may still be persisted — in a long-lived session, re-running graph
    // analytics must not grow by one edge table per invocation. The probe
    // holds every such RDD strongly, so a dropped-but-unreleased one is
    // counted rather than collected by GC, and counts only the query's
    // own jobs, so the suites running concurrently add no noise.
    // Each graph query is measured on its own, so a leak in one kernel's
    // branch is not diluted by the others' runs; a leak of one RDD per
    // run reaches `runs`.
    val runs = 6
    for (q <- Seq("gr1_pagerank", "gr5_kcore", "gr2_triangles",
        "gr3_bfs_hops", "gr6_bfs_fixpoint", "gr7_sssp_fixpoint",
        "gr8_kcore_fixpoint")) {
      val retained = (1 to runs).map(_ =>
        GraphStorageProbe.observe(spark)(SparkEntry.queries(q)(spark, sfDir))
          .retained).sum
      assert(retained < runs,
        s"$q left $retained persisted RDDs over $runs runs")
    }
  }
}
