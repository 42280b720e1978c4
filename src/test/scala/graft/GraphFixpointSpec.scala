package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Run-to-fixpoint graph kernels (Graph.ssspFixpoint, whose unit-weight
  * case is BFS; Graph.kCore without a round bound; Graph.pageRankFixpoint)
  * against graphs that NEED more rounds than the gr query pack's bounded
  * 3-round unrolls — proving (a) the fixpoint equals the bounded unroll
  * once converged / a brute-force model, (b) termination is DETECTED
  * (changed-count = 0 / max-delta ≤ tol) rather than assumed, and (c) the
  * maxIters guard throws instead of returning a truncated answer.
  * Every case runs BOTH execution paths — the single-task local finish
  * and the distributed loop (localThreshold = 0) — and pins that they
  * agree bit-for-bit: the arithmetic is integer, so no layout may differ.
  */
class GraphFixpointSpec extends SparkSpecBase {

  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]): DataFrame = {
    val e = pairs.toDF("u", "v")
    e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
  }

  private def toMap(df: DataFrame): Map[Long, Long] =
    df.collect().map(r => r.getLong(0) -> r.getLong(1)).toMap

  test("BFS fixpoint covers a diameter-6 path the 3-round unroll cannot") {
    val edges = sym((0L until 6L).map(i => (i, i + 1)))
    val expected = (0L to 6L).map(i => i -> i).toMap // hop = node id
    val local = toMap(Graph.ssspFixpoint(edges, "src", "dst"))
    val looped = toMap(
      Graph.ssspFixpoint(edges, "src", "dst", localThreshold = 0L))
    assert(local == expected, s"local path: $local")
    assert(looped == expected, "local and distributed paths disagree")
    // the graph genuinely needs more than 3 rounds: a 3-round unroll
    // (gr3's bounded contract) leaves hops 4..6 unreached
    assert(expected.values.count(_ > 3) == 3)
    // truncation is an ERROR, never a silently wrong answer
    intercept[IllegalStateException] {
      Graph.ssspFixpoint(edges, "src", "dst", maxIters = 3,
        localThreshold = 0L)
    }
  }

  test("SSSP fixpoint: weighted relaxation beats the direct edge") {
    // 0-1-2-3 path (1+5+2 = 8) vs a direct 0-3 edge of weight 10: the
    // cheaper multi-hop route must win, which takes >1 relaxation round
    val e = Seq((0L, 1L, 1L), (1L, 2L, 5L), (2L, 3L, 2L), (0L, 3L, 10L))
      .toDF("u", "v", "w")
    val edges = e.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst"), col("w")))
    val expected = Map(0L -> 0L, 1L -> 1L, 2L -> 6L, 3L -> 8L)
    val local = toMap(
      Graph.ssspFixpoint(edges, "src", "dst", weight = Some("w")))
    val looped = toMap(Graph.ssspFixpoint(edges, "src", "dst",
      weight = Some("w"), localThreshold = 0L))
    // third execution shape: the distributed CO-PARTITION branch (node
    // set "too big" to broadcast — forced via broadcastLimit = 0) must
    // produce the identical integer answer as the broadcast branch
    val coPart = toMap(Graph.ssspFixpoint(edges, "src", "dst",
      weight = Some("w"), localThreshold = 0L, broadcastLimit = 0L))
    assert(local == expected, s"local path: $local")
    assert(looped == expected, "local and distributed paths disagree")
    assert(coPart == expected, "co-partition branch disagrees")
  }

  test("bounded rounds = min over ≤k-edge paths, on both paths") {
    // after 1 round the direct 0-3 edge (10) wins; the fixpoint's
    // cheaper 3-hop route (8) needs all 3 rounds — the gr3/gr4 contract
    val e = Seq((0L, 1L, 1L), (1L, 2L, 5L), (2L, 3L, 2L), (0L, 3L, 10L))
      .toDF("u", "v", "w")
    val edges = e.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst"), col("w")))
    def run(k: Int, thresh: Long) = toMap(Graph.ssspFixpoint(
      edges, "src", "dst", weight = Some("w"),
      localThreshold = thresh, rounds = Some(k)))
    val oneRound = Map(0L -> 0L, 1L -> 1L, 3L -> 10L)
    val converged = Map(0L -> 0L, 1L -> 1L, 2L -> 6L, 3L -> 8L)
    for (thresh <- Seq(Long.MaxValue, 0L)) {
      assert(run(1, thresh) == oneRound, s"k=1 thresh=$thresh")
      assert(run(3, thresh) == converged, s"k=3 thresh=$thresh")
    }
  }

  test("k-core fixpoint peels a 10-path in 5 rounds and matches the " +
       "bounded peel's converged prefix") {
    // kCore symmetrizes internally — pass raw pairs
    val edges = (0L until 9L).map(i => (i, i + 1)).toDF("src", "dst")
    // a path has no 2-core: endpoints (degree 1) die round after round —
    // 5 rounds of 2 removals each, then an empty core
    val expected = (1L to 5L).map(r => r -> 2L).toMap + (-1L -> 0L)
    val local = toMap(Graph.kCore(edges, "src", "dst", k = 2))
    val looped = toMap(Graph.kCore(edges, "src", "dst", k = 2,
      localThreshold = 0L))
    assert(local == expected, s"local path: $local")
    assert(looped == expected, "local and distributed paths disagree")
    // the fixpoint equals the bounded unroll once converged: a 7-round
    // kCore reports the same removals plus trailing zero-rounds
    val peel = toMap(
      Graph.kCore(edges, "src", "dst", k = 2, rounds = Some(7)))
    assert(peel.filter { case (r, n) => r == -1L || n != 0L } == expected)
    // and 3 bounded rounds were NOT enough (6 of 10 nodes still alive)
    val p3 = toMap(Graph.kCore(edges, "src", "dst", k = 2, rounds = Some(3)))
    assert(p3(-1L) == 4L)
  }

  test("k-core fixpoint detects an already-converged graph in one look") {
    val triangle = Seq((1L, 2L), (2L, 3L), (1L, 3L)).toDF("src", "dst")
    val expected = Map(-1L -> 3L) // no removal rounds at all
    assert(toMap(Graph.kCore(triangle, "src", "dst", k = 2))
      == expected)
    assert(toMap(Graph.kCore(triangle, "src", "dst", k = 2,
      localThreshold = 0L)) == expected)
  }

  /** The gr1 integer-PageRank update rule, iterated driver-side — the
    * independent model both execution paths must reproduce exactly. */
  private def prModel(adj: Map[Long, Seq[Long]], tol: Long)
      : (Map[Long, Long], Int) = {
    val unit = 1000000000000L
    val damp = 150000000000L
    var ranks = adj.keys.map(_ -> unit).toMap
    var iters = 0
    var maxDelta = Long.MaxValue
    while (maxDelta > tol) {
      iters += 1
      val sums = scala.collection.mutable.Map.empty[Long, Long]
        .withDefaultValue(0L)
      adj.foreach { case (n, outs) =>
        val cpe = ranks(n) / outs.size
        outs.foreach(m => sums(m) += cpe)
      }
      val next = adj.keys.map(n => n -> (damp + 85L * sums(n) / 100L)).toMap
      maxDelta = adj.keys.map(n => math.abs(next(n) - ranks(n))).max
      ranks = next
    }
    (ranks, iters)
  }

  test("PageRank fixpoint matches the integer model on both paths and " +
       "needs more than 3 rounds") {
    // star: center 0 ↔ leaves 1..3 — rank oscillates between center and
    // leaves, converging geometrically (many rounds, not a lucky 1)
    val pairs = Seq((0L, 1L), (0L, 2L), (0L, 3L))
    val adj: Map[Long, Seq[Long]] =
      Map(0L -> Seq(1L, 2L, 3L)) ++ (1L to 3L).map(l => l -> Seq(0L))
    val edges = sym(pairs)

    val (tight, tightIters) = prModel(adj, tol = 1000L)
    assert(tightIters > 3, s"star converged in $tightIters rounds")
    val local = toMap(Graph.pageRankFixpoint(edges, "src", "dst"))
    assert(local == tight, s"local != model: $local vs $tight")

    // the distributed loop runs the identical integer rule — verified at
    // a looser tolerance to keep the round count spec-friendly
    val (loose, looseIters) = prModel(adj, tol = 100000000000L)
    assert(looseIters > 3)
    val looped = toMap(Graph.pageRankFixpoint(edges, "src", "dst",
      tolE12 = 100000000000L, localThreshold = 0L))
    assert(looped == loose, s"distributed != model: $looped vs $loose")
    // and the co-partition branch (broadcastLimit = 0 forces the
    // pre-shuffled edge table + shuffled per-round contrib join)
    val coPart = toMap(Graph.pageRankFixpoint(edges, "src", "dst",
      tolE12 = 100000000000L, localThreshold = 0L, broadcastLimit = 0L))
    assert(coPart == loose, s"co-partition != model: $coPart vs $loose")
  }

  test("PageRank bounded rounds = gr1's unrolled joins, on both paths") {
    // random bipartite symmetric graph (the gr1 shape: sink-free, every
    // node appears as both src and dst)
    val rnd = new scala.util.Random(20260819L)
    val pairs = (1 to 150)
      .map(_ => (rnd.nextInt(30).toLong, 30L + rnd.nextInt(30))).distinct
    val edges = sym(pairs)

    // the pre-r13 unrolled-join formulation, verbatim
    val deg = edges.groupBy("src").agg(count(lit(1)).as("outdeg"))
    var ranks = deg.select(col("src").as("node"),
      lit(1000000000000L).as("r"))
    for (_ <- 1 to 3) {
      val contrib = ranks.join(deg, ranks("node") === deg("src"))
        .select(col("node"), expr("r div outdeg").as("cpe"))
      ranks = edges.join(contrib, edges("src") === contrib("node"))
        .groupBy(col("dst")).agg(sum(col("cpe")).as("sc"))
        .select(col("dst").as("node"),
          (lit(150000000000L) + expr("(85 * sc) div 100")).as("r"))
    }
    val ref = toMap(ranks)

    val local = toMap(Graph.pageRankFixpoint(edges, "src", "dst",
      rounds = Some(3)))
    assert(local == ref, s"local bounded != unrolled")
    val dist = toMap(Graph.pageRankFixpoint(edges, "src", "dst",
      rounds = Some(3), localThreshold = 0L))
    assert(dist == ref, s"distributed bounded != unrolled")
    // bounded mode must run exactly k rounds even when the tolerance
    // would already be met (tol is ignored): a huge tol must not change
    // the 3-round answer
    val hugeTol = toMap(Graph.pageRankFixpoint(edges, "src", "dst",
      tolE12 = Long.MaxValue / 2, rounds = Some(3)))
    assert(hugeTol == ref, s"bounded mode early-stopped on tolerance")
  }
}
