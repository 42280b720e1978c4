package graft.operators

import org.apache.spark.sql.{DataFrame, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/** Iterative graph primitives over edge DataFrames.
  *
  * The near-dup pipeline needs one: connected components over the
  * LSH-candidate pair graph (d4's output), so that transitive duplicate
  * chains A~B~C collapse into ONE cluster even when A≁C directly —
  * the case the greedy drop-the-greater-id rule gets wrong
  * ([[CorpusCuration]]'s documented approximation). The gr query pack
  * adds k-core peeling, SSSP/BFS, integer PageRank and triangle counts.
  *
  * Every kernel runs through ONE hybrid driver ([[hybrid]]): the count()
  * that materializes the kernel's persisted edge table also picks the
  * path. A graph that fits one task runs there, as flat-array code over
  * one dense-id/CSR packing ([[Packed]]); a bigger one runs the kernel's
  * distributed loop, where each round shuffles the edge table once (hash
  * on vertex id) — no driver-side adjacency anywhere. The only
  * driver-side values are per-round scalars (changed counts, removal
  * counts, a max delta) that decide convergence.
  *
  * CC's loop is label propagation as (join + min-aggregate), the CC-MR /
  * large-star family of MapReduce CC algorithms; a path-halving pointer
  * jump (labels joined to themselves) compresses chains so convergence
  * takes O(log diameter) rounds, not O(diameter). Near-dup clusters are
  * shallow, so rounds stay single-digit at any data size.
  */
object Graph {

  /** Edge-count bound under which the whole component structure is
    * resolved in ONE executor task instead of the iterative loop. This is
    * the standard two-phase shape of production CC (GraphFrames, CC-MR):
    * contract/propagate distributedly while the graph is big, finish
    * locally the moment it fits a single task — every further distributed
    * round costs a fixed number of shuffle stages that dwarf the actual
    * work on a small remainder (measured here: the d10 pair graph is a
    * few thousand edges, and ~5 loop rounds cost ~6 s of pure stage
    * overhead vs ~0.2 s for the single-task union-find). 16M edges ≈
    * 400 MB through the coalesce(1) — one task, far below executor
    * memory; the crossover was re-measured on the r10 sf10 corpus
    * (13.8M-edge pair graph: distributed CC 37 s vs 9 s local including
    * the move, after the local kernels went CSR — flat arrays, no boxed
    * sets). At real cluster scale a pair graph past this bound runs the
    * distributed rounds regardless; the threshold only decides where
    * "small remainder" ends. */
  private val localFinishEdges = 16000000L

  /** SSSP/BFS keep a LOWER local-finish bound than CC/peel: their
    * bounded-round form runs only ~3 distributed rounds with a
    * broadcast-sized frontier (cheap), so funneling a 10M-edge graph
    * through coalesce(1) loses to the loop (measured on the r10 sf10
    * co-supplier graph: gr3 37.8 s distributed vs 48.4 s local). CC and
    * the peel run more full-table rounds per invocation, which is where
    * the single-task finish pays off at higher edge counts. */
  private val ssspLocalEdges = 2000000L

  /** Edge-count bound under which per-node triangle counting runs in ONE
    * executor task. The distributed plan is 5 shuffle stages (degree
    * agg, two orientation joins, the wedge self-join, the closing join,
    * the corner rollup) — ~4 s of pure stage overhead on a 5k-edge pair
    * graph at sf0.1, where the CSR kernel does the same arithmetic in
    * milliseconds. 2M edges ≈ 50 MB through coalesce(1); intersection
    * work is output-bound (Σ wedge-closures — clique-shaped near-dup
    * graphs keep it ~linear in edges). Past the bound the wedge join runs
    * distributed — the sf10 pair graph (13.8M edges) stays on that path. */
  private val triangleLocalEdges = 2000000L

  /** Node-count bound under which the per-round node-sized table
    * (frontier / rank vector) is BROADCAST instead of co-partitioning
    * the edge table up front. 2M (node, long) rows ≈ 32 MB serialized —
    * comfortably broadcastable on any executor sizing — and the win is
    * one full edge-table exchange avoided per driver invocation (the
    * dominant fixed cost when the graph's node set is dimension-derived:
    * suppliers, documents — which stays bounded while edges grow with
    * the corpus). */
  private val broadcastNodeLimit = 2000000L

  // ---------------------------------------------------------------------
  // The hybrid driver and its shared pieces.
  // ---------------------------------------------------------------------

  /** The one execution shape of every kernel. `edges` is the kernel's
    * prepared edge table (columns `a`, `b`[, `w`]). It is persisted and
    * counted; that count both materializes it (a cost the first
    * distributed round would pay anyway) and picks the path:
    *   - at or below `localThreshold` edges, `local` (built on the driver
    *     after the count, so it may run driver-side jobs such as SSSP's
    *     default source) maps the long-cast edge rows of ONE coalesced
    *     partition to the (Long, Long) result rows, named `out`. NOT a
    *     driver collect: the kernel runs inside one executor task. The
    *     result is materialized NOW, while `edges` is still cached: the
    *     single-task plan runs under coalesce(1), so a lazy return would
    *     recompute the whole edge derivation single-threaded at first use
    *     (measured 20× on the sf1 near-dup pair graph);
    *   - above it, `distributed` runs the kernel's loop over the cached
    *     table and returns a result that no longer reads it (checkpointed
    *     or driver-side state), its intermediates already released.
    * Either way the edge table is unpersisted before returning. An empty
    * graph always takes the local path. */
  private def hybrid[E: Encoder](edges: DataFrame, localThreshold: Long,
                                 out: (String, String))(
      local: DataFrame => Iterator[E] => Iterator[(Long, Long)])(
      distributed: DataFrame => DataFrame): DataFrame = {
    val e = edges.persist(StorageLevel.MEMORY_AND_DISK)
    try {
      if (e.count() <= localThreshold) {
        val kernel = local(e)
        e.select(e.columns.map(c => col(c).cast("long")): _*).as[E]
          .coalesce(1)
          .mapPartitions(kernel)
          .toDF(out._1, out._2)
          .localCheckpoint()
      } else distributed(e)
    } finally e.unpersist()
  }

  private implicit val edgeRows: Encoder[(Long, Long)] =
    Encoders.product[(Long, Long)]
  private implicit val weightedEdgeRows: Encoder[(Long, Long, Long)] =
    Encoders.product[(Long, Long, Long)]

  /** The undirected edge set of `edges` as both directions (a, b). */
  private def symmetrize(edges: DataFrame, src: String, dst: String)
      : DataFrame =
    edges.select(col(src).as("a"), col(dst).as("b"))
      .union(edges.select(col(dst).as("a"), col(src).as("b")))

  /** Edge placement for the loops that join node-sized state to the edge
    * table every round (SSSP's frontier, PageRank's contributions). When
    * the state is broadcastable — the node set is dimension-derived
    * (co-supplier, co-purchase) and stays so at ANY corpus scale — the
    * per-round join broadcasts it and streams the cached edges where they
    * sit, so pre-shuffling the EDGE table would be a full wasted
    * exchange. Only a genuinely large node set (web-scale graphs)
    * justifies co-partitioning the edges on `a` once, so the per-round
    * shuffle falls on the state alone. Runs `loop` over the placed edges
    * and frees a repartitioned copy after it. */
  private def placed(e: DataFrame, broadcastState: Boolean)
                    (loop: DataFrame => DataFrame): DataFrame =
    if (broadcastState) loop(e)
    else {
      val p = e.repartition(col("a")).persist(StorageLevel.MEMORY_AND_DISK)
      p.count()
      e.unpersist()
      try loop(p) finally p.unpersist()
    }

  /** The dense-id/CSR packing behind the single-task kernels, over the
    * edges (a(i), b(i)). Node ids are numbered 0..n-1 in first-seen order
    * (edge by edge, source before destination, then `extra`), so every
    * later pass is flat Int-array arithmetic: a hash-map adjacency pays
    * ~3 probes per edge per ROUND (measured 17 s vs ~0.5 s for PageRank
    * on a 1.1M-edge graph), and the boxed-set peel it replaced went
    * quadratic in GC at ~14M edges (29 s vs ~3 s). */
  private final class Packed(a: Array[Long], b: Array[Long],
                             extra: Option[Long] = None) {
    val m: Int = a.length
    private val n2i = scala.collection.mutable.LongMap.empty[Int]
    private var seen = new Array[Long](16)
    private var seenN = 0
    private def idOf(x: Long): Int = n2i.getOrElseUpdate(x, {
      if (seenN == seen.length) seen = java.util.Arrays.copyOf(seen, 2 * seenN)
      seen(seenN) = x; seenN += 1; seenN - 1
    })
    val src = new Array[Int](m)
    val dst = new Array[Int](m)
    locally {
      var i = 0
      while (i < m) { src(i) = idOf(a(i)); dst(i) = idOf(b(i)); i += 1 }
    }
    val extraId: Int = extra.fold(-1)(idOf)
    val ids: Array[Long] = java.util.Arrays.copyOf(seen, seenN)
    val n: Int = ids.length

    /** CSR out-adjacency of the edges directed from(i) → to(i) (default:
      * as given): node u's slots are off(u) until off(u + 1), slot j
      * leads to tgt(j) along input edge edge(j); slots keep input order.
      * @return (off, tgt, edge) */
    def csr(from: Array[Int] = src, to: Array[Int] = dst)
        : (Array[Int], Array[Int], Array[Int]) = {
      val off = new Array[Int](n + 1)
      var i = 0
      while (i < m) { off(from(i) + 1) += 1; i += 1 }
      i = 0
      while (i < n) { off(i + 1) += off(i); i += 1 }
      val tgt = new Array[Int](m)
      val edge = new Array[Int](m)
      val pos = java.util.Arrays.copyOf(off, n)
      i = 0
      while (i < m) {
        val s = from(i); tgt(pos(s)) = to(i); edge(pos(s)) = i; pos(s) += 1
        i += 1
      }
      (off, tgt, edge)
    }
  }

  private object Packed {
    /** Packs the edge rows `it`, drained into flat arrays: no row array
      * of boxed tuples is kept. */
    def apply(it: Iterator[(Long, Long)]): Packed = {
      val (a, b) = (Array.newBuilder[Long], Array.newBuilder[Long])
      it.foreach { e => a += e._1; b += e._2 }
      new Packed(a.result(), b.result())
    }
  }

  private def notConverged(kernel: String, maxIters: Int) =
    new IllegalStateException(s"$kernel did not converge in $maxIters rounds")

  // ---------------------------------------------------------------------
  // Connected components.
  // ---------------------------------------------------------------------

  /** Connected components of the undirected graph given by `edges`:
    * one row per distinct vertex, labeled with the SMALLEST vertex id in
    * its component (deterministic, so oracle-comparable).
    *
    * @param edges    two-column edge list (undirected; direction ignored)
    * @param src      source-id column name
    * @param dst      dest-id column name
    * @param maxIters safety bound; convergence is typically ≤ 5 rounds
    *                 for near-dup graphs (diameter-shallow). Throws if
    *                 hit — a truncated labeling is a WRONG answer, never
    *                 a fallback.
    * @return DataFrame(id, component)
    */
  def connectedComponents(edges: DataFrame, src: String, dst: String,
                          maxIters: Int = 25,
                          localThreshold: Long = localFinishEdges): DataFrame =
    hybrid[(Long, Long)](symmetrize(edges, src, dst), localThreshold,
      ("id", "component"))(_ => unionFind)(ccRounds(_, maxIters))

  /** Single-task CC: union-find with path compression, min-id roots. */
  private def unionFind(it: Iterator[(Long, Long)]): Iterator[(Long, Long)] = {
    val parent = scala.collection.mutable.LongMap.empty[Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent.getOrElse(r, r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != c) {
        val nxt = parent.getOrElse(c, c); parent(c) = r; c = nxt
      }
      r
    }
    it.foreach { case (a, b) =>
      parent.getOrElseUpdate(a, a)
      parent.getOrElseUpdate(b, b)
      val (ra, rb) = (find(a), find(b))
      // min-id root keeps the final labels deterministic
      if (ra < rb) parent(rb) = ra else if (rb < ra) parent(ra) = rb
    }
    // materialize the key set first: find()'s path compression
    // mutates the map, which must not race the iteration
    val ids = parent.keys.toArray
    ids.iterator.map(id => (id, find(id)))
  }

  /** Distributed CC over the cached symmetrized table. Each round's labels
    * are localCheckpoint'ed, not just persisted: the loop builds plans on
    * top of the previous round's result, and without lineage truncation
    * the logical plan grows by one join-aggregate per round until
    * analysis itself overflows. Checkpointing keeps every round's plan a
    * constant two joins over materialized inputs. (Local checkpoints live
    * in executor storage; a production job that must survive executor
    * loss sets a checkpoint dir and uses reliable checkpoints — same
    * loop, different sink.) */
  private def ccRounds(sym: DataFrame, maxIters: Int): DataFrame = {
    var labels = sym.select(col("a").as("id")).distinct()
      .withColumn("component", col("id"))
      .localCheckpoint()

    var iter = 0
    var changed = 1L
    while (changed > 0) {
      iter += 1
      if (iter > maxIters) throw notConverged("connectedComponents", maxIters)

      // Hop: candidate label = min over {self} ∪ neighbor labels. The
      // previous label rides along as `old` so convergence is read off
      // the checkpointed result below — no extra join per round.
      val nbrMin = sym
        .join(labels.select(col("id").as("a"), col("component")), "a")
        .groupBy(col("b").as("id"))
        .agg(min(col("component")).as("nbr"))
      val hopped = labels.select(col("id"), col("component").as("old"))
        .join(nbrMin, Seq("id"), "left")
        .select(col("id"), col("old"),
          least(col("old"), coalesce(col("nbr"), col("old")))
            .as("component"))
        .persist() // both halving legs below read it

      // Path halving: component := component(component). Labels are ids,
      // so the pointer table IS the label table — one self-join
      // compresses two hops of any chain into one, giving the O(log)
      // round bound.
      val next = hopped.as("l")
        .join(hopped.select(col("id").as("component"),
          col("component").as("parent")).as("p"), Seq("component"), "left")
        .select(col("id"), col("l.old"),
          least(col("l.component"), coalesce(col("parent"), col("l.component")))
            .as("component"))
        .withColumn("_chg", col("component") =!= col("old"))
        .localCheckpoint()

      changed = next.filter(col("_chg")).count()
      hopped.unpersist()
      // `next` is materialized (and lineage-truncated) by the count above,
      // so the previous round's checkpointed labels are dead — release
      // their executor storage now, or repeated CC queries in one session
      // accumulate one round's worth of blocks per iteration. Dataset
      // .unpersist() can't do this (localCheckpoint storage is RDD-level,
      // invisible to the CacheManager), hence [[release]].
      release(labels)
      labels = next.select("id", "component")
    }
    labels
  }

  // ---------------------------------------------------------------------
  // Triangle counts.
  // ---------------------------------------------------------------------

  /** Per-node triangle counts over an undirected simple edge list (each
    * edge once, u ≠ v, no parallel edges — d4's pair contract): one row
    * (node, triangles) per node in ≥ 1 triangle. Both paths orient each
    * edge toward the (degree, id)-larger endpoint, count each triangle
    * once at its order-minimal wedge and credit all three corners, so
    * they agree bit-for-bit: at or below `localThreshold` edges a CSR
    * merge-intersection in ONE task, above it [[triangleWedges]]. */
  def triangleCounts(pairs: DataFrame, src: String, dst: String,
                     localThreshold: Long = triangleLocalEdges): DataFrame =
    hybrid[(Long, Long)](pairs.select(col(src).as("a"), col(dst).as("b")),
      localThreshold, ("node", "triangles"))(_ => triangleLocal) { p =>
      val (perNode, cached) = triangleWedges(p, "a", "b")
      val out = perNode.localCheckpoint()
      cached.foreach(_.unpersist())
      out
    }

  /** The distributed degree-ordered wedge plan, lazy: (node, triangles)
    * plus the intermediates it persists (`oriented`, `tris`), for the
    * caller to release once the result is materialized. The naive wedge
    * join (adjacency ⋈ adjacency on the shared endpoint) explodes
    * quadratically on hub nodes; under the total order (degree, id)
    * every node's OUT-degree is bounded by O(sqrt(edges)) regardless of
    * its real degree, so the wedge join fans out by arboricity, not by
    * hub size. Each triangle {a,b,c} is counted exactly once, as the
    * wedge at its order-minimal vertex closed by the oriented edge b→c.
    * Also read unmaterialized by the gr2 plan dumps and plan-shape spec. */
  private[graft] def triangleWedges(pairs: DataFrame, src: String,
                                    dst: String): (DataFrame, Seq[DataFrame]) = {
    val uv = pairs.select(col(src).as("u"), col(dst).as("v"))
    val deg = uv.select(col("u").as("n"))
      .unionByName(uv.select(col("v").as("n")))
      .groupBy("n").agg(count(lit(1)).as("d"))
    // Orient u—v toward the (degree, id)-larger endpoint; carry the
    // destination's order key so the wedge join can canonicalize the
    // closing edge without re-joining degrees.
    val du = deg.select(col("n").as("u"), col("d").as("du"))
    val dv = deg.select(col("n").as("v"), col("d").as("dv"))
    val oriented = uv.join(du, "u").join(dv, "v")
      .select(
        when(col("du") < col("dv") ||
             (col("du") === col("dv") && col("u") < col("v")),
          struct(col("u").as("src"), col("v").as("dst"),
                 col("dv").as("ddeg")))
          .otherwise(
            struct(col("v").as("src"), col("u").as("dst"),
                   col("du").as("ddeg"))).as("e"))
      .select(col("e.src"), col("e.dst"), col("e.ddeg"))
      .persist()
    val e1 = oriented.select(col("src").as("wsrc"), col("dst").as("b"),
      col("ddeg").as("bd"))
    val e2 = oriented.select(col("src").as("wsrc"), col("dst").as("c"),
      col("ddeg").as("cd"))
    val wedges = e1.join(e2, Seq("wsrc"))
      .where(col("bd") < col("cd") ||
        (col("bd") === col("cd") && col("b") < col("c")))
      .select(col("wsrc").as("a"), col("b"), col("c"))
    val close = oriented.select(col("src").as("b"), col("dst").as("c"))
    val tris = wedges.join(close, Seq("b", "c")).persist()
    val perNode = tris.select(col("a").as("node"))
      .unionByName(tris.select(col("b").as("node")))
      .unionByName(tris.select(col("c").as("node")))
      .groupBy("node").agg(count(lit(1)).as("triangles"))
    (perNode, Seq(oriented, tris))
  }

  /** Single-task triangle counts: the wedge plan's arithmetic over a CSR
    * of the degree-oriented edges. */
  private def triangleLocal(it: Iterator[(Long, Long)])
      : Iterator[(Long, Long)] = {
    val g = Packed(it)
    import g.{m, n, ids, src, dst}
    val deg = new Array[Int](n)
    var i = 0
    while (i < m) { deg(src(i)) += 1; deg(dst(i)) += 1; i += 1 }
    // orientation under the total order (degree, id) — the same
    // tie-break as the wedge plan's (du, u) < (dv, v)
    def less(a: Int, b: Int): Boolean =
      deg(a) < deg(b) || (deg(a) == deg(b) && ids(a) < ids(b))
    val lo = new Array[Int](m)
    val hi = new Array[Int](m)
    i = 0
    while (i < m) {
      if (less(src(i), dst(i))) { lo(i) = src(i); hi(i) = dst(i) }
      else { lo(i) = dst(i); hi(i) = src(i) }
      i += 1
    }
    val (off, adj, _) = g.csr(lo, hi)
    i = 0
    while (i < n) { java.util.Arrays.sort(adj, off(i), off(i + 1)); i += 1 }
    // every triangle {a,b,c} with a→b, a→c, b→c appears exactly once:
    // as the sorted-merge intersection hit c of the oriented edge
    // (a, b); each corner gets the credit (the rollup the wedge plan
    // does over its tris table)
    val cnt = new Array[Long](n)
    var u = 0
    while (u < n) {
      var p = off(u)
      while (p < off(u + 1)) {
        val v = adj(p)
        var x = off(u); var y = off(v)
        while (x < off(u + 1) && y < off(v + 1)) {
          val a = adj(x); val b = adj(y)
          if (a == b) {
            cnt(u) += 1; cnt(v) += 1; cnt(a) += 1; x += 1; y += 1
          } else if (a < b) x += 1
          else y += 1
        }
        p += 1
      }
      u += 1
    }
    (0 until n).iterator.collect { case v if cnt(v) > 0 => (ids(v), cnt(v)) }
  }

  // ---------------------------------------------------------------------
  // Round-bounded and run-to-FIXPOINT kernels. The bounded forms (the gr
  // query pack's 3-round unrolls) exist for exact SQL oracles; a
  // production caller asks for "the" k-core/BFS/SSSP/PageRank, i.e. the
  // converged answer. Each runs through [[hybrid]]; the distributed loop
  // is one hash join + one associative min/sum aggregate per round,
  // localCheckpoint-truncated lineage, superseded state released as soon
  // as its successor materializes. Termination is DETECTED (changed-count
  // = 0 / nobody removed / max-delta ≤ tol), with a maxIters throw — a
  // truncated answer is a WRONG answer, never a fallback. All arithmetic
  // is integer (counts, min-plus, integer-unit ranks), so both paths —
  // and any cluster layout — produce bit-identical results.
  // ---------------------------------------------------------------------

  /** k-core peel: rounds of "drop every node whose current degree is
    * < k" over the undirected graph, reporting (round, n_nodes removed)
    * rows and then the surviving core size under round = -1.
    *
    * With `rounds = Some(r)` it runs exactly r rounds and reports every
    * one, trailing zero-removal rounds included (the gr5 oracle's
    * unroll). With `rounds = None` it runs until a round removes NOBODY —
    * the true k-core — and reports rounds 1..T, T the LAST round that
    * removed anyone (no round rows if the graph already is a k-core).
    * @return DataFrame(round: long, n_nodes: long) */
  def kCore(edges: DataFrame, src: String, dst: String, k: Int,
            rounds: Option[Int] = None,
            maxIters: Int = 200,
            localThreshold: Long = localFinishEdges): DataFrame = {
    // rounds = 0 would report no round at all — reject it instead
    rounds.foreach(r => require(r >= 1, s"kCore needs rounds >= 1, got $r"))
    hybrid[(Long, Long)](symmetrize(edges, src, dst), localThreshold,
      ("round", "n_nodes"))(_ => peelLocal(_, k, rounds, maxIters))(
      peelRounds(_, k, rounds, maxIters))
  }

  /** Single-task peel: each round is two array sweeps (degree count over
    * alive edges, then the removal scan) — the batch semantics of the
    * distributed rounds. */
  private def peelLocal(it: Iterator[(Long, Long)], k: Int,
                        rounds: Option[Int], maxIters: Int)
      : Iterator[(Long, Long)] = {
    val g = Packed(it)
    val (off, tgt, _) = g.csr()
    val n = g.n
    val alive = Array.fill(n)(true)
    val deg = new Array[Long](n)
    var nAlive = n.toLong
    val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var r = 0
    var removed = -1L
    while (rounds.fold(removed != 0L)(r < _)) {
      r += 1
      if (rounds.isEmpty && r > maxIters) throw notConverged("kCore", maxIters)
      java.util.Arrays.fill(deg, 0L)
      var u = 0
      while (u < n) {
        if (alive(u)) {
          var j = off(u)
          while (j < off(u + 1)) { if (alive(tgt(j))) deg(u) += 1L; j += 1 }
        }
        u += 1
      }
      removed = 0L
      u = 0
      while (u < n) {
        if (alive(u) && deg(u) < k) { alive(u) = false; removed += 1L }
        u += 1
      }
      nAlive -= removed
      if (rounds.isDefined || removed > 0L) res += ((r.toLong, removed))
    }
    res += ((-1L, nAlive))
    res.iterator
  }

  /** Distributed peel: per round one degree aggregate + two semi-joins on
    * the shrinking edge set, localCheckpoint-truncated, with the removal
    * count taken eagerly (two counts of checkpointed node sets). */
  private def peelRounds(sym: DataFrame, k: Int, rounds: Option[Int],
                         maxIters: Int): DataFrame = {
    var cur = sym.select(col("a").as("src"), col("b").as("dst"))
      .localCheckpoint()
    var nodes = cur.select(col("src").as("node")).distinct()
      .localCheckpoint()
    var nNodes = nodes.count()
    val res = scala.collection.mutable.ArrayBuffer.empty[(Long, Long)]
    var r = 0
    var removed = -1L
    while (rounds.fold(removed != 0L)(r < _)) {
      r += 1
      if (rounds.isEmpty && r > maxIters) throw notConverged("kCore", maxIters)
      val deg = cur.groupBy("src").agg(count(lit(1)).as("d"))
      val kept = nodes
        .join(deg.where(col("d") >= k),
          nodes("node") === deg("src"), "left_semi")
        .localCheckpoint()
      val nKept = kept.count()
      removed = nNodes - nKept
      if (rounds.isDefined || removed > 0L) res += ((r.toLong, removed))
      if (removed > 0L) {
        val nextCur = cur
          .join(kept, cur("src") === kept("node"), "left_semi")
          .join(kept.select(col("node").as("kn")),
            col("dst") === col("kn"), "left_semi")
          .localCheckpoint()
        // the superseded edge table is reachable from nothing the caller
        // sees: free it the moment its successor is materialized, or
        // every invocation leaks ~rounds full edge tables
        release(cur)
        cur = nextCur
      }
      release(nodes)
      nodes = kept
      nNodes = nKept
    }
    release(cur)
    release(nodes)
    sym.sparkSession.createDataset((res :+ ((-1L, nNodes))).toSeq)
      .toDF("round", "n_nodes")
  }

  /** Single-source shortest distances — min-plus frontier relaxation
    * (Bellman–Ford with a frontier: each round relaxes only edges out
    * of nodes whose distance improved last round). BFS hop distance is
    * the `weight = None` special case.
    *
    * With `rounds = None` the loop runs to FIXPOINT (terminates when a
    * round improves nothing; maxIters throw). With `rounds = Some(k)`
    * it runs exactly k rounds (or until the frontier empties): after k
    * frontier rounds dist(v) = min over ≤ k-edge paths — precisely the
    * bounded-unroll semantics of the gr3/gr4 oracles, so those queries
    * route through here and inherit the hybrid local finish (the
    * distributed unroll costs ~2 stages/round of pure overhead on a
    * dimension-sized graph; measured 7-12 s vs ~2 s at sf0.1).
    *
    * @param edges    DIRECTED edge list (symmetrize first for an
    *                 undirected graph, as the gr3/gr4 queries do)
    * @param weight   optional positive integer weight column; None → 1
    * @param source   source node id; default = smallest src id
    * @return (node, dist) for every node REACHED within the round bound;
    *         nothing for an empty graph
    */
  def ssspFixpoint(edges: DataFrame, src: String, dst: String,
                   weight: Option[String] = None,
                   source: Option[Long] = None,
                   maxIters: Int = 200,
                   localThreshold: Long = ssspLocalEdges,
                   rounds: Option[Int] = None,
                   broadcastLimit: Long = broadcastNodeLimit): DataFrame = {
    val e = edges.select(col(src).cast("long").as("a"),
      col(dst).cast("long").as("b"),
      weight.fold(lit(1L))(w => col(w).cast("long")).as("w"))
    // min over an empty table is NULL: its 0 stands in, and the empty
    // graph reaches nothing from it
    def source0(p: DataFrame): Long = source.getOrElse(
      p.agg(coalesce(min(col("a")), lit(0L))).head().getLong(0))
    hybrid[(Long, Long, Long)](e, localThreshold, ("node", "dist")) { p =>
      val s0 = source0(p)
      ssspLocal(_, s0, rounds, maxIters)
    } { p =>
      // One HLL pass sizes the node set. Its ±~2-5% error could put a
      // node set slightly OVER the ceiling under it, so only estimates
      // the error band cannot push past the limit broadcast.
      val s0 = source0(p)
      val nNodesApprox =
        p.agg(approx_count_distinct(col("a")).as("n")).head().getLong(0)
      val bcastFrontier = nNodesApprox <= (0.9 * broadcastLimit).toLong
      placed(p, bcastFrontier)(
        ssspRounds(_, s0, rounds, maxIters, bcastFrontier))
    }
  }

  /** Single-task SSSP over the CSR. Batch-per-round updates (`nd` staging
    * array) preserve the bounded-round semantics exactly: after k rounds
    * dist = min over ≤ k-edge paths, no in-round cascading. */
  private def ssspLocal(it: Iterator[(Long, Long, Long)], s0: Long,
                        rounds: Option[Int], maxIters: Int)
      : Iterator[(Long, Long)] = {
    val (a, b, w) =
      (Array.newBuilder[Long], Array.newBuilder[Long], Array.newBuilder[Long])
    it.foreach { e => a += e._1; b += e._2; w += e._3 }
    val ws = w.result()
    if (ws.isEmpty) return Iterator.empty
    // s0 packed AFTER the edges: a caller-supplied source absent from the
    // edge set still gets a node slot, so (s0, 0) is emitted — the
    // distributed path's seed row behaves the same
    val g = new Packed(a.result(), b.result(), Some(s0))
    val (off, tgt, edge) = g.csr()
    val tw = edge.map(ws)
    val n = g.n
    val INF = Long.MaxValue
    val dist = Array.fill(n)(INF)
    val nd = Array.fill(n)(INF)
    var frontier = new Array[Int](n)
    var nextFrontier = new Array[Int](n)
    dist(g.extraId) = 0L; frontier(0) = g.extraId
    var fLen = 1
    val touched = new Array[Int](n)
    var iter = 0
    while (fLen > 0 && !rounds.contains(iter)) {
      iter += 1
      if (rounds.isEmpty && iter > maxIters)
        throw notConverged("ssspFixpoint", maxIters)
      var nTouched = 0
      var fi = 0
      while (fi < fLen) {
        val u = frontier(fi)
        val du = dist(u)
        var j = off(u)
        val end = off(u + 1)
        while (j < end) {
          val t = tgt(j)
          val cand = du + tw(j)
          if (cand < dist(t) && cand < nd(t)) {
            if (nd(t) == INF) { touched(nTouched) = t; nTouched += 1 }
            nd(t) = cand
          }
          j += 1
        }
        fi += 1
      }
      var nf = 0
      var ti = 0
      while (ti < nTouched) {
        val t = touched(ti)
        if (nd(t) < dist(t)) {
          dist(t) = nd(t); nextFrontier(nf) = t; nf += 1
        }
        nd(t) = INF
        ti += 1
      }
      val tmp = frontier; frontier = nextFrontier; nextFrontier = tmp
      fLen = nf
    }
    (0 until n).iterator.collect { case v if dist(v) != INF => (g.ids(v), dist(v)) }
  }

  /** Distributed SSSP: per round the frontier joins the placed edges, a
    * min aggregate relaxes, and a full-outer merge with the distance
    * table flags the improved nodes — the next frontier. */
  private def ssspRounds(eP: DataFrame, s0: Long, rounds: Option[Int],
                         maxIters: Int, bcastFrontier: Boolean): DataFrame = {
    var dist = eP.sparkSession.range(1)
      .select(lit(s0).as("node"), lit(0L).as("dist"))
      .localCheckpoint()
    var frontier = dist
    var iter = 0
    var changed = 1L
    while (changed > 0 && !rounds.contains(iter)) {
      iter += 1
      if (rounds.isEmpty && iter > maxIters)
        throw notConverged("ssspFixpoint", maxIters)
      val fSide = if (bcastFrontier) broadcast(frontier) else frontier
      val relax = fSide.join(eP, fSide("node") === eP("a"))
        .select(col("b").as("node"), (col("dist") + col("w")).as("nd"))
        .groupBy("node").agg(min(col("nd")).as("nd"))
      val merged = dist.select(col("node"), col("dist").as("old"))
        .join(relax, Seq("node"), "full_outer")
        .select(col("node"),
          coalesce(col("old"), lit(Long.MaxValue)).as("old"),
          least(coalesce(col("old"), col("nd")),
                coalesce(col("nd"), col("old"))).as("dist"))
        .withColumn("_chg", col("dist") < col("old"))
        .localCheckpoint()
      changed = merged.filter(col("_chg")).count()
      release(dist) // superseded distance table (frontier shares its RDD)
      dist = merged.select("node", "dist")
      frontier = merged.filter(col("_chg")).select("node", "dist")
    }
    dist
  }

  /** Integer-unit PageRank (the gr1 semantics: ranks in 1e-12 units,
    * floor-division contributions, damping 0.15/0.85) iterated until the
    * largest per-node change is ≤ `tolE12` units. Exact-equality
    * termination (tol = 0) is NOT offered: floor rounding can leave the
    * integer iteration cycling within a few units of the real fixpoint,
    * so a tolerance is the honest contract.
    *
    * With `rounds = Some(k)` the loop runs EXACTLY k damped rounds
    * (tolerance ignored, like [[ssspFixpoint]]'s bounded mode) — on a
    * symmetrized sink-free graph this is bit-identical to gr1's k-round
    * unrolled join formulation (every node has outdeg ≥ 1 and appears as
    * a dst, so the unroll's inner joins and this driver's
    * keep-all-nodes rounds rank the same node set; GraphFixpointSpec
    * pins it), which lets gr1 inherit the hybrid local finish.
    * @param edges DIRECTED edges; every node must have outdegree ≥ 1
    *              (the gr1 construction guarantees it by symmetrizing) */
  def pageRankFixpoint(edges: DataFrame, src: String, dst: String,
                       tolE12: Long = 1000L,
                       maxIters: Int = 500,
                       localThreshold: Long = localFinishEdges,
                       broadcastLimit: Long = broadcastNodeLimit,
                       rounds: Option[Int] = None): DataFrame = {
    // bounded mode runs exactly k rounds: disable the tolerance stop
    // (maxDelta ≥ 0 can never be ≤ -1) so an early near-convergence on a
    // small corpus cannot change the k-round result
    val tol = if (rounds.isDefined) -1L else tolE12
    hybrid[(Long, Long)](edges.select(col(src).cast("long").as("a"),
      col(dst).cast("long").as("b")), localThreshold, ("node", "rank_e12"))(
      _ => pageRankLocal(_, tol, rounds, maxIters)) { e =>
      // `deg` doubles as the exact node count for the placement
      val deg = e.groupBy("a").agg(count(lit(1)).as("outdeg"))
        .select(col("a").as("node"), col("outdeg"))
        .localCheckpoint()
      val bcastRanks = deg.count() <= broadcastLimit
      val out = placed(e, bcastRanks)(
        pageRankRounds(_, deg, tol, rounds, maxIters, bcastRanks))
      // `out` scans only the final ranks checkpoint, so the caller's
      // release(out) can never reach `deg`'s checkpoint blocks — free
      // them here or every invocation leaks one node-sized RDD
      release(deg)
      out
    }
  }

  private val unitE12 = 1000000000000L
  private val dampBaseE12 = 150000000000L

  /** Single-task PageRank over the CSR: Long floor-div contributions,
    * integer damping — the distributed rounds' arithmetic exactly. */
  private def pageRankLocal(it: Iterator[(Long, Long)], tol: Long,
                            rounds: Option[Int], maxIters: Int)
      : Iterator[(Long, Long)] = {
    val g = Packed(it)
    val (off, tgt, _) = g.csr()
    val n = g.n
    // ranks exist only for outdeg>0 nodes (the distributed path's
    // deg-derived node set); outdeg-0 slots are never read or emitted
    def outdeg(u: Int): Long = (off(u + 1) - off(u)).toLong
    var ranks = Array.fill(n)(unitE12)
    var next = new Array[Long](n)
    val sums = new Array[Long](n)
    var iter = 0
    var maxDelta = Long.MaxValue
    while (maxDelta > tol && !rounds.contains(iter)) {
      iter += 1
      if (rounds.isEmpty && iter > maxIters)
        throw notConverged("pageRankFixpoint", maxIters)
      java.util.Arrays.fill(sums, 0L)
      var u = 0
      while (u < n) {
        val d = outdeg(u)
        if (d > 0L) {
          val cpe = ranks(u) / d // all values positive
          var j = off(u)
          val end = off(u + 1)
          while (j < end) { sums(tgt(j)) += cpe; j += 1 }
        }
        u += 1
      }
      maxDelta = 0L
      var v = 0
      while (v < n) {
        if (outdeg(v) > 0L) {
          val nr = dampBaseE12 + (85L * sums(v)) / 100L
          val d = math.abs(nr - ranks(v))
          if (d > maxDelta) maxDelta = d
          next(v) = nr
        }
        v += 1
      }
      val t = ranks; ranks = next; next = t
    }
    val fr = ranks
    (0 until n).iterator.collect { case v if outdeg(v) > 0L => (g.ids(v), fr(v)) }
  }

  /** Distributed PageRank: per round the contributions join the placed
    * edges, an integer sum aggregates them per destination, and a
    * left-outer merge from the node set applies the damping. */
  private def pageRankRounds(eP: DataFrame, deg: DataFrame, tol: Long,
                             rounds: Option[Int], maxIters: Int,
                             bcastRanks: Boolean): DataFrame = {
    var ranks = deg.select(col("node"), lit(unitE12).as("r"))
      .localCheckpoint()
    var iter = 0
    var maxDelta = Long.MaxValue
    while (maxDelta > tol && !rounds.contains(iter)) {
      iter += 1
      if (rounds.isEmpty && iter > maxIters)
        throw notConverged("pageRankFixpoint", maxIters)
      val contrib = ranks.join(deg, "node")
        .select(col("node"), expr("r div outdeg").as("cpe"))
      val cSide = if (bcastRanks) broadcast(contrib) else contrib
      val sums = eP
        .join(cSide, eP("a") === cSide("node"))
        .groupBy(col("b"))
        .agg(sum(col("cpe")).as("sc"))
        .select(col("b").as("node"), col("sc"))
      // left-outer from the node set: a node with no in-edges keeps the
      // damping base (the local path's zero sum — paths must agree)
      val next = ranks.select(col("node"), col("r").as("old"))
        .join(sums, Seq("node"), "left_outer")
        .select(col("node"), col("old"),
          (lit(dampBaseE12) +
            expr("(85 * coalesce(sc, CAST(0 AS BIGINT))) div 100"))
            .as("nr"))
        .withColumn("_delta", abs(col("nr") - col("old")))
        .localCheckpoint()
      maxDelta = next.agg(max(col("_delta"))).head().getLong(0)
      release(ranks)
      ranks = next.select(col("node"), col("nr").as("r"))
    }
    ranks.select(col("node"), col("r").as("rank_e12"))
  }

  /** Free the executor storage behind any localCheckpoint leaves in `df`'s
    * plan. Kernel results are backed by a checkpointed RDD whose blocks
    * survive both `Dataset.unpersist()` and `spark.catalog.clearCache()`
    * (those only see CacheManager entries) — callers should invoke this
    * once the result has been consumed. Safe on any DataFrame:
    * non-checkpoint leaves are ignored. */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => ()
    }
}
