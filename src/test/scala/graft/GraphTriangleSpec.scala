package graft

import org.apache.spark.sql.functions._

/** Pins Graph.triangleCounts' two paths to each other: the single-task
  * CSR kernel (at or below the edge threshold) and the distributed
  * degree-ordered wedge plan (threshold 0) give identical per-node
  * triangle counts on a fixture that exercises every orientation case —
  * a clique (ties broken by id), a chain (no triangles), an isolated
  * edge, a hub node whose degree exceeds its neighbors', and two
  * triangles sharing an edge. */
class GraphTriangleSpec extends SparkSpecBase {

  test("local CSR triangle kernel == distributed wedge plan, exact") {
    import spark.implicits._
    val edges = Seq(
      // K4 on 1..4: every node in C(3,2)=3 triangles
      (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L),
      // chain 10-11-12-13: zero triangles
      (10L, 11L), (11L, 12L), (12L, 13L),
      // two triangles sharing edge (20,21)
      (20L, 21L), (20L, 22L), (21L, 22L), (20L, 23L), (21L, 23L),
      // hub 30 over leaves (degree skew, no closure)
      (30L, 31L), (30L, 32L), (30L, 33L), (30L, 34L),
      // isolated edge
      (40L, 41L))
      .toDF("u", "v")

    def counts(localThreshold: Long) = graft.operators.Graph
      .triangleCounts(edges, "u", "v", localThreshold)
      .collect().map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1)
    val localRes = counts(Long.MaxValue)
    val distRes = counts(0L)

    assert(localRes.toSeq == distRes.toSeq,
      s"local ${localRes.toSeq} != distributed ${distRes.toSeq}")
    // spot semantics: K4 corners carry 3 each, shared-edge nodes 2,
    // chain/hub/isolated nodes absent
    val m = localRes.toMap
    assert(Seq(1L, 2L, 3L, 4L).forall(m(_) == 3L))
    assert(m(20L) == 2L && m(21L) == 2L && m(22L) == 1L && m(23L) == 1L)
    assert(!m.contains(10L) && !m.contains(30L) && !m.contains(40L))
  }
}
