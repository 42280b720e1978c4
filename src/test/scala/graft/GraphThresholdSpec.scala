package graft

import graft.operators.Graph
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every graph kernel at its local-finish threshold ± 1. For each fixture
  * n is the edge count the hybrid driver counts — the symmetrized table
  * for CC and k-core, the given edge rows otherwise. At
  * `localThreshold = n` the single-task kernel must run, at n − 1 the
  * distributed loop, and both must return the same rows bit-for-bit.
  *
  * Which path ran is read off the jobs the call starts
  * ([[GraphStorageProbe]]). */
class GraphThresholdSpec extends SparkSpecBase {

  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]): DataFrame = {
    val e = pairs.toDF("u", "v")
    e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
  }

  /** The sorted rows of `run`, whether it ran the single-task kernel,
    * and how many persisted RDDs it left behind ([[GraphStorageProbe]]). */
  private def observe(run: => DataFrame): (Seq[(Long, Long)], Boolean, Int) = {
    val o = GraphStorageProbe.observe(spark)(run)
    (o.rows.map(r => (r.getLong(0), r.getLong(1))).sorted, o.singleTask,
      o.retained)
  }

  private val path6 = (0L until 6L).map(i => (i, i + 1))
  private val star = Seq((0L, 1L), (0L, 2L), (0L, 3L))
  // a triangle with a 2-edge tail: the 2-core peels the tail in 2 rounds
  private val tailedTriangle =
    Seq((1L, 2L), (2L, 3L), (1L, 3L), (3L, 4L), (4L, 5L))
  private def weighted = {
    val e = Seq((0L, 1L, 1L), (1L, 2L, 5L), (2L, 3L, 2L), (0L, 3L, 10L))
      .toDF("u", "v", "w")
    e.select(col("u").as("src"), col("v").as("dst"), col("w"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst"), col("w")))
  }
  private val triangles = Seq(
    (1L, 2L), (1L, 3L), (1L, 4L), (2L, 3L), (2L, 4L), (3L, 4L), // K4
    (20L, 21L), (20L, 22L), (21L, 22L), (30L, 31L))

  /** (kernel, n, the kernel run at a given local threshold). */
  private val kernels: Seq[(String, Long, Long => DataFrame)] = Seq(
    ("connectedComponents", 2L * (path6.size + star.size), t =>
      Graph.connectedComponents((path6 ++ star.map { case (a, b) =>
        (a + 10L, b + 10L) }).toDF("src", "dst"), "src", "dst",
        localThreshold = t)),
    ("kCore bounded", 2L * tailedTriangle.size, t =>
      Graph.kCore(tailedTriangle.toDF("src", "dst"), "src", "dst", k = 2,
        rounds = Some(3), localThreshold = t)),
    ("kCore fixpoint", 2L * tailedTriangle.size, t =>
      Graph.kCore(tailedTriangle.toDF("src", "dst"), "src", "dst", k = 2,
        localThreshold = t)),
    ("ssspFixpoint weighted", 8L, t =>
      Graph.ssspFixpoint(weighted, "src", "dst", weight = Some("w"),
        localThreshold = t)),
    ("ssspFixpoint unit", 2L * path6.size, t =>
      Graph.ssspFixpoint(sym(path6), "src", "dst", localThreshold = t)),
    ("pageRankFixpoint bounded", 2L * star.size, t =>
      Graph.pageRankFixpoint(sym(star), "src", "dst", rounds = Some(3),
        localThreshold = t)),
    ("pageRankFixpoint tolerance", 2L * star.size, t =>
      Graph.pageRankFixpoint(sym(star), "src", "dst",
        tolE12 = 100000000000L, localThreshold = t)),
    ("triangleCounts", triangles.size.toLong, t =>
      Graph.triangleCounts(triangles.toDF("u", "v"), "u", "v", t)))

  for ((name, n, run) <- kernels)
    test(s"$name: threshold n runs one task, n - 1 the loop, same rows") {
      val (atN, localAtN, _) = observe(run(n))
      val (below, localBelow, _) = observe(run(n - 1))
      assert(localAtN, s"$name at threshold $n did not run the single task")
      assert(!localBelow, s"$name at threshold ${n - 1} ran the single task")
      assert(atN.nonEmpty)
      assert(atN == below, s"single task $atN != distributed $below")
    }

  // The distributed loops persist and localCheckpoint their state; once
  // the caller releases the result, none of it may stay persisted. The
  // bound is GraphSpec's rate bound: a leak of one RDD per run reaches
  // `runs`.
  for ((name, n, run) <- kernels)
    test(s"$name: the distributed loop releases its storage") {
      val runs = 4
      val retained = (1 to runs).map(_ => observe(run(n - 1))._3).sum
      assert(retained < runs,
        s"$name left $retained persisted RDDs over $runs runs")
    }
}
