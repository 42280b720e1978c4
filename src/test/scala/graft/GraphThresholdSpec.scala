package graft

import java.util.UUID
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import graft.operators.Graph
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Every graph kernel at its local-finish threshold ± 1. For each fixture
  * n is the edge count the hybrid driver counts — the symmetrized table
  * for CC and k-core, the given edge rows otherwise. At
  * `localThreshold = n` the single-task kernel must run, at n − 1 the
  * distributed loop, and both must return the same rows bit-for-bit.
  *
  * Which path ran is read off the jobs the call starts: the single-task
  * kernel is a one-task stage over a coalesce(1) partition (a
  * `CoalescedRDD`), and no distributed loop coalesces. Suites share one
  * session concurrently, so the listener only counts jobs of the call's
  * own job group. */
class GraphThresholdSpec extends SparkSpecBase {

  import spark.implicits._

  private def sym(pairs: Seq[(Long, Long)]): DataFrame = {
    val e = pairs.toDF("u", "v")
    e.select(col("u").as("src"), col("v").as("dst"))
      .unionByName(e.select(col("v").as("src"), col("u").as("dst")))
  }

  /** The sorted rows of `run` and whether it ran a single-task kernel. */
  private def observe(run: => DataFrame): (Seq[(Long, Long)], Boolean) = {
    val sc = spark.sparkContext
    val group = s"graph-threshold-${UUID.randomUUID()}"
    val single = new AtomicBoolean(false)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == "drain")
            drained.countDown()
          else if (e.stageInfos.exists(s => s.numTasks == 1 &&
              s.rddInfos.exists(_.name == "CoalescedRDD")))
            single.set(true)
        }
    }
    sc.addSparkListener(listener)
    val df = try {
      sc.setJobGroup(group, "graph kernel")
      val df = run
      // the listener bus is FIFO: once this marker job's start arrives,
      // every job of `run` has been seen
      sc.setJobDescription("drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus never drained")
      df
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val rows = df.collect().map(r => (r.getLong(0), r.getLong(1))).toSeq.sorted
    Graph.release(df)
    (rows, single.get)
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
      val (atN, localAtN) = observe(run(n))
      val (below, localBelow) = observe(run(n - 1))
      assert(localAtN, s"$name at threshold $n did not run the single task")
      assert(!localBelow, s"$name at threshold ${n - 1} ran the single task")
      assert(atN.nonEmpty)
      assert(atN == below, s"single task $atN != distributed $below")
    }
}
