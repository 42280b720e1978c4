package graft

import graft.functions.KMeans
import org.apache.spark.sql.functions._

class KMeansSpec extends SparkSpecBase {

  /** Three well-separated planted clusters in 8 dims. */
  private def planted() = {
    import spark.implicits._
    val rnd = new scala.util.Random(11)
    val centers = Seq(
      Array.fill(8)(0f), Array.fill(8)(10f), Array.fill(8)(-10f))
    (0 until 90).map { i =>
      val c = centers(i % 3)
      (i.toLong, c.map(v => v + rnd.nextFloat() * 0.5f - 0.25f))
    }.toDF("vec_id", "embedding")
  }

  /** The local path returns a localCheckpoint (a `LogicalRDD` leaf); the
    * distributed path returns its last persisted round. */
  private def ranLocal(df: org.apache.spark.sql.DataFrame): Boolean = {
    val local = df.queryExecution.analyzed
      .isInstanceOf[org.apache.spark.sql.execution.LogicalRDD]
    assert(local == (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE))
    local
  }

  /** 300 random 6-dim vectors; no planted structure. */
  private def messy() = {
    import spark.implicits._
    val rnd = new scala.util.Random(20260819L)
    (0 until 300).map { i =>
      (i.toLong, Array.fill(6)(rnd.nextFloat() * 4f - 2f))
    }.toDF("vec_id", "embedding")
  }

  test("local-finish Lloyd == distributed Lloyd, bit-exact") {
    // messy random data (no planted structure): cluster churn, ties on
    // symmetric points, and a cell that loses all members are all in play
    val df = messy()
    for (k <- Seq(3, 16); iters <- Seq(1, 3)) {
      val local = KMeans.fit(df, k, iters) // 300 rows → local branch
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
      val dist = KMeans.fit(df, k, iters, localThreshold = 0L)
        .collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
      assert(local == dist, s"k=$k iters=$iters: local != distributed")
    }
  }

  test("fit at n = localThreshold ± 1: the data picks the path, bit-exact") {
    val df = messy()
    for (k <- Seq(3, 16); iters <- Seq(1, 3)) {
      val at = KMeans.fit(df, k, iters, localThreshold = 300L)
      val below = KMeans.fit(df, k, iters, localThreshold = 299L)
      assert(ranLocal(at), s"k=$k iters=$iters: n = threshold must run local")
      assert(!ranLocal(below),
        s"k=$k iters=$iters: n = threshold + 1 must run distributed")
      val a = at.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
      val b = below.collect().map(r => (r.getInt(0), r.getInt(1), r.getDouble(2))).toSet
      assert(a == b, s"k=$k iters=$iters: local != distributed")
      below.unpersist()
    }
  }

  test("fitGrouped local == distributed == per-subspace fit, bit-exact") {
    import spark.implicits._
    val rnd = new scala.util.Random(20261018L)
    val sub = (for (ss <- 0 until 3; i <- 0 until 200)
      yield (ss, i.toLong, Array.fill(6)(rnd.nextFloat() * 4f - 2f)))
      .toDF("subspace", "vec_id", "embedding").repartition(4)
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect()
      .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getDouble(3))).toSet
    for (k <- Seq(3, 16); iters <- Seq(1, 3)) {
      val at = KMeans.fitGrouped(sub, k, iters, localThreshold = 600L)
      val below = KMeans.fitGrouped(sub, k, iters, localThreshold = 599L)
      assert(ranLocal(at), s"k=$k iters=$iters: 600 rows at 600 must run local")
      assert(!ranLocal(below),
        s"k=$k iters=$iters: 600 rows at 599 must run distributed")
      val local = rows(at.select("subspace", "cell", "pos", "mean_v"))
      val dist = rows(below.select("subspace", "cell", "pos", "mean_v"))
      below.unpersist()
      assert(local == dist, s"k=$k iters=$iters: local != distributed")
      val alone = (0 until 3).flatMap { ss =>
        KMeans.fit(sub.filter(col("subspace") === ss), k, iters)
          .collect().map(r => (ss, r.getInt(0), r.getInt(1), r.getDouble(2)))
      }.toSet
      assert(local == alone, s"k=$k iters=$iters: grouped != per-subspace fit")
    }
  }

  test("recovers well-separated planted clusters") {
    val df = planted()
    val cents = KMeans.fit(df, k = 3, iters = 5)
    assert(cents.select("cell").distinct().count() == 3)
    // each recovered centroid's dims hover near one planted center
    val byCell = cents.collect()
      .groupBy(_.getAs[Int]("cell"))
      .map { case (c, rows) =>
        c -> rows.map(_.getAs[Double]("mean_v")).sum / rows.length }
    val means = byCell.values.toSeq.sorted
    assert(math.abs(means(0) - (-10.0)) < 0.5)
    assert(math.abs(means(1) - 0.0) < 0.5)
    assert(math.abs(means(2) - 10.0) < 0.5)
    // assignment puts every planted member in its own cluster's cell
    val assigned = KMeans.assign(df, cents)
      .withColumn("planted", col("vec_id") % 3)
    val pure = assigned.groupBy("planted")
      .agg(countDistinct(col("cell")).as("ncells"))
      .collect().forall(_.getAs[Long]("ncells") == 1)
    assert(pure)
  }

  test("cost decreases monotonically-ish and is near-zero for tight clusters") {
    val df = planted()
    val c1 = KMeans.fit(df, k = 3, iters = 1)
    val c5 = KMeans.fit(df, k = 3, iters = 5)
    val cost1 = KMeans.cost(df, c1)
    val cost5 = KMeans.cost(df, c5)
    assert(cost5 <= cost1 + 1e-6)
    // 90 points × expected ~8·Var(U(-.25,.25)) ≈ 0.042 per point
    assert(cost5 < 90 * 1.0)
  }
}
