package graft

import org.apache.spark.sql.functions._

/** The native [[graft.functions.BucketJaccards]] expression must be
  * BIT-IDENTICAL to the Scala UDF kernel it replaced on the two-sided
  * probe — same pairs, same orientation rules, same IEEE jaccards —
  * across random bucket shapes including null/empty partner chunks and
  * redelivered (same-id, both-sides) members; its `withinBatch` mode
  * must match a brute-force reference the same way. */
class KernelExprSpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(20260815L)

  private def hs(): Seq[Long] =
    Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(40).toLong).distinct.sorted

  test("two-sided expression == chunkCrossJaccardsUdf, bit-exact") {
    import spark.implicits._
    val rows = Seq.fill(60) {
      def mem() = Seq.fill(rnd.nextInt(8))(
        (rnd.nextInt(25).toLong, hs(), rnd.nextBoolean()))
      val b = if (rnd.nextBoolean()) null else mem()
      (mem(), Option(b))
    }
    val df = rows.toDF("amem", "bmem")
    val both = df.select(
      graft.functions.TextKernels.chunkCrossJaccardsUdf(
        col("amem"), col("bmem"), lit(0.05), lit(0)).as("udf"),
      graft.functions.BucketJaccards.chunkCross(
        col("amem"), col("bmem"), 0.05, 0).as("expr"))
      .collect()
    both.foreach { r =>
      val u = r.getSeq[org.apache.spark.sql.Row](0).map(x =>
        (x.getLong(0), x.getLong(1),
          java.lang.Double.doubleToLongBits(x.getDouble(2))))
      val e = r.getSeq[org.apache.spark.sql.Row](1).map(x =>
        (x.getLong(0), x.getLong(1),
          java.lang.Double.doubleToLongBits(x.getDouble(2))))
      assert(u == e, s"two-sided kernel drifted:\n udf=$u\n expr=$e")
    }
  }

  /** The `withinBatch` mode against a brute-force reference: every pair
    * of a row (within `amem` for an intra row, `amem` × `bmem` for a
    * cross row) with at least one new member and distinct ids, as
    * (smaller id, larger id, jac ≥ minJac). */
  test("withinBatch expression == brute-force reference, bit-exact") {
    import spark.implicits._
    type M = (Long, Seq[Long], Boolean)
    val rows = Seq.fill(80) {
      def mem() = Seq.fill(rnd.nextInt(8))(
        (rnd.nextInt(12).toLong, hs(), rnd.nextBoolean()))
      val b = if (rnd.nextBoolean()) null else mem()
      (mem(), Option(b))
    }
    val min = 0.05
    def reference(a: Seq[M], b: Option[Seq[M]]): Seq[(Long, Long, Long)] = {
      val pairs = b.filter(_.nonEmpty) match {
        case None => for (i <- a.indices; j <- a.indices if i < j)
          yield (a(i), a(j))
        case Some(bs) => for (x <- a; y <- bs) yield (x, y)
      }
      pairs.collect { case (x, y) if (x._3 || y._3) && x._1 != y._1 =>
        val inter = x._2.toSet.intersect(y._2.toSet).size
        val jac = inter.toDouble / (x._2.size + y._2.size - inter).toDouble
        (math.min(x._1, y._1), math.max(x._1, y._1), jac)
      }.filter(_._3 >= min)
        .map(t => (t._1, t._2, java.lang.Double.doubleToLongBits(t._3)))
        .sorted
    }
    // the shapes the probe produces, all present in the sample
    def sides(m: Seq[M]) = m.map(_._3).toSet
    val intra = rows.filter(_._2.forall(_.isEmpty))
    val cross = rows.filter(_._2.exists(_.nonEmpty))
    assert(intra.exists(r => sides(r._1).size == 2), "no mixed intra row")
    assert(cross.exists(r => sides(r._1 ++ r._2.get).size == 2),
      "no mixed-side cross row")
    assert(rows.exists { case (a, b) =>
      val all = a ++ b.getOrElse(Nil)
      all.exists(x => x._3 && all.exists(y => !y._3 && y._1 == x._1))
    }, "no doc_id on both sides")

    val got = rows.toDF("amem", "bmem").select(
      graft.functions.BucketJaccards.withinBatch(
        col("amem"), col("bmem"), min, 0)).collect()
    assert(got.length == rows.length)
    var emitted = 0
    got.zip(rows).foreach { case (r, (a, b)) =>
      val e = r.getSeq[org.apache.spark.sql.Row](0).map(x =>
        (x.getLong(0), x.getLong(1),
          java.lang.Double.doubleToLongBits(x.getDouble(2)))).sorted
      val want = reference(a, b)
      assert(e == want, s"withinBatch kernel drifted:\n ref=$want\n expr=$e")
      emitted += e.size
    }
    assert(emitted > 0, "reference emitted no pair: the sample checks nothing")
  }
}
