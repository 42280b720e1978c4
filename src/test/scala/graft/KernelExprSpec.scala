package graft

import org.apache.spark.sql.functions._

/** The native [[graft.functions.BucketJaccards]] expression must be
  * BIT-IDENTICAL to the Scala UDF kernel it replaced on the two-sided
  * probe — same pairs, same orientation rules, same IEEE jaccards —
  * across random bucket shapes including null/empty partner chunks and
  * redelivered (same-id, both-sides) members. */
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
}
