package graft

import org.apache.spark.sql.functions._

import graft.functions.BucketJaccards

/** The native [[graft.functions.BucketJaccards]] expression, run through
  * Spark on grouped rows the way the plans run it, must match the
  * brute-force set reference ([[JaccardRef]]) in both modes — same
  * pairs, same orientation, same IEEE jaccards — across random row
  * shapes: null/empty partner chunks, mixed sides, redelivered (same-id,
  * both-sides) members, ascending and shuffled hash arrays, and member
  * structs with and without `is_new`. */
class KernelExprSpec extends SparkSpecBase {

  private val rnd = new scala.util.Random(20260815L)
  private val minJac = 0.05

  /** Distinct hashes, ascending or (as in a store written before word
    * shingles were sorted) shuffled. */
  private def hs(): Seq[Long] = {
    val h = Seq.fill(1 + rnd.nextInt(12))(rnd.nextInt(40).toLong).distinct.sorted
    if (rnd.nextBoolean()) rnd.shuffle(h) else h
  }

  private type Row3 = (Seq[(Long, Seq[Long], Boolean)],
    Option[Seq[(Long, Seq[Long], Boolean)]])

  private def taggedRows(n: Int, ids: Int): Seq[Row3] = Seq.fill(n) {
    def mem() = Seq.fill(rnd.nextInt(8))(
      (rnd.nextInt(ids).toLong, hs(), rnd.nextBoolean()))
    (mem(), if (rnd.nextBoolean()) None else Some(mem()))
  }

  private def collectPairs(df: org.apache.spark.sql.DataFrame,
                           oriented: Boolean): Seq[JaccardRef.Out] =
    df.select(BucketJaccards.pairs(col("amem"), col("bmem"), minJac, 0,
        oriented)).collect().toSeq.map(_.getSeq[org.apache.spark.sql.Row](0)
      .map(x => (x.getLong(0), x.getLong(1),
        java.lang.Double.doubleToLongBits(x.getDouble(2)))).sorted)

  private def checkTagged(oriented: Boolean): Unit = {
    import spark.implicits._
    val rows = taggedRows(80, 12)
    def ms(m: Seq[(Long, Seq[Long], Boolean)]): Seq[JaccardRef.M] =
      m.map(t => (t._1, t._2, Some(t._3)))
    // the shapes the probes produce, all present in the sample
    def sides(m: Seq[(Long, Seq[Long], Boolean)]) = m.map(_._3).toSet
    assert(rows.exists(r => r._2.forall(_.isEmpty) && sides(r._1).size == 2),
      "no mixed intra row")
    assert(rows.exists(r => r._2.exists(_.nonEmpty) &&
      sides(r._1 ++ r._2.get).size == 2), "no mixed-side cross row")
    assert(rows.exists { case (a, b) =>
      val all = a ++ b.getOrElse(Nil)
      all.exists(x => x._3 && all.exists(y => !y._3 && y._1 == x._1))
    }, "no doc_id on both sides")

    val got = collectPairs(rows.toDF("amem", "bmem"), oriented)
    assert(got.length == rows.length)
    got.zip(rows).foreach { case (e, (a, b)) =>
      val want = JaccardRef.pairs(JaccardRef.rowCandidates(ms(a),
        ms(b.getOrElse(Nil))), minJac, oriented)
      assert(e == want, s"kernel (oriented=$oriented) drifted:\n ref=$want\n expr=$e")
    }
    assert(got.exists(_.nonEmpty), "reference emitted no pair: the sample checks nothing")
  }

  test("canonical mode == brute-force reference, bit-exact") {
    checkTagged(oriented = false)
    // members without `is_new` (the one-sided plans): every pair counts
    import spark.implicits._
    val rows = Seq.fill(60) {
      def mem() = Seq.fill(rnd.nextInt(8))((rnd.nextInt(25).toLong, hs()))
      (mem(), if (rnd.nextBoolean()) None else Some(mem()))
    }
    val got = collectPairs(rows.toDF("amem", "bmem"), oriented = false)
    got.zip(rows).foreach { case (e, (a, b)) =>
      def ms(m: Seq[(Long, Seq[Long])]): Seq[JaccardRef.M] =
        m.map(t => (t._1, t._2, None))
      val want = JaccardRef.pairs(JaccardRef.rowCandidates(ms(a),
        ms(b.getOrElse(Nil))), minJac, oriented = false)
      assert(e == want, s"untagged kernel drifted:\n ref=$want\n expr=$e")
    }
    assert(got.exists(_.nonEmpty))
  }

  test("oriented mode == brute-force reference, bit-exact") {
    checkTagged(oriented = true)
  }

  /** The multiply form of the size gate, `min >= minJac * max`, drops
    * this pair: 0.55 × 460 rounds to 253.00000000000003 > 253, though
    * fl(253/460) == 0.55 and the jaccard of a 253-subset of 460 hashes
    * is exactly that quotient. The divide form keeps it. */
  test("size gate keeps a subset pair at fl(m/M) == minJac (253 of 460 at 0.55)") {
    import spark.implicits._
    assert(253.0 / 460.0 == 0.55 && 0.55 * 460.0 > 253.0)
    val a = (1L, (0L until 253L).toSeq)
    val b = (2L, (0L until 460L).toSeq)
    val df = Seq((Seq(a, b), Option.empty[Seq[(Long, Seq[Long])]]))
      .toDF("amem", "bmem")
    val got = df.select(explode(BucketJaccards.pairs(col("amem"), col("bmem"),
      0.55, 0)).as("p")).select("p._1", "p._2", "p._3").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2))).toSeq
    assert(got == Seq((1L, 2L, 0.55)), s"pair lost at the gate: $got")
  }
}
