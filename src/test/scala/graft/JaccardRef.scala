package graft

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

import graft.functions.BucketJaccards

/** The brute-force set reference every [[BucketJaccards]] test compares
  * against, and a driver that evaluates the expression on one grouped
  * row without a Spark session.
  *
  * A member is (doc_id, distinct hashes in any order, is_new), with
  * `is_new` None for a member struct that has no such field (it counts
  * as new). Pairs come out as (id, id, doubleToLongBits(jac)), sorted. */
object JaccardRef {
  type M = (Long, Seq[Long], Option[Boolean])
  type Out = Seq[(Long, Long, Long)]

  private def isNew(m: M): Boolean = m._3.getOrElse(true)

  /** The rule for one candidate pair: canonical keeps it when one side
    * is new and emits (min id, max id); oriented keeps new × store and
    * emits (new id, store id). Equal ids never pair. The jaccard is the
    * exact set intersection over the exact union, one IEEE divide. */
  def pairs(cands: Seq[(M, M)], minJac: Double, oriented: Boolean): Out =
    cands.flatMap { case (x, y) =>
      val keep =
        if (oriented) isNew(x) != isNew(y) else isNew(x) || isNew(y)
      if (!keep || x._1 == y._1) None
      else {
        val inter = x._2.toSet.intersect(y._2.toSet).size
        val jac = inter.toDouble / (x._2.size + y._2.size - inter).toDouble
        val (lo, hi) =
          if (oriented) { if (isNew(x)) (x._1, y._1) else (y._1, x._1) }
          else (math.min(x._1, y._1), math.max(x._1, y._1))
        if (jac >= minJac)
          Some((lo, hi, java.lang.Double.doubleToLongBits(jac)))
        else None
      }
    }.sorted

  /** A grouped row's candidates: each pair within `a` when `b` is empty,
    * `a` × `b` otherwise. */
  def rowCandidates(a: Seq[M], b: Seq[M]): Seq[(M, M)] =
    if (b.isEmpty) for (i <- a.indices; j <- a.indices if i < j) yield (a(i), a(j))
    else for (x <- a; y <- b) yield (x, y)

  /** The reference over a whole bucket: every pair of its members. */
  def bucket(mem: Seq[M], minJac: Double, oriented: Boolean): Out =
    pairs(rowCandidates(mem, Nil), minJac, oriented)

  /** The grouped rows the upstream chunk split makes of one bucket: an
    * intra row per chunk, a cross row per chunk pair, and cross rows
    * whose partner chunk is empty dropped. Both copies of a doc_id (new
    * and stored) hash to the same chunk. */
  def chunkRows(mem: Seq[M], nch: Int, seed: Long): Seq[(Seq[M], Seq[M])] = {
    val rnd = new scala.util.Random(seed)
    val chunkOf = mem.map(_._1).distinct.map(id => id -> rnd.nextInt(nch)).toMap
    for {
      cLo <- 0 until nch; cHi <- cLo until nch
      a = mem.filter(m => chunkOf(m._1) == cLo)
      b = if (cLo == cHi) Nil else mem.filter(m => chunkOf(m._1) == cHi)
      if (cLo == cHi && a.nonEmpty) || (a.nonEmpty && b.nonEmpty)
    } yield (a, b)
  }

  private def memberType(tagged: Boolean): ArrayType = ArrayType(StructType(
    Seq(StructField("doc_id", LongType, nullable = false),
      StructField("hs", ArrayType(LongType, containsNull = false))) ++
      (if (tagged) Seq(StructField("is_new", BooleanType, nullable = false))
       else Nil)))

  private def toData(mem: Seq[M], tagged: Boolean): ArrayData =
    new GenericArrayData(mem.map { m =>
      val hs = new GenericArrayData(m._2.toArray[Any])
      if (tagged) InternalRow(m._1, hs, isNew(m)) else InternalRow(m._1, hs)
    }.toArray[Any])

  /** [[BucketJaccards]] evaluated on one grouped row; `b` empty passes a
    * null `bmem`, like the plain one-row-per-bucket plan. Members carry
    * the `is_new` field when any of them has it. */
  def kernel(a: Seq[M], b: Seq[M], minJac: Double, oriented: Boolean): Out = {
    val tagged = (a ++ b).exists(_._3.isDefined)
    val t = memberType(tagged)
    val expr = BucketJaccards(BoundReference(0, t, nullable = true),
      BoundReference(1, t, nullable = true), Literal(minJac), Literal(0),
      oriented)
    val out = expr.eval(InternalRow(toData(a, tagged),
      if (b.isEmpty) null else toData(b, tagged))).asInstanceOf[ArrayData]
    (0 until out.numElements()).map { i =>
      val r = out.getStruct(i, 3)
      (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))
    }.sorted
  }
}
