package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, Literal}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._

/** The engine's one near-dup pair-verification kernel, a native Catalyst
  * expression over one grouped bucket row of
  * [[graft.operators.Dedup.bucketGroups]]. Every Jaccard verification
  * goes through it: d4/d10/d20's one-sided pairs, the d15/d16 truth
  * sample, d6's char-3-gram plan, d7/d21's batch × store probe and the
  * streaming probe.
  *
  * Members are `struct(doc_id, hs[, is_new])`, read by position; a
  * member without an `is_new` field counts as new. A null/empty `bmem`
  * row verifies each pair WITHIN `amem` once; a cross row verifies
  * `amem` × `bmem` only (chunks partition a bucket, and the upstream
  * grouping drops a cross row whose partner chunk came up empty). Equal
  * ids never pair (a redelivered doc does not match its stored copy).
  * One accept/orient rule per mode:
  *   - canonical (default): every pair with at least one new member, as
  *     (smaller id, larger id) — so the same pair found in several
  *     buckets folds in one `distinct`/`dropDuplicates`;
  *   - `oriented`: new × store pairs only, as (new id, store id) — the
  *     asymmetric probe's contract ([[graft.operators.Dedup.probePairs]]).
  *
  * Arithmetic (oracle-critical): intersections come from the zero-
  * allocation merge [[TextKernels.sortedIntersectCount]], and the jaccard
  * is one IEEE divide of the exact intersection by the exact union,
  * emitted when `>= minJac`. The merge needs ascending arrays. The
  * shingle kernels emit them sorted, so the copy `toLongArray` makes of
  * each member is sorted here only when it is not ascending — a
  * signature store written while word shingles were kept in
  * first-occurrence order stays correct.
  *
  * Size gate (lossless): inter ≤ min(|A|, |B|) and union ≥ max, so the
  * real jaccard is at most min/max, and a correctly rounded divide is
  * monotone. A pair with fl(min/max) < minJac can never be emitted, and
  * is skipped before the merge. (The multiply form `min >= minJac * max`
  * is NOT lossless: at minJac 0.55, 0.55 × 460 rounds above 253, though
  * fl(253/460) == 0.55.)
  *
  * The expression reads the unsafe `ArrayData` buffers in place — no
  * encoder round-trip per grouped row, no boxed tuple per member — and
  * emits `InternalRow`s directly. `softCap` (> 0) logs the chunk-skew
  * sentinel once per JVM ([[TextKernels.warnIfOversized]]).
  */
case class BucketJaccards(amem: Expression, bmem: Expression,
                          minJac: Expression, softCap: Expression,
                          oriented: Boolean = false)
    extends Expression with CodegenFallback {

  override def children: Seq[Expression] = Seq(amem, bmem, minJac, softCap)
  override def nullable: Boolean = amem.nullable
  override def foldable: Boolean = false
  override lazy val deterministic: Boolean = true

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("_1", LongType, nullable = false),
    StructField("_2", LongType, nullable = false),
    StructField("_3", DoubleType, nullable = false))), containsNull = false)

  /** Fields per member struct: 3 when it carries `is_new`. */
  private lazy val memberFields =
    amem.dataType.asInstanceOf[ArrayType].elementType
      .asInstanceOf[StructType].length

  override def eval(input: InternalRow): Any = {
    val aRaw = amem.eval(input)
    if (aRaw == null) return null
    val a = aRaw.asInstanceOf[ArrayData]
    val bRaw = bmem.eval(input)
    val b = if (bRaw == null) null else bRaw.asInstanceOf[ArrayData]
    val min = minJac.eval(input).asInstanceOf[Double]
    val cap = softCap.eval(input).asInstanceOf[Int]

    val an = a.numElements()
    val bn = if (b == null) 0 else b.numElements()
    TextKernels.warnIfOversized(cap, an, bn)

    // unpack once: ids + ascending hash arrays + side tags, no boxing
    val ids = new Array[Long](an + bn)
    val hss = new Array[Array[Long]](an + bn)
    val tag = new Array[Boolean](an + bn)
    val nf = memberFields
    def unpack(mem: ArrayData, n: Int, off: Int): Unit = {
      var i = 0
      while (i < n) {
        val m = mem.getStruct(i, nf)
        ids(off + i) = m.getLong(0)
        val hs = m.getArray(1).toLongArray()
        var k = 1
        while (k < hs.length && hs(k - 1) < hs(k)) k += 1
        if (k < hs.length) java.util.Arrays.sort(hs)
        hss(off + i) = hs
        tag(off + i) = nf < 3 || m.getBoolean(2)
        i += 1
      }
    }
    unpack(a, an, 0)
    if (b != null) unpack(b, bn, an)

    val out = scala.collection.mutable.ArrayBuffer.empty[InternalRow]
    // the jaccard is symmetric in (x, y): either orientation computes
    // the same bits; (lo, hi) is the emitted order
    def verify(x: Int, y: Int, lo: Long, hi: Long): Unit = {
      val lx = hss(x).length
      val ly = hss(y).length
      if (math.min(lx, ly).toDouble / math.max(lx, ly).toDouble >= min) {
        val inter = TextKernels.sortedIntersectCount(hss(x), hss(y))
        val jac = inter.toDouble / (lx + ly - inter).toDouble
        if (jac >= min) out += InternalRow(lo, hi, jac)
      }
    }
    // candidate index pairs: x < y within amem (intra row), or
    // amem × bmem (cross row)
    val hi = if (bn == 0) an else an + bn
    var x = 0
    while (x < an) {
      var y = if (bn == 0) x + 1 else an
      while (y < hi) {
        if (ids(x) != ids(y)) {
          if (oriented) {
            if (tag(x) && !tag(y)) verify(x, y, ids(x), ids(y))
            else if (tag(y) && !tag(x)) verify(x, y, ids(y), ids(x))
          } else if (tag(x) || tag(y)) {
            if (ids(x) < ids(y)) verify(x, y, ids(x), ids(y))
            else verify(x, y, ids(y), ids(x))
          }
        }
        y += 1
      }
      x += 1
    }
    new GenericArrayData(out.toArray[Any])
  }

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): BucketJaccards =
    copy(amem = newChildren(0), bmem = newChildren(1),
      minJac = newChildren(2), softCap = newChildren(3))
}

object BucketJaccards {
  /** The kernel over a grouped `(amem, bmem)` row, as an array of
    * `(_1, _2, _3 = jac)` structs: canonical pairs by default, (new,
    * store) pairs when `oriented`. */
  def pairs(amem: Column, bmem: Column, minJac: Double, softCap: Int,
            oriented: Boolean = false): Column =
    ColumnBridge.toColumn(BucketJaccards(
      ColumnBridge.toExpression(amem), ColumnBridge.toExpression(bmem),
      Literal(minJac), Literal(softCap), oriented))
}
