package graft.functions

import org.apache.spark.sql.expressions.UserDefinedFunction
import org.apache.spark.sql.functions.udf

/** Compiled JVM kernels for the text-hash hot path.
  *
  * Spark's higher-order array functions (`transform`/`aggregate`) are
  * interpreted per element — fine for correctness, but a
  * shingle→hash→minhash chain touches every character of every document
  * and the interpreter overhead dominates (measured ~70% of the sf0.1
  * dedup bench). These kernels implement the *identical* integer
  * arithmetic as TextPrims' SQL fragments (spec- and oracle-enforced), in
  * tight single-pass Scala; registered as UDFs they run once per row with
  * zero per-element dispatch.
  *
  * UDF-vs-builtin tradeoff: a scalar Scala UDF costs serialization at the
  * row boundary but nothing per array element; for ~100-element arrays ×
  * ~10-char shingles that's two orders of magnitude less interpreter
  * traffic. Per-document kernels stay UDFs; the per-bucket near-dup pair
  * verification, whose grouped rows carry many shingle arrays each, is
  * the native expression [[BucketJaccards]], which skips the encoder
  * round-trip.
  */
object TextKernels {

  val P = TextPrims.P

  def polyhash(s: String): Long = {
    var h = 0L
    var i = 0
    while (i < s.length) { h = (h * 31 + s.charAt(i)) % P; i += 1 }
    h
  }

  /** Whitespace tokens (same as split('\s+') on already-trimmed text). */
  private def tokensOf(text: String): Array[String] =
    text.split("\\s+")

  /** An `rlike` pattern a text matches exactly when
    * [[wordShingleHashes]] of it is non-empty: [[tokensOf]] yields two or
    * more tokens iff some whitespace char is followed by a non-whitespace
    * one (a whitespace run before the first token still yields a leading
    * "" token; a trailing run yields none). Filtering on it keeps
    * Catalyst from pushing a `size(hs) > 0` filter below the shingle
    * projection, which evaluates the shingle kernel twice per document. */
  val shingledText: String = "\\s\\S"

  /** Distinct word-2gram shingle hashes, ASCENDING (like
    * [[charShingleHashes]]): the merge intersect of
    * [[BucketJaccards]] reads them as they are, and every other consumer
    * takes a min, a set op or an explode, which order does not change. */
  def wordShingleHashes(text: String): Array[Long] = {
    val t = tokensOf(text)
    if (t.length < 2) return Array.empty
    val hs = new Array[Long](t.length - 1)
    var i = 0
    while (i < t.length - 1) {
      // hash of "tok1_tok2" without building the string
      var h = polyhash(t(i))
      h = (h * 31 + '_') % P
      var j = 0
      val s2 = t(i + 1)
      while (j < s2.length) { h = (h * 31 + s2.charAt(j)) % P; j += 1 }
      hs(i) = h
      i += 1
    }
    java.util.Arrays.sort(hs)
    var n = 1
    i = 1
    while (i < hs.length) {
      if (hs(i) != hs(n - 1)) { hs(n) = hs(i); n += 1 }
      i += 1
    }
    if (n == hs.length) hs else java.util.Arrays.copyOf(hs, n)
  }

  /** Distinct word-2gram shingle STRINGS ("tok1_tok2", first-occurrence
    * order) — the string face of [[wordShingleHashes]], for vocabulary
    * queries (t8) where the bigram itself is the output. */
  def wordBigrams(text: String): Array[String] = {
    val t = tokensOf(text)
    if (t.length < 2) return Array.empty
    val seen = new java.util.LinkedHashSet[String]()
    var i = 0
    while (i < t.length - 1) { seen.add(t(i) + "_" + t(i + 1)); i += 1 }
    seen.toArray(new Array[String](seen.size))
  }

  /** ALL word-3gram strings ("a_b_c"), duplicates KEPT in order — the
    * multiplicity-preserving face of [[wordBigrams]], for repetition
    * statistics (t10) where how often a gram repeats IS the signal. */
  def wordTrigramsAll(text: String): Array[String] = {
    val t = tokensOf(text)
    if (t.length < 3) return Array.empty
    val out = new Array[String](t.length - 2)
    var i = 0
    while (i < t.length - 2) {
      out(i) = t(i) + "_" + t(i + 1) + "_" + t(i + 2)
      i += 1
    }
    out
  }

  /** Distinct char-kgram shingle hashes (sorted, for fast intersection). */
  def charShingleHashes(text: String, k: Int): Array[Long] = {
    if (text.length < k) return Array.empty
    val seen = new java.util.TreeSet[Long]()
    var i = 0
    while (i + k <= text.length) {
      var h = 0L
      var j = i
      while (j < i + k) { h = (h * 31 + text.charAt(j)) % P; j += 1 }
      seen.add(h)
      i += 1
    }
    val out = new Array[Long](seen.size)
    val it = seen.iterator()
    var idx = 0
    while (it.hasNext) { out(idx) = it.next(); idx += 1 }
    out
  }

  /** The 12 minhash signature values over a shingle-hash array.
    * Empty input yields Long.MaxValue sentinels — callers must filter
    * empty-shingle docs out *before* banding (the sentinel otherwise
    * overflows band arithmetic and diverges from SQL list_min's NULL). */
  def minhashFromHashes(hs: Array[Long]): Array[Long] = {
    val seeds = TextPrims.minhashSeeds
    val out = Array.fill(seeds.length)(Long.MaxValue)
    var i = 0
    while (i < hs.length) {
      var k = 0
      while (k < seeds.length) {
        val (a, b) = seeds(k)
        val v = (a * hs(i) + b) % P
        if (v < out(k)) out(k) = v
        k += 1
      }
      i += 1
    }
    out
  }

  /** The 12 minhash signature values over char-kgram shingle hashes (the
    * banding key source for the scalable blocked-Jaccard dedup d6). The
    * banding k is deliberately LONGER than the scoring k: short grams make
    * unrelated same-language docs look alike (char-3 Jaccard of generic
    * prose is ~0.3), which floods the band buckets; 7-grams keep random
    * pairs apart while true near-dups still collide. */
  def charMinhashSigs(text: String, k: Int): Array[Long] =
    minhashFromHashes(charShingleHashes(text, k))

  /** 16-bit SimHash over (non-distinct) token hashes. */
  def simhash16(text: String): Long = {
    val t = tokensOf(text)
    val votes = new Array[Long](16)
    var i = 0
    while (i < t.length) {
      val h = polyhash(t(i))
      var b = 0
      while (b < 16) {
        votes(b) += (if (((h >> b) & 1L) == 1L) 1 else -1)
        b += 1
      }
      i += 1
    }
    var sig = 0L
    var b = 0
    while (b < 16) { if (votes(b) >= 0) sig |= (1L << b); b += 1 }
    sig
  }

  /** Intersection size of two sorted long arrays (two-pointer). */
  def sortedIntersectCount(a: Array[Long], b: Array[Long]): Int = {
    var i = 0; var j = 0; var n = 0
    while (i < a.length && j < b.length) {
      if (a(i) < b(j)) i += 1
      else if (a(i) > b(j)) j += 1
      else { n += 1; i += 1; j += 1 }
    }
    n
  }

  /** Intersection size of two unsorted distinct long arrays (hash set). */
  def intersectCount(a: Array[Long], b: Array[Long]): Int = {
    val (small, big) = if (a.length <= b.length) (a, b) else (b, a)
    val set = new java.util.HashSet[Long](small.length * 2)
    small.foreach(set.add)
    var n = 0
    var i = 0
    while (i < big.length) { if (set.contains(big(i))) n += 1; i += 1 }
    n
  }

  /** ALL word-3gram hashes in position order, duplicates kept — the
    * hashed face of [[wordTrigramsAll]], for positional duplicated-span
    * detection (d14) where the array index IS the token position. */
  def wordTrigramHashesAll(text: String): Array[Long] = {
    val t = tokensOf(text)
    if (t.length < 3) return Array.empty
    val out = new Array[Long](t.length - 2)
    var i = 0
    while (i < t.length - 2) {
      var h = polyhash(t(i))
      h = (h * 31 + '_') % P
      var j = 0
      val s2 = t(i + 1)
      while (j < s2.length) { h = (h * 31 + s2.charAt(j)) % P; j += 1 }
      h = (h * 31 + '_') % P
      val s3 = t(i + 2)
      j = 0
      while (j < s3.length) { h = (h * 31 + s3.charAt(j)) % P; j += 1 }
      out(i) = h
      i += 1
    }
    out
  }

  /** ALL word-n-gram hashes in position order, duplicates kept — the
    * general-n face of [[wordTrigramHashesAll]] with identical
    * arithmetic (tokens joined by '_' under the rolling polyhash), so
    * the DuckDB mirror is polyhash(tok1 || '_' || … || tokN). Used by
    * the exact n-gram decontamination query (d19, n = 13). */
  def wordNgramHashesAll(text: String, n: Int): Array[Long] = {
    val t = tokensOf(text)
    if (t.length < n) return Array.empty
    val out = new Array[Long](t.length - n + 1)
    var i = 0
    while (i <= t.length - n) {
      var h = polyhash(t(i))
      var k = 1
      while (k < n) {
        h = (h * 31 + '_') % P
        val s = t(i + k)
        var j = 0
        while (j < s.length) { h = (h * 31 + s.charAt(j)) % P; j += 1 }
        k += 1
      }
      out(i) = h
      i += 1
    }
    out
  }

  /** Hashed n-gram feature buckets for the linear scorer (t12): all word
    * unigrams then all adjacent bigrams (duplicates kept — a bag, not a
    * set), each polyhashed mod `nBuckets`. Identical arithmetic to the
    * TextPrims SQL fragments; one pass, no per-element dispatch. (The
    * HOF formulation re-evaluated split() per element_at — O(tokens²)
    * string work that measured ~17 s on the 500-doc table.) */
  def ngramBuckets(text: String, nBuckets: Long): Array[Long] = {
    val t = tokensOf(text)
    val n = t.length
    val out = new Array[Long](if (n < 2) n else 2 * n - 1)
    var i = 0
    while (i < n) { out(i) = polyhash(t(i)) % nBuckets; i += 1 }
    i = 0
    while (i < n - 1) {
      var h = polyhash(t(i))
      h = (h * 31 + '_') % P
      val s2 = t(i + 1)
      var j = 0
      while (j < s2.length) { h = (h * 31 + s2.charAt(j)) % P; j += 1 }
      out(n + i) = h % nBuckets
      i += 1
    }
    out
  }

  // ---- UDF registrations (names used in operator packs)

  val minhashFromHashesUdf: UserDefinedFunction =
    udf((hs: Array[Long]) => minhashFromHashes(hs))
  def charMinhashSigsUdf(k: Int): UserDefinedFunction =
    udf((t: String) => charMinhashSigs(t, k))
  val wordShingleHashesUdf: UserDefinedFunction = udf((t: String) => wordShingleHashes(t))
  val wordBigramsUdf: UserDefinedFunction = udf((t: String) => wordBigrams(t))
  val wordTrigramsAllUdf: UserDefinedFunction = udf((t: String) => wordTrigramsAll(t))
  val charShingle3Udf: UserDefinedFunction = udf((t: String) => charShingleHashes(t, 3))
  val simhash16Udf: UserDefinedFunction = udf((t: String) => simhash16(t))
  // Array[Long] signatures hit Spark's primitive fast path
  // (ArrayData.toLongArray) — no per-element boxing at the UDF boundary.
  val wordTrigramHashesAllUdf: UserDefinedFunction =
    udf((t: String) => wordTrigramHashesAll(t))
  def wordNgramHashesAllUdf(n: Int): UserDefinedFunction =
    udf((t: String) => wordNgramHashesAll(t, n))
  def ngramBucketsUdf(nBuckets: Long): UserDefinedFunction =
    udf((t: String) => ngramBuckets(t, nBuckets))
  val sortedIntersectUdf: UserDefinedFunction =
    udf((a: Array[Long], b: Array[Long]) => sortedIntersectCount(a, b))
  val intersectCountUdf: UserDefinedFunction =
    udf((a: Array[Long], b: Array[Long]) => intersectCount(a, b))

  @transient private lazy val log =
    org.slf4j.LoggerFactory.getLogger("graft.functions.TextKernels")
  private val capWarned = new java.util.concurrent.atomic.AtomicBoolean(false)

  /** Skew sentinel for the hash-assigned chunk split (ADVICE r11): the
    * upstream cap bounds chunk sizes only in EXPECTATION — doc_ids that
    * collide into one salted residue class re-create the oversized row
    * the cap exists to prevent. A row far past the cap is logged (once
    * per executor JVM, with sizes) so a straggler/OOM under adversarial
    * ids is attributable instead of silent; the arithmetic itself stays
    * correct at any row size. `softCap` ≤ 0 disables. */
  private[functions] def warnIfOversized(softCap: Int, aLen: Int, bLen: Int): Unit =
    if (softCap > 0 && aLen + bLen > softCap &&
        capWarned.compareAndSet(false, true))
      log.warn(s"chunk-pair row holds ${aLen + bLen} members — far past " +
        s"the soft cap $softCap: hash-assigned chunks collided (adversarial " +
        "or low-entropy doc_ids); expect a hot task where the chunk cap " +
        "promised none")

  /** One member's DP operand (decoded to code points ONCE — Spark's
    * UTF8String DP re-walks the UTF-8 bytes inside the inner loop) plus
    * its 256-bucket character histogram (chars folded by & 0xFF —
    * folding classes only makes two multisets look MORE similar, so the
    * bag bound below stays a lower bound). */
  private final class EditMember(val id: Long, s: String) {
    val cps: Array[Int] = s.codePoints().toArray
    val hist: Array[Int] = {
      val h = new Array[Int](256)
      var i = 0
      while (i < cps.length) { h(cps(i) & 0xFF) += 1; i += 1 }
      h
    }
    /** Myers pattern bitmasks (this member AS the DP pattern): code
      * point → W-block bitmask of its positions. Built once per member
      * per grouped row, amortized over every pair the row verifies. */
    val blocks: Int = math.max(1, (cps.length + 63) >> 6)
    val peq: java.util.HashMap[Integer, Array[Long]] = {
      val m = new java.util.HashMap[Integer, Array[Long]]()
      var i = 0
      while (i < cps.length) {
        var v = m.get(cps(i))
        if (v == null) { v = new Array[Long](blocks); m.put(cps(i), v) }
        v(i >> 6) |= 1L << (i & 63)
        i += 1
      }
      m
    }
  }

  /** Myers' bit-parallel Levenshtein distance (blocked/multi-word form,
    * Hyyrö's formulation): O(n·⌈m/64⌉) word operations instead of the
    * O(n·m) cell DP — the per-pair constant that makes a hot bucket's
    * C(n,2) verification affordable (measured 34 µs/pair cell-DP vs
    * ~1–2 µs here on 120-char prefixes; the gate threshold 60 on
    * 120-char strings leaves no usable DP band, so only bit-parallelism
    * cuts the constant). Computes THE Levenshtein distance — the value
    * is mathematically defined, and KernelProps pins this against both
    * Spark's UTF8String DP and the cell DP on arbitrary strings. */
  private def myersDistance(pat: EditMember, text: Array[Int]): Int = {
    val m = pat.cps.length
    val w = pat.blocks
    val vp = Array.fill(w)(-1L)
    val vn = new Array[Long](w)
    var score = m
    val topBit = 1L << ((m - 1) & 63)
    val top = w - 1
    val zero = new Array[Long](w)
    var j = 0
    while (j < text.length) {
      val eqArr = pat.peq.get(text(j))
      val eq = if (eqArr == null) zero else eqArr
      var addCarry = 0L
      var hpCarry = 1L
      var hnCarry = 0L
      var i = 0
      while (i < w) {
        val pm = eq(i)
        val vpi = vp(i); val vni = vn(i)
        val t = pm & vpi
        val sum = vpi + t + addCarry
        // unsigned carry of vpi + t + addCarry
        val addCarryOut = ((vpi & t) | ((vpi | t) & ~sum)) >>> 63
        val d0 = (sum ^ vpi) | pm | vni
        val hp = vni | ~(d0 | vpi)
        val hn = vpi & d0
        if (i == top) {
          if ((hp & topBit) != 0L) score += 1
          else if ((hn & topBit) != 0L) score -= 1
        }
        val x = (hp << 1) | hpCarry
        hpCarry = hp >>> 63
        val hnShift = (hn << 1) | hnCarry
        hnCarry = hn >>> 63
        vp(i) = hnShift | ~(d0 | x)
        vn(i) = d0 & x
        addCarry = addCarryOut
        i += 1
      }
      j += 1
    }
    score
  }

  /** Pair distance for the edit kernel: Myers bit-parallel with the
    * shorter side as pattern; the cell DP remains the arbitrary-length
    * fallback (d9's operands are ≤ 120 code points, so it never fires
    * there). Returns the distance if ≤ k, else -1 — the exact
    * `levenshtein(l, r, k)` contract. */
  private def pairDist(a: EditMember, b: EditMember, k: Int): Int = {
    val (pat, text) = if (a.cps.length <= b.cps.length) (a, b) else (b, a)
    if (math.abs(a.cps.length - b.cps.length) > k) return -1
    if (pat.cps.length == 0)
      return if (text.cps.length <= k) text.cps.length else -1
    val d =
      if (pat.blocks <= 4) myersDistance(pat, text.cps)
      else boundedEdit(a.cps, b.cps, k)
    if (d >= 0 && d <= k) d else -1
  }

  /** Threshold Levenshtein over code-point arrays: the same integer
    * distance as `levenshtein(l, r, k)` (the value is mathematically
    * defined, so any correct implementation agrees bit-for-bit — the
    * KernelProps property pins this against Spark's own
    * UTF8String.levenshteinDistance on arbitrary strings), computed
    * with the standard constant-factor tools the per-byte-decoding
    * generic routine can't use: common prefix/suffix stripping (a
    * distance-preserving identity — near-dup bucket members share LONG
    * prefixes, which is why they band-collided in the first place),
    * the |n−m| > k bail, a two-row int DP over pre-decoded code
    * points, and a row-min early exit once every band cell exceeds k.
    * Returns the distance if ≤ k, else -1. */
  private[graft] def boundedEdit(a0: Array[Int], b0: Array[Int],
                                     k: Int): Int = {
    // strip common prefix/suffix
    var lo = 0
    val maxLo = math.min(a0.length, b0.length)
    while (lo < maxLo && a0(lo) == b0(lo)) lo += 1
    var ahi = a0.length; var bhi = b0.length
    while (ahi > lo && bhi > lo && a0(ahi - 1) == b0(bhi - 1)) {
      ahi -= 1; bhi -= 1
    }
    var n = ahi - lo; var m = bhi - lo
    if (n == 0) return if (m <= k) m else -1
    if (m == 0) return if (n <= k) n else -1
    if (math.abs(n - m) > k) return -1
    // DP over the stripped middles; a = shorter row for the buffers
    var a = a0; var b = b0; var aOff = lo; var bOff = lo
    if (n > m) {
      a = b0; b = a0; aOff = lo; bOff = lo
      val t = n; n = m; m = t
    }
    val prev = new Array[Int](n + 1)
    val cur = new Array[Int](n + 1)
    var i = 0
    while (i <= n) { prev(i) = i; i += 1 }
    var j = 1
    while (j <= m) {
      cur(0) = j
      val bj = b(bOff + j - 1)
      var rowMin = cur(0)
      i = 1
      while (i <= n) {
        val cost = if (a(aOff + i - 1) == bj) 0 else 1
        var v = prev(i - 1) + cost
        val del = prev(i) + 1
        if (del < v) v = del
        val ins = cur(i - 1) + 1
        if (ins < v) v = ins
        cur(i) = v
        if (v < rowMin) rowMin = v
        i += 1
      }
      if (rowMin > k) return -1
      System.arraycopy(cur, 0, prev, 0, n + 1)
      j += 1
    }
    if (prev(n) <= k) prev(n) else -1
  }

  /** Bag-distance lower bound on Levenshtein: every edit operation
    * inserts at most one character occurrence and deletes at most one,
    * so dist ≥ max(#insertions needed, #deletions needed) over the
    * character multisets. ~256 int ops per pair vs the ~O(k·n) DP —
    * the gate that keeps a hot bucket's C(n,2) from paying the DP for
    * pairs whose histograms already prove dist > maxDist. Skipping is
    * output-neutral: the DP would return -1 for every skipped pair
    * (KernelProps pins the bound property on arbitrary strings). */
  private[functions] def bagLowerBound(ha: Array[Int], hb: Array[Int]): Int = {
    var pos = 0; var neg = 0; var c = 0
    while (c < 256) {
      val d = ha(c) - hb(c)
      if (d > 0) pos += d else neg -= d
      c += 1
    }
    if (pos > neg) pos else neg
  }

  /** [[BucketJaccards]]' grouped-row contract over PREFIX STRINGS with a
    * threshold Levenshtein verifier — the bucket-local kernel behind
    * d9's capped plan (r12). Distances come from Spark's OWN
    * `UTF8String.levenshteinDistance(other, threshold)` — the exact
    * routine the SQL `levenshtein(l, r, k)` expression runs — so every
    * emitted distance is bit-identical to the join formulation it
    * replaces; pairs past the threshold return -1 there and are not
    * emitted. Output id-sorted (doc_a < doc_b); intra rows (`bmem`
    * empty) verify all pairs within `amem`, cross rows only the
    * amem×bmem product (chunks partition a bucket, so ids never
    * repeat). */
  def chunkPairEdits(amem: Seq[(Long, String)],
                     bmem: Seq[(Long, String)],
                     maxDist: Int,
                     softCap: Int = 0): Seq[(Long, Long, Int)] = {
    warnIfOversized(softCap, amem.length, if (bmem == null) 0 else bmem.length)
    val au = amem.toArray.map { case (id, p) => new EditMember(id, p) }
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Int)]
    def verify(a: EditMember, b: EditMember): Unit =
      if (bagLowerBound(a.hist, b.hist) <= maxDist) {
        val d = pairDist(a, b, maxDist)
        if (d >= 0)
          out += (if (a.id <= b.id) (a.id, b.id, d) else (b.id, a.id, d))
      }
    if (bmem == null || bmem.isEmpty) {
      var i = 0
      while (i < au.length) {
        var j = i + 1
        while (j < au.length) { verify(au(i), au(j)); j += 1 }
        i += 1
      }
    } else {
      val bu = bmem.toArray.map { case (id, p) => new EditMember(id, p) }
      var i = 0
      while (i < au.length) {
        var j = 0
        while (j < bu.length) { verify(au(i), bu(j)); j += 1 }
        i += 1
      }
    }
    out.toSeq
  }

  val chunkPairEditsUdf: UserDefinedFunction =
    udf((a: Seq[(Long, String)], b: Seq[(Long, String)],
         maxDist: Int, softCap: Int) => chunkPairEdits(a, b, maxDist, softCap))
}
