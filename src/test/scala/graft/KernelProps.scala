package graft

import graft.cte.CteAnalytics
import graft.functions.{LinAlg, PolyFit2D, TextKernels}
import org.scalacheck.{Gen, Prop, Properties}
import org.scalacheck.Prop.{forAll, propBoolean}

/** Property-based checks for the driver-side kernels (SURVEY.md §5 item 3). */
object KernelProps extends Properties("kernels") {

  private val epochList: Gen[List[Double]] =
    Gen.listOfN(12, Gen.choose(0, 2000).map(_.toDouble))

  property("combineEpochs output is sorted and within input range") =
    forAll(epochList) { es =>
      es.isEmpty || {
        val out = CteAnalytics.combineEpochs(es)
        out == out.sorted &&
        out.forall(e => e >= es.min - 15 && e <= es.max + 15)
      }
    }

  property("combineEpochs preserves isolated epochs exactly") =
    forAll(Gen.listOfN(6, Gen.choose(0, 50).map(_ * 100.0))) { es =>
      // all gaps ≥ 100 > 30 ⇒ nothing merges
      val d = es.distinct.sorted
      CteAnalytics.combineEpochs(d) == d
    }

  private val hashArr: Gen[Array[Long]] =
    Gen.listOf(Gen.choose(0L, 1000000L)).map(_.distinct.sorted.toArray)

  property("sorted and hashed intersection counts agree with set semantics") =
    forAll(hashArr, hashArr) { (a, b) =>
      val want = a.toSet.intersect(b.toSet).size
      TextKernels.sortedIntersectCount(a, b) == want &&
      TextKernels.intersectCount(a, b) == want
    }

  property("polyhash stays in [0, P) and matches the reference fold") =
    forAll(Gen.asciiPrintableStr) { s =>
      val h = TextKernels.polyhash(s)
      val want = s.foldLeft(0L)((acc, c) => (acc * 31 + c) % TextKernels.P)
      h == want && h >= 0 && h < TextKernels.P
    }

  property("simhash16 is a 16-bit value, invariant to token order") =
    forAll(Gen.listOfN(8, Gen.oneOf("table", "scan", "agg", "join", "row"))) { ws =>
      val h1 = TextKernels.simhash16(ws.mkString(" "))
      val h2 = TextKernels.simhash16(ws.reverse.mkString(" "))
      h1 >= 0 && h1 < 65536 && h1 == h2
    }

  property("minhash signature entries are (a·h+b) mod P minima") =
    forAll(Gen.listOfN(6, Gen.oneOf("aa", "bb", "cc", "dd", "ee"))) { ws =>
      val text = ws.mkString(" ")
      val hs = TextKernels.wordShingleHashes(text)
      val sigs = TextKernels.minhashFromHashes(hs)
      // shingle hashes come out distinct and ascending (the kernel's merge
      // intersect reads them as they are)
      hs.toSeq == hs.distinct.sorted.toSeq && (hs.isEmpty ||
        graft.functions.TextPrims.minhashSeeds.zipWithIndex.forall {
          case ((a, b), k) => sigs(k) == hs.map(h => (a * h + b) % TextKernels.P).min
        })
    }

  property("shingledText matches exactly the texts with word shingles") =
    forAll(Gen.listOf(Gen.oneOf(Gen.oneOf(" ", "  ", "\t", "\n", "\r\n", "\u000B",
        "\f", "\u00A0"), Gen.alphaStr))) { parts =>
      val text = parts.mkString
      TextKernels.wordShingleHashes(text).nonEmpty ==
        TextKernels.shingledText.r.findFirstIn(text).isDefined
    }

  private val coefGen: Gen[Array[Double]] =
    Gen.listOfN(9, Gen.choose(-2.0, 2.0)).map(_.toArray)

  // ---- the near-dup kernel ([[graft.functions.BucketJaccards]]): an
  // ARBITRARY chunking of a bucket's membership, run row by row with the
  // upstream contract applied (intra row per chunk; one cross row per
  // chunk pair; cross rows with an empty side dropped), must reproduce
  // the kernel over the whole bucket and the brute-force set reference
  // EXACTLY — pair multiset and IEEE-bit jaccards. Members carry
  // distinct hashes ascending or shuffled (a store written before word
  // shingles were sorted), with or without an `is_new` field, and a
  // doc_id may sit on both sides (a redelivered doc). This is the
  // algebra Dedup's capped plans stand on.

  private def hashesGen: Gen[Seq[Long]] = for {
    hs <- Gen.nonEmptyListOf(Gen.choose(0L, 40L)).map(_.distinct.sorted)
    shuffled <- Gen.oneOf(true, false)
    seed <- Gen.long
  } yield if (shuffled) new scala.util.Random(seed).shuffle(hs) else hs

  /** A bucket: unique (doc_id, side) members; untagged buckets have one
    * member per doc_id. */
  private def bucketGen(tagged: Boolean): Gen[List[JaccardRef.M]] =
    Gen.choose(2, 18).flatMap(n => Gen.listOfN(n, for {
      id <- Gen.choose(0L, 30L)
      hs <- hashesGen
      side <- Gen.oneOf(true, false)
    } yield (id, hs, if (tagged) Some(side) else None)))
      .map(_.groupBy(m => (m._1, m._3)).map(_._2.head).toList)

  private val minJacGen = Gen.oneOf(0.0, 0.1, 0.25, 0.5)

  private def chunkedAgrees(mem: List[JaccardRef.M], nch: Int, seed: Long,
                            minJac: Double, oriented: Boolean): Prop = {
    val got = JaccardRef.chunkRows(mem, nch, seed).flatMap { case (a, b) =>
      JaccardRef.kernel(a, b, minJac, oriented)
    }.sorted
    val whole = JaccardRef.kernel(mem, Nil, minJac, oriented)
    val want = JaccardRef.bucket(mem, minJac, oriented)
    (got == want) :| s"chunked $got != reference $want" &&
      (whole == want) :| s"whole bucket $whole != reference $want"
  }

  property("chunked one-sided kernel == whole-bucket kernel, any chunking") =
    forAll(Gen.oneOf(true, false).flatMap(bucketGen), Gen.choose(1, 6),
           Gen.long, minJacGen) { (mem, nch, seed, minJac) =>
      chunkedAgrees(mem, nch, seed, minJac, oriented = false)
    }

  property("chunked two-sided kernel == whole-bucket cross kernel, any chunking") =
    forAll(bucketGen(tagged = true), Gen.choose(1, 6), Gen.long,
           minJacGen) { (mem, nch, seed, minJac) =>
      chunkedAgrees(mem, nch, seed, minJac, oriented = true)
    }

  // ---- the kernel's size gate skips a pair when fl(min/max) < minJac.
  // Adversarial shapes: an overlap of `inter` hashes between sets of
  // sizes m ≤ M (a subset when inter == m, where the jaccard IS m/M),
  // with minJac at, just above and just below fl(m/M) and the jaccard.
  property("size gate never drops a pair the ungated jaccard emits") =
    forAll(for {
      big <- Gen.choose(1, 600)
      small <- Gen.choose(1, big)
      inter <- Gen.oneOf(Gen.const(small), Gen.choose(0, small))
      pick <- Gen.choose(0, 5)
    } yield (big, small, inter, pick)) { case (big, small, inter, pick) =>
      val a: JaccardRef.M = (1L, (0L until small.toLong), None)
      val b: JaccardRef.M =
        (2L, ((small - inter).toLong until (small - inter + big).toLong), None)
      val ratio = small.toDouble / big.toDouble
      val jac = inter.toDouble / (small + big - inter).toDouble
      val minJac = Seq(ratio, Math.nextUp(ratio), Math.nextDown(ratio),
        jac, Math.nextUp(jac), Math.nextDown(jac))(pick)
      val want = JaccardRef.pairs(Seq((a, b)), minJac, oriented = false)
      (JaccardRef.kernel(Seq(a, b), Nil, minJac, oriented = false) == want) :|
        s"|A|=$small |B|=$big inter=$inter minJac=$minJac"
    }

  property("polyfit on an exact grid surface recovers predictions") =
    forAll(coefGen) { c =>
      val pts = for (x <- 0 to 5; y <- 0 to 5)
        yield (x.toDouble, y.toDouble, PolyFit2D.eval(c, x.toDouble, y.toDouble))
      val agg = PolyFit2D.udaf
      val got = agg.finish(pts.foldLeft(agg.zero)(agg.reduce)).toArray
      pts.forall { case (x, y, z) =>
        math.abs(PolyFit2D.eval(got, x, y) - z) < 1e-6
      }
    }

  property("LinAlg solves diagonally-dominant SPD systems") =
    forAll(Gen.listOfN(9, Gen.choose(-1.0, 1.0))) { rs =>
      val n = 3
      val m = Array.tabulate(n, n)((i, j) =>
        (if (i == j) 5.0 else 1.0) + 0.1 * rs(i * n + j))
      // symmetrize
      val a = Array.tabulate(n, n)((i, j) => (m(i)(j) + m(j)(i)) / 2.0)
      val b = Array(rs(0), rs(1), rs(2))
      val x = LinAlg.solveMinNorm(a, b)
      val back = a.map(row => row.zip(x).map(t => t._1 * t._2).sum)
      back.zip(b).forall { case (h, w) => math.abs(h - w) < 1e-8 }
    }

  private val smallStr: Gen[String] =
    Gen.choose(0, 140).flatMap(n => Gen.stringOfN(n, Gen.alphaNumChar))

  property("bag lower bound never exceeds the true Levenshtein distance") =
    forAll(smallStr, smallStr) { (a, b) =>
      import org.apache.spark.unsafe.types.UTF8String
      val d = UTF8String.fromString(a)
        .levenshteinDistance(UTF8String.fromString(b))
      val members = Seq((1L, a), (2L, b))
      // threshold = true distance: the gated kernel must still emit the
      // pair (the gate may only skip pairs it can PROVE are past the
      // threshold), and with threshold = d - 1 it must emit nothing
      val atD = TextKernels.chunkPairEdits(members, null, d)
      val below = if (d == 0) Seq.empty
                  else TextKernels.chunkPairEdits(members, null, d - 1)
      atD == Seq((1L, 2L, d)) && below.isEmpty
    }

  property("chunkPairEdits over arbitrary chunkings == all-pairs threshold DP") =
    forAll(Gen.listOfN(10, smallStr), Gen.choose(1, 5)) { (texts, nch) =>
      import org.apache.spark.unsafe.types.UTF8String
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val maxDist = 30
      val want = (for {
        (a, i) <- docs.zipWithIndex; (b, j) <- docs.zipWithIndex
        if i < j
        d = UTF8String.fromString(a._2)
          .levenshteinDistance(UTF8String.fromString(b._2), maxDist)
        if d >= 0
      } yield (a._1, b._1, d)).toSet
      val chunks = docs.groupBy { case (id, _) => (id % nch).toInt }
      val intra = chunks.values.flatMap(c =>
        TextKernels.chunkPairEdits(c, null, maxDist))
      val cross = (for {
        ci <- chunks.keys; cj <- chunks.keys if ci < cj
      } yield TextKernels.chunkPairEdits(
        chunks(ci), chunks(cj), maxDist)).flatten
      (intra ++ cross).toSet == want
    }

  private val uniStr: Gen[String] =
    Gen.choose(0, 140).flatMap(n => Gen.stringOfN(n,
      Gen.oneOf(Gen.alphaNumChar, Gen.oneOf('\u00e9', '\u4e2d', '\u0416'))))

  property("boundedEdit == Spark's threshold levenshtein, any strings/k") =
    forAll(uniStr, uniStr, Gen.choose(0, 100)) { (a, b, k) =>
      import org.apache.spark.unsafe.types.UTF8String
      val want = UTF8String.fromString(a)
        .levenshteinDistance(UTF8String.fromString(b), k)
      TextKernels.boundedEdit(a.codePoints.toArray, b.codePoints.toArray, k) == want
    }

  property("boundedEdit handles supplementary-plane code points") =
    forAll(Gen.choose(0, 6), Gen.choose(0, 6), Gen.choose(0, 10)) { (i, j, k) =>
      import org.apache.spark.unsafe.types.UTF8String
      val a = "pre" + new String(Character.toChars(0x1F600 + i)) + "post"
      val b = "pre" + new String(Character.toChars(0x1F600 + j)) + "post"
      val want = UTF8String.fromString(a)
        .levenshteinDistance(UTF8String.fromString(b), k)
      TextKernels.boundedEdit(a.codePoints.toArray, b.codePoints.toArray, k) == want
    }

  property("edit kernel (Myers path) == Spark DP, emission-heavy, long strings") =
    forAll(Gen.listOfN(6, Gen.choose(0, 200).flatMap(n =>
        Gen.stringOfN(n, Gen.oneOf(Gen.alphaNumChar, Gen.const('\u4e2d'))))),
      Gen.choose(0, 150)) { (texts, k) =>
      import org.apache.spark.unsafe.types.UTF8String
      val docs = texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      val want = (for {
        (a, i) <- docs.zipWithIndex; (b, j) <- docs.zipWithIndex
        if i < j
        d = UTF8String.fromString(a._2)
          .levenshteinDistance(UTF8String.fromString(b._2), k)
        if d >= 0
      } yield (a._1, b._1, d)).toSet
      TextKernels.chunkPairEdits(docs, null, k).toSet == want
    }
}
