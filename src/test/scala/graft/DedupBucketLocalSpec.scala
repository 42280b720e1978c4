package graft

import org.apache.spark.sql.functions._

/** Pins the bucket-local LSH verification (one grouped exchange, pairs
  * verified inside the task) to the textbook formulation it replaced
  * (band-bucket self-join + per-candidate shingle joins): same pair
  * set, bitwise-identical jaccards. The rewrite exists because hot
  * buckets make candidate ROWS quadratic in bucket population and the
  * textbook join ships both shingle arrays on every candidate row
  * (~70 GB of exchange at 500k docs); semantics must not move. */
class DedupBucketLocalSpec extends SparkSpecBase {

  private def textbookPairs(docs: org.apache.spark.sql.DataFrame) = {
    val base = graft.operators.Dedup.signatures(docs).persist()
    val banded = graft.operators.Dedup.bandsOf(base)
    val sh = base.select(col("doc_id"), col("hs"))
    val out = banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("inter", size(array_intersect(col("hs_a"), col("hs_b"))))
      .withColumn("jac",
        col("inter").cast("double") /
        (expr("size(hs_a)") + expr("size(hs_b)") - col("inter")).cast("double"))
      .filter(col("jac") >= expr("0.08")) // Dedup.jacThreshold
      .select("doc_a", "doc_b", "jac")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    base.unpersist()
    out
  }

  test("bucket-local pair verification == textbook band join, bit-exact") {
    import spark.implicits._
    // a hot bucket (exact-dup class), a genuine near-dup pair reachable
    // through SEVERAL bands (distinct() must collapse identical jacs),
    // and unrelated singletons
    val hot = (0L until 40L).map(i =>
      (i, "shared boilerplate navigation header words " * 5 + s" tail$i"))
    val near = Seq(
      (900L, "a modestly different document body with some edits applied here and more text to shingle"),
      (901L, "a modestly different document body with some edits applied there and more text to shingle"))
    val lone = Seq(
      (950L, "completely unrelated text about astronomy detectors and charge transfer"),
      (951L, "another unrelated body mentioning parquet readers and shuffle sizes"))
    val docs = (hot ++ near ++ lone).toDF("doc_id", "text")

    val got = graft.operators.Dedup.nearDupPairs(docs)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(t => (t._1, t._2))
    val want = textbookPairs(docs)

    assert(got.length == want.length,
      s"pair-set size: got ${got.length}, textbook ${want.length}")
    got.zip(want).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2, s"pair mismatch: $g vs $w")
      // IEEE-exact: same intersect kernel, same divide on both paths
      assert(java.lang.Double.doubleToLongBits(g._3) ==
             java.lang.Double.doubleToLongBits(w._3),
        s"jaccard drifted: $g vs $w")
    }
    // the planted near-dup survives; the hot bucket's pairs are present
    assert(got.exists(t => t._1 == 900L && t._2 == 901L))
    assert(got.count(t => t._1 < 40L && t._2 < 40L) > 0)
  }

  /** A bucket hotter than the chunk cap: 40 boilerplate docs share every
    * band bucket; chunkSize = 8 forces 5 chunks → 5 intra rows + 10
    * cross rows per bucket. The capped plan must emit the exact pair set
    * and jaccards of the uncapped one-row-per-bucket plan. */
  test("chunked bucket-local == uncapped plan on a forced mega-bucket") {
    import spark.implicits._
    val hot = (0L until 40L).map(i =>
      (i, "shared boilerplate navigation header words " * 5 + s" tail$i"))
    val near = Seq(
      (900L, "a modestly different document body with some edits applied here and more text to shingle"),
      (901L, "a modestly different document body with some edits applied there and more text to shingle"))
    val docs = (hot ++ near).toDF("doc_id", "text")

    def run(chunk: Int) = {
      val (pairs, base) =
        graft.operators.Dedup.nearDupPairsWithBase(docs, chunkSize = chunk)
      val out = pairs.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
      base.unpersist()
      out
    }
    val capped = run(8)
    val uncapped = run(1 << 20)
    assert(capped.length == uncapped.length,
      s"pair-set size: capped ${capped.length}, uncapped ${uncapped.length}")
    capped.zip(uncapped).foreach { case (g, w) =>
      assert(g._1 == w._1 && g._2 == w._2, s"pair mismatch: $g vs $w")
      assert(java.lang.Double.doubleToLongBits(g._3) ==
             java.lang.Double.doubleToLongBits(w._3), s"jaccard drifted: $g vs $w")
    }
    // the bound the cap exists for: a 120-member bucket split at
    // chunkSize 8 must never put a bucket-sized membership on one row.
    // Chunks are hash-assigned (expected 8, concentrated), so the
    // assertion allows generous imbalance (6×) while still proving the
    // row is chunk-sized, not bucket-sized.
    val big = (0L until 120L).map(i =>
      (i, "shared boilerplate navigation header words " * 5 + s" tail$i"))
      .toDF("doc_id", "text")
    val bigBase = graft.operators.Dedup.signatures(big).persist()
    val maxRow = graft.operators.Dedup.bucketGroups(
        graft.operators.Dedup.bandsOf(bigBase), bigBase.select("doc_id", "hs"), 8)
      .select((size(col("amem")) + size(col("bmem"))).as("m"))
      .agg(max(col("m"))).head().getInt(0)
    bigBase.unpersist()
    assert(maxRow <= 48,
      s"grouped row carries $maxRow members — chunk split not engaging " +
        s"(bucket population is 120; rows must stay chunk-sized)")
  }

  /** The self-probe fast path — d21's within-batch sweep calls the
    * one-sided canonical pairs directly, at half the exchange and half
    * the kernel arithmetic of a two-sided self-probe — must find EXACTLY
    * the pairs `probePairs(sig, sig)` finds, folded onto doc_a < doc_b;
    * the two-sided self-probe keeps its contract: every qualifying
    * ordered pair in both orientations, same-id excluded. */
  test("self-probe fast path == two-sided probe on identical content") {
    import spark.implicits._
    val hot = (0L until 30L).map(i =>
      (i, "shared boilerplate navigation header words " * 5 + s" tail$i"))
    val near = Seq(
      (900L, "a modestly different document body with some edits applied here and more text to shingle"),
      (901L, "a modestly different document body with some edits applied there and more text to shingle"))
    val lone = Seq(
      (950L, "completely unrelated text about astronomy detectors and charge transfer"))
    import graft.operators.Dedup
    val sig = Dedup.signatures(
      (hot ++ near ++ lone).toDF("doc_id", "text")).persist()
    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2, t._3))
    for (chunk <- Seq(1 << 20, 6)) { // plain plan AND forced chunking
      // d21's within-batch step: the one-sided canonical pairs
      val fast = norm(Dedup.oneSidedPairs(Dedup.bandsOf(sig), sig, chunk,
        Dedup.jacThreshold).distinct())
      val twoSided = norm(Dedup.probePairs(sig, sig, chunkSize = chunk))
      // the self-probe keeps the ordered-pair contract: both orientations
      assert(twoSided.map(t => (t._2, t._1, t._3)).sortBy(t => (t._1, t._2, t._3))
        .sameElements(twoSided), s"chunk=$chunk: self-probe not symmetric")
      val folded = twoSided.filter(t => t._1 < t._2)
      assert(fast.length == folded.length,
        s"chunk=$chunk: fast ${fast.length} pairs, two-sided ${folded.length}")
      fast.zip(folded).foreach { case (g, w) =>
        assert(g._1 == w._1 && g._2 == w._2, s"chunk=$chunk pair: $g vs $w")
        assert(java.lang.Double.doubleToLongBits(g._3) ==
               java.lang.Double.doubleToLongBits(w._3),
          s"chunk=$chunk jaccard drifted: $g vs $w")
      }
      assert(!twoSided.exists(t => t._1 == t._2), "self-match leaked")
      assert(fast.exists(t => t._1 == 900L && t._2 == 901L))
    }
    sig.unpersist(): Unit
  }

  /** Batch and store signatures sharing a hot bucket, with ids 10..24
    * redelivered (on both sides, same text), a batch×store near-dup pair
    * (800, 801) and a store-only doc (950). */
  private def probeFixture() = {
    import spark.implicits._
    val mkHot = (r: Range, pfx: String) => r.map(i =>
      (i.toLong, "shared boilerplate navigation header words " * 5 + s" $pfx$i"))
    val batch = (mkHot(0 until 25, "t") ++ Seq(
      (800L, "a modestly different document body with some edits applied here and more text to shingle"))).toDF("doc_id", "text")
    val store = (mkHot(10 until 40, "t") ++ Seq( // ids 10..24 redelivered
      (801L, "a modestly different document body with some edits applied there and more text to shingle"),
      (950L, "completely unrelated store-only text about astronomy detectors and charge transfer"))).toDF("doc_id", "text")
    (graft.operators.Dedup.signatures(batch).persist(),
      graft.operators.Dedup.signatures(store).persist())
  }

  /** Two-sided probe under the cap, including the redelivery case (same
    * doc_id on both sides must not self-match) and a store-only bucket
    * (no batch member, must not affect results). */
  test("chunked two-sided probe == uncapped probe, asymmetric contract kept") {
    val (nSig, sSig) = probeFixture()

    def run(chunk: Int) =
      graft.operators.Dedup.probePairs(nSig, sSig, chunkSize = chunk)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
        .sortBy(t => (t._1, t._2))
    val capped = run(6)
    val uncapped = run(1 << 20)
    assert(capped.length == uncapped.length,
      s"pair-set size: capped ${capped.length}, uncapped ${uncapped.length}")
    capped.zip(uncapped).foreach { case (g, w) =>
      assert(g == w, s"probe pair drifted: $g vs $w")
    }
    // redelivered ids never match themselves; orientation is (new, store)
    assert(!capped.exists(t => t._1 == t._2))
    assert(capped.exists(t => t._1 == 800L && t._2 == 801L))
    assert(!capped.exists(t => t._1 == 801L), "store docs must stay on the right")
    nSig.unpersist(); sSig.unpersist()
  }

  private def bits(df: org.apache.spark.sql.DataFrame) =
    df.collect().map(r => (r.getLong(0), r.getLong(1),
      java.lang.Double.doubleToLongBits(r.getDouble(2)))).sortBy(t => (t._1, t._2))

  /** The streaming probe with its store bands cut to the live buckets
    * (DocStream's pruned mode) composed with the chunk cap must not
    * change the pair set: pruning only removes store bands whose bucket
    * holds no batch member, which pair with nothing. */
  test("batch probe: live store bands == full store bands, capped and uncapped") {
    import graft.operators.Dedup
    val (nSig, sSig) = probeFixture()
    val live = Dedup.liveStoreBands(nSig, sSig)
    assert(live.filter(col("doc_id") === 950L).isEmpty,
      "a store-only bucket survived live-bucket pruning")
    for (chunk <- Seq(6, 1 << 20)) {
      val full = bits(Dedup.batchPairs(nSig, sSig, Dedup.bandsOf(sSig),
        chunkSize = chunk))
      val pruned = bits(Dedup.batchPairs(nSig, sSig, live, chunkSize = chunk))
      assert(full.nonEmpty && pruned.toSeq == full.toSeq,
        s"chunk=$chunk: live-bucket pruning changed the pair set")
      assert(full.exists(t => t._1 == 800L && t._2 == 801L))
      assert(full.forall(t => t._1 < t._2), "pair not in canonical order")
    }
    nSig.unpersist(); sSig.unpersist()
  }

  /** The streaming probe's one pass == what it replaced: the batch's
    * self-probe ∪ its batch×store probe, folded onto (doc_a < doc_b) and
    * deduplicated per pair. Random near-dup families spread over both
    * sides, redelivered ids (same text on both sides) and a hot bucket
    * that chunkSize 6 splits. */
  test("batch probe == self-probe ∪ two-sided probe, folded, random signatures") {
    import spark.implicits._
    import graft.operators.Dedup
    val rnd = new scala.util.Random(20261020L)
    val vocab = (0 until 80).map(i => s"w$i")
    val bases = Seq.fill(12)(Seq.fill(30 + rnd.nextInt(20))(
      vocab(rnd.nextInt(vocab.size))))
    def variant(): String = {
      val w = bases(rnd.nextInt(bases.size)).toArray
      (0 until rnd.nextInt(6)).foreach(_ =>
        w(rnd.nextInt(w.length)) = vocab(rnd.nextInt(vocab.size)))
      w.mkString(" ")
    }
    val hot = (i: Long) =>
      "shared boilerplate navigation header words " * 5 + s" tail$i"
    val storeRows = (0L until 40L).map(i => (i, variant())) ++
      (500L until 512L).map(i => (i, hot(i)))
    // ids 30..39 and 505..511 redelivered with their stored text
    val batchRows = storeRows.filter(r => (30L until 40L).contains(r._1) ||
        (505L until 512L).contains(r._1)) ++
      (100L until 130L).map(i => (i, variant())) ++
      (600L until 608L).map(i => (i, hot(i)))
    val nSig = Dedup.signatures(batchRows.toDF("doc_id", "text")).persist()
    val sSig = Dedup.signatures(storeRows.toDF("doc_id", "text")).persist()
    for (chunk <- Seq(6, 1 << 20)) {
      val one = Dedup.batchPairs(nSig, sSig, Dedup.liveStoreBands(nSig, sSig),
        chunkSize = chunk)
      val twoProbes = Dedup.probePairs(nSig, nSig, chunkSize = chunk)
        .unionByName(Dedup.probePairs(nSig, sSig, chunkSize = chunk))
        .select(least(col("new_doc"), col("dup_of")).as("doc_a"),
          greatest(col("new_doc"), col("dup_of")).as("doc_b"), col("jac"))
        .dropDuplicates("doc_a", "doc_b")
      if (chunk == 6) assert(
        one.queryExecution.analyzed.toString.contains("c_lo"),
        "chunkSize 6 kept the plain plan: the hot bucket was not split")
      val (got, want) = (bits(one), bits(twoProbes))
      assert(got.toSet == want.toSet && got.length == want.length,
        s"chunk=$chunk: ${got.length} pairs vs ${want.length} from the " +
          s"two probes; only in one: ${got.toSet.diff(want.toSet).take(5)}, " +
          s"only in two: ${want.toSet.diff(got.toSet).take(5)}")
      val batchIds = batchRows.map(_._1).toSet
      val storeOnly = storeRows.map(_._1).toSet.diff(batchIds)
      assert(got.exists(t => batchIds(t._1) && batchIds(t._2)),
        "no batch×batch pair: the sample checks nothing there")
      assert(got.exists(t => storeOnly(t._1) || storeOnly(t._2)),
        "no batch×store pair: the sample checks nothing there")
      assert(!got.exists(t => storeOnly(t._1) && storeOnly(t._2)),
        "store×store pair emitted")
    }
    nSig.unpersist(); sSig.unpersist()
  }

  /** The chunk cap's adaptive switch at its threshold: a planted band
    * bucket of exactly n members is NOT oversized at chunkSize = n (plain
    * one-row-per-bucket plan) and IS at chunkSize = n − 1 (chunk-pair
    * plan). Both runs must emit the same pairs with bit-identical
    * jaccards, for the one-sided pairs and the two-sided probe alike. */
  test("chunk cap at n = threshold ± 1: plain and chunk plans agree") {
    import spark.implicits._
    val n = 16
    // boilerplate docs with 1–4 unique tail words: pair jaccards vary, and
    // a doc's signature does not depend on the rest of the corpus, so
    // keeping n members of the pool's largest bucket plants a bucket of
    // exactly n (no other planted doc shares a bucket with them)
    val pool = (0L until 100L).map(i => (i,
      "shared boilerplate navigation header words " * 5 +
        (0 to (i % 4).toInt).map(k => s"t${i}x$k").mkString(" ")))
      .toDF("doc_id", "text")
    val poolBands = graft.operators.Dedup.bandsOf(
      graft.operators.Dedup.signatures(pool))
    val top = poolBands.groupBy("band_id", "bh").count()
      .orderBy(col("count").desc, col("band_id"), col("bh")).head()
    assert(top.getLong(2) >= n, s"pool's largest bucket holds ${top.getLong(2)}")
    val members = poolBands
      .filter(col("band_id") === top.getInt(0) && col("bh") === top.getLong(1))
      .select("doc_id").as[Long].collect().sorted.take(n).toSet
    val docs = pool.filter(col("doc_id").isin(members.toSeq: _*))
      .union(Seq(
        (900L, "a modestly different document body with some edits applied here and more text to shingle"),
        (901L, "a modestly different document body with some edits applied there and more text to shingle"))
        .toDF("doc_id", "text"))
    def maxBucket(bands: org.apache.spark.sql.DataFrame) =
      bands.groupBy("band_id", "bh").count().agg(max(col("count"))).head().getLong(0)

    def norm(df: org.apache.spark.sql.DataFrame) =
      df.collect().map(r => (r.getLong(0), r.getLong(1),
        java.lang.Double.doubleToLongBits(r.getDouble(2)))).sortBy(t => (t._1, t._2))
    def chunked(df: org.apache.spark.sql.DataFrame) =
      df.queryExecution.analyzed.toString.contains("c_lo")
    def agree(run: Int => org.apache.spark.sql.DataFrame): Unit = {
      val plain = run(n)
      val split = run(n - 1)
      assert(!chunked(plain), "chunkSize = n took the chunk plan")
      assert(chunked(split), "chunkSize = n - 1 kept the plain plan")
      val (p, c) = (norm(plain), norm(split))
      assert(p.nonEmpty && p.toSeq == c.toSeq,
        s"plain ${p.length} pairs vs chunked ${c.length}")
    }

    // one-sided: nearDupPairsWithBase
    val sig = graft.operators.Dedup.signatures(docs).persist()
    assert(maxBucket(graft.operators.Dedup.bandsOf(sig)) == n)
    val bases = scala.collection.mutable.Buffer.empty[org.apache.spark.sql.DataFrame]
    agree { chunk =>
      val (pairs, base) =
        graft.operators.Dedup.nearDupPairsWithBase(docs, chunkSize = chunk)
      bases += base
      pairs
    }
    bases.foreach(_.unpersist())
    // two-sided: the planted bucket split across batch and store
    val nSig = sig.filter(col("doc_id") % 2 === 0)
    val sSig = sig.filter(col("doc_id") % 2 =!= 0)
    assert(maxBucket(graft.operators.Dedup.bandsOf(nSig)
      .union(graft.operators.Dedup.bandsOf(sSig))) == n)
    agree(chunk => graft.operators.Dedup.probePairs(nSig, sSig, chunkSize = chunk))
    sig.unpersist(): Unit
  }
}
