package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.{BucketJaccards, TextKernels, TextPrims}
import graft.functions.TextPrims.{DuckD, SparkD, minhashSeeds, P}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deduplication operators for the LLM-data-pipeline extension: exact,
  * prefix-normalized, MinHash signatures, MinHash-LSH candidate pairs,
  * SimHash, and blocked n-gram Jaccard.
  *
  * Scale design (the 100 TB story):
  *   - signatures/fingerprints are per-row Catalyst expressions — a single
  *     scan, no shuffle, codegen'd;
  *   - near-dup *pair* discovery never does an O(n²) cross join: LSH band
  *     keys (d4) or small blocking keys (d6) bound the join fan-out, and
  *     the exact Jaccard check runs only on band-collision candidates —
  *     the classic shingle→minhash→band→bucket-join pipeline;
  *   - all hash arithmetic is exact BIGINT (TextPrims), so the DuckDB
  *     oracle matches bit-for-bit.
  */
object Dedup extends QueryPack {

  // -- d1: exact-duplicate statistics (hash-groupBy shape): one row.
  private val d1ExactStats: Q = (s, dir) => {
    Tables.documents(s, dir).agg(
      count(lit(1)).as("n_docs"),
      countDistinct(col("text")).as("n_distinct"),
      (count(lit(1)) - countDistinct(col("text"))).as("n_exact_dups"))
  }

  private val d1Sql =
    """SELECT count(*) AS n_docs, count(DISTINCT text) AS n_distinct,
      |       count(*) - count(DISTINCT text) AS n_exact_dups
      |FROM documents""".stripMargin

  // -- d2: normalized-prefix dedup groups — dedup on the first 5 tokens
  //    (a common "same doc, different tail" normalization), canonical =
  //    min doc_id per group. One hash-shuffle on the derived key.
  private val d2PrefixDedup: Q = (s, dir) => {
    val toks = TextPrims.tokens("text", SparkD)
    Tables.documents(s, dir)
      .withColumn("pkey",
        expr(s"array_join(slice($toks, 1, 5), '_')"))
      .groupBy("pkey")
      .agg(count(lit(1)).as("n"), min(col("doc_id")).as("canonical_doc"))
      .filter(col("n") > 1)
      .orderBy("pkey")
  }

  private val d2Sql = {
    val toks = TextPrims.tokens("text", DuckD)
    s"""SELECT list_aggregate($toks[1:5], 'string_agg', '_') AS pkey,
       |       count(*) AS n, min(doc_id) AS canonical_doc
       |FROM documents GROUP BY pkey HAVING count(*) > 1 ORDER BY pkey""".stripMargin
  }

  /** Word-2gram shingle hash array, as a dialect fragment (oracle side;
    * the Spark side uses the compiled TextKernels equivalent). */
  private def shingleHashes(d: TextPrims.Dialect): String =
    TextPrims.hashEach(
      TextPrims.wordShingles(TextPrims.tokens("text", d), d), d)

  // -- d3: MinHash signatures — 12 permutation-min hashes per document
  //    over word-2gram shingles. Pure scan + per-row compiled kernel (the
  //    interpreted higher-order-function formulation measured 3× slower
  //    at sf0.1; arithmetic is identical — see TextKernels).
  private val d3MinhashSig: Q = (s, dir) => {
    // Docs with no shingles (<2 tokens) are filtered out BEFORE signing on
    // both engines: the kernel's Long.MaxValue sentinel and SQL list_min's
    // NULL would otherwise diverge (and overflow band arithmetic in d4).
    val base = Tables.documents(s, dir)
      .filter(col("text").rlike(TextKernels.shingledText))
      .withColumn("hs", TextKernels.wordShingleHashesUdf(col("text")))
      .withColumn("sig", TextKernels.minhashFromHashesUdf(col("hs")))
    val sigs = minhashSeeds.indices.map { k =>
      element_at(col("sig"), k + 1).as(s"sig$k")
    }
    base.select(col("doc_id") +: sigs: _*).orderBy("doc_id")
  }

  private val d3Sql = {
    val sigs = minhashSeeds.zipWithIndex.map { case ((a, b), k) =>
      s"${TextPrims.minhashOne("hs", a, b, DuckD)} AS sig$k"
    }
    s"""WITH h AS (SELECT doc_id, ${shingleHashes(DuckD)} AS hs FROM documents)
       |SELECT doc_id, ${sigs.mkString(",\n       ")}
       |FROM h WHERE len(hs) > 0 ORDER BY doc_id""".stripMargin
  }

  // -- d4: MinHash-LSH near-dup pairs — 6 bands × 2 rows: documents
  //    sharing any band bucket become candidates (equi-join on the band
  //    key, never a cross join); candidates get the exact Jaccard check.
  private[graft] val nBands = 6
  private[graft] val jacThreshold = "0.08"

  /** (doc_id, sig, hs) for docs with ≥1 shingle — the MinHash signature
    * table behind d4/d7 and [[CorpusCuration]]. Callers that reference it
    * more than once should persist (the text kernels dominate its cost). */
  def signatures(docs: org.apache.spark.sql.DataFrame,
                 withLen: Boolean = false)
      : org.apache.spark.sql.DataFrame = {
    // `withLen` rides one extra BIGINT on this text scan so a survivor
    // rule (d20) never re-reads the corpus text column. It is OPT-IN
    // because it is not free: carrying it unconditionally was measured
    // at sf10 to slow d10 29.6 → 36.5 s — a tax on every signature
    // consumer to save one query's second scan. Only d20 asks for it.
    // Each document is tokenized once: the emptiness filter reads the
    // text, and `sig` is derived from `hs`.
    val shingleable = docs.filter(col("text").rlike(TextKernels.shingledText))
    val hs = TextKernels.wordShingleHashesUdf(col("text")).as("hs")
    val shingled =
      if (withLen) shingleable.select(col("doc_id"),
        length(col("text")).cast("long").as("len"), hs)
      else shingleable.select(col("doc_id"), hs)
    val keys = shingled.columns.toSeq.filter(_ != "hs").map(col)
    shingled.select(keys ++ Seq(
      TextKernels.minhashFromHashesUdf(col("hs")).as("sig"), col("hs")): _*)
  }

  /** Band keys (doc_id, band_id, bh) from a signature table: candidates
    * travel as compact triples; shingles join back only for survivors. */
  def bandsOf(sigTable: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bandCols = (0 until nBands).map { i =>
      expr(s"struct(CAST($i AS INT) AS band_id, " +
           s"(element_at(sig, ${2 * i + 1})*131 + element_at(sig, ${2 * i + 2})) % $P AS bh)")
    }
    sigTable
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
              col("band.bh").as("bh"))
  }

  /** MinHash-LSH near-duplicate pairs (doc_a < doc_b, exact Jaccard ≥
    * threshold) — d4's machinery as a reusable operator. */
  def nearDupPairs(docs: org.apache.spark.sql.DataFrame,
                   threshold: String = jacThreshold)
      : org.apache.spark.sql.DataFrame =
    nearDupPairsWithBase(docs, threshold)._1

  /** Max members per chunk in bucket-local verification. Bounds the
    * hottest task at ≤ C(2·cap, 2) pair checks and the fattest grouped
    * row at ≤ 2·cap shingle arrays, whatever the bucket population —
    * the r10 plan concentrated a hot bucket's whole C(n,2) in ONE task
    * and one collect_list row (2.3k members → ~2.7M checks at sf10; an
    * adversarial boilerplate bucket would make that a straggler or an
    * OOM on the giant row, where the pre-r10 join degraded by spilling).
    * A hot bucket splits into ⌈n/512⌉ chunks whose intra + pairwise
    * cross rows spread the same C(n,2) arithmetic across ~(n/512)²/2
    * tasks. The machinery is ADAPTIVE at bucket granularity: one cheap
    * driver-side probe (map-side-combined count over the skinny band
    * triples) collects the oversized-bucket keys, and ONLY those
    * buckets route through chunk-pair grouping ([[bucketGroups]]);
    * every other bucket keeps the plain one-row plan. An A/B at
    * sf0.1 measured the always-on window/explode machinery at +14–37%
    * on d4/d10/gr5, and whole-stream chunking at sf1 (2 hot buckets,
    * 916 members max) taxed d21 +45% — the cap must cost nothing where
    * the hazard it bounds is absent. */
  private[graft] val bucketChunkSize = 512

  /** Cap on the driver-side hot-bucket list: 64k (band_id, bh) keys ≈
    * 1 MB broadcast. A corpus with MORE oversized buckets than this
    * falls back to chunking the whole band stream — correct and
    * bounded, just without the cold-path shortcut. */
  private val maxHotBuckets = 65536

  /** Band buckets larger than `chunkSize`, collected to the driver
    * (bounded: at most `maxHotBuckets`+1 keys). `bands` must be the
    * skinny (doc_id, band_id, bh[, …]) rows — the count partial-
    * aggregates map-side, so the probe costs one pass over the
    * (usually cached) signature base. Oversized buckets are the
    * anomaly the chunk cap guards against; on a healthy corpus this
    * list is empty and the caller keeps the plain plan. */
  private def oversizedBuckets(bands: DataFrame,
                               chunkSize: Int): Array[(Int, Long, Int)] =
    bands.groupBy("band_id", "bh").agg(count(lit(1)).as("n"))
      .filter(col("n") > chunkSize)
      .select(col("band_id").cast("int"), col("bh").cast("long"),
        ceil(col("n") / chunkSize.toDouble).cast("int").as("nch"))
      .limit(maxHotBuckets + 1)
      .collect().map(r => (r.getInt(0), r.getLong(1), r.getInt(2)))

  /** Bucket-local grouping with the adaptive chunk cap — the one grouping
    * behind every near-dup verification ([[nearDupPairsWithBase]], both
    * [[probePairs]] paths, [[batchPairs]], the d15/d16 truth sample, d6's
    * kernel plan and d9's edit-distance pairs). `bands` are skinny
    * (doc_id, band_id, bh) rows, side-tagged with `is_new` on the
    * two-sided probes; `members` joins them on the columns both frames
    * carry, and its columns, in order, make each member's struct:
    * (doc_id, hs), or (doc_id, hs, is_new) — the kernel reads the fields
    * by position. Emits grouped (amem, bmem) rows.
    *
    * When the driver probe finds no bucket over `chunkSize` (a healthy
    * corpus), each bucket is ONE row with `bmem` NULL: the kernel verifies
    * all pairs within `amem`. Otherwise an oversized bucket's members are
    * cut into `nch` chunks, and every chunk pair (c_lo ≤ c_hi) becomes ONE
    * grouped row carrying the lower chunk's members in `amem` and (for
    * cross rows) the higher chunk's in `bmem`. The union of per-row pair
    * sets is exactly the bucket's pair set — same candidates as the
    * uncapped plan. Chunks are assigned by hash(doc_id) mod nch — ONE
    * pass, no per-bucket sort, sizes expected-`chunkSize` and sharply
    * concentrated (a row_number formulation bounds them exactly but costs
    * a bucket-keyed window shuffle+sort of the whole band stream; measured
    * +45% on d21 at sf1 for two hot buckets). The hot buckets' broadcast
    * (band_id, bh, nch) rows left-join the band stream in the SAME single
    * pipeline — cold buckets ride through with nch = 1 and keep their one
    * intra row; a two-branch semi/anti split was measured and rejected
    * (the union recomputes the shared band/hs lineage per branch). Past
    * [[maxHotBuckets]] hot buckets, nch is derived for every bucket with
    * one skinny aggregate instead — same pipeline. */
  private[graft] def bucketGroups(bands: DataFrame, members: DataFrame,
                                  chunkSize: Int): DataFrame = {
    val key = members.columns.toSeq.filter(bands.columns.contains)
    val member = struct(members.columns.toSeq.map(col): _*)
    val hot = oversizedBuckets(bands, chunkSize)
    if (hot.isEmpty)
      return bands.join(members, key)
        .groupBy("band_id", "bh")
        .agg(collect_list(member).as("amem"))
        .filter(size(col("amem")) > 1)
        .withColumn("bmem", when(lit(false), col("amem")))
        .select("amem", "bmem")
    val nchDf =
      if (hot.length <= maxHotBuckets) {
        val spark = bands.sparkSession
        import spark.implicits._
        broadcast(hot.toSeq.toDF("band_id", "bh", "nch"))
      } else bands.groupBy("band_id", "bh").agg(
        ceil(count(lit(1)) / chunkSize.toDouble).cast("int").as("nch"))
    bands.join(nchDf, Seq("band_id", "bh"), "left")
      .withColumn("nch", coalesce(col("nch"), lit(1)))
      // bucket-salted chunk hash (ADVICE r11): doc_ids whose plain hash
      // collides into one residue class would re-create the bucket-sized
      // row the cap exists to bound; salting with the bucket key makes a
      // collision class per-bucket instead of corpus-global (the split
      // stays expected-bounded, not exact — the exact row_number form
      // costs a whole-stream window, measured +45% on d21 at sf1)
      .withColumn("chunk",
        pmod(hash(col("doc_id"), col("bh"), col("band_id")), col("nch")))
      .select(key.map(col) ++ Seq(col("band_id"), col("bh"), col("chunk"),
        explode(sequence(lit(0), col("nch") - 1)).as("j")): _*)
      .select(key.map(col) ++ Seq(col("band_id"), col("bh"),
        least(col("chunk"), col("j")).as("c_lo"),
        greatest(col("chunk"), col("j")).as("c_hi"),
        (col("chunk") <= col("j")).as("is_a")): _*)
      .join(members, key)
      .groupBy("band_id", "bh", "c_lo", "c_hi")
      .agg(
        collect_list(when(col("is_a"), member)).as("amem"),
        collect_list(when(!col("is_a"), member)).as("bmem"))
      .filter(size(col("amem")) + size(col("bmem")) > 1)
      // a cross row whose partner chunk came up empty (hash-assigned
      // chunks can be) holds only one side; the kernel would mistake it
      // for an intra row and re-verify the chunk's internal pairs —
      // duplicate work the downstream distinct silently absorbed
      // (ADVICE r11). Intra pairs belong to the (c, c) row alone.
      .filter(col("c_lo") === col("c_hi") ||
        (size(col("amem")) > 0 && size(col("bmem")) > 0))
      .select("amem", "bmem")
  }

  /** The kernel-side Jaccard gate: `threshold`'s value. The verification
    * kernel drops pairs below it before they are emitted, so it must be a
    * plain numeric literal (every caller passes one); a non-literal
    * expression would leave the kernel emitting every candidate pair for
    * the outer SQL filter to drop — a quiet perf trap (ADVICE r12) — so
    * it fails fast instead. */
  private def kernelGate(threshold: String): Double = {
    val v = threshold.toDoubleOption
    require(v.isDefined, "near-dup verification accepts only a literal " +
      s"numeric threshold (the kernel gate needs its value), got: $threshold")
    v.get
  }

  /** One-sided verification: every pair of `sig` docs (doc_id, hs) that
    * shares a bucket of `bands`, as (doc_a < doc_b, jac) with jac ≥
    * `threshold` — [[BucketJaccards]]' canonical mode over members
    * without a side tag. A pair sharing several buckets is emitted once
    * per bucket; callers that need a set add `.distinct()`. */
  private[graft] def oneSidedPairs(bands: DataFrame, sig: DataFrame,
                                   chunkSize: Int,
                                   threshold: String): DataFrame = {
    val minJac = kernelGate(threshold)
    bucketGroups(bands, sig.select(col("doc_id"), col("hs")), chunkSize)
      .select(explode(BucketJaccards.pairs(col("amem"), col("bmem"),
        minJac, chunkSize * 8)).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"),
        col("p._3").as("jac"))
      .filter(col("jac") >= expr(threshold))
  }

  /** [[nearDupPairs]] plus the PERSISTED signature table it builds on —
    * for callers (the graph pack) that release query-local caches once
    * their dimension-sized result is materialized and so need a handle
    * on every cached intermediate, not just their own. */
  def nearDupPairsWithBase(docs: DataFrame,
                           threshold: String = jacThreshold,
                           withLen: Boolean = false,
                           chunkSize: Int = bucketChunkSize)
      : (DataFrame, DataFrame) = {
    // The signature table is referenced 2× (banding + the member join);
    // persisted so the text kernels run once per doc, not twice
    // (the harness clears the cache between queries).
    val base = signatures(docs, withLen).persist()
    // Bucket-LOCAL candidate verification instead of the textbook
    // band-bucket self-join + per-candidate shingle joins: group each
    // bucket's members (id + shingles) and verify pairs inside the
    // task. Same candidates, same exact-Jaccard arithmetic, same
    // distinct'd output — but the shingle arrays move through ONE
    // grouped exchange (once per doc per band, ~3 GB at 500k docs)
    // instead of riding every candidate row (~70 GB there: hot buckets
    // make candidates quadratic in bucket population, and the r10 sf10
    // run spilled that join to disk). Buckets exceeding
    // [[bucketChunkSize]] split into chunk-pair rows ([[bucketGroups]]).
    (oneSidedPairs(bandsOf(base), base, chunkSize, threshold).distinct(),
      base)
  }

  /** Near-dup pairs between a NEW batch's signature table and an
    * EXISTING signature store — the asymmetric probe of d7's
    * [[decontaminate]] and d21 (the streaming ingest path runs
    * [[batchPairs]], which verifies the batch's own pairs in the same
    * pass). Band-key equi-join (batch bands × store bands, never
    * store×store), exact Jaccard on collisions only; output (new_doc,
    * dup_of, jac) — [[BucketJaccards]]' oriented mode.
    * Same-id rows are excluded so a batch whose signatures were already
    * upserted into the store does not match itself on redelivery. A
    * self-probe `probePairs(sig, sig)` keeps this contract (both
    * orientations of each pair); a caller that wants each pair once
    * runs the one-sided [[oneSidedPairs]], as d21's within-batch step
    * does. */
  def probePairs(newSig: DataFrame,
                 storeSig: DataFrame,
                 threshold: String = jacThreshold,
                 chunkSize: Int = bucketChunkSize)
      : DataFrame = {
    val minJac = kernelGate(threshold)
    sidedGroups(newSig, storeSig, bandsOf(storeSig), chunkSize)
      .select(explode(BucketJaccards.pairs(col("amem"), col("bmem"),
        minJac, chunkSize * 8, oriented = true)).as("p"))
      .select(col("p._1").as("new_doc"), col("p._2").as("dup_of"),
        col("p._3").as("jac"))
      .filter(col("jac") >= expr(threshold))
      .distinct()
  }

  /** The grouped bucket rows of a two-sided probe: the batch's bands
    * (`is_new` true) ∪ `storeBands` (`is_new` false, `storeSig`'s band
    * rows or a subset of them), members `struct(doc_id, hs, is_new)`.
    *
    * Bucket-LOCAL verification, the [[nearDupPairsWithBase]] discipline
    * on the two-sided probe: each bucket's COMBINED membership (both
    * sides, side-tagged) is grouped per bucket, so the shingle arrays
    * cross ONE grouped exchange instead of riding every candidate row
    * through two per-candidate joins (the textbook shape this replaced
    * went bimodal-slow at sf10's dup-dense corpus), chunk-capped like
    * the one-sided plan ([[bucketGroups]]) so no single task owns a hot
    * bucket's full new×store product. The shingle join is ONE join
    * keyed (doc_id, is_new) against the side-tagged union of both
    * signature tables: the same doc_id can appear on both sides (a
    * redelivered batch already upserted into the store), and a per-side
    * join pair would compute the band pipeline twice. */
  private def sidedGroups(newSig: DataFrame, storeSig: DataFrame,
                          storeBands: DataFrame, chunkSize: Int): DataFrame =
    bucketGroups(
      bandsOf(newSig).withColumn("is_new", lit(true))
        .unionByName(storeBands.withColumn("is_new", lit(false))),
      newSig.select(col("doc_id"), col("hs"), lit(true).as("is_new"))
        .unionByName(storeSig.select(col("doc_id"), col("hs"),
          lit(false).as("is_new"))),
      chunkSize)

  /** The STORE's band rows whose bucket holds a batch member — the only
    * store bands that can pair with the batch. On a serving probe (small
    * mostly-novel batch × huge store — DocStream's shape) almost every
    * store bucket holds none, and without this cut every store doc's
    * shingle array rides the grouping exchange 6× to be aggregated into
    * rows the kernel immediately discards. Shuffle-free on the store
    * side: the batch's distinct bucket keys (batch-sized by the serving
    * contract) BROADCAST against one pass over the store bands, so the
    * store stream never shuffles (a first cut aggregated liveness over
    * the unioned band stream and shuffled the store's whole skinny
    * triple set per probe). Their count over the store's rows × [[nBands]]
    * is the live-bucket fraction behind DocStream's adaptive pruning. */
  def liveStoreBands(newSig: DataFrame, storeSig: DataFrame): DataFrame =
    bandsOf(storeSig).join(
      broadcast(bandsOf(newSig).select("band_id", "bh").distinct()),
      Seq("band_id", "bh"), "left_semi")

  /** A micro-batch's near-dup hits in ONE probe: every pair with at
    * least one batch member — batch × batch and batch × store, never
    * store × store — as (doc_a < doc_b, jac), one row per pair.
    * `storeBands` are `storeSig`'s band rows: all of them
    * ([[bandsOf]]) or only the live ones ([[liveStoreBands]]) — the pair
    * set is the same, since a store band whose bucket holds no batch
    * member pairs with nothing. Both sides' bands are grouped by ONE
    * [[bucketGroups]] call (one hot-bucket probe, one grouping exchange)
    * and verified by the canonical mode of [[BucketJaccards]], which
    * emits each pair in canonical order — so the same pair found in
    * several buckets, or from both copies of a redelivered doc, folds in
    * one `dropDuplicates`. Equal ids are skipped, so a redelivered batch
    * does not match its own stored signatures. Same pair set as the
    * self-probe ∪ two-sided probe ([[probePairs]] twice), folded the
    * same way, at one exchange and one hot-bucket probe instead of two. */
  def batchPairs(newSig: DataFrame, storeSig: DataFrame,
                 storeBands: DataFrame,
                 threshold: String = jacThreshold,
                 chunkSize: Int = bucketChunkSize): DataFrame = {
    val minJac = kernelGate(threshold)
    sidedGroups(newSig, storeSig, storeBands, chunkSize)
      .select(explode(BucketJaccards.pairs(col("amem"), col("bmem"),
        minJac, chunkSize * 8)).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"),
        col("p._3").as("jac"))
      .dropDuplicates("doc_a", "doc_b")
  }

  /** Training docs near-duplicating any held-out doc: one row per flagged
    * train doc with match count and max Jaccard — d7's machinery over two
    * corpora (train ⋈ eval band join, never train ⋈ train). */
  def decontaminate(train: org.apache.spark.sql.DataFrame,
                    heldOut: org.apache.spark.sql.DataFrame,
                    threshold: String = jacThreshold)
      : org.apache.spark.sql.DataFrame = {
    // One bucket-local probe (the [[probePairs]] machinery — train and
    // eval corpora are disjoint, so the probe's same-id exclusion is
    // vacuous here) then a per-train-doc rollup of its matches.
    val trainSig = signatures(train).persist()
    val evalSig = signatures(heldOut).persist()
    probePairs(trainSig, evalSig, threshold)
      .groupBy(col("new_doc").as("train_doc"))
      .agg(count(lit(1)).as("n_matches"), max(col("jac")).as("max_jac"))
  }

  /** The shingle→signature→band CTE chain over an arbitrary source CTE
    * `src` (which must expose doc_id + text), with caller-chosen prefix
    * so several chains can coexist in one oracle query (the curation
    * funnel runs two: train-side and held-out-side). Emits three CTE
    * definitions `${pfx}h` / `${pfx}sg` / `${pfx}bd`; callers join bands
    * on `${pfx}bd` and shingle sets on `${pfx}sg`. */
  private[operators] def lshCtes(src: String, pfx: String): String = {
    val sigs = minhashSeeds.zipWithIndex.map { case ((a, b), k) =>
      s"${TextPrims.minhashOne("hs", a, b, DuckD)} AS sig$k"
    }
    val bandSelects = (0 until nBands).map { i =>
      s"SELECT doc_id, $i AS band_id, (sig${2 * i}*131 + sig${2 * i + 1}) % $P AS bh FROM ${pfx}sg"
    }
    s"""${pfx}h AS (
       |  SELECT doc_id, list_distinct(${shingleHashes(DuckD)}) AS hs FROM $src),
       |${pfx}sg AS (SELECT doc_id, hs, ${sigs.mkString(",\n       ")}
       |       FROM ${pfx}h WHERE len(hs) > 0),
       |${pfx}bd AS (${bandSelects.mkString("\n  UNION ALL\n  ")})""".stripMargin
  }

  private val d4LshPairs: Q = (s, dir) =>
    nearDupPairs(Tables.documents(s, dir)).orderBy("doc_a", "doc_b")

  /** The d4 CTE chain (shingles → signatures → bands → candidates →
    * exact Jaccard), shared by the d4 and d10 oracles. */
  private[operators] val d4Ctes = {
    val sigs = minhashSeeds.zipWithIndex.map { case ((a, b), k) =>
      s"${TextPrims.minhashOne("hs", a, b, DuckD)} AS sig$k"
    }
    val bandSelects = (0 until nBands).map { i =>
      s"SELECT doc_id, sh, $i AS band_id, (sig${2 * i}*131 + sig${2 * i + 1}) % $P AS bh FROM sigs"
    }
    s"""h AS (
       |  SELECT doc_id,
       |         list_distinct(${shingleHashes(DuckD)}) AS hs
       |  FROM documents),
       |sigs AS (SELECT doc_id, hs AS sh, ${sigs.mkString(",\n       ")}
       |         FROM h WHERE len(hs) > 0),
       |banded AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT c.doc_a, c.doc_b,
       |         len(list_intersect(sa.sh, sb.sh)) AS inter,
       |         len(sa.sh) AS na, len(sb.sh) AS nb
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.doc_a
       |  JOIN sigs sb ON sb.doc_id = c.doc_b)""".stripMargin
  }

  private val d4Sql =
    s"""WITH $d4Ctes
       |SELECT doc_a, doc_b,
       |       CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE) AS jac
       |FROM j
       |WHERE CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE) >= $jacThreshold
       |ORDER BY doc_a, doc_b""".stripMargin

  // -- d10: transitive near-dup clusters — connected components over the
  //    d4 pair graph, labeling every involved doc with the smallest
  //    doc_id in its component. This is what near-dedup actually needs
  //    at corpus scale: pair output alone can't collapse a chain
  //    A~B~C where A≁C (the greedy drop-the-greater-id rule keeps or
  //    drops the wrong docs on such chains — see CorpusCuration). The
  //    Spark side is Graph.connectedComponents (iterative min-label
  //    propagation + path halving, no driver-side union-find); the
  //    oracle replays the closure as a recursive CTE.
  private val d10DupClusters: Q = (s, dir) => {
    // Persisted: connectedComponents symmetrizes the edge list with a
    // two-branch union, and each branch would otherwise re-run the whole
    // LSH band join + Jaccard pipeline.
    val pairs = nearDupPairs(Tables.documents(s, dir))
      .select("doc_a", "doc_b")
      .persist()
    val comp = Graph.connectedComponents(pairs, "doc_a", "doc_b")
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "component")
      .select(col("id").as("doc_id"), col("component").as("cluster_id"),
        col("cluster_size"))
      .orderBy("doc_id")
  }

  private val d10Sql =
    s"""WITH RECURSIVE $d4Ctes,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM j
       |  WHERE CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE) >= $jacThreshold),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (
       |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
       |  FROM reach GROUP BY a)
       |SELECT doc_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp ORDER BY doc_id""".stripMargin

  // -- d20: near-dup SURVIVORSHIP — the decision step real dedup ships:
  //    one canonical document per d10 cluster, everything else marked
  //    dropped. Survivor rule: longest text, ties to the smallest
  //    doc_id — integer-only (the engine's exactness rule: a float
  //    quality score could rank-flip across engines at the last ulp),
  //    and computed as ONE associative max(struct(len, -doc_id))
  //    aggregate instead of a per-cluster window sort: the partial max
  //    runs map-side, so the survivor pick adds only a cluster-id-sized
  //    exchange to the labeling d10 already pays — not a corpus-wide
  //    sort. At 100 TB the output is cluster-count-sized (the kept-set
  //    manifest a curation pipeline joins back against the corpus).
  private val d20Survivorship: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val (rawPairs, base) = nearDupPairsWithBase(docs, withLen = true)
    val pairs = rawPairs.select("doc_a", "doc_b").persist()
    val comp = Graph.connectedComponents(pairs, "doc_a", "doc_b")
    // lengths come off the PERSISTED signature base (one text scan for
    // the whole query): cluster members all have signatures, so the
    // base covers every id comp can emit.
    val lens = base.select(col("doc_id"), col("len"))
    comp.join(lens, comp("id") === lens("doc_id"))
      .groupBy(col("component").as("cluster_id"))
      .agg(count(lit(1)).as("cluster_size"),
        max(struct(col("len"), (-col("doc_id")).as("nid"))).as("m"))
      .select(col("cluster_id"), (-col("m.nid")).as("kept_doc"),
        col("m.len").as("kept_len"), col("cluster_size"),
        (col("cluster_size") - 1).as("n_dropped"))
      .orderBy("cluster_id")
  }

  // The oracle replays d10's closure, then picks the survivor with a
  // window rank — the semantic spec the one-aggregate engine plan must
  // reproduce exactly.
  private val d20Sql =
    s"""WITH RECURSIVE $d4Ctes,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM j
       |  WHERE CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE) >= $jacThreshold),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM pairs
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (
       |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster_id
       |  FROM reach GROUP BY a),
       |scored AS (
       |  SELECT c.cluster_id, c.doc_id, CAST(length(d.text) AS BIGINT) AS len
       |  FROM comp c JOIN documents d ON d.doc_id = c.doc_id),
       |ranked AS (
       |  SELECT cluster_id, doc_id, len,
       |         row_number() OVER (PARTITION BY cluster_id
       |                            ORDER BY len DESC, doc_id) AS rn,
       |         count(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |  FROM scored)
       |SELECT cluster_id, doc_id AS kept_doc, len AS kept_len,
       |       cluster_size, cluster_size - 1 AS n_dropped
       |FROM ranked WHERE rn = 1 ORDER BY cluster_id""".stripMargin

  // -- d21: INCREMENTAL batch admission — the ingest decision a growing
  //    corpus makes for every new crawl batch (the batch face of
  //    streaming/DocStream): (1) a new doc near-duplicating the EXISTING
  //    corpus is rejected outright (dup_of_corpus, pointing at its
  //    smallest corpus match); (2) the corpus-clean survivors are
  //    near-dup-clustered WITHIN the batch and one canonical per cluster
  //    is admitted (min doc_id — d20's tiebreak), the rest rejected as
  //    dup_in_batch. Split here: existing = doc_id % 4 != 0, batch =
  //    % 4 == 0.
  //    Scale shape: the corpus side is touched ONLY through its
  //    signature table (in production the persisted DocStream/
  //    MergeWriter store — never re-shingled) and the band join is
  //    new×corpus, so the per-batch cost is |batch| signing + banded
  //    candidates, independent of corpus text volume. The within-batch
  //    step runs on the batch's survivors only.
  //    The ORACLE derives the same statuses from the WHOLE-corpus pair
  //    closure filtered by subset membership (signatures are per-doc, so
  //    subset banding ≡ whole-corpus banding restricted to the subsets) —
  //    a structurally different formulation, which is exactly what makes
  //    the cross-engine hash a strong check.
  private val d21IncrementalAdmit: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    val batch = docs.filter(col("doc_id") % 4 === 0)
    val sigE = signatures(docs.filter(col("doc_id") % 4 =!= 0)).persist()
    val sigN = signatures(batch).persist()
    val corpusHit = probePairs(sigN, sigE)
      .groupBy(col("new_doc").as("doc_id"))
      .agg(min(col("dup_of")).as("corpus_canon"))
      .persist()
    val cleanSig = sigN
      .join(corpusHit.select("doc_id"), Seq("doc_id"), "left_anti")
      .persist()
    val within = oneSidedPairs(bandsOf(cleanSig), cleanSig, bucketChunkSize,
        jacThreshold)
      .select("doc_a", "doc_b")
      .distinct()
      .persist()
    val comp = Graph.connectedComponents(within, "doc_a", "doc_b")
      .select(col("id").as("doc_id"), col("component"))
    batch.select(col("doc_id"))
      .join(corpusHit, Seq("doc_id"), "left_outer")
      .join(comp, Seq("doc_id"), "left_outer")
      .select(col("doc_id"),
        when(col("corpus_canon").isNotNull, lit("dup_of_corpus"))
          .when(col("component").isNotNull &&
                col("component") =!= col("doc_id"), lit("dup_in_batch"))
          .otherwise(lit("admitted")).as("status"),
        coalesce(col("corpus_canon"),
          when(col("component") =!= col("doc_id"), col("component")),
          col("doc_id")).as("canonical"))
      .orderBy("doc_id")
  }

  private val d21Sql =
    s"""WITH RECURSIVE $d4Ctes,
       |pairs AS (
       |  SELECT doc_a, doc_b FROM j
       |  WHERE CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE) >= $jacThreshold),
       |newdocs AS (SELECT doc_id FROM documents WHERE doc_id % 4 = 0),
       |corpus_hit AS (
       |  SELECT n, MIN(e) AS corpus_canon FROM (
       |    SELECT doc_a AS n, doc_b AS e FROM pairs
       |    WHERE doc_a % 4 = 0 AND doc_b % 4 <> 0
       |    UNION ALL
       |    SELECT doc_b AS n, doc_a AS e FROM pairs
       |    WHERE doc_b % 4 = 0 AND doc_a % 4 <> 0)
       |  GROUP BY n),
       |batch_edges AS (
       |  SELECT doc_a, doc_b FROM pairs
       |  WHERE doc_a % 4 = 0 AND doc_b % 4 = 0
       |    AND doc_a NOT IN (SELECT n FROM corpus_hit)
       |    AND doc_b NOT IN (SELECT n FROM corpus_hit)),
       |edges AS (
       |  SELECT doc_a AS a, doc_b AS b FROM batch_edges
       |  UNION ALL
       |  SELECT doc_b AS a, doc_a AS b FROM batch_edges),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a),
       |comp AS (
       |  SELECT a AS doc_id, LEAST(a, MIN(b)) AS component
       |  FROM reach GROUP BY a)
       |SELECT n.doc_id,
       |       CASE WHEN ch.n IS NOT NULL THEN 'dup_of_corpus'
       |            WHEN c.component IS NOT NULL AND c.component <> n.doc_id
       |              THEN 'dup_in_batch'
       |            ELSE 'admitted' END AS status,
       |       COALESCE(ch.corpus_canon,
       |                CASE WHEN c.component <> n.doc_id THEN c.component END,
       |                n.doc_id) AS canonical
       |FROM newdocs n
       |LEFT JOIN corpus_hit ch ON ch.n = n.doc_id
       |LEFT JOIN comp c ON c.doc_id = n.doc_id
       |ORDER BY n.doc_id""".stripMargin

  // -- d15: LSH recall audit — what fraction of TRUE near-dup pairs
  //    (exact Jaccard ≥ threshold) does the banded candidate generation
  //    actually surface? d4 measures precision implicitly (its exact
  //    re-check discards false candidates) but says nothing about the
  //    pairs banding never proposed — the silent quality risk of every
  //    production LSH dedup. Ground truth needs all-pairs exact
  //    Jaccard, which is quadratic BY NATURE, so the audit prices it on
  //    a FIXED-SIZE deterministic sample: the bottom-k doc_ids (k =
  //    d15SampleK) under md5 order (a hash-uniform draw both engines compute
  //    identically, no shipped state). A fixed cap — not a proportional
  //    1-in-k — is the load-bearing choice at scale: a proportional
  //    sample keeps the all-pairs truth side O((n/k)²), still quadratic,
  //    so at 100 TB the audit itself would never finish; the cap makes
  //    the truth cost a CONSTANT (~k²/2 pairs) at any corpus size, while
  //    the sample stays corpus-representative because md5 order is
  //    independent of content. The banding side reuses the production
  //    bandsOf machinery unchanged, and recall transfers because banding
  //    sees each pair independently. Spark plans the bottom-k as a
  //    TakeOrderedAndProject — per-partition top-k then one k-row merge,
  //    never a full sort. One output row: sample size, truth pairs,
  //    caught pairs, recall (an exact-integer ratio — same IEEE divide
  //    both engines).
  //    What it reveals on this corpus: recall ≈ 5–8%. That is the
  //    banding S-curve speaking — P(candidate) = 1−(1−j^2)^6 is ~4% at
  //    j = 0.08 and only crosses 50% near j ≈ 0.32 — i.e. d4's exact
  //    threshold (0.08) sits far below the 6-band×2-row operating
  //    point, so d4-as-configured is a precision tool over strong dups,
  //    not an exhaustive catalog of weak ones. Exactly the distinction
  //    a production dedup needs made visible before anyone trusts
  //    "no near-dups remain" at 100 TB.
  private val d15SampleK = 1000

  /** The audit's fixed-size document sample: bottom-[[d15SampleK]] doc_ids
    * under md5 order (ties impossible in practice; doc_id breaks them
    * deterministically anyway). Shared by d15 and d16 so both audits
    * price the same truth set. */
  private def d15Sample(s: org.apache.spark.sql.SparkSession, dir: String) =
    Tables.documents(s, dir)
      .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))
      .limit(d15SampleK)

  /** The matching DuckDB-side sample subquery (same md5 bottom-k). */
  private val d15SampleSql =
    s"(SELECT * FROM documents ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id LIMIT $d15SampleK) documents"

  /** All-pairs exact-Jaccard ground truth over the FIXED-size audit
    * sample (pairs with jac ≥ threshold, doc_a < doc_b) — computed by
    * the one-sided bucket kernel over ONE synthetic bucket holding the
    * whole sample. The join formulation it replaces materialized all
    * C(k,2) candidate rows (500k rows at k = 1000) and shipped BOTH
    * shingle arrays on every row through two joins before the per-row
    * UDF; here the arrays cross once inside ~(k/cap)²/2 chunk-pair
    * grouped rows and the same intersect arithmetic runs inside the
    * task (same kernel + same threshold gate as d4's verification, so
    * the pair set is bit-identical — DedupBucketLocalSpec pins the
    * kernel against the textbook join, and both audits' oracles hash
    * the resulting counts). */
  private[graft] def sampleTruthPairs(base: org.apache.spark.sql.DataFrame,
                                      threshold: String)
      : org.apache.spark.sql.DataFrame = {
    // cap 128 (vs the production 512): the sample is a single synthetic
    // bucket of k = 1000 members, and a smaller chunk spreads its C(k,2)
    // checks over ~36 grouped rows instead of 3 — parallelism for a
    // fixed-size task, not a scale knob. One bucket: no pair repeats.
    val oneBucket = base.select(col("doc_id"), lit(0).as("band_id"),
      lit(0L).as("bh"))
    oneSidedPairs(oneBucket, base, 128, threshold).select("doc_a", "doc_b")
  }

  private val d15LshRecall: Q = (s, dir) => {
    val sub = d15Sample(s, dir)
    val base = signatures(sub).persist()
    val truth = sampleTruthPairs(base, jacThreshold)
    val banded = bandsOf(base)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
      .withColumn("hit", lit(1L))
    val nDocs = base.groupBy().agg(count(lit(1)).as("n_docs"))
    truth.join(cand, Seq("doc_a", "doc_b"), "left")
      .groupBy()
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("hit"), lit(0L))).as("n_caught"))
      .crossJoin(broadcast(nDocs))
      .select(col("n_docs"), col("n_truth"), col("n_caught"),
        (col("n_caught").cast("double") / col("n_truth").cast("double"))
          .as("recall"))
  }

  private val d15Sql = {
    val sigs = minhashSeeds.zipWithIndex.map { case ((a, b), k) =>
      s"${TextPrims.minhashOne("hs", a, b, DuckD)} AS sig$k"
    }
    val bandSelects = (0 until nBands).map { i =>
      s"SELECT doc_id, $i AS band_id, (sig${2 * i}*131 + sig${2 * i + 1}) % $P AS bh FROM s"
    }
    s"""WITH h AS (
       |  SELECT doc_id, ${shingleHashes(DuckD)} AS hs
       |  FROM $d15SampleSql),
       |s AS (SELECT doc_id, hs, ${sigs.mkString(",\n       ")}
       |      FROM h WHERE len(hs) > 0),
       |truth AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |        CAST(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))
       |          AS DOUBLE) >= $jacThreshold),
       |banded AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.bh = b.bh
       |   AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT t.doc_a, t.doc_b,
       |         CASE WHEN c.doc_a IS NOT NULL THEN 1 ELSE 0 END AS hit
       |  FROM truth t LEFT JOIN cand c
       |    ON c.doc_a = t.doc_a AND c.doc_b = t.doc_b)
       |SELECT (SELECT count(*) FROM s) AS n_docs,
       |       count(*) AS n_truth,
       |       CAST(sum(hit) AS BIGINT) AS n_caught,
       |       CAST(sum(hit) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall
       |FROM j""".stripMargin
  }

  // -- d16: banding TUNED from d15's finding — the re-measure half of the
  //    audit loop. d15 shows 6-band×2-row banding recalls only ~5–8% of
  //    true pairs at the 0.08 threshold (its S-curve knee sits at
  //    j₅₀ ≈ 0.32). The fix a production dedup reaches for is not more
  //    hashes but a re-slice of the SAME 12 minhashes: 12 bands × 1 row
  //    moves the candidate probability to 1−(1−j)¹², ≈63% at j = 0.08 —
  //    at the price of more candidates (r=1 buckets on raw minhash values
  //    collide far more often). This query prices BOTH configurations on
  //    d15's sample in one row: recall and candidate volume, side by
  //    side — the measurement that justifies (or vetoes) the retune
  //    before anyone re-runs a 100 TB dedup. Signatures are computed
  //    once; only the banding differs.
  /** r=1 banding: each of the 12 minhash values IS a band key. */
  private def bandsR1(sigTable: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val bandCols = minhashSeeds.indices.map { i =>
      expr(s"struct(CAST($i AS INT) AS band_id, element_at(sig, ${i + 1}) AS bh)")
    }
    sigTable.select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
              col("band.bh").as("bh"))
  }

  private val d16LshTuned: Q = (s, dir) => {
    val sub = d15Sample(s, dir)
    val base = signatures(sub).persist()
    val truth = sampleTruthPairs(base, jacThreshold)
    def candsFrom(banded: org.apache.spark.sql.DataFrame)
        : org.apache.spark.sql.DataFrame =
      banded.as("a").join(banded.as("b"),
          col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
          col("a.doc_id") < col("b.doc_id"))
        .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
        .distinct()
    // each candidate set is read twice (count + recall join) — persist so
    // the band self-join runs once per configuration
    val c62 = candsFrom(bandsOf(base)).persist()
    val c121 = candsFrom(bandsR1(base)).persist()
    val n62 = c62.groupBy().agg(count(lit(1)).as("n_cand_6x2"))
    val n121 = c121.groupBy().agg(count(lit(1)).as("n_cand_12x1"))
    truth
      .join(c62.withColumn("h62", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .join(c121.withColumn("h121", lit(1L)), Seq("doc_a", "doc_b"), "left")
      .groupBy()
      .agg(count(lit(1)).as("n_truth"),
        sum(coalesce(col("h62"), lit(0L))).as("n_caught_6x2"),
        sum(coalesce(col("h121"), lit(0L))).as("n_caught_12x1"))
      .crossJoin(broadcast(n62))
      .crossJoin(broadcast(n121))
      .select(col("n_truth"),
        col("n_cand_6x2"), col("n_caught_6x2"),
        (col("n_caught_6x2").cast("double") / col("n_truth").cast("double"))
          .as("recall_6x2"),
        col("n_cand_12x1"), col("n_caught_12x1"),
        (col("n_caught_12x1").cast("double") / col("n_truth").cast("double"))
          .as("recall_12x1"))
  }

  private val d16Sql = {
    val sigs = minhashSeeds.zipWithIndex.map { case ((a, b), k) =>
      s"${TextPrims.minhashOne("hs", a, b, DuckD)} AS sig$k"
    }
    val bandSelects62 = (0 until nBands).map { i =>
      s"SELECT doc_id, $i AS band_id, (sig${2 * i}*131 + sig${2 * i + 1}) % $P AS bh FROM s"
    }
    val bandSelects121 = minhashSeeds.indices.map { i =>
      s"SELECT doc_id, $i AS band_id, sig$i AS bh FROM s"
    }
    s"""WITH h AS (
       |  SELECT doc_id, ${shingleHashes(DuckD)} AS hs
       |  FROM $d15SampleSql),
       |s AS (SELECT doc_id, hs, ${sigs.mkString(",\n       ")}
       |      FROM h WHERE len(hs) > 0),
       |truth AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM s a JOIN s b ON a.doc_id < b.doc_id
       |  WHERE CAST(len(list_intersect(a.hs, b.hs)) AS DOUBLE) /
       |        CAST(len(a.hs) + len(b.hs) - len(list_intersect(a.hs, b.hs))
       |          AS DOUBLE) >= $jacThreshold),
       |banded62 AS (${bandSelects62.mkString("\n  UNION ALL\n  ")}),
       |cand62 AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded62 a JOIN banded62 b
       |    ON a.band_id = b.band_id AND a.bh = b.bh
       |   AND a.doc_id < b.doc_id),
       |banded121 AS (${bandSelects121.mkString("\n  UNION ALL\n  ")}),
       |cand121 AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded121 a JOIN banded121 b
       |    ON a.band_id = b.band_id AND a.bh = b.bh
       |   AND a.doc_id < b.doc_id),
       |j AS (
       |  SELECT t.doc_a, t.doc_b,
       |         CASE WHEN c1.doc_a IS NOT NULL THEN 1 ELSE 0 END AS h62,
       |         CASE WHEN c2.doc_a IS NOT NULL THEN 1 ELSE 0 END AS h121
       |  FROM truth t
       |  LEFT JOIN cand62 c1 ON c1.doc_a = t.doc_a AND c1.doc_b = t.doc_b
       |  LEFT JOIN cand121 c2 ON c2.doc_a = t.doc_a AND c2.doc_b = t.doc_b)
       |SELECT count(*) AS n_truth,
       |       (SELECT count(*) FROM cand62) AS n_cand_6x2,
       |       CAST(sum(h62) AS BIGINT) AS n_caught_6x2,
       |       CAST(sum(h62) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_6x2,
       |       (SELECT count(*) FROM cand121) AS n_cand_12x1,
       |       CAST(sum(h121) AS BIGINT) AS n_caught_12x1,
       |       CAST(sum(h121) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS recall_12x1
       |FROM j""".stripMargin
  }

  // -- d17: containment near-dups — the ASYMMETRIC overlap d4's Jaccard
  //    structurally misses: a short document pasted inside a much longer
  //    one has |A∩B|/|A| ≈ 1 but Jaccard |A∩B|/|A∪B| ≈ |A|/|B|, far
  //    below any sane symmetric threshold (the crawl-dedup case: boiler-
  //    plate page wrapping a syndicated article). Same banded candidate
  //    generation — containment ≥ c implies Jaccard ≥ c·|A|/|B| > 0, so
  //    strongly-contained pairs still collide in minhash bands often
  //    enough to surface — then the exact check scores |∩|/min(|A|,|B|) and reports the 15
  //    strongest containment pairs among those d4 does NOT already
  //    report (jac < threshold) — the extra coverage, rank-ordered.
  //    Output keeps only pairs d4 does NOT report (jac < threshold):
  //    this query is precisely the extra coverage.
  private val d17Containment: Q = (s, dir) => {
    val base = signatures(Tables.documents(s, dir)).persist()
    val banded = bandsOf(base)
    val cand = banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sh = base.select(col("doc_id"), col("hs"))
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("hs").as("hs_a")), "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("hs").as("hs_b")), "doc_b")
      .withColumn("inter", TextKernels.intersectCountUdf(col("hs_a"), col("hs_b")))
      .withColumn("n_a", expr("size(hs_a)").cast("long"))
      .withColumn("n_b", expr("size(hs_b)").cast("long"))
      .withColumn("containment",
        col("inter").cast("double") /
        least(col("n_a"), col("n_b")).cast("double"))
      .withColumn("jac",
        col("inter").cast("double") /
        (col("n_a") + col("n_b") - col("inter")).cast("double"))
      .filter(col("jac") < expr(jacThreshold))
      .select("doc_a", "doc_b", "n_a", "n_b", "containment")
      .orderBy(col("containment").desc, col("doc_a"), col("doc_b"))
      .limit(15)
  }

  private val d17Sql =
    s"""WITH ${lshCtes("documents", "t")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM tbd a JOIN tbd b
       |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |sc AS (
       |  SELECT c.doc_a, c.doc_b,
       |         len(list_intersect(sa.hs, sb.hs)) AS inter,
       |         len(sa.hs) AS n_a, len(sb.hs) AS n_b
       |  FROM cand c
       |  JOIN tsg sa ON sa.doc_id = c.doc_a
       |  JOIN tsg sb ON sb.doc_id = c.doc_b)
       |SELECT doc_a, doc_b, CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
       |       CAST(inter AS DOUBLE) / CAST(least(n_a, n_b) AS DOUBLE) AS containment
       |FROM sc
       |WHERE CAST(inter AS DOUBLE) / CAST(n_a + n_b - inter AS DOUBLE) < $jacThreshold
       |ORDER BY containment DESC, doc_a, doc_b LIMIT 15""".stripMargin

  // -- d5: SimHash — 16-bit majority-vote fingerprint over token hashes
  //    (frequency-sensitive, order-insensitive); near-identical docs land
  //    at small Hamming distance.
  private val d5Simhash: Q = (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("simhash16", TextKernels.simhash16Udf(col("text")))
      .select("doc_id", "simhash16")
      .orderBy("doc_id")
  }

  private val d5Sql = {
    val th = TextPrims.hashEach(TextPrims.tokens("text", DuckD), DuckD)
    s"""WITH h AS (SELECT doc_id, $th AS th FROM documents)
       |SELECT doc_id, ${TextPrims.simhash16("th", DuckD)} AS simhash16
       |FROM h ORDER BY doc_id""".stripMargin
  }

  // -- d6: char-3-gram Jaccard near-dups within (lang, source), with
  //    candidate generation by MinHash-LSH bands over char-7-gram
  //    minhashes (d4's machinery on a longer shingle space). Round 1
  //    blocked only on (lang, source): block sizes grow O(n) with the
  //    corpus, so the within-block self-join was O(n²) — the bands bound
  //    fan-out independent of corpus size. Banding uses 7-grams (generic
  //    same-language prose shares ~0.3 of its 3-grams, which would flood
  //    the buckets; see TextKernels.charMinhashSigs) while scoring stays
  //    on 3-gram Jaccard; (lang, source) equality remains as a candidate
  //    *filter* so the query keeps its within-block meaning.
  private[graft] val bandK = 7

  /** Corpus-size bound under which d6 keeps the candidate-join plan.
    * Measured crossover (r13): at 5k docs (sf0.1) the join plan wins
    * 1.9 vs 3.5 s (small buckets; the kernel re-verifies a pair once
    * per shared band and pays grouped-row boxing), at 50k docs (sf1)
    * they tie (6.5 vs 6.7 s), and at 500k docs (sf10) the join plan
    * OOMs the heap outright — every candidate row carries BOTH ~16 KB
    * 3-gram arrays. The flip sits just above the measured tie so
    * anything past it gets the memory-bounded kernel. (Measured with the
    * boxed UDF kernel that [[BucketJaccards]] replaced; not re-measured.) */
  private val d6JoinMaxDocs = 65536L

  // adaptive: one metadata-cheap count picks the plan (the Graph hybrid
  // discipline — both paths are spec-pinned bit-equal, and DedupGuardSpec
  // runs the pick at n = threshold ± 1 through `joinMaxDocs`)
  private[graft] def d6CharJaccard(s: org.apache.spark.sql.SparkSession,
                                   dir: String,
                                   joinMaxDocs: Long = d6JoinMaxDocs)
      : DataFrame =
    if (Tables.documents(s, dir).count() <= joinMaxDocs) d6Plan(s, dir)
    else d6Kernel(s, dir)

  /** d6 through the bucket-local kernel discipline (r13): the candidate
    * join carried BOTH 3-gram shingle arrays on every candidate row —
    * at the sf10 dup-dense corpus that OOM'd the executor heap outright
    * (boilerplate buckets × ~16 KB arrays per side). Here each block-
    * split bucket's members cross ONE grouped chunk-capped exchange and
    * the same intersect/divide arithmetic runs in-task (d4/d9/d15's
    * plan family) — the jac double is bit-identical (same integer
    * intersect, same IEEE divide), so the hashed output is unchanged;
    * DedupGuardSpec pins kernel == join.
    * Blocks fold into the bucket key COLLISION-FREE as
    * bh' = blockId·P + bh (bh < P; the block dictionary is
    * dimension-sized, collected once — the engine's established
    * finish rule), so bucket membership = same band hash AND same
    * (lang, source): exactly the old post-join filter's survivors. */
  private[graft] def d6Kernel(s: org.apache.spark.sql.SparkSession,
                              dir: String): org.apache.spark.sql.DataFrame = {
    // Persist the LIGHT columns only (ids, block, 12-long csig): the
    // ~16 KB 3-gram arrays would put ~8 GB through the columnar cache at
    // sf10 (batch buffering alone OOM'd 8 GB heaps intermittently).
    // `sh` has exactly ONE consumer here — the members side of the
    // grouped kernel exchange — so it is computed once and STREAMED,
    // never cached; the light table feeds banding, the block dictionary
    // and the output meta join. One extra text-column scan, no
    // array-sized storage anywhere.
    // (the join plan's `size(sh) > 0` is implied: charShingleHashes(3)
    // is nonempty whenever length ≥ 3, and bandK = 7 ≥ 3)
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        TextKernels.charMinhashSigsUdf(bandK)(col("text")).as("csig"))
      .filter(length(col("text")) >= bandK)
      .persist()
    // block dictionary: dimension-sized, collected once, broadcast back
    // (a 100-deep CASE chain tripped the optimizer's max-iterations and
    // cost real planning time; the join is one broadcast hash probe)
    val blocks = base.select(col("lang"), col("source")).distinct()
      .orderBy("lang", "source").collect()
      .map(r => (r.getString(0), r.getString(1))).zipWithIndex
    import s.implicits._
    val blockDf = broadcast(blocks
      .map { case ((l, src), i) => (l, src, i.toLong) }.toSeq
      .toDF("lang", "source", "block"))
    val bandCols = (0 until nBands).map { i =>
      expr(s"struct(CAST($i AS INT) AS band_id, " +
           s"(element_at(csig, ${2 * i + 1})*131 + element_at(csig, ${2 * i + 2})) % $P AS bh)")
    }
    val banded = base
      .join(blockDf, Seq("lang", "source"))
      .select(col("doc_id"), col("block"),
        explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
        (col("block") * lit(P) + col("band.bh")).as("bh"))
    val members = Tables.documents(s, dir)
      .filter(length(col("text")) >= bandK)
      .select(col("doc_id"), TextKernels.charShingle3Udf(col("text")).as("hs"))
    // Chunk cap 128, not the word-shingle 512: these members are
    // ~16 KB arrays (4–30× heavier), so the cap scales down to keep
    // grouped rows ~4 MB (the d15 synthetic-bucket precedent).
    val d6Cap = 128
    val pairs = bucketGroups(banded, members, d6Cap)
      .select(explode(BucketJaccards.pairs(col("amem"), col("bmem"), 0.5,
        d6Cap * 8)).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"),
        col("p._3").as("jac"))
      .filter(col("jac") >= 0.5)
      .distinct()
    pairs
      .join(base.select(col("doc_id").as("doc_a"), col("lang"),
        col("source")), "doc_a")
      .select("lang", "source", "doc_a", "doc_b", "jac")
      .orderBy("lang", "source", "doc_a", "doc_b")
  }

  // (lang, source) ride the band key: the query's OUTPUT demands
  // lang/source equality anyway, so splitting every band bucket by the
  // block key removes exactly the pairs the old post-join filter would
  // drop — but BEFORE the heavy 3-gram shingle arrays are fetched for
  // them (guide §2.3: decide with small rows, move heavy bytes once),
  // and it shrinks the largest buckets (boilerplate shared across
  // sources collides cross-block). The post-join filter stays, now
  // redundant; the oracle's d6Sql bands without the block key, so the
  // oracle check pins the split against the unsplit banding.
  private[graft] def d6Plan(s: org.apache.spark.sql.SparkSession,
                            dir: String)
      : org.apache.spark.sql.DataFrame = {
    val base = Tables.documents(s, dir)
      .select(col("doc_id"), col("lang"), col("source"),
        TextKernels.charShingle3Udf(col("text")).as("sh"),
        TextKernels.charMinhashSigsUdf(bandK)(col("text")).as("csig"))
      .filter(size(col("sh")) > 0 && length(col("text")) >= bandK)
      .persist()
    val bandCols = (0 until nBands).map { i =>
      expr(s"struct(CAST($i AS INT) AS band_id, " +
           s"(element_at(csig, ${2 * i + 1})*131 + element_at(csig, ${2 * i + 2})) % $P AS bh)")
    }
    val bandKey = Seq("band_id", "bh", "lang", "source")
    val banded = base
      .select(col("doc_id"), col("lang"), col("source"),
        explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("lang"), col("source"),
        col("band.band_id").as("band_id"), col("band.bh").as("bh"))
    val cand = banded.as("a").join(banded.as("b"),
        bandKey.map(k => col(s"a.$k") === col(s"b.$k")).reduce(_ && _) &&
        col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
      .distinct()
    val sa = base.select(col("doc_id").as("doc_a"), col("lang"),
      col("source"), col("sh").as("sh_a"))
    val sb = base.select(col("doc_id").as("doc_b"),
      col("lang").as("lang_b"), col("source").as("source_b"),
      col("sh").as("sh_b"))
    cand.join(sa, "doc_a").join(sb, "doc_b")
      .filter(col("lang") === col("lang_b") && col("source") === col("source_b"))
      .withColumn("inter", TextKernels.sortedIntersectUdf(col("sh_a"), col("sh_b")))
      .withColumn("jac",
        col("inter").cast("double") /
        (expr("size(sh_a)") + expr("size(sh_b)") - col("inter")).cast("double"))
      .filter(col("jac") >= 0.5)
      .select("lang", "source", "doc_a", "doc_b", "jac")
      .orderBy("lang", "source", "doc_a", "doc_b")
  }

  private val d6Sql = {
    val sh = s"list_distinct(${TextPrims.hashEach(
      TextPrims.charShingles("text", 3, DuckD), DuckD)})"
    val sh7 = s"list_distinct(${TextPrims.hashEach(
      TextPrims.charShingles("text", bandK, DuckD), DuckD)})"
    val sigs = minhashSeeds.zipWithIndex.map { case ((a, b), k) =>
      s"${TextPrims.minhashOne("sh7", a, b, DuckD)} AS sig$k"
    }
    val bandSelects = (0 until nBands).map { i =>
      s"SELECT doc_id, $i AS band_id, (sig${2 * i}*131 + sig${2 * i + 1}) % $P AS bh FROM sigs"
    }
    s"""WITH s AS (SELECT doc_id, lang, source, $sh AS sh, $sh7 AS sh7 FROM documents),
       |s2 AS (SELECT * FROM s WHERE len(sh) > 0 AND len(sh7) > 0),
       |sigs AS (SELECT doc_id, ${sigs.mkString(",\n       ")} FROM s2),
       |banded AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |p AS (
       |  SELECT sa.lang, sa.source, c.doc_a, c.doc_b,
       |         len(list_intersect(sa.sh, sb.sh)) AS inter,
       |         len(sa.sh) AS na, len(sb.sh) AS nb
       |  FROM cand c
       |  JOIN s2 sa ON sa.doc_id = c.doc_a
       |  JOIN s2 sb ON sb.doc_id = c.doc_b
       |  WHERE sa.lang = sb.lang AND sa.source = sb.source)
       |SELECT lang, source, doc_a, doc_b,
       |       CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE) AS jac
       |FROM p WHERE CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE) >= 0.5
       |ORDER BY lang, source, doc_a, doc_b""".stripMargin
  }

  // -- d9: prefix edit distance on LSH candidates. Levenshtein is O(len²)
  //    per pair and all-pairs is O(n²) — both unaffordable at corpus
  //    scale. The standard production shape bounds both: candidate pairs
  //    come from the SAME char-7-gram minhash bands as d6 (fan-out bound
  //    by band buckets, independent of corpus size), and the DP runs on a
  //    fixed 120-char prefix (cost bound per pair). The DP over ASCII is
  //    engine-agnostic integer arithmetic, so the oracle is bit-exact.
  private[graft] val d9Prefix = 120

  /** The d9 pipeline over any (doc_id, text) table — split out so the
    * flood-guard property is spec-testable on a planted duplicate class.
    *
    * Exact-PREFIX-dup precondition, ENFORCED: a class of c documents
    * sharing the scored 120-char prefix floods band buckets into O(c²)
    * Levenshtein pairs (1k dups = 499,500 zero-distance DPs). Banding
    * can't help — near-identical texts agree on their signatures — so
    * the guard is d1's move: collapse each PREFIX-exact class to its
    * smallest doc_id BEFORE banding (one md5-keyed aggregate, the same
    * shuffle d1 pays). The collapse keys on md5(prefix), not md5(text):
    * the DP only ever sees the prefix, so same-prefix pairs carry no
    * information (dist = 0 by definition) even when tails differ — and
    * the real-crawl failure mode is EXACTLY tails-differ: boilerplate
    * page headers shared by millions of documents. The sf1 headroom run
    * measured the weaker full-text key at 79× on a dup-dense corpus;
    * the prefix key restores ~linear cost because class size never
    * reaches the pairwise stage. Cross-class pairs survive via the
    * representative. */
  private[graft] def editDistancePairs(docs: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val reps = docs
      .groupBy(md5(substring(col("text"), 1, d9Prefix)).as("_h"))
      .agg(min(col("doc_id")).as("doc_id"))
      .drop("_h")
    val base = docs.join(reps, Seq("doc_id"))
      .select(col("doc_id"),
        substring(col("text"), 1, d9Prefix).as("pfx"),
        TextKernels.charMinhashSigsUdf(bandK)(col("text")).as("csig"))
      .filter(length(col("pfx")) >= bandK)
      .persist()
    val bandCols = (0 until nBands).map { i =>
      expr(s"struct(CAST($i AS INT) AS band_id, " +
           s"(element_at(csig, ${2 * i + 1})*131 + element_at(csig, ${2 * i + 2})) % $P AS bh)")
    }
    val banded = base
      .select(col("doc_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("doc_id"), col("band.band_id").as("band_id"),
              col("band.bh").as("bh"))
    // BUCKET-LOCAL capped verification (r12): the textbook band
    // self-join + per-candidate prefix joins had NO hot-bucket
    // discipline — the one pair family that missed the r10/r11 chunk-cap
    // work. Measured at sf10 (dup-dense ScaleUp corpus): ONE band bucket
    // of 24,833 members ⇒ ~308M of the join's 374M candidate pair rows,
    // each carrying BOTH 120-char prefixes through two joins and a
    // distinct — the §2.5 single-enormous-key hazard, >10 min per run.
    // Here each bucket's (doc_id, pfx) members cross ONE grouped
    // exchange (chunk-capped like d4/d7/d21), the threshold DP runs
    // in-task via Spark's own UTF8String.levenshteinDistance (values
    // bit-identical to the join formulation — DedupGuardSpec pins it
    // against a spec-local copy of the textbook plan), and only
    // SURVIVORS (dist ≤ gate) reach the distinct.
    // The scored pairs are persisted: the final orderBy's
    // range-partitioner sampling executes its child once for bounds and
    // again for the exchange, and this child is the expensive part.
    val members = base.select(col("doc_id"), col("pfx").as("hs"))
    // The grouped chunk-pair rows are CPU-HEAVY but BYTE-LIGHT
    // (~100 KB of members buys up to C(2·cap, 2) ≈ 0.5M DPs), so
    // AQE's byte-based partition coalescing packs them into a
    // handful of partitions — observed at sf10: the whole 443M-DP
    // kernel stage on ~7 coalesced partitions with 2 stragglers
    // owning the mega bucket. Round-robin the rows across the
    // session's full parallelism (derived, not a local constant);
    // ×4 smooths residual per-row cost variance.
    val par = docs.sparkSession.sparkContext.defaultParallelism * 4
    val scored = bucketGroups(banded, members, bucketChunkSize)
      .repartition(par)
      .select(explode(graft.functions.TextKernels.chunkPairEditsUdf(
        col("amem"), col("bmem"), lit(d9Prefix / 2),
        lit(bucketChunkSize * 8))).as("p"))
      .select(col("p._1").as("doc_a"), col("p._2").as("doc_b"),
        col("p._3").as("dist"))
      .distinct()
      .persist()
    scored.orderBy("doc_a", "doc_b")
  }

  private val d9EditDistance: Q = (s, dir) =>
    editDistancePairs(Tables.documents(s, dir))

  private val d9Sql = {
    val sh7 = s"list_distinct(${TextPrims.hashEach(
      TextPrims.charShingles("text", bandK, DuckD), DuckD)})"
    val sigs = minhashSeeds.zipWithIndex.map { case ((a, b), k) =>
      s"${TextPrims.minhashOne("sh7", a, b, DuckD)} AS sig$k"
    }
    val bandSelects = (0 until nBands).map { i =>
      s"SELECT doc_id, $i AS band_id, (sig${2 * i}*131 + sig${2 * i + 1}) % $P AS bh FROM sigs"
    }
    s"""WITH reps AS (
       |  SELECT min(doc_id) AS doc_id FROM documents
       |  GROUP BY md5(substr(text, 1, $d9Prefix))),
       |s AS (
       |  SELECT d.doc_id, substr(d.text, 1, $d9Prefix) AS pfx, $sh7 AS sh7
       |  FROM documents d JOIN reps USING (doc_id)),
       |s2 AS (SELECT * FROM s WHERE len(pfx) >= $bandK AND len(sh7) > 0),
       |sigs AS (SELECT doc_id, ${sigs.mkString(",\n       ")} FROM s2),
       |banded AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id)
       |SELECT c.doc_a, c.doc_b,
       |       CAST(levenshtein(sa.pfx, sb.pfx) AS INT) AS dist
       |FROM cand c
       |JOIN s2 sa ON sa.doc_id = c.doc_a
       |JOIN s2 sb ON sb.doc_id = c.doc_b
       |WHERE levenshtein(sa.pfx, sb.pfx) <= ${d9Prefix / 2}
       |ORDER BY doc_a, doc_b""".stripMargin
  }

  // -- d7: cross-corpus decontamination — the train-vs-eval flavor of d4
  //    (drop training docs that near-duplicate a held-out benchmark doc).
  //    Same banded-LSH candidate generation, but the band join is
  //    train × eval instead of a self-join, so fan-out is bounded by the
  //    (small) eval corpus side per bucket; flagged docs aggregate to one
  //    row each. Here the held-out set is the deterministic doc_id % 7
  //    slice; in production it'd be a second table on the same schema.
  private val d7Decontam: Q = (s, dir) => {
    val docs = Tables.documents(s, dir)
    decontaminate(docs.filter(col("doc_id") % 7 =!= 0),
                  docs.filter(col("doc_id") % 7 === 0))
      .orderBy("train_doc")
  }

  private val d7Sql = {
    val sigs = minhashSeeds.zipWithIndex.map { case ((a, b), k) =>
      s"${TextPrims.minhashOne("hs", a, b, DuckD)} AS sig$k"
    }
    val bandSelects = (0 until nBands).map { i =>
      s"SELECT doc_id, sh, $i AS band_id, (sig${2 * i}*131 + sig${2 * i + 1}) % $P AS bh FROM sigs"
    }
    s"""WITH h AS (
       |  SELECT doc_id,
       |         list_distinct(${shingleHashes(DuckD)}) AS hs
       |  FROM documents),
       |sigs AS (SELECT doc_id, hs AS sh, ${sigs.mkString(",\n       ")}
       |         FROM h WHERE len(hs) > 0),
       |banded AS (${bandSelects.mkString("\n  UNION ALL\n  ")}),
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS train_doc, b.doc_id AS eval_doc
       |  FROM banded a JOIN banded b
       |    ON a.band_id = b.band_id AND a.bh = b.bh
       |   AND a.doc_id % 7 <> 0 AND b.doc_id % 7 = 0),
       |j AS (
       |  SELECT c.train_doc, c.eval_doc,
       |         len(list_intersect(sa.sh, sb.sh)) AS inter,
       |         len(sa.sh) AS na, len(sb.sh) AS nb
       |  FROM cand c
       |  JOIN sigs sa ON sa.doc_id = c.train_doc
       |  JOIN sigs sb ON sb.doc_id = c.eval_doc)
       |SELECT train_doc, count(*) AS n_matches,
       |       max(CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE)) AS max_jac
       |FROM j WHERE CAST(inter AS DOUBLE)/CAST(na + nb - inter AS DOUBLE) >= $jacThreshold
       |GROUP BY train_doc ORDER BY train_doc""".stripMargin
  }

  // -- d8: deterministic stratified sampling — per-stratum keep rates on
  //    a multiplicative hash of the key (no rand(), so re-runs and both
  //    engines agree; no shuffle, no reservoir — the sample IS a filter,
  //    which is the only shape that works when the corpus outgrows any
  //    single reservoir). Here: 10% of 'en', 50% of everything else.
  private val d8Stratified: Q = (s, dir) => {
    val u = (col("doc_id") * lit(2654435761L)) % lit(1000003L) % lit(100L)
    Tables.documents(s, dir)
      .withColumn("u", u)
      .filter((col("lang") === "en" && col("u") < 10) ||
              (col("lang") =!= "en" && col("u") < 50))
      .select("doc_id", "lang", "source")
      .orderBy("doc_id")
  }

  private val d8Sql =
    """WITH t AS (
      |  SELECT doc_id, lang, source,
      |         (doc_id * 2654435761) % 1000003 % 100 AS u
      |  FROM documents)
      |SELECT doc_id, lang, source FROM t
      |WHERE (lang = 'en' AND u < 10) OR (lang <> 'en' AND u < 50)
      |ORDER BY doc_id""".stripMargin

  // -- d11: token-budget mixture sampling — d8's deterministic hash
  //    filter with the RATE derived in-plan: given a global token budget
  //    split equally across sources, each source's keep-rate is
  //    min(1, share / its token total). This is how a training mixture
  //    is actually drawn at 100 TB: per-source totals are one
  //    partial-aggregated shuffle of |sources| rows, the rate table
  //    broadcasts back, and the sample itself stays a pure filter — no
  //    reservoir, no second shuffle, reproducible under re-runs. The
  //    output is the per-source audit (totals, rate, kept counts).
  private val budgetTokens = 8000.0

  private val d11BudgetSample: Q = (s, dir) => {
    val d = Tables.documents(s, dir)
      .withColumn("n_tok", expr(s"size(${TextPrims.tokens("text", SparkD)})"))
    val totals = d.groupBy("source").agg(sum(col("n_tok")).as("tot_tokens"))
    val nSrc = totals.groupBy().agg(count(lit(1)).as("n_sources"))
    val rates = totals.crossJoin(broadcast(nSrc))
      .withColumn("rate", least(lit(1.0),
        lit(budgetTokens) / col("n_sources").cast("double")
          / col("tot_tokens").cast("double")))
    val u = (col("doc_id") * lit(2654435761L)) % lit(1000003L)
    val kept = d.withColumn("u", u)
      .join(broadcast(rates.select("source", "rate")), "source")
      .filter(col("u").cast("double") < col("rate") * lit(1000003.0))
      .groupBy("source")
      .agg(count(lit(1)).as("n_kept"), sum(col("n_tok")).as("kept_tokens"))
    // LEFT join + coalesce-to-0: a source whose hash filter keeps zero
    // docs must still show in the audit (rate, 0, 0) — an inner join
    // would silently drop it and under-report the mixture.
    rates.join(kept, Seq("source"), "left")
      .select(col("source"), col("tot_tokens"), col("rate"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"),
        coalesce(col("kept_tokens"), lit(0L)).as("kept_tokens"))
      .orderBy("source")
  }

  private val d11Sql = {
    val toks = TextPrims.tokens("text", DuckD)
    s"""WITH d AS (
       |  SELECT doc_id, source, len($toks) AS n_tok FROM documents),
       |tot AS (
       |  SELECT source, CAST(SUM(n_tok) AS BIGINT) AS tot_tokens
       |  FROM d GROUP BY source),
       |ns AS (SELECT COUNT(*) AS n_sources FROM tot),
       |rates AS (
       |  SELECT source, tot_tokens,
       |         least(1.0, $budgetTokens / CAST(n_sources AS DOUBLE)
       |                      / CAST(tot_tokens AS DOUBLE)) AS rate
       |  FROM tot, ns),
       |kept AS (
       |  SELECT d.source, COUNT(*) AS n_kept,
       |         CAST(SUM(d.n_tok) AS BIGINT) AS kept_tokens
       |  FROM d JOIN rates r USING (source)
       |  WHERE CAST((d.doc_id * 2654435761) % 1000003 AS DOUBLE)
       |        < r.rate * 1000003.0
       |  GROUP BY d.source)
       |SELECT r.source, r.tot_tokens, r.rate,
       |       CAST(COALESCE(k.n_kept, 0) AS BIGINT) AS n_kept,
       |       CAST(COALESCE(k.kept_tokens, 0) AS BIGINT) AS kept_tokens
       |FROM rates r LEFT JOIN kept k USING (source)
       |ORDER BY source""".stripMargin
  }

  // -- d12: URL canonicalization dedup — web-crawl corpora carry the
  //    same page under many surface forms (scheme/host case, trailing
  //    slash, tracking query params). Canonicalize, then collapse to one
  //    keeper per canonical URL. The documents table has no URL column,
  //    so the fixture derives one deterministically from (doc_id, source)
  //    with planted variance in exactly those surface dimensions — the
  //    canonicalizer (strip query → strip trailing slash → lowercase
  //    scheme+authority only, path case preserved) must erase all of it.
  //    Pure regexp/string Catalyst expressions; the only shuffle is the
  //    final canon-key aggregate — at 100 TB this is one map-side-combined
  //    exchange on the canonical key, the minimum any URL dedup needs.
  private def rawUrl(d: TextPrims.Dialect): String = {
    val str = d match { case SparkD => "STRING"; case DuckD => "VARCHAR" }
    def c(e: String) = s"CAST($e AS $str)"
    Seq(
      "'HTTPS://'",
      "CASE WHEN doc_id % 2 = 0 THEN upper(source) ELSE source END",
      "'.Example.COM/Page/'", c("doc_id % 7"),
      "CASE WHEN doc_id % 3 = 0 THEN '/' ELSE '' END",
      "'?utm_source=feed&ref='", c("doc_id")
    ).mkString(" || ")
  }

  /** scheme+authority (group 1) lowercased, path (group 2) untouched. */
  private def canonUrl(d: TextPrims.Dialect, raw: String): String = {
    val stripQ = s"regexp_replace($raw, ${TextPrims.reLit(d, """\?.*$""")}, '')"
    val strip  = s"regexp_replace($stripQ, '/$$', '')"
    s"lower(regexp_extract($strip, '^([^/]+//[^/]+)(.*)$$', 1)) || " +
      s"regexp_extract($strip, '^([^/]+//[^/]+)(.*)$$', 2)"
  }

  private val d12UrlDedup: Q = (s, dir) => {
    Tables.documents(s, dir)
      .withColumn("url", expr(rawUrl(SparkD)))
      .withColumn("canon_url", expr(canonUrl(SparkD, "url")))
      .groupBy("canon_url")
      .agg(count(lit(1)).as("n_dups"),
        countDistinct(col("url")).as("n_variants"),
        min(col("doc_id")).as("keeper_doc"))
      .orderBy("canon_url")
  }

  private val d12Sql =
    s"""WITH u AS (
       |  SELECT doc_id, ${rawUrl(DuckD)} AS url FROM documents),
       |c AS (
       |  SELECT doc_id, url, ${canonUrl(DuckD, "url")} AS canon_url FROM u)
       |SELECT canon_url, count(*) AS n_dups,
       |       count(DISTINCT url) AS n_variants,
       |       min(doc_id) AS keeper_doc
       |FROM c GROUP BY canon_url ORDER BY canon_url""".stripMargin

  // -- d13: line-level corpus dedup — the MassiveWeb/FineWeb curation
  //    step that removes BOILERPLATE SEGMENTS (nav bars, cookie banners,
  //    license headers) repeated across many documents, while each doc's
  //    unique prose survives. The corpus has no newlines, so the
  //    segmenter — a parameter of this operator in any real pipeline —
  //    is a fixed 3-token window; the semantics (segment → global
  //    duplicated-segment set → per-doc removal → reassembly) are the
  //    published line-dedup shape.
  //
  //    Scale design: segments travel and join as 8-byte polyhash keys,
  //    never as strings (exactly how production line dedup keys its
  //    Bloom/exact tables); the duplicated-segment set is corpus-wide
  //    but orders of magnitude smaller than the corpus, so its join back
  //    is an equi-join on a BIGINT that AQE can broadcast when small and
  //    shuffle-partition when not. Three exchanges total at any scale:
  //    the duplicated-set aggregate (map-side combined: per-partition
  //    distinct doc counts partial-merge), the hash join back, and the
  //    per-doc reassembly keyed by doc_id.
  private val segWidth = 3
  private val dupDocThreshold = 3

  private val d13LineDedup: Q = (s, dir) => {
    val toks = TextPrims.tokens("text", SparkD)
    val segs = Tables.documents(s, dir)
      .withColumn("toks", expr(toks))
      .withColumn("seg", explode(expr(
        s"transform(sequence(0, CAST((size(toks)+${segWidth - 1}) DIV $segWidth AS INT) - 1), " +
        s"i -> struct(i AS idx, array_join(slice(toks, i*$segWidth+1, $segWidth), ' ') AS txt))")))
      .select(col("doc_id"), col("seg.idx").as("seg_idx"),
        col("seg.txt").as("seg"),
        expr(TextPrims.polyhash("seg.txt", SparkD)).as("seg_hash"))
    val dup = segs.groupBy("seg_hash")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= dupDocThreshold)
      .select(col("seg_hash"), lit(true).as("is_dup"))
    segs.join(dup, Seq("seg_hash"), "left")
      .groupBy("doc_id")
      .agg(
        count(lit(1)).as("n_segs"),
        sum(when(col("is_dup"), 1L).otherwise(0L)).as("n_dropped"),
        array_join(transform(
          array_sort(collect_list(when(not(coalesce(col("is_dup"), lit(false))),
            struct(col("seg_idx"), col("seg"))))),
          x => x.getField("seg")), " ").as("clean"))
      .select(col("doc_id"), col("n_segs"), col("n_dropped"),
        length(col("clean")).cast("long").as("clean_chars"),
        md5(col("clean")).as("clean_md5"))
      .orderBy("doc_id")
  }

  private val d13Sql = {
    val toks = TextPrims.tokens("text", DuckD)
    val w = segWidth
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |seg AS (
       |  SELECT doc_id, i AS seg_idx,
       |         array_to_string(toks[CAST(i*$w+1 AS INT):CAST(i*$w+$w AS INT)], ' ') AS seg
       |  FROM t, LATERAL unnest(range(0, CAST(ceil(len(toks)/$w.0) AS BIGINT))) AS u(i)),
       |h AS (SELECT doc_id, seg_idx, seg, ${TextPrims.polyhash("seg", DuckD)} AS seg_hash FROM seg),
       |dup AS (
       |  SELECT seg_hash FROM h GROUP BY seg_hash
       |  HAVING count(DISTINCT doc_id) >= $dupDocThreshold),
       |m AS (
       |  SELECT h.doc_id, h.seg_idx, h.seg, (d.seg_hash IS NOT NULL) AS is_dup
       |  FROM h LEFT JOIN dup d USING (seg_hash))
       |SELECT doc_id, count(*) AS n_segs,
       |       CAST(sum(CASE WHEN is_dup THEN 1 ELSE 0 END) AS BIGINT) AS n_dropped,
       |       CAST(length(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
       |         FILTER (NOT is_dup), '')) AS BIGINT) AS clean_chars,
       |       md5(coalesce(string_agg(seg, ' ' ORDER BY seg_idx)
       |         FILTER (NOT is_dup), '')) AS clean_md5
       |FROM m GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -- d14: duplicated-SPAN detection — the exact-substring dedup of
  //    Lee et al. ("Deduplicating Training Data Makes Language Models
  //    Better"): find the maximal token spans of each document whose
  //    every 3-gram also appears in at least one other document. Where
  //    d13 removes corpus-frequent fixed segments, d14 localizes
  //    arbitrary-length copied passages at token granularity: positions
  //    whose 3-gram is cross-doc duplicated merge into maximal runs by
  //    the gaps-and-islands idiom (pos − row_number is constant within a
  //    consecutive run), so a copied paragraph surfaces as ONE span with
  //    its length, not a shower of grams. Same scale story as d13: the
  //    duplicated-gram set keys on 8-byte hashes and is vocabulary-sized;
  //    the islands pass is one window over each doc's flagged positions.
  private val d14DupSpans: Q = (s, dir) => {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"), posexplode(
        TextKernels.wordTrigramHashesAllUdf(col("text"))).as(Seq("pos", "gh")))
    val dup = grams.groupBy("gh")
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= 2).select("gh")
    val flagged = grams.join(dup, Seq("gh"), "left_semi")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("doc_id").orderBy("pos")
    flagged
      .withColumn("grp", col("pos") - row_number().over(w))
      .groupBy("doc_id", "grp")
      .agg(min(col("pos")).as("sp"), max(col("pos")).as("ep"))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_spans"),
        max(col("ep") - col("sp") + 3).as("max_span_tokens"),
        sum(col("ep") - col("sp") + 3).as("covered_tokens"))
      .orderBy("doc_id")
  }

  private val d14Sql = {
    val toks = TextPrims.tokens("text", DuckD)
    def tok(i: String) = s"toks[CAST($i AS INT)]"
    val gram = s"${tok("p+1")} || '_' || ${tok("p+2")} || '_' || ${tok("p+3")}"
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (
       |  SELECT doc_id, p AS pos, ${TextPrims.polyhash(s"($gram)", DuckD)} AS gh
       |  FROM t, LATERAL unnest(range(0, len(toks) - 2)) AS u(p)),
       |dup AS (
       |  SELECT gh FROM g GROUP BY gh HAVING count(DISTINCT doc_id) >= 2),
       |f AS (
       |  SELECT doc_id, pos FROM g WHERE gh IN (SELECT gh FROM dup)),
       |isl AS (
       |  SELECT doc_id,
       |         pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp,
       |         pos
       |  FROM f),
       |spans AS (
       |  SELECT doc_id, grp, min(pos) AS sp, max(pos) AS ep
       |  FROM isl GROUP BY doc_id, grp)
       |SELECT doc_id, count(*) AS n_spans,
       |       CAST(max(ep - sp + 3) AS BIGINT) AS max_span_tokens,
       |       CAST(sum(ep - sp + 3) AS BIGINT) AS covered_tokens
       |FROM spans GROUP BY doc_id ORDER BY doc_id""".stripMargin
  }

  // -- d19: EXACT n-gram decontamination — the published standard
  //    (GPT-2/3-style 13-gram overlap) beside d7's MinHash flavor: a
  //    train document is contaminated if any 13 CONSECUTIVE tokens
  //    appear verbatim anywhere in the held-out set. Where d7 trades
  //    recall for cost through banding, this check has zero false
  //    negatives at the chosen n — which is exactly why published
  //    decontamination protocols use it. Scale shape: grams travel as
  //    8-byte polyhashes (the d13/d14 rule — no 13-token strings ever
  //    shuffle), the eval gram set is eval-corpus-sized, and the check
  //    is one hash semi-join + two map-side-combined counts. Output:
  //    each contaminated train doc with its distinct-gram count, the
  //    number of contaminated grams, and the contaminated fraction
  //    (one IEEE divide of two exact integers).
  private val decontamN = 13
  private val d19NgramDecontam: Q = (s, dir) => {
    val grams = Tables.documents(s, dir)
      .select(col("doc_id"),
        explode(TextKernels.wordNgramHashesAllUdf(decontamN)(col("text")))
          .as("gh"))
      .distinct()
    val trainG = grams.filter(col("doc_id") % 7 =!= 0)
    val evalG = grams.filter(col("doc_id") % 7 === 0)
      .select("gh").distinct()
    val counts = trainG.groupBy("doc_id").agg(count(lit(1)).as("n_grams"))
    val contaminated = trainG.join(evalG, Seq("gh"), "left_semi")
      .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
    counts.join(contaminated, "doc_id")
      .select(col("doc_id"), col("n_grams"), col("n_contaminated"),
        (col("n_contaminated").cast("double") /
          col("n_grams").cast("double")).as("contam_frac"))
      .orderBy("doc_id")
  }

  private val d19Sql = {
    val toks = TextPrims.tokens("text", DuckD)
    def tok(i: String) = s"toks[CAST($i AS INT)]"
    val gram = (1 to decontamN).map(i => tok(s"p+$i"))
      .mkString(" || '_' || ")
    s"""WITH t AS (SELECT doc_id, $toks AS toks FROM documents),
       |g AS (
       |  SELECT DISTINCT doc_id,
       |         ${TextPrims.polyhash(s"($gram)", DuckD)} AS gh
       |  FROM t, LATERAL unnest(range(0, len(toks) - ${decontamN - 1}))
       |    AS u(p)),
       |tr AS (SELECT doc_id, gh FROM g WHERE doc_id % 7 <> 0),
       |ev AS (SELECT DISTINCT gh FROM g WHERE doc_id % 7 = 0),
       |cnt AS (SELECT doc_id, count(*) AS n_grams FROM tr GROUP BY doc_id),
       |ct AS (
       |  SELECT doc_id, count(*) AS n_contaminated
       |  FROM tr WHERE gh IN (SELECT gh FROM ev) GROUP BY doc_id)
       |SELECT c.doc_id, c.n_grams, ct.n_contaminated,
       |       CAST(ct.n_contaminated AS DOUBLE) / CAST(c.n_grams AS DOUBLE)
       |         AS contam_frac
       |FROM cnt c JOIN ct USING (doc_id) ORDER BY c.doc_id""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "d19_ngram_decontam"   -> d19NgramDecontam,
    "d14_dup_spans"        -> d14DupSpans,
    "d13_line_dedup"       -> d13LineDedup,
    "d12_url_dedup"        -> d12UrlDedup,
    "d15_lsh_recall"       -> d15LshRecall,
    "d16_lsh_tuned"        -> d16LshTuned,
    "d17_containment"      -> d17Containment,
    "d11_budget_sample"    -> d11BudgetSample,
    "d9_edit_distance"     -> d9EditDistance,
    "d1_exact_dedup_stats" -> d1ExactStats,
    "d2_prefix_dedup"      -> d2PrefixDedup,
    "d3_minhash_sig"       -> d3MinhashSig,
    "d4_lsh_neardup_pairs" -> d4LshPairs,
    "d5_simhash"           -> d5Simhash,
    "d6_char_jaccard"      -> (d6CharJaccard(_, _)),
    "d7_decontaminate"     -> d7Decontam,
    "d8_stratified_sample" -> d8Stratified,
    "d10_dup_clusters"     -> d10DupClusters,
    "d20_survivorship"     -> d20Survivorship,
    "d21_incremental_admit" -> d21IncrementalAdmit)

  def oracles: Map[String, String] = Map(
    "d15_lsh_recall"       -> d15Sql,
    "d16_lsh_tuned"        -> d16Sql,
    "d17_containment"      -> d17Sql,
    "d19_ngram_decontam"   -> d19Sql,
    "d14_dup_spans"        -> d14Sql,
    "d13_line_dedup"       -> d13Sql,
    "d12_url_dedup"        -> d12Sql,
    "d11_budget_sample"    -> d11Sql,
    "d9_edit_distance"     -> d9Sql,
    "d10_dup_clusters"     -> d10Sql,
    "d1_exact_dedup_stats" -> d1Sql,
    "d2_prefix_dedup"      -> d2Sql,
    "d3_minhash_sig"       -> d3Sql,
    "d4_lsh_neardup_pairs" -> d4Sql,
    "d5_simhash"           -> d5Sql,
    "d6_char_jaccard"      -> d6Sql,
    "d7_decontaminate"     -> d7Sql,
    "d8_stratified_sample" -> d8Sql,
    "d20_survivorship"     -> d20Sql,
    "d21_incremental_admit" -> d21Sql)
}
