package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.TextPrims
import graft.functions.TextPrims.{DuckD, SparkD}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** End-to-end training-corpus curation: the LLM-data-pipeline operators
  * composed the way a real pretraining prep job runs them —
  *
  *   quality filter → exact dedup → MinHash near-dedup →
  *   decontaminate vs held-out → stratified sample → chunk
  *
  * Each stage is one of the oracle-checked operators (t2/t5 signals, d1,
  * d4 via [[Dedup.nearDupPairs]], d7 via [[Dedup.decontaminate]], d8,
  * t6 via [[TextAnalysis.chunked]]); this object only sequences them, so
  * the composition inherits their scale properties: the only shuffles in
  * the whole pipeline are the dedup groupBy, the two band joins, and the
  * near-dup anti-joins — everything else is narrow.
  *
  * Near-dedup canonicalization offers two rules:
  *   - [[nearDedupStage]] (default): the standard greedy rule — drop a
  *     doc if it appears as the GREATER id of any matched pair. One
  *     anti-join; differs from the exact rule only on chains A~B~C
  *     where A≁C, which MinHash at a sane threshold makes rare.
  *   - [[nearDedupStageExact]]: connected components over the pair
  *     graph ([[Graph.connectedComponents]], d10) — keeps exactly one
  *     doc per TRANSITIVE duplicate cluster, at the cost of the
  *     iterative label-propagation joins. Still no driver-side
  *     union-find.
  */
object CorpusCuration extends QueryPack {

  /** Eagerly-counted funnel, one count per stage (each is an action —
    * call on samples/tests, not inside a production job). */
  case class Funnel(nInput: Long, nQuality: Long, nExact: Long,
                    nNearDedup: Long, nClean: Long, nSampled: Long,
                    nChunks: Long)

  case class Config(
      minQuality: Double = 0.25,
      maxRepetition: Double = 0.9,
      jaccardThreshold: String = Dedup.jacThreshold,
      sampleRates: Map[String, Int] = Map("en" -> 90), // percent kept
      defaultRate: Int = 100,
      chunkSize: Int = 50,
      chunkStride: Int = 40)

  /** The curated chunk table (doc_id, chunk_id, chunk, lang, source). */
  def curate(docs: DataFrame, heldOut: DataFrame,
             cfg: Config = Config()): DataFrame =
    chunkStage(sampleStage(cleanStage(docs, heldOut, cfg), cfg), cfg)

  /** curate() plus the per-stage row funnel (runs counting actions). */
  def curateWithFunnel(docs: DataFrame, heldOut: DataFrame,
                       cfg: Config = Config()): (DataFrame, Funnel) = {
    val q = qualityStage(docs, cfg)
    val e = exactDedupStage(q)
    val n = nearDedupStage(e, cfg)
    val c = decontamStage(n, heldOut, cfg)
    val s = sampleStage(c, cfg)
    val ch = chunkStage(s, cfg)
    (ch, Funnel(docs.count(), q.count(), e.count(), n.count(), c.count(),
      s.count(), ch.count()))
  }

  private def cleanStage(docs: DataFrame, heldOut: DataFrame,
                         cfg: Config): DataFrame =
    decontamStage(
      nearDedupStage(exactDedupStage(qualityStage(docs, cfg)), cfg),
      heldOut, cfg)

  /** t2/t5 signals as a filter: keep scoring docs that aren't boilerplate. */
  def qualityStage(docs: DataFrame, cfg: Config): DataFrame =
    TextAnalysis.withQualitySignals(docs)
      .filter(col("n_tok") > 0 &&
        col("quality_score") >= cfg.minQuality &&
        col("rep_ratio") <= cfg.maxRepetition)
      .select(docs.columns.map(col): _*)

  /** d1 as a filter: keep the smallest doc_id per exact text. */
  def exactDedupStage(docs: DataFrame): DataFrame = {
    val canon = docs.groupBy(col("text").as("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    docs.join(canon, Seq("doc_id"), "left_semi")
  }

  /** d4 as a filter: drop the greater id of every near-dup pair. */
  def nearDedupStage(docs: DataFrame, cfg: Config): DataFrame = {
    val losers = Dedup.nearDupPairs(docs, cfg.jaccardThreshold)
      .select(col("doc_b").as("doc_id")).distinct()
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** d10 as a filter: keep the smallest doc_id of every transitive
    * near-dup cluster — exact on the chains the greedy rule misjudges.
    * Non-canonical cluster members (id ≠ component label) are the drop
    * set; docs in no pair are untouched. */
  def nearDedupStageExact(docs: DataFrame, cfg: Config): DataFrame = {
    val pairs = Dedup.nearDupPairs(docs, cfg.jaccardThreshold)
      .select("doc_a", "doc_b")
    val losers = Graph.connectedComponents(pairs, "doc_a", "doc_b")
      .filter(col("id") =!= col("component"))
      .select(col("id").as("doc_id"))
    docs.join(losers, Seq("doc_id"), "left_anti")
  }

  /** d7 as a filter: drop docs matching the held-out corpus. */
  def decontamStage(docs: DataFrame, heldOut: DataFrame,
                    cfg: Config): DataFrame = {
    val flagged = Dedup.decontaminate(docs, heldOut, cfg.jaccardThreshold)
      .select(col("train_doc").as("doc_id"))
    docs.join(flagged, Seq("doc_id"), "left_anti")
  }

  /** d8's keep-this-row predicate (deterministic in doc_id and lang) —
    * shared by [[sampleStage]] and c1's one-pass tail aggregate so the
    * two can never drift. */
  def samplePredicate(cfg: Config): org.apache.spark.sql.Column = {
    val u = (col("doc_id") * lit(2654435761L)) % lit(1000003L) % lit(100L)
    val rate = cfg.sampleRates.foldLeft(lit(cfg.defaultRate)) {
      case (acc, (lang, r)) => when(col("lang") === lang, lit(r)).otherwise(acc)
    }
    u < rate
  }

  /** d8: deterministic per-stratum downsample (scan filter, no shuffle). */
  def sampleStage(docs: DataFrame, cfg: Config): DataFrame =
    docs.filter(samplePredicate(cfg))

  /** c1's one-pass tail: (n_clean, n_sampled, n_chunks) from a single
    * narrow aggregate over the decontamination survivors. Equivalent to
    * `(c.count, sampleStage(c).count, chunkStage(sampleStage(c)).count)`
    * because the keep-bit is [[samplePredicate]] verbatim and `chunked`
    * emits exactly `(n_tok + stride-1) div stride` rows per doc (0 at
    * n_tok = 0). Pinned by CorpusCurationSpec. */
  def tailCounts(c: DataFrame, cfg: Config): (Long, Long, Long) = {
    val toks = TextPrims.tokens("text", SparkD)
    val stride = cfg.chunkStride
    val row = c
      .select(
        expr(s"size($toks)").as("n_tok"),
        samplePredicate(cfg).as("keep"))
      .agg(
        count(lit(1)).as("n_clean"),
        coalesce(sum(when(col("keep"), 1L)), lit(0L)).as("n_sampled"),
        coalesce(sum(when(col("keep"),
          expr(s"(n_tok + ${stride - 1}) div $stride"))), lit(0L))
          .as("n_chunks"))
      .collect()(0)
    (row.getLong(0), row.getLong(1), row.getLong(2))
  }

  /** t6: the surviving docs as overlapping token-window chunks. */
  def chunkStage(docs: DataFrame, cfg: Config): DataFrame =
    TextAnalysis.chunked(docs, cfg.chunkSize, cfg.chunkStride)
      .select("doc_id", "chunk_id", "chunk", "lang", "source")

  // -- c1: the WHOLE funnel as one oracle-checked query — every stage's
  //    surviving-row count in a single row, cross-engine verified. This
  //    is the composition a pretraining prep job actually ships; a count
  //    diverging at any stage (a float boundary in the quality score, a
  //    band-hash mismatch, a sampling-modulus slip) fails the hash here
  //    even though each stage's own query passes in isolation. Train =
  //    doc_id % 7 ≠ 0, held-out = the % 7 = 0 slice (d7's convention).
  //    Plan shape: stages materialize SEQUENTIALLY — each stage persists,
  //    its count() action materializes it, and its PREDECESSOR's storage
  //    is released right then, so at most two corpus-sized stages ever
  //    coexist in executor storage. (The round-9 form kept all six alive
  //    until the final cross-join and spent >1 s in GC on the slow mode —
  //    bimodal 12.8 s/4.3 s medians on unchanged code.) The counts are
  //    still all computed distributed; only the seven final scalars are
  //    driver-side, re-emitted as the one hashed row the oracle checks.
  private val c1CurationFunnel: Q = (s, dir) => {
    val all = Tables.documents(s, dir)
    val heldOut = all.filter(col("doc_id") % 7 === 0)
    val cfg = Config()
    val docs = all.filter(col("doc_id") % 7 =!= 0).persist()
    val nInput = docs.count()
    val q = qualityStage(docs, cfg).persist()
    val nQuality = q.count()
    docs.unpersist(blocking = false)
    val e = exactDedupStage(q).persist()
    val nExact = e.count()
    q.unpersist(blocking = false)
    // A shared-signature variant (near-dedup and decontamination
    // sharing one persisted signature table, the probe's train side
    // semi-joined from it instead of recomputed) was built and REJECTED
    // on same-window sf10 evidence this round: recomputing signatures(n)
    // is a narrow CPU pass over the already-persisted survivors, while
    // the semi-join adds a corpus-sized exchange of the heavy shingle
    // arrays before probePairs' own grouping exchange — measured 23.4 s
    // (stage-wise, tight) vs 34.4 s (shared-sig, wide spread + GC) at
    // sf10; sf0.1 was a wash. See OPTIMIZATION_r12.md.
    val n = nearDedupStage(e, cfg).persist()
    val nNear = n.count()
    e.unpersist(blocking = false)
    // Tail: nClean / nSampled / nChunks are all pure aggregates over the
    // decontamination survivors — the sample keep-bit is deterministic in
    // (doc_id, lang) and the chunk count has the closed form
    // sum((n_tok + stride-1) div stride) (the oracle's own n_chunks
    // expression; `chunked` explodes exactly that many rows per doc, and
    // the formula is 0 at n_tok = 0, so no survivor filter is needed).
    // One narrow aggregate pass replaces two persist+count barriers and
    // the chunk explode that materialized every 50-token chunk array
    // just to count rows (guide §1.2 step 1: don't compute things you
    // throw away). CorpusCurationSpec pins tailCounts against the stages.
    val (nClean, nSampled, nChunks) =
      tailCounts(decontamStage(n, heldOut, cfg), cfg)
    n.unpersist(blocking = false)
    s.range(1).select(
      lit(nInput).as("n_input"), lit(nQuality).as("n_quality"),
      lit(nExact).as("n_exact"), lit(nNear).as("n_neardedup"),
      lit(nClean).as("n_clean"), lit(nSampled).as("n_sampled"),
      lit(nChunks).as("n_chunks"))
  }

  private val c1Sql = {
    val toks = TextPrims.tokens("text", DuckD)
    val jt = Dedup.jacThreshold
    def jac(a: String, b: String) =
      s"""CAST(len(list_intersect($a.hs, $b.hs)) AS DOUBLE) /
         |        CAST(len($a.hs) + len($b.hs) - len(list_intersect($a.hs, $b.hs)) AS DOUBLE)""".stripMargin
    s"""WITH base AS (
       |  SELECT doc_id, text, lang, source FROM documents WHERE doc_id % 7 <> 0),
       |qs AS (
       |  SELECT doc_id, text, lang, source,
       |         len($toks) AS n_tok,
       |         len(list_distinct($toks)) AS n_uniq,
       |         len(list_filter($toks, t -> list_contains([${TextAnalysis.stopListSql}], t))) AS n_stop,
       |         length(regexp_replace(text, '[^a-zA-Z]', '', 'g')) AS alpha_chars
       |  FROM base),
       |q AS (
       |  SELECT doc_id, text, lang, source, n_tok FROM qs
       |  WHERE n_tok > 0
       |    AND 0.4*(CAST(n_stop AS DOUBLE)/CAST(n_tok AS DOUBLE))
       |      + 0.3*least(1.0, CAST(n_tok AS DOUBLE)/100.0)
       |      + 0.3*(CAST(alpha_chars AS DOUBLE)/CAST(length(text) AS DOUBLE)) >= 0.25
       |    AND 1.0 - CAST(n_uniq AS DOUBLE)/CAST(n_tok AS DOUBLE) <= 0.9),
       |e AS (
       |  SELECT * FROM q
       |  WHERE doc_id IN (SELECT min(doc_id) FROM q GROUP BY text)),
       |${Dedup.lshCtes("e", "t")},
       |cand AS (
       |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |  FROM tbd a JOIN tbd b
       |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.doc_id < b.doc_id),
       |losers AS (
       |  SELECT DISTINCT c.doc_b FROM cand c
       |  JOIN tsg sa ON sa.doc_id = c.doc_a
       |  JOIN tsg sb ON sb.doc_id = c.doc_b
       |  WHERE ${jac("sa", "sb")} >= $jt),
       |n AS (
       |  SELECT * FROM e WHERE doc_id NOT IN (SELECT doc_b FROM losers)),
       |ho AS (
       |  SELECT doc_id, text FROM documents WHERE doc_id % 7 = 0),
       |${Dedup.lshCtes("n", "v")},
       |${Dedup.lshCtes("ho", "w")},
       |fcand AS (
       |  SELECT DISTINCT a.doc_id AS train_doc, b.doc_id AS eval_doc
       |  FROM vbd a JOIN wbd b
       |    ON a.band_id = b.band_id AND a.bh = b.bh),
       |flagged AS (
       |  SELECT DISTINCT f.train_doc FROM fcand f
       |  JOIN vsg sa ON sa.doc_id = f.train_doc
       |  JOIN wsg sb ON sb.doc_id = f.eval_doc
       |  WHERE ${jac("sa", "sb")} >= $jt),
       |c AS (
       |  SELECT * FROM n WHERE doc_id NOT IN (SELECT train_doc FROM flagged)),
       |sm AS (
       |  SELECT * FROM c
       |  WHERE (doc_id * 2654435761) % 1000003 % 100 <
       |        CASE WHEN lang = 'en' THEN 90 ELSE 100 END)
       |SELECT
       |  (SELECT count(*) FROM base) AS n_input,
       |  (SELECT count(*) FROM q) AS n_quality,
       |  (SELECT count(*) FROM e) AS n_exact,
       |  (SELECT count(*) FROM n) AS n_neardedup,
       |  (SELECT count(*) FROM c) AS n_clean,
       |  (SELECT count(*) FROM sm) AS n_sampled,
       |  (SELECT CAST(sum((n_tok + 39)//40) AS BIGINT) FROM sm) AS n_chunks""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "c1_curation_funnel" -> c1CurationFunnel)

  def oracles: Map[String, String] = Map(
    "c1_curation_funnel" -> c1Sql)
}
