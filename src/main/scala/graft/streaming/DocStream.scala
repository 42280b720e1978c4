package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Dedup
import graft.sources.MergeWriter

/** Streaming near-duplicate detection — the ingest-time face of d4's
  * MinHash-LSH pipeline. A production corpus is not deduplicated once;
  * new documents arrive continuously and each must be checked against
  * everything already ingested WITHOUT re-scanning the corpus. The
  * signature STORE makes that incremental: per micro-batch, only the new
  * docs are shingled and signed (the expensive text kernels run on the
  * batch alone), the band-key equi-join probes batch bands against the
  * store — |batch| × band-collision work, never corpus × corpus — and
  * the batch's signatures then upsert into the store so later batches
  * (and concurrent redeliveries) dedup against them.
  *
  * Exactly-once under redelivery holds end-to-end because every write is
  * an upsert by natural key: re-signing the same docs produces identical
  * rows, re-probing produces identical pairs, and the store's same-id
  * exclusion keeps a redelivered batch from matching its own earlier
  * upsert. At 100 TB the store carries 12 longs + the shingle hashes per
  * document — orders below the text — and the probe's only corpus-sized
  * join is the band-key equi-join, the same bound d4 proves.
  */
object DocStream {

  /** Seed (or extend) the signature store from a batch corpus. */
  def seedSignatureStore(docs: DataFrame, storePath: String): Unit =
    MergeWriter.upsertParquet(docs.sparkSession, storePath,
      Dedup.signatures(docs), Seq("doc_id"))

  /** Pruning hysteresis: the store probe prunes to LIVE buckets while the
    * measured live-band fraction stays below [[pruneOnBelow]], and stops
    * pruning once it exceeds [[pruneOffAbove]] (a dup-dense drift — spam
    * flood, boilerplate wave — makes nearly every bucket live, and the
    * pruning passes then cost ~2× for nothing; measured at sf10: d21
    * 15.5 → 29.9 s with pruning forced on). Between the two thresholds
    * the current mode sticks, so a fraction hovering at a boundary can't
    * flap the plan per batch. */
  private val pruneOffAbove = 0.5
  private val pruneOnBelow = 0.25

  /** Per-micro-batch near-dup detection against `storePath`; hits land
    * in `hitsPath` as (doc_a < doc_b, jac) — d4's canonical pair order,
    * so a replayed batch that rediscovers a pair from the OTHER side
    * (its partner was ingested after its original delivery) upserts onto
    * the same key instead of growing the table — and the batch's
    * signatures fold into the store afterwards (a doc never races its
    * own probe).
    *
    * `compactEvery`: both sinks' upserts skip every stored file whose
    * Parquet footer key range misses the batch's (fresh doc ids, and a
    * hit's `doc_b`, lie above everything stored), so a batch APPENDS its
    * rows as new files — O(batch) per batch, not an O(store) rewrite —
    * and a long-lived stream accumulates files until per-file
    * open/footer cost taxes every probe's store scan. Every
    * `compactEvery`-th batch both sinks are compacted (the LSM
    * tradeoff: one amortized O(store)/`compactEvery` rewrite per batch
    * buys a bounded file count); 0 disables. Compaction publishes
    * through the same crash-safe commit record as the upsert, into
    * MergeWriter's default-sized files. The store is read in the
    * batch signatures' schema, so no batch runs a schema-inference job.
    *
    * Store-probe pruning is ADAPTIVE: each batch measures the live-band
    * fraction (store band rows whose bucket holds a batch member — one
    * column-pruned aggregate over the skinny band triples, broadcast
    * batch keys) and flips `pruneToLiveBuckets` by hysteresis
    * ([[pruneOffAbove]]/[[pruneOnBelow]]): a mostly-novel serving stream
    * keeps the measured ~8% win of pruning, a store that turns dup-dense
    * sheds the measured ~2× pruning penalty instead of silently paying
    * it. The measurement itself costs one extra column-pruned pass over
    * the store's band columns — the same cost class as the probe's own
    * band scan. `onBatchMetrics(batchId, liveFraction, pruned)` surfaces
    * each measured decision to instruments (StreamBench) and tests. */
  def nearDupStream(docs: DataFrame, storePath: String, hitsPath: String,
                    threshold: String = Dedup.jacThreshold,
                    compactEvery: Int = 64,
                    onBatchMetrics: (Long, Double, Boolean) => Unit =
                      (_, _, _) => ()): StreamingQuery = {
    val owner = docs.sparkSession
    // pruning mode carries across batches (hysteresis needs memory);
    // foreachBatch runs on the driver, single-threaded per query
    var pruneOn = true
    docs.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        if (!b.isEmpty) {
          import org.apache.spark.sql.functions.{greatest, least, col}
          val sig = Dedup.signatures(b).persist()
          val fs = new Path(storePath)
            .getFileSystem(owner.sparkContext.hadoopConfiguration)
          MergeWriter.recover(owner, storePath)
          // INTRA-batch pairs too: two near-dups landing in the same
          // micro-batch would otherwise both enter the store unflagged —
          // neither ever probes the other again, and the streamed corpus
          // under-reports duplicates vs the batch d4 pipeline. The
          // intra-batch self-probe is batch-sized and skips the pruning
          // passes (see Dedup.probePairs' opt-in note).
          val intra = Dedup.probePairs(sig, sig, threshold)
          val pairs =
            if (fs.exists(new Path(storePath))) {
              val store = owner.read.schema(sig.schema).parquet(storePath)
              val frac = Dedup.liveBucketFraction(sig, store)
              pruneOn =
                if (frac > pruneOffAbove) false
                else if (frac < pruneOnBelow) true
                else pruneOn
              onBatchMetrics(batchId, frac, pruneOn)
              intra.unionByName(Dedup.probePairs(sig, store, threshold,
                pruneToLiveBuckets = pruneOn))
            } else intra
          val hitRows = pairs
            .select(least(col("new_doc"), col("dup_of")).as("doc_a"),
              greatest(col("new_doc"), col("dup_of")).as("doc_b"),
              col("jac"))
            // the intra probe reports both directions of each pair —
            // canonical order folds them onto one key, dedupe before
            // the upsert (merge keeps every update row, even same-key)
            .dropDuplicates("doc_a", "doc_b")
          MergeWriter.upsertParquet(owner, hitsPath, hitRows,
            Seq("doc_a", "doc_b"))
          MergeWriter.upsertParquet(owner, storePath, sig, Seq("doc_id"))
          sig.unpersist()
          if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
            MergeWriter.compactParquet(owner, storePath)
            MergeWriter.compactParquet(owner, hitsPath)
          }
        }
      }
      .start()
  }
}
