package graft.streaming

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.{Dedup, Graph}
import graft.sources.MergeWriter

/** Streaming near-duplicate detection — the ingest-time face of d4's
  * MinHash-LSH pipeline. A production corpus is not deduplicated once;
  * new documents arrive continuously and each must be checked against
  * everything already ingested WITHOUT re-scanning the corpus. The
  * signature STORE makes that incremental: per micro-batch, only the new
  * docs are shingled and signed (the expensive text kernels run on the
  * batch alone), one band-bucket grouping probes the batch's bands
  * against each other and the store's — |batch| × band-collision work,
  * never corpus × corpus — and
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

  /** Pruning hysteresis: the probe takes only the LIVE store bands while
    * the measured live-band fraction stays below [[pruneOnBelow]], and
    * the full store bands once it exceeds [[pruneOffAbove]]. Between the
    * two thresholds the current mode sticks, so a fraction hovering at a
    * boundary can't flap the plan per batch. The thresholds were set
    * when pruning cost two extra passes (measured at sf10: d21 15.5 →
    * 29.9 s with pruning forced on a dup-dense sweep); the live bands
    * are now pinned for the fraction anyway, so pruning costs no extra
    * pass, and whether turning it off still pays is not re-measured. */
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
    * ONE probe per batch ([[Dedup.batchPairs]]) finds both kinds of hit:
    * a batch doc near-duplicating a stored one, and two near-dups landing
    * in the same micro-batch (neither is in the store when the batch
    * arrives, so without the batch's own pairs both would enter the store
    * unflagged and never probe each other again). The batch's bands and
    * the store's go through one grouping exchange.
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
    * Store-probe pruning is ADAPTIVE: each batch pins the store band rows
    * whose bucket holds a batch member ([[Dedup.liveStoreBands]]: one
    * pass over the store's skinny band columns, the batch's keys
    * broadcast) in the one job that also counts them; the store's row
    * total comes from its Parquet footers, so the live-band fraction
    * costs no further job. The fraction sets the pruning mode by
    * hysteresis ([[pruneOffAbove]]/[[pruneOnBelow]]): pruned, the probe
    * takes the pinned live bands; unpruned, the store's full bands.
    * `onBatchMetrics(batchId, liveFraction, pruned)` surfaces each
    * measured decision to instruments (StreamBench) and tests; a batch
    * into a store that does not exist yet measures nothing.
    *
    * Emptiness comes from the persisted signatures: a batch with no
    * shingled document (an empty one, or one whose documents are all too
    * short to shingle) writes nothing, calls no `onBatchMetrics` and
    * skips its compaction turn. Each step's jobs carry a job description
    * (`DocStream batch <id>: probe`, `hits upsert`, `store upsert`,
    * `compaction`); the stream's own description is restored after the
    * batch. */
  def nearDupStream(docs: DataFrame, storePath: String, hitsPath: String,
                    threshold: String = Dedup.jacThreshold,
                    compactEvery: Int = 64,
                    onBatchMetrics: (Long, Double, Boolean) => Unit =
                      (_, _, _) => ()): StreamingQuery = {
    val owner = docs.sparkSession
    val sc = owner.sparkContext
    // pruning mode carries across batches (hysteresis needs memory);
    // foreachBatch runs on the driver, single-threaded per query
    var pruneOn = true
    docs.writeStream
      .foreachBatch { (b: DataFrame, batchId: Long) =>
        val streamJobs = sc.getLocalProperty("spark.job.description")
        def step(name: String): Unit =
          sc.setJobDescription(s"DocStream batch $batchId: $name")
        step("probe")
        val sig = Dedup.signatures(b).persist()
        // the store's live band rows, pinned for the batch once it has a store
        var live: Option[DataFrame] = None
        try if (!sig.isEmpty) {
          MergeWriter.recover(owner, storePath)
          val fs = new Path(storePath).getFileSystem(sc.hadoopConfiguration)
          val (store, storeBands) =
            if (fs.exists(new Path(storePath))) {
              val store = owner.read.schema(sig.schema).parquet(storePath)
              val pinned = Dedup.liveStoreBands(sig, store)
                .localCheckpoint(eager = false)
              live = Some(pinned)
              // one job both stores the live rows and counts them
              val liveRows = pinned.queryExecution.toRdd.count()
              val total = MergeWriter.rowCount(owner, storePath) * Dedup.nBands
              val frac = if (total == 0L) 0.0 else liveRows.toDouble / total
              pruneOn =
                if (frac > pruneOffAbove) false
                else if (frac < pruneOnBelow) true
                else pruneOn
              onBatchMetrics(batchId, frac, pruneOn)
              (store, if (pruneOn) pinned else Dedup.bandsOf(store))
            } else {
              val none = sig.limit(0)
              (none, Dedup.bandsOf(none))
            }
          val hitRows = Dedup.batchPairs(sig, store, storeBands, threshold)
          step("hits upsert")
          MergeWriter.upsertParquet(owner, hitsPath, hitRows,
            Seq("doc_a", "doc_b"))
          step("store upsert")
          MergeWriter.upsertParquet(owner, storePath, sig, Seq("doc_id"))
          if (compactEvery > 0 && batchId > 0 && batchId % compactEvery == 0) {
            step("compaction")
            MergeWriter.compactParquet(owner, storePath)
            MergeWriter.compactParquet(owner, hitsPath)
          }
        } finally {
          live.foreach(Graph.release)
          sig.unpersist()
          sc.setJobDescription(streamJobs)
        }
      }
      .start()
  }
}
