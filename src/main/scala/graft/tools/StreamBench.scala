package graft.tools

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.streaming.DocStream

/** Sustained streaming-ingest headroom — the SCALE_HEADROOM instrument
  * for [[graft.streaming.DocStream]] (VERDICT r10 task 6 / r11 task 1b):
  * seed the signature store from one corpus, then feed N micro-batches
  * of NEW documents through the real `nearDupStream` query (file source,
  * one parquet file per trigger) against the GROWING store, and print
  * each micro-batch's trigger duration, live-bucket fraction and the
  * store's file count. What flat batch times
  * demonstrate: the per-batch probe cost is |batch| signing + banded
  * collisions — independent of corpus TEXT volume — and the per-batch
  * sink cost is O(batch) (append commit + key-range-pruned collision
  * probe), with compaction's amortized O(store)/compactEvery rewrite
  * the only store-sized term. Run with compactEvery small enough that
  * the measured window CROSSES ≥2 compaction boundaries — the r11 run
  * (10 batches, compactEvery 64) never exercised the path that bounds a
  * 1000-batch stream's file count.
  *
  * Usage: runMain graft.tools.StreamBench [seedDir] [batchSrcDir]
  *          [nBatches] [workDir] [compactEvery]
  * Defaults: seed target/sf10 (500k docs), batches = target/sf1's 50k
  * docs re-keyed per batch, 12 batches, work in target/stream_bench,
  * compactEvery 4 (boundaries at batch 4 and 8).
  * Results land in SCALE_HEADROOM.md / scale_notes.json. */
object StreamBench {
  def main(args: Array[String]): Unit = {
    val seedDir = args.headOption.getOrElse("/root/repo/target/sf10")
    val batchSrc = args.lift(1).getOrElse("/root/repo/target/sf1")
    val nBatches = args.lift(2).map(_.toInt).getOrElse(12)
    val work = args.lift(3).getOrElse("/root/repo/target/stream_bench")
    val compactEvery = args.lift(4).map(_.toInt).getOrElse(4)
    val spark = GraftSession.local()
    val fs = new Path(work)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(work), true)

    def parquetFiles(dir: String): Int = {
      val p = new Path(dir)
      if (!fs.exists(p)) 0
      else {
        val it = fs.listFiles(p, true)
        var n = 0
        while (it.hasNext) if (it.next().getPath.getName.endsWith(".parquet")) n += 1
        n
      }
    }

    val seedDocs = spark.read.parquet(s"$seedDir/documents.parquet")
      .select("doc_id", "text")
    var t0 = System.nanoTime()
    DocStream.seedSignatureStore(seedDocs, s"$work/store")
    val seedN = spark.read.parquet(s"$work/store").count()
    println(f"[stream-bench] seeded store: $seedN%d signatures in " +
      f"${(System.nanoTime() - t0) / 1e9}%.1f s")

    // batch slices: the batch corpus re-keyed into fresh id ranges per
    // batch; 90% of each batch's docs are made NOVEL by the per-batch
    // token-tag transform (the ScaleUp trick — all shingles change) and
    // 10% keep their text, near-dup'ing the seed corpus and the other
    // batches' untagged tail — a crawl-realistic dup rate. (A first cut
    // fed the SAME corpus 10×: every doc had ~100 store near-dups and
    // the run measured the 84M-row hits table, not the probe.) One FILE
    // per batch so maxFilesPerTrigger=1 maps one file to one micro-batch.
    val batchDocs = spark.read.parquet(s"$batchSrc/documents.parquet")
      .select("doc_id", "text")
    val maxSeed = seedDocs.agg(max("doc_id")).head().getLong(0)
    val stride = batchDocs.agg(max("doc_id")).head().getLong(0) + 1L
    val inDir = new Path(s"$work/in")
    fs.mkdirs(inDir)
    t0 = System.nanoTime()
    (0 until nBatches).foreach { b =>
      val stage = s"$work/stage/b$b"
      batchDocs
        .withColumn("text",
          when(col("doc_id") % 10 =!= 0,
            regexp_replace(col("text"), "(^|\\s)(\\S)", s"$$1b${b}x$$2"))
            .otherwise(col("text")))
        .withColumn("doc_id",
          col("doc_id") + lit(maxSeed + 1L + b * stride))
        .coalesce(1).write.mode("overwrite").parquet(stage)
      val part = fs.listStatus(new Path(stage))
        .map(_.getPath).find(_.getName.endsWith(".parquet")).get
      fs.rename(part, new Path(inDir, f"batch_$b%03d.parquet"))
    }
    fs.delete(new Path(s"$work/stage"), true)
    println(f"[stream-bench] staged $nBatches%d batches of " +
      f"${batchDocs.count()}%d docs in ${(System.nanoTime() - t0) / 1e9}%.1f s")

    // per-batch live-band fraction, keyed by batchId; the store file
    // count is sampled at the same moment (pre-upsert), so the
    // compaction sawtooth is visible against the trigger times
    val metrics = scala.collection.concurrent.TrieMap
      .empty[Long, (Double, Int)]
    val q = DocStream.nearDupStream(
      spark.readStream
        .schema(batchDocs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(inDir.toString),
      s"$work/store", s"$work/hits",
      compactEvery = compactEvery,
      onBatchMetrics = (id, frac, _) =>
        metrics(id) = (frac, parquetFiles(s"$work/store")))
    q.processAllAvailable()
    q.stop()

    val prog = q.recentProgress.filter(_.numInputRows > 0)
    prog.zipWithIndex.foreach { case (p, i) =>
      val m = metrics.get(p.batchId)
      println(f"[stream-bench] batch $i%2d: " +
        f"${p.durationMs.get("triggerExecution") / 1000.0}%6.2f s, " +
        f"${p.numInputRows}%d docs" + m.map { case (frac, files) =>
          f", live-frac $frac%.4f, store-files $files%d"
        }.getOrElse(""))
    }
    val times = prog.map(_.durationMs.get("triggerExecution") / 1000.0)
    if (times.length >= 2) {
      val firstHalf = times.take(times.length / 2)
      val lastHalf = times.drop(times.length - times.length / 2)
      println(f"[stream-bench] mean first-half ${firstHalf.sum / firstHalf.length}%.2f s, " +
        f"last-half ${lastHalf.sum / lastHalf.length}%.2f s, " +
        f"ratio ${(lastHalf.sum / lastHalf.length) / (firstHalf.sum / firstHalf.length)}%.2f " +
        f"(store ${seedN} -> ${spark.read.parquet(s"$work/store").count()}, " +
        f"${parquetFiles(s"$work/store")} files)")
    }
    val hits = spark.read.parquet(s"$work/hits").count()
    println(s"[stream-bench] total near-dup hits recorded: $hits")
    spark.stop()
  }
}
