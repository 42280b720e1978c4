package graft.tools

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

import graft.GraftSession

/** Adversarial mega-bucket headroom probe (VERDICT r11 task 6): plant
  * ONE boilerplate near-dup class far past the chunk cap (default 50k
  * members — every doc shares a long shingle prefix, so every band
  * bucket holds the whole class) and measure what the cap was built to
  * bound: the HOTTEST single task and the FATTEST grouped row. Without
  * the cap this corpus is one task computing C(50k,2) ≈ 1.25e9 jaccards
  * over one collect_list row holding 50k shingle arrays (a straggler or
  * an OOM); with it, ⌈50k/512⌉ = 98 chunks → ~4.9k chunk-pair rows per
  * band spread across the cluster.
  *
  * Usage: runMain graft.tools.MegaBucket [members]
  * Prints: pair count, wall time, hottest task seconds, max grouped-row
  * members. Results land in SCALE_HEADROOM.md / scale_notes.json. */
object MegaBucket {
  def main(args: Array[String]): Unit = {
    val members = args.headOption.map(_.toInt).getOrElse(50000)
    val spark = GraftSession.local()
    import spark.implicits._

    // short docs (≈30 shingles) keep the per-pair arithmetic small so the
    // run measures task/row SHAPE, not raw jaccard throughput; unique
    // tails keep shingle sets distinct (like a real boilerplate flood).
    // The threshold sits ABOVE the planted pairs' ~0.8 jaccard: a 50k
    // all-near-dup class has C(50k,2) ≈ 1.25e9 TRUE pairs, and
    // materializing them would measure output volume (quadratic by
    // nature, any plan), not the verification shape the cap bounds —
    // the in-kernel filter still computes every one of the C(n,2)
    // jaccards, which is exactly the work under test.
    val boiler = "shared boilerplate navigation header words " * 5
    val docs = spark.range(members.toLong)
      .select(col("id").as("doc_id"),
        concat(lit(boiler), lit(" tail"), col("id")).as("text"))

    val maxTaskMs = new AtomicLong(0)
    val stageMax = scala.collection.concurrent.TrieMap.empty[Int, (Long, String)]
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val d = e.taskInfo.duration
        var cur = maxTaskMs.get()
        while (d > cur && !maxTaskMs.compareAndSet(cur, d)) cur = maxTaskMs.get()
        stageMax.updateWith(e.stageId) {
          case Some((m, n)) if m >= d => Some((m, n))
          case _ => Some((d, ""))
        }: Unit
      }
      override def onStageCompleted(
          e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
        val i = e.stageInfo
        val m = i.taskMetrics
        val desc = f"tasks=${i.numTasks}%d in=${m.inputMetrics.bytesRead >> 20}%dMB " +
          f"sRead=${m.shuffleReadMetrics.totalBytesRead >> 20}%dMB " +
          f"sWrite=${m.shuffleWriteMetrics.bytesWritten >> 20}%dMB"
        stageMax.updateWith(i.stageId) {
          case Some((mx, _)) => Some((mx, desc))
          case None => Some((0L, desc))
        }: Unit
      }
    }
    spark.sparkContext.addSparkListener(listener)

    val t0 = System.nanoTime()
    val (pairs, base) =
      graft.operators.Dedup.nearDupPairsWithBase(docs, threshold = "0.999")
    val nPairs = pairs.count()
    val wall = (System.nanoTime() - t0) / 1e9
    base.unpersist()

    // the fattest grouped row the chunked plan ever materializes
    val sig = graft.operators.Dedup.signatures(docs).persist()
    val maxRow = graft.operators.Dedup.bucketGroups(
        graft.operators.Dedup.bandsOf(sig), sig.select("doc_id", "hs"),
        graft.operators.Dedup.bucketChunkSize)
      .select((size(col("amem")) + size(col("bmem"))).as("m"))
      .agg(max(col("m"))).head().getInt(0)
    sig.unpersist()

    Thread.sleep(2000) // let the listener bus drain
    stageMax.toSeq.sortBy { case (_, (ms, _)) => -ms }.take(5).foreach { case (sid, (ms, name)) =>
      println(f"[mega-bucket]   stage $sid%3d hottest task ${ms / 1000.0}%6.1f s  ($name)")
    }
    println(f"[mega-bucket] members=$members%d pairs=$nPairs%d " +
      f"wall=${wall}%.1f s hottest-task=${maxTaskMs.get() / 1000.0}%.1f s " +
      f"max-grouped-row=$maxRow%d members " +
      f"(cap=${graft.operators.Dedup.bucketChunkSize}, bound=" +
      f"${2 * graft.operators.Dedup.bucketChunkSize} expected, " +
      f"chunks/bucket=${math.ceil(members.toDouble /
        graft.operators.Dedup.bucketChunkSize).toInt})")
    spark.stop()
  }
}
