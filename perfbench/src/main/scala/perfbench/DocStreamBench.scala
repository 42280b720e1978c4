package perfbench

import java.io.File
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.types._

import graft.streaming.DocStream

/** `doc_stream`: `DocStream.nearDupStream` fed as an open loop. A
  * generator thread renames one staged batch file into the stream's
  * input directory every [[periodS]] seconds, whether or not the sink
  * has kept up; each batch is a micro-batch (one file per trigger).
  * Batches follow the StreamBench recipe: fresh doc ids, 90% novel docs
  * (every token tagged with the batch number) and 10% planted copies of
  * seed-corpus documents, which must all show up as near-dup hits. */
object DocStreamBench {

  val seedDocs = 2000
  val batchDocs = 200
  val nBatches = 3
  /** one batch file lands every periodS seconds, faster than a batch
    * runs (2.2 s and more on 4 cores), so each file waits for the batch
    * before it and the timings do not depend on how close a batch comes
    * to the period (README.md, "Workloads") */
  val periodS = 1.0
  /** compaction on every batch after the first: the window crosses 2 */
  val compactEvery = 1

  private val schema = StructType(Seq(
    StructField("doc_id", LongType), StructField("text", StringType)))

  case class Batch(file: File, rows: Int, planted: Seq[(Long, Long)])

  /** Seed documents and `n` staged batch files under `dir`. */
  def writeInputs(r: Run, dir: File, n: Int): (String, Seq[Batch]) = {
    val rnd = new SplittableRandom(r.seed)
    val seedTexts = Array.fill(seedDocs)(Corpus.text(rnd, 8 + rnd.nextInt(95)))
    val seedPath = new File(dir, "seed.parquet")
    val seedRows = seedTexts.indices.map(i => Row(i.toLong, seedTexts(i)))
    val batches = (0 until n).map { b =>
      val planted = mutable.ArrayBuffer[(Long, Long)]()
      val rows = (0 until batchDocs).map { i =>
        val id = seedDocs.toLong + b.toLong * batchDocs + i
        if (i % 10 == 0) {
          val src = rnd.nextInt(seedDocs)
          planted += src.toLong -> id
          Row(id, seedTexts(src))
        } else Row(id, Corpus.text(rnd, 8 + rnd.nextInt(95)).split(" ")
          .map(w => s"b${b}x$w").mkString(" "))
      }
      (Batch(new File(dir, f"stage/batch_$b%03d.parquet"), rows.size,
        planted.toSeq), rows)
    }
    Corpus.writeParquetFiles(r.spark, (seedPath -> seedRows) +:
      batches.map { case (b, rows) => b.file -> rows }, schema,
      new File(dir, "write"))
    (seedPath.getPath, batches.map(_._1))
  }

  /** Stream `batches` through nearDupStream, one file every [[periodS]]
    * seconds. Returns per-batch (due ns, rename ns), the progress events
    * and the onBatchMetrics calls. A traced run also counts the store's
    * data files before each batch's upsert and after its commit. */
  case class StreamRun(due: Seq[Long], landed: Seq[Long],
                       progress: Seq[(StreamingQueryListener.QueryProgressEvent, Int)],
                       live: Seq[(Long, Double, Boolean, Int)])

  def stream(r: Run, batches: Seq[Batch], store: String,
             hits: String): StreamRun = {
    val spark = r.spark
    val in = new File(r.work, "in")
    in.mkdirs()
    val progress =
      mutable.ArrayBuffer[(StreamingQueryListener.QueryProgressEvent, Int)]()
    val listener = new StreamingQueryListener {
      def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
      def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
        val files = if (r.traced && e.progress.numInputRows > 0)
          Files.dataFiles(new File(store)).size else 0
        progress.synchronized { progress += e -> files }
      }
    }
    spark.streams.addListener(listener)
    val live = mutable.ArrayBuffer[(Long, Double, Boolean, Int)]()
    val q = DocStream.nearDupStream(
      spark.readStream.schema(schema).option("maxFilesPerTrigger", 1)
        .parquet(in.getPath),
      store, hits, compactEvery = compactEvery,
      onBatchMetrics = (id, frac, pruned) => live.synchronized {
        live += ((id, frac, pruned,
          if (r.traced) Files.dataFiles(new File(store)).size else 0))
      })
    val start = System.nanoTime() + 200000000L
    val due = batches.indices.map(b => start + (b * periodS * 1e9).toLong)
    val landed = batches.zip(due).map { case (b, d) =>
      val wait = d - System.nanoTime()
      if (wait > 0) Thread.sleep(wait / 1000000L, (wait % 1000000L).toInt)
      java.nio.file.Files.move(b.file.toPath,
        new File(in, b.file.getName).toPath)
      System.nanoTime()
    }
    q.processAllAvailable()
    q.stop()
    r.drain()
    spark.streams.removeListener(listener)
    StreamRun(due, landed, progress.synchronized(progress.toSeq),
      live.synchronized(live.toSeq))
  }

  def run(r: Run): Unit = {
    // ---- set-up: session, inputs, seeded signature store. No warm-up:
    // the first batch runs cold (README.md, "Warm-up").
    val t0 = System.nanoTime()
    r.startSession(new File(r.work, "tmp"))
    val t1 = System.nanoTime()
    val (seedPath, batches) = writeInputs(r, new File(r.work, "data"),
      nBatches)
    val t2 = System.nanoTime()
    val spark = r.spark
    val store = new File(r.work, "store").getPath
    DocStream.seedSignatureStore(spark.read.parquet(seedPath), store)
    val t3 = System.nanoTime()

    // ---- timed phase
    r.drain(); r.meter.reset()
    Metrics.putSetup(r, (t1 - t0) / 1e9, (t2 - t1) / 1e9, (t3 - t2) / 1e9,
      0.0)
    val hits = new File(r.work, "hits").getPath
    val inputBytes = batches.map(_.file.length()).sum.toDouble
    val sr = stream(r, batches, store, hits)
    val engine = r.meter.total
    val epochNs = System.currentTimeMillis() * 1000000L - System.nanoTime()
    // data batches, by batch id; batch b read file b
    val prog = sr.progress.map(_._1.progress).filter(_.numInputRows > 0)
      .sortBy(_.batchId)
    r.attempted = batches.size
    if (prog.map(_.batchId) != batches.indices.map(_.toLong))
      r.fail(s"micro-batches ${prog.map(_.batchId)} do not map one to one " +
        s"onto the ${batches.size} batch files")
    def startNs(p: org.apache.spark.sql.streaming.StreamingQueryProgress) =
      java.time.Instant.parse(p.timestamp).toEpochMilli * 1000000L - epochNs
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
            k: String) = Option(p.durationMs.get(k)).map(_.toDouble / 1e3)
      .getOrElse(0.0)
    val trig = prog.map(dur(_, "triggerExecution"))
    val commit = prog.map(p => startNs(p) +
      (dur(p, "triggerExecution") * 1e9).toLong)
    val fresh = commit.zip(sr.due).map { case (c, d) => (c - d) / 1e9 }
    r.put("wall_s", (commit.max - sr.due.head) / 1e9)
    Metrics.putOps(r, trig)
    r.put("freshness_p50_s", Stats.median(fresh))
    r.put("retained_heap_mb", r.retainedHeapMb())
    r.put("write_amp", engine.bytesWritten / inputBytes)
    val onDisk = Files.bytes(new File(store)) + Files.bytes(new File(hits))
    r.put("space_amp", onDisk / (new File(seedPath).length() + inputBytes))

    // ---- output checks: every signature stored, every plant found
    val hitSet = r.unmetered {
      val stored = spark.read.parquet(store).count()
      val want = seedDocs + batches.map(_.rows).sum
      if (stored != want) r.fail(s"store holds $stored signatures, want $want")
      spark.read.parquet(hits).select("doc_a", "doc_b").collect()
        .map(h => (h.getLong(0), h.getLong(1))).toSet
    }
    val missed = batches.flatMap(_.planted).filterNot(hitSet)
    if (missed.nonEmpty)
      r.fail(s"${missed.size} planted near-dups missing from hits, e.g. ${missed.head}")

    if (r.traced) {
      batches.indices.foreach { b =>
        prog.find(_.batchId == b).foreach { p =>
          val s = r.tracer.record(s"batch$b", "streaming", -1, startNs(p),
            startNs(p) + (dur(p, "triggerExecution") * 1e9).toLong)
          r.spanKeys(s.id) = s"batch:$b"
        }
      }
      val compaction = prog.filter(p =>
        p.batchId > 0 && p.batchId % compactEvery == 0)
      val plain = prog.filterNot(compaction.contains)
      def med(ps: Seq[org.apache.spark.sql.streaming.StreamingQueryProgress],
              k: String) = if (ps.isEmpty) 0.0 else Stats.median(ps.map(dur(_, k)))
      r.put("streaming.trigger_s", med(prog, "triggerExecution"))
      r.put("streaming.add_batch_s", med(prog, "addBatch"))
      r.put("streaming.planning_s", med(prog, "queryPlanning"))
      r.put("streaming.wal_s", Stats.median(prog.map(p =>
        dur(p, "walCommit") + dur(p, "commitOffsets"))))
      r.put("streaming.plain_batch_s", med(plain, "triggerExecution"))
      r.put("streaming.compaction_batch_s", med(compaction, "triggerExecution"))
      val starts = prog.map(startNs)
      r.put("streaming.backlog_max", starts.zipWithIndex.map { case (s, i) =>
        sr.landed.count(_ <= s) - i }.max)
      r.put("streaming.generator_late_s",
        sr.landed.zip(sr.due).map { case (l, d) => (l - d) / 1e9 }.max)
      val live = sr.live.filter(_._1 < batches.size)
      r.put("streaming.live_fraction", Stats.median(live.map(_._2)))
      r.put("streaming.pruned_batches", live.count(_._3))
      r.put("streaming.hits_rows", hitSet.size)
      // a batch that ends with no more store files than it began with
      // (its upsert appends at least one) compacted the store
      val before = live.map(l => l._1 -> l._4).toMap
      val after = sr.progress.collect { case (e, n)
        if e.progress.numInputRows > 0 => e.progress.batchId -> n }.toMap
      r.put("sources.store_files_max", (before.values ++ after.values).max)
      r.put("sources.compactions", batches.indices.count(b =>
        after.get(b.toLong).exists(a => before.get(b.toLong).exists(a <= _))))
      r.put("sources.store_mb", Files.bytes(new File(store)) / 1048576.0)
      r.put("functions.kernel_cpu_s", engine.cpuNs / 1e9)
      r.put("graft.peak_rss_mb", r.peakRssMb())
      Metrics.putEngine(r, engine, (commit.max - sr.due.head) / 1e9)
    }
  }
}
