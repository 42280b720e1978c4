package graft

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.streaming.DocStream

/** Streaming near-dup ingest: batches probe the signature store, the
  * store grows with each batch, and redelivery changes nothing. */
class DocStreamSpec extends SparkSpecBase {

  test("micro-batches dedup against the corpus, earlier batches, and survive redelivery") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_docstream").toString
    val landing = s"$root/landing"
    Files.createDirectories(java.nio.file.Paths.get(landing))
    val store = s"$root/sig_store"
    val hits = s"$root/hits"

    val corpus = Tables.documents(spark, sfDir).select("doc_id", "text")
    DocStream.seedSignatureStore(corpus, store)
    val doc0Text = corpus.filter(col("doc_id") === 0)
      .head().getString(1)
    // vocabulary disjoint from the corpus: zero shingle overlap
    val cleanText = (1 to 40).map(i => s"zz$i").mkString(" ")
    val nearClean = (1 to 40).map(i => if (i == 40) "zz41" else s"zz$i")
      .mkString(" ")

    val q = DocStream.nearDupStream(
      spark.readStream
        .schema(corpus.schema)
        .option("recursiveFileLookup", "true").parquet(landing),
      store, hits)

    def drop(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/$name")

    // b1: an exact copy of corpus doc 0 + a doc from a fresh vocabulary
    drop("b1", Seq((10000L, doc0Text), (10001L, cleanText)))
    q.processAllAvailable()
    val h1 = spark.read.parquet(hits)
    assert(h1.filter(col("doc_b") === 10000L && col("jac") === 1.0)
      .count() >= 1, "exact copy of a corpus doc not flagged")
    assert(h1.filter(col("doc_a") === 10001L || col("doc_b") === 10001L)
      .count() == 0, "fresh-vocabulary doc wrongly flagged")

    // b2: near-dups b1's clean doc — only findable if the store grew
    drop("b2", Seq((10002L, nearClean)))
    q.processAllAvailable()
    val h2 = spark.read.parquet(hits)
    assert(h2.filter(col("doc_a") === 10001L && col("doc_b") === 10002L)
      .count() == 1, "cross-batch near-dup not found via the store")

    // b3: redelivery of b1's rows — same pairs re-upsert, nothing new,
    // and the docs do not match their own stored signatures
    val before = h2.count()
    drop("b3", Seq((10000L, doc0Text), (10001L, cleanText)))
    q.processAllAvailable()
    assert(spark.read.parquet(hits).count() == before,
      "redelivered batch changed the hit set")

    // b4: two near-dups INSIDE one micro-batch — must be flagged even
    // though neither was in the store when the batch arrived
    val yy = (1 to 40).map(i => s"yy$i").mkString(" ")
    val yyNear = (1 to 40).map(i => if (i == 40) "yy41" else s"yy$i")
      .mkString(" ")
    drop("b4", Seq((10003L, yy), (10004L, yyNear)))
    q.processAllAvailable()
    q.stop()
    assert(spark.read.parquet(hits)
      .filter(col("doc_a") === 10003L && col("doc_b") === 10004L)
      .count() == 1, "intra-batch near-dup pair not flagged")
  }

  test("adaptive pruning: dup-dense batches flip it off, novel batches back on") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_docstream_p").toString
    val landing = s"$root/landing"
    Files.createDirectories(java.nio.file.Paths.get(landing))
    val store = s"$root/sig_store"

    def doc(pfx: String) = (1 to 40).map(i => s"$pfx$i").mkString(" ")
    val seed = Seq((1L, doc("aa")), (2L, doc("bb")), (3L, doc("cc")))
      .toDF("doc_id", "text")
    DocStream.seedSignatureStore(seed, store)

    val metrics = scala.collection.mutable.ArrayBuffer
      .empty[(Long, Double, Boolean)]
    val q = DocStream.nearDupStream(
      spark.readStream
        .schema(seed.schema)
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1).parquet(landing),
      store, s"$root/hits",
      onBatchMetrics = (id, frac, pruned) =>
        metrics.synchronized { metrics += ((id, frac, pruned)): Unit })

    // batch 0: exact copies of every seed doc — every store bucket is
    // live, the measured fraction must flip pruning OFF for this batch
    Seq((100L, doc("aa")), (101L, doc("bb")), (102L, doc("cc")))
      .toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/p0")
    q.processAllAvailable()
    // batch 1: fresh vocabulary — near-zero live fraction, pruning back ON
    Seq((103L, doc("zz"))).toDF("doc_id", "text").coalesce(1)
      .write.mode("overwrite").parquet(s"$landing/p1")
    q.processAllAvailable()
    q.stop()

    val byBatch = metrics.sortBy(_._1)
    assert(byBatch.size == 2, s"expected 2 batch metrics, got $metrics")
    val (_, frac0, pruned0) = byBatch(0)
    val (_, frac1, pruned1) = byBatch(1)
    assert(frac0 > 0.5 && !pruned0,
      s"dup-dense batch: fraction $frac0, pruned=$pruned0 — expected the " +
        "high fraction to disable pruning")
    assert(frac1 < 0.25 && pruned1,
      s"novel batch: fraction $frac1, pruned=$pruned1 — expected the low " +
        "fraction to re-enable pruning")
    // the dup-dense batch's hits were still found with pruning off
    assert(spark.read.parquet(s"$root/hits")
      .filter(col("doc_b") >= 100L && col("jac") === 1.0).count() == 3)
  }

  test("periodic compaction bounds store files without changing results") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_docstream_c").toString
    val landing = s"$root/landing"
    Files.createDirectories(java.nio.file.Paths.get(landing))
    val store = s"$root/sig_store"

    DocStream.seedSignatureStore(
      Seq((1L, (1 to 40).map(i => s"seed$i").mkString(" ")))
        .toDF("doc_id", "text"), store)
    def files() = new java.io.File(store).listFiles()
      .count(_.getName.endsWith(".parquet"))

    val q = DocStream.nearDupStream(
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1).parquet(landing),
      store, s"$root/hits", compactEvery = 2)
    // 4 insert-only batches (disjoint vocabularies): each APPENDS files;
    // batches 2 and 4 then compact the store back down
    def drop(b: Int): Unit =
      Seq((100L + b, (1 to 40).map(i => s"v${b}w$i").mkString(" ")))
        .toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/c$b")
    val seeded = TableFiles.fileStates(store)
    (0 until 2).foreach { b =>
      drop(b)
      q.processAllAvailable()
      val now = TableFiles.fileStates(store)
      assert(seeded.forall { case (f, st) => now.get(f).contains(st) },
        s"batch ${b + 1} rewrote the seed file instead of appending")
    }
    (2 until 4).foreach(drop)
    q.processAllAvailable()
    q.stop()
    assert(files() <= 2,
      s"store holds ${files()} parquet files after compaction — append " +
        "growth unbounded")
    // every batch's signatures survived the rewrites
    assert(spark.read.parquet(store).filter(col("doc_id") >= 100L)
      .count() == 4, "compaction lost signature rows")
  }

  /** A micro-batch against an existing store is a handful of driver
    * round trips, not a chain of them: one probe over the batch's and
    * the store's bands, then the two upserts. 13 jobs: the signatures
    * (1), the batch's bucket keys broadcast and the live store bands
    * pinned and counted (3), the hot-bucket probe (2), the hits upsert
    * (5) and the store upsert (2). Every job carries its step's
    * description, and nothing the batch persisted outlives it. */
  test("a plain micro-batch runs a bounded number of jobs, all attributed") {
    import spark.implicits._
    val root = Files.createTempDirectory("graft_docstream_j").toString
    val landing = s"$root/landing"
    Files.createDirectories(java.nio.file.Paths.get(landing))
    val store = s"$root/sig_store"
    val hits = s"$root/hits"

    def doc(pfx: String, last: Int = 40) =
      (1 to 40).map(i => if (i == 40) s"$pfx$last" else s"$pfx$i").mkString(" ")
    DocStream.seedSignatureStore(
      Seq((1L, doc("aa")), (2L, doc("bb")), (3L, doc("cc")))
        .toDF("doc_id", "text"), store)
    val q = DocStream.nearDupStream(
      spark.readStream
        .schema(org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("doc_id",
            org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("text",
            org.apache.spark.sql.types.StringType))))
        .option("recursiveFileLookup", "true")
        .option("maxFilesPerTrigger", 1).parquet(landing),
      store, hits)
    def drop(name: String, rows: Seq[(Long, String)]): Unit =
      rows.toDF("doc_id", "text").coalesce(1)
        .write.mode("overwrite").parquet(s"$landing/$name")

    // batch 0 creates the hits table; batch 1 is the measured plain batch:
    // a near-dup of a stored doc, a near-dup pair inside the batch, and a
    // fresh doc
    drop("j0", Seq((100L, doc("aa")), (101L, doc("dd"))))
    q.processAllAvailable()
    drop("j1", Seq((102L, doc("bb", 41)), (103L, doc("ee")),
      (104L, doc("ee", 41)), (105L, doc("ff"))))
    val m = Metered.of(spark)(q.processAllAvailable())
    q.stop()
    val jobs = m.jobs

    assert(jobs.size <= 13, s"a plain micro-batch ran ${jobs.size} jobs " +
      s"(budget 13):\n${jobs.mkString("\n")}")
    assert(jobs.forall(_.startsWith("DocStream batch 1: ")),
      s"jobs without their step's description:\n${jobs.mkString("\n")}")
    assert(m.retained == 0, s"the batch left ${m.retained} RDDs persisted")
    val pairs = spark.read.parquet(hits).select("doc_a", "doc_b").as[(Long, Long)]
      .collect().toSet
    assert(pairs == Set((1L, 100L), (2L, 102L), (103L, 104L)),
      s"hits $pairs")
  }
}
