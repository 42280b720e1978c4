package graft

import graft.sources.MergeWriter
import org.apache.hadoop.fs.{Path, RawLocalFileSystem}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** The local file system under the `failrename` scheme, except that a
  * rename onto a retired `.__old__` directory returns false — the way
  * Hadoop file systems report most rename failures. */
class OldRenameFailsFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: Path, dst: Path): Boolean =
    !dst.getName.endsWith(".__old__") && super.rename(src, dst)
}

class MergeWriterSpec extends SparkSpecBase {

  test("merge keeps unmatched target rows and takes updates wholesale") {
    import spark.implicits._
    val target = Seq((1, "a", 10.0), (2, "b", 20.0), (3, "c", 30.0))
      .toDF("k", "s", "v")
    val updates = Seq((2, "B", 99.0), (4, "d", 40.0)).toDF("k", "s", "v")
    val merged = MergeWriter.merge(target, updates, Seq("k"))
      .orderBy("k").collect().map(r => (r.getInt(0), r.getString(1), r.getDouble(2)))
    assert(merged.toSeq == Seq((1, "a", 10.0), (2, "B", 99.0), (3, "c", 30.0), (4, "d", 40.0)))
  }

  test("merge is idempotent (re-running a visit is a no-op)") {
    import spark.implicits._
    val target = Seq((1, 10.0), (2, 20.0)).toDF("k", "v")
    val updates = Seq((2, 99.0), (3, 30.0)).toDF("k", "v")
    val once = MergeWriter.merge(target, updates, Seq("k"))
    val twice = MergeWriter.merge(once, updates, Seq("k"))
    assert(once.orderBy("k").collect().toSeq == twice.orderBy("k").collect().toSeq)
  }

  test("upsertParquet creates, updates, and survives re-runs on disk") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge").toString + "/t"
    // create
    MergeWriter.upsertParquet(spark, dir,
      Seq((1, "x"), (2, "y")).toDF("k", "s"), Seq("k"))
    assert(spark.read.parquet(dir).count() == 2)
    // update + insert
    MergeWriter.upsertParquet(spark, dir,
      Seq((2, "Y"), (3, "z")).toDF("k", "s"), Seq("k"))
    val got = spark.read.parquet(dir).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "x"), (2, "Y"), (3, "z")))
    // idempotent re-run
    MergeWriter.upsertParquet(spark, dir,
      Seq((2, "Y"), (3, "z")).toDF("k", "s"), Seq("k"))
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("insert-only batches append files; collisions fall back to the rewrite") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_merge").toString + "/t"
    MergeWriter.upsertParquet(spark, dir,
      Seq((1, "a"), (2, "b")).toDF("k", "s"), Seq("k"))
    def files() = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.getName).toSet
    val before = files()
    // disjoint keys → the fast path must APPEND: every original file
    // survives untouched (a rewrite would replace the directory)
    MergeWriter.upsertParquet(spark, dir,
      Seq((3, "c"), (4, "d")).toDF("k", "s"), Seq("k"))
    assert(before.subsetOf(files()),
      "insert-only upsert rewrote the table instead of appending")
    assert(spark.read.parquet(dir).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c"), (4, "d")))
    // a colliding batch (an update + a redelivery) must take the merge
    // path: the key's row is REPLACED, not duplicated
    MergeWriter.upsertParquet(spark, dir,
      Seq((4, "D"), (5, "e")).toDF("k", "s"), Seq("k"))
    val got = spark.read.parquet(dir).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq
    assert(got == Seq((1, "a"), (2, "b"), (3, "c"), (4, "D"), (5, "e")))
    // redelivering the SAME batch collides with its own earlier append
    // → dedup'ing rewrite → idempotent
    MergeWriter.upsertParquet(spark, dir,
      Seq((4, "D"), (5, "e")).toDF("k", "s"), Seq("k"))
    assert(spark.read.parquet(dir).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getString(1))).toSeq == got)
  }

  test("additive schema evolution: new columns backfill null, wholesale rule holds") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_evolve").toString + "/t"
    MergeWriter.upsertParquet(spark, dir,
      Seq((1, "x"), (2, "y")).toDF("k", "s"), Seq("k"))
    // a later batch gains column q: untouched rows read null
    MergeWriter.upsertParquet(spark, dir,
      Seq((2, "Y", 9.0), (3, "z", 7.0)).toDF("k", "s", "q"), Seq("k"))
    val got = spark.read.parquet(dir).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(got == Seq((1, "x", None), (2, "Y", Some(9.0)), (3, "z", Some(7.0))))
    // a still-later batch WITHOUT q: its rows replace wholesale (q null),
    // rows it doesn't touch keep their q
    MergeWriter.upsertParquet(spark, dir,
      Seq((3, "Z")).toDF("k", "s"), Seq("k"))
    val after = spark.read.parquet(dir).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1),
        if (r.isNullAt(2)) None else Some(r.getDouble(2)))).toSeq
    assert(after == Seq((1, "x", None), (2, "Y", Some(9.0)), (3, "Z", None)))
  }

  test("recover promotes a complete tmp after a mid-swap crash") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rec1").toString + "/t"
    // simulate: old = v1 (retired), tmp = v2 (complete, _SUCCESS), cur gone
    Seq((1, "v1")).toDF("k", "s").write.parquet(dir + ".__old__")
    Seq((1, "v2"), (2, "v2")).toDF("k", "s").write.parquet(dir + ".__tmp__")
    MergeWriter.recover(spark, dir)
    val got = spark.read.parquet(dir).orderBy("k")
      .collect().map(_.getString(1)).toSeq
    assert(got == Seq("v2", "v2"))
    // leftovers swept
    assert(!Files.exists(java.nio.file.Paths.get(dir + ".__old__")))
    assert(!Files.exists(java.nio.file.Paths.get(dir + ".__tmp__")))
  }

  test("recover restores the old version when tmp is incomplete") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rec2").toString + "/t"
    Seq((1, "v1")).toDF("k", "s").write.parquet(dir + ".__old__")
    // incomplete tmp: parquet dir without its _SUCCESS marker
    Seq((1, "v2")).toDF("k", "s").write.parquet(dir + ".__tmp__")
    Files.delete(java.nio.file.Paths.get(dir + ".__tmp__", "_SUCCESS"))
    MergeWriter.recover(spark, dir)
    val got = spark.read.parquet(dir).collect().map(_.getString(1)).toSeq
    assert(got == Seq("v1"))
    assert(!Files.exists(java.nio.file.Paths.get(dir + ".__tmp__")))
  }

  test("deleteParquet erases matched keys, replays safely, skips absent tables") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_del").toString + "/t"
    MergeWriter.upsertParquet(spark,
      dir, Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v"), Seq("k"))
    val ts = Seq(2, 99).toDF("k") // one present, one absent
    MergeWriter.deleteParquet(spark, dir, ts, Seq("k"))
    MergeWriter.deleteParquet(spark, dir, ts, Seq("k")) // tombstone replay
    val got = spark.read.parquet(dir).orderBy("k")
      .collect().map(r => (r.getInt(0), r.getDouble(1))).toSeq
    assert(got == Seq((1, 10.0), (3, 30.0)))
    // absent table: a no-op, not an error
    MergeWriter.deleteParquet(spark, dir + "_missing", ts, Seq("k"))
    // upsert after delete: the erased key can return
    MergeWriter.upsertParquet(spark, dir, Seq((2, 21.0)).toDF("k", "v"), Seq("k"))
    assert(spark.read.parquet(dir).count() == 3)
  }

  test("compactParquet folds many small files into few, keeps rows, skips when compact") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_compact").toString + "/t"
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(20).write.parquet(dir)
    def files() = new java.io.File(dir).listFiles()
      .count(_.getName.endsWith(".parquet"))
    assert(files() == 20)
    val before = spark.read.parquet(dir).orderBy("k").collect().toSeq
    MergeWriter.compactParquet(spark, dir, targetFileBytes = 1L << 30)
    assert(files() == 1, "small files not folded")
    assert(spark.read.parquet(dir).orderBy("k").collect().toSeq == before)
    // a second pass finds nothing to do and must not rewrite
    val mtime = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    MergeWriter.compactParquet(spark, dir, targetFileBytes = 1L << 30)
    val mtime2 = new java.io.File(dir).listFiles()
      .filter(_.getName.endsWith(".parquet")).map(_.lastModified).max
    assert(mtime2 == mtime, "no-op compaction rewrote the table")
  }

  test("recover rolls back a staged append that died mid-publish") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_rec3").toString + "/t"
    MergeWriter.upsertParquet(spark, dir,
      Seq((1, "a"), (2, "b")).toDF("k", "s"), Seq("k"))
    val before = spark.read.parquet(dir).orderBy("k").collect().toSeq
    // simulate a crash in the rename window: one batch file is already
    // live, the marker still lists it (publish never completed)
    Seq((3, "c")).toDF("k", "s").coalesce(1)
      .write.mode("overwrite").parquet(dir + ".__add__")
    val part = new java.io.File(dir + ".__add__").listFiles()
      .filter(_.getName.endsWith(".parquet")).head
    Files.writeString(java.nio.file.Paths.get(dir + ".__addlog__"),
      part.getName + "\n")
    Files.move(part.toPath,
      java.nio.file.Paths.get(dir, part.getName))
    MergeWriter.recover(spark, dir)
    // all-or-nothing: the half-published batch is gone, the table is
    // exactly its pre-append state, all staging artifacts swept
    assert(spark.read.parquet(dir).orderBy("k").collect().toSeq == before)
    assert(!Files.exists(java.nio.file.Paths.get(dir + ".__addlog__")))
    assert(!Files.exists(java.nio.file.Paths.get(dir + ".__add__")))
    // and the sink still works after the rollback (caller retries)
    MergeWriter.upsertParquet(spark, dir, Seq((3, "c")).toDF("k", "s"), Seq("k"))
    assert(spark.read.parquet(dir).count() == 3)
  }

  /** Input records read by every task of the jobs `body` runs. */
  private def recordsRead(body: => Unit): Long = {
    val read = new AtomicLong(0)
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        read.addAndGet(e.taskMetrics.inputMetrics.recordsRead): Unit
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(
            _.getProperty("spark.job.description") == "drain"))
          drained.countDown()
    }
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      body
      // the listener bus is FIFO: once this marker job's start arrives,
      // every task end of `body` has been counted
      sc.setJobDescription("drain")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus never drained")
    } finally sc.removeSparkListener(listener)
    read.get()
  }

  /** Data files under `dir`, relative to it (partition subdirs included). */
  private def dataFiles(dir: String): Set[String] = {
    val root = java.nio.file.Paths.get(dir)
    val walk = Files.walk(root)
    try walk.iterator().asScala.map(root.relativize(_).toString)
      .filter(_.endsWith(".parquet")).toSet
    finally walk.close()
  }

  test("key-range index prunes the collision probe to zero table reads") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_idx").toString + "/t"
    // seed 100k rows with keys [0, 100k)
    MergeWriter.upsertParquet(spark, dir,
      spark.range(100000).selectExpr("id AS k", "CAST(id AS STRING) AS s"),
      Seq("k"))
    // records read across an insert-only upsert whose key range is
    // DISJOINT from the table's: the persisted batch's range must skip
    // every stored row group on its footer min/max
    val batch = spark.range(200000, 200100)
      .selectExpr("id AS k", "CAST(id AS STRING) AS s").persist()
    val read = recordsRead(MergeWriter.upsertParquet(spark, dir, batch, Seq("k")))
    batch.unpersist()
    assert(spark.read.parquet(dir).count() == 100100)
    assert(read < 50000,
      s"disjoint-range append read $read records — the collision " +
        "probe scanned the table instead of pruning on the key range")
    // an OVERLAPPING batch must still detect its collision (update wins)
    val overlap = Seq((5L, "FIVE")).toDF("k", "s").persist()
    MergeWriter.upsertParquet(spark, dir, overlap, Seq("k"))
    overlap.unpersist()
    assert(spark.read.parquet(dir).filter($"k" === 5L)
      .collect().map(_.getString(1)).toSeq == Seq("FIVE"))
    assert(spark.read.parquet(dir).count() == 100100)
  }

  test("compaction keeps appends and collision detection correct (probe recovery)") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_idx3").toString + "/t"
    MergeWriter.upsertParquet(spark, dir,
      spark.range(0, 1000).selectExpr("id AS k", "'x' AS s"), Seq("k"))
    (1 to 5).foreach { i =>
      val batch = spark.range(i * 1000L, i * 1000L + 1000)
        .selectExpr("id AS k", "'x' AS s").persist()
      MergeWriter.upsertParquet(spark, dir, batch, Seq("k"))
      batch.unpersist()
    }
    MergeWriter.compactParquet(spark, dir, targetFileBytes = 1L << 30)
    assert(dataFiles(dir).size == 1, "appended files not compacted")
    // a disjoint append right after compaction stays an append and
    // correct, and overlap detection holds on the compacted file
    val fresh = Seq((99999L, "y")).toDF("k", "s").persist()
    MergeWriter.upsertParquet(spark, dir, fresh, Seq("k"))
    fresh.unpersist()
    assert(spark.read.parquet(dir).count() == 6001)
    val update = Seq((500L, "UPD")).toDF("k", "s").persist()
    MergeWriter.upsertParquet(spark, dir, update, Seq("k"))
    update.unpersist()
    assert(spark.read.parquet(dir).count() == 6001)
    assert(spark.read.parquet(dir).filter($"k" === 500L)
      .head().getString(1) == "UPD")
  }

  test("composite keys prune conjunctively: one disjoint key column suffices") {
    import spark.implicits._
    // the streaming HITS shape: doc_a (= least of the pair) spans the
    // whole historical id range every batch, but doc_b (= greatest, the
    // current batch's fresh ids) is monotonic — the range filter is a
    // conjunction over ALL key columns, so the disjoint doc_b range
    // alone must prune the collision probe to zero table reads
    val dir = Files.createTempDirectory("graft_idxc").toString + "/t"
    MergeWriter.upsertParquet(spark, dir,
      spark.range(50000).selectExpr("id % 100 AS a", "id + 1000 AS b", "'x' AS s"),
      Seq("a", "b"))
    // a overlaps [0,100) fully; b is disjoint (above the stored max)
    val batch = spark.range(200)
      .selectExpr("id % 100 AS a", "id + 1000000 AS b", "'y' AS s").persist()
    val read = recordsRead(
      MergeWriter.upsertParquet(spark, dir, batch, Seq("a", "b")))
    batch.unpersist()
    assert(spark.read.parquet(dir).count() == 50200)
    assert(read < 25000,
      s"composite-key append read $read records — the conjunctive " +
        "range filter failed to prune on the disjoint key column")
    // and a batch overlapping on BOTH columns still detects its collision
    val overlap = Seq((5L, 1005L, "UPD")).toDF("a", "b", "s").persist()
    MergeWriter.upsertParquet(spark, dir, overlap, Seq("a", "b"))
    overlap.unpersist()
    assert(spark.read.parquet(dir).count() == 50200)
    assert(spark.read.parquet(dir).filter($"a" === 5L && $"b" === 1005L)
      .head().getString(2) == "UPD")
  }

  test("phot-shaped upsert: a persisted new image skips the stored image's rows") {
    import spark.implicits._
    // the cte phot table: keyed per star × aperture within an image,
    // hive-partitioned by target; image A is stored, image B arrives
    // with the same target and overlapping find_id/aperture ranges, so
    // only imagename's footer min/max can prune
    val keys = Seq("targname", "imagename", "find_id", "aperture")
    val part = Seq("targname")
    val root = Files.createTempDirectory("graft_phot").toString
    val imageA = spark.range(20000).selectExpr("'NGC104' AS targname",
      "'iaaa01aaq' AS imagename", "CAST(id DIV 4 AS INT) AS find_id",
      "CAST(id % 4 + 1 AS INT) AS aperture", "id * 0.5D AS flux")
    val rowsB = for (f <- 0 until 25; a <- 1 to 2)
      yield ("NGC104", "iaaa01abq", f, a, f * 0.25)
    def imageB = rowsB.toDF("targname", "imagename", "find_id", "aperture",
      "flux")
    val persisted = s"$root/persisted"
    val unpersisted = s"$root/unpersisted"
    Seq(persisted, unpersisted).foreach(
      MergeWriter.upsertParquet(spark, _, imageA, keys, part))
    val seeded = dataFiles(persisted)
    def table(p: String) = spark.read.parquet(p)
      .orderBy(keys.map(col): _*).collect().toSeq

    // the lazy leg runs while nothing is cached: the cache manager
    // would hand a same-plan batch the persisted data
    MergeWriter.upsertParquet(spark, unpersisted, imageB, keys, part)
    val cached = imageB.persist()
    val read = recordsRead(
      MergeWriter.upsertParquet(spark, persisted, cached, keys, part))
    assert(read < 1000, s"new-image upsert read $read records — the " +
      "probe scanned the stored image instead of skipping its row groups")
    assert(seeded.subsetOf(dataFiles(persisted)),
      "a collision-free image rewrote the table instead of appending")
    val once = table(persisted)
    assert(once.size == 20050)
    assert(once == table(unpersisted))
    // redelivery collides in both forms and leaves the tables unchanged
    MergeWriter.upsertParquet(spark, persisted, cached, keys, part)
    cached.unpersist()
    MergeWriter.upsertParquet(spark, unpersisted, imageB, keys, part)
    assert(table(persisted) == once)
    assert(table(unpersisted) == once)
  }

  test("a refused rename fails the upsert and recover keeps the table") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.failrename.impl", classOf[OldRenameFailsFs].getName)
    val dir = "failrename://" +
      Files.createTempDirectory("graft_rename").toString + "/t"
    MergeWriter.upsertParquet(spark, dir,
      Seq((1, "a"), (2, "b")).toDF("k", "s"), Seq("k"))
    def rows() = spark.read.parquet(dir).orderBy("k").collect()
      .map(r => (r.getInt(0), r.getString(1))).toSeq
    // a colliding batch takes the rewrite, whose retire rename is refused
    intercept[java.io.IOException] {
      MergeWriter.upsertParquet(spark, dir,
        Seq((2, "B"), (3, "c")).toDF("k", "s"), Seq("k"))
    }
    MergeWriter.recover(spark, dir)
    assert(rows() == Seq((1, "a"), (2, "b")))
  }

  test("composite natural keys merge on the full key") {
    import spark.implicits._
    val target = Seq(("img1", 1, 1.0), ("img1", 2, 2.0)).toDF("img", "ap", "v")
    val updates = Seq(("img1", 2, 9.0)).toDF("img", "ap", "v")
    val got = MergeWriter.merge(target, updates, Seq("img", "ap"))
      .orderBy("img", "ap").collect().map(_.getDouble(2)).toSeq
    assert(got == Seq(1.0, 9.0))
  }
}
