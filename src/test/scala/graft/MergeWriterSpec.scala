package graft

import graft.TableFiles.{dataFiles, fileStates}
import graft.sources.MergeWriter
import org.apache.hadoop.fs.{CreateFlag, FSDataOutputStream, Path, RawLocalFileSystem}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.sql.functions._
import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.jdk.CollectionConverters._

/** The local file system under the `failrename` scheme, except that the
  * rename publishing a commit record onto an existing table returns
  * false — the way Hadoop file systems report most rename failures. */
class OldRenameFailsFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("failrename:///")
  override def getScheme: String = "failrename"
  override def rename(src: Path, dst: Path): Boolean = {
    val table = new Path(dst.getParent, dst.getName.stripSuffix(".__commit__"))
    !(dst.getName.endsWith(".__commit__") && exists(table)) &&
      super.rename(src, dst)
  }
}

/** The local file system under the `crashfs` scheme with a crash switch:
  * once armed with k, the k-th create, rename or delete and every one
  * after it throw, until disarmed — what a process that died at that
  * call leaves on disk. */
class CrashingFs extends RawLocalFileSystem {
  override def getUri: java.net.URI = java.net.URI.create("crashfs:///")
  override def getScheme: String = "crashfs"
  override def create(f: Path, overwrite: Boolean, bufferSize: Int,
                      replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashingFs.step()
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }
  override def create(f: Path, permission: FsPermission, overwrite: Boolean,
                      bufferSize: Int, replication: Short, blockSize: Long,
                      progress: Progressable): FSDataOutputStream = {
    CrashingFs.step()
    super.create(f, permission, overwrite, bufferSize, replication,
      blockSize, progress)
  }
  override def createNonRecursive(f: Path, permission: FsPermission,
                                  flags: java.util.EnumSet[CreateFlag],
                                  bufferSize: Int, replication: Short,
                                  blockSize: Long,
                                  progress: Progressable): FSDataOutputStream = {
    CrashingFs.step()
    super.createNonRecursive(f, permission, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    CrashingFs.step(); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    CrashingFs.step(); super.delete(p, recursive)
  }
}

object CrashingFs {
  private val left = new AtomicInteger(Int.MaxValue)
  @volatile private var armed = false
  @volatile var crashed = false
  def arm(k: Int): Unit = { left.set(k); crashed = false; armed = true }
  def disarm(): Unit = armed = false
  def step(): Unit =
    if (armed && left.decrementAndGet() <= 0) {
      crashed = true
      throw new java.io.IOException("injected crash")
    }
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
    // an unpartitioned table, and a hive-partitioned one compacted at its
    // root: 3 partitions of several files each
    for (partitionCols <- Seq(Nil, Seq("p"))) {
      val dir = Files.createTempDirectory("graft_compact").toString + "/t"
      val rows = (1 to 1000).map(i => (i.toLong, s"v$i", i % 3)).toDF("k", "v", "p")
      if (partitionCols.isEmpty) rows.drop("p").repartition(20).write.parquet(dir)
      else rows.repartition(20).write.partitionBy("p").parquet(dir)
      val dirs = if (partitionCols.isEmpty) 1 else 3
      def files() = dataFiles(dir)
      assert(files().size == 20 * dirs)
      val before = spark.read.parquet(dir).orderBy("k").collect().toSeq
      MergeWriter.compactParquet(spark, dir, targetFileBytes = 1L << 30,
        partitionCols = partitionCols)
      assert(files().size == dirs, s"small files not folded: ${files()}")
      if (partitionCols.nonEmpty)
        assert(files().map(_.takeWhile(_ != '/')) == Set("p=0", "p=1", "p=2"))
      assert(spark.read.parquet(dir).orderBy("k").collect().toSeq == before)
      // a second pass finds nothing to do and must not rewrite
      val state = fileStates(dir)
      MergeWriter.compactParquet(spark, dir, targetFileBytes = 1L << 30,
        partitionCols = partitionCols)
      assert(fileStates(dir) == state, "no-op compaction rewrote the table")
    }
  }

  private def metered(body: => Unit): Metered = Metered.of(spark)(body)

  /** Input records read by every task of the jobs `body` runs. */
  private def recordsRead(body: => Unit): Long = metered(body).records

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

  test("a redelivered batch, persisted or lazy, commits nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_redeliver").toString + "/t"
    val keys = Seq("targname", "k")
    def batch = (1 to 50).map(i => ("ngc104", i, i * 0.5))
      .toDF("targname", "k", "v").withColumn("ingest_date", current_date())
    MergeWriter.upsertParquet(spark, dir, batch, keys, Seq("targname"))
    val seeded = fileStates(dir)
    def rows() = spark.read.parquet(dir).orderBy("k").collect().toSeq
    val once = rows()
    MergeWriter.upsertParquet(spark, dir, batch, keys, Seq("targname"))
    val cached = batch.persist()
    MergeWriter.upsertParquet(spark, dir, cached, keys, Seq("targname"))
    cached.unpersist()
    assert(fileStates(dir) == seeded, "a redelivery added or removed files")
    assert(rows() == once)
  }

  test("a collision confined to 1 of N files rewrites only that file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_cow").toString + "/t"
    MergeWriter.upsertParquet(spark, dir,
      spark.range(400).selectExpr("id AS k", "CAST(id AS STRING) AS s")
        .repartitionByRange(4, col("k")), Seq("k"))
    val seeded = fileStates(dir)
    assert(seeded.size == 4)
    val updates = Seq((150L, "X"), (1000L, "new")).toDF("k", "s")
    val expected = MergeWriter.merge(spark.read.parquet(dir), updates, Seq("k"))
      .orderBy("k").collect().toSeq
    MergeWriter.upsertParquet(spark, dir, updates, Seq("k"))
    val after = fileStates(dir)
    assert((seeded.keySet -- after.keySet).size == 1,
      "the upsert removed other files than the one holding the collision")
    assert(seeded.count { case (f, st) => after.get(f).contains(st) } == 3,
      "an untouched file changed")
    assert(spark.read.parquet(dir).orderBy("k").collect().toSeq == expected)
  }

  test("escaped partition values: a collision rewrites exactly its file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_escape").toString + "/t"
    val keys = Seq("targname", "k")
    MergeWriter.upsertParquet(spark, dir,
      Seq(("47 Tuc%x", 1, "a"), ("47 Tuc%x", 2, "b"), ("ngc104", 1, "c"))
        .toDF("targname", "k", "s").coalesce(1), keys, Seq("targname"))
    val seeded = fileStates(dir)
    val tuc = seeded.keySet.filter(_.startsWith("targname=47 Tuc%25x/"))
    assert(tuc.size == 1 && seeded.size == 2, seeded.keySet)
    val updates = Seq(("47 Tuc%x", 2, "B"), ("47 Tuc%x", 3, "d"))
      .toDF("targname", "k", "s")
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.orderBy("targname", "k").collect()
        .map(r => (r.getAs[String]("targname"), r.getAs[Int]("k"),
          r.getAs[String]("s"))).toSeq
    val expected = rows(MergeWriter.merge(spark.read.parquet(dir), updates, keys))
    MergeWriter.upsertParquet(spark, dir, updates, keys, Seq("targname"))
    val after = fileStates(dir)
    assert(seeded.keySet -- after.keySet == tuc)
    assert((seeded -- tuc).forall { case (f, st) => after.get(f).contains(st) })
    assert(rows(spark.read.parquet(dir)) == expected)
    assert(expected.contains(("47 Tuc%x", 2, "B")))
  }

  test("a replayed tombstone batch writes nothing") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tomb").toString + "/t"
    MergeWriter.upsertParquet(spark,
      dir, Seq((1, 10.0), (2, 20.0), (3, 30.0)).toDF("k", "v"), Seq("k"))
    val ts = Seq(2, 99).toDF("k")
    MergeWriter.deleteParquet(spark, dir, ts, Seq("k"))
    val settled = fileStates(dir)
    MergeWriter.deleteParquet(spark, dir, ts, Seq("k"))
    MergeWriter.deleteParquet(spark, dir, Seq(7).toDF("k"), Seq("k"))
    assert(fileStates(dir) == settled,
      "deleting keys the table does not hold added or removed files")
    assert(spark.read.parquet(dir).count() == 2)
  }

  test("a crash at any file-system call leaves the write all-or-nothing") {
    import spark.implicits._
    spark.sparkContext.hadoopConfiguration
      .set("fs.crashfs.impl", classOf[CrashingFs].getName)
    val keys = Seq("targname", "k")
    val part = Seq("targname")
    // two files in partition a, one in b: compaction has one partition
    // to fold, and each other write touches one file
    val seed = Files.createTempDirectory("graft_crash_seed").resolve("t")
    MergeWriter.upsertParquet(spark, s"crashfs://$seed",
      Seq(("a", 1, "x"), ("b", 3, "z"), ("b", 4, "w"))
        .toDF("targname", "k", "s").coalesce(1), keys, part)
    MergeWriter.upsertParquet(spark, s"crashfs://$seed",
      Seq(("a", 2, "y")).toDF("targname", "k", "s"), keys, part)
    assert(dataFiles(seed.toString).size == 3)
    def rows(dir: String) = spark.read.parquet(dir)
      .orderBy("targname", "k").collect()
      .map(r => (r.getAs[String]("targname"), r.getAs[Int]("k"),
        r.getAs[String]("s"))).toSeq
    val pre = rows(s"crashfs://$seed")
    val writes = Seq[(String, String => Unit, Seq[(String, Int, String)])](
      ("colliding upsert", MergeWriter.upsertParquet(spark, _,
        Seq(("a", 2, "Y"), ("a", 5, "v")).toDF("targname", "k", "s")
          .coalesce(1), keys, part),
        Seq(("a", 1, "x"), ("a", 2, "Y"), ("a", 5, "v"), ("b", 3, "z"),
          ("b", 4, "w"))),
      ("delete", MergeWriter.deleteParquet(spark, _,
        Seq(("b", 3)).toDF("targname", "k"), keys, part),
        pre.filterNot(_._2 == 3)),
      ("compaction", MergeWriter.compactParquet(spark, _, 1L << 30, part), pre))
    for ((name, write, post) <- writes) {
      var k = 0
      var crashed = true
      while (crashed) {
        k += 1
        val root = Files.createTempDirectory("graft_crash")
        val walk = Files.walk(seed)
        try walk.iterator().asScala.foreach(p =>
          Files.copy(p, root.resolve("t").resolve(seed.relativize(p).toString)))
        finally walk.close()
        val dir = s"crashfs://${root.resolve("t")}"
        CrashingFs.arm(k)
        val returned =
          try { write(dir); true }
          catch { case _: Exception => false }
          finally CrashingFs.disarm()
        crashed = CrashingFs.crashed
        val recorded = Files.exists(root.resolve("t.__commit__"))
        MergeWriter.recover(spark, dir)
        val at = s"$name, crash at call $k"
        val got = rows(dir)
        assert(got == pre || got == post, s"$at: torn table $got")
        if (returned || recorded)
          assert(got == post, s"$at: a committed write was lost: $got")
        assert(root.toFile.list().toSeq == Seq("t"),
          s"$at: left ${root.toFile.list().toSeq} beside the table")
        assert(crashed || returned, s"$at: failed without a crash")
      }
      assert(k > 3, s"$name reached only ${k - 1} crash points")
    }
  }

  test("an insert-only upsert of non-null array rows leaves every stored file as it was") {
    import spark.implicits._
    // the signature-store shape: `array<bigint>` without nulls, which a
    // Parquet read gives back nullable — the upsert must still see one
    // shape and append
    val dir = Files.createTempDirectory("graft_nonnull").toString + "/t"
    MergeWriter.upsertParquet(spark, dir,
      Seq((1L, Seq(1L, 2L)), (2L, Seq(3L))).toDF("doc_id", "sig"), Seq("doc_id"))
    val seeded = fileStates(dir)
    MergeWriter.upsertParquet(spark, dir,
      Seq((3L, Seq(4L)), (4L, Seq(5L, 6L))).toDF("doc_id", "sig"), Seq("doc_id"))
    val after = fileStates(dir)
    assert(seeded.forall { case (f, st) => after.get(f).contains(st) },
      "an insert-only upsert rewrote a stored file")
    assert(after.size > seeded.size)
    assert(spark.read.parquet(dir).orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq ==
      Seq((1L, Seq(1L, 2L)), (2L, Seq(3L)), (3L, Seq(4L)), (4L, Seq(5L, 6L))))
  }

  test("job budget: a persisted disjoint-range append runs at most 2 jobs and reads no table row") {
    val dir = Files.createTempDirectory("graft_budget_a").toString + "/t"
    MergeWriter.upsertParquet(spark, dir,
      spark.range(10000).selectExpr("id AS k", "CAST(id AS STRING) AS s"),
      Seq("k"))
    val batch = spark.range(20000, 20100)
      .selectExpr("id AS k", "CAST(id AS STRING) AS s").persist()
    val m = metered(MergeWriter.upsertParquet(spark, dir, batch, Seq("k")))
    batch.unpersist()
    assert(m.jobs.size <= 2, s"a disjoint append ran ${m.jobs.size} jobs")
    assert(m.fileRecords == 0, s"a disjoint append read ${m.fileRecords} " +
      "table records")
    assert(spark.read.parquet(dir).count() == 10100)
  }

  test("job budget: a no-op redelivery of a lazy batch runs at most 4 jobs and changes no file") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_budget_r").toString + "/t"
    val keys = Seq("targname", "k")
    def batch = (1 to 50).map(i => ("ngc104", i, i * 0.5))
      .toDF("targname", "k", "v")
    MergeWriter.upsertParquet(spark, dir, batch, keys, Seq("targname"))
    val seeded = fileStates(dir)
    val sc = spark.sparkContext
    def stored() = sc.getRDDStorageInfo.filter(_.isCached).map(_.id).toSet
    val held = stored()
    val m = metered(MergeWriter.upsertParquet(spark, dir, batch, keys,
      Seq("targname")))
    assert(m.jobs.size <= 4, s"a no-op redelivery ran ${m.jobs.size} jobs")
    assert(fileStates(dir) == seeded, "a redelivery added or removed files")
    assert((stored() -- held).isEmpty, "the upsert left its batch stored")
  }
}
