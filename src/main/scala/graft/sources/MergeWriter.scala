package graft.sources

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min}
import org.apache.spark.storage.StorageLevel

/** Upsert-by-natural-key semantics over vanilla Parquet — the reference's
  * insert-or-update sink (/root/reference/wfc3_cte_monitor/
  * database_update.py:214-255) re-expressed as a set operation
  * (SURVEY.md §2.1 S5, §7.1).
  *
  * The reference looks up each row's natural key and issues INSERT or
  * UPDATE one row at a time over SQLite ("cannot parallelize", README.md:
  * 962-967). Here the whole batch merges in one distributed anti-join:
  * rows of `target` whose key collides with an update are dropped, then
  * updates are unioned in — O(|target| + |updates|) with a single shuffle
  * on the key (or none, if both sides are bucketed by the key).
  *
  * Idempotence (re-running a visit "is not bad", README.md:519-521) holds:
  * merging the same updates twice is a no-op.
  */
object MergeWriter {

  /** Pure merge: `target` rows not matched on `keys`, plus all `updates`.
    * Schemas may differ additively (a batch that gains or drops a
    * non-key column): the union aligns by name and null-backfills either
    * side — the parquet-level form of additive schema evolution. An
    * update still replaces its matched row WHOLESALE, so a column the
    * update batch doesn't carry reads null on updated rows (the winner
    * rule, not a partial column patch). */
  def merge(target: DataFrame, updates: DataFrame, keys: Seq[String]): DataFrame =
    target.join(updates, keys, "left_anti")
      .unionByName(updates, allowMissingColumns = true)

  /** If a previous upsert crashed mid-publish, put the table back.
    * Covers BOTH publish mechanisms:
    *  - the two-rename swap (rewrites): a complete tmp (its _SUCCESS
    *    marker exists) wins — it holds the merged new version — else the
    *    retired old version is restored;
    *  - the staged append: `path.__addlog__` lists the batch's files; if
    *    the marker is still present the publish died mid-rename and the
    *    listed files are ROLLED BACK out of the live directory (all of
    *    the batch or none of it — the caller retries/redelivers).
    * Called automatically by every write entry point; call directly
    * before reads if a crash is suspected. Single-writer is assumed
    * throughout (the reference is single-writer too — SQLite, README.md:
    * 850-866); concurrent readers during a publish window need a
    * catalog/lakehouse layer instead. */
  def recover(spark: SparkSession, path: String): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(path)
    // staged-append rollback FIRST: a marker means some (possibly zero,
    // possibly all) of the listed files were renamed in before the crash
    val addlog = new Path(path + AddLogSuffix)
    if (fs.exists(addlog)) {
      readLines(fs, addlog).foreach { rel =>
        val f = new Path(cur, rel)
        if (fs.exists(f)) fs.delete(f, false)
      }
      fs.delete(addlog, false)
    }
    val stage = new Path(path + AddStageSuffix)
    if (fs.exists(stage)) fs.delete(stage, true)
    val tmp = new Path(path + ".__tmp__")
    val old = new Path(path + ".__old__")
    if (!fs.exists(cur)) {
      if (fs.exists(new Path(tmp, "_SUCCESS"))) renameOrThrow(fs, tmp, cur)
      else if (fs.exists(old)) renameOrThrow(fs, old, cur)
    }
    if (fs.exists(tmp)) fs.delete(tmp, true)
    if (fs.exists(old) && fs.exists(cur)) fs.delete(old, true)
  }

  /** Parquet-backed upsert: read current table state (absent → empty),
    * merge, write fresh, swap directories with crash recovery. The swap
    * itself is two renames (no distributed FS offers an atomic directory
    * exchange); every crash point is covered by `recover`: before the
    * first rename the current version is intact, between them the
    * complete tmp is promoted, after them only the retired copy is left
    * to sweep. Partition-scoped overwrite at scale: pass the partition
    * subdir as `path` so only the touched partition rewrites.
    *
    * INSERT-ONLY FAST PATH: when no update key collides with the table
    * (and the schemas agree), the merge is mathematically an append —
    * target ⟕̸ updates = target — so the batch's rows are APPENDED as new
    * files instead of rewriting the whole table. That turns the
    * insert-dominant workload (streaming ingest: every batch is new
    * doc_ids except redeliveries) from O(|table|) per batch into
    * O(|batch|) plus the key-collision probe; a sustained 10×50k-batch
    * run against a 500k-signature store measured the whole-table rewrite
    * growing per batch exactly as O(store) predicts. The append
    * publishes through a staging dir + rename batch protected by an
    * on-disk marker, so the all-or-nothing crash contract is the SAME as
    * the rewrite's: a crash mid-publish rolls the whole batch back on
    * the next `recover` (the batch is simply not yet applied — callers
    * retry or, under streaming redelivery, re-run the batch). A
    * redelivered batch COLLIDES with its own earlier append and falls
    * back to the dedup'ing rewrite — idempotence is unchanged. Persist
    * `updates` to let the probe skip stored row groups outside the
    * batch's key range ([[collides]]). */
  def upsertParquet(spark: SparkSession, path: String, updates: DataFrame,
                    keys: Seq[String],
                    partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(new Path(path))) {
      swapIn(spark, path, updates, partitionCols)
      return
    }
    val target = spark.read.parquet(path)
    def shape(df: DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSet
    if (shape(target) == shape(updates) && !collides(target, updates, keys)) {
      // column order pinned to the table's so every file carries the
      // same layout (readers merge by name, but keep footers uniform)
      appendIn(spark, path, updates.select(target.columns.map(col): _*),
        partitionCols)
    } else swapIn(spark, path, merge(target, updates, keys), partitionCols)
  }

  // ---------------------------------------------------------------- append

  private val AddStageSuffix = ".__add__"
  private val AddLogSuffix = ".__addlog__"

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** Write `lines` to `p` atomically: create under a temp name, then
    * rename (single-file rename is atomic on HDFS/local/object-store
    * emulations alike — the directory swap is what isn't). */
  private def writeLinesAtomic(fs: FileSystem, p: Path, lines: Seq[String]): Unit = {
    val tmp = new Path(p.toString + ".tmp")
    val out = fs.create(tmp, true)
    try out.write((lines.mkString("\n") + "\n").getBytes("UTF-8"))
    finally out.close()
    fs.delete(p, false)
    renameOrThrow(fs, tmp, p)
  }

  /** `fs.rename` reports most failures by returning false, not throwing:
    * every publish step goes through here so none is silently skipped. */
  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new java.io.IOException(s"could not rename $src to $dst")

  /** Data files under `root`, as paths relative to it (partition subdirs
    * included). */
  private def listDataFiles(fs: FileSystem, root: Path): Seq[String] = {
    if (!fs.exists(root)) return Nil
    val rootUri = fs.makeQualified(root).toString
    val it = fs.listFiles(root, true)
    val out = scala.collection.mutable.ArrayBuffer.empty[String]
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        val full = f.getPath.toString
        out += full.stripPrefix(rootUri).stripPrefix("/")
      }
    }
    out.toSeq
  }

  /** Stage-then-publish append: write the batch BESIDE the table, record
    * the staged file names in an on-disk marker, rename them in, clear
    * the marker. Readers never see a partial batch: task files stay in
    * the staging dir until every one is complete (_SUCCESS), and a crash
    * anywhere in the rename window leaves the marker for [[recover]] to
    * roll the whole batch back. */
  private def appendIn(spark: SparkSession, path: String, batch: DataFrame,
                       partitionCols: Seq[String]): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val stage = new Path(path + AddStageSuffix)
    fs.delete(stage, true)
    val writer = batch.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(stage.toString)
    val rels = listDataFiles(fs, stage)
    writeLinesAtomic(fs, new Path(path + AddLogSuffix), rels)
    val cur = new Path(path)
    rels.foreach { rel =>
      val dst = new Path(cur, rel)
      val parent = dst.getParent
      if (!fs.exists(parent)) fs.mkdirs(parent)
      renameOrThrow(fs, new Path(stage, rel), dst)
    }
    fs.delete(new Path(path + AddLogSuffix), false)
    fs.delete(stage, true): Unit
  }

  // --------------------------------------------------------- collision probe

  /** Key types a literal range filter can bound: orderable atomics whose
    * min/max are well-defined. Anything else (arrays, structs, maps)
    * probes unbounded. */
  private def orderableKeys(df: DataFrame, keys: Seq[String]): Boolean = {
    import org.apache.spark.sql.types._
    keys.forall(k => df.schema.fields.find(_.name == k).exists(_.dataType match {
      case ByteType | ShortType | IntegerType | LongType | FloatType |
           DoubleType | StringType | DateType | TimestampType |
           TimestampNTZType | BooleanType => true
      case _: DecimalType => true
      case _ => false
    }))
  }

  /** Does any update key exist in the table? The probe behind the
    * insert-only fast path: a semi-join of the batch's distinct keys
    * against the table's key columns.
    *
    * When the batch is PERSISTED, one min/max aggregate over it first
    * bounds the table side with `k BETWEEN lo AND hi` for every key. The
    * literals reach Parquet as pushed filters, so row groups whose footer
    * min/max misses the batch's range are skipped unread, and on a hive
    * partition key whole directories are. With naturally increasing
    * ingest keys that is every stored row group: the probe reads the
    * table's footers, not its rows. A lazy batch skips the aggregate: a
    * second pass would re-run its whole lineage, which costs more than
    * the scan it could prune. Null keys never equi-join-match, so an
    * all-null range (null literals match nothing) prunes correctly. */
  private def collides(target: DataFrame, updates: DataFrame,
                       keys: Seq[String]): Boolean = {
    val bounded =
      if (updates.storageLevel == StorageLevel.NONE ||
          !orderableKeys(updates, keys)) target
      else {
        val aggCols = keys.flatMap(k => Seq(min(col(k)), max(col(k)))) :+
          count(lit(1))
        val agg = updates.agg(aggCols.head, aggCols.tail: _*).head()
        if (agg.getLong(2 * keys.size) == 0L) return false // empty batch
        target.filter(keys.zipWithIndex.map { case (k, i) =>
          val t = updates.schema(k).dataType
          col(k).between(lit(agg.get(2 * i)).cast(t),
            lit(agg.get(2 * i + 1)).cast(t))
        }.reduce(_ && _))
      }
    !bounded.select(keys.map(col): _*)
      .join(updates.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .isEmpty
  }

  // ---------------------------------------------------------------- swaps

  /** Write `next` beside `path` and promote it with the two-rename swap
    * (every crash point covered by [[recover]]). Shared tail of the
    * upsert / delete / compact rewrites. A rename that reports failure
    * throws, so no caller reports a publish that did not happen. */
  private def swapIn(spark: SparkSession, path: String, next: DataFrame,
                     partitionCols: Seq[String] = Nil): Unit = {
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(path)
    val tmp = new Path(path + ".__tmp__")
    val writer = next.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(tmp.toString)
    val old = new Path(path + ".__old__")
    if (fs.exists(old)) fs.delete(old, true)
    if (fs.exists(cur)) renameOrThrow(fs, cur, old)
    renameOrThrow(fs, tmp, cur)
    fs.delete(old, true): Unit
  }

  /** Key-level delete: rewrite the table without rows whose `keys`
    * columns match any row of `tombstones` — the retraction half of the
    * upsert sink (GDPR erasure, index removals). Same anti-join shape
    * and same two-rename swap with crash recovery as upsertParquet;
    * deleting absent keys is a no-op, so redelivered tombstone batches
    * are idempotent. A missing table is a no-op too (nothing to erase).
    * Partition-scoped at scale exactly like the upsert: pass the
    * partition subdir as `path` to rewrite only the touched partition.
    * `partitionCols` carries the same contract as upsertParquet's — a
    * hive-partitioned table MUST pass its partition columns or the
    * rewrite flattens the directory layout (and with it the partition
    * pruning the warehouse relies on). */
  def deleteParquet(spark: SparkSession, path: String,
                    tombstones: DataFrame, keys: Seq[String],
                    partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(path)
    if (!fs.exists(cur)) return
    val kept = spark.read.parquet(path)
      .join(tombstones.select(keys.map(col): _*).distinct(), keys, "left_anti")
    swapIn(spark, path, kept, partitionCols)
  }

  /** Small-file compaction — the warehouse-maintenance pass every
    * incrementally-written table needs: a steady drip of upsert/append
    * batches leaves a table as thousands of KB-files whose per-file open
    * and footer cost eventually dominates scans. Rewrite into
    * ~`targetFileBytes` files (same rows, same swap safety). Run it on a
    * schedule or when fileCount ≫ bytes/target; at scale, compact
    * per-partition by passing the partition subdir as `path`, which is
    * also what keeps the rewrite off the rest of the table. Same
    * `partitionCols` contract as upsert/delete: a hive-partitioned table
    * compacted at its ROOT must pass its partition columns or the
    * layout flattens (per-partition compaction needs none). */
  def compactParquet(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L << 20,
                     partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, path)
    val fs = new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val cur = new Path(path)
    if (!fs.exists(cur)) return
    val it = fs.listFiles(cur, true)
    var bytes = 0L
    var nFiles = 0
    while (it.hasNext) {
      val f = it.next()
      if (f.getPath.getName.endsWith(".parquet")) {
        bytes += f.getLen; nFiles += 1
      }
    }
    val want = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
    if (want >= nFiles) return // already compact enough: skip the rewrite
    swapIn(spark, path, spark.read.parquet(path).coalesce(want),
      partitionCols)
  }
}
