package graft.sources

import java.io.IOException
import java.net.URI

import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, max, min, struct, sum}
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
  *
  * Every write is file-granular copy-on-write with one commit protocol
  * (the shape of Delta Lake's, VLDB 2020): a write names the table files
  * it replaces, stages their replacement beside the table, then
  * atomically writes one commit record listing the files to add and the
  * files to remove. Publishing renames the added files in, deletes the
  * removed ones and drops the record; [[recover]] rolls a recorded write
  * forward and discards an unrecorded one, so a crash at any point
  * leaves the table before or after the write, never between. Single
  * writer is assumed throughout (the reference is single-writer too —
  * SQLite, README.md:850-866); concurrent readers during a publish need
  * a catalog/lakehouse layer instead.
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

  private val StageSuffix = ".__stage__"
  private val RecordSuffix = ".__commit__"

  /** Settle a write that crashed mid-commit. A commit record means the
    * staged files were complete and the write was decided: roll it
    * forward. Without one nothing reached the table: drop the stage. A
    * half-written record (its temp file) is dropped either way. Called
    * by every write entry point; call directly before reads if a crash
    * is suspected. */
  def recover(spark: SparkSession, path: String): Unit = {
    val fs = fileSystem(spark, path)
    val record = new Path(path + RecordSuffix)
    if (fs.exists(record)) publish(fs, path, readLines(fs, record))
    else fs.delete(new Path(path + StageSuffix), true)
    fs.delete(new Path(record + ".tmp"), false): Unit
  }

  /** Parquet-backed upsert: merge `updates` into the table at `path`
    * (absent → created), rewriting only the files whose rows it changes.
    *
    * The collision probe ([[touchedFiles]]) finds the files holding a
    * stored row whose key the batch carries. The write stages
    * `merge(rows of those files, updates)` and removes exactly those
    * files; every other file keeps its name and bytes. With no touched
    * file this is an append, the common case of streaming and per-visit
    * ingest: O(|batch|) plus the probe, not O(|table|). A schema change
    * touches every file. When the merge leaves the touched rows
    * unchanged as a multiset — a redelivery — nothing is committed; no
    * column is special-cased, so a later-day redelivery that refreshes
    * an `ingest_date` rewrites just its touched files. Persist `updates`
    * to let the probe skip stored row groups outside the batch's key
    * range. At scale, pass a partition subdir as `path` to scope the
    * probe; a hive-partitioned table written at its root must pass its
    * partition columns or new files flatten the layout. */
  def upsertParquet(spark: SparkSession, path: String, updates: DataFrame,
                    keys: Seq[String],
                    partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, path)
    val fs = fileSystem(spark, path)
    if (!fs.exists(new Path(path))) {
      commit(fs, path, updates, Nil, partitionCols)
      return
    }
    val target = spark.read.parquet(path)
    def shape(df: DataFrame) =
      df.schema.fields.map(f => (f.name, f.dataType)).toSet
    val sameShape = shape(target) == shape(updates)
    val touched =
      if (sameShape) touchedFiles(fs, path, target, updates, keys)
      else dataFiles(fs, new Path(path)).map(_._1)
    if (touched.isEmpty) {
      // column order pinned to the table's so every file carries the
      // same layout (readers merge by name, but keep footers uniform)
      commit(fs, path, updates.select(target.columns.map(col): _*), Nil,
        partitionCols)
    } else {
      val stored = rowsOf(spark, path, target, touched)
      val next = merge(stored, updates, keys)
      if (!(sameShape && sameRows(stored, next)))
        commit(fs, path, next, touched, partitionCols)
    }
  }

  /** Key-level delete: drop the rows whose `keys` columns match any row of
    * `tombstones` — the retraction half of the upsert sink (GDPR erasure,
    * index removals). Only the files holding a tombstoned key are
    * rewritten, through the same commit as the upsert; deleting absent
    * keys touches no file, so a replayed tombstone batch writes nothing.
    * A missing table is a no-op too (nothing to erase). Same
    * `partitionCols` contract as upsertParquet. */
  def deleteParquet(spark: SparkSession, path: String,
                    tombstones: DataFrame, keys: Seq[String],
                    partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, path)
    val fs = fileSystem(spark, path)
    if (!fs.exists(new Path(path))) return
    val target = spark.read.parquet(path)
    val touched = touchedFiles(fs, path, target, tombstones, keys)
    if (touched.nonEmpty) {
      val kept = rowsOf(spark, path, target, touched)
        .join(tombstones.select(keys.map(col): _*).distinct(), keys, "left_anti")
      commit(fs, path, kept, touched, partitionCols)
    }
  }

  /** Small-file compaction — the warehouse-maintenance pass every
    * incrementally-written table needs: a steady drip of upsert/append
    * batches leaves a table as thousands of KB-files whose per-file open
    * and footer cost eventually dominates scans. Rewrite into
    * ~`targetFileBytes` files (same rows; the commit removes the old
    * files). Run it on a schedule or when fileCount ≫ bytes/target; at
    * scale, compact per-partition by passing the partition subdir as
    * `path`, which is also what keeps the rewrite off the rest of the
    * table. Same `partitionCols` contract as upsert/delete: a
    * hive-partitioned table compacted at its ROOT must pass its
    * partition columns or the layout flattens (per-partition compaction
    * needs none). The file target is per directory, since a partitioned
    * write emits at least one file per partition: the call skips when
    * no directory holds more files than its bytes need, and at the root
    * of a partitioned table it rewrites only the directories that do. */
  def compactParquet(spark: SparkSession, path: String,
                     targetFileBytes: Long = 128L << 20,
                     partitionCols: Seq[String] = Nil): Unit = {
    recover(spark, path)
    val fs = fileSystem(spark, path)
    if (!fs.exists(new Path(path))) return
    val files = dataFiles(fs, new Path(path))
    def want(dir: Seq[(String, Long)]) =
      math.max(1, math.ceil(dir.map(_._2).sum.toDouble / targetFileBytes).toInt)
    val crowded = files.groupBy(f => f._1.take(f._1.lastIndexOf('/') + 1))
      .values.filter(d => d.size > want(d)).toSeq
    if (crowded.isEmpty) return // already compact enough: skip the rewrite
    // each directory's rows coalesce on their own, so every task holds
    // one partition value and writes one of that partition's files
    val target = spark.read.parquet(path)
    val rows = crowded.map(d =>
      rowsOf(spark, path, target, d.map(_._1)).coalesce(want(d)))
    commit(fs, path, rows.reduce(_ union _), crowded.flatten.map(_._1),
      partitionCols)
  }

  // ---------------------------------------------------------------- commit

  /** The one write path: stage `rows` beside the table, atomically write
    * the commit record (every staged file to add, every table file in
    * `removed` to drop — both relative to their root), then publish. */
  private def commit(fs: FileSystem, path: String, rows: DataFrame,
                     removed: Seq[String], partitionCols: Seq[String]): Unit = {
    val stage = new Path(path + StageSuffix)
    val writer = rows.write.mode("overwrite")
    (if (partitionCols.nonEmpty) writer.partitionBy(partitionCols: _*)
     else writer).parquet(stage.toString)
    val lines = dataFiles(fs, stage).map("+" + _._1) ++ removed.map("-" + _)
    // a single-file rename is atomic on HDFS/local/object-store
    // emulations alike: the record is either absent or whole
    val record = new Path(path + RecordSuffix)
    val tmp = new Path(record + ".tmp")
    val out = fs.create(tmp, true)
    try out.write(lines.map(_ + "\n").mkString.getBytes("UTF-8"))
    finally out.close()
    renameOrThrow(fs, tmp, record)
    publish(fs, path, lines)
  }

  /** Apply a commit record: rename each added file from the stage into
    * the table, delete each removed file, drop the record and the stage.
    * Every step is idempotent, so a crash inside it is finished by
    * re-running it from the top ([[recover]]). */
  private def publish(fs: FileSystem, path: String, lines: Seq[String]): Unit = {
    val root = new Path(path)
    val stage = new Path(path + StageSuffix)
    lines.foreach { line =>
      val rel = line.tail
      if (line.head == '+') {
        val src = new Path(stage, rel)
        if (fs.exists(src)) {
          val dst = new Path(root, rel)
          fs.mkdirs(dst.getParent)
          renameOrThrow(fs, src, dst)
        }
      } else {
        val f = new Path(root, rel)
        if (!fs.delete(f, false) && fs.exists(f))
          throw new IOException(s"could not delete $f")
      }
    }
    fs.delete(new Path(path + RecordSuffix), false)
    fs.delete(stage, true): Unit
  }

  private def fileSystem(spark: SparkSession, path: String): FileSystem =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def readLines(fs: FileSystem, p: Path): Seq[String] = {
    val in = fs.open(p)
    try scala.io.Source.fromInputStream(in, "UTF-8").getLines()
      .filter(_.nonEmpty).toList
    finally in.close()
  }

  /** `fs.rename` reports most failures by returning false, not throwing:
    * every publish step goes through here so none is silently skipped. */
  private def renameOrThrow(fs: FileSystem, src: Path, dst: Path): Unit =
    if (!fs.rename(src, dst))
      throw new IOException(s"could not rename $src to $dst")

  /** `file` relative to `root`, partition subdirs included. Compares
    * decoded URI paths, so escaped partition values line up. */
  private def relative(fs: FileSystem, root: Path, file: Path): String =
    file.toUri.getPath.stripPrefix(fs.makeQualified(root).toUri.getPath)
      .stripPrefix("/")

  /** Data files under `root`, relative to it, with their sizes. Hidden
    * entries (`_SUCCESS`, `.crc`, a committer's `_temporary`) are not
    * data, as for Spark's readers. */
  private def dataFiles(fs: FileSystem, root: Path): Seq[(String, Long)] = {
    def walk(dir: Path): Seq[FileStatus] = fs.listStatus(dir).toSeq
      .filterNot(s => "_.".contains(s.getPath.getName.head))
      .flatMap(s => if (s.isDirectory) walk(s.getPath) else Seq(s))
    walk(root).filter(_.getPath.getName.endsWith(".parquet"))
      .map(s => relative(fs, root, s.getPath) -> s.getLen)
  }

  /** The rows of the table files `files`, in the table's schema. The
    * `basePath` keeps their partition columns. */
  private def rowsOf(spark: SparkSession, path: String, target: DataFrame,
                     files: Seq[String]): DataFrame =
    spark.read.schema(target.schema).option("basePath", path)
      .parquet(files.map(f => new Path(new Path(path), f).toString): _*)

  /** Do `a` and `b` (same columns) hold the same rows as multisets? One
    * grouped pass: each whole row counts +1 from `a`, −1 from `b`. */
  private def sameRows(a: DataFrame, b: DataFrame): Boolean = {
    def tagged(df: DataFrame, n: Long) =
      df.select(struct(a.columns.map(col): _*).as("row"), lit(n).as("n"))
    tagged(a, 1L).union(tagged(b, -1L)).groupBy("row")
      .agg(sum("n").as("n")).filter(col("n") =!= 0).isEmpty
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

  /** The table files, relative to `path`, that hold a row whose `keys`
    * match a row of `batch`: the files a write of `batch` replaces. A
    * semi-join of the batch's distinct keys against the table's key
    * columns, reporting each hit's `_metadata.file_path`.
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
    * all-null range (null literals match nothing) prunes correctly.
    *
    * `_metadata.file_path` is a URI (a partition value `a b%c` reads
    * back as `a%20b%2525c`), so each one is decoded through `URI`, never
    * compared as a string. */
  private def touchedFiles(fs: FileSystem, path: String, target: DataFrame,
                           batch: DataFrame, keys: Seq[String]): Seq[String] = {
    val bounded =
      if (batch.storageLevel == StorageLevel.NONE ||
          !orderableKeys(batch, keys)) target
      else {
        val aggCols = keys.flatMap(k => Seq(min(col(k)), max(col(k)))) :+
          count(lit(1))
        val agg = batch.agg(aggCols.head, aggCols.tail: _*).head()
        if (agg.getLong(2 * keys.size) == 0L) return Nil // empty batch
        target.filter(keys.zipWithIndex.map { case (k, i) =>
          val t = batch.schema(k).dataType
          col(k).between(lit(agg.get(2 * i)).cast(t),
            lit(agg.get(2 * i + 1)).cast(t))
        }.reduce(_ && _))
      }
    bounded.select(col("_metadata.file_path") +: keys.map(col): _*)
      .join(batch.select(keys.map(col): _*).distinct(), keys, "left_semi")
      .select("file_path").distinct().collect().toSeq
      .map(r => relative(fs, new Path(path), new Path(new URI(r.getString(0)))))
  }
}
