package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Z-order (Morton-curve) data layout — multi-dimensional clustering for
  * min/max data skipping, the lakehouse answer to "my scans filter on TWO
  * columns but the table can only be sorted by one".
  *
  * A linear sort makes one column's per-file ranges narrow and leaves
  * every other column's ranges spanning the whole domain, so a predicate
  * on the second column prunes nothing. Interleaving the bits of both
  * columns into one sort key clusters rows so that EVERY interleaved
  * column has locality: each of F files covers roughly a 1/√F slice of
  * each dimension (for 2-D), and a box predicate overlaps only the files
  * whose rectangle intersects the box. Parquet's row-group min/max
  * statistics then skip the rest — no index structure, just row order.
  *
  * This is pure layout: the table's CONTENT is unchanged (the oracle for
  * x6 runs the same query against the unordered base fact), and the
  * pruning is done by the ordinary pushed-down range filters any reader
  * already sends. At 100 TB the clustered write is one range-partitioned
  * shuffle — the same cost as any global sort — paid once per corpus and
  * amortized over every 2-D scan after it.
  */
object ZOrder {

  /** Spread the low 32 bits of a non-negative integral column so bit i
    * lands at position 2i (the classic parallel-prefix bit dilation —
    * five mask-and-shift rounds, all codegen'd integer ops). */
  def spreadBits(c: Column): Column = {
    val x0 = c.cast("long").bitwiseAND(lit(0xFFFFFFFFL))
    val x1 = x0.bitwiseOR(shiftleft(x0, 16)).bitwiseAND(lit(0x0000FFFF0000FFFFL))
    val x2 = x1.bitwiseOR(shiftleft(x1, 8)).bitwiseAND(lit(0x00FF00FF00FF00FFL))
    val x3 = x2.bitwiseOR(shiftleft(x2, 4)).bitwiseAND(lit(0x0F0F0F0F0F0F0F0FL))
    val x4 = x3.bitwiseOR(shiftleft(x3, 2)).bitwiseAND(lit(0x3333333333333333L))
    x4.bitwiseOR(shiftleft(x4, 1)).bitwiseAND(lit(0x5555555555555555L))
  }

  /** 64-bit Morton code of two non-negative 32-bit values: a's bits at
    * even positions, b's at odd. Monotone in each argument when the
    * other is fixed, which is what gives every file a rectangle. */
  def zValue(a: Column, b: Column): Column =
    spreadBits(a).bitwiseOR(shiftleft(spreadBits(b), 1))

  /** Min/max-normalize a column to 16 bits. Interleaving RAW values
    * would let the wider column's high bits dominate the curve (a 20-bit
    * key interleaved with a 10-bit key degenerates to a linear sort on
    * the wide one); equal bit width is what makes the curve alternate
    * dimensions at every level, the same normalization the lakehouse
    * z-order implementations apply before dilating. Integer arithmetic
    * throughout — (v−lo)·65535 stays under 2⁴⁸ for 32-bit inputs. */
  private def norm16(v: Column, lo: Column, hi: Column): Column =
    ((v.cast("long") - lo) * 65535L) / greatest(hi - lo, lit(1L))

  /** Rewrite `df` into `nFiles` files clustered along the Morton curve
    * of (colA, colB): normalize both dimensions to 16 bits, range-
    * partition by z so files tile the curve, sort within each so row
    * groups inside a file tile it too. The z column itself is dropped —
    * the layout lives entirely in row order. The min/max pre-scan is a
    * partial-aggregated single pass; against the full shuffle the
    * rewrite already pays, it is noise at any scale. */
  def cluster(df: DataFrame, colA: String, colB: String,
              nFiles: Int): DataFrame = {
    val mm = df.agg(
      min(colA).cast("long").as("__alo"), max(colA).cast("long").as("__ahi"),
      min(colB).cast("long").as("__blo"), max(colB).cast("long").as("__bhi"))
    df.crossJoin(broadcast(mm))
      .withColumn("__z", zValue(
        norm16(col(colA), col("__alo"), col("__ahi")),
        norm16(col(colB), col("__blo"), col("__bhi"))))
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions("__z")
      .drop("__z", "__alo", "__ahi", "__blo", "__bhi")
  }

  /** The z-clustered warehouse copy of lineitem over (l_partkey,
    * l_suppkey) — built once per corpus through [[Warehouse.derived]],
    * rebuilt when the base fact's content tag moves. */
  def ensureZLineitem(s: SparkSession, dir: String): String =
    Warehouse.derived(s, s"graft_z_lineitem_${Warehouse.dirTag(dir)}",
        new java.io.File(dir, "lineitem.parquet")) { name =>
      cluster(graft.Tables.lineitem(s, dir), "l_partkey", "l_suppkey", 16)
        .write.format("parquet").mode("overwrite").saveAsTable(name)
    }

  /** Skipping audit: of the parquet files under `path`, how many could a
    * stats-pruning reader NOT skip for the box [aLo,aHi]×[bLo,bHi]?
    * Reads only footers (column-chunk min/max per row group), never
    * data pages — the same information a scan's pushed filters consult.
    * Returns (total row groups, row groups overlapping the box). */
  def overlappingRowGroups(s: SparkSession, path: String,
                           colA: String, aLo: Long, aHi: Long,
                           colB: String, bLo: Long, bHi: Long): (Int, Int) = {
    import org.apache.parquet.hadoop.ParquetFileReader
    import org.apache.parquet.hadoop.util.HadoopInputFile
    val conf = s.sparkContext.hadoopConfiguration
    val dirF = new java.io.File(path)
    val files = dirF.listFiles().filter(f =>
      f.getName.endsWith(".parquet") && !f.getName.startsWith("_"))
    var total = 0
    var overlap = 0
    files.foreach { f =>
      val rd = ParquetFileReader.open(HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(f.getAbsolutePath), conf))
      try {
        rd.getFooter.getBlocks.forEach { block =>
          total += 1
          def range(c: String): (Long, Long) = {
            val chunk = block.getColumns.stream()
              .filter(_.getPath.toDotString == c).findFirst().get()
            val st = chunk.getStatistics
            (st.genericGetMin.asInstanceOf[Number].longValue(),
             st.genericGetMax.asInstanceOf[Number].longValue())
          }
          val (amin, amax) = range(colA)
          val (bmin, bmax) = range(colB)
          if (amax >= aLo && amin <= aHi && bmax >= bLo && bmin <= bHi)
            overlap += 1
        }
      } finally rd.close()
    }
    (total, overlap)
  }
}
