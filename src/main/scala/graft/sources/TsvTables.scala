package graft.sources

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Text-table sources and sinks — the reference's `.cat`/`.coo`/slopes/
  * coeffs TSVs, IRAF DAOphot `.mag` files, and the legacy IDL `.res`
  * slope files (SURVEY.md §2.1 S3/S6;
  * /root/reference/wfc3_cte_monitor/database_update.py:356-362, 481-509,
  * database_reset.py:322-328, compare_idl_python.py:33-131).
  *
  * The reference reads these with `astropy.ascii` (positional `col1…colN`
  * or named headers, '#' comments; `format='daophot'` for IRAF output).
  * Plain TSVs go through Spark's CSV source (schema on read, parallel
  * scan, pruning). DAOphot is a multi-line record format — parsed per
  * FILE (one `.mag` per image, thousands of images = natural task
  * granularity), never per line.
  */
/** One parsed (star, aperture) row of a DAOphot .mag file. NaN marks
  * IRAF's INDEF sentinel. Top-level (not nested in the object): encoders
  * for object-nested case classes make Janino's generated accessors fail
  * to resolve, silently dropping every .mag scan to interpreted
  * projections. */
private[sources] case class DaophotRow(
    source_file: String, find_id: Long, xpix: Double, ypix: Double,
    msky: Double, rapert: Double, area: Double, flux: Double)

object TsvTables {

  /** Read a '#'-commented TSV with an explicit schema (no header line —
    * positional columns like the reference's .cat files). */
  def readPositional(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("comment", "#")
      .schema(schema)
      .csv(path)

  /** Read a TSV whose first line is a header. */
  def readNamed(spark: SparkSession, path: String, schema: StructType): DataFrame =
    spark.read
      .option("sep", "\t")
      .option("header", "true")
      .option("comment", "#")
      .schema(schema)
      .csv(path)

  /** Write a headered TSV as one `part-` file — the reference's
    * one-file-per-artifact layout, for dimension-sized derived tables —
    * with its rows in `orderBy` order. One task writes the file either
    * way, so the rows are sorted inside that task: a global sort would
    * only add a range-sampling job and a range exchange. */
  def write(df: DataFrame, path: String, orderBy: String*): Unit =
    df.coalesce(1).sortWithinPartitions(orderBy.map(col): _*)
      .write.mode("overwrite")
      .option("sep", "\t")
      .option("header", "true")
      .csv(path)

  // ---- IRAF DAOphot dialect (database_update.py:481-509, A11) ----

  /** Parse one DAOphot text file: `#N` lines declare the column layout in
    * blocks; each data record spans several physical lines joined by
    * trailing '\'; the LAST block (RAPERT/SUM/AREA/FLUX/…) repeats once
    * per aperture. Emits long rows (star × aperture). */
  private def parseDaophot(file: String, content: String): Seq[DaophotRow] = {
    val lines = content.split("\n")
    val blocks = lines.filter(_.startsWith("#N"))
      .map(_.drop(2).replace("\\", " ").trim.split("\\s+").toSeq).toSeq
    if (blocks.isEmpty) return Seq.empty
    val lastBlock = blocks.length - 1

    def num(s: String): Double =
      if (s == "INDEF") Double.NaN
      else try s.toDouble catch { case _: NumberFormatException => Double.NaN }

    // group continuation lines into records
    val records = scala.collection.mutable.ArrayBuffer[Vector[String]]()
    var cur = Vector.empty[String]
    lines.iterator
      .filterNot(l => l.startsWith("#") || l.trim.isEmpty)
      .foreach { raw =>
        val t = raw.trim
        val cont = t.endsWith("\\")
        cur = cur :+ (if (cont) t.dropRight(1).trim else t)
        if (!cont) { records += cur; cur = Vector.empty }
      }

    records.toSeq.flatMap { segs =>
      // field map per segment; segments past the declared blocks are
      // repeats of the last (per-aperture) block
      def fields(i: Int): Map[String, String] =
        blocks(math.min(i, lastBlock))
          .zip(segs(i).split("\\s+").toSeq).toMap
      val scalars = (0 until math.min(lastBlock, segs.length))
        .map(fields).fold(Map.empty[String, String])(_ ++ _)
      (lastBlock until segs.length).map(fields).map { ap =>
        DaophotRow(
          source_file = file,
          find_id = scalars.getOrElse("ID", "0").toDouble.toLong,
          xpix = num(scalars.getOrElse("XCENTER", "INDEF")),
          ypix = num(scalars.getOrElse("YCENTER", "INDEF")),
          msky = num(scalars.getOrElse("MSKY", "INDEF")),
          rapert = num(ap.getOrElse("RAPERT", "INDEF")),
          area = num(ap.getOrElse("AREA", "INDEF")),
          flux = num(ap.getOrElse("FLUX", "INDEF")))
      }
    }
  }

  /** Read IRAF DAOphot `.mag` files (glob ok) into long-format photometry
    * rows with the reference's A11 derivations: `aperture` = rounded
    * RAPERT, `mnbkgrd` = MSKY, `totbkgrd` = AREA × MSKY
    * (database_update.py:487-509). One task per file. */
  def readDaophotMag(spark: SparkSession, path: String): DataFrame = {
    import spark.implicits._
    spark.sparkContext.wholeTextFiles(path)
      .flatMap { case (file, content) => parseDaophot(file, content) }
      .toDF()
      .withColumn("aperture", round(col("rapert")).cast("int"))
      .withColumn("mnbkgrd", col("msky"))
      .withColumn("totbkgrd", col("area") * col("msky"))
  }

  // ---- Legacy IDL .res dialect (compare_idl_python.py:33-131) ----

  /** Read whitespace-separated IDL `.res` slope files (glob ok): col1 =
    * MJD, col5 = slope, col6 = stderr; the flux bin is encoded in the
    * filename `…_<binlo>_<binhi>.res` and recovered via input_file_name,
    * so a whole directory scans as one parallel read. */
  def readResFiles(spark: SparkSession, path: String): DataFrame = {
    spark.read.text(path)
      .select(input_file_name().as("src"), col("value"))
      .filter(!col("value").startsWith("#") && trim(col("value")) =!= "")
      .withColumn("t", split(trim(col("value")), "\\s+"))
      .select(
        element_at(col("t"), 1).cast("double").as("mjd"),
        element_at(col("t"), 5).cast("double").as("slope"),
        element_at(col("t"), 6).cast("double").as("stderr"),
        regexp_extract(col("src"), "_(\\d+)_(\\d+)\\.res$", 1)
          .cast("int").as("bin_lo"),
        regexp_extract(col("src"), "_(\\d+)_(\\d+)\\.res$", 2)
          .cast("int").as("bin_hi"))
      .withColumn("fluxbin",
        concat_ws("-", col("bin_lo").cast("string"), col("bin_hi").cast("string")))
  }
}
