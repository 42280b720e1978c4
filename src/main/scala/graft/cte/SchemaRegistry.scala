package graft.cte

import org.apache.spark.sql.types._

/** Schema-from-text-file registry — the reference's dynamic ORM-class
  * builder (/root/reference/wfc3_cte_monitor/database_interface.py:173-214)
  * re-expressed as a `StructType` parser.
  *
  * Definition format (table_definitions/<kind>.txt): one `NAME, Type` per
  * line; types ∈ {Integer, String, Float, Date, Time, DateTime}; names
  * lower-cased; anything else raises — same contract as the reference
  * (database_interface.py:198-212). "Float" maps to DoubleType (SQLite
  * REAL is a double; SURVEY.md §1.3).
  */
object SchemaRegistry {

  private val typeMap: Map[String, DataType] = Map(
    "integer" -> IntegerType,
    "string" -> StringType,
    "float" -> DoubleType,
    "date" -> DateType,
    "time" -> TimestampType,
    "datetime" -> TimestampType)

  /** Parse definition text (lines of `NAME, Type`; blank lines and `#`
    * comments ignored) into a StructType. */
  def parse(definition: String): StructType = {
    val fields = definition.linesIterator
      .map(_.trim)
      .filter(l => l.nonEmpty && !l.startsWith("#"))
      .map { line =>
        line.split(",").map(_.trim) match {
          case Array(name, tpe) =>
            val dt = typeMap.getOrElse(tpe.toLowerCase,
              throw new IllegalArgumentException(
                s"Unsupported column type '$tpe' for column '$name'"))
            StructField(name.toLowerCase, dt)
          case _ =>
            throw new IllegalArgumentException(s"Bad definition line: '$line'")
        }
      }
    StructType(fields.toSeq)
  }

  /** Parse a definition file from disk. */
  def parseFile(path: String): StructType =
    parse(new String(java.nio.file.Files.readAllBytes(
      java.nio.file.Paths.get(path)), "UTF-8"))

  // ---- The four table kinds, generated (not copied) from the data model
  //      in SURVEY.md §1.2. A `targname` partition column replaces the
  //      reference's per-target table triplication.

  /** Aperture radii of the wide phot layout (phot.txt: 14 radii × 3
    * measures). */
  val apertures: Seq[Int] = Seq(2, 3, 5, 7, 10, 12, 15, 18, 20, 24, 28, 32, 36, 40)

  /** The 8 (overlapping) flux bins (config.py:14-16). */
  val fluxBins: Seq[(Int, Int)] = Seq(
    (250, 500), (500, 1000), (500, 2000), (1000, 2000),
    (2000, 4000), (2000, 8000), (4000, 8000), (8000, 32000))

  val master: StructType = parse(
    """MASTER_ID, Integer
      |XPIX, Float
      |YPIX, Float
      |RA, Float
      |DEC, Float""".stripMargin)
    .add("targname", StringType)

  val fileinfo: StructType = {
    val strings = Seq("imagename", "imagepath", "coofile", "magfile",
      "photpath", "parsed_name", "proposid", "filter", "chinject",
      "flashcur", "shutrpos",
      // the exposure class 's'/'l' the ingest derives from the RAW float
      // exptime (run_image_extraction.py:384-387); `exptime` is stored
      // int-truncated, so the class cannot be recomputed from it
      "length")
    val doubles = Seq("ra_lowerleft", "dec_lowerleft", "ra_lowerright",
      "dec_lowerright", "ra_upperright", "dec_upperright", "ra_upperleft",
      "dec_upperleft", "mnclip_bkgrd", "dateobs", "exptime", "flashlvl",
      "flashdur", "postarg1", "postarg2")
    val ints = Seq("ctecorr", "chip")
    StructType(
      strings.map(StructField(_, StringType)) ++
      Seq(StructField("ingest_date", DateType)) ++
      doubles.map(StructField(_, DoubleType)) ++
      ints.map(StructField(_, IntegerType)))
      .add("targname", StringType)
  }

  /** Long-format phot — the engine's internal shape (SURVEY.md §7.1):
    * `aperture` is a column, killing the reference's 42-wide layout and
    * its dynamic-column-dict pattern (database_queries.py:220-238). */
  val photLong: StructType = parse(
    """FIND_ID, Integer
      |IMAGENAME, String
      |INGEST_DATE, Date
      |XPIX, Float
      |YPIX, Float
      |RA, Float
      |DEC, Float""".stripMargin)
    .add("master_id", IntegerType)
    .add("aperture", IntegerType)
    .add("flux", DoubleType)
    .add("mnbkgrd", DoubleType)
    .add("totbkgrd", DoubleType)
    .add("targname", StringType)

  /** Wide phot view schema (compatibility with phot.txt). */
  val photWide: StructType = {
    val base = parse(
      """FIND_ID, Integer
        |IMAGENAME, String
        |INGEST_DATE, Date
        |XPIX, Float
        |YPIX, Float
        |RA, Float
        |DEC, Float""".stripMargin)
    val measures = apertures.flatMap { r =>
      Seq(StructField(s"flux_$r", DoubleType),
          StructField(s"mnbkgrd_$r", DoubleType),
          StructField(s"totbkgrd_$r", DoubleType))
    }
    StructType(base.fields ++ measures)
      .add("master_id", IntegerType).add("targname", StringType)
  }

  /** Long-format results (one row per pair × aperture × flux bin). */
  val resultsLong: StructType = parse(
    """IMAGENAME_1, String
      |IMAGENAME_2, String
      |SLOPEFILE, String
      |SLOPEFILE_PATH, String""".stripMargin)
    .add("aperture", IntegerType)
    .add("bin_lo", IntegerType)
    .add("bin_hi", IntegerType)
    .add("slope", DoubleType)
    .add("slopestdev", DoubleType)
    .add("numpoints", IntegerType)
    .add("targname", StringType)

  /** Wide results view (results.txt: 8 bins × 3 measures). */
  val resultsWide: StructType = {
    val base = parse(
      """IMAGENAME_1, String
        |IMAGENAME_2, String
        |SLOPEFILE, String
        |SLOPEFILE_PATH, String""".stripMargin)
      .add("aperture", IntegerType)
    val measures = fluxBins.flatMap { case (lo, hi) =>
      Seq(StructField(s"slope_${lo}_$hi", DoubleType),
          StructField(s"slopestdev_${lo}_$hi", DoubleType),
          StructField(s"numpoints_${lo}_$hi", IntegerType))
    }
    StructType(base.fields ++ measures).add("targname", StringType)
  }
}
