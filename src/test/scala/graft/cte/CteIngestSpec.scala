package graft.cte

import java.util.Locale

import graft.SparkSpecBase
import org.apache.spark.sql.Row
import org.apache.spark.sql.catalyst.expressions.{Lower, Upper}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** Hand-built header rows exercising every create_param_dict derivation
  * and false_* gate (run_image_extraction.py:269-443). */
class CteIngestSpec extends SparkSpecBase {

  private val cv1 = 6.0; private val cv2 = -72.0
  private val cp1 = 2048.0; private val cp2 = 1026.0
  private val c11 = -1.1e-5; private val c12 = 0.0
  private val c21 = 0.0; private val c22 = 1.1e-5

  private def hdr(imagename: String, chinject: String = "NONE",
                  flashsta: String = "SUCCESSFUL", flashlvl: java.lang.Double = 0.0,
                  targname: String = "NGC-104", proposid: Int = 11924,
                  expstart: Double = 55106.73, filter: String = "F502N",
                  exptime: Double = 348.6, mdrizsky: java.lang.Double = 3.4,
                  postarg1: Double = 0.0, postarg2: Double = 0.0) =
    Row(imagename, chinject, flashsta, flashlvl, targname, proposid,
      expstart, filter, exptime, 4096, 2051, mdrizsky, postarg1, postarg2,
      1.24, "LOW", "A", cv1, cv2, cp1, cp2, c11, c12, c21, c22)

  private val schema = StructType(
    Seq(StructField("imagename", StringType),
        StructField("chinject", StringType),
        StructField("flashsta", StringType),
        StructField("flashlvl", DoubleType),
        StructField("targname", StringType),
        StructField("proposid", IntegerType),
        StructField("expstart", DoubleType),
        StructField("filter", StringType),
        StructField("exptime", DoubleType),
        StructField("naxis1", IntegerType),
        StructField("naxis2", IntegerType),
        StructField("mdrizsky", DoubleType),
        StructField("postarg1", DoubleType),
        StructField("postarg2", DoubleType),
        StructField("flashdur", DoubleType),
        StructField("flashcur", StringType),
        StructField("shutrpos", StringType)) ++
    Seq("crval1", "crval2", "crpix1", "crpix2",
        "cd1_1", "cd1_2", "cd2_1", "cd2_2")
      .map(StructField(_, DoubleType)))

  private def run(rows: Seq[Row], p: CteIngest.IngestParams) = {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
    CteIngest.deriveFileinfo(df, p).collect()
      .map(r => r.getAs[String]("imagepath") -> r).toMap
  }

  test("gates fire in reference order with the right reasons") {
    val p = CteIngest.IngestParams(flashlvlDesired = 12)
    val got = run(Seq(
      hdr("/d/a1_flt.fits", chinject = "CONT"),               // chinject ≠ NONE
      hdr("/d/a2_flt.fits", flashlvl = 6.0),                  // wrong pf level
      hdr("/d/a3_flt.fits", flashsta = "NOT PERFORMED"),      // no flash, want 12
      hdr("/d/a4_flt.fits", flashlvl = 12.0, targname = "NGC104-CAL2"),
      hdr("/d/a5_flt.fits", flashlvl = 12.0, postarg1 = 2.5), // x-dithered
      hdr("/d/a6_flt.fits", flashlvl = 12.0, postarg2 = 5.0), // sub-dither
      hdr("/d/a7_flt.fits", flashlvl = 12.0, postarg2 = 82.1), // good chip 1
      hdr("/d/a8_flc.fits", flashlvl = 12.0),                  // good chip 2, CTE-corr
      hdr("/d/a9_flt.fits", flashsta = "SUCCESSFUL", flashlvl = null)),
      p)
    assert(got("/d/a1_flt.fits").getAs[String]("gate") == "false_chinject")
    assert(got("/d/a2_flt.fits").getAs[String]("gate") == "false_pf")
    assert(got("/d/a3_flt.fits").getAs[String]("gate") == "false_pf")
    assert(got("/d/a4_flt.fits").getAs[String]("gate") == "false_field")
    assert(got("/d/a5_flt.fits").getAs[String]("gate") == "false_xdither")
    assert(got("/d/a6_flt.fits").getAs[String]("gate") == "false_subdither")
    assert(got("/d/a7_flt.fits").getAs[String]("gate") == "ok")
    assert(got("/d/a8_flc.fits").getAs[String]("gate") == "ok")
    // successful flash but MISSING level keyword → level 0 ≠ desired 12;
    // the gate must fire rather than null-skip
    assert(got("/d/a9_flt.fits").getAs[String]("gate") == "false_pf")
  }

  test("derived columns match the reference's formatting rules") {
    val p = CteIngest.IngestParams(flashlvlDesired = 12)
    val got = run(Seq(
      hdr("/d/iacs02blq_flt.fits", flashlvl = 12.0, postarg2 = 82.0),
      hdr("/d/iacs02bmq_flc.fits", flashlvl = 12.0, exptime = 30.9)), p)

    val a = got("/d/iacs02blq_flt.fits")
    assert(a.getAs[String]("imagename") == "iacs02blq_flt")
    assert(a.getAs[String]("targname") == "ngc104")
    assert(a.getAs[Double]("dateobs") == 55106.0)   // str(expstart)[0:5]
    assert(a.getAs[Double]("exptime") == 348.0)     // int() truncation
    assert(a.getAs[String]("chinject") == "NO")     // [0:2] upper
    assert(a.getAs[Double]("flashlvl") == 12.0)
    assert(a.getAs[Int]("ctecorr") == 0)
    assert(a.getAs[Int]("chip") == 1)               // y-dithered
    assert(a.getAs[String]("length") == "l")
    assert(a.getAs[String]("parsed_name") ==
      "ngc104_11924_55106_F502N_348_ciNO_pf012_cte0_1")
    assert(a.getAs[String]("coofile") == "iacs02blq_flt.coo")
    assert(a.getAs[String]("photpath") == "/d")
    // corners come from the TAN transform at the reference's pixel calls
    val (raLL, decLL) = Wcs.pixToSky(0, 0, cv1, cv2, cp1, cp2, c11, c12, c21, c22)
    assert(math.abs(a.getAs[Double]("ra_lowerleft") - raLL) < 1e-12)
    assert(math.abs(a.getAs[Double]("dec_lowerleft") - decLL) < 1e-12)

    val b = got("/d/iacs02bmq_flc.fits")
    assert(b.getAs[Int]("ctecorr") == 1)            // 'flc.fits' in name
    assert(b.getAs[Int]("chip") == 2)               // not dithered
    assert(b.getAs[String]("length") == "s")        // exptime 30 ≤ 60
    assert(b.getAs[Double]("mnclip_bkgrd") == 3.4)
  }

  test("104-CAL2 fixup, 180-degree chips, and missing-keyword defaults") {
    val p = CteIngest.IngestParams(ngc104cal2 = true, subdithers = true)
    val got = run(Seq(
      hdr("/d/b1_flt.fits", targname = "NGC104-CAL2"),
      hdr("/d/ibwbxsq_flt.fits", targname = "NGC6583"),  // 180-set, code xsq
      hdr("/d/ibwbzzq_flt.fits", targname = "NGC6583"),  // 180-set, no code
      hdr("/d/b4_flt.fits", flashsta = "NOT PERFORMED", flashlvl = null),
      hdr("/d/b5_flt.fits", mdrizsky = null, postarg2 = 5.0)), p)
    assert(got("/d/b1_flt.fits").getAs[String]("targname") == "ngc104CAL2")
    assert(got("/d/b1_flt.fits").getAs[String]("gate") == "ok")
    assert(got("/d/ibwbxsq_flt.fits").getAs[Int]("chip") == 1)
    assert(got("/d/ibwbzzq_flt.fits").getAs[Int]("chip") == 2)
    // flash not performed + desired 0 → flashlvl 0, ok (even null keyword)
    assert(got("/d/b4_flt.fits").getAs[String]("gate") == "ok")
    assert(got("/d/b4_flt.fits").getAs[Double]("flashlvl") == 0.0)
    // missing MDRIZSKY → 0; sub-dither allowed → chip null but kept
    val b5 = got("/d/b5_flt.fits")
    assert(b5.getAs[Double]("mnclip_bkgrd") == 0.0)
    assert(b5.getAs[String]("gate") == "ok")
    assert(b5.isNullAt(b5.fieldIndex("chip")))
  }

  test("header values fold case: lower-case headers give the upper-case rows") {
    val p = CteIngest.IngestParams(flashlvlDesired = 12)
    def rows(chinject: String, flashsta: String, filter: String) =
      run(Seq(
        hdr("/d/e1_flt.fits", chinject, flashsta, 12.0, filter = filter),
        hdr("/d/e2_flt.fits", chinject, flashsta, 6.0, filter = filter,
          postarg2 = 82.0)), p)
    val upper = rows("NONE", "SUCCESSFUL", "F502N")
    assert(upper("/d/e1_flt.fits").getAs[String]("gate") == "ok")
    assert(rows("none", "Successful", "f502n") == upper)
  }

  test("the header case folds plan no Upper or Lower expression") {
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(hdr("/d/f1_flt.fits")), 1), schema)
    val plan = CteIngest.deriveFileinfo(df, CteIngest.IngestParams())
      .queryExecution.optimizedPlan
    val folds = plan.flatMap(_.expressions.flatMap(_.collect {
      case e: Upper => e
      case e: Lower => e
    }))
    assert(folds.isEmpty, folds.mkString(", "))
  }

  test("the charge-injection parameter folds case in any default locale") {
    // Turkish upper-cases 'i' to the dotted 'İ', which no header matches
    val saved = Locale.getDefault
    val df = spark.createDataFrame(spark.sparkContext.parallelize(
      Seq(hdr("/d/g1_flt.fits", chinject = "CONTINUOUS")), 1), schema)
    val derived = try {
      Locale.setDefault(Locale.forLanguageTag("tr-TR"))
      CteIngest.deriveFileinfo(df,
        CteIngest.IngestParams(chargeInject = "continuous"))
    } finally Locale.setDefault(saved)
    assert(derived.select("gate").head().getString(0) == "ok")
  }

  test("fileinfoRows keeps only survivors and drops the gate column") {
    val p = CteIngest.IngestParams()
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(Seq(
        hdr("/d/c1_flt.fits"), hdr("/d/c2_flt.fits", chinject = "CONT")), 2),
      schema)
    val out = CteIngest.fileinfoRows(df, p)
    assert(!out.columns.contains("gate"))
    assert(out.count() == 1)
  }
}
