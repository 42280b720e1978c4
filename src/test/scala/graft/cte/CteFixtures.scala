package graft.cte

import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Deterministic in-memory fixtures shaped per FIXTURES.md §1 — tiny
  * enough that every expected value below is hand-computable.
  *
  * Layout:
  *   - pair A: iaaa01a1q (chip1) ↔ iaaa01a2q (chip2) at dateobs 55000
  *   - pair B: iaaa02b1q ↔ iaaa02b2q at dateobs 55500
  *   - 180-set: chip-1 visits 10/11 → rank pairs (10p1→11p1, 10p2→11p2)
  *   - phot for pair A, aperture 3: stars 1-4 flux 300 (bin 250-500),
  *     stars 5-8 flux 1500 (bins 500-2000 AND 1000-2000, overlapping);
  *     flux_2 = flux_1·(1 − 1e-4·ypos) ⇒ exact slope −1e-4 per bin.
  */
object CteFixtures {

  val T = "ngc104"

  private def fi(img: String, chip: Int, dateobs: Double,
                 corners: (Double, Double, Double, Double) = (0.0, 1.0, 0.0, 1.0),
                 flashlvl: Double = 0.0) =
    Row(img, s"/data/$img", s"$img.coo", s"$img.mag", "/phot", img,
      "11924", "F502N", "NONE", "ZERO", "A", "s",
      java.sql.Date.valueOf("2026-01-01"),
      corners._1, corners._3, corners._2, corners._3,
      corners._2, corners._4, corners._1, corners._4,
      3.5, dateobs, 60.0, flashlvl, 0.0, 0.0, 0.0,
      0, chip, T)

  def fileinfo(spark: SparkSession): DataFrame = {
    val rows = Seq(
      fi("iaaa01a1q", 1, 55000.0, (0.15, 0.55, 0.15, 0.55)),
      fi("iaaa01a2q", 2, 55000.0),
      fi("iaaa02b1q", 1, 55500.0),
      fi("iaaa02b2q", 2, 55500.0),
      // 180-degree set: same chip, visits 10/11.
      fi("iaaa10p1q", 1, 55600.0), fi("iaaa10p2q", 1, 55600.0),
      fi("iaaa11p1q", 1, 55600.0), fi("iaaa11p2q", 1, 55600.0),
      // unmatched chip-1 image (different exptime key).
      Row("iaaa03c1q", "/data/iaaa03c1q", "c.coo", "c.mag", "/phot",
        "iaaa03c1q", "11924", "F502N", "NONE", "ZERO", "A", "l",
        java.sql.Date.valueOf("2026-01-01"),
        0.0, 0.0, 1.0, 0.0, 1.0, 1.0, 0.0, 1.0,
        3.5, 55000.0, 350.0, 0.0, 0.0, 0.0, 0.0, 0, 1, T))
    val schema = org.apache.spark.sql.types.StructType(Seq(
      "imagename", "imagepath", "coofile", "magfile", "photpath",
      "parsed_name", "proposid", "filter", "chinject", "flashcur",
      "shutrpos", "length").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.StringType)) ++
      Seq(org.apache.spark.sql.types.StructField("ingest_date",
        org.apache.spark.sql.types.DateType)) ++
      Seq("ra_lowerleft", "dec_lowerleft", "ra_lowerright", "dec_lowerright",
        "ra_upperright", "dec_upperright", "ra_upperleft", "dec_upperleft",
        "mnclip_bkgrd", "dateobs", "exptime", "flashlvl", "flashdur",
        "postarg1", "postarg2").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.DoubleType)) ++
      Seq("ctecorr", "chip").map(n =>
        org.apache.spark.sql.types.StructField(n,
          org.apache.spark.sql.types.IntegerType)) ++
      Seq(org.apache.spark.sql.types.StructField("targname",
        org.apache.spark.sql.types.StringType)))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), schema)
  }

  // NB fixture fileinfo row order: strings (the exptime class `length`
  // last), ingest_date, corner doubles in (ll, lr, ur, ul) ra/dec
  // interleave, mnclip, dateobs, exptime, flashlvl, flashdur, postarg1,
  // postarg2, ctecorr, chip, targname.

  def master(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (1 to 10).map(i =>
      (i, 50.0, 100.0 * i, 0.1 * i, 0.1 * i, T))
      .toDF("master_id", "xpix", "ypix", "ra", "dec", "targname")
  }

  /** 180°-test fileinfo (cte180test_plots.py path): same-chip visit-10/11
    * images on BOTH chips at two dateobss 20 days apart — the A5 cohort
    * walk combines 55600 and 55620 into epoch 55610. Kept separate from
    * `fileinfo` so its hand-counted expectations stay untouched. */
  def fileinfo180(spark: SparkSession): DataFrame = {
    val rows = Seq(
      fi("iaaa10p1q", 1, 55600.0), fi("iaaa10p2q", 1, 55600.0),
      fi("iaaa11p1q", 1, 55600.0), fi("iaaa11p2q", 1, 55600.0),
      fi("iaab10z1q", 2, 55620.0), fi("iaab11z1q", 2, 55620.0))
    val schema = fileinfo(spark).schema
    spark.createDataFrame(spark.sparkContext.parallelize(rows, 2), schema)
  }

  /** Visit-10 fluxes for the 180° product (aperture 3, raw — the flux-
    * range query does not background-subtract by default):
    *   - iaaa10p1q: {300, 320, 340, 480} in bin 250-500 (480 included:
    *     inclusive bounds) — 4σ keeps all (mean 360); 1.3σ drops 480
    *     (clipped mean 320);
    *   - iaaa10p2q: single 400 — std 0 ⇒ scipy clips to empty ⇒ NaN mean;
    *   - iaab10z1q: {1000, 1100, 1200, 1300} in bins 500-2000 and
    *     1000-2000 (overlap), mean 1150. */
  def phot180(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val d0 = java.sql.Date.valueOf("2026-01-01")
    val fluxes = Seq(
      ("iaaa10p1q", Seq(300.0, 320.0, 340.0, 480.0)),
      ("iaaa10p2q", Seq(400.0)),
      ("iaab10z1q", Seq(1000.0, 1100.0, 1200.0, 1300.0)))
    fluxes.flatMap { case (img, fs) =>
      fs.zipWithIndex.map { case (f, i) =>
        (i + 1, img, d0, i + 1, 50.0, 100.0 * (i + 1), 0.1, 0.1, 3, f, 1.0, 10.0, T)
      }
    }.toDF("find_id", "imagename", "ingest_date", "master_id", "xpix",
      "ypix", "ra", "dec", "aperture", "flux", "mnbkgrd", "totbkgrd", "targname")
  }

  /** Planted Results rows for the 180° pairs (slope, slopestdev,
    * numpoints per bin; the 8000-32000 row is a reference-style zero
    * bin). */
  def results180(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("iaaa10p1q", "iaaa11p1q", 3, 250, 500, 0.001, 0.004, 4, T),
      ("iaaa10p1q", "iaaa11p1q", 3, 8000, 32000, 0.0, 0.0, 0, T),
      ("iaaa10p2q", "iaaa11p2q", 3, 250, 500, 0.002, 0.006, 9, T),
      ("iaab10z1q", "iaab11z1q", 3, 500, 2000, 0.003, 0.004, 4, T))
      .toDF("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi",
        "slope", "slopestdev", "numpoints", "targname")
  }

  /** Post-flash fixtures for the cteVSflashlvl product: two chip pairs at
    * the same epoch, flash levels 6 and 12 e-. */
  def fileinfoFlash(spark: SparkSession): DataFrame = {
    val rows = Seq(
      fi("iaac01f1q", 1, 55000.0, flashlvl = 6.0),
      fi("iaac01f2q", 2, 55000.0, flashlvl = 6.0),
      fi("iaac02g1q", 1, 55000.0, flashlvl = 12.0),
      fi("iaac02g2q", 2, 55000.0, flashlvl = 12.0))
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows, 2), fileinfo(spark).schema)
  }

  /** Planted Results rows for the post-flash pairs. */
  def resultsFlash(spark: SparkSession): DataFrame = {
    import spark.implicits._
    Seq(
      ("iaac01f1q", "iaac01f2q", 3, 250, 500, 0.001, 0.004, 4, T),
      ("iaac02g1q", "iaac02g2q", 3, 250, 500, 0.002, 0.006, 9, T),
      ("iaac02g1q", "iaac02g2q", 3, 8000, 32000, 0.0, 0.0, 0, T))
      .toDF("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi",
        "slope", "slopestdev", "numpoints", "targname")
  }

  /** Phot rows for pair A at aperture 3 (+ a second aperture 5 with flat
    * ratio for aperture-isolation checks). All rows carry totbkgrd 10, so
    * clean flux = flux − 10. Chip 1 carries the planted CTE loss:
    * clean_1 = base·(1 − 1e-4·ypos), clean_2 = base ⇒
    * ratio = clean_1/clean_2 = 1 − 1e-4·ypos, exact slope −1e-4 vs the
    * chip-2 y-position. Aperture 5's ratio is constant (400/300), which
    * scipy sigmaclip clips to empty (std 0 ⇒ open interval of width 0). */
  def photLong(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val d0 = java.sql.Date.valueOf("2026-01-01")
    val rows = (1 to 8).flatMap { i =>
      val ypos = 100.0 * i
      val base = if (i <= 4) 300.0 else 1500.0
      val f1 = 10.0 + base * (1.0 - 1e-4 * ypos)
      val f2 = 10.0 + base
      Seq(
        (i, "iaaa01a1q", d0, i, 50.0, ypos, 0.1 * i, 0.1 * i, 3, f1, 1.0, 10.0, T),
        (i, "iaaa01a2q", d0, i, 50.0, ypos, 0.1 * i, 0.1 * i, 3, f2, 1.0, 10.0, T),
        (i, "iaaa01a1q", d0, i, 50.0, ypos, 0.1 * i, 0.1 * i, 5, 410.0, 1.0, 10.0, T),
        (i, "iaaa01a2q", d0, i, 50.0, ypos, 0.1 * i, 0.1 * i, 5, 310.0, 1.0, 10.0, T))
    }
    rows.toDF("find_id", "imagename", "ingest_date", "master_id", "xpix",
      "ypix", "ra", "dec", "aperture", "flux", "mnbkgrd", "totbkgrd", "targname")
  }
}
