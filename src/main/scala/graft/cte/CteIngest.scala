package graft.cte

import java.util.Locale

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Stage-1 ingest: the reference's `create_param_dict` header-derivation
  * rules (run_image_extraction.py:269-443) as one declarative projection
  * over a raw `headers` table.
  *
  * The reference opens each FITS file and walks the rules imperatively,
  * returning a `'false_*'` sentinel string to drop an image; here every
  * rule is a `when` expression over header columns, so the whole gate
  * evaluates inside the scan (codegen, pushdown-friendly) and the drop
  * *reason* is kept as an observability column instead of a control-flow
  * return. Pixel IO (the FITS arrays themselves) stays out of scope, as in
  * SURVEY.md §1.1 — this consumes a header-dump table with one row per
  * image.
  *
  * Expected input columns: imagename (path), chinject, flashsta, flashlvl,
  * targname (raw, e.g. 'NGC-104' / 'NGC104-CAL2'), proposid, expstart,
  * filter, exptime, naxis1, naxis2, mdrizsky, postarg1, postarg2,
  * flashdur, flashcur, shutrpos, and the 8 WCS params (crval1, crval2,
  * crpix1, crpix2, cd1_1, cd1_2, cd2_1, cd2_2).
  */
object CteIngest {

  /** Run parameters, mirroring create_param_dict's arguments. */
  case class IngestParams(
      chargeInject: String = "NONE",
      flashlvlDesired: Int = 0,
      ngc104cal2: Boolean = false,
      xdithers: Boolean = false,
      subdithers: Boolean = false)

  /** The 180-degree dataset's usable-chip image codes
    * (run_image_extraction.py:355-360, hardcoded in the reference). */
  private val chip1Codes180 =
    Seq("etq", "euq", "ewq", "f2q", "xsq", "xtq", "xvq", "y1q")

  /** ASCII upper-case fold. FITS header values are ASCII by the standard,
    * so this is `upper` on every legal input; unlike `upper`/`lower` it
    * does not reach Spark's ICU case mapping, whose one-time class
    * initialization costs over a second on the first call in a JVM. */
  private def fold(c: Column): Column =
    translate(c, "abcdefghijklmnopqrstuvwxyz", "ABCDEFGHIJKLMNOPQRSTUVWXYZ")

  /** Derive all fileinfo columns + the `gate` column ('ok' or the
    * reference's false_* drop reason, first matching rule wins). */
  def deriveFileinfo(headers: DataFrame, p: IngestParams): DataFrame = {
    // targname: strip the 'NGC' prefix and a leading '-'
    // (run_image_extraction.py:293-297), then the 104-CAL2 fixup (:300-304).
    val stripped = {
      val afterNgc = element_at(split(col("targname"), "NGC"), 2)
      when(afterNgc.startsWith("-"), substring(afterNgc, 2, 1000))
        .otherwise(afterNgc)
    }
    val is180 = stripped.contains("6583")

    // Effective flash level: FLASHLVL only when FLASHSTA says the flash
    // fired; some FLCs lack the keyword entirely (:280-291). A successful
    // flash with a MISSING level keyword reads as 0 — the reference would
    // KeyError there; treating it as 0 routes the row through the pf gate
    // instead of crashing the ingest (or silently null-skipping the gate).
    val flashOk = fold(col("flashsta")) === "SUCCESSFUL"
    val flashEff =
      when(flashOk, coalesce(col("flashlvl").cast("int"), lit(0)))
        .otherwise(lit(0))

    val absP2 = abs(col("postarg2"))
    val chip =
      when(is180,
        when(chip1Codes180.map(c => col("imagename").contains(c)).reduce(_ || _), 1)
          .otherwise(2))
      .otherwise(
        when(absP2 <= 0.1, 2)           // not y-dithered → chip 2 (:349-352)
          .when(absP2 >= 80.0, 1)       // chip-length dither → chip 1 (:353-356)
          .otherwise(lit(null).cast("int"))) // sub-dither, no usable chip

    val gate =
      when(fold(col("chinject")) =!=
          lit(p.chargeInject.toUpperCase(Locale.ROOT)),
        "false_chinject")                                       // :274-277
      .when(flashOk && flashEff =!= p.flashlvlDesired, "false_pf") // :283-285
      .when(!flashOk && lit(p.flashlvlDesired) =!= 0, "false_pf")  // :286-287
      .when(stripped === "104-CAL2" && lit(!p.ngc104cal2), "false_field") // :300-304
      .when(col("postarg1") > 0.1 && lit(!p.xdithers) && stripped =!= "6583",
        "false_xdither")                                        // :332-339
      .when(!is180 && absP2 > 0.1 && absP2 < 80.0 && lit(!p.subdithers),
        "false_subdither")                                      // :362-372
      .otherwise("ok")

    val targFixed =
      when(stripped === "104-CAL2" && lit(p.ngc104cal2), "104CAL2")
        .otherwise(stripped)

    val rootname = element_at(
      split(element_at(split(col("imagename"), "/"), -1), "\\.fits"), 1)
    val ctecorr = when(col("imagename").contains("flc.fits"), 1).otherwise(0)
    val exptimeI = col("exptime").cast("int")   // int() truncation (:417)
    val flashPad = lpad(flashEff.cast("string"), 3, "0") // '{0:03}' (:421)
    val chinj2 = fold(substring(col("chinject"), 1, 2)) // [0:2] (:420)
    val filter = fold(col("filter"))
    // dateobs = str(expstart)[0:5]: string truncation of a 5-digit MJD ==
    // floor (:308-310).
    val dateobs = floor(col("expstart")).cast("double")

    def corner(x: Int, y: Int): Column =
      Wcs.pixToSkyUdf(Seq(lit(x.toDouble), lit(y.toDouble)) ++ Wcs.params(): _*)

    headers.select(
      col("*"),
      gate.as("gate"),
      targFixed.as("targ_stripped"),
      chip.as("chip"),
      flashEff.as("flashlvl_eff"),
      rootname.as("rootname"),
      ctecorr.as("ctecorr"),
      corner(0, 0).as("_ll"), corner(4095, 0).as("_lr"),
      corner(4095, 2051).as("_ur"), corner(0, 2051).as("_ul"))
    .select(
      col("gate"),
      col("rootname").as("imagename"),
      col("imagename").as("imagepath"),
      concat(col("rootname"), lit(".coo")).as("coofile"),
      concat(col("rootname"), lit(".mag")).as("magfile"),
      regexp_replace(col("imagename"), "/[^/]+$", "").as("photpath"),
      // parsed_name, the IDL-comparison verification field
      // (database_update.py:681-698)
      concat_ws("_",
        concat(lit("ngc"), col("targ_stripped")),
        col("proposid").cast("string"),
        dateobs.cast("int").cast("string"),
        filter,
        exptimeI.cast("string"),
        concat(lit("ci"), chinj2),
        concat(lit("pf"), flashPad),
        concat(lit("cte"), col("ctecorr").cast("string")),
        col("chip").cast("string")).as("parsed_name"),
      current_date().as("ingest_date"),
      col("proposid").cast("string").as("proposid"),
      dateobs.as("dateobs"),
      filter.as("filter"),
      exptimeI.cast("double").as("exptime"),
      chinj2.as("chinject"),
      col("flashlvl_eff").cast("double").as("flashlvl"),
      col("ctecorr"),
      col("chip"),
      col("postarg1"), col("postarg2"),
      col("flashdur"), col("flashcur"), col("shutrpos"),
      // Length classifies on the RAW float exptime (the reference compares
      // `if exptime <= 60.` before any int cast, :384-387): 60.5 is long.
      when(col("exptime") <= 60.0, "s").otherwise("l").as("length"),
      col("_ll._1").as("ra_lowerleft"), col("_ll._2").as("dec_lowerleft"),
      col("_lr._1").as("ra_lowerright"), col("_lr._2").as("dec_lowerright"),
      col("_ur._1").as("ra_upperright"), col("_ur._2").as("dec_upperright"),
      col("_ul._1").as("ra_upperleft"), col("_ul._2").as("dec_upperleft"),
      coalesce(col("mdrizsky"), lit(0.0)).as("mnclip_bkgrd"), // :316-321
      concat(lit("ngc"), col("targ_stripped")).as("targname"))
  }

  /** Survivors only, fileinfo-shaped (drop the gate column) — what flows
    * into CtePipeline.ingestFileinfo. */
  def fileinfoRows(headers: DataFrame, p: IngestParams): DataFrame =
    deriveFileinfo(headers, p).filter(col("gate") === "ok").drop("gate")
}
