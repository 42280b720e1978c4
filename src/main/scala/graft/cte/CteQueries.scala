package graft.cte

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** The reference's query layer (/root/reference/wfc3_cte_monitor/
  * database_queries.py:87-819) as lazy DataFrame combinators.
  *
  * Each `query_for_*` becomes a function returning a DataFrame — nothing
  * collects; callers compose further and Catalyst fuses what the reference
  * executed as eager N+1 loops (SURVEY.md §3.2). Filters push to parquet;
  * `fileinfo` is dimension-sized so its filtered projections broadcast
  * into every join.
  *
  * Intentional divergences from reference bugs (SURVEY.md §7.1): the
  * `chip` parameter is honored everywhere; the visit is parsed from fixed
  * rootname positions (chars 5-6) instead of substring containment; float
  * keys are expected canonicalized at ingest.
  */
object CteQueries {

  /** The 8 match keys of an image pair (database_queries.py:628-637). */
  val matchKeys: Seq[String] = Seq(
    "proposid", "dateobs", "filter", "exptime",
    "chinject", "flashlvl", "ctecorr", "postarg1")

  /** Visit id = chars 5-6 of the ipppssoot rootname (run_adriz.py:121 —
    * parsed, not substring-matched; fixes the reference's latent bug at
    * database_queries.py:736-737). */
  def visitOf(imagename: Column): Column = substring(imagename, 5, 2)

  /** Conjunctive equality filter over any subset of the match keys (the
    * workhorse P3; absent keys unconstrained). */
  def filterFileinfo(fileinfo: DataFrame, preds: Map[String, Any]): DataFrame =
    preds.foldLeft(fileinfo) { case (df, (k, v)) => df.filter(col(k) === lit(v)) }

  /** query_for_dateobss (:112): epochs for one (proposid, filter, exptime). */
  def dateobss(fileinfo: DataFrame, targname: String, proposid: String,
               filt: String, exptime: Double): DataFrame =
    fileinfo.filter(col("targname") === targname &&
        col("proposid") === proposid && col("filter") === filt &&
        col("exptime") === exptime)
      .select("dateobs").distinct().orderBy("dateobs")

  /** query_for_exptimes (:144): exptimes near an epoch (± 30 days — the
    * reference's MJD window, database_queries.py:177-180). */
  def exptimes(fileinfo: DataFrame, targname: String, proposid: String,
               filt: String, dateobs: Option[Double]): DataFrame = {
    val base = fileinfo.filter(col("targname") === targname &&
      col("proposid") === proposid && col("filter") === filt)
    val windowed = dateobs match {
      case Some(d) => base.filter(col("dateobs").between(d - 30, d + 30))
      case None    => base
    }
    windowed.select("exptime").distinct().orderBy("exptime")
  }

  /** query_for_flux_by_imagename (:189): long-format phot for one image
    * and aperture — the dynamic flux_<r> column dict (P2) collapses to an
    * aperture predicate. Invalid aperture → empty result, like the
    * reference's KeyError→[] behavior (:801-803). */
  def fluxByImagename(photLong: DataFrame, targname: String,
                      imagename: String, aperture: Int): DataFrame =
    photLong.filter(col("targname") === targname &&
        col("imagename") === imagename && col("aperture") === aperture)
      .select("master_id", "find_id", "xpix", "ypix", "flux", "mnbkgrd", "totbkgrd")

  /** query_for_flux_by_masterid (:254): one star across all images passing
    * the key filter — semi-join loop J1 as a real join (fileinfo side
    * broadcasts). The reference *ignores* its chip parameter here
    * (database_queries.py:297); we honor it. */
  def fluxByMasterId(photLong: DataFrame, fileinfo: DataFrame,
                     targname: String, masterId: Int, aperture: Int,
                     preds: Map[String, Any]): DataFrame = {
    val images = filterFileinfo(
        fileinfo.filter(col("targname") === targname), preds)
      .select("imagename", "dateobs", "chip")
    photLong.filter(col("targname") === targname &&
        col("master_id") === masterId && col("aperture") === aperture)
      .join(broadcast(images), "imagename")
      .select("imagename", "dateobs", "chip", "master_id", "flux")
      .orderBy("dateobs", "imagename")
  }

  /** query_for_flux_range (:317): stars of one cohort whose flux falls in
    * [lo, hi); optional background subtraction (flux − totbkgrd) applied
    * *in-plan* — the reference pulled every row to Python for this,
    * "makes code take 2-3x longer" (database_queries.py:350-356). */
  def fluxRange(photLong: DataFrame, fileinfo: DataFrame, targname: String,
                aperture: Int, lo: Double, hi: Double,
                preds: Map[String, Any],
                subtractBackground: Boolean = false): DataFrame = {
    val images = filterFileinfo(
        fileinfo.filter(col("targname") === targname), preds)
      .select("imagename")
    val flux = if (subtractBackground) col("flux") - col("totbkgrd") else col("flux")
    photLong.filter(col("targname") === targname && col("aperture") === aperture)
      .join(broadcast(images), "imagename")
      .withColumn("flux_eff", flux)
      .filter(col("flux_eff") >= lo && col("flux_eff") < hi)
      .select("imagename", "master_id", "ypix", "flux_eff")
  }

  /** query_for_fluxes_bkgrds_by_ypos (:427): fluxes above a y-position
    * cut with backgrounds, for the background-histogram diagnostics. */
  def fluxesByYpos(photLong: DataFrame, fileinfo: DataFrame, targname: String,
                   aperture: Int, ypos: Double,
                   preds: Map[String, Any]): DataFrame = {
    val images = filterFileinfo(
        fileinfo.filter(col("targname") === targname), preds)
      .select("imagename")
    photLong.filter(col("targname") === targname &&
        col("aperture") === aperture && col("ypix") >= ypos)
      .join(broadcast(images), "imagename")
      .select("imagename", "master_id", "ypix", "flux", "mnbkgrd", "totbkgrd")
  }

  /** query_for_globalbkgrd (:496): scalar lookup, head-1 semantics. */
  def globalBkgrd(fileinfo: DataFrame, targname: String,
                  imagename: String): DataFrame =
    fileinfo.filter(col("targname") === targname &&
        col("imagename") === imagename)
      .select("imagename", "mnclip_bkgrd").limit(1)

  /** query_for_pair (:589) — J2, the core chip-pair self-join: chip-1 rows
    * matched to chip-2 rows on all 8 keys. Output one row per pair. */
  def pairs(fileinfo: DataFrame, targname: String,
            preds: Map[String, Any] = Map.empty): DataFrame = {
    val fi = filterFileinfo(
      fileinfo.filter(col("targname") === targname), preds)
    val c1 = fi.filter(col("chip") === 1)
      .select(col("imagename").as("imagename_1") +: matchKeys.map(col): _*)
    val c2 = fi.filter(col("chip") === 2)
      .select(col("imagename").as("imagename_2") +: matchKeys.map(col): _*)
    c1.join(c2, matchKeys)
      .select((Seq("imagename_1", "imagename_2") ++ matchKeys).map(col): _*)
      .orderBy("imagename_1")
  }

  /** query_for_matching_imagename (:527): the row-at-a-time variant —
    * partner of a single chip-1 image. Kept for API parity; composes the
    * same plan as `pairs` with one extra predicate. */
  def matchingImagename(fileinfo: DataFrame, targname: String,
                        imagename1: String): DataFrame =
    pairs(fileinfo, targname).filter(col("imagename_1") === imagename1)
      .select("imagename_2")

  /** query_for_180pair (:683) — J4, the 180-degree positional join: same
    * chip, visits '10' vs '11', paired by alphabetical rank within their
    * visit groups (README.md:598-609). */
  def pairs180(fileinfo: DataFrame, targname: String, filt: String,
               exptime: Double, ctecorr: Int, chip: Int): DataFrame = {
    val base = fileinfo.filter(col("targname") === targname &&
        col("filter") === filt && col("exptime") === exptime &&
        col("ctecorr") === ctecorr && col("chip") === chip)
      .withColumn("visit", visitOf(col("imagename")))
    val w = Window.partitionBy("visit").orderBy("imagename")
    def side(v: String, out: String) =
      base.filter(col("visit") === v)
        .withColumn("rn", row_number().over(w))
        .select(col("rn"), col("imagename").as(out))
    side("10", "imagename_1")
      .join(side("11", "imagename_2"), "rn")
      .select("imagename_1", "imagename_2")
      .orderBy("imagename_1")
  }

  /** FK-integrity validation (J6): orphans must be zero. */
  def orphanPhot(photLong: DataFrame, master: DataFrame,
                 fileinfo: DataFrame): DataFrame = {
    val byMaster = photLong.join(
      master.select(col("master_id"), col("targname")),
      Seq("master_id", "targname"), "left_anti")
    val byImage = photLong.join(
      fileinfo.select("imagename"), Seq("imagename"), "left_anti")
    byMaster.select("find_id", "imagename", "targname")
      .unionByName(byImage.select("find_id", "imagename", "targname"))
      .distinct()
  }

  /** Stars in the catalog absent from an image (J7/SE2 anti-join —
    * database_update.py:514-519). */
  def missingMasterIds(master: DataFrame, photLong: DataFrame,
                       targname: String, imagename: String): DataFrame =
    master.filter(col("targname") === targname)
      .join(photLong.filter(col("targname") === targname &&
              col("imagename") === imagename)
          .select("master_id").distinct(),
        Seq("master_id"), "left_anti")
      .select("master_id", "xpix", "ypix")
}
