package graft.cte

import graft.sources.{MergeWriter, TsvTables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** End-to-end pipeline — the reference's `run_uvis_external_cte.py`
  * lifecycle (SURVEY.md §3.1) as three composable stages over a parquet
  * warehouse:
  *
  *   1. ingest: read master catalogs (.cat positional TSV) and long-format
  *      photometry tables, upsert into the warehouse by natural key
  *      (idempotent — re-running a visit is a no-op, README.md:519-521);
  *   2. analyze: the pair→match→clip→regress slope pipeline, upserted
  *      into `results` on (imagename_1, imagename_2, aperture, bin);
  *   3. publish: slope table + per-target polyfit coefficients as
  *      headered TSV artifacts (the reference's slopes/coeffs files).
  *
  * Warehouse layout: `<root>/<table>` parquet dirs, hive-partitioned by
  * `targname` (the reference's 3× per-target table fan-out becomes
  * partition pruning — every `targname === …` filter prunes to one
  * directory). Natural keys exactly as the reference:
  * master (targname, master_id), fileinfo (targname, imagename),
  * phot (targname, imagename, find_id, aperture),
  * results (targname, imagename_1, imagename_2, aperture, bin_lo, bin_hi).
  */
class CtePipeline(spark: SparkSession, warehouse: String) {

  private def path(t: String) = s"$warehouse/$t"

  /** The tables whose schema the registry fixes: they are written in it
    * and read with it, so no read runs a schema-inference job. */
  private val registered = Map("fileinfo" -> SchemaRegistry.fileinfo,
    "phot" -> SchemaRegistry.photLong, "results" -> SchemaRegistry.resultsLong)

  def table(t: String): DataFrame =
    registered.get(t).fold(spark.read)(spark.read.schema(_)).parquet(path(t))

  /** Upsert `rows` into table `t` by its natural `keys`. A table the
    * registry fixes takes exactly its columns and types, in any order, and
    * stores them in the registry's order; a missing, extra or differently
    * typed column is a writer bug and fails the write before any file is
    * touched (a cast or a drop here would hide it). Rows already in
    * registry order pass as they are, so a persisted batch keeps its cache
    * for the collision probe. */
  private def upsert(t: String, rows: DataFrame, keys: String*): Unit = {
    val conformed = registered.get(t).fold(rows) { schema =>
      def shape(s: StructType) = s.fields.map(f => f.name -> f.dataType).toSet
      val (want, got) = (shape(schema), shape(rows.schema))
      require(want == got, s"rows for $t are not in its registry schema: " +
        s"missing ${(want -- got).mkString(", ")}; " +
        s"unexpected ${(got -- want).mkString(", ")}")
      if (rows.columns.sameElements(schema.fieldNames)) rows
      else rows.select(schema.fieldNames.map(col).toSeq: _*)
    }
    MergeWriter.upsertParquet(spark, path(t), conformed, keys,
      partitionCols = Seq("targname"))
  }

  // ---- stage 1: ingest

  /** Ingest a master catalog from a positional .cat TSV
    * (database_reset.py:322-328: col1=id col2=xpix col3=ypix col4=ra
    * col5=dec). */
  def ingestMasterCat(catPath: String, targname: String): Unit = {
    val raw = TsvTables.readPositional(spark, catPath,
      StructType(SchemaRegistry.master.fields.filter(_.name != "targname")))
      .withColumn("targname", lit(targname))
    upsert("master", raw, "targname", "master_id")
  }

  /** Ingest fileinfo rows (already header-parsed upstream; S2). */
  def ingestFileinfo(rows: DataFrame): Unit =
    upsert("fileinfo", rows, "targname", "imagename")

  /** Ingest long-format photometry (one row per source × aperture; the
    * reference's mag-file pivot state machine is unnecessary in long
    * form — A10 runs only in the wide compatibility view). */
  def ingestPhot(rows: DataFrame): Unit =
    upsert("phot", rows, "targname", "imagename", "find_id", "aperture")

  /** Ingest one image's IRAF-photometry pair: a DAOphot `.mag` file (long
    * star×aperture rows with A11's totbkgrd = AREA×MSKY) plus its `.coo`
    * catalog match file. The nth coo row belongs to the star with
    * find_id n — the reference aligns them by position, not key
    * (database_update.py:481-485). */
  def ingestIrafPhot(magPath: String, cooPath: String, targname: String,
                     imagename: String): Unit = {
    import org.apache.spark.sql.Row
    import org.apache.spark.sql.types._
    val mag = TsvTables.readDaophotMag(spark, magPath)
    val cooSchema = StructType(Seq(
      StructField("master_id", IntegerType),
      StructField("extr_ra", DoubleType),
      StructField("extr_dec", DoubleType)))
    // coo files are dimension-sized (one per image); zipWithIndex on a
    // single partition keeps the file's row order authoritative.
    val cooIdx = spark.createDataFrame(
      TsvTables.readNamed(spark, cooPath, cooSchema)
        .coalesce(1).rdd.zipWithIndex.map { case (r, i) =>
          Row(r.getInt(0), r.getDouble(1), r.getDouble(2), i + 1L) },
      StructType(cooSchema.fields :+ StructField("rn", LongType)))
    // the join pins find_id to a coo row number, so the registry's int
    // holds it exactly
    val rows = mag.join(cooIdx, mag("find_id") === cooIdx("rn"))
      .select(col("find_id").cast("int").as("find_id"),
        lit(imagename).as("imagename"),
        current_date().as("ingest_date"), col("master_id"),
        col("xpix"), col("ypix"),
        col("extr_ra").as("ra"), col("extr_dec").as("dec"),
        col("aperture"), col("flux"), col("mnbkgrd"), col("totbkgrd"),
        lit(targname).as("targname"))
    ingestPhot(rows)
  }

  // ---- stage 2: analytics

  /** Compute CTE slopes for one target and upsert into `results`. */
  def computeSlopes(targname: String,
                    preds: Map[String, Any] = Map.empty): DataFrame = {
    val slopes = CteAnalytics.fluxRatioSlopes(
        table("phot"), table("fileinfo"), targname, preds = preds)
      .withColumn("slopefile", lit(s"${targname}_slopes.txt"))
      .withColumn("slopefile_path", lit(s"$warehouse/artifacts"))
    upsert("results", slopes, "targname", "imagename_1", "imagename_2",
      "aperture", "bin_lo", "bin_hi")
    slopes
  }

  /** Slope rows joined to their combined epoch and bin-flux midpoint —
    * the polyfit input (shared by the current fit and the history).
    * `cohorts` is `CteAnalytics.epochCohorts(fileinfo, targname)`. */
  private def slopeRows(results: DataFrame, fileinfo: DataFrame,
                        cohorts: DataFrame, targname: String): DataFrame = {
    val pairEpoch = fileinfo
      .filter(col("targname") === targname && col("chip") === 1)
      .select(col("imagename").as("imagename_1"), col("dateobs"))
      .join(broadcast(cohorts), "dateobs")
    results
      .filter(col("targname") === targname && !isnan(col("slope")))
      .join(broadcast(pairEpoch), "imagename_1")
      .withColumn("binflux",
        (col("bin_lo").cast("double") + col("bin_hi").cast("double")) / 2.0)
      .select("targname", "binflux", "epoch", "slope")
  }

  // ---- stage 3: publish

  /** Write the reference's derived text artifacts (S6): slopes, polyfit
    * coefficients (the current per-target fit, and the epoch-keyed
    * history — the reference's sorted *_mjd<epoch>_coeffs.txt set, one
    * cumulative fit per combined epoch), the per-star sigma-clipped flux
    * ratios (*fluxratios.txt), the cteVStime table (the monitor's primary
    * product), the cteVSflashlvl table, and the model fit values on the
    * flux grid (*fitvals.txt) evaluated at the latest combined epoch.
    *
    * Shared inputs are evaluated once: each warehouse table is read once,
    * the epoch cohorts are collected once, and the fitted coefficients —
    * one row per target — are collected once and feed both the coeffs
    * and fitvals artifacts. */
  def publish(targname: String, outDir: String): Unit = {
    val results = table("results").filter(col("targname") === targname)
    val fileinfo = table("fileinfo")
    val cohorts = CteAnalytics.epochCohorts(fileinfo, targname)
    // the slopes file keeps computeSlopes' column order, not the table's
    TsvTables.write(
      results.select("imagename_1", "imagename_2", "aperture", "bin_lo",
          "bin_hi", "slope", "slopestdev", "numpoints", "slopefile",
          "slopefile_path", "targname")
        .orderBy("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi"),
      s"$outDir/${targname}_slopes")
    val rows = slopeRows(results, fileinfo, cohorts, targname)
    val fit = CteAnalytics.polyfitByTarget(rows)
    val coeffs = spark.createDataFrame(
      java.util.Arrays.asList(fit.collect(): _*), fit.schema)
    TsvTables.write(coeffs, s"$outDir/${targname}_coeffs")
    TsvTables.write(
      CteAnalytics.polyfitHistory(rows).orderBy("targname", "as_of_epoch"),
      s"$outDir/${targname}_coeffs_history")
    TsvTables.write(
      CteAnalytics.clippedRatios(table("phot"), fileinfo, targname)
        .orderBy("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi",
          "master_id"),
      s"$outDir/${targname}_fluxratios")
    TsvTables.write(
      CteAnalytics.cteVsTime(results, fileinfo)
        .orderBy("aperture", "mjd", "fluxbin"),
      s"$outDir/${targname}_cteVStime")
    TsvTables.write(
      CteAnalytics.cteVsFlashlvl(results, fileinfo, targname, cohorts)
        .orderBy("aperture", "fluxbin", "epoch", "flashlvl", "imagename_1"),
      s"$outDir/${targname}_cteVSflashlvl")
    // Latest combined epoch — "Users should be using coefficients from
    // the latest epoch" (uvis_external_cte_plots.py:612-613); the cohorts
    // are a driver-side local relation, so this collect runs no job.
    val latestEpoch = cohorts.collect().map(_.getAs[Double]("epoch")).max
    TsvTables.write(
      CteAnalytics.fitvalsTable(coeffs, latestEpoch).orderBy("logflux"),
      s"$outDir/${targname}_fitvals")
  }

  /** Render the reference's flux-ratio-vs-ypos slope figures (S7): one
    * PNG per (pair, aperture) with a scatter per flux bin and its fitted
    * line, named `<stem>_slopes.png` like the original
    * (uvis_external_cte_plots.py:247-289). The collected frame is PLOT
    * data — the clipped ratio points and per-bin slopes the reference
    * itself hands matplotlib — dimension-sized (stars per pair), never a
    * raw table. The fit line re-derives the OLS intercept as
    * ȳ − slope·x̄ over the same clipped points the slope came from. */
  def publishPlots(targname: String, outDir: String): Unit = {
    val pts = CteAnalytics
      .clippedRatios(table("phot"), table("fileinfo"), targname)
      .select("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi",
        "ypos", "fluxratio_sigclpd")
      .collect()
    val slopeOf = table("results").filter(col("targname") === targname)
      .select("imagename_1", "imagename_2", "aperture", "bin_lo", "slope")
      .collect()
      .map(r => (r.getString(0), r.getString(1),
        r.getAs[Number]("aperture").intValue, r.getAs[Number]("bin_lo").intValue)
        -> r.getAs[Number]("slope").doubleValue)
      .toMap
    pts.groupBy(r => (r.getString(0), r.getString(1),
        r.getAs[Number]("aperture").intValue)).foreach {
      case ((i1, i2, ap), rows) =>
        val series = rows
          .groupBy(r => (r.getAs[Number]("bin_lo").intValue,
            r.getAs[Number]("bin_hi").intValue))
          .toSeq.sortBy(_._1)
          .map { case ((lo, hi), rs) =>
            val xs = rs.map(_.getAs[Number]("ypos").doubleValue).toArray
            val ys = rs.map(_.getAs[Number]("fluxratio_sigclpd").doubleValue)
              .toArray
            val fit = slopeOf.get((i1, i2, ap, lo)).map { m =>
              (ys.sum / ys.length - m * xs.sum / xs.length, m)
            }
            PlotSink.Series(s"$lo-$hi e-", xs, ys, fit)
          }
        PlotSink.scatterPng(
          new java.io.File(outDir, Artifacts.slopePlotName(i1, i2, ap)),
          targname, "Y-position_chip2 [pxl]", "Flux_chip1 / Flux_chip2",
          series)
    }
  }

  /** The monitor's primary figure (uvis_external_cte_plots.py:312-421):
    * CTE slope vs MJD, one scatter series per tracked flux bin, per
    * aperture — rendered from the same cteVStime product the text sink
    * publishes. File per aperture: `<targname>_cteVStime_r<ap>.png`. */
  def publishCteVsTimePlot(targname: String, outDir: String): Unit = {
    val rows = CteAnalytics.cteVsTime(
        table("results").filter(col("targname") === targname),
        table("fileinfo"))
      .select("aperture", "fluxbin", "mjd", "slope")
      .collect()
    rows.groupBy(_.getAs[Number]("aperture").intValue).foreach {
      case (ap, rs) =>
        val series = rs.groupBy(_.getString(1)).toSeq.sortBy(_._1)
          .map { case (bin, b) =>
            PlotSink.Series(s"$bin e-",
              b.map(_.getAs[Number]("mjd").doubleValue),
              b.map(_.getAs[Number]("slope").doubleValue))
          }
        PlotSink.scatterPng(
          new java.io.File(outDir, s"${targname}_cteVStime_r$ap.png"),
          targname, "MJD Date", "CTE loss [flux / 2048 pxl]", series)
    }
  }

  /** Full run for one target: analytics + publish (ingest is per-source
    * upstream, as in the reference's per-proposal loop). */
  def run(targname: String, outDir: String): Unit = {
    computeSlopes(targname)
    publish(targname, outDir)
    publishPlots(targname, outDir)
    publishCteVsTimePlot(targname, outDir)
  }
}
