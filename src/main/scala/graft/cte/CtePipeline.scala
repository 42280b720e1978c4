package graft.cte

import java.io.{File, FileNotFoundException}
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.{CompletionException, ConcurrentLinkedQueue, Executors}

import scala.jdk.CollectionConverters._

import graft.sources.{MergeWriter, TsvTables}
import org.apache.spark.sql.{classic, DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.SQLExecution
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

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
  import CtePipeline.{binKey, readArtifact}

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
    * touched (a cast or a drop here would hide it). The upsert evaluates
    * its batch once, persisting a lazy one for the call; rows already in
    * registry order pass as they are, so a batch the caller persisted is
    * not cached a second time. */
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
  private[cte] def slopeRows(results: DataFrame, fileinfo: DataFrame,
                             cohorts: DataFrame, targname: String)
      : DataFrame = {
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
    * the epoch cohorts are collected once (by the first step that needs
    * them), and the fitted coefficients — one row per target — are
    * collected once and feed both the coeffs and fitvals artifacts. The
    * artifacts do not depend on each other (fitvals only on the collected
    * coefficients), so their six job chains run at the same time
    * ([[CtePipeline.concurrently]]); every job of a chain is described as
    * `publish <targname>: <artifacts>`. Each artifact is one file written
    * by one task, which also puts its rows in key order
    * ([[TsvTables.write]]). */
  def publish(targname: String, outDir: String): Unit = {
    val results = table("results").filter(col("targname") === targname)
    val fileinfo = table("fileinfo")
    lazy val cohorts = CteAnalytics.epochCohorts(fileinfo, targname)
    lazy val rows = slopeRows(results, fileinfo, cohorts, targname)
    def write(artifact: String, df: DataFrame, orderBy: String*): Unit =
      TsvTables.write(df, s"$outDir/${targname}_$artifact", orderBy: _*)
    def step(artifacts: String)(body: => Unit): () => Unit = () => {
      spark.sparkContext.setJobDescription(s"publish $targname: $artifacts")
      body
    }
    CtePipeline.concurrently(spark, Seq(
      // the slopes file keeps computeSlopes' column order, not the table's
      step("slopes")(write("slopes",
        results.select("imagename_1", "imagename_2", "aperture", "bin_lo",
          "bin_hi", "slope", "slopestdev", "numpoints", "slopefile",
          "slopefile_path", "targname"),
        "imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi")),
      step("coeffs, fitvals") {
        val fit = CteAnalytics.polyfitByTarget(rows)
        val coeffs = spark.createDataFrame(
          java.util.Arrays.asList(fit.collect(): _*), fit.schema)
        write("coeffs", coeffs)
        // Latest combined epoch — "Users should be using coefficients
        // from the latest epoch" (uvis_external_cte_plots.py:612-613);
        // the cohorts are a driver-side local relation, so this collect
        // runs no job.
        val latestEpoch = cohorts.collect().map(_.getAs[Double]("epoch")).max
        write("fitvals", CteAnalytics.fitvalsTable(coeffs, latestEpoch),
          "logflux")
      },
      step("coeffs_history")(write("coeffs_history",
        CteAnalytics.polyfitHistory(rows), "targname", "as_of_epoch")),
      step("fluxratios")(write("fluxratios",
        CteAnalytics.clippedRatios(table("phot"), fileinfo, targname),
        "imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi",
        "master_id")),
      step("cteVStime")(write("cteVStime",
        CteAnalytics.cteVsTime(results, fileinfo), "aperture", "mjd",
        "fluxbin")),
      step("cteVSflashlvl")(write("cteVSflashlvl",
        CteAnalytics.cteVsFlashlvl(results, fileinfo, targname, cohorts),
        "aperture", "fluxbin", "epoch", "flashlvl", "imagename_1"))))
  }

  /** Render the reference's flux-ratio-vs-ypos slope figures (S7): one
    * PNG per (pair, aperture) with a scatter per flux bin and its fitted
    * line, named `<stem>_slopes.png` like the original
    * (uvis_external_cte_plots.py:247-289).
    *
    * Publish first: the figures are drawn from the `_fluxratios` (the
    * clipped ratio points) and `_slopes` (each bin's slope) artifacts that
    * [[publish]] wrote into `outDir`, read on the driver with no Spark
    * job; a missing one throws [[CtePipeline.UnpublishedArtifact]] before
    * any PNG is written. The fit line re-derives the OLS intercept as
    * ȳ − slope·x̄ over the same clipped points the slope came from. */
  def publishPlots(targname: String, outDir: String): Unit = {
    val pts = readArtifact(s"$outDir/${targname}_fluxratios",
      binKey.add("ypos", DoubleType).add("fluxratio_sigclpd", DoubleType))
    val slopeOf = readArtifact(s"$outDir/${targname}_slopes",
        binKey.add("slope", DoubleType))
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4)) -> r.getDouble(5))
      .toMap
    pts.groupBy(r => (r.getString(0), r.getString(1), r.getInt(2))).foreach {
      case ((i1, i2, ap), rows) =>
        val series = rows.groupBy(r => (r.getInt(3), r.getInt(4)))
          .toSeq.sortBy(_._1)
          .map { case ((lo, hi), rs) =>
            val xs = rs.map(_.getDouble(5)).toArray
            val ys = rs.map(_.getDouble(6)).toArray
            val fit = slopeOf.get((i1, i2, ap, lo, hi)).map { m =>
              (ys.sum / ys.length - m * xs.sum / xs.length, m)
            }
            PlotSink.Series(s"$lo-$hi e-", xs, ys, fit)
          }
        PlotSink.scatterPng(
          new File(outDir, Artifacts.slopePlotName(i1, i2, ap)),
          targname, "Y-position_chip2 [pxl]", "Flux_chip1 / Flux_chip2",
          series)
    }
  }

  /** The monitor's primary figure (uvis_external_cte_plots.py:312-421):
    * CTE slope vs MJD, one scatter series per tracked flux bin, per
    * aperture. File per aperture: `<targname>_cteVStime_r<ap>.png`.
    *
    * Publish first: the figure is drawn from the `_cteVStime` artifact
    * that [[publish]] wrote into `outDir`, read on the driver with no
    * Spark job; a missing one throws [[CtePipeline.UnpublishedArtifact]]
    * before any PNG is written. */
  def publishCteVsTimePlot(targname: String, outDir: String): Unit = {
    val rows = readArtifact(s"$outDir/${targname}_cteVStime",
      new StructType().add("aperture", IntegerType).add("fluxbin", StringType)
        .add("mjd", DoubleType).add("slope", DoubleType))
    rows.groupBy(_.getInt(0)).foreach { case (ap, rs) =>
      val series = rs.groupBy(_.getString(1)).toSeq.sortBy(_._1)
        .map { case (bin, b) =>
          PlotSink.Series(s"$bin e-", b.map(_.getDouble(2)).toArray,
            b.map(_.getDouble(3)).toArray)
        }
      PlotSink.scatterPng(
        new File(outDir, s"${targname}_cteVStime_r$ap.png"),
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

object CtePipeline {

  /** A published artifact that is not in its directory: the figures are
    * drawn from what [[CtePipeline.publish]] wrote, so it runs first. */
  final class UnpublishedArtifact(dir: String)
      extends FileNotFoundException(s"no published artifact in $dir: " +
        "publish first")

  /** The (pair, aperture, flux bin) key columns of the per-bin artifacts. */
  private val binKey = new StructType()
    .add("imagename_1", StringType).add("imagename_2", StringType)
    .add("aperture", IntegerType)
    .add("bin_lo", IntegerType).add("bin_hi", IntegerType)

  /** The rows of a published artifact — the one headered TSV `part-`
    * file [[TsvTables.write]] wrote into `dir` — in file order, parsed on
    * the driver with no Spark job. `schema` picks the columns by header
    * name and types them as Spark's CSV reader would: an empty field is
    * null and a number is read back from its `toString` form, so a
    * double round-trips exactly. The writer quotes the empty string and
    * any value that holds a tab, a quote or a line break; this reader
    * takes no quoted field, so such a file, like a missing column or a
    * ragged line, fails instead of being misread. */
  private[cte] def readArtifact(dir: String, schema: StructType): Seq[Row] = {
    def fail(why: String) =
      throw new IllegalStateException(s"artifact $dir: $why")
    val parts = Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.startsWith("part-"))
    if (parts.isEmpty) throw new UnpublishedArtifact(dir)
    if (parts.length > 1) fail(s"${parts.length} part files, not one")
    val lines = Files.readAllLines(parts.head.toPath, StandardCharsets.UTF_8)
      .asScala.toSeq
    lines.find(_.contains('"')).foreach(l => fail(s"quoted field in: $l"))
    val header = lines.headOption.getOrElse(fail("no header line"))
      .split("\t", -1)
    val at = schema.fields.map { f =>
      val i = header.indexOf(f.name)
      if (i < 0) fail(s"no column ${f.name} in ${header.mkString(", ")}")
      i
    }
    lines.tail.map { line =>
      val fields = line.split("\t", -1)
      if (fields.length != header.length)
        fail(s"${fields.length} fields under ${header.length} columns: $line")
      Row.fromSeq(schema.fields.toSeq.zip(at).map { case (f, i) =>
        val v = fields(i)
        if (v.isEmpty) null else f.dataType match {
          case StringType => v
          case IntegerType => v.toInt
          case DoubleType => v.toDouble
          case t => fail(s"column ${f.name} of type $t is not read back")
        }
      })
    }
  }

  /** Run `steps` at the same time, one daemon thread each, and return
    * when all of them have finished. Every step runs under the caller's
    * Spark context: its local properties (job group, scheduler pool,
    * job description), its active session and so its SQL conf
    * (`SQLExecution.withThreadLocalCaptured`). A Spark action in a step
    * is an ordinary job, so the steps' jobs share the executors as the
    * scheduler allows. Once every step has ended, the error of the first
    * failed step (in `steps` order) is rethrown with the other steps'
    * errors attached as suppressed; no pool thread outlives the call. */
  private[cte] def concurrently(spark: SparkSession,
                                steps: Seq[() => Unit]): Unit = {
    val threads = new ConcurrentLinkedQueue[Thread]()
    val pool = Executors.newFixedThreadPool(steps.size, { (r: Runnable) =>
      val t = new Thread(r, "cte-publish")
      t.setDaemon(true)
      threads.add(t)
      t
    })
    try {
      val session = spark.asInstanceOf[classic.SparkSession]
      val running = steps.map(step =>
        SQLExecution.withThreadLocalCaptured(session, pool)(step()))
      val errors = running.flatMap { f =>
        try { f.join(); None }
        catch { case e: CompletionException => Some(e.getCause) }
      }
      errors.headOption.foreach { first =>
        errors.tail.foreach(first.addSuppressed)
        throw first
      }
    } finally {
      // awaitTermination can return while a worker is still exiting;
      // joining every worker is what ends them all before the return
      pool.shutdown()
      threads.forEach(_.join())
    }
  }
}
