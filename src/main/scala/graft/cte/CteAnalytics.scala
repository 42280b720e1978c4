package graft.cte

import graft.functions.PolyFit2D
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The reference's analytics stage (SURVEY.md §2.4, §3.1 step 4) as one
  * composable DataFrame pipeline: pair join → star match → flux-ratio vs
  * y-position → overlapping flux-bin join → sigma clip → per-bin
  * regression slope → results rows; then epoch cohorts → 9-coefficient
  * polyfit.
  *
  * Shuffle budget (the 100 TB view): the slope pipeline shuffles phot
  * exactly twice — once joining chip-2 to chip-1 on (pair keys,
  * master_id), once hashing the binned rows on (pair, aperture, bin).
  * That one exchange and its sort serve every sigma-clip round (each
  * round is a window pass over the same partitioning, so the plan grows
  * linearly in rounds, never by self-joins) and the slope-moment
  * aggregate after them. Fileinfo-derived pair tables are
  * dimension-sized and broadcast. The flux-bin fan-out is a broadcast
  * 1→N join because bins overlap (SURVEY.md §7.4 item 5: a CASE bucket
  * would silently drop the second bin).
  */
object CteAnalytics {

  /** Pivot long phot → the reference's wide 42-column view (A10;
    * database_update.py:429-478's state machine as one declared pivot). */
  def photWideView(photLong: DataFrame): DataFrame =
    photLong.groupBy("targname", "imagename", "master_id", "find_id",
        "ingest_date", "xpix", "ypix", "ra", "dec")
      .pivot("aperture", SchemaRegistry.apertures.map(_.toString))
      .agg(first(col("flux")).as("flux"),
           first(col("mnbkgrd")).as("mnbkgrd"),
           first(col("totbkgrd")).as("totbkgrd"))
      .select(
        col("targname") +: col("imagename") +: col("master_id") +:
        col("find_id") +: col("ingest_date") +: col("xpix") +: col("ypix") +:
        col("ra") +: col("dec") +:
        SchemaRegistry.apertures.flatMap { r =>
          Seq(col(s"${r}_flux").as(s"flux_$r"),
              col(s"${r}_mnbkgrd").as(s"mnbkgrd_$r"),
              col(s"${r}_totbkgrd").as(s"totbkgrd_$r"))
        }: _*)

  /** Unpivot the wide phot layout back to long (A10 inverse, used at
    * ingest when reading reference-shaped files). */
  def photLongView(photWide: DataFrame): DataFrame = {
    val stackExpr = SchemaRegistry.apertures
      .map(r => s"$r, flux_$r, mnbkgrd_$r, totbkgrd_$r")
      .mkString(s"stack(${SchemaRegistry.apertures.size}, ", ", ",
        ") as (aperture, flux, mnbkgrd, totbkgrd)")
    photWide.select(
      col("targname"), col("imagename"), col("master_id"), col("find_id"),
      col("ingest_date"), col("xpix"), col("ypix"), col("ra"), col("dec"),
      expr(stackExpr))
  }

  /** The core CTE-slope pipeline (A1+A2 over J2+J3), faithful to
    * plot_fluxratio_vs_ypos (uvis_external_cte_plots.py:141-201,
    * 1224-1252): per chip pair, aperture and overlapping flux bin,
    *
    *   1. clean = flux − totbkgrd on BOTH chips (bkgrd_returned='tot',
    *      :1228-1233; subtraction :141-143);
    *   2. a star is in a bin iff both chips' clean fluxes are strictly
    *      inside (> lo, < hi) (:162-166);
    *   3. ratio = clean_chip1 / clean_chip2 (:172);
    *   4. scipy sigmaclip(high=4, low=4) on the ratios (:175-176) —
    *      population std, STRICT bounds; note scipy clips a constant-
    *      valued group to empty (std 0 ⇒ open interval of width 0);
    *   5. OLS of ratio vs chip-2 y-position (:189-191), slopestdev =
    *      stderr·√n (:193-196);
    *   6. bins left empty by 2-4 emit slope 0, stdev 0, numpoints 0
    *      (:198-201) — all 8 bins always present per (pair, aperture).
    *
    * @param clipRounds bounded sigma-clip iterations (reference iterates
    *                   to fixpoint; 3 rounds reaches it on real data)
    */
  private def ratioPipeline(photLong: DataFrame, fileinfo: DataFrame,
                            targname: String, clipRounds: Int,
                            preds: Map[String, Any]): (DataFrame, DataFrame) = {
    val spark = photLong.sparkSession
    import spark.implicits._

    val pairTable = CteQueries.pairs(fileinfo, targname, preds)
      .select("imagename_1", "imagename_2")

    val p = photLong.filter(col("targname") === targname)
      .select("imagename", "master_id", "aperture", "ypix", "flux",
              "totbkgrd")

    // J3: star match across the pair on master_id (+ aperture); annulus
    // background subtracted per chip; y-position taken from chip 2. Raw
    // fluxes/backgrounds ride along for the ratios artifact (S6) — the
    // slope aggregation prunes them, so they cost nothing there.
    val p1 = p.select(col("imagename").as("imagename_1"), col("master_id"),
      col("aperture"), col("flux").as("flux_1"),
      col("totbkgrd").as("bkgrd_1"),
      (col("flux") - col("totbkgrd")).as("clean_1"))
    val p2 = p.select(col("imagename").as("imagename_2"), col("master_id"),
      col("aperture"), col("ypix").as("ypos"), col("flux").as("flux_2"),
      col("totbkgrd").as("bkgrd_2"),
      (col("flux") - col("totbkgrd")).as("clean_2"))
    val matched = p1.join(broadcast(pairTable), "imagename_1")
      .join(p2, Seq("imagename_2", "master_id", "aperture"))
      .withColumn("ratio", col("clean_1") / col("clean_2"))

    // The result domain: (pair, aperture) where BOTH chips returned
    // photometry at that aperture — the reference's pre-match gate
    // `fluxes_chip1 != [] and fluxes_chip2 != []`
    // (uvis_external_cte_plots.py:1237); a pair/aperture failing it hits
    // the "Entries missing in Phot table" branch (:1281-1283) and writes
    // NO Results rows. The check is per chip BEFORE master-id matching:
    // a pair whose chips both have stars but share no master_id still
    // passes the gate and emits the 8 zero-bins. Existence is per
    // (imagename, aperture) — image-count-sized, so the semi-joins stay
    // broadcastable against the already-broadcast pair table.
    val present = p.select(col("imagename"), col("aperture")).distinct()
    val pairAp = pairTable
      .join(present.select(col("imagename").as("imagename_1"),
        col("aperture")), "imagename_1")
      .join(present.select(col("imagename").as("imagename_2"),
        col("aperture")), Seq("imagename_2", "aperture"), "left_semi")
      .select("imagename_1", "imagename_2", "aperture")

    // Overlapping flux bins: broadcast 1→N join, strict bounds on BOTH
    // chips' cleaned fluxes (the reference requires x > lo and x < hi for
    // chip1 AND chip2, uvis_external_cte_plots.py:162-166).
    val binDf = SchemaRegistry.fluxBins.toDF("bin_lo", "bin_hi")
    val binned = matched.join(broadcast(binDf),
      col("clean_1") > col("bin_lo") && col("clean_1") < col("bin_hi") &&
      col("clean_2") > col("bin_lo") && col("clean_2") < col("bin_hi"))

    val groups = Seq("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi")

    // A2: scipy sigmaclip(low=4, high=4) of `ratio` per group. A
    // constant group clips to empty (std 0), and the resulting missing
    // bin becomes a 0-row below, exactly the reference's degenerate path.
    (pairAp, sigmaClip(binned, groups, "ratio", 4.0, clipRounds))
  }

  /** Bounded-iteration scipy-style sigmaclip of `value` per `groups`:
    * each round keeps the rows strictly inside mean ± sigma·std of the
    * previous round's survivors, with the population std. No zero-std
    * escape — scipy's open interval empties a constant group.
    *
    * Each round is a window pass partitioned by `groups` with no
    * ordering (the frame is the whole group), so every round runs over
    * one hash exchange and one sort on `groups`, and a downstream
    * aggregate on the same keys reuses that partitioning. A round that
    * joined the frame to its own grouped stats would copy the input
    * subplan twice per round. */
  private def sigmaClip(df: DataFrame, groups: Seq[String], value: String,
                        sigma: Double, rounds: Int): DataFrame = {
    val w = Window.partitionBy(groups.map(col): _*)
    val v = col(value)
    (1 to rounds).foldLeft(df) { (d, _) =>
      d.select(col("*"), avg(v).over(w).as("_m"), stddev_pop(v).over(w).as("_s"))
        .filter(v > col("_m") - lit(sigma) * col("_s") &&
                v < col("_m") + lit(sigma) * col("_s"))
        .drop("_m", "_s")
    }
  }

  /** The survivors of bin + sigma-clip, row-per-star — the content of the
    * reference's *fluxratios.txt artifact (uvis_external_cte_plots.py:
    * 205-238): per (pair, aperture, bin), each clipped star's ratio, RAW
    * fluxes and annulus backgrounds on both chips, and chip-2 ypos. */
  def clippedRatios(photLong: DataFrame, fileinfo: DataFrame,
                    targname: String, clipRounds: Int = 3,
                    preds: Map[String, Any] = Map.empty): DataFrame =
    ratioPipeline(photLong, fileinfo, targname, clipRounds, preds)._2
      .select(
        col("imagename_1"), col("imagename_2"), col("aperture"),
        col("bin_lo"), col("bin_hi"), col("master_id"),
        col("ratio").as("fluxratio_sigclpd"),
        col("flux_1").as("flux_chip1"), col("flux_2").as("flux_chip2"),
        col("bkgrd_1").as("bkgrd_chip1"), col("bkgrd_2").as("bkgrd_chip2"),
        col("ypos"))
      .withColumn("targname", lit(targname))

  /** CTE slopes per (pair, aperture, overlapping flux bin); see
    * ratioPipeline for the reference-parity rules. */
  def fluxRatioSlopes(photLong: DataFrame, fileinfo: DataFrame,
                      targname: String, clipRounds: Int = 3,
                      preds: Map[String, Any] = Map.empty): DataFrame = {
    val spark = photLong.sparkSession
    import spark.implicits._
    val (pairAp, clipped) =
      ratioPipeline(photLong, fileinfo, targname, clipRounds, preds)
    val binDf = SchemaRegistry.fluxBins.toDF("bin_lo", "bin_hi")
    val groups = Seq("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi")

    // A1: OLS slope of ratio vs chip-2 ypos from sufficient moments;
    // scipy stderr formula; slopestdev = stderr·√n
    // (uvis_external_cte_plots.py:193-196). n=2 groups produce an exact
    // fit with a NaN stderr, matching scipy's n−2 = 0 division; an n=1
    // group (reachable without clipping — a clip round empties it) has
    // no slope either, so slope and stderr are both NaN. A zero
    // denominator becomes NaN before dividing: ANSI mode throws
    // DIVIDE_BY_ZERO on x/0, even for doubles.
    val m = clipped.groupBy(groups.map(col): _*)
      .agg(count(lit(1)).as("n"),
        sum(col("ypos")).as("sx"), sum(col("ypos") * col("ypos")).as("sxx"),
        sum(col("ratio")).as("sy"), sum(col("ratio") * col("ypos")).as("sxy"),
        sum(col("ratio") * col("ratio")).as("syy"))
    val dn = col("n").cast("double")
    val sxxc = col("sxx") - col("sx") * col("sx") / dn
    val sxyc = col("sxy") - col("sx") * col("sy") / dn
    val syyc = col("syy") - col("sy") * col("sy") / dn
    def nonZero(c: Column) = when(c =!= 0.0, c).otherwise(lit(Double.NaN))
    val slope = sxyc / nonZero(sxxc)
    // SSE clamped at 0: an exact fit can go −1e-18 in fp and NaN the sqrt.
    val stderr = sqrt(greatest(lit(0.0), syyc - slope * sxyc) /
      nonZero(dn - 2.0) / nonZero(sxxc))
    val fitted = m.select(
      col("imagename_1"), col("imagename_2"), col("aperture"),
      col("bin_lo"), col("bin_hi"),
      slope.as("slope"),
      (stderr * sqrt(dn)).as("slopestdev"),
      col("n").cast("int").as("numpoints"))

    // All 8 bins for every POPULATED (pair, aperture): once both chips
    // returned photometry, the reference writes a Results row for every
    // bin — zero-filled where binning/clipping emptied it
    // (uvis_external_cte_plots.py:198-201). (pair, aperture) combos
    // where either chip has no phot rows at all never reach that loop
    // (:1237, :1281-1283) and get NO rows. The domain stays
    // dimension-sized (populated pairs × ≤14 × 8).
    val domain = pairAp.crossJoin(broadcast(binDf))
    domain.join(fitted, groups, "left")
      .select(
        col("imagename_1"), col("imagename_2"), col("aperture"),
        col("bin_lo"), col("bin_hi"),
        coalesce(col("slope"), lit(0.0)).as("slope"),
        coalesce(col("slopestdev"), lit(0.0)).as("slopestdev"),
        coalesce(col("numpoints"), lit(0)).as("numpoints"))
      .withColumn("targname", lit(targname))
  }

  /** Long results → the reference's wide 24-column layout. */
  def resultsWideView(resultsLong: DataFrame): DataFrame = {
    val measureCols = SchemaRegistry.fluxBins.flatMap { case (lo, hi) =>
      Seq(
        first(when(col("bin_lo") === lo && col("bin_hi") === hi,
          col("slope")), ignoreNulls = true).as(s"slope_${lo}_$hi"),
        first(when(col("bin_lo") === lo && col("bin_hi") === hi,
          col("slopestdev")), ignoreNulls = true).as(s"slopestdev_${lo}_$hi"),
        first(when(col("bin_lo") === lo && col("bin_hi") === hi,
          col("numpoints")), ignoreNulls = true).as(s"numpoints_${lo}_$hi"))
    }
    resultsLong.groupBy("targname", "imagename_1", "imagename_2", "aperture")
      .agg(measureCols.head, measureCols.tail: _*)
  }

  /** The fluxbins the cteVStime product tracks
    * (uvis_external_cte_plots.py:356: its color map covers exactly 3 of
    * the 8 result bins). */
  val cteVsTimeBins: Seq[(Int, Int)] =
    Seq((500, 2000), (2000, 8000), (8000, 32000))

  /** The cteVStime publish table — the reference monitor's PRIMARY
    * user-facing product (uvis_external_cte_plots.py:312-424, setup
    * 1297-1445): one row per (pair at an epoch, aperture, tracked
    * fluxbin), the slope and its standard error corrected to full chip
    * height ((x/2)·2048, :373-375), keyed by the parameter group the
    * reference encodes in the artifact filename (filter, exp_length,
    * flashlvl, ctecorr, aperture).
    *
    * slope_stderr = slopestdev / numpoints, reproducing :1412-1414 —
    * note the reference divides by n here but by √n elsewhere (its own
    * inconsistency, flagged in SURVEY §7.1; kept because this table IS
    * that published artifact). 0-point bins → NaN stderr (:1415).
    */
  def cteVsTime(resultsLong: DataFrame, fileinfo: DataFrame,
                bins: Seq[(Int, Int)] = cteVsTimeBins): DataFrame = {
    val spark = resultsLong.sparkSession
    import spark.implicits._
    val binDf = bins.toDF("bin_lo", "bin_hi")
    // pair → observation keys via the chip-1 image row (dimension table).
    val keys = fileinfo.filter(col("chip") === 1).select(
      col("targname"), col("imagename").as("imagename_1"),
      col("dateobs").as("mjd"), col("filter"),
      when(col("exptime") > 60.0, "l").otherwise("s").as("exp_length"),
      col("flashlvl"), col("ctecorr"))
    resultsLong
      .join(broadcast(binDf), Seq("bin_lo", "bin_hi")) // tracked bins only
      .join(broadcast(keys), Seq("targname", "imagename_1"))
      .select(
        col("filter"), col("exp_length"), col("flashlvl"), col("ctecorr"),
        col("aperture"),
        (col("slope") / 2.0 * 2048.0).as("slope"),
        (when(col("numpoints") =!= 0, col("slopestdev") / col("numpoints"))
          .otherwise(lit(Double.NaN)) / 2.0 * 2048.0).as("slope_stderr"),
        col("mjd"), col("targname"),
        concat_ws("-", col("bin_lo").cast("string"),
          col("bin_hi").cast("string")).as("fluxbin"))
  }

  /** The cteVSflashlvl product table (uvis_external_cte_plots.py:
    * 1746-1890, plot correction 951-952): CTE slope as a function of
    * post-flash level — one row per chip pair holding a Results row, at
    * every (aperture, fluxbin), keyed by the pair's combined observation
    * epoch (find_epochs, :1792) and its flashlvl. Slope and standard
    * error are corrected to full chip height ((x/2)·2048); standerr =
    * slopestdev/√numpoints (:1857-1860) — NOTE /√n here, unlike
    * cteVStime's /n (the reference's own inconsistency, SURVEY §7.1) —
    * and NaN for zero-point bins. The reference re-queries per
    * (epoch × exptime × flashlvl × pair); here one broadcast join of the
    * chip-1 dimension row supplies every key at once. `cohorts` is
    * `epochCohorts(fileinfo, targname)`, taken by the caller so that one
    * publish collects the epoch list once. */
  def cteVsFlashlvl(resultsLong: DataFrame, fileinfo: DataFrame,
                    targname: String, cohorts: DataFrame): DataFrame = {
    val keys = fileinfo
      .filter(col("targname") === targname && col("chip") === 1)
      .select(col("imagename").as("imagename_1"), col("dateobs"),
        col("filter"),
        when(col("exptime") > 60.0, "l").otherwise("s").as("exp_length"),
        col("flashlvl"), col("ctecorr"))
      .join(broadcast(cohorts), "dateobs")
    resultsLong.filter(col("targname") === targname)
      .join(broadcast(keys), "imagename_1")
      .select(
        col("targname"), col("filter"), col("exp_length"), col("ctecorr"),
        col("aperture"), col("imagename_1"), col("imagename_2"),
        concat_ws("-", col("bin_lo").cast("string"),
          col("bin_hi").cast("string")).as("fluxbin"),
        col("epoch"), col("flashlvl"),
        (col("slope") / 2.0 * 2048.0).as("cteslope"),
        (when(col("numpoints") =!= 0,
            col("slopestdev") / sqrt(col("numpoints").cast("double")))
          .otherwise(lit(Double.NaN)) / 2.0 * 2048.0).as("cteslope_stderr"),
        col("numpoints"))
  }

  /** The 180°-test product table (cte180test_plots.py:286-487) — the
    * analysis data behind the cteVSlogflux_180test plots: one row per
    * 180° pair (same-chip visits 10 vs 11, rank-matched), overlapping
    * flux bin and exptime, carrying
    *
    *   - the σ-clipped mean of the visit-10 image's fluxes in the bin
    *     (sigmaclip(high=4, low=4), cte180test_plots.py:367) and its
    *     log10 — the plot's x axis (:167);
    *   - the pair's CTE slope corrected to full chip height
    *     ((slope/2)·2048, :168) with chip-1 slopes inverted (readout
    *     direction is reversed on chip 1, :157-158, chip1_invert);
    *   - standerr = slopestdev/√numpoints (:386), likewise corrected
    *     (:176), NaN when the bin has no points (:388);
    *   - the combined observation epoch (A5 cohorts) of the visit-10
    *     image — the reference's epoch dict keys.
    *
    * Reference-parity notes:
    *   - a row exists iff the Results row for (pair, bin, aperture)
    *     exists — the `slope != []` gate (:380); the flux mean rides in
    *     by left join, so a bin whose clip emptied (std 0 ⇒ scipy's open
    *     interval clips everything, e.g. a single-star bin) or that holds
    *     no fluxes keeps NaN, np.mean-of-empty (:370);
    *   - flux-bin bounds are INCLUSIVE here (query_for_flux_range,
    *     database_queries.py:414-417), unlike the strict bounds of the
    *     ratio pipeline's binning;
    *   - the reference's flux query drops its imagename filter
    *     (database_queries.py:414-417 — the documented SURVEY §7.1 bug,
    *     every pair sees the whole table's fluxes); we take each pair's
    *     own visit-10 fluxes, the intended per-image semantics;
    *   - `clipSigma` covers both published variants: 4σ
    *     (cte180test_plots.py:367) and the 1.3σ "clipoutliers" re-fit
    *     (uvis_external_cte_plots.py:714).
    *
    * Scale shape: the pair table is fileinfo-derived (dimension-sized,
    * one window pass over (chip, exptime, visit) covers every slice the
    * reference loops over) and broadcasts into the phot-side semi-join;
    * phot shuffles once on (imagename, bin): the clip rounds and the
    * mean all run over that one partitioning. The results join is
    * pair-keyed, AQE-sized.
    */
  def cte180Table(resultsLong: DataFrame, photLong: DataFrame,
                  fileinfo: DataFrame, targname: String, filt: String,
                  ctecorr: Int, aperture: Int,
                  preds: Map[String, Any] = Map.empty,
                  clipSigma: Double = 4.0, clipRounds: Int = 3): DataFrame = {
    val spark = resultsLong.sparkSession
    import spark.implicits._

    // J4 across ALL (chip, exptime) slices at once: rank within
    // (chip, exptime, visit) by imagename, equi-join visit 10 to 11 —
    // pairs180 generalized from one slice to the whole publish domain.
    val base = CteQueries.filterFileinfo(
        fileinfo.filter(col("targname") === targname &&
          col("filter") === filt && col("ctecorr") === ctecorr), preds)
      .withColumn("visit", CteQueries.visitOf(col("imagename")))
    val w = Window.partitionBy("chip", "exptime", "visit").orderBy("imagename")
    val v10 = base.filter(col("visit") === "10")
      .withColumn("rn", row_number().over(w))
      .select(col("rn"), col("chip"), col("exptime"),
        col("imagename").as("imagename_1"), col("dateobs"))
    val v11 = base.filter(col("visit") === "11")
      .withColumn("rn", row_number().over(w))
      .select(col("rn"), col("chip"), col("exptime"),
        col("imagename").as("imagename_2"))
    val cohorts = epochCohorts(fileinfo, targname)
    val pairs = v10.join(v11, Seq("rn", "chip", "exptime"))
      .join(broadcast(cohorts), "dateobs")
      .select("chip", "exptime", "imagename_1", "imagename_2", "epoch")

    // Visit-10 fluxes at the aperture, binned inclusively, σ-clipped per
    // (image, bin) by the same `sigmaClip` as the ratio pipeline.
    val binDf = SchemaRegistry.fluxBins.toDF("bin_lo", "bin_hi")
    val fx = photLong.filter(col("targname") === targname &&
        col("aperture") === aperture)
      .select(col("imagename").as("imagename_1"), col("flux"))
      .join(broadcast(pairs.select("imagename_1")), Seq("imagename_1"),
        "left_semi")
    val binned = fx.join(broadcast(binDf),
      col("flux") >= col("bin_lo") && col("flux") <= col("bin_hi"))
    val groups = Seq("imagename_1", "bin_lo", "bin_hi")
    val fluxMeans = sigmaClip(binned, groups, "flux", clipSigma, clipRounds)
      .groupBy(groups.map(col): _*)
      .agg(avg(col("flux")).as("flux_mean"))

    val res = resultsLong.filter(col("targname") === targname &&
        col("aperture") === aperture)
      .select("imagename_1", "imagename_2", "bin_lo", "bin_hi",
        "slope", "slopestdev", "numpoints")
    val sign = when(col("chip") === 1, lit(-1.0)).otherwise(lit(1.0))
    val standerr = when(col("numpoints") > 0,
        col("slopestdev") / sqrt(col("numpoints").cast("double")))
      .otherwise(lit(Double.NaN))
    pairs.join(res, Seq("imagename_1", "imagename_2"))
      .join(fluxMeans, groups, "left")
      .select(
        lit(targname).as("targname"), col("epoch"), col("chip"),
        col("exptime"), col("imagename_1"), col("imagename_2"),
        lit(aperture).as("aperture"),
        concat_ws("-", col("bin_lo").cast("string"),
          col("bin_hi").cast("string")).as("fluxbin"),
        coalesce(col("flux_mean"), lit(Double.NaN)).as("flux_mean"),
        log10(coalesce(col("flux_mean"), lit(Double.NaN))).as("log10flux"),
        (sign * col("slope") / 2.0 * 2048.0).as("cteslope"),
        (standerr / 2.0 * 2048.0).as("cteslope_stderr"),
        col("numpoints"))
  }

  /** The fitvals publish table (uvis_external_cte_plots.py:697-704,
    * 763-776): the fitted 9-coefficient surface evaluated on the
    * reference's flux grid (100 points, log10flux = k/50 + 2.5) at a
    * given epoch — columns (cteloss, logflux) per targname, exactly the
    * *fitvals.txt artifact content. */
  def fitvalsTable(coeffs: DataFrame, epoch: Double,
                   epochOffset: Double = 55400.0): DataFrame = {
    val c = (0 until 9).map(k => col(s"c$k"))
    coeffs
      .select(col("targname") +: c: _*)
      .withColumn("k", explode(sequence(lit(0), lit(99))))
      .withColumn("logflux", col("k").cast("double") / 50.0 + 2.5)
      .withColumn("cteloss",
        modelEval(c, col("logflux"), lit(epoch - epochOffset)))
      .select("targname", "cteloss", "logflux")
  }

  /** Round-half-even, matching `round(np.mean(...))` in the reference
    * (numpy/py3 banker's rounding — math.round would diverge on .5). */
  private def roundHalfEven(x: Double): Double =
    BigDecimal(x).setScale(0, BigDecimal.RoundingMode.HALF_EVEN).toDouble

  /** A5: epoch combination — the reference's *pairwise, non-transitive*
    * greedy merge (uvis_external_cte_plots.py:2173-2212): walk sorted
    * distinct epochs left→right; if the next is <30 days away, replace the
    * pair by round(mean) and skip both. [0,20,25] → [10, 25], NOT one
    * session — so this is deliberately not a gap-sessionization window.
    * The distinct-epoch list is dimension-sized (dozens), so the greedy
    * walk runs on the driver after a distinct() — same data volume the
    * reference materializes. */
  def combineEpochs(epochs: Seq[Double]): Seq[Double] = {
    val sorted = epochs.distinct.sorted
    val out = Seq.newBuilder[Double]
    var i = 0
    while (i <= sorted.length - 1) {
      if (i == sorted.length - 1) { out += sorted(i); i += 1 }
      else if (sorted(i + 1) - sorted(i) < 30) {
        out += roundHalfEven((sorted(i) + sorted(i + 1)) / 2.0); i += 2
      } else { out += sorted(i); i += 1 }
    }
    out.result()
  }

  /** Epoch cohorts as a DataFrame: each distinct dateobs mapped to its
    * combined epoch (±30-day membership, database_queries.py:177-180).
    * The mapping is collected to the driver and comes back as a local
    * relation, so collecting it again runs no job. */
  def epochCohorts(fileinfo: DataFrame, targname: String): DataFrame = {
    val spark = fileinfo.sparkSession
    import spark.implicits._
    // unordered: combineEpochs sorts on the driver
    val epochs = fileinfo.filter(col("targname") === targname)
      .select("dateobs").distinct()
      .as[Double].collect().toSeq
    val combined = combineEpochs(epochs)
    val mapping = epochs.map { d =>
      val e = combined.minBy(c => math.abs(c - d))
      (d, e)
    }
    mapping.toDF("dateobs", "epoch")
  }

  /** A6: per-epoch 9-coefficient fit of slope = f(log10 flux, epoch).
    * Coefficient order matches the reference's polyfit2d
    * (uvis_external_cte_plots.py:2216-2249): k = i·3+j ↦ x_ref^i·y_ref^j
    * with x_ref = epoch−55400, y_ref = log10(flux). PolyFit2D computes
    * y^i·x^j at k, so pass (x = log10 flux, y = epoch offset). */
  def polyfitByTarget(slopeRows: DataFrame, epochOffset: Double = 55400.0): DataFrame = {
    val fit = udaf(PolyFit2D.udaf)
    slopeRows
      .filter(!isnan(col("slope")))
      .groupBy("targname")
      .agg(fit(log10(col("binflux")),
               col("epoch") - lit(epochOffset),
               col("slope")).as("c"))
      .select(col("targname") +:
        (0 until 9).map(k => element_at(col("c"), k + 1).as(s"c$k")): _*)
  }

  /** A6 history: the epoch-keyed coefficient table the reference
    * materializes as *_mjd<epoch>_coeffs.txt files — fit_empirical_model
    * writes one per epoch, plot_model_on_reality.py:212-242 globs them
    * SORTED by epoch, and calculate_slopes(use_latest_coeffs=True) reads
    * the last ("Users should be using coefficients from the latest
    * epoch", uvis_external_cte_plots.py:612-613: the latest fit has the
    * most data). Each as-of epoch row fits every slope observed up to
    * and including that epoch, so the max-epoch row is exactly
    * `polyfitByTarget` over the full data and earlier rows reproduce
    * what the monitor would have published at the time. (The single-
    * epoch head of the history is the reference's degenerate one-epoch
    * fit — rank 3, where PolyFit2D returns lstsq's minimum-norm
    * solution.)
    *
    * Scale shape: the as-of epoch list is dimension-sized (dozens), so
    * the cumulative fan-out is a broadcast 1→N join; every copy then
    * collapses through the same partial-aggregable Gram-moment buffer
    * as the single fit — one shuffle of (targets × epochs) tiny rows. */
  def polyfitHistory(slopeRows: DataFrame, epochOffset: Double = 55400.0): DataFrame = {
    val fit = udaf(PolyFit2D.udaf)
    val asof = slopeRows.select(col("epoch").as("as_of_epoch")).distinct()
    slopeRows
      .filter(!isnan(col("slope")))
      .join(broadcast(asof), col("epoch") <= col("as_of_epoch"))
      .groupBy("targname", "as_of_epoch")
      .agg(fit(log10(col("binflux")),
               col("epoch") - lit(epochOffset),
               col("slope")).as("c"))
      .select(col("targname") +: col("as_of_epoch") +:
        (0 until 9).map(k => element_at(col("c"), k + 1).as(s"c$k")): _*)
  }

  /** A7: evaluate a 9-coefficient model at (log10 flux, epoch offset). */
  def modelEval(c: Seq[Column], logflux: Column, epochOff: Column): Column = {
    val terms = for (i <- 0 until 3; j <- 0 until 3)
      yield c(i * 3 + j) * pow(epochOff, i) * pow(logflux, j)
    terms.reduce(_ + _)
  }

  /** J5: spatial point-in-polygon join — which master stars fall inside
    * each image's RA/Dec footprint quad (run_image_extraction.py:632-644).
    * Pure column arithmetic: bounding-box prefilter (range predicates the
    * optimizer can use) then 4 half-plane cross-product sign tests; the
    * footprint table broadcasts. */
  def starsInFootprint(master: DataFrame, fileinfo: DataFrame,
                       targname: String): DataFrame = {
    val corners = Seq(
      ("ra_lowerleft", "dec_lowerleft"), ("ra_lowerright", "dec_lowerright"),
      ("ra_upperright", "dec_upperright"), ("ra_upperleft", "dec_upperleft"))
    val quads = fileinfo.filter(col("targname") === targname)
      .select(col("imagename") +:
        corners.flatMap(c => Seq(col(c._1), col(c._2))): _*)

    def cross(x1: Column, y1: Column, x2: Column, y2: Column,
              px: Column, py: Column): Column =
      (x2 - x1) * (py - y1) - (y2 - y1) * (px - x1)

    val inside = corners.zip(corners.tail :+ corners.head).map {
      case ((xa, ya), (xb, yb)) =>
        cross(col(xa), col(ya), col(xb), col(yb), col("ra"), col("dec")) >= 0.0
    }.reduce(_ && _)

    val raMin = least(corners.map(c => col(c._1)): _*)
    val raMax = greatest(corners.map(c => col(c._1)): _*)
    val decMin = least(corners.map(c => col(c._2)): _*)
    val decMax = greatest(corners.map(c => col(c._2)): _*)

    master.filter(col("targname") === targname)
      .join(broadcast(quads),
        col("ra").between(raMin, raMax) &&
        col("dec").between(decMin, decMax) && inside)
      .select("imagename", "master_id", "xpix", "ypix", "ra", "dec")
  }
}
