package graft.cte

import graft.SparkSpecBase
import graft.functions.PolyFit2D
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.functions._

class CteAnalyticsSpec extends SparkSpecBase {

  private lazy val fi = CteFixtures.fileinfo(spark)
  private lazy val ms = CteFixtures.master(spark)
  private lazy val ph = CteFixtures.photLong(spark)

  test("flux-ratio slope pipeline recovers the planted -1e-4 slope per bin") {
    val res = CteAnalytics.fluxRatioSlopes(ph, fi, CteFixtures.T)
      .filter(col("aperture") === 3)
      .orderBy("bin_lo", "bin_hi").collect()
    // All 8 bins emit a row for every POPULATED (pair, aperture) — empty
    // bins as 0s (uvis_external_cte_plots.py:198-201). Pair B has no
    // photometry, so it fails the pre-match per-chip gate (:1237) and
    // takes the "Entries missing in Phot table" branch (:1281-1283):
    // NO rows at all. 1 populated pair × 8 bins.
    assert(res.length == 8)
    val hit = res.filter(_.getAs[Int]("numpoints") > 0)
    // stars 1-4 (clean 300·…) → bin 250-500; stars 5-8 (clean 1500·…)
    // land in BOTH overlapping bins 500-2000 and 1000-2000.
    val bins = hit.map(r => (r.getAs[Int]("bin_lo"), r.getAs[Int]("bin_hi"))).toSeq
    assert(bins == Seq((250, 500), (500, 2000), (1000, 2000)))
    hit.foreach { r =>
      assert(r.getAs[Int]("numpoints") == 4)
      assert(math.abs(r.getAs[Double]("slope") - (-1e-4)) < 1e-12,
        s"slope ${r.getAs[Double]("slope")}")
      assert(math.abs(r.getAs[Double]("slopestdev")) < 1e-9)
    }
    res.filterNot(_.getAs[Int]("numpoints") > 0).foreach { r =>
      assert(r.getAs[Double]("slope") == 0.0)
      assert(r.getAs[Double]("slopestdev") == 0.0)
    }
  }

  test("aperture 5's constant ratio sigma-clips to empty → 0-rows (scipy parity)") {
    val res = CteAnalytics.fluxRatioSlopes(ph, fi, CteFixtures.T)
      .filter(col("aperture") === 5).collect()
    // clean 400/300 both in (250,500); ratio constant ⇒ scipy sigmaclip
    // empties the group (std 0 ⇒ strict bounds collapse) ⇒ every bin
    // reports m=0, std=0, n=0. Both chips DO have aperture-5 phot, so the
    // pair passes the pre-match gate and emits its 8 zero rows; pair B
    // (photometry-free) emits none.
    assert(res.length == 8)
    res.foreach { r =>
      assert(r.getAs[Int]("numpoints") == 0)
      assert(r.getAs[Double]("slope") == 0.0)
      assert(r.getAs[Double]("slopestdev") == 0.0)
    }
  }

  test("1- and 2-star bins fit to NaN without a division by zero") {
    import spark.implicits._
    // pair A, aperture 3: star 1 alone in bin 250-500; stars 2-3 in the
    // overlapping bins 2000-4000 and 2000-8000, ratio 1 − 1e-4·ypos
    val d0 = java.sql.Date.valueOf("2026-01-01")
    val stars = Seq((1, 300.0), (2, 3000.0), (3, 3000.0))
    val phot = stars.flatMap { case (i, base) =>
      val ypos = 100.0 * i
      Seq(
        (i, "iaaa01a1q", d0, i, 50.0, ypos, 0.1, 0.1, 3,
          10.0 + base * (1.0 - 1e-4 * ypos), 1.0, 10.0, CteFixtures.T),
        (i, "iaaa01a2q", d0, i, 50.0, ypos, 0.1, 0.1, 3,
          10.0 + base, 1.0, 10.0, CteFixtures.T))
    }.toDF("find_id", "imagename", "ingest_date", "master_id", "xpix",
      "ypix", "ra", "dec", "aperture", "flux", "mnbkgrd", "totbkgrd",
      "targname")
    def fit(clipRounds: Int) =
      CteAnalytics.fluxRatioSlopes(phot, fi, CteFixtures.T, clipRounds)
        .filter(col("numpoints") > 0)
        .orderBy("bin_lo", "bin_hi").collect()
        .map(r => (r.getAs[Int]("bin_lo"), r.getAs[Int]("bin_hi"),
          r.getAs[Int]("numpoints"), r.getAs[Double]("slope"),
          r.getAs[Double]("slopestdev")))
        .toSeq

    // scipy's sigmaclip empties the 1-star bin (std 0), so only the
    // 2-star bins are fitted: an exact slope and a NaN stderr (n − 2 = 0)
    val clipped = fit(clipRounds = 3)
    assert(clipped.map(r => (r._1, r._2, r._3)) ==
      Seq((2000, 4000, 2), (2000, 8000, 2)))
    clipped.foreach { r =>
      assert(math.abs(r._4 - (-1e-4)) < 1e-12, s"slope ${r._4}")
      assert(r._5.isNaN, s"slopestdev ${r._5}")
    }
    // unclipped, the 1-star bin reaches the fit: no slope, no stderr
    val one = fit(clipRounds = 0).filter(_._3 == 1)
    assert(one.map(r => (r._1, r._2)) == Seq((250, 500)))
    assert(one.head._4.isNaN && one.head._5.isNaN, s"1-star fit ${one.head}")
  }

  test("clip rounds are window passes: the plan stays linear in rounds") {
    val root = java.nio.file.Files.createTempDirectory("cte_plan").toString
    CteFixtures.photLong(spark).write.parquet(s"$root/phot")
    CteFixtures.fileinfo(spark).write.parquet(s"$root/fileinfo")
    val phot = spark.read.parquet(s"$root/phot")
    val fileinfo = spark.read.parquet(s"$root/fileinfo")
    def photScans(df: DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case l: LogicalRelation => l }
        .count(_.relation match {
          case h: HadoopFsRelation => h.location.rootPaths.exists(_.getName == "phot")
          case _ => false
        })
    // one scan per matched chip, whatever the round count; a clip round
    // that joined the frame to its own stats would double it per round
    Seq(1, 3).foreach { k =>
      assert(photScans(CteAnalytics.clippedRatios(phot, fileinfo,
        CteFixtures.T, clipRounds = k)) == 2, s"clipRounds $k")
    }
    // + the per-chip presence gate of the result domain
    assert(photScans(CteAnalytics.fluxRatioSlopes(phot, fileinfo,
      CteFixtures.T)) <= 4)
  }

  test("multi-round clip: each round sees only the previous survivors") {
    import spark.implicits._
    // pair A, aperture 3, every star in bin 250-500 on both chips: 30
    // ratios within 1 ± 0.01, star 31 at 1.5 and star 32 at 1.99. Round 1
    // clips only star 32; star 31 survives it and falls to round 2.
    val d0 = java.sql.Date.valueOf("2026-01-01")
    val clean = (1 to 30).map(i =>
        (i, 400.0 * (1.0 + 0.002 * ((i * 7) % 11 - 5)), 400.0)) ++
      Seq((31, 450.0, 300.0), (32, 251.0 * 1.99, 251.0))
    val phot = clean.flatMap { case (i, c1, c2) =>
      val ypos = 50.0 * i
      Seq(
        (i, "iaaa01a1q", d0, i, 50.0, ypos, 0.1, 0.1, 3, 10.0 + c1, 1.0, 10.0, CteFixtures.T),
        (i, "iaaa01a2q", d0, i, 50.0, ypos, 0.1, 0.1, 3, 10.0 + c2, 1.0, 10.0, CteFixtures.T))
    }.toDF("find_id", "imagename", "ingest_date", "master_id", "xpix",
      "ypix", "ra", "dec", "aperture", "flux", "mnbkgrd", "totbkgrd",
      "targname")
    // driver-side scipy sigmaclip: population std, strict bounds; the
    // ratio is formed from the stored fluxes exactly as the pipeline does
    val points = clean.map { case (i, c1, c2) =>
      (i, ((10.0 + c1) - 10.0) / ((10.0 + c2) - 10.0), 50.0 * i) }
    def scipyClip(rounds: Int) =
      (1 to rounds).foldLeft(points) { (ps, _) =>
        val m = ps.map(_._2).sum / ps.size
        val s = math.sqrt(ps.map(p => (p._2 - m) * (p._2 - m)).sum / ps.size)
        ps.filter(p => p._2 > m - 4.0 * s && p._2 < m + 4.0 * s)
      }
    val kept = Seq(1, 2, 3).map { k =>
      val want = scipyClip(k)
      val got = CteAnalytics.clippedRatios(phot, fi, CteFixtures.T, k)
        .filter(col("aperture") === 3).select("master_id").as[Int]
        .collect().sorted.toSeq
      assert(got == want.map(_._1).sorted, s"clipRounds $k")
      val fit = CteAnalytics.fluxRatioSlopes(phot, fi, CteFixtures.T, k)
        .filter(col("aperture") === 3 && col("bin_lo") === 250).collect().head
      assert(fit.getAs[Int]("numpoints") == want.size, s"clipRounds $k")
      val xm = want.map(_._3).sum / want.size
      val ym = want.map(_._2).sum / want.size
      val ols = want.map(p => (p._3 - xm) * (p._2 - ym)).sum /
        want.map(p => (p._3 - xm) * (p._3 - xm)).sum
      assert(math.abs(fit.getAs[Double]("slope") - ols) < 1e-12,
        s"clipRounds $k: slope ${fit.getAs[Double]("slope")} vs $ols")
      got
    }
    assert(kept(0).contains(31) && !kept(0).contains(32))
    assert(!kept(1).contains(31) && kept(1).size == 30)
  }

  test("wide results view pivots to the reference 24-column layout") {
    val long = CteAnalytics.fluxRatioSlopes(ph, fi, CteFixtures.T)
    val wide = CteAnalytics.resultsWideView(
      long.withColumn("slopefile", lit("f")).withColumn("slopefile_path", lit("p")))
    assert(wide.columns.count(_.startsWith("slope_")) == 8)
    val r = wide.filter(col("aperture") === 3).collect()(0)
    assert(math.abs(r.getAs[Double]("slope_250_500") - (-1e-4)) < 1e-12)
    assert(r.getAs[Int]("numpoints_1000_2000") == 4)
    assert(r.getAs[Double]("slope_8000_32000") == 0.0) // empty bin = 0-row
    assert(r.getAs[Int]("numpoints_8000_32000") == 0)
  }

  test("phot wide/long pivot round-trips") {
    val wide = CteAnalytics.photWideView(ph)
    assert(wide.columns.count(_.startsWith("flux_")) == 14)
    val backLong = CteAnalytics.photLongView(wide)
      .filter(col("flux").isNotNull)
    assert(backLong.count() == ph.count())
    val a = ph.select("imagename", "master_id", "aperture", "flux")
      .orderBy("imagename", "master_id", "aperture").collect().toSeq
    val b = backLong.select("imagename", "master_id", "aperture", "flux")
      .orderBy("imagename", "master_id", "aperture").collect().toSeq
    assert(a == b)
  }

  test("clippedRatios publishes the per-star fluxratios artifact content") {
    val res = CteAnalytics.clippedRatios(ph, fi, CteFixtures.T)
      .filter(col("aperture") === 3 && col("bin_lo") === 250)
      .orderBy("master_id").collect()
    // stars 1-4 in bin 250-500 all survive the clip; RAW fluxes, not
    // cleaned: flux_chip1 = 10 + 300·(1 − 1e-4·100i), flux_chip2 = 310.
    assert(res.length == 4)
    res.zipWithIndex.foreach { case (r, i0) =>
      val i = i0 + 1
      assert(r.getAs[Int]("master_id") == i)
      assert(math.abs(r.getAs[Double]("fluxratio_sigclpd") -
        (1.0 - 1e-4 * 100 * i)) < 1e-12)
      assert(math.abs(r.getAs[Double]("flux_chip1") -
        (10.0 + 300.0 * (1.0 - 1e-4 * 100 * i))) < 1e-12)
      assert(r.getAs[Double]("flux_chip2") == 310.0)
      assert(r.getAs[Double]("bkgrd_chip1") == 10.0)
      assert(r.getAs[Double]("ypos") == 100.0 * i)
    }
  }

  test("cteVStime: chip-height correction, stderr/n, tracked bins, pair keys") {
    val results = CteAnalytics.fluxRatioSlopes(ph, fi, CteFixtures.T)
    val t = CteAnalytics.cteVsTime(results, fi)
      .filter(col("aperture") === 3).orderBy("fluxbin", "mjd").collect()
    // Of the 3 bins with data at aperture 3, only 500-2000 is tracked
    // (250-500 and 1000-2000 are not in the cteVStime color map); every
    // tracked bin appears for pair A (empty ones as 0-slope/NaN-stderr).
    // Pair B produced no Results rows (no photometry ⇒ pre-match gate),
    // so it contributes nothing here either.
    assert(t.map(_.getAs[String]("fluxbin")).toSeq ==
      Seq("2000-8000", "500-2000", "8000-32000"))
    val hit = t.find(r => r.getAs[String]("fluxbin") == "500-2000" &&
      r.getAs[Double]("mjd") == 55000.0).get
    assert(math.abs(hit.getAs[Double]("slope") - (-1e-4 / 2.0 * 2048.0)) < 1e-9)
    assert(math.abs(hit.getAs[Double]("slope_stderr")) < 1e-6) // ≈0 (fp noise ×1024)
    assert(hit.getAs[Double]("mjd") == 55000.0)
    assert(hit.getAs[String]("targname") == CteFixtures.T)
    assert(hit.getAs[String]("exp_length") == "s") // exptime 60 ≤ 60
    assert(hit.getAs[String]("filter") == "F502N")
    // empty tracked bins: slope 0 corrected stays 0, stderr NaN (n=0)
    val empty = t.find(_.getAs[String]("fluxbin") == "2000-8000").get
    assert(empty.getAs[Double]("slope") == 0.0)
    assert(empty.getAs[Double]("slope_stderr").isNaN)
  }

  test("fitvals: the 100-point flux grid evaluates the fitted surface") {
    import spark.implicits._
    // c0=0.2, c1 (logflux) = 0.1, c3 (epoch) = 0.01 — rest 0.
    val coeffs = Seq(("t", 0.2, 0.1, 0.0, 0.01, 0.0, 0.0, 0.0, 0.0, 0.0))
      .toDF("targname", "c0", "c1", "c2", "c3", "c4", "c5", "c6", "c7", "c8")
    val fv = CteAnalytics.fitvalsTable(coeffs, epoch = 55500.0)
      .orderBy("logflux").collect()
    assert(fv.length == 100)
    assert(fv.head.getAs[Double]("logflux") == 2.5)
    assert(math.abs(fv.last.getAs[Double]("logflux") - 4.48) < 1e-12)
    fv.foreach { r =>
      val want = 0.2 + 0.1 * r.getAs[Double]("logflux") + 0.01 * 100.0
      assert(math.abs(r.getAs[Double]("cteloss") - want) < 1e-9)
    }
  }

  test("epoch merge is pairwise and non-transitive, with banker's rounding") {
    // [0,20,25]: 0+20 merge → 10, then 25 stands alone (NOT one session).
    assert(CteAnalytics.combineEpochs(Seq(0.0, 20.0, 25.0)) == Seq(10.0, 25.0))
    // round(np.mean) is half-even: (300+301)/2 = 300.5 → 300.
    assert(CteAnalytics.combineEpochs(Seq(100.0, 120.0, 125.0, 300.0, 301.0))
      == Seq(110.0, 125.0, 300.0))
    // far-apart epochs untouched; duplicates collapse first.
    assert(CteAnalytics.combineEpochs(Seq(55000.0, 55000.0, 55500.0))
      == Seq(55000.0, 55500.0))
  }

  test("epochCohorts maps each dateobs to its combined epoch") {
    val m = CteAnalytics.epochCohorts(fi, CteFixtures.T)
      .orderBy("dateobs").collect()
      .map(r => (r.getDouble(0), r.getDouble(1))).toSeq
    // fixture epochs 55000, 55500, 55600 are all ≥30d apart → identity.
    assert(m == Seq((55000.0, 55000.0), (55500.0, 55500.0), (55600.0, 55600.0)))
  }

  test("per-target polyfit recovers a planted surface in reference term order") {
    import spark.implicits._
    // slope = Σ c_ref(i*3+j) · (epoch-55400)^i · log10flux^j
    val cRef = Array(0.2, -0.1, 0.05, 0.01, -0.02, 0.0, 1e-4, 0.0, -1e-5)
    val rows = for {
      e <- Seq(55100.0, 55400.0, 55700.0)
      f <- Seq(500.0, 2000.0, 8000.0, 20000.0)
    } yield {
      val x = e - 55400.0
      val y = math.log10(f)
      val z = (for (i <- 0 until 3; j <- 0 until 3)
        yield cRef(i * 3 + j) * math.pow(x, i) * math.pow(y, j)).sum
      ("t", f, e, z)
    }
    val df = rows.toDF("targname", "binflux", "epoch", "slope")
    val got = CteAnalytics.polyfitByTarget(df).collect()(0)
    (0 until 9).foreach { k =>
      assert(math.abs(got.getAs[Double](s"c$k") - cRef(k)) < 1e-6,
        s"c$k: ${got.getAs[Double](s"c$k")} vs ${cRef(k)}")
    }
  }

  test("coefficient history: one cumulative fit per epoch, latest == current fit") {
    import spark.implicits._
    val cRef = Array(0.2, -0.1, 0.05, 0.01, -0.02, 0.0, 1e-4, 0.0, -1e-5)
    val epochs = Seq(55100.0, 55400.0, 55700.0)
    val rows = for {
      e <- epochs
      f <- Seq(500.0, 2000.0, 8000.0, 20000.0)
    } yield {
      val x = e - 55400.0
      val y = math.log10(f)
      val z = (for (i <- 0 until 3; j <- 0 until 3)
        yield cRef(i * 3 + j) * math.pow(x, i) * math.pow(y, j)).sum
      ("t", f, e, z)
    }
    val df = rows.toDF("targname", "binflux", "epoch", "slope")
    val hist = CteAnalytics.polyfitHistory(df)
      .orderBy("as_of_epoch").collect()
    // one row per combined epoch, sorted — the reference's sorted
    // *_mjd<epoch>_coeffs.txt glob (plot_model_on_reality.py:212-242).
    assert(hist.map(_.getAs[Double]("as_of_epoch")).toSeq == epochs)
    // latest-epoch selection == the current single fit
    // (calculate_slopes(use_latest_coeffs=True) reads the last file).
    val latest = hist.last
    val current = CteAnalytics.polyfitByTarget(df).collect()(0)
    (0 until 9).foreach { k =>
      assert(math.abs(latest.getAs[Double](s"c$k") -
        current.getAs[Double](s"c$k")) < 1e-9, s"c$k")
    }
    // each as-of row is the fit over rows at or before that epoch:
    // the middle row must match a direct fit of the first two epochs.
    val upTo2 = CteAnalytics.polyfitByTarget(
      df.filter(col("epoch") <= 55400.0)).collect()(0)
    (0 until 9).foreach { k =>
      assert(math.abs(hist(1).getAs[Double](s"c$k") -
        upTo2.getAs[Double](s"c$k")) < 1e-9, s"c$k")
    }
    // the one-epoch head is the reference's degenerate single-epoch fit
    // (rank 3): it still reproduces the planted values at that epoch.
    val headRow = hist.head
    Seq(500.0, 2000.0, 8000.0, 20000.0).foreach { f =>
      val y = math.log10(f); val x = 55100.0 - 55400.0
      val want = (for (i <- 0 until 3; j <- 0 until 3)
        yield cRef(i * 3 + j) * math.pow(x, i) * math.pow(y, j)).sum
      val c = (0 until 9).map(k => headRow.getAs[Double](s"c$k")).toArray
      val gotV = graft.functions.PolyFit2D.eval(c, y, x)
      assert(math.abs(gotV - want) < 1e-6, s"eval at flux $f")
    }
  }

  test("model evaluation matches the fit at sample points") {
    val c = (0 until 9).map(k => lit(k * 0.1 + 0.05))
    import spark.implicits._
    val df = Seq((3.0, -300.0), (3.5, 0.0)).toDF("lf", "eo")
      .withColumn("v", CteAnalytics.modelEval(c, col("lf"), col("eo")))
    val got = df.collect().map(_.getDouble(2))
    val want = Seq((3.0, -300.0), (3.5, 0.0)).map { case (lf, eo) =>
      (for (i <- 0 until 3; j <- 0 until 3)
        yield (i * 3 + j) * 0.1 + 0.05).zipWithIndex.map { case (cv, k) =>
        cv * math.pow(eo, k / 3) * math.pow(lf, k % 3)
      }.sum
    }
    got.zip(want).foreach { case (g, w) => assert(math.abs(g - w) < 1e-9) }
  }

  test("j5 spatial join: stars inside the footprint quad") {
    val in = CteAnalytics.starsInFootprint(ms, fi, CteFixtures.T)
      .filter(col("imagename") === "iaaa01a1q")
      .orderBy("master_id").collect()
    // quad [0.15,0.55]² contains stars with ra=dec ∈ {0.2,0.3,0.4,0.5}.
    assert(in.map(_.getAs[Int]("master_id")).toSeq == Seq(2, 3, 4, 5))
  }
}
