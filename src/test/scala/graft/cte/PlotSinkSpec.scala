package graft.cte

import java.io.File
import java.nio.file.Files
import javax.imageio.ImageIO

import graft.{Metered, SparkSpecBase}
import org.apache.spark.sql.functions.col

/** The S7 PNG sink: JDK-only rasterization must produce decodable,
  * deterministic figures, and the pipeline hook must emit them under the
  * reference's `<stem>_slopes.png` naming. */
class PlotSinkSpec extends SparkSpecBase {

  test("scatterPng renders a decodable, deterministic figure") {
    val dir = Files.createTempDirectory("graft_plot")
    val s = Seq(
      PlotSink.Series("500-2000 e-",
        Array(100.0, 500.0, 900.0, 1300.0), Array(1.00, 0.99, 0.98, 0.97),
        fit = Some((1.0025, -2.5e-5))),
      PlotSink.Series("2000-8000 e-",
        Array(200.0, 700.0, 1200.0), Array(0.995, 0.993, 0.991),
        fit = Some((0.9966, -3.3e-6))),
      PlotSink.Series("empty-bin", Array.empty, Array.empty))
    val f1 = dir.resolve("fig1.png").toFile
    PlotSink.scatterPng(f1, "ngc104", "Y-position_chip2 [pxl]",
      "Flux_chip1 / Flux_chip2", s)
    assert(f1.length > 1000, s"suspiciously small PNG: ${f1.length} bytes")
    val img = ImageIO.read(f1)
    assert(img.getWidth == 800 && img.getHeight == 600)
    // the canvas must actually carry marks: axes, points, lines, legend
    val nonWhite = (for (x <- 0 until img.getWidth; y <- 0 until img.getHeight
      if (img.getRGB(x, y) & 0xffffff) != 0xffffff) yield 1).size
    assert(nonWhite > 2000, s"only $nonWhite painted pixels")

    // byte-level determinism — the same reproducibility contract the
    // text artifacts have
    val f2 = dir.resolve("fig2.png").toFile
    PlotSink.scatterPng(f2, "ngc104", "Y-position_chip2 [pxl]",
      "Flux_chip1 / Flux_chip2", s)
    assert(java.util.Arrays.equals(
      Files.readAllBytes(f1.toPath), Files.readAllBytes(f2.toPath)),
      "two renders of the same figure differ byte-wise")
  }

  /** An analyzed and published fixture: the pipeline and its artifact
    * directory. */
  private lazy val published: (CtePipeline, String) = {
    val root = Files.createTempDirectory("graft_plotpipe").toString
    val pipe = new CtePipeline(spark, s"$root/warehouse")
    pipe.ingestFileinfo(CteFixtures.fileinfo(spark))
    pipe.ingestPhot(CteFixtures.photLong(spark))
    pipe.computeSlopes(CteFixtures.T)
    pipe.publish(CteFixtures.T, s"$root/out")
    (pipe, s"$root/out")
  }

  private def pngsIn(dir: String): Seq[File] =
    Option(new File(dir).listFiles()).toSeq.flatten
      .filter(_.getName.endsWith(".png"))

  test("publishPlots emits one reference-named PNG per populated pair/aperture") {
    val (pipe, out) = published
    pipe.publishPlots(CteFixtures.T, out)
    val pngs = new File(out).listFiles()
      .filter(_.getName.endsWith("_slopes.png"))
    assert(pngs.nonEmpty, "no slope PNGs were rendered")
    // naming follows the reference scheme: <im1>_<im2>_r<ap>_slopes.png
    assert(pngs.forall(_.getName.matches(".+_.+_r\\d+_slopes\\.png")),
      pngs.map(_.getName).mkString(", "))
    pngs.foreach { f =>
      val img = ImageIO.read(f)
      assert(img != null && img.getWidth == 800 && img.getHeight == 600,
        s"${f.getName} did not decode")
    }

    // the monitor's primary figure: slope vs time per aperture
    pipe.publishCteVsTimePlot(CteFixtures.T, out)
    val timePngs = new File(out).listFiles()
      .filter(_.getName.matches(s"${CteFixtures.T}_cteVStime_r\\d+\\.png"))
    assert(timePngs.nonEmpty, "no cteVStime PNGs were rendered")
    timePngs.foreach(f => assert(ImageIO.read(f) != null))
  }

  test("the figures need the published artifacts and write no PNG without them") {
    val (pipe, out) = published
    val bare = Files.createTempDirectory("graft_plot_unpublished").toString
    intercept[CtePipeline.UnpublishedArtifact](
      pipe.publishPlots(CteFixtures.T, bare))
    intercept[CtePipeline.UnpublishedArtifact](
      pipe.publishCteVsTimePlot(CteFixtures.T, bare))
    assert(pngsIn(bare).isEmpty)
    // the points alone are not enough: the slopes artifact is read first
    val partial = Files.createTempDirectory("graft_plot_partial")
    val ratios = s"${CteFixtures.T}_fluxratios"
    val copy = Files.createDirectory(partial.resolve(ratios))
    new File(s"$out/$ratios").listFiles().foreach(f =>
      Files.copy(f.toPath, copy.resolve(f.getName)))
    val e = intercept[CtePipeline.UnpublishedArtifact](
      pipe.publishPlots(CteFixtures.T, partial.toString))
    assert(e.getMessage.contains("publish first"))
    assert(pngsIn(partial.toString).isEmpty)
  }

  test("the figures run no Spark job") {
    val (pipe, out) = published
    val metered = Metered.of(spark) {
      pipe.publishPlots(CteFixtures.T, out)
      pipe.publishCteVsTimePlot(CteFixtures.T, out)
    }
    assert(metered.jobs.isEmpty, metered.jobs)
  }

  test("each slope PNG is the figure of the clipped ratios and stored slopes") {
    val (pipe, out) = published
    val T = CteFixtures.T
    pipe.publishPlots(T, out)
    // the reference figures, from the analysis itself: the clipped points
    // in the artifact's key order, each bin's slope from `results`
    val pts = CteAnalytics
      .clippedRatios(pipe.table("phot"), pipe.table("fileinfo"), T)
      .orderBy("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi",
        "master_id")
      .select("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi",
        "ypos", "fluxratio_sigclpd")
      .collect().toSeq
    val slopes = pipe.table("results").filter(col("targname") === T)
      .select("imagename_1", "imagename_2", "aperture", "bin_lo", "bin_hi",
        "slope")
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4)) -> r.getDouble(5))
      .toMap
    val ref = Files.createTempDirectory("graft_plot_ref").toFile
    val figures = pts.groupBy(r => (r.getString(0), r.getString(1), r.getInt(2)))
    assert(figures.nonEmpty)
    for (((i1, i2, ap), rows) <- figures) {
      val series = rows.groupBy(r => (r.getInt(3), r.getInt(4))).toSeq
        .sortBy(_._1).map { case ((lo, hi), rs) =>
          val xs = rs.map(_.getDouble(5)).toArray
          val ys = rs.map(_.getDouble(6)).toArray
          val fit = slopes.get((i1, i2, ap, lo, hi)).map(m =>
            (ys.sum / ys.length - m * xs.sum / xs.length, m))
          PlotSink.Series(s"$lo-$hi e-", xs, ys, fit)
        }
      val name = Artifacts.slopePlotName(i1, i2, ap)
      PlotSink.scatterPng(new File(ref, name), T, "Y-position_chip2 [pxl]",
        "Flux_chip1 / Flux_chip2", series)
      assert(java.util.Arrays.equals(
        Files.readAllBytes(new File(ref, name).toPath),
        Files.readAllBytes(new File(out, name).toPath)), name)
    }
    assert(pngsIn(out).count(_.getName.endsWith("_slopes.png")) == figures.size)
  }
}
