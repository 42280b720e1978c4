package perfbench

import java.io.File
import java.nio.file.{Files => JFiles}
import java.util.SplittableRandom

import scala.collection.mutable

import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.cte.{CteIngest, CtePipeline}
import graft.sources.TsvTables

/** Reference-dialect inputs for the CTE monitor: per target a `.cat`
  * master catalog, and per visit a header TSV plus one DAOphot `.mag` and
  * one `.coo` file for each chip of a chip-1/chip-2 pair. Chip 1 carries
  * a planted CTE loss: its clean flux is `base * (1 - k(epoch) * y)`
  * with y the chip-2 y-position, so every populated flux bin of a pair
  * has OLS slope exactly -k(epoch).
  *
  * Stars are stratified: [[starsPerBand]] stars sit well inside each of
  * the six elementary flux bands the eight overlapping bins are built
  * from, at every aperture and on both chips, so every bin of every pair
  * holds the same number of stars whatever the seed (the seed moves
  * fluxes within a band and positions). This keeps the work per visit
  * seed-independent. It also keeps every bin at >= 3 stars: a bin left
  * with 1 or 2 stars makes `computeSlopes` throw DIVIDE_BY_ZERO under
  * Spark's default ANSI mode (README.md, "Known defect"). */
object CteInputs {

  val targets = Seq("NGC-104", "NGC-6791", "NGC-1851")
  /** elementary flux bands (e-): every fluxBins bin is a union of them */
  val bands = Seq((250.0, 500.0), (500.0, 1000.0), (1000.0, 2000.0),
    (2000.0, 4000.0), (4000.0, 8000.0), (8000.0, 32000.0))
  val starsPerBand = 8
  val stars: Int = bands.size * starsPerBand
  val apertures = Seq(3, 5, 10)
  val msky = Seq(2.5, 3.1)

  case class Image(name: String, chip: Int, mag: File, coo: File)
  case class Visit(targname: String, index: Int, headers: File,
                   images: Seq[Image], k: Double)

  def targname(raw: String): String = "ngc" + raw.stripPrefix("NGC-")

  /** CTE loss per pixel at an MJD: grows 25% a year from 2e-5. */
  def k(mjd: Double): Double = 2e-5 * (1.0 + 0.25 * (mjd - 55000.0) / 365.25)

  val headerSchema: StructType = StructType(
    Seq("imagename" -> StringType, "chinject" -> StringType,
      "flashsta" -> StringType, "flashlvl" -> DoubleType,
      "targname" -> StringType, "proposid" -> IntegerType,
      "expstart" -> DoubleType, "filter" -> StringType,
      "exptime" -> DoubleType, "naxis1" -> IntegerType,
      "naxis2" -> IntegerType, "mdrizsky" -> DoubleType,
      "postarg1" -> DoubleType, "postarg2" -> DoubleType,
      "flashdur" -> DoubleType, "flashcur" -> StringType,
      "shutrpos" -> StringType, "crval1" -> DoubleType,
      "crval2" -> DoubleType, "crpix1" -> DoubleType, "crpix2" -> DoubleType,
      "cd1_1" -> DoubleType, "cd1_2" -> DoubleType, "cd2_1" -> DoubleType,
      "cd2_2" -> DoubleType).map { case (n, t) => StructField(n, t) })

  private def write(f: File, s: String): Unit = {
    f.getParentFile.mkdirs()
    JFiles.writeString(f.toPath, s)
  }

  private val magHeader =
    """#K IRAF       = NOAO/IRAFV2.16          version    %-23s
      |#N IMAGE XINIT YINIT ID COORDS LID \
      |#U imagename pixels pixels ## filename ## \
      |#F %-23s %-10.3f %-10.3f %-6d %-23s %-6d
      |#
      |#N XCENTER YCENTER XSHIFT YSHIFT XERR YERR CIER CERROR \
      |#U pixels pixels pixels pixels pixels pixels ## cerrors \
      |#F %-14.3f %-11.3f %-8.3f %-8.3f %-8.3f %-15.3f %-5d %-9s
      |#
      |#N MSKY STDEV SSKEW NSKY NSREJ SIER SERROR \
      |#U counts counts counts npix npix ## serrors \
      |#F %-18.7g %-15.7g %-15.7g %-7d %-9d %-5d %-9s
      |#
      |#N RAPERT SUM AREA FLUX MAG MERR PIER PERROR \
      |#U scale counts pixels counts mag mag ## perrors \
      |#F %-12.2f %-14.7g %-11.7g %-14.7g %-7.3f %-6.3f %-5d %-9s
      |#
      |""".stripMargin

  /** Write the master catalog of `target` and `visits` visits under
    * `dir`; returns the master catalog file and the visits. */
  def write(dir: File, target: String, visits: Int, seed: Long)
      : (File, Seq[Visit]) = {
    val r = new SplittableRandom(seed * 7919 + target.hashCode)
    val tn = targname(target)
    val ra0 = 5.0 + r.nextDouble() * 300.0
    val dec0 = -70.0 + r.nextDouble() * 140.0
    // per star: base flux 1.15x to 1.6x its band's lower edge, so with
    // x1.04 across apertures and at most 9% chip-1 loss it stays strictly
    // inside the band; then its master position
    val base = Array.tabulate(stars) { s =>
      bands(s / starsPerBand)._1 * (1.15 + 0.45 * r.nextDouble())
    }
    val xy = Array.fill(stars)((50.0 + r.nextDouble() * 4000.0,
      50.0 + r.nextDouble() * 1950.0))
    val cat = new File(dir, s"${tn}_master.cat")
    write(cat, "# id x y ra dec\n" + (0 until stars).map { s =>
      s"${s + 1}\t${xy(s)._1}\t${xy(s)._2}\t${ra0 + xy(s)._1 * 1e-5}\t" +
        s"${dec0 + xy(s)._2 * 1e-5}"
    }.mkString("\n") + "\n")
    val offset = targets.indexOf(target) * 11
    val vs = (0 until visits).map { v =>
      val expstart = 55000.0 + offset + 150.0 * v + 0.31
      val kv = k(math.floor(expstart))
      val vdir = new File(dir, f"$tn/visit$v%02d")
      val names = Seq(1, 2).map(c => f"i$tn%s$v%02da${c}q_flt")
      // chip-2 y-position of each star in this visit (small dither)
      val dy = r.nextDouble() * 20.0
      val y2 = xy.map(_._2 + dy)
      val images = Seq(1, 2).map { chip =>
        val name = names(chip - 1)
        val sky = msky(chip - 1)
        val order = shuffled(r, stars) // find_id n+1 <-> star order(n)
        val mag = new StringBuilder(magHeader)
        order.zipWithIndex.foreach { case (s, n) =>
          val y = if (chip == 2) y2(s) else y2(s) + 2.0
          mag ++= f"$name.fits  ${xy(s)._1}%.3f  $y%.3f  ${n + 1}  $name.coo  ${n + 1}  \\\n"
          mag ++= s"  ${xy(s)._1}  $y  0.0  0.0  0.010  0.010  0  NoError  \\\n"
          mag ++= s"  $sky  1.1  0.5  100  2  0  NoError  \\\n"
          mag ++= apertures.zipWithIndex.map { case (ap, i) =>
            val area = math.Pi * ap * ap
            val b = base(s) * (1.0 + 0.02 * i)
            val clean = if (chip == 1) b * (1.0 - kv * y2(s)) else b
            val flux = clean + area * sky
            s"  ${ap.toDouble}  $flux  $area  $flux  20.0  0.010  0  NoError"
          }.mkString("  \\\n") + "\n"
        }
        val magF = new File(vdir, s"$name.mag")
        write(magF, mag.toString)
        val cooF = new File(vdir, s"$name.coo")
        write(cooF, "master_id\textr_ra\textr_dec\n" + order.map { s =>
          s"${s + 1}\t${ra0 + xy(s)._1 * 1e-5}\t${dec0 + xy(s)._2 * 1e-5}"
        }.mkString("\n") + "\n")
        Image(name, chip, magF, cooF)
      }
      val headers = new File(vdir, "headers.tsv")
      write(headers, headerSchema.fieldNames.mkString("\t") + "\n" +
        images.map { im =>
          Seq(s"/data/$tn/${im.name}.fits", "NONE", "NOT PERFORMED", "0.0",
            target, "11924", s"$expstart", "F502N", "348.6", "4096", "2051",
            "3.4", "0.0", if (im.chip == 1) "82.1" else "0.0", "0.0", "OFF",
            "A", s"$ra0", s"$dec0", "2048.0", "1026.0", "-1.1e-5", "0.0",
            "0.0", "1.1e-5").mkString("\t")
        }.mkString("\n") + "\n")
      Visit(tn, v, headers, images, kv)
    }
    (cat, vs)
  }

  private def shuffled(r: SplittableRandom, n: Int): Array[Int] = {
    val a = Array.range(0, n)
    (n - 1 to 1 by -1).foreach { i =>
      val j = r.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
    }
    a
  }
}

/** `cte_monitor`: the paper's ingest -> analyze -> publish lifecycle as a
  * closed loop. One operator processes the first visit of a target (the
  * seed picks which) as it lands, then the same visit is delivered a
  * second time: its ingest calls run again, and must change nothing. An
  * op is one CtePipeline call. */
object CteMonitor {

  private val tables = Seq("fileinfo", "phot", "results")

  def run(r: Run): Unit = {
    // ---- set-up: session, inputs and master catalog of the target.
    // No separate warm-up: the first delivery runs cold (README.md,
    // "Warm-up").
    val t0 = System.nanoTime()
    r.startSession(new File(r.work, "tmp"))
    val t1 = System.nanoTime()
    val target = CteInputs.targets(
      Math.floorMod(r.seed, CteInputs.targets.size.toLong).toInt)
    val (cat, Seq(v)) = CteInputs.write(new File(r.work, "in"), target, 1,
      r.seed)
    val t2 = System.nanoTime()
    val spark = r.spark
    val warehouse = new File(r.work, "warehouse")
    val pipe = new CtePipeline(spark, warehouse.getPath)
    pipe.ingestMasterCat(cat.getPath, v.targname)
    val master = (System.nanoTime() - t2) / 1e9
    r.put("cte.ingest_master_s", master)

    // ---- timed phase
    r.drain(); r.meter.reset()
    Metrics.putSetup(r, (t1 - t0) / 1e9, (t2 - t1) / 1e9, master, 0.0)
    val out = new File(r.work, "out")
    val io = new IoLog(warehouse, r.traced)
    val lat = mutable.ArrayBuffer[Double]()
    val fresh = mutable.ArrayBuffer[Double]()
    val callS = mutable.Map[String, Double]().withDefaultValue(0.0)
    var wall = 0.0
    var deliveries = 0
    Seq(1, 2).foreach { delivery =>
      val ops = deliver(r, pipe, out, v, io, delivery == 2)
      ops.foreach { case (call, s) =>
        lat += s
        callS(if (delivery == 2) "reingest" else call) += s
      }
      if (delivery == 1) fresh += ops.map(_._2).sum
      wall += ops.map(_._2).sum
      deliveries += 1
      r.unmetered(check(r, pipe, out, v, delivery))
    }
    r.unmetered {
      val coeffs = spark.read.option("sep", "\t").option("header", "true")
        .csv(new File(out, s"${v.targname}_coeffs").getPath)
      if (coeffs.columns.count(_.matches("c[0-9]")) != 9 ||
          coeffs.count() != 1)
        r.fail(s"${v.targname}: coefficient table is not 9 coefficients")
    }
    r.drain()
    val engine = r.meter.total
    r.put("wall_s", wall)
    Metrics.putOps(r, lat.toSeq)
    r.put("freshness_p50_s", Stats.median(fresh.toSeq))
    r.put("retained_heap_mb", r.retainedHeapMb())
    val inputBytes = (v.headers.length() +
      v.images.map(i => i.mag.length() + i.coo.length()).sum).toDouble
    val catBytes = cat.length()
    r.put("write_amp", engine.bytesWritten / inputBytes)
    r.put("space_amp",
      (Files.bytes(warehouse) + Files.bytes(out)) / (inputBytes + catBytes))

    if (r.traced) {
      r.put("cte.ingest_fileinfo_s", callS("ingestFileinfo"))
      r.put("cte.ingest_phot_s", callS("ingestIrafPhot"))
      r.put("cte.reingest_s", callS("reingest"))
      r.put("cte.slopes_s", callS("computeSlopes"))
      r.put("cte.publish_s", callS("publish"))
      r.put("cte.plots_s", callS("publishPlots") +
        callS("publishCteVsTimePlot"))
      r.put("cte.jobs_per_cycle", engine.jobs.toDouble / deliveries)
      r.put("cte.slope_rows", pipe.table("results").count())
      r.put("sources.upsert_appends", io.appends)
      r.put("sources.upsert_rewrites", io.rewrites)
      r.put("sources.ingest_written_mb", io.ingestBytes / 1048576.0)
      r.put("sources.reingest_written_mb", io.reingestBytes / 1048576.0)
      r.put("sources.files_written", io.filesWritten)
      r.put("sources.live_files", Files.dataFiles(warehouse).size)
      r.put("graft.peak_rss_mb", r.peakRssMb())
      Metrics.putEngine(r, engine, wall)
      // parse-only pass over every delivered .mag file: the DAOphot
      // reader alone, to a noop sink (after the timed phase, so it does
      // not disturb the pipeline's numbers)
      val mags = v.images.map(_.mag.getPath).mkString(",")
      val t0 = System.nanoTime()
      r.tracer.span("readDaophotMag", "sources") {
        TsvTables.readDaophotMag(spark, mags)
          .write.format("noop").mode("overwrite").save()
      }
      val parse = (System.nanoTime() - t0) / 1e9
      val n = TsvTables.readDaophotMag(spark, mags).count()
      r.put("sources.mag_parse_s", parse)
      r.put("sources.mag_rows_per_s", n / parse)
    }
  }

  /** Run the CtePipeline calls of one visit delivery: ingest, analyze
    * and publish on the first delivery (7 calls), the 3 ingest calls on
    * a redelivery. Returns each call's name and seconds. A call that
    * throws is a failed op. */
  private def deliver(r: Run, pipe: CtePipeline, out: File,
                      v: CteInputs.Visit, io: IoLog,
                      redelivery: Boolean): Seq[(String, Double)] = {
    val spark = r.spark
    val tn = v.targname
    val calls: Seq[(String, String, () => Unit)] = Seq(
      ("ingestFileinfo", "fileinfo", () => pipe.ingestFileinfo(
        CteIngest.fileinfoRows(TsvTables.readNamed(spark, v.headers.getPath,
          CteInputs.headerSchema), CteIngest.IngestParams())))) ++
      v.images.map(im => ("ingestIrafPhot", "phot", () => pipe.ingestIrafPhot(
        im.mag.getPath, im.coo.getPath, tn, im.name))) ++
      (if (redelivery) Seq.empty else Seq(
        ("computeSlopes", "results", () => { pipe.computeSlopes(tn); () }),
        ("publish", "", () => pipe.publish(tn, out.getPath)),
        ("publishPlots", "", () => pipe.publishPlots(tn, out.getPath)),
        ("publishCteVsTimePlot", "", () =>
          pipe.publishCteVsTimePlot(tn, out.getPath))))
    calls.flatMap { case (name, table, call) =>
      r.attempted += 1
      val before = io.snapshot(table)
      val t0 = System.nanoTime()
      val ok = try {
        r.tracer.span(s"$tn.v${v.index}.$name", "cte")(call())
        true
      } catch { case e: Throwable =>
        r.fail(s"$tn visit ${v.index} $name threw ${e.getMessage}")
        false
      }
      val s = (System.nanoTime() - t0) / 1e9
      System.err.println(f"[perfbench] op $name $s%.2f s")
      io.record(table, before, redelivery)
      if (ok) Some(name -> s) else None
    }
  }

  private val rowCounts = mutable.Map[(String, Int), Seq[Long]]()

  /** Output checks of one delivery (not timed): every populated flux
    * bin of the visit's pair recovers the planted slope -k, and a
    * redelivery leaves every table's row count unchanged. (Each
    * target's coefficient table is checked once, after the timed
    * phase.) */
  private def check(r: Run, pipe: CtePipeline, out: File,
                    v: CteInputs.Visit, delivery: Int): Unit = {
    val tn = v.targname
    val img1 = v.images.find(_.chip == 1).get.name
    val bins = pipe.table("results")
      .filter(col("targname") === tn && col("imagename_1") === img1 &&
        col("numpoints") >= 3)
      .select("aperture", "bin_lo", "slope").collect()
    val off = bins.filter(b =>
      math.abs(b.getAs[Double]("slope") + v.k) > 1e-6 * v.k)
    if (bins.isEmpty || off.nonEmpty)
      r.fail(s"$tn visit ${v.index}: ${off.length} of ${bins.length} " +
        s"populated bins miss the planted slope ${-v.k}")
    val byTable = tables.map(t => pipe.table(t).select(lit(t).as("t")))
      .reduce(_ union _).groupBy("t").count().collect()
      .map(row => row.getString(0) -> row.getLong(1)).toMap
      .withDefaultValue(0L)
    val counts = tables.map(byTable)
    if (delivery == 1) rowCounts((tn, v.index)) = counts
    else if (rowCounts((tn, v.index)) != counts)
      r.fail(s"$tn visit ${v.index}: redelivery changed row counts " +
        s"${rowCounts((tn, v.index))} -> $counts")
  }
}

/** Warehouse writes seen as directory diffs around each upsert call:
  * which calls appended files, which rewrote existing ones, and the
  * bytes of the new files (first deliveries and redeliveries apart). */
final class IoLog(warehouse: File, enabled: Boolean) {
  var appends = 0; var rewrites = 0; var filesWritten = 0
  var ingestBytes = 0L; var reingestBytes = 0L

  def snapshot(table: String): Map[String, Long] =
    if (!enabled || table.isEmpty) Map.empty
    else Files.dataFiles(new File(warehouse, table))

  def record(table: String, before: Map[String, Long],
             redelivery: Boolean): Unit =
    if (enabled && table.nonEmpty) {
      val after = snapshot(table)
      val added = after.keySet -- before.keySet
      val bytes = added.toSeq.map(after).sum
      filesWritten += added.size
      if (before.keySet.exists(!after.contains(_))) rewrites += 1
      else if (added.nonEmpty) appends += 1
      if (redelivery) reingestBytes += bytes else ingestBytes += bytes
    }
}
