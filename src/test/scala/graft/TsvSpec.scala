package graft

import graft.sources.TsvTables
import org.apache.spark.sql.types._
import java.nio.file.Files

class TsvSpec extends SparkSpecBase {

  test("positional TSV with '#' comments reads like the reference's .cat files") {
    val dir = Files.createTempDirectory("graft_tsv")
    val f = dir.resolve("master.cat")
    Files.writeString(f,
      "# master catalog\n# id x y ra dec\n" +
      "1\t10.5\t20.5\t150.1\t-30.2\n" +
      "2\t11.5\t21.5\t150.2\t-30.3\n")
    val schema = StructType(Seq(
      StructField("master_id", IntegerType), StructField("xpix", DoubleType),
      StructField("ypix", DoubleType), StructField("ra", DoubleType),
      StructField("dec", DoubleType)))
    val df = TsvTables.readPositional(spark, f.toString, schema)
    val rows = df.orderBy("master_id").collect()
    assert(rows.length == 2)
    assert(rows(0).getInt(0) == 1 && rows(0).getDouble(1) == 10.5)
    assert(rows(1).getDouble(4) == -30.3)
  }

  test("headered TSV writes and reads back losslessly") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tsv2").toString + "/slopes"
    val df = Seq(("p1", 0.0012, 57), ("p2", -0.0034, 43))
      .toDF("pair", "slope", "numpoints")
    TsvTables.write(df, dir)
    val schema = StructType(Seq(
      StructField("pair", StringType), StructField("slope", DoubleType),
      StructField("numpoints", IntegerType)))
    val back = TsvTables.readNamed(spark, dir, schema).orderBy("pair").collect()
    assert(back.length == 2)
    assert(back(0).getString(0) == "p1" && back(0).getDouble(1) == 0.0012)
    assert(back(1).getInt(2) == 43)
  }

  test("write sorts a multi-partition input into one part file in key order") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft_tsv_sorted").toString + "/t"
    // 60 rows in reverse key order, spread over 4 partitions
    val df = spark.sparkContext
      .parallelize((0 until 60).reverse.map(i => (i / 10, i % 10, s"r$i")), 4)
      .toDF("a", "b", "name")
    assert(df.rdd.getNumPartitions == 4)
    TsvTables.write(df, dir, "a", "b")
    val parts = new java.io.File(dir).listFiles()
      .filter(_.getName.startsWith("part-"))
    assert(parts.length == 1)
    val lines = Files.readAllLines(parts.head.toPath)
    assert(lines.get(0) == "a\tb\tname")
    assert(lines.subList(1, lines.size).toArray.toSeq ==
      (0 until 60).map(i => s"${i / 10}\t${i % 10}\tr$i"))
  }

  /** A 2-star, 2-aperture IRAF DAOphot .mag fixture in the public phot
    * output layout: #K/#N/#U/#F header blocks, records spanning
    * continuation lines, the RAPERT block repeated per aperture, INDEF
    * sentinels. */
  private val daophotFixture =
    """#K IRAF = NOAO/IRAFV2.16 version %-23s
      |#K IMAGE = fake_flt.fits exposure %-23s
      |#
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
      |fake_flt.fits  100.000  200.000  1  fake.coo  1  \
      |  100.123  200.456  0.123  0.456  0.010  0.010  0  NoError  \
      |  2.5  1.1  0.5  100  2  0  NoError  \
      |  2.00  1234.5  12.566  1200.0  21.10  0.010  0  NoError  \
      |  3.00  2345.6  28.274  2250.0  20.50  0.010  0  NoError
      |fake_flt.fits  300.000  400.000  2  fake.coo  2  \
      |  300.5  400.5  0.1  0.1  0.010  0.010  0  NoError  \
      |  4.0  1.2  0.6  100  2  0  NoError  \
      |  2.00  111.0  12.566  INDEF  INDEF  INDEF  301  OffImage  \
      |  3.00  222.0  28.274  200.0  22.00  0.020  0  NoError
      |""".stripMargin

  test("DAOphot .mag dialect: multiline records, aperture repeats, A11 derivations") {
    val dir = Files.createTempDirectory("graft_daophot")
    Files.writeString(dir.resolve("fake_flt.mag"), daophotFixture)
    val df = TsvTables.readDaophotMag(spark, dir.toString + "/*.mag")
    val rows = df.orderBy("find_id", "aperture").collect()
    assert(rows.length == 4) // 2 stars × 2 apertures, long format
    val r0 = rows(0)
    assert(r0.getAs[Long]("find_id") == 1L)
    assert(r0.getAs[Double]("xpix") == 100.123)
    assert(r0.getAs[Double]("ypix") == 200.456)
    assert(r0.getAs[Int]("aperture") == 2)
    assert(r0.getAs[Double]("flux") == 1200.0)
    assert(r0.getAs[Double]("mnbkgrd") == 2.5)       // MSKY
    assert(math.abs(r0.getAs[Double]("totbkgrd") - 12.566 * 2.5) < 1e-9) // AREA×MSKY
    val r1 = rows(1)
    assert(r1.getAs[Int]("aperture") == 3)
    assert(math.abs(r1.getAs[Double]("totbkgrd") - 28.274 * 2.5) < 1e-9)
    // INDEF flux → NaN, geometry still parsed
    val r2 = rows(2)
    assert(r2.getAs[Long]("find_id") == 2L)
    assert(r2.getAs[Double]("flux").isNaN)
    assert(r2.getAs[Double]("xpix") == 300.5)
  }

  test("IDL .res dialect: positional columns + filename-encoded flux bin") {
    val dir = Files.createTempDirectory("graft_res")
    Files.writeString(dir.resolve("n104_F502N_l_r3_250_500.res"),
      "# IDL slopes\n" +
      "55106.0  x  x  x  -0.00021  0.00004\n" +
      "55466.0  x  x  x  -0.00035  0.00005\n")
    Files.writeString(dir.resolve("n104_F502N_l_r3_500_1000.res"),
      "55106.0  x  x  x  -0.00011  0.00002\n")
    val df = TsvTables.readResFiles(spark, dir.toString + "/*.res")
    val rows = df.orderBy("bin_lo", "mjd").collect()
    assert(rows.length == 3)
    assert(rows(0).getAs[Double]("mjd") == 55106.0)
    assert(rows(0).getAs[Double]("slope") == -0.00021)
    assert(rows(0).getAs[Double]("stderr") == 0.00004)
    assert(rows(0).getAs[String]("fluxbin") == "250-500")
    assert(rows(2).getAs[Int]("bin_lo") == 500 &&
           rows(2).getAs[Int]("bin_hi") == 1000)
  }

  test("IRAF ingest path: .mag + .coo align by row order into long phot") {
    val root = Files.createTempDirectory("graft_iraf").toString
    Files.writeString(java.nio.file.Paths.get(s"$root/fake_flt.mag"),
      daophotFixture)
    Files.writeString(java.nio.file.Paths.get(s"$root/fake.coo"),
      "master_id\textr_ra\textr_dec\n7\t150.1\t-30.2\n9\t150.3\t-30.4\n")
    val pipe = new graft.cte.CtePipeline(spark, s"$root/wh")
    pipe.ingestIrafPhot(s"$root/fake_flt.mag", s"$root/fake.coo",
      "ngc104", "fake_flt")
    val phot = pipe.table("phot").orderBy("find_id", "aperture").collect()
    assert(phot.length == 4)
    // star 1 ↔ first coo row (master 7), star 2 ↔ second (master 9)
    assert(phot(0).getAs[Int]("master_id") == 7)
    assert(phot(0).getAs[Double]("ra") == 150.1)
    assert(phot(2).getAs[Int]("master_id") == 9)
    assert(phot(2).getAs[Double]("dec") == -30.4)
    assert(phot(0).getAs[String]("targname") == "ngc104")
  }

  test("a second image's IRAF ingest appends one file, as a direct write would") {
    val root = Files.createTempDirectory("graft_iraf2").toString
    Files.writeString(java.nio.file.Paths.get(s"$root/fake_flt.mag"),
      daophotFixture)
    Files.writeString(java.nio.file.Paths.get(s"$root/fake.coo"),
      "master_id\textr_ra\textr_dec\n7\t150.1\t-30.2\n9\t150.3\t-30.4\n")
    val pipe = new graft.cte.CtePipeline(spark, s"$root/wh")
    // the first image creates the table, the second one appends. The
    // upsert pins the second image's rows; a cached plan would keep the
    // join's shuffle partitions that adaptive execution folds for a
    // direct write, and append one file per partition
    for (image <- Seq("fake_flt", "fake2_flt"))
      pipe.ingestIrafPhot(s"$root/fake_flt.mag", s"$root/fake.coo", "ngc104",
        image)
    assert(TableFiles.dataFiles(s"$root/wh/phot").size == 2)
    assert(pipe.table("phot").count() == 8)
  }
}
