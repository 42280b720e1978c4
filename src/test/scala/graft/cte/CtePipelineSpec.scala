package graft.cte

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.SparkSpecBase
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

/** End-to-end: ingest from reference-dialect files → warehouse upserts →
  * slope analytics → published TSV artifacts; idempotent under re-runs. */
class CtePipelineSpec extends SparkSpecBase {

  test("full pipeline: ingest -> slopes -> coefficients -> artifacts") {
    val root = Files.createTempDirectory("graft_pipe").toString
    val pipe = new CtePipeline(spark, s"$root/warehouse")

    // ingest: master from a positional .cat file
    val cat = s"$root/ngc104_master.cat"
    Files.writeString(java.nio.file.Paths.get(cat),
      "# id x y ra dec\n" +
      (1 to 10).map(i => s"$i\t50.0\t${100.0 * i}\t${0.1 * i}\t${0.1 * i}")
        .mkString("\n"))
    pipe.ingestMasterCat(cat, CteFixtures.T)
    assert(pipe.table("master").count() == 10)

    pipe.ingestFileinfo(CteFixtures.fileinfo(spark))
    pipe.ingestPhot(CteFixtures.photLong(spark))

    // analytics (counts captured eagerly — table() plans are snapshots of
    // the warehouse dir and go stale across upsert commits)
    val slopes = pipe.computeSlopes(CteFixtures.T)
    // all 8 bins emitted per populated (pair, aperture); pair B has no
    // photometry ⇒ no rows (pre-match gate); 3 bins carry data
    assert(slopes.filter(col("aperture") === 3).count() == 8)
    assert(slopes.filter(col("aperture") === 3 && col("numpoints") > 0)
      .count() == 3)
    val storedCount = pipe.table("results").count()
    assert(storedCount == slopes.count())

    // idempotence: re-running the same visit must not duplicate
    pipe.computeSlopes(CteFixtures.T)
    assert(pipe.table("results").count() == storedCount)

    // ingest idempotence too
    pipe.ingestPhot(CteFixtures.photLong(spark))
    assert(pipe.table("phot").count() ==
      CteFixtures.photLong(spark).count())

    // publish artifacts
    pipe.publish(CteFixtures.T, s"$root/out")
    val slopesTsv = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$root/out/${CteFixtures.T}_slopes")
    assert(slopesTsv.count() == pipe.table("results").count())
    // the file's rows come in full-key order: the overlapping bins that
    // share a lower edge (500-1000/500-2000) are ordered by bin_hi too
    val part = new java.io.File(s"$root/out/${CteFixtures.T}_slopes")
      .listFiles().filter(_.getName.startsWith("part-")).head
    val lines = Files.readAllLines(part.toPath).toArray(Array.empty[String])
    val hdr = lines.head.split("\t")
    def at(c: String) = hdr.indexOf(c)
    val keys = lines.tail.map(_.split("\t", -1)).map { f =>
      (f(at("imagename_1")), f(at("imagename_2")), f(at("aperture")).toDouble,
        f(at("bin_lo")).toDouble, f(at("bin_hi")).toDouble)
    }.toSeq
    assert(keys.nonEmpty && keys == keys.sorted)
    val first500 = keys.filter(_._4 == 500.0).take(2).map(_._5)
    assert(first500 == Seq(1000.0, 2000.0))
    val coeffs = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$root/out/${CteFixtures.T}_coeffs")
    assert(coeffs.columns.count(_.startsWith("c")) == 9)
    assert(coeffs.count() == 1)

    // every artifact holds exactly the rows CteAnalytics gives for it
    val T = CteFixtures.T
    val results = pipe.table("results").filter(col("targname") === T)
    val fileinfo = pipe.table("fileinfo")
    val cohorts = CteAnalytics.epochCohorts(fileinfo, T)
    val rows = pipe.slopeRows(results, fileinfo, cohorts, T)
    val fit = CteAnalytics.polyfitByTarget(rows)
    val latest = cohorts.collect().map(_.getAs[Double]("epoch")).max
    for ((artifact, expected) <- Seq(
        "slopes" -> results.select("imagename_1", "imagename_2", "aperture",
          "bin_lo", "bin_hi", "slope", "slopestdev", "numpoints",
          "slopefile", "slopefile_path", "targname"),
        "coeffs" -> fit,
        "fitvals" -> CteAnalytics.fitvalsTable(fit, latest),
        "coeffs_history" -> CteAnalytics.polyfitHistory(rows),
        "fluxratios" ->
          CteAnalytics.clippedRatios(pipe.table("phot"), fileinfo, T),
        "cteVStime" -> CteAnalytics.cteVsTime(results, fileinfo),
        "cteVSflashlvl" ->
          CteAnalytics.cteVsFlashlvl(results, fileinfo, T, cohorts))) {
      val back = spark.read.option("sep", "\t").option("header", "true")
        .schema(expected.schema).csv(s"$root/out/${T}_$artifact")
      assert(back.columns.toSeq == expected.columns.toSeq, artifact)
      val (got, want) = (sortedRows(back), sortedRows(expected))
      assert(want.nonEmpty, s"$artifact has no rows to compare")
      assert(got.length == want.length, s"$artifact row count")
      got.zip(want).foreach { case (g, w) =>
        assert(sameRow(g, w), s"$artifact: $g != $w") }
    }
  }

  /** Rows in a fixed order: by their fields, doubles to 9 digits. */
  private def sortedRows(df: DataFrame): Seq[Row] =
    df.collect().toSeq.sortBy(_.toSeq.map {
      case d: Double => f"$d%.9e"
      case v => String.valueOf(v)
    }.mkString("\u0000"))

  /** Equal fields; doubles to 1e-12 relative (the polyfit sums follow
    * input order), NaN equal to NaN. */
  private def sameRow(a: Row, b: Row): Boolean =
    a.length == b.length && (0 until a.length).forall { i =>
      (a.get(i), b.get(i)) match {
        case (x: Double, y: Double) => x == y || (x.isNaN && y.isNaN) ||
          math.abs(x - y) <= 1e-12 * math.max(math.abs(x), math.abs(y))
        case (x, y) => x == y
      }
    }

  test("concurrently: every step's jobs carry the caller's job group") {
    val sc = spark.sparkContext
    val group = s"cte-concurrent-${UUID.randomUUID()}"
    val step = s"cte-step-${UUID.randomUUID()}"
    val drain = s"$step-drain"
    // (job description, job group) of every job a step started
    val jobs = new ConcurrentLinkedQueue[(String, String)]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).foreach { p =>
          val desc = String.valueOf(p.getProperty("spark.job.description"))
          val g = String.valueOf(p.getProperty("spark.jobGroup.id"))
          if (desc == drain && g == group) drained.countDown()
          else if (desc.startsWith(step)) jobs.add(desc -> g)
        }
    }
    val active = new ConcurrentLinkedQueue[Option[SparkSession]]()
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "concurrent steps")
      CtePipeline.concurrently(spark, (0 until 4).map { i => () =>
        // the description marks this step's jobs; the group is inherited
        sc.setJobDescription(s"$step-$i")
        active.add(SparkSession.getActiveSession)
        spark.range(0, 100, 1, 2).agg(sum("id")).collect()
        sc.parallelize(1 to 10, 2).count()
        ()
      })
      // the listener bus is FIFO: once this marker job's start arrives,
      // every step's jobs have been seen
      sc.setJobDescription(drain)
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus never drained")
    } finally {
      sc.clearJobGroup()
      sc.setJobDescription(null)
      sc.removeSparkListener(listener)
    }
    val seen = jobs.asScala.toSeq
    assert(seen.map(_._1).distinct.sorted == (0 until 4).map(i => s"$step-$i"))
    assert(seen.forall(_._2 == group), s"jobs outside the group: $seen")
    assert(active.asScala.forall(_.contains(spark)))
  }

  test("concurrently: a step's failure is rethrown after every step ended") {
    val boom = new IllegalStateException("boom")
    val other = new IllegalArgumentException("other")
    val finished = new AtomicBoolean(false)
    val thrown = intercept[IllegalStateException](
      CtePipeline.concurrently(spark, Seq(
        () => throw boom,
        () => { Thread.sleep(500); finished.set(true) },
        () => { Thread.sleep(100); throw other })))
    assert(thrown eq boom)
    assert(finished.get, "rethrown before the slow step ended")
    assert(thrown.getSuppressed.toSeq == Seq(other))
  }

  test("concurrently: no pool thread outlives the call") {
    val threads = new ConcurrentLinkedQueue[Thread]()
    def step(fail: Boolean): () => Unit = () => {
      threads.add(Thread.currentThread())
      Thread.sleep(50)
      if (fail) throw new RuntimeException("step failed")
    }
    CtePipeline.concurrently(spark, Seq(step(false), step(false)))
    intercept[RuntimeException](
      CtePipeline.concurrently(spark, Seq(step(false), step(true))))
    assert(threads.size == 4)
    threads.asScala.foreach { t =>
      assert(t.isDaemon, s"${t.getName} is not a daemon")
      assert(!t.isAlive, s"${t.getName} is still alive")
    }
  }

  test("warehouse tables are stored in their registry schemas") {
    // CtePipeline.table reads fileinfo/phot/results with the registry
    // schema instead of inferring it, so what the writers store must be
    // exactly that schema: a mismatch here is a writer bug
    val root = Files.createTempDirectory("graft_pipe_schema").toString
    val pipe = new CtePipeline(spark, s"$root/warehouse")
    // no silent cast or drop: a widened, extra or missing column is
    // refused before the table is written
    val phot = CteFixtures.photLong(spark)
    for (bad <- Seq(phot.withColumn("find_id", col("find_id").cast("long")),
        phot.withColumn("extra", lit(1)), phot.drop("totbkgrd")))
      intercept[IllegalArgumentException](pipe.ingestPhot(bad))
    assert(!new java.io.File(s"$root/warehouse/phot").exists())
    pipe.ingestFileinfo(CteFixtures.fileinfo(spark))
    pipe.ingestPhot(phot)
    pipe.computeSlopes(CteFixtures.T)
    def fields(s: org.apache.spark.sql.types.StructType) =
      s.fields.map(f => f.name -> f.dataType).toSeq
    for ((t, schema) <- Seq("fileinfo" -> SchemaRegistry.fileinfo,
        "phot" -> SchemaRegistry.photLong,
        "results" -> SchemaRegistry.resultsLong))
      assert(fields(spark.read.parquet(s"$root/warehouse/$t").schema) ==
        fields(schema), s"$t is not stored in its registry schema")
  }
}
