package graft.cte

import java.nio.file.Files
import java.util.UUID
import java.util.concurrent.{ConcurrentLinkedQueue, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.{Metered, SparkSpecBase}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DoubleType, IntegerType, StringType, StructType}

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
    val keys = CtePipeline.readArtifact(s"$root/out/${CteFixtures.T}_slopes",
        new StructType().add("imagename_1", StringType)
          .add("imagename_2", StringType).add("aperture", IntegerType)
          .add("bin_lo", IntegerType).add("bin_hi", IntegerType))
      .map(r => (r.getString(0), r.getString(1), r.getInt(2), r.getInt(3),
        r.getInt(4)))
    assert(keys.nonEmpty && keys == keys.sorted)
    val first500 = keys.filter(_._4 == 500).take(2).map(_._5)
    assert(first500 == Seq(1000, 2000))
    val coeffs = spark.read.option("sep", "\t").option("header", "true")
      .csv(s"$root/out/${CteFixtures.T}_coeffs")
    assert(coeffs.columns.count(_.startsWith("c")) == 9)
    assert(coeffs.count() == 1)

    // every artifact holds exactly the rows CteAnalytics gives for it
    val T = CteFixtures.T
    for ((artifact, expected) <- expectedArtifacts(pipe, T)) {
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

  /** Each published artifact's name and the frame `CteAnalytics` gives
    * for it, over the warehouse of `pipe`. */
  private def expectedArtifacts(pipe: CtePipeline, T: String)
      : Seq[(String, DataFrame)] = {
    val results = pipe.table("results").filter(col("targname") === T)
    val fileinfo = pipe.table("fileinfo")
    val cohorts = CteAnalytics.epochCohorts(fileinfo, T)
    val rows = pipe.slopeRows(results, fileinfo, cohorts, T)
    val fit = CteAnalytics.polyfitByTarget(rows)
    val latest = cohorts.collect().map(_.getAs[Double]("epoch")).max
    Seq(
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
        CteAnalytics.cteVsFlashlvl(results, fileinfo, T, cohorts))
  }

  /** An analyzed fixture warehouse, published once under a meter: the
    * pipeline, the artifact directory and what the publish ran. */
  private lazy val published: (CtePipeline, String, Metered) = {
    val root = Files.createTempDirectory("graft_pipe_published").toString
    val pipe = new CtePipeline(spark, s"$root/warehouse")
    pipe.ingestFileinfo(CteFixtures.fileinfo(spark))
    pipe.ingestPhot(CteFixtures.photLong(spark))
    pipe.computeSlopes(CteFixtures.T)
    val out = s"$root/out"
    (pipe, out, Metered.of(spark)(pipe.publish(CteFixtures.T, out)))
  }

  test("publish: every job is described by its artifact step") {
    val (_, _, metered) = published
    val T = CteFixtures.T
    val steps = Seq("slopes", "coeffs, fitvals", "coeffs_history",
      "fluxratios", "cteVStime", "cteVSflashlvl").map(a => s"publish $T: $a")
    assert(metered.jobs.nonEmpty)
    assert(metered.jobs.forall(steps.contains), metered.jobs.distinct)
    assert(metered.jobs.distinct.sorted == steps.sorted)
  }

  test("readArtifact: every artifact reads back as Spark's CSV reader does") {
    val (pipe, out, _) = published
    for ((artifact, expected) <- expectedArtifacts(pipe, CteFixtures.T)) {
      val dir = s"$out/${CteFixtures.T}_$artifact"
      val viaSpark = spark.read.option("sep", "\t").option("header", "true")
        .schema(expected.schema).csv(dir).collect().toSeq
      val read = CtePipeline.readArtifact(dir, expected.schema)
      assert(read.nonEmpty, s"$artifact has no rows")
      assert(read == viaSpark, artifact)
    }
  }

  test("readArtifact: a quoted field or a missing artifact fails loudly") {
    val root = Files.createTempDirectory("graft_artifact_read")
    val schema = new StructType().add("a", StringType).add("b", DoubleType)
    intercept[CtePipeline.UnpublishedArtifact](
      CtePipeline.readArtifact(root.resolve("absent").toString, schema))
    val dir = Files.createDirectory(root.resolve("quoted"))
    Files.writeString(dir.resolve("part-00000.csv"), "a\tb\n\"x\ty\"\t1.0\n")
    intercept[IllegalStateException](
      CtePipeline.readArtifact(dir.toString, schema))
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
