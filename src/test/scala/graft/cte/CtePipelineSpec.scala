package graft.cte

import graft.SparkSpecBase
import org.apache.spark.sql.functions._
import java.nio.file.Files

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
