package graft.cte

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

class CteQueriesSpec extends SparkSpecBase {

  private lazy val fi = CteFixtures.fileinfo(spark)
  private lazy val ms = CteFixtures.master(spark)
  private lazy val ph = CteFixtures.photLong(spark)

  test("schema registry parses the reference definition format") {
    val s = SchemaRegistry.parse("MASTER_ID, Integer\nXPIX, Float\nNAME, String\nD, Date")
    assert(s.fieldNames.toSeq == Seq("master_id", "xpix", "name", "d"))
    assert(s("xpix").dataType == org.apache.spark.sql.types.DoubleType)
    intercept[IllegalArgumentException] {
      SchemaRegistry.parse("BAD, Blob")
    }
  }

  test("generated schemas have the reference's arity") {
    // + length (the ingest's stored exptime class) + targname
    assert(SchemaRegistry.fileinfo.fields.length == 29 + 1 + 1)
    assert(SchemaRegistry.photWide.fields.length == 7 + 42 + 2)
    assert(SchemaRegistry.resultsWide.fields.length == 5 + 24 + 1)
    assert(SchemaRegistry.fluxBins.length == 8)
    assert(SchemaRegistry.apertures.length == 14)
  }

  test("j2 pair self-join matches chips on all 8 keys") {
    val p = CteQueries.pairs(fi, CteFixtures.T).collect()
    assert(p.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("iaaa01a1q", "iaaa01a2q"), ("iaaa02b1q", "iaaa02b2q")))
  }

  test("matchingImagename finds the single partner") {
    val m = CteQueries.matchingImagename(fi, CteFixtures.T, "iaaa02b1q").collect()
    assert(m.map(_.getString(0)).toSeq == Seq("iaaa02b2q"))
  }

  test("j4 180-degree rank pairing by alphabetical order within visit") {
    val p = CteQueries.pairs180(fi, CteFixtures.T, "F502N", 60.0, 0, 1).collect()
    assert(p.map(r => (r.getString(0), r.getString(1))).toSeq ==
      Seq(("iaaa10p1q", "iaaa11p1q"), ("iaaa10p2q", "iaaa11p2q")))
  }

  test("exptimes honors the ±30-day MJD window") {
    val near = CteQueries.exptimes(fi, CteFixtures.T, "11924", "F502N",
      Some(55010.0)).collect().map(_.getDouble(0)).toSeq
    assert(near == Seq(60.0, 350.0)) // both 55000-epoch exptimes in window
    val far = CteQueries.exptimes(fi, CteFixtures.T, "11924", "F502N",
      Some(55100.0)).collect()
    assert(far.isEmpty)
  }

  test("fluxByImagename selects one aperture from the long layout") {
    val f = CteQueries.fluxByImagename(ph, CteFixtures.T, "iaaa01a1q", 3)
      .orderBy("master_id").collect()
    assert(f.length == 8)
    // chip-1 flux = 10 + 300·(1 − 1e-4·100i) for stars 1-4
    assert(f.map(_.getAs[Double]("flux")).take(4).toSeq ==
      Seq(307.0, 304.0, 301.0, 298.0))
    // invalid aperture → empty, like the reference's KeyError→[] path
    assert(CteQueries.fluxByImagename(ph, CteFixtures.T, "iaaa01a1q", 99)
      .count() == 0)
  }

  test("fluxRange applies in-plan background subtraction") {
    val raw = CteQueries.fluxRange(ph, fi, CteFixtures.T, 3, 250.0, 500.0,
      Map("chip" -> 1))
    assert(raw.count() == 4)
    // totbkgrd = 10 ⇒ raw fluxes {307,304,301,298} all pass lo=298, but
    // the cleaned fluxes {297,294,291,288} all slip below it
    val sub = CteQueries.fluxRange(ph, fi, CteFixtures.T, 3, 298.0, 500.0,
      Map("chip" -> 1), subtractBackground = true)
    assert(sub.count() == 0)
  }

  test("globalBkgrd is head-1") {
    val g = CteQueries.globalBkgrd(fi, CteFixtures.T, "iaaa01a1q").collect()
    assert(g.length == 1 && g(0).getDouble(1) == 3.5)
  }

  test("orphan detection (J6) is clean on the fixtures, flags planted orphans") {
    import spark.implicits._
    assert(CteQueries.orphanPhot(ph, ms, fi).count() == 0)
    val orphan = Seq((99, "iaaa01a1q", java.sql.Date.valueOf("2026-01-01"),
      99, 50.0, 100.0, 0.1, 0.1, 3, 1.0, 1.0, 1.0, CteFixtures.T))
      .toDF(ph.columns: _*)
    assert(CteQueries.orphanPhot(ph.unionByName(orphan), ms, fi).count() == 1)
  }

  test("missingMasterIds (J7 anti-join): stars 9,10 lack phot rows") {
    val m = CteQueries.missingMasterIds(ms, ph, CteFixtures.T, "iaaa01a1q")
      .orderBy("master_id").collect()
    assert(m.map(_.getInt(0)).toSeq == Seq(9, 10))
  }
}
