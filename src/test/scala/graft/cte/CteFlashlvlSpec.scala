package graft.cte

import graft.SparkSpecBase
import org.apache.spark.sql.functions._

/** Golden checks for the cteVSflashlvl product
  * (uvis_external_cte_plots.py:1746-1890). */
class CteFlashlvlSpec extends SparkSpecBase {

  private lazy val rows = {
    val fi = CteFixtures.fileinfoFlash(spark)
    CteAnalytics.cteVsFlashlvl(CteFixtures.resultsFlash(spark), fi,
        CteFixtures.T, CteAnalytics.epochCohorts(fi, CteFixtures.T))
      .orderBy("flashlvl", "fluxbin").collect()
  }

  test("one row per Results row, keyed by combined epoch and flashlvl") {
    assert(rows.length == 3)
    assert(rows.forall(_.getAs[Double]("epoch") == 55000.0))
    assert(rows.forall(_.getAs[String]("exp_length") == "s"))
    assert(rows.map(_.getAs[Double]("flashlvl")).toSeq == Seq(6.0, 12.0, 12.0))
  }

  test("slope corrected to chip height; standerr = stdev/√n (NOT /n)") {
    val f6 = rows.find(_.getAs[Double]("flashlvl") == 6.0).get
    assert(math.abs(f6.getAs[Double]("cteslope") - 1.024) < 1e-12)
    // 0.004/√4 = 0.002 → (0.002/2)·2048 = 2.048; cteVStime's /n
    // convention would give 0.001 → 1.024 instead.
    assert(math.abs(f6.getAs[Double]("cteslope_stderr") - 2.048) < 1e-12)
    val f12 = rows.find(r => r.getAs[Double]("flashlvl") == 12.0 &&
      r.getAs[String]("fluxbin") == "250-500").get
    assert(math.abs(f12.getAs[Double]("cteslope") - 2.048) < 1e-12)
    // 0.006/√9 = 0.002 → 2.048.
    assert(math.abs(f12.getAs[Double]("cteslope_stderr") - 2.048) < 1e-12)
  }

  test("zero-point bins carry NaN stderr and ride through at their flashlvl") {
    val z = rows.find(_.getAs[String]("fluxbin") == "8000-32000").get
    assert(z.getAs[Double]("cteslope") == 0.0)
    assert(z.getAs[Double]("cteslope_stderr").isNaN)
    assert(z.getAs[Double]("flashlvl") == 12.0)
    assert(z.getAs[Int]("numpoints") == 0)
  }
}
