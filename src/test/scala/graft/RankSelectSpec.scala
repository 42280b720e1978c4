package graft

/** Pins the cumulative-count rank selection (one hash aggregate over
  * (group, value), cumulative pass over DISTINCT values) to the output
  * of the row_number window formulation it replaced in w8, dq2 and k3's
  * truth side. The rewrite exists because the window plans sorted the
  * whole fact table into #group partitions (a2's low-cardinality hazard,
  * measured 274 s vs 21 s at sf10); every selected statistic is a VALUE,
  * so tie-breaks cannot move it and the outputs must be bit-identical.
  *
  * The golden rows were recorded from both plans (which agreed) before
  * the window plans were deleted; doubles are shortest round-tripping
  * decimals, so `==` is a bit-exact comparison. The window formulation
  * survives as the DuckDB oracle (`w8Sql`, `dq2Sql`, `k3Sql`), checked
  * by `graft.Verify` + `tools/check.py`. */
class RankSelectSpec extends SparkSpecBase {

  private val sf01 = "/root/testdata/sf0.01"

  private def check(name: String,
                    plan: (org.apache.spark.sql.SparkSession, String) =>
                      org.apache.spark.sql.DataFrame,
                    golden: Map[String, Seq[Seq[Any]]]): Unit =
    for ((dir, want) <- golden) {
      val got = plan(spark, dir).collect().map(_.toSeq).toSeq
      assert(got == want, s"$name diverges from the recorded window-plan rows at $dir")
    }

  test("w8 cum-dist percentiles == window plan, bit-exact") {
    check("w8", graft.operators.WindowedScalar.w8ByCumDist, Map(
      sfDir -> Seq(
        Seq("click", 210L, 33.19, 108.18, 253.94),
        Seq("error", 201L, 33.55, 104.05, 185.57),
        Seq("purchase", 202L, 35.62, 118.72, 213.1),
        Seq("signup", 199L, 37.9, 113.37, 230.25),
        Seq("view", 188L, 37.11, 112.19, 285.2)),
      sf01 -> Seq(
        Seq("click", 2006L, 35.28, 123.3, 222.07),
        Seq("error", 2014L, 34.38, 112.6, 236.27),
        Seq("purchase", 1981L, 33.95, 107.08, 223.62),
        Seq("signup", 2017L, 35.92, 118.1, 233.22),
        Seq("view", 1982L, 33.83, 112.04, 210.58))))
  }

  test("dq2 cum-dist median/MAD == window plan, bit-exact") {
    check("dq2", graft.operators.WindowedScalar.dq2ByCumDist, Map(
      sfDir -> Seq(
        Seq("click", 210L, 33.19, 22.729999999999997, 23L),
        Seq("error", 201L, 33.55, 22.949999999999996, 22L),
        Seq("purchase", 202L, 35.62, 23.729999999999997, 28L),
        Seq("signup", 199L, 37.9, 28.49, 14L),
        Seq("view", 188L, 37.11, 25.479999999999997, 17L)),
      sf01 -> Seq(
        Seq("click", 2006L, 35.28, 24.490000000000002, 242L),
        Seq("error", 2014L, 34.38, 23.830000000000002, 237L),
        Seq("purchase", 1981L, 33.95, 23.419999999999995, 214L),
        Seq("signup", 2017L, 35.92, 24.75, 230L),
        Seq("view", 1982L, 33.83, 24.04, 231L))))
  }

  test("k3 cum-dist discrete quantiles == window plan, bit-exact") {
    check("k3", graft.operators.Sketch.k3Plan, Map(
      sfDir -> Seq(
        Seq("A", 256L, 52465.64, 95472.43, 104663.23,
          1962L, 51424.94, 93704.42, 103974.79),
        Seq("N", 256L, 53943.66, 92529.59, 104206.6,
          2070L, 54089.68, 93277.08, 104081.85),
        Seq("R", 256L, 52420.87, 96112.25, 104012.13,
          1968L, 52709.74, 95568.7, 103804.64)),
      sf01 -> Seq(
        Seq("A", 256L, 52320.61, 92659.56, 103929.84,
          20028L, 52833.8, 94635.78, 103929.84),
        Seq("N", 256L, 51409.28, 94072.4, 103778.36,
          19926L, 53052.34, 94498.06, 104004.99),
        Seq("R", 256L, 53212.63, 96502.96, 104269.22,
          20046L, 53228.27, 94973.33, 103916.71))))
  }
}
