package graft

/** Pins a2's aggregate-pass plan (fresh scan + hash aggregate per clip
  * pass, bounds as literal predicates — ZERO fact-table exchanges) to
  * the output of the window formulation it replaced (one exchange+sort
  * of the whole fact table). The rewrite exists because at 100 TB a
  * full-corpus shuffle+sort to compute six groups' statistics is the
  * wrong plan; the survivor sets and every emitted double must not move.
  *
  * The golden rows were recorded from both plans (which agreed) before
  * the window plan was deleted. Doubles are written in their shortest
  * round-tripping decimal form, so the literals parse back to the
  * identical bits and the comparison is plain `==`. The same rows are
  * checked against the DuckDB oracle (`a2Sql`) by `graft.Verify` +
  * `tools/check.py`. */
class A2PlanSpec extends SparkSpecBase {

  private val golden = Map(
    sfDir -> Seq(
      Seq("A", "F", 977L, 51312.89395087001, 30297.263274585297),
      Seq("A", "O", 985L, 52355.66223350254, 30686.273003730876),
      Seq("N", "F", 1066L, 53490.47383677298, 29292.566664881102),
      Seq("N", "O", 1004L, 53195.942101593624, 29881.38599681034),
      Seq("R", "F", 967L, 53816.004395036194, 30144.595912970624),
      Seq("R", "O", 1001L, 53138.946443556444, 30509.020876182974)),
    "/root/testdata/sf0.01" -> Seq(
      Seq("A", "F", 10003L, 52770.99636009197, 29960.049819634918),
      Seq("A", "O", 10025L, 53220.21157905237, 30186.925887803827),
      Seq("N", "F", 9924L, 52754.73526904474, 29897.341242908737),
      Seq("N", "O", 10002L, 53236.898422315535, 30018.51086001137),
      Seq("R", "F", 10009L, 53402.73960835249, 30252.965160720607),
      Seq("R", "O", 10037L, 52937.521409783796, 30170.32212371461)))

  test("a2 aggregate-pass plan == window plan, bit-exact") {
    for ((dir, want) <- golden) {
      val got = graft.operators.Statistical.a2ByAggregate(spark, dir)
        .collect().map(_.toSeq).toSeq
      assert(got == want, s"a2 diverges from the recorded window-plan rows at $dir")
    }
  }
}
