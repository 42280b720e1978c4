package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.functions._

/** Distinct-count sketching (the approx-aggregation family a training-data
  * pipeline leans on for cardinality telemetry at 100 TB).
  *
  * `approx_count_distinct` (HyperLogLog++) is the usual Spark answer, but
  * its register layout is implementation-private — no other engine can
  * replay it, so it can only ever get a rows-only check. A K-minimum-values
  * (KMV) sketch over a cross-engine hash (md5) has the same one-pass /
  * mergeable / bounded-state scale shape, a knowable error bound
  * (≈ 1/√(k−2)), AND a deterministic value — so the oracle check is exact,
  * which is the whole game here (see graft-bit-stability rules).
  *
  * Scale shape: the sketch state per group is the k smallest distinct
  * hashes — GroupedTopK's partial→exchange→final pipeline keeps the
  * exchange at k rows per group regardless of corpus size, exactly how a
  * distributed KMV union works on a real cluster.
  */
object Sketch extends QueryPack {

  private val K = 32

  // -- k1: estimated vs exact distinct users per event type. h = first 15
  //    hex digits of md5 → uniform in [0, 2^60); the (k−1)/max-of-k-min
  //    estimator on distinct hashes. Groups with fewer than K distinct
  //    hashes report the sketch cardinality itself (the sketch is exact
  //    below its capacity). n_exact rides along to make the query double
  //    as an accuracy report.
  private val k1KmvDistinct: Q = (s, dir) => {
    val du = Tables.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
    val dh = du.select("event_type", "h").distinct()
    val kth = graft.plans.GroupedTopK.topK(dh, Seq("event_type"), K, col("h").asc)
      .groupBy("event_type")
      .agg(max(col("h")).as("hk"), count(lit(1)).as("m"))
    val exact = du.groupBy("event_type")
      .agg(countDistinct(col("user_id")).as("n_exact"))
    exact.join(kth, "event_type")
      .select(col("event_type"), col("n_exact"),
        when(col("m") >= K,
          lit((K - 1).toDouble) * lit(1152921504606846976.0) /
            col("hk").cast("double"))
          .otherwise(col("m").cast("double")).as("est_distinct"))
      .orderBy("event_type")
  }

  // The oracle parses the same 15 hex digits positionally (DuckDB has no
  // base-conversion builtin); shifts keep it exact BIGINT arithmetic.
  private val k1Sql =
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |hx AS (
       |  SELECT event_type,
       |         list_sum(list_transform(range(0, 15), i ->
       |           CAST(strpos('0123456789abcdef',
       |                substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT)
       |             * (CAST(1 AS BIGINT) << CAST(4 * (14 - i) AS INT)))) AS h
       |  FROM du),
       |dh AS (SELECT DISTINCT event_type, h FROM hx),
       |rk AS (SELECT event_type, h,
       |              row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
       |       FROM dh),
       |kth AS (SELECT event_type, max(h) AS hk, count(*) AS m
       |        FROM rk WHERE r <= $K GROUP BY event_type),
       |ex AS (SELECT event_type, count(DISTINCT user_id) AS n_exact
       |       FROM events GROUP BY event_type)
       |SELECT ex.event_type, ex.n_exact,
       |       CASE WHEN m >= $K
       |            THEN ${K - 1}.0 * 1152921504606846976.0 / CAST(hk AS DOUBLE)
       |            ELSE CAST(m AS DOUBLE) END AS est_distinct
       |FROM ex JOIN kth ON ex.event_type = kth.event_type
       |ORDER BY ex.event_type""".stripMargin

  // -- k2: heavy hitters via count-min sketch — the frequency twin of
  //    k1's cardinality sketch. d=3 hash rows × w=64 buckets of pure
  //    counts: every event increments d cells (map-side partial, the
  //    shuffle carries ≤ d·w = 192 cells, not events); a key's estimate
  //    is the min over its d cells — biased high only, never low, so the
  //    true top-k is always contained in the sketch's candidates. The
  //    fixed md5-derived buckets make the estimate a deterministic value,
  //    so the oracle check is exact (same rule as k1); the true count
  //    rides along to double as an accuracy report. Scale shape: the
  //    sketch is O(d·w) state merged associatively — the same counters a
  //    1000-executor cluster would partial-aggregate — and the per-key
  //    probe is a broadcast join of the 192-cell table.
  private val cmsD = 3
  private val cmsW = 64

  private def cmsBucketCol(i: Int) =
    pmod(conv(substring(md5(
        concat(lit(s"$i:"), col("user_id").cast("string"))), 1, 15), 16, 10)
      .cast("long"), lit(cmsW.toLong))

  /** The sketch-update side of k2, reusable under `readStream`: every
    * event explodes to its d cells and the counters aggregate — in a
    * stream this is a standard stateful aggregation whose state is
    * bounded by d·w CELLS, not by keys seen (the whole point of
    * sketching a 100 TB stream). */
  def cmsCounters(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val cells = (0 until cmsD).map(i =>
      struct(lit(i).as("row"), cmsBucketCol(i).as("bucket")))
    ev.select(explode(array(cells: _*)).as("c"))
      .groupBy(col("c.row").as("row"), col("c.bucket").as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  private def cmsBucketSql(i: Int): String =
    s"""(list_sum(list_transform(range(0, 15), j ->
       |  CAST(strpos('0123456789abcdef',
       |       substr(md5('$i:' || CAST(user_id AS VARCHAR)), CAST(j AS INT) + 1, 1)) - 1 AS BIGINT)
       |    * (CAST(1 AS BIGINT) << CAST(4 * (14 - j) AS INT)))) % $cmsW)""".stripMargin

  private val k2CmsHeavy: Q = (s, dir) => {
    val ev = Tables.events(s, dir).select("user_id")
    val cells = (0 until cmsD).map(i =>
      struct(lit(i).as("row"), cmsBucketCol(i).as("bucket")))
    // the sketch: one partial-aggregated shuffle of ≤ d·w cells
    val counters = cmsCounters(ev)
    // per-key probe: distinct keys × their d cells, min over the row hits
    val keyCells = ev.distinct()
      .select(col("user_id"), explode(array(cells: _*)).as("c"))
      .select(col("user_id"), col("c.row").as("row"), col("c.bucket").as("bucket"))
    val est = keyCells.join(broadcast(counters), Seq("row", "bucket"))
      .groupBy("user_id").agg(min(col("cnt")).as("est"))
    val truth = ev.groupBy("user_id").agg(count(lit(1)).as("n_true"))
    est.join(truth, "user_id")
      .orderBy(col("est").desc, col("user_id").asc)
      .limit(10)
      .select("user_id", "n_true", "est")
  }

  private val k2Sql =
    s"""WITH ev AS (SELECT user_id FROM events),
       |cells AS (
       |  ${(0 until cmsD).map(i =>
             s"SELECT user_id, $i AS hrow, ${cmsBucketSql(i)} AS bucket FROM ev")
             .mkString("\n  UNION ALL\n  ")}),
       |counters AS (
       |  SELECT hrow, bucket, count(*) AS cnt FROM cells GROUP BY hrow, bucket),
       |kc AS (SELECT DISTINCT user_id, hrow, bucket FROM cells),
       |est AS (
       |  SELECT kc.user_id, min(c.cnt) AS est
       |  FROM kc JOIN counters c ON kc.hrow = c.hrow AND kc.bucket = c.bucket
       |  GROUP BY kc.user_id),
       |truth AS (SELECT user_id, count(*) AS n_true FROM ev GROUP BY user_id)
       |SELECT e.user_id, t.n_true, e.est
       |FROM est e JOIN truth t ON e.user_id = t.user_id
       |ORDER BY e.est DESC, e.user_id LIMIT 10""".stripMargin

  // -- k3: quantile telemetry via a bottom-k coordinated sample — the
  //    order-statistics member of the family (k1 places cardinality, k2
  //    frequency, k3 the distribution). The k rows with the smallest
  //    md5-derived hashes per group ARE a uniform sample, and bottom-k by
  //    a shared hash merges exactly like KMV: union two samples, keep the
  //    bottom k — so GroupedTopK's partial→exchange→final pipeline ships
  //    ≤k rows per group at any table size (the mergeable-quantile shape
  //    a 100 TB DQ report needs; no full sort, no interpolation state).
  //    Estimates are DISCRETE quantiles — the sample element at rank
  //    ceil(p·m) — actual stored values with zero float interpolation, so
  //    the oracle check is exact. The true quantiles ride along as the
  //    accuracy report; THAT side is a per-group full sort, priced here
  //    as the audit (run sampled at real scale, like v10's exact side).
  //    All p·m arithmetic is forced through IEEE doubles on both engines:
  //    DuckDB's native 0.9*m is DECIMAL math, which rounds differently
  //    from a double product at rank boundaries (0.9·110 = 99 decimal
  //    but 99.0000…24 double → different ceil).
  private val qkK = 256
  private val qkPs = Seq("50" -> 0.5, "90" -> 0.9, "99" -> 0.99)

  private val k3BottomkQuantiles: Q = k3Plan

  private[graft] def k3Plan(s: org.apache.spark.sql.SparkSession,
                            dir: String): org.apache.spark.sql.DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val li = Tables.lineitem(s, dir)
      .select(col("l_returnflag"), col("l_orderkey"), col("l_linenumber"),
        col("l_extendedprice"))
      .withColumn("h",
        conv(substring(md5(concat_ws(":",
          col("l_orderkey"), col("l_linenumber"))), 1, 15), 16, 10)
          .cast("long"))
    // the natural key is NOT unique in this corpus (re-delivered rows
    // share (orderkey, linenumber) but can differ in price), so the
    // sample ordering must be total THROUGH the value column — otherwise
    // a k-cut landing inside a duplicate-key tie picks engine-dependent
    // rows and the quantiles drift
    val smp = graft.plans.GroupedTopK.topK(li, Seq("l_returnflag"), qkK,
      col("h").asc, col("l_orderkey").asc, col("l_linenumber").asc,
      col("l_extendedprice").asc)
    // SCALE SHAPE (r12): the row_number disc() sorted its whole input
    // into #returnflag partitions — fine for the 768-row sample, the
    // a2/w8 low-cardinality hazard for the fact-sized truth side. The
    // discrete quantile is a VALUE, and the (h, orderkey, linenumber)
    // tie-break inside equal prices never changes which price the rank
    // lands on — so the element at rank ceil(p·m) is the smallest price
    // whose cumulative count reaches it: one map-side-combined aggregate
    // over (flag, price), cumulative pass over distinct prices only.
    // Identical output to the oracle's row_number form (RankSelectSpec
    // pins golden rows recorded from it).
    def disc(df: org.apache.spark.sql.DataFrame, prefix: String) = {
      val cum = df.groupBy("l_returnflag", "l_extendedprice")
        .agg(count(lit(1)).as("c"))
        .withColumn("cum", sum(col("c")).over(
          Window.partitionBy("l_returnflag").orderBy("l_extendedprice")))
        .withColumn("m", sum(col("c")).over(
          Window.partitionBy("l_returnflag")))
      val qs = qkPs.map { case (tag, p) =>
        min(when(col("cum") >=
            ceil(lit(p) * col("m").cast("double")), col("l_extendedprice")))
          .as(s"${prefix}p$tag")
      }
      cum.groupBy("l_returnflag")
        .agg(max(col("m")).as(s"${prefix}n"), qs: _*)
    }
    disc(smp, "est_").join(disc(li, "true_"), "l_returnflag")
      .orderBy("l_returnflag")
  }

  /** The same 15-hex-digit md5 → BIGINT parse as k1, over a composite
    * natural key. */
  private def h15Sql(key: String) =
    s"""list_sum(list_transform(range(0, 15), i ->
       |  CAST(strpos('0123456789abcdef',
       |       substr(md5($key), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT)
       |    * (CAST(1 AS BIGINT) << CAST(4 * (14 - i) AS INT))))""".stripMargin

  private def discSql(from: String, out: String, prefix: String) = {
    val qs = qkPs.map { case (tag, p) =>
      s"""max(CASE WHEN r = ceil(CAST($p AS DOUBLE) * CAST(m AS DOUBLE))
         |    THEN l_extendedprice END) AS ${prefix}p$tag""".stripMargin
    }.mkString(",\n")
    s"""${out}_rk AS (
       |  SELECT l_returnflag, l_extendedprice,
       |         row_number() OVER (PARTITION BY l_returnflag
       |           ORDER BY l_extendedprice, h, l_orderkey, l_linenumber) AS r,
       |         count(*) OVER (PARTITION BY l_returnflag) AS m
       |  FROM $from),
       |$out AS (
       |  SELECT l_returnflag, max(m) AS ${prefix}n,
       |$qs
       |  FROM ${out}_rk GROUP BY l_returnflag)""".stripMargin
  }

  private val k3Sql =
    s"""WITH li AS (
       |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice,
       |         ${h15Sql("CAST(l_orderkey AS VARCHAR) || ':' || CAST(l_linenumber AS VARCHAR)")} AS h
       |  FROM lineitem),
       |bk AS (
       |  SELECT l_returnflag, l_orderkey, l_linenumber, l_extendedprice, h
       |  FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
       |          ORDER BY h, l_orderkey, l_linenumber, l_extendedprice) AS rh
       |        FROM li) t
       |  WHERE rh <= $qkK),
       |${discSql("bk", "est", "est_")},
       |${discSql("li", "tru", "true_")}
       |SELECT e.l_returnflag, e.est_n, e.est_p50, e.est_p90, e.est_p99,
       |       t.true_n, t.true_p50, t.true_p90, t.true_p99
       |FROM est e JOIN tru t ON e.l_returnflag = t.l_returnflag
       |ORDER BY e.l_returnflag""".stripMargin

  // -- k4: KMV set ALGEBRA — the merge face of k1's sketch. Per-type user
  //    sketches union into a per-pair sketch without revisiting the
  //    corpus (bottomK(A∪B) ⊆ bottomK(A) ∪ bottomK(B)); the union
  //    cardinality estimates from the merged k-th minimum exactly as k1,
  //    and the intersection estimates by the coordinated-sample rule: a
  //    member of the union sample that lies in both sets is provably
  //    present in both per-set sketches (if h(x) is among the K smallest
  //    of A∪B and x∈A, fewer than K elements of A hash below it), so the
  //    membership flags are exact. Exact pair counts ride along as the
  //    accuracy report (k1's rule). Scale shape: the audience-overlap
  //    matrix for T types costs T·K sketch rows merged pairwise — never
  //    a T²-way distinct over the corpus — which is why mergeable
  //    sketches, not exact distincts, are the 100 TB telemetry answer.
  private val k4KmvSetAlgebra: Q = (s, dir) => {
    val du = Tables.events(s, dir)
      .select(col("event_type"), col("user_id")).distinct()
      .withColumn("h",
        conv(substring(md5(col("user_id").cast("string")), 1, 15), 16, 10)
          .cast("long"))
    val dh = du.select("event_type", "h").distinct()
    val sk = graft.plans.GroupedTopK
      .topK(dh, Seq("event_type"), K, col("h").asc)
    val typesDf = sk.select("event_type").distinct()
    val pairs = typesDf.select(col("event_type").as("type_a"))
      .crossJoin(typesDf.select(col("event_type").as("type_b")))
      .filter(col("type_a") < col("type_b"))
    val skA = sk.select(col("event_type").as("type_a"), col("h"),
      lit(1).as("in_a"), lit(0).as("in_b"))
    val skB = sk.select(col("event_type").as("type_b"), col("h"),
      lit(0).as("in_a"), lit(1).as("in_b"))
    val mem = pairs.join(skA, "type_a")
      .select("type_a", "type_b", "h", "in_a", "in_b")
      .unionByName(pairs.join(skB, "type_b")
        .select("type_a", "type_b", "h", "in_a", "in_b"))
    val merged = mem.groupBy("type_a", "type_b", "h")
      .agg(max(col("in_a")).as("in_a"), max(col("in_b")).as("in_b"))
    val samp = graft.plans.GroupedTopK
      .topK(merged, Seq("type_a", "type_b"), K, col("h").asc)
    val agg = samp.groupBy("type_a", "type_b")
      .agg(count(lit(1)).as("m_u"), max(col("h")).as("hk_u"),
        sum(col("in_a") * col("in_b")).as("c_inter"))
      .withColumn("est_union",
        when(col("m_u") >= K,
          lit((K - 1).toDouble) * lit(1152921504606846976.0) /
            col("hk_u").cast("double"))
          .otherwise(col("m_u").cast("double")))
    val nt = du.groupBy("event_type").agg(count(lit(1)).as("n"))
    val ix = du.select(col("event_type").as("type_a"), col("user_id"))
      .join(du.select(col("event_type").as("type_b"), col("user_id")),
        "user_id")
      .filter(col("type_a") < col("type_b"))
      .groupBy("type_a", "type_b").agg(count(lit(1)).as("n_inter"))
    agg
      .join(nt.select(col("event_type").as("type_a"), col("n").as("n_a")),
        "type_a")
      .join(nt.select(col("event_type").as("type_b"), col("n").as("n_b")),
        "type_b")
      .join(ix, Seq("type_a", "type_b"), "left")
      .select(col("type_a"), col("type_b"),
        (col("n_a") + col("n_b") - coalesce(col("n_inter"), lit(0L)))
          .as("n_union_exact"),
        coalesce(col("n_inter"), lit(0L)).as("n_inter_exact"),
        col("est_union"),
        (col("c_inter").cast("double") / col("m_u").cast("double") *
          col("est_union")).as("est_inter"))
      .orderBy("type_a", "type_b")
  }

  private val k4Sql = {
    val h15expr =
      """list_sum(list_transform(range(0, 15), i ->
        |           CAST(strpos('0123456789abcdef',
        |                substr(md5(CAST(user_id AS VARCHAR)), CAST(i AS INT) + 1, 1)) - 1 AS BIGINT)
        |             * (CAST(1 AS BIGINT) << CAST(4 * (14 - i) AS INT))))""".stripMargin
    s"""WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
       |hx AS (SELECT event_type, $h15expr AS h FROM du),
       |dh AS (SELECT DISTINCT event_type, h FROM hx),
       |sk AS (SELECT event_type, h FROM (
       |  SELECT event_type, h,
       |         row_number() OVER (PARTITION BY event_type ORDER BY h) AS r
       |  FROM dh) t WHERE r <= $K),
       |types AS (SELECT DISTINCT event_type FROM sk),
       |pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b
       |          FROM types a, types b WHERE a.event_type < b.event_type),
       |mem AS (
       |  SELECT p.type_a, p.type_b, s.h, 1 AS in_a, 0 AS in_b
       |  FROM pairs p JOIN sk s ON s.event_type = p.type_a
       |  UNION ALL
       |  SELECT p.type_a, p.type_b, s.h, 0 AS in_a, 1 AS in_b
       |  FROM pairs p JOIN sk s ON s.event_type = p.type_b),
       |g AS (SELECT type_a, type_b, h, max(in_a) AS in_a, max(in_b) AS in_b
       |      FROM mem GROUP BY 1, 2, 3),
       |samp AS (SELECT * FROM (
       |  SELECT *, row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS r
       |  FROM g) t WHERE r <= $K),
       |agg AS (SELECT type_a, type_b, count(*) AS m_u, max(h) AS hk_u,
       |               CAST(sum(in_a * in_b) AS BIGINT) AS c_inter
       |        FROM samp GROUP BY 1, 2),
       |est AS (SELECT *,
       |        CASE WHEN m_u >= $K
       |             THEN ${K - 1}.0 * 1152921504606846976.0 / CAST(hk_u AS DOUBLE)
       |             ELSE CAST(m_u AS DOUBLE) END AS est_union
       |        FROM agg),
       |nt AS (SELECT event_type, count(*) AS n FROM du GROUP BY 1),
       |ix AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
       |              count(*) AS n_inter
       |       FROM du a JOIN du b ON a.user_id = b.user_id
       |       WHERE a.event_type < b.event_type GROUP BY 1, 2)
       |SELECT e.type_a, e.type_b,
       |       na.n + nb.n - COALESCE(ix.n_inter, 0) AS n_union_exact,
       |       COALESCE(ix.n_inter, 0) AS n_inter_exact,
       |       e.est_union,
       |       CAST(e.c_inter AS DOUBLE) / CAST(e.m_u AS DOUBLE) * e.est_union
       |         AS est_inter
       |FROM est e
       |JOIN nt na ON na.event_type = e.type_a
       |JOIN nt nb ON nb.event_type = e.type_b
       |LEFT JOIN ix ON ix.type_a = e.type_a AND ix.type_b = e.type_b
       |ORDER BY e.type_a, e.type_b""".stripMargin
  }

  def queries: Map[String, Q] = Map(
    "k1_kmv_distinct" -> k1KmvDistinct,
    "k2_cms_heavy"    -> k2CmsHeavy,
    "k3_bottomk_quantiles" -> k3BottomkQuantiles,
    "k4_kmv_set_algebra"   -> k4KmvSetAlgebra)

  def oracles: Map[String, String] = Map(
    "k1_kmv_distinct" -> k1Sql,
    "k2_cms_heavy"    -> k2Sql,
    "k3_bottomk_quantiles" -> k3Sql,
    "k4_kmv_set_algebra"   -> k4Sql)
}
