package graft.operators

import graft.{Exact, QueryPack, Tables}
import graft.sources.Warehouse
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Skew mitigation beyond what AQE gives for free.
  *
  * AQE's skew-join handling (on in `GraftSession`) splits oversized
  * partitions of sort-merge joins at runtime, but a skewed GROUPING key
  * still funnels one key's every row through one task's aggregation
  * buffer upstream of any join. The classic fix is two-stage salted
  * aggregation: partially aggregate on (key, salt) — fanning the hot key
  * across `salts` tasks — then merge the partials on the key alone. Only
  * ALGEBRAIC aggregates (count/sum/min/max, and anything derived from
  * exact sums, i.e. this engine's whole Exact-moment family) merge
  * losslessly; means/stddevs must be derived from merged sums, never
  * averaged across salts.
  *
  * The salt is `pmod(hash(entire row), salts)` — deterministic (re-runs
  * agree; no rand(), which would also break Spark task retry semantics)
  * and key-independent, so a hot key's rows spread. Identical duplicate
  * rows share a salt; that only narrows the spread for exact-duplicate
  * floods, which exact dedup (d1) removes upstream anyway.
  *
  * Measured honestly (round-5 SkewProbe harness, retired r10 —
  * sf0.1, 99:1 hot key, 5
  * alternating reps, broadcast disabled for the join probe): plain
  * BEATS salted at this scale — agg plain med 0.39 s vs salted 0.49 s,
  * join plain med 0.83 s vs salted 0.96 s. For algebraic aggregates
  * Spark's map-side partial aggregation already collapses a hot key to
  * one row per input partition before the shuffle, and at 600 k rows the
  * single hot sort task is cheaper than the per-row hash + replication
  * salting adds. Salting pays off only where those defenses fail: hot
  * partitions that dwarf the core count (one task sorting 60 M+ rows
  * while the rest idle), non-algebraic buffers (collect_list,
  * exact distinct) whose partial aggregation cannot compress the hot
  * key, or SMJ fallbacks past AQE's split thresholds. Keep the plain
  * formulation by default; reach for these when a stage's task-time
  * histogram shows one straggler doing the work of the fleet.
  */
object Skew extends QueryPack {

  /** Two-stage salted count+sum per key; bit-equal to
    * `df.groupBy(keys).agg(count, sum(valueCol))` because both stages sum
    * exact types (counts are longs; route doubles through `Exact.dec2`
    * upstream when exactness matters). */
  def saltedSumCount(df: DataFrame, keys: Seq[String], valueCol: String,
                     salts: Int): DataFrame = {
    require(salts > 0)
    val allCols = df.columns.map(col)
    val salted = df.withColumn("_salt",
      pmod(hash(struct(allCols.toIndexedSeq: _*)), lit(salts)))
    val partial = salted
      .groupBy((keys :+ "_salt").map(col): _*)
      .agg(count(lit(1)).as("_n"), sum(col(valueCol)).as("_s"))
    partial
      .groupBy(keys.map(col): _*)
      .agg(sum(col("_n")).as("n"), sum(col("_s")).as(s"sum_$valueCol"))
  }

  /** Salted broadcast-style join for a skewed big side against a small
    * side too large to broadcast: the small side is replicated `salts`
    * times, the big side salted per row, and the join key becomes
    * (keys, salt) — each hot-key partition now holds ~1/salts of that
    * key. Inner join only (replication would duplicate outer nulls). */
  def saltedJoin(big: DataFrame, small: DataFrame, keys: Seq[String],
                 salts: Int): DataFrame = {
    require(salts > 0)
    val bigCols = big.columns.map(col)
    val saltedBig = big.withColumn("_salt",
      pmod(hash(struct(bigCols.toIndexedSeq: _*)), lit(salts)))
    val saltedSmall = small.withColumn("_salt",
      explode(sequence(lit(0), lit(salts - 1))))
    saltedBig.join(saltedSmall, keys :+ "_salt").drop("_salt")
  }

  // ---- oracle-checked bench entries: the salted forms run against a
  //      synthetic 99:1 hot key derived from lineitem, so every round's
  //      BENCH records their cost and CORRECTNESS proves bit-equality
  //      with the plain formulations (the oracle SQL *is* the plain
  //      groupBy/join — salting must be invisible in the result).
  //      The retired round-5 SkewProbe harness measured salted-vs-plain
  //      head-to-head under forced sort-merge (numbers in the scaladoc).

  /** ~99% of lineitem rows collapse onto one 'hot' key; the rest spread
    * over k0..k6. */
  private def skewedRows(s: SparkSession, dir: String): DataFrame =
    Tables.lineitem(s, dir).select(
      when(pmod(col("l_orderkey"), lit(100)) < 99, lit("hot"))
        .otherwise(concat(lit("k"),
          pmod(col("l_orderkey"), lit(7)).cast("string"))).as("k"),
      col("l_quantity").cast("long").as("v"))

  private val skewedSql =
    """SELECT CASE WHEN l_orderkey % 100 < 99 THEN 'hot'
      |            ELSE 'k' || CAST(l_orderkey % 7 AS VARCHAR) END AS k,
      |       CAST(l_quantity AS BIGINT) AS v
      |FROM lineitem""".stripMargin

  private val x1SaltedAgg: Q = (s, dir) =>
    saltedSumCount(skewedRows(s, dir), Seq("k"), "v", salts = 32)
      .orderBy("k")

  private val x1Sql =
    s"""WITH t AS ($skewedSql)
       |SELECT k, count(*) AS n, CAST(sum(v) AS BIGINT) AS sum_v
       |FROM t GROUP BY k ORDER BY k""".stripMargin

  private val x2SaltedJoin: Q = (s, dir) => {
    val big = skewedRows(s, dir)
    // the dimension side (key payloads); dimension-sized but joined
    // through the salted path as if too large to broadcast.
    val dim = big.select("k").distinct()
      .withColumn("payload", length(col("k")).cast("long"))
    saltedJoin(big, dim, Seq("k"), salts = 32)
      .groupBy("k")
      .agg(count(lit(1)).as("n"), sum(col("v")).as("sum_v"),
           sum(col("payload")).as("sum_payload"))
      .orderBy("k")
  }

  private val x2Sql =
    s"""WITH t AS ($skewedSql),
       |dim AS (SELECT k, CAST(length(k) AS BIGINT) AS payload
       |        FROM (SELECT DISTINCT k FROM t))
       |SELECT t.k, count(*) AS n, CAST(sum(t.v) AS BIGINT) AS sum_v,
       |       CAST(sum(dim.payload) AS BIGINT) AS sum_payload
       |FROM t JOIN dim ON t.k = dim.k
       |GROUP BY t.k ORDER BY t.k""".stripMargin

  // -- x3: Bloom-filter semi-join pruning — the OTHER shuffle reducer: a
  //    semi-join whose build side is too big to broadcast as a set but
  //    whose BITS fit anywhere. The build keys fold into mWords 63-bit
  //    words (63, not 64 — DuckDB's `<<` refuses 1<<63, same edge the
  //    63-bit aHash dodges) via bit_or aggregation; the word table
  //    broadcasts; each probe row tests k=2 md5-derived bit positions
  //    and is dropped BEFORE any exchange unless both hit. At 100 TB
  //    this is the filter you push into the fact-table scan so the
  //    shuffle only carries plausible matches; Spark's own runtime
  //    bloom (spark.sql.optimizer.runtime.bloomFilter) does this
  //    opaquely — this query is the engine-visible, oracle-checkable
  //    form. mWords scales with the build count (CASE chain both
  //    engines evaluate); output is the audit: probe rows, bloom
  //    survivors, true matches, false positives.
  private def bloomWords(n: Long): Int =
    if (n <= 5000) 1024 else if (n <= 50000) 8192 else 65536

  private val bloomWordsSql =
    """(SELECT CASE WHEN count(*) <= 5000 THEN 1024
      |  WHEN count(*) <= 50000 THEN 8192 ELSE 65536 END FROM bld)""".stripMargin

  private def h15(i: Int, key: Column): Column =
    conv(substring(md5(concat(lit(s"$i:"), key.cast("string"))), 1, 15), 16, 10)
      .cast("long")

  private def h15Sql(i: Int, key: String): String =
    s"""list_sum(list_transform(range(0, 15), j ->
       |  CAST(strpos('0123456789abcdef',
       |       substr(md5('$i:' || CAST($key AS VARCHAR)), CAST(j AS INT) + 1, 1)) - 1 AS BIGINT)
       |    * (CAST(1 AS BIGINT) << CAST(4 * (14 - j) AS INT))))""".stripMargin

  private val x3BloomPrune: Q = (s, dir) => {
    val bld = Tables.orders(s, dir)
      .filter(col("o_orderpriority") === "1-URGENT")
      .select(col("o_orderkey").as("k")).distinct()
    // one metadata-cheap count sizes the filter, like the LSH bit-width
    val mBits = bloomWords(bld.count()) * 63L
    def positions(df: DataFrame): DataFrame = df
      .withColumn("p0", h15(0, col("k")) % mBits)
      .withColumn("p1", h15(1, col("k")) % mBits)
    val words = positions(bld)
      .select(explode(array(col("p0"), col("p1"))).as("p"))
      .select(expr("CAST(p DIV 63 AS INT)").as("w"),
        expr("shiftleft(CAST(1 AS BIGINT), CAST(p % 63 AS INT))").as("m"))
      .groupBy("w").agg(bit_or(col("m")).as("bits"))
    val probe = positions(
      Tables.lineitem(s, dir).select(col("l_orderkey").as("k")))
      .withColumn("w0", expr("CAST(p0 DIV 63 AS INT)"))
      .withColumn("m0", expr("shiftleft(CAST(1 AS BIGINT), CAST(p0 % 63 AS INT))"))
      .withColumn("w1", expr("CAST(p1 DIV 63 AS INT)"))
      .withColumn("m1", expr("shiftleft(CAST(1 AS BIGINT), CAST(p1 % 63 AS INT))"))
    val b0 = words.select(col("w").as("w0"), col("bits").as("bits0"))
    val b1 = words.select(col("w").as("w1"), col("bits").as("bits1"))
    val cand = probe
      .join(broadcast(b0), Seq("w0"), "left")
      .join(broadcast(b1), Seq("w1"), "left")
      .filter((coalesce(col("bits0"), lit(0L)).bitwiseAND(col("m0")) =!= 0) &&
              (coalesce(col("bits1"), lit(0L)).bitwiseAND(col("m1")) =!= 0))
      .select("k").persist()
    val nProbe = Tables.lineitem(s, dir).select(count(lit(1)).as("n_probe"))
    val nCand = cand.select(count(lit(1)).as("n_candidates"))
    val nTrue = cand.join(bld, Seq("k"), "left_semi")
      .select(count(lit(1)).as("n_matched"))
    nProbe.crossJoin(nCand).crossJoin(nTrue)
      .select(col("n_probe"), col("n_candidates"), col("n_matched"),
        (col("n_candidates") - col("n_matched")).as("n_false_pos"))
  }

  private val x3Sql =
    s"""WITH bld AS (
       |  SELECT DISTINCT o_orderkey AS k FROM orders
       |  WHERE o_orderpriority = '1-URGENT'),
       |mb AS (SELECT $bloomWordsSql * 63 AS mbits),
       |bp AS (
       |  SELECT k, ${h15Sql(0, "k")} % mbits AS p FROM bld, mb
       |  UNION ALL
       |  SELECT k, ${h15Sql(1, "k")} % mbits AS p FROM bld, mb),
       |words AS (
       |  SELECT CAST(p // 63 AS INT) AS w,
       |         bit_or(CAST(1 AS BIGINT) << CAST(p % 63 AS INT)) AS bits
       |  FROM bp GROUP BY 1),
       |pr AS (
       |  SELECT l_orderkey AS k,
       |         ${h15Sql(0, "l_orderkey")} % mbits AS p0,
       |         ${h15Sql(1, "l_orderkey")} % mbits AS p1
       |  FROM lineitem, mb),
       |cand AS (
       |  SELECT pr.k FROM pr
       |  LEFT JOIN words w0 ON w0.w = CAST(pr.p0 // 63 AS INT)
       |  LEFT JOIN words w1 ON w1.w = CAST(pr.p1 // 63 AS INT)
       |  WHERE (COALESCE(w0.bits, 0) & (CAST(1 AS BIGINT) << CAST(pr.p0 % 63 AS INT))) <> 0
       |    AND (COALESCE(w1.bits, 0) & (CAST(1 AS BIGINT) << CAST(pr.p1 % 63 AS INT))) <> 0)
       |SELECT (SELECT count(*) FROM lineitem) AS n_probe,
       |       (SELECT count(*) FROM cand) AS n_candidates,
       |       (SELECT count(*) FROM cand WHERE k IN (SELECT k FROM bld)) AS n_matched,
       |       (SELECT count(*) FROM cand) -
       |       (SELECT count(*) FROM cand WHERE k IN (SELECT k FROM bld)) AS n_false_pos""".stripMargin

  // -- x4: bucketed co-located join — the 100 TB fact⋈fact answer.
  //    Salting (x1/x2) and bloom pruning (x3) fight a shuffle that is
  //    happening; bucketing removes it. Both tables are written once into
  //    the warehouse CLUSTERED BY their join key into the same bucket
  //    count, so every subsequent equi-join on that key is exchange-free
  //    on both sides: Spark's FileSourceScanExec exposes the bucket
  //    hash-partitioning, EnsureRequirements sees the join's requirement
  //    already satisfied, and the sort is per-bucket-file (sortBy) rather
  //    than per-query. That turns the recurring nightly fact⋈fact from
  //    2×(read+hash+write+read) network cost into a pure scan — the
  //    single biggest plan-shape lever a warehouse layout owns. The
  //    build is once-per-corpus (catalog check), amortized across every
  //    query that joins on the key; PlanShapeSpec pins the exchange-free
  //    property so a regression can't silently reintroduce the shuffle.
  private[operators] val bucketCount = 16

  /** Bucketed warehouse copies of orders+lineitem for `dir`, built once
    * per corpus through [[Warehouse.derived]] (and once per JVM: bucket
    * metadata lives in the session catalog; the write is a one-time
    * scan, the same amortization as IvfPqIndex). Returns (ordersTable,
    * lineitemTable). */
  def ensureBucketedTables(s: SparkSession, dir: String): (String, String) = {
    def bucketed(t: String, key: String): String =
      Warehouse.derived(s, s"graft_bkt_${t}_${Warehouse.dirTag(dir)}",
          new java.io.File(dir, s"$t.parquet")) { name =>
        Tables.load(s, dir, t).write.format("parquet")
          .bucketBy(bucketCount, key).sortBy(key)
          .mode("overwrite").saveAsTable(name)
      }
    (bucketed("orders", "o_orderkey"), bucketed("lineitem", "l_orderkey"))
  }

  private val x4BucketedJoin: Q = (s, dir) => {
    val (oTab, lTab) = ensureBucketedTables(s, dir)
    val o = s.table(oTab).select("o_orderkey", "o_orderpriority")
    val l = s.table(lTab).select(col("l_orderkey"),
      Exact.dec2(col("l_extendedprice")).as("price"),
      (lit(1) - Exact.dec2(col("l_discount"))).cast("decimal(4,2)").as("dfac"))
    o.join(l, col("o_orderkey") === col("l_orderkey"))
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_items"),
        sum((col("price") * col("dfac")).cast("decimal(24,4)"))
          .cast("double").as("revenue"))
      .orderBy("o_orderpriority")
  }

  private val x4Sql =
    """WITH l AS (
      |  SELECT l_orderkey,
      |         CAST(l_extendedprice AS DECIMAL(18,2)) AS price,
      |         CAST(1 - CAST(l_discount AS DECIMAL(18,2)) AS DECIMAL(4,2)) AS dfac
      |  FROM lineitem)
      |SELECT o_orderpriority, count(*) AS n_items,
      |       CAST(sum(CAST(price * dfac AS DECIMAL(24,4))) AS DOUBLE) AS revenue
      |FROM orders JOIN l ON o_orderkey = l_orderkey
      |GROUP BY o_orderpriority
      |ORDER BY o_orderpriority""".stripMargin

  // -- x5: transparent summary-table serving — the query is WRITTEN
  //    against the base lineitem fact (filter + group-by + count/sums),
  //    and the SummaryAggRewrite optimizer rule redirects it onto the
  //    pre-aggregated grain table ensured here. The oracle runs the same
  //    SQL against the BASE table in DuckDB, so the correctness gate is
  //    exactly the rewrite's soundness proof: decimal re-aggregation
  //    over the summary must be bit-identical to aggregating the fact.
  //    PlanShapeSpec pins the plan side (summary scanned, fact not) and
  //    the kill switch.
  private val x5MvRewrite: Q = (s, dir) => {
    graft.plans.SummaryAgg.ensureLineitemSummary(s, dir)
    Tables.lineitem(s, dir)
      .filter(col("l_linestatus") === "F")
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        sum(Exact.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(Exact.dec2(col("l_extendedprice"))).cast("double")
          .as("sum_price"))
      .orderBy("l_returnflag")
  }

  private val x5Sql =
    """SELECT l_returnflag, count(*) AS n_items,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem WHERE l_linestatus = 'F'
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- x7: summary-served min/max/avg — x5's transparent-rewrite contract
  //    extended to the round-8 measure coverage: min/max are folded as
  //    min-of-mins/max-of-maxs over the grain table (exact — no
  //    arithmetic), and avg is served as sum(sum_x)/sum(cnt) rebuilt with
  //    Average's own intermediate decimal types so the summary answer is
  //    bit-identical to scanning the fact. The average is emitted as
  //    integer micro-units (BIGINT): Spark's decimal avg double-rounds
  //    (quotient at scale 12, result at scale 6), which the oracle
  //    replicates with exact HUGEINT arithmetic — an integer output makes
  //    the comparison representation-independent (the epoch_ms
  //    precedent).
  private val x7MvMinMaxAvg: Q = (s, dir) => {
    graft.plans.SummaryAgg.ensureLineitemSummary(s, dir)
    Tables.lineitem(s, dir)
      .filter(col("l_returnflag") =!= "N")
      .groupBy("l_returnflag", "l_linestatus")
      .agg(
        count(lit(1)).as("n_items"),
        min(col("l_quantity")).as("min_qty"),
        max(col("l_quantity")).as("max_qty"),
        avg(Exact.dec2(col("l_extendedprice"))).as("avg_price"))
      .withColumn("avg_price_e6",
        (col("avg_price") * lit(1000000)).cast("long"))
      .drop("avg_price")
      .orderBy("l_returnflag", "l_linestatus")
  }

  private val x7Sql =
    """WITH g AS (
      |  SELECT l_returnflag, l_linestatus, count(*) AS n_items,
      |         min(l_quantity) AS min_qty, max(l_quantity) AS max_qty,
      |         CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS s100
      |  FROM lineitem WHERE l_returnflag <> 'N'
      |  GROUP BY l_returnflag, l_linestatus)
      |SELECT l_returnflag, l_linestatus, n_items, min_qty, max_qty,
      |       CAST((((2*s100*10000000000 + n_items) // (2*n_items)) + 500000) // 1000000
      |            AS BIGINT) AS avg_price_e6
      |FROM g ORDER BY l_returnflag, l_linestatus""".stripMargin

  // -- x8: a SECOND summary over a different base fact, served through
  //    the same rewrite rule — the registry keys summaries by base path,
  //    so the orders grain table (o_orderpriority × o_orderstatus) and
  //    the lineitem one coexist and each covered Aggregate reads its
  //    own. Exercises the full measure set (count/sum/min/max/avg) in
  //    one query; avg travels as integer micro-units (x7's rule).
  private val x8MvOrders: Q = (s, dir) => {
    graft.plans.SummaryAgg.ensureOrdersSummary(s, dir)
    Tables.orders(s, dir)
      .filter(col("o_orderstatus") === "F")
      .groupBy("o_orderpriority")
      .agg(
        count(lit(1)).as("n_orders"),
        sum(Exact.dec2(col("o_totalprice"))).cast("double").as("sum_total"),
        min(col("o_totalprice")).as("min_total"),
        max(col("o_totalprice")).as("max_total"),
        avg(Exact.dec2(col("o_totalprice"))).as("avg_total"))
      .withColumn("avg_total_e6",
        (col("avg_total") * lit(1000000)).cast("long"))
      .drop("avg_total")
      .orderBy("o_orderpriority")
  }

  private val x8Sql =
    """WITH g AS (
      |  SELECT o_orderpriority, count(*) AS n_orders,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_total,
      |         min(o_totalprice) AS min_total, max(o_totalprice) AS max_total,
      |         CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) * 100 AS HUGEINT) AS s100
      |  FROM orders WHERE o_orderstatus = 'F'
      |  GROUP BY o_orderpriority)
      |SELECT o_orderpriority, n_orders, sum_total, min_total, max_total,
      |       CAST((((2*s100*10000000000 + n_orders) // (2*n_orders)) + 500000) // 1000000
      |            AS BIGINT) AS avg_total_e6
      |FROM g ORDER BY o_orderpriority""".stripMargin

  // -- x6: Z-order clustered scan — the query reads the Morton-clustered
  //    warehouse copy of lineitem (graft.sources.ZOrder) with a 2-D box
  //    predicate on the two interleaved columns. The bounds derive from
  //    the part/supplier dimension COUNTS (key spaces are 0..n-1 in this
  //    corpus), resolved to literals at plan time so both range filters
  //    push down to the parquet scan — pushed stats filters against a
  //    clustered layout is precisely the skipping mechanism, and
  //    ZOrderSpec proves the row-group pruning it buys. The oracle runs
  //    the same box against the UNORDERED base fact: layout must never
  //    change content.
  private val x6ZOrderBox: Q = (s, dir) => {
    val t = graft.sources.ZOrder.ensureZLineitem(s, dir)
    val pMax = Tables.part(s, dir).count() - 1
    val sMax = Tables.supplier(s, dir).count() - 1
    s.table(t)
      .filter(col("l_partkey").between(pMax * 3 / 10, pMax * 4 / 10) &&
              col("l_suppkey").between(sMax * 2 / 10, sMax * 5 / 10))
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_items"),
        sum(Exact.dec2(col("l_quantity"))).cast("double").as("sum_qty"),
        sum(Exact.dec2(col("l_extendedprice"))).cast("double")
          .as("sum_price"))
      .orderBy("l_returnflag")
  }

  private val x6Sql =
    """WITH b AS (
      |  SELECT (SELECT (count(*)-1)*3//10 FROM part) AS plo,
      |         (SELECT (count(*)-1)*4//10 FROM part) AS phi,
      |         (SELECT (count(*)-1)*2//10 FROM supplier) AS slo,
      |         (SELECT (count(*)-1)*5//10 FROM supplier) AS shi)
      |SELECT l_returnflag, count(*) AS n_items,
      |       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
      |       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM lineitem, b
      |WHERE l_partkey BETWEEN plo AND phi AND l_suppkey BETWEEN slo AND shi
      |GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin

  // -- x9: bucketized interval (range) join — each `error` event opens a
  //    10-minute window; count the click/view/purchase events landing
  //    inside any window, per window. The naive form is a pure-inequality
  //    join (`t.m BETWEEN e.m0 AND e.m0+W`), which has no equi-key, so
  //    Spark can only plan a broadcast-nested-loop — O(|errors|·|events|)
  //    comparisons, dead at 100 TB. The scale pattern: quantize time into
  //    buckets of the window length; every interval overlaps at most 2
  //    buckets (exploded to ≤2 rows — bounded, unlike exploding per-second
  //    keys), every point falls in exactly 1; the join becomes a hash
  //    equi-join on the bucket followed by the exact range filter. Work
  //    drops to the pairs that share a bucket — the same candidates the
  //    inequality would have matched, plus only the same-bucket near
  //    misses. A window exploded to 2 distinct buckets can meet a point
  //    (which has 1 bucket) at most once, so no dedup pass is needed.
  //    All outputs are integer counts — exact on any engine.
  private val x9WindowUs = 600000000L // 10 min in microseconds

  private val x9IntervalJoin: Q = (s, dir) => {
    val W = x9WindowUs
    val ev = Tables.events(s, dir)
      .select(col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("m"))
    val errs = ev.where(col("event_type") === "error")
      .select(col("event_id").as("err_id"), col("m").as("m0"))
    val winBuckets = errs.select(col("err_id"), col("m0"),
      explode(array(expr(s"m0 div $W"), expr(s"m0 div $W + 1")))
        .as("bucket"))
    val tgt = ev.where(col("event_type") =!= "error")
      .select(col("event_type"), col("m").as("mt"),
        expr(s"m div $W").as("bucket"))
    winBuckets.join(tgt, "bucket")
      .where(col("mt") > col("m0") && col("mt") < col("m0") + W)
      .groupBy("err_id")
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("event_type") === "click", 1L).otherwise(0L))
          .as("n_click"),
        sum(when(col("event_type") === "view", 1L).otherwise(0L))
          .as("n_view"),
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .as("n_purchase"))
      .orderBy(col("n_events").desc, col("err_id"))
      .limit(20)
  }

  private val x9Sql =
    s"""WITH ev AS (
       |  SELECT event_id, event_type, epoch_us(ts) AS m FROM events),
       |errs AS (
       |  SELECT event_id AS err_id, m AS m0 FROM ev
       |  WHERE event_type = 'error'),
       |tgt AS (
       |  SELECT event_type, m FROM ev WHERE event_type <> 'error')
       |SELECT err_id, count(*) AS n_events,
       |       CAST(sum(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_click,
       |       CAST(sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_view,
       |       CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
       |         AS BIGINT) AS n_purchase
       |FROM errs JOIN tgt
       |  ON tgt.m > errs.m0 AND tgt.m < errs.m0 + $x9WindowUs
       |GROUP BY err_id
       |ORDER BY n_events DESC, err_id LIMIT 20""".stripMargin

  def queries: Map[String, Q] = Map(
    "x9_interval_bucket_join" -> x9IntervalJoin,
    "x8_mv_orders"        -> x8MvOrders,
    "x7_mv_minmax_avg"    -> x7MvMinMaxAvg,
    "x6_zorder_box"       -> x6ZOrderBox,
    "x5_mv_rewrite"       -> x5MvRewrite,
    "x4_bucketed_join"    -> x4BucketedJoin,
    "x1_skew_salted_agg"  -> x1SaltedAgg,
    "x2_skew_salted_join" -> x2SaltedJoin,
    "x3_bloom_prune"      -> x3BloomPrune)

  def oracles: Map[String, String] = Map(
    "x9_interval_bucket_join" -> x9Sql,
    "x8_mv_orders"        -> x8Sql,
    "x7_mv_minmax_avg"    -> x7Sql,
    "x6_zorder_box"       -> x6Sql,
    "x5_mv_rewrite"       -> x5Sql,
    "x4_bucketed_join"    -> x4Sql,
    "x1_skew_salted_agg"  -> x1Sql,
    "x2_skew_salted_join" -> x2Sql,
    "x3_bloom_prune"      -> x3Sql)
}
