package graft.operators

import graft.{QueryPack, Tables}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Window / sort-limit / scalar-function operators (SURVEY.md §2.5, §2.6,
  * §2.8, plus the P6/P7 gate filters of §2.2).
  *
  * Scale notes:
  *   - "latest group" selection (w3) is a broadcast of a 1-row aggregate,
  *     never a global window (a global `Window.orderBy` would serialize all
  *     rows through one partition at 100 TB);
  *   - per-group head-1 (o4) is `row_number` over the group key — shuffles
  *     once on the key, no driver collect;
  *   - global top-k (o5) is `orderBy.limit(k)` which Spark executes as
  *     per-partition top-k + driver merge of k·p rows, not a full sort.
  */
object WindowedScalar extends QueryPack {

  // -- w3: "last proposal" selection (run_image_extraction.py:966-968) —
  //    rows belonging to the max group, via broadcast 1-row max, then a
  //    small grouped rollup.
  private val w3LatestMonth: Q = (s, dir) => {
    val o = Tables.orders(s, dir)
      .withColumn("order_month", trunc(col("o_orderdate"), "month"))
    val latest = o.agg(max(col("order_month")).as("order_month"))
    o.join(broadcast(latest), "order_month")
      .groupBy("o_orderpriority")
      .agg(count(lit(1)).as("n_orders"),
           sum(graft.Exact.dec2(col("o_totalprice"))).cast("double")
             .as("sum_price"))
      .orderBy("o_orderpriority")
  }

  private val w3Sql =
    """WITH o AS (SELECT *, CAST(date_trunc('month', o_orderdate) AS DATE) AS order_month FROM orders)
      |SELECT o_orderpriority, count(*) AS n_orders,
      |       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
      |FROM o WHERE order_month = (SELECT max(order_month) FROM o)
      |GROUP BY o_orderpriority ORDER BY o_orderpriority""".stripMargin

  // -- o4: head-1 per group (database_update.py:87 `query[0][0]` idiom made
  //    deterministic): first order per customer by (date, key).
  private val o4FirstPerGroup: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1)
      .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
      .orderBy("o_custkey")
  }

  private val o4Sql =
    """WITH r AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate, o_orderkey) AS rn
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      |FROM r WHERE rn = 1 ORDER BY o_custkey""".stripMargin

  // -- o5: latest/largest top-k (plot_model_on_reality.py:282-294 "last
  //    coeffs" idiom): deterministic global top-5.
  private val o5TopK: Q = (s, dir) => {
    Tables.orders(s, dir)
      .select("o_orderkey", "o_custkey", "o_totalprice")
      .orderBy(desc("o_totalprice"), col("o_orderkey"))
      .limit(5)
  }

  private val o5Sql =
    """SELECT o_orderkey, o_custkey, o_totalprice
      |FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5""".stripMargin

  // -- w4: grouped top-k via the custom Catalyst operator
  //    (plans.GroupedTopK): k cheapest orders per customer. Same
  //    semantics as the o4-style row_number window (the oracle uses it),
  //    but the physical plan is partial-heap → exchange of ≤ groups×k
  //    rows → final-heap instead of a full shuffle+sort of every row —
  //    the 100 TB form of W1/O5. Ties are impossible: (totalprice,
  //    orderkey) is total.
  private val w4GroupedTopK: Q = (s, dir) =>
    graft.plans.GroupedTopK.topK(
      Tables.orders(s, dir)
        .select("o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"),
      Seq("o_custkey"), 3,
      col("o_totalprice").asc, col("o_orderkey").asc)
      .orderBy("o_custkey", "o_totalprice", "o_orderkey")

  private val w4Sql =
    """WITH r AS (
      |  SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice,
      |         row_number() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_totalprice, o_orderkey) AS rn
      |  FROM orders)
      |SELECT o_custkey, o_orderkey, o_orderdate, o_totalprice
      |FROM r WHERE rn <= 3
      |ORDER BY o_custkey, o_totalprice, o_orderkey""".stripMargin

  // -- w6: running total per group — cumulative revenue per customer in
  //    order-date order. One shuffle on the group key; the cumulative sum
  //    accumulates in exact DECIMAL (every prefix is order-independent
  //    within its frame), crossing to the hashed output via the
  //    string-routed double cast. Frame is pinned to ROWS (not the RANGE
  //    default) so date ties accumulate row-at-a-time identically on both
  //    engines, with o_orderkey as the total tie-break.
  private val w6RunningTotal: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"),
        graft.Exact.dec2(col("o_totalprice")).as("p"))
      .withColumn("running_total",
        sum(col("p")).over(w).cast("string").cast("double"))
      .select("o_custkey", "o_orderkey", "o_orderdate", "running_total")
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  private val w6Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       CAST(CAST(sum(CAST(o_totalprice AS DECIMAL(18,2)))
      |         OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
      |               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS VARCHAR) AS DOUBLE)
      |         AS running_total
      |FROM orders WHERE o_custkey < 200
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // -- w7: the ranking family — rank/dense_rank computed over DATE-only
  //    ordering (ties are real, and both functions are deterministic on
  //    ties because tied rows share a value; row_number there would NOT
  //    be), plus ntile(4) over the fully-keyed total order (deterministic
  //    only because the order is total). One shuffle on the group key —
  //    both windows share the partitioning, so the second sort is local.
  private val w7RankFamily: Q = (s, dir) => {
    val byDate = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    val total = Window.partitionBy("o_custkey")
      .orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("rnk", rank().over(byDate))
      .withColumn("drnk", dense_rank().over(byDate))
      .withColumn("quartile", ntile(4).over(total))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  private val w7Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS rnk,
      |       dense_rank() OVER (PARTITION BY o_custkey ORDER BY o_orderdate) AS drnk,
      |       ntile(4) OVER (PARTITION BY o_custkey
      |                      ORDER BY o_orderdate, o_orderkey) AS quartile
      |FROM orders WHERE o_custkey < 200
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // -- w14: the distribution window functions — percent_rank (relative
  //    rank in [0,1]) and cume_dist (fraction of peers at-or-below),
  //    completing the ranking family w7 opened. Both are deterministic
  //    over the tie-bearing DATE ordering because tied rows share the
  //    value, and both are exact cross-engine: each is one IEEE division
  //    of two integers ((rank−1)/(n−1), rows_le/n) — a single exactly-
  //    specified op, no accumulation. Same scale shape as w7: one
  //    shuffle on the group key, both functions share the window sort.
  private val w14Distribution: Q = (s, dir) => {
    val byDate = Window.partitionBy("o_custkey").orderBy("o_orderdate")
    Tables.orders(s, dir)
      .filter(col("o_custkey") < 200)
      .select(col("o_custkey"), col("o_orderkey"), col("o_orderdate"))
      .withColumn("pr", percent_rank().over(byDate))
      .withColumn("cd", cume_dist().over(byDate))
      .orderBy("o_custkey", "o_orderdate", "o_orderkey")
  }

  private val w14Sql =
    """SELECT o_custkey, o_orderkey, o_orderdate,
      |       percent_rank() OVER (PARTITION BY o_custkey
      |                            ORDER BY o_orderdate) AS pr,
      |       cume_dist() OVER (PARTITION BY o_custkey
      |                         ORDER BY o_orderdate) AS cd
      |FROM orders WHERE o_custkey < 200
      |ORDER BY o_custkey, o_orderdate, o_orderkey""".stripMargin

  // -- a12: count + recovered-fraction arithmetic
  //    (compare_idl_python.py:373-391): fraction of lineitems shipped late
  //    per returnflag, as 100·(1 − (n − n_late)/n).
  private val a12CountFraction: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .groupBy("l_returnflag")
      .agg(
        count(lit(1)).as("n_total"),
        count(when(col("l_shipdate") > lit("1997-01-01").cast("timestamp"),
                   1)).as("n_late"))
      .withColumn("recovered_pct",
        lit(100.0) * (lit(1.0) -
          (col("n_total") - col("n_late")).cast("double") /
          col("n_total").cast("double")))
      .orderBy("l_returnflag")
  }

  private val a12Sql =
    """WITH c AS (
      |  SELECT l_returnflag, count(*) AS n_total,
      |         count(CASE WHEN l_shipdate > TIMESTAMP '1997-01-01' THEN 1 END) AS n_late
      |  FROM lineitem GROUP BY l_returnflag)
      |SELECT l_returnflag, n_total, n_late,
      |       100.0 * (1.0 - CAST(n_total - n_late AS DOUBLE) / CAST(n_total AS DOUBLE)) AS recovered_pct
      |FROM c ORDER BY l_returnflag""".stripMargin

  // -- f-string: the reference's name-parsing idioms
  //    (database_update.py:292-296, 681-698): split / cast / upper / lpad /
  //    concat_ws / substring / contains-dispatch.
  private val fStringParse: Q = (s, dir) => {
    Tables.customer(s, dir)
      .select(
        col("c_custkey"),
        split(col("c_name"), "#").getItem(1).cast("long").as("parsed_key"),
        upper(col("c_mktsegment")).as("seg_upper"),
        lpad(col("c_custkey").cast("string"), 9, "0").as("padded_key"),
        concat_ws("_", col("c_mktsegment"),
                  col("c_nationkey").cast("string")).as("seg_nation"),
        substring(col("c_name"), 1, 8).as("name_prefix"),
        when(col("c_mktsegment").contains("HOLD"), "H")
          .otherwise("O").as("seg_class"))
      .orderBy("c_custkey")
  }

  private val fStringSql =
    """SELECT c_custkey,
      |       CAST(string_split(c_name, '#')[2] AS BIGINT) AS parsed_key,
      |       upper(c_mktsegment) AS seg_upper,
      |       lpad(CAST(c_custkey AS VARCHAR), 9, '0') AS padded_key,
      |       concat_ws('_', c_mktsegment, CAST(c_nationkey AS VARCHAR)) AS seg_nation,
      |       substr(c_name, 1, 8) AS name_prefix,
      |       CASE WHEN contains(c_mktsegment, 'HOLD') THEN 'H' ELSE 'O' END AS seg_class
      |FROM customer ORDER BY c_custkey""".stripMargin

  // -- f-math: division / sqrt / abs / square / floor / fmod (§2.8 math
  //    row). Only IEEE-754 correctly-rounded ops appear in the hashed
  //    output: transcendentals (log10 etc.) differ in the last ulp between
  //    JVM Math and DuckDB's libm (observed on 18/8590 rows in round 1), so
  //    log10 coverage lives in a4_bin_clip_mean instead, and the squared
  //    term is written as an explicit product, not pow() (libm pow is not
  //    guaranteed correctly rounded even for integer exponents).
  private val fMath: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .filter(col("l_linenumber") === 1)
      .select(
        col("l_orderkey"),
        (col("l_extendedprice") / col("l_quantity")).as("price_per_qty"),
        sqrt(col("l_quantity")).as("sqrt_qty"),
        abs(col("l_discount") - 0.05).as("abs_disc_dev"),
        ((col("l_tax") + 1.0) * (col("l_tax") + 1.0)).as("tax_sq"),
        floor(col("l_extendedprice") / 1000.0).as("price_bucket"),
        (col("l_quantity") % 7.0).as("qty_mod7"))
      .orderBy("l_orderkey")
  }

  private val fMathSql =
    """SELECT l_orderkey,
      |       l_extendedprice / l_quantity AS price_per_qty,
      |       sqrt(l_quantity) AS sqrt_qty,
      |       abs(l_discount - 0.05) AS abs_disc_dev,
      |       (l_tax + 1.0) * (l_tax + 1.0) AS tax_sq,
      |       -- CAST: DuckDB floor() returns DOUBLE, Spark floor() returns
      |       -- BIGINT; the driver hashes typed values so they must agree.
      |       CAST(floor(l_extendedprice / 1000.0) AS BIGINT) AS price_bucket,
      |       fmod(l_quantity, 7.0) AS qty_mod7
      |FROM lineitem WHERE l_linenumber = 1 ORDER BY l_orderkey""".stripMargin

  // -- f-date: date/time scalar family (§2.8): extraction, offset
  //    arithmetic, day differences against a fixed epoch (the reference's
  //    MJD ± 30 day window arithmetic, database_queries.py:177-180).
  private val fDate: Q = (s, dir) => {
    Tables.orders(s, dir)
      .select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("y"),
        month(col("o_orderdate")).as("m"),
        dayofmonth(col("o_orderdate")).as("d"),
        date_add(col("o_orderdate").cast("date"), 30).as("plus30"),
        datediff(col("o_orderdate").cast("date"),
                 lit("1995-01-01").cast("date")).as("days_since_epoch"))
      .orderBy("o_orderkey")
  }

  private val fDateSql =
    """SELECT o_orderkey,
      |       CAST(year(o_orderdate) AS INT) AS y,
      |       CAST(month(o_orderdate) AS INT) AS m,
      |       CAST(day(o_orderdate) AS INT) AS d,
      |       CAST(o_orderdate AS DATE) + 30 AS plus30,
      |       datediff('day', DATE '1995-01-01', CAST(o_orderdate AS DATE)) AS days_since_epoch
      |FROM orders ORDER BY o_orderkey""".stripMargin

  // -- p6: validity gating with an observability column — the reference
  //    drops images via sentinel strings ('false_chinject' …,
  //    run_image_extraction.py:274-339); here every row gets a
  //    reject-reason and survivors are counted per reason.
  private val p6GateFlags: Q = (s, dir) => {
    Tables.lineitem(s, dir)
      .withColumn("gate",
        when(col("l_quantity") > 45, "false_high_qty")
          .when(col("l_discount") > 0.08, "false_high_disc")
          .when(col("l_returnflag") === "R", "false_returned")
          .otherwise("ok"))
      .groupBy("gate")
      .agg(count(lit(1)).as("n"))
      .orderBy("gate")
  }

  private val p6Sql =
    """SELECT CASE WHEN l_quantity > 45 THEN 'false_high_qty'
      |            WHEN l_discount > 0.08 THEN 'false_high_disc'
      |            WHEN l_returnflag = 'R' THEN 'false_returned'
      |            ELSE 'ok' END AS gate,
      |       count(*) AS n
      |FROM lineitem GROUP BY 1 ORDER BY gate""".stripMargin

  // -- p7: config-blocklist exclusion (run_image_extraction.py:994-1016,
  //    implemented *correctly*, unlike the reference's precedence bug —
  //    SURVEY.md §7.1): drop blocklisted (status, priority) pairs.
  private val blocklist = Seq(("F", "1-URGENT"), ("O", "5-LOW"))

  private val p7Blocklist: Q = (s, dir) => {
    val blocked = blocklist
      .map { case (st, pr) =>
        col("o_orderstatus") === st && col("o_orderpriority") === pr }
      .reduce(_ || _)
    Tables.orders(s, dir)
      .filter(!blocked)
      .groupBy("o_orderstatus", "o_orderpriority")
      .agg(count(lit(1)).as("n"))
      .orderBy("o_orderstatus", "o_orderpriority")
  }

  private val p7Sql =
    """SELECT o_orderstatus, o_orderpriority, count(*) AS n
      |FROM orders
      |WHERE NOT ((o_orderstatus = 'F' AND o_orderpriority = '1-URGENT')
      |        OR (o_orderstatus = 'O' AND o_orderpriority = '5-LOW'))
      |GROUP BY o_orderstatus, o_orderpriority
      |ORDER BY o_orderstatus, o_orderpriority""".stripMargin

  // -- w8: exact discrete percentiles (p50/p90/p99) per group. The
  //    oracle's formulation: ONE shuffle+sort serves all three
  //    percentiles — row_number + count over the same window, then a
  //    pivot-style conditional aggregate.
  //    Rank targets use pure-integer ceil division ((p·n + q−1) div q) so
  //    both engines pick the same element; (value, event_id) ordering
  //    makes ties deterministic. Values cross as per-row doubles (no
  //    aggregation → no accumulation drift).
  //    SCALE SHAPE (r12): the row_number formulation sorted the WHOLE
  //    fact table into #event_type partitions — the same low-cardinality
  //    window hazard a2's plan had (measured there: 274 s vs 21 s at
  //    sf10, the sort concentrating 50M rows in ≤6 tasks). The selected
  //    element at rank r is a VALUE, and equal values are interchangeable
  //    under the (v, event_id) order — so the value at rank r is the
  //    smallest v whose cumulative count reaches r. That computes from
  //    ONE map-side-combined hash aggregate over (event_type, v); only
  //    distinct values cross the exchange, and the cumulative pass runs
  //    over the aggregated table, never the fact rows. Identical output
  //    to the row_number formulation the oracle SQL keeps (RankSelectSpec
  //    pins golden rows recorded from it).
  private[graft] def w8ByCumDist(s: SparkSession, dir: String): DataFrame = {
    val cnt = Tables.events(s, dir)
      .select(col("event_type"),
        graft.Exact.dec2(col("value")).cast("double").as("v"))
      .groupBy("event_type", "v")
      .agg(count(lit(1)).as("c"))
    val cum = cnt
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("event_type").orderBy("v")))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy("event_type")))
    cum.groupBy("event_type")
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("p50"),
        min(when(col("cum") >= expr("(n * 9 + 9) div 10"), col("v"))).as("p90"),
        min(when(col("cum") >= expr("(n * 99 + 99) div 100"), col("v"))).as("p99"))
      .orderBy("event_type")
  }

  private val w8Percentiles: Q = w8ByCumDist

  private val w8Sql =
    """WITH t AS (
      |  SELECT event_type, event_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v,
      |         row_number() OVER (PARTITION BY event_type
      |                            ORDER BY CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE), event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events)
      |SELECT event_type, max(n) AS n,
      |       max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS p50,
      |       max(CASE WHEN rn = (n * 9 + 9) // 10 THEN v END) AS p90,
      |       max(CASE WHEN rn = (n * 99 + 99) // 100 THEN v END) AS p99
      |FROM t GROUP BY event_type ORDER BY event_type""".stripMargin

  // -- dq2: robust outlier detection per event_type — median/MAD
  //    z-scoring, the heavy-tail-safe cousin of the mean/stddev rule
  //    (one fat outlier inflates a stddev and hides its peers; the
  //    median absolute deviation shrugs it off). Everything is
  //    SELECTION, never interpolation: the median is the (n+1) div 2
  //    order statistic under the deterministic (value, event_id) order
  //    (w8's idiom), the MAD the same statistic over |v − med|, and the
  //    outlier rule |v − med| > 3·MAD uses only IEEE-exact ops
  //    (subtract, abs, multiply, compare) on identical operands — so
  //    both engines flag identical rows, no tolerance needed.
  //    Oracle shape: two window sorts + three narrow aggregates, all
  //    keyed on event_type. Exact per-group medians are sort-based by
  //    nature; the sorts partition by group key, so 1000 executors each
  //    sort their own groups — no global sort, no driver state.
  //    SCALE SHAPE (r12): both window sorts carried the WHOLE fact table
  //    in #event_type partitions (a2's low-cardinality hazard). Every
  //    emitted statistic is value-only (median, MAD, a count), so the
  //    whole query computes from ONE map-side-combined aggregate over
  //    (event_type, v): rank selection becomes cumulative-count
  //    selection over distinct values (w8's rewrite), the deviation
  //    table derives from the SAME aggregate with counts carried, and
  //    the outlier count is the count-weighted sum. The fact table is
  //    scanned once and never sorted. Identical output to the window
  //    formulation the oracle SQL keeps (RankSelectSpec pins golden rows).
  private[graft] def dq2ByCumDist(s: SparkSession, dir: String): DataFrame = {
    // referenced three times (median select, deviation table, outlier
    // count) — materialized once via localCheckpoint so the fact scan
    // runs once. NOT persist(): a persisted fragment lives in the
    // session's CacheManager and gets spliced into ANY other query whose
    // plan contains the bit-identical subtree (w8 does), and nothing in
    // this function can unpersist it after the caller consumes the lazy
    // result. Checkpoint blocks are RDD-level — invisible to plan
    // substitution — and every harness frees them via Graph.release.
    val cnt = Tables.events(s, dir)
      .select(col("event_type"),
        graft.Exact.dec2(col("value")).cast("double").as("v"))
      .groupBy("event_type", "v")
      .agg(count(lit(1)).as("c"))
      .localCheckpoint()
    val med = cnt
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("event_type").orderBy("v")))
      .withColumn("n",
        sum(col("c")).over(Window.partitionBy("event_type")))
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        min(when(col("cum") >= expr("(n + 1) div 2"), col("v"))).as("med"))
    val dev = cnt.join(broadcast(med), "event_type")
      .withColumn("dev", abs(col("v") - col("med")))
    val mad = dev
      .groupBy("event_type", "n", "dev")
      .agg(sum(col("c")).as("c"))
      .withColumn("cum",
        sum(col("c")).over(Window.partitionBy("event_type").orderBy("dev")))
      .groupBy("event_type")
      .agg(min(when(col("cum") >= expr("(n + 1) div 2"), col("dev"))).as("mad"))
    dev.join(broadcast(mad), "event_type")
      .groupBy("event_type")
      .agg(max(col("n")).as("n"),
        max(col("med")).as("med"),
        max(col("mad")).as("mad"),
        sum(when(col("dev") > lit(3.0) * col("mad"), col("c")).otherwise(0L))
          .as("n_outliers"))
      .orderBy("event_type")
  }

  private val dq2MadOutliers: Q = dq2ByCumDist

  private val dq2Sql =
    """WITH t AS (
      |  SELECT event_type, event_id,
      |         CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE) AS v,
      |         row_number() OVER (PARTITION BY event_type
      |           ORDER BY CAST(CAST(value AS DECIMAL(18,2)) AS DOUBLE),
      |                    event_id) AS rn,
      |         count(*) OVER (PARTITION BY event_type) AS n
      |  FROM events),
      |med AS (
      |  SELECT event_type, max(n) AS n,
      |         max(CASE WHEN rn = (n + 1) // 2 THEN v END) AS med
      |  FROM t GROUP BY event_type),
      |dev AS (
      |  SELECT t.event_type, t.event_id, t.v, med.n, med.med,
      |         abs(t.v - med.med) AS dev
      |  FROM t JOIN med USING (event_type)),
      |mad AS (
      |  SELECT event_type,
      |         max(CASE WHEN rn2 = (n + 1) // 2 THEN dev END) AS mad
      |  FROM (SELECT event_type, n, dev,
      |               row_number() OVER (PARTITION BY event_type
      |                 ORDER BY dev, event_id) AS rn2
      |        FROM dev) GROUP BY event_type)
      |SELECT dev.event_type, max(dev.n) AS n, max(dev.med) AS med,
      |       max(mad.mad) AS mad,
      |       CAST(sum(CASE WHEN dev.dev > 3.0 * mad.mad THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_outliers
      |FROM dev JOIN mad USING (event_type)
      |GROUP BY dev.event_type ORDER BY event_type""".stripMargin

  // -- f2: conversion funnel — per signup cohort (day of first signup),
  //    how many users signed up and how many later purchased. Two narrow
  //    conditional aggregates per user (one shuffle on user_id), then a
  //    cohort rollup (second shuffle of |users| rows) — no self-join of
  //    the event log against itself, which is the naive funnel shape that
  //    dies at scale. Times are epoch-millis BIGINT; the cohort key is an
  //    epoch DAY NUMBER (integer division), never a DATE/timestamp.
  private val f2Funnel: Q = (s, dir) => {
    val perUser = Tables.events(s, dir)
      .select(col("user_id"), col("event_type"),
        unix_millis(col("ts")).as("ms"))
      .groupBy("user_id")
      .agg(
        min(when(col("event_type") === "signup", col("ms"))).as("signup_ms"),
        max(when(col("event_type") === "purchase", col("ms"))).as("last_purchase_ms"))
      .filter(col("signup_ms").isNotNull)
    perUser
      .withColumn("cohort_day", expr("signup_ms div 86400000"))
      .withColumn("converted",
        when(col("last_purchase_ms") > col("signup_ms"), 1L).otherwise(0L))
      .groupBy("cohort_day")
      .agg(count(lit(1)).as("n_signups"),
        sum(col("converted")).as("n_converted"),
        (sum(col("converted")).cast("double") /
          count(lit(1)).cast("double")).as("conv_rate"))
      .orderBy("cohort_day")
  }

  private val f2Sql =
    """WITH pu AS (
      |  SELECT user_id,
      |         min(CASE WHEN event_type = 'signup' THEN epoch_ms(ts) END) AS signup_ms,
      |         max(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) END) AS last_purchase_ms
      |  FROM events GROUP BY user_id),
      |f AS (
      |  SELECT signup_ms // 86400000 AS cohort_day,
      |         CASE WHEN last_purchase_ms > signup_ms THEN 1 ELSE 0 END AS converted
      |  FROM pu WHERE signup_ms IS NOT NULL)
      |SELECT cohort_day, count(*) AS n_signups,
      |       CAST(sum(converted) AS BIGINT) AS n_converted,
      |       CAST(sum(converted) AS DOUBLE) / CAST(count(*) AS DOUBLE) AS conv_rate
      |FROM f GROUP BY cohort_day ORDER BY cohort_day""".stripMargin

  // -- f4: JSON extraction — the semi-structured payload column every
  //    event pipeline carries. Path extraction is a per-row codegen'd
  //    scalar (no UDF, no shuffle); the rollup then groups on the parsed
  //    value. Integer outputs only: JSON numbers re-emitted as text could
  //    differ in formatting across engines, parsed BIGINTs cannot.
  private val f4JsonExtract: Q = (s, dir) => {
    Tables.events(s, dir)
      .withColumn("k", get_json_object(col("props"), "$.k").cast("long"))
      .filter(col("k").isNotNull)
      .groupBy(col("event_type"), expr("k % 10").as("k_mod"))
      .agg(count(lit(1)).as("n"), sum(col("k")).as("sum_k"),
        min(col("k")).as("min_k"), max(col("k")).as("max_k"))
      .orderBy("event_type", "k_mod")
  }

  private val f4Sql =
    """WITH t AS (
      |  SELECT event_type,
      |         CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
      |  FROM events)
      |SELECT event_type, k % 10 AS k_mod, count(*) AS n,
      |       CAST(sum(k) AS BIGINT) AS sum_k,
      |       min(k) AS min_k, max(k) AS max_k
      |FROM t WHERE k IS NOT NULL
      |GROUP BY event_type, k % 10
      |ORDER BY event_type, k_mod""".stripMargin

  // -- w9: calendar-spine gap fill — the warehouse densification step: a
  //    per-user daily activity series over the FULL corpus date range,
  //    with missing days forward-filled from the last active day. The
  //    spine is dimension-sized (|users| × |days|): day list and bounds
  //    come from one 1-row aggregate, users broadcast-cross the exploded
  //    days, and the fill is last(ignoreNulls) over one window pass per
  //    user — a single shuffle on user_id regardless of corpus size.
  //    Value sums route through DECIMAL(18,2) like every float aggregate
  //    (st1 precedent) so the fill is bit-stable cross-engine.
  private val w9GapFill: Q = (s, dir) => {
    val ev = Tables.events(s, dir)
      .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
    val daily = ev.groupBy("user_id", "day")
      .agg(count(lit(1)).as("n_events"),
        sum(col("value").cast("decimal(18,2)")).cast("double").as("day_sum"))
    val days = ev.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      .select(explode(sequence(col("d0"), col("d1"),
        expr("interval 1 day"))).as("day"))
    val grid = ev.select("user_id").distinct().crossJoin(broadcast(days))
    val w = Window.partitionBy("user_id").orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    grid.join(daily, Seq("user_id", "day"), "left")
      .select(col("user_id"), col("day"),
        coalesce(col("n_events"), lit(0L)).as("n_events"),
        last(col("day_sum"), ignoreNulls = true).over(w).as("filled_sum"))
      .orderBy("user_id", "day")
  }

  private val w9Sql =
    """WITH ev AS (
      |  SELECT user_id, CAST(ts AS DATE) AS day, value FROM events),
      |daily AS (
      |  SELECT user_id, day, count(*) AS n_events,
      |         CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS day_sum
      |  FROM ev GROUP BY 1, 2),
      |b AS (SELECT min(day) AS d0, max(day) AS d1 FROM ev),
      |days AS (
      |  SELECT CAST(unnest(generate_series(CAST(d0 AS TIMESTAMP),
      |           CAST(d1 AS TIMESTAMP), INTERVAL 1 DAY)) AS DATE) AS day
      |  FROM b),
      |grid AS (SELECT u.user_id, d.day
      |         FROM (SELECT DISTINCT user_id FROM ev) u, days d)
      |SELECT g.user_id, g.day,
      |       COALESCE(dl.n_events, 0) AS n_events,
      |       last_value(dl.day_sum IGNORE NULLS) OVER (
      |         PARTITION BY g.user_id ORDER BY g.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS filled_sum
      |FROM grid g LEFT JOIN daily dl
      |  ON dl.user_id = g.user_id AND dl.day = g.day
      |ORDER BY g.user_id, g.day""".stripMargin

  // -- w12: daily active / new / returning users with a cumulative
  //    total — the growth dashboard staple. The naive form needs
  //    count(DISTINCT) OVER a cumulative window, which neither engine
  //    supports (and which at scale would drag every user id through
  //    every frame). The scale idiom: dedup to (user, day) once, mark
  //    each user's FIRST day with one min-aggregate, and everything
  //    else is per-day integer counts — "returning" is dau − new, and
  //    the cumulative user count is a running sum over the
  //    days-cardinality table (tiny by construction), not over events.
  //    Epoch day numbers (integer division) keep the key integer-exact.
  private val w12NewVsReturning: Q = (s, dir) => {
    val ud = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .distinct()
    val firstDay = ud.groupBy("user_id").agg(min(col("day")).as("fd"))
    val daily = ud.groupBy("day").agg(count(lit(1)).as("dau"))
    val news = firstDay.groupBy(col("fd").as("day"))
      .agg(count(lit(1)).as("new_users"))
    val wCum = Window.orderBy("day")
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.join(news, Seq("day"), "left")
      .select(col("day"), col("dau"),
        coalesce(col("new_users"), lit(0L)).as("new_users"))
      .withColumn("returning", col("dau") - col("new_users"))
      .withColumn("cum_users", sum(col("new_users")).over(wCum))
      .orderBy("day")
  }

  private val w12Sql =
    """WITH ud AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 86400000 AS day
      |  FROM events),
      |fd AS (SELECT user_id, min(day) AS fd FROM ud GROUP BY user_id),
      |daily AS (SELECT day, count(*) AS dau FROM ud GROUP BY day),
      |news AS (SELECT fd AS day, count(*) AS new_users FROM fd GROUP BY fd)
      |SELECT d.day, d.dau,
      |       coalesce(n.new_users, 0) AS new_users,
      |       d.dau - coalesce(n.new_users, 0) AS returning,
      |       CAST(sum(coalesce(n.new_users, 0)) OVER (ORDER BY d.day
      |         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
      |         AS BIGINT) AS cum_users
      |FROM daily d LEFT JOIN news n ON n.day = d.day
      |ORDER BY d.day""".stripMargin

  // -- w16: weekly GROWTH ACCOUNTING — the WAU decomposition w10's
  //    cohort matrix cannot express (it replaced r9's w15, a semantic
  //    near-duplicate of w10): each active (user, week) is classified by
  //    the user's PREVIOUS active week — `new` (no previous), `retained`
  //    (active last week too), `resurrected` (returning after ≥ 1 idle
  //    week) — and each week additionally reports `churning`: actives
  //    who will NOT return next week (next active week > week+1 or
  //    never). new + retained + resurrected = WAU by construction, the
  //    invariant growth teams reconcile dashboards against. Scale shape:
  //    ONE distinct over (user, week), then lag+lead over a single hash
  //    exchange on user_id; the output is |weeks| rows. All counts are
  //    integers; week = epoch-ms div 604800000 (the w12 epoch-day rule,
  //    representation-independent across engines).
  private val w16GrowthAccounting: Q = (s, dir) => {
    val uw = Tables.events(s, dir)
      .select(col("user_id"),
        expr("unix_millis(ts) div 604800000").as("week"))
      .distinct()
    val w = Window.partitionBy("user_id").orderBy("week")
    uw.withColumn("prev_w", lag(col("week"), 1).over(w))
      .withColumn("next_w", lead(col("week"), 1).over(w))
      .groupBy("week")
      .agg(
        count(lit(1)).as("wau"),
        sum(when(col("prev_w").isNull, 1L).otherwise(0L)).as("n_new"),
        sum(when(col("prev_w") === col("week") - 1, 1L).otherwise(0L))
          .as("n_retained"),
        sum(when(col("prev_w").isNotNull && col("prev_w") < col("week") - 1,
          1L).otherwise(0L)).as("n_resurrected"),
        sum(when(col("next_w").isNull || col("next_w") > col("week") + 1,
          1L).otherwise(0L)).as("n_churning"))
      .orderBy("week")
  }

  private val w16Sql =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week
      |  FROM events),
      |cls AS (
      |  SELECT week,
      |         lag(week) OVER (PARTITION BY user_id ORDER BY week) AS prev_w,
      |         lead(week) OVER (PARTITION BY user_id ORDER BY week) AS next_w
      |  FROM uw)
      |SELECT week, count(*) AS wau,
      |       CAST(sum(CASE WHEN prev_w IS NULL THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_new,
      |       CAST(sum(CASE WHEN prev_w = week - 1 THEN 1 ELSE 0 END)
      |         AS BIGINT) AS n_retained,
      |       CAST(sum(CASE WHEN prev_w IS NOT NULL AND prev_w < week - 1
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_resurrected,
      |       CAST(sum(CASE WHEN next_w IS NULL OR next_w > week + 1
      |                     THEN 1 ELSE 0 END) AS BIGINT) AS n_churning
      |FROM cls GROUP BY week ORDER BY week""".stripMargin

  // -- w13: RANGE-interval window frame — the value-bounded frame the
  //    ROWS family can't express: each event's trailing 30-minute
  //    activity (count + spend) for its user, frame edges defined by
  //    TIME distance, not row offsets. Peers (equal ts_ms) share one
  //    frame on both engines by the RANGE definition, so ties cost
  //    nothing in determinism. Money sums ride as integer cents (the
  //    st5 rule); one hash exchange on user_id + one within-group sort.
  private val w13RangeFrame: Q = (s, dir) => {
    val w = Window.partitionBy("user_id").orderBy(col("ts_ms"))
      .rangeBetween(-1800000L, Window.currentRow)
    Tables.events(s, dir)
      .select(col("event_id"), col("user_id"),
        unix_millis(col("ts")).as("ts_ms"),
        round(col("value") * 100).cast("long").as("cents"))
      .withColumn("n_30m", count(lit(1)).over(w))
      .withColumn("cents_30m", sum(col("cents")).over(w))
      .select("event_id", "user_id", "ts_ms", "n_30m", "cents_30m")
      .orderBy("event_id")
  }

  private val w13Sql =
    """SELECT event_id, user_id, epoch_ms(ts) AS ts_ms,
      |       count(*) OVER w AS n_30m,
      |       CAST(sum(CAST(round(value*100) AS BIGINT)) OVER w AS BIGINT) AS cents_30m
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts)
      |             RANGE BETWEEN 1800000 PRECEDING AND CURRENT ROW)
      |ORDER BY event_id""".stripMargin

  // -- dq3: volume-anomaly monitoring — the freshness/volume alarm a
  //    production pipeline runs nightly: per event type, flag days whose
  //    event count sits more than 2σ from the trailing-7-day mean. The
  //    2σ test is algebraically cleared of ALL floating point:
  //    |c − s/7| > 2σ  ⇔  (7c − s)² > 4·(7·ss − s²) with s = Σcᵢ,
  //    ss = Σcᵢ² over the trailing ROWS frame — every comparison is
  //    exact BIGINT, so engines can't disagree at the alarm boundary
  //    (where a float formulation is least trustworthy). One shuffle on
  //    event_type; the daily table is dimension-sized at any corpus.
  private val dq3VolumeAnomaly: Q = (s, dir) => {
    val daily = Tables.events(s, dir)
      .groupBy(col("event_type"),
        expr("unix_millis(ts) div 86400000").as("day"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy("event_type").orderBy("day")
      .rowsBetween(-7, -1)
    daily
      .withColumn("n7", count(lit(1)).over(w))
      .withColumn("s", sum(col("n")).over(w))
      .withColumn("ss", sum(col("n") * col("n")).over(w))
      .filter(col("n7") === 7)
      .withColumn("dev2", (lit(7) * col("n") - col("s")) *
                          (lit(7) * col("n") - col("s")))
      .withColumn("var49", lit(4) * (lit(7) * col("ss") - col("s") * col("s")))
      .filter(col("dev2") > col("var49"))
      .select(col("event_type"), col("day"), col("n"), col("s").as("sum7"),
        col("dev2"), col("var49"))
      .orderBy("event_type", "day")
  }

  private val dq3Sql =
    """WITH daily AS (
      |  SELECT event_type, epoch_ms(ts) // 86400000 AS day, count(*) AS n
      |  FROM events GROUP BY 1, 2),
      |r AS (
      |  SELECT event_type, day, n,
      |         count(*) OVER w AS n7,
      |         sum(n) OVER w AS s,
      |         sum(n*n) OVER w AS ss
      |  FROM daily
      |  WINDOW w AS (PARTITION BY event_type ORDER BY day
      |               ROWS BETWEEN 7 PRECEDING AND 1 PRECEDING))
      |SELECT event_type, day, n, CAST(s AS BIGINT) AS sum7,
      |       CAST((7*n - s)*(7*n - s) AS BIGINT) AS dev2,
      |       CAST(4*(7*ss - s*s) AS BIGINT) AS var49
      |FROM r
      |WHERE n7 = 7 AND (7*n - s)*(7*n - s) > 4*(7*ss - s*s)
      |ORDER BY event_type, day""".stripMargin

  // -- w10: weekly cohort retention — the product-analytics matrix: each
  //    user's cohort is their first-seen ISO week; retention at week N is
  //    the fraction of the cohort active N weeks later. Everything
  //    reduces to the distinct (user, week) activity table — one
  //    exchange — then |users|-sized aggregates; the matrix itself is
  //    |cohorts| × |weeks|, dimension-sized at any corpus scale.
  private val w10Retention: Q = (s, dir) => {
    val uw = Tables.events(s, dir)
      .select(col("user_id"), trunc(to_date(col("ts")), "week").as("wk"))
      .distinct()
    val cohort = uw.groupBy("user_id").agg(min(col("wk")).as("cw"))
    val sizes = cohort.groupBy("cw")
      .agg(countDistinct(col("user_id")).as("n_cohort"))
    val act = uw.join(cohort, "user_id")
      .withColumn("week_n", expr("CAST(datediff(wk, cw) DIV 7 AS INT)"))
      .groupBy("cw", "week_n")
      .agg(countDistinct(col("user_id")).as("n_active"))
    act.join(sizes, "cw")
      .select(col("cw").as("cohort_week"), col("week_n"),
        col("n_active"), col("n_cohort"),
        (col("n_active").cast("double") / col("n_cohort").cast("double"))
          .as("retention"))
      .orderBy("cohort_week", "week_n")
  }

  private val w10Sql =
    """WITH uw AS (
      |  SELECT DISTINCT user_id, CAST(date_trunc('week', ts) AS DATE) AS wk
      |  FROM events),
      |cohort AS (SELECT user_id, min(wk) AS cw FROM uw GROUP BY user_id),
      |sizes AS (SELECT cw, count(DISTINCT user_id) AS n_cohort
      |          FROM cohort GROUP BY cw),
      |act AS (
      |  SELECT c.cw, CAST(datediff('day', c.cw, u.wk) // 7 AS INT) AS week_n,
      |         count(DISTINCT u.user_id) AS n_active
      |  FROM uw u JOIN cohort c USING (user_id)
      |  GROUP BY 1, 2)
      |SELECT a.cw AS cohort_week, a.week_n, a.n_active, s.n_cohort,
      |       CAST(a.n_active AS DOUBLE) / CAST(s.n_cohort AS DOUBLE) AS retention
      |FROM act a JOIN sizes s USING (cw)
      |ORDER BY cohort_week, week_n""".stripMargin

  // -- w11: SCD Type-2 history build — the set-based form of
  //    slowly-changing-dimension maintenance: instead of row-at-a-time
  //    MERGE closing/opening version rows (the OLTP shape), the whole
  //    history rebuilds from the event log in one pass: change-point
  //    compression (keep rows where the attribute differs from its
  //    predecessor) then valid_to = next change's valid_from. Two window
  //    functions over ONE shuffle on the dimension key; the output is
  //    |change points|, not |events|. This is how a 100 TB dimension
  //    history is (re)built — the per-key sort is local to the key's
  //    partition, nothing global.
  private val w11Scd2: Q = (s, dir) => {
    val w = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    Tables.orders(s, dir)
      .select(col("o_custkey"), col("o_orderpriority"),
        col("o_orderdate"), col("o_orderkey"))
      .withColumn("prev", lag(col("o_orderpriority"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("o_orderpriority"))
      .withColumn("valid_to", lead(col("o_orderdate"), 1).over(
        Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")))
      // o_orderkey tiebreak BEFORE the projection drops it: same-day
      // change points with an A,B,A priority pattern tie on all of
      // (custkey, valid_from, priority), which would leave cross-engine
      // row order unpinned. Sort-then-project keeps the ordering (the
      // projection is narrow, no exchange after the sort).
      .orderBy("o_custkey", "o_orderdate", "o_orderpriority", "o_orderkey")
      .select(col("o_custkey"), col("o_orderpriority").as("priority"),
        col("o_orderdate").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  private val w11Sql =
    """WITH ch AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey,
      |         lag(o_orderpriority) OVER w AS prev
      |  FROM orders
      |  WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)),
      |cp AS (
      |  SELECT o_custkey, o_orderpriority, o_orderdate, o_orderkey
      |  FROM ch WHERE prev IS NULL OR prev <> o_orderpriority)
      |SELECT o_custkey, o_orderpriority AS priority,
      |       o_orderdate AS valid_from,
      |       lead(o_orderdate) OVER w2 AS valid_to,
      |       lead(o_orderdate) OVER w2 IS NULL AS is_current
      |FROM cp
      |WINDOW w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
      |ORDER BY o_custkey, valid_from, priority, o_orderkey""".stripMargin

  // -- j10: the lookup side of SCD2 — "which version was valid on date
  //    D": half-open [valid_from, valid_to) containment against the w11
  //    history. The history is |change points| (dimension-sized), so
  //    the lookup is a broadcast equi-join on the key with the interval
  //    test as a residual filter — the fact side never shuffles. Open
  //    versions (valid_to null) match everything from valid_from on.
  private val j10Scd2Asof: Q = (s, dir) => {
    val probe = lit("1997-01-01").cast("timestamp")
    val hist = w11Scd2(s, dir)
    hist.filter(col("valid_from") <= probe &&
        (col("valid_to").isNull || col("valid_to") > probe))
      .select(col("o_custkey"), col("priority").as("priority_at_probe"),
        col("valid_from"), col("is_current"))
      // disjoint half-open intervals make (o_custkey) unique here in
      // practice, but the deterministic-order contract shouldn't depend
      // on that proof — pin the full key.
      .orderBy("o_custkey", "valid_from", "priority_at_probe")
  }

  private val j10Sql =
    s"""WITH hist AS ($w11Sql)
       |SELECT o_custkey, priority AS priority_at_probe, valid_from,
       |       is_current
       |FROM hist
       |WHERE valid_from <= TIMESTAMP '1997-01-01'
       |  AND (valid_to IS NULL OR valid_to > TIMESTAMP '1997-01-01')
       |ORDER BY o_custkey, valid_from, priority_at_probe""".stripMargin

  def queries: Map[String, Q] = Map(
    "j10_scd2_asof"      -> j10Scd2Asof,
    "w12_new_vs_returning" -> w12NewVsReturning,
    "w13_range_frame"    -> w13RangeFrame,
    "w16_growth_accounting" -> w16GrowthAccounting,
    "dq3_volume_anomaly" -> dq3VolumeAnomaly,
    "w11_scd2_history"   -> w11Scd2,
    "w10_retention"      -> w10Retention,
    "w9_gap_fill"        -> w9GapFill,
    "f4_json_extract"    -> f4JsonExtract,
    "w8_percentiles"     -> w8Percentiles,
    "dq2_mad_outliers"   -> dq2MadOutliers,
    "f2_funnel"          -> f2Funnel,
    "w3_latest_group"    -> w3LatestMonth,
    "w4_grouped_topk"    -> w4GroupedTopK,
    "w6_running_total"   -> w6RunningTotal,
    "w7_rank_family"     -> w7RankFamily,
    "w14_distribution"   -> w14Distribution,
    "o4_first_per_group" -> o4FirstPerGroup,
    "o5_global_topk"     -> o5TopK,
    "a12_count_fraction" -> a12CountFraction,
    "f_string_parse"     -> fStringParse,
    "f_math_scalar"      -> fMath,
    "f_date_scalar"      -> fDate,
    "p6_gate_flags"      -> p6GateFlags,
    "p7_blocklist"       -> p7Blocklist)

  def oracles: Map[String, String] = Map(
    "j10_scd2_asof"      -> j10Sql,
    "w12_new_vs_returning" -> w12Sql,
    "w13_range_frame"    -> w13Sql,
    "w16_growth_accounting" -> w16Sql,
    "dq3_volume_anomaly" -> dq3Sql,
    "w11_scd2_history"   -> w11Sql,
    "w10_retention"      -> w10Sql,
    "w9_gap_fill"        -> w9Sql,
    "f4_json_extract"    -> f4Sql,
    "w8_percentiles"     -> w8Sql,
    "dq2_mad_outliers"   -> dq2Sql,
    "f2_funnel"          -> f2Sql,
    "w3_latest_group"    -> w3Sql,
    "w4_grouped_topk"    -> w4Sql,
    "w6_running_total"   -> w6Sql,
    "w7_rank_family"     -> w7Sql,
    "w14_distribution"   -> w14Sql,
    "o4_first_per_group" -> o4Sql,
    "o5_global_topk"     -> o5Sql,
    "a12_count_fraction" -> a12Sql,
    "f_string_parse"     -> fStringSql,
    "f_math_scalar"      -> fMathSql,
    "f_date_scalar"      -> fDateSql,
    "p6_gate_flags"      -> p6Sql,
    "p7_blocklist"       -> p7Sql)
}
