package graft.operators

import graft.{QueryPack, Tables}
import graft.functions.{DotProduct, VectorKernels}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window

/** Approximate-nearest-neighbor / similarity-search operators over the
  * `embeddings` table (64-dim `array<float>`).
  *
  * Scale design:
  *   - v1 brute-force is the correctness baseline: broadcast the (small)
  *     query set against the full corpus — one scan, no shuffle of the big
  *     side, per-row dot products inside codegen (`zip_with`+`aggregate`);
  *   - v2/v3/v5 are the scale path: deterministic random-hyperplane LSH.
  *     v3/v5 use *banded multi-table* probing (`nBands` tables of
  *     `bits` sign-bits each): two vectors are candidates iff they agree
  *     on all bits of at least one band. `bits` is derived IN-PLAN from
  *     the corpus count (integer CASE chain — bit-reproducible in the
  *     oracle, no floating log), so bucket cardinality grows ∝ n and the
  *     per-bucket self-join stays O(n·targetBucket) instead of O(n²/const).
  *     The band tables trade recall back (1−(1−p^bits)^nBands) for the
  *     selectivity that a single wide signature would destroy;
  *   - candidates travel as compact id pairs; embeddings/norms join back
  *     only for pairs that survive banding;
  *   - v4 centroids emit long format (label, pos, mean) so float compare
  *     stays element-wise.
  *
  * The hyperplane weights are *derived arithmetically* from (plane, dim)
  * indices — both engines compute w(j,i) = ((1 + (j·64+i)·2654435761) mod
  * 1000003)/1000003 − 0.5 — so bucket assignments are exactly reproducible
  * in the DuckDB oracle with zero shipped state.
  */
object Similarity extends QueryPack {

  // dims/ivfK/ivfSampleMod/pq* are shared with IvfPqIndex (the persisted
  // build-once/probe-many face of the same arithmetic) — the oracle here
  // and the builder there must agree on every parameter.
  private[operators] val dims = 64
  private val nPlanes = 4 // 16 buckets (v2 histogram only)

  // Banded multi-table parameters for v3/v5: nBands tables, each keyed by
  // up to maxBits sign-bits of a 32-plane signature; the live bit-width is
  // the smallest b with targetBucket·2^b ≥ n (clamped to [2, maxBits]).
  // maxBits=8 covers the test corpus; a production config raises it to
  // ~24 (16M buckets/band) for 10^10-vector corpora — the knob, not the
  // plan shape, is what changes with scale.
  private val nBands = 4
  private val maxBits = 8
  private val targetBucket = 32
  private val sigPlanes = nBands * maxBits // 32 ≤ 64 sign bits in a BIGINT

  /** Smallest bit-width b ∈ [2, maxBits] with targetBucket·2^b ≥ n, as an
    * integer CASE chain over a count column — identical text evaluates on
    * both engines (no floating log2, whose last-ulp differs per libm). */
  private def bitsCase(n: String): String = {
    val whens = (2 until maxBits).map { b =>
      s"WHEN $n <= ${targetBucket.toLong << b} THEN $b"
    }
    s"(CASE ${whens.mkString(" ")} ELSE $maxBits END)"
  }

  /** Spark-side dot(a, b) with elementwise double casts. */
  private def dotS(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> CAST(x AS DOUBLE)*CAST(y AS DOUBLE)), " +
    "CAST(0.0 AS DOUBLE), (acc, v) -> acc + v)"

  /** DuckDB-side dot(a, b) — explicit left-to-right fold to mirror Spark's
    * aggregate() order exactly. */
  private def dotD(a: String, b: String): String = dotDN(a, b, dims)

  /** Sub-dimension variant for the PQ subspace arithmetic (v12). */
  private def dotDN(a: String, b: String, nd: Int): String =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
    s"list_transform(range(1, ${nd + 1}), i -> " +
    s"CAST($a[CAST(i AS INT)] AS DOUBLE)*CAST($b[CAST(i AS INT)] AS DOUBLE))), " +
    "(acc, v) -> acc + v)"

  /** DuckDB-side signature from sign bits of `planes` pseudo-random
    * hyperplane dot products (list index is 1-based → use i−1). Mirrors
    * VectorKernels.bucket exactly. */
  private def bucketD(e: String, planes: Int): String = {
    val bits = (0 until planes).map { j =>
      val w = s"(CAST(((1 + (CAST(${j * dims} AS BIGINT) + CAST(i AS BIGINT) - 1) * 2654435761) % 1000003) AS DOUBLE) / 1000003.0 - 0.5)"
      val dot = s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(range(1, ${dims + 1}), i -> CAST($e[CAST(i AS INT)] AS DOUBLE) * $w)), " +
        "(acc, v) -> acc + v)"
      s"(CASE WHEN $dot >= 0.0 THEN CAST(${1L << j} AS BIGINT) ELSE CAST(0 AS BIGINT) END)"
    }
    bits.mkString("(", " + ", ")")
  }

  // -- v1: brute-force cosine top-k — the exact baseline every ANN variant
  //    is judged against. Query set (5 vectors) broadcast against the
  //    corpus; top-5 neighbors per query by (cos desc, id asc).
  private val v1BruteTopk: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .withColumn("norm", DotProduct.norm(col("embedding")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
              col("norm").as("qnorm"))
    val c = e.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
                     col("norm").as("cnorm"))
    // Score, slim to (query, neighbor, cos), then grouped top-k: the
    // custom operator's partial heaps cut each scan partition to ≤ 5 rows
    // per query BEFORE the exchange — the window formulation would
    // shuffle and sort all n×q scored candidates. Rank is assigned after,
    // over ≤ 5·queries rows (negligible).
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos", DotProduct.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")))
      .select("query_id", "neighbor_id", "cos")
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    graft.plans.GroupedTopK.topK(scored, Seq("query_id"), 5,
        col("cos").desc, col("neighbor_id").asc)
      .withColumn("rank", row_number().over(w))
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }

  private val v1Sql =
    s"""WITH n AS (
       |  SELECT vec_id, embedding, sqrt(${dotD("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm FROM n WHERE vec_id < 5),
       |p AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${dotD("q.qe", "c.embedding")} / (q.qnorm * c.norm) AS cos
       |  FROM q JOIN n c ON c.vec_id <> q.query_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM p)
       |SELECT query_id, rank, neighbor_id, cos
       |FROM r WHERE rank <= 5 ORDER BY query_id, rank""".stripMargin

  // -- v2: LSH bucket assignment — one scan, exact-integer-reproducible
  //    buckets; the rollup shows the bucket histogram (skew visibility).
  private val v2LshBuckets: Q = (s, dir) => {
    Tables.embeddings(s, dir)
      .withColumn("bucket", VectorKernels.bucketUdf(nPlanes, dims)(col("embedding")))
      .groupBy("bucket")
      .agg(count(lit(1)).as("n_vectors"))
      .orderBy("bucket")
  }

  private val v2Sql =
    s"""SELECT ${bucketD("embedding", nPlanes)} AS bucket, count(*) AS n_vectors
       |FROM embeddings GROUP BY 1 ORDER BY bucket""".stripMargin

  /** Shared Spark-side banded-candidate generator for v3/v5: 32-plane
    * signature → nBands band keys of `bits` live bits each → self-join on
    * (band_id, key). Returns distinct candidate id pairs (both
    * orientations; callers restrict). The corpus count enters the plan as
    * a broadcast 1-row aggregate — no collect. */
  private def bandedCandidates(e: org.apache.spark.sql.DataFrame)
      : org.apache.spark.sql.DataFrame = {
    val nDf = e.groupBy().agg(count(lit(1)).as("n_corpus"))
    val bandCols = (0 until nBands).map { j =>
      expr(s"struct(CAST($j AS INT) AS band_id, " +
           s"shiftright(sig, ${j * maxBits}) % shiftleft(1, bits) AS bh)")
    }
    val banded = e.crossJoin(broadcast(nDf))
      .withColumn("bits", expr(bitsCase("n_corpus")))
      .select(col("vec_id"), explode(array(bandCols: _*)).as("band"))
      .select(col("vec_id"), col("band.band_id").as("band_id"),
              col("band.bh").as("bh"))
    banded.as("a").join(banded.as("b"),
        col("a.band_id") === col("b.band_id") && col("a.bh") === col("b.bh") &&
        col("a.vec_id") =!= col("b.vec_id"))
      .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"))
      .distinct()
  }

  /** Shared oracle-side CTE prefix: signature+norm table `s`, band table
    * `bnd`, candidate pairs `cand` (both orientations). */
  private def bandedCandSql: String =
    s"""WITH nrow AS (SELECT count(*) AS n_corpus FROM embeddings),
       |s AS (
       |  SELECT vec_id, embedding,
       |         ${bucketD("embedding", sigPlanes)} AS sig,
       |         sqrt(${dotD("embedding", "embedding")}) AS norm
       |  FROM embeddings),
       |bnd AS (
       |  SELECT vec_id, band_id,
       |         (sig >> (band_id * $maxBits)) % (1 << ${bitsCase("n_corpus")}) AS bh
       |  FROM s, nrow, (SELECT unnest(range(0, $nBands)) AS band_id)),
       |cand AS (
       |  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
       |  FROM bnd a JOIN bnd b
       |    ON a.band_id = b.band_id AND a.bh = b.bh AND a.vec_id <> b.vec_id)""".stripMargin

  // -- v3: banded-LSH ANN top-k — candidates from multi-table band
  //    agreement, exact cosine + top-3 only on survivors. The 100 TB
  //    shape: shuffle on (band_id, key) co-locates candidates; bucket
  //    count scales with n via the in-plan `bits`; no cross join.
  private val v3LshTopk: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .withColumn("sig", VectorKernels.bucketUdf(sigPlanes, dims)(col("embedding")))
    val side = Tables.embeddings(s, dir)
      .withColumn("norm", DotProduct.norm(col("embedding")))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    val scored = bandedCandidates(e)
      .select(col("id_a").as("query_id"), col("id_b").as("neighbor_id"))
      .join(side.select(col("vec_id").as("query_id"), col("embedding").as("qe"),
        col("norm").as("qnorm")), "query_id")
      .join(side.select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"),
        col("norm").as("cnorm")), "neighbor_id")
      .withColumn("cos", DotProduct.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")))
      .select("query_id", "neighbor_id", "cos")
    // grouped top-k before the rank window: shuffle ≤ 3 rows per query,
    // not every surviving candidate pair (see v1).
    graft.plans.GroupedTopK.topK(scored, Seq("query_id"), 3,
        col("cos").desc, col("neighbor_id").asc)
      .withColumn("rank", row_number().over(w))
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }

  private val v3Sql =
    s"""$bandedCandSql,
       |p AS (
       |  SELECT c.id_a AS query_id, c.id_b AS neighbor_id,
       |         ${dotD("sa.embedding", "sb.embedding")} / (sa.norm * sb.norm) AS cos
       |  FROM cand c
       |  JOIN s sa ON sa.vec_id = c.id_a
       |  JOIN s sb ON sb.vec_id = c.id_b),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM p)
       |SELECT query_id, rank, neighbor_id, cos
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // -- v4: per-label centroids in long format (label, pos, mean) — the
  //    k-means/IVF building block; posexplode → one shuffle on
  //    (label, pos), map-side partial avg.
  private val v4Centroids: Q = (s, dir) => {
    Tables.embeddings(s, dir)
      .select(col("label"), posexplode(col("embedding")).as(Seq("pos", "v")))
      .groupBy("label", "pos")
      .agg(avg(col("v").cast("double")).as("mean_v"),
           count(lit(1)).as("n"))
      .orderBy("label", "pos")
  }

  private val v4Sql =
    """SELECT label, CAST(u.i - 1 AS INT) AS pos,
      |       avg(CAST(embedding[u.i] AS DOUBLE)) AS mean_v,
      |       count(*) AS n
      |FROM embeddings, (SELECT unnest(range(1, 65)) AS i) u
      |GROUP BY label, pos ORDER BY label, pos""".stripMargin

  // -- v6: IVF search over TRAINED cells — KMeans.fit (2 Lloyd
  //    iterations, deterministic first-k seed) builds k ∝ √n centroids,
  //    every vector is assigned to its nearest cell (the inverted lists),
  //    and neighbor search runs only within the query's cell: exact
  //    cosine + top-3 on the short list, one shuffle on the cell id.
  //    k ∝ √n keeps list length ∝ √n, so the per-cell self-join is
  //    O(n^1.5) total instead of the O(n²/k) a fixed cell count degrades
  //    to — the cell count, not the plan, is what grows at 100 TB. LSH
  //    (v3) needs no training; IVF gives better recall/cost once
  //    centroids exist — the engine offers both. The oracle replays the
  //    exact training: 2 unrolled Lloyd iterations (per-dim means are
  //    exact — float mantissas leave ~29 headroom bits in a double sum —
  //    and every dot product is the same left-to-right fold both sides).
  // k ≈ √n in power-of-two tiers, NO cap: the r10 sf10 headroom run
  // caught the old `else 128` ceiling leaving 1,560 vectors per cell at
  // 200k vectors — the search scan (n·nprobe·cell) is what that breaks
  // at scale, exactly the failure the surrounding comment promises
  // can't happen. Tiers (not exact √n) keep the value a deterministic
  // integer CASE both engines evaluate identically.
  private[operators] def ivfK(n: Long): Int =
    if (n <= 64) 8 else if (n <= 256) 16 else if (n <= 1024) 32
    else if (n <= 4096) 64 else if (n <= 65536) 128
    else if (n <= 262144) 512 else if (n <= 4194304) 2048 else 8192

  private def ivfKSqlFor(t: String): String =
    s"""(SELECT CASE WHEN count(*) <= 64 THEN 8 WHEN count(*) <= 256 THEN 16
       |  WHEN count(*) <= 1024 THEN 32 WHEN count(*) <= 4096 THEN 64
       |  WHEN count(*) <= 65536 THEN 128 WHEN count(*) <= 262144 THEN 512
       |  WHEN count(*) <= 4194304 THEN 2048
       |  ELSE 8192 END FROM $t)""".stripMargin

  private val ivfKSql = ivfKSqlFor("embeddings")

  private val v6IvfTopk: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    // One count to size k — metadata-only against parquet statistics.
    val n = e.count()
    val k = ivfK(n)
    val centroids = graft.functions.KMeans.fit(e, k, iters = 2,
      maxN = Some(n))
    // Persisted: BOTH sides of the in-cell self-join read `assigned`;
    // without the persist the full train+assign pipeline (corpus scan +
    // broadcast argmin) executes twice. Same pattern as d4's signature
    // table; Bench/Verify clear the cache after each query.
    val assigned = graft.functions.KMeans
      .assign(e.withColumn("norm", DotProduct.norm(col("embedding"))), centroids)
      .persist()
    val a = assigned.select(col("cell"), col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("norm").as("qnorm"))
    val b = assigned.select(col("cell"), col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("norm").as("cnorm"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    val scored = a.join(b, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", DotProduct.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")))
      .select("cell", "query_id", "neighbor_id", "cos")
    // grouped top-k inside each inverted list's scored pairs (see v1).
    graft.plans.GroupedTopK.topK(scored, Seq("query_id"), 3,
        col("cos").desc, col("neighbor_id").asc)
      .withColumn("rank", row_number().over(w))
      .select("cell", "query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }

  /** One Lloyd assignment CTE pair over corpus CTE `from`: scored argmin
    * (top-`probe`) over `cents`, ties by cell. Mirrors
    * KMeans.assign/assignTopN (float-cast centroids, ‖c‖²−2·e·c). */
  private def assignSql(cents: String, out: String, from: String = "e",
                        probe: Int = 1, nd: Int = dims): String =
    s"""$out AS (
       |  SELECT vec_id, cell FROM (
       |    SELECT e.vec_id, c.cell,
       |           row_number() OVER (PARTITION BY e.vec_id ORDER BY
       |             c.cnorm2
       |             - 2.0 * ${dotDN("e.embedding", "c.centroid", nd)}, c.cell) AS rn
       |    FROM $from e, $cents c) s WHERE rn <= $probe)""".stripMargin

  /** One Lloyd update CTE pair over corpus CTE `from`: per-(cell, dim)
    * means of the members, re-packed to a float centroid array. Mirrors
    * KMeans.fit's update. */
  private def updateSql(asg: String, outMeans: String, outCents: String,
                        from: String = "e", nd: Int = dims): String =
    s"""$outMeans AS (
       |  SELECT a.cell, CAST(u.i - 1 AS INT) AS pos,
       |         avg(CAST(m.embedding[u.i] AS DOUBLE)) AS mean_v
       |  FROM $asg a JOIN $from m USING (vec_id),
       |       (SELECT unnest(range(1, ${nd + 1})) AS i) u
       |  GROUP BY a.cell, u.i),
       |$outCents AS (
       |  SELECT cell, centroid, ${dotDN("centroid", "centroid", nd)} AS cnorm2
       |  FROM (
       |    SELECT cell, list(CAST(mean_v AS FLOAT) ORDER BY pos) AS centroid
       |    FROM $outMeans GROUP BY cell) t)""".stripMargin

  private val v6Sql =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |seed AS (
       |  SELECT CAST(rn - 1 AS INT) AS cell, embedding FROM (
       |    SELECT vec_id, embedding,
       |           row_number() OVER (ORDER BY vec_id) AS rn FROM e) s
       |  WHERE rn <= $ivfKSql),
       |cents0 AS (
       |  SELECT cell, embedding AS centroid,
       |         ${dotD("embedding", "embedding")} AS cnorm2 FROM seed),
       |${assignSql("cents0", "a1")},
       |${updateSql("a1", "m1", "cents1")},
       |${assignSql("cents1", "a2")},
       |${updateSql("a2", "m2", "cents2")},
       |${assignSql("cents2", "a3")},
       |n2 AS (
       |  SELECT a.cell, e.vec_id, e.embedding,
       |         sqrt(${dotD("e.embedding", "e.embedding")}) AS norm
       |  FROM a3 a JOIN e USING (vec_id)),
       |p AS (
       |  SELECT a.cell, a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         ${dotD("a.embedding", "b.embedding")} / (a.norm * b.norm) AS cos
       |  FROM n2 a JOIN n2 b ON a.cell = b.cell AND a.vec_id <> b.vec_id),
       |r AS (
       |  SELECT cell, query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM p)
       |SELECT CAST(cell AS INT) AS cell, query_id, rank, neighbor_id, cos
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // -- v8: the IVF shape that actually ships at 100 TB — k-means never
  //    sees the full corpus: train on a bounded DETERMINISTIC sample
  //    (vec_id mod m, m from a CASE chain both engines evaluate — the
  //    faiss train-on-subset practice), assign EVERY vector once (one
  //    broadcast argmin scan), and probe the query's nprobe=2 nearest
  //    cells at search time, recovering the recall a single probe loses
  //    at cell boundaries. Each corpus vector lives in exactly ONE
  //    inverted list, so the two probed candidate sets are disjoint —
  //    no dedup stage. Costs: Lloyd O(sample·k·dims), assignment
  //    O(n·k·dims), search O(n·nprobe·list·dims); only the assignment
  //    and search scans touch the corpus.
  private[operators] def ivfSampleMod(n: Long): Int = if (n <= 1024) 1 else 4

  private val ivfSampleModSql =
    "(SELECT CASE WHEN count(*) <= 1024 THEN 1 ELSE 4 END FROM e)"

  private val v8IvfSampled: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    // k tracks the CORPUS count even though Lloyd trains on the sample:
    // cell size n/k is the per-probe serving cost, and deriving k from
    // the sample halved it — measured at sf10 as a 3× search blowup
    // before the fix (the sample only needs to be ≥ k for seeding).
    val n = e.count()
    val m = ivfSampleMod(n)
    val sample = e.filter(pmod(col("vec_id"), lit(m)) === 0)
    val k = ivfK(n)
    val centroids = graft.functions.KMeans.fit(sample, k, iters = 2,
      maxN = Some(n))
    val withNorm = e.withColumn("norm", DotProduct.norm(col("embedding")))
    // inverted lists: one cell per corpus vector (persisted: search
    // reads it once per probed cell side).
    val lists = graft.functions.KMeans.assign(withNorm, centroids).persist()
    val probes = graft.functions.KMeans.assignTopN(withNorm, centroids, 2)
    val a = probes.select(col("cell"), col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("norm").as("qnorm"))
    val b = lists.select(col("cell"), col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("norm").as("cnorm"))
    val w = Window.partitionBy("query_id").orderBy(desc("cos"), col("neighbor_id"))
    val scored = a.join(b, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        DotProduct.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")))
      .select("query_id", "neighbor_id", "cos")
    graft.plans.GroupedTopK.topK(scored, Seq("query_id"), 3,
        col("cos").desc, col("neighbor_id").asc)
      .withColumn("rank", row_number().over(w))
      .select("query_id", "rank", "neighbor_id", "cos")
      .orderBy("query_id", "rank")
  }

  private val v8Sql =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |smp AS (
       |  SELECT vec_id, embedding FROM e
       |  WHERE vec_id % $ivfSampleModSql = 0),
       |seed AS (
       |  SELECT CAST(rn - 1 AS INT) AS cell, embedding FROM (
       |    SELECT vec_id, embedding,
       |           row_number() OVER (ORDER BY vec_id) AS rn FROM smp) s
       |  WHERE rn <= ${ivfKSqlFor("e")}),
       |cents0 AS (
       |  SELECT cell, embedding AS centroid,
       |         ${dotD("embedding", "embedding")} AS cnorm2 FROM seed),
       |${assignSql("cents0", "a1", from = "smp")},
       |${updateSql("a1", "m1", "cents1", from = "smp")},
       |${assignSql("cents1", "a2", from = "smp")},
       |${updateSql("a2", "m2", "cents2", from = "smp")},
       |${assignSql("cents2", "lists", from = "e", probe = 1)},
       |${assignSql("cents2", "probes", from = "e", probe = 2)},
       |n2 AS (
       |  SELECT l.cell, e.vec_id, e.embedding,
       |         sqrt(${dotD("e.embedding", "e.embedding")}) AS norm
       |  FROM lists l JOIN e USING (vec_id)),
       |q2 AS (
       |  SELECT p.cell, e.vec_id, e.embedding,
       |         sqrt(${dotD("e.embedding", "e.embedding")}) AS norm
       |  FROM probes p JOIN e USING (vec_id)),
       |p AS (
       |  SELECT q.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         ${dotD("q.embedding", "b.embedding")} / (q.norm * b.norm) AS cos
       |  FROM q2 q JOIN n2 b ON q.cell = b.cell AND q.vec_id <> b.vec_id),
       |r AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM p)
       |SELECT query_id, rank, neighbor_id, cos
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // -- v5: embedding near-duplicate pairs — cosine ≥ 0.3 on banded-LSH
  //    candidates (the embedding-space analog of d4's text LSH; same
  //    adaptive band machinery as v3).
  /** The v5 pair pipeline up to the cosine filter — shared by the pair
    * query (v5) and the cluster query (v11). */
  private def embedNearDupPairs(s: org.apache.spark.sql.SparkSession,
                                dir: String): org.apache.spark.sql.DataFrame = {
    val e = Tables.embeddings(s, dir)
      .withColumn("sig", VectorKernels.bucketUdf(sigPlanes, dims)(col("embedding")))
    val side = Tables.embeddings(s, dir)
      .withColumn("norm", DotProduct.norm(col("embedding")))
    bandedCandidates(e)
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a").as("vec_a"), col("id_b").as("vec_b"))
      .join(side.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
        col("norm").as("na")), "vec_a")
      .join(side.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
        col("norm").as("nb")), "vec_b")
      .withColumn("cos", DotProduct.dot(col("ea"), col("eb")) / (col("na") * col("nb")))
      .filter(col("cos") >= 0.3)
      .select("vec_a", "vec_b", "cos")
  }

  private val v5NearDup: Q = (s, dir) =>
    embedNearDupPairs(s, dir).orderBy("vec_a", "vec_b")

  // -- v11: embedding duplicate CLUSTERS — the d10/m4 move on the vector
  //    modality (the SemDeDup shape): connected components over the v5
  //    cosine pair graph, so a document whose embedding sits near two
  //    paraphrases collapses the whole set into one cluster with one
  //    smallest-id representative. Same Graph operator, same scale
  //    argument: pair discovery is the banded LSH join (never O(n²)),
  //    and CC is O(log diameter) rounds of an edge-table shuffle.
  private val v11EmbedClusters: Q = (s, dir) => {
    val pairs = embedNearDupPairs(s, dir).select("vec_a", "vec_b").persist()
    val comp = Graph.connectedComponents(pairs, "vec_a", "vec_b")
    val sizes = comp.groupBy("component").agg(count(lit(1)).as("cluster_size"))
    comp.join(sizes, "component")
      .select(col("id").as("vec_id"), col("component").as("cluster_id"),
        col("cluster_size"))
      .orderBy("vec_id")
  }

  private val v5Sql =
    s"""$bandedCandSql
       |SELECT c.id_a AS vec_a, c.id_b AS vec_b,
       |       ${dotD("sa.embedding", "sb.embedding")} / (sa.norm * sb.norm) AS cos
       |FROM cand c
       |JOIN s sa ON sa.vec_id = c.id_a
       |JOIN s sb ON sb.vec_id = c.id_b
       |WHERE c.id_a < c.id_b
       |  AND ${dotD("sa.embedding", "sb.embedding")} / (sa.norm * sb.norm) >= 0.3
       |ORDER BY vec_a, vec_b""".stripMargin

  private val v11Sql =
    s"""${bandedCandSql.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pairs AS (
       |  SELECT c.id_a AS a, c.id_b AS b
       |  FROM cand c
       |  JOIN s sa ON sa.vec_id = c.id_a
       |  JOIN s sb ON sb.vec_id = c.id_b
       |  WHERE c.id_a < c.id_b
       |    AND ${dotD("sa.embedding", "sb.embedding")} / (sa.norm * sb.norm) >= 0.3),
       |edges AS (
       |  SELECT a, b FROM pairs
       |  UNION ALL
       |  SELECT b AS a, a AS b FROM pairs),
       |reach(a, b) AS (
       |  SELECT a, b FROM edges
       |  UNION
       |  SELECT r.a, e2.b FROM reach r JOIN edges e2 ON r.b = e2.a),
       |comp AS (
       |  SELECT a AS vec_id, LEAST(a, MIN(b)) AS cluster_id
       |  FROM reach GROUP BY a)
       |SELECT vec_id, cluster_id,
       |       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
       |FROM comp ORDER BY vec_id""".stripMargin

  // -- v12: product quantization — the storage-compression step that,
  //    stacked on IVF (v8), is the production ANN index shape (IVF-PQ):
  //    the 64-dim vector splits into 4 subspaces of 16 dims; each
  //    subspace gets its own k=8 codebook (same deterministic Lloyd
  //    training as v6/v8, on the sliced vectors); a vector's code is its
  //    4 per-subspace nearest-centroid ids (4×3 bits ≪ 64×32 bits), and
  //    `err` is the exact per-subspace squared reconstruction error
  //    ‖e‖² − 2·e·c + ‖c‖². Output is LONG format (vec_id, subspace,
  //    code, err) — the layout the codes would be stored in, no 4-way
  //    self-join to widen. Scale shape: training is 4 bounded Lloyd
  //    loops (sample-able exactly as v8); encoding is one broadcast
  //    argmin scan per subspace over sliced vectors — the corpus is
  //    never shuffled, and the union of the 4 encode scans is
  //    partition-local.
  private[operators] val pqM = 4
  // Integer division would silently drop the trailing dims % pqM
  // dimensions from every PQ subspace — fail loudly instead.
  require(dims % pqM == 0, s"dims=$dims must be divisible by pqM=$pqM")
  private[operators] val pqSubDim = dims / pqM
  private[operators] val pqK = 8

  /** The 4 subspace slices as ONE long frame — the input shape that lets
    * all PQ codebooks train in a single plan (KMeans.fitGrouped).
    * Shared with [[IvfPqIndex]] (same slicing must key both the trained
    * codebooks and the persisted codes, or ADC reconstructs garbage). */
  private[operators] def pqSubspaces(e: org.apache.spark.sql.DataFrame) =
    (0 until pqM).map { j =>
      e.select(lit(j).as("subspace"), col("vec_id"),
        slice(col("embedding"), j * pqSubDim + 1, pqSubDim).as("embedding"))
    }.reduce(_ union _)

  private val v12PqCodes: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
    val sub = pqSubspaces(e)
    // All 4 codebooks in ONE grouped training; the data picks the path:
    // a dimension-sized frame trains every subspace in one task, a
    // larger one runs one (subspace, cell, pos) shuffle per Lloyd round.
    // Either is bit-identical per subspace to the unrolled oracle replay.
    val cents = graft.functions.KMeans.fitGrouped(sub, pqK, iters = 2)
    // Inline the argmin instead of KMeans.assignGrouped: scoring err
    // BEFORE the top-k means the reduce exchange carries (vec_id, cell,
    // score, err) — 4 scalars — instead of the embedding and centroid
    // arrays a join-back-after-assign would drag across. The argmin
    // still orders by the assign score (‖c‖²−2·e·c, ties by cell) so
    // the chosen cell is bit-identical to KMeans.assign / the oracle;
    // err is summed in the oracle's order (ee − 2ec + cc).
    val cArr = cents.groupBy("subspace", "cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v"))))
        .as("pv"))
      .select(col("subspace"), col("cell"),
        expr("transform(pv, x -> CAST(x.mean_v AS FLOAT))").as("centroid"))
      .withColumn("cnorm2", DotProduct.dot(col("centroid"), col("centroid")))
    val scored = sub
      .withColumn("ee", DotProduct.dot(col("embedding"), col("embedding")))
      .join(broadcast(cArr), "subspace")
      .withColumn("ec", DotProduct.dot(col("embedding"), col("centroid")))
      .select(col("subspace"), col("vec_id"), col("cell"),
        (col("cnorm2") - lit(2.0) * col("ec")).as("score"),
        (col("ee") - lit(2.0) * col("ec") + col("cnorm2")).as("err"))
    graft.plans.GroupedTopK.topK(scored, Seq("subspace", "vec_id"), 1,
        col("score").asc, col("cell").asc)
      .select(col("vec_id"), col("subspace"),
        col("cell").cast("int").as("code"), col("err"))
      .orderBy("vec_id", "subspace")
  }

  /** One subspace's unrolled training + encode CTE chain (mirrors the
    * v12 Spark pipeline: seed = k lowest vec_ids, 2 Lloyd rounds, final
    * assign + exact reconstruction error). */
  private def pqSubspaceSql(j: Int): String = {
    val ej = s"pe$j"
    val lo = j * pqSubDim + 1
    val hi = (j + 1) * pqSubDim
    s"""$ej AS (SELECT vec_id, embedding[$lo:$hi] AS embedding FROM e),
       |seed$j AS (
       |  SELECT CAST(rn - 1 AS INT) AS cell, embedding FROM (
       |    SELECT vec_id, embedding,
       |           row_number() OVER (ORDER BY vec_id) AS rn FROM $ej) s
       |  WHERE rn <= $pqK),
       |pc0_$j AS (
       |  SELECT cell, embedding AS centroid,
       |         ${dotDN("embedding", "embedding", pqSubDim)} AS cnorm2
       |  FROM seed$j),
       |${assignSql(s"pc0_$j", s"pa1_$j", from = ej, nd = pqSubDim)},
       |${updateSql(s"pa1_$j", s"pm1_$j", s"pc1_$j", from = ej, nd = pqSubDim)},
       |${assignSql(s"pc1_$j", s"pa2_$j", from = ej, nd = pqSubDim)},
       |${updateSql(s"pa2_$j", s"pm2_$j", s"pc2_$j", from = ej, nd = pqSubDim)},
       |${assignSql(s"pc2_$j", s"pa3_$j", from = ej, nd = pqSubDim)},
       |pr$j AS (
       |  SELECT a.vec_id, CAST($j AS INT) AS subspace,
       |         CAST(a.cell AS INT) AS code,
       |         ${dotDN("m.embedding", "m.embedding", pqSubDim)}
       |         - 2.0 * ${dotDN("m.embedding", "c.centroid", pqSubDim)}
       |         + c.cnorm2 AS err
       |  FROM pa3_$j a JOIN $ej m USING (vec_id)
       |  JOIN pc2_$j c ON c.cell = a.cell)""".stripMargin
  }

  private val v12Sql =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |${(0 until pqM).map(pqSubspaceSql).mkString(",\n")}
       |${(0 until pqM).map(j => s"SELECT * FROM pr$j").mkString("\nUNION ALL\n")}
       |ORDER BY vec_id, subspace""".stripMargin

  // -- v7: int8 scalar quantization — per-vector min/max affine codes,
  //    the storage-compression step before ANN serving (4× smaller than
  //    float32, 8× than double). Pure per-row transform, no shuffle.
  //    Constant vectors (max = min) code to 0. The hashed output
  //    summarizes the code array with exact BIGINT aggregates (sum,
  //    position-weighted checksum, nonzero count) — list-vs-ndarray
  //    string forms differ across engines, so arrays themselves never
  //    appear in hashed output. The affine expression text is identical
  //    on both sides: left-associative ((v−mn)/(mx−mn))·255, floor'd
  //    BEFORE the int cast (DuckDB CAST(double) rounds half-even; on the
  //    already-integral floor result the cast is exact everywhere).
  private val v7Quantize: Q = (s, dir) => {
    Tables.embeddings(s, dir)
      .withColumn("mn", expr("CAST(array_min(embedding) AS DOUBLE)"))
      .withColumn("mx", expr("CAST(array_max(embedding) AS DOUBLE)"))
      .withColumn("codes", expr(
        "transform(embedding, v -> CASE WHEN mx = mn THEN CAST(0 AS BIGINT) " +
        "ELSE CAST(least(floor((CAST(v AS DOUBLE) - mn) / (mx - mn) * 255.0), 255.0) AS BIGINT) END)"))
      .select(col("vec_id"),
        expr("aggregate(codes, CAST(0 AS BIGINT), (a, x) -> a + x)")
          .as("code_sum"),
        expr("aggregate(transform(codes, (x, i) -> x * (CAST(i AS BIGINT) + 1)), " +
             "CAST(0 AS BIGINT), (a, x) -> a + x)").as("code_checksum"),
        expr("CAST(size(filter(codes, x -> x > 0)) AS BIGINT)").as("n_nonzero"))
      .orderBy("vec_id")
  }

  private val v7Sql =
    """WITH q AS (
      |  SELECT vec_id, embedding,
      |         CAST(list_min(embedding) AS DOUBLE) AS mn,
      |         CAST(list_max(embedding) AS DOUBLE) AS mx
      |  FROM embeddings),
      |c AS (
      |  SELECT vec_id,
      |         list_transform(embedding, v -> CASE WHEN mx = mn THEN CAST(0 AS BIGINT)
      |           ELSE CAST(least(floor((CAST(v AS DOUBLE) - mn) / (mx - mn) * 255.0), 255.0) AS BIGINT) END) AS codes
      |  FROM q)
      |SELECT vec_id,
      |       CAST(list_sum(codes) AS BIGINT) AS code_sum,
      |       CAST(list_sum(list_transform(codes, (x, i) -> x * CAST(i AS BIGINT))) AS BIGINT) AS code_checksum,
      |       CAST(len(list_filter(codes, x -> x > 0)) AS BIGINT) AS n_nonzero
      |FROM c ORDER BY vec_id""".stripMargin

  // -- v9: per-vector scalar statistics — the embedding-hygiene scan
  //    (zero vectors, NaN/degenerate norms, range outliers) every vector
  //    store runs before indexing. Pure per-row array folds inside
  //    codegen, no shuffle. Bit-exactness: both engines fold LEFT-TO-
  //    RIGHT over the same float→double casts (Spark `aggregate` from a
  //    0.0 seed; DuckDB `list_reduce` seeded by the first element — the
  //    leading 0.0+x is exact, so the op sequences are identical), and
  //    min/max are comparisons, not arithmetic.
  private val v9VectorStats: Q = (s, dir) => {
    Tables.embeddings(s, dir)
      .select(col("vec_id"), col("label"),
        size(col("embedding")).as("dim"),
        expr("aggregate(embedding, CAST(0.0 AS DOUBLE), " +
             "(acc, x) -> acc + CAST(x AS DOUBLE) * CAST(x AS DOUBLE))")
          .as("norm2"),
        array_min(col("embedding")).cast("double").as("amin"),
        array_max(col("embedding")).cast("double").as("amax"))
      .orderBy("vec_id")
  }

  private val v9Sql =
    """SELECT vec_id, label, CAST(len(embedding) AS INT) AS dim,
      |       list_reduce(list_transform(embedding,
      |                     x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)),
      |                   (acc, x) -> acc + x) AS norm2,
      |       CAST(list_min(embedding) AS DOUBLE) AS amin,
      |       CAST(list_max(embedding) AS DOUBLE) AS amax
      |FROM embeddings ORDER BY vec_id""".stripMargin

  // -- v10: ANN recall@3 on the sampled query set — the quality metric a
  //    production vector pipeline publishes next to its index build.
  //    Exact top-3 (v1 machinery) and sampled-IVF nprobe=2 top-3 (v8
  //    machinery) for the 5 sample queries, intersected per query:
  //    recall = |ivf ∩ exact| / 3. Everything is the same deterministic
  //    arithmetic as v1/v8, so even the QUALITY metric is oracle-exact.
  //    Scale shape: the exact side is brute-force over the corpus, priced
  //    per SAMPLED query (5 here, fixed at any corpus size) — exactly how
  //    recall is audited at 100 TB, never all-pairs.
  private val v10AnnRecall: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .withColumn("norm", DotProduct.norm(col("embedding")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
              col("norm").as("qnorm"))
    // exact top-3 per sampled query (brute force, query side broadcast)
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("norm").as("cnorm"))
    val exactScored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        DotProduct.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")))
      .select("query_id", "neighbor_id", "cos")
    val exact = graft.plans.GroupedTopK.topK(exactScored, Seq("query_id"), 3,
        col("cos").desc, col("neighbor_id").asc)
      .select("query_id", "neighbor_id")

    // sampled-IVF top-3 for the same queries (v8's index: train on the
    // vec_id%m sample, one inverted list per corpus vector, nprobe=2)
    val n = e.count()
    val m = ivfSampleMod(n)
    val sample = Tables.embeddings(s, dir)
      .filter(pmod(col("vec_id"), lit(m)) === 0)
    val k = ivfK(n) // corpus-derived, the v8 rule
    val centroids = graft.functions.KMeans.fit(sample, k, iters = 2,
      maxN = Some(n))
    val lists = graft.functions.KMeans.assign(e, centroids).persist()
    val probes = graft.functions.KMeans
      .assignTopN(e.filter(col("vec_id") < 5), centroids, 2)
    val a = probes.select(col("cell"), col("vec_id").as("query_id"),
      col("embedding").as("qe"), col("norm").as("qnorm"))
    val b = lists.select(col("cell"), col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("norm").as("cnorm"))
    val ivfScored = a.join(b, Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos",
        DotProduct.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")))
      .select("query_id", "neighbor_id", "cos")
    val ivf = graft.plans.GroupedTopK.topK(ivfScored, Seq("query_id"), 3,
        col("cos").desc, col("neighbor_id").asc)
      .select(col("query_id"), col("neighbor_id").as("ivf_neighbor"))

    exact.join(ivf,
        exact("query_id") === ivf("query_id") &&
        exact("neighbor_id") === ivf("ivf_neighbor"), "left")
      .drop(ivf("query_id"))
      .groupBy("query_id")
      .agg(count(col("ivf_neighbor")).as("n_match"))
      .withColumn("recall", col("n_match").cast("double") / 3.0)
      .orderBy("query_id")
  }

  private val v10Sql =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |n AS (
       |  SELECT vec_id, embedding, sqrt(${dotD("embedding", "embedding")}) AS norm
       |  FROM e),
       |q AS (SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm
       |      FROM n WHERE vec_id < 5),
       |bp AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${dotD("q.qe", "c.embedding")} / (q.qnorm * c.norm) AS cos
       |  FROM q JOIN n c ON c.vec_id <> q.query_id),
       |exact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM bp) t WHERE rank <= 3),
       |smp AS (
       |  SELECT vec_id, embedding FROM e
       |  WHERE vec_id % $ivfSampleModSql = 0),
       |seed AS (
       |  SELECT CAST(rn - 1 AS INT) AS cell, embedding FROM (
       |    SELECT vec_id, embedding,
       |           row_number() OVER (ORDER BY vec_id) AS rn FROM smp) s
       |  WHERE rn <= ${ivfKSqlFor("e")}),
       |cents0 AS (
       |  SELECT cell, embedding AS centroid,
       |         ${dotD("embedding", "embedding")} AS cnorm2 FROM seed),
       |${assignSql("cents0", "a1", from = "smp")},
       |${updateSql("a1", "m1", "cents1", from = "smp")},
       |${assignSql("cents1", "a2", from = "smp")},
       |${updateSql("a2", "m2", "cents2", from = "smp")},
       |${assignSql("cents2", "lists", from = "e", probe = 1)},
       |qv AS (SELECT vec_id, embedding FROM e WHERE vec_id < 5),
       |${assignSql("cents2", "probes", from = "qv", probe = 2)},
       |n2 AS (
       |  SELECT l.cell, e2.vec_id, e2.embedding,
       |         sqrt(${dotD("e2.embedding", "e2.embedding")}) AS norm
       |  FROM lists l JOIN e e2 USING (vec_id)),
       |q2 AS (
       |  SELECT p.cell, e2.vec_id, e2.embedding,
       |         sqrt(${dotD("e2.embedding", "e2.embedding")}) AS norm
       |  FROM probes p JOIN e e2 USING (vec_id)),
       |ip AS (
       |  SELECT q3.vec_id AS query_id, b.vec_id AS neighbor_id,
       |         ${dotD("q3.embedding", "b.embedding")} / (q3.norm * b.norm) AS cos
       |  FROM q2 q3 JOIN n2 b ON q3.cell = b.cell AND q3.vec_id <> b.vec_id),
       |ivf AS (
       |  SELECT query_id, neighbor_id AS ivf_neighbor FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM ip) t WHERE rank <= 3)
       |SELECT x.query_id, count(i.ivf_neighbor) AS n_match,
       |       CAST(count(i.ivf_neighbor) AS DOUBLE) / 3.0 AS recall
       |FROM exact x LEFT JOIN ivf i
       |  ON i.query_id = x.query_id AND i.ivf_neighbor = x.neighbor_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  // -- v13: IVF-PQ probe against the PERSISTED index — the
  //    build-once/probe-many serving shape. The index ([[IvfPqIndex]]:
  //    v8's sampled-training coarse quantizer + v12's per-subspace
  //    codebooks/codes, stored as parquet via the MergeWriter sink) is
  //    built on first touch and reused by every later execution, so this
  //    query's steady-state cost is the PROBE alone: broadcast coarse
  //    argmin for the 5 sampled queries (nprobe=2), inverted-list
  //    candidate lookup, and ADC ranking that reads 4 small ints per
  //    candidate instead of 64 floats — the corpus embeddings are never
  //    scanned. The oracle replays build+probe from the base table (an
  //    oracle must be a pure function of the inputs), which pins that the
  //    persisted index is bit-identical to freshly-trained state.
  private val v13IvfPqProbe: Q = (s, dir) => {
    val idx = IvfPqIndex.ensure(s, dir)
    val q = Tables.embeddings(s, dir).filter(col("vec_id") < 5)
      .select("vec_id", "embedding")
    IvfPqIndex.probe(s, idx, q, nprobe = 2, topk = 3)
      .orderBy("query_id", "rank")
  }

  /** Shared oracle prefix for v13/v14: the full IVF-PQ build replay
    * (v8's sampled coarse training + v12's subspace codebooks) plus the
    * candidate walk and per-subspace ADC terms, ending at the `adc`
    * table. */
  private val v13Prefix = {
    val adcTerms = (0 until pqM).map { j =>
      s"""adcj$j AS (
         |  SELECT c.query_id, c.neighbor_id,
         |         ${dotDN("q.embedding", "q.embedding", pqSubDim)}
         |         - 2.0 * ${dotDN("q.embedding", "cb.centroid", pqSubDim)}
         |         + cb.cnorm2 AS t
         |  FROM candv c
         |  JOIN pe$j q ON q.vec_id = c.query_id
         |  JOIN pa3_$j a ON a.vec_id = c.neighbor_id
         |  JOIN pc2_$j cb ON cb.cell = a.cell)""".stripMargin
    }
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |smp AS (
       |  SELECT vec_id, embedding FROM e
       |  WHERE vec_id % $ivfSampleModSql = 0),
       |seed AS (
       |  SELECT CAST(rn - 1 AS INT) AS cell, embedding FROM (
       |    SELECT vec_id, embedding,
       |           row_number() OVER (ORDER BY vec_id) AS rn FROM smp) s
       |  WHERE rn <= ${ivfKSqlFor("e")}),
       |cents0 AS (
       |  SELECT cell, embedding AS centroid,
       |         ${dotD("embedding", "embedding")} AS cnorm2 FROM seed),
       |${assignSql("cents0", "a1", from = "smp")},
       |${updateSql("a1", "m1", "cents1", from = "smp")},
       |${assignSql("cents1", "a2", from = "smp")},
       |${updateSql("a2", "m2", "cents2", from = "smp")},
       |${assignSql("cents2", "lists", from = "e", probe = 1)},
       |qv AS (SELECT vec_id, embedding FROM e WHERE vec_id < 5),
       |${assignSql("cents2", "qprobe", from = "qv", probe = 2)},
       |candv AS (
       |  SELECT q.vec_id AS query_id, l.vec_id AS neighbor_id
       |  FROM qprobe q JOIN lists l
       |    ON l.cell = q.cell AND l.vec_id <> q.vec_id),
       |${(0 until pqM).map(pqSubspaceSql).mkString(",\n")},
       |${adcTerms.mkString(",\n")},
       |adc AS (
       |  SELECT s0.query_id, s0.neighbor_id,
       |         s0.t + s1.t + s2.t + s3.t AS adc
       |  FROM adcj0 s0
       |  JOIN adcj1 s1 ON s1.query_id = s0.query_id
       |               AND s1.neighbor_id = s0.neighbor_id
       |  JOIN adcj2 s2 ON s2.query_id = s0.query_id
       |               AND s2.neighbor_id = s0.neighbor_id
       |  JOIN adcj3 s3 ON s3.query_id = s0.query_id
       |               AND s3.neighbor_id = s0.neighbor_id)""".stripMargin
  }

  private val v13Sql =
    s"""$v13Prefix,
       |r AS (
       |  SELECT query_id, neighbor_id, adc,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY adc, neighbor_id) AS rank
       |  FROM adc)
       |SELECT query_id, rank, neighbor_id, adc
       |FROM r WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // -- v14: the COMPOSED IVF-PQ serving pipeline — ADC shortlist (v13's
  //    probe, top-10 per query) + exact rerank: only the shortlisted ids
  //    join back to the original vectors for true cosine ordering, so
  //    quantization error never reaches the final ranking while the
  //    exact math touches candK·|queries| rows instead of the corpus.
  private val v14IvfPqRefined: Q = (s, dir) => {
    val idx = IvfPqIndex.ensure(s, dir)
    val e = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val q = e.filter(col("vec_id") < 5)
    IvfPqIndex.probeRefined(s, idx, q, e, candK = 10, topk = 3)
      .orderBy("query_id", "rank")
  }

  private val v14Sql =
    s"""$v13Prefix,
       |radc AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY adc, neighbor_id) AS rn
       |    FROM adc) t WHERE rn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${dotD("embedding", "embedding")}) AS norm
       |  FROM e),
       |rr AS (
       |  SELECT r.query_id, r.neighbor_id,
       |         ${dotD("q.embedding", "c.embedding")} / (q.norm * c.norm) AS cos
       |  FROM radc r
       |  JOIN nrm q ON q.vec_id = r.query_id
       |  JOIN nrm c ON c.vec_id = r.neighbor_id),
       |rk AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM rr)
       |SELECT query_id, rank, neighbor_id, cos
       |FROM rk WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // -- v15: recall@3 of the COMPOSED IVF-PQ serving path (v14's ADC
  //    shortlist + exact rerank) vs brute-force truth — the audit v10
  //    gives the sampled-IVF index, applied to the path production
  //    actually serves. Without this, quantization loss plus nprobe=2
  //    could silently degrade the shortlist and nothing would go red:
  //    v13/v14 are self-consistent oracles, not quality gates. Priced
  //    per SAMPLED query like v10 — the exact side is |queries|·n, never
  //    all-pairs, which is how a recall audit stays runnable at 100 TB.
  private val v15IvfPqRecall: Q = (s, dir) => {
    val idx = IvfPqIndex.ensure(s, dir)
    val e = Tables.embeddings(s, dir)
      .withColumn("norm", DotProduct.norm(col("embedding")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"),
              col("norm").as("qnorm"))
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("norm").as("cnorm"))
    val exactScored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        DotProduct.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")))
      .select("query_id", "neighbor_id", "cos")
    val exact = graft.plans.GroupedTopK.topK(exactScored, Seq("query_id"), 3,
        col("cos").desc, col("neighbor_id").asc)
      .select("query_id", "neighbor_id")

    val base = Tables.embeddings(s, dir).select("vec_id", "embedding")
    val refined = IvfPqIndex.probeRefined(s, idx,
        base.filter(col("vec_id") < 5), base, candK = 10, topk = 3)
      .select(col("query_id"), col("neighbor_id").as("ref_neighbor"))

    exact.join(refined,
        exact("query_id") === refined("query_id") &&
        exact("neighbor_id") === refined("ref_neighbor"), "left")
      .drop(refined("query_id"))
      .groupBy("query_id")
      .agg(count(col("ref_neighbor")).as("n_match"))
      .withColumn("recall", col("n_match").cast("double") / 3.0)
      .orderBy("query_id")
  }

  private val v15Sql =
    s"""$v13Prefix,
       |radc AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY adc, neighbor_id) AS rn
       |    FROM adc) t WHERE rn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${dotD("embedding", "embedding")}) AS norm
       |  FROM e),
       |rr AS (
       |  SELECT r.query_id, r.neighbor_id,
       |         ${dotD("q.embedding", "c.embedding")} / (q.norm * c.norm) AS cos
       |  FROM radc r
       |  JOIN nrm q ON q.vec_id = r.query_id
       |  JOIN nrm c ON c.vec_id = r.neighbor_id),
       |refined AS (
       |  SELECT query_id, neighbor_id AS ref_neighbor FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM rr) t WHERE rank <= 3),
       |xbp AS (
       |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
       |         ${dotD("q.embedding", "c.embedding")} / (q.norm * c.norm) AS cos
       |  FROM nrm q JOIN nrm c ON c.vec_id <> q.vec_id
       |  WHERE q.vec_id < 5),
       |xexact AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM xbp) t WHERE rank <= 3)
       |SELECT x.query_id, count(r.ref_neighbor) AS n_match,
       |       CAST(count(r.ref_neighbor) AS DOUBLE) / 3.0 AS recall
       |FROM xexact x LEFT JOIN refined r
       |  ON r.query_id = x.query_id AND r.ref_neighbor = x.neighbor_id
       |GROUP BY x.query_id ORDER BY x.query_id""".stripMargin

  // -- v16: index-health stats over the PERSISTED IVF-PQ index — the
  //    audit a production ANN deployment publishes next to recall (v15):
  //    per-cell inverted-list occupancy (a skewed cell breaks the
  //    O(n^1.5) in-cell search bound and tells you to re-train or split)
  //    and per-subspace PQ code usage (a dead or dominant codeword means
  //    the codebook has collapsed and ADC error is about to rise). Long
  //    format: grain='cell' rows share against the corpus, grain='code'
  //    rows within their subspace. Reads ONLY the index tables — at
  //    100 TB this audit costs two aggregations over id-sized tables,
  //    never a corpus scan; the oracle replays the build from the base
  //    table, which doubles as an end-to-end check that the persisted
  //    lists/codes match freshly-trained state.
  private val v16IndexStats: Q = (s, dir) => {
    val idx = IvfPqIndex.ensure(s, dir)
    val lists = s.read.parquet(s"$idx/lists")
    val codes = s.read.parquet(s"$idx/pq_codes")
    val cells = lists.groupBy(col("cell")).agg(count(lit(1)).as("n"))
    val cellRows = cells
      .crossJoin(broadcast(cells.agg(sum(col("n")).as("tot"))))
      .select(lit("cell").as("grain"), col("cell").cast("int").as("k1"),
        lit(-1).as("k2"), col("n"),
        (col("n").cast("double") / col("tot").cast("double")).as("share"))
    val codeCnt = codes.groupBy(col("subspace"), col("code"))
      .agg(count(lit(1)).as("n"))
    val codeRows = codeCnt
      .join(broadcast(codeCnt.groupBy("subspace").agg(sum(col("n")).as("tot"))),
        "subspace")
      .select(lit("code").as("grain"), col("subspace").cast("int").as("k1"),
        col("code").cast("int").as("k2"), col("n"),
        (col("n").cast("double") / col("tot").cast("double")).as("share"))
    cellRows.unionByName(codeRows).orderBy("grain", "k1", "k2")
  }

  private val v16Sql =
    s"""WITH e AS (SELECT vec_id, embedding FROM embeddings),
       |smp AS (
       |  SELECT vec_id, embedding FROM e
       |  WHERE vec_id % $ivfSampleModSql = 0),
       |seed AS (
       |  SELECT CAST(rn - 1 AS INT) AS cell, embedding FROM (
       |    SELECT vec_id, embedding,
       |           row_number() OVER (ORDER BY vec_id) AS rn FROM smp) s
       |  WHERE rn <= ${ivfKSqlFor("e")}),
       |cents0 AS (
       |  SELECT cell, embedding AS centroid,
       |         ${dotD("embedding", "embedding")} AS cnorm2 FROM seed),
       |${assignSql("cents0", "a1", from = "smp")},
       |${updateSql("a1", "m1", "cents1", from = "smp")},
       |${assignSql("cents1", "a2", from = "smp")},
       |${updateSql("a2", "m2", "cents2", from = "smp")},
       |${assignSql("cents2", "lists", from = "e", probe = 1)},
       |${(0 until pqM).map(pqSubspaceSql).mkString(",\n")},
       |cells AS (SELECT cell, count(*) AS n FROM lists GROUP BY cell),
       |ctot AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM cells),
       |cellrows AS (
       |  SELECT 'cell' AS grain, CAST(c.cell AS INT) AS k1,
       |         CAST(-1 AS INT) AS k2, c.n AS n,
       |         CAST(c.n AS DOUBLE)/CAST(t.tot AS DOUBLE) AS share
       |  FROM cells c, ctot t),
       |codecnt AS (
       |  ${(0 until pqM).map(j =>
             s"SELECT CAST($j AS INT) AS subspace, CAST(cell AS INT) AS code, " +
             s"count(*) AS n FROM pa3_$j GROUP BY cell")
             .mkString("\n  UNION ALL\n  ")}),
       |codetot AS (
       |  SELECT subspace, CAST(sum(n) AS BIGINT) AS tot
       |  FROM codecnt GROUP BY subspace),
       |coderows AS (
       |  SELECT 'code' AS grain, c.subspace AS k1, c.code AS k2, c.n,
       |         CAST(c.n AS DOUBLE)/CAST(t.tot AS DOUBLE) AS share
       |  FROM codecnt c JOIN codetot t USING (subspace))
       |SELECT grain, k1, k2, n, share FROM cellrows
       |UNION ALL SELECT grain, k1, k2, n, share FROM coderows
       |ORDER BY grain, k1, k2""".stripMargin

  // -- v17: FILTERED vector search — top-k under a metadata predicate
  //    (here: neighbors restricted to label=1), the shape every
  //    production vector store serves ("nearest docs in English", "same
  //    tenant only"). The predicate pre-filters the CANDIDATE ids with a
  //    semi-join before any ADC work — a post-filter of an unfiltered
  //    top-k would return short lists or miss eligible neighbors whose
  //    ADC rank fell outside the shortlist. The allowed set is id-sized
  //    (one column of the corpus), so at 100 TB the semi-join is the
  //    standard AQE broadcast-or-shuffle on neighbor id; everything else
  //    is v14's serving pipeline unchanged.
  private val v17FilteredAnn: Q = (s, dir) => {
    val idx = IvfPqIndex.ensure(s, dir)
    val e = Tables.embeddings(s, dir)
    val base = e.select("vec_id", "embedding")
    val allow = e.filter(col("label") === 1).select("vec_id")
    IvfPqIndex.probeRefined(s, idx, base.filter(col("vec_id") < 5), base,
        candK = 10, topk = 3, allowed = Some(allow))
      .orderBy("query_id", "rank")
  }

  // ADC values are per-(query, candidate) and unaffected by who else is
  // in the pool, so filtering the adc table before the shortlist rank is
  // exactly the engine's filter-before-ADC candidate semi-join.
  private val v17Sql =
    s"""$v13Prefix,
       |allow AS (SELECT vec_id FROM embeddings WHERE label = 1),
       |fadc AS (
       |  SELECT a.* FROM adc a
       |  WHERE a.neighbor_id IN (SELECT vec_id FROM allow)),
       |radc AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |                              ORDER BY adc, neighbor_id) AS rn
       |    FROM fadc) t WHERE rn <= 10),
       |nrm AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${dotD("embedding", "embedding")}) AS norm
       |  FROM e),
       |rr AS (
       |  SELECT r.query_id, r.neighbor_id,
       |         ${dotD("q.embedding", "c.embedding")} / (q.norm * c.norm) AS cos
       |  FROM radc r
       |  JOIN nrm q ON q.vec_id = r.query_id
       |  JOIN nrm c ON c.vec_id = r.neighbor_id),
       |rk AS (
       |  SELECT query_id, neighbor_id, cos,
       |         row_number() OVER (PARTITION BY query_id
       |                            ORDER BY cos DESC, neighbor_id) AS rank
       |  FROM rr)
       |SELECT query_id, rank, neighbor_id, cos
       |FROM rk WHERE rank <= 3 ORDER BY query_id, rank""".stripMargin

  // -- v18: Johnson–Lindenstrauss random projection — the dimensionality-
  //    reduction step of a reduce-then-search pipeline (64-dim float →
  //    8-dim code; JL says pairwise distances survive to within
  //    O(1/sqrt(out_dims)) distortion). The projection matrix is ±1
  //    (Achlioptas' database-friendly construction), each sign derived
  //    from one md5 hex digit of "j_d" — both engines rebuild the matrix
  //    from arithmetic alone, zero shipped state. Components scale to
  //    integer micro-units before the dot product, so each projected
  //    coordinate is an exact BIGINT sum: associative, partial-aggregable,
  //    bit-identical at any parallelism.
  //    Plan shape: ONE corpus scan × a BROADCAST 8-row sign matrix (the
  //    embedding width comes from a single-row read at plan-build time,
  //    not a corpus-wide max aggregate); the per-row fold runs inside
  //    codegen and nothing but the (n·8)-row result ever reaches an
  //    exchange — at 100 TB this is scan throughput, the shape that lets
  //    the reduced table feed a cheaper downstream index build (v2's LSH
  //    or v4's IVF) at 1/8 the width.
  //    The fold iterates each ROW's OWN indices (bounded by the sign
  //    vector), exactly like the oracle's list_transform over
  //    range(0, len(embedding)) — a zip_with against the corpus-max-width
  //    sign vector would null-pad shorter rows and poison their sum to
  //    NULL where the oracle sums the row's real components. The corpus
  //    contract is fixed-width embeddings (TESTDATA.md); the one-row dim
  //    read leans on it, and variable-width data would surface as a
  //    cross-engine diff here rather than silently truncating.
  private val projDims = 8
  private val v18RandProj: Q = (s, dir) => {
    val emb = Tables.embeddings(s, dir)
    val dim = emb.select(size(col("embedding")).as("d")).head().getInt(0)
    // The one-row dim read leans on the fixed-width corpus contract
    // (TESTDATA.md). Assert it per row instead of trusting it: a longer
    // row would otherwise silently truncate to the first row's width, and
    // an empty embedding would make sequence(0, -1) count DOWN and throw
    // an opaque element_at(..., 0) error. assert_true is codegen'd and
    // costs one comparison per row inside the same projection.
    val checked = emb.withColumn("_w",
      assert_true(size(col("embedding")) === lit(dim),
        lit(s"v18: embedding width != $dim — fixed-width contract broken")))
    val signs = s.range(projDims).toDF("j")
      .select(col("j"), expr(
        s"transform(sequence(0, $dim - 1), d -> " +
        "CASE WHEN CAST(conv(substring(md5(concat(CAST(j AS STRING), '_', " +
        "CAST(d AS STRING))), 1, 1), 16, 10) AS BIGINT) % 2 = 0 " +
        "THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END)").as("sg"))
    checked.crossJoin(broadcast(signs))
      .select(col("vec_id"), col("j"),
        // Adding coalesce(_w::bigint, 0) — always 0, the assert yields
        // NULL on success — keeps the check referenced; a bare `_w`
        // column would be pruned away, assert and all.
        (expr("aggregate(transform(" +
             "sequence(0, least(size(embedding), size(sg)) - 1), i -> " +
             "CAST(floor(CAST(element_at(embedding, i + 1) AS DOUBLE) " +
             "* 1000000.0) AS BIGINT) * element_at(sg, i + 1)), " +
             "CAST(0 AS BIGINT), (a, x) -> a + x)") +
          coalesce(col("_w").cast("long"), lit(0L))).as("proj_e6"))
      .orderBy("vec_id", "j")
  }

  private val v18Sql =
    s"""WITH dim AS (SELECT max(len(embedding)) AS dim FROM embeddings),
       |signs AS (
       |  SELECT j, list_transform(range(0, dim), d ->
       |    CASE WHEN (strpos('0123456789abcdef',
       |           substr(md5(CAST(j AS VARCHAR) || '_' || CAST(d AS VARCHAR)),
       |                  1, 1)) - 1) % 2 = 0
       |    THEN CAST(1 AS BIGINT) ELSE CAST(-1 AS BIGINT) END) AS sg
       |  FROM range(0, $projDims) t(j), dim)
       |SELECT e.vec_id, s.j,
       |       CAST(list_sum(list_transform(range(0, len(e.embedding)), i ->
       |         CAST(floor(CAST(e.embedding[CAST(i AS INT) + 1] AS DOUBLE)
       |              * 1000000.0) AS BIGINT)
       |           * s.sg[CAST(i AS INT) + 1])) AS BIGINT) AS proj_e6
       |FROM embeddings e, signs s
       |ORDER BY vec_id, j""".stripMargin

  // -- v19: exact Gram-matrix sufficient statistics over the leading 8
  //    embedding dimensions — Σ eᵢ·eⱼ for i ≤ j, the one-pass moment
  //    table a whitening/PCA transform trains from (the covariance
  //    follows from it and the v4 means). Components scale to integer
  //    micro-units (the v18 rule), so each product is an exact BIGINT
  //    and the cross-vector sum accumulates in DECIMAL(38,0): exact,
  //    associative, partial-aggregable — at 1e9 vectors a BIGINT sum
  //    would overflow but the decimal never does, and shuffle order
  //    still can't change a digit. Plan shape: one corpus scan × a
  //    broadcast 36-row (i,j) frame, map-side partial aggregation
  //    collapses every partition to 36 rows before the only exchange.
  //    The sums cross to the output as strings (scale-0 decimal prints
  //    identically on both engines; DuckDB's HUGEINT sum is also exact).
  private val gramDims = 8
  private val v19EmbedGram: Q = (s, dir) => {
    val pairsDf = s.range(gramDims).toDF("i")
      .crossJoin(s.range(gramDims).toDF("j"))
      .where(col("i") <= col("j"))
    Tables.embeddings(s, dir)
      .crossJoin(broadcast(pairsDf))
      .select(col("i"), col("j"),
        (expr("CAST(floor(CAST(element_at(embedding, CAST(i AS INT) + 1) " +
              "AS DOUBLE) * 1000000.0) AS BIGINT)") *
         expr("CAST(floor(CAST(element_at(embedding, CAST(j AS INT) + 1) " +
              "AS DOUBLE) * 1000000.0) AS BIGINT)")).as("p"))
      .groupBy("i", "j")
      .agg(sum(col("p").cast("decimal(38,0)")).cast("string").as("gram_e12"))
      .orderBy("i", "j")
  }

  private val v19Sql =
    s"""WITH pairs AS (
       |  SELECT ti.i, tj.j
       |  FROM range(0, $gramDims) ti(i), range(0, $gramDims) tj(j)
       |  WHERE ti.i <= tj.j)
       |SELECT p.i, p.j,
       |       CAST(sum(
       |         CAST(floor(CAST(e.embedding[CAST(p.i AS INT) + 1] AS DOUBLE)
       |              * 1000000.0) AS BIGINT)
       |         * CAST(floor(CAST(e.embedding[CAST(p.j AS INT) + 1] AS DOUBLE)
       |              * 1000000.0) AS BIGINT)) AS VARCHAR) AS gram_e12
       |FROM embeddings e, pairs p
       |GROUP BY p.i, p.j ORDER BY p.i, p.j""".stripMargin

  // -- v20: Matryoshka / truncated-dimension recall audit — can search
  //    run on the first 16 of 64 dims (4× cheaper scans, 4× smaller
  //    index) without losing the true neighbors? Exact top-3 under the
  //    full-dim cosine vs exact top-3 under the head-16 cosine for the
  //    sampled queries, intersected per query (v10's audit shape with
  //    the second ranking swapped in). ONE corpus scan scores BOTH
  //    metrics — the head dot product just folds fewer components —
  //    and both selections run through GroupedTopK, so the audit is
  //    priced per sampled query at any corpus size. Arithmetic is the
  //    v1 deterministic double pipeline on both engines.
  //    What it shows on THIS corpus: recall ≈ 0 — the synthetic
  //    embeddings are iid random, so the leading 16 dims carry no
  //    privileged information and head-cosine neighbors are unrelated
  //    to full-cosine neighbors among ~n near-orthogonal vectors.
  //    That is the audit doing its job: truncation is only safe for
  //    representations TRAINED nested (Matryoshka); this query is the
  //    measurement that would veto the 4× shortcut here.
  private val mrlDims = 16
  private val v20MatryoshkaRecall: Q = (s, dir) => {
    val e = Tables.embeddings(s, dir)
      .withColumn("norm", DotProduct.norm(col("embedding")))
      .withColumn("head", expr(s"slice(embedding, 1, $mrlDims)"))
      .withColumn("hnorm", DotProduct.norm(col("head")))
    val q = e.filter(col("vec_id") < 5)
      .select(col("vec_id").as("query_id"),
        col("embedding").as("qe"), col("norm").as("qnorm"),
        col("head").as("qh"), col("hnorm").as("qhnorm"))
    val c = e.select(col("vec_id").as("neighbor_id"),
      col("embedding").as("ce"), col("norm").as("cnorm"),
      col("head").as("ch"), col("hnorm").as("chnorm"))
    val scored = c.join(broadcast(q), col("neighbor_id") =!= col("query_id"))
      .withColumn("cos",
        DotProduct.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")))
      .withColumn("hcos",
        DotProduct.dot(col("qh"), col("ch")) / (col("qhnorm") * col("chnorm")))
      .select("query_id", "neighbor_id", "cos", "hcos")
      .persist() // one scan, two rankings
    val full = graft.plans.GroupedTopK.topK(
        scored.select("query_id", "neighbor_id", "cos"),
        Seq("query_id"), 3, col("cos").desc, col("neighbor_id").asc)
      .select("query_id", "neighbor_id")
    // rename BOTH head columns: full and head share the persisted
    // `scored` lineage, so same-name join references would be ambiguous
    val head = graft.plans.GroupedTopK.topK(
        scored.select("query_id", "neighbor_id", "hcos"),
        Seq("query_id"), 3, col("hcos").desc, col("neighbor_id").asc)
      .select(col("query_id").as("head_query"),
        col("neighbor_id").as("head_neighbor"))
    full.join(head,
        col("query_id") === col("head_query") &&
        col("neighbor_id") === col("head_neighbor"), "left")
      .groupBy("query_id")
      .agg(count(col("head_neighbor")).as("n_match"))
      .withColumn("recall", col("n_match").cast("double") / 3.0)
      .orderBy("query_id")
  }

  private val v20Sql =
    s"""WITH n AS (
       |  SELECT vec_id, embedding,
       |         sqrt(${dotD("embedding", "embedding")}) AS norm,
       |         sqrt(${dotDN("embedding", "embedding", mrlDims)}) AS hnorm
       |  FROM embeddings),
       |q AS (
       |  SELECT vec_id AS query_id, embedding AS qe, norm AS qnorm,
       |         hnorm AS qhnorm
       |  FROM n WHERE vec_id < 5),
       |bp AS (
       |  SELECT q.query_id, c.vec_id AS neighbor_id,
       |         ${dotD("q.qe", "c.embedding")} / (q.qnorm * c.norm) AS cos,
       |         ${dotDN("q.qe", "c.embedding", mrlDims)}
       |           / (q.qhnorm * c.hnorm) AS hcos
       |  FROM q JOIN n c ON c.vec_id <> q.query_id),
       |fullr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY cos DESC, neighbor_id) AS rank
       |    FROM bp) t WHERE rank <= 3),
       |headr AS (
       |  SELECT query_id, neighbor_id FROM (
       |    SELECT query_id, neighbor_id,
       |           row_number() OVER (PARTITION BY query_id
       |             ORDER BY hcos DESC, neighbor_id) AS rank
       |    FROM bp) t WHERE rank <= 3)
       |SELECT f.query_id, count(h.neighbor_id) AS n_match,
       |       CAST(count(h.neighbor_id) AS DOUBLE) / 3.0 AS recall
       |FROM fullr f LEFT JOIN headr h
       |  ON h.query_id = f.query_id AND h.neighbor_id = f.neighbor_id
       |GROUP BY f.query_id ORDER BY f.query_id""".stripMargin

  def queries: Map[String, Q] = Map(
    "v20_matryoshka_recall" -> v20MatryoshkaRecall,
    "v19_embed_gram"    -> v19EmbedGram,
    "v18_rand_proj"     -> v18RandProj,
    "v17_filtered_ann"  -> v17FilteredAnn,
    "v16_index_stats"   -> v16IndexStats,
    "v15_ivfpq_recall"  -> v15IvfPqRecall,
    "v14_ivf_pq_refined" -> v14IvfPqRefined,
    "v13_ivf_pq_probe"  -> v13IvfPqProbe,
    "v9_vector_stats"   -> v9VectorStats,
    "v10_ann_recall"    -> v10AnnRecall,
    "v1_knn_brute_topk" -> v1BruteTopk,
    "v2_lsh_buckets"    -> v2LshBuckets,
    "v3_lsh_ann_topk"   -> v3LshTopk,
    "v4_label_centroids" -> v4Centroids,
    "v5_embed_neardup"  -> v5NearDup,
    "v6_ivf_topk"       -> v6IvfTopk,
    "v7_quantize"       -> v7Quantize,
    "v8_ivf_sampled"    -> v8IvfSampled,
    "v11_embed_clusters" -> v11EmbedClusters,
    "v12_pq_codes"      -> v12PqCodes)

  def oracles: Map[String, String] = Map(
    "v19_embed_gram"    -> v19Sql,
    "v20_matryoshka_recall" -> v20Sql,
    "v18_rand_proj"     -> v18Sql,
    "v17_filtered_ann"  -> v17Sql,
    "v16_index_stats"   -> v16Sql,
    "v15_ivfpq_recall"  -> v15Sql,
    "v14_ivf_pq_refined" -> v14Sql,
    "v13_ivf_pq_probe"  -> v13Sql,
    "v9_vector_stats"   -> v9Sql,
    "v10_ann_recall"    -> v10Sql,
    "v1_knn_brute_topk" -> v1Sql,
    "v2_lsh_buckets"    -> v2Sql,
    "v3_lsh_ann_topk"   -> v3Sql,
    "v4_label_centroids" -> v4Sql,
    "v5_embed_neardup"  -> v5Sql,
    "v6_ivf_topk"       -> v6Sql,
    "v8_ivf_sampled"    -> v8Sql,
    "v7_quantize"       -> v7Sql,
    "v11_embed_clusters" -> v11Sql,
    "v12_pq_codes"      -> v12Sql)
}
