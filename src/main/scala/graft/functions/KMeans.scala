package graft.functions

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** DataFrame-native Lloyd's k-means over `array<float>` embeddings — the
  * IVF *training* stage (centroid set) feeding the v4 build / v6 search
  * pair. Deliberately plan-level, not MLlib: each iteration is
  *
  *   assign: corpus ⋈ broadcast(centroids) → argmin squared distance
  *           (one scan, k·dims flops per row, no shuffle of the corpus);
  *   update: groupBy(cell) of posexploded vectors → per-dim means
  *           (one shuffle on (cell, pos), map-side combined).
  *
  * Centroids are k·dims doubles — driver-safe for any realistic k; the
  * corpus is never collected. Initialization is deterministic (first k
  * distinct vec_ids by id order), so runs are reproducible.
  */
object KMeans {

  /** Vector-count bound under which Lloyd runs in ONE executor task (the
    * Graph-hybrid discipline; for [[fitGrouped]], rows over all subspaces
    * together): each distributed iteration costs a fixed
    * assign + update + persist-count stage chain that dwarfs the actual
    * flops on a dimension-sized training set (IVF trains on k ∝ √n
    * seeds over a bounded sample — the common case is thousands of
    * vectors). 65536 × 64-dim floats ≈ 16 MB through the coalesce(1).
    * Results are BIT-IDENTICAL on both paths: every dot/score is the
    * same left-to-right double fold, and the per-dim means are exact
    * (float mantissas leave ~29 headroom bits in a double sum, so
    * shuffle order never mattered to begin with) — KMeansSpec pins the
    * two paths equal on random data. */
  private val localFitVectors = 65536L

  /** One row per (cell, pos) — the long-format centroid table.
    * @param maxN an UPPER BOUND on the training-set size when the caller
    *             already knows one (corpus counts are already taken for
    *             the k tier); saves the eligibility count. None → count. */
  def fit(embeddings: DataFrame, k: Int, iters: Int,
          maxN: Option[Long] = None,
          localThreshold: Long = localFitVectors): DataFrame = {
    val spark = embeddings.sparkSession
    val corpus = embeddings.select("vec_id", "embedding")

    val nBound = maxN.getOrElse(corpus.count())
    if (nBound <= localThreshold)
      return fitLocal(corpus, k, iters)

    // deterministic seed: the k lowest vec_ids
    var centroids = corpus.orderBy("vec_id").limit(k)
      .select(col("vec_id").cast("int").as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("cell"), col("pos"),
        col("v").cast("double").as("mean_v"))
      .groupBy("cell", "pos").agg(first(col("mean_v")).as("mean_v"))
    // re-number cells 0..k-1 for stability. The distinct seed ids are k
    // ints (dimension-sized — k ∝ √n stays driver-safe at any corpus
    // scale), so the id map is collected and broadcast-joined back; a
    // dense_rank over an unpartitioned window would do the same job but
    // drags every row to one partition and trips the global-window
    // warning, so it is banned here like everywhere else in the engine.
    import spark.implicits._
    val idMap = centroids.select("cell").distinct().orderBy("cell")
      .collect().map(_.getInt(0)).zipWithIndex.toSeq
      .toDF("cell", "cell_new")
    centroids = centroids.join(broadcast(idMap), "cell")
      .select(col("cell_new").as("cell"), col("pos"), col("mean_v"))

    // Each iteration persists its centroids to cut lineage growth; the
    // previous iteration's cache is released once the new one is
    // materialized. The RETURNED frame stays persisted — callers that are
    // done with it should unpersist().
    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val assigned = assign(corpus, centroids)
      centroids = assigned
        .select(col("cell"), posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("cell", "pos")
        .agg(avg(col("v").cast("double")).as("mean_v"))
      centroids.persist()
      centroids.count()
      prev.foreach(_.unpersist())
      prev = Some(centroids)
    }
    centroids
  }

  /** [[fit]]'s local branch: the whole training set through ONE task. */
  private def fitLocal(corpus: DataFrame, k: Int, iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(col("vec_id").cast("long"), col("embedding"))
      .as[(Long, Array[Float])]
      .coalesce(1)
      .mapPartitions { it =>
        lloyd(it.toArray, k, iters).iterator.flatMap { case (cid, m) =>
          m.iterator.zipWithIndex.map { case (v, p) => (cid, p, v) }
        }
      }
      .toDF("cell", "pos", "mean_v")
      .localCheckpoint()
  }

  /** The single-task Lloyd kernel behind both local branches, over one
    * training set's (vec_id, embedding) rows; returns (cell, means) in
    * ascending cell order. Replicates the distributed arithmetic
    * exactly: seeds = k lowest vec_ids renumbered 0..k-1 by ascending
    * int(vec_id); per iteration, centroid floats from the means, cnorm2
    * and scores as left-to-right double folds over min-length prefixes
    * (DotProduct's contract), argmin ties to the lowest cell, per-(cell,
    * pos) means over members whose vectors reach pos; cells that lose
    * all members vanish. */
  private def lloyd(rows: Array[(Long, Array[Float])], k: Int,
                    iters: Int): Array[(Int, Array[Double])] = {
    def dot(a: Array[Float], b: Array[Float]): Double = {
      val n = math.min(a.length, b.length)
      var s = 0.0; var i = 0
      while (i < n) { s += a(i).toDouble * b(i).toDouble; i += 1 }
      s
    }
    // seed: k lowest vec_ids, cells 0..k-1 by ascending int(vec_id)
    val seeds = rows.sortBy(_._1).take(k).sortBy(_._1.toInt)
    // (cellId, centroid means) — ids stay stable across iterations
    var cents: Array[(Int, Array[Double])] =
      seeds.zipWithIndex.map { case ((_, e), i) =>
        (i, e.map(_.toDouble))
      }
    var iter = 0
    while (iter < iters && rows.nonEmpty) {
      iter += 1
      val fc = cents.map { case (id, m) => (id, m.map(_.toFloat)) }
      val cn2 = fc.map { case (_, c) => dot(c, c) }
      // accumulate per-cell per-pos sums/counts as we assign
      val sums = new java.util.HashMap[Int, Array[Double]]()
      val cnts = new java.util.HashMap[Int, Array[Long]]()
      var r = 0
      while (r < rows.length) {
        val e = rows(r)._2
        var best = 0; var bestScore = Double.MaxValue
        var j = 0
        while (j < fc.length) {
          val sc = cn2(j) - 2.0 * dot(e, fc(j)._2)
          // ties break to the lowest cell id; fc is id-ascending
          if (sc < bestScore) { bestScore = sc; best = j }
          j += 1
        }
        val cid = fc(best)._1
        var s = sums.get(cid)
        if (s == null) {
          s = new Array[Double](e.length)
          sums.put(cid, s); cnts.put(cid, new Array[Long](e.length))
        } else if (s.length < e.length) {
          s = java.util.Arrays.copyOf(s, e.length)
          sums.put(cid, s)
          cnts.put(cid,
            java.util.Arrays.copyOf(cnts.get(cid), e.length))
        }
        val c = cnts.get(cid)
        var p = 0
        while (p < e.length) { s(p) += e(p).toDouble; c(p) += 1L; p += 1 }
        r += 1
      }
      cents = sums.keySet().toArray(Array.empty[Integer])
        .map(_.intValue()).sorted
        .map { cid =>
          val s = sums.get(cid); val c = cnts.get(cid)
          (cid, Array.tabulate(s.length)(p =>
            if (c(p) > 0) s(p) / c(p) else Double.NaN))
        }
      // a pos no member reaches has count 0 — the distributed
      // posexplode never emits it, so drop the slot entirely
      cents = cents.map { case (id, m) =>
        (id, m.zipWithIndex.filter { case (_, p) =>
          cnts.get(id)(p) > 0 }.map(_._1))
      }
    }
    cents
  }

  /** [[fit]] generalized to MANY independent trainings: `sub` carries a
    * `subspace` column and every subspace trains its own k centroids
    * (v12/IvfPqIndex build: 4 PQ codebooks). The data picks the path,
    * as in fit: a training frame of at most `localThreshold` rows (all
    * subspaces together) trains every subspace in ONE task, one Lloyd
    * kernel call per subspace; a larger one runs the distributed loop,
    * where each Lloyd round is ONE update shuffle keyed (subspace, cell,
    * pos) for all subspaces. Per-subspace arithmetic — seeds, argmin,
    * means — is IDENTICAL to running fit() on that subspace alone, so
    * both paths are bit-equal to the sequential loop and the unrolled
    * oracle replay. */
  def fitGrouped(sub: DataFrame, k: Int, iters: Int,
                 localThreshold: Long = localFitVectors): DataFrame = {
    val spark = sub.sparkSession
    val corpus = sub.select("subspace", "vec_id", "embedding")

    if (corpus.count() <= localThreshold)
      return fitGroupedLocal(corpus, k, iters)

    // deterministic seed: the k lowest vec_ids of each subspace
    var centroids = graft.plans.GroupedTopK
      .topK(corpus, Seq("subspace"), k, col("vec_id").asc)
      .select(col("subspace"), col("vec_id").cast("int").as("cell"),
        posexplode(col("embedding")).as(Seq("pos", "v")))
      .select(col("subspace"), col("cell"), col("pos"),
        col("v").cast("double").as("mean_v"))
      .groupBy("subspace", "cell", "pos").agg(first(col("mean_v")).as("mean_v"))
    // re-number cells 0..k-1 within each subspace (same id-order rule as
    // fit; the map is subspaces·k ints — dimension-sized at any scale)
    import spark.implicits._
    val idMap = centroids.select("subspace", "cell").distinct()
      .collect().map(r => (r.getInt(0), r.getInt(1))).toSeq
      .groupBy(_._1).toSeq.flatMap { case (ss, cs) =>
        cs.map(_._2).sorted.zipWithIndex.map { case (c, i) => (ss, c, i) }
      }.toDF("subspace", "cell", "cell_new")
    centroids = centroids.join(broadcast(idMap), Seq("subspace", "cell"))
      .select(col("subspace"), col("cell_new").as("cell"), col("pos"),
        col("mean_v"))

    var prev: Option[DataFrame] = None
    for (_ <- 1 to iters) {
      val assigned = assignGrouped(corpus, centroids)
      centroids = assigned
        .select(col("subspace"), col("cell"),
          posexplode(col("embedding")).as(Seq("pos", "v")))
        .groupBy("subspace", "cell", "pos")
        .agg(avg(col("v").cast("double")).as("mean_v"))
      centroids.persist()
      centroids.count()
      prev.foreach(_.unpersist())
      prev = Some(centroids)
    }
    centroids
  }

  /** [[fitGrouped]]'s local branch: every subspace in ONE task, one
    * [[lloyd]] call per subspace. */
  private def fitGroupedLocal(corpus: DataFrame, k: Int,
                              iters: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    corpus
      .select(col("subspace").cast("int"), col("vec_id").cast("long"),
        col("embedding"))
      .as[(Int, Long, Array[Float])]
      .coalesce(1)
      .mapPartitions { it =>
        it.toArray.groupBy(_._1).toArray.sortBy(_._1).iterator.flatMap {
          case (ss, rows) =>
            lloyd(rows.map(r => (r._2, r._3)), k, iters).iterator.flatMap {
              case (cid, m) =>
                m.iterator.zipWithIndex.map { case (v, p) => (ss, cid, p, v) }
            }
        }
      }
      .toDF("subspace", "cell", "pos", "mean_v")
      .localCheckpoint()
  }

  /** Per-subspace nearest-centroid assignment against [[fitGrouped]]'s
    * long centroid table: the broadcast equi-join on `subspace` replaces
    * assign's crossJoin, everything else is the same scoring/argmin. */
  def assignGrouped(sub: DataFrame, centroids: DataFrame): DataFrame = {
    val cents = centroids
      .groupBy("subspace", "cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v"))))
        .as("pv"))
      .select(col("subspace"), col("cell"),
        expr("transform(pv, x -> CAST(x.mean_v AS FLOAT))").as("centroid"))
      .withColumn("cnorm2", DotProduct.dot(col("centroid"), col("centroid")))
    val scored = sub.join(broadcast(cents), "subspace")
      .withColumn("score",
        col("cnorm2") - lit(2.0) * DotProduct.dot(col("embedding"), col("centroid")))
    graft.plans.GroupedTopK.topK(scored, Seq("subspace", "vec_id"), 1,
        col("score").asc, col("cell").asc)
      .drop("score", "centroid", "cnorm2")
  }

  /** Nearest-centroid assignment: adds a `cell` column. The centroid table
    * pivots to dense arrays and broadcasts; distance is ‖e‖²-free argmin
    * over −2·e·c + ‖c‖² (monotone-equivalent, one dot per cell). The
    * argmin runs through GroupedTopK(k=1): the broadcast join keeps all k
    * scored rows of a vector in one partition, so the partial heap
    * reduces them to ONE row before the exchange — a window would
    * shuffle+sort the full n·k score table. */
  def assign(embeddings: DataFrame, centroids: DataFrame): DataFrame =
    assignTopN(embeddings, centroids, 1)

  /** The `nprobe` generalization: each vector gets its `n` nearest cells
    * (one row per (vector, probed cell)) — n = 1 is the inverted-list
    * build; n > 1 is the IVF query-side probe that recovers the recall a
    * single probe loses at cell boundaries. */
  def assignTopN(embeddings: DataFrame, centroids: DataFrame, n: Int): DataFrame = {
    val cents = centroids
      .groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v"))))
        .as("pv"))
      .select(col("cell"),
        expr("transform(pv, x -> CAST(x.mean_v AS FLOAT))").as("centroid"))
      .withColumn("cnorm2", DotProduct.dot(col("centroid"), col("centroid")))
    val scored = embeddings.crossJoin(broadcast(cents))
      .withColumn("score",
        col("cnorm2") - lit(2.0) * DotProduct.dot(col("embedding"), col("centroid")))
    graft.plans.GroupedTopK.topK(scored, Seq("vec_id"), n,
        col("score").asc, col("cell").asc)
      .drop("score", "centroid", "cnorm2")
  }

  /** Within-cluster sum of squared distances — the convergence metric. */
  def cost(embeddings: DataFrame, centroids: DataFrame): Double = {
    val assigned = assign(embeddings, centroids)
    val cents = centroids.groupBy("cell")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v"))))
        .as("pv"))
      .select(col("cell"),
        expr("transform(pv, x -> CAST(x.mean_v AS FLOAT))").as("centroid"))
    assigned.join(broadcast(cents), "cell")
      .withColumn("d2",
        DotProduct.dot(col("embedding"), col("embedding")) -
        lit(2.0) * DotProduct.dot(col("embedding"), col("centroid")) +
        DotProduct.dot(col("centroid"), col("centroid")))
      .agg(sum(col("d2"))).collect()(0).getDouble(0)
  }
}
