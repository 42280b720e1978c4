package graft.operators

import graft.Tables
import graft.functions.{DotProduct, KMeans}
import graft.sources.{MergeWriter, Warehouse}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The build-once/probe-many face of the IVF-PQ index (the production ANN
  * serving shape that v6/v8/v12's self-contained oracle queries obscure:
  * those retrain k-means inside every execution because an oracle query
  * must be a pure function of the input tables; a serving system builds
  * the index ONCE and amortizes it over every search).
  *
  * Build (mirrors v8's coarse quantizer + v12's product quantizer, same
  * deterministic arithmetic so the DuckDB oracle can replay it):
  *   - coarse centroids: k-means (k ∝ √n, 2 Lloyd rounds, first-k seed)
  *     trained on the deterministic vec_id-mod sample — k·dims rows;
  *   - inverted lists: every corpus vector's nearest cell — n (id, cell)
  *     pairs, the only corpus-sized table;
  *   - PQ codebooks: per-subspace k=8 codebooks over the sliced vectors —
  *     pqM·pqK·subDim rows;
  *   - PQ codes: each vector's per-subspace nearest-codeword id — n·pqM
  *     (id, subspace, code) triples, the compressed corpus (3 bits per
  *     subspace vs 16 floats).
  * All four persist as parquet through [[MergeWriter.upsertParquet]] —
  * the engine's crash-safe upsert sink, which is also the refresh path: a
  * new corpus snapshot merges by natural key instead of rewriting.
  *
  * Probe never touches the corpus embeddings: the query set assigns to
  * its nprobe nearest coarse cells (broadcast centroid argmin), the
  * inverted lists supply the candidate ids (shuffle on the cell id), and
  * ranking is asymmetric distance (ADC): for each candidate, sum over
  * subspaces of ‖q_j − codeword(code_j)‖² looked up from the broadcast
  * codebooks — the scan reads 4 small ints per candidate, not 64 floats.
  * At 100 TB that is the entire point: search I/O is the codes table
  * (~16 bytes/vector), two orders of magnitude under the raw vectors.
  *
  * The index directory is keyed by a CONTENT fingerprint of the source
  * parquet — each data file's name, length, and parquet footer bytes
  * (the footer carries the row-group stats, so any data change moves
  * it) — never mtime alone: a regenerated corpus with identical length
  * and a same-second timestamp must still rebuild, not serve stale.
  * A missing success marker means a partial build and rebuilds from
  * scratch. Builds are concurrency-safe: a per-path JVM monitor plus a
  * cross-process file lock serialize writers, the index is assembled in
  * a sibling scratch directory and promoted with one atomic rename, so
  * a reader can never observe a half-built index, and superseded
  * fingerprints of the same source are swept on promote.
  */
object IvfPqIndex {

  import Similarity.{dims, ivfK, ivfSampleMod, pqM, pqSubDim, pqK}

  /** Training-layout version, part of the cache key: the content
    * fingerprint alone cannot see a CODE change to the training rules
    * (k tiers, sample mod, PQ geometry), and serving a stale-layout
    * index against a freshly-derived oracle replay is a silent
    * cross-engine mismatch. Bump when any training parameter rule
    * changes. L2 = corpus-count-derived ivfK with uncapped tiers. */
  private val layoutTag = "L2"

  /** Deterministic per-corpus index location under java.io.tmpdir,
    * keyed by [[layoutTag]] + the source's content fingerprint
    * ([[graft.sources.Warehouse.contentTag]]) so the directory name IS
    * the cache key. */
  def indexDir(dir: String): String =
    s"${sys.props("java.io.tmpdir")}/graft_ivfpq_${layoutTag}_" +
      Warehouse.contentTag(sourceFile(dir))

  private def sourceFile(dir: String) =
    new java.io.File(dir, "embeddings.parquet")

  private def marker(path: String) = new java.io.File(path, "_INDEX_SUCCESS")
  /** Records which corpus a fingerprint dir serves, so promote can GC
    * this source's superseded fingerprints without touching others'. */
  private def sourceTag(path: String) = new java.io.File(path, "_SOURCE")

  private val monitors =
    new java.util.concurrent.ConcurrentHashMap[String, Object]()

  /** Build the index for `dir`'s embeddings table unless a complete one
    * already exists; returns its location. Safe to call from concurrent
    * sessions: exactly one builds, the rest wait and read the promoted
    * result. */
  def ensure(spark: SparkSession, dir: String): String =
    ensureAt(spark, dir, indexDir(dir))

  /** [[ensure]] with an explicit target (spec seam). */
  private[graft] def ensureAt(spark: SparkSession, dir: String,
                              path: String): String = {
    if (marker(path).exists()) return path
    val mon = monitors.computeIfAbsent(path, _ => new Object)
    // the monitor serializes threads of THIS JVM (FileLock is
    // per-process: overlapping lock() calls in one JVM throw instead of
    // queueing); the file lock serializes against other processes.
    mon.synchronized {
      if (!marker(path).exists()) {
        val lockFile = new java.io.File(path + ".lock")
        val ch = java.nio.channels.FileChannel.open(lockFile.toPath,
          java.nio.file.StandardOpenOption.CREATE,
          java.nio.file.StandardOpenOption.WRITE)
        val lk = ch.lock()
        try {
          if (!marker(path).exists()) { // the other process may have built
            val scratch = path + ".build"
            Warehouse.rmTree(new java.io.File(scratch)) // leftover of a crashed build
            build(spark, dir, scratch)
            java.nio.file.Files.writeString(
              new java.io.File(scratch, "_SOURCE").toPath,
              sourceFile(dir).getAbsolutePath)
            Warehouse.rmTree(new java.io.File(path)) // stale partial (pre-lock crash)
            // single atomic rename = the promote: readers see nothing or
            // a complete, marker-bearing index
            if (!new java.io.File(scratch).renameTo(new java.io.File(path)))
              sys.error(s"could not promote $scratch to $path")
            gcSuperseded(path)
          }
        } finally { lk.release(); ch.close() }
      }
    }
    path
  }

  /** Sweep sibling graft_ivfpq_* dirs that serve the SAME source file
    * under a superseded fingerprint — without this, every corpus
    * regeneration leaks an index dir for the life of the tmpdir.
    * Assumes readers of the superseded fingerprint have drained (a
    * session that fingerprints the regenerated corpus can no longer
    * resolve the old dir); a deployment with long-running concurrent
    * readers over a corpus being regenerated needs a catalog/lakehouse
    * layer's snapshot isolation, same caveat as MergeWriter's commit. */
  private def gcSuperseded(current: String): Unit = {
    val cur = new java.io.File(current)
    val src = try java.nio.file.Files.readString(sourceTag(current).toPath)
      catch { case _: java.io.IOException => return }
    Option(cur.getParentFile.listFiles()).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith("graft_ivfpq_") &&
        f.getName != cur.getName)
      .filter { f =>
        try java.nio.file.Files.readString(sourceTag(f.getPath).toPath) == src
        catch { case _: java.io.IOException => false }
      }
      .foreach { f =>
        Warehouse.rmTree(f)
        // the .lock file is deliberately NOT deleted: FileChannel locks
        // are bound to the inode, and recreating the file would let two
        // late builders hold "the" lock on different inodes — an
        // inode-sized leak buys keeping mutual exclusion sound
      }
  }

  /** (vec_id, embedding) → one long frame of the pqM subspace slices —
    * the grouped-training/encode input shape, shared with [[Similarity]]
    * so index codes and v12's trained codebooks can never slice
    * differently. */
  private def subspaceSlices(vectors: DataFrame): DataFrame =
    Similarity.pqSubspaces(vectors)

  /** Train + encode + persist. Package-private so specs can build into a
    * scratch location; normal callers go through [[ensure]]. */
  private[graft] def build(spark: SparkSession, dir: String,
                           path: String): Unit = {
    val root = new java.io.File(path)
    // no marker = unknown partial state from a crashed build: start clean
    Warehouse.rmTree(root)
    val e = Tables.embeddings(spark, dir).select("vec_id", "embedding")

    // Coarse quantizer: v8's shape — train on the deterministic sample
    // (k-means never needs the full corpus), assign EVERY vector once.
    // k tracks the CORPUS count (cell size n/k is the serving cost at
    // scale), while Lloyd still trains on the bounded sample — the r10
    // sf10 run caught sample-derived k leaving cells 4× too fat.
    val n = e.count()
    val m = ivfSampleMod(n)
    val sample = e.filter(pmod(col("vec_id"), lit(m)) === 0)
    val k = ivfK(n)
    val coarse = KMeans.fit(sample, k, iters = 2, maxN = Some(n))
    MergeWriter.upsertParquet(spark, s"$path/coarse_centroids",
      coarse.select(col("cell").cast("int").as("cell"), col("pos"),
        col("mean_v")),
      Seq("cell", "pos"))
    MergeWriter.upsertParquet(spark, s"$path/lists",
      KMeans.assign(e, coarse).select(col("vec_id"),
        col("cell").cast("int").as("cell")),
      Seq("vec_id"))
    coarse.unpersist()

    // Product quantizer: v12's shape — an independent k=pqK codebook per
    // subspace, all 4 trained by ONE grouped fit, not 4 sequential fits.
    // The data picks the path: a dimension-sized frame trains in one
    // task, a larger one runs one (subspace, cell, pos) shuffle per
    // Lloyd round; per-subspace arithmetic is bit-identical to the
    // unrolled oracle either way.
    val sub = subspaceSlices(e)
    val cb = KMeans.fitGrouped(sub, pqK, iters = 2)
    MergeWriter.upsertParquet(spark, s"$path/pq_codebooks",
      cb.select(col("subspace"), col("cell").cast("int").as("code"),
        col("pos"), col("mean_v")),
      Seq("subspace", "code", "pos"))
    MergeWriter.upsertParquet(spark, s"$path/pq_codes",
      KMeans.assignGrouped(sub, cb)
        .select(col("vec_id"), col("subspace"),
          col("cell").cast("int").as("code")),
      Seq("vec_id", "subspace"))
    cb.unpersist()
    marker(path).createNewFile(): Unit
  }

  /** Incremental ingest: encode `vectors` (vec_id, embedding) with the
    * EXISTING coarse centroids and PQ codebooks — no retraining — and
    * upsert their inverted-list and code rows by natural key. This is
    * the refresh path the MergeWriter sink exists for: day-to-day corpus
    * growth appends through the quantizers (two broadcast argmin scans
    * over the new batch only), while a codebook retrain is a rebuild.
    * Re-appending an id is an idempotent upsert, matching the
    * reference's re-ingestion semantics. */
  def append(spark: SparkSession, indexPath: String,
             vectors: DataFrame): Unit = {
    require(marker(indexPath).exists(), s"no complete index at $indexPath")
    val coarse = spark.read.parquet(s"$indexPath/coarse_centroids")
    MergeWriter.upsertParquet(spark, s"$indexPath/lists",
      KMeans.assign(vectors, coarse).select(col("vec_id"),
        col("cell").cast("int").as("cell")),
      Seq("vec_id"))
    val codebooks = spark.read.parquet(s"$indexPath/pq_codebooks")
      .select(col("subspace"), col("code").as("cell"), col("pos"),
        col("mean_v"))
    val codes = KMeans
      .assignGrouped(subspaceSlices(vectors), codebooks)
      .select(col("vec_id"), col("subspace"),
        col("cell").cast("int").as("code"))
    MergeWriter.upsertParquet(spark, s"$indexPath/pq_codes", codes,
      Seq("vec_id", "subspace"))
  }

  /** Deletion: drop `ids` (a one-column vec_id frame) from the inverted
    * lists and the codes table — the retraction half of the index
    * lifecycle (a vector store must forget as well as ingest). Quantizer
    * state is untouched (codebooks describe geometry, not membership),
    * so delete is O(|index|) rewrite work bounded by the id-sized
    * tables, never a corpus operation; removing absent ids is a no-op,
    * making tombstone redelivery idempotent like [[append]]. */
  def remove(spark: SparkSession, indexPath: String,
             ids: DataFrame): Unit = {
    require(marker(indexPath).exists(), s"no complete index at $indexPath")
    val ts = ids.select(col("vec_id"))
    MergeWriter.deleteParquet(spark, s"$indexPath/lists", ts, Seq("vec_id"))
    MergeWriter.deleteParquet(spark, s"$indexPath/pq_codes", ts, Seq("vec_id"))
  }

  /** Streaming maintenance: every micro-batch of (vec_id, embedding)
    * rows flows through [[append]] — the continuous-ingest face of the
    * same index. Exactly-once under redelivery holds because append is
    * an upsert by natural key: re-encoding the same ids with the same
    * frozen quantizers writes identical rows. */
  def maintain(vectors: DataFrame, indexPath: String)
      : org.apache.spark.sql.streaming.StreamingQuery =
    vectors.writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        if (!batch.isEmpty) append(batch.sparkSession, indexPath, batch)
      }
      .start()

  /** ADC probe + exact rerank — the full IVF-PQ serving pipeline: the
    * quantized index shortlists `candK` candidates per query (cheap,
    * corpus-free), then ONLY those ids join back to the original vectors
    * for exact cosine ordering. At scale the rerank is a point-lookup
    * join of a dimension-sized candidate set against the corpus — the
    * quantization error never reaches the final ranking, and the corpus
    * scan is bounded by candK·|queries| rows, not n.
    *
    * `queries` is the serving input — (vec_id, embedding) rows that need
    * NOT exist in the corpus: the rerank's query side reads the
    * embeddings straight from this frame, so external vectors (a user
    * query, a fresh batch) search without ever being ingested. Set
    * `excludeSelf` only when the queries are a corpus subset sharing its
    * id space (the v13/v14 oracle shape) and each query's own row should
    * not count as its neighbor. */
  def probeRefined(spark: SparkSession, indexPath: String,
                   queries: DataFrame, corpus: DataFrame,
                   candK: Int = 10, topk: Int = 3,
                   excludeSelf: Boolean = true,
                   allowed: Option[DataFrame] = None): DataFrame = {
    val cand = probe(spark, indexPath, queries, nprobe = 2, topk = candK,
        excludeSelf = excludeSelf, allowed = allowed)
      .select(col("query_id"), col("neighbor_id"))
    val qside = queries
      .select(col("vec_id").as("query_id"), col("embedding").as("qe"))
      .withColumn("qnorm", DotProduct.norm(col("qe")))
    val nside = corpus
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("ce"))
      .withColumn("cnorm", DotProduct.norm(col("ce")))
    // qside is |queries|-sized → broadcast; the nside join's probe side
    // (cand) is candK·|queries| rows, so the corpus is touched as point
    // lookups, never scanned into a shuffle.
    val scored = cand
      .join(broadcast(qside), "query_id")
      .join(nside, "neighbor_id")
      .withColumn("cos",
        DotProduct.dot(col("qe"), col("ce")) / (col("qnorm") * col("cnorm")))
      .select("query_id", "neighbor_id", "cos")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("cos").desc, col("neighbor_id"))
    graft.plans.GroupedTopK.topK(scored, Seq("query_id"), topk,
        col("cos").desc, col("neighbor_id").asc)
      .withColumn("rank", row_number().over(w))
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** ADC top-k search against a persisted index. `queries` needs
    * (vec_id, embedding) and may be entirely external to the corpus;
    * returns (query_id, rank, neighbor_id, adc) with rank 1..topk by
    * ascending asymmetric distance, ties by id — bit-identical to the
    * oracle's replay of the same arithmetic.
    *
    * `excludeSelf` drops candidates whose id EQUALS the query id. That
    * only means "not myself" when queries share the corpus id space (a
    * corpus-subset probe like v13); for external queries leave it false —
    * an external id that collides with a corpus vec_id would otherwise
    * silently lose that legitimate neighbor. */
  def probe(spark: SparkSession, indexPath: String, queries: DataFrame,
            nprobe: Int = 2, topk: Int = 3,
            excludeSelf: Boolean = true,
            allowed: Option[DataFrame] = None): DataFrame = {
    val coarse = spark.read.parquet(s"$indexPath/coarse_centroids")
    val lists = spark.read.parquet(s"$indexPath/lists")
    val codebooks = spark.read.parquet(s"$indexPath/pq_codebooks")
    val codes = spark.read.parquet(s"$indexPath/pq_codes")

    // candidate set: the query's nprobe nearest cells' inverted lists
    // (cells are disjoint, so candidates need no dedup)
    val probes = KMeans.assignTopN(queries, coarse, nprobe)
      .select(col("vec_id").as("query_id"), col("cell"))
    val withLists = probes
      .join(lists.select(col("vec_id").as("neighbor_id"), col("cell")), "cell")
    val unfiltered =
      (if (excludeSelf) withLists.filter(col("query_id") =!= col("neighbor_id"))
       else withLists)
        .select("query_id", "neighbor_id")
    // FILTERED search: metadata predicates restrict the NEIGHBOR side —
    // semi-join the candidate ids against the allowed set BEFORE any ADC
    // work, so filtered-out candidates never touch the codes table and
    // the top-k is ranked over eligible vectors only (pre-filtering; a
    // post-filter of an unfiltered top-k would return < k or miss
    // eligible neighbors entirely). The allowed set is id-sized; AQE
    // broadcasts it when small and shuffles on neighbor_id when not.
    val cand = allowed.fold(unfiltered)(a =>
      unfiltered.join(a.select(col("vec_id").as("neighbor_id")),
        Seq("neighbor_id"), "left_semi"))

    // query subvectors with their exact squared norms (qq is the constant
    // term of ‖q_j − c‖² = qq − 2·q_j·c + ‖c‖²)
    val qsub = (0 until pqM).map { j =>
      queries.select(col("vec_id").as("query_id"),
        lit(j).as("subspace"),
        slice(col("embedding"), j * pqSubDim + 1, pqSubDim).as("qe"))
    }.reduce(_ union _)
      .withColumn("qq", DotProduct.dot(col("qe"), col("qe")))

    // codebooks re-packed to float arrays exactly as KMeans.assign does
    // (CAST FLOAT, pos order) so reconstruction matches training
    val cbArr = codebooks.groupBy("subspace", "code")
      .agg(array_sort(collect_list(struct(col("pos"), col("mean_v"))))
        .as("pv"))
      .select(col("subspace"), col("code"),
        expr("transform(pv, x -> CAST(x.mean_v AS FLOAT))").as("centroid"))
      .withColumn("cnorm2", DotProduct.dot(col("centroid"), col("centroid")))

    // per-(candidate, subspace) ADC terms; qsub and cbArr are
    // dimension-sized broadcasts, so the only shuffle is codes⋈cand on
    // the neighbor id
    val terms = cand
      .join(codes.select(col("vec_id").as("neighbor_id"), col("subspace"),
        col("code")), "neighbor_id")
      .join(broadcast(qsub), Seq("query_id", "subspace"))
      .join(broadcast(cbArr), Seq("subspace", "code"))
      .select(col("query_id"), col("neighbor_id"), col("subspace"),
        (col("qq") - lit(2.0) * DotProduct.dot(col("qe"), col("centroid"))
          + col("cnorm2")).as("term"))

    // fixed-order subspace sum (t0 + t1 + t2 + t3, left-assoc): a plain
    // sum() would add in partition order and drift last-ulp vs the oracle
    val tCols = (0 until pqM).map(j =>
      max(when(col("subspace") === j, col("term"))).as(s"t$j"))
    val adc = terms.groupBy("query_id", "neighbor_id")
      .agg(tCols.head, tCols.tail: _*)
      .select(col("query_id"), col("neighbor_id"),
        (0 until pqM).map(j => col(s"t$j")).reduce(_ + _).as("adc"))

    val w = org.apache.spark.sql.expressions.Window
      .partitionBy("query_id").orderBy(col("adc"), col("neighbor_id"))
    graft.plans.GroupedTopK.topK(adc, Seq("query_id"), topk,
        col("adc").asc, col("neighbor_id").asc)
      .withColumn("rank", row_number().over(w))
      .select("query_id", "rank", "neighbor_id", "adc")
  }
}
