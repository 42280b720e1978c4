package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}

import graft.SparkEntry
import graft.operators._

/** Plan search that descends into adaptive query stages. */
object PlanWalk
  extends org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

/** `query_mix`: one client in a closed loop over [[queryNames]], one
  * cold pass in a fixed order, on the synthetic corpus at [[sf]]. An op
  * is one query: build the DataFrame, then collect it. Each result is
  * checked against the recorded oracle hash. */
object QueryMix {

  val sf = 0.002

  /** Three of the ROADMAP D2 first targets (gr3, v12, a2), and one
    * query for each other operator pack but curation (README.md,
    * "query_mix"). w4 also exercises GroupedTopK, x5 the summary
    * rewrite. In a cold pass the order decides which query pays for
    * which first use, so it is fixed. */
  val queryNames: Seq[String] = Seq("s1_scan_filter_project",
    "gr3_bfs_hops", "w4_grouped_topk", "d13_line_dedup",
    "t4_fingerprint", "v12_pq_codes", "st1_tumbling_window",
    "m3_phash_neardup", "a2_sigma_clip", "j5_point_in_polygon",
    "x5_mv_rewrite", "k3_bottomk_quantiles")

  /** operator pack of each query, named as in Metrics.packs */
  lazy val packOf: Map[String, String] = Seq(
    "relational" -> Relational, "windowed" -> WindowedScalar,
    "statistical" -> Statistical, "text" -> TextAnalysis, "dedup" -> Dedup,
    "similarity" -> Similarity, "mergestream" -> MergeStream,
    "multimodal" -> Multimodal, "spatial" -> Spatial, "skew" -> Skew,
    "sketch" -> Sketch, "graph" -> GraphQueries).flatMap { case (p, pack) =>
      pack.queries.keys.map(_ -> p) }.toMap

  private val kernelPacks = Set("text", "dedup", "similarity")

  val oracleFile = "perfbench/oracle/query_mix.json"

  /** name -> (rows, hash) recorded by `perfbench/oracle.py` */
  def loadOracle(): Map[String, (Long, String)] = {
    val tree = new com.fasterxml.jackson.databind.ObjectMapper()
      .readTree(new File(oracleFile))
    require(tree.get("sf").asDouble == sf,
      s"$oracleFile was recorded at sf ${tree.get("sf")}, not $sf")
    val qs = tree.get("queries")
    queryNames.map { n =>
      val q = qs.get(n)
      require(q != null, s"$oracleFile has no entry for $n")
      n -> (q.get("rows").asLong, q.get("hash").asText)
    }.toMap
  }

  private def scanPaths(p: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan) =
    p.collect { case LogicalRelation(r: HadoopFsRelation, _, _, _, _) =>
      r.location.rootPaths.map(_.toString) }.flatten.toSet

  def run(r: Run, builtCorpus: File): Unit = {
    val oracle = loadOracle()
    // ---- set-up: session, corpus, warm-up (README.md, "Warm-up")
    val t0 = System.nanoTime()
    val tmp = new File(r.work, "tmp")
    r.startSession(tmp)
    val t1 = System.nanoTime()
    // the corpus depends on no seed, so run.py writes it once per build;
    // each run works on its own copy
    val dataDir = new File(r.work, "data")
    Files.copyTree(builtCorpus, dataDir)
    val data = dataDir.getPath
    val corpus = Files.bytes(dataDir).toDouble
    val t2 = System.nanoTime()
    val spark = r.spark
    val queries = SparkEntry.queries
    // warm-up (README.md, "Warm-up"): load every table through graft's
    // loaders, and run the session's first job
    Corpus.tableNames.foreach(t => graft.Tables.load(spark, data, t))
    graft.Tables.lineitem(spark, data).count()
    val t3 = System.nanoTime()

    // ---- timed phase
    r.drain(); r.meter.reset()
    Metrics.putSetup(r, (t1 - t0) / 1e9, (t2 - t1) / 1e9, 0.0,
      (t3 - t2) / 1e9)
    val warehouse = new java.net.URI(
      spark.conf.get("spark.sql.warehouse.dir")).getPath
    val lat = mutable.ArrayBuffer[Double]()
    val packS = mutable.Map[String, Double]().withDefaultValue(0.0)
    val phaseMs = mutable.Map[String, Double]().withDefaultValue(0.0)
    var topkOps = 0; var rewriteOps = 0
    val opSpans = mutable.ArrayBuffer[(String, Int)]()
    var wall = 0.0
    queryNames.foreach { n =>
      r.attempted += 1
      val start = System.nanoTime()
      val spanId = r.tracer.spans.size
      val res = try {
        Some(r.tracer.span(n, "op") {
          val df = r.tracer.span(s"$n.build", "operators") {
            queries(n)(spark, data) }
          val rows = r.tracer.span(s"$n.exec", "engine") { df.collect() }
          (df, rows)
        })
      } catch { case e: Throwable =>
        r.fail(s"$n threw ${e.getMessage}")
        None
      }
      val dt = (System.nanoTime() - start) / 1e9
      System.err.println(f"[perfbench] op $n $dt%.2f s")
      res.foreach { case (df, rows) =>
        lat += dt
        wall += dt
        packS(packOf(n)) += dt
        if (r.traced) opSpans += n -> spanId
        val (count, hash) = CanonHash(df.columns.toSeq, rows)
        val (wantRows, wantHash) = oracle(n)
        if (count != wantRows || hash != wantHash)
          r.fail(s"$n returned $count rows hash ${hash.take(12)}, " +
            s"oracle $wantRows rows hash ${wantHash.take(12)}")
        if (r.traced) {
          val qe = df.queryExecution
          Seq("analysis", "optimization", "planning").foreach { ph =>
            qe.tracker.phases.get(ph).foreach(s => phaseMs(ph) += s.durationMs)
          }
          if (PlanWalk.find(qe.executedPlan)(
              _.getClass.getSimpleName == "GroupedTopKExec").isDefined)
            topkOps += 1
          val before = scanPaths(qe.analyzed)
          if (scanPaths(qe.optimizedPlan).exists(p =>
              p.contains(warehouse) && !before(p)))
            rewriteOps += 1
        }
        Graph.release(df)
      }
      spark.catalog.clearCache()
    }
    r.drain()
    val engine = r.meter.total
    r.put("wall_s", wall)
    Metrics.putOps(r, lat.toSeq)
    r.put("freshness_p50_s", Stats.median(lat.toSeq))
    r.put("retained_heap_mb", r.retainedHeapMb())
    r.put("write_amp", engine.bytesWritten / corpus)
    val onDisk = Files.bytes(new File(data)) + Files.bytes(tmp) -
      Files.bytes(new File(tmp, "spark-local"))
    r.put("space_amp", onDisk / corpus)

    if (r.traced) {
      val spans = r.tracer.spans
      def sumLayer(suffix: String) =
        spans.filter(_.name.endsWith(suffix)).map(_.seconds).sum
      val build = sumLayer(".build")
      val exec = sumLayer(".exec")
      r.put("operators.build_s", build)
      r.put("operators.exec_s", exec)
      r.put("operators.build_share", build / (build + exec))
      r.put("operators.build_jobs", r.meter.sum(spans
        .filter(_.name.endsWith(".build")).map(_.id.toString)).jobs)
      Metrics.packs.foreach(p => r.put(s"operators.${p}_s", packS(p)))
      r.put("plans.analysis_ms", phaseMs("analysis"))
      r.put("plans.optimization_ms", phaseMs("optimization"))
      r.put("plans.planning_ms", phaseMs("planning"))
      r.put("plans.grouped_topk_ops", topkOps)
      r.put("plans.summary_rewrite_ops", rewriteOps)
      val kernelKeys = opSpans.collect { case (n, id)
        if kernelPacks(packOf(n)) => r.tracer.subtree(id).map(_.id.toString)
      }.flatten
      r.put("functions.kernel_cpu_s", r.meter.sum(kernelKeys).cpuNs / 1e9)
      r.put("graft.peak_rss_mb", r.peakRssMb())
      Metrics.putEngine(r, engine, wall)
    }
  }

  /** Run each query once on a corpus written to `dir` and dump its
    * Spark-side (rows, hash) and oracle SQL to `out` for oracle.py. */
  def record(dir: String, out: String): Unit = {
    val r = new Run(0, false, new File(out).getAbsoluteFile.getParentFile)
    r.startSession(new File(dir + ".tmp"))
    Corpus.write(r.spark, dir, sf)
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("sf", sf)
    val qs = root.putObject("queries")
    val sql = SparkEntry.oracleSql
    queryNames.foreach { n =>
      val df: DataFrame = SparkEntry.queries(n)(r.spark, dir)
      val rows = df.collect()
      val (count, hash) = CanonHash(df.columns.toSeq, rows)
      val q = qs.putObject(n)
      q.put("rows", count); q.put("hash", hash)
      sql.get(n).foreach(q.put("sql", _))
      Graph.release(df)
      r.spark.catalog.clearCache()
    }
    java.nio.file.Files.writeString(new File(out).toPath,
      m.writerWithDefaultPrettyPrinter().writeValueAsString(root))
    r.spark.stop()
  }
}
