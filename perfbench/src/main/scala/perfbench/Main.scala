package perfbench

import java.io.File

import scala.collection.mutable

import org.apache.spark.sql.SparkSession

import graft.GraftSession

/** State shared by one benchmark run: the run's private directory, its
  * session, the tracer and listener, and the metrics it will print. */
final class Run(val seed: Long, val traced: Boolean, val work: File) {
  val metrics = mutable.LinkedHashMap[String, Double]()
  var attempted = 0L
  var failed = 0L
  var spark: SparkSession = _
  var meter: EngineMeter = _
  var tracer: Tracer = _
  /** extra listener keys (streaming batches) that belong to a span */
  val spanKeys = mutable.Map[Int, String]()

  def put(name: String, value: Double): Unit = metrics(name) = value

  def fail(what: String): Unit = {
    failed += 1
    System.err.println(s"[perfbench] FAILED: $what")
  }

  /** Start a session whose every on-disk byte (warehouse, index cache,
    * spark local dirs, checkpoints) lives under `tmp`: graft derives
    * them all from java.io.tmpdir. */
  def startSession(tmp: File): Unit = {
    tmp.mkdirs()
    System.setProperty("java.io.tmpdir", tmp.getPath)
    spark = GraftSession.builder()
      .config("spark.local.dir", new File(tmp, "spark-local").getPath)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    meter = new EngineMeter(perKey = traced)
    spark.sparkContext.addSparkListener(meter)
    tracer = new Tracer(spark.sparkContext, traced)
  }

  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)

  /** Run the harness's own work (output checks) outside the engine
    * counters. */
  def unmetered[T](body: => T): T = {
    val sc = spark.sparkContext
    sc.setLocalProperty(Tracer.UnmeteredKey, "1")
    try body finally sc.setLocalProperty(Tracer.UnmeteredKey, null)
  }

  /** Heap in use after full collections, in MB. Spark's context
    * cleaner frees blocks and broadcasts on its own thread after a
    * collection finds them unreachable, so collect until the heap stops
    * shrinking (by 1 MB) rather than a fixed number of times. */
  def retainedHeapMb(): Double = {
    val rt = Runtime.getRuntime
    def collect(): Double = {
      System.gc(); Thread.sleep(200)
      (rt.totalMemory() - rt.freeMemory()) / 1048576.0
    }
    var prev = collect()
    var cur = collect()
    var n = 2
    while (prev - cur > 1.0 && n < 20) { prev = cur; cur = collect(); n += 1 }
    cur
  }

  /** Seconds since this JVM started: `setup_s` when the first timed op
    * is about to run, so it holds the whole cold start (JVM, class
    * loading, first session) along with the harness's set-up work. */
  def sinceJvmStart(): Double =
    (System.currentTimeMillis() -
      java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime) / 1e3

  /** Peak resident set of this process (VmHWM), in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:"))
    line.map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)
  }
}

/** Entry point: `perfbench.Main --workload <name> --seed <n> --trace
  * <0|1> --work <dir> --corpus <dir> [--untraced-wall <s>]`, or
  * `perfbench.Main corpus <dir>` to write the query_mix corpus, or
  * `perfbench.Main record <corpusDir> <out.json>` to dump the Spark-side
  * hashes and oracle SQL that `oracle.py` checks against DuckDB. */
object Main {

  def main(args: Array[String]): Unit = {
    args.headOption match {
      case Some("record") => QueryMix.record(args(1), args(2)); return
      case Some("corpus") => Corpus.writeAlone(args(1)); return
      case _ =>
    }
    val opts = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val run = new Run(opts("seed").toLong, opts("trace") == "1",
      new File(opts("work")))
    val untracedWall = opts.get("untraced-wall").map(_.toDouble)
    val t0 = System.nanoTime()
    val ok = try {
      opts("workload") match {
        case "query_mix"   => QueryMix.run(run, new File(opts("corpus")))
        case "cte_monitor" => CteMonitor.run(run)
        case "doc_stream"  => DocStreamBench.run(run)
        case other => throw new IllegalArgumentException(
          s"unknown workload $other")
      }
      true
    } catch { case e: Throwable =>
      e.printStackTrace()
      false
    }
    if (ok) {
      if (run.traced) {
        val wall = run.metrics("wall_s")
        run.put("trace.wall_s", wall)
        run.put("trace.overhead_s",
          untracedWall.map(wall - _).getOrElse(Double.NaN))
        run.put("trace.spans", run.tracer.spans.size)
        val traceFile = new File(run.work, "trace.json")
        java.nio.file.Files.writeString(traceFile.toPath,
          run.tracer.toJson(run.meter, run.spanKeys.toMap))
      }
      System.err.println(f"[perfbench] process ${(System.nanoTime() - t0) / 1e9}%.1f s")
      println(resultLine(run))
    }
    if (run.spark != null) run.spark.stop()
    sys.exit(if (ok) 0 else 1)
  }

  /** The one-line JSON result. End-to-end metrics are printed by an
    * untraced run and per-layer metrics by a traced one. */
  def resultLine(run: Run): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val root = m.createObjectNode()
    root.put("correct", run.failed == 0)
    root.put("attempted", run.attempted)
    root.put("failed", run.failed)
    val ms = root.putObject("metrics")
    val wanted = if (run.traced) Metrics.perLayer else Metrics.endToEnd
    wanted.foreach { name =>
      val v = run.metrics.getOrElse(name, 0.0)
      val n = ms.putObject(name)
      if (v.isNaN || v.isInfinite) n.putNull("value") else n.put("value", v)
      n.put("unit", Metrics.unitOf(name))
    }
    m.writeValueAsString(root)
  }
}
