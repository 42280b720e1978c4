package perfbench

import scala.collection.mutable

import org.apache.spark.SparkContext
import org.apache.spark.scheduler._

/** Task-level counters of the engine, summed over a set of jobs. */
final class EngineCounts {
  var jobs = 0L; var stages = 0L; var tasks = 0L
  var runMs = 0L; var cpuNs = 0L; var gcMs = 0L
  var shuffleRead = 0L; var shuffleWrite = 0L; var spill = 0L
  var outputBytes = 0L
  /** task durations per stage, for the max / median skew ratio */
  val stageTaskMs = mutable.Map[Int, mutable.ArrayBuffer[Long]]()

  def add(o: EngineCounts): Unit = {
    jobs += o.jobs; stages += o.stages; tasks += o.tasks
    runMs += o.runMs; cpuNs += o.cpuNs; gcMs += o.gcMs
    shuffleRead += o.shuffleRead; shuffleWrite += o.shuffleWrite
    spill += o.spill; outputBytes += o.outputBytes
    o.stageTaskMs.foreach { case (k, v) =>
      stageTaskMs.getOrElseUpdate(k, mutable.ArrayBuffer()) ++= v }
  }

  /** bytes the engine put on disk: output files, shuffle files, spill */
  def bytesWritten: Long = outputBytes + shuffleWrite + spill

  /** median over stages of (slowest task ÷ median task), stages of at
    * least two tasks; 1.0 when there are none */
  def skew: Double = {
    val ratios = stageTaskMs.values.filter(_.size >= 2).map { ds =>
      val m = Stats.median(ds.map(_.toDouble).toSeq)
      ds.max / math.max(m, 1.0)
    }.toSeq
    if (ratios.isEmpty) 1.0 else Stats.median(ratios)
  }
}

/** SparkListener that attributes every job, stage and task to the span
  * that was open on the submitting thread (the `perfbench.span` local
  * property) or to the streaming micro-batch that ran it
  * (`streaming.sql.batchId`). Totals are kept whether or not spans are
  * traced; per-key counts are only kept when `perKey` is set. Jobs of
  * the harness's own output checks (`perfbench.unmetered`) are ignored. */
final class EngineMeter(perKey: Boolean) extends SparkListener {
  var total = new EngineCounts
  val byKey = mutable.Map[String, EngineCounts]()
  private val stageKey = mutable.Map[Int, String]()
  private val ignored = mutable.Set[Int]()

  /** Start a new phase: totals and attributions restart from zero. */
  def reset(): Unit = synchronized {
    total = new EngineCounts
    byKey.clear()
  }

  private def counts(key: Option[String]): Seq[EngineCounts] =
    total +: (if (perKey) key.map(k =>
      byKey.getOrElseUpdate(k, new EngineCounts)).toSeq else Nil)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val props = Option(e.properties)
    if (props.exists(_.getProperty(Tracer.UnmeteredKey) != null)) {
      ignored ++= e.stageIds
      return
    }
    val key = props.flatMap(p => Option(p.getProperty(Tracer.SpanKey)))
      .orElse(props.flatMap(p => Option(p.getProperty("streaming.sql.batchId")))
        .map("batch:" + _))
    e.stageIds.foreach(s => key.foreach(stageKey(s) = _))
    counts(key).foreach(_.jobs += 1)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    synchronized {
      if (!ignored(e.stageInfo.stageId))
        counts(stageKey.get(e.stageInfo.stageId)).foreach(_.stages += 1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    if (ignored(e.stageId)) return
    val m = e.taskMetrics
    counts(stageKey.get(e.stageId)).foreach { c =>
      c.tasks += 1
      if (m != null) {
        c.runMs += m.executorRunTime; c.cpuNs += m.executorCpuTime
        c.gcMs += m.jvmGCTime
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.spill += m.diskBytesSpilled
        c.outputBytes += m.outputMetrics.bytesWritten
      }
      if (e.taskInfo != null)
        c.stageTaskMs.getOrElseUpdate(e.stageId, mutable.ArrayBuffer()) +=
          e.taskInfo.duration
    }
  }

  /** counts attributed to any of `keys` */
  def sum(keys: Iterable[String]): EngineCounts = synchronized {
    val out = new EngineCounts
    keys.foreach(k => byKey.get(k).foreach(out.add))
    out
  }
}

/** One timed interval at a layer boundary. `parent` is -1 for an op. */
final case class Span(id: Int, name: String, layer: String, parent: Int,
                      startNs: Long, var endNs: Long = 0L) {
  def seconds: Double = (endNs - startNs) / 1e9
}

/** Span recorder. Spans are kept in memory and written once, when the
  * run ends. With tracing off, `span` only runs its body. */
final class Tracer(sc: SparkContext, val enabled: Boolean) {
  val spans = mutable.ArrayBuffer[Span]()
  private val open = mutable.Stack[Int]()
  private val t0 = System.nanoTime()

  def span[T](name: String, layer: String)(body: => T): T =
    if (!enabled) body
    else {
      val s = Span(spans.size, name, layer, open.headOption.getOrElse(-1),
        System.nanoTime())
      spans += s
      open.push(s.id)
      val prev = sc.getLocalProperty(Tracer.SpanKey)
      sc.setLocalProperty(Tracer.SpanKey, s.id.toString)
      try body
      finally {
        s.endNs = System.nanoTime()
        open.pop()
        sc.setLocalProperty(Tracer.SpanKey, prev)
      }
    }

  /** Add a span measured elsewhere (a streaming micro-batch). */
  def record(name: String, layer: String, parent: Int, startNs: Long,
             endNs: Long): Span = {
    val s = Span(spans.size, name, layer, parent, startNs, endNs)
    spans += s
    s
  }

  /** this span and every span below it */
  def subtree(id: Int): Seq[Span] = {
    val kids = spans.filter(_.parent == id).toSeq
    spans(id) +: kids.flatMap(k => subtree(k.id))
  }

  def toJson(meter: EngineMeter, extraKeys: Map[Int, String]): String = {
    val m = new com.fasterxml.jackson.databind.ObjectMapper()
    val arr = m.createArrayNode()
    spans.foreach { s =>
      val n = arr.addObject()
      n.put("id", s.id); n.put("name", s.name); n.put("layer", s.layer)
      n.put("parent", s.parent)
      n.put("start_s", (s.startNs - t0) / 1e9)
      n.put("end_s", (s.endNs - t0) / 1e9)
      val c = meter.sum(Seq(s.id.toString) ++ extraKeys.get(s.id))
      n.put("jobs", c.jobs); n.put("tasks", c.tasks)
      n.put("task_run_s", c.runMs / 1e3); n.put("task_cpu_s", c.cpuNs / 1e9)
    }
    m.writeValueAsString(arr)
  }
}

object Tracer {
  val SpanKey = "perfbench.span"
  val UnmeteredKey = "perfbench.unmetered"
}
