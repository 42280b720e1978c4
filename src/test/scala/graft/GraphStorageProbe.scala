package graft

import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicBoolean

import scala.jdk.CollectionConverters._

import graft.operators.Graph
import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.{DataFrame, Row, SparkSession}

/** Watches the Spark jobs of one graph call. Suites share one session
  * concurrently, so the listener only looks at jobs of the call's own
  * job group. */
object GraphStorageProbe {

  /** The collected rows of a call; whether one of its jobs ran the
    * single-task kernel, a one-task stage over a coalesce(1) partition
    * (a `CoalescedRDD`), which no distributed loop has; and how many
    * persisted RDDs its jobs read or built are still persisted once the
    * caller has released the result. */
  final case class Observed(rows: Seq[Row], singleTask: Boolean,
                            retained: Int)

  /** Run `run`, collect its result and release it with [[Graph.release]].
    * The listener keeps a strong reference to every persisted RDD of the
    * call's jobs: an RDD the kernel dropped without unpersisting is then
    * still counted, instead of being garbage collected (and freed by the
    * ContextCleaner) at a time no test controls. */
  def observe(spark: SparkSession)(run: => DataFrame): Observed = {
    val sc = spark.sparkContext
    val group = s"graph-storage-${UUID.randomUUID()}"
    val single = new AtomicBoolean(false)
    val touched = new ConcurrentHashMap[Int, RDD[_]]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties)
            .exists(_.getProperty("spark.jobGroup.id") == group)) {
          if (e.properties.getProperty("spark.job.description") == "drain")
            drained.countDown()
          else {
            if (e.stageInfos.exists(s => s.numTasks == 1 &&
                s.rddInfos.exists(_.name == "CoalescedRDD")))
              single.set(true)
            val persisted = sc.getPersistentRDDs
            e.stageInfos.flatMap(_.rddInfos).foreach(i =>
              persisted.get(i.id).foreach(touched.put(i.id, _)))
          }
        }
    }
    sc.addSparkListener(listener)
    val df = try {
      sc.setJobGroup(group, "graph kernel")
      val df = run
      // the listener bus is FIFO: once this marker job's start arrives,
      // every job of `run` has been seen
      sc.setJobDescription("drain")
      sc.parallelize(Seq(1), 1).count()
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus never drained")
      df
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(listener)
    }
    val rows = df.collect().toSeq
    Graph.release(df)
    Observed(rows, single.get,
      touched.values.asScala.count(_.getStorageLevel.isValid))
  }
}
