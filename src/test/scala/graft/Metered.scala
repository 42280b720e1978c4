package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue,
  CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.AtomicLong

import scala.jdk.CollectionConverters._

import org.apache.spark.rdd.RDD
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
  SparkListenerStageSubmitted, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession

/** What the jobs a block runs did: each job's description (empty when it
  * has none), in start order, the input records their tasks read, the
  * part of those read by stages that scan files (cache reads aside), and
  * how many of the persisted RDDs its jobs read or built are still
  * persisted when it returns. */
case class Metered(jobs: Seq[String], records: Long, fileRecords: Long,
                   retained: Int)

object Metered {

  /** Run `body` under a listener that meters every job it starts. The
    * listener keeps a strong reference to every persisted RDD of those
    * jobs: one dropped without unpersisting is then still counted as
    * retained, instead of being garbage collected (and freed by the
    * ContextCleaner) at a time no test controls. */
  def of(spark: SparkSession)(body: => Unit): Metered = {
    val sc = spark.sparkContext
    val jobs = new ConcurrentLinkedQueue[String]()
    val touched = new ConcurrentHashMap[Int, RDD[_]]()
    val read, fileRead = new AtomicLong(0)
    val scanning = ConcurrentHashMap.newKeySet[Int]()
    val drained = new CountDownLatch(1)
    val listener = new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        if (e.stageInfo.rddInfos.exists(_.name == "FileScanRDD"))
          scanning.add(e.stageInfo.stageId): Unit
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        val n = e.taskMetrics.inputMetrics.recordsRead
        read.addAndGet(n)
        if (scanning.contains(e.stageId)) fileRead.addAndGet(n): Unit
      }
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val d = Option(e.properties)
          .flatMap(p => Option(p.getProperty("spark.job.description")))
          .getOrElse("")
        if (d == "drain") drained.countDown()
        else {
          jobs.add(d)
          val persisted = sc.getPersistentRDDs
          e.stageInfos.flatMap(_.rddInfos).foreach(i =>
            persisted.get(i.id).foreach(touched.put(i.id, _)))
        }
      }
    }
    sc.addSparkListener(listener)
    try {
      body
      // the listener bus is FIFO: once this marker job's start arrives,
      // every task end of `body` has been counted
      sc.setJobDescription("drain")
      try sc.parallelize(Seq(1), 1).count()
      finally sc.setJobDescription(null)
      assert(drained.await(30, TimeUnit.SECONDS), "listener bus never drained")
    } finally sc.removeSparkListener(listener)
    Metered(jobs.asScala.toSeq, read.get, fileRead.get,
      touched.values.asScala.count(_.getStorageLevel.isValid))
  }
}
