package org.apache.spark.sql.graft
// In an org.apache.spark subpackage on purpose: draining the listener
// bus (`SparkContext.listenerBus`) is private[spark].

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.executor.TaskMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted, StageInfo}

/** Counts the Spark work submitted while it is registered on `sc`: jobs,
  * each job's call site and seconds, and every completed stage with its
  * accumulated task metrics. Listener events arrive asynchronously, so
  * every read first drains the listener bus: a read right after an action
  * sees all of that action's jobs, stages and tasks. `close()` unregisters
  * it. */
final class JobCounter(sc: SparkContext) extends SparkListener with AutoCloseable {
  private val jobStarts = new ConcurrentHashMap[Int, java.lang.Long]
  private val jobSites = new ConcurrentHashMap[Int, String]
  private val jobSecs = new ConcurrentLinkedQueue[Double]
  private val completed = new ConcurrentLinkedQueue[StageInfo]
  // events still queued from earlier work must not reach this counter
  drain()
  sc.addSparkListener(this)

  override def onJobStart(j: SparkListenerJobStart): Unit = {
    jobStarts.put(j.jobId, j.time)
    // the result stage is created last, so it has the job's highest id
    if (j.stageInfos.nonEmpty)
      jobSites.put(j.jobId, j.stageInfos.maxBy(_.stageId).name)
  }

  override def onJobEnd(j: SparkListenerJobEnd): Unit = {
    val t0 = jobStarts.get(j.jobId)
    if (t0 != null) jobSecs.add((j.time - t0) / 1e3)
  }

  override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
    completed.add(s.stageInfo)

  def jobs: Int = { drain(); jobStarts.size }

  /** Each job's call site (its result stage's name, e.g. "collect at
    * Foo.scala:12"), in job-id order. */
  def jobNames: Seq[String] = {
    drain(); jobSites.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  def jobSeconds: Seq[Double] = { drain(); jobSecs.asScala.toSeq }

  def stages: Seq[StageInfo] = { drain(); completed.asScala.toSeq }

  def tasks: Long = stages.map(_.numTasks.toLong).sum

  def shuffleReadBytes: Long = sum(_.shuffleReadMetrics.totalBytesRead)

  def shuffleWriteBytes: Long = sum(_.shuffleWriteMetrics.bytesWritten)

  def shuffleWriteRecords: Long = sum(_.shuffleWriteMetrics.recordsWritten)

  def spillBytes: Long = sum(m => m.diskBytesSpilled + m.memoryBytesSpilled)

  override def close(): Unit = sc.removeSparkListener(this)

  private def sum(f: TaskMetrics => Long): Long =
    stages.map(s => f(s.taskMetrics)).sum

  private def drain(): Unit = sc.listenerBus.waitUntilEmpty(60000L)
}
