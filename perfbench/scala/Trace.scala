package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession

/** JSON for the run record; maps keep their insertion order. */
object Json {
  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    .registerModule(com.fasterxml.jackson.module.scala.DefaultScalaModule)

  def apply(v: Any): String = mapper.writeValueAsString(v)

  def obj(kv: (String, Any)*): mutable.LinkedHashMap[String, Any] =
    mutable.LinkedHashMap(kv: _*)
}

/** Process-wide readings the run record takes at span boundaries. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val gcs = ManagementFactory.getGarbageCollectorMXBeans

  /** Process CPU (driver, executors, JIT and GC threads), seconds. */
  def cpuS: Double = os.getProcessCpuTime / 1e9

  def gcS: Double = {
    var ms = 0L
    gcs.forEach(g => ms += math.max(0L, g.getCollectionTime))
    ms / 1e3
  }

  /** Wall clock in epoch milliseconds with sub-millisecond resolution, on
    * the same axis as the listener's job and task timestamps. */
  private val epochAtStartMs = System.currentTimeMillis().toDouble
  private val nanoAtStart = System.nanoTime()
  def nowMs: Double = epochAtStartMs + (System.nanoTime() - nanoAtStart) / 1e6

  /** Heap in use after a full collection: what a run retains. The second
    * collection follows the pause in which Spark's context cleaner drops
    * the blocks of broadcasts and RDDs the first one found unreachable. */
  def retainedHeapMb: Double = {
    System.gc()
    Thread.sleep(250)
    System.gc()
    ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
  }
}

/**
 * Spans around each call the benchmark makes into a layer. A span's id is
 * set as a Spark local property, so every job the call submits (from this
 * thread or threads it starts) carries it and the recorder attributes the
 * job, its stages and tasks to the span.
 */
class Tracer(spark: SparkSession) {
  import Tracer._
  private var nextId = 1
  private var current = 0
  val spans = mutable.ArrayBuffer.empty[mutable.LinkedHashMap[String, Any]]

  def span[T](name: String)(body: => T): T = {
    val id = nextId
    nextId += 1
    val parent = current
    val sc = spark.sparkContext
    sc.setLocalProperty(SpanProperty, id.toString)
    current = id
    val t0 = Probe.nowMs
    val cpu0 = Probe.cpuS
    val gc0 = Probe.gcS
    val fs0 = CountingFileSystem.driverCalls
    try body
    finally {
      spans += Json.obj("id" -> id, "parent" -> parent, "name" -> name,
        "start_ms" -> t0, "end_ms" -> Probe.nowMs, "cpu_s" -> (Probe.cpuS - cpu0),
        "gc_s" -> (Probe.gcS - gc0),
        "fs_calls" -> (CountingFileSystem.driverCalls - fs0))
      current = parent
      sc.setLocalProperty(SpanProperty, if (parent == 0) null else parent.toString)
    }
  }

  /** Wall seconds of the most recent span with this name. */
  def seconds(name: String): Double = spans.reverseIterator.find(_("name") == name)
    .map(s => (s("end_ms").asInstanceOf[Double] - s("start_ms").asInstanceOf[Double]) / 1e3)
    .getOrElse(0.0)

  def clear(): Unit = spans.clear()
}

object Tracer {
  val SpanProperty = "perfbench.span"
}

/**
 * Per-stage totals of the task metrics the per-layer numbers need, and
 * each job's span and interval. Events arrive on the listener bus thread;
 * read the records only after [[org.apache.spark.perfbench.Bus.drain]].
 */
class Recorder extends SparkListener {
  private final class Stage(val id: Int) {
    var name = ""
    var submitMs = 0L
    var doneMs = 0L
    var tasks = 0L
    var failed = 0L
    var runMs = 0L
    var cpuNs = 0L
    var maxTaskMs = 0L
    var waitMs = 0L
    var swBytes = 0L
    var swRecords = 0L
    var srBytes = 0L
    var spillBytes = 0L
  }
  private final class Job(val id: Int, val span: Int, val startMs: Long, val stageIds: Seq[Int]) {
    var endMs = 0L
    var ok = true
  }
  private val jobs = mutable.LinkedHashMap.empty[Int, Job]
  private val stages = mutable.LinkedHashMap.empty[Int, Stage]

  private def stage(id: Int): Stage = stages.getOrElseUpdate(id, new Stage(id))

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProperty)))
      .map(_.toInt).getOrElse(0)
    jobs(e.jobId) = new Job(e.jobId, span, e.time, e.stageIds)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      j.endMs = e.time
      j.ok = e.jobResult == JobSucceeded
    }
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.name = e.stageInfo.name
    s.submitMs = e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    val s = stage(e.stageInfo.stageId)
    s.name = e.stageInfo.name
    s.doneMs = e.stageInfo.completionTime.getOrElse(System.currentTimeMillis())
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val s = stage(e.stageId)
    val info = e.taskInfo
    s.tasks += 1
    if (info.failed) s.failed += 1
    s.maxTaskMs = math.max(s.maxTaskMs, info.finishTime - info.launchTime)
    if (s.submitMs > 0) s.waitMs += math.max(0L, info.launchTime - s.submitMs)
    val m = e.taskMetrics
    if (m != null) {
      s.runMs += m.executorRunTime
      s.cpuNs += m.executorCpuTime
      s.swBytes += m.shuffleWriteMetrics.bytesWritten
      s.swRecords += m.shuffleWriteMetrics.recordsWritten
      s.srBytes += m.shuffleReadMetrics.totalBytesRead
      s.spillBytes += m.diskBytesSpilled
    }
  }

  /** Jobs and stages seen since the last call, as JSON-ready records. */
  def take(): (Seq[Any], Seq[Any]) = synchronized {
    val js = jobs.values.toSeq.map { j =>
      Json.obj("id" -> j.id, "span" -> j.span, "start_ms" -> j.startMs,
        "end_ms" -> j.endMs, "ok" -> j.ok, "stages" -> j.stageIds)
    }
    val ss = stages.values.toSeq.map { s =>
      Json.obj("id" -> s.id, "name" -> s.name, "submit_ms" -> s.submitMs,
        "done_ms" -> s.doneMs, "tasks" -> s.tasks, "failed" -> s.failed,
        "run_ms" -> s.runMs, "cpu_ns" -> s.cpuNs, "max_task_ms" -> s.maxTaskMs,
        "wait_ms" -> s.waitMs, "sw_bytes" -> s.swBytes, "sw_records" -> s.swRecords,
        "sr_bytes" -> s.srBytes, "spill_bytes" -> s.spillBytes)
    }
    jobs.clear()
    stages.clear()
    (js, ss)
  }
}
