package graft.tools

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerStageCompleted}
import org.apache.spark.sql.graft.JobCounter

import graft.SparkSpec

class JobCounterSpec extends SparkSpec {

  test("a read right after each action sees all of its jobs, stages and tasks") {
    val sc = spark.sparkContext
    // registered ahead of the counter on the same queue, it holds back
    // the counter's job-end and stage events past the action's return
    val slow = new SparkListener {
      override def onJobEnd(j: SparkListenerJobEnd): Unit = Thread.sleep(100)
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit =
        Thread.sleep(100)
    }
    sc.addSparkListener(slow)
    val counter = new JobCounter(sc)
    try {
      for (k <- 1 to 5) {
        // one job: a 3-task map stage (5 keys per task after the map-side
        // combine) and a 2-task reduce stage
        sc.parallelize(1 to 99, 3).map(i => (i % 5, 1)).reduceByKey(_ + _, 2).count()
        assert(counter.jobs === k)
        assert(counter.jobSeconds.size === k)
        assert(counter.stages.size === 2 * k)
        assert(counter.tasks === 5L * k)
        assert(counter.shuffleWriteRecords === 15L * k)
      }
    } finally {
      counter.close()
      sc.removeSparkListener(slow)
    }
    sc.parallelize(1 to 10, 2).count()
    assert(counter.jobs === 5, "a closed counter counts no more jobs")
  }
}
