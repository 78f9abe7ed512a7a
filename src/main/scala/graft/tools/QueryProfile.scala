package graft.tools

import org.apache.spark.sql.graft.JobCounter

import graft.{LocalSession, SparkEntry}

/**
 * Per-query job/stage/shuffle profiler (optimization-round measurement
 * instrument, guide §1): runs each named query once (plus one untimed
 * warm pass of the inputs) under a [[JobCounter]] and prints, per query,
 * wall seconds, the number of Spark JOBS it launched (sequential
 * driver-side round trips — at bench scale each costs a fixed latency,
 * at 100 TB each is a full cluster barrier), stages, tasks, and total
 * shuffle read/write and spill bytes. `PROFILE_STAGES=1` also prints each
 * job's call site, in order, and each stage that ran at least
 * `PROFILE_MIN_STAGE_SEC` (default 0.3) seconds.
 *
 * Usage: SPARK_GRAFT_SF_DIR=... SPARK_GRAFT_CPUS=32 \
 *   sbt "runMain graft.tools.QueryProfile q_perm_test q_spearman"
 */
object QueryProfile {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QueryProfile <query>...")
    val selected = SparkEntry.select(args.toSeq)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = LocalSession()
    LocalSession.warm(spark, sfDir)

    val minStageSec = sys.env.getOrElse("PROFILE_MIN_STAGE_SEC", "0.3").toDouble
    val verbose = sys.env.get("PROFILE_STAGES").exists(_ == "1")

    println(f"${"query"}%-28s ${"sec"}%7s ${"jobs"}%5s ${"stages"}%6s " +
      f"${"tasks"}%6s ${"shufR_MB"}%9s ${"shufW_MB"}%9s ${"spill_MB"}%9s  slowest jobs (s)")
    for ((name, fn) <- selected) {
      val c = new JobCounter(spark.sparkContext)
      try {
        val t0 = System.nanoTime()
        fn(spark, sfDir).queryExecution.toRdd.count()
        val dt = (System.nanoTime() - t0) / 1e9
        val slow = c.jobSeconds.sortBy(-_).take(6).map(s => f"$s%.2f").mkString(" ")
        println(f"$name%-28s $dt%7.2f ${c.jobs}%5d ${c.stages.size}%6d " +
          f"${c.tasks}%6d ${c.shuffleReadBytes / 1e6}%9.1f " +
          f"${c.shuffleWriteBytes / 1e6}%9.1f ${c.spillBytes / 1e6}%9.1f  $slow")
        if (verbose) c.jobNames.foreach(j => println(s"    job $j"))
        if (verbose) for (s <- c.stages) {
          val dur = (for (a <- s.submissionTime; b <- s.completionTime)
            yield (b - a) / 1e3).getOrElse(-1.0)
          val m = s.taskMetrics
          if (dur >= minStageSec) println(
            f"    stage ${s.stageId}%4d $dur%6.2fs ${s.numTasks}%4dt " +
              f"exec ${m.executorRunTime / 1e3}%7.1fs " +
              f"cpu ${m.executorCpuTime / 1e9}%7.1fs " +
              f"sR ${m.shuffleReadMetrics.totalBytesRead / 1e6}%7.1fMB " +
              f"sW ${m.shuffleWriteMetrics.bytesWritten / 1e6}%7.1fMB  " +
              s.name.take(90))
        }
      } finally c.close()
      LocalSession.dropCaches(spark)
    }
    spark.stop()
  }
}
