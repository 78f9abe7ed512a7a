package graft.core

import java.util.concurrent.{ConcurrentLinkedQueue, Executors, ThreadFactory}

/**
 * Runs a handful of independent blocking calls (file-system round trips,
 * Spark writes) side by side from the driver, on a pool that lives for
 * one call only. Every task runs to its end before [[runAll]] returns,
 * even after another one fails, so a caller's failure handling (a DSv2
 * abort, a generation sweep) never races a write still in flight. The
 * global `ExecutionContext` is not used: its threads outlive the call and
 * carry whatever Spark local properties they were created with.
 */
object Concurrently {

  /** Threads per call: enough to overlap a snapshot commit's metadata
    * round trips; more only queue on the same file-system client. */
  val MaxThreads = 8

  /** Runs every task on daemon threads named `<name>-<i>`, waits for all
    * of them, then rethrows the first failure as it was thrown (later
    * ones ride along as suppressed). No pool thread is alive on return. */
  def runAll(name: String, tasks: Seq[() => Unit]): Unit = {
    val threads = new ConcurrentLinkedQueue[Thread]
    val factory: ThreadFactory = { r =>
      val t = new Thread(r, s"$name-${threads.size}")
      t.setDaemon(true)
      threads.add(t)
      t
    }
    val failures = new ConcurrentLinkedQueue[Throwable]
    val pool = Executors.newFixedThreadPool(
      math.max(1, math.min(MaxThreads, tasks.size)), factory)
    try {
      tasks.map { task =>
        pool.submit(new Runnable {
          def run(): Unit = try task() catch { case e: Throwable => failures.add(e) }
        })
      }.foreach(_.get())
    } finally {
      pool.shutdownNow()
      threads.forEach(_.join())
    }
    Option(failures.poll()).foreach { first =>
      failures.forEach(e => if (e ne first) first.addSuppressed(e))
      throw first
    }
  }
}
