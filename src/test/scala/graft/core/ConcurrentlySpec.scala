package graft.core

import java.util.concurrent.{ConcurrentHashMap, CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/**
 * [[Concurrently.runAll]] waits for every task, even after one fails, so
 * no caller's failure handling runs while a sibling write is in flight;
 * it rethrows the first failure as thrown, and leaves no thread behind.
 */
class ConcurrentlySpec extends AnyFunSuite {

  private def alive(name: String): Seq[Thread] =
    Thread.getAllStackTraces.keySet.asScala.toSeq
      .filter(t => t.isAlive && t.getName.startsWith(s"$name-"))

  test("a fast failure is rethrown only after the slow task finishes") {
    val boom = new java.io.IOException("fast task failed")
    val slowStarted = new CountDownLatch(1)
    val slowDone = new AtomicBoolean(false)
    val thrown = intercept[java.io.IOException](Concurrently.runAll("spec-fail", Seq(
      () => { slowStarted.await(10, TimeUnit.SECONDS); throw boom },
      () => { slowStarted.countDown(); Thread.sleep(300); slowDone.set(true) })))
    assert(thrown eq boom, "the failure must come back unwrapped")
    assert(slowDone.get, "runAll returned while a task was still running")
    assert(alive("spec-fail").isEmpty)
  }

  test("later failures ride along as suppressed; every task still runs") {
    val ran = new AtomicInteger
    val thrown = intercept[IllegalStateException](Concurrently.runAll("spec-many",
      (0 until 5).map(i => () => {
        ran.incrementAndGet()
        if (i % 2 == 0) throw new IllegalStateException(s"task $i")
      })))
    assert(ran.get === 5)
    assert(thrown.getSuppressed.length === 2)
  }

  test("tasks run on at most MaxThreads named daemon threads, then none") {
    val running = new AtomicInteger
    val peak = new AtomicInteger
    val seen = ConcurrentHashMap.newKeySet[Thread]()
    Concurrently.runAll("spec-pool", Seq.fill(4 * Concurrently.MaxThreads)(() => {
      seen.add(Thread.currentThread())
      peak.accumulateAndGet(running.incrementAndGet(), (a, b) => math.max(a, b))
      Thread.sleep(20)
      running.decrementAndGet()
    }))
    val threads = seen.asScala.toSeq
    assert(peak.get <= Concurrently.MaxThreads && peak.get > 1)
    assert(threads.forall(t => t.isDaemon && t.getName.startsWith("spec-pool-")))
    assert(threads.forall(!_.isAlive) && alive("spec-pool").isEmpty)
    Concurrently.runAll("spec-empty", Seq.empty)
  }
}
