package graft

import java.util.concurrent.{CountDownLatch, TimeUnit}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicReference}

import org.scalatest.funsuite.AnyFunSuite

import graft.core.Pools

/** Pools.mapAll powers barrierAll's overlapped checkpoint jobs and the
  * publish rename/footer fan-outs. The property that matters for the
  * driver-side `sbt test` stability (VERDICT r15 item 1): when one task
  * fails, the exception must NOT surface while sibling tasks are still
  * running — a sibling Spark job left in flight races the session's
  * `spark.stop()` and dies with RejectedExecutionException.
  */
class PoolsSpec extends AnyFunSuite {

  test("mapAll preserves input order") {
    assert(Pools.mapAll(1 to 20, 4)(_ * 2) === (2 to 40 by 2))
  }

  test("mapAll on empty input runs nothing") {
    assert(Pools.mapAll(Seq.empty[Int], 4)(_ => fail("must not run")) === Seq.empty)
  }

  test("mapAll drains every sibling task before propagating a failure") {
    val slowDone = new AtomicBoolean(false)
    val boom = intercept[IllegalStateException] {
      Pools.mapAll(Seq("fail", "slow"), 2) {
        case "fail" =>
          Thread.sleep(50) // let the sibling start first
          throw new IllegalStateException("task failed")
        case "slow" =>
          Thread.sleep(400)
          slowDone.set(true)
          "ok"
      }
    }
    // the original exception type, unwrapped from the ExecutionException
    assert(boom.getMessage === "task failed")
    // the slow sibling ran to completion BEFORE the failure unwound
    assert(slowDone.get(), "sibling task was abandoned mid-flight on failure")
  }

  test("mapAll rethrows the FIRST failure in input order") {
    val e = intercept[RuntimeException] {
      Pools.mapAll(Seq(1, 2, 3), 3) { i =>
        if (i >= 2) throw new RuntimeException(s"fail-$i") else i
      }
    }
    assert(e.getMessage === "fail-2")
  }

  test("mapAll cancels its tasks and keeps the interrupt flag when the caller is interrupted") {
    val started = new CountDownLatch(2)
    val cancelled = new CountDownLatch(2)
    val thrown = new AtomicReference[Throwable]()
    val flagAfter = new AtomicBoolean(false)
    val caller = new Thread(() =>
      try Pools.mapAll(Seq(1, 2), 2) { i =>
        started.countDown()
        try { Thread.sleep(30000); i }
        catch { case e: InterruptedException => cancelled.countDown(); throw e }
      } catch {
        case t: Throwable =>
          thrown.set(t)
          flagAfter.set(Thread.currentThread().isInterrupted)
      })
    caller.start()
    assert(started.await(10, TimeUnit.SECONDS), "tasks never started")
    caller.interrupt()
    caller.join(10000)
    assert(!caller.isAlive, "mapAll kept blocking after the interrupt")
    assert(thrown.get().isInstanceOf[InterruptedException], s"got ${thrown.get()}")
    assert(flagAfter.get(), "interrupt flag was not restored")
    assert(cancelled.await(10, TimeUnit.SECONDS), "running tasks were not cancelled")
  }

  test("mapAll rethrows a fatal error at once instead of draining its siblings") {
    val t0 = System.nanoTime()
    // the fatal task is SECOND in input order, behind a 30-s sibling
    val e = intercept[OutOfMemoryError] {
      Pools.mapAll(Seq(1, 2), 2) { i =>
        if (i == 2) { Thread.sleep(50); throw new OutOfMemoryError("fatal-2") }
        Thread.sleep(30000)
        i
      }
    }
    assert(e.getMessage === "fatal-2")
    assert((System.nanoTime() - t0) / 1e9 < 10, "the fatal error waited for its sibling")
  }
}
