package graft.streaming

import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}
import java.util.concurrent.CountDownLatch

import graft.util.Parallel
import org.scalatest.funsuite.AnyFunSuite

/** [[Parallel.inParallel]] contract (r18 advice + verdict
  * task 4): a dedicated cached pool (nesting can never starve), and
  * gather-ALL-before-rethrow failure semantics — no sibling task may
  * still be running when the first failure escapes, because the caller
  * may immediately retry a write into the same version directory. */
class InParallelSpec extends AnyFunSuite {

  test("nested inParallel completes (no pool starvation/deadlock)") {
    // depth-2 nesting, fanout 8×8 = 64 concurrent leaf tasks, each
    // BLOCKING until every leaf has started — a fixed CPU-count pool
    // (the old ExecutionContext.global) deadlocks here on small boxes;
    // the cached pool must grow through it.
    val leaves = 8 * 8
    val started = new CountDownLatch(leaves)
    val out = Parallel.inParallel((1 to 8).map { i => () =>
      Parallel.inParallel((1 to 8).map { j => () =>
        started.countDown()
        started.await() // every leaf blocks until ALL leaves run
        i * 10 + j
      }).sum
    })
    assert(out.sum === (for (i <- 1 to 8; j <- 1 to 8) yield i * 10 + j).sum)
  }

  test("a failing task does not escape until every sibling finished") {
    val stillRunning = new AtomicInteger(0)
    val failNow = new CountDownLatch(1)
    val e = intercept[RuntimeException] {
      Parallel.inParallel(Seq(
        // the failer: throws as soon as the slow sibling is mid-flight
        () => {
          failNow.await()
          throw new RuntimeException("task-1 boom")
        },
        // the slow sibling: must be allowed to FINISH before the
        // failure escapes (zombie-write protection)
        () => {
          stillRunning.incrementAndGet()
          failNow.countDown()
          Thread.sleep(200)
          stillRunning.decrementAndGet()
          42
        }))
    }
    assert(e.getMessage === "task-1 boom") // unwrapped, not ExecutionException
    assert(stillRunning.get() === 0,
      "inParallel rethrew while a sibling task was still running")
  }

  test("an interrupted caller waits for every task, then rethrows") {
    // a stopped streaming query interrupts its thread while the
    // four-mart fold's tasks are mid-write: they must not be left
    // running detached
    val started = new CountDownLatch(2)
    val finished = new AtomicBoolean(false)
    @volatile var finishedAtThrow: Option[Boolean] = None
    @volatile var flagRestored = false
    val caller = new Thread(() =>
      try Parallel.inParallel(Seq(
        () => { started.countDown(); Thread.sleep(300); finished.set(true) },
        () => started.countDown()))
      catch { case _: InterruptedException =>
        finishedAtThrow = Some(finished.get())
        flagRestored = Thread.currentThread().isInterrupted
      })
    caller.start()
    started.await()
    caller.interrupt()
    caller.join(10000)
    assert(finishedAtThrow === Some(true),
      "inParallel threw on interrupt while a task was still running")
    assert(flagRestored, "the caller's interrupt flag was swallowed")
  }

  test("results preserve task order") {
    val out = Parallel.inParallel((1 to 16).map { i => () =>
      Thread.sleep((17 - i) * 5L) // later tasks finish first
      i
    })
    assert(out === (1 to 16))
  }
}
