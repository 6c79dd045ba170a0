package graft.util

import java.util.concurrent.{Callable, ExecutionException, Executors, Semaphore}

/** The engine's one concurrency primitive: a gather-all barrier over
  * independent blocking tasks (Spark actions, commit IO). */
object Parallel {

  /** CACHED pool of daemon threads: it grows on demand, so a nested
    * inParallel can never starve (every blocked outer task's inner tasks
    * get fresh threads). NOT ExecutionContext.global: that pool is fixed
    * at CPU count, and blocking Spark actions on it starve unrelated
    * users. */
  private val threads = new java.util.concurrent.atomic.AtomicInteger
  private lazy val pool = Executors.newCachedThreadPool { (r: Runnable) =>
    val t = new Thread(r, s"graft-parallel-${threads.incrementAndGet()}")
    t.setDaemon(true)
    t
  }

  /** Run independent tasks concurrently, at most `maxConcurrent` at once,
    * and return their results in task order. Small Spark jobs leave most
    * of local[N] idle, and the scheduler back-fills the next job's tasks
    * into the gap. Callers pass SMALL task lists: one thread per task.
    * Not for jobs that each saturate the cores: the shared CDC delta
    * builds measured slower run concurrently.
    *
    * EVERY task runs to completion before the first failure (in task
    * order) is rethrown, unwrapped: fail-fast would leave sibling Spark
    * writes running detached while the caller retries into the same
    * directory or starts dependent work. The guarantee holds per call;
    * an inner call rethrows once ITS tasks are done. It holds against
    * an interrupt too: an interrupted caller still waits for every
    * task, then restores its interrupt flag and rethrows the
    * InterruptedException.
    *
    * Spark's thread-local properties (job groups, descriptions) reach a
    * pooled thread only at its creation, so job-group cancellation does
    * not reach the tasks. `StreamingQuery.stop()` is such a case: it
    * interrupts the stream thread and cancels the query's job group,
    * and the four-mart fold's tasks run their jobs to the end. */
  def inParallel[A](tasks: Seq[() => A],
      maxConcurrent: Int = Int.MaxValue): Seq[A] = {
    require(maxConcurrent >= 1, s"maxConcurrent must be >= 1, got $maxConcurrent")
    if (tasks.lengthCompare(1) <= 0) tasks.map(_())
    else {
      val gate = new Semaphore(maxConcurrent)
      val futs = tasks.map(t => pool.submit(new Callable[A] {
        def call(): A = { gate.acquire(); try t() finally gate.release() }
      }))
      // in-order get() on every future = a barrier over ALL tasks, kept
      // through interrupts (Try does not catch InterruptedException)
      var interrupt: Option[InterruptedException] = None
      val results = futs.map { f =>
        var r: Option[scala.util.Try[A]] = None
        while (r.isEmpty)
          try r = Some(scala.util.Try(f.get()))
          catch { case ie: InterruptedException =>
            if (interrupt.isEmpty) interrupt = Some(ie) }
        r.get
      }
      interrupt.foreach { ie => Thread.currentThread().interrupt(); throw ie }
      results.collectFirst { case scala.util.Failure(e) =>
        throw (e match {
          case ee: ExecutionException if ee.getCause != null => ee.getCause
          case other => other
        })
      }
      results.map(_.get)
    }
  }
}
