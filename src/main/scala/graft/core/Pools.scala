package graft.core

import java.util.concurrent.{Callable, ExecutionException, ExecutorCompletionService, Executors, Future}

import scala.util.control.NonFatal

/** Bounded fan-out over a short-lived pool with drain-all error
  * propagation: every submitted task runs to completion (success or
  * failure) BEFORE the first failure is rethrown. The naive
  * `futures.map(_.get())` unwinds on the first failed future while later
  * siblings are still running — and a sibling that is a Spark job (an
  * eager barrier checkpoint) then races the session's shutdown (a test
  * suite's afterAll `spark.stop()`), dying with a
  * RejectedExecutionException from the local executor pool. Draining
  * guarantees the caller owns all side effects again when the exception
  * surfaces.
  *
  * Two cases do not drain: an interrupt of the calling thread (the caller
  * is being cancelled, so its tasks are too) and a fatal error in a task
  * (an OutOfMemoryError must not wait behind its siblings). Both cancel
  * the remaining tasks and rethrow at once.
  */
object Pools {

  /** Apply `f` to every item on a fresh pool of at most `maxThreads`
    * threads; return results in input order. A single item runs inline on
    * the calling thread (there is no tail to overlap). On failure: waits
    * for ALL tasks, then rethrows the first failure IN INPUT ORDER,
    * unwrapped from the ExecutionException so callers see the original
    * exception type. On interrupt of the caller: cancels the remaining
    * tasks, restores the interrupt flag and rethrows the
    * InterruptedException. On a fatal error in any task: cancels the
    * remaining tasks and rethrows it as soon as it completes.
    */
  def mapAll[A, B](items: Seq[A], maxThreads: Int)(f: A => B): Seq[B] = {
    if (items.isEmpty) return Seq.empty
    if (items.sizeIs == 1) return Seq(f(items.head))
    val pool = Executors.newFixedThreadPool(math.min(maxThreads, items.size))
    try {
      val done = new ExecutorCompletionService[B](pool)
      val futs = items.map(a =>
        done.submit(new Callable[B] { override def call(): B = f(a) }))
      def cancelAll(): Unit = futs.foreach(_.cancel(true))
      for (_ <- futs) {
        val fu = try done.take() catch {
          case e: InterruptedException =>
            cancelAll()
            Thread.currentThread().interrupt()
            throw e
        }
        failure(fu).filterNot(NonFatal(_)).foreach { t => cancelAll(); throw t }
      }
      futs.flatMap(failure).headOption.foreach(t => throw t)
      futs.map(_.get())
    } finally pool.shutdown()
  }

  /** The exception a COMPLETED task failed with, if any. */
  private def failure(fu: Future[_]): Option[Throwable] =
    try { fu.get(); None }
    catch { case e: ExecutionException => Some(Option(e.getCause).getOrElse(e)) }
}
