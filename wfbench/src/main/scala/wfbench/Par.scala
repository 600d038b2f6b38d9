package wfbench

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Maps `f` over `items` on a fixed pool; results keep input order and the
  * first failure is rethrown after every task has ended.
  */
object Par {
  def map[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(threads)
    try {
      val futures = items.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
      val results = futures.map(fu => try Right(fu.get()) catch {
        case e: ExecutionException => Left(e.getCause)
      })
      results.collectFirst { case Left(t) => throw t }
      results.collect { case Right(b) => b }
    } finally pool.shutdown()
  }
}
