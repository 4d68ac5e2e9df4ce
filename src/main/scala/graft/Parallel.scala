package graft

import java.util.concurrent.{Callable, ExecutionException, Executors}

/** Driver-side fan-out of independent tasks (guide §2.6 overlap: short
  * Spark jobs, footer reads, commits) on a fixed pool of at most
  * `threads` threads. Results come back in input order. The first
  * failure in that order is rethrown as itself, not wrapped in an
  * `ExecutionException`, and the pool is always shut down with
  * `shutdownNow()`: once the caller has the error, no queued task
  * starts and running ones are interrupted.
  */
object Parallel {
  def map[A, B](items: Seq[A], threads: Int)(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(threads, items.size)))
    try items.toVector.map(a => pool.submit(new Callable[B] { def call(): B = f(a) }))
      .map(fut => try fut.get() catch {
        case e: ExecutionException => throw Option(e.getCause).getOrElse(e)
      })
    finally { pool.shutdownNow(); () }
  }
}
