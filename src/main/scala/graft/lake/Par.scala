package graft.lake

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}

/** The table's one bounded parallel map, for independent I/O tasks:
  * segment reads, content writes, driver-side parquet reads and vacuum's
  * per-directory sweep. Callers keep their own inline thresholds and use
  * this only above them.
  */
private[lake] object Par {

  /** `f` over `xs` on at most 8 threads, results in input order.
    * The first failed task (in input order) fails the call with the
    * task's OWN exception, not the `ExecutionException` wrapper, so a
    * missing file surfaces as `NoSuchFileException` whatever the input
    * size. Queued tasks are cancelled and running ones are awaited before
    * it is rethrown. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(8, xs.size)))
    try {
      val futures = xs.toVector.map(x => pool.submit(new Callable[B] { def call(): B = f(x) }))
      futures.map { fut =>
        try fut.get()
        catch {
          case e: ExecutionException =>
            pool.shutdownNow()
            pool.awaitTermination(60, TimeUnit.SECONDS)
            throw Option(e.getCause).getOrElse(e)
        }
      }
    } finally { pool.shutdown(); () }
  }
}
