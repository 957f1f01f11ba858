package graft.lake

import java.util.concurrent.{Callable, ExecutionException, Executors, ExecutorService, Future}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicInteger}

/** The table's one bounded parallel map, for independent I/O tasks:
  * segment reads, content writes, driver-side parquet reads and vacuum's
  * per-directory sweep. Callers keep their own inline thresholds and use
  * this only above them.
  */
private[lake] object Par {

  val Threads = 8

  /** Pool threads carry this class, so a nested call can tell it is on one. */
  private final class ParThread(r: Runnable, n: Int) extends Thread(r, s"graft-par-$n") {
    setDaemon(true)
  }

  private val made = new AtomicInteger

  /** One process-wide pool of [[Threads]] daemon threads, made on first use
    * and never shut down. */
  private lazy val pool: ExecutorService =
    Executors.newFixedThreadPool(Threads, (r: Runnable) => new ParThread(r, made.incrementAndGet()))

  /** `f` over `xs` on the shared pool, results in input order. A call made
    * from a pool thread runs inline: it would otherwise wait on tasks
    * queued behind the one it runs in.
    *
    * The first failed task (in input order) fails the call with the
    * task's OWN exception, not the `ExecutionException` wrapper, so a
    * missing file surfaces as `NoSuchFileException` whatever the input
    * size. This call's queued tasks are cancelled and its running ones are
    * awaited before it is rethrown. */
  def map[A, B](xs: Seq[A])(f: A => B): Seq[B] =
    if (xs.size <= 1 || Thread.currentThread().isInstanceOf[ParThread]) xs.map(f)
    else {
      // a task runs f only if it claims its flag first; a failure claims
      // the flags of the tasks that have not started, which cancels them
      val tasks: Vector[(AtomicBoolean, Future[B])] = xs.toVector.map { x =>
        val claimed = new AtomicBoolean
        claimed -> pool.submit(new Callable[B] {
          def call(): B = if (claimed.compareAndSet(false, true)) f(x) else null.asInstanceOf[B]
        })
      }
      tasks.map { case (_, fut) =>
        try fut.get()
        catch {
          case e: ExecutionException =>
            tasks.foreach { case (claimed, other) =>
              if (claimed.compareAndSet(false, true)) other.cancel(false)
              else scala.util.Try(other.get())
            }
            throw Option(e.getCause).getOrElse(e)
        }
      }
    }
}
