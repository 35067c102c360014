package graft.util

import java.util.concurrent.Executors
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}

/** Overlap INDEPENDENT eager Spark actions (persist+count, eager
  * localCheckpoint, TakeOrdered collects) from one query builder —
  * the optimization-guide §2.6 move: Spark's scheduler happily runs
  * several jobs at once inside one application; actions are only
  * sequential because driver code calls them sequentially. The audit
  * fixtures (brute-force baseline ∥ index training ∥ two mining legs)
  * are chains of small jobs on tiny frames whose wall time is the
  * per-job scheduler floor × the SEQUENTIAL job count — overlapping
  * the independent chains divides that count without touching what
  * any leg computes.
  *
  * Correctness: each thunk is a deterministic Spark action; job
  * submission order does not affect results, only wall time. Job
  * groups/descriptions are thread-local in Spark, so concurrent legs
  * do not clobber each other's. Failures propagate: the first awaited
  * failing leg rethrows; legs still in flight finish in the background
  * (harmless — they are deterministic actions on session-lived state).
  */
object Par {
  // unbounded cached pool: legs block on Spark actions (IO-ish), and
  // concurrent-leg count per query is small (≤ 6); daemon threads so
  // an exiting main never hangs on the pool
  private lazy val pool = Executors.newCachedThreadPool(r => {
    val t = new Thread(r, "graft-par")
    t.setDaemon(true)
    t
  })
  private lazy val ec: ExecutionContext =
    ExecutionContext.fromExecutorService(pool)

  def par2[A, B](a: => A, b: => B): (A, B) = {
    val fa = Future(a)(ec); val fb = Future(b)(ec)
    (await(fa), await(fb))
  }

  def par3[A, B, C](a: => A, b: => B, c: => C): (A, B, C) = {
    val fa = Future(a)(ec); val fb = Future(b)(ec); val fc = Future(c)(ec)
    (await(fa), await(fb), await(fc))
  }

  private def await[T](f: Future[T]): T = Await.result(f, Duration.Inf)
}
