package graft.core

import java.util.concurrent.{Executors, TimeUnit}

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Bounded fan-out of independent tasks that write shared files (groom's
  * group compactions, Compact's bins, the store's footer reads and
  * renames). Fail-fast: the first failure is rethrown — but only once
  * every task already handed to the pool has finished, so the caller
  * never returns while a sibling still writes or deletes files that the
  * caller is about to list or delete.
  */
object FanOut {

  /** Run `tasks` at most `maxConcurrent` at a time; returns their
    * results in input order. `what` names the fan-out in the
    * drain-timeout error.
    */
  def run[A](what: String, maxConcurrent: Int)(tasks: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(math.max(1, math.min(tasks.size, maxConcurrent)))
    try {
      val onPool = ExecutionContext.fromExecutor(pool)
      val futures = tasks.map(t => Future(t())(onPool))
      // the combinator's callbacks run on the completing thread: on a
      // fail-fast exit the pool is shut down while siblings still
      // complete, and a callback sent to it then would be rejected
      implicit val ec: ExecutionContext = ExecutionContext.parasitic
      Await.result(Future.sequence(futures), Duration.Inf)
    } finally {
      pool.shutdown()
      // if even the drain WINDOW expires, the caller must not proceed as
      // if the files were quiet
      if (!pool.awaitTermination(1, TimeUnit.HOURS)) {
        pool.shutdownNow()
        throw new IllegalStateException(s"$what: sibling tasks still running after " +
          "the 1h drain window — files may be mid-mutation; do not trust the listing")
      }
    }
  }
}
