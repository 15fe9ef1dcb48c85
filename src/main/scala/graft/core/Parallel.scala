package graft.core

import java.util.concurrent.{Callable, ExecutionException, Executors, TimeUnit}
import scala.util.{Failure, Try}

/** The one fixed-size thread pool of the write paths: the ETL cycle's
  * endpoint chains and the curation batch's commit-phase work each run
  * their independent Spark jobs side by side through [[inParallel]].
  */
object Parallel {

  /** Runs `tasks` on a pool of one thread each, created by (and so
    * inheriting the SparkContext local properties — job group,
    * description, scheduler pool — of) the calling thread. Waits for
    * every task, then returns their results in order or rethrows the
    * first failure in order, unwrapped. The pool is gone on return.
    */
  def inParallel[T](tasks: Seq[() => T]): Seq[T] = {
    val pool = Executors.newFixedThreadPool(tasks.size)
    val outcomes =
      try tasks.map(t => pool.submit((() => t()): Callable[T])).map(f => Try(f.get()))
      finally {
        // Every task has finished unless the caller was interrupted;
        // then the stragglers are interrupted too, and still awaited.
        pool.shutdownNow()
        pool.awaitTermination(Long.MaxValue, TimeUnit.NANOSECONDS)
      }
    outcomes.map {
      case Failure(e: ExecutionException) => throw e.getCause
      case o => o.get
    }
  }
}
