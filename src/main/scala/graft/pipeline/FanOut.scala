package graft.pipeline

import scala.concurrent.{Await, ExecutionContext, Future, blocking}
import scala.concurrent.duration.Duration
import scala.util.{Failure, Success, Try}

/** The one fan-out of the pipeline: account tasks, scheduler layers and the
  * aggregate's writes and sinks all run through it.
  *
  * Every body starts at once: each runs inside `blocking` on the global
  * pool, so the pool adds a thread instead of queueing the (nproc+1)-th
  * body behind running ones that only wait on Spark jobs, JDBC or HTTP.
  * It returns or throws only after EVERY body has finished, so a caller
  * that retries after a failure never overlaps a sibling still writing
  * the same partitions or JDBC stamps.
  */
private[pipeline] object FanOut {

  /** Run `bodies` concurrently and return their results in order. If any
    * failed, rethrows the failure of the first failing body (argument
    * order), with the other failures attached as suppressed.
    */
  def all[T](bodies: Seq[() => T]): Seq[T] = {
    import ExecutionContext.Implicits.global
    // caught here, not by Future: a Future whose body throws a fatal
    // error never completes, and the wait below would hang on it
    val runs = bodies.map(b => Future(blocking[Try[T]](
      try Success(b()) catch { case e: Throwable => Failure(e) })))
    val done = runs.map(Await.result(_, Duration.Inf))
    done.collect { case Failure(e) => e } match {
      case first +: rest =>
        // one exception instance may surface from two bodies; it cannot
        // suppress itself
        rest.filterNot(_ eq first).foreach(first.addSuppressed)
        throw first
      case _ => done.map(_.get)
    }
  }
}
