package graft

import java.util.concurrent.Executors

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.{Duration, MINUTES}

/** Dependency waves: each wave's independent steps are submitted as
  * concurrent Spark jobs (the scheduler interleaves them across the
  * same executors, as a production ETL driver does), and the wave
  * returns only when all of them have. The caller orders the waves, so
  * a barrier between two calls is a dependency edge. Used by
  * `Warehouse.build` and `RefStarRunner.run`.
  *
  * Each wave gets a fresh pool, created on the calling thread, so its
  * threads inherit the caller's Spark local properties (job group,
  * scheduler pool) at the moment the wave starts.
  */
private[graft] object Waves {

  val Threads = 8

  /** Runs `steps` concurrently and returns their results in the given
    * order. The barrier is finite: an executor-side hang surfaces as a
    * loud failure instead of a silently blocked driver.
    */
  def apply[A](steps: Seq[() => A]): Seq[A] = {
    val pool = Executors.newFixedThreadPool(Threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(steps.map(f => Future(f()))),
      Duration(15, MINUTES))
    finally pool.shutdown()
  }
}
