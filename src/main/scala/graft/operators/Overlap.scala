package graft.operators

import java.util.concurrent.{ExecutorService, Executors}

import scala.concurrent.{Await, ExecutionContext, Future, Promise}
import scala.concurrent.duration.Duration

import org.apache.spark.SparkContext
import org.apache.spark.sql.SparkSession

/** A 4-thread pool for a query's mutually independent eager builds
  * (checkpoints, count probes, first-run memo builds): each is a small
  * job whose tail leaves most cores idle when run serially, so the pool
  * submits them concurrently and Spark's FIFO scheduler back-fills each
  * job's tail with the next job's tasks. Every job the pool's threads
  * start runs in one job group per [[Overlap.apply]] call, so the first
  * failure cancels the siblings' in-flight and future jobs instead of
  * leaving them running past the query. */
private[graft] final class Overlap private (sc: SparkContext) {
  private val group = s"graft-overlap-${java.util.UUID.randomUUID()}"
  private val pool: ExecutorService = Executors.newFixedThreadPool(4,
    (r: Runnable) => {
      val t = new Thread(() => {
        sc.setJobGroup(group, "overlapped eager builds",
          interruptOnCancel = true)
        r.run()
      })
      t.setDaemon(true)
      t
    })
  private val failure = Promise[Nothing]()

  /** Continuations (`map`, `zip`) run on the pool too. */
  implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)

  /** Starts `body` on the pool. */
  def apply[T](body: => T): Future[T] = track(Future(body))

  /** Registers a derived future, so its failure also fails the call. */
  def track[T](f: Future[T]): Future[T] = {
    f.failed.foreach(failure.tryFailure)(ExecutionContext.parasitic)
    f
  }

  /** `f`'s value — or the first failure of any tracked future, rethrown
    * as soon as it happens rather than when `f` completes. */
  def await[T](f: Future[T]): T = Await.result(
    Future.firstCompletedOf(Seq(f, failure.future))(ExecutionContext.parasitic),
    Duration.Inf)
}

private[graft] object Overlap {
  /** Runs `body` with a fresh pool; on any failure cancels the pool's
    * Spark jobs, interrupts its threads and rethrows. */
  def apply[R](s: SparkSession)(body: Overlap => R): R = {
    val ov = new Overlap(s.sparkContext)
    try body(ov)
    catch { case t: Throwable =>
      s.sparkContext.cancelJobGroupAndFutureJobs(ov.group,
        s"a sibling build failed: $t")
      ov.pool.shutdownNow()
      throw t
    } finally ov.pool.shutdown()
  }
}
