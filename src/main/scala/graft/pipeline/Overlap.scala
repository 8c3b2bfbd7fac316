package graft.pipeline

import scala.concurrent.{blocking, Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration
import scala.util.control.NonFatal

import org.apache.spark.sql.graft.ThreadBridge

/** Driver-chain overlap, done safely (optimization guide §2.6 "overlap
  * independent jobs"): Spark's scheduler happily runs several jobs at
  * once — actions are only sequential because driver code calls them
  * sequentially. The store/pipeline helpers here overlap independent
  * chains (two tables of one publish, the m subspace trainings of one PQ
  * codebook, independent audit probes); this object is the one place the
  * spawn/join discipline lives:
  *
  *  - `run` wraps the chain in [[scala.concurrent.blocking]]: a Spark
  *    action parks its pool thread for the whole job, and the shared
  *    `ExecutionContext.global` ForkJoinPool only spawns compensation
  *    threads for parks it is TOLD about — without the marker, nested
  *    overlaps (a publish inside a rebalance future) can starve the pool
  *    behind parked siblings. (A bounded dedicated pool would be worse,
  *    not better: nested spawn-and-await on a bounded pool deadlocks
  *    once the outer chains hold every thread — the global pool +
  *    `blocking` is the composition-safe choice, and the number of
  *    in-flight chains is already bounded by the call sites' fan-out.)
  *
  *  - `settle` quiesces EVERY chain before propagating the first failure
  *    (in argument order). The naive `Await.result(a); Await.result(b)`
  *    rethrows A's failure while B is still writing — the caller (e.g. a
  *    foreachBatch retry after the exception propagates) can then start
  *    a fresh write to the same `batch=<id>` directory CONCURRENTLY with
  *    the orphaned in-flight one, a commit race the sequential form made
  *    impossible; B's own failure was also masked. Settling first means
  *    the sibling has terminated (completed or failed) before anyone
  *    reacts to the error.
  */
private[graft] object Overlap {

  /** A fatal error (an OOM, say) thrown by a chain. A Scala future
    * whose body throws a fatal error is never completed, so awaiting it
    * would hang; [[run]] carries the error out in this box and
    * [[settle]]/[[value]] rethrow the original on the caller's thread. */
  private final case class Fatal(cause: Throwable) extends RuntimeException(cause)

  /** Spawn one independent driver chain on the shared pool, marked
    * blocking (see object doc). The chain's jobs carry the caller's Spark
    * job properties — its job group, so cancelling the caller's group
    * (a streaming query's `stop()`) cancels them too. */
  def run[A](body: => A): Future[A] =
    spawn(ThreadBridge.withCallerJobProperties(body))

  /** [[run]], but the chain's jobs carry job group `group` and none of
    * the caller's properties: a background chain that outlives its
    * caller, which cancelling the caller's group must not stop. */
  def runInGroup[A](group: String)(body: => A): Future[A] =
    spawn(ThreadBridge.withOwnJobGroup(group)(body))

  private def spawn[A](chain: () => A): Future[A] =
    Future(blocking(
      try chain() catch { case e: Throwable if !NonFatal(e) => throw Fatal(e) }
    ))(ExecutionContext.global)

  /** Wait until EVERY future has terminated, then return — or rethrow
    * the FIRST failure in argument order (matching the sequential form's
    * error precedence). Values are read by the caller afterwards via
    * [[value]]; by then each is an immediate read. */
  def settle(fs: Future[_]*): Unit = {
    fs.foreach(f => Await.ready(f, Duration.Inf))
    fs.foreach(value(_))
  }

  /** The settled value of `f` — only valid after [[settle]] returned. */
  def value[A](f: Future[A]): A =
    try Await.result(f, Duration.Inf) catch { case Fatal(e) => throw e }

  /** Run two independent chains concurrently and return both values;
    * settles both before rethrowing on failure. */
  def par2[A, B](a: => A, b: => B): (A, B) = {
    val fa = run(a); val fb = run(b)
    settle(fa, fb)
    (value(fa), value(fb))
  }
}
