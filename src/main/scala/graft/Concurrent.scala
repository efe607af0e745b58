package graft

/** Overlap independent driver-side Spark work (guide §2.6): actions are
  * only sequential because the driver calls them sequentially, and
  * Spark's FIFO scheduler back-fills the straggler tail of one job with
  * tasks from the next. Two independent index BUILDS (different inputs,
  * different output paths) otherwise serialize ~a dozen driver-submitted
  * jobs end to end — at any scale, each build's tail leaves the cluster
  * idle for the other build's work.
  *
  * Job descriptions/groups are thread-local in Spark, so each branch may
  * label its own jobs without clobbering the caller's.
  */
object Concurrent {

  /** Evaluate `a` and `b` on two pool threads; rethrows the first failure
    * (after both branches finished — a half-built pair of artifacts never
    * outlives a hidden exception).
    */
  def par[A, B](a: => A, b: => B): (A, B) = {
    val Seq(ra, rb) = all(Seq(() => a, () => b))
    (ra.asInstanceOf[A], rb.asInstanceOf[B])
  }

  /** Evaluate every branch on its own pool thread and return the results
    * in branch order; like [[par]], every branch finishes before the first
    * failure (in branch order) is rethrown.
    */
  def all[A](branches: Seq[() => A]): Seq[A] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(branches.size.max(1))
    implicit val ec: ExecutionContext =
      ExecutionContext.fromExecutorService(pool)
    try {
      val futures = branches.map(b => Future(b()))
      // await every branch even when one throws: the slower branches must
      // not keep submitting jobs after all() returns
      futures.map(f => scala.util.Try(Await.result(f, Duration.Inf))).map(_.get)
    } finally pool.shutdown()
  }
}
