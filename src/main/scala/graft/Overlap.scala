package graft

/** Independent Spark job chains run overlapped (guide §2.6): the second
  * chain's tasks back-fill the executors that the first chain's
  * scheduling gaps and stage tails leave idle. Spark's documented
  * concurrent-jobs model is one job per submitting thread.
  */
object Overlap {

  /** Runs every thunk on its own thread of a bounded pool and returns
    * their results in argument order. ALL chains are awaited before
    * returning — even when one fails — and then the first failure (in
    * argument order) is rethrown. A fail-fast Future.sequence would
    * rethrow while sibling chains still run: a zombie table write would
    * race the caller's retry, and a zombie job would be charged to the
    * caller's next timed segment.
    *
    * The pool threads are created by the calling thread, so they
    * inherit its Spark local properties (job group, description,
    * scheduler pool) and its active session.
    */
  def all[T](work: Seq[() => T]): Seq[T] = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(work.size)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
    try {
      val fs = work.map(w => Future(w()))
      fs.foreach(f => Await.ready(f, Duration.Inf))
      fs.map(_.value.get.get)
    } finally pool.shutdown()
  }
}
