package graft

/** Driver-side concurrency for INDEPENDENT Spark jobs (guide §2.6:
  * actions are only sequential because driver code calls them
  * sequentially — submitting independent legs from a small thread pool
  * lets the next job's tasks back-fill executors freed by the current
  * job's tail, and overlaps the per-action driver gap — planning, FS
  * commit protocol, footer reads — that dominates the store-lifecycle
  * paths' wall clock at model-sized batches).
  *
  * The pool is CACHED (unbounded), not fixed: legs routinely await
  * nested legs (a pipeline append's BM25 leg parallelizes its own table
  * writes), and a bounded pool whose every thread blocks awaiting queued
  * work deadlocks. Threads here spend their life blocked on Spark job
  * completion, so the live count stays at the leg fan-out (≤ ~6);
  * daemon threads so an exiting driver never hangs on the pool.
  *
  * Used ONLY where legs are provably independent — distinct output
  * directories, no shared mutable state — so results are byte-identical
  * to the sequential order (each leg's own computation is unchanged;
  * scheduling overlap cannot reorder anything a leg observes).
  *
  * Failure: a caller with several legs joins them through [[awaitAll]],
  * which waits for every leg before it rethrows, so no leg outlives
  * the caller's lease.
  */
private[graft] object Par {
  private lazy val pool = java.util.concurrent.Executors.newCachedThreadPool(
    new java.util.concurrent.ThreadFactory {
      private val n = new java.util.concurrent.atomic.AtomicInteger(0)
      def newThread(r: Runnable): Thread = {
        val t = new Thread(r, s"graft-par-${n.getAndIncrement()}")
        t.setDaemon(true)
        t
      }
    })
  private lazy val ec: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutor(pool)

  def run[A](a: => A): scala.concurrent.Future[A] =
    scala.concurrent.Future(a)(ec)

  /** Block for a leg; failures rethrow on the caller (the sequential
    * code's exception surface, preserved).
    */
  def await[A](f: scala.concurrent.Future[A]): A =
    scala.concurrent.Await.result(f, scala.concurrent.duration.Duration.Inf)

  /** Join every leg, then rethrow the first failure in argument order.
    * No failure surfaces while a sibling leg still runs, so a caller's
    * `finally` (a lease release) runs only after every leg has stopped.
    * Legs are not cancelled: a failed leg's siblings run to completion.
    */
  def awaitAll(fs: scala.concurrent.Future[_]*): Unit = {
    fs.foreach(scala.concurrent.Await.ready(_, scala.concurrent.duration.Duration.Inf))
    fs.foreach(await(_))
  }
}
