package graft.core

/** Driver-side job overlap (optimization guide §2.6): Spark's scheduler
  * runs any number of jobs at once inside one application — actions are
  * only sequential because driver code calls them sequentially. For
  * INDEPENDENT actions (writes to distinct paths, checkpoints of distinct
  * legs of a fuse), submitting them from a bounded pool lets the next
  * job's tasks back-fill executor slots left idle by the current job's
  * straggler tail, and on a many-small-stage lifecycle path it overlaps
  * the per-job scheduling latency itself. FIFO scheduling (the default)
  * keeps the earlier job's resource priority — exactly the back-fill
  * behavior wanted. Results are unchanged: each action's plan is
  * untouched, only the wall-clock overlaps.
  *
  * Contract: the thunks must be independent (no thunk reads state
  * another writes) — the callers here write to DISTINCT paths or
  * checkpoint DISTINCT plans. The first failure (in completion order)
  * propagates, but only after the remaining thunks are cancelled
  * (interrupted when running) and the pool has drained: no sibling is
  * still running when the caller sees the failure, so a caller that
  * retries into the same paths cannot race an orphaned write. Sibling
  * failures ride along as suppressed exceptions.
  */
object Jobs {

  /** Run the thunks concurrently on a small daemon pool and return their
    * results in input order. `width` bounds in-flight jobs (2-4 is
    * plenty: enough to fill a stage tail, not so many they fight).
    */
  def inParallel[A](thunks: Seq[() => A], width: Int = 4): Seq[A] = {
    if (thunks.size <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, math.min(thunks.size, width)),
      new java.util.concurrent.ThreadFactory {
        private val n = new java.util.concurrent.atomic.AtomicInteger(0)
        def newThread(r: Runnable): Thread = {
          val t = new Thread(r, s"graft-jobs-${n.incrementAndGet()}")
          t.setDaemon(true)
          t
        }
      })
    val done = new java.util.concurrent.ExecutorCompletionService[A](pool)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val futures = thunks.map(t => done.submit(new java.util.concurrent.Callable[A] {
      def call(): A = try t() catch { case e: Throwable => failures.add(e); throw e }
    }))
    try {
      thunks.foreach(_ => done.take().get())
      futures.map(_.get())
    } catch {
      case e: Throwable =>
        // unwrap so callers see the job's own failure
        val first = e match {
          case x: java.util.concurrent.ExecutionException => Option(x.getCause).getOrElse(x)
          case x => x
        }
        futures.foreach(_.cancel(true))
        pool.shutdown()
        pool.awaitTermination(Long.MaxValue, java.util.concurrent.TimeUnit.NANOSECONDS)
        failures.forEach(f => if (f ne first) first.addSuppressed(f))
        throw first
    } finally pool.shutdown()
  }
}
