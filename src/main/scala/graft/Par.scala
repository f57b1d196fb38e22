package graft

import java.util.concurrent.{CancellationException, ExecutionException, ExecutorCompletionService, Executors}
import java.util.concurrent.atomic.{AtomicBoolean, AtomicLong}

/** Run independent driver-side Spark actions CONCURRENTLY (guide §2.6
  * thread-pooled actions): Spark's scheduler happily runs several jobs at
  * once inside one application — actions are only sequential because the
  * driver calls them sequentially. Overlapping 2-3 small builds/writes
  * back-fills the scheduling latency and stage tails each would pay
  * serially; job descriptions and other local properties are inherited by
  * the pool threads, so attribution survives. Bounded width, pool never
  * outlives the call, failures rethrow the ORIGINAL exception.
  *
  * A failure never leaves a sibling running: every worker's jobs carry a
  * per-call job tag (set on the worker threads only — the caller's job
  * group and description are untouched), so the first failure cancels
  * the siblings' jobs, waits for every sibling to return, and only then
  * rethrows. An orphaned write can never race a retry into the same
  * staging directory.
  */
private[graft] object Par {

  private val calls = new AtomicLong()

  /** Evaluate every thunk concurrently (bounded width), returning results
    * in input order. */
  def all[T](fs: Seq[() => T], width: Int = 3): Seq[T] = {
    if (fs.length <= 1) return fs.map(_())
    val sc = org.apache.spark.sql.SparkSession.active.sparkContext
    val tag = s"graft-par-${calls.incrementAndGet()}"
    val failed = new AtomicBoolean(false)
    val pool = Executors.newFixedThreadPool(math.min(width, fs.length))
    val done = new ExecutorCompletionService[T](pool)
    try {
      val futs = fs.map(f => done.submit(() => {
        // a queued thunk that would start after a sibling failed never runs
        if (failed.get) throw new CancellationException(s"$tag failed")
        sc.addJobTag(tag)
        sc.setInterruptOnCancel(true) // a cancelled write stops writing
        f()
      }))
      fs.foreach { _ =>
        try done.take().get()
        catch {
          case e: ExecutionException =>
            failed.set(true)
            // a sibling may submit its next job after a cancel: keep
            // cancelling until every sibling has returned
            while (!futs.forall(_.isDone)) { sc.cancelJobsWithTag(tag); Thread.sleep(50) }
            throw e.getCause
        }
      }
      futs.map(_.get())
    } finally pool.shutdownNow()
  }

  /** [[all]] for side-effecting writes. */
  def run(actions: Seq[() => Unit], width: Int = 3): Unit = { all(actions, width); () }
}
