package graft.ops

import java.util.concurrent.{Callable, ExecutionException,
  ExecutorCompletionService, Executors}
import org.apache.spark.sql.SparkSession

/** Concurrent INDEPENDENT Spark actions from driver threads — the
  * optimization guide's §2.6 "overlap independent jobs" recipe, scoped
  * to multi-leg operators (recall sweeps, per-band model fits) whose
  * legs are separate actions with no data dependency.
  *
  * Why this is safe and result-identical: Spark's scheduler runs
  * concurrently submitted jobs FIFO, each leg computes exactly the
  * frame it would compute sequentially (the legs share nothing but
  * OpCache holders, whose lazy-val build is monitor-serialized), and
  * the caller receives results in INPUT order — so the operator's
  * output is bit-identical to the sequential composition, only the
  * idle tail of each leg's stages is back-filled by the next leg's
  * tasks. At cluster scale the same overlap fills executors freed by a
  * leg's straggler tail; the pool is bounded so at most [[MaxLegs]]
  * jobs compete.
  *
  * IMPORTANT caller contract: any memoized single-build structure the
  * legs SHARE (kmMemo model fits, OpCache frames) must be forced
  * BEFORE forking — TrieMap.getOrElseUpdate evaluates its builder
  * outside the map's lock, so concurrent first-callers would each run
  * the build (identical results, wasted cluster time).
  */
private[ops] object Par {
  private val MaxLegs = 4

  /** Map `f` over `xs` with up to [[MaxLegs]] legs in flight; results
    * in input order. The legs run under one Spark job group: the first
    * leg to fail cancels the other legs and every job of the group,
    * then its exception is rethrown — a failing leg never waits behind
    * slower ones, and no sibling job outlives the call. */
  def map[A, B](s: SparkSession, xs: Seq[A])(f: A => B): Seq[B] = {
    if (xs.lengthCompare(1) <= 0) return xs.map(f)
    val sc = s.sparkContext
    val group = s"graft-par-${java.util.UUID.randomUUID()}"
    val pool = Executors.newFixedThreadPool(math.min(MaxLegs, xs.length))
    val done = new ExecutorCompletionService[B](pool)
    try {
      val futures = xs.map(x => done.submit(new Callable[B] {
        def call(): B = {
          // the job description the caller's thread set is kept
          sc.setJobGroup(group, sc.getLocalProperty("spark.job.description"),
            interruptOnCancel = true)
          f(x)
        }
      }))
      for (_ <- xs.indices) {
        try done.take().get()
        catch { case e: ExecutionException =>
          sc.cancelJobGroupAndFutureJobs(group)
          futures.foreach(_.cancel(true))
          // unwrap so callers see the leg's own exception type
          throw e.getCause
        }
      }
      futures.map(_.get())
    } finally pool.shutdownNow()
  }
}
