package graft.core

import java.util.concurrent.Executors
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Overlap INDEPENDENT eager subchains of one logical operation on the
  * shared SparkContext (guide §2.6: actions are only sequential because
  * the driver calls them sequentially; submitting independent jobs from
  * a small thread pool lets the next job's tasks back-fill executors
  * freed by the current job's stage tails).
  *
  * Where it applies here: several declared queries run two or more
  * fully independent pipelines before composing their results — two
  * curation runs feeding a manifest diff, coarse-quantizer and PQ
  * training feeding IVF+PQ, three tokenizer trainers feeding a
  * comparison. Each pipeline's eager steps (localCheckpoint
  * materializations, store writes) otherwise serialize: every job
  * tail (the last straggler tasks + scheduling gap) is paid one after
  * another. Running the pipelines on a small pool overlaps those
  * tails — on a cluster it back-fills idle executors; in local mode it
  * overlaps the per-job scheduling/planning gaps the same way.
  *
  * Determinism/results: unchanged — the subchains are data-independent
  * by construction (the caller asserts it by choosing this entry), and
  * FIFO scheduling only affects WHEN tasks run, not what they compute.
  *
  * The pool is tiny (guide: "2-3 jobs in flight is plenty") and shared
  * process-wide; tasks are submitted per call and the threads are
  * daemons, so no lifecycle management is needed. Failures propagate:
  * the first failed subchain rethrows on the calling thread. */
object Par {
  private lazy val pool: ExecutionContext =
    ExecutionContext.fromExecutorService(
      Executors.newCachedThreadPool(r => {
        val t = new Thread(r, "graft-par")
        t.setDaemon(true)
        t
      }))

  /** `body` on a pool thread, under the caller's [[Materialize]]
    * strategy (a pool thread otherwise sees the default, or whatever a
    * previous task left). */
  private def fork[A](body: => A): Future[A] = {
    val strategy = Materialize.current
    Future(Materialize.using(strategy)(body))(pool)
  }

  /** Run both thunks concurrently; return both results. */
  def both[A, B](fa: => A, fb: => B): (A, B) = {
    val fut = fork(fa)
    val b = fb
    (Await.result(fut, Duration.Inf), b)
  }

  /** Run all thunks concurrently; return results in order. */
  def all[A](fs: (() => A)*): Seq[A] = {
    val futs = fs.map(f => fork(f()))
    futs.map(Await.result(_, Duration.Inf))
  }
}
