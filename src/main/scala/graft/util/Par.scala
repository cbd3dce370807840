package graft.util

import scala.concurrent.{Await, ExecutionContext, Future}
import scala.concurrent.duration.Duration

/** Run INDEPENDENT Spark actions concurrently from driver threads
  * (guide §2.6, "overlap independent jobs") — the shared pattern behind
  * the PQ-training pools and the per-micro-batch sink writers whose two
  * output relations derive from one checkpointed input: submitting the
  * writes from one thread paid two full job-submission latencies per
  * batch for jobs that share no state.
  *
  * Only for actions that are pairwise independent (no thunk reads
  * another's output) and individually deterministic — then the result is
  * bit-identical to the sequential run. Each thunk gets its own daemon
  * thread, the wait has no deadline (`Duration.Inf`: a deadline that
  * holds at fixture scale fails a large corpus), and the pool is
  * shutdownNow'd on every path, so an aborted action neither hangs the
  * JVM nor keeps orphan jobs grinding.
  */
object Par {

  /** Run `thunks` concurrently; their results, in input order. The first
    * failure, in input order, is rethrown. */
  def map[A](thunks: Seq[() => A]): Seq[A] =
    if (thunks.size <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(
        thunks.size,
        (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
      implicit val ec: ExecutionContext = ExecutionContext.fromExecutorService(pool)
      try thunks.toVector.map(t => Future(t())).map(Await.result(_, Duration.Inf))
      finally pool.shutdownNow()
    }

  def run(actions: Seq[() => Unit]): Unit = map(actions)
}
