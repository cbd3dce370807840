package graft.util

/** Run INDEPENDENT Spark actions concurrently from driver threads
  * (guide §2.6, "overlap independent jobs") — the shared pattern behind
  * the r16 PQ-training pools, applied in r17 to the per-micro-batch sink
  * writers whose two output relations derive from one checkpointed
  * input: submitting the writes from one thread paid two full
  * job-submission latencies per batch for jobs that share no state.
  *
  * Only for actions that are pairwise independent (no thunk reads
  * another's output) and individually deterministic — then the result on
  * disk is bit-identical to the sequential run. Threads are daemons and
  * the pool is shutdownNow'd on the failure path, so an aborted action
  * neither hangs the JVM nor keeps orphan jobs grinding (ADVICE r16).
  */
object Par {
  def run(actions: Seq[() => Unit]): Unit = {
    if (actions.isEmpty) return
    if (actions.size == 1) { actions.head(); return }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      actions.size,
      (r: Runnable) => { val t = new Thread(r); t.setDaemon(true); t })
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutorService(pool)
    try {
      val fs = actions.map(a => scala.concurrent.Future(a()))
      fs.foreach(scala.concurrent.Await.result(_, scala.concurrent.duration.Duration.Inf))
    } finally pool.shutdownNow()
  }
}
