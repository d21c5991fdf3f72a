package graft

/** Overlap INDEPENDENT eager sections of one declared query (guide §2.6
  * "Overlap independent jobs"): Spark's scheduler happily runs several jobs
  * at once inside one application — actions are only sequential because the
  * driver calls them sequentially. The composite queries (q_forget_audit's
  * three modality legs + its BPE sequence build, q_curate_multimodal's two
  * cluster closures) each chain multiple iterative closures whose jobs are
  * small (tens of partitions at fixture scale, bounded subgraphs at any
  * scale) and strictly sequential per closure — so one leg's scheduling
  * gaps and stage tails back-fill with another leg's tasks instead of
  * leaving 31 cores idle.
  *
  * Determinism: each section computes exactly what it computed when called
  * sequentially (same plans, same checkpoints); only WALL-CLOCK overlap
  * changes. Spark driver-side thread safety is a supported contract
  * (job groups/descriptions are thread-locals; the DAG scheduler is
  * designed for concurrent submission — FIFO scheduling back-fills, see
  * guide §2.6).
  *
  * Failure: the first failing section's exception propagates (unwrapped
  * from the pool's ExecutionException) after all sections settle — a
  * failed leg fails the query exactly as it did sequentially.
  */
object Par {

  /** Run the thunks concurrently, return their results in order. */
  def sections[T](thunks: Seq[() => T]): Seq[T] =
    if (thunks.sizeIs <= 1) thunks.map(_())
    else {
      val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
      try {
        val futures = thunks.map { t =>
          pool.submit(new java.util.concurrent.Callable[T] {
            def call(): T = t()
          })
        }
        // wait for EVERY section before rethrowing: a failed leg must not
        // leave its siblings submitting jobs after the query has failed
        val settled = futures.map { f =>
          try Right(f.get())
          catch {
            case e: java.util.concurrent.ExecutionException => Left(e.getCause)
          }
        }
        settled.collectFirst { case Left(e) => throw e }
        settled.collect { case Right(r) => r }
      } finally pool.shutdown()
    }

  /** Two-section convenience keeping static types. */
  def two[A, B](a: () => A, b: () => B): (A, B) = {
    val rs = sections[Any](Seq(a, b))
    (rs(0).asInstanceOf[A], rs(1).asInstanceOf[B])
  }
}
