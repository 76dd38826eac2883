package graft.operators

/** Overlap the CONSTRUCTION of independent gate arms (r17 optimization
  * round; guide §2.6 "Overlap independent jobs").
  *
  * The audit gates (`semantic_dedup_ivf_verified`,
  * `mine_bitext_*_verified`, `ann_ivfpq_served_verified`, the `_auto`
  * twins) build TWO independent frames — an exact reference arm and the
  * approximate arm under test — and only join them at the very end.
  * Both arms run eager work during plan CONSTRUCTION (Lloyd collects,
  * connected-components rounds, `Materialize`/`Staged` checkpoints), so
  * building them sequentially serializes two long chains of small jobs
  * while most of the cluster idles. Spark's scheduler happily runs jobs
  * from several driver threads at once (FIFO: later jobs back-fill
  * executors the earlier job's tail leaves free), so constructing the
  * arms on two threads overlaps those chains — at bench scale it hides
  * the second arm's job-scheduling latency, on a cluster it back-fills
  * the tail exactly as the guide describes. Results are unchanged by
  * construction: each arm is deterministic and they share no mutable
  * state (Staged scopes are per-frame with atomic release).
  *
  * Failure contract: both arms are awaited, the first failure
  * propagates (unwrapped) exactly as it would have sequentially. */
object Concurrently {

  def pair[A, B](fa: => A, fb: => B): (A, B) = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fut1 = pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = fa
      })
      val fut2 = pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = fb
      })
      (unwrap(fut1), unwrap(fut2))
    } finally pool.shutdown()
  }

  private def unwrap[T](f: java.util.concurrent.Future[T]): T =
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    }
}
