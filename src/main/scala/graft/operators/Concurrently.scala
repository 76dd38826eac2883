package graft.operators

/** Overlap the CONSTRUCTION of independent gate arms (r17 optimization
  * round; guide §2.6 "Overlap independent jobs").
  *
  * The audit gates (`semantic_dedup_ivf_verified`,
  * `mine_bitext_*_verified`, `ann_ivfpq_served_verified`, the `_auto`
  * twins) build TWO independent frames — an exact reference arm and the
  * approximate arm under test — and only join them at the very end.
  * Both arms run eager work during plan CONSTRUCTION (Lloyd collects,
  * connected-components rounds, [[Stage]] checkpoints), so
  * building them sequentially serializes two long chains of small jobs
  * while most of the cluster idles. Spark's scheduler happily runs jobs
  * from several driver threads at once (FIFO: later jobs back-fill
  * executors the earlier job's tail leaves free), so constructing the
  * arms on two threads overlaps those chains — at bench scale it hides
  * the second arm's job-scheduling latency, on a cluster it back-fills
  * the tail exactly as the guide describes. Results are unchanged by
  * construction: each arm is deterministic and they share no mutable
  * state. Each arm runs inside the caller's [[Stage]] scope, so what an
  * arm materializes is released by the caller's rule.
  *
  * Failure contract: both arms are awaited, then the first arm's failure
  * (else the second's) propagates unwrapped, as it would have
  * sequentially. */
object Concurrently {

  def pair[A, B](fa: => A, fb: => B): (A, B) = {
    val (a, b) = (Stage.carried(fa), Stage.carried(fb))
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val fut1 = pool.submit(new java.util.concurrent.Callable[A] {
        def call(): A = a()
      })
      val fut2 = pool.submit(new java.util.concurrent.Callable[B] {
        def call(): B = b()
      })
      // the second arm is awaited even when the first fails: the caller's
      // scope releases what the arms made only once both have stopped
      val ra = try unwrap(fut1) catch { case t: Throwable => scala.util.Try(fut2.get()); throw t }
      (ra, unwrap(fut2))
    } finally pool.shutdown()
  }

  private def unwrap[T](f: java.util.concurrent.Future[T]): T =
    try f.get()
    catch {
      case e: java.util.concurrent.ExecutionException =>
        throw Option(e.getCause).getOrElse(e)
    }
}
