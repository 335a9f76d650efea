package graft

/** Run independent driver-side actions CONCURRENTLY and return their
  * results in input order — the overlap-independent-jobs discipline:
  * Spark's scheduler happily runs several jobs at once inside one
  * application; a lifecycle whose steps have no data dependency (two
  * appends to distinct store subdirs, per-probe ADC queries, a centroid
  * and a codebook write) is otherwise serialized only because the driver
  * calls its actions sequentially, paying the full planning + scheduling
  * + commit fixed cost once per step instead of overlapping them.
  * Results must not depend on completion order (each thunk owns its
  * output); the thunks run on their own threads, so job-description
  * thread-locals stay per thunk. Failures propagate (the first
  * exception rethrown).
  *
  * Contract: ONE THREAD PER THUNK, no cap — for a handful of independent
  * actions. Only the query-level fan-outs of Round12–15Queries call it;
  * the stores run their steps in order, so a crash test's k-th
  * filesystem step is the same step on every run. The largest fan-out
  * is six, the probe queries of Round15Queries' IVF-PQ refit gate. A
  * caller with a per-row, per-probe or per-batch list of unbounded
  * length must not pass it here: each thunk is a thread driving its own
  * concurrent Spark jobs.
  */
object Par {
  def run[A](thunks: Seq[() => A]): Seq[A] = {
    if (thunks.sizeIs <= 1) return thunks.map(_())
    val pool = java.util.concurrent.Executors.newFixedThreadPool(thunks.size)
    try {
      import scala.jdk.CollectionConverters._
      val futures = pool.invokeAll(
        thunks.map(t => new java.util.concurrent.Callable[A] {
          override def call(): A = t()
        }: java.util.concurrent.Callable[A]).asJava)
      futures.asScala.toSeq.map { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      }
    } finally pool.shutdown()
  }
}
