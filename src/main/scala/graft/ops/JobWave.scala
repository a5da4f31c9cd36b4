package graft.ops

/** Run independent Spark actions as one concurrent wave (guide §2.6
  * "overlap independent jobs"): actions over ALREADY-MATERIALIZED inputs
  * that write DISJOINT targets pay one job+commit floor instead of N.
  * Spark's scheduler is thread-safe; job groups/descriptions are
  * thread-local, so each action labels its own jobs. The caller owns the
  * ordering contract — only truly independent writes belong in one wave
  * (Medallion's Silver wave 2, IncrementalClustering's per-batch writes,
  * IncrementalCuration's ingest, the s21/s25/s34 sinks).
  *
  * No detached writers: [[run]] returns or throws only after every body's
  * thread has finished.
  *   - A failing body does not stop its siblings. After all bodies finish,
  *     the FIRST failure is rethrown with every later one attached via
  *     `addSuppressed`.
  *   - If the calling thread is interrupted while waiting, every worker is
  *     interrupted and joined before the `InterruptedException` is rethrown
  *     (worker failures attached as suppressed); the caller's interrupt
  *     status is restored.
  *
  * Delivery is AT-LEAST-ONCE per body: a failed wave leaves the commits of
  * the bodies that succeeded in place, so retrying the whole wave re-runs
  * them too. A wave is exactly-once only if every body is idempotent —
  * a keyed merge, or [[graft.merge.LogTable.appendOnce]] under the batch
  * id — or the caller scrubs partial writes before a retry (the
  * IncrementalClustering batch-id protocol).
  */
object JobWave {
  def run(bodies: Seq[() => Unit]): Unit = {
    if (bodies.sizeIs <= 1) { bodies.foreach(_.apply()); return }
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    val threads = bodies.map(b => new Thread(() =>
      try b() catch { case t: Throwable => failures.add(t) }))
    threads.foreach(_.start())
    try threads.foreach(_.join())
    catch {
      case ie: InterruptedException =>
        threads.foreach(_.interrupt())
        // a second interrupt must not cut the joins short either
        threads.foreach(t => while (t.isAlive)
          try t.join() catch { case _: InterruptedException => () })
        failures.forEach(ie.addSuppressed(_))
        throw ie
    }
    val it = failures.iterator()
    if (it.hasNext) {
      val first = it.next()
      it.forEachRemaining(first.addSuppressed(_))
      throw first
    }
  }
}
