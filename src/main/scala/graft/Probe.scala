package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: time named registry rows the way [[Bench]] does (forced over
  * every output column, on the bench session) and split each run into its
  * Spark jobs, so job-floor cost (scheduling, commit machinery) reads apart
  * from compute. Usage: Probe <row1,row2,...> [repeats] (default 3), over
  * the sf dir in `SPARK_GRAFT_SF_DIR` on `SPARK_GRAFT_CPUS` cores (default
  * 4). Run 1 pays codegen; later runs are warm. One line per run:
  * {{{
  * [probe] <row> run<i>: <wall> s (<jobs> jobs, <busy> s busy, <floor> s floor, <n> compiles)
  * }}}
  * Busy seconds are the union of the run's job intervals (jobs that overlap
  * in a thread wave count once); floor = wall − busy, the time no job ran.
  * Compiles are the Janino compiles of generated classes during the run
  * ([[compiles]]): a class found in Spark's codegen cache is not counted. */
object Probe {
  /** Counts every job the session starts and keeps each finished job's
    * [start, end) interval in epoch ms. */
  private final class JobClock extends SparkListener {
    val jobs = new AtomicInteger
    private val finished = new ConcurrentLinkedQueue[(Long, Long)]()
    // boxed values: a missing key must read as null, not as an unboxed 0
    private val running = new ConcurrentHashMap[Int, java.lang.Long]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); running.put(j.jobId, j.time)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(running.remove(j.jobId)).foreach(t0 => finished.add((t0.longValue, j.time)))
    /** Wait (up to 10 s) for the listener bus to deliver the end of every
      * job it has reported started; the bus is asynchronous, so the last
      * job's end can arrive after the action returns. */
    def settle(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (!running.isEmpty && System.nanoTime() < deadline) Thread.sleep(1)
    }
    /** The intervals finished since the last call. */
    def drain(): Seq[(Long, Long)] =
      Iterator.continually(finished.poll()).takeWhile(_ != null).toSeq
  }

  /** Length of the union of `[start, end)` intervals: the time at least
    * one of them covers. */
  def busyMs(intervals: Seq[(Long, Long)]): Long =
    intervals.sortBy(_._1).foldLeft((0L, Long.MinValue)) { case ((sum, reach), (s, e)) =>
      if (e <= reach) (sum, reach) else (sum + e - math.max(s, reach), e)
    }._1

  /** Janino compiles of generated classes in this JVM so far: the count of
    * Spark's compile-time histogram, which `CodeGenerator` updates once per
    * cache miss. */
  def compiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def main(args: Array[String]): Unit = {
    val usage = "usage: Probe <row1,row2,...> [repeats]  (sf dir from SPARK_GRAFT_SF_DIR)"
    require(args.nonEmpty, usage)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", sys.error(usage))
    val names = args(0).split(',').toSeq
    val repeats = args.lift(1).map(_.toInt).getOrElse(3)
    val rows = graft.queries.Registry.queries
    val unknown = names.filterNot(rows.contains)
    require(unknown.isEmpty, s"unknown rows: ${unknown.mkString(", ")}")

    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("WARN")
    Bench.warmUp(spark, sfDir)
    val clock = new JobClock
    spark.sparkContext.addSparkListener(clock)
    try names.foreach { name =>
      (1 to repeats).foreach { i =>
        val j0 = clock.jobs.get(); val c0 = compiles(); val t0 = System.nanoTime()
        Bench.forceAll(rows(name)(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        val compiled = compiles() - c0
        clock.settle()
        val busy = busyMs(clock.drain()) / 1e3
        println(f"[probe] $name run$i: $wall%.2f s (${clock.jobs.get() - j0} jobs, " +
          f"$busy%.2f s busy, ${wall - busy}%.2f s floor, $compiled compiles)")
      }
    } finally {
      spark.sparkContext.removeSparkListener(clock)
      spark.stop()
    }
  }
}
