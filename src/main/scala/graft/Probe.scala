package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart}

/** Dev tool: time named registry rows the way [[Bench]] does (forced over
  * every output column, on the bench session) and split each run into its
  * Spark jobs, so job-floor cost (scheduling, commit machinery) reads apart
  * from compute. Usage: Probe <row1,row2,...> [repeats] (default 3), over
  * the sf dir in `SPARK_GRAFT_SF_DIR` on `SPARK_GRAFT_CPUS` cores (default
  * 4). Run 1 pays codegen; later runs are warm. One line per run:
  * {{{
  * [probe] <row> run<i>: <wall> s (<jobs> jobs, <in-job> s in-job)
  * }}}
  * In-job seconds sum the job durations, so jobs that overlap (thread
  * waves) can add up to more than the wall time. */
object Probe {
  /** Counts every job the session starts and sums their durations. */
  private final class JobClock extends SparkListener {
    val jobs = new AtomicInteger
    val jobMs = new AtomicLong
    // boxed values: a missing key must read as null, not as an unboxed 0
    private val running = new ConcurrentHashMap[Int, java.lang.Long]()
    override def onJobStart(j: SparkListenerJobStart): Unit = {
      jobs.incrementAndGet(); running.put(j.jobId, j.time)
    }
    override def onJobEnd(j: SparkListenerJobEnd): Unit =
      Option(running.remove(j.jobId)).foreach(t0 => jobMs.addAndGet(j.time - t0.longValue))
    /** Wait (up to 10 s) for the listener bus to deliver the end of every
      * job it has reported started; the bus is asynchronous, so the last
      * job's end can arrive after the action returns. */
    def settle(): Unit = {
      val deadline = System.nanoTime() + 10000000000L
      while (!running.isEmpty && System.nanoTime() < deadline) Thread.sleep(1)
    }
  }

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
        val j0 = clock.jobs.get(); val m0 = clock.jobMs.get(); val t0 = System.nanoTime()
        Bench.forceAll(rows(name)(spark, sfDir))
        val wall = (System.nanoTime() - t0) / 1e9
        clock.settle()
        println(f"[probe] $name run$i: $wall%.2f s (${clock.jobs.get() - j0} jobs, " +
          f"${(clock.jobMs.get() - m0) / 1e3}%.2f s in-job)")
      }
    } finally {
      spark.sparkContext.removeSparkListener(clock)
      spark.stop()
    }
  }
}
