package graft

import org.apache.spark.sql.SparkSession

/** Benchmark main: times every registered query at the given scale factor,
  * emits ONE JSON line. A warm-up action first amortizes JVM/codegen/session
  * startup so per-query numbers measure the queries, not JIT.
  *
  * Each query runs `SPARK_GRAFT_REPEATS` times (default 3) and reports the
  * MEDIAN — one slow outlier (GC, page cache miss, a background process) no
  * longer pollutes the round record. The JSON also carries the 1-minute
  * system load average at start and end: round 2's official bench was
  * recorded on a machine under 2-3× load and manufactured three phantom
  * regressions; a loaded run is now self-identifying.
  *
  * Timing FORCES every output column (r9): `count()` lets Catalyst prune
  * unreferenced projections, aggregate expressions behind a groupBy, and
  * the right side of a left join — so projection-heavy rows (BPE encode,
  * PII redaction, recall evals) read phantom-fast (d36 0.13 s under count
  * vs 0.6 s real; d41 0.18 vs 1.14; v23 0.28 vs 0.84). Each run now
  * aggregates over every output column ([[forceAll]]; [[Probe]] times
  * single rows the same way), so the round record measures the work a
  * consumer of the result would pay for.
  */
object Bench {
  /** One aggregate per output column — nothing in the plan is prunable. */
  def forceAll(df: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.types._
    val aggs = df.schema.fields.toIndexedSeq.map { f =>
      f.dataType match {
        case StringType => sum(length(col(f.name)))
        case _: ArrayType => sum(size(col(f.name)))
        case _: NumericType => sum(col(f.name).cast("double"))
        case _ => count(col(f.name))
      }
    }
    if (aggs.isEmpty) { df.count(); () }
    else { df.agg(aggs.head, aggs.tail: _*).collect(); () }
  }

  /** The bench session: `local[cpus]`, one shuffle partition per core,
    * UTC, AQE on. [[Verify]], [[PlanDump]] and [[Probe]] build the same
    * shape, so verified rows, dumped plans and probe timings are the plans
    * the bench times. */
  def session(cpus: String): SparkSession =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()

  /** Session init, codegen paths and parquet footer reads, paid before
    * the first timed row. */
  def warmUp(spark: SparkSession, sfDir: String): Unit = {
    spark.range(1000000).selectExpr("sum(id)").collect()
    graft.sources.Tables.names.foreach(n =>
      graft.sources.Tables(spark, sfDir, n).count())
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val repeats = sys.env.getOrElse("SPARK_GRAFT_REPEATS", "3").toInt.max(1)
    // STRUCTURAL load guard, r11 form: the r10 hard-refusal left the
    // official round artifact EMPTY (BENCH_r10.json rc=1, parsed=null —
    // the driver's sbt launch alone pushes 1-min load past 1). The
    // artifact must always carry a labeled number, not an absence: poll
    // for load < 1 with a bounded wait (default 10 × 30 s), then run
    // REGARDLESS and record the measured load + seconds waited, exit 0.
    // Round-close strictness lives in tools/quietbench.sh, which
    // pre-checks load in bash and post-checks the recorded
    // load_avg_start. SPARK_GRAFT_ALLOW_LOAD=1 skips the wait entirely.
    def loadNow: Double =
      java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .getSystemLoadAverage
    val waitPolls = sys.env.getOrElse("SPARK_GRAFT_LOAD_POLLS", "10").toInt
    var loadWaitedSec = 0
    if (!sys.env.get("SPARK_GRAFT_ALLOW_LOAD").contains("1")) {
      var polls = 0
      while (loadNow > 1.0 && polls < waitPolls) {
        System.err.println(
          f"[bench] 1-min load ${loadNow}%.2f > 1 — waiting 30 s for a " +
            s"quiet machine (poll ${polls + 1}/$waitPolls)")
        Thread.sleep(30000); polls += 1; loadWaitedSec += 30
      }
      if (loadNow > 1.0)
        System.err.println(
          f"[bench] load still ${loadNow}%.2f after ${loadWaitedSec}s — " +
            "running anyway; numbers carry the honest load fields")
    }
    val spark = session(cpus)
    spark.sparkContext.setLogLevel("WARN")
    def loadAvg: Double = loadNow
    val loadStart = loadAvg
    warmUp(spark, sfDir)
    val results = SparkEntry.queries.toSeq.sortBy(_._1).map { case (name, fn) =>
      // streaming rows (s*) get ONE untimed warm-up drain first (r13): the
      // drain/iterative class was the volatile one across quiet closes
      // (s10b 16.7–25.8 s, same code) — state-store + checkpoint-dir setup
      // and shuffle-file creation land in the first drain; median-of-3
      // alone did not exclude it because the variance persists past run 1.
      // The warm-up is untimed, so recorded medians stay comparable with
      // earlier rounds (they measure the same warm path, sampled better).
      if (name.startsWith("s"))
        try forceAll(fn(spark, sfDir))
        catch { case _: Throwable => () } // the timed runs will report it
      val times = (1 to repeats).flatMap { _ =>
        val t0 = System.nanoTime()
        try { forceAll(fn(spark, sfDir)); Some((System.nanoTime() - t0) / 1e9) }
        catch { case e: Throwable =>
          System.err.println(s"[bench] $name FAILED: $e"); None }
      }
      // a failed query must not read as a (fast) success: report -1
      name -> (if (times.size < repeats) -1.0
               else times.sorted.apply(times.size / 2))
    }
    val qs = results.map { case (k, v) => "\"" + k + "\":" + v }
      .mkString("{", ",", "}")
    val total = results.map(_._2).filter(_ >= 0).sum
    val failed = results.count(_._2 < 0)
    val json =
      s"""{"metric":"total","value":$total,"unit":"sec","failed":$failed,""" +
        s""""repeats":$repeats,"load_avg_start":$loadStart,"load_avg_end":$loadAvg,""" +
        s""""load_wait_sec":$loadWaitedSec,""" +
        s""""queries":$qs,"sf":"$sfDir"}"""
    println(json)
    // The full per-query line above is ~10 KB and overflows any bounded
    // tail capture (BENCH_r11.json: rc=0 but parsed=null — the captured
    // tail began mid-string). Print a second, SHORT summary line LAST so
    // a bounded tail always ends with one complete JSON object.
    val summary =
      s"""{"metric":"total","value":$total,"unit":"sec","rows":${results.size},""" +
        s""""failed":$failed,"repeats":$repeats,"load_avg_start":$loadStart,""" +
        s""""load_wait_sec":$loadWaitedSec,"sf":"$sfDir"}"""
    println(summary)
    // stdout arrives wrapped in sbt's "[info] " prefix — also drop the raw
    // JSON lines in a file so round-over-round diffs stay machine-readable
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.env.getOrElse("SPARK_GRAFT_BENCH_OUT", "bench_out.json")),
      (json + "\n" + summary + "\n").getBytes("UTF-8"))
    spark.stop()
  }
}
