package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.SparkSession

/** The Spark session every workload runs on: the settings `graft.Bench`
  * uses, with every scratch directory inside the run's work directory. */
object Session {
  def start(cores: Int, work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** A fixed warm-up that loads the code paths the workloads share: a
    * scan-aggregate, a parquet round trip and a small bucketed commit-log
    * table. */
  def warmUp(spark: SparkSession, dir: Path): Unit = {
    import spark.implicits._
    spark.range(1000000).selectExpr("sum(id)").collect()
    val df = (0 until 2000).map(i => (i.toLong, i * 0.5)).toDF("id", "x")
    df.write.parquet(dir.resolve("parquet").toString)
    spark.read.parquet(dir.resolve("parquet").toString).selectExpr("sum(x)").collect()
    val t = new graft.merge.LogTable(spark, dir.resolve("table").toString, df.schema,
      bucketBy = Some((Seq("id"), 4)), statsBy = Seq("id"))
    t.append(df)
    t.read().count()
  }

  def stop(spark: SparkSession): Unit = {
    spark.stop()
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
  }
}

/** The machine record: load and the speed of a fixed CPU kernel, taken at
  * the start and the end of a run so that drift between runs shows. */
object Machine {
  final case class Snapshot(load1: Double, calibrationMs: Double, cpuTicks: (Long, Long))

  def snapshot(): Snapshot = Snapshot(load1(), calibrationMs(), cpuTicks())

  def load1(): Double =
    new String(Files.readAllBytes(java.nio.file.Paths.get("/proc/loadavg")))
      .trim.split("\\s+")(0).toDouble

  /** (steal, total) CPU ticks of the whole machine: the share of time a
    * virtual machine's host gave its CPUs to someone else. */
  def cpuTicks(): (Long, Long) = {
    val f = Files.readAllLines(java.nio.file.Paths.get("/proc/stat")).get(0)
      .trim.split("\\s+").drop(1).map(_.toLong)
    (if (f.length > 7) f(7) else 0L, f.sum)
  }

  def stealShare(a: Snapshot, b: Snapshot): Double = {
    val total = b.cpuTicks._2 - a.cpuTicks._2
    if (total <= 0) 0.0 else (b.cpuTicks._1 - a.cpuTicks._1).toDouble / total
  }

  /** Median of five timings of a fixed single-thread integer kernel. */
  def calibrationMs(): Double = {
    def kernel(): Long = {
      var x = 88172645463325252L
      var acc = 0L
      var i = 0
      while (i < 20000000) {
        x ^= x << 13; x ^= x >>> 7; x ^= x << 17
        acc += x & 0xff
        i += 1
      }
      acc
    }
    var sink = 0L
    val times = (0 until 5).map { _ =>
      val t0 = System.nanoTime(); sink += kernel(); (System.nanoTime() - t0) / 1e6
    }
    if (sink == 42) System.err.println("") // keeps the kernel live
    Stats.median(times)
  }

  /** JVM start on the `System.nanoTime` clock. */
  def jvmStartNanos: Long = {
    val startMs = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
    System.nanoTime() - (System.currentTimeMillis() - startMs) * 1000000L
  }

  /** Peak resident set size of this process (`VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val line = Files.readAllLines(java.nio.file.Paths.get("/proc/self/status"))
      .toArray.map(_.toString).find(_.startsWith("VmHWM:")).get
    line.split("\\s+")(1).toDouble / 1024
  }
}

/** Per-layer metrics every workload shares: the Spark scheduler and
  * executors, summed over the traced operations. */
object Layers {
  def spark(tr: Tracer, out: Outcome): Unit = {
    tr.drain()
    val ops = tr.spans.filter(_.layer == "workload").toSeq
    val n = math.max(1, ops.size).toDouble
    val jobs = ops.flatMap(tr.jobsUnder)
    out.layer("spark.jobs_per_op", jobs.size / n)
    out.layer("spark.stages_per_op", jobs.map(_.stages).sum / n)
    out.layer("spark.tasks_per_op", jobs.map(_.tasks).sum / n)
    val wall = ops.map(s => s.endNs - s.startNs).sum
    out.layer("spark.floor_share", if (wall == 0) 0 else ops.map(tr.floorNs).sum.toDouble / wall)
    out.layer("spark.task_s", jobs.map(_.taskNs).sum / 1e9 / n)
    out.layer("spark.task_cpu_s", jobs.map(_.cpuNs).sum / 1e9 / n)
    out.layer("spark.gc_s", jobs.map(_.gcMs).sum / 1e3 / n)
    out.layer("spark.shuffle_read_bytes", jobs.map(_.shuffleRead).sum / n)
    out.layer("spark.shuffle_write_bytes", jobs.map(_.shuffleWrite).sum / n)
    out.layer("spark.spill_bytes", jobs.map(_.spill).sum / n)
  }
}

/** Prints a run's two lines: the full record (the workload's own metric
  * names, the machine record, failures), then the result line. */
object Report {
  /** Every per-layer metric, in `BENCHMARK.json` order. A layer the
    * workload does not exercise did no work: it reports 0. */
  val LayerMetrics: Seq[(String, String)] = Seq(
    "streaming.bronze_s" -> "s", "streaming.silver_wave1_s" -> "s",
    "streaming.silver_wave23_s" -> "s", "streaming.gold_s" -> "s",
    "streaming.microbatches" -> "count", "streaming.trigger_p50_ms" -> "ms",
    "streaming.addbatch_share" -> "ratio", "streaming.state_rows" -> "count",
    "sources.input_rows" -> "count",
    "queries.relational_s" -> "s", "queries.text_s" -> "s", "queries.vector_s" -> "s",
    "merge.append_ms" -> "ms", "merge.merge_ms" -> "ms", "merge.delete_ms" -> "ms",
    "merge.compact_ms" -> "ms", "merge.range_read_ms" -> "ms",
    "merge.time_travel_ms" -> "ms", "merge.snapshot_open_ms" -> "ms",
    "merge.files_written_per_commit" -> "count",
    "merge.bytes_written_per_input_byte" -> "ratio", "merge.live_files" -> "count",
    "spark.jobs_per_op" -> "count", "spark.stages_per_op" -> "count",
    "spark.tasks_per_op" -> "count", "spark.floor_share" -> "ratio",
    "spark.task_s" -> "s", "spark.task_cpu_s" -> "s", "spark.gc_s" -> "s",
    "spark.shuffle_read_bytes" -> "bytes", "spark.shuffle_write_bytes" -> "bytes",
    "spark.spill_bytes" -> "bytes", "spark.core_scaling" -> "ratio",
    "trace.overhead_share" -> "ratio")

  private def metric(v: Double, unit: String) =
    Json.obj("value" -> Json.num(v), "unit" -> Json.str(unit))

  def print(workload: String, seed: Long, trace: Boolean, setupS: Double, rssMb: Double,
            out: Outcome, start: Machine.Snapshot, end: Machine.Snapshot): Unit = {
    val attempted = math.max(1, out.ops.size + out.lost)
    val failed = out.ops.count(!_.ok) + out.lost + (if (out.ops.isEmpty && out.lost == 0) 1 else 0)
    val correct = out.failures.isEmpty && failed == 0
    // the operations of a run are of several kinds whose latencies differ up
    // to tenfold; their median falls on whichever kind sits in the middle and
    // jumps between kinds from run to run, while the geometric mean moves by
    // a kind's share of the operations when that kind gets faster
    def gmean(f: Took => Double) =
      if (out.ops.isEmpty) 0.0
      else math.exp(out.ops.map(o => math.log(f(o.took))).sum / out.ops.size) * 1000
    def p50(f: Took => Double) =
      if (out.ops.isEmpty) 0.0 else Stats.median(out.ops.map(o => f(o.took)).toSeq) * 1000
    def perS(f: Took => Double) = {
      val s = out.ops.map(o => f(o.took)).sum
      if (s > 0) out.workUnits / s else 0.0
    }
    val e2e = Seq(
      "setup_s" -> metric(setupS, "s"),
      "peak_rss_mb" -> metric(rssMb, "MB"),
      "op_gmean_ms" -> metric(gmean(_.wall), "ms"),
      "work_per_s" -> metric(perS(_.wall), "1/s"))
    // the median, and the same operations in the CPU time of the whole
    // process: what they cost, without the time a shared host gave the CPUs
    // to someone else
    val diagnostic = Seq(
      "op_p50_ms" -> metric(p50(_.wall), "ms"),
      "op_cpu_gmean_ms" -> metric(gmean(_.cpu), "ms"),
      "work_per_cpu_s" -> metric(perS(_.cpu), "1/s"))
    val own = out.detail.toSeq.map { case (k, (v, u)) => k -> metric(v, u) }
    val machine = Json.obj(
      "load1_start" -> Json.num(start.load1), "load1_end" -> Json.num(end.load1),
      "calibration_ms_start" -> Json.num(start.calibrationMs),
      "calibration_ms_end" -> Json.num(end.calibrationMs),
      "steal_share" -> Json.num(Machine.stealShare(start, end)),
      "cores" -> Json.num(Runtime.getRuntime.availableProcessors().toLong))
    val layers = LayerMetrics.map { case (k, u) => k -> metric(out.layers.getOrElse(k, 0.0), u) }
    val record = Json.obj(
      "record" -> Json.str("perfbench"), "workload" -> Json.str(workload),
      "seed" -> Json.num(seed), "trace" -> Json.bool(trace),
      "metrics" -> Json.obj(e2e ++ diagnostic ++ Seq(
        "ops_failed_ratio" -> metric(failed.toDouble / attempted, "ratio")) ++ own: _*),
      "layers" -> (if (trace) Json.obj(layers: _*) else "null"),
      "ops" -> Json.arr(out.ops.toSeq.map(o => Json.obj("kind" -> Json.str(o.kind),
        "s" -> Json.num(o.took.wall), "cpu_s" -> Json.num(o.took.cpu), "ok" -> Json.bool(o.ok)))),
      "machine" -> machine,
      "failures" -> Json.arr(out.failures.take(20).toSeq.map(Json.str)))
    println(record)
    println(Json.obj(
      "correct" -> Json.bool(correct),
      "attempted" -> Json.num(attempted.toLong),
      "failed" -> Json.num(failed.toLong),
      "metrics" -> Json.obj((if (trace) layers else e2e): _*)))
  }
}
