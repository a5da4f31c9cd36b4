package perfbench

import java.nio.file.{Files, Path, Paths}

import scala.collection.mutable.{ArrayBuffer, LinkedHashMap}

import org.apache.spark.sql.SparkSession

/** What a workload run hands the benchmark. */
final case class RunCtx(spark: SparkSession, tracer: Tracer, seed: Long, seconds: Double,
                        work: Path)

/** Wall and process-CPU seconds of one timed call. CPU time is what the
  * call cost this process; on a shared host it does not grow with the time
  * the host gives the CPUs to someone else, as wall time does. */
final case class Took(wall: Double, cpu: Double)

object Took {
  private val os = java.lang.management.ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  def time[T](body: => T): (T, Took) = {
    val w0 = System.nanoTime()
    val c0 = os.getProcessCpuTime
    val r = body
    (r, Took((System.nanoTime() - w0) / 1e9, (os.getProcessCpuTime - c0) / 1e9))
  }
}

/** One timed operation of the client loop. */
final case class Op(kind: String, took: Took, ok: Boolean)

/** Everything a run measured, before it is printed. */
final class Outcome {
  val ops = ArrayBuffer.empty[Op]
  val failures = ArrayBuffer.empty[String]
  val detail = LinkedHashMap.empty[String, (Double, String)]
  val layers = LinkedHashMap.empty[String, Double]
  var workUnits = 0.0
  /** Operations that threw before they could be recorded: attempted and failed. */
  var lost = 0

  def op(kind: String, took: Took, ok: Boolean): Unit = ops += Op(kind, took, ok)
  def fail(msg: String): Unit = {
    failures += msg
    System.err.println(s"[perfbench] check failed: $msg")
  }
  /** A check over the state several operations built failed: each of them fails. */
  def failOps(from: Int, kinds: Set[String]): Unit =
    for (i <- from until ops.size if kinds(ops(i).kind)) ops(i) = ops(i).copy(ok = false)
  def detail(name: String, value: Double, unit: String): Unit = detail(name) = (value, unit)
  def layer(name: String, value: Double): Unit = layers(name) = value
  /** Work the timed operations did: landed rows, or table operations. */
  def work(units: Double): Unit = workUnits = units
}

/** A benchmark workload: inputs are generated from the seed in `prepare`
  * (untimed, not part of set-up), then `run` drives one client in a closed
  * loop and checks every output. `probe` times a fixed piece of the same
  * work; traced runs time it on all cores and on one. */
trait Workload {
  def name: String
  def prepare(ctx: RunCtx): Unit
  def run(ctx: RunCtx, out: Outcome): Unit
  def probe(ctx: RunCtx): Double
}

object Main {
  /** Heart-rate readings per set in the paper's reference test
    * (FIXTURES.md §1.3). */
  val ReferenceBpmPerSet = 253800

  /** A medallion set costs 15–25 s on 4 cores at any volume from a tenth
    * of the reference to all of it, so a run lands two sets at a tenth of
    * the reference volume. */
  def workload(name: String): Workload = name match {
    case "medallion-replay" =>
      new MedallionReplay(sets = 2, cohort = 100, bpmPerSet = ReferenceBpmPerSet / 10)
    case "table-commits" => new TableCommits
    case "analyst-mix" => new AnalystMix
    case other => throw new IllegalArgumentException(s"unknown workload '$other'")
  }

  def log(msg: String): Unit =
    System.err.println(f"[perfbench] ${(System.nanoTime() - Machine.jvmStartNanos) / 1e9}%7.2f $msg")

  def main(args: Array[String]): Unit = {
    val opts = args.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    if (opts.contains("setup-only")) {
      // what the build records in its class-data archive
      val work = Paths.get(opts("work")).toAbsolutePath
      val spark = Session.start(Runtime.getRuntime.availableProcessors(), work)
      Session.warmUp(spark, work.resolve("warmup"))
      Session.stop(spark)
      return
    }
    val w = workload(opts("workload"))
    val seed = opts("seed").toLong
    val seconds = opts("seconds").toDouble
    val trace = opts("trace") == "1"
    val work = Paths.get(opts("work")).toAbsolutePath
    val cores = Runtime.getRuntime.availableProcessors()

    // set-up, as a user starting the program meets it: JVM start to session
    // up and warm-up done
    val jvmStart = Machine.jvmStartNanos
    var spark = Session.start(cores, work)
    val sessionS = (System.nanoTime() - jvmStart) / 1e9
    Session.warmUp(spark, work.resolve("warmup"))
    val setupS = (System.nanoTime() - jvmStart) / 1e9
    log(f"set-up: $setupS%.2f s (session up at $sessionS%.2f s)")
    val machineStart = Machine.snapshot()
    val tracer = new Tracer(spark, trace)
    val ctx = RunCtx(spark, tracer, seed, seconds, work)
    val out = new Outcome
    val tPrep = System.nanoTime()
    w.prepare(ctx)
    log(f"inputs generated in ${(System.nanoTime() - tPrep) / 1e9}%.2f s")
    try w.run(ctx, out)
    catch { case e: Exception =>
      e.printStackTrace()
      out.fail(s"workload threw: $e")
      out.lost += 1
    }
    tracer.close()

    if (trace) {
      Layers.spark(tracer, out)
      val opsWall = tracer.spans.filter(_.layer == "workload").map(_.seconds).sum
      out.layer("trace.overhead_share", tracer.ownSeconds / opsWall)
      val results = Files.createDirectories(work.getParent.resolveSibling("results"))
      val spansFile = results.resolve(s"spans-${w.name}-seed$seed-${System.currentTimeMillis()}.json")
      Files.writeString(spansFile, tracer.toJson)
      log(s"spans written to $spansFile")
      // the same fixed piece of work, untraced, on all cores and on one
      val all = w.probe(ctx.copy(tracer = new Tracer(spark, false)))
      Session.stop(spark)
      spark = Session.start(1, work)
      val one = w.probe(ctx.copy(spark = spark, tracer = new Tracer(spark, false)))
      out.layer("spark.core_scaling", one / all)
      out.detail("probe.all_cores_s", all, "s")
      out.detail("probe.one_core_s", one, "s")
    }
    val machineEnd = Machine.snapshot()
    val rssMb = Machine.peakRssMb()
    Session.stop(spark)
    Report.print(w.name, seed, trace, setupS, rssMb, out, machineStart, machineEnd)
  }
}
