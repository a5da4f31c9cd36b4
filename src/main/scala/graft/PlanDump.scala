package graft

import java.nio.file.{Files, Paths, StandardOpenOption}
import org.apache.spark.sql.execution.FormattedMode

/** Dev tool: write `explain("formatted")` for named registered queries to
  * files (`<outdir>/<name>_<suffix>.txt`) — the optimization-round plan
  * evidence. Usage: PlanDump <sfDir> <outDir> <suffix> <q1,q2,...|ALL>
  * The session is [[Bench.session]] (`SPARK_GRAFT_CPUS` cores, default 4),
  * so the dumped plans match what the bench times. Queries whose builder
  * executes eagerly (checkpointed builds, streaming drains) run their build
  * during the dump; use a small SF. A query whose build fails is reported
  * and skipped. */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val sfDir  = args(0)
    val outDir = Paths.get(args(1))
    val suffix = args(2)
    Files.createDirectories(outDir)
    val spark = Bench.session(sys.env.getOrElse("SPARK_GRAFT_CPUS", "4"))
    spark.sparkContext.setLogLevel("ERROR")
    val names: Seq[String] =
      if (args(3) == "ALL") graft.queries.Registry.all.map(_.name).sorted
      else args(3).split(',').toSeq
    names.foreach { name =>
      val out = outDir.resolve(s"${name}_$suffix.txt")
      try {
        val df = graft.queries.Registry.queries(name)(spark, sfDir)
        val txt = df.queryExecution.explainString(FormattedMode)
        Files.write(out, txt.getBytes("UTF-8"),
          StandardOpenOption.CREATE, StandardOpenOption.TRUNCATE_EXISTING)
        println(s"[plandump] wrote $out")
      } catch {
        case e: Throwable => println(s"[plandump] FAILED $name: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
