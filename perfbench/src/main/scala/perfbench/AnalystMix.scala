package perfbench

import java.nio.file.Files
import java.util.SplittableRandom

import org.apache.spark.sql.SparkSession

import graft.Bench
import graft.queries.{QueryDef, RelationalQueries, TextQueries, VectorQueries}

/** `analyst-mix`: one client running a fixed sample of the read-only query
  * rows of `RelationalQueries`, `TextQueries` and `VectorQueries` over
  * TPC-H-shaped tables generated from the seed (perfbench/analyst.py writes
  * them into the run's `data` directory before the JVM starts). Each row's
  * first untimed warm-up writes its output for the DuckDB check run.py makes
  * against the row's oracle SQL; a row whose output differs fails all its
  * executions. Then the sample runs in rounds, in a seeded order per round,
  * each execution forced over every output column as `graft.Bench.forceAll`
  * does. */
final class AnalystMix extends Workload {
  import AnalystMix._
  val name = "analyst-mix"

  def prepare(ctx: RunCtx): Unit = ()

  def run(ctx: RunCtx, out: Outcome): Unit = {
    val spark = ctx.spark
    val dir = ctx.work.resolve("data").toString
    val qs = sample
    val outDir = Files.createDirectories(ctx.work.resolve("out"))
    Files.writeString(outDir.resolve("oracle_sql.json"),
      Json.obj(qs.map(q => q.name -> Json.str(q.oracle.get)): _*))
    // warm-up, twice per row: the first writes the output the check reads
    // (a row whose warm-up throws leaves none and fails its check); the
    // second lets the first round start with the row's code compiled
    qs.foreach { q =>
      try q.spark(spark, dir).coalesce(1).write.parquet(outDir.resolve(q.name).toString)
      catch { case e: Exception => Main.log(s"${q.name}: warm-up threw: $e") }
      execute(spark, q, dir, new Tracer(spark, false))
    }
    val rng = new SplittableRandom(ctx.seed)
    val rounds = math.max(1, math.round(ctx.seconds / RoundSeconds).toInt)
    for (_ <- 1 to rounds; i <- FitbitSets.shuffled(rng, qs.size)) {
      val q = qs(i)
      val (ok, took) = Took.time(execute(spark, q, dir, ctx.tracer))
      if (!ok) out.fail(s"${q.name} threw")
      out.op(q.name, took, ok)
    }

    val mine = out.ops.filter(o => Sample.contains(o.kind))
    val times = mine.map(_.took.wall).toSeq
    val perRow = qs.map(q => q -> Stats.median(mine.filter(_.kind == q.name)
      .map(_.took.wall).toSeq))
    out.work(mine.size)
    out.detail("queries.total_s", perRow.map(_._2).sum, "s")
    out.detail("queries.p50_s", Stats.median(times), "s")
    out.detail("queries.p90_s", Stats.quantile(times, 0.9), "s")
    out.detail("queries.rows", qs.size, "count")
    out.detail("queries.executions", times.size, "count")
    Main.log(f"${times.size} executions of ${qs.size} rows, total ${perRow.map(_._2).sum}%.2f s")
    if (ctx.tracer.enabled) Seq("relational", "text", "vector").foreach { src =>
      out.layer(s"queries.${src}_s", perRow.filter(p => source(p._1) == src).map(_._2).sum)
    }
  }

  /** The probe: one round of the sample in a fixed order. */
  def probe(ctx: RunCtx): Double = {
    val dir = ctx.work.resolve("data").toString
    Took.time(sample.foreach { q =>
      require(execute(ctx.spark, q, dir, ctx.tracer), s"probe ${q.name} threw")
    })._2.wall
  }
}

object AnalystMix {
  /** Nominal seconds of one round of the sample. */
  val RoundSeconds = 5.0

  /** The sampled rows: two per source file, drawn with a fixed seed (2018)
    * from the rows that commit to no table, read only the generated tables,
    * have oracle SQL, match it on generated data, take at most 1 s warm on
    * 4 cores, and whose oracle SQL takes at most 1 s in DuckDB (the check
    * runs inside every run). */
  val Sample: Seq[String] = Seq(
    "q13_decode_validity", "q42_event_gaps",
    "d01_dedup_exact", "d17_split",
    "v18_range_search", "v28_matryoshka_rerank")

  private lazy val bySource: Seq[(String, Seq[QueryDef])] = Seq(
    "relational" -> RelationalQueries.defs, "text" -> TextQueries.defs,
    "vector" -> VectorQueries.defs)

  def source(q: QueryDef): String = bySource.find(_._2.exists(_.name == q.name)).get._1

  def sample: Seq[QueryDef] = {
    val all = bySource.flatMap(_._2).map(q => q.name -> q).toMap
    Sample.map(all)
  }

  /** One forced execution inside its spans; false if it threw. */
  def execute(spark: SparkSession, q: QueryDef, dir: String, tr: Tracer): Boolean =
    try {
      tr.span("workload", q.name)(tr.span("queries", source(q))(Bench.forceAll(q.spark(spark, dir))))
      true
    } catch { case e: Exception =>
      Main.log(s"${q.name} failed: $e")
      false
    }
}
