package perfbench

import java.nio.file.{Files, Path}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.streaming.Medallion

/** `medallion-replay`: the paper's pipeline (landing → Bronze → Silver
  * waves 1–3 → Gold) over a sequence of Fitbit-shaped sets, one client in a
  * closed loop. Set k+1 lands after set k's `runGold` returns; a set's
  * latency runs from its landing to that return. Tables start empty. After
  * every set (untimed) each table's size is checked against the count
  * matrix [[FitbitSets]] computed; a mismatch fails that set. */
final class MedallionReplay(sets: Int, cohort: Int, bpmPerSet: Int) extends Workload {
  val name = "medallion-replay"
  private var staged: Seq[FitbitSets#SetFiles] = Nil

  def prepare(ctx: RunCtx): Unit = {
    val gen = new FitbitSets(ctx.seed, cohort, bpmPerSet)
    val staging = Files.createDirectories(ctx.work.resolve("staging"))
    staged = (1 to sets).map(_ => gen.next(staging))
  }

  def run(ctx: RunCtx, out: Outcome): Unit = {
    val spark = ctx.spark
    val tr = ctx.tracer
    val root = Files.createDirectories(ctx.work.resolve("medallion"))
    val m = newPipeline(spark, root)
    val lookup = MedallionReplay.dateLookup(spark).cache()
    lookup.count()
    val latencies = scala.collection.mutable.ArrayBuffer.empty[(Int, Double)]
    staged.foreach { set =>
      val (ok, took) = MedallionReplay.runSet(m, lookup, root.resolve("landing"), set, tr)
      Main.log(f"set ${set.index}: ${took.wall}%.2f s, ${took.cpu}%.2f CPU s")
      val verdict = if (ok) check(m, set.truth) else Seq("set threw")
      verdict.foreach(v => out.fail(s"set ${set.index}: $v"))
      out.op(if (set.index == 1) "first_set" else "replay_set", took, ok && verdict.isEmpty)
      latencies += set.index -> took.wall
    }
    val landed = staged.map(_.landedRows).sum.toDouble
    val total = latencies.map(_._2).sum
    val replay = latencies.filter(_._1 > 1).map(_._2).toSeq
    out.work(landed)
    out.detail("medallion.first_set_s", latencies.head._2, "s")
    out.detail("medallion.replay_set_p50_s", Stats.median(replay), "s")
    out.detail("medallion.last_set_s", latencies.last._2, "s")
    out.detail("medallion.rows_per_s", landed / total, "rows/s")
    out.detail("medallion.sets", sets, "count")
    out.detail("medallion.landed_rows_per_set", landed / sets, "rows")
    if (tr.enabled) layerMetrics(tr, out)
    lookup.unpersist()
  }

  /** The probe: Bronze of set 1 again, into fresh tables. A whole set
    * costs 55–80 CPU seconds, too long to run again on one core within a
    * run's time limit. */
  def probe(ctx: RunCtx): Double = {
    val root = Files.createDirectories(ctx.work.resolve(s"probe-${System.nanoTime()}"))
    val m = newPipeline(ctx.spark, root)
    val lookup = MedallionReplay.dateLookup(ctx.spark)
    MedallionReplay.land(root.resolve("landing"), staged.head)
    Took.time(m.runBronze(lookup))._2.wall
  }

  private def newPipeline(spark: SparkSession, root: Path) =
    new Medallion(spark, root.resolve("landing").toString, root.resolve("tables").toString,
      root.resolve("ckpt").toString, lit("2024-06-01").cast("date"))

  /** Every table size and both checksums in one Spark job. */
  private def check(m: Medallion, t: FitbitSets#Truth): Seq[String] = {
    def rows(df: DataFrame) = df.agg(count(lit(1)))
    val parts = Seq(
      "users" -> rows(m.usersTable.read()),
      "gym_logs" -> rows(m.gymLogsTable.read()),
      "user_profile" -> rows(m.userProfileTable.read()),
      "workouts" -> rows(m.workoutsTable.read()),
      "heart_rate" -> rows(m.heartRateTable.read()),
      "completed_workouts" -> rows(m.completedWorkoutsTable.read()),
      "workout_bpm" -> rows(m.workoutBpmTable.read()),
      "user_bins" -> rows(m.userBinsTable.read()),
      "workout_bpm_summary" -> rows(m.summaryTable.read()),
      "gym_logs.logout_sum" ->
        m.gymLogsTable.read().agg(coalesce(sum(col("logout").cast("long")), lit(0L))),
      "user_profile.moved" -> rows(m.userProfileTable.read()
        .filter(col("city").startsWith("moved"))))
    val got = parts.map { case (k, df) => df.toDF("v").select(lit(k).as("k"), col("v")) }
      .reduce(_ unionByName _).collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    t.counts.collect { case (k, want) if got(k) != want => s"$k: got ${got(k)}, want $want" }
  }

  private def layerMetrics(tr: Tracer, out: Outcome): Unit = {
    tr.drain()
    def per(layer: String) = tr.spans.filter(s => s.layer == "streaming" && s.name == layer)
      .map(_.seconds).toSeq
    out.layer("streaming.bronze_s", Stats.median(per("runBronze")))
    out.layer("streaming.silver_wave1_s", Stats.median(per("runSilverWave1")))
    out.layer("streaming.silver_wave23_s", Stats.median(per("runSilverWave2")))
    out.layer("streaming.gold_s", Stats.median(per("runGold")))
    val setSpans = tr.spans.filter(_.layer == "workload").toSeq
    setSpans.foreach { s =>
      val perQuery = tr.batchesUnder(s).groupBy(_.query).toSeq.sortBy(_._1)
      Main.log(s"${s.name} micro-batches: ${perQuery.map { case (q, b) => s"$q ${b.size}" }.mkString(", ")}")
    }
    val batches = setSpans.flatMap(tr.batchesUnder)
    out.layer("streaming.microbatches", batches.size.toDouble / setSpans.size)
    out.layer("streaming.trigger_p50_ms",
      if (batches.isEmpty) 0 else Stats.median(batches.map(_.triggerMs.toDouble)))
    out.layer("streaming.addbatch_share",
      batches.map(_.addBatchMs).sum.toDouble / math.max(1L, batches.map(_.triggerMs).sum))
    // state rows held by the dedup operators after the last traced set
    val lastSet = setSpans.last
    out.layer("streaming.state_rows", tr.batchesUnder(lastSet).groupBy(_.query)
      .values.map(_.last.stateRows).sum.toDouble)
    out.layer("sources.input_rows", batches.map(_.inputRows).sum.toDouble / setSpans.size)
  }
}

object MedallionReplay {
  /** Land a staged set (a hard link: the file appears whole and the staged
    * copy stays for the single-thread probe), then drive every layer.
    * Returns whether every call returned, and the landing → Gold time. */
  def runSet(m: Medallion, lookup: DataFrame, landing: Path, set: FitbitSets#SetFiles,
             tr: Tracer): (Boolean, Took) =
    tr.span("workload", s"set${set.index}") {
      Took.time(try {
        land(landing, set)
        val layers = Seq[(String, () => Unit)](
          "runBronze" -> (() => m.runBronze(lookup)),
          "runSilverWave1" -> (() => m.runSilverWave1()),
          "runSilverWave2" -> (() => m.runSilverWave2()),
          "runGold" -> (() => m.runGold()))
        val took = layers.map { case (name, call) =>
          val t = System.nanoTime()
          tr.span("streaming", name)(call())
          f"$name ${(System.nanoTime() - t) / 1e9}%.2f"
        }
        Main.log(s"set ${set.index} layers (s): ${took.mkString(", ")}")
        true
      } catch { case e: Exception =>
        Main.log(s"set ${set.index} failed: $e")
        m.stopAllStreams()
        false
      })
    }

  /** Hard-link a staged set's files into the landing zone. */
  def land(landing: Path, set: FitbitSets#SetFiles): Unit =
    set.files.foreach { case (sub, file) =>
      val dir = Files.createDirectories(landing.resolve(sub))
      Files.createLink(dir.resolve(file.getFileName.toString.stripPrefix(s"$sub-")), file)
    }

  /** The calendar dimension Bronze joins for `week_part` (all of 2024). */
  def dateLookup(spark: SparkSession): DataFrame = {
    import spark.implicits._
    (0 until 366).map { d =>
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(d)
      (java.sql.Date.valueOf(date), date.getDayOfYear / 7 + 1, date.getYear,
        date.getMonthValue, date.getDayOfWeek.getValue, date.getDayOfMonth,
        date.getDayOfYear, if (date.getDayOfWeek.getValue >= 6) "weekend" else "weekday")
    }.toDF("date", "week", "year", "month", "dayofweek", "dayofmonth", "dayofyear", "week_part")
  }
}
