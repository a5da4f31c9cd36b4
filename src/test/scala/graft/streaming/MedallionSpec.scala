package graft.streaming

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import graft.SparkSpec

/** Two-set end-to-end replay (the reference's core test design, SURVEY.md §5:
  * set 2 re-delivers overlapping + new data; layer-by-layer expected counts
  * pin dedup, CDC recency, merge and interval-join semantics simultaneously).
  * Fixtures are synthetic and deterministic — authored here, not copied.
  */
class MedallionSpec extends SparkSpec {
  import spark.implicits._
  import MedallionFixtures.{base, set1, set2}

  private def dateLookup = MedallionFixtures.dateLookup(spark)

  test("two-set replay reproduces the medallion count matrix") {
    val root = Files.createTempDirectory("medallion-")
    val landing = root.resolve("landing")
    val m = new Medallion(spark, landing.toString, s"$root/tables", s"$root/ckpt",
      lit("2024-01-15").cast("date"))

    // ── run 1 ──
    set1(landing)
    m.runAll(dateLookup)
    assert(m.usersTable.read().count() == 2)
    assert(m.gymLogsTable.read().count() == 1)
    assert(m.userProfileTable.read().count() == 2)
    assert(m.workoutsTable.read().count() == 2)
    assert(m.heartRateTable.read().count() == 10)
    assert(m.completedWorkoutsTable.read().count() == 1)
    // in (start,stop] excluding the invalid reading: 700..2400 -> 7
    assert(m.workoutBpmTable.read().count() == 7)
    assert(m.userBinsTable.read().count() == 2)
    assert(m.summaryTable.read().count() == 1)
    assert(m.gymSummary().count() == 1)

    // ── run 2: re-delivery + new data ──
    set2(landing)
    m.runAll(dateLookup)
    assert(m.usersTable.read().count() == 3)
    assert(m.gymLogsTable.read().count() == 2)
    assert(m.userProfileTable.read().count() == 3)
    assert(m.workoutsTable.read().count() == 5)
    assert(m.heartRateTable.read().count() == 13)
    assert(m.completedWorkoutsTable.read().count() == 2)
    assert(m.workoutBpmTable.read().count() == 9)
    assert(m.userBinsTable.read().count() == 3)
    assert(m.summaryTable.read().count() == 2)

    // M2: logout monotonically extended
    val logout = m.gymLogsTable.read().filter($"mac_address" === "m1")
      .select(($"logout".cast("long") - lit(base)).as("l")).as[Long].collect()
    assert(logout.toSeq == Seq(9000L))

    // M3 CDC recency: city updated by the newer record
    val city = m.userProfileTable.read().filter($"user_id" === 1)
      .select("city").as[String].collect()
    assert(city.toSeq == Seq("Shelbyville"))

    // age binning on injected as-of date
    val bin = m.userBinsTable.read().filter($"user_id" === 1)
      .select("age").as[String].collect()
    assert(bin.toSeq == Seq("25-35"))

    // gym_summary view: full-row golden diff, mirroring the reference's
    // collect()-vs-stored-fixture comparison (Gold/06-gold.py:132-137)
    val gs = m.gymSummary()
    val golden = Seq(
      // m1: login base, logout extended to +9000s → 150 min; workout 600..2400 → 30 min
      (java.sql.Date.valueOf("2024-01-01"), 1L, "m1", 1, 1, 150.0, 30.0),
      // m2: login base+86400 for 3600s → 60 min; workout 87000..88200 → 20 min
      (java.sql.Date.valueOf("2024-01-02"), 1L, "m2", 2, 7, 60.0, 20.0))
    assert(gs.as[(java.sql.Date, Long, String, Int, Int, Double, Double)]
      .collect().toSeq == golden)

    // gold stats: session 1 avg bpm over the 7 valid in-session readings
    val avg1 = m.summaryTable.read().filter($"session_id" === 1)
      .select("num_recordings").as[Long].collect()
    assert(avg1.toSeq == Seq(7L))

    // layout: the nine tables are unbucketed (every file is in bucket -1),
    // and each updating MERGE replaces its table's files in one commit
    val named = Seq("users" -> m.usersTable, "gym_logs" -> m.gymLogsTable,
      "user_profile" -> m.userProfileTable, "workouts" -> m.workoutsTable,
      "heart_rate" -> m.heartRateTable, "completed_workouts" -> m.completedWorkoutsTable,
      "workout_bpm" -> m.workoutBpmTable, "user_bins" -> m.userBinsTable,
      "workout_bpm_summary" -> m.summaryTable)
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def adds(name: String, v: Long) = {
      val manifest = Paths.get(s"$root/tables/$name/_log").resolve(f"$v%020d.json")
      mapper.readTree(Files.readAllBytes(manifest)).get("add").elements().asScala
        .map(a => a.get("name").asText() -> a.get("bucket").asInt()).toMap
    }
    named.foreach { case (name, table) =>
      val buckets = table.history().flatMap(v => adds(name, v)).toMap
      val live = table.liveFileNames()
      assert(live.nonEmpty && live.forall(f => buckets(f) == -1), name)
    }
    Seq("gym_logs", "user_profile", "user_bins", "workout_bpm_summary").foreach { name =>
      val table = named.toMap.apply(name)
      assert(table.liveFileNames().toSet == adds(name, table.currentVersion).keySet, name)
    }

    // ── run 3: set 1 re-delivered whole, under new file names ──
    // Silver keeps no dedup state across micro-batches: the merges alone
    // (M1 anti-join, M2 logout guard, M3 strict recency guard) must absorb
    // every re-delivered row, leaving all nine tables as run 2 left them.
    def content() = named.map(_._2).map(_.read().collect().map(_.toString).sorted.toSeq)
    val afterRun2 = content()
    set1(landing, "set1-redelivered")
    m.runAll(dateLookup)
    assert(content() == afterRun2)
  }

  test("Bronze tables are commit logs: no file-sink metadata, and a drain " +
      "with no new landing file cuts no Bronze version") {
    val root = Files.createTempDirectory("medallion-bronze-")
    val landing = root.resolve("landing")
    val m = new Medallion(spark, landing.toString, s"$root/tables", s"$root/ckpt",
      lit("2024-01-15").cast("date"))
    set1(landing)
    m.runAll(dateLookup)
    val bronze = Files.list(root.resolve("tables")).iterator().asScala
      .filter(_.getFileName.toString.startsWith("bronze_")).toSeq
      .sortBy(_.getFileName.toString)
    assert(bronze.map(_.getFileName.toString) ==
      Seq("bronze_gym_logins", "bronze_multiplex", "bronze_registered_users"))
    bronze.foreach { d =>
      assert(Files.isDirectory(d.resolve("_log")), d)
      assert(!Files.exists(d.resolve("_spark_metadata")), d)
    }
    def versions() = bronze.map { d =>
      new graft.merge.LogTable(spark, d.toString,
        graft.merge.LogTable.readSchema(d.toString).get).currentVersion
    }
    assert(versions() == Seq(1L, 1L, 1L))
    m.runBronze(dateLookup)
    assert(versions() == Seq(1L, 1L, 1L))
  }
}
