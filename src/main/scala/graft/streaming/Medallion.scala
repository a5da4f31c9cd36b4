package graft.streaming

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.merge.LogTable
import graft.ops.JobWave

/** End-to-end medallion orchestration (ref `Test Scripts/07-run.py` +
  * `Silver/05-silver.py:486-503`): landing files → Bronze (streaming append)
  * → Silver in three awaited waves → Gold. `availableNow` drain mode, exactly
  * like the reference's batch runs (`04-bronze.py:39-40`).
  *
  * Every table is an unbucketed [[LogTable]] — the commit-log form of the
  * reference's Delta tables. Bronze's are appended by the `graft-logtable`
  * streaming sink and streamed into Silver by version; Silver's and Gold's
  * are maintained by the reference's MERGE flavors (`Silver/05-silver.py`).
  * Single-writer-per-table discipline matches the
  * reference; re-running the whole pipeline over re-delivered + new files
  * is idempotent end-to-end (MERGE semantics absorb duplicates) — that is
  * the two-set replay invariant its tests pin (`Test Scripts/08-batch-test.py`).
  *
  * The four layer calls run on Spark's interpreted path (`interpreted`): a
  * set's plans each run once over few rows, so compiling them costs more
  * than it saves. At a tenth of the reference volume (25,380 bpm rows a
  * set, 4 cores) a codegen'd set ran 161–198 Janino compiles and used about
  * 34 CPU-s, most of it outside its tasks. Interpreted, a set runs 5–7
  * compiles and about 27 CPU-s, and medallion-replay's op_gmean_ms fell
  * from 9.39 to 7.55 s (10 of 10 alternating pairs).
  */
final class Medallion(spark: SparkSession, landingDir: String, tablesDir: String,
                      checkpointDir: String, asOf: Column) {

  /** Unbucketed tables. In a medallion set each merge's batch carries keys
    * from all of its table: with 16 hash buckets, set 2's M2–M4 merges each
    * replaced 16 of 16 and every M1 commit wrote 16 files. The buckets
    * bought a touched-bucket probe, a batch persist and a bucket shuffle per
    * merge and nothing else. Unbucketed, M1 appends one file per non-empty
    * write partition ([[LogTable.insertMissing]]) and M2–M5 rewrite the
    * table's few files in one plan ([[LogTable.occMerge]]). Scoping a
    * rewrite below O(table) is the work of a file- or DV-scoped MERGE. */
  private def t(name: String, schema: StructType) =
    new LogTable(spark, s"$tablesDir/$name", schema)

  val usersTable = t("users", Schemas.users)
  val gymLogsTable = t("gym_logs", Schemas.gymLogs)
  val userProfileTable = t("user_profile", Schemas.userProfile)
  val heartRateTable = t("heart_rate", Schemas.heartRate)
  val workoutsTable = t("workouts", Schemas.workouts)
  val userBinsTable = t("user_bins", Schemas.userBins)
  val completedWorkoutsTable = t("completed_workouts", Schemas.completedWorkouts)
  val workoutBpmTable = t("workout_bpm", Schemas.workoutBpm)
  val summaryTable = t("workout_bpm_summary", Schemas.workoutBpmSummary)

  private def bronzeDir(name: String) = s"$tablesDir/bronze_$name"

  /** Run one layer call with whole-stage codegen and generated expression
    * classes off on the caller's session ([[graft.ops.SessionConf.scoped]]).
    * Streams started inside clone the session's conf, so they run
    * interpreted too, as do the [[LogTable]] merges and reads the call
    * plans. */
  private def interpreted[T](body: => T): T =
    graft.ops.SessionConf.scoped(spark, Medallion.Interpreted: _*)(body)

  /** Bronze: three file-stream ingestion jobs (ref 04-bronze.py:107-117),
    * each appending to its Bronze [[LogTable]] through the `graft-logtable`
    * sink, drained with availableNow and awaited. */
  def runBronze(dateLookup: DataFrame): Unit = interpreted {
    // FAIR pool per layer (ref 05-silver.py:92 etc. scheduler pools)
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "bronze")
    val jobs = Seq(
      Bronze.csvStream(spark, s"$landingDir/registered_users", Schemas.registeredUsersCsv)
        -> "registered_users",
      Bronze.csvStream(spark, s"$landingDir/gym_logins", Schemas.gymLoginsCsv)
        -> "gym_logins",
      Bronze.enrichWeekPart(
        Bronze.jsonStream(spark, s"$landingDir/multiplex", Schemas.kafkaMultiplexJson),
        dateLookup) -> "multiplex")
    val queries = jobs.map { case (df, name) =>
      df.writeStream.format("graft-logtable")
        .queryName(s"bronze_$name")
        .option("appId", s"bronze_$name")
        .option("checkpointLocation", s"$checkpointDir/bronze_$name")
        .trigger(Trigger.AvailableNow())
        .start(bronzeDir(name))
    }
    queries.foreach(_.awaitTermination())
  }

  /** Silver wave 1 (ref 05-silver.py:490-495): five streaming upsert jobs.
    * Each streams its Bronze [[LogTable]] through the `graft-logtable`
    * source (version offsets, the log read as an append-only Delta stream)
    * through its transform into a foreachBatch MERGE. The three multiplex
    * streams each read every multiplex row and keep their `topic`. They
    * run in append mode and without a state store: each micro-batch is
    * deduplicated on the stream's keys, and a re-delivery in a later batch
    * is absorbed by the idempotent merge (M1's anti-join, M2's logout guard,
    * M3's strict recency guard) — Structured Streaming's exactly-once
    * contract of a replayable source and an idempotent sink. The
    * reference's 365-day watermark only bounds dedup state; with no state
    * there is nothing to bound, and no trailing no-data batch per stream.
    *
    * Start-all-then-await, exactly like the reference (`05-silver.py:486-503`
    * starts every wave-1 stream and then `_await_queries` the active set):
    * the five targets are distinct tables, so the concurrent foreachBatch
    * MERGEs never contend, and the five availableNow micro-batch floors
    * overlap instead of summing. */
  def runSilverWave1(): Unit = interpreted {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "silver")
    val started = scala.collection.mutable.ArrayBuffer
      .empty[org.apache.spark.sql.streaming.StreamingQuery]
    def run(name: String, src: DataFrame, keys: Seq[String])
           (sink: DataFrame => Unit): Unit = {
      started += src.writeStream
        .queryName(s"silver_$name")
        .option("checkpointLocation", s"$checkpointDir/silver_$name")
        .outputMode("append")
        .foreachBatch((batch: DataFrame, _: Long) => sink(batch.dropDuplicates(keys)))
        .trigger(Trigger.AvailableNow())
        .start()
    }
    // a Bronze table's schema: its landing schema + the lineage columns
    def lineage(landing: StructType) =
      landing.add("load_time", "timestamp").add("source_file", "string")
    def bronze(name: String, schema: StructType) =
      spark.readStream.format("graft-logtable").schema(schema).load(bronzeDir(name))
    val regUsers = bronze("registered_users", lineage(Schemas.registeredUsersCsv))
    run("users", Silver.usersTransform(regUsers),
      Seq("user_id", "device_id"))(Silver.upsertInsertOnly(usersTable, Seq("user_id")))

    val gymBz = bronze("gym_logins", lineage(Schemas.gymLoginsCsv))
    // dedup on the FULL row (not the reference's (mac,gym,login) key,
    // 05-silver.py:126-127): a key-only dedup would keep an arbitrary one of
    // a batch's login row and its logout-extension re-delivery. Exact-
    // duplicate drops keep idempotency; the M2 merge collapses to the max
    // logout and owns monotone logout extension.
    run("gym_logs", Silver.gymLogsTransform(gymBz),
      Seq("mac_address", "gym", "login", "logout"))(Silver.upsertGymLogs(gymLogsTable))

    // week_part comes after the lineage: Bronze.enrichWeekPart joins it on
    def multiplexStream =
      bronze("multiplex", lineage(Schemas.kafkaMultiplexJson).add("week_part", "string"))
    run("user_profile", Silver.userProfileTransform(multiplexStream),
      Seq("user_id", "updated"))(Silver.upsertUserProfile(userProfileTable))
    run("workouts", Silver.workoutsTransform(multiplexStream),
      Seq("user_id", "time"))(Silver.upsertInsertOnly(workoutsTable, Seq("user_id", "time")))
    run("heart_rate", Silver.heartRateTransform(multiplexStream),
      Seq("device_id", "time"))(Silver.upsertInsertOnly(heartRateTable, Seq("device_id", "time")))
    started.foreach(_.awaitTermination())
  }

  /** Silver waves 2+3 (ref 05-silver.py:496-502): derived tables recomputed
    * from the current upstream content and MERGEd. Wave 2 = {user_bins,
    * completed_workouts} — independent targets with disjoint upstreams, run
    * CONCURRENTLY exactly like the reference's start-both-then-await; wave 3
    * = workout_bpm, which reads completed_workouts and so must wait for the
    * wave-2 barrier. Concurrent Spark actions from two threads are safe
    * (separate jobs, separate target tables). */
  def runSilverWave2(): Unit = interpreted {
    JobWave.run(Seq(
      () => Silver.upsertUserBins(userBinsTable)(
        Silver.userBins(userProfileTable.read(), usersTable.read(), asOf)),
      () => Silver.upsertInsertOnly(completedWorkoutsTable,
        Seq("user_id", "workout_id", "session_id", "start_time"))(
        Silver.completedWorkouts(workoutsTable.read()))))
    Silver.upsertInsertOnly(workoutBpmTable,
      Seq("user_id", "workout_id", "session_id", "time"))(
      Silver.workoutBpm(completedWorkoutsTable.read(), usersTable.read(),
        heartRateTable.read()))
  }

  /** Gold (ref 06-gold.py:100-112): summary recompute + M5 upsert. */
  def runGold(): Unit = interpreted {
    Gold.upsertSummary(summaryTable)(
      Gold.workoutBpmSummary(workoutBpmTable.read(), userBinsTable.read()))
  }

  /** One full batch run over whatever is in the landing zone. */
  def runAll(dateLookup: DataFrame): Unit = {
    runBronze(dateLookup)
    runSilverWave1()
    runSilverWave2()
    runGold()
  }

  def gymSummary(): DataFrame =
    Gold.gymSummary(completedWorkoutsTable.read(), usersTable.read(), gymLogsTable.read())

  /** Stream management (ref 04-bronze.py:114-116, 05-silver.py:481-484):
    * stop every active streaming query on this session. */
  def stopAllStreams(): Unit = spark.streams.active.foreach(_.stop())
}

object Medallion {
  /** The session settings of [[Medallion]]'s layer calls. `factoryMode` is
    * an internal Spark conf. `wholeStage=false` alone still compiled 151
    * classes in MedallionInterpretedSpec's set 1 (7 with both): operators
    * outside whole-stage codegen compile their own projections, predicates
    * and orderings unless `factoryMode` says not to. */
  private val Interpreted = Seq(
    "spark.sql.codegen.wholeStage" -> "false",
    "spark.sql.codegen.factoryMode" -> "NO_CODEGEN")
}
