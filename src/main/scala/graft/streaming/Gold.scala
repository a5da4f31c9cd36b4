package graft.streaming

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.merge.{LogTable, Merge}

/** Gold layer — analytics-ready aggregates (ref `Gold/06-gold.py` and the
  * `gym_summary` view, `Setup/02-setup.py:244-256`). */
object Gold {

  /** workout_bpm_summary content: per-session BPM stats + demographic join
    * (ref 06-gold.py:93-97). The groupBy emits partial aggregates map-side;
    * the user_bins join is broadcast (small dim). */
  def workoutBpmSummary(workoutBpm: DataFrame, userBins: DataFrame): DataFrame =
    workoutBpm
      .groupBy(col("user_id"), col("workout_id"), col("session_id"),
        col("start_time"), col("end_time"))
      .agg(min(col("heartrate")).as("min_bpm"), avg(col("heartrate")).as("avg_bpm"),
        max(col("heartrate")).as("max_bpm"), count(col("heartrate")).as("num_recordings"))
      .join(broadcast(userBins), Seq("user_id"))
      .select(col("start_time"), col("end_time"), col("workout_id"), col("session_id"),
        col("user_id"), col("age"), col("gender"), col("city"), col("state"),
        col("min_bpm"), col("avg_bpm"), col("max_bpm"), col("num_recordings"))

  /** M5 upsert of the summary (ref 06-gold.py:31-80): 5-key match, stat
    * columns refreshed on match (update-mode incremental-with-correction). */
  def upsertSummary(table: LogTable)(batch: DataFrame): Unit =
    table.merge(batch)((cur, b) =>
      Merge.upsertColumns(cur, b,
        Seq("user_id", "workout_id", "session_id", "start_time", "end_time"),
        Seq("min_bpm", "avg_bpm", "max_bpm", "num_recordings", "age", "gender", "city", "state")))

  /** gym_summary view (ref Setup/02-setup.py:244-256): completed workouts ×
    * users × gym logs with BETWEEN containment, per-visit minutes arithmetic,
    * global sort. Pure batch view — computed lazily per query like the
    * reference's SQL view. */
  def gymSummary(completedWorkouts: DataFrame, users: DataFrame,
                 gymLogs: DataFrame): DataFrame = {
    val w = completedWorkouts
      .join(users.select(col("user_id"), col("mac_address")), Seq("user_id"))
      .select(col("mac_address"), col("workout_id"), col("session_id"),
        col("start_time"), col("end_time"))
    gymLogs.alias("l")
      .join(w.alias("w"),
        col("l.mac_address") === col("w.mac_address") &&
        col("w.start_time").between(col("l.login"), col("l.logout")))
      .select(
        to_date(col("l.login")).as("date"),
        col("gym"), col("l.mac_address").as("mac_address"),
        col("workout_id"), col("session_id"),
        round((col("l.logout").cast("long") - col("l.login").cast("long")) / 60d, 2)
          .as("minutes_in_gym"),
        round((col("w.end_time").cast("long") - col("w.start_time").cast("long")) / 60d, 2)
          .as("minutes_exercising"))
      .orderBy(col("date"), col("gym"), col("mac_address"), col("session_id"))
  }
}
