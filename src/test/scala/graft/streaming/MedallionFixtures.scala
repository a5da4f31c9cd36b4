package graft.streaming

import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The shared two-set medallion scenario (SURVEY.md §5): deterministic
  * synthetic landing fixtures used by MedallionSpec's count matrix and
  * GoldenFixtureSpec's stored-fixture row diff. Authored here, not copied. */
object MedallionFixtures {
  val base = 1704100000L // 2024-01-01 09:06:40 UTC
  private def ms(sec: Long) = sec * 1000

  private def esc(j: String) = j.replace("\"", "\\\"")
  private def envelope(topic: String, payload: String, off: Long, tsSec: Long) =
    s"""{"key":"k$off","value":"${esc(payload)}","topic":"$topic","partition":0,"offset":$off,"timestamp":${ms(tsSec)}}"""

  private def userInfo(uid: Long, utype: String, ts: Long, dob: String, city: String) =
    envelope("user_info",
      s"""{"user_id":$uid,"update_type":"$utype","timestamp":$ts.0,"dob":"$dob","sex":"F","gender":"F","first_name":"fn$uid","last_name":"ln$uid","address":{"street_address":"$uid Main St","city":"$city","state":"IL","zip":62704}}""",
      uid * 100 + ts % 97, ts)

  private def workout(uid: Long, wid: Int, sid: Int, ts: Long, action: String) =
    envelope("workout",
      s"""{"user_id":$uid,"workout_id":$wid,"timestamp":$ts.0,"session_id":$sid,"action":"$action"}""",
      uid * 1000 + ts % 89, ts)

  private def bpm(dev: Long, ts: Long, hr: Double) =
    envelope("bpm", s"""{"device_id":$dev,"time":$ts.0,"heartrate":$hr}""",
      dev * 10000 + ts % 83, ts)

  private def write(dir: Path, name: String, lines: Seq[String]): Unit = {
    Files.createDirectories(dir)
    Files.write(dir.resolve(name), lines.mkString("\n").getBytes)
  }

  /** Set 1's files, named `<name>.csv` / `<name>.json` (a re-delivery of
    * the whole set lands the same content under another name). */
  def set1(landing: Path, name: String = "set1"): Unit = {
    write(landing.resolve("registered_users"), s"$name.csv", Seq(
      "user_id,device_id,mac_address,registration_timestamp",
      s"1,101,m1,${base - 1000}.0", s"2,102,m2,${base - 900}.0"))
    write(landing.resolve("gym_logins"), s"$name.csv", Seq(
      "mac_address,gym,login,logout",
      s"m1,1,$base.0,${base + 5400}.0"))
    write(landing.resolve("multiplex"), s"$name.json",
      Seq(
        userInfo(1, "new", base + 10, "06/01/1990", "Springfield"),
        userInfo(2, "new", base + 20, "02/14/1985", "Ogdenville"),
        workout(1, 1, 1, base + 600, "start"),
        workout(1, 1, 1, base + 2400, "stop")) ++
      Seq(500L, 700, 1000, 1300, 1600, 1900, 2200, 2400, 3000).map(o => bpm(101, base + o, 100 + o / 100)) ++
      Seq(bpm(101, base + 1100, -5.0))) // invalid reading
  }

  def set2(landing: Path): Unit = {
    // re-delivers set1 rows (dup) + new data
    write(landing.resolve("registered_users"), "set2.csv", Seq(
      "user_id,device_id,mac_address,registration_timestamp",
      s"2,102,m2,${base - 900}.0", s"3,103,m3,${base - 800}.0"))
    write(landing.resolve("gym_logins"), "set2.csv", Seq(
      "mac_address,gym,login,logout",
      s"m1,1,$base.0,${base + 9000}.0", // logout extension (M2)
      s"m2,1,${base + 86400}.0,${base + 90000}.0"))
    write(landing.resolve("multiplex"), "set2.json",
      Seq(
        userInfo(1, "new", base + 10, "06/01/1990", "Springfield"), // dup of set1
        userInfo(1, "update", base + 100000, "06/01/1990", "Shelbyville"), // CDC update
        userInfo(3, "new", base + 100010, "12/25/2001", "North Haverbrook"),
        workout(1, 1, 1, base + 600, "start"), // dups
        workout(1, 1, 1, base + 2400, "stop"),
        workout(2, 2, 7, base + 87000, "start"),
        workout(2, 2, 7, base + 88200, "stop"),
        workout(3, 3, 9, base + 200000, "start")) ++ // unpaired
      Seq(87100L, 87600).map(o => bpm(102, base + o, 120 + o / 1000)) ++
      Seq(bpm(102, base + 87900, 0.0))) // invalid
  }

  def dateLookup(spark: SparkSession): DataFrame = {
    import spark.implicits._
    val days = (0 until 60).map { d =>
      val date = java.time.LocalDate.of(2024, 1, 1).plusDays(d)
      (java.sql.Date.valueOf(date), date.getDayOfYear / 7 + 1, 2024,
        date.getMonthValue, date.getDayOfWeek.getValue, date.getDayOfMonth,
        date.getDayOfYear, if (date.getDayOfYear % 2 == 0) "even" else "odd")
    }
    days.toDF("date", "week", "year", "month", "dayofweek", "dayofmonth",
      "dayofyear", "week_part")
  }
}
