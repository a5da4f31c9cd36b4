package perfbench

import java.io.{BufferedWriter, OutputStreamWriter}
import java.nio.file.{Files, Path}
import java.util.SplittableRandom

import scala.collection.mutable.ArrayBuffer

/** Seeded Fitbit-shaped landing sets for the medallion pipeline, with the
  * count matrix each set must produce computed here in plain Scala.
  *
  * Set k brings a cohort of `cohort` new users (one device and one gym visit
  * each, two start/stop workouts inside the visit) and `bpmPerSet` heart-rate
  * readings at 1 Hz spread over the cohort's devices with a skewed per-device
  * share; ~1% of readings are invalid (heartrate <= 0). Every later set also
  *  - re-delivers a third of the previous set's lines (exact duplicates),
  *  - updates the profile of a fifth of a cohort's worth of earlier users
  *    (a CDC 'update' with a newer timestamp and a new city), and
  *  - extends the logout of a tenth of the previous cohort's gym visits
  *    (the M2 merge).
  * Files land as CSV under `registered_users` and `gym_logins` and as JSON
  * under `multiplex` (Kafka envelopes with `user_info`, `workout` and `bpm`
  * topics), the layout `graft.streaming.Medallion` reads.
  */
final class FitbitSets(seed: Long, val cohort: Int, val bpmPerSet: Int) {
  import FitbitSets._

  /** Expected live table sizes (and two content checksums) after a set. */
  final case class Truth(users: Long, gymLogs: Long, userProfile: Long, workouts: Long,
                         heartRate: Long, completedWorkouts: Long, workoutBpm: Long,
                         userBins: Long, summary: Long, logoutSum: Long, movedProfiles: Long) {
    def counts: Seq[(String, Long)] = Seq(
      "users" -> users, "gym_logs" -> gymLogs, "user_profile" -> userProfile,
      "workouts" -> workouts, "heart_rate" -> heartRate,
      "completed_workouts" -> completedWorkouts, "workout_bpm" -> workoutBpm,
      "user_bins" -> userBins, "workout_bpm_summary" -> summary,
      "gym_logs.logout_sum" -> logoutSum, "user_profile.moved" -> movedProfiles)
  }

  /** One generated set: its files (in a staging directory), how many input
    * lines it lands, and the truth after it. */
  final case class SetFiles(index: Int, files: Seq[(String, Path)], landedRows: Long, truth: Truth)

  private final case class Gym(mac: String, gym: Int, login: Long, logout: Long)

  private var prevLines: Map[String, IndexedSeq[String]] = Map.empty
  private var prevGyms: Seq[Gym] = Nil
  private val dobOf = scala.collection.mutable.Map.empty[Long, String]
  private val logoutOf = scala.collection.mutable.Map.empty[(String, Long), Long]
  private val moved = scala.collection.mutable.Set.empty[Long]
  private var workoutBpm = 0L
  private var summary = 0L
  private var generated = 0

  /** Generate the next set into `staging/set<k>/`. Sets must be generated
    * in order: each one re-delivers and updates the one before. */
  def next(staging: Path): SetFiles = {
    generated += 1
    val k = generated
    val rng = new SplittableRandom(seed * 1000003L + k)
    val day0 = Base + (k - 1) * 86400L
    val firstUid = (k - 1).toLong * cohort + 1
    val users = ArrayBuffer.empty[String]
    val gyms = ArrayBuffer.empty[String]
    val mux = ArrayBuffer.empty[String]
    val gymRows = ArrayBuffer.empty[Gym]
    var offset = k * 100000000L

    def envelope(topic: String, payload: String, tsSec: Long): String = {
      offset += 1
      s"""{"key":"$topic-$offset","value":"${payload.replace("\"", "\\\"")}","topic":"$topic","partition":0,"offset":$offset,"timestamp":${tsSec * 1000}}"""
    }

    // devices' reading counts: skewed shares of bpmPerSet
    val ranks = shuffled(rng, cohort)
    val weights = ranks.map(r => 1.0 / math.pow(r + 1, 0.8))
    val wsum = weights.sum
    val counts = weights.map(w => (bpmPerSet * w / wsum).toInt).toArray
    var rest = bpmPerSet - counts.sum
    var i = 0
    while (rest > 0) { counts(i % cohort) += 1; rest -= 1; i += 1 }

    for (j <- 0 until cohort) {
      val uid = firstUid + j
      val dev = 100000L + uid
      val mac = s"m$uid"
      val reg = day0 - 7200 + j
      users += s"$uid,$dev,$mac,$reg.0"
      val login = day0 + rng.nextInt(4 * 3600)
      val s1 = login + 600 + rng.nextInt(600)
      val e1 = s1 + 1200 + rng.nextInt(1800)
      val s2 = e1 + 600 + rng.nextInt(600)
      val e2 = s2 + 1200 + rng.nextInt(1800)
      val logout = e2 + 600 + rng.nextInt(1200)
      val gym = 1 + (uid % 5).toInt
      gyms += s"$mac,$gym,$login.0,$logout.0"
      gymRows += Gym(mac, gym, login, logout)
      logoutOf((mac, login)) = logout
      val dob = f"${1 + rng.nextInt(12)}%02d/${1 + rng.nextInt(28)}%02d/${1950 + rng.nextInt(50)}"
      dobOf(uid) = dob
      mux += envelope("user_info", profile(uid, "new", reg + 10, dob, s"city${rng.nextInt(50)}"), reg + 10)
      val sessions = Seq((1, k * 10 + 1, s1, e1), (2, k * 10 + 2, s2, e2))
      sessions.foreach { case (wid, sid, s, e) =>
        mux += envelope("workout",
          s"""{"user_id":$uid,"workout_id":$wid,"timestamp":$s.0,"session_id":$sid,"action":"start"}""", s)
        mux += envelope("workout",
          s"""{"user_id":$uid,"workout_id":$wid,"timestamp":$e.0,"session_id":$sid,"action":"stop"}""", e)
      }
      // 1 Hz readings from shortly before the visit
      val t0 = login - rng.nextInt(1800)
      val inSession = Array(0L, 0L)
      var n = 0
      while (n < counts(j)) {
        val t = t0 + n
        val invalid = rng.nextInt(100) == 0
        val hr = if (invalid) (if (rng.nextBoolean()) "0.0" else "-1.0")
                 else s"${50 + rng.nextInt(130)}.${rng.nextInt(10)}"
        mux += envelope("bpm", s"""{"device_id":$dev,"time":$t.0,"heartrate":$hr}""", t)
        if (!invalid) {
          if (t > s1 && t <= e1) inSession(0) += 1
          if (t > s2 && t <= e2) inSession(1) += 1
        }
        n += 1
      }
      workoutBpm += inSession.sum
      summary += inSession.count(_ > 0)
    }

    // later sets: CDC profile updates, logout extensions, re-delivery
    if (k > 1) {
      val earlier = firstUid - 1
      val picks = shuffled(rng, earlier.toInt).take(cohort / 5).map(_ + 1L)
      picks.zipWithIndex.foreach { case (uid, n) =>
        val ts = day0 + 5 * 3600 + n
        mux += envelope("user_info", profile(uid, "update", ts, dobOf(uid), s"moved$k-$uid"), ts)
        moved += uid
      }
      shuffled(rng, prevGyms.size).take(cohort / 10).map(prevGyms).foreach { g =>
        val later = g.logout + 1800
        gyms += s"${g.mac},${g.gym},${g.login}.0,$later.0"
        logoutOf((g.mac, g.login)) = math.max(logoutOf((g.mac, g.login)), later)
      }
    }
    val fresh = Map("registered_users" -> users.toIndexedSeq, "gym_logins" -> gyms.toIndexedSeq,
      "multiplex" -> mux.toIndexedSeq)
    val redelivered = prevLines.map { case (dir, lines) =>
      dir -> shuffled(rng, lines.size).take(lines.size / 3).sorted.map(lines)
    }
    prevLines = fresh
    prevGyms = gymRows.toSeq

    val dir = Files.createDirectories(staging.resolve(s"set$k"))
    val files = ArrayBuffer.empty[(String, Path)]
    var landed = 0L
    def write(sub: String, name: String, lines: Seq[String]): Unit = if (lines.nonEmpty) {
      val p = dir.resolve(s"$sub-$name")
      val w = new BufferedWriter(new OutputStreamWriter(Files.newOutputStream(p), "UTF-8"), 1 << 16)
      try {
        Headers.get(sub).foreach { h => w.write(h); w.write('\n') }
        lines.foreach { l => w.write(l); w.write('\n') }
      } finally w.close()
      files += (sub -> p)
      landed += lines.size
    }
    Seq("registered_users", "gym_logins", "multiplex").foreach { sub =>
      val ext = if (sub == "multiplex") "json" else "csv"
      write(sub, s"set$k.$ext", fresh(sub))
      write(sub, s"redelivery$k.$ext", redelivered.getOrElse(sub, Nil))
    }

    val n = k.toLong * cohort
    SetFiles(k, files.toSeq, landed, Truth(
      users = n, gymLogs = n, userProfile = n, workouts = 4 * n,
      heartRate = k.toLong * bpmPerSet, completedWorkouts = 2 * n,
      workoutBpm = workoutBpm, userBins = n, summary = summary,
      logoutSum = logoutOf.values.sum, movedProfiles = moved.size.toLong))
  }
}

object FitbitSets {
  /** 2024-01-01 06:00:00 UTC; set k covers day k of January. */
  val Base = 1704088800L

  private val Headers = Map(
    "registered_users" -> "user_id,device_id,mac_address,registration_timestamp",
    "gym_logins" -> "mac_address,gym,login,logout")

  private def profile(uid: Long, kind: String, ts: Long, dob: String, city: String): String =
    s"""{"user_id":$uid,"update_type":"$kind","timestamp":$ts.0,"dob":"$dob","sex":"F","gender":"F","first_name":"fn$uid","last_name":"ln$uid","address":{"street_address":"$uid Main St","city":"$city","state":"IL","zip":62704}}"""

  /** A seeded permutation of 0 until n. */
  def shuffled(rng: SplittableRandom, n: Int): IndexedSeq[Int] = {
    val a = Array.tabulate(n)(identity)
    var i = n - 1
    while (i > 0) {
      val j = rng.nextInt(i + 1)
      val t = a(i); a(i) = a(j); a(j) = t
      i -= 1
    }
    a.toIndexedSeq
  }
}
