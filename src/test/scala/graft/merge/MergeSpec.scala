package graft.merge

import org.apache.spark.sql.functions._
import graft.SparkSpec

class MergeSpec extends SparkSpec {
  import spark.implicits._

  test("M1 insertOnly is idempotent") {
    val target = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val batch = Seq((2, "B"), (3, "c")).toDF("k", "v")
    val once = Merge.insertOnly(target, batch, Seq("k"))
    assert(once.orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b"), (3, "c")))
    val twice = Merge.insertOnly(once, batch, Seq("k"))
    assert(twice.count() == 3)
  }

  test("M4 scd1: batch wins on collision") {
    val target = Seq((1, "a"), (2, "b")).toDF("k", "v")
    val batch = Seq((2, "B"), (3, "c")).toDF("k", "v")
    val got = Merge.scd1(target, batch, Seq("k")).orderBy("k").as[(Int, String)].collect()
    assert(got.toSeq == Seq((1, "a"), (2, "B"), (3, "c")))
  }

  test("M3 cdcUpsert honors the recency guard") {
    val target = Seq((1, "old", 10L), (2, "keep", 20L)).toDF("k", "v", "ts")
    val batch = Seq((1, "new", 15L), (2, "stale", 5L), (3, "ins", 1L)).toDF("k", "v", "ts")
    val got = Merge.cdcUpsert(target, batch, Seq("k"), "ts")
      .orderBy("k").as[(Int, String, Long)].collect()
    assert(got.toSeq == Seq((1, "new", 15L), (2, "keep", 20L), (3, "ins", 1L)))
  }

  test("M2 conditionalUpdate: guarded single-column update + insert") {
    val target = Seq((1, 100L, 150L), (2, 100L, 300L)).toDF("k", "login", "logout")
    val batch = Seq((1, 100L, 200L), (2, 100L, 250L), (3, 100L, 120L))
      .toDF("k", "login", "logout")
    val got = Merge.conditionalUpdate(target, batch, Seq("k"), "logout",
        (t, b) => b("logout") > t("login") && b("logout") > t("logout"))
      .orderBy("k").as[(Int, Long, Long)].collect()
    // k=1 extended, k=2 guard fails (250 < 300), k=3 inserted
    assert(got.toSeq == Seq((1, 100L, 200L), (2, 100L, 300L), (3, 100L, 120L)))
  }

  test("M5 upsertColumns preserves non-listed target columns") {
    val target = Seq((1, 10.0, "g1"), (2, 20.0, "g1")).toDF("k", "stat", "gen")
    val batch = Seq((2, 99.0, "g2"), (3, 30.0, "g2")).toDF("k", "stat", "gen")
    val got = Merge.upsertColumns(target, batch, Seq("k"), Seq("stat"))
      .orderBy("k").as[(Int, Double, String)].collect()
    // matched row keeps gen=g1 but takes stat=99; inserted row carries g2
    assert(got.toSeq == Seq((1, 10.0, "g1"), (2, 99.0, "g1"), (3, 30.0, "g2")))
  }

  test("gym_logs upsert collapses same-batch logout variants to one row") {
    val dir = java.nio.file.Files.createTempDirectory("gym-").toString
    val t = new LogTable(spark, dir, graft.streaming.Schemas.gymLogs)
    def ts(s: Long) = new java.sql.Timestamp(s * 1000)
    val batch = Seq(
      ("m1", 1L, ts(100), ts(200)),
      ("m1", 1L, ts(100), ts(900)), // re-delivered extension in SAME batch
      ("m2", 1L, ts(100), ts(300)))
      .toDF("mac_address", "gym", "login", "logout")
    graft.streaming.Silver.upsertGymLogs(t)(batch)
    val got = t.read().orderBy("mac_address")
      .select($"mac_address", $"logout".cast("long")).as[(String, Long)].collect()
    assert(got.toSeq == Seq(("m1", 900L), ("m2", 300L)))
  }

  test("M6 deleteMatched: unguarded erases all matched keys; guarded erases " +
      "only guard-passing rows; idempotent; insertOnly restores") {
    val target = Seq((1, "a", 10L), (2, "b", 20L), (3, "c", 30L)).toDF("k", "v", "ts")
    val req = Seq((2, "x", 0L), (3, "x", 0L)).toDF("k", "v", "ts")
    val plain = Merge.deleteMatched(target, req, Seq("k"))
    assert(plain.orderBy("k").as[(Int, String, Long)].collect().toSeq ==
      Seq((1, "a", 10L)))
    // guarded: delete matched keys only where the target row is old (ts < 25)
    val guarded = Merge.deleteMatched(target, req, Seq("k"),
      Some((t, _) => t("ts") < 25L))
    assert(guarded.orderBy("k").as[(Int, String, Long)].collect().toSeq ==
      Seq((1, "a", 10L), (3, "c", 30L)))
    // idempotent: re-applying the same deletion batch is a no-op
    val again = Merge.deleteMatched(guarded, req, Seq("k"), Some((t, _) => t("ts") < 25L))
    assert(again.orderBy("k").collect().toSeq == guarded.orderBy("k").collect().toSeq)
    // composition: M1 re-insert after erasure restores the deleted key
    val restored = Merge.insertOnly(plain, Seq((2, "b2", 21L)).toDF("k", "v", "ts"), Seq("k"))
    assert(restored.orderBy("k").as[(Int, String, Long)].collect().toSeq ==
      Seq((1, "a", 10L), (2, "b2", 21L)))
  }

  test("M1 insertOnly is null-key idempotent") {
    val target = Seq((Some(1), "a")).toDF("k", "v")
    val batch = Seq((Option.empty[Int], "n"), (Some(2), "b")).toDF("k", "v")
    val once = Merge.insertOnly(target, batch, Seq("k"))
    assert(once.count() == 3)
    val twice = Merge.insertOnly(once, batch, Seq("k"))
    assert(twice.count() == 3) // null-keyed row not re-inserted
  }

  test("LogTable overwrite + merge round trip") {
    val dir = java.nio.file.Files.createTempDirectory("pt-test-").toString
    val schema = org.apache.spark.sql.types.StructType.fromDDL("k int, v string")
    val t = new LogTable(spark, dir, schema)
    assert(t.read().count() == 0)
    t.overwrite(Seq((1, "a")).toDF("k", "v"))
    assert(t.read().count() == 1)
    t.merge(Seq((2, "b")).toDF("k", "v"))((cur, b) => Merge.insertOnly(cur, b, Seq("k")))
    assert(t.read().orderBy("k").as[(Int, String)].collect().toSeq ==
      Seq((1, "a"), (2, "b")))
  }
}
