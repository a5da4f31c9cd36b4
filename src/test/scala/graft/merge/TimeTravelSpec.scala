package graft.merge

import java.nio.file.Files
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.SparkSpec
import graft.ops.IncrementalView

/** Time travel: the Delta `VERSION AS OF` analog on a [[LogTable]]. Pins:
  * every commit is a version, readVersion returns the HISTORICAL state (not
  * current), retention ([[LogTable.vacuum]]) prunes oldest-first, version
  * identity survives a reopen (it lives in the log), and the keyed change
  * feed reports each commit's exact delta. */
class TimeTravelSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType().add("k", LongType).add("v", StringType)

  private def table(): (LogTable, String) = {
    val dir = Files.createTempDirectory("graft-tt-").toString
    (new LogTable(spark, dir, schema), dir)
  }

  test("readVersion returns each retained historical state exactly") {
    val (t, _) = table()
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))                    // v1
    t.merge(Seq((2L, "b")).toDF("k", "v"))(                       // v2
      (cur, b) => Merge.insertOnly(cur, b, Seq("k")))
    t.merge(Seq((1L, "A"), (3L, "c")).toDF("k", "v"))(            // v3
      (cur, b) => Merge.scd1(cur, b, Seq("k")))
    assert(t.history() == Seq(1L, 2L, 3L))
    assert(t.currentVersion == 3L)
    def state(v: Long) = t.readVersion(v).orderBy("k")
      .as[(Long, String)].collect().toSeq
    assert(state(1) == Seq((1L, "a")))
    assert(state(2) == Seq((1L, "a"), (2L, "b")))
    assert(state(3) == Seq((1L, "A"), (2L, "b"), (3L, "c")))
    // never-cut and pruned versions fail loudly
    val e = intercept[IllegalArgumentException](t.readVersion(99))
    assert(e.getMessage.contains("readable versions"))
  }

  test("retention: vacuum(retainLast) keeps only the newest versions") {
    val (t, _) = table()
    (1 to 5).foreach(i => t.overwrite(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    t.vacuum(retainLast = 3)
    // live = 5; retained = {3, 4} (1 and 2 pruned oldest-first)
    assert(t.history() == Seq(3L, 4L, 5L))
    intercept[IllegalArgumentException](t.readVersion(1))
    assert(t.readVersion(4).as[(Long, String)].collect().toSeq ==
      Seq((4L, "v4")))
  }

  test("version identity survives reopening the table directory") {
    val (t, dir) = table()
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    t.overwrite(Seq((1L, "b")).toDF("k", "v"))
    val reopened = new LogTable(spark, dir, schema)
    assert(reopened.currentVersion == 2L)
    assert(reopened.history() == Seq(1L, 2L))
    // version numbering resumes past the log: the next write must not
    // collide with version 1 or 2
    reopened.overwrite(Seq((1L, "c")).toDF("k", "v"))
    assert(reopened.history() == Seq(1L, 2L, 3L))
    assert(reopened.readVersion(1).as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
  }

  test("changes() reports the exact row-level delta of each commit") {
    val (t, _) = table()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))         // v1
    t.merge(Seq((1L, "A"), (3L, "c")).toDF("k", "v"))(            // v2: update 1, insert 3
      (cur, b) => Merge.scd1(cur, b, Seq("k")))
    t.overwrite(t.read().filter($"k" =!= 2L))                     // v3: delete 2
    def changes(from: Long, to: Long) = IncrementalView.keyedChanges(t, from, to, Seq("k"))
    val ch = changes(1, 3).as[(Long, String, String, Long)].collect().toSet
    assert(ch == Set(
      (1L, "a", "update_preimage", 2L),
      (1L, "A", "update_postimage", 2L),
      (3L, "c", "insert", 2L),
      (2L, "b", "delete", 3L)))
    // unchanged rows emit nothing; a single-pair slice sees only its commit
    assert(changes(2, 3).as[(Long, String, String, Long)]
      .collect().toSet == Set((2L, "b", "delete", 3L)))
    // endpoints must be readable and ordered
    intercept[IllegalArgumentException](changes(1, 99))
    intercept[IllegalArgumentException](changes(3, 1))
  }

  test("restore rolls FORWARD: new version with the old content, history " +
      "intact, undoable; unversioned/unknown targets fail loudly") {
    val (t, _) = table()
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))                    // v1
    t.merge(Seq((2L, "b")).toDF("k", "v"))(                       // v2
      (cur, b) => Merge.insertOnly(cur, b, Seq("k")))
    t.restore(1)                                                  // v3 ≡ v1
    assert(t.history() == Seq(1L, 2L, 3L))
    assert(t.currentVersion == 3L)
    assert(t.read().orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a")))
    // the rolled-back version stays readable (forensics)
    assert(t.readVersion(2).orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // restore is itself undoable: restore(2) brings the merged state back
    t.restore(2)                                                  // v4 ≡ v2
    assert(t.read().orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
    // unknown version fails loudly
    intercept[IllegalArgumentException](t.restore(99))
    // a never-written table has no version to restore
    val (u, _) = table()
    intercept[IllegalArgumentException](u.restore(1))
  }
}
