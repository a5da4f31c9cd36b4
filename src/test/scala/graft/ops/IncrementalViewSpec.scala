package graft.ops

import graft.SparkSpec
import graft.merge.{LogTable, Merge}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StringType, StructType}

/** [[IncrementalView.applyDelta]] — maintained aggregate ≡ recompute over the
  * new snapshot, exactly (integer domain). Pins the IVM edges: cross-group
  * row migration, group birth, group death at count 0, and the loud failure
  * on a foreign change type. */
class IncrementalViewSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType()
    .add("k", LongType).add("g", StringType).add("x", LongType)

  private def agg(df: org.apache.spark.sql.DataFrame) =
    df.groupBy("g").agg(count(lit(1)).as("n"), sum("x").as("x"))

  test("delta-maintained aggregate equals recompute through migration, birth, and death") {
    val dir = java.nio.file.Files.createTempDirectory("graft-ivm-").toString
    val t = new LogTable(spark, dir, schema)
    t.overwrite(Seq((1L, "a", 10L), (2L, "a", 20L), (3L, "b", 5L)).toDF("k", "g", "x")) // v1
    // v2: update 1 a→b (migration), insert 4 into new group c (birth)
    t.merge(Seq((1L, "b", 11L), (4L, "c", 7L)).toDF("k", "g", "x"))(
      (cur, b) => Merge.scd1(cur, b, Seq("k")))
    // v3: delete 4 — group c dies (count back to 0)
    t.overwrite(t.read().filter($"k" =!= 4L))
    val prior = agg(t.readVersion(1))
    val maintained = IncrementalView.applyDelta(
      prior, IncrementalView.keyedChanges(t, 1, 3, Seq("k")), Seq("g"), Seq("x"))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    val recomputed = agg(t.readVersion(3))
      .orderBy("g").as[(String, Long, Long)].collect().toSeq
    assert(maintained == recomputed)
    assert(maintained == Seq(("a", 1L, 20L), ("b", 2L, 16L))) // c absent: died at 0
  }

  test("empty delta is the identity; foreign change type fails loudly") {
    val prior = Seq(("a", 2L, 30L)).toDF("g", "n", "x")
    val none = Seq.empty[(String, Long, String)].toDF("g", "x", "_change_type")
    assert(IncrementalView.applyDelta(prior, none, Seq("g"), Seq("x"))
      .as[(String, Long, Long)].collect().toSeq == Seq(("a", 2L, 30L)))
    val bad = Seq(("a", 1L, "upsert")).toDF("g", "x", "_change_type")
    val e = intercept[Exception](
      IncrementalView.applyDelta(prior, bad, Seq("g"), Seq("x")).collect())
    assert(e.getMessage.contains("unknown _change_type") ||
      Option(e.getCause).exists(_.getMessage.contains("unknown _change_type")))
  }
}
