package graft.merge

import java.nio.file.{Files, Path}

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Schema evolution (additive mergeSchema analog) + CHECK-constraint
  * enforcement on [[LogTable]] write paths. */
class SchemaEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val s3 = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))
  private val s4 = s3.add(StructField("extra", IntegerType))

  private def fileState(dir: Path): Map[String, (Long, Long)] = {
    import scala.jdk.CollectionConverters._
    Files.walk(dir).iterator().asScala
      .filter(p => p.toString.endsWith(".parquet"))
      .map(p => p.toString -> ((Files.size(p), Files.getLastModifiedTime(p).toMillis)))
      .toMap
  }

  test("evolve widens reads null-filled, appends carry the column, old files untouched") {
    val root = tmp("evo-")
    val t = new LogTable(spark, root, s3)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    val before = fileState(java.nio.file.Paths.get(root, "files"))

    t.evolve(s4)
    t.append(Seq((3L, "c", 30), (4L, "d", 40)).toDF("k", "v", "extra"))

    // old rows null-filled on the evolved column; new rows carry values
    val got = t.read().orderBy($"k")
      .as[(Long, String, Option[Int])].collect().toSeq
    assert(got == Seq((1L, "a", None), (2L, "b", None), (3L, "c", Some(30)), (4L, "d", Some(40))))

    // pre-evolution files byte-identical (size + mtime): no rewrite happened
    val after = fileState(java.nio.file.Paths.get(root, "files"))
    before.foreach { case (f, st) =>
      assert(after.get(f).contains(st), s"pre-evolution file rewritten: $f")
    }

    // the pre-evolution version still reads with the schema it had
    assert(t.readVersion(1).columns.toSeq == Seq("k", "v"))
  }

  test("evolution rules: drops, renames, and type changes fail loudly") {
    val root = tmp("evo-rules-")
    val t = new LogTable(spark, root, s4)
    val dropped = StructType(Seq(StructField("k", LongType)))
    val retyped = StructType(Seq(
      StructField("k", IntegerType), StructField("v", StringType),
      StructField("extra", IntegerType)))
    assert(intercept[IllegalArgumentException](t.evolve(dropped))
      .getMessage.contains("additive-only"))
    assert(intercept[IllegalArgumentException](t.evolve(retyped))
      .getMessage.contains("cannot change types"))
  }

  test("evolved table still merges: old rows join null-filled") {
    val root = tmp("evo-merge-")
    val t = new LogTable(spark, root, s3)
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    t.evolve(s4)
    t.merge(Seq((2L, "B", 20), (3L, "c", 30)).toDF("k", "v", "extra"))(
      (cur, batch) => Merge.scd1(cur, batch, Seq("k")))
    val got = t.read().orderBy($"k").as[(Long, String, Option[Int])].collect().toSeq
    assert(got == Seq((1L, "a", None), (2L, "B", Some(20)), (3L, "c", Some(30))))
  }

  test("CHECK constraints: violating writes fail loudly naming the constraint, table untouched") {
    val root = tmp("check-")
    val t = new LogTable(spark, root, s3)
    t.addConstraint("k_positive", "k > 0")
    t.addConstraint("v_not_null", "v IS NOT NULL")
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))

    def messages(e: Throwable): Seq[String] =
      if (e == null) Nil else Option(e.getMessage).toSeq ++ messages(e.getCause)

    val neg = intercept[Exception] {
      t.append(Seq((-5L, "bad")).toDF("k", "v"))
    }
    assert(messages(neg).exists(_.contains("k_positive")), neg.getMessage)

    val nul = intercept[Exception] {
      t.overwrite(Seq((2L, null.asInstanceOf[String])).toDF("k", "v"))
    }
    assert(messages(nul).exists(_.contains("v_not_null")), nul.getMessage)

    // failed writes left the live table exactly as it was
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }
}
