package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import graft.SparkSpec

class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val rows = (0 until 4096).map(i => (i.toLong, i % 97, s"p$i"))

  test("clustered layout: range scan reads a strict subset of files, same answer") {
    val dir = tmp("skip-clustered-")
    val df = rows.toDF("k", "m", "payload")
    DataSkipping.clusteredWrite(df, "k", dir, nFiles = 16, statCols = Seq("k"))

    val total = spark.read.parquet(dir).inputFiles.length
    assert(total >= 8, s"expected a multi-file layout, got $total")

    val files = DataSkipping.prunedFiles(spark, dir, "k", lit(1000L), lit(1255L))
    // 256 of 4096 keys = 1/16 of a range-disjoint layout: at most a few files
    assert(files.nonEmpty && files.length <= total / 4,
      s"pruning too weak: ${files.length} of $total files")

    val got = DataSkipping.readRange(spark, dir, "k", lit(1000L), lit(1255L))
      .orderBy($"k").as[(Long, Int, String)].collect().toSeq
    val want = rows.filter(r => r._1 >= 1000L && r._1 <= 1255L)
    assert(got == want)
  }

  test("random layout: zero pruning but identical results (superset safety)") {
    val dir = tmp("skip-random-")
    // shuffle on a hash → every file spans ~the whole key domain
    rows.toDF("k", "m", "payload").repartition(8, $"m")
      .write.mode("overwrite").parquet(dir)
    DataSkipping.collectStats(spark, dir, Seq("k"))

    val total = spark.read.parquet(dir).inputFiles.length
    val files = DataSkipping.prunedFiles(spark, dir, "k", lit(100L), lit(199L))
    assert(files.length == total, "random layout cannot prune, must keep all files")

    val got = DataSkipping.readRange(spark, dir, "k", lit(100L), lit(199L))
      .orderBy($"k").as[(Long, Int, String)].collect().toSeq
    assert(got == rows.filter(r => r._1 >= 100L && r._1 <= 199L))
  }

  test("out-of-domain range: empty candidate set, empty frame, right schema") {
    val dir = tmp("skip-empty-")
    DataSkipping.clusteredWrite(rows.toDF("k", "m", "payload"), "k", dir, 4, Seq("k"))
    assert(DataSkipping.prunedFiles(spark, dir, "k", lit(100000L), lit(200000L)).isEmpty)
    val empty = DataSkipping.readRange(spark, dir, "k", lit(100000L), lit(200000L))
    assert(empty.columns.toSeq == Seq("k", "m", "payload"))
    assert(empty.count() == 0)
  }

  test("boundary straddle: files overlapping the range edge are read, residual filters") {
    val dir = tmp("skip-straddle-")
    DataSkipping.clusteredWrite(rows.toDF("k", "m", "payload"), "k", dir, 16, Seq("k"))
    // a range that almost certainly cuts through file interiors
    val got = DataSkipping.readRange(spark, dir, "k", lit(777L), lit(1234L))
      .agg(count(lit(1)), sum($"k")).as[(Long, Long)].head()
    val want = rows.filter(r => r._1 >= 777L && r._1 <= 1234L)
    assert(got == ((want.size.toLong, want.map(_._1).sum)))
  }

  test("LogTable statsBy: stats ride overwrite/append/clone, readRange ≡ filter") {
    import graft.merge.LogTable
    import org.apache.spark.sql.types._
    val root = tmp("skip-table-")
    val schema = StructType(Seq(StructField("k", LongType),
      StructField("m", IntegerType), StructField("payload", StringType)))
    val t = new LogTable(spark, root, schema, statsBy = Seq("k"))

    // overwrite: per-file stats land in the commit's manifest entries
    t.overwrite(rows.toDF("k", "m", "payload").repartitionByRange(8, $"k"))
    val total = t.read().inputFiles.length
    val kept = t.readRange("k", lit(100L), lit(299L)).inputFiles.length
    assert(kept > 0 && kept < total, s"$kept of $total")
    def rr(lo: Long, hi: Long) = t.readRange("k", lit(lo), lit(hi))
      .orderBy($"k").as[(Long, Int, String)].collect().toSeq
    assert(rr(100L, 299L) == rows.filter(r => r._1 >= 100 && r._1 <= 299))

    // append: stats computed for the new files only, new range findable
    val extra = (4096 until 4600).map(i => (i.toLong, i % 97, s"p$i"))
    t.append(extra.toDF("k", "m", "payload").repartitionByRange(2, $"k"))
    assert(rr(4500L, 4550L) == extra.filter(r => r._1 >= 4500 && r._1 <= 4550))
    assert(rr(100L, 299L) == rows.filter(r => r._1 >= 100 && r._1 <= 299))

    // clone: the stats ride the cloned manifest
    val c = t.cloneTo(tmp("skip-clone-") + "/t2")
    assert(c.readRange("k", lit(100L), lit(299L)).count() == 200)

    // contract: an un-statted column fails loudly
    assert(intercept[IllegalArgumentException](t.readRange("m", lit(0), lit(1)))
      .getMessage.contains("no file stats"))
  }

  test("all-null stat column: file pruned, correct for range predicates") {
    val dir = tmp("skip-null-")
    val withNulls = rows.toDF("k", "m", "payload")
      .withColumn("k", when($"m" === 0, $"k")) // most rows null, m==0 rows keep k
    // range partitioning sorts NULLs first → the low partitions hold ONLY
    // null-k rows, exercising the null-manifest-row pruning path
    withNulls.repartitionByRange(4, $"k").write.mode("overwrite").parquet(dir)
    DataSkipping.collectStats(spark, dir, Seq("k"))
    val got = DataSkipping.readRange(spark, dir, "k", lit(0L), lit(5000L))
      .agg(count(lit(1))).as[Long].head()
    val want = rows.count(_._2 == 0)
    assert(got == want.toLong, s"range scan must still find every non-null match, got $got want $want")
  }
}
