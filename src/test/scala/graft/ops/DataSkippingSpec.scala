package graft.ops

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec
import graft.merge.LogTable

/** File-level data skipping on the table format: [[LogTable.readRange]]
  * reads only the files whose manifest stats can match, and the residual
  * filter keeps the answer exactly the full scan's. */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val rows = (0 until 4096).map(i => (i.toLong, i % 97, s"p$i"))
  private val schema = StructType(Seq(StructField("k", LongType),
    StructField("m", IntegerType), StructField("payload", StringType)))

  /** A table with stats on `k`, overwritten with `df`'s layout. */
  private def table(prefix: String, df: org.apache.spark.sql.DataFrame): LogTable = {
    val t = new LogTable(spark, tmp(prefix), schema, statsBy = Seq("k"))
    t.overwrite(df)
    t
  }

  private def clustered(nFiles: Int) =
    rows.toDF("k", "m", "payload").repartitionByRange(nFiles, $"k").sortWithinPartitions($"k")

  test("clustered layout: range scan reads a strict subset of files, same answer") {
    val t = table("skip-clustered-", clustered(16))
    val total = t.liveFileNames().size
    assert(total >= 8, s"expected a multi-file layout, got $total")

    val got = t.readRange("k", lit(1000L), lit(1255L))
    // 256 of 4096 keys = 1/16 of a range-disjoint layout: at most a few files
    val files = got.inputFiles.length
    assert(files > 0 && files <= total / 4, s"pruning too weak: $files of $total files")
    val want = rows.filter(r => r._1 >= 1000L && r._1 <= 1255L)
    assert(got.orderBy($"k").as[(Long, Int, String)].collect().toSeq == want)
  }

  test("random layout: zero pruning but identical results (superset safety)") {
    // shuffle on a hash → every file spans ~the whole key domain
    val t = table("skip-random-", rows.toDF("k", "m", "payload").repartition(8, $"m"))
    val got = t.readRange("k", lit(100L), lit(199L))
    assert(got.inputFiles.length == t.liveFileNames().size,
      "random layout cannot prune, must keep all files")
    assert(got.orderBy($"k").as[(Long, Int, String)].collect().toSeq ==
      rows.filter(r => r._1 >= 100L && r._1 <= 199L))
  }

  test("out-of-domain range: empty candidate set, empty frame, right schema") {
    val t = table("skip-empty-", clustered(4))
    val empty = t.readRange("k", lit(100000L), lit(200000L))
    assert(empty.inputFiles.isEmpty)
    assert(empty.schema == schema)
    assert(empty.count() == 0)
  }

  test("boundary straddle: files overlapping the range edge are read, residual filters") {
    val t = table("skip-straddle-", clustered(16))
    // a range that almost certainly cuts through file interiors
    val got = t.readRange("k", lit(777L), lit(1234L))
      .agg(count(lit(1)), sum($"k")).as[(Long, Long)].head()
    val want = rows.filter(r => r._1 >= 777L && r._1 <= 1234L)
    assert(got == ((want.size.toLong, want.map(_._1).sum)))
  }

  test("LogTable statsBy: stats ride overwrite/append/clone, readRange ≡ filter") {
    val root = tmp("skip-table-")
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

  test("all-null stat column: stat-less files stay in, range read finds all") {
    val withNulls = rows.toDF("k", "m", "payload")
      .withColumn("k", when($"m" === 0, $"k")) // most rows null, m==0 rows keep k
    // range partitioning sorts NULLs first → the low partitions hold ONLY
    // null-k rows: those files carry no stats on k, and a file without stats
    // is never pruned
    val t = table("skip-null-", withNulls.repartitionByRange(4, $"k"))
    val outside = t.readRange("k", lit(100000L), lit(200000L))
    assert(outside.inputFiles.nonEmpty, "the null-only files carry no stats and stay in")
    assert(outside.count() == 0)
    val got = t.readRange("k", lit(0L), lit(5000L))
    val want = rows.count(_._2 == 0)
    assert(got.count() == want.toLong,
      s"range scan must still find every non-null match, got ${got.count()} want $want")
  }
}
