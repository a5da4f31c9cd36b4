package graft.merge

import java.nio.file.{Files, Path => NioPath, Paths, StandardWatchEventKinds}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.hadoop.fs.{LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.spark.JobCounter
import org.apache.spark.sql.{DataFrame, WriterProbe}
import org.apache.spark.sql.execution.SortExec
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.io.NioRawLocalFileSystem

/** Raw local file system that records, under [[CountingRawFs.root]], every
  * directory it creates and every rename. */
class CountingRawFs extends NioRawLocalFileSystem {
  private def under(p: Path) = CountingRawFs.root.exists(r => pathToFile(p).toPath.startsWith(r))
  private def made(p: Path)(mk: => Boolean): Boolean = {
    val existed = pathToFile(p).exists()
    val ok = mk
    if (under(p)) {
      CountingRawFs.mkdirCalls.incrementAndGet()
      if (ok && !existed) CountingRawFs.events.add(s"mkdir $p")
    }
    ok
  }
  override def mkdirs(p: Path): Boolean = made(p)(super.mkdirs(p))
  override def mkdirs(p: Path, perm: FsPermission): Boolean = made(p)(super.mkdirs(p, perm))
  override def rename(src: Path, dst: Path): Boolean = {
    if (under(src) || under(dst)) CountingRawFs.events.add(s"rename $src -> $dst")
    super.rename(src, dst)
  }
}

object CountingRawFs {
  @volatile var root: Option[NioPath] = None
  val events = new ConcurrentLinkedQueue[String]()
  val mkdirCalls = new java.util.concurrent.atomic.AtomicInteger
}

/** `file:` over [[CountingRawFs]], registered for one block of a spec. */
class CountingLocalFs extends LocalFileSystem(new CountingRawFs)

/** Each `LogTable` file is written once, under its final name, with its
  * stats taken by the write task ([[LogFiles]]): the stats equal Spark's
  * own `min`/`max(c).cast("string")` for every type, nothing is staged or
  * renamed, a failed write leaves no version, and a commit pays no job to
  * read its own output back. */
class LogFilesSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = Files.createTempDirectory(prefix).toString
  private val mapper = new ObjectMapper()

  /** Every file entry the retained manifests add, name → (rows, stats). */
  private def added(root: String): Map[String, (Long, Map[String, (String, String)])] =
    LogTable.listDir(Paths.get(root, "_log"))
      .filter(_.getFileName.toString.matches("""\d{20}\.json"""))
      .flatMap(p => mapper.readTree(Files.readAllBytes(p)).get("add").elements().asScala)
      .map { f =>
        val stats = Option(f.get("stats")).map(_.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asText(), e.getValue.get(1).asText())
        }.toMap).getOrElse(Map.empty[String, (String, String)])
        f.get("name").asText() -> (Option(f.get("rows")).map(_.asLong()).getOrElse(-1L), stats)
      }.toMap

  /** Every data and DV file the retained manifests reference. */
  private def referenced(root: String): Set[String] =
    added(root).keySet ++ LogTable.listDir(Paths.get(root, "_log"))
      .filter(_.getFileName.toString.matches("""\d{20}\.json"""))
      .flatMap(p => mapper.readTree(Files.readAllBytes(p)).get("dvAdd").elements().asScala)
      .map(_.asText())

  private def filesIn(root: String): Set[String] =
    LogTable.listDir(Paths.get(root, "files")).map(_.getFileName.toString).toSet

  private val typed = StructType.fromDDL(
    "k bigint, by tinyint, sh smallint, i int, f float, d double, s string, " +
      "b boolean, dt date, tntz timestamp_ntz, ts timestamp, dec decimal(12,3), nl bigint")

  private def typedRows: DataFrame = spark.range(0, 300).select(
    col("id").as("k"),
    (col("id") % 120 - 60).cast("tinyint").as("by"),
    (col("id") * 37 % 1000 - 500).cast("smallint").as("sh"),
    when(col("id") % 11 =!= 0, (col("id") * 7919 % 100003).cast("int")).as("i"),
    (col("id") / 7.0 - 9.5).cast("float").as("f"),
    (col("id") * 1.1 - 3.3).as("d"),
    concat(lit("s"), (col("id") * 31 % 97).cast("string")).as("s"),
    (col("id") % 3 === 0).as("b"),
    date_add(lit("2000-01-01").cast("date"), (col("id") * 13 % 500).cast("int")).as("dt"),
    timestamp_micros(col("id") * 123456789L).cast("timestamp_ntz").as("tntz"),
    timestamp_micros(col("id") * 987654321L + 17).as("ts"),
    (col("id") * 12.345 - 100).cast("decimal(12,3)").as("dec"),
    lit(null).cast("bigint").as("nl"))

  test("manifest stats equal min/max(c).cast(string) per file, every type") {
    // Spark 4.1 writes LTZ timestamps as INT96, whose footers carry no stats
    assert(spark.conf.get("spark.sql.parquet.outputTimestampType") == "INT96")
    val cols = typed.fieldNames.toSeq
    Seq(None, Some((Seq("k"), 4))).foreach { bucketBy =>
      val root = tmp("lf-stats-")
      val t = new LogTable(spark, root, typed, bucketBy = bucketBy, statsBy = cols,
        rowTracking = true)
      t.overwrite(typedRows.repartition(3))
      val files = added(root)
      assert(files.size >= 3, s"expected a multi-file layout, got ${files.size}")
      files.foreach { case (name, (rows, stats)) =>
        val aggs = cols.flatMap(c => Seq(min(col(c)).cast("string"), max(col(c)).cast("string")))
        val r = spark.read.schema(typed).parquet(Paths.get(root, "files", name).toString)
          .agg(count(lit(1)), aggs: _*).head()
        assert(rows == r.getLong(0), s"$name: rows")
        val want = cols.zipWithIndex.flatMap { case (c, i) =>
          Option(r.getString(1 + 2 * i)).map(lo => c -> (lo, r.getString(2 + 2 * i)))
        }.toMap
        assert(stats == want, s"$name (bucketBy = $bucketBy)")
        assert(!stats.contains("nl"), "an all-null column carries no stats")
        Seq("ts", "dec").foreach(c => assert(stats.contains(c), s"no stats on $c"))
      }
    }
  }

  test("NaN-bearing and all-null stat columns: readRange ≡ filter") {
    val s = StructType.fromDDL("k bigint, d double, f float, nl double")
    val t = new LogTable(spark, tmp("lf-nan-"), s, statsBy = Seq("d", "f", "nl"))
    t.overwrite(spark.range(0, 200).select(col("id").as("k"),
      when(col("id") % 50 === 7, lit(Double.NaN)).otherwise(col("id") * 0.5 - 20).as("d"),
      when(col("id") % 40 === 3, lit(Float.NaN)).otherwise(col("id") / 4.0)
        .cast("float").as("f"),
      lit(null).cast("double").as("nl")).repartitionByRange(5, col("k")))
    val bounds = Seq((-1e9, 1e9), (Double.NaN, Double.NaN), (0.0, Double.NaN),
      (Double.NegativeInfinity, 0.0), (30.0, 31.0))
    for (c <- Seq("d", "f", "nl"); (lo, hi) <- bounds) {
      val got = t.readRange(c, lit(lo), lit(hi)).orderBy("k").collect().toSeq
      val want = t.read().filter(col(c) >= lit(lo).cast(s(c).dataType) &&
        col(c) <= lit(hi).cast(s(c).dataType)).orderBy("k").collect().toSeq
      assert(got.map(_.toString) == want.map(_.toString), s"$c in [$lo, $hi]")
    }
  }

  test("bucketed append, merge, compact, deleteWhere: no dir made, no rename") {
    val root = Paths.get(tmp("lf-hygiene-"))
    val t = new LogTable(spark, root.toString, StructType.fromDDL("k bigint, ts timestamp, v bigint"),
      bucketBy = Some((Seq("k"), 4)), statsBy = Seq("ts"))
    def batch(from: Long, n: Long) = spark.range(from, from + n)
      .select((col("id") % 10).as("k"), timestamp_seconds(col("id")).as("ts"), col("id").as("v"))
    val watch = root.getFileSystem.newWatchService()
    root.register(watch, StandardWatchEventKinds.ENTRY_CREATE)
    CountingRawFs.events.clear(); CountingRawFs.mkdirCalls.set(0)
    CountingRawFs.root = Some(root)
    spark.conf.set("fs.file.impl", classOf[CountingLocalFs].getName)
    spark.conf.set("fs.file.impl.disable.cache", "true")
    try {
      t.append(batch(0, 100))
      t.append(batch(100, 100))
      t.merge(batch(50, 100))((cur, b) => Merge.scd1(cur, b, Seq("k", "v")))
      assert(t.deleteWhere(col("v") < 20) == 20L)
      assert(t.compact() > 0)
    } finally {
      spark.conf.unset("fs.file.impl"); spark.conf.unset("fs.file.impl.disable.cache")
      CountingRawFs.root = None
    }
    assert(CountingRawFs.mkdirCalls.get > 0, "the counting file system saw no write")
    assert(CountingRawFs.events.isEmpty, CountingRawFs.events.asScala.mkString("\n"))
    val created = Option(watch.poll()).toSeq.flatMap(_.pollEvents().asScala.map(_.context()))
    watch.close()
    assert(created.isEmpty, s"created under the table root: $created")
    assert(LogTable.listDir(root).map(_.getFileName.toString).toSet == Set("_log", "files"))
    assert(filesIn(root.toString) == referenced(root.toString))
    assert(t.read().count() == 180L)
  }

  test("a write that fails mid-job cuts no version; vacuum leaves the live files") {
    val root = tmp("lf-fail-")
    val t = new LogTable(spark, root, StructType.fromDDL("k bigint, v bigint"))
    t.append(spark.range(0, 100).select(col("id").as("k"), col("id").as("v")))
    t.addConstraint("v_nonneg", "v >= 0")
    val before = t.currentVersion
    // eight tasks; only the last holds the violating row, so others commit
    intercept[Exception](t.append(spark.range(0, 800, 1, 8)
      .select(col("id").as("k"), when(col("id") === 799, -1L).otherwise(col("id")).as("v"))))
    assert(t.currentVersion == before)
    t.vacuum()
    assert(filesIn(root) == t.liveFileNames().toSet)
    assert(t.read().count() == 100L)
  }

  /** `n` heart-rate rows from id `from`, 100 devices, revision `rev`. */
  private def frame(from: Long, n: Long, rev: Long) = spark.range(from, from + n).select(
    (col("id") % 100).as("device_id"), timestamp_seconds(col("id")).as("time"),
    (col("id") % 90 + 50).cast("double").as("heartrate"), lit(rev).as("rev"))

  test("a bucketed merge with an LTZ statsBy runs 5 Spark jobs") {
    val t = new LogTable(spark, tmp("lf-jobs-"),
      StructType.fromDDL("device_id bigint, time timestamp, heartrate double, rev bigint"),
      bucketBy = Some((Seq("device_id"), 16)), statsBy = Seq("time"))
    t.append(frame(0, 20000, 0))
    val (_, jobs) = JobCounter.jobsIn(spark.sparkContext) {
      t.merge(frame(19600, 500, 1))((cur, b) =>
        Merge.cdcUpsert(cur, b, Seq("device_id", "time"), "rev"))
    }
    // the probe (one job, no shuffle; it also fills the batch's cache) and
    // the write's own stages only: reading the stats back from the written
    // files with an aggregate adds two jobs (its shuffle and its result),
    // and a probe with a distinct() one more
    assert(jobs == 5)
  }

  test("an unbucketed merge (the medallion's) runs 3 Spark jobs and persists nothing") {
    val t = new LogTable(spark, tmp("lf-jobs-flat-"),
      StructType.fromDDL("device_id bigint, time timestamp, heartrate double, rev bigint"))
    t.append(frame(0, 20000, 0))
    val cached = spark.sparkContext.getPersistentRDDs.keySet
    val (_, jobs) = JobCounter.jobsIn(spark.sparkContext) {
      t.merge(frame(19600, 500, 1))((cur, b) =>
        Merge.cdcUpsert(cur, b, Seq("device_id", "time"), "rev"))
    }
    // the join's two shuffle-map stages (AQE runs each as a job) and the
    // write: no touched-bucket probe, no batch persist, no bucket shuffle,
    // and the small rewrite lands in one file
    assert(jobs == 3)
    assert(spark.sparkContext.getPersistentRDDs.keySet == cached)
    assert(t.liveFileNames().size == 1 && t.read().count() == 20100L)
  }

  test("deleteWhere on a table-commits-shaped table runs 2 Spark jobs and " +
      "leaves no sidecar when nothing matches") {
    val root = tmp("lf-del-jobs-")
    val t = new LogTable(spark, root,
      StructType.fromDDL("device_id bigint, time timestamp, heartrate double"),
      bucketBy = Some((Seq("device_id"), 16)), statsBy = Seq("time"))
    t.append(spark.range(0, 20000).select((col("id") % 100).as("device_id"),
      timestamp_seconds(col("id")).as("time"), (col("id") % 90 + 50).cast("double").as("heartrate")))
    def oneDevice(dev: Long, lo: Long) =
      col("device_id") === dev && col("time").between(timestamp_seconds(lit(lo)),
        timestamp_seconds(lit(lo + 6000)))
    // the parallel positions scan, then one shuffle into the single task
    // that writes the sidecar and counts its rows (the former eager
    // checkpoint and count added two jobs)
    val (n, jobs) = JobCounter.jobsIn(spark.sparkContext)(t.deleteWhere(oneDevice(7L, 1000L)))
    assert(n == 60L && jobs == 2)
    val (v, onDisk) = (t.currentVersion, filesIn(root))
    assert(t.deleteWhere(oneDevice(7L, 1000L)) == 0L) // already deleted
    assert(t.currentVersion == v && filesIn(root) == onDisk)
    assert(t.read().count() == 20000L - 60L)
  }

  test("a read of more than 32 files runs no listing job") {
    val t = new LogTable(spark, tmp("lf-many-"), StructType.fromDDL("k bigint"))
    t.append(spark.range(0, 480, 1, 48).toDF("k"))
    assert(t.liveFileNames().size == 48)
    assert(t.deleteWhere(col("k") % 10 === 0L) == 48L)
    // spark.read.parquet of this many paths lists them in a Spark job
    val (live, jobs) = JobCounter.jobsIn(spark.sparkContext)(t.read())
    assert(jobs == 0)
    assert(live.inputFiles.length == 48 + 1 && live.count() == 432L) // + the sidecar
  }

  test("the bucketed write stacks no second sort over the bucket sort") {
    val t = new LogTable(spark, tmp("lf-sort-"), StructType.fromDDL("k bigint, v bigint"),
      bucketBy = Some((Seq("k"), 4)))
    // FileFormatWriter records its ordering check and final plan only under test
    System.setProperty("spark.testing", "true")
    try t.append(spark.range(0, 1000).select((col("id") % 37).as("k"), col("id").as("v")))
    finally System.clearProperty("spark.testing")
    assert(WriterProbe.orderingMatched)
    val plan = WriterProbe.executedPlan.get
    val sorts = new AdaptiveSparkPlanHelper {}.collect(plan) { case s: SortExec => s }
    assert(sorts.size == 1, plan.toString)
  }
}
