package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** File-level data skipping — the manifest half of the Delta/Iceberg
  * "data skipping" story (per-file column statistics consulted BEFORE the
  * scan), complementing the row-group half the repo already has
  * ([[ZOrder.clusteredWrite]] + parquet min/max, pinned by q43).
  *
  * Row-group pruning still LISTS and OPENS every file: at 100 TB with ~1 M
  * files the per-file open/footer-read is itself the bottleneck (the reason
  * Delta keeps stats in the transaction log and Iceberg in manifest files).
  * Here the manifest is a small parquet table `<dir>/_file_stats` (leading
  * underscore → invisible to Spark's file index, same convention as
  * `_SUCCESS`) holding one row per data file with min/max per stat column.
  * (Managed tables keep the same stats per file IN their commit log
  * instead — [[graft.merge.LogTable.readRange]]; this manifest serves plain
  * parquet directories.)
  *
  *  - [[collectStats]] builds it with ONE distributed aggregation grouped by
  *    `input_file_name()` — no driver-side per-file loop; cost is a single
  *    scan of the written data (Delta pays the same by computing stats
  *    inline at write time).
  *  - [[readRange]] filters the manifest (tiny: #files rows), collects only
  *    the SURVIVING file names — a bounded driver list, the same class as
  *    Delta's log replay — and hands exactly those files to the reader. The
  *    residual predicate stays on the scan, so pruning is a pure superset
  *    optimization: stats can only widen the file set, never change rows.
  *
  * Null semantics: a file whose stat column is entirely NULL has NULL
  * min/max and is pruned. That is CORRECT for range predicates (`BETWEEN` /
  * `<` / `>` never match NULL) — the only predicates this API serves; an
  * `IS NULL` scan must read the directory directly.
  *
  * Effectiveness depends on layout, exactly as in the reference systems: a
  * range-clustered write ([[clusteredWrite]], or [[ZOrder.clusteredWrite]]
  * for two dimensions) gives disjoint per-file ranges → near-perfect
  * pruning; a random layout gives every-file-overlaps → zero pruning but
  * identical results. DataSkippingSpec pins both regimes plus the
  * empty-selection and boundary-overlap edges.
  */
object DataSkipping {

  val ManifestDir = "_file_stats"
  private val FileCol = "__file"

  /** Range-cluster `df` by `clusterCol` into ~`nFiles` files (sampled-bounds
    * range exchange — no single-reducer global sort) and build the stats
    * manifest for `statCols` over the written directory. */
  def clusteredWrite(df: DataFrame, clusterCol: String, path: String,
                     nFiles: Int, statCols: Seq[String]): Unit = {
    df.repartitionByRange(nFiles, col(clusterCol))
      .sortWithinPartitions(col(clusterCol))
      .write.mode("overwrite").parquet(path)
    collectStats(df.sparkSession, path, statCols)
  }

  /** File names are stored RELATIVE to the data directory (basename, not
    * URI): the manifest then survives directory moves, hardlink copies and
    * machine moves — the same reason Delta's log records relative paths. */
  private def baseName: Column =
    regexp_replace(input_file_name(), "^.*/", "")

  private def statsOver(df: DataFrame, statCols: Seq[String]): DataFrame = {
    val aggs = statCols.flatMap(c =>
      Seq(min(col(c)).as(s"min_$c"), max(col(c)).as(s"max_$c")))
    df.groupBy(baseName.as(FileCol)).agg(aggs.head, aggs.tail: _*)
  }

  /** Replace `<dir>/_file_stats` with `m` atomically enough for the
    * single-writer model: stage, drop, move. */
  private def writeManifest(spark: SparkSession, dir: String, m: DataFrame): Unit = {
    import java.nio.file.{Files, Paths}
    val staging = Paths.get(dir, s".$ManifestDir-staging")
    // manifest is #files rows — one small file, one footer to read back
    m.coalesce(1).write.mode("overwrite").parquet(staging.toString)
    val live = Paths.get(dir, ManifestDir)
    if (Files.exists(live)) {
      import scala.jdk.CollectionConverters._
      Files.walk(live).iterator().asScala.toSeq.reverse.foreach(Files.deleteIfExists(_))
    }
    Files.move(staging, live)
  }

  /** (Re)build `<dir>/_file_stats`: one row per data file, min/max per stat
    * column. One distributed agg; #files output rows. Call again after any
    * rewrite — the manifest describes a snapshot, not a live view. */
  def collectStats(spark: SparkSession, dir: String, statCols: Seq[String]): Unit =
    writeManifest(spark, dir, statsOver(spark.read.parquet(dir), statCols))

  private def manifest(spark: SparkSession, dir: String): Option[DataFrame] = {
    val p = java.nio.file.Paths.get(dir, ManifestDir)
    if (java.nio.file.Files.exists(p)) Some(spark.read.parquet(p.toString)) else None
  }

  /** Data files whose `[min, max]` interval for `c` intersects `[lo, hi]` —
    * the candidate set a range scan must read (names relative to `dir`).
    * Bounded driver list (≤ #files strings). */
  def prunedFiles(spark: SparkSession, dir: String, c: String,
                  lo: Column, hi: Column): Seq[String] =
    manifest(spark, dir)
      .getOrElse(throw new IllegalStateException(s"no $ManifestDir manifest under $dir"))
      .filter(col(s"max_$c") >= lo && col(s"min_$c") <= hi)
      .select(col(FileCol)).collect().map(_.getString(0)).toIndexedSeq

  /** `SELECT * FROM dir WHERE c BETWEEN lo AND hi`, reading ONLY files the
    * manifest says can match. The residual filter stays on the scan (files
    * straddling the range boundary contain non-matching rows), so the result
    * is exactly the full-scan filter's. Empty candidate set → empty frame
    * with the directory's schema (one footer read, no data scan). */
  def readRange(spark: SparkSession, dir: String, c: String,
                lo: Column, hi: Column): DataFrame = {
    val files = prunedFiles(spark, dir, c, lo, hi)
    val pred = col(c) >= lo && col(c) <= hi
    if (files.isEmpty) {
      val schema = spark.read.parquet(dir).schema
      spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else spark.read.parquet(files.map(f => s"$dir/$f"): _*).filter(pred)
  }
}
