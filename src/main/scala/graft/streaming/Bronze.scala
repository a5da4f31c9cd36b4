package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Bronze layer — incremental file ingestion with lineage columns
  * (ref `Bronze/04-bronze.py`). Databricks Auto Loader (`cloudFiles`) is
  * replaced by Spark's built-in file streaming source, which gives the same
  * incremental-discovery semantics (offsets = already-processed files,
  * tracked in the checkpoint). The streams land in Bronze
  * [[graft.merge.LogTable]]s through the `graft-logtable` sink
  * (`Medallion.runBronze`): one txn commit per micro-batch, the append-only
  * Delta table of the reference, and Silver streams them back by version.
  *
  * Scale: file listing is the bottleneck at very large landing zones —
  * [[MaxFilesPerTrigger]] bounds per-batch work like the reference
  * (`04-bronze.py:22`); for 100 TB landing zones, partition the landing
  * directory by arrival date so the source lists only fresh prefixes.
  */
object Bronze {

  /** Files one micro-batch admits: the reference's config default
    * (`Config/01-config.py:8`). */
  private val MaxFilesPerTrigger = 1000

  /** Streaming CSV source with explicit schema + lineage columns
    * (ref `04-bronze.py:19-28`: load_time, source_file). */
  def csvStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("header", "true")
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .csv(dir)
      .transform(withLineage)

  /** Streaming JSON source (ref `04-bronze.py:79-84`). */
  def jsonStream(spark: SparkSession, dir: String, schema: StructType): DataFrame =
    spark.readStream
      .schema(schema)
      .option("maxFilesPerTrigger", MaxFilesPerTrigger)
      .json(dir)
      .transform(withLineage)

  /** Lineage columns (ref `04-bronze.py:26-27`). Nondeterministic by design —
    * pipeline-layer only, never part of oracle-verified projections. */
  def withLineage(df: DataFrame): DataFrame =
    df.withColumn("load_time", current_timestamp())
      .withColumn("source_file", input_file_name())

  /** Multiplex enrichment: attach `week_part` from the (tiny) date dimension
    * via an explicit broadcast left join on the epoch-ms-derived date
    * (ref `04-bronze.py:77,87-89` — F.broadcast(date_lookup)). */
  def enrichWeekPart(multiplex: DataFrame, dateLookup: DataFrame): DataFrame =
    multiplex.join(
      broadcast(dateLookup.select(col("date"), col("week_part"))),
      to_date((col("timestamp") / 1000).cast("timestamp")) === col("date"),
      "left")
      .drop("date")
}
