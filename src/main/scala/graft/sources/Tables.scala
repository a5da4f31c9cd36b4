package graft.sources

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.types.{DataType, LongType, TimestampNTZType, TimestampType}

/** Batch table access over the driver-generated parquet testdata.
  *
  * Mirrors the reference's static table scans (S5/S7,
  * `Silver/05-silver.py:325,431`, `Gold/06-gold.py:84,134`) — in our runtime a
  * "table" is a parquet path under the scale-factor directory. Filters and
  * projections applied by callers reach the parquet scan via Catalyst pushdown,
  * so readers should NOT cache or materialize here.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame = {
    if (name == "events")
      // Some testdata generations write events.ts as parquet TIMESTAMP(NANOS),
      // which Spark has no native type for ([PARQUET_TYPE_ILLEGAL]); this conf
      // reads that variant as epoch-nanos LongType (a no-op for µs files). All
      // event-time math then happens in exact int64 microseconds (`ts_us`,
      // see eventsUs) — matching DuckDB, whose reader floors ns→µs.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.read.parquet(s"$sfDir/$name.parquet")
  }

  /** Exact int64 epoch-µs projection of an events `ts` column, adaptive to
    * the parquet generation: TIMESTAMP(NANOS) arrives as epoch-nanos long
    * (integer `div`, not `/` — nanos ≈ 1.7e18 exceeds double's 2^53 exact
    * range); TIMESTAMP(MICROS) arrives as TimestampType or (isAdjustedToUTC
    * =false) TimestampNTZType, where `unix_micros` is exact by definition.
    * The NTZ→timestamp cast reads the naive value in the session timezone —
    * every entry point (Bench/Verify/PlanDump/Probe/Sf1Dir/specs) pins UTC, matching
    * DuckDB's `epoch_us(ts)` which treats naive timestamps as UTC epoch. */
  def tsToUs(spark: SparkSession, ts: Column, tsType: DataType): Column = {
    import org.apache.spark.sql.functions._
    tsType match {
      // `div` = exact integer division (the Column API `/` is double);
      // built from the PASSED column — an expr("ts div 1000") would rebind
      // by the literal name and silently mis-resolve at new call sites
      case LongType => call_function("div", ts, lit(1000L))
      case TimestampNTZType =>
        require(spark.conf.get("spark.sql.session.timeZone", "") == "UTC",
          "events.ts is TIMESTAMP_NTZ: the exact-µs contract needs session timeZone=UTC")
        unix_micros(ts.cast(TimestampType))
      case TimestampType => unix_micros(ts)
      case other => throw new IllegalStateException(s"unexpected events.ts type: $other")
    }
  }

  /** `events` with `ts` replaced by exact epoch microseconds `ts_us` (long)
    * and a µs-precision timestamp `ts_utc`. */
  def eventsUs(spark: SparkSession, d: String): DataFrame = {
    import org.apache.spark.sql.functions._
    val df = events(spark, d)
    df.withColumn("ts_us", tsToUs(spark, df("ts"), df.schema("ts").dataType))
      .withColumn("ts_utc", timestamp_micros(org.apache.spark.sql.functions.col("ts_us")))
      .drop("ts")
  }

  def region(spark: SparkSession, d: String): DataFrame     = apply(spark, d, "region")
  def nation(spark: SparkSession, d: String): DataFrame     = apply(spark, d, "nation")
  def customer(spark: SparkSession, d: String): DataFrame   = apply(spark, d, "customer")
  def supplier(spark: SparkSession, d: String): DataFrame   = apply(spark, d, "supplier")
  def part(spark: SparkSession, d: String): DataFrame       = apply(spark, d, "part")
  def orders(spark: SparkSession, d: String): DataFrame     = apply(spark, d, "orders")
  def lineitem(spark: SparkSession, d: String): DataFrame   = apply(spark, d, "lineitem")
  def events(spark: SparkSession, d: String): DataFrame     = apply(spark, d, "events")
  def documents(spark: SparkSession, d: String): DataFrame  = apply(spark, d, "documents")
  def embeddings(spark: SparkSession, d: String): DataFrame = apply(spark, d, "embeddings")

  /** [[documents]] pre-spread across cores — for PER-ROW-COMPUTE-HEAVY
    * stages (shingling, fingerprints, BPE, passage rewrites): the driver
    * fixture is one single-row-group parquet file, so a bare scan is ONE
    * partition and the whole map stage runs serially regardless of cores
    * (the r14/r15 single-file-scan lesson; measured 28→~2 s on d14 at sf1).
    * The repartition costs one shuffle of the raw table — trivial against
    * the per-row compute it parallelizes. At 100 TB a real table scan is
    * naturally parallel; this helper exists for the fixture's layout, which
    * is why it is OPT-IN per query rather than folded into [[documents]]:
    * scan-light queries (aggregates with map-side combine) must not pay a
    * full-table shuffle they don't need. Hash-neutral — rows are unordered
    * inputs to deterministic per-row expressions. */
  def documentsWide(spark: SparkSession, d: String): DataFrame =
    documents(spark, d).repartition(spark.sparkContext.defaultParallelism)

  /** Same respread for the embeddings table (the ANN family's per-row
    * assignment/encode stages): opt-in, hash-neutral, scale-adaptive via
    * defaultParallelism rather than a local[32] constant. */
  def embeddingsWide(spark: SparkSession, d: String): DataFrame =
    embeddings(spark, d).repartition(spark.sparkContext.defaultParallelism)
}
