package graft.ops

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.InterleaveBits

/** Multi-dimensional data clustering for scan-time skipping (the
  * `OPTIMIZE ZORDER BY` analog).
  *
  * A single-key sort (a bucketed [[graft.merge.LogTable]]'s merge-key sort)
  * gives row-group pruning on the LEADING key only; queries filtering on a
  * second column scan everything. Z-ordering sorts by the Morton interleave
  * of both columns, so every row group covers a small rectangle of the
  * 2-D key space and min/max stats prune on either column.
  *
  * At 100 TB the write is one `repartitionByRange` on the z-code (range
  * exchange with sampled bounds — no global sort on one reducer) + a
  * per-partition sort; the z-code itself is a codegen'd expression.
  */
object ZOrder {

  private val FuncName = "interleave_bits"

  def register(spark: SparkSession): Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction(
      FuncName, exprs => InterleaveBits(exprs.head, exprs(1)), "built-in")

  /** Morton z-code of two non-negative int columns; call [[register]]
    * first. Columns with skewed/unbounded domains should be rank-bucketed
    * first ([[rankBucket]]) — interleaving raw values wastes z-bits on
    * empty regions of the domain. */
  def zkey(a: Column, b: Column): Column =
    call_function(FuncName, a.cast("int"), b.cast("int"))

  /** Equi-depth bucket id (0..buckets-1) of `c` — normalizes any orderable
    * domain for [[zkey]]. `percent_rank` runs a single-partition window, so
    * this is for BOUNDED relations only (dimension tables, samples). The
    * contract is ENFORCED at execution: row `maxRows + 1` raises, so misuse
    * on an unbounded relation fails loudly instead of silently serializing
    * the corpus through one reducer. The guard rides the same window sort —
    * no extra pass. For full-corpus normalization use [[rangeBucketed]]. */
  def rankBucket(c: Column, buckets: Int, maxRows: Long = 10L * 1000 * 1000): Column = {
    val w = org.apache.spark.sql.expressions.Window.orderBy(c)
    val guarded = when(row_number().over(w) > maxRows,
        raise_error(lit(s"rankBucket: input exceeds the bounded-relation contract " +
          s"($maxRows rows) — use ZOrder.rangeBucketed for unbounded relations")))
      .otherwise(percent_rank().over(w))
    least(floor(guarded * buckets), lit(buckets - 1)).cast("int")
  }

  /** Scalable equi-depth bucketing — the unbounded-relation path. Bucket
    * boundaries come from a distributed Greenwald-Khanna quantile sketch
    * (`approxQuantile`: one pass, mergeable per-partition state, no global
    * sort), then the bucket id is a codegen'd comparison chain against the
    * broadcast boundary literals. Equi-depth up to `relErr` rank error;
    * heavily duplicated boundary values collapse (fewer, fatter buckets) —
    * inherent to any equi-depth scheme on skewed data. */
  def rangeBucketed(df: DataFrame, c: String, buckets: Int, as: String,
                    relErr: Double = 0.001): DataFrame =
    df.withColumn(as, bucketExpr(col(c), quantileBounds(df, c, buckets, relErr)))

  /** Equi-depth boundary values for [[bucketExpr]] — one GK-sketch pass. */
  def quantileBounds(df: DataFrame, c: String, buckets: Int,
                     relErr: Double = 0.001): Array[Double] = {
    require(buckets >= 2, "quantileBounds: need at least 2 buckets")
    val probes = (1 until buckets).map(_.toDouble / buckets).toArray
    df.stat.approxQuantile(c, probes, relErr).distinct.sorted
  }

  /** Codegen'd bucket id of `c` against precomputed `bounds` (broadcast
    * literals — a comparison chain, no shuffle, no window). Empty bounds
    * (constant column) collapse to bucket 0. */
  def bucketExpr(c: Column, bounds: Array[Double]): Column =
    if (bounds.isEmpty) lit(0)
    else bounds.map(b => when(c > lit(b), 1).otherwise(0))
      .reduce[Column](_ + _).cast("int")

  /** Write `df` clustered by the z-order of two int columns: range-partition
    * on the z-code (sampled bounds, parallel), sort within partitions, write
    * parquet. Readers filtering on either column get row-group pruning from
    * the parquet min/max stats (ZOrderSpec proves it with a negative
    * control). */
  def clusteredWrite(df: DataFrame, a: String, b: String,
                     path: String, nFiles: Int): Unit = {
    register(df.sparkSession)
    val z = zkey(col(a), col(b)).as("__z")
    df.withColumn("__z", z)
      .repartitionByRange(nFiles, col("__z"))
      .sortWithinPartitions(col("__z"))
      .drop("__z")
      .write.mode("overwrite").parquet(path)
  }
}
