package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.merge.LogTable

/** Incremental view maintenance: keep a per-group (count, integer sums)
  * aggregate current by applying a change feed ([[keyedChanges]]) instead
  * of re-aggregating the table — the materialized-view half of the CDF story (Delta's
  * "incrementally process changes" pattern; classical IVM for
  * SUM/COUNT-able aggregates).
  *
  * Contract: measures are LONG (exact integer domain — callers working in
  * currency convert to cents first). Integer addition is associative, so
  * delta application is EXACTLY equal to recomputing over the new snapshot,
  * regardless of grouping or order — no float-summation caveat. A row's
  * contribution enters with sign +1 (`insert`, `update_postimage`) or −1
  * (`delete`, `update_preimage`); an update that moves a row across groups
  * therefore decrements the old group and increments the new one with no
  * special casing. Groups whose maintained count reaches 0 are dropped,
  * matching what a recompute over the snapshot would produce.
  *
  * Scale: cost is one aggregate over the DELTA (batch-sized) plus a keyed
  * full-outer join against the prior aggregate (group-cardinality-sized) —
  * never a scan of the table. Both shuffles are on the group key.
  */
object IncrementalView {
  /** Keyed change feed of `t` between readable versions `fromV < toV` (Delta
    * `table_changes(from, to)` with update images): for every adjacent
    * version pair in `(fromV, toV]` the row-level delta, tagged
    * `_change_type` ∈ {insert, delete, update_preimage, update_postimage}
    * and `_commit_version` = the later version of the pair.
    *
    * Computed as a keyed SNAPSHOT DIFF of the two `readVersion` frames (the
    * strategy Iceberg's `create_changelog_view` uses for copy-on-write
    * tables): per pair, one full-outer shuffle join on `keys`; unmatched
    * left → delete, unmatched right → insert, matched with any non-key
    * difference → pre+post image pair. [[graft.merge.LogTable.readChangeFeed]]
    * serves the same commits as delete+insert multisets; this form pairs
    * them into update images, which is what [[applyDelta]] and keyed
    * consumers want. Cost O(|v| + |v+1|) per pair, partition-parallel.
    * `keys` must be a primary key of every version involved (every
    * [[graft.merge.Merge]] flavor keeps key uniqueness). Each row emits an
    * array of 0–2 tagged images in ONE pass over the joined pair
    * (unchanged matches are filtered by null-safe struct equality first),
    * so no branch re-reads the join. */
  def keyedChanges(t: LogTable, fromV: Long, toV: Long, keys: Seq[String]): DataFrame = {
    val vs = t.history().filter(v => v >= fromV && v <= toV)
    require(vs.headOption.contains(fromV) && vs.lastOption.contains(toV) && fromV < toV,
      s"changes($fromV, $toV) needs both endpoints readable and fromV < toV; " +
        s"readable versions: ${t.history().mkString(", ")}")
    vs.sliding(2).map { case Seq(a, b) =>
      val pre = t.readVersion(a)
      val post = t.readVersion(b)
      val img = (df: DataFrame, as: String) =>
        df.select(keys.map(col) :+ struct(df.columns.map(col).toIndexedSeq: _*).as(as): _*)
      img(pre, "_pre").join(img(post, "_post"), keys, "full_outer")
        .filter(!(col("_pre") <=> col("_post"))) // drops unchanged matches; null <=> row is false
        .select(explode(
          when(col("_pre").isNull,
            array(struct(col("_post").as("img"), lit("insert").as("ct"))))
          .when(col("_post").isNull,
            array(struct(col("_pre").as("img"), lit("delete").as("ct"))))
          .otherwise(array(
            struct(col("_pre").as("img"), lit("update_preimage").as("ct")),
            struct(col("_post").as("img"), lit("update_postimage").as("ct"))))).as("e"))
        .select(col("e.img.*"), col("e.ct").as("_change_type"),
          lit(b).as("_commit_version"))
    }.reduce(_.union(_))
  }

  /** `prior` has columns `groupKeys :+ "n" :+ sumCols` (the maintained
    * aggregate); `changes` is a CDF frame carrying `groupKeys`, the measure
    * source columns in `sumCols`, and `_change_type`. Returns the updated
    * aggregate, same shape as `prior`. */
  def applyDelta(prior: DataFrame, changes: DataFrame,
                 groupKeys: Seq[String], sumCols: Seq[String]): DataFrame = {
    val sign = when(col("_change_type").isin("insert", "update_postimage"), 1L)
      .when(col("_change_type").isin("delete", "update_preimage"), -1L)
      .otherwise(raise_error(concat(lit("unknown _change_type: "),
        col("_change_type"))).cast("long")) // loud beats silently dropped
    val deltas = changes
      .groupBy(groupKeys.map(col): _*)
      .agg(sum(sign).as("_dn"),
        sumCols.map(c => sum(col(c) * sign).as(s"_d_$c")): _*)
    prior.join(deltas, groupKeys, "full_outer")
      .select(groupKeys.map(col) ++
        Seq((coalesce(col("n"), lit(0L)) + coalesce(col("_dn"), lit(0L))).as("n")) ++
        sumCols.map(c =>
          (coalesce(col(c), lit(0L)) + coalesce(col(s"_d_$c"), lit(0L))).as(c)): _*)
      .filter(col("n") =!= 0L)
  }
}
