package graft.merge

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** MERGE semantics without Delta — the one genuinely custom component
  * (SURVEY.md §2.6, §7.3). Each flavor is a pure DataFrame program: Catalyst
  * plans the underlying joins (broadcast when the batch is small, shuffled
  * hash otherwise — AQE decides), so the same code is correct at 60k rows and
  * at 100 TB. All five reference MERGE statements map onto these.
  *
  * Conventions: `target` and `batch` share a schema; `keys` is the natural
  * key. Every function returns the new target content — persistence is the
  * caller's job: [[LogTable.merge]] commits `f(live, batch)` — bucket-scoped
  * on a bucketed table.
  */
object Merge {

  /** `batch` with every column renamed `__b_<name>`, so it joins `target`
    * without ambiguity; the null-safe (`<=>`) key condition between the
    * two; and a batch column by its original name. */
  private def aliasBatch(target: DataFrame, batch: DataFrame, keys: Seq[String])
      : (DataFrame, Column, String => Column) = {
    val b = batch.select(batch.columns.map(c => col(c).as("__b_" + c)).toIndexedSeq: _*)
    val bc: String => Column = c => b("__b_" + c)
    (b, keys.map(k => target(k) <=> bc(k)).reduce(_ && _), bc)
  }

  /** Null-safe (`<=>`) left-anti: rows of `from` whose key is absent from
    * `against`. Using-column anti-joins never match null keys, which would
    * re-insert a null-keyed row on every replay and break idempotency —
    * all merge flavors use `<=>` key equality uniformly. Duplicate keys on
    * the `against` side change no output row of a left-anti join, so the
    * key projection is not de-duplicated (that would add an aggregate, and
    * its exchange when the join is not broadcast, to every plan). */
  private[merge] def antiByKey(from: DataFrame, against: DataFrame,
                               keys: Seq[String]): DataFrame = {
    val a = against.select(keys.map(k => col(k).as("__a_" + k)).toIndexedSeq: _*)
    val cond = keys.map(k => from(k) <=> a("__a_" + k)).reduce(_ && _)
    from.join(a, cond, "left_anti")
  }

  /** M1 — insert-only / idempotent append (`WHEN NOT MATCHED THEN INSERT *`,
    * reference `Silver/05-silver.py:50-55,208-213,254-259,359-364`).
    * Survivors = batch rows whose key is absent from target. Left-anti join:
    * one shuffle on `keys` (or broadcast of the smaller side under AQE).
    * This form returns the whole new content, for [[LogTable.merge]] and
    * for composition; a sink commits the same rows with
    * [[LogTable.insertMissing]], which appends only the survivors and
    * rewrites no file.
    */
  def insertOnly(target: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    target.unionByName(antiByKey(batch, target, keys))

  /** M4 — SCD Type-1 unconditional upsert (`WHEN MATCHED UPDATE SET *, WHEN
    * NOT MATCHED INSERT *`, reference `Silver/05-silver.py:314-321`).
    * Batch wins on key collision. `batch` must be key-unique (the reference
    * guarantees this via its pre-merge rank filter).
    */
  def scd1(target: DataFrame, batch: DataFrame, keys: Seq[String]): DataFrame =
    batch.unionByName(antiByKey(target, batch, keys))

  /** M3 — CDC upsert with recency guard (`WHEN MATCHED AND a.updated <
    * b.updated THEN UPDATE SET *`, reference `Silver/05-silver.py:159-167`).
    * The batch is first collapsed to the latest record per key (rank=1 with
    * ties kept is the reference semantic; here key-uniqueness is required, so
    * callers pre-apply `Relational.latestPerKey` + a deterministic tiebreak).
    * Matched target rows are replaced only when the batch row is strictly
    * newer on `recencyCol`.
    */
  def cdcUpsert(target: DataFrame, batch: DataFrame, keys: Seq[String],
                recencyCol: String): DataFrame = {
    val (b, cond, bc) = aliasBatch(target, batch, keys)
    val joined = target.join(b, cond, "full_outer")
    // For each output column: batch value when (no target row) OR (newer), else target value.
    val takeBatch = target(keys.head).isNull ||
      (bc(recencyCol).isNotNull && target(recencyCol) < bc(recencyCol))
    joined.select(target.columns.map { c =>
      when(takeBatch, bc(c)).otherwise(target(c)).as(c)
    }.toIndexedSeq: _*)
  }

  /** M2 — conditional single-column update + insert (gym_logs logout
    * extension: `WHEN MATCHED AND b.logout > a.login AND b.logout > a.logout
    * THEN UPDATE SET logout`, reference `Silver/05-silver.py:108-115`).
    * Generic: on match, replace `updateCol` with the batch value when
    * `guard(targetRow, batchRow)` holds; unmatched batch rows are inserted.
    */
  def conditionalUpdate(target: DataFrame, batch: DataFrame, keys: Seq[String],
                        updateCol: String,
                        guard: (String => Column, String => Column) => Column): DataFrame = {
    val (b, cond, bc) = aliasBatch(target, batch, keys)
    val joined = target.join(b, cond, "full_outer")
    val tc: String => Column = c => target(c)
    val matched = target(keys.head).isNotNull && bc(keys.head).isNotNull
    joined.select(target.columns.map { c =>
      val out =
        if (c == updateCol)
          when(matched && guard(tc, bc), bc(c))
            .otherwise(coalesce(tc(c), bc(c)))
        else coalesce(tc(c), bc(c))
      out.as(c)
    }.toIndexedSeq: _*)
  }

  /** M6 — delete-matched (`WHEN MATCHED [AND cond] THEN DELETE` — beyond
    * the reference's five flavors; the Delta MERGE arm every GDPR /
    * right-to-be-forgotten pipeline runs). Target rows with a matching
    * batch key are REMOVED — all of them, or only those where some
    * matching batch row satisfies `guard` — and batch rows are never
    * inserted. Plan shape: one left-anti join on `keys` (+ guard), so the
    * same single-shuffle cost class as M1, and through
    * [[LogTable.merge]] only the buckets holding requested keys are
    * rewritten — O(touched partitions) erasure, which is the property that
    * makes per-user deletion affordable on a 100 TB table. Idempotent by
    * construction: re-applying the same deletion batch is a no-op. */
  def deleteMatched(target: DataFrame, batch: DataFrame, keys: Seq[String],
                    guard: Option[(String => Column, String => Column) => Column] = None)
      : DataFrame =
    guard match {
      case None => antiByKey(target, batch, keys)
      case Some(g) =>
        val (b, cond, bc) = aliasBatch(target, batch, keys)
        target.join(b, cond && g(c => target(c), bc), "left_anti")
    }

  /** M7 — SCD Type-2 history-tracking merge (`WHEN MATCHED AND <attrs
    * changed> THEN close current row; WHEN NOT MATCHED THEN INSERT` — the
    * Delta-lake dimension-history pattern, beyond the reference's five
    * flavors). The target carries, per natural key, a chain of versions:
    * `fromCol` (inclusive validity start), `toCol` (exclusive end, null while
    * open) and `currentCol`. The batch carries `keys ++ trackedCols ++
    * fromCol` — one candidate version per key, stamped with its change time.
    *
    * Semantics per batch row: matched current row with any tracked attribute
    * differing (null-safe) AND a strictly newer `fromCol` → the current row
    * is CLOSED (`toCol := batch.fromCol`, `currentCol := false`) and a fresh
    * open version is inserted; matched with identical attributes (or not
    * newer) → no-op, which makes re-application of the same batch a no-op
    * (idempotent, the M1 property); unmatched key → fresh open version.
    * Historical (non-current) target rows pass through untouched.
    *
    * Plan shape: the current slice full-outer-joins the batch on `keys`
    * (one shuffle, broadcast when the batch is small), each joined row emits
    * up to two output rows via an exploded 2-struct array — the join is
    * never recomputed. Chained applications stack plans; callers applying
    * many batches should materialize between (the [[LogTable]] merge path
    * does this by construction).
    */
  def scd2(target: DataFrame, batch: DataFrame, keys: Seq[String],
           trackedCols: Seq[String], fromCol: String = "eff_from",
           toCol: String = "eff_to", currentCol: String = "is_current"): DataFrame = {
    require(batch.columns.toSet == (keys ++ trackedCols :+ fromCol).toSet,
      s"scd2 batch must carry exactly keys ++ trackedCols ++ $fromCol")
    require(target.columns.toSet == (batch.columns.toSet + toCol + currentCol),
      s"scd2 target must be the batch schema plus $toCol/$currentCol")
    // the batch must be key-unique: a duplicate key would fan the
    // full-outer join out and emit duplicate closed rows. The guard is a
    // WRITE-TIME filter, not an eager action (ADVICE r11: the old
    // groupBy/count ran one extra Spark job per call — once per OCC retry
    // when scd2 runs inside occMerge): a count window over the keys +
    // `coalesce(assert_true(...), true)` in a FILTER (projections get
    // pruned; filters always evaluate — the LogTable.withChecks shape)
    // throws on the first duplicate during the pass that consumes the plan.
    val wk = org.apache.spark.sql.expressions.Window
      .partitionBy(keys.map(col).toIndexedSeq: _*)
    val batchG = batch
      .withColumn("__k_cnt", count(lit(1)).over(wk))
      .filter(coalesce(assert_true(col("__k_cnt") <= 1,
        lit("scd2 batch must carry at most one row per key")), lit(true)))
      .drop("__k_cnt")
    val toType = target.schema(toCol).dataType
    val hist = target.filter(!col(currentCol))
    val cur0 = target.filter(col(currentCol))
    // explicit row-exists markers: the join is null-safe (<=>), so a NULL
    // key column is a legal join value — keys.head.isNotNull as the
    // sentinel would silently drop current rows with a NULL first key
    val cur = cur0.withColumn("__t_exists", lit(true))
    val b = batchG.select((batchG.columns.map(c => col(c).as("__b_" + c))
      .toIndexedSeq :+ lit(true).as("__b_exists")): _*)
    val cond = keys.map(k => cur(k) <=> b("__b_" + k)).reduce(_ && _)
    val joined = cur.join(b, cond, "full_outer")
    val matched = cur("__t_exists").isNotNull && b("__b_exists").isNotNull
    val differs = trackedCols.map(c => !(cur(c) <=> b("__b_" + c))).reduce(_ || _)
    val changed = matched && b("__b_" + fromCol) > cur(fromCol) && differs
    val outCols = target.columns.toIndexedSeq
    val keptOrClosed = struct(outCols.map {
      case c if c == toCol => when(changed, b("__b_" + fromCol)).otherwise(cur(toCol)).as(c)
      case c if c == currentCol => (cur(currentCol) && !changed).as(c)
      case c => cur(c).as(c)
    }: _*)
    val fresh = struct(outCols.map {
      case c if c == toCol => lit(null).cast(toType).as(c)
      case c if c == currentCol => lit(true).as(c)
      case c => b("__b_" + c).as(c)
    }: _*)
    val emitted = joined
      .select(explode(array(
        when(cur("__t_exists").isNotNull, keptOrClosed),
        when(changed || cur("__t_exists").isNull, fresh))).as("__r"))
      .filter(col("__r").isNotNull)
      .select(outCols.map(c => col("__r." + c).as(c)): _*)
    hist.unionByName(emitted)
  }

  /** M5 — explicit-column-list upsert (gold summary,
    * `Gold/06-gold.py:31-80`): same plan shape as M4 but only `updateCols`
    * change on match; other target columns are preserved.
    */
  def upsertColumns(target: DataFrame, batch: DataFrame, keys: Seq[String],
                    updateCols: Seq[String]): DataFrame = {
    val (b, cond, bc) = aliasBatch(target, batch, keys)
    val joined = target.join(b, cond, "full_outer")
    val inserted = target(keys.head).isNull
    joined.select(target.columns.map { c =>
      val out =
        if (updateCols.contains(c) || keys.contains(c))
          coalesce(bc(c), target(c))
        else when(inserted, bc(c)).otherwise(target(c))
      out.as(c)
    }.toIndexedSeq: _*)
  }
}
