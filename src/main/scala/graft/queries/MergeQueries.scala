package graft.queries

import org.apache.spark.sql.functions._
import graft.merge.{LogTable, Merge}
import graft.ops.Relational
import graft.sources.Tables

/** The five MERGE semantics (SURVEY.md §2.6, M1–M5) exercised as batch
  * queries: target/batch are deterministic slices of the testdata, the merge
  * itself is the join-based plan from [[graft.merge.Merge]], and the oracle
  * re-states the same semantics in ANSI SQL (NOT EXISTS / FULL OUTER JOIN).
  *
  * Scale note: each flavor is one join on the natural key — broadcast when the
  * batch is small (AQE decides), shuffled hash otherwise. No collect, no
  * driver loop; identical plan shape at 100 TB.
  */
object MergeQueries {
  import RelationalQueries.evCte

  /** M1 — insert-only idempotent append (ref Silver/05-silver.py:50-55). */
  val m1 = QueryDef(
    "q08_merge_insert_only",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val target = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val batch = o.filter(col("o_totalprice") > 150000)
      Merge.insertOnly(target, batch, Seq("o_orderkey"))
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |target AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |batch AS (SELECT * FROM o WHERE o_totalprice > 150000)
           |SELECT * FROM target
           |UNION ALL
           |SELECT * FROM batch b
           |WHERE NOT EXISTS (SELECT 1 FROM target t WHERE t.o_orderkey = b.o_orderkey)
           |ORDER BY o_orderkey""".stripMargin),
    "M1 WHEN NOT MATCHED INSERT * via left-anti join (ref Silver/05-silver.py:50-55)")

  /** M4 — SCD Type-1 unconditional upsert (ref Silver/05-silver.py:314-321). */
  val m4 = QueryDef(
    "q09_merge_scd1",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_name"), col("c_acctbal"), col("c_mktsegment"))
      val batch = c.filter(col("c_acctbal") < 0)
        .withColumn("c_acctbal", round(col("c_acctbal") + 1000, 2))
        .withColumn("c_mktsegment", lit("RECOVERED"))
      Merge.scd1(c, batch, Seq("c_custkey"))
        .orderBy(col("c_custkey"))
    },
    Some("""WITH c AS (SELECT c_custkey, c_name, c_acctbal, c_mktsegment FROM customer),
           |batch AS (SELECT c_custkey, c_name, round(c_acctbal + 1000, 2) AS c_acctbal,
           |                 'RECOVERED' AS c_mktsegment FROM c WHERE c_acctbal < 0)
           |SELECT * FROM batch
           |UNION ALL
           |SELECT * FROM c
           |WHERE NOT EXISTS (SELECT 1 FROM batch b WHERE b.c_custkey = c.c_custkey)
           |ORDER BY c_custkey""".stripMargin),
    "M4 SCD1 unconditional upsert (ref Silver/05-silver.py:314-321)")

  /** M3 — CDC upsert with recency guard (ref Silver/05-silver.py:159-167):
    * snapshot = earliest record per user; CDC batch = latest
    * view/click/purchase per user; matched rows replaced only when newer. */
  val m3 = QueryDef(
    "q10_merge_cdc",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"), col("ts_us"), col("event_id"))
      val target = Relational.dedupKeyed(ev, Seq("user_id"), Seq(col("ts_us"), col("event_id")))
        .drop("event_id")
      val batch = Relational.dedupKeyed(
          ev.filter(col("event_type").isin("view", "click", "purchase")),
          Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
        .drop("event_id")
      Merge.cdcUpsert(target, batch, Seq("user_id"), "ts_us")
        .orderBy(col("user_id"))
    },
    Some(s"""WITH $evCte,
            |target AS (SELECT user_id, event_type, value, ts_us FROM ev
            |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts_us, event_id) = 1),
            |batch AS (SELECT user_id, event_type, value, ts_us FROM ev
            |  WHERE event_type IN ('view','click','purchase')
            |  QUALIFY row_number() OVER (PARTITION BY user_id ORDER BY ts_us DESC, event_id DESC) = 1)
            |SELECT
            |  CASE WHEN t.user_id IS NULL OR (b.ts_us IS NOT NULL AND t.ts_us < b.ts_us)
            |       THEN b.user_id ELSE t.user_id END AS user_id,
            |  CASE WHEN t.user_id IS NULL OR (b.ts_us IS NOT NULL AND t.ts_us < b.ts_us)
            |       THEN b.event_type ELSE t.event_type END AS event_type,
            |  CASE WHEN t.user_id IS NULL OR (b.ts_us IS NOT NULL AND t.ts_us < b.ts_us)
            |       THEN b.value ELSE t.value END AS value,
            |  CASE WHEN t.user_id IS NULL OR (b.ts_us IS NOT NULL AND t.ts_us < b.ts_us)
            |       THEN b.ts_us ELSE t.ts_us END AS ts_us
            |FROM target t FULL OUTER JOIN batch b ON t.user_id = b.user_id
            |ORDER BY user_id""".stripMargin),
    "M3 CDC upsert w/ recency guard a.updated < b.updated (ref Silver/05-silver.py:159-167)")

  /** M2 — conditional single-column update (gym_logs logout extension,
    * ref Silver/05-silver.py:108-115): per-user presence interval; the batch
    * extends `logout_us` only when strictly later (monotone guard). Users
    * with user_id % 3 == 0 are absent from the target → INSERT path. */
  val m2 = QueryDef(
    "q11_merge_conditional",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      val perUser = ev.groupBy(col("user_id"))
        .agg(min(col("ts_us")).as("login_us"), max(col("ts_us")).as("logout_us"))
      val target = perUser.filter(col("user_id") % 3 =!= 0)
        .withColumn("logout_us", col("login_us") + lit(3600000000L))
      val batch = perUser
      Merge.conditionalUpdate(target, batch, Seq("user_id"), "logout_us",
          (t, b) => b("logout_us") > t("login_us") && b("logout_us") > t("logout_us"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH $evCte,
            |per_user AS (SELECT user_id, min(ts_us) AS login_us, max(ts_us) AS logout_us
            |             FROM ev GROUP BY user_id),
            |target AS (SELECT user_id, login_us, login_us + 3600000000 AS logout_us
            |           FROM per_user WHERE user_id % 3 <> 0),
            |batch AS (SELECT * FROM per_user)
            |SELECT coalesce(t.user_id, b.user_id) AS user_id,
            |       coalesce(t.login_us, b.login_us) AS login_us,
            |       CASE WHEN t.user_id IS NOT NULL AND b.user_id IS NOT NULL
            |                 AND b.logout_us > t.login_us AND b.logout_us > t.logout_us
            |            THEN b.logout_us
            |            ELSE coalesce(t.logout_us, b.logout_us) END AS logout_us
            |FROM target t FULL OUTER JOIN batch b ON t.user_id = b.user_id
            |ORDER BY user_id""".stripMargin),
    "M2 conditional logout-extension update (ref Silver/05-silver.py:108-115)")

  /** M5 — explicit-column-list upsert (gold summary, ref Gold/06-gold.py:31-80):
    * per-(returnflag,linestatus) stats recomputed from a batch window update
    * only the stat columns; a target-only bookkeeping column survives. */
  val m5 = QueryDef(
    "q20_merge_column_list",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      def stats(df: org.apache.spark.sql.DataFrame) =
        df.groupBy(col("l_returnflag"), col("l_linestatus")).agg(
          round(min(col("l_quantity")), 2).as("min_qty"),
          (round(sum(col("l_quantity")), 2) / count(lit(1))).as("avg_qty"),
          round(max(col("l_quantity")), 2).as("max_qty"),
          count(lit(1)).as("n"))
      val target = stats(li.filter(col("l_shipdate") < lit("1997-01-01").cast("timestamp")))
        .withColumn("gen", lit(1L))
      val batch = stats(li).withColumn("gen", lit(2L))
      Merge.upsertColumns(target, batch,
          Seq("l_returnflag", "l_linestatus"),
          Seq("min_qty", "avg_qty", "max_qty", "n"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""WITH stats_t AS (
           |  SELECT l_returnflag, l_linestatus, round(min(l_quantity),2) AS min_qty,
           |         round(sum(l_quantity),2)/count(*) AS avg_qty, round(max(l_quantity),2) AS max_qty,
           |         count(*) AS n, CAST(1 AS BIGINT) AS gen
           |  FROM lineitem WHERE l_shipdate < TIMESTAMP '1997-01-01 00:00:00'
           |  GROUP BY l_returnflag, l_linestatus),
           |stats_b AS (
           |  SELECT l_returnflag, l_linestatus, round(min(l_quantity),2) AS min_qty,
           |         round(sum(l_quantity),2)/count(*) AS avg_qty, round(max(l_quantity),2) AS max_qty,
           |         count(*) AS n, CAST(2 AS BIGINT) AS gen
           |  FROM lineitem GROUP BY l_returnflag, l_linestatus)
           |SELECT coalesce(b.l_returnflag, t.l_returnflag) AS l_returnflag,
           |       coalesce(b.l_linestatus, t.l_linestatus) AS l_linestatus,
           |       coalesce(b.min_qty, t.min_qty) AS min_qty,
           |       coalesce(b.avg_qty, t.avg_qty) AS avg_qty,
           |       coalesce(b.max_qty, t.max_qty) AS max_qty,
           |       coalesce(b.n, t.n) AS n,
           |       CASE WHEN t.l_returnflag IS NULL THEN b.gen ELSE t.gen END AS gen
           |FROM stats_t t FULL OUTER JOIN stats_b b
           |  ON t.l_returnflag = b.l_returnflag AND t.l_linestatus = b.l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "M5 explicit-column-list upsert (ref Gold/06-gold.py:31-80)")

  /** Time travel over a [[graft.merge.LogTable]] — the lakehouse
    * `VERSION AS OF` capability as a verified row. A real table is
    * written through three version cuts (overwrite, M1 insert-only merge, M4
    * SCD1 merge — each the verbatim semantics of q08/q09), then EVERY
    * readable version is read back via `readVersion` and summarized. The
    * oracle recomputes the three historical states in CTEs, so a hash match
    * proves the version store returns each HISTORICAL state exactly — not
    * the current one, not a mix.
    *
    * Scale: a version references immutable files (no data copied); the
    * per-version summary is one agg each over a partition-parallel parquet
    * scan. The driver fold is over `history()` — bounded by retention,
    * O(versions). */
  val tt = QueryDef(
    "q49_time_travel",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q49-tt-").toString
      val t = new LogTable(spark, s"$root/orders_v", o.schema)
      val target = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val batch1 = o.filter(col("o_totalprice") > 150000)
      val batch2 = o.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
        .withColumn("o_orderstatus", lit("R"))
      t.overwrite(target)                                                 // v1
      t.insertMissing(batch1, Seq("o_orderkey"))                          // v2
      t.merge(batch2)((cur, b) => Merge.scd1(cur, b, Seq("o_orderkey")))  // v3
      t.history().map { v =>
        t.readVersion(v).agg(
            count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(v.toInt).as("version"), col("n"), col("sum_price"))
      }.reduce(_.union(_)).orderBy(col("version"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |v1 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |b1 AS (SELECT * FROM o WHERE o_totalprice > 150000),
           |v2 AS (SELECT * FROM v1
           |  UNION ALL
           |  SELECT * FROM b1 b
           |  WHERE NOT EXISTS (SELECT 1 FROM v1 t WHERE t.o_orderkey = b.o_orderkey)),
           |b2 AS (SELECT o_orderkey, 'R' AS o_orderstatus,
           |              round(o_totalprice + 1000, 2) AS o_totalprice, o_orderdate
           |       FROM o WHERE o_orderstatus = 'F'),
           |v3 AS (SELECT * FROM b2
           |  UNION ALL
           |  SELECT * FROM v2
           |  WHERE NOT EXISTS (SELECT 1 FROM b2 b WHERE b.o_orderkey = v2.o_orderkey)),
           |s AS (
           |  SELECT 1 AS version, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price FROM v1
           |  UNION ALL
           |  SELECT 2, count(*), round(sum(o_totalprice), 2) FROM v2
           |  UNION ALL
           |  SELECT 3, count(*), round(sum(o_totalprice), 2) FROM v3)
           |SELECT version, n, sum_price FROM s ORDER BY version""".stripMargin),
    "Lakehouse time travel: commit-log table, VERSION AS OF reads (Delta analog)")

  /** Change data feed over the same versioned table as q49, extended with a
    * delete-where cut (v4) so every `_change_type` appears: v1 overwrite,
    * v2 M1 insert-only (inserts), v3 M4 SCD1 (updates), v4 delete-where
    * (deletes). [[graft.ops.IncrementalView.keyedChanges]] computes the
    * per-pair keyed snapshot diff; the oracle recomputes each version state in CTEs
    * (q49's, verified) and re-states the diff as NOT EXISTS / join pairs.
    * A hash match proves the feed reports EXACTLY the row-level delta of
    * every commit — images, types, and commit attribution.
    *
    * Scale: three full-outer key joins (one per adjacent pair), each a
    * plain equi-shuffle; output ordered by (version, type, key). The price
    * column changed by SCD1 is compared within-engine only (both engines
    * agree on equality of their own arithmetic); emitted doubles are q49's
    * round-2 values, already proven hash-stable. */
  /** The shared 4-cut versioned history behind q50/q51: v1 overwrite,
    * v2 M1 insert-only (inserts), v3 M4 SCD1 (updates, incl. the F→R status
    * change that MOVES rows across the q51 group key), v4 delete-where. */
  private[queries] def ordersVersioned(spark: org.apache.spark.sql.SparkSession, dir: String,
                              prefix: String): LogTable = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
    val root = FixtureDirs.create(prefix).toString
    val t = new LogTable(spark, s"$root/orders_v", o.schema)
    val target = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
    val batch1 = o.filter(col("o_totalprice") > 150000)
    val batch2 = o.filter(col("o_orderstatus") === "F")
      .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
      .withColumn("o_orderstatus", lit("R"))
    t.overwrite(target)                                                      // v1
    t.insertMissing(batch1, Seq("o_orderkey"))                               // v2
    t.merge(batch2)((cur, b) => Merge.scd1(cur, b, Seq("o_orderkey")))       // v3
    t.overwrite(t.read().filter(col("o_totalprice") <= 250000))              // v4 delete-where
    t
  }

  val cdf = QueryDef(
    "q50_change_data_feed",
    (spark, dir) => {
      val t = ordersVersioned(spark, dir, "q50-cdf-")
      graft.ops.IncrementalView.keyedChanges(t, 1, 4, Seq("o_orderkey"))
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          unix_micros(col("o_orderdate").cast("timestamp")).as("o_date_us"), // NTZ→LTZ exact under the session's UTC tz
          col("_change_type"), col("_commit_version"))
        .orderBy(col("_commit_version"), col("_change_type"), col("o_orderkey"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |v1 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |b1 AS (SELECT * FROM o WHERE o_totalprice > 150000),
           |v2 AS (SELECT * FROM v1
           |  UNION ALL
           |  SELECT * FROM b1 b
           |  WHERE NOT EXISTS (SELECT 1 FROM v1 t WHERE t.o_orderkey = b.o_orderkey)),
           |b2 AS (SELECT o_orderkey, 'R' AS o_orderstatus,
           |              round(o_totalprice + 1000, 2) AS o_totalprice, o_orderdate
           |       FROM o WHERE o_orderstatus = 'F'),
           |v3 AS (SELECT * FROM b2
           |  UNION ALL
           |  SELECT * FROM v2
           |  WHERE NOT EXISTS (SELECT 1 FROM b2 b WHERE b.o_orderkey = v2.o_orderkey)),
           |v4 AS (SELECT * FROM v3 WHERE o_totalprice <= 250000),
           |ch AS (
           |  SELECT n.*, 'insert' AS _change_type, CAST(2 AS BIGINT) AS _commit_version
           |  FROM v2 n WHERE NOT EXISTS (SELECT 1 FROM v1 p WHERE p.o_orderkey = n.o_orderkey)
           |  UNION ALL
           |  SELECT p.*, 'delete', 2 FROM v1 p
           |  WHERE NOT EXISTS (SELECT 1 FROM v2 n WHERE n.o_orderkey = p.o_orderkey)
           |  UNION ALL
           |  SELECT p.*, 'update_preimage', 2
           |  FROM v1 p JOIN v2 n ON p.o_orderkey = n.o_orderkey
           |  WHERE (p.o_orderstatus, p.o_totalprice, p.o_orderdate)
           |        IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice, n.o_orderdate)
           |  UNION ALL
           |  SELECT n.*, 'update_postimage', 2
           |  FROM v1 p JOIN v2 n ON p.o_orderkey = n.o_orderkey
           |  WHERE (p.o_orderstatus, p.o_totalprice, p.o_orderdate)
           |        IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice, n.o_orderdate)
           |  UNION ALL
           |  SELECT n.*, 'insert', 3 FROM v3 n
           |  WHERE NOT EXISTS (SELECT 1 FROM v2 p WHERE p.o_orderkey = n.o_orderkey)
           |  UNION ALL
           |  SELECT p.*, 'delete', 3 FROM v2 p
           |  WHERE NOT EXISTS (SELECT 1 FROM v3 n WHERE n.o_orderkey = p.o_orderkey)
           |  UNION ALL
           |  SELECT p.*, 'update_preimage', 3
           |  FROM v2 p JOIN v3 n ON p.o_orderkey = n.o_orderkey
           |  WHERE (p.o_orderstatus, p.o_totalprice, p.o_orderdate)
           |        IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice, n.o_orderdate)
           |  UNION ALL
           |  SELECT n.*, 'update_postimage', 3
           |  FROM v2 p JOIN v3 n ON p.o_orderkey = n.o_orderkey
           |  WHERE (p.o_orderstatus, p.o_totalprice, p.o_orderdate)
           |        IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice, n.o_orderdate)
           |  UNION ALL
           |  SELECT n.*, 'insert', 4 FROM v4 n
           |  WHERE NOT EXISTS (SELECT 1 FROM v3 p WHERE p.o_orderkey = n.o_orderkey)
           |  UNION ALL
           |  SELECT p.*, 'delete', 4 FROM v3 p
           |  WHERE NOT EXISTS (SELECT 1 FROM v4 n WHERE n.o_orderkey = p.o_orderkey)
           |  UNION ALL
           |  SELECT p.*, 'update_preimage', 4
           |  FROM v3 p JOIN v4 n ON p.o_orderkey = n.o_orderkey
           |  WHERE (p.o_orderstatus, p.o_totalprice, p.o_orderdate)
           |        IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice, n.o_orderdate)
           |  UNION ALL
           |  SELECT n.*, 'update_postimage', 4
           |  FROM v3 p JOIN v4 n ON p.o_orderkey = n.o_orderkey
           |  WHERE (p.o_orderstatus, p.o_totalprice, p.o_orderdate)
           |        IS DISTINCT FROM (n.o_orderstatus, n.o_totalprice, n.o_orderdate))
           |SELECT o_orderkey, o_orderstatus, o_totalprice,
           |       epoch_us(o_orderdate) AS o_date_us, _change_type, _commit_version
           |FROM ch
           |ORDER BY _commit_version, _change_type, o_orderkey""".stripMargin),
    "Change data feed: per-commit row-level delta over the versioned table (Delta table_changes analog)")

  /** Incremental view maintenance: the per-status (count, sum-of-cents)
    * aggregate of v1 is kept current by applying the v1→v4 change feed via
    * [[graft.ops.IncrementalView.applyDelta]] — the table itself is never
    * re-aggregated. The ORACLE aggregates the final v4 state directly, so a
    * hash match proves delta-maintenance ≡ recompute — exactly, not
    * approximately, because the measure is integer cents (associative
    * addition; no float-grouping caveat). The history exercises every IVM
    * edge: inserts, deletes, and the F→R SCD1 updates whose pre/post images
    * fall in DIFFERENT groups (row migration = old group decrement + new
    * group increment).
    *
    * Scale: maintenance cost is one agg over the delta + a group-key join
    * against the prior aggregate (|groups| rows) — independent of table
    * size; the recompute it replaces scans the full table per refresh. */
  val ivm = QueryDef(
    "q51_incremental_view",
    (spark, dir) => {
      val t = ordersVersioned(spark, dir, "q51-ivm-")
      val cents = (c: org.apache.spark.sql.Column) =>
        round(c * 100, 0).cast("long") // 2-dec input ⇒ ±ulp of an integer, never near .5
      val prior = t.readVersion(1)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_cents"))
      val feed = graft.ops.IncrementalView.keyedChanges(t, 1, 4, Seq("o_orderkey"))
        .withColumn("sum_cents", cents(col("o_totalprice")))
      graft.ops.IncrementalView.applyDelta(prior, feed,
          Seq("o_orderstatus"), Seq("sum_cents"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |v1 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |b1 AS (SELECT * FROM o WHERE o_totalprice > 150000),
           |v2 AS (SELECT * FROM v1
           |  UNION ALL
           |  SELECT * FROM b1 b
           |  WHERE NOT EXISTS (SELECT 1 FROM v1 t WHERE t.o_orderkey = b.o_orderkey)),
           |b2 AS (SELECT o_orderkey, 'R' AS o_orderstatus,
           |              round(o_totalprice + 1000, 2) AS o_totalprice, o_orderdate
           |       FROM o WHERE o_orderstatus = 'F'),
           |v3 AS (SELECT * FROM b2
           |  UNION ALL
           |  SELECT * FROM v2
           |  WHERE NOT EXISTS (SELECT 1 FROM b2 b WHERE b.o_orderkey = v2.o_orderkey)),
           |v4 AS (SELECT * FROM v3 WHERE o_totalprice <= 250000)
           |SELECT o_orderstatus, count(*) AS n,
           |       CAST(sum(CAST(round(o_totalprice * CAST(100 AS DOUBLE), 0) AS BIGINT)) AS BIGINT) AS sum_cents
           |FROM v4 GROUP BY o_orderstatus
           |ORDER BY o_orderstatus""".stripMargin),
    "Incremental view maintenance: CDF deltas keep the aggregate current, oracle recomputes from the snapshot")

  /** File-level data skipping — the manifest half of the lakehouse scan
    * story (Delta/Iceberg per-file stats), as a verified row. Orders are
    * range-clustered by `o_orderdate` into a 16-file `LogTable` whose
    * manifest carries per-file stats on `o_orderdate` (taken by the write
    * tasks); the half-year [[graft.merge.LogTable.readRange]] then reads
    * ONLY manifest-surviving files (the `require` makes the row FAIL LOUDLY
    * if pruning ever stops happening — this row pins the mechanism, not
    * just the answer). The oracle is the plain full-scan range aggregate,
    * so the hash match proves pruning is a pure superset optimization:
    * fewer files, identical rows.
    *
    * Scale: the stats cost no job; the scan reads ~7% of files for ~7% of
    * the date domain. Row-group pruning (q43) still applies WITHIN the
    * surviving files — the two layers compose exactly as in Delta. */
  val skip = QueryDef(
    "q52_data_skipping",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val t = new graft.merge.LogTable(spark,
        FixtureDirs.create("q52-skip-").resolve("orders_c").toString, o.schema,
        statsBy = Seq("o_orderdate"))
      t.overwrite(o.repartitionByRange(16, col("o_orderdate"))
        .sortWithinPartitions(col("o_orderdate")))
      val lo = lit("1995-01-01").cast("timestamp")
      val hi = lit("1995-06-30").cast("timestamp")
      val kept = t.readRange("o_orderdate", lo, hi)
      val total = t.liveFileNames().size
      require(kept.inputFiles.length < total,
        s"data skipping pruned nothing (${kept.inputFiles.length} of $total files) — " +
          "manifest stats or clustering broke")
      kept.groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
           |FROM orders
           |WHERE o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
           |                      AND TIMESTAMP '1995-06-30 00:00:00'
           |GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    "File-level data skipping: per-file min/max manifest prunes the scan's file list (Delta stats analog)")

  /** Schema evolution (Delta `mergeSchema` analog) as a verified row: the
    * table is written with FOUR columns, evolved to add `o_orderpriority`,
    * and the post-evolution batch appends with the new column — the
    * pre-evolution files are never rewritten
    * ([[graft.merge.LogTable.evolve]], a metaData commit; byte-identity
    * pinned by SchemaEvolutionSpec). The evolved read NULL-FILLS old rows, and the
    * aggregate groups them under a sentinel label, so the oracle (which
    * reconstructs the same split from the raw table) hash-matches ONLY if
    * null-fill returns exactly the pre-evolution rows — not dropped, not
    * defaulted, not rewritten. */
  val evo = QueryDef(
    "q53_schema_evolution",
    (spark, dir) => {
      val full = Tables.orders(spark, dir)
      val cut = lit("1998-01-01").cast("timestamp")
      val narrow = full.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q53-evo-").resolve("orders_e").toString
      val t = new LogTable(spark, root, narrow.schema)
      t.overwrite(narrow.filter(col("o_orderdate") < cut))
      t.evolve(narrow.schema.add("o_orderpriority",
        org.apache.spark.sql.types.StringType))
      t.append(full.select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .filter(col("o_orderdate") >= cut))
      t.read()
        .groupBy(coalesce(col("o_orderpriority"), lit("PRE-EVOLUTION")).as("prio"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("prio"))
    },
    Some("""SELECT CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |            THEN 'PRE-EVOLUTION' ELSE o_orderpriority END AS prio,
           |       count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
           |FROM orders GROUP BY 1 ORDER BY prio""".stripMargin),
    "Schema evolution: additive column, old files untouched and read null-filled (mergeSchema analog)")

  /** Shallow clone + copy-on-write divergence as a verified row: the
    * source table is cloned ([[graft.merge.LogTable.cloneTo]] — pure
    * hardlinks, zero bytes copied; CloneSpec pins the inode sharing), the
    * CLONE takes an SCD1 merge, and the row reports BOTH tables' summaries.
    * The oracle recomputes source = the original slice and clone = merge
    * applied to it, so a hash match proves the clone read the source's
    * exact state AND the divergent write never leaked back — the
    * copy-on-write contract, checked on content cross-engine (the byte
    * layer is CloneSpec's). */
  val cl = QueryDef(
    "q54_shallow_clone",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q54-clone-")
      val t = new LogTable(spark, root.resolve("src").toString, o.schema)
      t.overwrite(o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))
      val c = t.cloneTo(root.resolve("dup").toString)
      val batch = o.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
        .withColumn("o_orderstatus", lit("R"))
      c.merge(batch)((cur, b) => Merge.scd1(cur, b, Seq("o_orderkey")))
      def summarize(df: org.apache.spark.sql.DataFrame, side: String) =
        df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(side).as("side"), col("n"), col("sum_price"))
      summarize(t.read(), "source").union(summarize(c.read(), "clone"))
        .orderBy(col("side"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |v1 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |b AS (SELECT o_orderkey, 'R' AS o_orderstatus,
           |             round(o_totalprice + 1000, 2) AS o_totalprice, o_orderdate
           |      FROM o WHERE o_orderstatus = 'F'),
           |cl AS (SELECT * FROM b
           |  UNION ALL
           |  SELECT * FROM v1
           |  WHERE NOT EXISTS (SELECT 1 FROM b WHERE b.o_orderkey = v1.o_orderkey)),
           |s AS (
           |  SELECT 'source' AS side, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price FROM v1
           |  UNION ALL
           |  SELECT 'clone', count(*), round(sum(o_totalprice), 2) FROM cl)
           |SELECT side, n, sum_price FROM s ORDER BY side""".stripMargin),
    "Shallow clone: zero-copy hardlink clone, copy-on-write divergence (Delta SHALLOW CLONE analog)")

  /** Compaction (the Delta/Iceberg `OPTIMIZE` analog) as a verified row:
    * four keyed appends leave 4 small files per bucket — the streaming-
    * ingest pathology that kills scan throughput at 100 TB (file-open cost
    * dominates once files ≪ row-group size) — then
    * [[graft.merge.LogTable.compact]] rewrites the table to one file per
    * bucket in a `dataChange = false` commit. The row `require`s the
    * physical file count actually dropped, and the aggregate over the
    * compacted table hash-matches the oracle over the raw union —
    * content-preservation under the rewrite is the verified property.
    * Cost model at scale: one rewrite of the live files, decided from the
    * manifest alone (no directory listing). */
  val opt = QueryDef(
    "q55_compaction",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
      val root = FixtureDirs.create("q55-opt-").resolve("orders_o").toString
      val t = new LogTable(spark, root, o.schema,
        bucketBy = Some((Seq("o_orderkey"), 8)))
      (0 until 4).foreach { k =>
        t.append(o.filter(pmod(col("o_orderkey"), lit(4)) === k))
      }
      val before = t.read().inputFiles.length
      t.compact()
      val after = t.read().inputFiles.length
      require(after < before,
        s"compaction reduced nothing ($before -> $after files)")
      t.read().groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
           |FROM orders GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    "Compaction: OPTIMIZE-style small-file rewrite, content-preserving, per-bucket scoped (Delta OPTIMIZE analog)")

  /** M6 delete-matched as a verified row — the GDPR / right-to-be-forgotten
    * MERGE arm (`WHEN MATCHED AND cond THEN DELETE`): erasure requests (the
    * orderkeys of one customer stratum) are merged into a BUCKETED table,
    * deleting matched orders only where the guard holds (pre-1995 rows —
    * the conditional arm). Through [[graft.merge.LogTable.merge]] only
    * buckets holding requested keys are rewritten — O(touched partitions)
    * erasure, the property that makes per-user deletion affordable at
    * 100 TB. The oracle re-states the erasure relationally
    * (NOT EXISTS over requests × guard). */
  val del = QueryDef(
    "q56_merge_delete",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q56-del-").resolve("orders_d").toString
      val t = new LogTable(spark, root, o.schema,
        bucketBy = Some((Seq("o_orderkey"), 8)))
      t.overwrite(o)
      val requests = o.filter(pmod(col("o_custkey"), lit(7)) === 3)
        .select(col("o_orderkey"))
      val cut = lit("1998-01-01").cast("timestamp")
      t.merge(requests)((cur, b) =>
        Merge.deleteMatched(cur, b, Seq("o_orderkey"),
          Some((tc, _) => tc("o_orderdate") < cut)))
      t.read().groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""WITH req AS (SELECT o_orderkey FROM orders WHERE o_custkey % 7 = 3),
           |kept AS (SELECT * FROM orders o WHERE NOT EXISTS (
           |  SELECT 1 FROM req r WHERE r.o_orderkey = o.o_orderkey
           |    AND o.o_orderdate < TIMESTAMP '1998-01-01 00:00:00'))
           |SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
           |FROM kept GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    "MERGE delete-matched: guarded GDPR-style erasure, bucket-scoped rewrite (Delta WHEN MATCHED THEN DELETE analog)")

  /** RESTORE (the Delta `RESTORE TABLE ... TO VERSION AS OF` analog) as a
    * verified row: q49's three-version history, then `restore(1)` rolls the
    * table FORWARD to a new version 4 whose content equals version 1 —
    * history is preserved (the rolled-back versions stay readable for
    * forensics) and the restore is itself undoable. The row emits the
    * per-version summary for the full post-restore history; the hash match
    * pins v4 ≡ v1 while v2/v3 survive intact. */
  val rst = QueryDef(
    "q57_restore",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q57-rst-").toString
      val t = new LogTable(spark, s"$root/orders_r", o.schema)
      val target = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val batch1 = o.filter(col("o_totalprice") > 150000)
      val batch2 = o.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
        .withColumn("o_orderstatus", lit("R"))
      t.overwrite(target)                                                 // v1
      t.insertMissing(batch1, Seq("o_orderkey"))                          // v2
      t.merge(batch2)((cur, b) => Merge.scd1(cur, b, Seq("o_orderkey")))  // v3
      t.restore(1)                                                        // v4 ≡ v1
      t.history().map { v =>
        t.readVersion(v).agg(
            count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(v.toInt).as("version"), col("n"), col("sum_price"))
      }.reduce(_.union(_)).orderBy(col("version"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |v1 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |b1 AS (SELECT * FROM o WHERE o_totalprice > 150000),
           |v2 AS (SELECT * FROM v1
           |  UNION ALL
           |  SELECT * FROM b1 b
           |  WHERE NOT EXISTS (SELECT 1 FROM v1 t WHERE t.o_orderkey = b.o_orderkey)),
           |b2 AS (SELECT o_orderkey, 'R' AS o_orderstatus,
           |              round(o_totalprice + 1000, 2) AS o_totalprice, o_orderdate
           |       FROM o WHERE o_orderstatus = 'F'),
           |v3 AS (SELECT * FROM b2
           |  UNION ALL
           |  SELECT * FROM v2
           |  WHERE NOT EXISTS (SELECT 1 FROM b2 b WHERE b.o_orderkey = v2.o_orderkey)),
           |s AS (
           |  SELECT 1 AS version, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price FROM v1
           |  UNION ALL
           |  SELECT 2, count(*), round(sum(o_totalprice), 2) FROM v2
           |  UNION ALL
           |  SELECT 3, count(*), round(sum(o_totalprice), 2) FROM v3
           |  UNION ALL
           |  SELECT 4, count(*), round(sum(o_totalprice), 2) FROM v1)
           |SELECT version, n, sum_price FROM s ORDER BY version""".stripMargin),
    "RESTORE: roll-forward to a prior version's content, history preserved (Delta RESTORE analog)")

  /** VACUUM (the Delta `VACUUM` analog) as a verified row: q49's
    * three-version history, then `vacuum(retainLast = 2)` physically expires
    * version 1 while keeping the newest older version readable. The row
    * emits the per-version summary of the POST-vacuum history — a hash match
    * pins both halves of the contract at once: the live state (v3) is
    * untouched by the GC, and the surviving retained version (v2) still
    * reads its exact historical state (not the current one, not a mix).
    * The destructive half — expired manifests and unreferenced files
    * physically gone, reads of expired versions failing loudly,
    * shallow-clone hardlinks unaffected — is VacuumSpec's.
    *
    * Scale: VACUUM folds the retained manifests and deletes every file none
    * of them references — O(#files) filesystem metadata, zero data scanned
    * or copied. */
  val vac = QueryDef(
    "q62_vacuum",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q62-vac-").toString
      val t = new LogTable(spark, s"$root/orders_g", o.schema)
      val target = o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp"))
      val batch1 = o.filter(col("o_totalprice") > 150000)
      val batch2 = o.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
        .withColumn("o_orderstatus", lit("R"))
      t.overwrite(target)                                                 // v1
      t.insertMissing(batch1, Seq("o_orderkey"))                          // v2
      t.merge(batch2)((cur, b) => Merge.scd1(cur, b, Seq("o_orderkey")))  // v3
      val expired = t.vacuum(retainLast = 2)
      require(expired == Seq(1L),
        s"expected vacuum to expire exactly version 1, got ${expired.mkString(",")}")
      t.history().map { v =>
        t.readVersion(v).agg(
            count(lit(1)).as("n"),
            round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(v.toInt).as("version"), col("n"), col("sum_price"))
      }.reduce(_.union(_)).orderBy(col("version"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |v1 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |b1 AS (SELECT * FROM o WHERE o_totalprice > 150000),
           |v2 AS (SELECT * FROM v1
           |  UNION ALL
           |  SELECT * FROM b1 b
           |  WHERE NOT EXISTS (SELECT 1 FROM v1 t WHERE t.o_orderkey = b.o_orderkey)),
           |b2 AS (SELECT o_orderkey, 'R' AS o_orderstatus,
           |              round(o_totalprice + 1000, 2) AS o_totalprice, o_orderdate
           |       FROM o WHERE o_orderstatus = 'F'),
           |v3 AS (SELECT * FROM b2
           |  UNION ALL
           |  SELECT * FROM v2
           |  WHERE NOT EXISTS (SELECT 1 FROM b2 b WHERE b.o_orderkey = v2.o_orderkey)),
           |s AS (
           |  SELECT 2 AS version, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price FROM v2
           |  UNION ALL
           |  SELECT 3, count(*), round(sum(o_totalprice), 2) FROM v3)
           |SELECT version, n, sum_price FROM s ORDER BY version""".stripMargin),
    "VACUUM: retention GC expires old versions physically, newer time travel + live state untouched (Delta VACUUM analog)")

  /** Deletion vectors (the Delta merge-on-read DELETE analog) as a verified
    * row. Two delete waves — a GDPR erasure stratum and a retention sweep —
    * run as [[graft.merge.LogTable.deleteWhere]]: each commits only a
    * sidecar of the POSITIONS of deleted rows, and the row `require`s that
    * the live data-file set is UNTOUCHED — the zero-write-amplification
    * property that makes per-row deletes affordable at 100 TB, vs q56's
    * copy-on-write rewrite of every touched bucket. The merge-on-read
    * aggregate is then pinned equal to the post-[[graft.merge.LogTable.compact]]
    * aggregate (files rewritten, deletion vectors materialized), and BOTH
    * equal the oracle's relational
    * restatement — so the hash match proves the sidecar anti-join and the
    * materializing rewrite implement the same DELETE, and the per-wave
    * deleted counts pin that wave 2 matched only rows still live after
    * wave 1 (deletes compose, never double-count).
    *
    * Scale: a delete costs one predicate scan + an O(matches) positions
    * write; the read-side cost is a (file, row_index) anti-join against a
    * sidecar AQE broadcasts while small — the join-shaped analog of Delta's
    * scan-time bitmap filter. Materialization is deferred to OPTIMIZE, the
    * DV lifecycle Delta uses. */
  val dvq = QueryDef(
    "q64_deletion_vectors",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q64-dv-").resolve("orders_dv").toString
      val t = new LogTable(spark, root, o.schema)
      t.overwrite(o)
      val before = t.liveFileNames()
      val cut = lit("1996-01-01").cast("timestamp")
      val n1 = t.deleteWhere(pmod(col("o_custkey"), lit(7)) === 3)      // GDPR stratum
      val n2 = t.deleteWhere(col("o_orderdate") < cut)                  // retention sweep
      require(n1 > 0 && n2 > 0, s"delete waves matched nothing (n1=$n1, n2=$n2)")
      val hidden = t.readVersion(1).count() - t.read().count()
      require(hidden == n1 + n2,
        s"sidecars hide $hidden positions, expected ${n1 + n2}")
      require(t.liveFileNames() == before,
        "merge-on-read broke: a DELETE changed the data-file set")
      def summarize(df: org.apache.spark.sql.DataFrame, phase: String) =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(phase).as("phase"), col("o_orderstatus"), col("n"), col("sum_price"))
      val mor = summarize(t.read(), "mor")
      require(t.compact() > 0, "compaction skipped a DV-carrying table")
      require(t.liveFileNames().intersect(before).isEmpty,
        "compaction rewrote no files")
      val waves = Seq(("wave1", "-", n1, 0.0), ("wave2", "-", n2, 0.0))
        .toDF("phase", "o_orderstatus", "n", "sum_price")
      waves.union(mor).union(summarize(t.read(), "materialized"))
        .orderBy(col("phase"), col("o_orderstatus"))
    },
    Some("""WITH kept AS (
           |  SELECT * FROM orders
           |  WHERE NOT (o_custkey % 7 = 3)
           |    AND NOT (o_orderdate < TIMESTAMP '1996-01-01 00:00:00')),
           |agg AS (
           |  SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
           |  FROM kept GROUP BY o_orderstatus),
           |w AS (
           |  SELECT 'wave1' AS phase, '-' AS o_orderstatus,
           |         (SELECT count(*) FROM orders WHERE o_custkey % 7 = 3) AS n,
           |         CAST(0 AS DOUBLE) AS sum_price
           |  UNION ALL
           |  SELECT 'wave2', '-',
           |         (SELECT count(*) FROM orders
           |          WHERE o_orderdate < TIMESTAMP '1996-01-01 00:00:00'
           |            AND NOT (o_custkey % 7 = 3)),
           |         CAST(0 AS DOUBLE))
           |SELECT phase, o_orderstatus, n, sum_price FROM (
           |  SELECT * FROM w
           |  UNION ALL SELECT 'mor' AS phase, o_orderstatus, n, sum_price FROM agg
           |  UNION ALL SELECT 'materialized', o_orderstatus, n, sum_price FROM agg)
           |ORDER BY phase, o_orderstatus""".stripMargin),
    "Deletion vectors: positions-only merge-on-read DELETE, zero data rewrite, deferred materialization (Delta DV analog)")

  /** Deletion vectors × time travel (the r9 verdict's composition ask) as a
    * verified row. A DV delete is a NAMED commit (v2) whose delta adds one
    * positions sidecar, so `VERSION AS OF 1` RESURRECTS the deleted rows —
    * both before and after the OPTIMIZE commit (v3) that rewrites the files
    * and materializes the deletes — while the live read keeps them deleted.
    * The row `require`s the zero-write-amplification property (data files
    * untouched by the delete) and that the OPTIMIZE commit rewrote every
    * file; the oracle restates all four phases relationally, so the hash
    * pins live-vs-historical against the same DELETE predicate.
    *
    * Scale: identical cost story to q64 (positions-only delete, anti-join
    * read) — time travel costs nothing extra: a historical read is a plain
    * scan of that version's files, which VACUUM alone removes. */
  val dvtt = QueryDef(
    "q64b_dv_time_travel",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q64b-dvtt-").resolve("orders_dvtt").toString
      val t = new LogTable(spark, root, o.schema)
      t.overwrite(o)                                                  // v1
      val before = t.liveFileNames()
      val n1 = t.deleteWhere(pmod(col("o_custkey"), lit(5)) === 2)    // v2: GDPR stratum
      require(n1 > 0, "delete matched nothing — the composition was never exercised")
      require(t.liveFileNames() == before,
        "merge-on-read broke: the DV delete changed the data-file set")
      def summarize(df: org.apache.spark.sql.DataFrame, phase: String) =
        df.groupBy(col("o_orderstatus"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(phase).as("phase"), col("o_orderstatus"), col("n"), col("sum_price"))
      // summarized BEFORE the OPTIMIZE commit, read after it: snapshots are
      // immutable files, so both views still serve their own versions
      val liveMor = summarize(t.read(), "live_mor")
      val v1Live = summarize(t.readVersion(1), "v1_live_tree")
      require(t.compact() > 0, "OPTIMIZE skipped a DV-carrying table")  // v3
      require(t.liveFileNames().intersect(before).isEmpty,
        "OPTIMIZE must rewrite the DV-carrying files")
      require(t.history() == Seq(1L, 2L, 3L),
        s"expected versions 1,2,3 readable, got ${t.history().mkString(",")}")
      val counts = Seq(("deleted", "-", n1, 0.0))
        .toDF("phase", "o_orderstatus", "n", "sum_price")
      counts.union(liveMor).union(v1Live)
        .union(summarize(t.readVersion(1), "v1_retired"))
        .union(summarize(t.read(), "v2_live"))
        .orderBy(col("phase"), col("o_orderstatus"))
    },
    Some("""WITH kept AS (SELECT * FROM orders WHERE NOT (o_custkey % 5 = 2)),
           |agg_kept AS (
           |  SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
           |  FROM kept GROUP BY o_orderstatus),
           |agg_full AS (
           |  SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
           |  FROM orders GROUP BY o_orderstatus)
           |SELECT phase, o_orderstatus, n, sum_price FROM (
           |  SELECT 'deleted' AS phase, '-' AS o_orderstatus,
           |         (SELECT count(*) FROM orders WHERE o_custkey % 5 = 2) AS n,
           |         CAST(0 AS DOUBLE) AS sum_price
           |  UNION ALL SELECT 'live_mor', o_orderstatus, n, sum_price FROM agg_kept
           |  UNION ALL SELECT 'v1_live_tree', o_orderstatus, n, sum_price FROM agg_full
           |  UNION ALL SELECT 'v1_retired', o_orderstatus, n, sum_price FROM agg_full
           |  UNION ALL SELECT 'v2_live', o_orderstatus, n, sum_price FROM agg_kept)
           |ORDER BY phase, o_orderstatus""".stripMargin),
    "Deletion vectors compose with time travel: pre-delete versions resurrect in historical reads, live read stays deleted (Delta DV-in-commit-log analog)")

  /** Optimistic concurrency (the Delta multi-writer commit protocol) as a
    * verified row. Two writers derive merges from the SAME snapshot —
    * writer A an SCD1 upsert, writer B an insert-only merge — with the
    * expensive distributed work (the staged rewrite) done lock-free. The
    * interleaving is FORCED: B's first merge invocation runs A's whole
    * [[graft.merge.LogTable.occMerge]], so A's commit lands between B's
    * snapshot read and B's CAS. B's CAS then FAILS (version 2 exists), its
    * staged files are discarded, and B re-derives against A's committed
    * state — exactly two attempts, `require`d. The oracle restates the
    * SERIAL schedule A-then-B, so the hash match proves the protocol is
    * serializable: the lost-update anomaly (B's first staging, derived
    * from the pre-A snapshot, would have erased A's updates) is exactly
    * what the failed CAS discarded.
    *
    * Scale: staging is a full distributed merge with no lock held; only the
    * create-exclusive of the next manifest serializes (the Delta
    * putIfAbsent of version N+1); conflict cost is a re-stage, same as
    * Delta's logical re-attempt. */
  val occ = QueryDef(
    "q66_occ_merge",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q66-occ-").resolve("orders_occ").toString
      val t = new LogTable(spark, root, o.schema)
      t.overwrite(o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))
      val batchA = o.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
        .withColumn("o_orderstatus", lit("R"))
      val batchB = o.filter(col("o_totalprice") > 150000)
      val aDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val attempts = t.occMerge(batchB) { (cur, b) =>
        if (aDone.compareAndSet(false, true)) {
          // writer A commits while B is staging against the same snapshot
          val aAttempts = t.occMerge(batchA)((c, a) => Merge.scd1(c, a, Seq("o_orderkey")))
          require(aAttempts == 1, s"writer A's CAS must land on the clean table ($aAttempts)")
        }
        Merge.insertOnly(cur, b, Seq("o_orderkey"))
      }
      require(attempts == 2,
        s"writer B's first CAS must FAIL and its rebase land cleanly (got $attempts attempts)")
      require(t.currentVersion == 3L,
        s"the log must hold exactly 3 commits, got ${t.currentVersion}")
      t.read().groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .orderBy(col("o_orderstatus"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |v1 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |ba AS (SELECT o_orderkey, 'R' AS o_orderstatus,
           |              round(o_totalprice + 1000, 2) AS o_totalprice, o_orderdate
           |       FROM o WHERE o_orderstatus = 'F'),
           |v2 AS (SELECT * FROM ba
           |  UNION ALL
           |  SELECT * FROM v1
           |  WHERE NOT EXISTS (SELECT 1 FROM ba b WHERE b.o_orderkey = v1.o_orderkey)),
           |bb AS (SELECT * FROM o WHERE o_totalprice > 150000),
           |v3 AS (SELECT * FROM v2
           |  UNION ALL
           |  SELECT * FROM bb b
           |  WHERE NOT EXISTS (SELECT 1 FROM v2 t WHERE t.o_orderkey = b.o_orderkey))
           |SELECT o_orderstatus, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
           |FROM v3 GROUP BY o_orderstatus ORDER BY o_orderstatus""".stripMargin),
    "Optimistic concurrency: lock-free staging, manifest CAS, forced conflict rebase == serial schedule (Delta multi-writer protocol analog)")

  /** OCC under SAME-KEY contention (the r9 verdict's contended ask): two
    * writers upsert the SAME user keys with a recency guard, and the
    * interleaving is FORCED — writer A commits between writer B's snapshot
    * read and CAS (B's first merge invocation triggers A's full
    * stage+commit), so B's first attempt deterministically loses the
    * manifest CAS and its rebase re-derives
    * against A's committed rows. `require(attempts > 1)` pins that the
    * retry loop actually ran — the OccSpec analog q66 can't assert (its
    * re-stage starts clean).
    *
    * Order-independence by construction (M3 semantics): the recency column
    * `ord = ts_us·10¹⁰ + event_id` is globally unique and lexicographic in
    * (ts_us, event_id), so per user the surviving row after any commit
    * order is the global argmax — the oracle needs no knowledge of the
    * schedule, only `row_number() OVER (ORDER BY ts_us DESC, event_id
    * DESC)`. A plain ts guard would be order-DEPENDENT on cross-writer ts
    * ties (incumbent wins a tie, and incumbency is the race outcome).
    *
    * Scale: identical to q66 — staging is the full distributed merge with
    * no lock held; the conflict costs one re-stage. */
  val occContended = QueryDef(
    "q66b_occ_contended",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
        .withColumn("ord",
          col("ts_us").cast("decimal(38,0)") * lit(10000000000L) + col("event_id"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      require(maxId < 10000000000L,
        "ord construction needs event_id < 1e10 for lexicographic packing")
      val c0 = maxId / 3; val c1 = 2 * maxId / 3
      val latest = (df: org.apache.spark.sql.DataFrame) =>
        Relational.dedupKeyed(df, Seq("user_id"), Seq(col("ord").desc))
      val seed = latest(ev.filter(col("event_id") <= c0))
      val batchA = latest(ev.filter(col("event_id") > c0 && col("event_id") <= c1))
      val batchB = latest(ev.filter(col("event_id") > c1))
      val root = FixtureDirs.create("q66b-occ-").resolve("events_occ").toString
      val t = new LogTable(spark, root, seed.schema)
      t.overwrite(seed)
      val mergeFn = (cur: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) =>
        Merge.cdcUpsert(cur, b, Seq("user_id"), "ord")
      val aDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val attempts = t.occMerge(batchB, maxAttempts = 5) { (cur, b) =>
        if (aDone.compareAndSet(false, true)) {
          // forced interleaving: A's commit lands while B is staging
          val aAttempts = t.occMerge(batchA)(mergeFn)
          require(aAttempts == 1, s"writer A saw contention ($aAttempts attempts)")
        }
        mergeFn(cur, b)
      }
      require(attempts > 1,
        s"forced interleaving must make B's first attempt lose (got $attempts)")
      require(t.currentVersion == 3L,
        s"expected seed + A + B commits, got version ${t.currentVersion}")
      t.read()
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
        .orderBy(col("user_id"))
    },
    Some(s"""WITH $evCte
            |SELECT event_id, user_id, event_type, value, ts_us FROM ev
            |QUALIFY row_number() OVER (PARTITION BY user_id
            |  ORDER BY ts_us DESC, event_id DESC) = 1
            |ORDER BY user_id""".stripMargin),
    "OCC same-key contention: forced interleaving, attempts > 1, rebase result == global latest per key regardless of commit order (M3 recency guard)")

  /** COMMIT-LOG TABLE lifecycle (q67) — [[graft.merge.LogTable]]
    * exercised END-TO-END on ONE table that composes everything a
    * directory-swap table would have to reject: BUCKETED (8 buckets on the key) with FILE
    * STATS, through five commits — overwrite, partition-scoped merge
    * (untouched buckets' files shared across versions), a DV delete that
    * is a NAMED version (data files untouched — `require`d), then a
    * CONTENDED OCC pair with forced interleaving (manifest-CAS rebase,
    * attempts > 1 `require`d; staging reads an IMMUTABLE snapshot, so the
    * vanished-snapshot conflict class cannot occur). Every version is then
    * read back VERSION AS OF and summarized, plus a stats-pruned range
    * read over the live table — the oracle restates the whole serial
    * history relationally, so one hash pins commit semantics, bucketed
    * time travel, DV-aware history, and OCC serializability together. */
  val logLifecycle = QueryDef(
    "q67_logtable_lifecycle",
    (spark, dir) => {
      import spark.implicits._
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q67-log-").resolve("orders_log").toString
      val t = new graft.merge.LogTable(spark, root, o.schema,
        bucketBy = Some((Seq("o_orderkey"), 8)), statsBy = Seq("o_orderdate"))
      t.overwrite(o.filter(col("o_orderdate") < lit("1998-01-01").cast("timestamp")))  // v1
      t.merge(o.filter(col("o_totalprice") > 150000))(                                  // v2
        (cur, b) => Merge.insertOnly(cur, b, Seq("o_orderkey")))
      // (a corpus-wide batch touches every bucket, so no file sharing to
      // require HERE — LogTableSpec pins cross-version file sharing with a
      // bucket-confined batch)
      val v2Files = t.liveFileNames().toSet
      val n3 = t.deleteWhere(pmod(col("o_custkey"), lit(7)) === 3)                      // v3
      require(n3 > 0, "DV delete matched nothing")
      require(t.liveFileNames().toSet == v2Files,
        "DV delete must not touch data files")
      val batchA = o.filter(col("o_orderstatus") === "F")
        .withColumn("o_totalprice", round(col("o_totalprice") + 1000, 2))
        .withColumn("o_orderstatus", lit("R"))
      val batchB = o.filter(col("o_custkey") % 5 === 1)
      val aDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      val attempts = t.occMerge(batchB, maxAttempts = 5) { (cur, b) =>                  // v4+v5
        if (aDone.compareAndSet(false, true))
          require(t.occMerge(batchA)((c2, b2) =>
            Merge.scd1(c2, b2, Seq("o_orderkey"))) == 1)
        Merge.insertOnly(cur, b, Seq("o_orderkey"))
      }
      require(attempts > 1,
        s"forced interleaving must make B's first CAS lose (got $attempts)")
      require(t.history() == Seq(1L, 2L, 3L, 4L, 5L),
        s"expected versions 1..5, got ${t.history().mkString(",")}")
      def phase(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(name).as("phase"), col("n"), col("sum_price"))
      val range = t.readRange("o_orderdate",
        lit("1996-01-01").cast("timestamp"), lit("1996-06-30").cast("timestamp"))
      (1L to 5L).map(v => phase(s"v$v", t.readVersion(v)))
        .reduce(_ union _)
        .union(Seq(("deleted", n3, 0.0)).toDF("phase", "n", "sum_price"))
        .union(phase("range", range))
        .orderBy(col("phase"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |v1 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |b2 AS (SELECT * FROM o WHERE o_totalprice > 150000),
           |v2 AS (SELECT * FROM v1
           |  UNION ALL SELECT * FROM b2 b
           |  WHERE NOT EXISTS (SELECT 1 FROM v1 t WHERE t.o_orderkey = b.o_orderkey)),
           |v3 AS (SELECT * FROM v2 WHERE NOT (o_custkey % 7 = 3)),
           |ba AS (SELECT o_orderkey, o_custkey, 'R' AS o_orderstatus,
           |              round(o_totalprice + 1000, 2) AS o_totalprice, o_orderdate
           |       FROM o WHERE o_orderstatus = 'F'),
           |v4 AS (SELECT * FROM ba
           |  UNION ALL SELECT * FROM v3
           |  WHERE NOT EXISTS (SELECT 1 FROM ba b WHERE b.o_orderkey = v3.o_orderkey)),
           |bb AS (SELECT * FROM o WHERE o_custkey % 5 = 1),
           |v5 AS (SELECT * FROM v4
           |  UNION ALL SELECT * FROM bb b
           |  WHERE NOT EXISTS (SELECT 1 FROM v4 t WHERE t.o_orderkey = b.o_orderkey)),
           |s AS (
           |  SELECT 'v1' AS phase, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price FROM v1
           |  UNION ALL SELECT 'v2', count(*), round(sum(o_totalprice), 2) FROM v2
           |  UNION ALL SELECT 'v3', count(*), round(sum(o_totalprice), 2) FROM v3
           |  UNION ALL SELECT 'v4', count(*), round(sum(o_totalprice), 2) FROM v4
           |  UNION ALL SELECT 'v5', count(*), round(sum(o_totalprice), 2) FROM v5
           |  UNION ALL SELECT 'deleted',
           |    (SELECT count(*) FROM v2 WHERE o_custkey % 7 = 3), CAST(0 AS DOUBLE)
           |  UNION ALL SELECT 'range', count(*), round(sum(o_totalprice), 2) FROM v5
           |    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |      AND o_orderdate <= TIMESTAMP '1996-06-30 00:00:00')
           |SELECT phase, n, sum_price FROM s ORDER BY phase""".stripMargin),
    "commit-log table lifecycle: bucketed x time travel x file stats x DV-as-named-version x contended OCC, one manifest log (Delta protocol from first principles)")

  /** LOG MAINTENANCE (q68) — the checkpoint × compaction × vacuum
    * composition on one [[graft.merge.LogTable]]: four appends (delta
    * manifests; the interval-3 checkpoint lands at v3), a DV delete (v5),
    * then [[graft.merge.LogTable.compact]] (v6 — `dataChange = false`,
    * deletion vectors MATERIALIZED into the rewrite, file count collapses
    * to the size target — all `require`d), then [[vacuum]] dropping
    * v1–v3. Vacuum must first cut a checkpoint at the oldest retained
    * version (v4) or that version becomes unreconstructible — the require
    * on `checkpointVersions` pins exactly that protocol step. Post-vacuum,
    * v4 is read THROUGH its vacuum-cut checkpoint, v5 through
    * checkpoint(4)+one delta, live through checkpoint(6): all three
    * reconstruction paths in one oracle. The oracle restates the content
    * relationally — appends of 4 disjoint chunks = the full table, the
    * delete = a filter, compact/vacuum = logical no-ops. */
  val logMaintenance = QueryDef(
    "q68_logtable_maintenance",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q68-log-").resolve("orders_maint").toString
      val t = new graft.merge.LogTable(spark, root, o.schema,
        statsBy = Seq("o_orderdate"), checkpointInterval = 3)
      (0 to 3).foreach(c =>                                                 // v1..v4
        t.append(o.filter(pmod(col("o_orderkey"), lit(4)) === c)))
      require(t.checkpointVersions() == Seq(3L),
        s"interval-3 checkpoint expected at v3: ${t.checkpointVersions()}")
      val nDel = t.deleteWhere(pmod(col("o_custkey"), lit(10)) === 4)       // v5 (DV)
      require(nDel > 0, "DV delete matched nothing")
      val filesBefore = t.liveFileNames().size
      val removed = t.compact()                                             // v6, dataChange=false
      require(removed == filesBefore, "compact must replace every data file")
      require(t.liveFileNames().size < filesBefore,
        "compact did not reduce the file count")
      require(t.readVersion(6).count() == t.readVersion(5).count(),
        "compact changed the logical content")
      val dropped = t.vacuum(retainLast = 3)
      require(dropped == Seq(1L, 2L, 3L) && t.history() == Seq(4L, 5L, 6L),
        s"vacuum must drop v1-v3: dropped=$dropped history=${t.history()}")
      require(t.checkpointVersions() == Seq(4L, 6L),
        "vacuum must cut a checkpoint at the oldest retained version " +
          s"(and keep v6's): ${t.checkpointVersions()}")
      def phase(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(name).as("phase"), col("n"), col("sum_price"))
      import spark.implicits._
      phase("v4", t.readVersion(4))          // checkpoint(4), vacuum-cut
        .union(phase("v5", t.readVersion(5))) // checkpoint(4) + one delta
        .union(phase("live", t.read()))       // checkpoint(6) exact
        .union(Seq(("deleted", nDel, 0.0)).toDF("phase", "n", "sum_price"))
        .orderBy(col("phase"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, o_orderdate FROM orders),
           |v5 AS (SELECT * FROM o WHERE NOT (o_custkey % 10 = 4)),
           |s AS (
           |  SELECT 'v4' AS phase, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price FROM o
           |  UNION ALL SELECT 'v5', count(*), round(sum(o_totalprice), 2) FROM v5
           |  UNION ALL SELECT 'live', count(*), round(sum(o_totalprice), 2) FROM v5
           |  UNION ALL SELECT 'deleted',
           |    (SELECT count(*) FROM o WHERE o_custkey % 10 = 4), CAST(0 AS DOUBLE))
           |SELECT phase, n, sum_price FROM s ORDER BY phase""".stripMargin),
    "log-table maintenance: interval checkpoints, OPTIMIZE with DV materialization (dataChange=false), vacuum cutting a checkpoint at the retention boundary — all three snapshot-reconstruction paths in one hash")

  /** CHANGE FEED consumption protocol (q69) —
    * [[graft.merge.LogTable.changesSince]] driven through the full contract
    * on one table: (1) an append feeds exactly its rows; (2) a compaction
    * commit between polls is TRANSPARENT (`dataChange = false` — the
    * rewrite never reaches the consumer); (3) an empty poll returns an
    * unchanged cursor; (4) an update-class commit (merge rewrite) poisons
    * the span — `require`d to throw — until the consumer opts into
    * `ignoreChanges`, which re-emits the rewritten files IN FULL
    * (at-least-once, Delta's `ignoreChanges` verbatim). The consumer is the
    * matching idempotent downstream: latest EMISSION per key wins, so its
    * materialized state converges to the table despite the duplicate
    * delivery — the exactly-once-by-idempotence composition the reference's
    * streaming tests pin, here at the protocol level. The oracle restates
    * feed slices as range filters (thirds via scalar subqueries — SF-honest)
    * and the final state as the updated table. */
  val logChangeFeed = QueryDef(
    "q69_logtable_change_feed",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val c0 = maxId / 3; val c1 = 2 * maxId / 3
      val root = FixtureDirs.create("q69-log-").resolve("events_feed").toString
      val t = new graft.merge.LogTable(spark, root, ev.schema)
      val feeds = scala.collection.mutable.ArrayBuffer.empty[(Int, org.apache.spark.sql.DataFrame)]
      t.append(ev.filter(col("event_id") <= c0))                            // v1
      val (cur1, f1) = t.changesSince(0L)
      feeds += ((1, f1))
      t.append(ev.filter(col("event_id") > c0 && col("event_id") <= c1))    // v2
      require(t.compact() > 0, "compaction expected to rewrite files")      // v3
      val (cur2, f2) = t.changesSince(cur1)
      require(cur2 == 3L, s"cursor must advance past the compaction: $cur2")
      feeds += ((2, f2))
      val (cur2b, _) = t.changesSince(cur2)
      require(cur2b == cur2, "empty poll must not move the cursor")
      // update-class commit: upsert the last third AND boost the first
      // third's event_type — a rewrite, not an append
      val batch = ev.filter(col("event_id") > c1)
        .union(ev.filter(col("event_id") <= c0)
          .withColumn("event_type", lit("boosted")))
      t.merge(batch)((curDf, b) => Merge.scd1(curDf, b, Seq("event_id")))   // v4
      val poisoned =
        try { t.changesSince(cur2); false }
        catch { case _: IllegalArgumentException => true }
      require(poisoned, "an update commit must poison the plain feed")
      val (cur3, f3) = t.changesSince(cur2, ignoreChanges = true)
      require(cur3 == 4L, s"cursor must land on the merge commit: $cur3")
      feeds += ((3, f3))
      // idempotent consumer: latest emission per key wins
      val state = Relational.dedupKeyed(
        feeds.map { case (step, df) => df.withColumn("__step", lit(step)) }
          .reduce(_ union _),
        Seq("event_id"), Seq(col("__step").desc)).drop("__step")
      def feedRow(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
          .select(lit(name).as("phase"), lit("*").as("event_type"), col("n"), col("users"))
      feedRow("feed1", f1)
        .union(feedRow("feed2", f2))
        .union(feedRow("feed3", f3))
        .union(state.groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"))
          .select(lit("state").as("phase"), col("event_type"), col("n"), col("users")))
        .orderBy(col("phase"), col("event_type"))
    },
    Some(s"""WITH $evCte,
            |b AS (SELECT max(event_id) // 3 AS c0, 2 * max(event_id) // 3 AS c1 FROM ev),
            |upd AS (SELECT event_id, user_id,
            |               CASE WHEN event_id <= (SELECT c0 FROM b) THEN 'boosted'
            |                    ELSE event_type END AS event_type, value, ts_us
            |        FROM ev),
            |s AS (
            |  SELECT 'feed1' AS phase, '*' AS event_type, count(*) AS n,
            |         count(DISTINCT user_id) AS users
            |  FROM ev WHERE event_id <= (SELECT c0 FROM b)
            |  UNION ALL SELECT 'feed2', '*', count(*), count(DISTINCT user_id)
            |  FROM ev WHERE event_id > (SELECT c0 FROM b) AND event_id <= (SELECT c1 FROM b)
            |  UNION ALL SELECT 'feed3', '*', count(*), count(DISTINCT user_id) FROM upd
            |  UNION ALL SELECT 'state', event_type, count(*), count(DISTINCT user_id)
            |  FROM upd GROUP BY event_type)
            |SELECT phase, event_type, n, users FROM s
            |ORDER BY phase, event_type""".stripMargin),
    "change-feed protocol: append feeds, compaction transparently skipped, update commit poisons the span until ignoreChanges re-emits in full, idempotent latest-emission consumer converges to the table (Delta readChangeFeed/ignoreChanges semantics)")

  /** CLUSTERED COMPACT (q70) — `OPTIMIZE … ZORDER BY` / liquid-clustering
    * re-layout on the log table: four key-random appends (each slice spans
    * the FULL date range, so per-file min/max stats are vacuous —
    * `require`d: the range read prunes NOTHING before), then
    * `compact(clusterBy = o_orderdate)` range-partitions + sorts the
    * rewrite so each output file covers a tight date band, and the SAME
    * [[graft.merge.LogTable.readRange]] now opens strictly fewer files
    * (`require`d after). Content is pinned by the oracle — clustering is a
    * pure layout move. The 100 TB shape: the rewrite is one
    * `repartitionByRange` (sampled bounds, no single-reducer sort) + a
    * per-file sort, and the pruning it buys compounds with the
    * stats-in-manifest read path at any scale. */
  val logClustered = QueryDef(
    "q70_logtable_clustered",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q70-log-").resolve("orders_clu").toString
      val t = new graft.merge.LogTable(spark, root, o.schema,
        statsBy = Seq("o_orderdate"))
      (0 to 3).foreach(c =>                                                 // v1..v4
        t.append(o.filter(pmod(col("o_orderkey"), lit(4)) === c)))
      val lo = lit("1996-01-01").cast("timestamp")
      val hi = lit("1996-06-30").cast("timestamp")
      val preFiles = t.liveFileNames().size
      val prePruned = t.readRange("o_orderdate", lo, hi).inputFiles.length
      require(prePruned == preFiles,
        s"key-random appends must not be prunable ($prePruned of $preFiles)")
      require(t.compact(targetFileBytes = 64L << 10,                       // v5
        clusterBy = Seq("o_orderdate")) == preFiles)
      val files = t.liveFileNames().size
      val range = t.readRange("o_orderdate", lo, hi)
      require(files > 1 && range.inputFiles.length < files,
        s"clustering must make stats selective (${range.inputFiles.length} of $files)")
      def phase(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(name).as("phase"), col("n"), col("sum_price"))
      phase("all", t.read()).union(phase("range", range)).orderBy(col("phase"))
    },
    Some("""WITH o AS (SELECT o_totalprice, o_orderdate FROM orders),
           |s AS (
           |  SELECT 'all' AS phase, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price FROM o
           |  UNION ALL SELECT 'range', count(*), round(sum(o_totalprice), 2) FROM o
           |    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |      AND o_orderdate <= TIMESTAMP '1996-06-30 00:00:00')
           |SELECT phase, n, sum_price FROM s ORDER BY phase""".stripMargin),
    "clustered compact (OPTIMIZE ZORDER / liquid-clustering analog): range-partitioned rewrite turns vacuous per-file stats into selective ones — readRange prunes files it could not before, content bit-identical")

  /** SCHEMA IN THE LOG (q71) — Delta's metaData action on the commit-log
    * table, the composition q53's table-level evolve cannot express: the
    * schema is itself versioned, so (1) `readVersion(pre-evolution)` comes
    * back NARROW (`require`d: 4 columns), (2) the live read serves old
    * files null-filled under the evolved schema (the mergeSchema read,
    * resolved from the log — no footer scans), (3) the evolve commit is
    * `dataChange = false`, so the change feed SKIPS it and serves the
    * post-evolution append in the end-version schema, and (4) no data file
    * is touched by the evolve (`require`d). The oracle restates all of it
    * relationally with the q53 CASE. */
  val logEvolve = QueryDef(
    "q71_logtable_schema_evolution",
    (spark, dir) => {
      val full = Tables.orders(spark, dir)
      val cut = lit("1998-01-01").cast("timestamp")
      val narrow = full.select(col("o_orderkey"), col("o_orderstatus"),
        col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q71-evo-").resolve("orders_evo").toString
      val t = new graft.merge.LogTable(spark, root, narrow.schema)
      t.overwrite(narrow.filter(col("o_orderdate") < cut))                 // v1
      val files1 = t.liveFileNames()
      t.evolve(narrow.schema.add("o_orderpriority",                        // v2: metaData only
        org.apache.spark.sql.types.StringType))
      require(t.liveFileNames() == files1, "evolve must touch no data file")
      require(t.readVersion(1).schema.fieldNames.length == 4,
        "pre-evolution version must come back narrow")
      require(t.currentSchema.fieldNames.length == 5,
        "live schema must be the evolved one")
      t.append(full.select(col("o_orderkey"), col("o_orderstatus"),        // v3
          col("o_totalprice"), col("o_orderdate"), col("o_orderpriority"))
        .filter(col("o_orderdate") >= cut))
      // the change feed skips the evolve commit and serves the append in
      // the evolved schema
      val feed = t.changesBetween(1L, 3L)
      require(feed.schema.fieldNames.length == 5,
        "feed must serve the end-version schema")
      def row(phase: String, prio: org.apache.spark.sql.Column,
              df: org.apache.spark.sql.DataFrame) =
        df.groupBy(prio.as("prio"))
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(phase).as("phase"), col("prio"), col("n"), col("sum_price"))
      row("v1", lit("*"), t.readVersion(1))
        .union(row("live", coalesce(col("o_orderpriority"), lit("PRE-EVOLUTION")), t.read()))
        .union(row("feed", lit("*"), feed))
        .orderBy(col("phase"), col("prio"))
    },
    Some("""WITH o AS (SELECT o_totalprice, o_orderdate, o_orderpriority FROM orders),
           |s AS (
           |  SELECT 'v1' AS phase, '*' AS prio, count(*) AS n,
           |         round(sum(o_totalprice), 2) AS sum_price
           |  FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |  UNION ALL
           |  SELECT 'live', CASE WHEN o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |                      THEN 'PRE-EVOLUTION' ELSE o_orderpriority END,
           |         count(*), round(sum(o_totalprice), 2)
           |  FROM o GROUP BY 2
           |  UNION ALL
           |  SELECT 'feed', '*', count(*), round(sum(o_totalprice), 2)
           |  FROM o WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00')
           |SELECT phase, prio, n, sum_price FROM s ORDER BY phase, prio""".stripMargin),
    "schema evolution as a log action (Delta metaData): versioned schema, narrow time travel, null-filled mergeSchema reads, change feed skips the metaData commit")

  /** SQL SURFACE over the log table (q72) — the batch relation
    * ([[graft.sources.LogTableRelation]]) driven the way a SQL user would:
    * `df.write.format("graft-logtable")` creates the table (first commit
    * embeds the schema — the log is self-describing, the later reads pass
    * NO schema), `CREATE TABLE … USING` + `INSERT INTO … SELECT` append
    * through the same CAS protocol, the range SELECT's filters reach the
    * relation scan (`PushedFilters` `require`d in the plan — manifest-stats
    * pruning with Spark re-evaluating, superset-safe), and
    * `versionAsOf` time-travels to the pre-INSERT version. One oracle pins
    * the whole DDL/DML/scan/time-travel loop. */
  val logSql = QueryDef(
    "q72_logtable_sql",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val root = FixtureDirs.create("q72-sql-").resolve("orders_sql").toString
      o.filter(col("o_orderdate") < cut).write.format("graft-logtable")
        .option("statsBy", "o_orderdate").save(root)                     // v1
      val tbl = "q72_orders_log"
      spark.sql(s"DROP TABLE IF EXISTS $tbl")
      spark.sql(s"CREATE TABLE $tbl USING `graft-logtable` OPTIONS (path '$root')")
      try {
        o.filter(col("o_orderdate") >= cut).createOrReplaceTempView("q72_batch")
        spark.sql(s"INSERT INTO $tbl SELECT * FROM q72_batch")           // v2
        val range = spark.sql(
          s"""SELECT count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
             |FROM $tbl
             |WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
             |  AND o_orderdate <= TIMESTAMP '1996-06-30 00:00:00'""".stripMargin)
        require(range.queryExecution.executedPlan.toString.contains("PushedFilters"),
          "range filters did not reach the relation scan")
        val v1 = spark.read.format("graft-logtable") // no .schema: self-describing
          .option("versionAsOf", "1").load(root)
        def phase(name: String, df: org.apache.spark.sql.DataFrame) =
          df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
            .select(lit(name).as("phase"), col("n"), col("sum_price"))
        phase("v1", v1)
          .union(phase("live", spark.table(tbl)))
          .union(range.select(lit("range").as("phase"), col("n"), col("sum_price")))
          .orderBy(col("phase"))
          .localCheckpoint(true) // materialize BEFORE the table is dropped
      } finally spark.sql(s"DROP TABLE IF EXISTS $tbl")
    },
    Some("""WITH o AS (SELECT o_totalprice, o_orderdate FROM orders),
           |s AS (
           |  SELECT 'v1' AS phase, count(*) AS n, round(sum(o_totalprice), 2) AS sum_price
           |  FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |  UNION ALL SELECT 'live', count(*), round(sum(o_totalprice), 2) FROM o
           |  UNION ALL SELECT 'range', count(*), round(sum(o_totalprice), 2) FROM o
           |    WHERE o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
           |      AND o_orderdate <= TIMESTAMP '1996-06-30 00:00:00')
           |SELECT phase, n, sum_price FROM s ORDER BY phase""".stripMargin),
    "SQL surface over the commit log: CREATE TABLE USING / INSERT INTO SELECT / pushed-filter SELECT / versionAsOf — the DSv1 relation face with self-describing schema and manifest pushdown")

  /** CHECK CONSTRAINTS in the log (q74) — Delta table constraints as
    * versioned metadata: `addConstraint` first scans the EXISTING content
    * (a constraint that does not already hold is rejected, `require`d
    * below with a deliberately-false candidate), every subsequent write
    * verb enforces it IN the write pass (`assert_true` in a filter — one
    * pass, no pre-scan; the poisoned append is `require`d to fail and to
    * commit NOTHING — content and version count pinned unchanged), and
    * `dropConstraint` re-opens the gate so the same poisoned batch lands.
    * Metadata commits are `dataChange = false`. The oracle restates the
    * surviving schedule: clean slice + the poisoned slice with its
    * negations, because the constraint was dropped before it landed. */
  val logConstraints = QueryDef(
    "q74_logtable_constraints",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val part1 = o.filter(col("o_orderdate") < cut)
      val poisoned = o.filter(col("o_orderdate") >= cut)
        .withColumn("o_totalprice",
          when(pmod(col("o_orderkey"), lit(97)) === 0, -col("o_totalprice"))
            .otherwise(col("o_totalprice")))
      val root = FixtureDirs.create("q74-chk-").resolve("orders_chk").toString
      val t = new graft.merge.LogTable(spark, root, o.schema)
      t.append(part1)                                                     // v1
      t.addConstraint("price_positive", "o_totalprice > 0")               // v2 (meta)
      val rejected =
        try { t.append(poisoned); false }
        catch { case e: Throwable =>
          def m(x: Throwable): Boolean = x != null &&
            (Option(x.getMessage).exists(_.contains("CHECK constraint 'price_positive'")) ||
              m(x.getCause))
          m(e)
        }
      require(rejected, "poisoned append must fail on the constraint")
      require(t.history() == Seq(1L, 2L),
        s"failed write must cut no version: ${t.history().mkString(",")}")
      // a threshold just above the observed minimum is violated by
      // construction at every SF (a fixed literal could silently hold —
      // the d49 lesson, again)
      val minP = part1.agg(min(col("o_totalprice"))).head().getDouble(0)
      val addRejected =
        try { t.addConstraint("price_large", s"o_totalprice > ${minP + 1}"); false }
        catch { case _: IllegalArgumentException => true }
      require(addRejected,
        "a constraint the existing data violates must be rejected, not recorded")
      t.dropConstraint("price_positive")                                  // v3 (meta)
      t.append(poisoned)                                                  // v4
      require(t.history() == Seq(1L, 2L, 3L, 4L))
      def phase(name: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(name).as("phase"), col("n"), col("sum_price"))
      phase("blocked", poisoned.filter(col("o_totalprice") <= 0))
        .union(phase("live", t.read()))
        .union(phase("v1", t.readVersion(1)))
        .orderBy(col("phase"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders),
           |pz AS (SELECT CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice
           |                   ELSE o_totalprice END AS o_totalprice
           |       FROM o WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
           |p1 AS (SELECT o_totalprice FROM o
           |       WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |live AS (SELECT o_totalprice FROM p1 UNION ALL SELECT o_totalprice FROM pz),
           |s AS (
           |  SELECT 'blocked' AS phase, count(*) AS n,
           |         round(sum(o_totalprice), 2) AS sum_price
           |  FROM pz WHERE o_totalprice <= 0
           |  UNION ALL SELECT 'live', count(*), round(sum(o_totalprice), 2) FROM live
           |  UNION ALL SELECT 'v1', count(*), round(sum(o_totalprice), 2) FROM p1)
           |SELECT phase, n, sum_price FROM s ORDER BY phase""".stripMargin),
    "CHECK constraints as versioned log metadata: add validates existing data, writes enforce in one pass and fail atomically, drop re-opens — Delta ALTER TABLE ADD/DROP CONSTRAINT semantics")

  /** IN-COMMIT TIMESTAMPS + `TIMESTAMP AS OF` (q75) — Delta's
    * inCommitTimestamp feature: every commit stamps a strictly-monotone
    * timestamp INSIDE its manifest (`max(prev+1, clock)` — immune to
    * file-mtime drift and to a wall clock that steps backwards), and
    * `TIMESTAMP AS OF t` resolves to the newest version stamped ≤ t. The
    * schedule below forces the clamp (v2 commits under a stepped-BACK
    * clock and must stamp 1001, `require`d) and composes the resolution
    * with a DV delete (the probe after v3 serves the deleted state —
    * timestamp travel reads the exact DV state of the resolved version).
    * The resolved version numbers ride IN the result, so the hash pins the
    * resolution rule itself, not just the served content. */
  val logTimestamps = QueryDef(
    "q75_logtable_timestamp_travel",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val root = FixtureDirs.create("q75-ts-").resolve("orders_ts").toString
      var now = 1000L
      val t = new graft.merge.LogTable(spark, root, o.schema,
        clock = () => now)
      t.append(o.filter(col("o_orderdate") < cut))                      // v1 @1000
      now = 900L // wall clock steps BACK — the commit must clamp forward
      t.append(o.filter(col("o_orderdate") >= cut))                     // v2 @1001
      now = 5000L
      val deleted = t.deleteWhere(pmod(col("o_orderkey"), lit(7)) === 0) // v3 @5000
      require(deleted > 0, "delete predicate must match rows at every SF")
      require(t.commitTimestamp(2) == 1001L,
        s"stepped-back clock must clamp to prev+1, got ${t.commitTimestamp(2)}")
      def phase(name: String, probeTs: Long) = {
        val ver = t.versionAtTimestamp(probeTs)
        t.readTimestamp(probeTs)
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit(name).as("phase"), lit(ver).as("ver"), col("n"), col("sum_price"))
      }
      phase("t1_v1", 1000L)
        .union(phase("t2_clamped_v2", 1001L))
        .union(phase("t3_gap_v2", 4999L))
        .union(phase("t4_v3_dv", 999999L))
        .orderBy(col("phase"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders),
           |p1 AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |lv AS (SELECT * FROM o WHERE o_orderkey % 7 <> 0),
           |s AS (
           |  SELECT 't1_v1' AS phase, CAST(1 AS BIGINT) AS ver, count(*) AS n,
           |         round(sum(o_totalprice), 2) AS sum_price FROM p1
           |  UNION ALL SELECT 't2_clamped_v2', 2, count(*), round(sum(o_totalprice), 2) FROM o
           |  UNION ALL SELECT 't3_gap_v2', 2, count(*), round(sum(o_totalprice), 2) FROM o
           |  UNION ALL SELECT 't4_v3_dv', 3, count(*), round(sum(o_totalprice), 2) FROM lv)
           |SELECT phase, ver, n, sum_price FROM s ORDER BY phase""".stripMargin),
    "In-commit timestamps: strictly-monotone commit stamps in the manifest (clock-step immune), TIMESTAMP AS OF resolves newest-at-or-before and composes with DV deletes — Delta inCommitTimestamp semantics")

  /** COLUMN MAPPING on the log table (q77 — Delta `columnMapping.mode=name`):
    * rename and drop are METADATA commits. The physical parquet name rides
    * in the versioned schema's field metadata, so a rename touches no data
    * file (`require`d on the live file list), history serves each version
    * under the names it had, and a drop RETIRES the physical name — the
    * later evolve re-adding the same logical name allocates a fresh
    * physical, so the dropped bytes stay buried (the hash pins
    * `n_null_dates = n` on the live read and the feed). The feed phase also
    * proves rename/drop/evolve commits are invisible to change-feed
    * consumers (`dataChange = false`) while the one data commit in the span
    * is served in the END version's mapped schema. */
  val logColumnMapping = QueryDef(
    "q77_logtable_column_mapping",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val root = FixtureDirs.create("q77-cm-").resolve("orders_cm").toString
      val t = new graft.merge.LogTable(spark, root, o.schema)
      t.overwrite(o.filter(col("o_orderdate") < cut))                    // v1
      val files1 = t.liveFileNames()
      t.renameColumn("o_totalprice", "price")                            // v2: metadata only
      require(t.liveFileNames() == files1, "rename must touch no data file")
      require(t.readVersion(1).columns.contains("o_totalprice"),
        "pre-rename version must serve the old name")
      t.append(o.filter(col("o_orderdate") >= cut)                       // v3
        .withColumnRenamed("o_totalprice", "price"))
      val files3 = t.liveFileNames()
      t.dropColumn("o_orderdate")                                        // v4: metadata only
      require(t.liveFileNames() == files3, "drop must touch no data file")
      t.evolve(org.apache.spark.sql.types.StructType(Seq(                // v5: re-add same
        org.apache.spark.sql.types.StructField("o_orderkey",             // logical name —
          org.apache.spark.sql.types.LongType),                          // FRESH physical
        org.apache.spark.sql.types.StructField("price",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("o_orderdate",
          org.apache.spark.sql.types.TimestampType))))
      def row(phase: String, df: org.apache.spark.sql.DataFrame, priceCol: String) =
        df.agg(count(lit(1)).as("n"),
            round(sum(col(priceCol)), 2).as("sum_price"),
            count(when(col("o_orderdate").isNull, 1)).as("n_null_dates"))
          .select(lit(phase).as("phase"), col("n"), col("sum_price"), col("n_null_dates"))
      row("v1_oldname", t.readVersion(1), "o_totalprice")
        .union(row("v3_renamed", t.readVersion(3), "price"))
        .union(row("live_readded", t.read(), "price"))
        .union(row("feed", t.changesBetween(1L, 5L), "price"))
        .orderBy(col("phase"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders),
           |pre AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |post AS (SELECT * FROM o WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
           |s AS (
           |  SELECT 'v1_oldname' AS phase, count(*) AS n,
           |         round(sum(o_totalprice), 2) AS sum_price,
           |         CAST(0 AS BIGINT) AS n_null_dates FROM pre
           |  UNION ALL SELECT 'v3_renamed', count(*), round(sum(o_totalprice), 2), 0 FROM o
           |  UNION ALL SELECT 'live_readded', count(*), round(sum(o_totalprice), 2), count(*) FROM o
           |  UNION ALL SELECT 'feed', count(*), round(sum(o_totalprice), 2), count(*) FROM post)
           |SELECT phase, n, sum_price, n_null_dates FROM s ORDER BY phase""".stripMargin),
    "Column mapping in the log: rename/drop as metadata commits (no file rewrite), physical names stable across renames, dropped bytes never resurrect under a re-added name, feed invisible to mapping commits")

  /** GENERATED COLUMNS on the log table (q78 — Delta `GENERATED ALWAYS
    * AS`): `o_year` is declared at creation as `year(o_orderdate)` with
    * file stats on it. Yearly append waves alternate OMITTING the column
    * (computed in the write pass) and SUPPLYING it (validated per row);
    * a poisoned wave carrying a wrong value is `require`d rejected with no
    * version cut. The payoff is DERIVED-VALUE FILE SKIPPING: the 1996
    * range read must touch fewer files than the full scan (`require`d) —
    * the date-partition-pruning pattern without materializing partitions
    * by hand. The hash pins the generated values (the `table` phase groups
    * BY the generated column) and the pruned read's content.
    *
    * Scale: generation + validation ride the write pass (no extra scan —
    * the q74 assert_true-in-filter shape); pruning is manifest-stats only
    * (no file listing, no footer reads). The years driving the waves are
    * DERIVED from the data, so no wave can silently go empty after a
    * testdata regeneration (the r10 date-floor lesson). */
  val generatedCols = QueryDef(
    "q78_logtable_generated_columns",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val root = FixtureDirs.create("q78-gen-").resolve("orders_gen").toString
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("o_orderkey",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("o_totalprice",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("o_orderdate",
          org.apache.spark.sql.types.TimestampType),
        graft.merge.LogTable.generated("o_year",
          org.apache.spark.sql.types.IntegerType, "year(o_orderdate)")))
      val t = new graft.merge.LogTable(spark, root, schema,
        statsBy = Seq("o_year"))
      val years = o.select(year(col("o_orderdate")).as("y")).distinct()
        .collect().map(_.getInt(0)).sorted
      years.zipWithIndex.foreach { case (y, i) =>
        val wave = o.filter(year(col("o_orderdate")) === y)
        if (i % 2 == 0) t.append(wave)                    // omitted → computed
        else t.append(wave.withColumn("o_year", year(col("o_orderdate"))))
      }
      val vBefore = t.currentVersion
      val poisoned = scala.util.Try(
        t.append(o.limit(5).withColumn("o_year", lit(1900))))
      require(poisoned.isFailure && t.currentVersion == vBefore,
        "poisoned generated value must be rejected with no version cut")
      val probe = years(years.length / 2)
      val pruned = t.readRange("o_year", lit(probe), lit(probe))
      require(pruned.inputFiles.length < t.read().inputFiles.length,
        "generated-column stats must skip files")
      t.read().groupBy(col("o_year"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
        .select(lit("table").as("src"), col("o_year"), col("n"), col("sum_price"))
        .unionByName(pruned
          .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
          .select(lit("pruned").as("src"), lit(probe).as("o_year"), col("n"),
            col("sum_price")))
        .orderBy(col("src"), col("o_year"))
    },
    Some("""WITH o AS (SELECT o_totalprice, CAST(year(o_orderdate) AS INTEGER) AS o_year FROM orders),
           |mid AS (SELECT y AS probe FROM (
           |  SELECT CAST(row_number() OVER (ORDER BY o_year) - 1 AS INTEGER) AS i, o_year AS y,
           |         count(*) OVER () AS ny
           |  FROM (SELECT DISTINCT o_year FROM o)) WHERE i = ny // 2),
           |s AS (
           |  SELECT 'table' AS src, o_year, count(*) AS n,
           |         round(sum(o_totalprice), 2) AS sum_price FROM o GROUP BY o_year
           |  UNION ALL
           |  SELECT 'pruned', probe, count(*), round(sum(o_totalprice), 2)
           |  FROM o, mid WHERE o_year = probe GROUP BY probe)
           |SELECT src, o_year, n, sum_price FROM s ORDER BY src, o_year""".stripMargin),
    "Generated columns in the log: compute-or-validate in the write pass, poisoned write rejected pre-commit, derived-value file skipping via manifest stats (Delta GENERATED ALWAYS AS)")

  /** M7 — SCD Type-2 history merge (the Delta dimension-history pattern;
    * beyond the reference's five flavors). A customer dimension goes through
    * two change batches: t=100 recovers negative balances (segment →
    * RECOVERED, +1000), t=200 promotes every 5th key to VIP, re-delivers
    * unchanged attributes for keys ≡1 (mod 5) — the NO-OP branch — and
    * introduces brand-new negative keys — the INSERT branch. Keys hit by
    * both batches accumulate a 3-version chain; the t=200 batch is applied
    * TWICE, so the final hash also proves re-application is a no-op (the M1
    * idempotency property, at the query level).
    *
    * The oracle builds the same history in closed form: the per-key version
    * list (v0 ∪ changed-vs-current v1 ∪ changed-vs-current v2), then chains
    * validity with `lead(eff_from)` — open interval ⇔ current. A hash match
    * proves closing times, pass-through of historical rows, the no-op
    * branch, and the insert path all agree.
    *
    * Scale: each application is ONE full-outer join of the current slice
    * with the batch (broadcast when the batch is small) emitting ≤2 rows per
    * match — history rows are never joined, so cost is O(current + batch)
    * per batch regardless of how deep the history grows. */
  val scd2q = QueryDef(
    "q76_merge_scd2",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_mktsegment"), col("c_acctbal"))
      val dim0 = c.withColumn("eff_from", lit(0L))
        .withColumn("eff_to", lit(null).cast("bigint"))
        .withColumn("is_current", lit(true))
      val b1 = c.filter(col("c_acctbal") < 0)
        .withColumn("c_mktsegment", lit("RECOVERED"))
        .withColumn("c_acctbal", col("c_acctbal") + 1000)
        .withColumn("eff_from", lit(100L))
      val b2 = c.filter(col("c_custkey") % 5 <= 1)
        .withColumn("c_mktsegment",
          when(col("c_custkey") % 5 === 0, lit("VIP")).otherwise(col("c_mktsegment")))
        .withColumn("eff_from", lit(200L))
        .unionByName(c.filter(col("c_custkey") % 5 === 2)
          .withColumn("c_custkey", -col("c_custkey"))
          .withColumn("eff_from", lit(200L)))
      val keys = Seq("c_custkey")
      val tracked = Seq("c_mktsegment", "c_acctbal")
      val s1 = Merge.scd2(dim0, b1, keys, tracked).localCheckpoint(true)
      val s2 = Merge.scd2(s1, b2, keys, tracked).localCheckpoint(true)
      Merge.scd2(s2, b2, keys, tracked) // re-application: provably a no-op
        .orderBy(col("c_custkey"), col("eff_from"))
    },
    Some("""WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer),
           |v0 AS (SELECT c_custkey, c_mktsegment, c_acctbal, CAST(0 AS BIGINT) AS eff_from FROM c),
           |b1 AS (SELECT c_custkey, 'RECOVERED' AS c_mktsegment,
           |              c_acctbal + CAST(1000 AS DOUBLE) AS c_acctbal,
           |              CAST(100 AS BIGINT) AS eff_from FROM c WHERE c_acctbal < 0),
           |v1 AS (SELECT b.c_custkey, b.c_mktsegment, b.c_acctbal, b.eff_from
           |       FROM b1 b JOIN v0 t ON b.c_custkey = t.c_custkey
           |       WHERE b.c_mktsegment IS DISTINCT FROM t.c_mktsegment
           |          OR b.c_acctbal IS DISTINCT FROM t.c_acctbal),
           |cur1 AS (SELECT t.c_custkey,
           |                coalesce(v.c_mktsegment, t.c_mktsegment) AS c_mktsegment,
           |                coalesce(v.c_acctbal, t.c_acctbal) AS c_acctbal
           |         FROM v0 t LEFT JOIN v1 v ON t.c_custkey = v.c_custkey),
           |b2 AS (SELECT c_custkey,
           |              CASE WHEN c_custkey % 5 = 0 THEN 'VIP' ELSE c_mktsegment END AS c_mktsegment,
           |              c_acctbal, CAST(200 AS BIGINT) AS eff_from
           |       FROM c WHERE c_custkey % 5 <= 1
           |       UNION ALL
           |       SELECT -c_custkey, c_mktsegment, c_acctbal, CAST(200 AS BIGINT)
           |       FROM c WHERE c_custkey % 5 = 2),
           |v2 AS (SELECT b.c_custkey, b.c_mktsegment, b.c_acctbal, b.eff_from
           |       FROM b2 b LEFT JOIN cur1 t ON b.c_custkey = t.c_custkey
           |       WHERE t.c_custkey IS NULL
           |          OR b.c_mktsegment IS DISTINCT FROM t.c_mktsegment
           |          OR b.c_acctbal IS DISTINCT FROM t.c_acctbal),
           |allv AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1 UNION ALL SELECT * FROM v2)
           |SELECT c_custkey, c_mktsegment, c_acctbal, eff_from,
           |       lead(eff_from) OVER w AS eff_to,
           |       lead(eff_from) OVER w IS NULL AS is_current
           |FROM allv
           |WINDOW w AS (PARTITION BY c_custkey ORDER BY eff_from)
           |ORDER BY c_custkey, eff_from""".stripMargin),
    "M7 SCD Type-2 history merge: close-and-insert on attribute change, no-op on identical re-delivery, insert on new key; t=200 batch applied twice so the hash pins idempotency")

  /** SHALLOW CLONE of the log table (q79 — Delta `CREATE TABLE … SHALLOW
    * CLONE`): the clone's first commit REFERENCES the source's live files
    * (hardlinks — zero bytes copied, O(#files) metadata), then both sides
    * diverge copy-on-write. The query drives the full lifecycle: source
    * builds v1 (pre-cut), renames a column (mapping active in the cloned
    * schema), DV-deletes every 7th key; clone is cut at that point; the
    * clone appends the post-cut slice while the source OVERWRITES itself
    * with different content and VACUUMS — retiring every file the clone
    * shares. All three phases read AFTER the vacuum, so the hash itself
    * pins that the clone (and its version-1 clone point) survives source
    * GC — the failure mode Delta's path-sharing shallow clone documents.
    *
    * Scale: clone cost is O(#live files) driver-side metadata + one
    * manifest commit — no data job at all; divergent writes are ordinary
    * commits on either side. */
  val logClone = QueryDef(
    "q79_logtable_shallow_clone",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val base = FixtureDirs.create("q79-clone-")
      val t = new graft.merge.LogTable(spark, base.resolve("src").toString, o.schema)
      t.overwrite(o.filter(col("o_orderdate") < cut))                     // v1
      t.renameColumn("o_totalprice", "price")                             // v2 (metadata)
      val del = t.deleteWhere(pmod(col("o_orderkey"), lit(7)) === 0)      // v3 (DV)
      require(del > 0, "delete predicate must match rows at every SF")
      val c = t.cloneTo(base.resolve("dup").toString)
      val post = o.filter(col("o_orderdate") >= cut)
        .withColumnRenamed("o_totalprice", "price")
      c.append(post)                                       // clone diverges
      t.overwrite(post.withColumn("price", -col("price"))) // source diverges…
      t.vacuum(retainLast = 1)                             // …and retires every shared file
      def row(phase: String, df: org.apache.spark.sql.DataFrame) =
        df.agg(count(lit(1)).as("n"), round(sum(col("price")), 2).as("sum_price"))
          .select(lit(phase).as("phase"), col("n"), col("sum_price"))
      row("clone_v1", c.readVersion(1))
        .union(row("clone_live", c.read()))
        .union(row("src_live", t.read()))
        .orderBy(col("phase"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_totalprice AS price, o_orderdate FROM orders),
           |pre AS (SELECT * FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'
           |        AND o_orderkey % 7 <> 0),
           |post AS (SELECT * FROM o WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
           |s AS (
           |  SELECT 'clone_v1' AS phase, count(*) AS n,
           |         round(sum(price), 2) AS sum_price FROM pre
           |  UNION ALL SELECT 'clone_live', count(*), round(sum(price), 2)
           |  FROM (SELECT price FROM pre UNION ALL SELECT price FROM post)
           |  UNION ALL SELECT 'src_live', count(*), round(sum(-price), 2) FROM post)
           |SELECT phase, n, sum_price FROM s ORDER BY phase""".stripMargin),
    "Shallow clone: zero-copy hardlinked clone point, copy-on-write divergence both sides, clone + its version-1 survive a source overwrite + vacuum that retires every shared file")

  /** ROW TRACKING on the log table (q80 — Delta `enableRowTracking`): every
    * commit allocates its fresh files contiguous base row ids from a
    * high-water mark kept IN the log; a row's stable id = its file's base +
    * its index in the file. The query drives the full id lifecycle: two
    * appends (each range-partitioned + sorted on the unique key, so the
    * allocation order — bucket, staged part, row — IS the key order and the
    * ids are closed-form: hwm + rank(key) within the commit), a DV delete
    * (survivors keep ids, freed ids never reused), an OPTIMIZE (ids
    * MATERIALIZED into the rewrite — the stability `require` pins the
    * per-key map unchanged), and a post-compaction append (allocation
    * resumes from the log's high-water mark, not from max-live-id). The
    * final hash pins every surviving row's exact id.
    *
    * Scale: allocation is O(#new files) driver arithmetic at commit time
    * plus one count pass over the staged write; the id read is a broadcast
    * join on file name (O(#files) rows); materialization rides the
    * OPTIMIZE rewrite it already pays for. */
  val logRowTracking = QueryDef(
    "q80_logtable_row_tracking",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val root = FixtureDirs.create("q80-rt-").resolve("orders_rt").toString
      val t = new graft.merge.LogTable(spark, root, o.schema, rowTracking = true)
      def shaped(df: org.apache.spark.sql.DataFrame) = df
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      val pre = o.filter(col("o_orderdate") < cut)
      val post = o.filter(col("o_orderdate") >= cut)
      t.append(shaped(pre))                                          // v1
      t.append(shaped(post))                                         // v2
      val before = t.readWithRowIds()
        .select(col("o_orderkey"), col(graft.merge.LogTable.RowIdCol).as("rid0"))
        .localCheckpoint(true)
      val del = t.deleteWhere(pmod(col("o_orderkey"), lit(7)) === 0) // v3 (DV)
      require(del > 0, "delete predicate must match rows at every SF")
      require(t.compact(targetFileBytes = 1L << 20) > 0,             // v4 OPTIMIZE
        "compaction must rewrite (materializing ids + DVs)")
      val mid = t.readWithRowIds()
      require(mid.join(before, "o_orderkey")
        .filter(col(graft.merge.LogTable.RowIdCol) =!= col("rid0")).isEmpty,
        "OPTIMIZE must preserve every surviving row's id")
      t.append(shaped(pre.filter(pmod(col("o_orderkey"), lit(7)) === 0) // v5
        .withColumn("o_orderkey", -col("o_orderkey"))))
      t.readWithRowIds()
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
          col(graft.merge.LogTable.RowIdCol).as("row_id"))
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders),
           |pre AS (SELECT o_orderkey, o_totalprice FROM o
           |        WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |post AS (SELECT o_orderkey, o_totalprice FROM o
           |         WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
           |v1 AS (SELECT o_orderkey, o_totalprice,
           |              rank() OVER (ORDER BY o_orderkey) AS row_id FROM pre),
           |v2 AS (SELECT o_orderkey, o_totalprice,
           |              (SELECT count(*) FROM pre) + rank() OVER (ORDER BY o_orderkey)
           |       FROM post),
           |v5 AS (SELECT -o_orderkey AS o_orderkey, o_totalprice,
           |              (SELECT count(*) FROM pre) + (SELECT count(*) FROM post)
           |              + rank() OVER (ORDER BY -o_orderkey)
           |       FROM pre WHERE o_orderkey % 7 = 0),
           |live AS (
           |  SELECT * FROM v1 WHERE o_orderkey % 7 <> 0
           |  UNION ALL SELECT * FROM v2 WHERE o_orderkey % 7 <> 0
           |  UNION ALL SELECT * FROM v5)
           |SELECT o_orderkey, round(o_totalprice, 2) AS price, row_id
           |FROM live ORDER BY o_orderkey""".stripMargin),
    "Row tracking in the log: contiguous per-commit base-id allocation from a logged high-water mark, ids stable across DV delete + OPTIMIZE (materialized rewrite), freed ids never reused, post-compaction allocation resumes at the watermark")

  /** TYPE WIDENING on the log table (q81 — Delta `typeWidening`): change a
    * column's type along a lossless widening chain as a METADATA commit —
    * no file rewrite (`require`d on the live file list); the parquet reader
    * up-casts narrow-era files to the live schema at scan time, so
    * post-widen reads mix narrow and wide files transparently. The query
    * drives the full lifecycle: v1 appends the pre-cut slice NARROW
    * (orderkey as INT, price as FLOAT), the two widen commits land
    * (int→long, float→double), then the post-cut slice appends WIDE with
    * values unrepresentable in the narrow types (orderkey + 4B beyond
    * int32, price at full double precision). Phase `v1_narrow` reads
    * version 1 AFTER the widening — time travel serves the narrow-era
    * types, so the float-degraded prices are IN the hash (cast
    * double→float→double is bit-deterministic IEEE both engines);
    * phase `live` reads the mixed table under the wide schema. Per-row
    * output, no float sums (rule 3).
    *
    * Scale: each widen is one manifest commit — zero data jobs however
    * large the table; the up-cast rides the scan it already pays for. */
  val logWidening = QueryDef(
    "q81_logtable_type_widening",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      require(o.agg(max(col("o_orderkey"))).head().getLong(0) < Int.MaxValue,
        "narrow phase requires int-range orderkeys at this SF")
      val cut = lit("1998-01-01").cast("timestamp")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.IntegerType),
        org.apache.spark.sql.types.StructField("price",
          org.apache.spark.sql.types.FloatType)))
      val root = FixtureDirs.create("q81-wd-").resolve("orders_wd").toString
      val t = new graft.merge.LogTable(spark, root, schema, statsBy = Seq("k"))
      t.append(o.filter(col("o_orderdate") < cut)                        // v1
        .select(col("o_orderkey").cast("int").as("k"),
          col("o_totalprice").cast("float").as("price")))
      val before = t.liveFileNames()
      t.widenColumn("k", org.apache.spark.sql.types.LongType)            // v2
      t.widenColumn("price", org.apache.spark.sql.types.DoubleType)      // v3
      require(t.liveFileNames() == before, "widening must touch no data file")
      t.append(o.filter(col("o_orderdate") >= cut)                       // v4
        .select((col("o_orderkey") + 4000000000L).as("k"),
          col("o_totalprice").as("price")))
      def row(phase: String, df: org.apache.spark.sql.DataFrame) = df
        .select(lit(phase).as("phase"), col("k").cast("long").as("k"),
          col("price").cast("double").as("price"))
      row("v1_narrow", t.readVersion(1))
        .union(row("live", t.read()))
        .orderBy(col("phase"), col("k"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders),
           |pre AS (SELECT CAST(o_orderkey AS BIGINT) AS k,
           |          CAST(CAST(o_totalprice AS REAL) AS DOUBLE) AS price
           |        FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |post AS (SELECT o_orderkey + 4000000000 AS k, o_totalprice AS price
           |         FROM o WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
           |u AS (
           |  SELECT 'v1_narrow' AS phase, k, price FROM pre
           |  UNION ALL SELECT 'live', k, price FROM pre
           |  UNION ALL SELECT 'live', k, price FROM post)
           |SELECT phase, k, price FROM u ORDER BY phase, k""".stripMargin),
    "Type widening in the log: int→long + float→double as metadata commits, mixed narrow/wide files up-cast at scan time, pre-widen version time-travels back narrow (float-degraded prices in the hash)")

  /** TYPED CHANGE DATA FEED (q82 — Delta `table_changes`): row-level
    * changes with `_change_type` — unlike the streaming-source feed (adds
    * only, `ignoreChanges` for rewrites), DELETES are first-class rows. A
    * DV-delete commit's sidecar holds exactly the (file, pos) pairs it
    * deleted, so the feed reads those rows back from the pre-commit state
    * scanning ONLY the touched files; an overwrite decomposes into
    * delete(pre-commit live rows) + insert(new files) — the exact multiset
    * delta. Row tracking composes: every change row carries the stable
    * `_row_id` (deletes keep the id the row had; the overwrite's inserts
    * re-id above the logged watermark). The query drives append →
    * DV-delete → overwrite on a row-tracked table with shaped writes, so
    * every change row INCLUDING its id is closed-form, and the hash pins
    * the full typed feed.
    *
    * Scale: per version the feed scans only that commit's added, removed,
    * or sidecar-named files — never the full table; the snapshot walk is
    * one incremental log fold for the whole span. */
  val logCdfTyped = QueryDef(
    "q82_logtable_cdf_typed",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("k",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("price",
          org.apache.spark.sql.types.DoubleType)))
      val root = FixtureDirs.create("q82-cdf-").resolve("orders_cdf").toString
      val t = new graft.merge.LogTable(spark, root, schema, rowTracking = true)
      def shaped(df: org.apache.spark.sql.DataFrame) = df
        .repartitionByRange(4, col("k")).sortWithinPartitions("k")
      val pre = o.filter(col("o_orderdate") < cut)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val post = o.filter(col("o_orderdate") >= cut)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      t.append(shaped(pre))                                           // v1
      require(t.deleteWhere(pmod(col("k"), lit(7)) === 0) > 0,        // v2
        "delete predicate must match rows at every SF")
      t.overwrite(shaped(post))                                       // v3
      t.readChangeFeed(0, 3, withRowIds = true)
        .select(col(graft.merge.LogTable.ChangeTypeCol).as("change_type"),
          col(graft.merge.LogTable.CommitVersionCol).as("commit_version"),
          col("k"), round(col("price"), 2).as("price"),
          col(graft.merge.LogTable.RowIdCol).as("row_id"))
        .orderBy(col("commit_version"), col("change_type"), col("k"))
    },
    Some("""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS price, o_orderdate FROM orders),
           |pre AS (SELECT k, price, rank() OVER (ORDER BY k) AS row_id
           |        FROM o WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |post AS (SELECT k, price,
           |           (SELECT count(*) FROM pre) + rank() OVER (ORDER BY k) AS row_id
           |         FROM o WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
           |f AS (
           |  SELECT 'insert' AS change_type, 1 AS commit_version, k, price, row_id FROM pre
           |  UNION ALL SELECT 'delete', 2, k, price, row_id FROM pre WHERE k % 7 = 0
           |  UNION ALL SELECT 'delete', 3, k, price, row_id FROM pre WHERE k % 7 <> 0
           |  UNION ALL SELECT 'insert', 3, k, price, row_id FROM post)
           |SELECT change_type, CAST(commit_version AS BIGINT) AS commit_version,
           |       k, round(price, 2) AS price, row_id
           |FROM f ORDER BY commit_version, change_type, k""".stripMargin),
    "Typed change feed (Delta table_changes): DV-delete rows served from the sidecar's exact (file,pos) set, overwrite as delete+insert multiset delta, stable row ids on every change row — all closed-form in the hash")

  /** REPLACE WHERE (q83 — Delta's predicate-scoped atomic overwrite):
    * drop every live row matching the predicate and insert the batch in
    * ONE commit. The table is written range-partitioned on the date, so
    * the 1998-H1 window touches a few files and the rest are kept
    * VERBATIM — `require`d via liveFileNames intersection, the file-level
    * surgery that makes the verb cheap at scale (rewrite ∝ touched files;
    * detection is one predicate scan, same as Delta's arbitrary
    * replaceWhere). Batch rows are validated against the predicate in the
    * write pass. The corrected slice re-signs the window's prices
    * (negation — bit-exact both engines), so the final per-row read pins
    * the swap, the untouched remainder, AND atomicity (version count). */
  val logReplaceWhere = QueryDef(
    "q83_logtable_replace_where",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderdate").as("d"))
      val lo = lit("1998-01-01").cast("timestamp")
      val hi = lit("1998-07-01").cast("timestamp")
      val root = FixtureDirs.create("q83-rw-").resolve("orders_rw").toString
      val t = new graft.merge.LogTable(spark, root, o.schema)
      t.append(o.repartitionByRange(8, col("d")))                     // v1
      val before = t.liveFileNames().toSet
      val corrected = o.filter(col("d") >= lo && col("d") < hi)
        .withColumn("price", -col("price"))
      t.replaceWhere(col("d") >= lo && col("d") < hi, corrected)      // v2
      require(t.currentVersion == 2L, "replaceWhere must be ONE commit")
      require((before & t.liveFileNames().toSet).nonEmpty,
        "files outside the window must be kept verbatim")
      t.read().select(col("k"), col("price"))
        .orderBy(col("k"))
    },
    Some("""SELECT o_orderkey AS k,
           |  CASE WHEN o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'
           |        AND o_orderdate < TIMESTAMP '1998-07-01 00:00:00'
           |       THEN -o_totalprice ELSE o_totalprice END AS price
           |FROM orders ORDER BY k""".stripMargin),
    "replaceWhere: predicate-scoped atomic overwrite — matching rows swapped and batch validated in one commit, untouched files kept verbatim (rewrite proportional to touched files)")

  /** INCREMENTAL CLUSTERING (q84 — Delta liquid clustering's OPTIMIZE):
    * unlike q70's full clusterBy rewrite, `compactIncremental` rewrites
    * ONLY the files no clustering pass has produced yet — the first pass
    * clusters the backlog, each later pass pays O(new data), already-
    * clustered files are `require`d kept byte-identical, and a pass with
    * nothing new is `require`d a version-free no-op (the idempotency that
    * makes scheduled OPTIMIZE cheap at 100 TB). A DV delete between
    * passes materializes into the rewritten files while staying live on
    * the kept ones. The range read after the passes `require`s fewer
    * input files than the table holds (stats pruning works across the
    * clustered generations), and the final per-row hash pins content
    * through the whole lifecycle. */
  val logLiquid = QueryDef(
    "q84_logtable_incremental_clustering",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val maxK = o.agg(max(col("k"))).head().getLong(0)
      val root = FixtureDirs.create("q84-lc-").resolve("orders_lc").toString
      val t = new graft.merge.LogTable(spark, root, o.schema, statsBy = Seq("k"))
      // key-random arrival: hash-sliced halves, multiple files each; a
      // small file target makes each pass emit several TIGHT-range files,
      // so pruning is demonstrable across clustered generations
      val h = pmod(conv(substring(md5(col("k").cast("string")), 1, 2), 16, 10)
        .cast("int"), lit(2))
      val target = 64L << 10
      t.append(o.filter(h === 0).repartition(3))                       // v1
      require(t.compactIncremental(Seq("k"), target) == 3,             // v2
        "first pass must rewrite the whole backlog")
      val gen1 = t.liveFileNames().toSet
      t.append(o.filter(h =!= 0).repartition(2))                       // v3
      require(t.compactIncremental(Seq("k"), target) == 2,             // v4
        "second pass must rewrite only the new files")
      require(gen1.subsetOf(t.liveFileNames().toSet),
        "already-clustered files must be kept byte-identical")
      require(t.deleteWhere(pmod(col("k"), lit(7)) === 0) > 0)          // v5
      require(t.compactIncremental(Seq("k"), target) == 0,
        "nothing new: must be a version-free no-op")
      val live = t.liveFileNames().size
      val hit = t.readRange("k", lit(0L), lit(maxK / 4))
      require(hit.inputFiles.length < live,
        "clustered stats must prune the range read below the full file list")
      t.read().filter(col("k") <= maxK / 4)
        .select(col("k"), col("price"))
        .orderBy(col("k"))
    },
    Some("""SELECT o_orderkey AS k, o_totalprice AS price FROM orders
           |WHERE o_orderkey % 7 <> 0
           |  AND o_orderkey <= (SELECT max(o_orderkey) FROM orders) // 4
           |ORDER BY k""".stripMargin),
    "incremental (liquid) clustering: first pass clusters the backlog, later passes rewrite only new files, clustered files kept verbatim, no-op when nothing new, stats pruning across clustered generations")

  /** MULTI-COLUMN LIQUID CLUSTERING (q85) — q84's incremental contract
    * with TWO cluster keys: `compactIncremental(Seq(k, price))` clusters
    * each pass on the MORTON INTERLEAVE of the keys' equi-depth bucket ids
    * (q43's z-order composed into the log table's OPTIMIZE), so every
    * rewritten file covers a tight RECTANGLE of the 2-D key space and the
    * manifest stats prune range reads on EITHER column — the property a
    * lexicographic 2-key sort cannot give the trailing key. The row
    * `require`s, ACROSS the two clustered generations: (a) incremental
    * semantics (first pass = backlog, second = only new files, gen-1 files
    * kept byte-identical, third pass a no-op), and (b) pruning on BOTH
    * columns (each readRange opens fewer files than live — and the
    * price-side prune is the one q84's single-key layout cannot do).
    * Bounds are data-derived (min+50k ≈ 10% of the price domain, 375/3812
    * rows at sf0.01/sf0.1 — probed non-vacuous, the d49 rule). */
  val logLiquidMulti = QueryDef(
    "q85_logtable_liquid_multikey",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val maxK = o.agg(max(col("k"))).head().getLong(0)
      val minP = o.agg(min(col("price"))).head().getDouble(0)
      val root = FixtureDirs.create("q85-lcm-").resolve("orders_lcm").toString
      val t = new graft.merge.LogTable(spark, root, o.schema,
        statsBy = Seq("k", "price"))
      val h = pmod(conv(substring(md5(col("k").cast("string")), 1, 2), 16, 10)
        .cast("int"), lit(2))
      // fixture-scaled knob: small files make enough 2-D rectangles to
      // DEMONSTRATE pruning at test SFs; production uses the 128 MB
      // default — file count, not file size, is what the prune needs
      val target = 16L << 10
      t.append(o.filter(h === 0).repartition(3))                        // v1
      require(t.compactIncremental(Seq("k", "price"), target) == 3,     // v2
        "first pass must rewrite the whole backlog")
      val gen1 = t.liveFileNames().toSet
      t.append(o.filter(h =!= 0).repartition(2))                        // v3
      require(t.compactIncremental(Seq("k", "price"), target) == 2,     // v4
        "second pass must rewrite only the new files")
      require(gen1.subsetOf(t.liveFileNames().toSet),
        "already-clustered files must be kept byte-identical")
      require(t.compactIncremental(Seq("k", "price"), target) == 0,
        "nothing new: must be a version-free no-op")
      val live = t.liveFileNames().size
      val hitK = t.readRange("k", lit(0L), lit(maxK / 4))
      require(hitK.inputFiles.length < live,
        s"k-range read must prune below the $live live files " +
          s"(opened ${hitK.inputFiles.length})")
      val hitP = t.readRange("price", lit(minP), lit(minP + 20000.0))
      require(hitP.inputFiles.length < live,
        s"price-range read must prune below the $live live files " +
          s"(opened ${hitP.inputFiles.length}) — the trailing-key prune " +
          "a lexicographic layout cannot do")
      t.read().filter(col("k") <= maxK / 4 &&
          col("price") <= lit(minP) + lit(50000.0))
        .select(col("k"), col("price"))
        .orderBy(col("k"))
    },
    Some("""SELECT o_orderkey AS k, o_totalprice AS price FROM orders
           |WHERE o_orderkey <= (SELECT max(o_orderkey) FROM orders) // 4
           |  AND o_totalprice <= (SELECT min(o_totalprice) FROM orders)
           |      + CAST(50000 AS DOUBLE)
           |ORDER BY k""".stripMargin),
    "multi-column liquid clustering: incremental passes cluster on the Morton interleave of two keys' equi-depth buckets — manifest stats prune range reads on either column across generations")

  /** SNAPSHOT ISOLATION FOR READERS (q86) — the serve-while-maintaining
    * contract as a verified row: a reader that resolved its manifest at
    * version v serves EXACTLY v's content no matter what commits after —
    * a DV delete (v2) and a full occMerge rewrite (v3) land between each
    * pinned reader's open and its execution, and each phase `require`s /
    * emits the version it opened, never a mix. This falls out of the
    * manifest design (immutable uuid data files, commits never delete
    * files), and the forced MID-SCAN interleave (gate-UDF latches, the
    * q66b discipline on the read side) is SnapshotIsolationSpec's pin;
    * this row keeps the end-to-end semantics on the correctness gate.
    * ServeDuringRetrainSpec proves the same contract for the persisted
    * vector index's generation-pointer cutover. */
  val logSnapshotIso = QueryDef(
    "q86_logtable_snapshot_isolation",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"))
      val root = FixtureDirs.create("q86-si-").resolve("orders_si").toString
      val t = new graft.merge.LogTable(spark, root, o.schema)
      t.append(o)                                    // v1
      val pinnedV1 = t.read()                        // manifest resolved at v1
      require(t.deleteWhere(pmod(col("k"), lit(7)) === 0) > 0) // v2 (DV)
      val pinnedV2 = t.read()                        // resolved at v2
      // batch touches only LIVE keys (a %21 key would otherwise re-insert
      // a v2-deleted row and diverge from the oracle's live CTE)
      t.occMerge(o.filter(pmod(col("k"), lit(3)) === 0 &&
            pmod(col("k"), lit(7)) =!= 0)
          .select(col("k"), (col("price") + lit(1.0)).as("price"))) {
        (cur, b) => graft.merge.Merge.scd1(cur, b, Seq("k"))
      }                                              // v3 (full rewrite)
      val live = t.read()
      // the v1 reader must serve the pre-delete row count exactly
      require(pinnedV1.count() == o.count(),
        "v1 reader lost rows to a later commit")
      pinnedV1.withColumn("phase", lit("a_v1"))
        .unionByName(pinnedV2.withColumn("phase", lit("b_v2")))
        .unionByName(live.withColumn("phase", lit("c_live")))
        .select(col("phase"), col("k"), col("price"))
        .orderBy(col("phase"), col("k"))
    },
    Some("""WITH v1 AS (SELECT 'a_v1' AS phase, o_orderkey AS k, o_totalprice AS price
           |  FROM orders),
           |v2 AS (SELECT 'b_v2' AS phase, o_orderkey AS k, o_totalprice AS price
           |  FROM orders WHERE o_orderkey % 7 <> 0),
           |live AS (SELECT 'c_live' AS phase, o_orderkey AS k,
           |    CASE WHEN o_orderkey % 3 = 0
           |         THEN o_totalprice + CAST(1 AS DOUBLE)
           |         ELSE o_totalprice END AS price
           |  FROM orders WHERE o_orderkey % 7 <> 0)
           |SELECT * FROM v1 UNION ALL SELECT * FROM v2 UNION ALL SELECT * FROM live
           |ORDER BY phase, k""".stripMargin),
    "snapshot isolation for readers: manifests pinned at open serve exactly their version across a later DV delete and a full rewrite — never a mix (forced mid-scan interleave spec-pinned)")

  /** SQL DML STATEMENTS over the log table (q87) — the reference's actual
    * merge INTERFACE: its five merges execute as SQL text inside
    * foreachBatch (`Silver/05-silver.py:11-13` — `spark.sql("MERGE INTO
    * silver t USING batch s ON … WHEN MATCHED AND s.ts > t.ts THEN UPDATE
    * SET * WHEN NOT MATCHED THEN INSERT *")`). This row executes that M3
    * statement VERBATIM (recency-guarded upsert) against a graft-logtable
    * catalog table through [[graft.sql.GraftSqlParser]] (injected via
    * `spark.sql.extensions=graft.GraftExtensions`), then `UPDATE` (lowered
    * onto the file-scoped [[graft.merge.LogTable.updateWhere]]) and
    * `DELETE FROM` (the DV commit) — the full DML loop as statements, one
    * OCC version each. The oracle replays the three statements as three
    * CTEs. SqlDmlSpec pins the statement-level semantics (clause order,
    * conditions, file scoping, provider gate). */
  val logSqlDml = QueryDef(
    "q87_logtable_sql_dml",
    (spark, dir) => {
      val sqlSpark = graft.sql.SqlDml.session(spark)
      val o = Tables.orders(sqlSpark, dir)
        .select(col("o_orderkey").as("k"),
          col("o_totalprice").as("price"),
          (col("o_orderkey") % 100).as("ver"))
      val maxK = o.agg(max(col("k"))).head().getLong(0)
      val root = FixtureDirs.create("q87-dml-").resolve("orders_dml").toString
      val t = new graft.merge.LogTable(sqlSpark, root, o.schema)
      t.append(o)                                                      // v1
      val tbl = "q87_orders_dml"
      sqlSpark.sql(s"DROP TABLE IF EXISTS $tbl")
      sqlSpark.sql(s"CREATE TABLE $tbl USING `graft-logtable` OPTIONS (path '$root')")
      try {
        // CDC-style batch: updates half newer / half older (the recency
        // guard must hold the older half), plus shifted-key inserts
        val bat = o.filter(col("k") % 3 === 0)
          .select(col("k"), (col("price") + lit(10.0)).as("price"),
            (col("ver") + when(col("k") % 6 === 0, lit(5)).otherwise(lit(-5)))
              .as("ver"))
        // shift past max+1: orderkeys are dense FROM 0, so k+max would
        // collide key 0's insert with the max key (found the hard way)
        val ins = o.filter(col("k") % 5 === 0)
          .select((col("k") + lit(maxK) + lit(1L)).as("k"),
            col("price"), col("ver"))
        bat.unionByName(ins).createOrReplaceTempView("q87_src")
        sqlSpark.sql(
          s"""MERGE INTO $tbl t USING q87_src s ON t.k = s.k
             |WHEN MATCHED AND s.ver > t.ver THEN UPDATE SET *
             |WHEN NOT MATCHED THEN INSERT *""".stripMargin)        // v2
        sqlSpark.sql(s"UPDATE $tbl SET price = price * 2 WHERE k % 10 = 0") // v3
        sqlSpark.sql(s"DELETE FROM $tbl WHERE k % 7 = 0")           // v4
        require(t.history() == Seq(1L, 2L, 3L, 4L),
          s"each statement must cut exactly one version: ${t.history()}")
        // read through the BASE session (file-level interop — the result
        // must not depend on the extension session surviving)
        new graft.merge.LogTable(spark, root, o.schema).read()
          .orderBy(col("k"))
      } finally sqlSpark.sql(s"DROP TABLE IF EXISTS $tbl")
    },
    Some("""WITH base AS (SELECT o_orderkey AS k, o_totalprice AS price,
           |    o_orderkey % 100 AS ver FROM orders),
           |bat AS (SELECT k, price + CAST(10 AS DOUBLE) AS price,
           |    ver + CASE WHEN k % 6 = 0 THEN 5 ELSE -5 END AS ver
           |  FROM base WHERE k % 3 = 0),
           |ins AS (SELECT k + (SELECT max(k) + 1 FROM base) AS k, price, ver
           |  FROM base WHERE k % 5 = 0),
           |src AS (SELECT * FROM bat UNION ALL SELECT * FROM ins),
           |merged AS (
           |  SELECT t.k,
           |    CASE WHEN s.k IS NOT NULL AND s.ver > t.ver THEN s.price
           |         ELSE t.price END AS price,
           |    CASE WHEN s.k IS NOT NULL AND s.ver > t.ver THEN s.ver
           |         ELSE t.ver END AS ver
           |  FROM base t LEFT JOIN src s ON t.k = s.k
           |  UNION ALL SELECT k, price, ver FROM ins),
           |updated AS (SELECT k,
           |    CASE WHEN k % 10 = 0 THEN price * 2 ELSE price END AS price,
           |    ver FROM merged)
           |SELECT k, price, ver FROM updated WHERE k % 7 <> 0
           |ORDER BY k""".stripMargin),
    "SQL DML statement surface: the reference's M3 MERGE INTO statement verbatim (recency-guarded UPDATE SET * / INSERT *) + UPDATE (file-scoped rewrite) + DELETE (DV commit) over a graft-logtable catalog table via the injected parser")

  /** IDENTITY COLUMNS on the log table (q88 — Delta `identityColumns`,
    * `GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 5)`): the
    * surrogate-key surface. Generated values are the affine map of the
    * row-tracking id (q80 machinery), so allocation is SHUFFLE-FREE at
    * write — no global row-numbering job; Delta likewise reserves per-task
    * blocks — and the identity contract (unique, monotone per commit, gaps
    * allowed, freed values never reused, stable across DV delete +
    * OPTIMIZE) is inherited from the proven row-id watermark. Lifecycle
    * driven here: two shaped appends, a DV delete, OPTIMIZE (values
    * `require`d unchanged), then a post-delete append whose values continue
    * from the watermark. Shaped writes (repartitionByRange + key sort) make
    * values the q80 closed form: sid = start + step·(prior-rows + rank − 1).
    *
    * Scale: the identity read is O(1) arithmetic per row on the row-id
    * column the tracked scan already computes; the write path pays only the
    * row-tracking bookkeeping (one logged watermark bump per commit). */
  val logIdentity = QueryDef(
    "q88_logtable_identity",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_totalprice"), col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val root = FixtureDirs.create("q88-idc-").resolve("orders_idc").toString
      val t = new graft.merge.IdentityTable(spark, root,
        org.apache.spark.sql.types.StructType(o.schema.fields.take(2)),
        "order_sid", start = 1000L, step = 5L)
      def shaped(df: org.apache.spark.sql.DataFrame) = df
        .repartitionByRange(4, col("o_orderkey"))
        .sortWithinPartitions("o_orderkey")
      val pre = o.filter(col("o_orderdate") < cut).drop("o_orderdate")
      val post = o.filter(col("o_orderdate") >= cut).drop("o_orderdate")
      t.append(shaped(pre))                                          // v1
      t.append(shaped(post))                                         // v2
      val before = t.read()
        .select(col("o_orderkey"), col("order_sid").as("sid0"))
        .localCheckpoint(true)
      val del = t.deleteWhere(pmod(col("o_orderkey"), lit(7)) === 0) // v3 (DV)
      require(del > 0, "delete predicate must match rows at every SF")
      require(t.compact(targetFileBytes = 1L << 20) > 0,             // v4 OPTIMIZE
        "compaction must rewrite (materializing ids)")
      require(t.read().join(before, "o_orderkey")
        .filter(col("order_sid") =!= col("sid0")).isEmpty,
        "OPTIMIZE must preserve every surviving row's identity value")
      t.append(shaped(pre.filter(pmod(col("o_orderkey"), lit(7)) === 0) // v5
        .withColumn("o_orderkey", -col("o_orderkey"))))
      t.read()
        .select(col("o_orderkey"), round(col("o_totalprice"), 2).as("price"),
          col("order_sid"))
        .orderBy(col("o_orderkey"))
    },
    Some("""WITH o AS (SELECT o_orderkey, o_totalprice, o_orderdate FROM orders),
           |pre AS (SELECT o_orderkey, o_totalprice FROM o
           |        WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |post AS (SELECT o_orderkey, o_totalprice FROM o
           |         WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
           |v1 AS (SELECT o_orderkey, o_totalprice,
           |              rank() OVER (ORDER BY o_orderkey) AS rid FROM pre),
           |v2 AS (SELECT o_orderkey, o_totalprice,
           |              (SELECT count(*) FROM pre) + rank() OVER (ORDER BY o_orderkey)
           |       FROM post),
           |v5 AS (SELECT -o_orderkey AS o_orderkey, o_totalprice,
           |              (SELECT count(*) FROM pre) + (SELECT count(*) FROM post)
           |              + rank() OVER (ORDER BY -o_orderkey)
           |       FROM pre WHERE o_orderkey % 7 = 0),
           |live AS (
           |  SELECT * FROM v1 WHERE o_orderkey % 7 <> 0
           |  UNION ALL SELECT * FROM v2 WHERE o_orderkey % 7 <> 0
           |  UNION ALL SELECT * FROM v5)
           |SELECT o_orderkey, round(o_totalprice, 2) AS price,
           |       CAST(1000 + 5 * (rid - 1) AS BIGINT) AS order_sid
           |FROM live ORDER BY o_orderkey""".stripMargin),
    "Identity columns on the log table: GENERATED ALWAYS AS IDENTITY (START WITH 1000 INCREMENT BY 5) as a shuffle-free affine map of the row-tracking watermark — values unique, monotone per commit, never reused after delete, stable across OPTIMIZE")

  /** MAINTENANCE SQL STATEMENTS (q89 — the Delta operational surface
    * `OPTIMIZE` / `DESCRIBE HISTORY` / `VACUUM ... RETAIN n VERSIONS`,
    * completing the statement surface q87 opened with DML): Spark has no
    * grammar for these, so [[graft.sql.GraftSqlParser]] recognizes them at
    * text level (Delta's own parser-extension move) and lowers onto
    * `LogTable.compact` / `describeHistory` / `vacuum`. The row drives the
    * full operational cycle through SQL text alone — seed write, INSERT
    * INTO, DELETE (DV commit), OPTIMIZE (dataChange=false rewrite),
    * DESCRIBE HISTORY (operations inferred from action shapes, newest
    * first, in-commit timestamps monotone), VACUUM (history pruned to the
    * live version, live content intact) — with every intermediate
    * `require`d, and the final read through the BASE session (file-level
    * interop, like q87).
    *
    * Scale: each statement is one log commit; OPTIMIZE is the only data
    * rewrite and VACUUM's file scan is O(#files), both the price Delta
    * pays for the same verbs. */
  val logSqlMaintenance = QueryDef(
    "q89_logtable_sql_maintenance",
    (spark, dir) => {
      val sqlSpark = graft.sql.SqlDml.session(spark)
      val o = Tables.orders(sqlSpark, dir)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val root = FixtureDirs.create("q89-maint-").resolve("orders_maint").toString
      o.filter(col("o_orderdate") < cut).drop("o_orderdate")
        .write.format("graft-logtable").save(root)                    // v1 WRITE
      val tbl = "q89_orders_maint"
      sqlSpark.sql(s"DROP TABLE IF EXISTS $tbl")
      sqlSpark.sql(s"CREATE TABLE $tbl USING `graft-logtable` OPTIONS (path '$root')")
      try {
        o.filter(col("o_orderdate") >= cut).drop("o_orderdate")
          .createOrReplaceTempView("q89_batch")
        sqlSpark.sql(s"INSERT INTO $tbl SELECT * FROM q89_batch")     // v2 WRITE
        sqlSpark.sql(s"DELETE FROM $tbl WHERE k % 7 = 0")             // v3 DELETE
        require(sqlSpark.sql(s"OPTIMIZE $tbl").head().getLong(0) > 0, // v4 OPTIMIZE
          "OPTIMIZE must rewrite files (bin-pack + DV materialization)")
        val hist = sqlSpark.sql(s"DESCRIBE HISTORY $tbl").collect()
        require(hist.map(r => (r.getLong(0), r.getString(2))).toSeq ==
          Seq((4L, "OPTIMIZE"), (3L, "DELETE"), (2L, "WRITE"), (1L, "WRITE")),
          s"history must infer operations newest-first: ${hist.mkString(", ")}")
        val ts = hist.sortBy(_.getLong(0)).map(_.getLong(1)).toSeq
        require(ts == ts.sorted, "in-commit timestamps must ascend")
        require(sqlSpark.sql(s"VACUUM $tbl RETAIN 1 VERSIONS")
          .head().getLong(0) == 3L, "VACUUM must prune versions 1-3")
        require(sqlSpark.sql(s"DESCRIBE HISTORY $tbl").count() == 1L,
          "post-VACUUM history is the live version only")
        // read through the BASE session: live content survives the vacuum
        new graft.merge.LogTable(spark, root,
          org.apache.spark.sql.types.StructType(o.schema.fields.take(2))).read()
          .select(col("k"), round(col("price"), 2).as("price"))
          .orderBy(col("k"))
          .localCheckpoint(true)
      } finally sqlSpark.sql(s"DROP TABLE IF EXISTS $tbl")
    },
    Some("""SELECT o_orderkey AS k, round(o_totalprice, 2) AS price
           |FROM orders WHERE o_orderkey % 7 <> 0
           |ORDER BY k""".stripMargin),
    "maintenance SQL statements over the log table: OPTIMIZE (dataChange=false bin-pack), DESCRIBE HISTORY (operations inferred from action shapes, monotone in-commit timestamps), VACUUM RETAIN n VERSIONS (history pruned, live content intact) — text-level parser extension, the Delta operational surface")

  /** COLUMN DEFAULT VALUES on the log table (q90 — Delta
    * `allowColumnDefaults`): a defaulted column fills writes that OMIT it,
    * supplied values (explicit NULL included) win verbatim, and — the
    * semantics users trip on — history is NEVER backfilled: rows written
    * before the default existed read back NULL (Delta's documented
    * behavior; defaults apply to writes after the ALTER, not to history).
    * The default is versioned schema metadata, so each era's writes use
    * the default that era declared: the row ALTERs the default mid-stream
    * (`'unassigned'` → `'bulk'`) and the output carries all four eras —
    * pre-default NULLs, first-default fills, explicit values, and
    * second-default fills.
    *
    * Scale: the fill is one projection in the write pass (no extra scan);
    * SET DEFAULT is a metadata-only commit — zero data jobs however large
    * the table. */
  val logDefaults = QueryDef(
    "q90_logtable_column_defaults",
    (spark, dir) => {
      import org.apache.spark.sql.types._
      val o = Tables.orders(spark, dir)
        .select(col("o_orderkey").as("k"), col("o_totalprice").as("price"),
          col("o_orderdate"))
      val cut = lit("1998-01-01").cast("timestamp")
      val root = FixtureDirs.create("q90-def-").resolve("orders_def").toString
      val base = StructType(Seq(StructField("k", LongType),
        StructField("price", DoubleType)))
      val t = new graft.merge.LogTable(spark, root, base)
      val pre = o.filter(col("o_orderdate") < cut).drop("o_orderdate")
      val post = o.filter(col("o_orderdate") >= cut).drop("o_orderdate")
      t.append(pre)                                                   // v1: no default era
      t.evolve(StructType(base.fields :+                              // v2: ADD COLUMN w/ DEFAULT
        graft.merge.LogTable.defaulted("segment", StringType, "'unassigned'")))
      t.append(post.filter(col("k") % 2 === 0))                       // v3: omitted -> filled
      t.append(post.filter(col("k") % 2 === 1)                        // v4: supplied wins
        .withColumn("segment", concat(lit("s"), (col("k") % 3).cast("string"))))
      t.setDefault("segment", Some("'bulk'"))                         // v5: ALTER SET DEFAULT
      t.append(pre.filter(col("k") % 7 === 0)                         // v6: new-era fill
        .withColumn("k", -col("k")).select("k", "price"))
      t.read()
        .select(col("k"), round(col("price"), 2).as("price"), col("segment"))
        .orderBy(col("k"))
    },
    Some("""WITH o AS (SELECT o_orderkey AS k, o_totalprice AS price,
           |              o_orderdate FROM orders),
           |pre AS (SELECT k, price FROM o
           |        WHERE o_orderdate < TIMESTAMP '1998-01-01 00:00:00'),
           |post AS (SELECT k, price FROM o
           |         WHERE o_orderdate >= TIMESTAMP '1998-01-01 00:00:00'),
           |live AS (
           |  SELECT k, price, NULL AS segment FROM pre
           |  UNION ALL SELECT k, price, 'unassigned' FROM post WHERE k % 2 = 0
           |  UNION ALL SELECT k, price, 's' || CAST(k % 3 AS VARCHAR)
           |    FROM post WHERE k % 2 = 1
           |  UNION ALL SELECT -k, price, 'bulk' FROM pre WHERE k % 7 = 0)
           |SELECT k, round(price, 2) AS price, segment
           |FROM live ORDER BY k""".stripMargin),
    "column DEFAULT values on the log table: write-pass fill for omitted columns, supplied values win (explicit NULL included), history never backfilled, SET DEFAULT is a versioned metadata commit — four eras in one table")

  def defs: Seq[QueryDef] = Seq(m1, m4, m3, m2, m5, tt, cdf, ivm, skip, evo, cl, opt, del, rst, vac, dvq, dvtt, occ, occContended, logLifecycle, logMaintenance, logChangeFeed, logClustered, logEvolve, logSql, logConstraints, logTimestamps, scd2q, logColumnMapping, generatedCols, logClone, logRowTracking, logWidening, logCdfTyped, logReplaceWhere, logLiquid, logLiquidMulti, logSnapshotIso, logSqlDml, logIdentity, logSqlMaintenance, logDefaults)
}
