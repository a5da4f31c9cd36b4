package graft.queries

import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.ops.{BloomPrune, RangeJoin, Relational}
import graft.sources.Tables

/** Core relational operator queries over the TPC-H-ish testdata — one per
  * operator family in SURVEY.md §2 (joins J1–J8, windows W1, dedup D1, agg A1,
  * projections P2–P12, sort O1, top-k O2, set ops U1, rollup G1).
  *
  * Determinism contract (driver hash-compares against DuckDB):
  *   - total ORDER BY on every query;
  *   - float aggregates wrapped in round(...);
  *   - event time handled as exact int64 epoch-µs (`ts_us`, Tables.eventsUs;
  *     DuckDB side `epoch_us(ts)`) — never floating-point division on epochs.
  */
object RelationalQueries {

  /** Shared DuckDB CTE mirroring [[Tables.eventsUs]]. */
  val evCte =
    "ev AS (SELECT event_id, user_id, event_type, value, props, epoch_us(ts) AS ts_us FROM events)"

  /** A1+P11 flagship: pricing summary (TPC-H Q1 shape) — grouped hash agg
    * with map-side partial aggregation; scan prunes to 7 columns. */
  val q01 = QueryDef(
    "q01_pricing_summary",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      li.filter(col("l_shipdate") <= lit("1998-09-02").cast("timestamp"))
        .groupBy(col("l_returnflag"), col("l_linestatus"))
        .agg(
          // Rounding convention (oracle hash-parity): sums of k-decimal exact
          // values are rounded at k decimals (the half-boundary is
          // unreachable there); averages are round(sum)/count so both engines
          // perform the identical IEEE division; per-row arithmetic is left
          // unrounded (bit-identical across engines).
          round(sum(col("l_quantity")), 2).as("sum_qty"),
          round(sum(col("l_extendedprice")), 2).as("sum_base_price"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("sum_disc_price"),
          (round(sum(col("l_quantity")), 2) / count(lit(1))).as("avg_qty"),
          (round(sum(col("l_extendedprice")), 2) / count(lit(1))).as("avg_price"),
          count(lit(1)).as("count_order"))
        .orderBy(col("l_returnflag"), col("l_linestatus"))
    },
    Some("""SELECT l_returnflag, l_linestatus,
           |  round(sum(l_quantity), 2) AS sum_qty,
           |  round(sum(l_extendedprice), 2) AS sum_base_price,
           |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
           |  round(sum(l_quantity), 2) / count(*) AS avg_qty,
           |  round(sum(l_extendedprice), 2) / count(*) AS avg_price,
           |  count(*) AS count_order
           |FROM lineitem
           |WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
           |GROUP BY l_returnflag, l_linestatus
           |ORDER BY l_returnflag, l_linestatus""".stripMargin),
    "A1 grouped stats agg + P11 arithmetic/round (ref Gold/06-gold.py:93-95)")

  /** J1/J8 — broadcast dimension enrichment: explicit broadcast() of the
    * small `part` dim (ref F.broadcast(date_lookup), Bronze/04-bronze.py:87).
    * At 100 TB the fact side never shuffles — BroadcastHashJoin + partial agg. */
  val q02 = QueryDef(
    "q02_broadcast_enrich",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val p = Tables.part(spark, dir)
      li.join(broadcast(p), li("l_partkey") === p("p_partkey"))
        .groupBy(col("p_brand"))
        .agg(
          count(lit(1)).as("n_items"),
          round(sum(col("l_extendedprice") * (lit(1) - col("l_discount"))), 4).as("revenue"))
        .orderBy(col("p_brand"))
    },
    Some("""SELECT p_brand, count(*) AS n_items,
           |  round(sum(l_extendedprice * (1 - l_discount)), 4) AS revenue
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    "J1 broadcast equi-join + J8 post-agg enrichment (ref Bronze/04-bronze.py:87-89)")

  /** J6+J7+P11+O1 — the gym_summary-view analog (ref Setup/02-setup.py:244-256):
    * equi join + closed BETWEEN containment + cast/round arithmetic + global
    * sort. Exact epoch-ms longs for the day arithmetic (no float epochs). */
  val q03 = QueryDef(
    "q03_fulfillment_summary",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir)
      val li = Tables.lineitem(spark, dir)
      val oc = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
      // equi key + BETWEEN residual, mirrors J7 verbatim
      val cond = li("l_orderkey") === oc("o_orderkey") &&
        li("l_shipdate").between(oc("o_orderdate"), oc("o_orderdate") + expr("interval 90 days"))
      li.join(oc, cond)
        .select(
          col("c_name"), col("o_orderkey"), col("l_linenumber"),
          // per-row arithmetic: identical IEEE ops both sides, no rounding
          ((unix_millis(col("l_shipdate").cast("timestamp")) -
            unix_millis(col("o_orderdate").cast("timestamp"))) / lit(86400000.0))
            .as("days_to_ship"),
          round(col("l_extendedprice") * (lit(1) - col("l_discount")), 4).as("net_price"))
        .orderBy(col("o_orderkey"), col("l_linenumber"))
    },
    Some("""SELECT c_name, o_orderkey, l_linenumber,
           |  (epoch_ms(l_shipdate) - epoch_ms(o_orderdate)) / 86400000.0 AS days_to_ship,
           |  round(l_extendedprice * (1 - l_discount), 4) AS net_price
           |FROM lineitem
           |JOIN orders ON l_orderkey = o_orderkey
           | AND l_shipdate BETWEEN o_orderdate AND o_orderdate + INTERVAL 90 DAY
           |JOIN customer ON o_custkey = c_custkey
           |ORDER BY o_orderkey, l_linenumber""".stripMargin),
    "J6 subquery equi-join + J7 BETWEEN theta join + P11 casts/round + O1 sort (ref Setup/02-setup.py:244-256)")

  /** W1 — latest record per key with rank (ties kept), the CDC
    * latest-per-batch operator (ref Silver/05-silver.py:25-31). */
  val q04 = QueryDef(
    "q04_latest_event_per_user",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      Relational.latestPerKey(ev, Seq("user_id"), "ts_us")
        .select(col("user_id"), col("event_id"), col("ts_us"), col("event_type"))
        .orderBy(col("user_id"), col("event_id"))
    },
    Some(s"""WITH $evCte
            |SELECT user_id, event_id, ts_us, event_type FROM ev
            |QUALIFY rank() OVER (PARTITION BY user_id ORDER BY ts_us DESC) = 1
            |ORDER BY user_id, event_id""".stripMargin),
    "W1 ranking window, rank-not-row_number tie semantics (ref Silver/05-silver.py:25-31)")

  /** D1 (deterministic batch form) — keyed dedup with pinned tiebreak
    * (ref dropDuplicates, Silver/05-silver.py:78-79). */
  val q05 = QueryDef(
    "q05_dedup_events",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      Relational.dedupKeyed(ev, Seq("user_id", "event_type"),
          Seq(col("ts_us"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
        .orderBy(col("user_id"), col("event_type"))
    },
    Some(s"""WITH $evCte
            |SELECT user_id, event_type, event_id, ts_us FROM ev
            |QUALIFY row_number() OVER (PARTITION BY user_id, event_type ORDER BY ts_us, event_id) = 1
            |ORDER BY user_id, event_type""".stripMargin),
    "D1 keyed dedup, deterministic first-by-tiebreak (ref Silver/05-silver.py:78-79)")

  /** J4 — interval pairing (sessionization): view→purchase within an open
    * (start, start+3h) window, verbatim bound semantics from
    * Silver/05-silver.py:395-396. Equi key carries the shuffle; the range
    * predicate is residual, so this scales with rows-per-user-per-3h. */
  val q06 = QueryDef(
    "q06_sessionize",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      val starts = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("start_id"), col("ts_us").as("start_us"))
      val stops = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u2"), col("event_id").as("stop_id"), col("ts_us").as("stop_us"))
      starts.join(stops,
          starts("user_id") === stops("u2") &&
          stops("stop_us") > starts("start_us") &&
          stops("stop_us") < starts("start_us") + lit(10800000000L))
        .select(col("user_id"), col("start_id"), col("stop_id"), col("start_us"), col("stop_us"))
        .orderBy(col("user_id"), col("start_id"), col("stop_id"))
    },
    Some(s"""WITH $evCte
            |SELECT s.user_id, s.event_id AS start_id, p.event_id AS stop_id,
            |       s.ts_us AS start_us, p.ts_us AS stop_us
            |FROM ev s JOIN ev p ON s.user_id = p.user_id
            | AND s.event_type = 'view' AND p.event_type = 'purchase'
            | AND p.ts_us > s.ts_us AND p.ts_us < s.ts_us + 10800000000
            |ORDER BY s.user_id, start_id, stop_id""".stripMargin),
    "J4 stream-stream interval pairing join, open-interval bounds (ref Silver/05-silver.py:368-400)")

  /** J5 — point-in-interval assignment with half-open (start, end] bounds,
    * verbatim from Silver/05-silver.py:459-461: clicks assigned to the
    * view→purchase sessions of q06. */
  val q07 = QueryDef(
    "q07_points_in_session",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      val sessions = q06.spark(spark, dir)
        .select(col("user_id").as("su"), col("start_id"), col("stop_id"),
          col("start_us"), col("stop_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("user_id"), col("event_id").as("click_id"), col("ts_us"))
      clicks.join(sessions,
          clicks("user_id") === sessions("su") &&
          clicks("ts_us") > sessions("start_us") &&
          clicks("ts_us") <= sessions("stop_us"))
        .select(col("user_id"), col("start_id"), col("stop_id"), col("click_id"), col("ts_us"))
        .orderBy(col("user_id"), col("start_id"), col("stop_id"), col("click_id"))
    },
    Some(s"""WITH $evCte,
            |sessions AS (
            |  SELECT s.user_id, s.event_id AS start_id, p.event_id AS stop_id,
            |         s.ts_us AS start_us, p.ts_us AS stop_us
            |  FROM ev s JOIN ev p ON s.user_id = p.user_id
            |   AND s.event_type = 'view' AND p.event_type = 'purchase'
            |   AND p.ts_us > s.ts_us AND p.ts_us < s.ts_us + 10800000000)
            |SELECT c.user_id, x.start_id, x.stop_id, c.event_id AS click_id, c.ts_us
            |FROM ev c JOIN sessions x ON c.user_id = x.user_id
            | AND c.event_type = 'click'
            | AND c.ts_us > x.start_us AND c.ts_us <= x.stop_us
            |ORDER BY c.user_id, start_id, stop_id, click_id""".stripMargin),
    "J5 point-in-interval join, half-open (start,end] bounds (ref Silver/05-silver.py:444-465)")

  /** P10 — chained-when binning (ref age_bins, Silver/05-silver.py:291-304),
    * over account balances with an 11-way CASE. */
  val q12 = QueryDef(
    "q12_binning",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
      val bounds = Seq(0.0, 1000, 2500, 5000, 7500, 10000)
      val labels = Seq("debt", "0-1k", "1k-2.5k", "2.5k-5k", "5k-7.5k", "7.5k-10k", "10k+")
      c.select(col("c_custkey"), col("c_acctbal"),
          Relational.binned(col("c_acctbal"), bounds, labels, "invalid").as("bal_bin"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, c_acctbal,
           |  CASE WHEN c_acctbal < 0 THEN 'debt'
           |       WHEN c_acctbal >= 0 AND c_acctbal < 1000 THEN '0-1k'
           |       WHEN c_acctbal >= 1000 AND c_acctbal < 2500 THEN '1k-2.5k'
           |       WHEN c_acctbal >= 2500 AND c_acctbal < 5000 THEN '2.5k-5k'
           |       WHEN c_acctbal >= 5000 AND c_acctbal < 7500 THEN '5k-7.5k'
           |       WHEN c_acctbal >= 7500 AND c_acctbal < 10000 THEN '7.5k-10k'
           |       WHEN c_acctbal >= 10000 THEN '10k+'
           |       ELSE 'invalid' END AS bal_bin
           |FROM customer ORDER BY c_custkey""".stripMargin),
    "P10 chained-when binning (ref Silver/05-silver.py:291-304)")

  /** P3+P5+P6+P9 — topic filter, from_json decode + flatten, validity flag
    * (ref Silver/05-silver.py:177-183,271). */
  val q13 = QueryDef(
    "q13_decode_validity",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      ev.filter(col("event_type") === "purchase")
        .withColumn("v", from_json(col("props"), org.apache.spark.sql.types.StructType.fromDDL("k INT")))
        .select(col("event_id"), col("v.k").as("k"),
          Relational.validityFlag(col("value")).as("valid"))
        .orderBy(col("event_id"))
    },
    Some(s"""WITH $evCte
            |SELECT event_id,
            |  CAST(json_extract_string(props, '$$.k') AS INTEGER) AS k,
            |  CASE WHEN value <= 0 THEN false ELSE true END AS valid
            |FROM ev WHERE event_type = 'purchase'
            |ORDER BY event_id""".stripMargin),
    "P3 topic filter + P5 from_json + P6 flatten + P9 validity flag (ref Silver/05-silver.py:177-183,271)")

  /** P2+P7+P8+P11 — cast/epoch/date-format conversions, exact integer epoch
    * math (ref Silver/05-silver.py:77,180; Bronze/04-bronze.py:88). */
  val q14 = QueryDef(
    "q14_casts_dates",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      ev.select(
          col("event_id"),
          col("ts_utc").cast("date").as("event_date"),
          expr("ts_us div 1000000").as("epoch_sec"),
          to_date(date_format(col("ts_utc"), "MM/dd/yyyy"), "MM/dd/yyyy").as("roundtrip_date"),
          // round at 4 decimals: value*1.1 is exactly 3-decimal, so the
          // 2-decimal half-boundary would flip between Spark (BigDecimal of
          // shortest repr) and DuckDB (exact double) rounding.
          round(col("value") * 1.1, 4).as("adj_value"),
          floor(datediff(lit("2026-08-01").cast("date"), col("ts_utc").cast("date")) / lit(365.25))
            .as("years_ago"))
        .orderBy(col("event_id"))
    },
    Some(s"""WITH $evCte
            |SELECT event_id,
            |  CAST(make_timestamp(ts_us) AS DATE) AS event_date,
            |  ts_us // 1000000 AS epoch_sec,
            |  CAST(strptime(strftime(make_timestamp(ts_us), '%m/%d/%Y'), '%m/%d/%Y') AS DATE) AS roundtrip_date,
            |  round(value * 1.1, 4) AS adj_value,
            |  CAST(floor((DATE '2026-08-01' - CAST(make_timestamp(ts_us) AS DATE)) / 365.25) AS BIGINT) AS years_ago
            |FROM ev ORDER BY event_id""".stripMargin),
    "P2 epoch casts + P7 to_date w/ format + P8 epoch→date + P11 round (ref Silver/05-silver.py:77,180)")

  /** U1 — set operations (beyond the reference, which multiplexes instead of
    * unioning — SURVEY §2.5): intersect/except with distinct semantics. */
  val q15 = QueryDef(
    "q15_setops",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      def users(t: String) = ev.filter(col("event_type") === t).select(col("user_id")).distinct()
      val both = users("purchase").intersect(users("click")).withColumn("tag", lit("both"))
      val viewOnly = users("view").except(users("purchase")).withColumn("tag", lit("view_only"))
      both.unionByName(viewOnly)
        .select(col("tag"), col("user_id"))
        .orderBy(col("tag"), col("user_id"))
    },
    Some(s"""WITH $evCte
            |SELECT 'both' AS tag, user_id FROM (
            |  SELECT DISTINCT user_id FROM ev WHERE event_type='purchase'
            |  INTERSECT SELECT DISTINCT user_id FROM ev WHERE event_type='click')
            |UNION ALL
            |SELECT 'view_only' AS tag, user_id FROM (
            |  SELECT DISTINCT user_id FROM ev WHERE event_type='view'
            |  EXCEPT SELECT DISTINCT user_id FROM ev WHERE event_type='purchase')
            |ORDER BY tag, user_id""".stripMargin),
    "U1 union/intersect/except (SURVEY §2.5)")

  /** O2 — deterministic top-k per group (dashboards' top-N, SURVEY §2.5 O2). */
  val q16 = QueryDef(
    "q16_topk_per_group",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
      Relational.topKPerGroup(o, Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
    },
    Some("""SELECT o_orderpriority, o_orderkey, o_totalprice FROM orders
           |QUALIFY row_number() OVER (PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey) <= 3
           |ORDER BY o_orderpriority, o_totalprice DESC, o_orderkey""".stripMargin),
    "O2 top-k per group via row_number window (SURVEY §2.5)")

  /** G1 — rollup aggregation over the region→nation hierarchy (beyond the
    * reference; grouping-set coverage). Small dims broadcast. */
  val q17 = QueryDef(
    "q17_rollup_revenue",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
      val c = Tables.customer(spark, dir)
      val n = Tables.nation(spark, dir)
      val r = Tables.region(spark, dir)
      val j = o.join(broadcast(c), o("o_custkey") === c("c_custkey"))
        .join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
      j.rollup(col("r_name"), col("n_name"))
        .agg(round(sum(col("o_totalprice")), 2).as("revenue"), count(lit(1)).as("n_orders"))
        .select(coalesce(col("r_name"), lit("ALL")).as("region_name"),
          coalesce(col("n_name"), lit("ALL")).as("nation_name"),
          col("revenue"), col("n_orders"))
        .orderBy(col("region_name"), col("nation_name"))
    },
    Some("""SELECT coalesce(r_name, 'ALL') AS region_name,
           |       coalesce(n_name, 'ALL') AS nation_name,
           |       round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders
           |FROM orders
           |JOIN customer ON o_custkey = c_custkey
           |JOIN nation ON c_nationkey = n_nationkey
           |JOIN region ON n_regionkey = r_regionkey
           |GROUP BY ROLLUP (r_name, n_name)
           |ORDER BY region_name, nation_name""".stripMargin),
    "G1 rollup grouping sets (beyond reference, SURVEY §2.5)")

  /** Window frames — running sum/count + lag per user ordered by event time
    * (beyond the reference's rank-only window use; SURVEY §2.5 W1 family). */
  val q18 = QueryDef(
    "q18_running_window",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"), col("event_id"))
      val wf = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ev.select(
          col("user_id"), col("event_id"), col("ts_us"),
          // cast to match DuckDB's BIGINT row_number (rule-2 width parity)
          row_number().over(w).cast("long").as("rn"),
          round(sum(col("value")).over(wf), 2).as("run_sum"),
          lag(col("value"), 1).over(w).as("prev_value"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
    Some(s"""WITH $evCte
            |SELECT user_id, event_id, ts_us,
            |  row_number() OVER w AS rn,
            |  round(sum(value) OVER (PARTITION BY user_id ORDER BY ts_us, event_id
            |        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS run_sum,
            |  lag(value, 1) OVER w AS prev_value
            |FROM ev
            |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            |ORDER BY user_id, ts_us, event_id""".stripMargin),
    "running-frame windows + lag (SURVEY §2.5 window family)")

  /** Semi/anti joins (EXISTS / NOT EXISTS) — beyond the reference (SURVEY
    * §2.4 notes their absence); required for a complete join surface. */
  val q19 = QueryDef(
    "q19_semi_anti",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
      val o = Tables.orders(spark, dir).filter(col("o_totalprice") > 200000)
      val withBig = c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select(col("c_custkey"), lit("has_big_order").as("tag"))
      val noBig = c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select(col("c_custkey"), lit("no_big_order").as("tag"))
      withBig.unionByName(noBig).orderBy(col("tag"), col("c_custkey"))
    },
    Some("""WITH big AS (SELECT o_custkey FROM orders WHERE o_totalprice > 200000)
           |SELECT c_custkey, 'has_big_order' AS tag FROM customer
           |WHERE EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
           |UNION ALL
           |SELECT c_custkey, 'no_big_order' AS tag FROM customer
           |WHERE NOT EXISTS (SELECT 1 FROM big WHERE o_custkey = c_custkey)
           |ORDER BY tag, c_custkey""".stripMargin),
    "left_semi / left_anti joins (EXISTS / NOT EXISTS)")

  /** Left outer join + null-handling aggregation — beyond the reference. */
  val q21 = QueryDef(
    "q21_outer_join_agg",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
      val o = Tables.orders(spark, dir).filter(col("o_orderstatus") === "F")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_custkey"))
        .agg(count(col("o_orderkey")).as("n_f_orders"),
          round(coalesce(sum(col("o_totalprice")), lit(0.0)), 2).as("f_total"))
        .orderBy(col("c_custkey"))
    },
    Some("""SELECT c_custkey, count(o_orderkey) AS n_f_orders,
           |  round(coalesce(sum(o_totalprice), 0.0), 2) AS f_total
           |FROM customer LEFT OUTER JOIN (
           |  SELECT * FROM orders WHERE o_orderstatus = 'F') o
           |  ON c_custkey = o_custkey
           |GROUP BY c_custkey ORDER BY c_custkey""".stripMargin),
    "left outer join + null-safe aggregation")

  /** Correlated subquery (decorrelated by Catalyst into a join) + exact
    * count(distinct) — beyond the reference; classic warehouse shapes. */
  val q22 = QueryDef(
    "q22_correlated_subquery",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
      val segAvg = c.groupBy(col("c_mktsegment"))
        .agg((round(sum(col("c_acctbal")), 2) / count(lit(1))).as("seg_avg"))
      val o = Tables.orders(spark, dir)
      c.join(broadcast(segAvg), Seq("c_mktsegment"))
        .filter(col("c_acctbal") > col("seg_avg"))
        .join(o, c("c_custkey") === o("o_custkey"), "left_outer")
        .groupBy(col("c_mktsegment"))
        .agg(countDistinct(col("c_custkey")).as("n_above_avg"),
          countDistinct(col("o_orderpriority")).as("n_priorities"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""WITH seg AS (SELECT c_mktsegment, round(sum(c_acctbal), 2) / count(*) AS seg_avg
           |            FROM customer GROUP BY c_mktsegment)
           |SELECT c.c_mktsegment,
           |  count(DISTINCT c.c_custkey) AS n_above_avg,
           |  count(DISTINCT o.o_orderpriority) AS n_priorities
           |FROM customer c
           |JOIN seg ON c.c_mktsegment = seg.c_mktsegment
           |LEFT OUTER JOIN orders o ON c.c_custkey = o.o_custkey
           |WHERE c.c_acctbal > seg.seg_avg
           |GROUP BY c.c_mktsegment
           |ORDER BY c.c_mktsegment""".stripMargin),
    "correlated-subquery shape (decorrelated) + exact count-distinct")

  /** Tumbling event-time window aggregation — `window()` (the canonical
    * streaming-agg shape; batch-verified here, streaming path in s01).
    * Window bounds exported as exact epoch-µs longs. */
  val q23 = QueryDef(
    "q23_tumbling_window",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      ev.groupBy(window(col("ts_utc"), "1 hour"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(unix_micros(col("window.start")).as("win_start_us"),
          col("event_type"), col("n"), col("sum_value"))
        .orderBy(col("win_start_us"), col("event_type"))
    },
    Some(s"""WITH $evCte
            |SELECT (ts_us // 3600000000) * 3600000000 AS win_start_us,
            |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            |FROM ev GROUP BY 1, 2
            |ORDER BY win_start_us, event_type""".stripMargin),
    "tumbling event-time window agg (window(); streaming shape, batch-verified)")

  /** Native session windows — `session_window(ts, gap)`: gap-separated
    * sessions per user, verified against a gaps-and-islands SQL oracle
    * (lag + cumulative island id). Same semantics as the custom
    * StatefulSessionizer, via the built-in operator. */
  val q24 = QueryDef(
    "q24_session_window",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      ev.groupBy(session_window(col("ts_utc"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          col("n_events"))
        .orderBy(col("user_id"), col("start_us"))
    },
    Some(s"""WITH $evCte,
            |marked AS (
            |  SELECT user_id, ts_us,
            |    CASE WHEN ts_us - lag(ts_us) OVER w > 3600000000
            |         OR lag(ts_us) OVER w IS NULL THEN 1 ELSE 0 END AS new_session
            |  FROM ev WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)),
            |islands AS (
            |  SELECT user_id, ts_us,
            |    sum(new_session) OVER (PARTITION BY user_id ORDER BY ts_us
            |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS island
            |  FROM marked)
            |SELECT user_id, min(ts_us) AS start_us, count(*) AS n_events
            |FROM islands GROUP BY user_id, island
            |ORDER BY user_id, start_us""".stripMargin),
    "native session_window gap sessions vs gaps-and-islands oracle")

  /** Column profiling — the data-quality summary every pipeline needs:
    * per-column null counts, distinct counts, numeric min/max in ONE pass
    * (single aggregate, no per-column jobs). */
  val q25 = QueryDef(
    "q25_profile",
    (spark, dir) => {
      val c = Tables.customer(spark, dir)
      c.agg(
          count(lit(1)).as("n_rows"),
          sum(when(col("c_name").isNull, 1).otherwise(0)).as("null_name"),
          countDistinct(col("c_nationkey")).as("distinct_nations"),
          countDistinct(col("c_mktsegment")).as("distinct_segments"),
          round(min(col("c_acctbal")), 2).as("min_bal"),
          round(max(col("c_acctbal")), 2).as("max_bal"),
          round(sum(col("c_acctbal")), 2).as("sum_bal"))
    },
    Some("""SELECT count(*) AS n_rows,
           |  CAST(sum(CASE WHEN c_name IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS null_name,
           |  count(DISTINCT c_nationkey) AS distinct_nations,
           |  count(DISTINCT c_mktsegment) AS distinct_segments,
           |  round(min(c_acctbal), 2) AS min_bal,
           |  round(max(c_acctbal), 2) AS max_bal,
           |  round(sum(c_acctbal), 2) AS sum_bal
           |FROM customer""".stripMargin),
    "single-pass column profiling (nulls/distincts/extrema)")

  /** Skew-mitigated join surfaced for the driver gate: a salted (key, salt)
    * equi-join must produce exactly the rows of the plain join, so the oracle
    * IS the plain join SQL — the hash match proves result equality under
    * salting ([[graft.ops.Skew.saltedJoin]]; aggregation on top makes the
    * comparison order-free). */
  val q26 = QueryDef(
    "q26_salted_join",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
        .select(col("l_partkey").as("partkey"), col("l_quantity"))
      val p = Tables.part(spark, dir)
        .select(col("p_partkey").as("partkey"), col("p_brand"))
      graft.ops.Skew.saltedJoin(li, p, Seq("partkey"), saltFactor = 8)
        .groupBy(col("p_brand"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
             count(lit(1)).as("n_items"))
        .orderBy(col("p_brand"))
    },
    Some("""SELECT p_brand, round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_items
           |FROM lineitem JOIN part ON l_partkey = p_partkey
           |GROUP BY p_brand ORDER BY p_brand""".stripMargin),
    "skew-mitigated salted equi-join ≡ plain join (Skew.saltedJoin)")

  /** Pivot (long→wide conditional aggregation) with an explicit value list —
    * the deterministic form that skips the extra distinct-values job and
    * keeps the plan a single hash aggregate. */
  val q27 = QueryDef(
    "q27_pivot",
    (spark, dir) => {
      Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .pivot("l_linestatus", Seq("F", "O"))
        .agg(round(sum(col("l_quantity")), 2))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
           |  round(sum(CASE WHEN l_linestatus = 'F' THEN l_quantity END), 2) AS F,
           |  round(sum(CASE WHEN l_linestatus = 'O' THEN l_quantity END), 2) AS O
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "pivot: long→wide conditional aggregation, explicit value list")

  /** Unpivot (wide→long) via SQL `stack` over a temp view — also exercises
    * the `spark.sql(...)` entry path of the API surface. */
  val q28 = QueryDef(
    "q28_unpivot",
    (spark, dir) => {
      Tables.part(spark, dir).createOrReplaceTempView("part_v")
      spark.sql(
        """SELECT p_partkey, metric, value FROM (
          |  SELECT p_partkey,
          |    stack(2, 'retailprice', p_retailprice,
          |             'size', CAST(p_size AS DOUBLE)) AS (metric, value)
          |  FROM part_v)
          |ORDER BY p_partkey, metric""".stripMargin)
    },
    Some("""SELECT p_partkey, 'retailprice' AS metric, p_retailprice AS value FROM part
           |UNION ALL
           |SELECT p_partkey, 'size', CAST(p_size AS DOUBLE) FROM part
           |ORDER BY p_partkey, metric""".stripMargin),
    "unpivot: wide→long via SQL stack over a temp view")

  /** Exact grouped percentiles (single-pass sort-based aggregate). Both
    * engines define quantiles by linear interpolation at p·(n-1); 2-decimal
    * inputs at quarter fractions give ≤4-decimal exact values, so round(…,4)
    * lands both engines on the identical decimal (no reachable half-boundary). */
  val q29 = QueryDef(
    "q29_percentiles",
    (spark, dir) => {
      Tables.lineitem(spark, dir)
        .groupBy(col("l_returnflag"))
        .agg(
          round(expr("percentile(l_quantity, 0.25)"), 4).as("p25"),
          round(expr("percentile(l_quantity, 0.5)"), 4).as("p50"),
          round(expr("percentile(l_quantity, 0.75)"), 4).as("p75"))
        .orderBy(col("l_returnflag"))
    },
    Some("""SELECT l_returnflag,
           |  round(quantile_cont(l_quantity, 0.25), 4) AS p25,
           |  round(quantile_cont(l_quantity, 0.5), 4) AS p50,
           |  round(quantile_cont(l_quantity, 0.75), 4) AS p75
           |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin),
    "exact grouped percentiles (interpolated), engine-parity via round(…,4)")

  /** KMV (k-minimum-values) distinct-count sketch — the deterministic
    * cousin of HyperLogLog: keep the k smallest md5 hashes of the key
    * (bounded, mergeable state — a TakeOrdered of k rows, never a full
    * distinct at the sink), estimate N ≈ (k-1)/U_k where U_k is the k-th
    * smallest hash normalized to [0,1). md5-based, so unlike HLL the DuckDB
    * oracle reproduces the estimate BIT-identically: the 8-nibble prefix of
    * the k-th hash is a dyadic rational both engines compute exactly
    * (Spark via conv(...,16,10)/2^32, DuckDB via the per-nibble sum — all
    * partial sums exact). */
  val q30 = QueryDef(
    "q30_kmv_distinct",
    (spark, dir) => {
      // runs on the typed mergeable Aggregator ([[graft.functions.Sketches.Kmv]]):
      // partial buffers of ≤k hashes merge map-side, the shuffle carries one
      // buffer per partition; the estimate math is bit-identical to the SQL
      // formulation this row was first verified with (oracle unchanged).
      val li = Tables.lineitem(spark, dir)
      val kmv = udaf(new graft.functions.Sketches.Kmv(256),
        org.apache.spark.sql.Encoders.STRING)
      val est = li.select(md5(col("l_orderkey").cast("string")).as("h"))
        .agg(kmv(col("h")).as("kmv_estimate"))
      val exact = li.agg(countDistinct(col("l_orderkey")).as("n_exact"))
      exact.crossJoin(est).select(col("n_exact"), col("kmv_estimate"))
    },
    Some {
      val nibbleSum = (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', substr(kth, $i, 1)) - 1) / ${math.pow(16.0, i)}")
        .mkString(" + ")
      s"""WITH h AS (SELECT DISTINCT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem),
         |top AS (SELECT h FROM h ORDER BY h LIMIT 256),
         |k AS (SELECT max(h) AS kth, count(*) AS n_h FROM top)
         |SELECT (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_exact,
         |  CASE WHEN n_h < 256 THEN CAST(n_h AS DOUBLE)
         |       ELSE 255 / ($nibbleSum) END AS kmv_estimate
         |FROM k""".stripMargin
    },
    "KMV distinct-count sketch: bounded mergeable state, bit-exact oracle")

  /** Array/map/JSON function family (beyond the reference's lone
    * `from_json`): per-user event-type histogram as a MAP, built from a
    * SORTED entry list (collect_list order is nondeterministic — sort_array
    * pins it) and rendered with to_json for a deterministic, hashable
    * column. */
  val q31 = QueryDef(
    "q31_map_json",
    (spark, dir) => {
      Tables.eventsUs(spark, dir)
        .groupBy(col("user_id"), col("event_type"))
        .agg(count(lit(1)).as("n"))
        .groupBy(col("user_id"))
        .agg(to_json(map_from_entries(
            sort_array(collect_list(struct(col("event_type"), col("n"))))))
          .as("type_counts"))
        .orderBy(col("user_id"))
    },
    Some("""SELECT user_id,
           |  '{' || string_agg('"' || event_type || '":' || n, ',' ORDER BY event_type) || '}' AS type_counts
           |FROM (SELECT user_id, event_type, count(*) AS n FROM events GROUP BY 1, 2)
           |GROUP BY user_id ORDER BY user_id""".stripMargin),
    "array/map/JSON family: sorted map aggregation rendered to JSON")

  /** CUBE grouping sets (all 4 combinations) + grouping_id — completes the
    * G1 family next to q17's ROLLUP; gid disambiguates real NULL group keys
    * from aggregated-away ones. */
  val q32 = QueryDef(
    "q32_cube",
    (spark, dir) => {
      Tables.lineitem(spark, dir)
        .cube(col("l_returnflag"), col("l_linestatus"))
        .agg(round(sum(col("l_quantity")), 2).as("sum_qty"),
          count(lit(1)).as("n_rows"), grouping_id().as("gid"))
        .select(coalesce(col("l_returnflag"), lit("ALL")).as("returnflag"),
          coalesce(col("l_linestatus"), lit("ALL")).as("linestatus"),
          col("sum_qty"), col("n_rows"), col("gid"))
        .orderBy(col("gid"), col("returnflag"), col("linestatus"))
    },
    Some("""SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           |       coalesce(l_linestatus, 'ALL') AS linestatus,
           |       round(sum(l_quantity), 2) AS sum_qty, count(*) AS n_rows,
           |       CAST(GROUPING(l_returnflag, l_linestatus) AS BIGINT) AS gid
           |FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
           |ORDER BY gid, returnflag, linestatus""".stripMargin),
    "G1 cube grouping sets + grouping_id (beyond reference)")

  /** RANGE-framed sliding window — trailing 1 h sum/count per user in exact
    * event-time µs (peers with equal ts share a frame on both engines).
    * The time-based sliding aggregate every sensor pipeline runs; rows
    * frames (q18) don't express it. */
  val q33 = QueryDef(
    "q33_range_frame",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id")).orderBy(col("ts_us"))
        .rangeBetween(-3600000000L, 0)
      Tables.eventsUs(spark, dir).select(
          col("user_id"), col("event_id"), col("ts_us"),
          round(sum(col("value")).over(w), 2).as("trailing_1h_sum"),
          count(lit(1)).over(w).as("n_1h"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
    Some(s"""WITH $evCte
            |SELECT user_id, event_id, ts_us,
            |  round(sum(value) OVER w, 2) AS trailing_1h_sum,
            |  count(*) OVER w AS n_1h
            |FROM ev
            |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
            |  RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
            |ORDER BY user_id, ts_us, event_id""".stripMargin),
    "RANGE-framed trailing event-time window (beyond reference)")

  /** Skew-safe keyed dedup — q05's semantics through
    * [[Relational.dedupKeyedAgg]] (min-struct aggregation, O(1) reducer
    * state per key) instead of the window sort. Same oracle as q05: the
    * hash match is the driver-gate proof that the skew-safe plan is
    * result-identical (the q26 treatment, applied to D1). */
  val q34 = QueryDef(
    "q34_dedup_agg",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      Relational.dedupKeyedAgg(ev, Seq("user_id", "event_type"),
          Seq("ts_us", "event_id"))
        .select(col("user_id"), col("event_type"), col("event_id"), col("ts_us"))
        .orderBy(col("user_id"), col("event_type"))
    },
    q05.oracle,
    "D1 skew-safe dedup via min-struct aggregation, ≡ q05 (celebrity-key path)")

  /** Skew-safe top-k per group — q16's semantics through
    * [[Relational.topKPerGroupSalted]] (salted local top-k bounds any
    * single sort at rows/saltFactor, then exact global top-k over
    * k·saltFactor survivors). Same oracle as q16. */
  val q35 = QueryDef(
    "q35_topk_salted",
    (spark, dir) => {
      val o = Tables.orders(spark, dir)
      Relational.topKPerGroupSalted(o, Seq("o_orderpriority"),
          Seq(col("o_totalprice").desc, col("o_orderkey")), 3)
        .select(col("o_orderpriority"), col("o_orderkey"), col("o_totalprice"))
        .orderBy(col("o_orderpriority"), col("o_totalprice").desc, col("o_orderkey"))
    },
    q16.oracle,
    "O2 skew-safe top-k per group via salted two-phase, ≡ q16 (celebrity-key path)")

  /** As-of join — each purchase event picks up the user's latest click
    * at-or-before it ([[Relational.asOfJoin]]: union + one keyed window,
    * no range join). Oracle is DuckDB's native `ASOF LEFT JOIN`, so the
    * hash match proves the union-window rewrite implements exactly the
    * textbook as-of semantics (>= bound, left outer, per-key). */
  val q36 = QueryDef(
    "q36_asof_join",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
      val purchases = ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
      val clicks = ev.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id"),
          col("ts_us").as("click_ts"))
      Relational.asOfJoin(purchases, clicks, Seq("user_id"),
          "ts_us", "click_ts", Seq("click_id", "click_ts"))
        .orderBy(col("event_id"))
    },
    Some(s"""WITH $evCte,
            |l AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
            |r AS (SELECT event_id AS click_id, user_id, ts_us AS click_ts
            |      FROM ev WHERE event_type = 'click')
            |SELECT l.event_id, l.user_id, l.ts_us, r.click_id, r.click_ts
            |FROM l ASOF LEFT JOIN r
            |  ON l.user_id = r.user_id AND l.ts_us >= r.click_ts
            |ORDER BY l.event_id""".stripMargin),
    "J9 as-of join via union+window (beyond reference; oracle = native ASOF)")

  /** Global trailing-5-minute event count per event — a range join with NO
    * equi key, rewritten as a binned equi join ([[RangeJoin
    * .binnedPointInterval]]; span == binWidth → each interval replicates to
    * exactly 2 bins). The DuckDB oracle states the same result as a global
    * RANGE-framed window — fine on one node, but a global ORDER BY at 100 TB
    * is exactly what the binned join avoids; the hash match proves the
    * rewrite exact (bounds, peers at equal ts, self-inclusion). */
  val q37 = QueryDef(
    "q37_range_bin",
    (spark, dir) => {
      val binW = 300000000L // 5 min in µs
      val ev = Tables.eventsUs(spark, dir)
      val probes = ev.select(col("event_id"),
        (col("ts_us") - binW).as("lo"), col("ts_us").as("hi"))
      val pts = ev.select(col("ts_us").as("pt"))
      RangeJoin.binnedPointInterval(pts, "pt", probes, "lo", "hi", binW)
        .groupBy(col("event_id"), col("hi"))
        .agg(count(lit(1)).as("n_trailing"))
        .select(col("event_id"), col("hi").as("ts_us"), col("n_trailing"))
        .orderBy(col("event_id"))
    },
    Some(s"""WITH $evCte
            |SELECT event_id, ts_us,
            |  count(*) OVER (ORDER BY ts_us
            |    RANGE BETWEEN 300000000 PRECEDING AND CURRENT ROW) AS n_trailing
            |FROM ev ORDER BY event_id""".stripMargin),
    "no-equi-key range join via bin rewrite (beyond reference; scale lever)")

  /** HyperLogLog distinct-count sketch (raw estimator) — the other classic
    * bounded-state sketch next to q30's KMV: 256 registers (p=8), register =
    * max leading-zero rank of a 52-bit md5 slice, estimate = α·m²/Σ2^−M.
    * Registers are max-mergeable (per-partition partial agg → one shuffle of
    * ≤256 rows), the sketch state is 256 bytes at ANY corpus size, and
    * everything stays md5-deterministic. Float-parity trick: Σ2^−M is summed
    * as INTEGER dyadics 2^(52−M) (exact, order-free — a double sum of mixed
    * magnitudes would be shuffle-order dependent), with the 2^52 scale
    * divided back out in one exact-rounded double expression, so the
    * estimate is bit-identical across engines. No small/large-range
    * correction branches — those need ln(), which differs at ulp level
    * between libm implementations. */
  val q39 = QueryDef(
    "q39_hll_distinct",
    (spark, dir) => {
      // typed-Aggregator build ([[graft.functions.Sketches.Hll]]): 256-byte
      // register buffer, max-merged map-side; estimate arithmetic replicates
      // the SQL expression order exactly, so the oracle stays bit-green.
      val li = Tables.lineitem(spark, dir)
      val hll = udaf(new graft.functions.Sketches.Hll,
        org.apache.spark.sql.Encoders.STRING)
      val est = li.select(md5(col("l_orderkey").cast("string")).as("h"))
        .agg(hll(col("h")).as("hll_estimate"))
      val exact = li.agg(countDistinct(col("l_orderkey")).as("n_exact"))
      exact.crossJoin(est).select(col("n_exact"), col("hll_estimate"))
    },
    Some {
      val nibble = (i: Int) =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
      val bucket = s"${nibble(1)} * 16 + ${nibble(2)}"
      val v = (0 to 12)
        .map(j => s"${nibble(3 + j)} * ${math.pow(16, 12 - j).toLong}")
        .mkString(" + ")
      val rhoCase = (1 to 52)
        .map(r => s"WHEN v >= ${1L << (52 - r)} THEN $r")
        .mkString("CASE ", " ", " ELSE 52 END")
      s"""WITH hx AS (SELECT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem),
         |parts AS (SELECT $bucket AS bucket, $v AS v FROM hx),
         |rho AS (SELECT bucket, $rhoCase AS rho FROM parts),
         |regs AS (SELECT bucket, max(rho) AS m_rho FROM rho GROUP BY bucket),
         |s AS (SELECT sum(1::BIGINT << (52 - m_rho)) AS s_occ, count(*) AS n_occ FROM regs)
         |SELECT (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_exact,
         |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)
         |    * 65536 * CAST(4503599627370496 AS DOUBLE)
         |    / CAST(s_occ + (256 - n_occ) * 4503599627370496 AS DOUBLE) AS hll_estimate
         |FROM s""".stripMargin
    },
    "HyperLogLog distinct sketch: 256-byte mergeable state, bit-exact oracle")

  /** Count-Min sketch heavy hitters — the third bounded-state sketch family
    * (KMV q30: distincts; HLL q39: distincts at fixed 256 B; CMS: per-key
    * FREQUENCIES in d·w counters). Four md5 hash rows × 64 buckets; a key's
    * estimate is the min over its four counters — never below the true
    * count (overestimate-only, the CMS guarantee, asserted by the oracle
    * match of `est >= n_exact` built into the output). The sketch build is
    * one map-side-combinable groupBy over (row, bucket) — 256 cells of
    * state at ANY corpus size; md5-deterministic so DuckDB mirrors it
    * bit-for-bit (integer arithmetic only). */
  val q41 = QueryDef(
    "q41_cms_heavy_hitters",
    (spark, dir) => {
      // typed-Aggregator build ([[graft.functions.Sketches.Cms]]): one d·w
      // counter matrix merged map-side (the JVM bucket hash mirrors the SQL
      // bucket function byte-for-byte); probing is a codegen'd element_at
      // per hash row against the one-row broadcast sketch.
      val d = 4; val w = 64
      val ev = Tables.eventsUs(spark, dir).select(col("user_id"))
      val cms = udaf(new graft.functions.Sketches.Cms(d, w),
        org.apache.spark.sql.Encoders.STRING)
      val sketch = ev.agg(cms(col("user_id").cast("string")).as("sk"))
      def bucket(r: Int): org.apache.spark.sql.Column =
        conv(substring(md5(concat(lit(s"$r|"), col("user_id").cast("string"))), 1, 2), 16, 10)
          .cast("int") % w
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      exact.crossJoin(sketch).select(
          col("user_id"), col("n_exact"),
          least((0 until d).map(r =>
            element_at(col("sk"), lit(r * w) + bucket(r) + lit(1))): _*).as("cms_est"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(10)
    },
    Some {
      val d = 4; val w = 64
      def bucket(r: Int, key: String) =
        s"((strpos('0123456789abcdef', substr(md5('$r|' || CAST($key AS VARCHAR)), 1, 1)) - 1) * 16" +
          s" + strpos('0123456789abcdef', substr(md5('$r|' || CAST($key AS VARCHAR)), 2, 1)) - 1) % $w"
      val rbUnion = (0 until d)
        .map(r => s"SELECT user_id, $r AS r, ${bucket(r, "user_id")} AS b FROM ev")
        .mkString("\n  UNION ALL ")
      s"""WITH $evCte,
         |rb AS ($rbUnion),
         |cells AS (SELECT r, b, count(*) AS c FROM rb GROUP BY r, b),
         |exact AS (SELECT user_id, count(*) AS n_exact FROM ev GROUP BY user_id),
         |probes AS (SELECT DISTINCT e.user_id, e.n_exact, rb.r, rb.b
         |  FROM exact e JOIN rb ON rb.user_id = e.user_id)
         |SELECT p.user_id, p.n_exact, min(c.c) AS cms_est
         |FROM probes p JOIN cells c ON c.r = p.r AND c.b = p.b
         |GROUP BY p.user_id, p.n_exact
         |ORDER BY n_exact DESC, user_id LIMIT 10""".stripMargin
    },
    "Count-Min sketch heavy hitters: d·w bounded counters, bit-exact oracle")

  /** Bloom-pruned semi-join reduction — orders joined to BUILDING-segment
    * customers through [[BloomPrune.prunedEquiJoin]]: the fact side is
    * pre-filtered by a native [[graft.functions.BloomMightContain]] probe of
    * the dimension keys before the join shuffle. Oracle is the PLAIN join
    * SQL — the hash match is the driver-gate proof that bloom pruning never
    * drops a true match and the join removes every false positive (the q26
    * treatment, applied to semi-join reduction). */
  val q38 = QueryDef(
    "q38_bloom_prune",
    (spark, dir) => {
      val dim = Tables.customer(spark, dir)
        .filter(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"), col("c_name"))
      BloomPrune.prunedEquiJoin(Tables.orders(spark, dir), dim,
          "o_custkey", "c_custkey", expectedItems = 2000)
        .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
          col("o_totalprice"))
        .orderBy(col("o_orderkey"))
    },
    Some("""SELECT o_orderkey, o_custkey, c_name, o_totalprice
           |FROM orders JOIN customer ON o_custkey = c_custkey
           |WHERE c_mktsegment = 'BUILDING'
           |ORDER BY o_orderkey""".stripMargin),
    "bloom-filter semi-join reduction, ≡ plain join (beyond reference; scale lever)")

  /** Calendar gap-fill (densification): every day in each user's active
    * range appears, zero-filled when eventless — the sequence → explode →
    * left-join shape behind every time-series continuity report. Day ids
    * are exact integral `div` on epoch-µs (rule 1); the per-user sequence
    * explode is bounded by the user's own span, so the fan-out is data-
    * proportional, not cross-join-shaped. */
  val q40 = QueryDef(
    "q40_gap_fill",
    (spark, dir) => {
      val dayUs = 86400000000L
      val ev = Tables.eventsUs(spark, dir)
        .select(col("user_id"), expr(s"ts_us div ${dayUs}L").as("d"))
      val perDay = ev.groupBy(col("user_id"), col("d")).agg(count(lit(1)).as("n"))
      val spans = ev.groupBy(col("user_id"))
        .agg(min(col("d")).as("d0"), max(col("d")).as("d1"))
      spans.select(col("user_id"), explode(sequence(col("d0"), col("d1"))).as("d"))
        .join(perDay, Seq("user_id", "d"), "left")
        .select(col("user_id"), col("d"),
          coalesce(col("n"), lit(0L)).as("n"))
        .orderBy(col("user_id"), col("d"))
    },
    Some(s"""WITH $evCte,
            |days AS (SELECT user_id, ts_us // 86400000000 AS d FROM ev),
            |per_day AS (SELECT user_id, d, count(*) AS n FROM days GROUP BY 1, 2),
            |spans AS (SELECT user_id, unnest(generate_series(min(d), max(d))) AS d
            |  FROM days GROUP BY user_id)
            |SELECT s.user_id, s.d, coalesce(p.n, 0) AS n
            |FROM spans s LEFT JOIN per_day p ON s.user_id = p.user_id AND s.d = p.d
            |ORDER BY s.user_id, s.d""".stripMargin),
    "calendar gap-fill densification via sequence+explode (beyond reference)")

  /** lead/lag offset windows — per-user inter-event gap and next-event
    * preview, the telemetry delta every sessionizer starts from (and the
    * only window family q18/q33's frames don't cover). Exact µs integer
    * arithmetic; boundary rows keep NULL gaps (no default) so the
    * null-handling contract is pinned too. */
  val q42 = QueryDef(
    "q42_event_gaps",
    (spark, dir) => {
      val w = Window.partitionBy(col("user_id"))
        .orderBy(col("ts_us"), col("event_id"))
      Tables.eventsUs(spark, dir).select(
          col("user_id"), col("event_id"), col("ts_us"),
          (col("ts_us") - lag(col("ts_us"), 1).over(w)).as("gap_us"),
          lead(col("event_type"), 1).over(w).as("next_type"))
        .orderBy(col("user_id"), col("ts_us"), col("event_id"))
    },
    Some(s"""WITH $evCte
            |SELECT user_id, event_id, ts_us,
            |  ts_us - lag(ts_us, 1) OVER w AS gap_us,
            |  lead(event_type, 1) OVER w AS next_type
            |FROM ev
            |WINDOW w AS (PARTITION BY user_id ORDER BY ts_us, event_id)
            |ORDER BY user_id, ts_us, event_id""".stripMargin),
    "lead/lag offset windows: per-user event deltas (beyond reference)")

  /** Z-order clustered layout, result-verified end-to-end: write lineitem
    * clustered by the Morton interleave of (l_partkey, l_suppkey), read it
    * back through a two-column rectangle filter. The oracle runs the same
    * filter over the ORIGINAL table — a hash match proves the clustered
    * write is a pure permutation (no row lost/duplicated/mutated by the
    * range-exchange + within-partition sort) while ZOrderSpec separately
    * proves the layout prunes row groups on BOTH columns. At 100 TB this is
    * the OPTIMIZE ZORDER maintenance job + the rectangle scan it
    * accelerates. */
  val q43 = QueryDef(
    "q43_zorder_scan",
    (spark, dir) => {
      val cols = Seq("l_orderkey", "l_linenumber", "l_partkey", "l_suppkey",
        "l_quantity").map(col)
      val li = Tables.lineitem(spark, dir).select(cols: _*)
      val zDir = FixtureDirs.create("q43-zorder-").toString
      graft.ops.ZOrder.clusteredWrite(li, "l_partkey", "l_suppkey", zDir, nFiles = 4)
      spark.read.parquet(zDir)
        .filter(col("l_partkey").between(100, 300) &&
          col("l_suppkey").between(10, 40))
        .select(cols: _*)
        .orderBy(col("l_orderkey"), col("l_linenumber"))
    },
    Some("""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey, l_quantity
           |FROM lineitem
           |WHERE l_partkey BETWEEN 100 AND 300 AND l_suppkey BETWEEN 10 AND 40
           |ORDER BY l_orderkey, l_linenumber""".stripMargin),
    "z-order clustered write + two-column rectangle read-back (beyond reference)")

  /** Sketch ROLLUP — the pattern the mergeable Aggregators exist for: build
    * one bounded KMV buffer per group (here l_returnflag; per-day/per-source
    * in production), then merge the BUFFERS into a global distinct estimate
    * in a second aggregation that never re-expands raw keys — at 100 TB the
    * second stage reads `groups · k` hashes, not the corpus. KMV union is
    * exact (min-k(A∪B) = min-k of the min-k's), so the rolled-up estimate is
    * BIT-identical to q30's flat sketch and the oracle is the flat
    * expression over the union. PlanAuditSpec pins the no-re-expansion shape
    * (a single md5 below the first aggregate, none above it). */
  val q44 = QueryDef(
    "q44_sketch_rollup",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val sketch = udaf(new graft.functions.Sketches.KmvSketch(256),
        org.apache.spark.sql.Encoders.STRING)
      val mergeEst = udaf(new graft.functions.Sketches.KmvMerge(256),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[String]]())
      val perGroup = li
        .select(col("l_returnflag").as("grp"),
          md5(col("l_orderkey").cast("string")).as("h"))
        .groupBy(col("grp")).agg(sketch(col("h")).as("sk"))
      val est = perGroup.agg(count(lit(1)).as("n_groups"),
        mergeEst(col("sk")).as("kmv_estimate"))
      val exact = li.agg(countDistinct(col("l_orderkey")).as("n_exact"))
      exact.crossJoin(est).select(col("n_groups"), col("n_exact"), col("kmv_estimate"))
    },
    Some {
      val nibbleSum = (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', substr(kth, $i, 1)) - 1) / ${math.pow(16.0, i)}")
        .mkString(" + ")
      s"""WITH h AS (SELECT DISTINCT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem),
         |top AS (SELECT h FROM h ORDER BY h LIMIT 256),
         |k AS (SELECT max(h) AS kth, count(*) AS n_h FROM top)
         |SELECT (SELECT count(DISTINCT l_returnflag) FROM lineitem) AS n_groups,
         |  (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_exact,
         |  CASE WHEN n_h < 256 THEN CAST(n_h AS DOUBLE)
         |       ELSE 255 / ($nibbleSum) END AS kmv_estimate
         |FROM k""".stripMargin
    },
    "two-level sketch rollup: per-group KMV buffers merged to a global estimate")

  /** HLL ROLLUP (q44's pattern for the second sketch family): one 256-register
    * array per group ([[graft.functions.Sketches.HllSketch]]), merged to the
    * global estimate by elementwise max ([[Sketches.HllMerge]]) — the second
    * aggregation reads `groups · 256` ints, never a raw key. Register max
    * over any partition of the rows equals register max over the union, and
    * the estimate is the exact-integer dyadic sum (CLAUDE.md rule 6), so the
    * rolled-up estimate is BIT-identical to q39's flat sketch — the oracle
    * is q39's expression plus the group count. */
  val q45 = QueryDef(
    "q45_hll_rollup",
    (spark, dir) => {
      val li = Tables.lineitem(spark, dir)
      val sketch = udaf(new graft.functions.Sketches.HllSketch,
        org.apache.spark.sql.Encoders.STRING)
      val mergeEst = udaf(new graft.functions.Sketches.HllMerge,
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Int]]())
      val perGroup = li
        .select(col("l_returnflag").as("grp"),
          md5(col("l_orderkey").cast("string")).as("h"))
        .groupBy(col("grp")).agg(sketch(col("h")).as("sk"))
      val est = perGroup.agg(count(lit(1)).as("n_groups"),
        mergeEst(col("sk")).as("hll_estimate"))
      val exact = li.agg(countDistinct(col("l_orderkey")).as("n_exact"))
      exact.crossJoin(est).select(col("n_groups"), col("n_exact"), col("hll_estimate"))
    },
    Some {
      val nibble = (i: Int) =>
        s"(strpos('0123456789abcdef', substr(h, $i, 1)) - 1)"
      val bucket = s"${nibble(1)} * 16 + ${nibble(2)}"
      val v = (0 to 12)
        .map(j => s"${nibble(3 + j)} * ${math.pow(16, 12 - j).toLong}")
        .mkString(" + ")
      val rhoCase = (1 to 52)
        .map(r => s"WHEN v >= ${1L << (52 - r)} THEN $r")
        .mkString("CASE ", " ", " ELSE 52 END")
      s"""WITH hx AS (SELECT md5(CAST(l_orderkey AS VARCHAR)) AS h FROM lineitem),
         |parts AS (SELECT $bucket AS bucket, $v AS v FROM hx),
         |rho AS (SELECT bucket, $rhoCase AS rho FROM parts),
         |regs AS (SELECT bucket, max(rho) AS m_rho FROM rho GROUP BY bucket),
         |s AS (SELECT sum(1::BIGINT << (52 - m_rho)) AS s_occ, count(*) AS n_occ FROM regs)
         |SELECT (SELECT count(DISTINCT l_returnflag) FROM lineitem) AS n_groups,
         |  (SELECT count(DISTINCT l_orderkey) FROM lineitem) AS n_exact,
         |  CAST(0.7213 AS DOUBLE) / (CAST(1.0 AS DOUBLE) + CAST(1.079 AS DOUBLE) / 256)
         |    * 65536 * CAST(4503599627370496 AS DOUBLE)
         |    / CAST(s_occ + (256 - n_occ) * 4503599627370496 AS DOUBLE) AS hll_estimate
         |FROM s""".stripMargin
    },
    "two-level HLL rollup: per-group register arrays max-merged to the flat estimate")

  /** CMS ROLLUP (q44's pattern for the frequency sketch): one d·w counter
    * matrix per group ([[graft.functions.Sketches.Cms]] keyed by
    * event_type — per-source in production), merged by elementwise sum
    * ([[Sketches.CmsMerge]]), then q41's heavy-hitter probe runs against the
    * MERGED matrix. Counters are exact longs and sum is order-free, so the
    * merged matrix — and therefore every probe — is identical to the flat
    * sketch; the oracle is q41's flat expression plus the group count. The
    * second aggregation reads `groups · d·w` longs, never re-hashes a key. */
  val q46 = QueryDef(
    "q46_cms_rollup",
    (spark, dir) => {
      val d = 4; val w = 64
      val ev = Tables.eventsUs(spark, dir).select(col("user_id"), col("event_type"))
      val cms = udaf(new graft.functions.Sketches.Cms(d, w),
        org.apache.spark.sql.Encoders.STRING)
      val cmsMerge = udaf(new graft.functions.Sketches.CmsMerge(d, w),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Seq[Long]]())
      val perGroup = ev.groupBy(col("event_type"))
        .agg(cms(col("user_id").cast("string")).as("sk"))
      val merged = perGroup.agg(count(lit(1)).as("n_groups"),
        cmsMerge(col("sk")).as("sk"))
      def bucket(r: Int): org.apache.spark.sql.Column =
        conv(substring(md5(concat(lit(s"$r|"), col("user_id").cast("string"))), 1, 2), 16, 10)
          .cast("int") % w
      val exact = ev.groupBy(col("user_id")).agg(count(lit(1)).as("n_exact"))
      exact.crossJoin(merged).select(
          col("user_id"), col("n_groups"), col("n_exact"),
          least((0 until d).map(r =>
            element_at(col("sk"), lit(r * w) + bucket(r) + lit(1))): _*).as("cms_est"))
        .orderBy(col("n_exact").desc, col("user_id")).limit(10)
    },
    Some {
      val d = 4; val w = 64
      def bucket(r: Int, key: String) =
        s"((strpos('0123456789abcdef', substr(md5('$r|' || CAST($key AS VARCHAR)), 1, 1)) - 1) * 16" +
          s" + strpos('0123456789abcdef', substr(md5('$r|' || CAST($key AS VARCHAR)), 2, 1)) - 1) % $w"
      val rbUnion = (0 until d)
        .map(r => s"SELECT user_id, $r AS r, ${bucket(r, "user_id")} AS b FROM ev")
        .mkString("\n  UNION ALL ")
      s"""WITH $evCte,
         |rb AS ($rbUnion),
         |cells AS (SELECT r, b, count(*) AS c FROM rb GROUP BY r, b),
         |exact AS (SELECT user_id, count(*) AS n_exact FROM ev GROUP BY user_id),
         |probes AS (SELECT DISTINCT e.user_id, e.n_exact, rb.r, rb.b
         |  FROM exact e JOIN rb ON rb.user_id = e.user_id)
         |SELECT p.user_id,
         |  (SELECT count(DISTINCT event_type) FROM ev) AS n_groups,
         |  p.n_exact, min(c.c) AS cms_est
         |FROM probes p JOIN cells c ON c.r = p.r AND c.b = p.b
         |GROUP BY p.user_id, p.n_exact
         |ORDER BY n_exact DESC, user_id LIMIT 10""".stripMargin
    },
    "two-level CMS rollup: per-group counter matrices summed, heavy-hitter probe on the merged sketch")

  /** QUANTILE ROLLUP — the q44 pattern for percentiles, completing the
    * sketch-rollup family with the one summary the KMV/HLL/CMS trio can't
    * answer. Sample-based: [[graft.functions.MinKValues]] keeps the
    * (md5-hash, value) pairs with the k smallest hashes; any quantile of the
    * sample estimates the population quantile (deterministic, partition- and
    * engine-independent — unlike KLL/t-digest there is no RNG and no
    * merge-order sensitivity, which is what makes it oracle-able). The merge
    * is EXACT: min-k(∪ parts) = min-k(∪ per-part min-k's), so per-group
    * samples (16 user buckets here; per-day/per-source at 100 TB) roll up to
    * the global sample bit-identically — the query emits the flat-path and
    * rollup-path estimates side by side and the oracle computes one value for
    * both columns, making any divergence a hash mismatch. The second level
    * reads groups·k rows, never a raw event (PlanAuditSpec pins no
    * md5 above the per-group sample build). q29 is the exact-percentile
    * baseline; this is its no-rescan scale path. */
  val q47 = QueryDef(
    "q47_quantile_sample_rollup",
    (spark, dir) => {
      val k = 256
      val ev = Tables.events(spark, dir)
        .select(col("event_id"), col("user_id"), col("value"))
      val sample = udaf(new graft.functions.MinKValues(k),
        org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(String, Double)]())
      val hv = ev.select(md5(col("event_id").cast("string")).as("h"),
        col("value").as("v"), (col("user_id") % 16).as("grp"))
      // flat path: one global sample
      val flat = hv.agg(sample(col("h"), col("v")).as("sample"))
        .select(array_sort(expr("transform(sample, x -> x.v)")).as("flat_vals"))
      // rollup path: per-group samples, then min-k of the union of samples.
      // The window is global but bounded by construction: groups · k rows.
      val perGroup = hv.groupBy(col("grp")).agg(sample(col("h"), col("v")).as("sk"))
      val top = perGroup.select(explode(col("sk")).as("x"))
        .select(col("x.h").as("h"), col("x.v").as("v"))
        .withColumn("rn", row_number().over(Window.orderBy(col("h"))))
        .filter(col("rn") <= k)
      val roll = top.agg(sort_array(collect_list(col("v"))).as("roll_vals"))
      // sample quantile: sorted-sample element at floor(p·(k−1)), 0-based
      val ps = Seq(0.25, 0.5, 0.75, 0.9)
      val probes = explode(array(ps.map { p =>
        struct(lit(p).as("p"), lit((p * (k - 1)).toInt + 1).as("idx"))
      }: _*)).as("pr")
      flat.crossJoin(roll).select(probes, col("flat_vals"), col("roll_vals"))
        .select(col("pr.p").as("p"),
          element_at(col("flat_vals"), col("pr.idx")).as("q_flat"),
          element_at(col("roll_vals"), col("pr.idx")).as("q_roll"))
        .orderBy(col("p"))
    },
    Some("""WITH h AS (SELECT md5(CAST(event_id AS VARCHAR)) AS h, value AS v FROM events),
           |s AS (SELECT v FROM h ORDER BY h LIMIT 256),
           |o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM s),
           |p AS (SELECT CAST(x.p AS DOUBLE) AS p, x.rn AS rn
           |  FROM (VALUES (0.25, 64), (0.5, 128), (0.75, 192), (0.9, 230)) AS x(p, rn))
           |SELECT p.p, o.v AS q_flat, o.v AS q_roll
           |FROM p JOIN o ON o.rn = p.rn
           |ORDER BY p.p""".stripMargin),
    "quantile rollup: deterministic min-k value samples merged exactly, flat ≡ rollup by construction")

  /** Sequential-pattern funnel ([[Relational.funnel]]): users reaching
    * view → click → purchase, each stage strictly after the previous
    * stage's first occurrence and within a 72 h window of it. The
    * product-analytics sequence query (MATCH_RECOGNIZE's most common use)
    * expressed as chained keyed min-aggregations — every shuffle on
    * user_id, per-stage relations shrink monotonically, each stage's
    * event-type filter pushed to its own scan. Exact integer-µs window
    * arithmetic both sides (rule 1). */
  val q48 = QueryDef(
    "q48_funnel",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
        .select(col("user_id"), col("event_type"), col("ts_us"))
      Relational.funnel(ev, "user_id", "ts_us", "event_type",
          Seq("view", "click", "purchase"), windowUs = 72L * 3600 * 1000000)
        .orderBy(col("stage"))
    },
    Some(s"""WITH $evCte,
            |t1 AS (SELECT user_id, min(ts_us) AS t FROM ev
            |  WHERE event_type = 'view' GROUP BY user_id),
            |t2 AS (SELECT e.user_id, min(e.ts_us) AS t FROM ev e JOIN t1 USING (user_id)
            |  WHERE e.event_type = 'click' AND e.ts_us > t1.t
            |    AND e.ts_us <= t1.t + 259200000000 GROUP BY e.user_id),
            |t3 AS (SELECT e.user_id, min(e.ts_us) AS t FROM ev e JOIN t2 USING (user_id)
            |  WHERE e.event_type = 'purchase' AND e.ts_us > t2.t
            |    AND e.ts_us <= t2.t + 259200000000 GROUP BY e.user_id)
            |SELECT '1_view' AS stage, count(*) AS n_users FROM t1
            |UNION ALL SELECT '2_click', count(*) FROM t2
            |UNION ALL SELECT '3_purchase', count(*) FROM t3
            |ORDER BY stage""".stripMargin),
    "sequential-pattern funnel: chained keyed min-aggregations with a 72h stage window")

  /** Cohort retention matrix — the canonical product/health-analytics
    * rollup (the reference's dashboards slice activity by signup recency):
    * users are bucketed by their first-activity epoch-day (exact int64
    * µs // 86400000000, never float time math), and each later active day
    * counts into (cohort_day, day_offset). All stages are keyed shuffles:
    * distinct (user, day) pairs, per-user min, then a cohort-keyed
    * count-distinct; the cohort-size enrichment join is broadcastable
    * (≤ #days rows). `retention` is a single bigint/bigint division
    * performed identically on both engines — bit-exact. */
  val q58 = QueryDef(
    "q58_cohort_retention",
    (spark, dir) => {
      val act = Tables.eventsUs(spark, dir)
        .select(col("user_id"), expr("ts_us div 86400000000").as("day"))
        .distinct()
      val cohort = act.groupBy(col("user_id"))
        .agg(min(col("day")).as("cohort_day"))
      val sizes = cohort.groupBy(col("cohort_day"))
        .agg(countDistinct(col("user_id")).as("cohort_size"))
      act.join(cohort, Seq("user_id"))
        .groupBy(col("cohort_day"), (col("day") - col("cohort_day")).as("day_offset"))
        .agg(countDistinct(col("user_id")).as("n_users"))
        .join(broadcast(sizes), Seq("cohort_day"))
        .select(col("cohort_day"), col("day_offset"), col("n_users"),
          col("cohort_size"),
          (col("n_users").cast("double") / col("cohort_size")).as("retention"))
        .orderBy(col("cohort_day"), col("day_offset"))
    },
    Some(s"""WITH $evCte,
            |act AS (SELECT DISTINCT user_id, ts_us // 86400000000 AS day FROM ev),
            |cohort AS (SELECT user_id, min(day) AS cohort_day FROM act GROUP BY user_id),
            |sizes AS (SELECT cohort_day, count(DISTINCT user_id) AS cohort_size
            |  FROM cohort GROUP BY cohort_day),
            |ret AS (SELECT c.cohort_day, a.day - c.cohort_day AS day_offset,
            |    count(DISTINCT a.user_id) AS n_users
            |  FROM act a JOIN cohort c USING (user_id) GROUP BY 1, 2)
            |SELECT r.cohort_day, r.day_offset, r.n_users, s.cohort_size,
            |  CAST(r.n_users AS DOUBLE) / s.cohort_size AS retention
            |FROM ret r JOIN sizes s USING (cohort_day)
            |ORDER BY cohort_day, day_offset""".stripMargin),
    "cohort retention matrix: first-day cohorts x offset-day activity, exact µs day math")

  /** RECURSIVE hierarchy traversal — Spark 4's `WITH RECURSIVE` (UnionLoop)
    * computing root + depth for every node of a key-derived forest (parent
    * of c = c div 10; customers 1–9 are roots). The iterative-closure class
    * d08 solves with pointer-jumping, expressed declaratively: each
    * recursion level is one equi-join of the frontier against the node
    * table, O(depth) levels — depth is log₁₀(N) here, so the loop count
    * grows with the LOG of the data, not the data. Integer-only math end
    * to end (div, +1, counts) — engine-exact by construction. */
  val q59 = QueryDef(
    "q59_recursive_hierarchy",
    (spark, dir) => {
      Tables.customer(spark, dir).createOrReplaceTempView("q59_customer")
      spark.sql(
        """WITH RECURSIVE chain AS (
          |  SELECT c_custkey AS key, c_custkey AS root, 0 AS depth
          |  FROM q59_customer WHERE c_custkey < 10
          |  UNION ALL
          |  SELECT c.c_custkey, ch.root, ch.depth + 1
          |  FROM q59_customer c JOIN chain ch ON c.c_custkey div 10 = ch.key
          |  WHERE c.c_custkey >= 10)
          |SELECT root, depth, count(*) AS n, min(key) AS min_key, max(key) AS max_key
          |FROM chain GROUP BY root, depth
          |ORDER BY root, depth""".stripMargin)
    },
    Some("""WITH RECURSIVE chain AS (
           |  SELECT c_custkey AS key, c_custkey AS root, 0 AS depth
           |  FROM customer WHERE c_custkey < 10
           |  UNION ALL
           |  SELECT c.c_custkey, ch.root, ch.depth + 1
           |  FROM customer c JOIN chain ch ON c.c_custkey // 10 = ch.key
           |  WHERE c.c_custkey >= 10)
           |SELECT root, depth, count(*) AS n, min(key) AS min_key, max(key) AS max_key
           |FROM chain GROUP BY root, depth
           |ORDER BY root, depth""".stripMargin),
    "recursive CTE hierarchy traversal: per-level equi-joins, O(log N) levels")

  /** Window DISTRIBUTION functions — ntile / percent_rank / cume_dist, the
    * §2.7 scalar-surface family the ranking rows (W1, q16) do not touch.
    * percent_rank = (rank−1)/(N−1) and cume_dist = peers≤x / N are single
    * int/int IEEE divisions, bit-identical across engines unrounded
    * (CLAUDE.md float rule 3); ntile needs a TOTAL order (its value depends
    * on row position within ties), so the window orders by (value,
    * event_id) — unique tiebreak, engine-independent. Windows are computed
    * over each FULL event_type partition, then the output is restricted to
    * a stable user slice to keep the verified row small. */
  val q60 = QueryDef(
    "q60_window_distribution",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val w = Window.partitionBy(col("event_type"))
        .orderBy(col("value"), col("event_id"))
      Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"), col("value"),
          ntile(10).over(w).as("decile"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .filter(col("user_id") < 30)
        .orderBy(col("event_id"))
    },
    Some("""SELECT * FROM (
           |  SELECT event_id, user_id, event_type, value,
           |    CAST(ntile(10) OVER w AS INTEGER) AS decile,
           |    percent_rank() OVER w AS pr,
           |    cume_dist() OVER w AS cd
           |  FROM events
           |  WINDOW w AS (PARTITION BY event_type ORDER BY value, event_id))
           |WHERE user_id < 30 ORDER BY event_id""".stripMargin),
    "window distribution functions: ntile/percent_rank/cume_dist with total-order ties")

  /** Explicit GROUPING SETS — the third grouping-family surface (q17 =
    * rollup, q32 = cube): an arbitrary, non-hierarchical set list —
    * (status, priority), (status), (priority) but NOT the grand total —
    * exactly the shape dashboards ask for and neither rollup nor cube
    * produces without a post-filter. grouping_id disambiguates the null
    * produced by set-collapse from a (hypothetical) null data value.
    * One shuffle: Spark expands to the set list map-side. */
  val q61 = QueryDef(
    "q61_grouping_sets",
    (spark, dir) => {
      Tables.orders(spark, dir).createOrReplaceTempView("q61_orders")
      spark.sql(
        """SELECT o_orderstatus, o_orderpriority,
          |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
          |  count(*) AS n, round(sum(o_totalprice), 2) AS total
          |FROM q61_orders
          |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
          |  (o_orderstatus), (o_orderpriority))
          |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin)
    },
    Some("""SELECT o_orderstatus, o_orderpriority,
           |  CAST(grouping_id(o_orderstatus, o_orderpriority) AS INTEGER) AS gid,
           |  count(*) AS n, round(sum(o_totalprice), 2) AS total
           |FROM orders
           |GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
           |  (o_orderstatus), (o_orderpriority))
           |ORDER BY gid, o_orderstatus, o_orderpriority""".stripMargin),
    "explicit GROUPING SETS: arbitrary non-hierarchical set list + grouping_id")

  /** The read side of q63, factored for PlanAuditSpec: joins the two
    * BUCKETED tables. The `merge` hint keeps the demonstration honest
    * (a broadcast would also be exchange-free but wouldn't exercise
    * co-location); with both sides bucketed on the key into the same
    * bucket count, the SMJ needs NO Exchange — each task reads bucket i
    * of both tables. (A per-bucket SortExec remains: since Spark 3.0
    * bucket sortBy metadata doesn't feed outputOrdering unless a legacy
    * flag is set — sorting the already-sorted one-file bucket is a
    * linear pass.) */
  private[graft] def q63Join(spark: org.apache.spark.sql.SparkSession) =
    spark.table("q63_orders").hint("merge")
      .join(spark.table("q63_customer"),
        col("o_custkey") === col("c_custkey"))

  /** BUCKETED CO-LOCATED JOIN — the storage-layout lever for the 100 TB
    * fact⋈dim case where BOTH sides are big: write each table bucketed +
    * sorted by the join key (`bucketBy`/`sortBy`, Spark's persisted
    * hash-partitioning contract), and the sort-merge join reads bucket i
    * of each side in task i — ZERO shuffle at query time, every run,
    * amortizing the one-time layout cost across every subsequent join on
    * that key (the q43 z-order idea, applied to join topology instead of
    * scan pruning). The only exchanges left in the
    * plan are the mktsegment aggregation and the output sort — both over
    * group-count-sized relations. PlanAuditSpec pins that no Exchange
    * carries the join key or the pre-agg payload. */
  // one scratch dir + one layout build per (session, sfDir): repeats —
  // bench's median-of-3, verify after bench — reuse the persisted layout
  // instead of accumulating orphaned table copies on disk, which is also
  // the semantics a real deployment has (the layout cost is one-time,
  // amortized across every join on the key). `inputFiles` re-checks the
  // catalog actually points at THIS sf's scratch, so switching sfDir in
  // one session rebuilds rather than silently reading the other scale.
  private val q63Built =
    new java.util.concurrent.ConcurrentHashMap[String, String]()

  val q63 = QueryDef(
    "q63_bucketed_join",
    (spark, dir) => {
      val scratch = q63Built.computeIfAbsent(dir,
        _ => FixtureDirs.create("q63-bucketed-").toString)
      val built = spark.catalog.tableExists("q63_orders") &&
        spark.table("q63_orders").inputFiles.headOption.exists(_.contains(scratch))
      if (!built) {
        spark.sql("DROP TABLE IF EXISTS q63_orders")
        spark.sql("DROP TABLE IF EXISTS q63_customer")
        // repartition on the bucket key first: task i then holds exactly
        // bucket i's rows (same murmur3 hash both sides), so each bucket is
        // ONE file — the layout Spark requires to trust sortBy metadata
        // (multi-file buckets re-sort at read), and the one that avoids the
        // tasks×buckets small-file explosion at scale
        Tables.orders(spark, dir).repartition(8, col("o_custkey")).write
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .option("path", s"$scratch/orders").mode("overwrite")
          .saveAsTable("q63_orders")
        Tables.customer(spark, dir).repartition(8, col("c_custkey")).write
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .option("path", s"$scratch/customer").mode("overwrite")
          .saveAsTable("q63_customer")
      }
      q63Join(spark)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_orders"),
          round(sum(col("o_totalprice")), 2).as("revenue"))
        .orderBy(col("c_mktsegment"))
    },
    Some("""SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS n_orders,
           |  round(sum(o_totalprice), 2) AS revenue
           |FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
           |GROUP BY c_mktsegment ORDER BY c_mktsegment""".stripMargin),
    "bucketed co-located join: persisted hash layout, shuffle-free sort-merge join (beyond reference)")

  /** DATA-QUALITY EXPECTATIONS — the declarative constraint gate every
    * lakehouse ingest runs before promoting bronze → silver (Delta Live
    * Tables' `EXPECT ... ON VIOLATION {WARN|DROP}` surface): each
    * expectation is a boolean predicate tagged with an enforcement action;
    * WARN counts violations but keeps the rows, DROP quarantines them. The
    * testdata is clean, so the row injects deterministic dirt derived from
    * `o_orderkey` (negative prices, NULL dates, dangling FKs, unknown
    * priorities — both engines construct the identical bronze, the
    * d38/m0x authored-fixture pattern); the operator under test is the
    * single-pass flag + count + route.
    *
    * 100 TB shape: all predicate flags are map-side projections riding the
    * scan; the FK expectation is the only join (orders ⋈ customer on
    * custkey — dimension-sized right side, AQE broadcasts it; at true
    * scale the q38 bloom-filter pre-prune is the same-shaped cheaper
    * check). Everything then collapses into ONE aggregate of counting
    * sums — no per-constraint re-scan, violations for all four
    * expectations and the kept/quarantined split come out of the same
    * pass, unpivoted driver-free via `stack`. */
  /** The q65/s34 expectation set, shared Spark- and oracle-side. The
    * testdata is clean, so [[expectationsBronze]] injects deterministic
    * `o_orderkey`-derived dirt identically in both engines (the d38/m0x
    * authored-fixture pattern). */
  private[queries] val knownPriorities =
    Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")

  private[queries] def expectationsBronze(o: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    o.select(
      col("o_orderkey"),
      // negated key can never collide with a real custkey at ANY scale
      // factor (a fixed +1M offset would silently stop dangling once
      // custkeys pass 1M — the gate would go green-and-vacuous)
      when(col("o_orderkey") % 89 === 0, -col("o_custkey") - 1L)
        .otherwise(col("o_custkey")).as("o_custkey"),
      when(col("o_orderkey") % 97 === 0, -col("o_totalprice"))
        .otherwise(col("o_totalprice")).as("o_totalprice"),
      when(col("o_orderkey") % 101 === 0, lit(null))
        .otherwise(col("o_orderdate")).as("o_orderdate"),
      when(col("o_orderkey") % 103 === 0, lit("UNKNOWN"))
        .otherwise(col("o_orderpriority")).as("o_orderpriority"))

  /** DuckDB mirror of [[expectationsBronze]] plus the FK flag: CTEs
    * `bronze` (dirt-injected orders) and `f` (bronze + `ok_fk`). */
  private[queries] val expectationsBronzeSql =
    """bronze AS (SELECT o_orderkey,
      |  CASE WHEN o_orderkey % 89 = 0 THEN -o_custkey - 1 ELSE o_custkey END AS o_custkey,
      |  CASE WHEN o_orderkey % 97 = 0 THEN -o_totalprice ELSE o_totalprice END AS o_totalprice,
      |  CASE WHEN o_orderkey % 101 = 0 THEN NULL ELSE o_orderdate END AS o_orderdate,
      |  CASE WHEN o_orderkey % 103 = 0 THEN 'UNKNOWN' ELSE o_orderpriority END AS o_orderpriority
      |  FROM orders),
      |f AS (SELECT b.*, c.c_custkey IS NOT NULL AS ok_fk
      |  FROM bronze b LEFT JOIN customer c ON b.o_custkey = c.c_custkey)""".stripMargin

  val q65 = QueryDef(
    "q65_expectations",
    (spark, dir) => {
      val bronze = expectationsBronze(Tables.orders(spark, dir))
      val cust = Tables.customer(spark, dir).select(col("c_custkey"))
      val flagged = bronze
        .join(cust, bronze("o_custkey") === cust("c_custkey"), "left")
        .select(
          (col("o_totalprice") > 0).as("ok_price"),
          col("o_orderdate").isNotNull.as("ok_date"),
          col("c_custkey").isNotNull.as("ok_fk"),
          col("o_orderpriority").isin(knownPriorities: _*).as("ok_prio"))
      flagged.agg(
          count(lit(1)).as("n"),
          sum(when(!col("ok_fk"), 1L).otherwise(0L)).as("v_fk"),
          sum(when(!col("ok_date"), 1L).otherwise(0L)).as("v_date"),
          sum(when(!col("ok_price"), 1L).otherwise(0L)).as("v_price"),
          sum(when(!col("ok_prio"), 1L).otherwise(0L)).as("v_prio"),
          sum(when(col("ok_date") && col("ok_fk"), 1L).otherwise(0L)).as("kept"))
        .selectExpr(
          """stack(7,
            |  'exp_custkey_exists',   'drop',    v_fk,
            |  'exp_orderdate_not_null','drop',   v_date,
            |  'exp_price_positive',   'warn',    v_price,
            |  'exp_priority_known',   'warn',    v_prio,
            |  'zz_rows_in',           'summary', n,
            |  'zz_rows_kept',         'summary', kept,
            |  'zz_rows_quarantined',  'summary', n - kept
            |) AS (expectation, action, violations)""".stripMargin)
        .orderBy(col("expectation"))
    },
    Some(s"""WITH $expectationsBronzeSql,
           |a AS (SELECT CAST(count(*) AS BIGINT) AS n,
           |  CAST(sum(CASE WHEN NOT ok_fk THEN 1 ELSE 0 END) AS BIGINT) AS v_fk,
           |  CAST(sum(CASE WHEN o_orderdate IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS v_date,
           |  CAST(sum(CASE WHEN NOT (o_totalprice > 0) THEN 1 ELSE 0 END) AS BIGINT) AS v_price,
           |  CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM','4-NOT SPECIFIED','5-LOW') THEN 1 ELSE 0 END) AS BIGINT) AS v_prio,
           |  CAST(sum(CASE WHEN o_orderdate IS NOT NULL AND ok_fk THEN 1 ELSE 0 END) AS BIGINT) AS kept
           |  FROM f)
           |SELECT 'exp_custkey_exists' AS expectation, 'drop' AS action, v_fk AS violations FROM a
           |UNION ALL SELECT 'exp_orderdate_not_null', 'drop', v_date FROM a
           |UNION ALL SELECT 'exp_price_positive', 'warn', v_price FROM a
           |UNION ALL SELECT 'exp_priority_known', 'warn', v_prio FROM a
           |UNION ALL SELECT 'zz_rows_in', 'summary', n FROM a
           |UNION ALL SELECT 'zz_rows_kept', 'summary', kept FROM a
           |UNION ALL SELECT 'zz_rows_quarantined', 'summary', n - kept FROM a
           |ORDER BY expectation""".stripMargin),
    "data-quality expectations: declarative WARN/DROP constraint gate with quarantine accounting, one pass (DLT expectations analog)")

  /** k-ANONYMITY ROLLUP (q73) — [[Relational.kAnonRollup]]: release-ready
    * grouped aggregates where any (event_type, day) cell describing fewer
    * than k distinct users is folded into one `*`-masked bucket; totals
    * reconcile because the suppressed mass is reported, not dropped. The
    * synthetic corpus's group sizes are near-uniform, so k is set at the
    * MIDPOINT of the observed size range — data-derived like v17b's nlist,
    * guaranteeing both the kept and the suppressed branch are non-empty at
    * every SF (`require`d; a policy deployment sets k by regulation
    * instead). Day is the epoch-aligned µs day index (exact both engines,
    * CLAUDE.md rule 1). */
  val q73 = QueryDef(
    "q73_kanon_rollup",
    (spark, dir) => {
      val ev = Tables.eventsUs(spark, dir)
        .select(col("user_id"), col("event_type"), col("value"),
          expr("ts_us div 86400000000").as("day"))
      val keys = Seq("event_type", "day")
      val sizes = ev.groupBy(keys.map(col): _*)
        .agg(countDistinct(col("user_id")).as("n"))
        .agg(min(col("n")).as("lo"), max(col("n")).as("hi")).head()
      val k = sizes.getLong(0) + (sizes.getLong(1) - sizes.getLong(0)) / 2
      val out = Relational.kAnonRollup(ev, keys, "user_id", k, Seq(
          countDistinct(col("user_id")).as("users"),
          count(lit(1)).as("n"),
          round(sum(col("value")), 2).as("sum_value")))
        .localCheckpoint(true) // tiny (#groups rows); one pass feeds the guards
      require(out.filter(col("event_type") === "*").count() > 0,
        "k-anon gate suppressed nothing — midpoint k broken (d49 lesson)")
      require(out.filter(col("event_type") =!= "*").count() > 0,
        "k-anon gate suppressed everything — midpoint k broken")
      out.orderBy(col("event_type"), col("day"))
    },
    Some(s"""WITH $evCte,
            |e AS (SELECT user_id, event_type, value,
            |             ts_us // 86400000000 AS day FROM ev),
            |g AS (SELECT event_type, day, count(DISTINCT user_id) AS grp_n
            |      FROM e GROUP BY 1, 2),
            |kv AS (SELECT min(grp_n) + (max(grp_n) - min(grp_n)) // 2 AS k FROM g),
            |m AS (SELECT CASE WHEN grp_n < (SELECT k FROM kv) THEN '*'
            |                  ELSE CAST(e.event_type AS VARCHAR) END AS event_type,
            |             CASE WHEN grp_n < (SELECT k FROM kv) THEN '*'
            |                  ELSE CAST(e.day AS VARCHAR) END AS day,
            |             user_id, value
            |      FROM e JOIN g ON e.event_type = g.event_type AND e.day = g.day)
            |SELECT event_type, day, count(DISTINCT user_id) AS users,
            |       count(*) AS n, round(sum(value), 2) AS sum_value
            |FROM m GROUP BY 1, 2 ORDER BY event_type, day""".stripMargin),
    "k-anonymity rollup: cells under k distinct users fold into a *-masked bucket, totals reconcile — broadcast size-tag join, one corpus shuffle on the masked keys")

  def defs: Seq[QueryDef] = Seq(q01, q02, q03, q04, q05, q06, q07,
    q12, q13, q14, q15, q16, q17, q18, q19, q21, q22, q23, q24, q25, q26,
    q27, q28, q29, q30, q31, q32, q33, q34, q35, q36, q37, q38, q39, q40,
    q41, q42, q43, q44, q45, q46, q47, q48, q58, q59, q60, q61, q63, q65,
    q73)
}
