package graft.queries

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger

/** Structured Streaming operators exercised as real streaming queries —
  * file-stream source over the events parquet, availableNow drain, memory
  * sink — whose drained result equals a batch query (the DuckDB oracle).
  * This is the reference's own equivalence (batch mode = same streams with
  * `trigger(availableNow)`, SURVEY.md §1 item 2).
  */
object StreamingQueries {
  import RelationalQueries.evCte

  private val runId = new AtomicLong()

  private def eventsDdl(tsDdl: String) =
    s"event_id bigint, ts $tsDdl, user_id bigint, event_type string, value double, props string"

  /** Streaming source over the events table (file streaming source wants a
    * directory: stream the sf dir filtered to the events file), with the
    * exact-µs ts convention of Tables.eventsUs applied. The explicit stream
    * schema must match the file's physical generation (nanos-long vs µs
    * timestamp), so probe the batch footer once and declare accordingly. */
  private def eventsStream(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.streaming.schemaInference", "false")
    val tsType = graft.sources.Tables.events(spark, dir).schema("ts").dataType
    val tsDdl = tsType match {
      case org.apache.spark.sql.types.LongType => "bigint"
      case org.apache.spark.sql.types.TimestampNTZType => "timestamp_ntz"
      case _ => "timestamp"
    }
    val raw = spark.readStream
      .schema(org.apache.spark.sql.types.StructType.fromDDL(eventsDdl(tsDdl)))
      .option("pathGlobFilter", "events.parquet").parquet(dir)
    raw
      .withColumn("ts_us", graft.sources.Tables.tsToUs(spark, raw("ts"), tsType))
      .withColumn("ts_utc", timestamp_micros(col("ts_us")))
      .drop("ts")
  }

  /** Streaming drain settings, the measured-best local values from the
    * checkpoint-root × state-width A/Bs (the "Streaming drain floor"
    * notes). Checkpoints for these TEST drains are throwaway temp dirs, so
    * tmpfs is an honest root when present (a production stream would point
    * its checkpoint at durable storage instead); state partitions = 4
    * measured best at local scale (1 serializes the join, 8 doubles store
    * count for no win). */
  private val statePartitions: Int = 4
  private val ckptRoot: Option[java.nio.file.Path] =
    Some(java.nio.file.Paths.get("/dev/shm")).filter(Files.isWritable(_))

  /** A fresh checkpoint dir per drain, removed at JVM exit. */
  private def newCkptDir(): String =
    ckptRoot.fold(FixtureDirs.create("graft-ckpt-"))(FixtureDirs.create("graft-ckpt-", _)).toString

  /** State-partition width for a drain over `dir`'s events file: the
    * profiled local optimum ([[statePartitions]] = 4) at sf0.1, growing
    * ~1 partition per 2 MB of input beyond that. An A/B over a 10× time-
    * and user-shifted events replica measured the FIXED width as the
    * super-linear stage at 10× volume (s02 8.6→3.8 s, s06 7.6→4.1 s
    * moving 4→8 partitions) — state width must track per-batch volume
    * like any other shuffle, it is not a constant of the machine. Capped at 64 locally; a cluster deployment
    * sizes it from executor count the usual way. */
  private def stateWidthFor(dir: String): Int = {
    val bytes =
      try java.nio.file.Files.size(java.nio.file.Paths.get(dir, "events.parquet"))
      catch { case _: Exception => 0L }
    math.min(math.max(statePartitions, (bytes / (2L << 20)).toInt), 64)
  }

  /** Run `body` with test-scale streaming state partitioning: state-store
    * count = shuffle partitions at query start (a stream-stream join opens 4
    * stores per partition); fewer, larger state partitions beat many tiny
    * checkpoint files locally. Restored afterwards (set or unset). */
  private def withStreamConf[T](spark: SparkSession, width: Int = statePartitions)
                               (body: => T): T =
    graft.ops.SessionConf.scoped(spark, "spark.sql.shuffle.partitions" -> width.toString)(body)

  /** Run a streaming transform of the events table to completion, return the
    * collected sink table. */
  private def drain(spark: SparkSession, dir: String, outputMode: String)
                   (transform: DataFrame => DataFrame): DataFrame = {
    val src = eventsStream(spark, dir)
    val name = s"graft_stream_${runId.incrementAndGet()}"
    val ckpt = newCkptDir()
    withStreamConf(spark, stateWidthFor(dir)) {
      val q = transform(src).writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    spark.table(name)
  }

  /** A1 streaming — unwatermarked grouped agg drained in complete mode
    * (ref Gold/06-gold.py:93-95: update-mode agg + MERGE; complete-mode
    * memory sink is the test-harness equivalent of merge-to-latest). */
  val s01 = QueryDef(
    "s01_stream_agg",
    (spark, dir) => drain(spark, dir, "complete") { ev =>
      ev.groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
    }.orderBy(col("event_type")),
    Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "A1 streaming unwatermarked agg, availableNow drain (ref Gold/06-gold.py:93-95)")

  /** A1 BOUNDED-STATE variant — the 100 TB re-design SURVEY §7.5(2)
    * prescribes for the reference's unwatermarked agg: watermark +
    * tumbling-window agg in APPEND mode. State is only the windows still
    * open at the watermark (per event_type), evicted as windows close —
    * bounded by windows-in-flight, not by stream history; downstream a
    * periodic MERGE folds closed windows into running totals (the s04
    * path). 0-second watermark delay ⇒ the drain's cutoff is exactly
    * max(event_time) (CLAUDE.md rule 8); the final no-data batch flushes
    * every window whose end ≤ cutoff, which the oracle mirrors in exact
    * µs (epoch-aligned day windows: `(ts_us // 86400e6) · 86400e6`). The
    * row pins the append-mode EMISSION RULE itself — which windows a
    * drain emits — not just the arithmetic. */
  val s12 = QueryDef(
    "s12_stream_agg_bounded",
    (spark, dir) => drain(spark, dir, "append") { ev =>
      ev.withWatermark("ts_utc", "0 seconds")
        .groupBy(window(col("ts_utc"), "1 day"), col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .select(unix_micros(col("window.start")).as("day_start_us"),
          col("event_type"), col("n"), col("sum_value"))
    }.orderBy(col("day_start_us"), col("event_type")),
    Some(s"""WITH $evCte
            |SELECT (ts_us // 86400000000) * 86400000000 AS day_start_us,
            |  event_type, count(*) AS n, round(sum(value), 2) AS sum_value
            |FROM ev
            |GROUP BY 1, 2
            |HAVING day_start_us + 86400000000 <= (SELECT max(ts_us) FROM ev)
            |ORDER BY day_start_us, event_type""".stripMargin),
    "A1 bounded-state redesign: watermarked tumbling-window agg, append drain (SURVEY 7.5)")

  /** D1 streaming — watermark + dropDuplicates on the full row set
    * (ref Silver/05-silver.py:78-79). Full-row keys make the kept-row
    * deterministic, so the batch DISTINCT oracle matches exactly. */
  val s02 = QueryDef(
    "s02_stream_dedup",
    (spark, dir) => drain(spark, dir, "append") { ev =>
      ev.withWatermark("ts_utc", "365 days")
        .dropDuplicates(Seq("user_id", "event_type", "value", "ts_us"))
        .select(col("user_id"), col("event_type"), col("value"), col("ts_us"))
    }.orderBy(col("user_id"), col("ts_us"), col("event_type"), col("value")),
    Some(s"""WITH $evCte
            |SELECT DISTINCT user_id, event_type, value, ts_us FROM ev
            |ORDER BY user_id, ts_us, event_type, value""".stripMargin),
    "D1 streaming watermarked dedup (ref Silver/05-silver.py:78-79)")

  /** J4 streaming — stream-stream interval join with watermarks on both
    * sides (ref Silver/05-silver.py:368-400): view→purchase sessionization,
    * identical bounds to batch q06, so q06's oracle verifies the streaming
    * execution path too. */
  val s03 = QueryDef(
    "s03_stream_interval_join",
    (spark, dir) => drain(spark, dir, "append") { ev =>
      val starts = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("start_id"),
          col("ts_us").as("start_us"), col("ts_utc").as("start_t"))
        .withWatermark("start_t", "365 days")
      val stops = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u2"), col("event_id").as("stop_id"),
          col("ts_us").as("stop_us"), col("ts_utc").as("stop_t"))
        .withWatermark("stop_t", "365 days")
      starts.join(stops,
          starts("user_id") === stops("u2") &&
          stops("stop_t") > starts("start_t") &&
          stops("stop_t") < starts("start_t") + expr("interval 3 hours"))
        .select(col("user_id"), col("start_id"), col("stop_id"),
          col("start_us"), col("stop_us"))
    }.orderBy(col("user_id"), col("start_id"), col("stop_id")),
    Some(s"""WITH $evCte
            |SELECT s.user_id, s.event_id AS start_id, p.event_id AS stop_id,
            |       s.ts_us AS start_us, p.ts_us AS stop_us
            |FROM ev s JOIN ev p ON s.user_id = p.user_id
            | AND s.event_type = 'view' AND p.event_type = 'purchase'
            | AND p.ts_us > s.ts_us AND p.ts_us < s.ts_us + 10800000000
            |ORDER BY s.user_id, start_id, stop_id""".stripMargin),
    "J4 streaming stream-stream interval join w/ watermarks (ref Silver/05-silver.py:368-400)")

  /** K2 — foreachBatch MERGE sink as a driver-verifiable query: stream the
    * events table in update mode, each micro-batch M5-upserted into a
    * LogTable keyed by event_type; the final table equals the batch
    * aggregate (ref Upserter foreachBatch wiring, Silver/05-silver.py:85-97). */
  val s04 = QueryDef(
    "s04_stream_foreachbatch_merge",
    (spark, dir) => {
      val tableDir = FixtureDirs.create("graft-fb-").toString
      val table = new graft.merge.LogTable(spark, tableDir,
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_type string, n bigint, sum_value double"))
      val ckpt = newCkptDir()
      withStreamConf(spark) {
        val q = eventsStream(spark, dir)
          .groupBy(col("event_type"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .writeStream
          .outputMode("update")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            table.merge(batch)((cur, b) =>
              graft.merge.Merge.upsertColumns(cur, b, Seq("event_type"),
                Seq("n", "sum_value")))
          }
          .start()
        q.awaitTermination()
      }
      table.read().orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "K2 foreachBatch MERGE sink, update mode (ref Silver/05-silver.py:85-97)")

  /** J4 streaming, LEFT OUTER flavor — beyond the reference (it only runs
    * inner interval joins): views with no purchase in the 3 h window emit a
    * null-matched row once the watermark passes `start + 3 h` (the point
    * where no future purchase can match). With a 0-second watermark delay
    * the cutoff is exactly the max event time, which the oracle mirrors in
    * exact int64 µs: unmatched views strictly older than `max(ts) - 3 h`
    * appear with null stop columns; younger unmatched views are still held
    * in (evicted) state at drain end and appear on neither side. */
  val s05 = QueryDef(
    "s05_stream_outer_interval_join",
    (spark, dir) => drain(spark, dir, "append") { ev =>
      val starts = ev.filter(col("event_type") === "view")
        .select(col("user_id"), col("event_id").as("start_id"),
          col("ts_us").as("start_us"), col("ts_utc").as("start_t"))
        .withWatermark("start_t", "0 seconds")
      val stops = ev.filter(col("event_type") === "purchase")
        .select(col("user_id").as("u2"), col("event_id").as("stop_id"),
          col("ts_us").as("stop_us"), col("ts_utc").as("stop_t"))
        .withWatermark("stop_t", "0 seconds")
      starts.join(stops,
          starts("user_id") === stops("u2") &&
          stops("stop_t") > starts("start_t") &&
          stops("stop_t") < starts("start_t") + expr("interval 3 hours"),
          "left_outer")
        .select(col("user_id"), col("start_id"), col("stop_id"),
          col("start_us"), col("stop_us"))
    }.orderBy(col("user_id"), col("start_id"), col("stop_id")),
    Some(s"""WITH $evCte,
            |s AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'view'),
            |p AS (SELECT user_id, event_id, ts_us FROM ev WHERE event_type = 'purchase'),
            |matched AS (
            |  SELECT s.user_id, s.event_id AS start_id, p.event_id AS stop_id,
            |         s.ts_us AS start_us, p.ts_us AS stop_us
            |  FROM s JOIN p ON s.user_id = p.user_id
            |   AND p.ts_us > s.ts_us AND p.ts_us < s.ts_us + 10800000000),
            |unmatched AS (
            |  SELECT s.user_id, s.event_id AS start_id, CAST(NULL AS BIGINT) AS stop_id,
            |         s.ts_us AS start_us, CAST(NULL AS BIGINT) AS stop_us
            |  FROM s
            |  WHERE s.event_id NOT IN (SELECT start_id FROM matched)
            |    AND s.ts_us + 10800000000 < (SELECT max(ts_us) FROM ev))
            |SELECT * FROM matched UNION ALL SELECT * FROM unmatched
            |ORDER BY user_id, start_id, stop_id""".stripMargin),
    "J4 streaming LEFT OUTER interval join — null-match emission on watermark expiry")

  /** Streaming session windows (merging-session state) in append mode —
    * the streaming twin of batch `q24`. A session finalizes once the
    * watermark (0 s delay → exactly max event time) passes its END (last
    * event + gap); the oracle is the batch gaps-and-islands sessionization
    * filtered by the same µs-exact cutoff, so tail sessions still open at
    * drain end appear on neither side. */
  val s06 = QueryDef(
    "s06_stream_session_window",
    (spark, dir) => drain(spark, dir, "append") { ev =>
      ev.withWatermark("ts_utc", "0 seconds")
        .groupBy(session_window(col("ts_utc"), "1 hour"), col("user_id"))
        .agg(count(lit(1)).as("n_events"))
        .select(col("user_id"),
          unix_micros(col("session_window.start")).as("start_us"),
          col("n_events"))
    }.orderBy(col("user_id"), col("start_us")),
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
            |SELECT user_id, start_us, n_events FROM (
            |  SELECT user_id, min(ts_us) AS start_us, count(*) AS n_events,
            |         max(ts_us) + 3600000000 AS end_us
            |  FROM islands GROUP BY user_id, island)
            |WHERE end_us < (SELECT max(ts_us) FROM ev)
            |ORDER BY user_id, start_us""".stripMargin),
    "streaming session_window agg, append mode, watermark-finalized sessions")

  /** Custom arbitrary-state sessionization (`flatMapGroupsWithState`) run on
    * its batch path — upgrades the extension point from spec-only to
    * oracle-verified: every group's state machine runs exactly once, so the
    * emitted sessions (closed + open tail) equal the full gaps-and-islands
    * sessionization. */
  val s07 = QueryDef(
    "s07_custom_state_sessionize",
    (spark, dir) => {
      import spark.implicits._
      import graft.streaming.StatefulSessionizer
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .selectExpr("user_id", "ts_us").as[StatefulSessionizer.Event]
      StatefulSessionizer.sessionize(ev, gapUs = 3600000000L).toDF()
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
            |SELECT user_id, min(ts_us) AS start_us, max(ts_us) AS end_us,
            |       CAST(count(*) AS INTEGER) AS n_events
            |FROM islands GROUP BY user_id, island
            |ORDER BY user_id, start_us""".stripMargin),
    "custom-state sessionization via flatMapGroupsWithState (batch path)")

  /** s07's sessionization on `transformWithState` (Spark 4's arbitrary-state
    * API) — same `advance` state machine, same oracle; the batch path runs
    * the processor once per key with no timers. Timer-based idle flushing is
    * exercised by TwsSessionizerSpec on the RocksDB provider. */
  val s08 = QueryDef(
    "s08_transform_with_state",
    (spark, dir) => {
      import spark.implicits._
      import graft.streaming.{StatefulSessionizer, TwsSessionizer}
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .selectExpr("user_id", "ts_us").as[StatefulSessionizer.Event]
      TwsSessionizer.sessionize(ev, gapUs = 3600000000L).toDF()
        .orderBy(col("user_id"), col("start_us"))
    },
    s07.oracle,
    "custom-state sessionization via transformWithState (batch path)")

  /** D1 streaming, Spark 3.5+ API — `dropDuplicatesWithinWatermark`: dedup
    * keys EXCLUDE the event-time column (unlike s02's dropDuplicates, which
    * must key on it to ever evict); state for a key expires once the
    * watermark passes its last-seen time + delay, the shape that holds for
    * endless streams whose duplicates cluster in time. Same full-row key
    * set → same DISTINCT oracle as s02; the drain ingests everything inside
    * one watermark window, so no state expires mid-run and the result is
    * exactly the batch DISTINCT. */
  val s09 = QueryDef(
    "s09_dedup_within_watermark",
    (spark, dir) => drain(spark, dir, "append") { ev =>
      ev.withWatermark("ts_utc", "365 days")
        .dropDuplicatesWithinWatermark(Seq("user_id", "event_type", "value", "ts_us"))
        .select(col("user_id"), col("event_type"), col("value"), col("ts_us"))
    }.orderBy(col("user_id"), col("ts_us"), col("event_type"), col("value")),
    s02.oracle,
    "D1 streaming dedup-within-watermark, bounded state (Spark 3.5+ API)")

  /** Streaming incremental dup clustering — the STREAMING execution path of
    * [[graft.streaming.IncrementalClustering]] (d18 replays the same algebra
    * inside one batch query): the documents table is split into three files
    * so `availableNow` + `maxFilesPerTrigger=1` drives three sequential
    * micro-batches through the foreachBatch pipeline — per-batch shingling,
    * candidate pairs against the persistent shingle index, exact Jaccard,
    * and [[graft.operators.Dedup.dupClustersIncremental]] extending the
    * prior labels. Incremental ≡ from-scratch (IncrementalClusterSpec) and
    * the final labels are batch-split-independent, so the oracle is the
    * full-corpus recursive closure over UNCAPPED exact-Jaccard pairs at the
    * pipeline's threshold. */
  val s10 = QueryDef(
    "s10_stream_incremental_clusters",
    (spark, dir) => {
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      // three-file source dir → three micro-batches; final labels do not
      // depend on the split (incremental ≡ from-scratch at every prefix).
      // Session-cached: the source is a deterministic function of the sf
      // dir and is only ever READ (the cachedDir contract), so repeats
      // measure the pipeline, not the fixture write.
      val srcDir = FixtureDirs.cachedDir("s10-docs-", dir) { d =>
        (0 until 3).foreach { i =>
          val part = FixtureDirs.create(s"s10-part$i-")
          docs.filter(col("doc_id") % 3 === i).coalesce(1)
            .write.mode("overwrite").parquet(part.toString)
          val f = java.nio.file.Files.list(part)
            .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val root = FixtureDirs.create("s10-tables-").toString
      val pipe = new graft.streaming.IncrementalClustering(
        spark, root, n = 3, minJaccard = 0.5)
      val stream = spark.readStream
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      withStreamConf(spark) {
        pipe.attach(stream, newCkptDir()).awaitTermination()
      }
      pipe.labelsTable.read().orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id,
           |  CASE WHEN length(trim(text)) = 0 THEN []
           |       ELSE string_split_regex(trim(text), '\s+') END AS w FROM documents),
           |sh AS (SELECT doc_id, unnest(list_distinct(
           |    CASE WHEN length(w) < 3 THEN []
           |         ELSE [array_to_string(list_slice(w, i+1, i+3), ' ') for i in range(0, length(w)-2)] END)) AS shingle
           |  FROM toks),
           |sizes AS (SELECT doc_id, count(*) AS set_size FROM sh GROUP BY doc_id),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
           |  FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pairs AS (SELECT doc_a, doc_b FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter) >= 0.5),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |nodes AS (SELECT doc_id FROM documents),
           |reach AS (
           |  WITH RECURSIVE r(doc_id, lab) AS (
           |    SELECT doc_id, doc_id FROM nodes
           |    UNION
           |    SELECT e.dst, r.lab FROM r JOIN edges e ON e.src = r.doc_id)
           |  SELECT doc_id, lab FROM r)
           |SELECT doc_id, min(lab) AS cluster_id FROM reach
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "streaming incremental dup clustering: foreachBatch + persistent shingle index, availableNow drain (LLM-pipeline op)")

  /** s10 WITH THE DF-CAP LIVE (s10b) — the 100 TB boilerplate guard,
    * hash-verified instead of only spec-verified. The fixture appends one
    * boilerplate sentence to EVERY document (the shared-footer scenario the
    * cap exists for): uncapped, its interior shingles (df = corpus size)
    * would fan the inverted-index join out quadratically and weld the
    * whole corpus into one cluster; with `maxDf = 50` live, each batch's
    * index query folds the accumulated df deltas, takes the > 50 hot set,
    * and anti-joins it out of both candidate sides (IncrementalClustering
    * scaladoc). Streaming-capped ≡ from-scratch-capped here because the
    * boilerplate is hot from its FIRST batch (~170 occurrences > 50 at
    * sf0.01) and no natural shingle ever crosses 50 (measured max df ~25
    * at sf0.1) — the hot set is prefix-stable, the documented equivalence
    * precondition. The oracle is the from-scratch capped closure (cap
    * mirrored as `df <= 50`, the d05/d06 technique); the requires guard
    * the mechanisms: a dead cap collapses the corpus to one cluster, a
    * vacuous fixture yields an empty hot set — both turn the row red at
    * ANY scale factor, oracle or not. */
  val s10b = QueryDef(
    "s10b_stream_clusters_capped",
    (spark, dir) => {
      val boiler = " standard footer boilerplate legal notice text"
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), concat(col("text"), lit(boiler)).as("text"))
      // session-cached read-only source (see s10)
      val srcDir = FixtureDirs.cachedDir("s10b-docs-", dir) { d =>
        (0 until 3).foreach { i =>
          val part = FixtureDirs.create(s"s10b-part$i-")
          docs.filter(col("doc_id") % 3 === i).coalesce(1)
            .write.mode("overwrite").parquet(part.toString)
          val f = java.nio.file.Files.list(part)
            .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val root = FixtureDirs.create("s10b-tables-").toString
      val pipe = new graft.streaming.IncrementalClustering(
        spark, root, n = 3, minJaccard = 0.5, maxDf = 50)
      val stream = spark.readStream
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      withStreamConf(spark) {
        pipe.attach(stream, newCkptDir()).awaitTermination()
      }
      val nHot = pipe.dfTable.read()
        .groupBy(col("shingle")).agg(sum(col("delta")).as("df"))
        .filter(col("df") > 50).count()
      require(nHot > 0,
        "vacuous fixture: no shingle crossed the df cap — the guard was never exercised")
      val labels = pipe.labelsTable.read()
      require(labels.select(col("cluster_id")).distinct().count() > 1,
        "df-cap dead: the injected boilerplate welded the corpus into one cluster")
      labels.orderBy(col("doc_id"))
    },
    Some("""WITH docs2 AS (SELECT doc_id,
           |  text || ' standard footer boilerplate legal notice text' AS text FROM documents),
           |toks AS (SELECT doc_id,
           |  CASE WHEN length(trim(text)) = 0 THEN []
           |       ELSE string_split_regex(trim(text), '\s+') END AS w FROM docs2),
           |sh AS (SELECT doc_id, unnest(list_distinct(
           |    CASE WHEN length(w) < 3 THEN []
           |         ELSE [array_to_string(list_slice(w, i+1, i+3), ' ') for i in range(0, length(w)-2)] END)) AS shingle
           |  FROM toks),
           |df AS (SELECT shingle, count(*) AS df FROM sh GROUP BY shingle),
           |csh AS (SELECT sh.doc_id, sh.shingle FROM sh
           |  JOIN df ON df.shingle = sh.shingle WHERE df.df <= 50),
           |sizes AS (SELECT doc_id, count(*) AS set_size FROM csh GROUP BY doc_id),
           |inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
           |  FROM csh a JOIN csh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
           |  GROUP BY 1, 2),
           |pairs AS (SELECT doc_a, doc_b FROM inter
           |  JOIN sizes sa ON sa.doc_id = doc_a
           |  JOIN sizes sb ON sb.doc_id = doc_b
           |  WHERE CAST(n_inter AS DOUBLE) / (sa.set_size + sb.set_size - n_inter) >= 0.5),
           |edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
           |          UNION ALL SELECT doc_b, doc_a FROM pairs),
           |nodes AS (SELECT doc_id FROM documents),
           |reach AS (
           |  WITH RECURSIVE r(doc_id, lab) AS (
           |    SELECT doc_id, doc_id FROM nodes
           |    UNION
           |    SELECT e.dst, r.lab FROM r JOIN edges e ON e.src = r.doc_id)
           |  SELECT doc_id, lab FROM r)
           |SELECT doc_id, min(lab) AS cluster_id FROM reach
           |GROUP BY doc_id ORDER BY doc_id""".stripMargin),
    "streaming capped clustering: df-cap boilerplate guard live under the drain, hash-verified vs the from-scratch capped closure (LLM-pipeline op)")

  /** STREAMING sequential-pattern funnel — q48's semantics executed as one
    * pass over the live stream via `transformWithState` with event-time
    * timers ([[graft.streaming.FunnelProcessor]]): per-user funnel-type
    * events accumulate in ListState until the watermark passes the user's
    * finality horizon `t1 + 2·window` (after which no admissible event can
    * change any stage), then one (user, reached) row is emitted and state
    * cleared — bounded state, the shape a 100 TB event pipeline runs
    * instead of a nightly batch funnel. The drain's final no-data batch
    * fires every expired horizon (StreamingFunnelSpec pins single-run
    * flush); with a 0 s watermark delay the cutoff is exactly max event
    * time, which the oracle mirrors in exact floor-ms arithmetic — users
    * whose horizon hasn't passed are counted on neither side (inert at
    * this data's 30-day span vs the 6-day horizon, so the counts equal
    * q48's). Stage counts aggregate the drained per-user rows. */
  val s11 = QueryDef(
    "s11_stream_funnel",
    (spark, dir) => {
      import spark.implicits._
      import org.apache.spark.sql.streaming.{OutputMode, TimeMode}
      val winUs = 72L * 3600 * 1000000
      val perUser = graft.ops.SessionConf.scoped(spark,
          "spark.sql.streaming.stateStore.providerClass" ->
            "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider") {
        drain(spark, dir, "append") { ev =>
          val idx = when(col("event_type") === "view", 0)
            .when(col("event_type") === "click", 1).otherwise(2)
          ev.filter(col("event_type").isin("view", "click", "purchase"))
            .withWatermark("ts_utc", "0 seconds")
            .select(col("user_id"), idx.cast("int").as("type_idx"), col("ts_us"))
            .as[graft.streaming.StreamingFunnel.FunnelEvent]
            .groupByKey(_.user_id)(org.apache.spark.sql.Encoders.scalaLong)
            .transformWithState(
              new graft.streaming.FunnelProcessor(3, winUs),
              TimeMode.EventTime(), OutputMode.Append())
            .toDF()
        }
      }
      val names = array(lit("view"), lit("click"), lit("purchase"))
      perUser.select(explode(sequence(lit(1), col("reached"))).as("i"))
        .groupBy(col("i"))
        .agg(count(lit(1)).as("n_users"))
        .select(concat(col("i"), lit("_"), element_at(names, col("i"))).as("stage"),
          col("n_users"))
        .orderBy(col("stage"))
    },
    Some(s"""WITH $evCte,
            |t1 AS (SELECT user_id, min(ts_us) AS t FROM ev
            |  WHERE event_type = 'view' GROUP BY user_id),
            |fired AS (SELECT user_id, t FROM t1
            |  WHERE t // 1000 + 518400001 <= (SELECT max(ts_us) // 1000 FROM ev)),
            |t2 AS (SELECT e.user_id, min(e.ts_us) AS t FROM ev e JOIN fired USING (user_id)
            |  WHERE e.event_type = 'click' AND e.ts_us > fired.t
            |    AND e.ts_us <= fired.t + 259200000000 GROUP BY e.user_id),
            |t3 AS (SELECT e.user_id, min(e.ts_us) AS t FROM ev e JOIN t2 USING (user_id)
            |  WHERE e.event_type = 'purchase' AND e.ts_us > t2.t
            |    AND e.ts_us <= t2.t + 259200000000 GROUP BY e.user_id)
            |SELECT '1_view' AS stage, count(*) AS n_users FROM fired
            |UNION ALL SELECT '2_click', count(*) FROM t2
            |UNION ALL SELECT '3_purchase', count(*) FROM t3
            |ORDER BY stage""".stripMargin),
    "streaming funnel: transformWithState + event-time horizon timers, availableNow drain")

  /** The reference's SIGNATURE end-to-end behavior — the two-set replay
    * (SURVEY §5, `Test Scripts/08-batch-test.py:35-43`: set 2 re-delivers
    * overlapping + new data; dedup, CDC recency, and merge semantics are
    * pinned simultaneously) — phrased over testdata and EXECUTED THROUGH
    * THE REAL STREAMING WAVES, not batch ops:
    *
    * landing (two parquet sets) → bronze (file stream into an append-only
    * [[LogTable]] through the `graft-logtable` sink, one txn commit per
    * micro-batch; run 2 reads only the new set) → silver (the Bronze log
    * streamed by version → watermarked dedup → foreachBatch MERGE into
    * bucketed [[LogTable]]s:
    * events M1 insert-only on event_id, orders M3 CDC upsert with
    * updated_day recency guard) → gold (per-user summary recompute + M5
    * column-list upsert) — the `Medallion.runAll` wave order on the
    * events/orders tables.
    *
    * Set 1 = even events + all orders (initial state, updated_day from
    * o_orderdate). Set 2 re-delivers every third even event and ships the
    * odd ones (streaming dedup absorbs the overlap), re-delivers `%7`
    * orders verbatim (the recency guard no-op) and updates `%5` orders
    * (status 'X', updated_day+1 — strictly newer, so CDC replaces; `%35`
    * keys carry BOTH in one micro-batch, exercising the pre-merge latest-
    * per-key collapse). The oracle is the batch CTE over the union with
    * merge semantics applied: dedup ≡ all events, CDC ≡ orders with `%5`
    * rows updated. */
  val s13 = QueryDef(
    "s13_medallion_replay",
    (spark, dir) => {
      import graft.merge.{LogTable, Merge}
      import graft.ops.Relational
      import org.apache.spark.sql.types.StructType
      val evDdl = "event_id bigint, ts_us bigint, user_id bigint, value double"
      val ordDdl = "o_orderkey bigint, o_custkey bigint, status string, " +
        "o_totalprice double, updated_day bigint"

      val events = graft.sources.Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("ts_us"), col("user_id"), col("value"))
      val orders = graft.sources.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"),
          col("o_orderstatus").as("status"), col("o_totalprice"),
          expr("unix_millis(cast(o_orderdate as timestamp)) div 86400000")
            .as("updated_day"))

      // The four landing SET FILES are deterministic functions of the sf
      // dir — build them once per session (cachedDir contract); the landing
      // dirs themselves stay per-invocation because set 2 must arrive AFTER
      // wave 1 drained (a pre-populated landing dir would collapse the
      // two-set replay into one batch). land() is then a file COPY, not a
      // Spark write, so repeats measure the waves, not the fixture.
      val setStore = FixtureDirs.cachedDir("s13-sets-", dir) { d =>
        def build(df: DataFrame, name: String): Unit = {
          val tmp = FixtureDirs.create("s13-tmp-")
          df.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(name))
        }
        build(events.filter(col("event_id") % 2 === 0), "ev-set1.parquet")
        build(orders, "ord-set1.parquet")
        build(events.filter(col("event_id") % 2 === 1 || col("event_id") % 6 === 0),
          "ev-set2.parquet")
        build(orders.filter(col("o_orderkey") % 7 === 0).unionByName(
            orders.filter(col("o_orderkey") % 5 === 0)
              .withColumn("status", lit("X"))
              .withColumn("updated_day", col("updated_day") + 1)),
          "ord-set2.parquet")
      }
      val evLanding = FixtureDirs.create("s13-ev-landing-")
      val ordLanding = FixtureDirs.create("s13-ord-landing-")
      // Delivery order comes from the copy-time mtimes: set 2 is landed
      // between the two runWaves() calls, after set 1's drain, so its
      // files are newer than anything that drain consumed. The cached set
      // files' own timestamps play no part (a copy does not keep them).
      def land(set: String, dirP: java.nio.file.Path, name: String): Unit =
        java.nio.file.Files.copy(setStore.resolve(set), dirP.resolve(name),
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)

      val root = FixtureDirs.create("s13-tables-").toString
      val silverEvents = new LogTable(spark, s"$root/silver_events",
        StructType.fromDDL(evDdl), Some((Seq("event_id"), 8)))
      val silverOrders = new LogTable(spark, s"$root/silver_orders",
        StructType.fromDDL(ordDdl), Some((Seq("o_orderkey"), 8)))
      val goldDdl = "user_id bigint, n_events bigint, sum_value double, " +
        "n_orders bigint, n_modified bigint, total_price double"
      val goldTable = new LogTable(spark, s"$root/gold_summary",
        StructType.fromDDL(goldDdl), Some((Seq("user_id"), 8)))
      val bronzeEv = FixtureDirs.create("s13-bronze-ev-").toString
      val bronzeOrd = FixtureDirs.create("s13-bronze-ord-").toString
      val ckptBronzeEv = newCkptDir(); val ckptBronzeOrd = newCkptDir()
      val ckptSilverEv = newCkptDir(); val ckptSilverOrd = newCkptDir()

      def startDrain(q: org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row]) =
        q.trigger(Trigger.AvailableNow()).start()
      def awaitAll(qs: org.apache.spark.sql.streaming.StreamingQuery*): Unit =
        qs.foreach(_.awaitTermination())

      def runWaves(): Unit = withStreamConf(spark) {
        // Start-all-then-await per wave (ref 05-silver.py:486-503): the two
        // streams of each wave write distinct targets, so their micro-batch
        // floors overlap instead of summing.
        // bronze: landing → append-only LogTable (one txn commit per batch)
        def bronze(landing: java.nio.file.Path, ddl: String, table: String, ckpt: String) =
          startDrain(spark.readStream.schema(ddl).parquet(landing.toString)
            .writeStream.format("graft-logtable").option("path", table)
            .option("appId", "s13-bronze").option("checkpointLocation", ckpt))
        awaitAll(bronze(evLanding, evDdl, bronzeEv, ckptBronzeEv),
          bronze(ordLanding, ordDdl, bronzeOrd, ckptBronzeOrd))
        // silver wave: bronze log stream → watermarked dedup → foreachBatch MERGE
        awaitAll(
          startDrain(spark.readStream.format("graft-logtable").schema(evDdl).load(bronzeEv)
            .withColumn("ts_utc", timestamp_micros(col("ts_us")))
            .withWatermark("ts_utc", "3650 days")
            .dropDuplicates(Seq("event_id")).drop("ts_utc")
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckptSilverEv)
            .foreachBatch { (b: DataFrame, _: Long) =>
              silverEvents.insertMissing(b, Seq("event_id")); ()
            }),
          startDrain(spark.readStream.format("graft-logtable").schema(ordDdl).load(bronzeOrd)
            .withColumn("upd_utc", timestamp_micros(col("updated_day") * 86400000000L))
            .withWatermark("upd_utc", "36500 days")
            .dropDuplicates(Seq("o_orderkey", "updated_day")).drop("upd_utc")
            .writeStream.outputMode("update")
            .option("checkpointLocation", ckptSilverOrd)
            .foreachBatch { (b: DataFrame, _: Long) =>
              // one micro-batch can carry a re-delivery AND its newer update
              // (%35 keys) — collapse to latest per key before the CDC merge
              val latest = Relational.dedupKeyed(
                Relational.latestPerKey(b, Seq("o_orderkey"), "updated_day"),
                Seq("o_orderkey"), Seq(col("updated_day").desc, col("status")))
              silverOrders.merge(latest)((cur, bb) =>
                Merge.cdcUpsert(cur, bb, Seq("o_orderkey"), "updated_day"))
            }))
        // gold: per-user summary recompute + M5 column-list upsert
        val ea = silverEvents.read().groupBy(col("user_id"))
          .agg(count(lit(1)).as("n_events"), round(sum(col("value")), 2).as("sum_value"))
        val oa = silverOrders.read().groupBy(col("o_custkey").as("user_id"))
          .agg(count(lit(1)).as("n_orders"),
            count(when(col("status") === "X", 1)).as("n_modified"),
            round(sum(col("o_totalprice")), 2).as("total_price"))
        val summary = ea.join(oa, Seq("user_id"), "left")
          .select(col("user_id"), col("n_events"), col("sum_value"),
            coalesce(col("n_orders"), lit(0L)).as("n_orders"),
            coalesce(col("n_modified"), lit(0L)).as("n_modified"),
            coalesce(col("total_price"), lit(0.0)).as("total_price"))
        goldTable.merge(summary)((cur, b) => Merge.upsertColumns(cur, b,
          Seq("user_id"),
          Seq("n_events", "sum_value", "n_orders", "n_modified", "total_price")))
      }

      // ── run 1: set 1 ──
      land("ev-set1.parquet", evLanding, "set1.parquet")
      land("ord-set1.parquet", ordLanding, "set1.parquet")
      runWaves()
      // ── run 2: set 2 re-delivers + updates ──
      land("ev-set2.parquet", evLanding, "set2.parquet")
      land("ord-set2.parquet", ordLanding, "set2.parquet")
      runWaves()

      goldTable.read().orderBy(col("user_id"))
    },
    Some("""WITH ev AS (SELECT event_id, user_id, value FROM events),
           |o AS (SELECT o_orderkey, o_custkey,
           |    CASE WHEN o_orderkey % 5 = 0 THEN 'X' ELSE o_orderstatus END AS status,
           |    o_totalprice FROM orders),
           |ea AS (SELECT user_id, count(*) AS n_events, round(sum(value), 2) AS sum_value
           |  FROM ev GROUP BY user_id),
           |oa AS (SELECT o_custkey AS user_id, count(*) AS n_orders,
           |    count(*) FILTER (WHERE status = 'X') AS n_modified,
           |    round(sum(o_totalprice), 2) AS total_price
           |  FROM o GROUP BY 1)
           |SELECT ea.user_id, n_events, sum_value,
           |  coalesce(n_orders, 0) AS n_orders,
           |  coalesce(n_modified, 0) AS n_modified,
           |  coalesce(total_price, CAST(0 AS DOUBLE)) AS total_price
           |FROM ea LEFT JOIN oa ON oa.user_id = ea.user_id
           |ORDER BY ea.user_id""".stripMargin),
    "medallion two-set replay through real streaming waves: dedup + CDC recency + M1/M3/M5 merges (SURVEY 5)")

  /** d27's ingest stages AS A STREAM — how a 100 TB pipeline actually
    * runs its preprocessing (documents arrive continuously; nightly-batch
    * d27 is the replay): file-stream the corpus in ascending doc_id
    * ranges → per micro-batch: eval carve-out + quality gate (d27 rules)
    * → 4-gram decontamination against the STATIC eval split (broadcast
    * stream-static anti-join) → exact-dedup via fingerprint-keyed
    * insert-only MERGE (cross-batch keep-first ≡ global keep-min because
    * batches arrive in ascending id ranges; in-batch ties collapse to min
    * id first). Stage order differs from d27 (decontaminate before dedup)
    * but commutes: equal fingerprints mean equal normalized text, hence
    * equal shingles and equal contamination status. The oracle is d27's
    * CTE chain up to its `clean` relation — the temperature mix is the one
    * stage that genuinely needs the full corpus (post-filter counts) and
    * stays batch. */
  val s14 = QueryDef(
    "s14_stream_ingest_pipeline",
    (spark, dir) => {
      import graft.merge.{LogTable, Merge}
      import graft.functions.TextFunctions
      import graft.operators.Dedup
      TextFunctions.registerNative(spark)
      val byte = (id: org.apache.spark.sql.Column) =>
        conv(substring(md5(id.cast("string")), 1, 2), 16, 10).cast("int")
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("source"))
      val bench = docs.filter(byte(col("doc_id")) >= 250)

      // source: 3 ascending doc_id ranges, one file per micro-batch
      // (session-cached, deterministic per sf dir — see s20)
      val srcDir = FixtureDirs.cachedDir("s14-docs-", dir) { d =>
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val cuts = Seq(maxId / 3, 2 * maxId / 3)
        val parts = Seq(
          docs.filter(col("doc_id") <= cuts.head),
          docs.filter(col("doc_id") > cuts.head && col("doc_id") <= cuts(1)),
          docs.filter(col("doc_id") > cuts(1)))
        parts.zipWithIndex.foreach { case (p, i) =>
          val tmp = FixtureDirs.create(s"s14-part$i-")
          p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }

      val root = FixtureDirs.create("s14-clean-").toString
      val cleanTable = new LogTable(spark, s"$root/clean",
        org.apache.spark.sql.types.StructType.fromDDL(
          "fp string, doc_id bigint, source string"))
      val stream = spark.readStream
        .schema("doc_id bigint, text string, source string")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val gated = batch.filter(byte(col("doc_id")) < 250)
              .filter(TextFunctions.qualityScore(col("text")) >= 0.75)
            val flagged = Dedup.decontaminate(gated, bench, "doc_id", "text", n = 4)
              .select(col("doc_id"))
            val clean = gated.join(flagged, Seq("doc_id"), "left_anti")
              .select(TextFunctions.fingerprintNative(col("text")).as("fp"),
                col("doc_id"), col("source"))
            val collapsed = graft.ops.Relational.dedupKeyed(
              clean, Seq("fp"), Seq(col("doc_id").asc))
            cleanTable.insertMissing(collapsed, Seq("fp")); ()
          }
          .start()
        q.awaitTermination()
      }
      cleanTable.read().select(col("doc_id"), col("source"))
        .orderBy(col("doc_id"))
    },
    Some {
      val sw = graft.functions.TextFunctions.stopwords
        .map(s => s"'$s'").mkString("[", ",", "]")
      s"""WITH b AS (SELECT doc_id, text, source,
         |  (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
         |  + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS hb
         |  FROM documents),
         |toks AS (SELECT doc_id, hb, source, text,
         |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\\s+') END AS w
         |  FROM b),
         |feat AS (SELECT doc_id, hb, source, text, w,
         |  CASE WHEN length(text) = 0 THEN 0.0
         |       ELSE CAST(length(text) - length(regexp_replace(text, '[^A-Za-z0-9\\s]', '', 'g')) AS DOUBLE) / length(text) END AS pr,
         |  CASE WHEN length(w) = 0 THEN 0.0
         |       ELSE CAST(length(list_filter(w, x -> list_contains($sw, x))) AS DOUBLE) / length(w) END AS swr,
         |  CASE WHEN length(w) = 0 THEN 0.0
         |       ELSE CAST(list_sum(list_transform(w, x -> length(x))) AS DOUBLE) / length(w) END AS awl,
         |  CASE WHEN length(w) BETWEEN 5 AND 100000 THEN 1.0 ELSE 0.0 END AS len_ok
         |  FROM toks),
         |corpus AS (SELECT doc_id, source, text, w FROM feat WHERE hb < 250
         |  AND (least(swr * 4.0, 1.0) + (1.0 - least(pr * 5.0, 1.0)) + len_ok
         |       + CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END) / 4.0 >= 0.75),
         |fp AS (SELECT doc_id, source, w,
         |  md5(trim(regexp_replace(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g'), '\\s+', ' ', 'g'))) AS f
         |  FROM corpus),
         |keep AS (SELECT min(doc_id) AS doc_id FROM fp GROUP BY f),
         |dd AS (SELECT fp.doc_id, fp.source, fp.w FROM fp JOIN keep USING (doc_id)),
         |csh AS (SELECT doc_id, unnest(list_distinct(
         |    CASE WHEN length(w) < 4 THEN []
         |         ELSE [array_to_string(list_slice(w, i+1, i+4), ' ') for i in range(0, length(w)-3)] END)) AS shingle
         |  FROM dd),
         |bsh AS (SELECT DISTINCT unnest(list_distinct(
         |    CASE WHEN length(w) < 4 THEN []
         |         ELSE [array_to_string(list_slice(w, i+1, i+4), ' ') for i in range(0, length(w)-3)] END)) AS shingle
         |  FROM toks WHERE hb >= 250),
         |contam AS (SELECT DISTINCT doc_id FROM csh JOIN bsh USING (shingle))
         |SELECT doc_id, source FROM dd
         |WHERE doc_id NOT IN (SELECT doc_id FROM contam)
         |ORDER BY doc_id""".stripMargin
    },
    "streaming ingest preprocessing: quality gate + decontamination + fingerprint-keyed dedup merge as one drain (LLM-pipeline op)")

  /** STREAMING maintenance of the persisted vector index
    * ([[graft.operators.VectorIndex]]): meta (centroids + codebook) is
    * trained once and FROZEN — the real deployment shape (FAISS trains on a
    * sample, then the corpus streams in) — and the corpus itself arrives as
    * a file stream whose micro-batches append codes to their cell
    * partitions via foreachBatch. Codes are a pure per-row function of
    * (vector, frozen meta), so the streamed index is bit-identical to a
    * one-shot build regardless of the batch split — which is why this row
    * shares v12/v13's oracle: the hash match proves the STREAMED index
    * answers queries exactly like the batch-built one. */
  val s15 = QueryDef(
    "s15_stream_index_maintenance",
    (spark, dir) => {
      import graft.functions.VectorFunctions
      VectorFunctions.register(spark)
      val emb = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      // session-cached read-only source (see s10)
      val srcDir = FixtureDirs.cachedDir("s15-emb-", dir) { d =>
        (0 until 3).foreach { i =>
          val tmp = FixtureDirs.create(s"s15-part$i-")
          emb.filter(col("vec_id") % 3 === i).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val index = new graft.operators.VectorIndex(spark,
        FixtureDirs.create("s15-index-").toString, nlist = 16)
      index.buildMeta(emb) // train once, freeze
      val stream = spark.readStream
        .schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch((b: DataFrame, _: Long) => index.append(b))
          .start()
        q.awaitTermination()
      }
      index.query(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, nprobe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(VectorQueries.ivfPqOracle()),
    "streaming index maintenance: frozen meta + foreachBatch code appends == batch-built index (LLM-pipeline op)")

  /** STREAMING sketch maintenance — the [[graft.functions.Sketches.Kmv]]
    * mergeable aggregate running INSIDE a watermarked tumbling-window agg:
    * per-day distinct-user estimates maintained by the state store (the
    * partial KMV buffer — ≤k sorted hashes — IS the window's state, merged
    * incrementally per micro-batch), emitted in append mode as windows
    * close. The streaming dashboard pattern at 100 TB: per-window state is
    * O(k), never O(distinct), and closed windows leave the store. k=16 so
    * real windows saturate the buffer and exercise the ESTIMATE math (not
    * the exact-count underflow path); estimate is bit-identical across
    * engines per the q30 dyadic-rational rule, emission mirrors s12's
    * append cutoff in exact µs. */
  val s16 = QueryDef(
    "s16_stream_windowed_sketch",
    (spark, dir) => drain(spark, dir, "append") { ev =>
      val kmv = udaf(new graft.functions.Sketches.Kmv(16),
        org.apache.spark.sql.Encoders.STRING)
      ev.withWatermark("ts_utc", "0 seconds")
        .groupBy(window(col("ts_utc"), "1 day"))
        .agg(kmv(md5(col("user_id").cast("string"))).as("kmv_users"),
          count(lit(1)).as("n_events"))
        .select(unix_micros(col("window.start")).as("day_start_us"),
          col("kmv_users"), col("n_events"))
    }.orderBy(col("day_start_us")),
    Some {
      val nibbleSum = (1 to 8).map(i =>
        s"(strpos('0123456789abcdef', substr(kth, $i, 1)) - 1) / ${math.pow(16.0, i)}")
        .mkString(" + ")
      s"""WITH $evCte,
         |w AS (SELECT (ts_us // 86400000000) * 86400000000 AS day_start_us,
         |             md5(CAST(user_id AS VARCHAR)) AS h
         |      FROM ev),
         |hd AS (SELECT DISTINCT day_start_us, h FROM w),
         |top AS (SELECT day_start_us, h FROM hd
         |  QUALIFY row_number() OVER (PARTITION BY day_start_us ORDER BY h) <= 16),
         |k AS (SELECT day_start_us, max(h) AS kth, count(*) AS n_h
         |      FROM top GROUP BY 1),
         |n AS (SELECT (ts_us // 86400000000) * 86400000000 AS day_start_us,
         |             count(*) AS n_events
         |      FROM ev GROUP BY 1)
         |SELECT k.day_start_us AS day_start_us,
         |  CASE WHEN n_h < 16 THEN CAST(n_h AS DOUBLE)
         |       ELSE 15 / ($nibbleSum) END AS kmv_users,
         |  n.n_events
         |FROM k JOIN n ON k.day_start_us = n.day_start_us
         |WHERE k.day_start_us + 86400000000 <= (SELECT max(ts_us) FROM ev)
         |ORDER BY k.day_start_us""".stripMargin
    },
    "streaming KMV sketch per tumbling window: O(k) state, append emission (sketch + streaming compose)")

  /** STREAMING incremental view maintenance — the CDC→materialized-view
    * pipeline: q50's change feed arrives as a file stream (one file per
    * commit), and each micro-batch folds its delta into a persisted
    * aggregate table via [[graft.ops.IncrementalView.applyDelta]] — the
    * base table is NEVER re-aggregated. Integer-cents measures make delta
    * application associative and exact, so the maintained result is
    * independent of the batch split (micro-batches need not align with
    * commits) and equals a recompute over the final snapshot — which is
    * what the shared q51 oracle proves cross-engine: DuckDB aggregates the
    * final state directly, Spark only ever saw v1 + deltas.
    *
    * Scale: per-batch cost = delta agg + a group-key join against the
    * |groups|-row aggregate table; state lives in the LogTable, not
    * the stream (no watermark needed — the feed is append-only facts). */
  val s17 = QueryDef(
    "s17_stream_incremental_view",
    (spark, dir) => {
      import graft.merge.LogTable
      import graft.ops.IncrementalView
      val cents = (c: org.apache.spark.sql.Column) =>
        round(c * 100, 0).cast("long")
      // Source FIXTURE, session-cached (deterministic per sf dir, read-only
      // during the drain): the versioned table lifecycle, its change feed
      // split one-file-per-commit, and the v1 snapshot the view seeds from.
      // The operator under test is the per-batch delta APPLY below — the
      // feed/table construction is input fabrication (q50 owns the CDF
      // extraction semantics on the correctness gate).
      val srcDir = FixtureDirs.cachedDir("s17-cdf-", dir) { d =>
        val t = MergeQueries.ordersVersioned(spark, dir, "s17-ivm-")
        val feed = IncrementalView.keyedChanges(t, 1, 4, Seq("o_orderkey"))
          .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
            col("_change_type"), col("_commit_version"))
        Seq(2L, 3L, 4L).foreach { v =>
          val tmp = FixtureDirs.create(s"s17-part$v-")
          feed.filter(col("_commit_version") === v)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"cdf$v.parquet"))
        }
        // the v1 snapshot rows (an input, not a computed result); the
        // underscore prefix hides the subdir from the stream's file listing
        t.readVersion(1).coalesce(1).write.mode("overwrite")
          .parquet(d.resolve("_v1").toString)
      }
      // maintained view, seeded from the v1 aggregate (computed fresh)
      val aggTable = new LogTable(spark, FixtureDirs.create("s17-agg-").toString,
        org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderstatus string, n bigint, sum_cents bigint"))
      aggTable.overwrite(spark.read.parquet(srcDir.resolve("_v1").toString)
        .groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), sum(cents(col("o_totalprice"))).as("sum_cents")))
      val stream = spark.readStream
        .schema("o_orderkey bigint, o_orderstatus string, o_totalprice double, " +
          "_change_type string, _commit_version bigint")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            aggTable.overwrite(IncrementalView.applyDelta(
              aggTable.read(), batch.withColumn("sum_cents", cents(col("o_totalprice"))),
              Seq("o_orderstatus"), Seq("sum_cents")))
          }
          .start()
        q.awaitTermination()
      }
      aggTable.read().orderBy(col("o_orderstatus"))
    },
    MergeQueries.ivm.oracle, // maintained-from-deltas ≡ recompute-of-final-state
    "streaming CDC apply: change feed drained into a maintained aggregate, never re-aggregating the base (LLM-pipeline op)")

  /** STREAMING heavy hitters — [[graft.functions.Sketches.Cms]] INSIDE a
    * watermarked tumbling-window agg (s16's pattern, CMS instead of KMV):
    * per day-window the streaming state is one d·w counter matrix, merged
    * across micro-batches by the state store, emitted append as windows
    * close. Per-window state is O(d·w) — never O(distinct keys) — which is
    * the whole point of sketched streaming aggregation at 100 TB (exact
    * per-key streaming counts are s01's unbounded-state shape). The drained
    * sketches are then probed batch-side for each window's observed keys
    * and the top-3 per window reported with exact-vs-estimate columns; the
    * oracle recomputes the same d·w cells per closed window relationally
    * (q41's bit-exact bucket mirror + s12's exact-µs append cutoff), so a
    * hash match pins streaming merge, emission rule, AND probe arithmetic. */
  val s18 = QueryDef(
    "s18_stream_windowed_heavy",
    (spark, dir) => {
      val d = 4; val w = 64
      val cms = udaf(new graft.functions.Sketches.Cms(d, w),
        org.apache.spark.sql.Encoders.STRING)
      val perWin = drain(spark, dir, "append") { ev =>
        ev.withWatermark("ts_utc", "0 seconds")
          .groupBy(window(col("ts_utc"), "1 day"))
          .agg(cms(col("user_id").cast("string")).as("sk"))
          .select(unix_micros(col("window.start")).as("day_start_us"), col("sk"))
      }
      def bucket(r: Int): org.apache.spark.sql.Column =
        conv(substring(md5(concat(lit(s"$r|"), col("user_id").cast("string"))), 1, 2), 16, 10)
          .cast("int") % w
      val exact = graft.sources.Tables.eventsUs(spark, dir)
        .select((expr("ts_us div 86400000000L") * 86400000000L).as("day_start_us"),
          col("user_id"))
        .groupBy(col("day_start_us"), col("user_id"))
        .agg(count(lit(1)).as("n_exact"))
      val est = exact.join(perWin, Seq("day_start_us"))
        .select(col("day_start_us"), col("user_id"), col("n_exact"),
          least((0 until d).map(r =>
            element_at(col("sk"), lit(r * w) + bucket(r) + lit(1))): _*).as("cms_est"))
      val byWin = org.apache.spark.sql.expressions.Window
        .partitionBy(col("day_start_us"))
        .orderBy(col("n_exact").desc, col("user_id"))
      est.withColumn("rn", row_number().over(byWin))
        .filter(col("rn") <= 3).drop("rn")
        .orderBy(col("day_start_us"), col("n_exact").desc, col("user_id"))
    },
    Some {
      val d = 4; val w = 64
      def bucket(r: Int) =
        s"((strpos('0123456789abcdef', substr(md5('$r|' || CAST(user_id AS VARCHAR)), 1, 1)) - 1) * 16" +
          s" + strpos('0123456789abcdef', substr(md5('$r|' || CAST(user_id AS VARCHAR)), 2, 1)) - 1) % $w"
      val rbUnion = (0 until d)
        .map(r => s"SELECT day_start_us, user_id, $r AS r, ${bucket(r)} AS b FROM closed")
        .mkString("\n  UNION ALL ")
      s"""WITH $evCte,
         |e AS (SELECT (ts_us // 86400000000) * 86400000000 AS day_start_us, user_id FROM ev),
         |closed AS (SELECT * FROM e
         |  WHERE day_start_us + 86400000000 <= (SELECT max(ts_us) FROM ev)),
         |rb AS ($rbUnion),
         |cells AS (SELECT day_start_us, r, b, count(*) AS c FROM rb GROUP BY 1, 2, 3),
         |exact AS (SELECT day_start_us, user_id, count(*) AS n_exact FROM closed GROUP BY 1, 2),
         |probes AS (SELECT DISTINCT e.day_start_us, e.user_id, e.n_exact, rb.r, rb.b
         |  FROM exact e JOIN rb ON rb.user_id = e.user_id AND rb.day_start_us = e.day_start_us),
         |est AS (SELECT p.day_start_us, p.user_id, p.n_exact, min(c.c) AS cms_est
         |  FROM probes p JOIN cells c
         |    ON c.day_start_us = p.day_start_us AND c.r = p.r AND c.b = p.b
         |  GROUP BY 1, 2, 3)
         |SELECT day_start_us, user_id, n_exact, cms_est FROM est
         |QUALIFY row_number() OVER (PARTITION BY day_start_us
         |  ORDER BY n_exact DESC, user_id) <= 3
         |ORDER BY day_start_us, n_exact DESC, user_id""".stripMargin
    },
    "streaming CMS heavy hitters per tumbling window: O(d*w) state, append emission, bit-exact probe")

  /** Streaming AS-OF enrichment (the q36 semantics on the streaming path):
    * each streamed purchase picks the latest click at-or-before its
    * timestamp per user. Stream-stream as-of would need ordered state per
    * key; the scalable form is STREAM-STATIC — the dimension side is
    * pre-bucketed once per batch epoch into disjoint validity intervals
    * `[click_ts, next_click_ts)` via a lead window (a batch plan, sized by
    * the dim table, NOT the stream), and the streaming join is then a
    * STATELESS left-outer equi-join on user + interval predicate: no
    * watermark, no state store, every micro-batch row emits exactly once.
    * This is how a 100 TB pipeline does SCD-style temporal lookups: the
    * interval table is the slowly-changing dim, refreshed per epoch,
    * broadcast when small. Ties on (user_id, click_ts) would make the
    * first-of-tie interval empty `[t, t)` while DuckDB's ASOF picks an
    * arbitrary tie member — the testdata has none (verified), and a
    * production deployment would pre-dedupe the dim on the timestamp key.
    * Oracle = native ASOF LEFT JOIN (a genuinely different algorithm). */
  val s19 = QueryDef(
    "s19_stream_asof_enrich",
    (spark, dir) => drain(spark, dir, "append") { ev =>
      val clicks = graft.sources.Tables.eventsUs(spark, dir)
        .filter(col("event_type") === "click")
        .select(col("user_id").as("cu"), col("event_id").as("click_id"),
          col("ts_us").as("click_ts"))
      val iv = clicks.withColumn("next_ts",
        lead(col("click_ts"), 1).over(org.apache.spark.sql.expressions.Window
          .partitionBy(col("cu")).orderBy(col("click_ts"), col("click_id"))))
      ev.filter(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("ts_us"))
        .join(iv,
          col("user_id") === col("cu") && col("ts_us") >= col("click_ts") &&
            (col("next_ts").isNull || col("ts_us") < col("next_ts")),
          "left_outer")
        .select(col("event_id"), col("user_id"), col("ts_us"),
          col("click_id"), col("click_ts"))
    }.orderBy(col("event_id")),
    Some(s"""WITH $evCte,
            |l AS (SELECT event_id, user_id, ts_us FROM ev WHERE event_type = 'purchase'),
            |r AS (SELECT event_id AS click_id, user_id, ts_us AS click_ts
            |      FROM ev WHERE event_type = 'click')
            |SELECT l.event_id, l.user_id, l.ts_us, r.click_id, r.click_ts
            |FROM l ASOF LEFT JOIN r
            |  ON l.user_id = r.user_id AND l.ts_us >= r.click_ts
            |ORDER BY l.event_id""".stripMargin),
    "streaming as-of enrichment: stateless stream-static interval join over a lead-bucketed dim (q36 on the streaming path)")

  /** Streaming ingest with inline AUTO-COMPACTION (the Delta
    * autoOptimize/optimizeWrite analog, composing q55's compact with the
    * K2 foreachBatch sink): continuous appends are the small-file pathology
    * — one file per bucket PER MICRO-BATCH, so a day of 1-minute batches
    * leaves 1440 files/bucket and scan throughput dies at 100 TB. Each
    * batch here appends, then compacts once the table holds more than the
    * threshold's worth of files per bucket; the drain-end `require` pins the
    * bound (≤ threshold × buckets files, vs n_batches × buckets without
    * compaction) and the oracle pins that repeated
    * rewrite-under-ingest preserved content exactly. The threshold check
    * reads the manifest (no directory listing), and a compaction rewrites
    * to one file per bucket, so its cost amortizes over `maxFiles` batches. */
  val s20 = QueryDef(
    "s20_stream_auto_compact",
    (spark, dir) => {
      import graft.merge.LogTable
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
      // source: 6 ascending event-time ranges, one file per micro-batch
      // (session-cached: deterministic function of the sf dir, so bench
      // repeats measure the ingest+compaction, not source construction)
      val nBatches = 6
      val srcDir = FixtureDirs.cachedDir("s20-src-", dir) { d =>
        val bounds = ev.agg(min(col("ts_us")), max(col("ts_us"))).head()
        val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
        val step = (hi - lo) / nBatches + 1
        (0 until nBatches).foreach { i =>
          val tmp = FixtureDirs.create(s"s20-part$i-")
          ev.filter(col("ts_us") >= lo + i * step && col("ts_us") < lo + (i + 1) * step)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val maxFiles = 2
      val nBuckets = 8
      val root = FixtureDirs.create("s20-table-").resolve("events_t").toString
      val table = new LogTable(spark, root,
        org.apache.spark.sql.types.StructType.fromDDL(
          "event_id bigint, user_id bigint, event_type string, value double, ts_us bigint"),
        bucketBy = Some((Seq("user_id"), nBuckets)))
      withStreamConf(spark) {
        val q = spark.readStream
          .schema("event_id bigint, user_id bigint, event_type string, value double, ts_us bigint")
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            table.append(batch)
            if (table.liveFileNames().size > maxFiles * nBuckets) table.compact()
            ()
          }
          .start()
        q.awaitTermination()
      }
      val live = table.liveFileNames().size
      require(live <= maxFiles * nBuckets,
        s"auto-compaction failed to bound the table's files: $live " +
          s"(uncompacted would be up to ${nBatches * nBuckets})")
      table.read().groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some("""SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value
           |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin),
    "streaming ingest + inline auto-compaction: bounded files per bucket under continuous appends (Delta autoOptimize analog)")

  /** Streaming QUALITY ROUTER — the side-output / dead-letter-queue sink
    * pattern missing from the single-sink K2 inventory: one drain gates
    * each micro-batch with d33's Gopher rule battery and routes every row
    * to exactly one of TWO persisted tables (accept / reject). Rejects are
    * kept, not dropped — the 100 TB curation contract is auditability
    * (what was filtered and why re-runs from the reject table without
    * re-scanning the corpus). The gated batch is eagerly localCheckpoint'ed
    * before the two appends — both sinks consume it, and a lazy plan would
    * recompute the rule battery per sink. Row-disjointness by construction
    * (`keep` vs `!keep` on the same materialized rows); the drained union
    * ≡ the batch gate (the oracle) because the gate is stateless per-row
    * math — batch split cannot change any decision. */
  val s21 = QueryDef(
    "s21_stream_quality_router",
    (spark, dir) => {
      import graft.merge.LogTable
      graft.functions.TopBigramFrac.registerNative(spark)
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      // source: 3 ascending doc_id ranges, one file per micro-batch
      val srcDir = FixtureDirs.cachedDir("s21-docs-", dir) { d =>
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val cuts = Seq(maxId / 3, 2 * maxId / 3)
        val parts = Seq(
          docs.filter(col("doc_id") <= cuts.head),
          docs.filter(col("doc_id") > cuts.head && col("doc_id") <= cuts(1)),
          docs.filter(col("doc_id") > cuts(1)))
        parts.zipWithIndex.foreach { case (p, i) =>
          val tmp = FixtureDirs.create(s"s21-part$i-")
          p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val root = FixtureDirs.create("s21-router-").toString
      val schema = org.apache.spark.sql.types.StructType.fromDDL(
        "doc_id bigint, n_words int")
      val accept = new LogTable(spark, s"$root/accept", schema)
      val reject = new LogTable(spark, s"$root/reject", schema)
      val stream = spark.readStream
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val gated = batch
              .select(col("doc_id") +: TextQueries.gopherStatCols(col("text")): _*)
              .withColumn("keep", TextQueries.gopherKeep)
              .select(col("doc_id"), col("n_words"), col("keep"))
              .localCheckpoint(true) // two sinks: compute the gate once
            // disjoint sinks over a checkpointed input: one wave, one
            // floor; batch-id appends make a retried wave exactly-once
            graft.ops.JobWave.run(Seq(
              () => accept.appendOnce(gated.filter(col("keep")).drop("keep"), "s21", batchId),
              () => reject.appendOnce(gated.filter(!col("keep")).drop("keep"), "s21", batchId)))
          }
          .start()
        q.awaitTermination()
      }
      accept.read().withColumn("sink", lit("accept"))
        .unionByName(reject.read().withColumn("sink", lit("reject")))
        .orderBy(col("doc_id"))
    },
    Some(s"""WITH ${TextQueries.gopherCte}
            |SELECT doc_id, n_words,
            |  CASE WHEN keep THEN 'accept' ELSE 'reject' END AS sink
            |FROM gated ORDER BY doc_id""".stripMargin),
    "streaming quality router: Gopher gate splits each micro-batch into accept/reject sinks (dead-letter pattern)")

  /** Streaming DECONTAMINATION gate — d21's benchmark-overlap check as an
    * ingest-time router: the eval-set shingle relation is computed ONCE and
    * eagerly localCheckpoint'ed (the static side input every micro-batch
    * reuses — recomputing it per batch would re-shingle the benchmark
    * N-batches times), then each arriving batch shingles itself, joins the
    * BROADCAST benchmark set, and lands (doc_id, n_shared, status) in the
    * audit table. Stateless per-batch (the gate decision for a doc depends
    * only on that doc + the frozen benchmark), so the drained union ≡ the
    * batch d21-with-complement oracle regardless of the split. The 100 TB
    * upgrade path when the eval set outgrows a broadcast is exactly d28's
    * bloom pre-filter — same gate, swap [[graft.operators.Dedup
    * .decontaminate]]'s join for `decontaminateBloom`. */
  val s22 = QueryDef(
    "s22_stream_decontaminate",
    (spark, dir) => {
      import graft.merge.LogTable
      import graft.operators.Dedup
      val byte = conv(substring(md5(col("doc_id").cast("string")), 1, 2), 16, 10)
        .cast("int")
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), byte.as("hb"))
      // frozen side input: the eval split's distinct 4-gram shingles
      val bench = Dedup.docShingles(
          docs.filter(col("hb") >= 250), "doc_id", "text", n = 4)
        .select(col("shingle")).distinct()
        .localCheckpoint(true)
      val corpus = docs.filter(col("hb") < 250).select(col("doc_id"), col("text"))
      val srcDir = FixtureDirs.cachedDir("s22-docs-", dir) { d =>
        val maxId = corpus.agg(max(col("doc_id"))).head().getLong(0)
        val cuts = Seq(maxId / 3, 2 * maxId / 3)
        val parts = Seq(
          corpus.filter(col("doc_id") <= cuts.head),
          corpus.filter(col("doc_id") > cuts.head && col("doc_id") <= cuts(1)),
          corpus.filter(col("doc_id") > cuts(1)))
        parts.zipWithIndex.foreach { case (p, i) =>
          val tmp = FixtureDirs.create(s"s22-part$i-")
          p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val audit = new LogTable(spark,
        s"${FixtureDirs.create("s22-audit-")}/audit",
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id bigint, n_shared bigint, status string"))
      val stream = spark.readStream
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      try withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val hits = Dedup.docShingles(batch, "doc_id", "text", n = 4)
              .join(broadcast(bench), Seq("shingle"))
              .groupBy(col("doc_id")).agg(count(lit(1)).as("n_shared"))
            audit.append(batch.select(col("doc_id"))
              .join(hits, Seq("doc_id"), "left")
              .select(col("doc_id"),
                coalesce(col("n_shared"), lit(0L)).as("n_shared"),
                when(col("n_shared").isNull, lit("clean"))
                  .otherwise(lit("flagged")).as("status")))
            ()
          }
          .start()
        q.awaitTermination()
      } finally bench.unpersist() // side input dead once the drain lands
      audit.read().orderBy(col("doc_id"))
    },
    Some("""WITH b AS (SELECT doc_id,
           |  (strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16
           |  + strpos('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1 AS hb, text
           |  FROM documents),
           |toks AS (SELECT doc_id, hb,
           |  CASE WHEN length(trim(text)) = 0 THEN [] ELSE string_split_regex(trim(text), '\s+') END AS w
           |  FROM b),
           |sh AS (SELECT doc_id, hb, unnest(list_distinct(
           |    CASE WHEN length(w) < 4 THEN []
           |         ELSE [array_to_string(list_slice(w, i+1, i+4), ' ') for i in range(0, length(w)-3)] END)) AS shingle
           |  FROM toks),
           |bench AS (SELECT DISTINCT shingle FROM sh WHERE hb >= 250),
           |hits AS (SELECT sh.doc_id, count(*) AS n_shared
           |  FROM sh JOIN bench USING (shingle) WHERE sh.hb < 250
           |  GROUP BY sh.doc_id)
           |SELECT c.doc_id, coalesce(h.n_shared, 0) AS n_shared,
           |  CASE WHEN h.doc_id IS NULL THEN 'clean' ELSE 'flagged' END AS status
           |FROM (SELECT doc_id FROM b WHERE hb < 250) c
           |LEFT JOIN hits h USING (doc_id) ORDER BY doc_id""".stripMargin),
    "streaming decontamination gate: frozen benchmark shingles vs each micro-batch (LLM-pipeline op)")

  /** Streaming DSIR gate — d34's domain-relevance score at ingest,
    * completing the streaming curation triple (s21 quality, s22
    * contamination, s23 domain relevance). The hashed-bigram bucket
    * statistics are FROZEN once per deployment — target counts over the
    * src0 reference, raw counts over the full raw reference corpus —
    * eagerly localCheckpoint'ed (three tiny frames: ≤256 rows each plus
    * the 1-row totals), then every micro-batch re-derives only ITS OWN
    * bigrams and joins the broadcast stats; kept = score > 0 (more
    * target-like than the raw average), rejects audited, not dropped.
    * Stateless per-batch given the frozen stats ⇒ drain ≡ the batch d34
    * scoring with the same threshold. The batch side joins stay valid
    * because every batch doc IS part of the raw reference (its buckets
    * are in the frozen `cr` by construction). */
  val s23 = QueryDef(
    "s23_stream_dsir_gate",
    (spark, dir) => {
      import graft.merge.LogTable
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val bigrams = TextQueries.bigramBuckets _
      // frozen per-deployment side inputs
      val tgt = bigrams(docs.filter(col("source") === "src0"))
        .groupBy(col("bkt")).agg(count(lit(1)).as("ct")).localCheckpoint(true)
      val rawDocs = docs.filter(col("source") =!= "src0")
      val rawCnt = bigrams(rawDocs)
        .groupBy(col("bkt")).agg(count(lit(1)).as("cr")).localCheckpoint(true)
      val tot = tgt.agg(coalesce(sum(col("ct")), lit(0L)).as("t_tot"))
        .crossJoin(rawCnt.agg(coalesce(sum(col("cr")), lit(0L)).as("r_tot")))
        .localCheckpoint(true)
      val srcDir = FixtureDirs.cachedDir("s23-docs-", dir) { d =>
        val maxId = rawDocs.agg(max(col("doc_id"))).head().getLong(0)
        val cuts = Seq(maxId / 3, 2 * maxId / 3)
        val parts = Seq(
          rawDocs.filter(col("doc_id") <= cuts.head),
          rawDocs.filter(col("doc_id") > cuts.head && col("doc_id") <= cuts(1)),
          rawDocs.filter(col("doc_id") > cuts(1)))
        parts.zipWithIndex.foreach { case (p, i) =>
          val tmp = FixtureDirs.create(s"s23-part$i-")
          p.select(col("doc_id"), col("text")).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val audit = new LogTable(spark,
        s"${FixtureDirs.create("s23-audit-")}/audit",
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id bigint, score bigint, kept boolean"))
      val stream = spark.readStream
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      try withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val scored = bigrams(batch)
              .join(broadcast(rawCnt), Seq("bkt"))
              .join(broadcast(tgt), Seq("bkt"), "left")
              .crossJoin(broadcast(tot))
              .groupBy(col("doc_id"))
              .agg(sum((coalesce(col("ct"), lit(0L)) + 1) * (col("r_tot") + 256) -
                  (col("cr") + 1) * (col("t_tot") + 256)).as("score"))
            audit.append(batch.select(col("doc_id"))
              .join(scored, Seq("doc_id"), "left")
              .select(col("doc_id"),
                coalesce(col("score"), lit(0L)).as("score"),
                (coalesce(col("score"), lit(0L)) > 0).as("kept")))
            ()
          }
          .start()
        q.awaitTermination()
      } finally { tgt.unpersist(); rawCnt.unpersist(); tot.unpersist() }
      audit.read().orderBy(col("doc_id"))
    },
    Some("""WITH toks AS (SELECT doc_id, source,
           |  CASE WHEN length(trim(text)) = 0 THEN []
           |       ELSE string_split_regex(trim(text), '\s+') END AS w
           |  FROM documents),
           |bg AS (SELECT doc_id, source, unnest(
           |    CASE WHEN length(w) < 2 THEN []
           |         ELSE [w[i] || ' ' || w[i+1] for i in range(1, length(w))] END) AS g
           |  FROM toks),
           |bb AS (SELECT doc_id, source,
           |  (strpos('0123456789abcdef', substr(md5(g), 1, 1)) - 1) * 16
           |  + strpos('0123456789abcdef', substr(md5(g), 2, 1)) - 1 AS bkt
           |  FROM bg),
           |ct AS (SELECT bkt, count(*) AS ct FROM bb WHERE source = 'src0' GROUP BY bkt),
           |cr AS (SELECT bkt, count(*) AS cr FROM bb WHERE source <> 'src0' GROUP BY bkt),
           |tot AS (SELECT CAST((SELECT coalesce(sum(ct), 0) FROM ct) AS BIGINT) AS t_tot,
           |               CAST((SELECT coalesce(sum(cr), 0) FROM cr) AS BIGINT) AS r_tot),
           |sc AS (SELECT bb.doc_id,
           |    CAST(sum((coalesce(ct.ct, 0) + 1) * (tot.r_tot + 256)
           |             - (cr.cr + 1) * (tot.t_tot + 256)) AS BIGINT) AS score
           |  FROM bb JOIN cr USING (bkt) LEFT JOIN ct USING (bkt) CROSS JOIN tot
           |  WHERE bb.source <> 'src0' GROUP BY bb.doc_id)
           |SELECT d.doc_id, coalesce(sc.score, 0) AS score,
           |  coalesce(sc.score, 0) > 0 AS kept
           |FROM (SELECT doc_id FROM documents WHERE source <> 'src0') d
           |LEFT JOIN sc USING (doc_id) ORDER BY d.doc_id""".stripMargin),
    "streaming DSIR gate: frozen hashed-bigram domain stats score each micro-batch (LLM-pipeline op)")

  /** Streaming PII REDACTION — d38's compliance pass at INGEST time, where
    * a production pipeline actually runs it (masking before raw text ever
    * lands in the lake, not as a later batch sweep). Each micro-batch runs
    * the typed detectors + triple redaction ([[TextQueries.piiProject]] —
    * pure codegen'd per-row projections, no HOFs, so the single-partition
    * micro-batch trap d33 hit does not apply) and appends (doc_id, counts,
    * redacted) to the audit table. Stateless per-row ⇒ the drained union ≡
    * the batch pass regardless of split; oracle = d38's SQL verbatim. */
  val s24 = QueryDef(
    "s24_stream_pii_redact",
    (spark, dir) => {
      import graft.merge.LogTable
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val srcDir = FixtureDirs.cachedDir("s24-docs-", dir) { d =>
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val cuts = Seq(maxId / 3, 2 * maxId / 3)
        val parts = Seq(
          docs.filter(col("doc_id") <= cuts.head),
          docs.filter(col("doc_id") > cuts.head && col("doc_id") <= cuts(1)),
          docs.filter(col("doc_id") > cuts(1)))
        parts.zipWithIndex.foreach { case (p, i) =>
          val tmp = FixtureDirs.create(s"s24-part$i-")
          p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val audit = new LogTable(spark,
        s"${FixtureDirs.create("s24-audit-")}/audit",
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id bigint, n_email int, n_phone int, n_ip int, redacted string"))
      val stream = spark.readStream
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            audit.append(TextQueries.piiProject(batch))
          }
          .start()
        q.awaitTermination()
      }
      audit.read().orderBy(col("doc_id"))
    },
    Some(TextQueries.piiOracleSql),
    "streaming PII redaction: typed detectors + masking per micro-batch before landing (LLM-pipeline op)")

  /** STREAMING DATA-CARD MAINTENANCE — d41's per-source composition report
    * kept continuously current as the corpus ingests, without ever
    * re-aggregating the base (s17's incremental-view discipline applied to
    * the dataset-release report): each micro-batch folds its associative
    * stat deltas (doc/token/char counts + the float-safe quality-threshold
    * count — all exact integers) into a maintained stats table, while the
    * two NON-associative statistics (distinct fingerprints, distinct langs)
    * are maintained as insert-only keyed SET tables (s14's merge), from
    * which the final card derives n_unique/n_langs exactly. Per-batch cost
    * is batch-proportional + |sources| fold rows; batch-split independence
    * holds because sums are commutative-associative and insert-only set
    * merge is order-independent — so the drained card ≡ d41's one-pass
    * batch card and d41's oracle verifies it verbatim. The batch relation
    * is eagerly localCheckpoint'ed (three consumers — CLAUDE.md lesson). */
  val s25 = QueryDef(
    "s25_stream_data_card",
    (spark, dir) => {
      import graft.merge.{LogTable, Merge}
      import graft.functions.TextFunctions
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"), col("source"), col("lang"),
          col("n_chars"))
      val srcDir = FixtureDirs.cachedDir("s25-docs-", dir) { d =>
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val cuts = Seq(maxId / 3, 2 * maxId / 3)
        val parts = Seq(
          docs.filter(col("doc_id") <= cuts.head),
          docs.filter(col("doc_id") > cuts.head && col("doc_id") <= cuts(1)),
          docs.filter(col("doc_id") > cuts(1)))
        parts.zipWithIndex.foreach { case (p, i) =>
          val tmp = FixtureDirs.create(s"s25-part$i-")
          p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val root = FixtureDirs.create("s25-card-").toString
      val stats = new LogTable(spark, s"$root/stats",
        org.apache.spark.sql.types.StructType.fromDDL(
          "source string, n_docs bigint, total_tokens bigint, " +
          "total_chars bigint, n_quality_ok bigint"))
      val fpSet = new LogTable(spark, s"$root/fps",
        org.apache.spark.sql.types.StructType.fromDDL("source string, fp string"))
      val langSet = new LogTable(spark, s"$root/langs",
        org.apache.spark.sql.types.StructType.fromDDL("source string, lang string"))
      val stream = spark.readStream
        .schema("doc_id bigint, text string, source string, lang string, n_chars bigint")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val b = batch.select(col("source"), col("lang"), col("n_chars"),
                md5(col("text")).as("fp"),
                TextFunctions.tokenCount(col("text")).cast("long").as("n_tokens"),
                TextFunctions.qualityScore(col("text")).as("quality"))
              .localCheckpoint(true)
            val deltas = b.groupBy(col("source")).agg(
              count(lit(1)).as("_d_docs"),
              sum(col("n_tokens")).as("_d_tokens"),
              sum(col("n_chars")).as("_d_chars"),
              sum(when(col("quality") >= 0.5, 1L).otherwise(0L)).as("_d_quality"))
            // three DISJOINT state tables over one checkpointed input:
            // run the writes as one wave (guide §2.6), not three floors.
            // The stats fold is not idempotent, so it commits under the
            // batch id (a retried wave re-applies no delta); the two set
            // merges are idempotent by construction.
            graft.ops.JobWave.run(Seq(
              () => stats.occMerge(deltas, txn = Some(("s25", batchId))) { (cur, d) =>
                cur.join(d, Seq("source"), "full_outer")
                  .select(col("source"),
                    (coalesce(col("n_docs"), lit(0L)) + coalesce(col("_d_docs"), lit(0L))).as("n_docs"),
                    (coalesce(col("total_tokens"), lit(0L)) + coalesce(col("_d_tokens"), lit(0L))).as("total_tokens"),
                    (coalesce(col("total_chars"), lit(0L)) + coalesce(col("_d_chars"), lit(0L))).as("total_chars"),
                    (coalesce(col("n_quality_ok"), lit(0L)) + coalesce(col("_d_quality"), lit(0L))).as("n_quality_ok"))
              },
              () => fpSet.insertMissing(
                b.select(col("source"), col("fp")).dropDuplicates(), Seq("source", "fp")),
              () => langSet.insertMissing(
                b.select(col("source"), col("lang")).dropDuplicates(), Seq("source", "lang"))))
          }
          .start()
        q.awaitTermination()
      }
      val uniques = fpSet.read().groupBy(col("source"))
        .agg(count(lit(1)).as("n_unique"))
      val langs = langSet.read().groupBy(col("source"))
        .agg(count(lit(1)).cast("int").as("n_langs"))
      stats.read().join(uniques, Seq("source")).join(langs, Seq("source"))
        .select(col("source"), col("n_docs"), col("n_unique"),
          ((col("n_docs") - col("n_unique")).cast("double") / col("n_docs"))
            .as("dup_rate"),
          col("total_tokens"), col("total_chars"), col("n_quality_ok"),
          col("n_langs"))
        .orderBy(col("source"))
    },
    TextQueries.d41.oracle, // drained card ≡ the one-pass batch card
    "streaming data-card maintenance: associative stat folds + insert-only distinct sets per micro-batch (LLM-pipeline op)")

  /** STREAMING ANN RECALL MONITOR — v23's index-quality evaluation run
    * continuously over a stream of live queries (the serving-side
    * continuous-eval loop that triggers v19 retrains): each micro-batch of
    * query vectors is scored BOTH ways against the frozen corpus — IVF
    * probe path and exact ground truth — and the per-query recall rows
    * land in an audit table. The corpus/centroids are a frozen side input
    * (s22's discipline: deterministic stride centroids derive identically
    * every batch); per-query rows are independent, so drain ≡ batch at any
    * split and v23's oracle verifies the drained audit verbatim. Scale
    * shape: the ground-truth side costs |batch|·|corpus| — the monitor
    * runs on a sampled query stream by construction, and the comparison
    * join carries only (query_id, vec_id) top-k pairs. */
  val s26 = QueryDef(
    "s26_stream_recall_monitor",
    (spark, dir) => {
      import graft.merge.LogTable
      import graft.functions.VectorFunctions
      import graft.operators.Similarity
      VectorFunctions.register(spark)
      val emb = graft.sources.Tables.embeddings(spark, dir)
      val panel = emb.filter(col("vec_id") < 10)
        .select(col("vec_id"), col("embedding"))
      val srcDir = FixtureDirs.cachedDir("s26-queries-", dir) { d =>
        Seq((0L, 3L), (4L, 6L), (7L, 9L)).zipWithIndex.foreach { case ((lo, hi), i) =>
          val tmp = FixtureDirs.create(s"s26-part$i-")
          panel.filter(col("vec_id").between(lo, hi))
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val audit = new LogTable(spark,
        s"${FixtureDirs.create("s26-audit-")}/audit",
        org.apache.spark.sql.types.StructType.fromDDL(
          "query_id bigint, n_hit bigint, recall_at_5 double"))
      val stream = spark.readStream
        .schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val queries = batch.localCheckpoint(true)
            val ivf = Similarity.ivfTopK(queries, emb,
                VectorFunctions.cosineSim, k = 5, nlist = 16, nprobe = 4)
              .select(col("query_id"), col("vec_id"))
            val exact = Similarity.bruteForceTopK(queries, emb,
                VectorFunctions.cosineSim, k = 5)
              .select(col("query_id"), col("vec_id"))
            val hits = exact.join(ivf, Seq("query_id", "vec_id"), "left_semi")
              .groupBy(col("query_id")).agg(count(lit(1)).as("n_hit"))
            audit.append(queries.select(col("vec_id").as("query_id"))
              .join(hits, Seq("query_id"), "left")
              .select(col("query_id"),
                coalesce(col("n_hit"), lit(0L)).as("n_hit"),
                (coalesce(col("n_hit"), lit(0L)).cast("double") / 5)
                  .as("recall_at_5")))
          }
          .start()
        q.awaitTermination()
      }
      audit.read().orderBy(col("query_id"))
    },
    VectorQueries.v23.oracle, // per-query rows independent ⇒ drain ≡ batch
    "streaming ANN recall monitor: continuous index-quality eval per micro-batch (LLM-pipeline op)")

  /** STREAMING EMBEDDING-DRIFT MONITOR (s27) — v22's corpus-health signal
    * maintained continuously as embeddings arrive: each micro-batch folds
    * its ASSOCIATIVE integer partials ((label, dim) component sums +
    * per-label counts, [[VectorQueries.driftPartialSums]]) into an
    * append-only state table; the drift projection reads the folded state.
    * Quantization is per-vector, sums are exact int64 — ANY batch split
    * folds to the same integers, so drain ≡ batch and v22's oracle applies
    * verbatim. State volume is labels × (dims+1) rows per batch,
    * corpus-independent; embeddings never cross an exchange (v22's
    * plan-audit property holds per micro-batch). */
  val s27 = QueryDef(
    "s27_stream_drift_monitor",
    (spark, dir) => {
      import graft.merge.LogTable
      import graft.functions.VectorFunctions
      VectorFunctions.register(spark)
      val emb = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"), col("label"))
      val srcDir = FixtureDirs.cachedDir("s27-emb-", dir) { d =>
        (0 to 2).foreach { i =>
          val tmp = FixtureDirs.create(s"s27-part$i-")
          emb.filter(col("vec_id") % 3 === i)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val state = new LogTable(spark,
        s"${FixtureDirs.create("s27-state-")}/state",
        org.apache.spark.sql.types.StructType.fromDDL(
          "label int, dim int, sa bigint, sb bigint"))
      val stream = spark.readStream
        .schema("vec_id bigint, embedding array<float>, label int")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            state.append(
              VectorQueries.driftPartialSums(batch.localCheckpoint(true)))
          }
          .start()
        q.awaitTermination()
      }
      VectorQueries.driftFromPartials(state.read())
    },
    VectorQueries.v22.oracle, // associative integer folds ⇒ drain ≡ batch
    "streaming embedding-drift monitor: per-batch associative partials into state, v22 verbatim (LLM-pipeline op)")

  /** STREAMING LM-FLUENCY GATE (s28) — d45's statistical-LM quality score
    * applied at INGEST (the s21/s23 frozen-side-input discipline): the
    * bigram LM is trained ONCE on the reference corpus (two vocabulary-
    * bounded checkpointed count tables), then every arriving micro-batch
    * is scored against it and landed with its gate verdict. Scoring is a
    * pure per-document function of the frozen counts, so any batch split
    * produces identical rows — drain ≡ batch and d45's oracle applies
    * verbatim. */
  val s28 = QueryDef(
    "s28_stream_fluency_gate",
    (spark, dir) => {
      import graft.merge.LogTable
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val (cb, cp) = TextQueries.lmCounts(docs) // frozen LM side input
      val srcDir = FixtureDirs.cachedDir("s28-docs-", dir) { d =>
        (0 to 2).foreach { i =>
          val tmp = FixtureDirs.create(s"s28-part$i-")
          docs.filter(col("doc_id") % 3 === i)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val audit = new LogTable(spark,
        s"${FixtureDirs.create("s28-audit-")}/audit",
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id bigint, n_bigrams bigint, fluency double, fluent boolean"))
      val stream = spark.readStream
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            audit.append(
              TextQueries.lmScore(batch.localCheckpoint(true), cb, cp))
          }
          .start()
        q.awaitTermination()
      }
      audit.read().orderBy(col("doc_id"))
    },
    TextQueries.d45.oracle, // frozen LM + per-doc scoring ⇒ drain ≡ batch
    "streaming LM-fluency gate: frozen in-engine LM scores each micro-batch at ingest (LLM-pipeline op)")

  /** STREAMING TOKENIZER-FERTILITY MONITOR (s29) — d47's tokenizer-health
    * report maintained as the corpus ingests (the s25/s27 discipline):
    * each micro-batch folds its associative per-source integer partials
    * (words, tokens, single-token words — [[TextQueries.fertilityPartials]])
    * into an append-only state table; ratios are computed from the folded
    * state. Exact int64 sums ⇒ drain ≡ batch, d47's oracle verbatim. A
    * rising fertility on fresh batches is the live d44-retrain signal. */
  val s29 = QueryDef(
    "s29_stream_fertility_monitor",
    (spark, dir) => {
      import graft.merge.LogTable
      graft.functions.TextFunctions.registerNative(spark)
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val srcDir = FixtureDirs.cachedDir("s29-docs-", dir) { d =>
        (0 to 2).foreach { i =>
          val tmp = FixtureDirs.create(s"s29-part$i-")
          docs.filter(col("doc_id") % 3 === i)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val state = new LogTable(spark,
        s"${FixtureDirs.create("s29-state-")}/state",
        org.apache.spark.sql.types.StructType.fromDDL(
          "source string, n_words bigint, n_tokens bigint, n_single bigint"))
      val stream = spark.readStream
        .schema("doc_id bigint, source string, text string")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            state.append(
              TextQueries.fertilityPartials(batch.localCheckpoint(true)))
          }
          .start()
        q.awaitTermination()
      }
      TextQueries.fertilityFromPartials(state.read())
    },
    TextQueries.d47.oracle, // associative integer folds ⇒ drain ≡ batch
    "streaming tokenizer-fertility monitor: per-batch associative partials, d47 verbatim (LLM-pipeline op)")

  /** STREAMING IMAGE-QUALITY GATE (s30) — m13's LAION-class gate applied
    * at MEDIA INGEST (the first streaming × multimodal row): binary image
    * blobs arrive in micro-batches, each batch is decoded and stat-gated
    * in its scan stage (media bytes never cross an exchange — m13's
    * plan-audited property holds per batch), and the per-image verdict
    * rows land in the audit table. Stateless per-image function ⇒ drain ≡
    * batch, m13's analytic oracle verbatim. */
  val s30 = QueryDef(
    "s30_stream_image_gate",
    (spark, dir) => {
      import graft.merge.LogTable
      import spark.implicits._
      val srcDir = FixtureDirs.cachedDir("s30-media-", dir) { d =>
        val ids = graft.sources.Tables.documents(spark, dir)
          .select(col("doc_id")).as[Long]
        val media = ids.mapPartitions { it =>
          it.map { id =>
            val w = (id % 13 + 2).toInt; val h = (id % 7 + 2).toInt
            val bmp =
              if (id % 3 == 0) {
                val c = (id % 256).toInt
                graft.operators.BmpCodec.encode(w, h, (_, _) => (c, c, c))
              } else graft.operators.BmpCodec.encode(w, h, (x, y) => (
                ((id + 7L * x + 13L * y) % 256).toInt,
                ((3L * x + 5L * y + 1L) % 256).toInt,
                ((x.toLong * y + id % 17) % 256).toInt))
            (id, bmp)
          }
        }.toDF("media_id", "media")
        (0 to 2).foreach { i =>
          val tmp = FixtureDirs.create(s"s30-part$i-")
          media.filter(col("media_id") % 3 === i)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val audit = new LogTable(spark,
        s"${FixtureDirs.create("s30-audit-")}/audit",
        org.apache.spark.sql.types.StructType.fromDDL(
          "media_id bigint, width int, height int, n_pixels int, " +
            "min_lum int, max_lum int, contrast int, n_distinct_lum int, " +
            "keep boolean"))
      val stream = spark.readStream
        .schema("media_id bigint, media binary")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            audit.append(graft.operators.Multimodal
              .imageQuality(batch.localCheckpoint(true), "media_id", "media")
              .toDF())
          }
          .start()
        q.awaitTermination()
      }
      audit.read().orderBy(col("media_id"))
    },
    TextQueries.m13.oracle, // stateless per-image gate ⇒ drain ≡ batch
    "streaming image-quality gate: per-batch decode + stat gate at media ingest, m13 verbatim (LLM-pipeline op)")

  /** STREAMING FUZZY DECONTAMINATION (s31) — d52 at INGEST: the eval
    * set's shingles live as a FROZEN side input (the s22/s28 discipline —
    * in production the benchmark set changes rarely and re-freezes on
    * release), every arriving micro-batch is banded and checked against
    * it, and flagged (doc, bench, jaccard) audit rows land before the
    * batch does. Per-document scoring against a frozen reference is
    * batch-split-invariant ⇒ drain ≡ batch, d52's oracle verbatim
    * (including its planted paraphrases, which are split across the
    * arriving batches). */
  val s31 = QueryDef(
    "s31_stream_fuzzy_decon",
    (spark, dir) => {
      import graft.merge.LogTable
      val byte = (id: org.apache.spark.sql.Column) =>
        conv(substring(md5(id.cast("string")), 1, 2), 16, 10).cast("int")
      val docs = graft.sources.Tables.documents(spark, dir)
      val bench = docs.filter(byte(col("doc_id")) >= 250)
        .select(col("doc_id"), col("text")).localCheckpoint(true)
      val srcDir = FixtureDirs.cachedDir("s31-docs-", dir) { d =>
        val planted = bench.select((col("doc_id") + 10000000L).as("doc_id"),
          concat(col("text"),
            lit(" planted paraphrase marker tail words")).as("text"))
        val corpus = docs.filter(byte(col("doc_id")) < 250)
          .select(col("doc_id"), col("text")).unionByName(planted)
        (0 to 2).foreach { i =>
          val tmp = FixtureDirs.create(s"s31-part$i-")
          corpus.filter(col("doc_id") % 3 === i)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val audit = new LogTable(spark,
        s"${FixtureDirs.create("s31-audit-")}/audit",
        org.apache.spark.sql.types.StructType.fromDDL(
          "doc_id bigint, bench_id bigint, jaccard double"))
      val stream = spark.readStream
        .schema("doc_id bigint, text string")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            audit.append(graft.operators.Dedup.fuzzyDecontaminate(
              batch.localCheckpoint(true), bench, "doc_id", "text",
              n = 3, k = 8, r = 2, minJaccard = 0.5))
          }
          .start()
        q.awaitTermination()
      }
      audit.read().orderBy(col("doc_id"), col("bench_id"))
    },
    TextQueries.d52.oracle, // frozen bench reference ⇒ drain ≡ batch
    "streaming fuzzy decontamination: per-batch paraphrase-leakage audit vs a frozen eval set, d52 verbatim (LLM-pipeline op)")

  /** STREAMING INDEX RETRAIN (s32) — wires the three lifecycle verbs the
    * repo already carries into the closed maintenance loop a deployed
    * vector store runs: s15's foreachBatch code appends + v26's occupancy
    * signal (read off the persisted layout) + v19's generation-cutover
    * retrain, fired automatically when skew crosses threshold.
    *
    * Fixture: meta trains on the first batch's slice; batches 0–1 append
    * organic vectors (occupancy ≈ uniform, skew stays under threshold);
    * batch 2 is a HOT BURST — every vector a clone of vec 0/1 (the
    * "trending topic" ingest pattern) — which crowds two cells and pushes
    * max-cell share past 2.4× uniform. The trigger then retrains on
    * everything ingested so far (batch i holds `vec_id % 3 == i` by
    * construction) and cuts a new generation; the retired one stays
    * queryable (RetrainSpec / the `versions` require). The two `require`s
    * are mechanism guards: a trigger that never fires, fires early, or
    * fires repeatedly turns the row red rather than silently passing.
    *
    * Oracle: because the burst lands in the LAST batch, the retrain input
    * is the full skew-injected corpus, and retrain ≡ fresh build
    * (RetrainSpec) — so the row is v13's fresh-build CTE chain over the
    * transformed corpus. A hash match proves the trigger fired at the
    * right moment with the right input: any other firing pattern yields a
    * different geometry and a different top-k.
    *
    * 100 TB shape: the skew poll is one codes scan collapsing map-side to
    * ≤ nlist counters (in production, parquet footer counts per cell
    * directory — no row scan at all); the retrain itself is v19's one
    * training pass + one map-side re-encode, amortized over the append era
    * it resets; appends between polls stay per-batch-proportional. */
  val s32 = QueryDef(
    "s32_stream_index_retrain",
    (spark, dir) => {
      import graft.functions.VectorFunctions
      VectorFunctions.register(spark)
      val base = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding"))
      val skewSrc = base.filter(col("vec_id") < 2)
        .select(col("vec_id").as("sid"), col("embedding").as("semb"))
      val corpus = base.join(broadcast(skewSrc), col("vec_id") % 2 === col("sid"))
        .select(col("vec_id"),
          when(col("vec_id") % 3 === 2, col("semb"))
            .otherwise(col("embedding")).as("embedding"))
      // session-cached read-only source (see s10)
      val srcDir = FixtureDirs.cachedDir("s32-emb-", dir) { d =>
        (0 until 3).foreach { i =>
          val tmp = FixtureDirs.create(s"s32-part$i-")
          corpus.filter(col("vec_id") % 3 === i).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val index = new graft.operators.VectorIndex(spark,
        FixtureDirs.create("s32-index-").toString, nlist = 16)
      index.buildMeta(corpus.filter(col("vec_id") % 3 === 0))
      val firedAt = new java.util.concurrent.atomic.AtomicLong(-1L)
      val retrains = new java.util.concurrent.atomic.AtomicInteger(0)
      val stream = spark.readStream
        .schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, batchId: Long) =>
            index.append(b)
            if (index.occupancySkew() >= 2.4 && retrains.get == 0) {
              index.retrain(corpus.filter(col("vec_id") % 3 <= batchId))
              retrains.incrementAndGet()
              firedAt.set(batchId)
            }
            ()
          }
          .start()
        q.awaitTermination()
      }
      require(retrains.get == 1 && firedAt.get == 2,
        s"retrain trigger fired ${retrains.get} time(s), last at batch ${firedAt.get} " +
          "(expected exactly once, on the burst batch 2: organic batches must stay " +
          "under the skew threshold and the burst must cross it)")
      require(index.versions == Seq(1L),
        s"pre-retrain generation must be retired-but-queryable; got ${index.versions}")
      index.query(corpus.filter(col("vec_id") < 10), corpus,
          VectorFunctions.cosineSim, k = 5, nprobe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(VectorQueries.ivfPqOracle(eSql =
      """SELECT b.vec_id, CASE WHEN b.vec_id % 3 = 2 THEN s.emb ELSE b.emb END AS emb
        |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings) b
        |  JOIN (SELECT vec_id AS sid, CAST(embedding AS DOUBLE[]) AS emb
        |        FROM embeddings WHERE vec_id < 2) s ON s.sid = b.vec_id % 2""".stripMargin)),
    "streaming index retrain: v26 occupancy skew fires v19 generation cutover under foreachBatch appends (LLM-pipeline op)")

  /** Streaming GDPR erasure through deletion vectors — q64's verb under a
    * live request stream. Erasure requests (the `error` event topic stands
    * in for an account-deletion topic) drain through foreachBatch, and each
    * micro-batch applies [[graft.merge.LogTable.deleteWhere]] over the
    * batch's distinct requested keys (a request batch is small by
    * construction — one row per erasure request): only deleted POSITIONS
    * are committed as a sidecar — the row `require`s the data-file set is
    * untouched across the whole drain. That is the 100 TB
    * right-to-be-forgotten shape: request latency is O(matches) per batch
    * (one keyed probe of the table), the rewrite deferred to OPTIMIZE.
    * Re-delivered requests are no-ops (the position scan reads the
    * merge-on-read view, so deleted rows never re-match — same idempotency
    * class as the checkpoint + idempotent-merge exactly-once story), so the
    * accumulated deleted count is batching-independent and oracle-exact. */
  val s33 = QueryDef(
    "s33_stream_gdpr_erasure",
    (spark, dir) => {
      import spark.implicits._
      val o = graft.sources.Tables.orders(spark, dir)
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"))
      val root = FixtureDirs.create("graft-dv-erasure-").toString
      val t = new graft.merge.LogTable(spark, s"$root/orders", o.schema)
      t.overwrite(o)
      val before = t.liveFileNames()
      val deleted = new AtomicLong()
      val ckpt = newCkptDir()
      withStreamConf(spark) {
        val q = eventsStream(spark, dir)
          .filter(col("event_type") === "error") // the erasure-request topic
          .select(col("user_id").as("o_custkey"))
          .writeStream
          .outputMode("append")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, _: Long) =>
            val keys = batch.select(col("o_custkey")).distinct().as[Long].collect()
            if (keys.nonEmpty)
              deleted.addAndGet(t.deleteWhere(col("o_custkey").isin(keys.toIndexedSeq: _*)))
            ()
          }
          .start()
        q.awaitTermination()
      }
      require(deleted.get() > 0, "erasure stream deleted nothing")
      require(t.liveFileNames() == before,
        "merge-on-read broke: the erasure drain rewrote data files")
      val summary = t.read().groupBy(col("o_orderstatus"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("sum_price"))
      Seq(("deleted_orders", deleted.get(), 0.0)).toDF("o_orderstatus", "n", "sum_price")
        .union(summary)
        .orderBy(col("o_orderstatus"))
    },
    Some("""WITH req AS (SELECT DISTINCT user_id FROM events WHERE event_type = 'error'),
           |kept AS (SELECT * FROM orders o
           |         WHERE NOT EXISTS (SELECT 1 FROM req r WHERE r.user_id = o.o_custkey))
           |SELECT o_orderstatus, n, sum_price FROM (
           |  SELECT 'deleted_orders' AS o_orderstatus,
           |         (SELECT count(*) FROM orders
           |          WHERE o_custkey IN (SELECT user_id FROM req)) AS n,
           |         CAST(0 AS DOUBLE) AS sum_price
           |  UNION ALL
           |  SELECT o_orderstatus, count(*), round(sum(o_totalprice), 2)
           |  FROM kept GROUP BY o_orderstatus)
           |ORDER BY o_orderstatus""".stripMargin),
    "streaming GDPR erasure: deletion-vector deleteMatched per micro-batch, zero data rewrite during the drain (q64's verb live)")

  /** STREAMING EXPECTATIONS — q65's declarative quality gate applied at
    * ingest (the Delta Live Tables deployment shape: expectations live ON
    * the streaming table, violations land in a dead-letter/quarantine
    * relation with their reasons). Each micro-batch evaluates the same
    * predicate flags (customer dimension localCheckpoint'ed ONCE as the
    * frozen side input — the s22 pattern), appends passing rows to silver
    * and DROP-violating rows to quarantine tagged with the concatenated
    * failing-expectation names. Per-row stateless, so the drained split is
    * batching-independent and the oracle is q65's bronze CTE regrouped by
    * reason. `concat_ws` skips NULLs identically in both engines. */
  val s34 = QueryDef(
    "s34_stream_expectations",
    (spark, dir) => {
      import graft.merge.LogTable
      val bronze = RelationalQueries.expectationsBronze(
        graft.sources.Tables.orders(spark, dir))
      val dateUs = graft.sources.Tables.tsToUs(spark, col("o_orderdate"),
        bronze.schema("o_orderdate").dataType)
      val cust = graft.sources.Tables.customer(spark, dir)
        .select(col("c_custkey")).localCheckpoint(true)
      val srcDir = FixtureDirs.cachedDir("s34-bronze-", dir) { d =>
        val rows = bronze.select(col("o_orderkey"), col("o_custkey"),
          col("o_totalprice"), dateUs.as("o_date_us"), col("o_orderpriority"))
        val maxId = rows.agg(max(col("o_orderkey"))).head().getLong(0)
        val cuts = Seq(maxId / 3, 2 * maxId / 3)
        val parts = Seq(
          rows.filter(col("o_orderkey") <= cuts.head),
          rows.filter(col("o_orderkey") > cuts.head && col("o_orderkey") <= cuts(1)),
          rows.filter(col("o_orderkey") > cuts(1)))
        parts.zipWithIndex.foreach { case (p, i) =>
          val tmp = FixtureDirs.create(s"s34-part$i-")
          p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val root = FixtureDirs.create("s34-exp-").toString
      val silver = new LogTable(spark, s"$root/silver",
        org.apache.spark.sql.types.StructType.fromDDL("o_orderkey bigint"))
      val quar = new LogTable(spark, s"$root/quarantine",
        org.apache.spark.sql.types.StructType.fromDDL(
          "o_orderkey bigint, reason string"))
      val stream = spark.readStream
        .schema("o_orderkey bigint, o_custkey bigint, o_totalprice double, " +
          "o_date_us bigint, o_orderpriority string")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append")
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (batch: DataFrame, batchId: Long) =>
            val flagged = batch
              .join(cust, batch("o_custkey") === cust("c_custkey"), "left")
              .select(batch("o_orderkey").as("o_orderkey"),
                col("o_date_us").isNotNull.as("ok_date"),
                cust("c_custkey").isNotNull.as("ok_fk"))
              .withColumn("reason", concat_ws("+",
                when(!col("ok_fk"), lit("exp_custkey_exists")),
                when(!col("ok_date"), lit("exp_orderdate_not_null"))))
              .localCheckpoint(true) // two sinks: evaluate the gate once
            // disjoint sinks over a checkpointed input: one wave, one
            // floor; batch-id appends make a retried wave exactly-once
            graft.ops.JobWave.run(Seq(
              () => silver.appendOnce(flagged.filter(col("ok_fk") && col("ok_date"))
                .select(col("o_orderkey")), "s34", batchId),
              () => quar.appendOnce(flagged.filter(!(col("ok_fk") && col("ok_date")))
                .select(col("o_orderkey"), col("reason")), "s34", batchId)))
          }
          .start()
        q.awaitTermination()
      }
      quar.read().groupBy(col("reason")).agg(count(lit(1)).as("n"))
        .unionByName(silver.read().agg(count(lit(1)).as("n"))
          .select(lit("zz_kept").as("reason"), col("n")))
        .orderBy(col("reason"))
    },
    Some(s"""WITH ${RelationalQueries.expectationsBronzeSql},
            |g AS (SELECT concat_ws('+',
            |    CASE WHEN NOT ok_fk THEN 'exp_custkey_exists' END,
            |    CASE WHEN o_orderdate IS NULL THEN 'exp_orderdate_not_null' END) AS reason
            |  FROM f WHERE NOT (ok_fk AND o_orderdate IS NOT NULL))
            |SELECT reason, CAST(count(*) AS BIGINT) AS n FROM g GROUP BY reason
            |UNION ALL
            |SELECT 'zz_kept', CAST(count(*) AS BIGINT) FROM f
            |WHERE ok_fk AND o_orderdate IS NOT NULL
            |ORDER BY reason""".stripMargin),
    "streaming expectations: q65's WARN/DROP gate at ingest, reason-tagged quarantine sink, batching-independent (DLT expectations analog)")

  /** CONCURRENT STREAMING WRITERS through optimistic concurrency — two
    * independent availableNow streams (disjoint key ranges: even vs odd
    * user_id) upsert the SAME table via [[graft.merge.LogTable.occMerge]]
    * with q10's recency-guard CDC merge. Their micro-batches
    * interleave nondeterministically; OCC's stage → CAS → rebase loop
    * serializes the commits, and because the writers touch disjoint keys
    * and each writer's own batches commit in file order, the final table
    * is DETERMINISTIC: per user, latest ts wins, ties broken by earliest
    * batch (cdcUpsert's strict `<` keeps the incumbent), then highest
    * event_id within a batch. The oracle replays exactly that ordering.
    * Batch cuts derive from max(event_id) via integer division — scalar
    * subqueries keep the oracle honest at every SF (the v17b lesson).
    * This is q66's protocol under live concurrency — the multi-writer
    * Delta pattern (ingest + backfill landing simultaneously). */
  val s35 = QueryDef(
    "s35_stream_occ_upsert",
    (spark, dir) => {
      import graft.merge.LogTable
      import graft.ops.Relational
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val c0 = maxId / 3; val c1 = 2 * maxId / 3
      val latest = (df: DataFrame) => Relational.dedupKeyed(
        df, Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
      def writeBatches(prefix: String, parity: Int): java.nio.file.Path =
        FixtureDirs.cachedDir(prefix, dir) { d =>
          val mine = ev.filter(col("user_id") % 2 === parity)
          val parts = Seq(
            mine.filter(col("event_id") > c0 && col("event_id") <= c1),
            mine.filter(col("event_id") > c1))
          // pin strictly increasing mtimes: Files.move preserves the tmp
          // files' timestamps, and FileStreamSource orders by modification
          // time — an mtime tie at fs granularity would leave batch order
          // to listing luck, breaking the oracle's 'b ASC' tie-break
          val mtimeBase = System.currentTimeMillis()
          parts.zipWithIndex.foreach { case (p, i) =>
            val tmp = FixtureDirs.create(s"$prefix$i-")
            p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val f = java.nio.file.Files.list(tmp)
              .filter(_.toString.endsWith(".parquet")).findFirst().get()
            val dst = d.resolve(s"batch$i.parquet")
            java.nio.file.Files.move(f, dst)
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 1000L))
          }
        }
      val dirA = writeBatches("s35-even-", 0)
      val dirB = writeBatches("s35-odd-", 1)
      val root = FixtureDirs.create("s35-occ-").resolve("events_occ").toString
      val maxAttemptsSeen = new java.util.concurrent.atomic.AtomicInteger(0)
      val seed = latest(ev.filter(col("event_id") <= c0))
      val t = new LogTable(spark, root, seed.schema)
      t.overwrite(seed)
      val ddl = "event_id bigint, user_id bigint, event_type string, " +
        "value double, ts_us bigint"
      def writer(src: java.nio.file.Path) = spark.readStream
        .schema(ddl).option("maxFilesPerTrigger", "1").parquet(src.toString)
        .writeStream
        .option("checkpointLocation", newCkptDir())
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          // occMerge THROWS when maxAttempts is exhausted, so no bound check
          // here can fail; record the max observed attempt count instead —
          // an observable trace of whether the race actually exercised the
          // rebase path this run (it usually does, but is not guaranteed;
          // s35b forces the contention deterministically)
          val attempts = t.occMerge(latest(batch), maxAttempts = 10)(
            (cur, b) => graft.merge.Merge.cdcUpsert(cur, b, Seq("user_id"), "ts_us"))
          maxAttemptsSeen.accumulateAndGet(attempts, (a: Int, b: Int) => math.max(a, b))
          ()
        }
      withStreamConf(spark) {
        // start BOTH, then await: the commits genuinely race
        val qa = writer(dirA).start(); val qb = writer(dirB).start()
        qa.awaitTermination(); qb.awaitTermination()
      }
      System.err.println(s"[s35] max OCC attempts observed: ${maxAttemptsSeen.get}")
      require(t.currentVersion == 5L,
        s"expected 1 seed + 4 racing commits, got version ${t.currentVersion}")
      t.read().orderBy(col("user_id"))
    },
    Some(s"""WITH $evCte,
            |cuts AS (SELECT max(event_id) // 3 AS c0, 2 * max(event_id) // 3 AS c1 FROM ev),
            |w AS (SELECT user_id, event_id, event_type, value, ts_us,
            |    CASE WHEN event_id <= c0 THEN 0 WHEN event_id <= c1 THEN 1 ELSE 2 END AS b
            |  FROM ev, cuts)
            |SELECT event_id, user_id, event_type, value, ts_us FROM w
            |QUALIFY row_number() OVER (PARTITION BY user_id
            |  ORDER BY ts_us DESC, b ASC, event_id DESC) = 1
            |ORDER BY user_id""".stripMargin),
    "two concurrent streaming writers upsert one table through OCC: racing commits, rebase, deterministic recency-guard result (multi-writer Delta pattern)")

  /** STREAMING MULTI-WRITER COMMIT-LOG TABLE (s37) — s35's racing-writers
    * scenario on [[graft.merge.LogTable]], with SAME-KEY contention: two
    * availableNow streams upsert EVERY user (no key partitioning, unlike
    * s35's parity split: the manifest CAS serializes across processes, so
    * contended writers are the normal case). Each micro-batch occMerges a cdcUpsert guarded
    * by q66b's globally-unique `ord = ts_us·10¹⁰ + event_id`, making the
    * final state the schedule-free global argmax per user — the oracle
    * needs no knowledge of batching, interleaving, or who won which CAS.
    * Immutable snapshots mean a loser's staged read never hits a vanished
    * file; the only conflict signal is the lost CAS itself. */
  val s37 = QueryDef(
    "s37_stream_log_table_occ",
    (spark, dir) => {
      import graft.ops.Relational
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
        .withColumn("ord",
          col("ts_us").cast("decimal(38,0)") * lit(10000000000L) + col("event_id"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      require(maxId < 10000000000L, "ord packing needs event_id < 1e10")
      val c0 = maxId / 3; val c1 = 2 * maxId / 3
      val latest = (df: DataFrame) => Relational.dedupKeyed(
        df, Seq("user_id"), Seq(col("ord").desc))
      // both writers see ALL users; writer A carries the mid third, writer
      // B the last third — same keys, genuinely contended commits
      def writeBatches(prefix: String, loId: Long, hiId: Long): java.nio.file.Path =
        FixtureDirs.cachedDir(prefix, dir) { d =>
          val mine = ev.filter(col("event_id") > loId && col("event_id") <= hiId)
          val parts = Seq(
            mine.filter(col("event_id") % 2 === 0),
            mine.filter(col("event_id") % 2 === 1))
          val mtimeBase = System.currentTimeMillis()
          parts.zipWithIndex.foreach { case (p, i) =>
            val tmp = FixtureDirs.create(s"$prefix$i-")
            p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val f = java.nio.file.Files.list(tmp)
              .filter(_.toString.endsWith(".parquet")).findFirst().get()
            val dst = d.resolve(s"batch$i.parquet")
            java.nio.file.Files.move(f, dst)
            java.nio.file.Files.setLastModifiedTime(dst,
              java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 1000L))
          }
        }
      val dirA = writeBatches("s37-mid-", c0, c1)
      val dirB = writeBatches("s37-late-", c1, maxId)
      val root = FixtureDirs.create("s37-log-").resolve("events_log").toString
      val seed = latest(ev.filter(col("event_id") <= c0))
      val t = new graft.merge.LogTable(spark, root, seed.schema)
      t.overwrite(seed)
      val ddl = "event_id bigint, user_id bigint, event_type string, " +
        "value double, ts_us bigint, ord decimal(38,0)"
      val maxAttemptsSeen = new java.util.concurrent.atomic.AtomicInteger(0)
      def writer(src: java.nio.file.Path) = spark.readStream
        .schema(ddl).option("maxFilesPerTrigger", "1").parquet(src.toString)
        .writeStream
        .option("checkpointLocation", newCkptDir())
        .outputMode("append")
        .trigger(Trigger.AvailableNow())
        .foreachBatch { (batch: DataFrame, _: Long) =>
          val attempts = t.occMerge(latest(batch), maxAttempts = 10)(
            (cur, b) => graft.merge.Merge.cdcUpsert(cur, b, Seq("user_id"), "ord"))
          maxAttemptsSeen.accumulateAndGet(attempts, (a: Int, b: Int) => math.max(a, b))
          ()
        }
      withStreamConf(spark) {
        val qa = writer(dirA).start(); val qb = writer(dirB).start()
        qa.awaitTermination(); qb.awaitTermination()
      }
      System.err.println(s"[s37] max OCC attempts observed: ${maxAttemptsSeen.get}")
      require(t.currentVersion == 5L,
        s"expected 1 seed + 4 racing commits, got version ${t.currentVersion}")
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
    "two streaming writers race same-key upserts into the commit-log table: manifest-CAS rebase, schedule-free global-argmax result (multi-writer Delta on the log protocol)")

  /** STREAMING INCREMENTAL CURATION (s36) — d54's ingest under a
    * checkpointed foreachBatch drain: document deliveries arrive as
    * micro-batches (overlapping, like d54's 70/50 split), each batch
    * updates the persisted partials ([[IncrementalCuration.ingest]] —
    * set-proportional work, overlap dropped by the meta anti-join), and
    * the post-drain [[IncrementalCuration.select]] refresh is
    * BIT-IDENTICAL to from-scratch d49 over the union — this row's oracle
    * IS d49's (the d54 sharing pattern, now through streaming). The
    * reference's streaming test idea (`Test Scripts/09-stream-test.py`:
    * drive the batch pipeline through a stream, pin the counts) applied to
    * the curation pipeline — the d54 × s10 composition the r9 verdict
    * asked for.
    *
    * At-least-once safety needs NO batch marker here: ingest is
    * idempotent per ROW (already-seen doc_ids anti-join away), so a
    * re-delivered micro-batch is a no-op — `require`d explicitly by
    * re-ingesting the first delivery's content after the drain. */
  val s36 = QueryDef(
    "s36_stream_incremental_curation",
    (spark, dir) => {
      val byte = (id: org.apache.spark.sql.Column) =>
        conv(substring(md5(id.cast("string")), 1, 2), 16, 10).cast("int")
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("text"))
      val corpus = docs.filter(byte(col("doc_id")) < 250)
      val bench = docs.filter(byte(col("doc_id")) >= 250)
      val pipe = new IncrementalCuration(spark,
        FixtureDirs.create("s36-state-").toString)
      pipe.freezeBench(bench)
      // two OVERLAPPING deliveries as stream files (d54's split: 70% then
      // 50%, 20% overlap), mtime-pinned so file order is deterministic;
      // session-cached read-only source (see s10)
      val deliveries = Seq(
        corpus.filter(col("doc_id") % 10 < 7),
        corpus.filter(col("doc_id") % 10 >= 5))
      val srcDir = FixtureDirs.cachedDir("s36-docs-", dir) { sd =>
        deliveries.zipWithIndex.foreach { case (d, i) =>
          val part = FixtureDirs.create(s"s36-part$i-")
          d.coalesce(1).write.mode("overwrite").parquet(part.toString)
          val f = java.nio.file.Files.list(part)
            .filter(p => p.toString.endsWith(".parquet")).findFirst().get()
          val dst = sd.resolve(s"batch$i.parquet")
          java.nio.file.Files.move(f, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 1000L))
        }
      }
      val ingested = new java.util.concurrent.atomic.AtomicLong(0L)
      val stream = spark.readStream
        .schema("doc_id bigint, source string, text string")
        .option("maxFilesPerTrigger", "1")
        .parquet(srcDir.toString)
      withStreamConf(spark) {
        stream.writeStream
          .queryName("incremental_curation")
          .option("checkpointLocation", newCkptDir())
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            ingested.addAndGet(pipe.ingest(b)); ()
          }
          .start().awaitTermination()
      }
      // mechanism guards: the stream covered the corpus exactly once
      // (overlap dropped), and a full re-delivery is a no-op
      require(ingested.get == corpus.count(),
        s"stream ingested ${ingested.get} docs, corpus has ${corpus.count()}")
      require(pipe.ingest(deliveries.head) == 0L,
        "re-delivered batch must no-op (at-least-once safety)")
      pipe.select(100)
    },
    TextQueries.d49.oracle, // streamed refresh ≡ from-scratch d49 over the union
    "streaming incremental curation: overlapping micro-batch deliveries + partial-store refresh == from-scratch d49, re-delivery no-op (LLM-pipeline op)")

  /** LOG-TABLE STREAMING SOURCE end-to-end (s38) — the medallion pattern
    * over commit-log tables, driven through the REGISTERED source
    * (`spark.readStream.format("graft-logtable")`,
    * [[graft.sources.LogTableSource]]): bronze is a [[graft.merge.LogTable]]
    * fed by three append waves, silver is a second log table built by a
    * checkpointed availableNow drain per wave — version offsets resume at
    * the exact commit boundary, `maxVersionsPerTrigger = 1` makes each
    * bronze commit its own micro-batch, a bronze OPTIMIZE between waves is
    * INVISIBLE to the feed (`dataChange = false`), the quality gate rides
    * the stream, and the sink is the idempotent insert-only merge (M1).
    * `require`s pin the protocol: exactly one silver commit per wave
    * (compaction contributes none), and a fourth drain from the same
    * checkpoint commits NOTHING — exactly-once by version offsets, no
    * files-seen map. The oracle is the batch restatement: gated events,
    * grouped. */
  val s38 = QueryDef(
    "s38_logtable_stream_source",
    (spark, dir) => {
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val c0 = maxId / 3; val c1 = 2 * maxId / 3
      val root = FixtureDirs.create("s38-log-")
      val bronzeRoot = root.resolve("bronze").toString
      val bronze = new graft.merge.LogTable(spark, bronzeRoot, ev.schema)
      val silverRoot = root.resolve("silver").toString
      val silver = new graft.merge.LogTable(spark, silverRoot, ev.schema)
      val ckpt = newCkptDir()
      def drainToSilver(): Unit = withStreamConf(spark) {
        val q = spark.readStream.format("graft-logtable").schema(ev.schema)
          .option("maxVersionsPerTrigger", "1")
          .load(bronzeRoot)
          .filter(col("value") >= 0.5)
          // Delta txn-action sink, as the REGISTERED format: each micro-
          // batch is one appendOnce commit keyed (appId, batchId) — O(batch)
          // idempotent, where an insert-only MERGE would buy the same
          // guarantee at O(table) per micro-batch
          .writeStream.format("graft-logtable")
          .option("path", silverRoot).option("appId", "s38-silver")
          .option("checkpointLocation", ckpt)
          .trigger(Trigger.AvailableNow())
          .start()
        q.awaitTermination()
      }
      bronze.append(ev.filter(col("event_id") <= c0))                     // bronze v1
      drainToSilver()
      bronze.append(ev.filter(col("event_id") > c0 && col("event_id") <= c1)) // v2
      require(bronze.compact() > 0, "bronze compaction expected")         // v3, no data change
      drainToSilver()
      bronze.append(ev.filter(col("event_id") > c1))                      // v4
      drainToSilver()
      require(silver.currentVersion == 3L,
        s"one silver commit per wave (compaction invisible), got ${silver.currentVersion}")
      drainToSilver() // same checkpoint, nothing new
      require(silver.currentVersion == 3L,
        "re-drain must commit nothing (exactly-once by version offsets)")
      silver.read().groupBy(col("event_type"))
        .agg(count(lit(1)).as("n"), countDistinct(col("user_id")).as("users"),
          round(sum(col("value")), 2).as("sum_value"))
        .orderBy(col("event_type"))
    },
    Some(s"""WITH $evCte
            |SELECT event_type, count(*) AS n, count(DISTINCT user_id) AS users,
            |       round(sum(value), 2) AS sum_value
            |FROM ev WHERE value >= 0.5
            |GROUP BY event_type ORDER BY event_type""".stripMargin),
    "medallion over commit-log tables through the registered streaming source: version-offset checkpoints, per-commit micro-batches, OPTIMIZE invisible to the feed, idempotent M1 sink (Delta streaming-source protocol end-to-end)")

  /** STREAMING SCD2 DIMENSION HISTORY (s39) — q76's Type-2 merge under a
    * checkpointed availableNow drain into a [[graft.merge.LogTable]]: each
    * micro-batch collapses to its latest change per user and
    * [[graft.merge.Merge.scd2]]-merges into the dimension — current rows
    * CLOSE when tracked attributes change, identical or out-of-order
    * re-deliveries no-op BY SEMANTICS (the strict-newer + attrs-differ
    * guard), so at-least-once delivery needs NO batch marker (contrast
    * s38's txn watermarks — there the sink is append-only and needs one).
    * The final history IS batch-cut-dependent (a user changing twice
    * within one batch keeps only the latest), so the batches are cut
    * deterministically at event_id thirds (the s35 recipe, scalar
    * subqueries in the oracle) and file order is mtime-pinned. The oracle
    * replays the three applications in closed form (q76's chain-by-lead
    * construction, parameterized by the batch cuts).
    *
    * Scale: each application joins ONLY the current slice with the batch's
    * per-user latest — history rows never enter the join; the unbucketed
    * demo rewrites the table per commit, a bucketed deployment scopes that
    * rewrite to touched buckets (LogTable.merge's partition-scoped form). */
  val s39 = QueryDef(
    "s39_stream_scd2_history",
    (spark, dir) => {
      import graft.ops.Relational
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val c0 = maxId / 3; val c1 = 2 * maxId / 3
      val latest = (df: DataFrame) => Relational.dedupKeyed(
          df, Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
        .select(col("user_id"), col("event_type"), col("value"),
          col("ts_us").as("eff_from"))
      val srcDir = FixtureDirs.cachedDir("s39-dim-", dir) { d =>
        val parts = Seq(
          ev.filter(col("event_id") <= c0),
          ev.filter(col("event_id") > c0 && col("event_id") <= c1),
          ev.filter(col("event_id") > c1))
        val mtimeBase = System.currentTimeMillis()
        parts.zipWithIndex.foreach { case (p, i) =>
          val part = FixtureDirs.create(s"s39-part$i-")
          p.coalesce(1).write.mode("overwrite").parquet(part.toString)
          val f = java.nio.file.Files.list(part)
            .filter(x => x.toString.endsWith(".parquet")).findFirst().get()
          val dst = d.resolve(s"batch$i.parquet")
          java.nio.file.Files.move(f, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 1000L))
        }
      }
      val dimSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("eff_from",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("eff_to",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("is_current",
          org.apache.spark.sql.types.BooleanType)))
      val root = FixtureDirs.create("s39-scd2-").resolve("dim_users").toString
      val t = new graft.merge.LogTable(spark, root, dimSchema)
      val ddl = "event_id bigint, user_id bigint, event_type string, " +
        "value double, ts_us bigint"
      withStreamConf(spark) {
        spark.readStream
          .schema(ddl).option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .writeStream
          .queryName("scd2_history")
          .option("checkpointLocation", newCkptDir())
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            t.merge(latest(b))((cur, cand) => graft.merge.Merge.scd2(
              cur, cand, Seq("user_id"), Seq("event_type", "value")))
            ()
          }
          .start().awaitTermination()
      }
      require(t.currentVersion == 3L,
        s"expected 3 micro-batch commits, got ${t.currentVersion}")
      // at-least-once safety with NO marker: re-applying the FIRST batch
      // (stale: every candidate at-or-before the open version) must leave
      // the history bit-identical — the strict-newer guard is the dedup
      val replay = graft.merge.Merge.scd2(t.read(),
        latest(ev.filter(col("event_id") <= c0)),
        Seq("user_id"), Seq("event_type", "value"))
      require(replay.exceptAll(t.read()).isEmpty && t.read().exceptAll(replay).isEmpty,
        "re-delivered first batch must no-op (SCD2 idempotency)")
      t.read().orderBy(col("user_id"), col("eff_from"))
    },
    Some(s"""WITH $evCte,
            |cuts AS (SELECT max(event_id) // 3 AS c0, 2 * max(event_id) // 3 AS c1 FROM ev),
            |w AS (SELECT user_id, event_type, value, ts_us, event_id,
            |    CASE WHEN event_id <= c0 THEN 0 WHEN event_id <= c1 THEN 1 ELSE 2 END AS b
            |  FROM ev, cuts),
            |cand AS (SELECT b, user_id, event_type, value, ts_us FROM w
            |  QUALIFY row_number() OVER (PARTITION BY b, user_id
            |    ORDER BY ts_us DESC, event_id DESC) = 1),
            |v0 AS (SELECT user_id, event_type, value, ts_us AS eff_from
            |       FROM cand WHERE b = 0),
            |v1 AS (SELECT c.user_id, c.event_type, c.value, c.ts_us AS eff_from
            |       FROM (SELECT * FROM cand WHERE b = 1) c
            |       LEFT JOIN v0 t ON c.user_id = t.user_id
            |       WHERE t.user_id IS NULL
            |          OR (c.ts_us > t.eff_from
            |              AND (c.event_type IS DISTINCT FROM t.event_type
            |                   OR c.value IS DISTINCT FROM t.value))),
            |cur1 AS (SELECT user_id, event_type, value, eff_from
            |         FROM (SELECT * FROM v0 UNION ALL SELECT * FROM v1)
            |         QUALIFY row_number() OVER (PARTITION BY user_id
            |           ORDER BY eff_from DESC) = 1),
            |v2 AS (SELECT c.user_id, c.event_type, c.value, c.ts_us AS eff_from
            |       FROM (SELECT * FROM cand WHERE b = 2) c
            |       LEFT JOIN cur1 t ON c.user_id = t.user_id
            |       WHERE t.user_id IS NULL
            |          OR (c.ts_us > t.eff_from
            |              AND (c.event_type IS DISTINCT FROM t.event_type
            |                   OR c.value IS DISTINCT FROM t.value))),
            |allv AS (SELECT * FROM v0 UNION ALL SELECT * FROM v1
            |         UNION ALL SELECT * FROM v2)
            |SELECT user_id, event_type, value, eff_from,
            |       lead(eff_from) OVER win AS eff_to,
            |       lead(eff_from) OVER win IS NULL AS is_current
            |FROM allv
            |WINDOW win AS (PARTITION BY user_id ORDER BY eff_from)
            |ORDER BY user_id, eff_from""".stripMargin),
    "streaming SCD2: micro-batches close-and-insert dimension versions in a log table; re-delivery no-ops by the strict-newer guard (no txn marker needed); oracle replays the batch-cut chain in closed form")

  /** CDF → SCD2 DOWNSTREAM (s40) — the composition Delta's change feed
    * exists for: an UPSERT-maintained source table (SCD1 merges — each
    * commit a full rewrite, so the feed is UPDATE-shaped) is consumed
    * through the registered streaming source with `ignoreChanges` (full
    * re-emission, at-least-once) + `_commit_version`, and the consumer
    * maintains a TYPE-2 HISTORY of the source downstream. Why it works:
    * `maxVersionsPerTrigger = 1` makes each source commit its own
    * micro-batch (batch cuts = commit boundaries — deterministic however
    * the stream schedules), `_commit_version` is the SCD2 `eff_from`, and
    * [[graft.merge.Merge.scd2]]'s strict-newer + attrs-differ guard
    * ABSORBS the re-emitted unchanged rows that `ignoreChanges` floods the
    * consumer with — the re-emission that poisons a naive append consumer
    * is exactly a no-op here. The oracle computes the three source states
    * in closed form (seed, then two batch-wins folds) and chains the
    * changed ones by `lead` (q76's construction).
    *
    * Scale: the consumer never reads the source table — only the feed's
    * per-commit adds; each SCD2 application joins the dim's current slice
    * with one commit's rows. Version offsets checkpoint with the batch, so
    * a restart resumes at the exact commit boundary. */
  val s40 = QueryDef(
    "s40_stream_cdf_scd2",
    (spark, dir) => {
      import graft.ops.Relational
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("event_type"),
          col("value"), col("ts_us"))
      val seed = Relational.dedupKeyed(ev, Seq("user_id"),
          Seq(col("ts_us"), col("event_id")))
        .select(col("user_id"), col("event_type"), col("value"))
      val root = FixtureDirs.create("s40-cdf-")
      // source-table fixture, session-cached (the s42 rationale: read-only
      // during the drain, deterministic per sf dir; the DIM stays fresh)
      val srcRoot = FixtureDirs.cachedDir("s40-src-", dir) { d =>
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val c0 = maxId / 3; val c1 = 2 * maxId / 3
        def wave(lo: Long, hi: Long) = Relational.dedupKeyed(
            ev.filter(col("event_id") > lo && col("event_id") <= hi),
            Seq("user_id"), Seq(col("ts_us").desc, col("event_id").desc))
          .select(col("user_id"), col("event_type"), col("value"))
        val src = new graft.merge.LogTable(spark, d.resolve("src").toString,
          seed.schema)
        src.overwrite(seed)                                                // v1
        src.merge(wave(c0, c1))((cur, b) =>
          graft.merge.Merge.scd1(cur, b, Seq("user_id")))                  // v2
        src.merge(wave(c1, maxId))((cur, b) =>
          graft.merge.Merge.scd1(cur, b, Seq("user_id")))                  // v3
      }.resolve("src")
      val dimSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("event_type",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType),
        org.apache.spark.sql.types.StructField("eff_from",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("eff_to",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("is_current",
          org.apache.spark.sql.types.BooleanType)))
      val dim = new graft.merge.LogTable(spark, root.resolve("dim").toString,
        dimSchema)
      withStreamConf(spark) {
        spark.readStream.format("graft-logtable").schema(seed.schema)
          .option("ignoreChanges", "true")
          .option("withCommitVersion", "true")
          .option("maxVersionsPerTrigger", "1")
          .load(srcRoot.toString)
          .writeStream
          .queryName("cdf_scd2")
          .option("checkpointLocation", newCkptDir())
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            // one commit per micro-batch; a full-rewrite commit's adds are
            // the complete post-commit state, key-unique by construction
            val cand = b.select(col("user_id"), col("event_type"), col("value"),
              col(graft.merge.LogTable.CommitVersionCol).as("eff_from"))
            dim.merge(cand)((cur, c) => graft.merge.Merge.scd2(
              cur, c, Seq("user_id"), Seq("event_type", "value")))
            ()
          }
          .start().awaitTermination()
      }
      require(dim.currentVersion == 3L,
        s"expected one dim commit per source commit, got ${dim.currentVersion}")
      dim.read().orderBy(col("user_id"), col("eff_from"))
    },
    Some(s"""WITH $evCte,
            |cuts AS (SELECT max(event_id) // 3 AS c0, 2 * max(event_id) // 3 AS c1 FROM ev),
            |s1 AS (SELECT user_id, event_type, value FROM ev
            |  QUALIFY row_number() OVER (PARTITION BY user_id
            |    ORDER BY ts_us, event_id) = 1),
            |w1 AS (SELECT user_id, event_type, value FROM ev, cuts
            |  WHERE event_id > c0 AND event_id <= c1
            |  QUALIFY row_number() OVER (PARTITION BY user_id
            |    ORDER BY ts_us DESC, event_id DESC) = 1),
            |w2 AS (SELECT user_id, event_type, value FROM ev, cuts
            |  WHERE event_id > c1
            |  QUALIFY row_number() OVER (PARTITION BY user_id
            |    ORDER BY ts_us DESC, event_id DESC) = 1),
            |s2 AS (SELECT s1.user_id,
            |    CASE WHEN w1.user_id IS NULL THEN s1.event_type ELSE w1.event_type END AS event_type,
            |    CASE WHEN w1.user_id IS NULL THEN s1.value ELSE w1.value END AS value
            |  FROM s1 LEFT JOIN w1 ON s1.user_id = w1.user_id),
            |s3 AS (SELECT s2.user_id,
            |    CASE WHEN w2.user_id IS NULL THEN s2.event_type ELSE w2.event_type END AS event_type,
            |    CASE WHEN w2.user_id IS NULL THEN s2.value ELSE w2.value END AS value
            |  FROM s2 LEFT JOIN w2 ON s2.user_id = w2.user_id),
            |v1 AS (SELECT user_id, event_type, value, CAST(1 AS BIGINT) AS eff_from FROM s1),
            |v2 AS (SELECT a.user_id, a.event_type, a.value, CAST(2 AS BIGINT)
            |  FROM s2 a JOIN s1 b ON a.user_id = b.user_id
            |  WHERE a.event_type IS DISTINCT FROM b.event_type
            |     OR a.value IS DISTINCT FROM b.value),
            |v3 AS (SELECT a.user_id, a.event_type, a.value, CAST(3 AS BIGINT)
            |  FROM s3 a JOIN s2 b ON a.user_id = b.user_id
            |  WHERE a.event_type IS DISTINCT FROM b.event_type
            |     OR a.value IS DISTINCT FROM b.value),
            |allv AS (SELECT * FROM v1 UNION ALL SELECT * FROM v2
            |         UNION ALL SELECT * FROM v3)
            |SELECT user_id, event_type, value, eff_from,
            |       lead(eff_from) OVER win AS eff_to,
            |       lead(eff_from) OVER win IS NULL AS is_current
            |FROM allv
            |WINDOW win AS (PARTITION BY user_id ORDER BY eff_from)
            |ORDER BY user_id, eff_from""".stripMargin),
    "change feed consumed into a downstream SCD2 history: ignoreChanges re-emission absorbed by the strict-newer guard, _commit_version as eff_from, per-commit micro-batches (the Delta CDF composition)")

  /** STREAMING ROW-TRACKED INGEST (s41) — q80's row tracking composed with
    * the exactly-once streaming sink: three deterministic micro-batches
    * (event_id thirds, mtime-pinned file order) land in a
    * `rowTracking = true` [[graft.merge.LogTable]] via `appendOnce`, each
    * batch shaped (range-partitioned + sorted on (user_id, event_id)) so
    * its contiguous id block is CLOSED-FORM: id = offset of earlier
    * batches + rank by (user_id, event_id) WITHIN the batch — the batch
    * cuts are visible in the id order, which is exactly what the oracle
    * pins. After the drain: a RE-DELIVERED batch is `require`d a no-op
    * (txn watermark — ids can't double-allocate under at-least-once
    * delivery), then a DV delete + OPTIMIZE, so the final hash reads ids
    * from the MATERIALIZED rewrite of a streaming-built table (survivors
    * keep their pre-delete ranks — stability is IN the hash, not just a
    * require).
    *
    * Scale: per batch one append commit + O(#new files) driver allocation;
    * everything else is q80's machinery unchanged under the drain. */
  val s41 = QueryDef(
    "s41_stream_row_tracking",
    (spark, dir) => {
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("value"))
      val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
      val c0 = maxId / 3; val c1 = 2 * maxId / 3
      val srcDir = FixtureDirs.cachedDir("s41-src-", dir) { d =>
        val parts = Seq(
          ev.filter(col("event_id") <= c0),
          ev.filter(col("event_id") > c0 && col("event_id") <= c1),
          ev.filter(col("event_id") > c1))
        val mtimeBase = System.currentTimeMillis()
        parts.zipWithIndex.foreach { case (p, i) =>
          val part = FixtureDirs.create(s"s41-part$i-")
          p.coalesce(1).write.mode("overwrite").parquet(part.toString)
          val f = java.nio.file.Files.list(part)
            .filter(x => x.toString.endsWith(".parquet")).findFirst().get()
          val dst = d.resolve(s"batch$i.parquet")
          java.nio.file.Files.move(f, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(mtimeBase + i * 1000L))
        }
      }
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      val root = FixtureDirs.create("s41-rt-").resolve("events_rt").toString
      val t = new graft.merge.LogTable(spark, root, schema, rowTracking = true)
      def shaped(b: DataFrame) = b
        .repartitionByRange(4, col("user_id"), col("event_id"))
        .sortWithinPartitions("user_id", "event_id")
      withStreamConf(spark) {
        spark.readStream
          .schema("event_id bigint, user_id bigint, value double")
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .writeStream
          .queryName("row_tracked_ingest")
          .option("checkpointLocation", newCkptDir())
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            t.appendOnce(shaped(b), "s41", id); ()
          }
          .start().awaitTermination()
      }
      require(t.currentVersion == 3L,
        s"expected 3 micro-batch commits, got ${t.currentVersion}")
      require(!t.appendOnce(shaped(ev.filter(col("event_id") <= c0)), "s41", 0L),
        "re-delivered batch must be a txn no-op — no double id allocation")
      require(t.deleteWhere(pmod(col("event_id"), lit(7)) === 0) > 0,
        "delete predicate must match rows at every SF")
      require(t.compact(targetFileBytes = 1L << 20) > 0,
        "compaction must rewrite (materializing ids)")
      t.readWithRowIds()
        .select(col("event_id"), col("user_id"),
          col(graft.merge.LogTable.RowIdCol).as("row_id"))
        .orderBy(col("event_id"))
    },
    Some(s"""WITH $evCte,
            |cuts AS (SELECT max(event_id) // 3 AS c0, 2 * max(event_id) // 3 AS c1 FROM ev),
            |w AS (SELECT event_id, user_id,
            |    CASE WHEN event_id <= c0 THEN 0 WHEN event_id <= c1 THEN 1 ELSE 2 END AS b
            |  FROM ev, cuts),
            |off AS (SELECT b, count(*) AS n FROM w GROUP BY b),
            |off2 AS (SELECT b, CAST(coalesce(sum(n) OVER (ORDER BY b
            |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS base
            |  FROM off),
            |ids AS (SELECT w.event_id, w.user_id,
            |    o.base + rank() OVER (PARTITION BY w.b ORDER BY w.user_id, w.event_id) AS row_id
            |  FROM w JOIN off2 o USING (b))
            |SELECT event_id, user_id, row_id FROM ids
            |WHERE event_id % 7 <> 0
            |ORDER BY event_id""".stripMargin),
    "streaming ingest into a row-tracked log table: per-batch contiguous id blocks in closed form, re-delivered batch a txn no-op (no double allocation), ids stable through DV delete + OPTIMIZE materialization")

  /** KEY-FREE STREAMING REPLICATION (s42) — the typed change feed (q82)
    * consumed through the registered source: `.option("changeFeed", true)`
    * + `withRowIds` streams every row-level change as
    * (`_change_type`, `_row_id`, data), one commit per micro-batch, and
    * the consumer maintains a DOWNSTREAM MIRROR of the source keyed ONLY
    * by `_row_id` — it never learns the logical key. Apply rule per batch:
    * drop every id the batch touches (deletes AND inserts), then add the
    * inserts — idempotent under at-least-once re-delivery by construction
    * (re-applying a span reaches the same state), delete-aware without
    * `ignoreChanges`. Source lifecycle: two shaped appends with a DV
    * delete in between, then a final DV delete spanning both eras — so
    * the feed interleaves inserts and deletes across four commits and the
    * mirror must converge to the source's live rows WITH their ids
    * (`require`d via except() both ways, and pinned in the hash: ids are
    * closed-form per q80's construction).
    *
    * Scale: per micro-batch the source scans only the commit's added or
    * sidecar-named files; the mirror is BUCKETED BY rid, so the merge's
    * partition-scoped form rewrites only the buckets holding the batch's
    * ids — O(touched buckets + batch) per commit, not O(mirror). */
  val s42 = QueryDef(
    "s42_stream_cdf_replication",
    (spark, dir) => {
      val ev = graft.sources.Tables.eventsUs(spark, dir)
        .select(col("event_id"), col("user_id"), col("value"))
      val schema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("event_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("user_id",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("value",
          org.apache.spark.sql.types.DoubleType)))
      // Source-table FIXTURE, session-cached: the four-commit lifecycle is
      // deterministic per sf dir and only ever READ during the drain (the
      // cachedDir contract — the MIRROR below stays per-invocation). The
      // operator under test is the change-feed CONSUMER; q80/q82 own the
      // source-side verbs on the correctness gate.
      val srcRoot = FixtureDirs.cachedDir("s42-src-", dir) { d =>
        val maxId = ev.agg(max(col("event_id"))).head().getLong(0)
        val c0 = maxId / 3
        val src = new graft.merge.LogTable(spark, d.resolve("src").toString,
          schema, rowTracking = true)
        def shaped(b: DataFrame) = b
          .repartitionByRange(4, col("user_id"), col("event_id"))
          .sortWithinPartitions("user_id", "event_id")
        src.append(shaped(ev.filter(col("event_id") <= c0)))              // v1
        require(src.deleteWhere(pmod(col("event_id"), lit(5)) === 0) > 0) // v2
        src.append(shaped(ev.filter(col("event_id") > c0)))               // v3
        require(src.deleteWhere(pmod(col("event_id"), lit(7)) === 0) > 0) // v4
      }.resolve("src")
      val src = new graft.merge.LogTable(spark, srcRoot.toString,
        schema, rowTracking = true)
      val root = FixtureDirs.create("s42-repl-")
      val mirrorSchema = org.apache.spark.sql.types.StructType(
        schema.fields :+ org.apache.spark.sql.types.StructField("rid",
          org.apache.spark.sql.types.LongType))
      // the mirror is BUCKETED BY rid: LogTable.merge's partition-scoped
      // form then rewrites only the buckets holding this batch's ids —
      // per-batch cost O(touched buckets), not O(mirror) (rid is the merge
      // key, so rows never migrate buckets — the bucketed-merge contract)
      val mirror = new graft.merge.LogTable(spark,
        root.resolve("mirror").toString, mirrorSchema,
        bucketBy = Some((Seq("rid"), 8)))
      withStreamConf(spark) {
        spark.readStream.format("graft-logtable").schema(schema)
          .option("changeFeed", "true").option("withRowIds", "true")
          .option("maxVersionsPerTrigger", "1")
          .load(srcRoot.toString)
          .writeStream
          .queryName("cdf_replication")
          .option("checkpointLocation", newCkptDir())
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, _: Long) =>
            // one payload carrying EVERY change row (deletes included) —
            // the bucketed merge detects touched buckets from the batch's
            // rid hashes, so a delete-only batch still routes to its buckets
            val payload = b.select(col("event_id"), col("user_id"),
                col("value"), col(graft.merge.LogTable.RowIdCol).as("rid"),
                (col(graft.merge.LogTable.ChangeTypeCol) === "insert")
                  .as("__ins"))
              .localCheckpoint(true)
            mirror.merge(payload) { (cur, p) =>
              cur.join(broadcast(p.select(col("rid")).distinct()),
                  Seq("rid"), "left_anti")
                .unionByName(p.filter(col("__ins")).drop("__ins"))
            }
            ()
          }
          .start().awaitTermination()
      }
      require(mirror.currentVersion == 4L,
        s"expected one mirror commit per source commit, got ${mirror.currentVersion}")
      val live = src.readWithRowIds()
        .withColumnRenamed(graft.merge.LogTable.RowIdCol, "rid")
      val got = mirror.read()
      require(got.except(live).isEmpty && live.except(got).isEmpty,
        "mirror must converge to the source's live rows with their ids")
      got.orderBy(col("event_id"))
    },
    Some(s"""WITH $evCte,
            |cut AS (SELECT max(event_id) // 3 AS c0 FROM ev),
            |w AS (SELECT event_id, user_id, value,
            |    CASE WHEN event_id <= c0 THEN 0 ELSE 1 END AS b FROM ev, cut),
            |n1 AS (SELECT count(*) AS n FROM w WHERE b = 0),
            |ids AS (SELECT w.event_id, w.user_id, w.value,
            |    CASE WHEN w.b = 0 THEN 0 ELSE (SELECT n FROM n1) END
            |      + rank() OVER (PARTITION BY w.b ORDER BY w.user_id, w.event_id) AS rid
            |  FROM w)
            |SELECT event_id, user_id, value, rid FROM ids
            |WHERE NOT (event_id % 5 = 0 AND event_id <= (SELECT c0 FROM cut))
            |  AND event_id % 7 <> 0
            |ORDER BY event_id""".stripMargin),
    "key-free streaming replication from the typed change feed: downstream mirror maintained purely by _row_id (deletes and inserts applied with no logical key), one commit per micro-batch, converges to the source's live rows + ids")

  /** STREAMING CMS MAINTENANCE (s43) — d63's count-min sketch kept live
    * under a drain: each micro-batch computes its OWN cells (map-side,
    * ≤ D·W rows however large the batch) and `appendOnce`s them into a
    * partials log table — exactly-once by txn marker, so a re-delivered
    * batch cannot double-count (`require`d post-drain). The served sketch
    * is `sum(c) GROUP BY (i, b)` over the partials — CMS cells are
    * ADDITIVE, so the drain is schedule-free BY ALGEBRA: any batch
    * order, any batch sizing, even batches coalesced by the engine sum
    * to the identical sketch, which is why the oracle is d63's batch
    * SQL VERBATIM (streaming ≡ batch pinned in the hash, no replay CTEs
    * needed — the s05/s06 emission mirroring is unnecessary for an
    * additive aggregate).
    *
    * Scale: per batch O(batch) scan + ≤ D·W shuffled rows + one commit;
    * the partials table grows one ≤ D·W-row commit per batch and
    * compacts like any log table; serving cost is O(#partials · D·W),
    * independent of corpus size. */
  val s43 = QueryDef(
    "s43_stream_cms_maintenance",
    (spark, dir) => {
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("text"))
      val srcDir = FixtureDirs.cachedDir("s43-docs-", dir) { d =>
        val maxId = docs.agg(max(col("doc_id"))).head().getLong(0)
        val cuts = Seq(maxId / 3, 2 * maxId / 3)
        val parts = Seq(
          docs.filter(col("doc_id") <= cuts.head),
          docs.filter(col("doc_id") > cuts.head && col("doc_id") <= cuts(1)),
          docs.filter(col("doc_id") > cuts(1)))
        parts.zipWithIndex.foreach { case (p, i) =>
          val tmp = FixtureDirs.create(s"s43-part$i-")
          p.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          java.nio.file.Files.move(f, d.resolve(s"batch$i.parquet"))
        }
      }
      val cellSchema = org.apache.spark.sql.types.StructType.fromDDL(
        "i int, b bigint, c bigint")
      val partials = new graft.merge.LogTable(spark,
        FixtureDirs.create("s43-cms-").resolve("partials").toString, cellSchema)
      // geometry frozen BEFORE the stream (one corpus probe — the
      // provisioning step): additive partials require one width
      val w = TextQueries.cmsWidthFor(docs)
      def batchCells(b: DataFrame): DataFrame =
        TextQueries.cmsCells(TextQueries.tokenStream(b), w)
          .select(col("i"), col("b"), col("c"))
      withStreamConf(spark) {
        spark.readStream
          .schema("doc_id bigint, text string")
          .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
          .writeStream
          .queryName("cms_maintenance")
          .option("checkpointLocation", newCkptDir())
          .trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            partials.appendOnce(batchCells(b), "s43", id); ()
          }
          .start().awaitTermination()
      }
      require(partials.currentVersion == 3L,
        s"expected 3 partial commits, got ${partials.currentVersion}")
      val replay = docs.filter(col("doc_id") <=
        docs.agg(max(col("doc_id"))).head().getLong(0) / 3)
      require(!partials.appendOnce(batchCells(replay), "s43", 0L),
        "re-delivered batch must be a txn no-op — no double counting")
      val sketch = partials.read()
        .groupBy("i", "b").agg(sum(col("c")).as("c"))
      val tc = TextQueries.tokenStream(docs)
        .groupBy("tok").agg(count(lit(1)).as("true_cnt"))
        .localCheckpoint(true)
      TextQueries.cmsEstimates(tc, sketch, w)
    },
    Some(TextQueries.cmsOracleSql),
    "streaming count-min maintenance: per-batch cells appendOnce'd into a partials log (txn exactly-once), served sketch = summed partials; additivity makes drain ≡ batch schedule-free — d63's oracle verbatim")

  /** STREAMING GRAPH-ANN INGEST (s44) — [[graft.operators.Similarity.graphInsert]]
    * (v36's HNSW-style insert) as a MAINTAINED streaming state: the graph's
    * edge set lives in a LogTable, new vectors arrive as micro-batches, and
    * each batch's insert lands through the new TRANSACTIONAL occMerge —
    * content rewrite + txn watermark in ONE commit, so a re-delivered batch
    * id is a no-op by the CAS (the appendOnce handshake generalized to
    * state REWRITES, which an append-only sink cannot express; the insert
    * itself is ALSO idempotent by the node anti-join — belt and braces).
    * Later batches genuinely see earlier inserts: batch-2 vectors can beam
    * through batch-1 nodes (the corpus grows with the graph).
    *
    * Deterministic end-to-end: batches are fixed id slices delivered
    * oldest-first (explicit mtimes), every stage is the 6dp-rounded
    * deterministic machinery, so the final edge set REPLAYS in DuckDB as
    * two sequential insert rounds (three prefix-parameterized beam
    * searches never collide; chained CTEs MATERIALIZED — the v36 lesson).
    * The hash pins the maintained STATE itself, not a projection of it.
    *
    * 100 TB shape: per batch one bounded beam search per vector + a
    * re-prune of the touched srcs, and the state commit is
    * PARTITION-SCOPED (the r12 fix for the r11 scale flag): the edge
    * table is BUCKETED by src, the insert produces its DELTA form
    * ([[graft.operators.Similarity.graphInsertDelta]] — rows for touched
    * srcs only), and the transactional occMerge rewrites only the buckets
    * holding touched srcs (the s42 replication shape) — per-batch write
    * bytes ∝ touched srcs, never O(graph). GraphStateScopedSpec pins
    * untouched buckets surviving byte-identical across batches. */
  val s44 = QueryDef(
    "s44_stream_graph_insert",
    (spark, dir) => {
      import graft.functions.VectorFunctions
      import graft.operators.Similarity
      VectorFunctions.register(spark)
      val emb = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val isNew = pmod(col("vec_id"), lit(9)) === 4
      val base = emb.filter(!isNew).localCheckpoint(true)
      val nbase = base.count()
      val nlist = math.max(16L, nbase / 50).toInt
      val stride = math.max(1L, nbase / nlist)
      val baseEdges = Similarity.ivfTopK(base, base,
          VectorFunctions.cosineSim, k = 5, nlist = nlist,
          nprobe = VectorQueries.scaledNprobe(nlist))
        .select(col("query_id").as("src"), col("vec_id").as("dst"),
          col("cos"))
        .localCheckpoint(true)
      val entries = base.filter(pmod(col("vec_id"), lit(stride)) === 0)
        .orderBy(col("vec_id")).limit(nlist).select(col("vec_id"))
        .localCheckpoint(true)
      // two deliveries: the v36 batch split in arrival order (explicit
      // ascending mtimes — the file source processes oldest-first);
      // session-cached read-only source (see s10)
      val srcDir = FixtureDirs.cachedDir("s44-emb-", dir) { sd =>
        Seq(4L, 13L).zipWithIndex.foreach { case (r, i) =>
          val tmp = FixtureDirs.create(s"s44-part$i-")
          emb.filter(pmod(col("vec_id"), lit(18)) === r).coalesce(1)
            .write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          val dst = sd.resolve(s"batch$i.parquet")
          java.nio.file.Files.move(f, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        }
      }
      val t = new graft.merge.LogTable(spark,
        FixtureDirs.create("s44-graph-").resolve("edges").toString,
        // bucket count tracks the node count (~500 srcs/bucket): a FIXED
        // 16 buckets cost 1.7x at sf0.1 (16 small files per commit where
        // the table only has ~1.8k srcs — the r12 bench regression) while
        // the scale win (rewrite ∝ touched buckets) only needs enough
        // buckets that a batch touches a minority of them
        baseEdges.schema,
        bucketBy = Some((Seq("src"), math.max(4, (nbase / 500).toInt))))
      t.append(baseEdges) // v1: the base graph
      val stream = spark.readStream
        .schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append").trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            if (t.lastTxn("s44") < id) {
              val edges = t.read().localCheckpoint(true)
              // nodes already in the graph: base + previously inserted
              // (every inserted node has forward edges, so srcs cover them)
              val insertedIds = edges.select(col("src").as("vec_id")).distinct()
                .join(base.select(col("vec_id")), Seq("vec_id"), "left_anti")
              val corpus = base.unionByName(
                emb.join(insertedIds, Seq("vec_id")))
              // DELTA form: rows for touched srcs only — the bucketed
              // occMerge then rewrites only the buckets holding them
              val delta = Similarity.graphInsertDelta(corpus, edges, b,
                  entries, beam = VectorQueries.scaledBeam(nlist))
                .localCheckpoint(true)
              t.occMerge(delta, txn = Some(("s44", id))) { (cur, d) =>
                cur.join(d.select(col("src")).distinct(),
                    Seq("src"), "left_anti")
                  .unionByName(d)
              }
            }
            ()
          }.start()
        q.awaitTermination()
      }
      require(t.lastTxn("s44") == 1L,
        s"both batches must commit exactly once (watermark ${t.lastTxn("s44")})")
      val out = t.read().localCheckpoint(true)
      val newSrcs = out.select(col("src").as("vec_id")).distinct()
        .join(base.select(col("vec_id")), Seq("vec_id"), "left_anti").count()
      require(newSrcs == emb.filter(isNew).count(),
        s"every streamed vector must be inserted ($newSrcs srcs)")
      out.orderBy(col("src"), col("dst"))
    },
    Some {
      val cosE = VectorQueries.cosSql("q.q_vec", "t.emb")
      s"""WITH e AS MATERIALIZED (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS emb FROM embeddings),
         |base AS MATERIALIZED (SELECT * FROM e WHERE vec_id % 9 <> 4),
         |${VectorQueries.knnEdgeStagesFor("base")},
         |bedges AS MATERIALIZED (SELECT query_id AS src, vec_id AS dst, cos FROM knn),
         |ent AS MATERIALIZED (SELECT vec_id FROM base
         |  WHERE vec_id % greatest(1, (SELECT count(*) FROM base) // (SELECT nl FROM nlv)) = 0
         |  QUALIFY row_number() OVER (ORDER BY vec_id) <= (SELECT nl FROM nlv)),
         |nq1 AS (SELECT vec_id AS query_id, emb AS q_vec FROM e WHERE vec_id % 18 = 4),
         |i1edges AS MATERIALIZED (SELECT src, dst FROM bedges),
         |i1v0 AS (SELECT q.query_id, t.vec_id, round($cosE, 6) AS cos
         |  FROM nq1 q CROSS JOIN ent JOIN base t ON t.vec_id = ent.vec_id),
         |${VectorQueries.beamRoundsSql(3, VectorQueries.scaledBeamSql, p = "i1", edges = "i1edges", corpus = "base", qs = "nq1")},
         |c1 AS MATERIALIZED (SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM i1v3 QUALIFY rn <= 5),
         |r1 AS (SELECT vec_id AS src, query_id AS dst, cos,
         |    CASE WHEN rn = 1 THEN 0 ELSE 1 END AS pri FROM c1),
         |g1 AS MATERIALIZED (
         |  SELECT src, dst, cos FROM (
         |    SELECT src, dst, cos, 1 AS pri FROM bedges
         |    UNION ALL SELECT src, dst, cos, pri FROM r1)
         |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY pri, cos DESC, dst) <= 5
         |  UNION ALL SELECT query_id AS src, vec_id AS dst, cos FROM c1),
         |c2corp AS MATERIALIZED (SELECT * FROM base
         |  UNION ALL SELECT vec_id, emb FROM e WHERE vec_id % 18 = 4),
         |nq2 AS (SELECT vec_id AS query_id, emb AS q_vec FROM e WHERE vec_id % 18 = 13),
         |i2edges AS MATERIALIZED (SELECT src, dst FROM g1),
         |i2v0 AS (SELECT q.query_id, t.vec_id, round($cosE, 6) AS cos
         |  FROM nq2 q CROSS JOIN ent JOIN c2corp t ON t.vec_id = ent.vec_id),
         |${VectorQueries.beamRoundsSql(3, VectorQueries.scaledBeamSql, p = "i2", edges = "i2edges", corpus = "c2corp", qs = "nq2")},
         |c2 AS MATERIALIZED (SELECT query_id, vec_id, cos,
         |    row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id) AS rn
         |  FROM i2v3 QUALIFY rn <= 5),
         |r2 AS (SELECT vec_id AS src, query_id AS dst, cos,
         |    CASE WHEN rn = 1 THEN 0 ELSE 1 END AS pri FROM c2),
         |g2 AS (
         |  SELECT src, dst, cos FROM (
         |    SELECT src, dst, cos, 1 AS pri FROM g1
         |    UNION ALL SELECT src, dst, cos, pri FROM r2)
         |  QUALIFY row_number() OVER (PARTITION BY src ORDER BY pri, cos DESC, dst) <= 5
         |  UNION ALL SELECT query_id AS src, vec_id AS dst, cos FROM c2)
         |SELECT src, dst, cos FROM g2 ORDER BY src, dst""".stripMargin
    },
    "streaming graph-ANN ingest: per-batch HNSW inserts through a transactional occMerge (content + txn watermark in one commit); later batches beam through earlier inserts; final edge state replays as sequential rounds (LLM-pipeline op)")

  /** STREAMING CUSUM DRIFT MONITOR (s45) — d64's per-source drift
    * statistic maintained INCREMENTALLY: CUSUM is not commutative, but the
    * per-segment summary (total, min-prefix, max-prefix, max-drawup,
    * max-drawdown) is a MONOID under sequence concatenation (DriftSpec
    * proves compose∘split == full fold at every split point), so each
    * micro-batch computes its own 5-field segment with d64's two-window
    * closed form and one keyed occMerge folds it into the state — state
    * size O(sources), per-batch work O(batch), exactly the s43 "look for
    * the algebra before writing replay CTEs" shape, extended from
    * commutative monoids to associative ones (requires in-order batch
    * delivery, which the ascending-mtime file source provides; the txn
    * watermark makes re-delivery a no-op). The reference level k is
    * calibrated once on the corpus (a monitor's configured baseline).
    * Oracle = the batch CUSUM SQL verbatim, no emission replay. */
  val s45 = QueryDef(
    "s45_stream_cusum_monitor",
    (spark, dir) => {
      import org.apache.spark.sql.expressions.Window
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .localCheckpoint(true)
      val kRow = docs.agg(sum(col("n_chars")), count(lit(1))).head()
      val k = kRow.getLong(0) / kRow.getLong(1) // calibrated baseline
      val ids = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val lo = ids.getLong(0); val hi = ids.getLong(1)
      val span = (hi - lo + 1 + 2) / 3
      // fixture: three ascending doc_id slices, oldest-first mtimes;
      // session-cached read-only source (see s10)
      val srcDir = FixtureDirs.cachedDir("s45-docs-", dir) { sd =>
        (0 until 3).foreach { i =>
          val tmp = FixtureDirs.create(s"s45-part$i-")
          docs.filter(col("doc_id") >= lo + i * span &&
              col("doc_id") < lo + (i + 1) * span)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          val dst = sd.resolve(s"batch$i.parquet")
          java.nio.file.Files.move(f, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        }
      }
      val stateSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("n_docs",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("t",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("mn",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("mx",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("up",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("dn",
          org.apache.spark.sql.types.LongType)))
      val t = new graft.merge.LogTable(spark,
        FixtureDirs.create("s45-state-").resolve("cusum").toString, stateSchema)
      val stream = spark.readStream
        .schema("doc_id bigint, source string, n_chars bigint")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append").trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            if (t.lastTxn("s45") < id && !b.isEmpty) {
              val w = Window.partitionBy(col("source")).orderBy(col("doc_id"))
              val seg = b
                .withColumn("pp", sum(col("n_chars") - lit(k)).over(w))
                .withColumn("su",
                  col("pp") - least(lit(0L), min(col("pp")).over(w)))
                .withColumn("sd",
                  greatest(lit(0L), max(col("pp")).over(w)) - col("pp"))
                .groupBy(col("source"))
                .agg(count(lit(1)).as("n_docs"),
                  sum(col("n_chars") - lit(k)).as("t"),
                  least(lit(0L), min(col("pp"))).as("mn"),
                  greatest(lit(0L), max(col("pp"))).as("mx"),
                  max(col("su")).as("up"), max(col("sd")).as("dn"))
              t.occMerge(seg, txn = Some(("s45", id))) { (cur, d) =>
                // the Seg monoid (DriftSpec.Seg.compose), null = empty seg
                def c(n: String) = coalesce(col(s"c.$n"), lit(0L))
                def bb(n: String) = coalesce(col(s"b.$n"), lit(0L))
                cur.alias("c").join(d.alias("b"), Seq("source"), "full_outer")
                  .select(col("source"),
                    (c("n_docs") + bb("n_docs")).as("n_docs"),
                    (c("t") + bb("t")).as("t"),
                    least(c("mn"), c("t") + bb("mn")).as("mn"),
                    greatest(c("mx"), c("t") + bb("mx")).as("mx"),
                    greatest(c("up"), bb("up"),
                      c("t") + bb("mx") - c("mn")).as("up"),
                    greatest(c("dn"), bb("dn"),
                      c("mx") - (c("t") + bb("mn"))).as("dn"))
              }
            }
            ()
          }.start()
        q.awaitTermination()
      }
      require(t.lastTxn("s45") == 2L,
        s"all three batches must commit exactly once (${t.lastTxn("s45")})")
      val st = t.read()
        .withColumn("drift", greatest(col("up"), col("dn")))
      val out = st
        .crossJoin(broadcast(st.agg(max(col("drift")).as("gm"))))
        .select(col("source"), col("n_docs"), col("up").as("cusum_up"),
          col("dn").as("cusum_dn"), col("drift"),
          (col("drift") * 5 >= col("gm") * 4).as("flagged"))
        .orderBy(col("source"))
        .localCheckpoint(true)
      val nf = out.filter(col("flagged")).count()
      require(nf >= 1 && nf < out.count(),
        s"drift gate degenerate: $nf of ${out.count()} sources flagged")
      out
    },
    Some(TextQueries.cusumOracleSql(withPeak = false)),
    "streaming CUSUM drift monitor: per-batch segment summaries folded through the 5-field concatenation monoid in one transactional occMerge — state O(sources), batch work O(batch), final state == the batch statistic by algebra (LLM-pipeline op)")

  /** STREAMING INDEX SEGMENT INGEST (s46) — v39's merge verb as the
    * standing-ingest shape (the Lucene near-real-time pattern): the FIRST
    * batch bootstraps the main index (train meta, encode, flip); every
    * later batch is encoded into its own SHARD index that ADOPTS the
    * main's meta by file copy ([[graft.operators.VectorIndex.adoptMeta]]
    * — the codebook ships to where the data lands, no retrain) and then
    * folds in via [[graft.operators.VectorIndex.merge]] — cell-file
    * copies, O(batch) encode + O(files) merge per trigger, NEVER a
    * corpus re-encode (contrast: s15's append rewrites nothing either,
    * but merge additionally gives each batch its own independently-built
    * segment — the shape that lets 1000 executors build shards in
    * parallel at 100 TB). Codes are a pure function of (vector, frozen
    * meta), so the final index is bit-identical to the one-shot v13
    * build — the oracle is v13's verbatim; the file-union `require`
    * pins the no-re-encode contract across every batch. */
  val s46 = QueryDef(
    "s46_stream_index_segment_merge",
    (spark, dir) => {
      import graft.functions.VectorFunctions
      import graft.operators.VectorIndex
      VectorFunctions.register(spark)
      val emb = graft.sources.Tables.embeddings(spark, dir)
        .select(col("vec_id"), col("embedding")).localCheckpoint(true)
      val ids = emb.agg(min(col("vec_id")), max(col("vec_id"))).head()
      val lo = ids.getLong(0); val hi = ids.getLong(1)
      val span = (hi - lo + 1 + 2) / 3
      // session-cached read-only source (see s10)
      val srcDir = FixtureDirs.cachedDir("s46-emb-", dir) { sd =>
        (0 until 3).foreach { i =>
          val tmp = FixtureDirs.create(s"s46-part$i-")
          emb.filter(col("vec_id") >= lo + i * span &&
              col("vec_id") < lo + (i + 1) * span)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          val dst = sd.resolve(s"batch$i.parquet")
          java.nio.file.Files.move(f, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        }
      }
      val main = new VectorIndex(spark,
        FixtureDirs.create("s46-main-").toString, nlist = 16)
      def partFiles(ix: VectorIndex): Set[String] = {
        import scala.jdk.CollectionConverters._
        java.nio.file.Files.walk(ix.liveRoot.resolve("index"))
          .iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(".parquet")).toSet
      }
      val shardFiles = scala.collection.mutable.Set[String]()
      val stream = spark.readStream
        .schema("vec_id bigint, embedding array<float>")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append").trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            if (!b.isEmpty) {
              if (id == 0L) {
                // bootstrap: the first segment trains the calibration —
                // meta is a pure function of the CALIBRATION corpus, so
                // train on the static table sample (a monitor's one-time
                // setup), encode only the batch
                main.buildMeta(emb)
                main.append(b)
              } else {
                val shard = new VectorIndex(spark,
                  FixtureDirs.create(s"s46-shard$id-").toString, nlist = 16)
                shard.adoptMeta(main)
                shard.append(b)
                shardFiles ++= partFiles(shard)
                main.merge(shard)
              }
            }
            ()
          }.start()
        q.awaitTermination()
      }
      require(shardFiles.toSet.subsetOf(partFiles(main)),
        "a merge re-encoded or dropped shard files — segment ingest must " +
          "be file union")
      require(main.versions.nonEmpty,
        "merges must cut generations (pre-merge segments stay readable)")
      main.query(emb.filter(col("vec_id") < 10), emb,
          VectorFunctions.cosineSim, k = 5, nprobe = 4, shortlist = 50)
        .orderBy(col("query_id"), col("rank"))
    },
    Some(VectorQueries.ivfPqOracle()),
    "streaming index segment ingest: first batch bootstraps the calibration, later batches build shard indexes on adopted meta and fold in by file-copy merge — O(batch) encode per trigger, final index bit-identical to the one-shot build (LLM-pipeline op)")

  /** MULTI-SOURCE WATERMARK POLICY (s47): a union of two event-time
    * branches advances the GLOBAL watermark at the pace of the SLOWEST one
    * (`spark.sql.streaming.multipleWatermarkPolicy = min`, the default and
    * the only safe choice) — the semantics every fan-in topology (union of
    * a fresh feed and a lagging backfill, kafka topics with skewed lag)
    * lives or dies by. Here the `signup` branch trails the rest of the
    * stream (data-derived lag: 258 s at sf0.1, 28 min at sf0.01), so a
    * 1-minute-window append drain must HOLD BACK the fast branch's last
    * windows too: emission cutoff = least(max tsₘₐᵢₙ, max tsₗₐₜₑ) with the
    * 0-second delay, which the oracle mirrors in exact µs. A `require`
    * pins the holdback non-trivial (the branch maxes straddle a window
    * boundary) so a testdata regeneration can't make the row vacuous.
    *
    * Scale: per-branch watermark tracking is O(1) state; the union is a
    * plan-level concat (no shuffle before the windowed agg — same single
    * exchange the one-branch agg pays). */
  val s47 = QueryDef(
    "s47_stream_union_min_watermark",
    (spark, dir) => {
      val evB = graft.sources.Tables.eventsUs(spark, dir)
      val Array(maxMain, maxLate) = evB
        .groupBy(when(col("event_type") === "signup", "late")
          .otherwise("main").as("b"))
        .agg(max(col("ts_us")).as("m"))
        .orderBy(col("b")).collect()
          .map(_.getLong(1)).reverse // main, late
      require(maxMain / 60000000L > math.min(maxMain, maxLate) / 60000000L,
        "branch maxes must straddle a 1-minute boundary, or the min-policy " +
          "holdback is vacuous at this SF — re-derive the branch split")
      drain(spark, dir, "append") { ev =>
        val main = ev.filter(col("event_type") =!= "signup")
          .withColumn("branch", lit("main"))
          .withWatermark("ts_utc", "0 seconds")
        val late = ev.filter(col("event_type") === "signup")
          .withColumn("branch", lit("late"))
          .withWatermark("ts_utc", "0 seconds")
        main.unionByName(late)
          .groupBy(window(col("ts_utc"), "1 minute"), col("branch"))
          .agg(count(lit(1)).as("n"), round(sum(col("value")), 2).as("sum_value"))
          .select(unix_micros(col("window.start")).as("win_start_us"),
            col("branch"), col("n"), col("sum_value"))
      }.orderBy(col("branch"), col("win_start_us"))
    },
    Some(s"""WITH $evCte,
            |cut AS (SELECT least(
            |    (SELECT max(ts_us) FROM ev WHERE event_type <> 'signup'),
            |    (SELECT max(ts_us) FROM ev WHERE event_type = 'signup')) AS c),
            |w AS (SELECT CASE WHEN event_type = 'signup' THEN 'late'
            |             ELSE 'main' END AS branch,
            |        (ts_us // 60000000) * 60000000 AS win_start_us, value
            |      FROM ev)
            |SELECT branch, win_start_us, count(*) AS n,
            |       round(sum(value), 2) AS sum_value
            |FROM w GROUP BY 1, 2
            |HAVING win_start_us + 60000000 <= (SELECT c FROM cut)
            |ORDER BY branch, win_start_us""".stripMargin),
    "multi-source watermark policy: a unioned lagging branch holds the global watermark back (min policy), so the fast branch's trailing windows are withheld too — emission cutoff = least of the branch maxes, mirrored in exact µs")

  /** STREAMING KS DRIFT MONITOR (s48) — d66's distributional statistic
    * maintained incrementally, s45's shape one statistic over: histogram
    * cells (source, bin) → count are a COMMUTATIVE ADDITIVE MONOID, so the
    * maintained state is schedule-free by algebra (the s43 lesson — find
    * the algebra before writing replay CTEs) and the oracle is the batch
    * KS SQL verbatim (minus d66's planted fixture — a standing monitor
    * watches real sources). Each micro-batch folds ONE grouped count into
    * a LogTable state through the txn-guarded transactional occMerge
    * (exactly-once under redelivery); the KS grid/argmax/gate run on the
    * maintained cells AFTER the drain, sharing d66's [[TextQueries.ksStats]]
    * so both rows verify the same statistic. Bin width is calibrated from
    * the corpus baseline up front (the s45 `k` pattern) — a drift monitor's
    * reference frame is fixed at calibration, not re-derived per batch.
    *
    * Scale: state is |sources|×|bins| cells (vocabulary-sized); per-batch
    * work is one map-side-combinable groupBy over the batch + a cell-keyed
    * merge — O(batch), never O(history). */
  val s48 = QueryDef(
    "s48_stream_ks_monitor",
    (spark, dir) => {
      val docs = graft.sources.Tables.documents(spark, dir)
        .select(col("doc_id"), col("source"), col("n_chars"))
        .localCheckpoint(true)
      val wBin = math.max(8L,
        docs.agg(max(col("n_chars"))).head().getLong(0) / 32L) // calibrated
      val nOrg = docs.count()
      val ids = docs.agg(min(col("doc_id")), max(col("doc_id"))).head()
      val lo = ids.getLong(0); val hi = ids.getLong(1)
      val span = (hi - lo + 1 + 2) / 3
      // session-cached read-only source (see s10)
      val srcDir = FixtureDirs.cachedDir("s48-docs-", dir) { sd =>
        (0 until 3).foreach { i =>
          val tmp = FixtureDirs.create(s"s48-part$i-")
          docs.filter(col("doc_id") >= lo + i * span &&
              col("doc_id") < lo + (i + 1) * span)
            .coalesce(1).write.mode("overwrite").parquet(tmp.toString)
          val f = java.nio.file.Files.list(tmp)
            .filter(_.toString.endsWith(".parquet")).findFirst().get()
          val dst = sd.resolve(s"batch$i.parquet")
          java.nio.file.Files.move(f, dst)
          java.nio.file.Files.setLastModifiedTime(dst,
            java.nio.file.attribute.FileTime.fromMillis(1000000000000L + i * 60000L))
        }
      }
      val stateSchema = org.apache.spark.sql.types.StructType(Seq(
        org.apache.spark.sql.types.StructField("source",
          org.apache.spark.sql.types.StringType),
        org.apache.spark.sql.types.StructField("b",
          org.apache.spark.sql.types.LongType),
        org.apache.spark.sql.types.StructField("c",
          org.apache.spark.sql.types.LongType)))
      val t = new graft.merge.LogTable(spark,
        FixtureDirs.create("s48-state-").resolve("hist").toString, stateSchema)
      val stream = spark.readStream
        .schema("doc_id bigint, source string, n_chars bigint")
        .option("maxFilesPerTrigger", "1").parquet(srcDir.toString)
      withStreamConf(spark) {
        val q = stream.writeStream
          .option("checkpointLocation", newCkptDir())
          .outputMode("append").trigger(Trigger.AvailableNow())
          .foreachBatch { (b: DataFrame, id: Long) =>
            if (t.lastTxn("s48") < id && !b.isEmpty) {
              val cells = b
                .groupBy(col("source"), expr(s"n_chars div $wBin").as("b"))
                .agg(count(lit(1)).as("c"))
              t.occMerge(cells, txn = Some(("s48", id))) { (cur, d) =>
                cur.alias("x").join(d.alias("y"),
                    Seq("source", "b"), "full_outer")
                  .select(col("source"), col("b"),
                    (coalesce(col("x.c"), lit(0L)) +
                      coalesce(col("y.c"), lit(0L))).as("c"))
              }
            }
            ()
          }.start()
        q.awaitTermination()
      }
      require(t.lastTxn("s48") == 2L,
        s"all three batches must commit exactly once (${t.lastTxn("s48")})")
      val cells = t.read().localCheckpoint(true)
      require(cells.agg(sum(col("c"))).head().getLong(0) == nOrg,
        "maintained cell mass must equal the corpus size")
      graft.queries.TextQueries.ksStats(cells, nOrg, plantName = None)
        .orderBy(col("source"))
    },
    Some(graft.queries.TextQueries.ksOracleSql(withPlant = false)),
    "streaming KS drift monitor: per-batch histogram cells folded through the additive monoid in one transactional occMerge — state sources×bins, batch work O(batch), final statistic == the batch KS by algebra (LLM-pipeline op)")

  def defs: Seq[QueryDef] = Seq(s01, s02, s03, s04, s05, s06, s07, s08, s09,
    s10, s10b, s11, s12, s13, s14, s15, s16, s17, s18, s19, s20, s21, s22, s23,
    s24, s25, s26, s27, s28, s29, s30, s31, s32, s33, s34, s35, s36, s37, s38,
    s39, s40, s41, s42, s43, s44, s45, s46, s47, s48)
}
