package graft.sources

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, GraftStreamingBridge, Row, SaveMode, SQLContext}
import org.apache.spark.sql.connector.read.streaming.{ReadLimit, SupportsTriggerAvailableNow, Offset => OffsetV2}
import org.apache.spark.sql.execution.streaming.{Offset, Sink, Source}
import org.apache.spark.sql.execution.streaming.runtime.{LongOffset, SerializedOffset}
import org.apache.spark.sql.sources.{BaseRelation, CreatableRelationProvider, DataSourceRegister, EqualTo, Filter, GreaterThan, GreaterThanOrEqual, InsertableRelation, LessThan, LessThanOrEqual, PrunedFilteredScan, RelationProvider, SchemaRelationProvider, StreamSinkProvider, StreamSourceProvider}
import org.apache.spark.sql.streaming.OutputMode
import org.apache.spark.sql.types.StructType

import graft.merge.LogTable

/** STREAMING SOURCE over a [[graft.merge.LogTable]] — the commit log read
  * as an exactly-once micro-batch stream, the way Delta's own streaming
  * source reads its transaction log:
  *
  *   - OFFSETS ARE VERSIONS. `getOffset` reports the newest committed
  *     version; the engine checkpoints it WITH the batch, so restart/replay
  *     resumes at the exact commit boundary — no files-seen map (the file
  *     stream's bookkeeping), no dedup state: the log's total order IS the
  *     offset line.
  *   - `getBatch(start, end]` = [[LogTable.changesBetween]]: the adds of the
  *     dataChange commits in the span. Compaction commits
  *     (`dataChange = false`) are TRANSPARENT — an OPTIMIZE never re-feeds
  *     the pipeline. Update/delete commits fail the stream loudly unless
  *     `.option("ignoreChanges", true)`, which re-emits rewritten files in
  *     full (at-least-once; downstream must be keyed-idempotent — Delta's
  *     `ignoreChanges` contract, verbatim).
  *   - Exactly-once end-to-end: version offsets in the sink checkpoint +
  *     an idempotent sink (foreachBatch merge / append-by-batchId) — the
  *     same composition the engine's file streams get, but with commit
  *     semantics instead of directory listings.
  *
  *   - `.option("withCommitVersion", true)` appends `_commit_version`
  *     (Delta CDF) — the column that makes `ignoreChanges` replays
  *     RESOLVABLE: a span covering a rewrite delivers both the stale and
  *     the new copy of a key, and the version column lets a keyed-recency
  *     merge pick the right one deterministically.
  *   - `.option("changeFeed", true)` streams the TYPED feed
  *     ([[LogTable.readChangeFeed]]) instead of bare adds: every row
  *     carries `_change_type` ('insert' | 'delete') + `_commit_version`,
  *     deletes served from the DV sidecars and rewrite-removed files —
  *     update/delete commits need no `ignoreChanges` escape hatch.
  *     `.option("withRowIds", true)` additionally carries the stable
  *     `_row_id` (requires a row-tracked log) — a downstream consumer can
  *     then replicate the table KEY-FREE: apply deletes/inserts by row id
  *     with no knowledge of the logical key.
  *   - ADMISSION CONTROL: `.option("maxVersionsPerTrigger", n)` caps how
  *     many commits one micro-batch admits (the file source's
  *     maxFilesPerTrigger, at commit granularity), and the source
  *     implements `SupportsTriggerAvailableNow` — an availableNow drain
  *     pins its target version at start, so it terminates at a consistent
  *     snapshot even while writers keep committing.
  *
  * Registered as `graft-logtable` (META-INF DataSourceRegister), so
  * `spark.readStream.format("graft-logtable").schema(s).load(path)` works;
  * the schema must be supplied explicitly (the log stores data files, not a
  * contract — same stance as the file sources).
  *
  * Scale: getOffset is one directory listing (O(1) with the checkpoint
  * hint); getBatch plans a parquet scan of exactly the span's files —
  * per-trigger work is proportional to what was committed, never to table
  * size. Vacuumed-away spans fail loudly (restart from a snapshot), they
  * never silently skip.
  */
final class LogTableSourceProvider extends StreamSourceProvider
    with StreamSinkProvider with RelationProvider with SchemaRelationProvider
    with CreatableRelationProvider with DataSourceRegister {
  import LogTableSourceProvider._

  override def shortName(): String = "graft-logtable"

  // ── batch read (spark.read / SQL `CREATE TABLE … USING graft-logtable`) ──
  // The log is self-describing (the first commit embeds the schema), so no
  // .schema(...) is needed for batch reads; `versionAsOf` serves time
  // travel through the same relation.

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String]): BaseRelation = {
    val path = pathOf(parameters)
    val s = LogTable.readSchema(path).getOrElse(throw new IllegalArgumentException(
      s"graft-logtable at $path has no commits yet — pass an explicit .schema(...)"))
    new LogTableRelation(sqlContext, path, s, versionOf(parameters))
  }

  override def createRelation(sqlContext: SQLContext,
                              parameters: Map[String, String],
                              schema: StructType): BaseRelation =
    new LogTableRelation(sqlContext, pathOf(parameters), schema,
      versionOf(parameters))

  // ── streaming sink (writeStream.format("graft-logtable")) ───────────────
  // Exactly-once by construction: every micro-batch is an [[LogTable
  // .appendOnce]] txn commit keyed (appId, batchId), so a batch replayed
  // after a crash (sink committed, offsets didn't) is a NO-OP — the Delta
  // sink's txn-action protocol, with no files-seen state outside the log.

  override def createSink(sqlContext: SQLContext,
                          parameters: Map[String, String],
                          partitionColumns: Seq[String],
                          outputMode: OutputMode): Sink = {
    require(outputMode == OutputMode.Append(),
      s"graft-logtable sink is append-only (got $outputMode) — route update/" +
        "complete modes through foreachBatch with a keyed merge")
    require(partitionColumns.isEmpty,
      "graft-logtable lays out files by its own bucketing, not partitionBy")
    new LogTableSink(sqlContext, pathOf(parameters),
      parameters.getOrElse("appId", parameters.getOrElse("appid",
        "graft-logtable-sink")))
  }

  // ── batch write (df.write.format("graft-logtable").mode(…).save(path)) ──

  override def createRelation(sqlContext: SQLContext, mode: SaveMode,
                              parameters: Map[String, String],
                              data: DataFrame): BaseRelation = {
    val path = pathOf(parameters)
    val statsBy = parameters.get("statsBy").orElse(parameters.get("statsby"))
      .map(_.split(',').map(_.trim).toSeq).getOrElse(Nil)
    val t = new LogTable(sqlContext.sparkSession, path, data.schema,
      statsBy = statsBy)
    val empty = t.currentVersion == 0L
    mode match {
      case SaveMode.Overwrite => t.overwrite(data)
      case SaveMode.Append => t.append(data)
      case SaveMode.ErrorIfExists if !empty =>
        throw new IllegalStateException(s"graft-logtable at $path already has commits")
      case SaveMode.Ignore if !empty => () // leave as-is
      case _ => t.overwrite(data) // ErrorIfExists/Ignore on an empty table
    }
    new LogTableRelation(sqlContext, path,
      LogTable.readSchema(path).getOrElse(data.schema), None)
  }

  override def sourceSchema(sqlContext: SQLContext, schema: Option[StructType],
                            providerName: String,
                            parameters: Map[String, String]): (String, StructType) = {
    val data = schema.getOrElse(throw new IllegalArgumentException(
      "graft-logtable requires an explicit .schema(...)"))
    (shortName(), LogTableSourceProvider.sourceSchemaFor(data, parameters))
  }

  override def createSource(sqlContext: SQLContext, metadataPath: String,
                            schema: Option[StructType], providerName: String,
                            parameters: Map[String, String]): Source = {
    val path = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-logtable requires a path (.load(rootDir))"))
    val maxVersions = parameters.get("maxVersionsPerTrigger")
      .orElse(parameters.get("maxversionspertrigger")).map(_.toLong)
    require(maxVersions.forall(_ >= 1), "maxVersionsPerTrigger must be >= 1")
    require(!flag(parameters, "withRowIds") || flag(parameters, "changeFeed"),
      "withRowIds is a changeFeed option (set .option(\"changeFeed\", true))")
    new LogTableSource(sqlContext, path, schema.getOrElse(
      throw new IllegalArgumentException("graft-logtable requires an explicit .schema(...)")),
      flag(parameters, "ignoreChanges"), maxVersions,
      flag(parameters, "withCommitVersion"),
      flag(parameters, "changeFeed"), flag(parameters, "withRowIds"))
  }
}

object LogTableSourceProvider {
  private def flag(parameters: Map[String, String], name: String): Boolean =
    parameters.get(name).orElse(parameters.get(name.toLowerCase)).exists(_.toBoolean)

  /** The streamed schema for a given data schema + option set: changeFeed
    * appends `_row_id` (when requested) then `_change_type` +
    * `_commit_version` — [[LogTable.readChangeFeed]]'s column order;
    * otherwise `withCommitVersion` optionally appends `_commit_version`. */
  private[sources] def sourceSchemaFor(data: StructType,
                                       parameters: Map[String, String]): StructType =
    if (flag(parameters, "changeFeed")) {
      val base = if (flag(parameters, "withRowIds"))
        data.add(LogTable.RowIdCol, org.apache.spark.sql.types.LongType)
      else data
      base.add(LogTable.ChangeTypeCol, org.apache.spark.sql.types.StringType)
        .add(LogTable.CommitVersionCol, org.apache.spark.sql.types.LongType)
    } else if (flag(parameters, "withCommitVersion"))
      data.add(LogTable.CommitVersionCol, org.apache.spark.sql.types.LongType)
    else data

  private def pathOf(parameters: Map[String, String]): String = {
    val raw = parameters.getOrElse("path", throw new IllegalArgumentException(
      "graft-logtable requires a path (.load(rootDir) / OPTIONS (path '…'))"))
    // SQL DDL hands the option back as a file: URI; LogTable wants an
    // OS path (local-fs engine — a cluster deployment would route all
    // log/file IO through the Hadoop FileSystem API instead)
    if (raw.startsWith("file:")) java.net.URI.create(raw).getPath else raw
  }

  private def versionOf(parameters: Map[String, String]): Option[Long] =
    parameters.get("versionAsOf").orElse(parameters.get("versionasof")).map(_.toLong)
}

/** Streaming sink over a [[graft.merge.LogTable]]: each micro-batch is one
  * [[LogTable.appendOnce]] txn commit — replays no-op, so the sink is
  * exactly-once without any state beside the log itself. The write reads
  * the batch once; an empty batch cuts no version. */
private[sources] final class LogTableSink(sqlContext: SQLContext, path: String,
                                          appId: String) extends Sink {
  override def addBatch(batchId: Long, data: org.apache.spark.sql.DataFrame): Unit = {
    new LogTable(sqlContext.sparkSession, path, data.schema)
      .appendOnce(GraftStreamingBridge.asBatch(data), appId, batchId)
    ()
  }
  override def toString: String = s"LogTableSink[$path]"
}

/** Batch relation over a [[graft.merge.LogTable]] — the DSv1 face that
  * makes log tables first-class to `spark.read`, `df.write`, and SQL DDL
  * (`CREATE TABLE t USING \`graft-logtable\` OPTIONS (path '…')`,
  * `INSERT INTO t …`):
  *
  *   - **scan with manifest pushdown** ([[PrunedFilteredScan]]): range
  *     filters on statsBy columns prune the FILE LIST from the log's
  *     per-file min/max stats before the scan is planned — the pruning is
  *     a superset move, so every filter is also left to Spark to
  *     re-evaluate (correctness never depends on the stats).
  *   - **time travel**: `.option("versionAsOf", v)` serves version v —
  *     with v's deletion vectors and v's schema, from the same relation.
  *   - **INSERT INTO** ([[InsertableRelation]]): append or overwrite
  *     commit through the same CAS protocol as every other writer.
  */
private[sources] final class LogTableRelation(
    override val sqlContext: SQLContext, path: String,
    override val schema: StructType, versionAsOf: Option[Long])
    extends BaseRelation with PrunedFilteredScan with InsertableRelation {

  private def table = new LogTable(sqlContext.sparkSession, path, schema)

  override def buildScan(requiredColumns: Array[String],
                         filters: Array[Filter]): RDD[Row] = {
    val t = table
    // manifest-stats pruning: intersect every pushable range filter on one
    // column into [lo, hi] bounds and let readRange skip files; multiple
    // filtered columns fall back to the widest single-column prune
    val byCol = filters.collect {
      case EqualTo(c, v)            => (c, Some(v), Some(v))
      case GreaterThan(c, v)        => (c, Some(v), None)
      case GreaterThanOrEqual(c, v) => (c, Some(v), None)
      case LessThan(c, v)           => (c, None, Some(v))
      case LessThanOrEqual(c, v)    => (c, None, Some(v))
    }.groupBy(_._1)
    val prunable = byCol.collectFirst {
      case (c, bs) if t.statsColumns.contains(c) &&
          bs.exists(_._2.isDefined) && bs.exists(_._3.isDefined) =>
        (c, bs.flatMap(_._2).head, bs.flatMap(_._3).head)
    }
    val base = versionAsOf.map(t.readVersion).getOrElse {
      prunable match {
        case Some((c, lo, hi)) =>
          t.readRange(c, org.apache.spark.sql.functions.lit(lo),
            org.apache.spark.sql.functions.lit(hi))
        case None => t.read()
      }
    }
    base.selectExpr(requiredColumns.toIndexedSeq: _*).rdd
  }

  // every filter is re-evaluated by Spark (pruning is a superset move)
  override def unhandledFilters(filters: Array[Filter]): Array[Filter] = filters

  override def insert(data: DataFrame, overwrite: Boolean): Unit = {
    require(versionAsOf.isEmpty, "cannot INSERT into a versionAsOf read")
    if (overwrite) table.overwrite(data) else table.append(data)
  }
}

private[sources] final class LogTableSource(sqlContext: SQLContext, path: String,
                                            dataSchema: StructType,
                                            ignoreChanges: Boolean,
                                            maxVersionsPerTrigger: Option[Long],
                                            withCommitVersion: Boolean,
                                            changeFeed: Boolean = false,
                                            withRowIds: Boolean = false)
    extends Source with SupportsTriggerAvailableNow {

  override val schema: StructType =
    if (changeFeed) {
      val base = if (withRowIds)
        dataSchema.add(LogTable.RowIdCol, org.apache.spark.sql.types.LongType)
      else dataSchema
      base.add(LogTable.ChangeTypeCol, org.apache.spark.sql.types.StringType)
        .add(LogTable.CommitVersionCol, org.apache.spark.sql.types.LongType)
    } else if (withCommitVersion)
      dataSchema.add(LogTable.CommitVersionCol, org.apache.spark.sql.types.LongType)
    else dataSchema

  // withRowIds asserts the log was WRITTEN row-tracked (ids come from the
  // manifests' base allocations / the materialized column) — same trust
  // stance as the declared data schema itself
  private val table =
    new LogTable(sqlContext.sparkSession, path, dataSchema,
      rowTracking = withRowIds)

  private def versionOf(o: OffsetV2): Long = o match {
    case l: LongOffset => l.offset
    case s: SerializedOffset => LongOffset(s).offset
    case other => other.json().trim.toLong
  }

  // ── admission control (the rate-limit + availableNow protocol) ──────────
  // The engine drives a SupportsAdmissionControl source through
  // latestOffset(start, limit) instead of getOffset — same split as the
  // built-in file source: maxVersionsPerTrigger caps how many commits one
  // micro-batch admits, and Trigger.AvailableNow pins a target version at
  // start so the drain terminates at a consistent snapshot even while
  // writers keep committing.

  @volatile private var availableNowCap: Option[Long] = None

  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(table.currentVersion)

  override def getDefaultReadLimit: ReadLimit = ReadLimit.allAvailable()

  override def latestOffset(startOffset: OffsetV2, limit: ReadLimit): OffsetV2 = {
    val start = Option(startOffset).map(versionOf).getOrElse(0L)
    val cap = availableNowCap.fold(table.currentVersion)(
      c => math.min(c, table.currentVersion))
    val end = maxVersionsPerTrigger.fold(cap)(m => math.min(start + m, cap))
    if (end <= 0L) null else LongOffset(math.max(start, end))
  }

  override def reportLatestOffset(): OffsetV2 = {
    val v = table.currentVersion
    if (v == 0L) null else LongOffset(v)
  }

  override def getOffset: Option[Offset] = throw new UnsupportedOperationException(
    "latestOffset(Offset, ReadLimit) should be called instead (admission control)")

  /** The span's adds, re-tagged isStreaming (the engine asserts the flag on
    * every DSv1 batch). `start = None` is the from-scratch replay of a
    * first batch whose commit never landed. */
  override def getBatch(start: Option[Offset], end: Offset): DataFrame = {
    val from = start.map(versionOf).getOrElse(0L)
    val to = versionOf(end)
    GraftStreamingBridge.asStreaming(
      if (changeFeed) table.readChangeFeed(from, to, withRowIds)
      else table.changesBetween(from, to, ignoreChanges, withCommitVersion))
  }

  override def stop(): Unit = ()

  override def toString: String = s"LogTableSource[$path]"
}
