package graft.merge

import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._
import scala.util.Using

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, MetadataBuilder, StringType, StructField, StructType}

/** COMMIT-LOG TABLE — the repo's one table format: the Delta/Iceberg
  * metadata design (immutable data files + an append-only manifest log),
  * built from first principles. Every managed table — the medallion's
  * Silver and Gold layers included — is one of these:
  *
  *   - DATA FILES are immutable, uuid-named, written once under
  *     `root/files/` and SHARED across versions — a version never copies
  *     data, it references files.
  *   - The LOG (`root/_log/<version>.json`) is an append-only sequence of
  *     DELTA manifests: commit N records only the files it ADDS and the
  *     names it REMOVES (plus DV sidecar adds/removes), each tagged with a
  *     `dataChange` flag. Version N's content = fold of deltas 1..N. This
  *     is the Delta protocol's add/remove action form — a commit's log
  *     entry is O(what changed), not O(table files), so a long-lived
  *     append-heavy table writes O(total files) log bytes, not O(files²).
  *   - CHECKPOINTS (`_log/<v>.checkpoint.json`, cut every
  *     `checkpointInterval` commits and at vacuum) hold the FULL folded
  *     state at v; snapshot reconstruction reads the newest checkpoint ≤ v
  *     plus at most `checkpointInterval` deltas — O(1) in table age. The
  *     `_log/_last_checkpoint` hint names the newest checkpoint so a 100 TB
  *     reader never lists the whole log (Delta's `_last_checkpoint`,
  *     verbatim); it is advisory — readers fall back to listing.
  *   - A COMMIT is one atomic create of `_log/<N+1>.json` (temp write +
  *     hard-link WITHOUT replace — the filesystem's create-exclusive is the
  *     compare-and-swap). Losing the race throws FileAlreadyExists, the
  *     writer discards its orphan files and re-derives. This is the Delta
  *     protocol's putIfAbsent of version N+1, verbatim. Checkpoints are
  *     DERIVED data: racing writers produce identical content, so the
  *     same create-exclusive simply ignores the loser.
  *
  * What the log buys over a directory-swap table (rewrite into a staging
  * directory, rename it over the live one) — every composition that design
  * would have to reject just works:
  *
  *   - **bucketed × time travel**: a partition-scoped merge commits
  *     remove(touched buckets' files) + add(replacements), so any
  *     historical version is a fold to a plain file list — no per-bucket
  *     generation overlay to reconstruct.
  *   - **bucketed × OCC**: conflict detection is the manifest CAS,
  *     independent of layout.
  *   - **bucketed × file stats**: stats live per file IN the add action
  *     (Delta's stats-in-log), so [[readRange]] prunes bucketed tables too.
  *   - **DV-aware history**: a [[deleteWhere]] is a NAMED commit whose
  *     delta adds the new sidecar — `VERSION AS OF` reads the exact DV
  *     state of that version.
  *   - **no vanished snapshots**: files are immutable until [[vacuum]], so
  *     a reader (or an OCC stager) holding version V keeps reading V while
  *     later commits land.
  *   - **OPTIMIZE that streams ignore**: [[compact]] commits its rewrite
  *     with `dataChange = false`, so [[changesSince]] (the streaming-source
  *     read) transparently skips it — Delta's OPTIMIZE/stream contract.
  *
  *   - **schema in the log**: [[evolve]] is a metaData commit, so every
  *     version time-travels with the schema it had and reads null-fill
  *     old files from the log (no footer scans).
  *   - **exactly-once sinks**: [[appendOnce]] folds Delta's `txn` action —
  *     per-writer (appId, batchId) watermarks make redelivered
  *     micro-batches no-ops at O(batch) cost.
  *   - **a change feed + streaming source**: [[changesBetween]] serves
  *     `(from, to]` spans (compaction invisible, `ignoreChanges` +
  *     `_commit_version` for update replays);
  *     [[graft.sources.LogTableSource]] turns it into a registered
  *     `readStream` source with version offsets.
  *
  * At 100 TB the same protocol runs on any store with atomic
  * create-if-absent (HDFS rename, object-store conditional PUT); deltas
  * are O(#changed files) metadata, checkpoints bound replay, and the log
  * is pruned by [[vacuum]] retention (directory listings are O(retained),
  * not O(all commits ever)). LogTableSpec pins every composition above;
  * q67 verifies the full lifecycle against a relational oracle, q68 the
  * checkpoint × compaction × vacuum composition, q69 the change-feed
  * consumption protocol, q70 clustered OPTIMIZE, q71 schema-in-the-log,
  * s38 the streaming source end-to-end.
  */
object LogTable {
  /** Column name [[LogTable.changesBetween]] tags rows with under
    * `withCommitVersion` (Delta CDF's `_commit_version`). */
  val CommitVersionCol = "_commit_version"

  /** Stable row-id column exposed by [[LogTable.readWithRowIds]] when the
    * table carries the logged `rowTracking` feature (set at creation via
    * the constructor flag, then binding on EVERY handle — Delta row
    * tracking's `_metadata.row_id`). */
  val RowIdCol = "_row_id"

  /** Change-type column emitted by [[LogTable.readChangeFeed]] (Delta CDF's
    * `_change_type`): 'insert' | 'delete'. */
  val ChangeTypeCol = "_change_type"

  /** Entries of `dir`, materialized before the directory stream closes: an
    * unclosed `Files.list` holds its descriptor until finalization, and
    * [[LogTable.currentVersion]] lists the log on every commit and read. */
  private[merge] def listDir(dir: Path): Vector[Path] =
    Using.resource(Files.list(dir))(_.iterator().asScala.toVector)

  /** Every path under `dir` (pre-order), same closing discipline. */
  private[merge] def walkDir(dir: Path): Vector[Path] =
    Using.resource(Files.walk(dir))(_.iterator().asScala.toVector)

  /** PHYSICAL column name row ids are materialized under when a
    * `dataChange = false` rewrite (OPTIMIZE) rewrites tracked files — the
    * Delta `row_id` materialized-column pattern. Invisible to plain reads
    * (explicit read schemas ignore extra footer columns). */
  private[merge] val MatRowIdCol = "_gr_row_id"

  private[merge] val GenKey = "graft.generatedAs"
  private[merge] val DefaultKey = "graft.defaultValue"

  /** Protocol features THIS engine implements (the Delta reader/writer
    * feature protocol): a table whose log requires a feature outside this
    * set is REFUSED — reading would silently break the feature's contract
    * (e.g. serving deleted rows to a reader that ignores DVs), so the only
    * safe behavior is a loud upgrade demand. Features this engine writes
    * implicitly (DVs, CDF, …) are listed even though legacy logs omit
    * them; [[LogTable.addFeature]] records one explicitly. */
  val SupportedFeatures: Set[String] = Set(
    "deletionVectors", "changeDataFeed", "constraints", "generatedColumns",
    "columnDefaults", "columnMapping", "typeWidening", "rowTracking",
    "identityColumns", "liquidClustering", "inCommitTimestamps",
    "txnWatermarks")

  /** A schema field carrying a DEFAULT value (Delta `allowColumnDefaults`):
    * writers that OMIT the column get `exprSql` computed in the write pass;
    * writers that SUPPLY it — including an explicit NULL — win verbatim.
    * Unlike generated columns the default is NEVER validated against
    * supplied values, and unlike both it does NOT backfill: rows written
    * before the default existed read back NULL (Delta's documented
    * semantics — defaults apply to writes after the ALTER, not to history). */
  def defaulted(name: String, dataType: org.apache.spark.sql.types.DataType,
                exprSql: String): StructField =
    StructField(name, dataType, nullable = true,
      new MetadataBuilder().putString(DefaultKey, exprSql).build())

  /** A schema field declared `GENERATED ALWAYS AS (exprSql)` (Delta
    * generated columns — CREATE-time only, like Delta). Writers that OMIT
    * the column get it computed in the write pass; writers that SUPPLY it
    * have every row validated against the expression (mismatch fails the
    * write before any commit). Combine with `statsBy` on the generated
    * column for derived-value file skipping — the classic
    * date-from-timestamp partition-pruning pattern. */
  def generated(name: String, dataType: org.apache.spark.sql.types.DataType,
                exprSql: String): StructField =
    StructField(name, dataType, nullable = true,
      new MetadataBuilder().putString(GenKey, exprSql).build())

  /** Resolve a log table's LIVE schema from its log alone (newest
    * checkpoint's schema, else the fold of schema actions — the first
    * commit always embeds one). None = never written. This is what lets
    * SQL/batch readers open a log table without declaring a schema. */
  def readSchema(path: String): Option[StructType] = {
    val logDir = Paths.get(path, "_log")
    if (!Files.exists(logDir)) return None
    val mapper = new ObjectMapper()
    val names = listDir(logDir).map(_.getFileName.toString)
    val V = """(\d{20})\.json""".r
    val Cp = """(\d{20})\.checkpoint\.json""".r
    val versions = names.collect { case V(d) => d.toLong }.sorted
    if (versions.isEmpty) return None
    val cp = names.collect { case Cp(d) => d.toLong }.sorted.lastOption
    def schemaIn(p: Path): Option[StructType] = {
      val n = mapper.readTree(Files.readAllBytes(p))
      Option(n.get("schema")).map(s =>
        org.apache.spark.sql.types.DataType.fromJson(s.asText())
          .asInstanceOf[StructType])
    }
    val base = cp.flatMap(v => schemaIn(logDir.resolve(f"$v%020d.checkpoint.json")))
    versions.filter(v => cp.forall(_ < v))
      .flatMap(v => schemaIn(logDir.resolve(f"$v%020d.json")))
      .lastOption.orElse(base)
  }
}

final class LogTable(spark: SparkSession, root: String, schema: StructType,
                     bucketBy: Option[(Seq[String], Int)] = None,
                     statsBy: Seq[String] = Nil,
                     checkpointInterval: Int = 10,
                     clock: () => Long = () => System.currentTimeMillis(),
                     rowTracking: Boolean = false) {
  require(checkpointInterval >= 1, "checkpointInterval must be >= 1")
  private val rootPath: Path = Paths.get(root)
  private val filesDir: Path = rootPath.resolve("files")
  private val logDir: Path = rootPath.resolve("_log")
  Files.createDirectories(filesDir)
  Files.createDirectories(logDir)

  private val mapper = new ObjectMapper()

  // ROW TRACKING is LOGGED TABLE METADATA (Delta records it as a table
  // feature), not just a per-handle constructor flag: a second handle
  // opened WITHOUT rowTracking=true on a tracked table must still count
  // rows and allocate base ids, or readWithRowIds would serve NULL
  // _row_id for its files. The flag is monotone (never disabled), so a
  // single log probe memoizes; commits write it into every manifest and
  // checkpoint, and the snapshot fold ORs it up.
  @volatile private var trackedKnown: Boolean = rowTracking
  private def trackingEnabled: Boolean = {
    if (!trackedKnown) {
      val v = currentVersion
      if (v > 0 && snapshotAt(v).rowTracking) trackedKnown = true
    }
    trackedKnown
  }

  private val BucketCol = "__bucket"
  private def bucketExpr: Column = {
    val (keys, n) = bucketBy.get
    pmod(xxhash64(keys.map(col).toIndexedSeq: _*), lit(n)).cast("int")
  }

  // ── COLUMN MAPPING (Delta's columnMapping.mode=name, in the log) ────────
  // Each schema field may carry its PHYSICAL column name in field metadata
  // (`graft.physical`) — the name actually stored in parquet footers. The
  // logical name is the user-facing one. Identity (no metadata) is the
  // default, so pre-mapping tables read and write unchanged. Because the
  // mapping rides INSIDE the schema JSON the log already versions,
  // checkpoints, and folds, rename/drop are plain metaData commits: every
  // version time-travels with the mapping it had, and no data file is ever
  // rewritten. [[renameColumn]] / [[dropColumn]] activate the mapping
  // (pinning every field's physical name) on first use — Delta's upgrade
  // flow — after which [[evolve]]-added columns get FRESH physical names so
  // a re-added logical name can never resurrect a dropped column's bytes.

  private val PhysKey = "graft.physical"
  private def physicalOf(f: StructField): String =
    if (f.metadata.contains(PhysKey)) f.metadata.getString(PhysKey) else f.name
  private def physOf(s: StructType, c: String): String = physicalOf(s(c))
  private def mappingActive(s: StructType): Boolean =
    s.fields.exists(_.metadata.contains(PhysKey))
  /** The schema as stored in parquet: logical field names swapped for
    * physical ones (types/nullability kept; metadata stripped — footers
    * don't need it). */
  private def physicalSchema(s: StructType): StructType =
    StructType(s.fields.map(f => StructField(physicalOf(f), f.dataType, f.nullable)))
  private def withPhysical(f: StructField, p: String): StructField =
    f.copy(metadata = new MetadataBuilder().withMetadata(f.metadata)
      .putString(PhysKey, p).build())
  /** Pin every field's physical name explicitly (the mapping-activation
    * upgrade: current physical = current name for identity fields). */
  private def activateMapping(s: StructType): StructType =
    StructType(s.fields.map(f => withPhysical(f, physicalOf(f))))
  /** Project a logical-named frame to physical names for a file write. */
  private def toPhysical(df: DataFrame, as: StructType): DataFrame =
    if (!mappingActive(as)) df
    else df.select(as.fields.map(f => col(f.name).as(physicalOf(f))).toIndexedSeq: _*)

  /** One data file: manifest-relative name, bucket (-1 = unbucketed), and
    * per-column (min, max) stats as strings (None = no stats / all null).
    * Under row tracking, `rows` (the file's row count, -1 = unknown) marks a
    * freshly-written file awaiting base-id allocation at commit time, and
    * `baseRowId` (-1 = none) is the allocated base: row id = base +
    * row_index in the file (Delta's add-action `baseRowId`). Files rewritten
    * by OPTIMIZE carry NEITHER — their ids are MATERIALIZED in the data.
    * `clustered` marks files written by a clusterBy rewrite — the
    * incremental-clustering bookkeeping ([[compactIncremental]] skips
    * them). */
  private[merge] case class FileEntry(name: String, bucket: Int,
                                      stats: Map[String, (String, String)],
                                      rows: Long = -1L, baseRowId: Long = -1L,
                                      clustered: Boolean = false)
  /** One commit's log entry — the Delta add/remove action set, plus an
    * optional schema action (Delta's metaData: present only on the commits
    * that CHANGE the schema) and the commit's IN-COMMIT TIMESTAMP (Delta's
    * `inCommitTimestamp`: written INSIDE the committed manifest, so it is
    * immune to file-mtime drift across copies/clones and is forced strictly
    * monotone — `max(prev + 1, clock())` — which makes `TIMESTAMP AS OF`
    * well-defined even under bursty commits or a stepped-back clock). */
  private[merge] case class Delta(version: Long, dataChange: Boolean,
                                  add: Seq[FileEntry], remove: Seq[String],
                                  dvAdd: Seq[String], dvRemove: Seq[String],
                                  schemaJson: Option[String],
                                  txn: Option[(String, Long)],
                                  constraintAdd: Option[(String, String)],
                                  constraintDrop: Option[String],
                                  tsMs: Long,
                                  rowIdHwm: Long = 0L,
                                  rowTracking: Boolean = false,
                                  featureAdd: Option[String] = None)
  /** Folded state as of a version — files, DVs, the schema AS OF that
    * version (schema lives in the log, so time travel serves each version
    * with the schema it had — the composition a table-level schema field
    * cannot express), and the per-writer transaction watermarks (Delta's
    * `txn` action: appId → newest committed batchId). */
  private[merge] case class Snapshot(version: Long, files: Seq[FileEntry],
                                     dv: Seq[String], schema: StructType,
                                     txns: Map[String, Long],
                                     constraints: Map[String, String],
                                     tsMs: Long,
                                     rowIdHwm: Long = 0L,
                                     rowTracking: Boolean = false,
                                     features: Set[String] = Set.empty)

  // ── log primitives ──────────────────────────────────────────────────────

  private def manifestPath(v: Long): Path = logDir.resolve(f"$v%020d.json")
  private def checkpointPath(v: Long): Path =
    logDir.resolve(f"$v%020d.checkpoint.json")
  private val lastCheckpointHint: Path = logDir.resolve("_last_checkpoint")

  private val VName = """(\d{20})\.json""".r
  private val CpName = """(\d{20})\.checkpoint\.json""".r

  /** Version numbers present in the log, ascending (vacuum may have pruned
    * a prefix). Empty before the first commit. */
  def history(): Seq[Long] =
    LogTable.listDir(logDir).map(_.getFileName.toString)
      .collect { case VName(d) => d.toLong }.sorted

  /** Versions at which a checkpoint exists, ascending. */
  def checkpointVersions(): Seq[Long] =
    LogTable.listDir(logDir).map(_.getFileName.toString)
      .collect { case CpName(d) => d.toLong }.sorted

  /** Newest committed version; 0 = never written. */
  def currentVersion: Long = history().lastOption.getOrElse(0L)

  private def fileEntriesFrom(arr: com.fasterxml.jackson.databind.JsonNode)
      : Seq[FileEntry] =
    arr.elements().asScala.map { f =>
      val stats = Option(f.get("stats")).map { s =>
        s.properties().asScala.map { e =>
          e.getKey -> (e.getValue.get(0).asText(), e.getValue.get(1).asText())
        }.toMap
      }.getOrElse(Map.empty[String, (String, String)])
      FileEntry(f.get("name").asText(), f.get("bucket").asInt(), stats,
        Option(f.get("rows")).map(_.asLong()).getOrElse(-1L),
        Option(f.get("base")).map(_.asLong()).getOrElse(-1L),
        Option(f.get("cl")).exists(_.asBoolean()))
    }.toSeq

  private def texts(arr: com.fasterxml.jackson.databind.JsonNode): Seq[String] =
    arr.elements().asScala.map(_.asText()).toSeq

  private def readDelta(v: Long): Delta = {
    val p = manifestPath(v)
    // version manifests are immutable once committed — the existence check
    // (one stat, not a read+parse) keeps vacuum error semantics exact while
    // the cache serves the content
    require(Files.exists(p),
      s"version $v not available; readable versions: ${history().mkString(", ")}")
    val cached = deltaCache.get(v)
    if (cached != null) return cached
    val n = mapper.readTree(Files.readAllBytes(p))
    Delta(n.get("version").asLong(), n.get("dataChange").asBoolean(),
      fileEntriesFrom(n.get("add")), texts(n.get("remove")),
      texts(n.get("dvAdd")), texts(n.get("dvRemove")),
      Option(n.get("schema")).map(_.asText()),
      Option(n.get("txn")).map(t =>
        (t.get("app").asText(), t.get("batch").asLong())),
      Option(n.get("constraintAdd")).map(c =>
        (c.get("name").asText(), c.get("expr").asText())),
      Option(n.get("constraintDrop")).map(_.asText()),
      Option(n.get("ts")).map(_.asLong()).getOrElse(0L),
      Option(n.get("rowIdHwm")).map(_.asLong()).getOrElse(0L),
      Option(n.get("rowTracking")).exists(_.asBoolean()),
      Option(n.get("featureAdd")).map(_.asText())) match {
      case d =>
        // same discipline as snapCache: a full-rewrite Delta holds the whole
        // file set, so a long-lived handle over thousands of commits would
        // otherwise accumulate unbounded driver heap (r13 ADVICE); LRU keeps
        // the hot tail resident instead of periodically dropping it (r14)
        deltaCache.put(v, d); d
    }
  }

  private def writeFileEntries(fa: ArrayNode, files: Seq[FileEntry]): Unit =
    files.foreach { f =>
      val fn = fa.addObject()
      fn.put("name", f.name); fn.put("bucket", f.bucket)
      if (f.rows >= 0) fn.put("rows", f.rows)
      if (f.baseRowId >= 0) fn.put("base", f.baseRowId)
      if (f.clustered) fn.put("cl", true)
      if (f.stats.nonEmpty) {
        val sn = fn.putObject("stats")
        f.stats.foreach { case (c, (lo, hi)) =>
          val a = sn.putArray(c); a.add(lo); a.add(hi)
        }
      }
    }

  /** Atomic create-exclusive of `path` with `bytes` content: temp write +
    * hard link (POSIX rename silently REPLACES an existing target — link(2)
    * fails with EEXIST, the true create-exclusive, and the linked name
    * appears with its full content). False = the name already exists. */
  private def createExclusive(path: Path, bytes: Array[Byte]): Boolean = {
    val tmp = Files.createTempFile(logDir, ".m-", ".tmp")
    Files.write(tmp, bytes)
    try { Files.createLink(path, tmp); Files.delete(tmp); true }
    catch { case _: FileAlreadyExistsException => Files.delete(tmp); false }
  }

  /** The CAS: atomically create `_log/<expected+1>.json` holding the DELTA
    * from `prev` to the new (files, dv) state. False = another commit
    * landed first (caller discards orphan files and re-derives). On
    * success, cuts a checkpoint when the version hits the interval. */
  private val PartIdx = """part-(\d+)""".r

  private def tryCommit(prev: Option[Snapshot], newFiles0: Seq[FileEntry],
                        newDv: Seq[String], dataChange: Boolean,
                        newSchema: Option[StructType] = None,
                        txn: Option[(String, Long)] = None,
                        constraintAdd: Option[(String, String)] = None,
                        constraintDrop: Option[String] = None,
                        rowIdHwmFloor: Long = 0L,
                        featureAdd: Option[String] = None): Boolean = {
    val expected = prev.map(_.version).getOrElse(0L)
    val v = expected + 1
    val prevFiles = prev.map(_.files).getOrElse(Seq.empty)
    val prevDv = prev.map(_.dv).getOrElse(Seq.empty)
    val prevNames = prevFiles.map(_.name).toSet
    // ROW TRACKING: allocate contiguous base row ids to this commit's fresh
    // files (those staged with a known row count) from the previous high-water
    // mark, in (bucket, staged-part-index) order — the within-file sort is the
    // write discipline's, so when the caller's batch is range-partitioned and
    // sorted on a unique key the id assignment is fully deterministic. Files
    // without a count (OPTIMIZE rewrites) carry MATERIALIZED ids instead and
    // are skipped. Allocation happens INSIDE the commit attempt, against the
    // snapshot being CAS'd on, so an OCC retry re-allocates correctly.
    val prevHwm = math.max(prev.map(_.rowIdHwm).getOrElse(0L), rowIdHwmFloor)
    // effective tracking: this handle's flag OR the logged table feature
    val tracked = rowTracking || prev.exists(_.rowTracking)
    if (tracked) trackedKnown = true
    val newFiles: Seq[FileEntry] =
      if (!tracked) newFiles0
      else {
        var next = prevHwm
        val assigned = newFiles0
          .filter(e => !prevNames.contains(e.name) && e.rows >= 0 && e.baseRowId < 0)
          .sortBy(e => (e.bucket,
            PartIdx.findFirstMatchIn(e.name).map(_.group(1).toInt).getOrElse(0),
            e.name))
          .map { e => val b = next + 1; next += e.rows; e.name -> e.copy(baseRowId = b) }
          .toMap
        newFiles0.map(e => assigned.getOrElse(e.name, e))
      }
    val newHwm = prevHwm +
      newFiles.filter(e => !prevNames.contains(e.name) && e.rows >= 0).map(_.rows).sum
    val newNames = newFiles.map(_.name).toSet
    // in-commit timestamp: strictly monotone even when the wall clock is
    // coarse or steps backwards (Delta's inCommitTimestamp clamp)
    val ts = math.max(prev.map(_.tsMs).getOrElse(0L) + 1, clock())
    val node: ObjectNode = mapper.createObjectNode()
    node.put("version", v)
    node.put("dataChange", dataChange)
    node.put("ts", ts)
    if (tracked) { node.put("rowIdHwm", newHwm); node.put("rowTracking", true) }
    featureAdd.foreach(node.put("featureAdd", _))
    // the FIRST commit always embeds the schema (Delta writes metaData in
    // commit 0) — the log is self-describing, so SQL/batch readers can
    // resolve the schema without the constructor contract
    newSchema.orElse(if (prev.isEmpty) Some(schema) else None)
      .foreach(s => node.put("schema", s.json))
    txn.foreach { case (app, batch) =>
      val t = node.putObject("txn"); t.put("app", app); t.put("batch", batch)
    }
    constraintAdd.foreach { case (cn, ce) =>
      val c = node.putObject("constraintAdd"); c.put("name", cn); c.put("expr", ce)
    }
    constraintDrop.foreach(node.put("constraintDrop", _))
    writeFileEntries(node.putArray("add"),
      newFiles.filterNot(e => prevNames.contains(e.name)))
    val rm: ArrayNode = node.putArray("remove")
    prevFiles.map(_.name).filterNot(newNames.contains).foreach(rm.add)
    val da: ArrayNode = node.putArray("dvAdd")
    newDv.filterNot(prevDv.contains).foreach(da.add)
    val dr: ArrayNode = node.putArray("dvRemove")
    prevDv.filterNot(newDv.contains).foreach(dr.add)
    val won = createExclusive(manifestPath(v), mapper.writeValueAsBytes(node))
    if (won) {
      // the committed state IS the fold at v (this same construction backs
      // the checkpoints that serve reads) — seed the snapshot cache so the
      // next resolution skips the re-fold (r13)
      val committed = Snapshot(v, newFiles, newDv,
        newSchema.orElse(prev.map(_.schema)).getOrElse(schema),
        prev.map(_.txns).getOrElse(Map.empty) ++ txn,
        (prev.map(_.constraints).getOrElse(Map.empty) ++ constraintAdd)
          -- constraintDrop.toSeq,
        ts, newHwm, tracked,
        prev.map(_.features).getOrElse(Set.empty) ++ featureAdd)
      snapCache.put(v, committed)
      if (v % checkpointInterval == 0) writeCheckpoint(committed)
    }
    won
  }

  /** Write the full folded state at `s.version` as a checkpoint (+ the
    * `_last_checkpoint` hint). Derived + deterministic-by-content: a racing
    * duplicate write is dropped by create-exclusive; the hint is advisory
    * (replace-ok) and readers fall back to listing. */
  private def writeCheckpoint(s: Snapshot): Unit = {
    val node: ObjectNode = mapper.createObjectNode()
    node.put("version", s.version)
    node.put("ts", s.tsMs)
    if (s.rowIdHwm > 0) node.put("rowIdHwm", s.rowIdHwm)
    if (s.rowTracking) node.put("rowTracking", true)
    node.put("schema", s.schema.json)
    val tn = node.putObject("txns")
    s.txns.foreach { case (app, batch) => tn.put(app, batch) }
    val cn = node.putObject("constraints")
    s.constraints.foreach { case (k2, v2) => cn.put(k2, v2) }
    writeFileEntries(node.putArray("files"), s.files)
    val da: ArrayNode = node.putArray("dv")
    s.dv.foreach(da.add)
    if (s.features.nonEmpty) {
      val fa: ArrayNode = node.putArray("features")
      s.features.toSeq.sorted.foreach(fa.add)
    }
    createExclusive(checkpointPath(s.version), mapper.writeValueAsBytes(node))
    val tmp = Files.createTempFile(logDir, ".cp-", ".tmp")
    Files.write(tmp, s.version.toString.getBytes)
    Files.move(tmp, lastCheckpointHint, StandardCopyOption.REPLACE_EXISTING,
      StandardCopyOption.ATOMIC_MOVE)
  }

  private def readCheckpoint(v: Long): Snapshot = {
    val n = mapper.readTree(Files.readAllBytes(checkpointPath(v)))
    Snapshot(n.get("version").asLong(), fileEntriesFrom(n.get("files")),
      texts(n.get("dv")),
      Option(n.get("schema")).map(s =>
        org.apache.spark.sql.types.DataType.fromJson(s.asText())
          .asInstanceOf[StructType]).getOrElse(schema),
      Option(n.get("txns")).map(t => t.properties().asScala.map(e =>
        e.getKey -> e.getValue.asLong()).toMap)
        .getOrElse(Map.empty[String, Long]),
      Option(n.get("constraints")).map(t => t.properties().asScala.map(e =>
        e.getKey -> e.getValue.asText()).toMap)
        .getOrElse(Map.empty[String, String]),
      Option(n.get("ts")).map(_.asLong()).getOrElse(0L),
      Option(n.get("rowIdHwm")).map(_.asLong()).getOrElse(0L),
      Option(n.get("rowTracking")).exists(_.asBoolean()),
      Option(n.get("features")).map(texts(_).toSet).getOrElse(Set.empty))
  }

  /** Newest checkpoint version ≤ `v`, via the hint when it qualifies (the
    * O(1) path), else by listing. */
  private def checkpointAtOrBefore(v: Long): Option[Long] = {
    val hinted =
      if (!Files.exists(lastCheckpointHint)) None
      else scala.util.Try(new String(Files.readAllBytes(lastCheckpointHint))
        .trim.toLong).toOption
        .filter(h => h <= v && Files.exists(checkpointPath(h)))
    hinted.orElse(checkpointVersions().filter(_ <= v).lastOption)
  }

  private def applyDelta(s: Snapshot, d: Delta): Snapshot = {
    val rm = d.remove.toSet; val dvRm = d.dvRemove.toSet
    Snapshot(d.version,
      s.files.filterNot(e => rm.contains(e.name)) ++ d.add,
      s.dv.filterNot(dvRm.contains) ++ d.dvAdd,
      d.schemaJson.map(j => org.apache.spark.sql.types.DataType.fromJson(j)
        .asInstanceOf[StructType]).getOrElse(s.schema),
      s.txns ++ d.txn,
      (s.constraints ++ d.constraintAdd) -- d.constraintDrop.toSeq,
      d.tsMs,
      math.max(s.rowIdHwm, d.rowIdHwm),
      s.rowTracking || d.rowTracking,
      s.features ++ d.featureAdd)
  }

  /** A version's manifest and the snapshot folded AT a version are
    * IMMUTABLE once committed (createExclusive + atomic rename; nothing
    * ever rewrites a version file) — so a handle may memoize them. The
    * availability require and the feature gate still run on every
    * resolution (both depend on the LIVE log: vacuum can retire versions,
    * a concurrent writer can add featureAdd tail commits), so cached
    * resolutions keep identical semantics while skipping the re-fold and
    * the tail-manifest re-parse — O(1) manifest parses per resolution
    * instead of O(commits), which is what matters when the log lives on
    * object storage (r13). Bounded LRU (r14 ADVICE — the earlier
    * clear-past-N dropped the WHOLE cache, so a handle oscillating around
    * the bound, e.g. versionAtTimestamp walking a long log, thrashed every
    * hot entry): access-order eviction of the oldest entry keeps recent
    * deltas/snapshots resident. Snapshots bound at 64 (each holds a full
    * file list); deltas at 256 (most are small, but a full-rewrite delta
    * holds the whole file set — unbounded growth over a long-lived handle
    * is a leak, r13 ADVICE). */
  private final class LruCache[K, V](bound: Int) {
    private val m = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[K, V](16, 0.75f, true) {
        override def removeEldestEntry(e: java.util.Map.Entry[K, V]): Boolean =
          size() > bound
      })
    def get(k: K): V = m.get(k)
    def put(k: K, v: V): Unit = m.put(k, v)
    def size: Int = m.size()
  }
  private val snapCache = new LruCache[Long, Snapshot](64)
  private val deltaCache = new LruCache[Long, Delta](256)
  private[merge] def cachedDeltas: Int = deltaCache.size

  /** Fold the log to the state as of version `v`: newest checkpoint ≤ v,
    * then at most `checkpointInterval` delta replays. Throws (require) when
    * `v` was vacuumed away. */
  private def snapshotAt(v: Long): Snapshot = {
    val avail = history()
    require(avail.contains(v) || checkpointVersions().contains(v),
      s"version $v not available; readable versions: ${avail.mkString(", ")}")
    val s = Option(snapCache.get(v)).getOrElse {
      val folded = checkpointAtOrBefore(v) match {
        case Some(cp) if cp == v => readCheckpoint(cp)
        case Some(cp) =>
          val replay = avail.filter(x => x > cp && x <= v)
          require(replay == (cp + 1 to v),
            s"log gap between checkpoint $cp and version $v (vacuumed?)")
          replay.foldLeft(readCheckpoint(cp))((s, x) => applyDelta(s, readDelta(x)))
        case None =>
          require(avail.headOption.contains(1L),
            s"version $v not reconstructible: no checkpoint and the log prefix was vacuumed")
          (1L to v).foldLeft(
              Snapshot(0L, Seq.empty, Seq.empty, schema, Map.empty, Map.empty, 0L))(
            (s, x) => applyDelta(s, readDelta(x)))
      }
      snapCache.put(v, folded)
      folded
    }
    checkFeatures(s, avail)
  }

  /** The protocol gate (Delta reader/writer features): EVERY snapshot
    * resolution — reads, writes (they fold a snapshot to CAS on), time
    * travel, maintenance — passes through here, so a log that requires a
    * feature this engine lacks is refused loudly instead of being served
    * with the feature's contract silently broken. The gate is TABLE-WIDE,
    * not per version (Delta's protocol action semantics: an old version of
    * a feature-gated table is still a version OF that table) — so a
    * resolution of an OLDER version also folds the live tail's featureAdd
    * actions (manifest reads only, no data) before serving. */
  private def checkFeatures(s: Snapshot, avail: Seq[Long]): Snapshot = {
    def refuse(fs: Set[String]): Unit = {
      val unknown = fs -- LogTable.SupportedFeatures
      require(unknown.isEmpty,
        s"table requires protocol feature(s) this engine does not support: " +
          s"${unknown.toSeq.sorted.mkString(", ")} — upgrade the engine " +
          s"(supported: ${LogTable.SupportedFeatures.toSeq.sorted.mkString(", ")})")
    }
    refuse(s.features)
    val tail = avail.filter(_ > s.version)
    if (tail.nonEmpty)
      refuse(tail.flatMap(v => readDelta(v).featureAdd).toSet)
    s
  }

  /** Record a protocol feature requirement in the log (Delta's ALTER TABLE
    * SET TBLPROPERTIES feature-enable form): a metadata commit; from then
    * on every reader/writer must support `name` or be refused. Only
    * features THIS engine supports can be added (adding an unknown one
    * would brick this very handle). */
  def addFeature(name: String): Unit = {
    require(LogTable.SupportedFeatures.contains(name),
      s"unknown protocol feature '$name' (supported: " +
        s"${LogTable.SupportedFeatures.toSeq.sorted.mkString(", ")})")
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val v = currentVersion
      val snap = if (v == 0) None else Some(snapshotAt(v))
      if (snap.exists(_.features.contains(name))) return // idempotent
      if (tryCommit(snap, snap.map(_.files).getOrElse(Seq.empty),
          snap.map(_.dv).getOrElse(Seq.empty), dataChange = false,
          featureAdd = Some(name))) return
    }
    throw new IllegalStateException("feature commit lost the race 5 times")
  }

  /** Protocol features the live table requires. */
  def features: Set[String] = {
    val v = currentVersion
    if (v == 0) Set.empty else snapshotAt(v).features
  }

  /** Schema AS OF the live version (the log's metaData fold — equals the
    * construction schema until [[evolve]] commits a wider one). */
  def currentSchema: StructType = {
    val v = currentVersion
    if (v == 0) schema else snapshotAt(v).schema
  }

  // ── data-file writes ────────────────────────────────────────────────────

  /** Materialize `df` into immutable uuid-named files under `files/`;
    * returns the new entries (bucket tag from the hive partition dir,
    * per-file stats from one grouped aggregate over the staged write).
    * `coalesceTo` (unbucketed only) bounds the file count — the
    * compaction knob. `clusterBy` (unbucketed only) range-partitions and
    * sorts the rewrite on those keys, so each output file covers a tight
    * key range and the manifest stats become selective — the clustering
    * knob. */
  private def writeFiles(df: DataFrame, as: StructType,
                         coalesceTo: Option[Int] = None,
                         clusterBy: Seq[String] = Nil): Seq[FileEntry] = {
    val tmp = Files.createTempDirectory(rootPath, ".write-")
    try writeFilesInto(df, as, tmp, coalesceTo, clusterBy)
    catch { case e: Throwable => deleteRec(tmp); throw e }
  }

  private def writeFilesInto(df: DataFrame, as: StructType, tmp: Path,
                             coalesceTo: Option[Int],
                             clusterBy: Seq[String]): Seq[FileEntry] = {
    // files store PHYSICAL column names (stable across renames); `as` is the
    // logical schema governing this write (the commit snapshot's). A
    // materialized row-id column (OPTIMIZE rewrite under row tracking) rides
    // along outside the logical schema.
    val hasMat = df.columns.contains(LogTable.MatRowIdCol)
    val pdf =
      if (!hasMat) toPhysical(df, as)
      else if (!mappingActive(as)) df
      else df.select((as.fields.map(f => col(f.name).as(physicalOf(f)))
        :+ col(LogTable.MatRowIdCol)).toIndexedSeq: _*)
    val statsByPhys = statsBy.filter(c => as.fieldNames.contains(c))
      .map(c => physOf(as, c))
    bucketBy match {
      case None =>
        val cs = clusterBy.map(c => col(physOf(as, c)))
        // MULTI-DIMENSIONAL clustering (Delta liquid clustering's
        // multi-key form): two keys cluster on the MORTON INTERLEAVE of
        // their equi-depth bucket ids (q43's z-order — one GK-quantile
        // pass per key for the boundaries, then a codegen'd comparison
        // chain + the native interleave_bits expression), so every output
        // file covers a tight RECTANGLE of the 2-D key space and manifest
        // stats prune on EITHER column. A lexicographic 2-key range sort
        // would prune only on the leading key. The Morton path needs
        // quantile-sketchable keys: a non-numeric pair falls back to the
        // lexicographic branch (ADVICE r11 — it used to throw in
        // approxQuantile); >2 keys stay lexicographic (z-bits per
        // dimension thin out — Delta caps liquid keys similarly).
        val mortonKeys =
          if (clusterBy.size == 2 && clusterBy.forall(c => pdf.schema(physOf(as, c))
              .dataType.isInstanceOf[org.apache.spark.sql.types.NumericType]))
            Some(clusterBy.map(c => physOf(as, c)))
          else None
        // the two GK-quantile passes + the write would otherwise evaluate
        // the full input plan three times (ADVICE r11) — persist across them
        mortonKeys.foreach(_ => pdf.persist())
        val zc: Option[Column] = mortonKeys.map { pcs =>
          graft.ops.ZOrder.register(pdf.sparkSession)
          val ids = pcs.map(pc => graft.ops.ZOrder.bucketExpr(col(pc),
            graft.ops.ZOrder.quantileBounds(pdf, pc, buckets = 64)))
          graft.ops.ZOrder.zkey(ids.head, ids(1))
        }
        val out = (coalesceTo, zc) match {
          // range exchange with sampled bounds — no global single-reducer
          // sort — then a per-file sort for row-group stats
          case (Some(n), Some(z)) =>
            pdf.repartitionByRange(n, z).sortWithinPartitions(z +: cs: _*)
          case (None, Some(z)) =>
            pdf.repartitionByRange(z).sortWithinPartitions(z +: cs: _*)
          case (Some(n), _) if cs.nonEmpty =>
            pdf.repartitionByRange(n, cs: _*).sortWithinPartitions(cs: _*)
          case (None, _) if cs.nonEmpty =>
            pdf.repartitionByRange(cs: _*).sortWithinPartitions(cs: _*)
          case (Some(n), _) => pdf.repartition(n)
          case _ => pdf
        }
        try out.write.mode("overwrite").parquet(tmp.toString)
        finally mortonKeys.foreach(_ => pdf.unpersist())
      case Some((keys, n)) =>
        // one shuffle keyed by bucket → one file per touched bucket (without
        // it every task writes a sliver into every bucket); rows sorted on
        // the keys so parquet records tight per-row-group min/max stats and
        // keyed scans (merge probes, point lookups) skip whole row groups
        // (PlanAuditSpec pins it)
        val pKeys = keys.map(k => physOf(as, k))
        val pBucket = pmod(xxhash64(pKeys.map(col).toIndexedSeq: _*), lit(n)).cast("int")
        pdf.withColumn(BucketCol, pBucket)
          .repartition(col(BucketCol))
          .sortWithinPartitions((BucketCol +: pKeys).map(col).toIndexedSeq: _*)
          .write.mode("overwrite").partitionBy(BucketCol).parquet(tmp.toString)
    }
    val staged: Seq[(Path, Int)] = LogTable.walkDir(tmp)
      .filter(_.toString.endsWith(".parquet")).map { p =>
        val b = p.getParent.getFileName.toString match {
          case s if s.startsWith(s"$BucketCol=") =>
            s.substring(BucketCol.length + 1).toInt
          case _ => -1
        }
        (p, b)
      }
    // staged-file key for the per-file aggregates below: the BASENAME ALONE
    // is ambiguous under bucketing (one task writing two buckets emits the
    // same part-NNNNN name in both bucket dirs), so key by dir/name
    def stagedKey(fullPath: String): String = {
      val parts = fullPath.split('/')
      parts.takeRight(2).mkString("/")
    }
    // per-file stats + row counts BEFORE the move, keyed by PHYSICAL name —
    // stable across renames, so stats on files written before a rename keep
    // pruning after it. Fast path: parquet FOOTERS, driver-side, no Spark
    // job (r13 — the read-back aggregate was one full job per commit, the
    // dominant cost of metadata-bound lifecycle paths); the Spark-aggregate
    // path below remains the fallback for footer-unsupported column types
    // (INT96 LTZ timestamps, decimals) and any footer read error.
    val needStats = statsByPhys.nonEmpty && staged.nonEmpty
    val needRows = trackingEnabled && !hasMat && staged.nonEmpty
    val sessionZone = spark.sessionState.conf.sessionLocalTimeZone
    val ltzAsInt64 = spark.sessionState.conf.parquetOutputTimestampType !=
      org.apache.spark.sql.internal.SQLConf.ParquetOutputTimestampType.INT96
    // footers always provide exact row counts regardless of column types —
    // when the STATS types are unsupported (INT96 LTZ, decimals) the rows
    // portion still reads footer-side with Nil stats columns, so a tracked
    // table with an exotic stats column pays at most ONE aggregate job (for
    // statsOf), never two (r13 ADVICE)
    val statsViaFooter = needStats &&
      FooterStats.supports(pdf.schema, statsByPhys, ltzAsInt64)
    val footer: Option[Map[String, (Long, Map[String, (String, String)])]] =
      if (!statsViaFooter && !needRows) None
      else scala.util.Try(FooterStats.read(staged.map(_._1),
        if (statsViaFooter) statsByPhys else Nil, pdf.schema, sessionZone,
        p => stagedKey(p.toString))) match {
        case scala.util.Success(f) => Some(f)
        case scala.util.Failure(e) =>
          // loud fallback: a silent one would hide a footer-path regression
          // behind the (correct but slower) aggregate path forever
          org.slf4j.LoggerFactory.getLogger(classOf[LogTable]).warn(
            s"footer-stats read failed, falling back to aggregate: $e")
          None
      }
    val statsOf: Map[String, Map[String, (String, String)]] =
      if (!needStats) Map.empty
      else footer.filter(_ => statsViaFooter) match {
        case Some(f) => f.view.mapValues(_._2).toMap
        case None =>
          val aggs = statsByPhys.flatMap(c => Seq(
            min(col(c)).cast("string").as(s"__lo_$c"),
            max(col(c)).cast("string").as(s"__hi_$c")))
          spark.read.schema(pdf.schema).parquet(staged.map(_._1.toString): _*)
            .groupBy(input_file_name().as("__f"))
            .agg(aggs.head, aggs.tail: _*)
            .collect().map { r =>
              stagedKey(r.getAs[String]("__f")) -> statsByPhys.flatMap { c =>
                val lo = r.getAs[String](s"__lo_$c"); val hi = r.getAs[String](s"__hi_$c")
                if (lo == null || hi == null) None else Some(c -> (lo, hi))
              }.toMap
            }.toMap
      }
    // per-file row counts: only needed to allocate base row ids, so only for
    // tracked tables writing FRESH rows (a rewrite carrying materialized ids
    // allocates nothing)
    val rowsOf: Map[String, Long] =
      if (!needRows) Map.empty
      else footer match {
        case Some(f) => f.view.mapValues(_._1).toMap
        case None => spark.read.schema(pdf.schema)
          .parquet(staged.map(_._1.toString): _*)
          .groupBy(input_file_name().as("__f")).agg(count(lit(1)).as("__n"))
          .collect().map { r =>
            stagedKey(r.getAs[String]("__f")) -> r.getAs[Long]("__n")
          }.toMap
      }
    val entries = staged.map { case (p, b) =>
      val key = stagedKey(p.toString)
      val name = s"${java.util.UUID.randomUUID().toString.take(12)}-${p.getFileName}"
      Files.move(p, filesDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
      FileEntry(name, b, statsOf.getOrElse(key, Map.empty),
        rows = rowsOf.getOrElse(key, -1L))
    }
    deleteRec(tmp)
    entries
  }

  private def deleteRec(p: Path): Unit = if (Files.exists(p))
    LogTable.walkDir(p).reverse.foreach(Files.deleteIfExists(_))

  private def dropFiles(entries: Seq[FileEntry]): Unit =
    entries.foreach(e => Files.deleteIfExists(filesDir.resolve(e.name)))

  // ── reads ───────────────────────────────────────────────────────────────

  private def emptyDf: DataFrame = emptyDf(schema)
  private def emptyDf(s: StructType): DataFrame = spark.createDataFrame(
    spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], s)

  private val DvName = "__dv_name"
  private val DvPos = "__dv_pos"

  /** THE scan: `entries` read with `as` as the read schema — files written
    * before an [[evolve]] lack the newer columns and come back null-filled
    * (the mergeSchema read, served from the log's schema instead of a
    * footer scan) — minus the rows the `dv` sidecars delete, projected to
    * the logical names of `as`. Files hold PHYSICAL names, so the read is
    * physical. Optional columns, in this order after the logical ones:
    *   - `keepPos`: the (file name, row index) plumbing columns the DV
    *     writers and the change feed key on;
    *   - `withIds`: the stable `_row_id` (row-tracking read): the file's
    *     allocated base + the row's index within the file, or the
    *     MATERIALIZED id column for files rewritten by OPTIMIZE. The base
    *     lookup is a broadcast join on file name (O(#files) rows); ids are
    *     computed BEFORE the DV anti-join, so surviving rows keep their ids
    *     across deletes.
    * Without DVs, positions or ids the plan is a bare projected scan (no
    * `_metadata` columns). */
  private def scan(entries: Seq[FileEntry], dv: Seq[String], as: StructType,
                   keepPos: Boolean = false, withIds: Boolean = false): DataFrame = {
    import spark.implicits._
    val posFields =
      if (keepPos) Seq(StructField(DvName, StringType), StructField(DvPos, LongType))
      else Seq.empty
    val idFields = if (withIds) Seq(StructField(LogTable.RowIdCol, LongType)) else Seq.empty
    if (entries.isEmpty) return emptyDf(StructType(as.fields ++ posFields ++ idFields))
    val readSchema =
      if (!withIds) physicalSchema(as)
      else StructType(physicalSchema(as).fields :+ StructField(LogTable.MatRowIdCol, LongType))
    val raw = spark.read.schema(readSchema)
      .parquet(entries.map(e => filesDir.resolve(e.name).toString): _*)
    val located = if (!keepPos && !withIds && dv.isEmpty) raw
      else raw
        .withColumn(DvName, regexp_extract(col("_metadata.file_path"), "([^/]+)$", 1))
        .withColumn(DvPos, col("_metadata.row_index"))
    val ided = if (!withIds) located
      else {
        val bases = entries.filter(_.baseRowId >= 0)
          .map(e => (e.name, e.baseRowId)).toDF(DvName, "__base")
        located.join(broadcast(bases), Seq(DvName), "left")
          .withColumn(LogTable.RowIdCol,
            coalesce(col(LogTable.MatRowIdCol), col("__base") + col(DvPos)))
      }
    val live = if (dv.isEmpty) ided
      else ided.join(
        broadcast(spark.read.parquet(dv.map(d => filesDir.resolve(d).toString): _*)),
        Seq(DvName, DvPos), "left_anti")
    live.select((as.fields.map(f => col(physicalOf(f)).as(f.name)).toSeq ++
      (posFields ++ idFields).map(f => col(f.name))): _*)
  }

  /** Live table with the stable `_row_id` column (requires
    * `rowTracking = true` at creation). Ids are unique across the table's
    * lifetime, contiguous per commit ([hwm+1, hwm+n] in (bucket,
    * staged-part, row) order), stable across OPTIMIZE (materialized into
    * the rewrite) and DV deletes (a deleted id is never reused), and fresh
    * for files written by full-rewrite commits (overwrite/merge) — the
    * Delta row-tracking contract. */
  def readWithRowIds(): DataFrame = {
    require(trackingEnabled, "table was not created with rowTracking = true")
    val v = currentVersion
    if (v == 0) emptyDf(StructType(schema.fields :+
      StructField(LogTable.RowIdCol, LongType)))
    else { val s = snapshotAt(v); scan(s.files, s.dv, s.schema, withIds = true) }
  }

  /** Version `v` with row ids — time travel composes with row tracking
    * (ids are versioned state: the log holds each version's bases, the
    * files their materialized ids). */
  def readVersionWithRowIds(v: Long): DataFrame = {
    require(trackingEnabled, "table was not created with rowTracking = true")
    val s = snapshotAt(v)
    scan(s.files, s.dv, s.schema, withIds = true)
  }

  /** Highest allocated row-tracking id (0 before any tracked write) — the
    * logged high-water mark identity columns allocate from. */
  private[merge] def rowIdHighWaterMark: Long = {
    val v = currentVersion
    if (v == 0) 0L else snapshotAt(v).rowIdHwm
  }

  /** Live table (empty frame before the first commit). */
  def read(): DataFrame = {
    val v = currentVersion
    if (v == 0) emptyDf
    else { val s = snapshotAt(v); scan(s.files, s.dv, s.schema) }
  }

  /** The table as of version `v` — INCLUDING that version's deletion
    * vectors AND its schema (DV-aware, schema-aware history: every commit
    * is a named version here, served with the schema it had). */
  def readVersion(v: Long): DataFrame = {
    val s = snapshotAt(v)
    scan(s.files, s.dv, s.schema)
  }

  /** The in-commit timestamp of version `v` (ms; strictly increasing across
    * versions by construction — see [[Delta]]). */
  def commitTimestamp(v: Long): Long = {
    require(history().contains(v),
      s"version $v not available; readable versions: ${history().mkString(", ")}")
    readDelta(v).tsMs
  }

  /** `TIMESTAMP AS OF` resolution (Delta semantics): the NEWEST version
    * whose in-commit timestamp is ≤ `tsMs`. Timestamps are strictly
    * monotone in the log, so the answer is unique. Throws when `tsMs`
    * predates the oldest retained commit (nothing existed / vacuumed). */
  def versionAtTimestamp(tsMs: Long): Long = {
    val hs = history()
    require(hs.nonEmpty, "table has no commits")
    val stamped = hs.map(v => (v, readDelta(v).tsMs))
    require(tsMs >= stamped.head._2,
      s"timestamp $tsMs predates the oldest retained commit (${stamped.head._2})")
    stamped.takeWhile(_._2 <= tsMs).last._1
  }

  /** The table `TIMESTAMP AS OF tsMs` — resolved to a version, then served
    * with that version's files, DVs, and schema. */
  def readTimestamp(tsMs: Long): DataFrame =
    readVersion(versionAtTimestamp(tsMs))

  /** Manifest-stats file skipping: read only files whose [lo, hi] for `c`
    * intersects the bound (files without stats are kept — pruning is a
    * pure superset optimization); residual filter stays on the scan.
    * Works on BUCKETED tables — the composition the directory-swap
    * design's root-manifest could not serve. */
  /** Columns with per-file stats available for pruning: the writer's
    * statsBy, else whatever the live manifest carries (batch readers open
    * a table without knowing the writer's configuration — the stats are IN
    * the log, not in the constructor). */
  def statsColumns: Seq[String] = {
    val v = currentVersion
    val live = if (v == 0) schema else snapshotAt(v).schema
    // manifests key stats by PHYSICAL name; surface them under the LIVE
    // logical names (stats survive a rename; dropped columns vanish)
    val reverse = live.fields.map(f => physicalOf(f) -> f.name).toMap
    val discovered =
      if (v == 0) Nil
      else snapshotAt(v).files.flatMap(_.stats.keys).distinct.flatMap(reverse.get)
    (statsBy.filter(c => live.fieldNames.contains(c)) ++ discovered).distinct
  }

  def readRange(c: String, lo: Column, hi: Column): DataFrame = {
    require(statsColumns.contains(c),
      s"no file stats for column '$c' (stats present: ${statsColumns.mkString(",")})")
    val v = currentVersion
    if (v == 0) return emptyDf.filter(col(c) >= lo && col(c) <= hi)
    val m = snapshotAt(v)
    val dt = m.schema(c).dataType
    val pc = physOf(m.schema, c) // stats are keyed by physical name
    // one overlap evaluation for ALL stats-carrying files (Spark's own
    // cast/ordering semantics); stat-less files are kept unconditionally
    val (withStats, noStats) = m.files.partition(_.stats.contains(pc))
    val kept =
      if (withStats.isEmpty) m.files
      else {
        import spark.implicits._
        val statRows = withStats.map { e =>
          val (fLo, fHi) = e.stats(pc); (e.name, fLo, fHi)
        }.toDF("__name", "__lo", "__hi")
        // float→double widening hazard: a stat string written in the
        // FLOAT era is the float's shortest repr ("0.1" = (double)0.1f ≈
        // 0.100000001), so parsing it as double ("0.1" = 0.1d) can falsely
        // prune files whose true values sit between the two parses. File
        // eras aren't tracked, but pruning is a superset optimization —
        // compare against the UNION interval of both interpretations
        // (double parse ∪ float-roundtrip parse): exact for whichever era
        // wrote the stat, superset-safe for the other. Integer widenings
        // parse exactly under the wide type (int/long/int→double ≤ 2^53),
        // so only DoubleType needs this.
        val (statLo, statHi) =
          if (dt == org.apache.spark.sql.types.DoubleType)
            (least(col("__lo").cast(dt), col("__lo").cast("float").cast(dt)),
             greatest(col("__hi").cast(dt), col("__hi").cast("float").cast(dt)))
          else (col("__lo").cast(dt), col("__hi").cast(dt))
        val surviving = statRows.filter(
            statHi >= lo.cast(dt) && statLo <= hi.cast(dt))
          .select("__name").collect().map(_.getString(0)).toSet
        noStats ++ withStats.filter(e => surviving.contains(e.name))
      }
    scan(kept, m.dv, m.schema).filter(col(c) >= lo && col(c) <= hi)
  }

  /** Number of files the live version references (spec hook). */
  def liveFileNames(): Seq[String] = {
    val v = currentVersion
    if (v == 0) Seq.empty else snapshotAt(v).files.map(_.name).sorted
  }

  // ── commits ─────────────────────────────────────────────────────────────

  /** Generic optimistic commit loop: derive the new state from the current
    * snapshot, CAS the delta in; on a lost race discard the orphan files
    * and re-derive against the new snapshot. `derive` returning None means
    * "nothing to commit" (no version is cut). Returns attempts. */
  private def commitLoop(maxAttempts: Int, dataChange: Boolean = true,
                         txn: Option[(String, Long)] = None)
                        (derive: Option[Snapshot] => Option[(Seq[FileEntry], Seq[String], Seq[FileEntry])])
      : Int = {
    var attempts = 0
    while (attempts < maxAttempts) {
      attempts += 1
      val v = currentVersion
      val snap = if (v == 0) None else Some(snapshotAt(v))
      derive(snap) match {
        case None => return attempts
        case Some((files, dv, fresh)) =>
          if (tryCommit(snap, files, dv, dataChange, txn = txn)) return attempts
          dropFiles(fresh)
      }
    }
    throw new IllegalStateException(
      s"commit lost the race $maxAttempts times — writer storm; raise maxAttempts")
  }

  /** Replace the table content (cuts a new version). */
  def overwrite(df: DataFrame): Unit =
    commitLoop(5) { snap =>
      val fresh = writeFiles(withChecks(df, snap), snap.map(_.schema).getOrElse(schema))
      Some((fresh, Seq.empty, fresh))
    }

  /** Append-only write: prior files + the new ones, DVs carried forward. */
  def append(df: DataFrame): Unit =
    commitLoop(5) { snap =>
      val fresh = writeFiles(withChecks(df, snap), snap.map(_.schema).getOrElse(schema))
      Some((snap.map(_.files).getOrElse(Seq.empty) ++ fresh,
        snap.map(_.dv).getOrElse(Seq.empty), fresh))
    }

  /** PREDICATE-SCOPED ATOMIC OVERWRITE (Delta's `replaceWhere`): in ONE
    * commit, drop every live row matching `cond` and insert `df` — the
    * partition-overwrite verb, generalized to arbitrary predicates the way
    * Delta 2.0 generalizes it. Every batch row is VALIDATED against `cond`
    * in the write pass (assert_true-in-filter — a row outside the predicate
    * fails the write before any commit, Delta's constraint semantics).
    * File-level surgery: files with NO matching live row are kept verbatim
    * (byte-identical, ids intact under row tracking); files with matches
    * are removed and their NON-matching live remainder is rewritten with
    * the batch (previously DV-deleted rows do not resurrect — the
    * remainder read applies the sidecars). Detection is one predicate scan
    * (what Delta pays for an arbitrary replaceWhere); rewrite work is
    * proportional to the files actually touched. Under row tracking the
    * rewritten remainder + batch re-id above the watermark (the documented
    * full-rewrite rule); kept files keep their ids. */
  def replaceWhere(cond: Column, df: DataFrame): Unit =
    commitLoop(5) { snap =>
      val validated = withChecks(df, snap).filter(coalesce(
        assert_true(cond,
          lit("replaceWhere: batch row does not satisfy the predicate")),
        lit(true)))
      snap match {
        case None =>
          val fresh = writeFiles(validated, schema)
          Some((fresh, Seq.empty, fresh))
        case Some(m) =>
          // one predicate scan to find the touched files (live rows only —
          // a file whose sole matches are DV-deleted is kept verbatim)
          val matched = scan(m.files, m.dv, m.schema, keepPos = true).filter(cond)
            .select(col(DvName)).distinct()
            .collect().map(_.getString(0)).toSet
          val (rewrite, keep) = m.files.partition(e => matched(e.name))
          // keep rows where the predicate is NOT SATISFIED — `!cond` alone
          // drops NULL-valued rows (neither matched nor kept, silent data
          // loss); coalesce to false mirrors SQL DELETE / deleteWhere
          val remainder = scan(rewrite, m.dv, m.schema)
            .filter(!coalesce(cond, lit(false)))
          val fresh = writeFiles(remainder.unionByName(validated), m.schema)
          // stale DV rows for removed files are inert (fresh files get new
          // uuid names) and purge on the next compact — deleteWhere's rule
          Some((keep ++ fresh, m.dv, fresh))
      }
    }

  /** UPDATE … SET … WHERE — Delta's UPDATE, file-scoped like
    * [[replaceWhere]]: one predicate scan finds the files holding matching
    * LIVE rows, ONLY those files are rewritten (matching rows get the
    * assignments applied, non-matching neighbors are carried verbatim,
    * DV-deleted rows are materialized out — fresh files get fresh names so
    * stale sidecar entries go inert), untouched files keep their bytes and
    * stay shared across versions. Returns rows updated (0 ⇒ no commit
    * cut). Bucket keys cannot be assigned (rows never migrate buckets —
    * the bucketed-layout contract). Backs the SQL `UPDATE` statement
    * ([[graft.sql.GraftUpdateCommand]]). */
  def updateWhere(cond: Column, set: Map[String, Column]): Long = {
    require(set.nonEmpty, "updateWhere needs at least one assignment")
    require(!bucketBy.exists(_._1.exists(set.contains)),
      "cannot UPDATE a bucket key (rows never migrate buckets)")
    var updated = 0L
    commitLoop(5) { snap =>
      snap match {
        case None => updated = 0L; None // empty table: nothing to commit
        case Some(m) =>
          set.keys.foreach(k => require(m.schema.fieldNames.contains(k),
            s"updateWhere: unknown column '$k'"))
          // one scan: touched files AND the matched-row count together
          val perFile = scan(m.files, m.dv, m.schema, keepPos = true).filter(cond)
            .groupBy(col(DvName)).agg(count(lit(1)).as("n"))
            .collect().map(r => r.getString(0) -> r.getLong(1))
          updated = perFile.map(_._2).sum
          if (perFile.isEmpty) None
          else {
            val matched = perFile.map(_._1).toSet
            val (rewrite, keep) = m.files.partition(e => matched(e.name))
            val c = coalesce(cond, lit(false)) // NULL predicate = not matched
            val upd = scan(rewrite, m.dv, m.schema)
              .select(m.schema.fields.map { f =>
                set.get(f.name)
                  .map(v => when(c, v.cast(f.dataType)).otherwise(col(f.name)))
                  .getOrElse(col(f.name)).as(f.name)
              }.toIndexedSeq: _*)
            val fresh = writeFiles(withChecks(upd, snap), m.schema)
            Some((keep ++ fresh, m.dv, fresh))
          }
      }
    }
    updated
  }

  /** Newest batchId `appId` has committed, -1 = none (Delta's `txn`
    * watermark read — the idempotent-sink handshake). */
  def lastTxn(appId: String): Long = {
    val v = currentVersion
    if (v == 0) -1L else snapshotAt(v).txns.getOrElse(appId, -1L)
  }

  /** IDEMPOTENT APPEND (Delta's `txn` action — the exactly-once streaming
    * SINK protocol): commit `df` tagged (appId, batchId); a batchId at or
    * below `appId`'s committed watermark is a NO-OP (returns false, no
    * version cut). The duplicate check runs INSIDE the commit loop, so a
    * race between redundant deliveries resolves through the CAS: the loser
    * re-derives, sees the watermark advanced, and drops out. This is what
    * makes a foreachBatch APPEND sink exactly-once — O(batch) per commit,
    * where an idempotent MERGE sink pays O(table) per batch for the same
    * guarantee. */
  def appendOnce(df: DataFrame, appId: String, batchId: Long,
                 maxAttempts: Int = 5): Boolean = {
    var committed = false
    commitLoop(maxAttempts, txn = Some((appId, batchId))) { snap =>
      if (snap.exists(_.txns.getOrElse(appId, -1L) >= batchId)) {
        committed = false; None // already delivered: no version cut
      } else {
        val fresh = writeFiles(withChecks(df, snap), snap.map(_.schema).getOrElse(schema))
        committed = true
        Some((snap.map(_.files).getOrElse(Seq.empty) ++ fresh,
          snap.map(_.dv).getOrElse(Seq.empty), fresh))
      }
    }
    committed
  }

  /** MERGE: [[occMerge]] without a transaction id — unbucketed = full
    * rewrite of `f(live, batch)`; bucketed = the partition-scoped form. */
  def merge(batch: DataFrame)(f: (DataFrame, DataFrame) => DataFrame): Unit = {
    occMerge(batch)(f); ()
  }

  /** Merge-on-read DELETE as a NAMED COMMIT: the new version's delta
    * carries one more positions sidecar, so the delete is time-travelable
    * ("AS OF" the pre-delete version resurrects, the delete's own version
    * stays deleted). No data file is touched. Returns rows newly deleted
    * (0 ⇒ no commit cut). */
  def deleteWhere(cond: Column): Long = {
    var deleted = 0L
    commitLoop(5) { snap =>
      snap match {
        case None => deleted = 0L; None // empty table: nothing to commit
        case Some(m) =>
          val live = scan(m.files, m.dv, m.schema, keepPos = true).filter(cond)
            .select(col(DvName), col(DvPos)).localCheckpoint(true)
          deleted = live.count()
          if (deleted == 0) None // no matches: no version cut
          else {
            val tmp = Files.createTempDirectory(rootPath, ".write-")
            live.coalesce(1).write.mode("overwrite").parquet(tmp.toString)
            val part = LogTable.walkDir(tmp)
              .find(_.toString.endsWith(".parquet")).get
            val name = s"dv-${java.util.UUID.randomUUID().toString.take(12)}.parquet"
            Files.move(part, filesDir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
            deleteRec(tmp)
            Some((m.files, m.dv :+ name, Seq.empty))
          }
      }
    }
    deleted
  }

  /** OCC merge: the commit loop IS the protocol — staging runs lock-free
    * against an immutable snapshot (which cannot vanish mid-stage: files
    * live until [[vacuum]]), the manifest CAS serializes. Returns attempts.
    *
    * With `txn = Some((appId, batchId))` the merge is an EXACTLY-ONCE
    * STREAMING SINK (the [[appendOnce]] handshake generalized to arbitrary
    * merges): the content rewrite and the txn watermark land in ONE
    * commit, so a re-delivered foreachBatch id is a no-op (no version is
    * cut — the duplicate check runs inside the loop, so racing redundant
    * deliveries resolve through the CAS). This is what a maintained-state
    * sink (the s44 graph ingest) needs: append-only `appendOnce` cannot
    * express a state REWRITE per batch.
    *
    * BUCKETED tables get the partition-scoped form: only buckets whose keys
    * appear in `batch` are handed to `f` and replaced in the manifest;
    * untouched buckets keep their files byte-identical AND every version
    * stays readable. That makes a per-micro-batch commit O(touched
    * buckets + batch), not O(table). A batch that touches no bucket (the
    * empty micro-batch every availableNow drain ends with) cuts no version
    * and runs no write job. `f` must be keyed on the bucket keys (every
    * [[Merge]] flavor is): output rows landing in a bucket the batch did
    * not touch would silently diverge from the unbucketed result, so the
    * merge fails loudly instead. DV entries referencing replaced files
    * simply stop matching (the rewrite materialized them). */
  def occMerge(batch: DataFrame, maxAttempts: Int = 5,
               txn: Option[(String, Long)] = None)
              (f: (DataFrame, DataFrame) => DataFrame): Int =
    commitLoop(maxAttempts, txn = txn) { snap =>
      if (txn.exists { case (app, b) =>
          snap.exists(_.txns.getOrElse(app, -1L) >= b) })
        None // already delivered: no version cut
      else bucketBy match {
        case None =>
          val cur = snap.map(m => scan(m.files, m.dv, m.schema)).getOrElse(emptyDf)
          val fresh = writeFiles(withChecks(f(cur, batch), snap),
            snap.map(_.schema).getOrElse(schema))
          Some((fresh, Seq.empty, fresh))
        case Some(_) =>
          // the touched-bucket probe deliberately re-reads the batch PLAN
          // rather than a persisted copy: it projects only the bucket keys,
          // so the un-persisted form is a column-pruned scan — measured
          // CHEAPER than paying a full-row cache materialization that the
          // probe then reads unpruned (r13 sf1 A/B)
          val touched = batch.select(bucketExpr.as(BucketCol))
            .distinct().collect().map(_.getInt(0)).toSet
          if (touched.isEmpty) None // empty batch: nothing to rewrite
          else {
            val (hit, kept) = snap.map(_.files).getOrElse(Seq.empty)
              .partition(e => touched.contains(e.bucket))
            val dv = snap.map(_.dv).getOrElse(Seq.empty)
            val as = snap.map(_.schema).getOrElse(schema)
            val cur = if (hit.isEmpty) emptyDf(as) else scan(hit, dv, as)
            val fresh = writeFiles(withChecks(f(cur, batch), snap), as)
            val stray = fresh.map(_.bucket).toSet -- touched
            if (stray.nonEmpty) dropFiles(fresh)
            require(stray.isEmpty,
              s"merge emitted rows outside the batch's buckets " +
                s"(${stray.toSeq.sorted.mkString(",")}) — the merge function " +
                "must be keyed on the table's bucket keys")
            Some((kept ++ fresh, dv, fresh))
          }
      }
    }

  /** OPTIMIZE: rewrite the live content into few large files — bucketed:
    * one file per bucket (writeFiles' discipline); unbucketed: coalesced to
    * ceil(bytes / targetFileBytes) files — and MATERIALIZE the deletion
    * vectors (the rewrite reads DV-filtered rows, so stale sidecars are
    * dropped — Delta's REORG … APPLY (PURGE)). Committed with
    * `dataChange = false`: the logical content is unchanged, so
    * [[changesSince]] consumers skip the commit entirely (Delta's
    * OPTIMIZE/streaming contract). Returns the number of data files
    * removed (0 ⇒ nothing worth compacting, no version cut).
    *
    * `clusterBy` (unbucketed only) is the `OPTIMIZE … ZORDER BY` /
    * liquid-clustering analog: the rewrite is range-partitioned and sorted
    * on those keys, so each output file covers a tight key range and
    * [[readRange]]'s manifest-stats pruning becomes selective on data that
    * arrived in key-random appends. An explicit clusterBy always rewrites
    * (re-layout is the point, even at the target file count). */
  def compact(targetFileBytes: Long = 128L << 20,
              clusterBy: Seq[String] = Nil): Int = {
    require(clusterBy.isEmpty || bucketBy.isEmpty,
      "clusterBy applies to unbucketed tables (bucketed layout is fixed by the bucket keys)")
    var removed = 0
    commitLoop(5, dataChange = false) { snap =>
      snap match {
        case None => removed = 0; None
        case Some(m) =>
          val bytes = m.files.map(e =>
            Files.size(filesDir.resolve(e.name))).sum
          val want = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
          val worthIt = m.files.nonEmpty && (m.dv.nonEmpty || clusterBy.nonEmpty ||
            (bucketBy match {
              case Some((_, n)) => m.files.size > n
              case None => m.files.size > want
            }))
          if (!worthIt) { removed = 0; None }
          else {
            // row tracking: the rewrite MATERIALIZES each row's id into the
            // new files (Delta's materialized row-id column), so ids survive
            // the re-layout — the rewritten entries carry no base/rows and
            // allocate nothing
            val src = scan(m.files, m.dv, m.schema, withIds = trackingEnabled)
              .withColumnRenamed(LogTable.RowIdCol, LogTable.MatRowIdCol)
            val fresh = writeFiles(src, m.schema,
              coalesceTo = if (bucketBy.isEmpty) Some(want) else None,
              clusterBy = clusterBy)
              .map(e => if (clusterBy.nonEmpty) e.copy(clustered = true) else e)
            removed = m.files.size
            Some((fresh, Seq.empty, fresh))
          }
      }
    }
    removed
  }

  /** INCREMENTAL CLUSTERING (Delta liquid clustering's OPTIMIZE contract):
    * rewrite ONLY the files no clusterBy rewrite has produced yet —
    * already-clustered files are kept byte-identical, so repeated calls on
    * a growing table each pay O(new data), and a second call with nothing
    * new is a NO-OP (returns 0, no version cut). The tradeoff vs a full
    * [[compact]]: clustered generations may OVERLAP in key range, so
    * [[readRange]] pruning is a little looser than one global re-sort —
    * exactly liquid clustering's bargain. DVs on rewritten files are
    * materialized; DV rows for kept files stay live (inert entries purge
    * on the next full compact). Row-tracked ids materialize into the
    * rewrite as in [[compact]]. TWO keys cluster on the Morton interleave
    * of their equi-depth bucket ids (multi-column liquid clustering —
    * stats prune on either key; see writeFilesInto). Returns the number
    * of files rewritten. */
  def compactIncremental(clusterBy: Seq[String],
                         targetFileBytes: Long = 128L << 20): Int = {
    require(clusterBy.nonEmpty, "compactIncremental needs clusterBy keys")
    require(bucketBy.isEmpty,
      "clusterBy applies to unbucketed tables (bucketed layout is fixed by the bucket keys)")
    var rewritten = 0
    commitLoop(5, dataChange = false) { snap =>
      snap match {
        case None => rewritten = 0; None
        case Some(m) =>
          val (keep, todo) = m.files.partition(_.clustered)
          if (todo.isEmpty) { rewritten = 0; None }
          else {
            val bytes = todo.map(e => Files.size(filesDir.resolve(e.name))).sum
            val want = math.max(1, math.ceil(bytes.toDouble / targetFileBytes).toInt)
            val src = scan(todo, m.dv, m.schema, withIds = trackingEnabled)
              .withColumnRenamed(LogTable.RowIdCol, LogTable.MatRowIdCol)
            val fresh = writeFiles(src, m.schema, coalesceTo = Some(want),
              clusterBy = clusterBy).map(_.copy(clustered = true))
            rewritten = todo.size
            // kept files' DV rows must survive: pass the sidecars through
            Some((keep ++ fresh, m.dv, fresh))
          }
      }
    }
    rewritten
  }

  /** The CHANGE FEED / streaming-source read: rows ADDED by dataChange
    * commits in `(fromVersion, currentVersion]`, with the end version as
    * the consumer's next cursor. `dataChange = false` commits (compaction)
    * are transparently skipped. A dataChange commit that REMOVES files
    * (overwrite/merge rewrite) or adds a DV (delete) is an update in the
    * span — throws unless `ignoreChanges`, which then emits that commit's
    * adds anyway (rewritten files re-emitted IN FULL; downstream must be
    * idempotent — at-least-once, Delta's `ignoreChanges` verbatim). */
  def changesSince(fromVersion: Long, ignoreChanges: Boolean = false)
      : (Long, DataFrame) = {
    val cur = currentVersion
    (cur, changesBetween(fromVersion, cur, ignoreChanges))
  }

  /** Bounded form of [[changesSince]]: rows added by dataChange commits in
    * `(fromVersion, toVersion]` — the exact getBatch contract of the
    * streaming source ([[graft.sources.LogTableSource]]), where the engine
    * fixes both offsets before asking for the data.
    *
    * `withCommitVersion` appends [[LogTable.CommitVersionCol]] — the commit
    * each row was added by (Delta CDF's `_commit_version`). This is what
    * makes `ignoreChanges` replays RESOLVABLE: a span covering a rewrite
    * delivers both the stale and the new copy of a key, and only the
    * version column lets a keyed consumer pick the right one (recency
    * merge on `_commit_version`). */
  def changesBetween(fromVersion: Long, toVersion: Long,
                     ignoreChanges: Boolean = false,
                     withCommitVersion: Boolean = false): DataFrame = {
    if (toVersion <= fromVersion)
      return if (withCommitVersion) emptyDf.withColumn(LogTable.CommitVersionCol, lit(0L))
             else emptyDf
    val avail = history()
    val span = (fromVersion + 1) to toVersion
    require(span.forall(avail.contains),
      s"versions ${span.filterNot(avail.contains).mkString(",")} were vacuumed; " +
        "cannot serve changes — restart the consumer from a full snapshot")
    val perVersion: Seq[(Long, Seq[FileEntry])] = span.map { v =>
      val d = readDelta(v)
      if (!d.dataChange) (v, Seq.empty[FileEntry]) // compaction: no-op for consumers
      else {
        if (!ignoreChanges)
          require(d.remove.isEmpty && d.dvAdd.isEmpty,
            s"version $v is an update/delete, not an append; set ignoreChanges " +
              "to re-emit its files (at-least-once) or restart from a snapshot")
        (v, d.add)
      }
    }
    // the feed is served in the END version's schema (earlier files
    // null-fill) — a mid-span evolve never forks the batch schema
    val as = snapshotAt(toVersion).schema
    if (!withCommitVersion) scan(perVersion.flatMap(_._2), Seq.empty, as)
    else {
      val parts = perVersion.collect { case (v, adds) if adds.nonEmpty =>
        scan(adds, Seq.empty, as).withColumn(LogTable.CommitVersionCol, lit(v))
      }
      if (parts.isEmpty) emptyDf(as).withColumn(LogTable.CommitVersionCol, lit(0L))
      else parts.reduce(_ union _)
    }
  }

  /** CHANGE DATA FEED proper (Delta `table_changes` / `readChangeFeed`):
    * every row-level change in `(fromVersion, toVersion]`, typed —
    * `_change_type` ('insert' | 'delete'), `_commit_version`, and (when
    * the table is row-tracked and `withRowIds`) the stable `_row_id`.
    * Unlike [[changesBetween]] (the streaming-source contract: adds only,
    * rewrites need `ignoreChanges`), this serves DELETES as first-class
    * change rows: a DV-delete commit's sidecar holds exactly the (file,
    * pos) pairs it deleted, so the feed reads those rows back from the
    * pre-commit state; a rewrite commit (overwrite / merge) decomposes
    * into delete(old live rows of removed files) + insert(new files) — the
    * exact multiset delta, which is what Delta's CDC files record for
    * merges. An update therefore appears as delete+insert in the same
    * commit (pre/post image pairing is the consumer's join — on `_row_id`
    * when tracked, on the logical key otherwise). OPTIMIZE commits
    * (`dataChange = false`) emit nothing. Served in `toVersion`'s schema
    * (earlier files null-fill; physical names make renames transparent).
    *
    * Scale: per version, inserts scan only that commit's added files;
    * DV deletes scan only the files the sidecar names (collected from the
    * sidecar — O(deleted files), not O(table)); rewrite deletes scan the
    * removed files. Nothing scans the full table. The snapshot walk folds
    * incrementally (one log pass for the whole span). */
  def readChangeFeed(fromVersion: Long, toVersion: Long,
                     withRowIds: Boolean = false): DataFrame = {
    import spark.implicits._
    require(!withRowIds || trackingEnabled,
      "withRowIds requires a rowTracking = true table")
    val as = if (toVersion == 0) schema else snapshotAt(toVersion).schema
    val plumb = Seq(DvName, DvPos)
    def out(df: DataFrame, tpe: String, v: Long): DataFrame =
      df.drop(plumb: _*)
        .withColumn(LogTable.ChangeTypeCol, lit(tpe))
        .withColumn(LogTable.CommitVersionCol, lit(v))
    val empty = {
      val base = emptyDf(as)
      val withId = if (withRowIds) base.withColumn(LogTable.RowIdCol,
        lit(null).cast("long")) else base
      out(withId, "insert", 0L).limit(0)
    }
    if (toVersion <= fromVersion) return empty
    val avail = history()
    val span = (fromVersion + 1) to toVersion
    require(span.forall(avail.contains),
      s"versions ${span.filterNot(avail.contains).mkString(",")} were vacuumed; " +
        "cannot serve changes — restart the consumer from a full snapshot")
    var prev: Option[Snapshot] =
      if (fromVersion == 0) None else Some(snapshotAt(fromVersion))
    val parts = scala.collection.mutable.ArrayBuffer.empty[DataFrame]
    span.foreach { v =>
      val d = readDelta(v)
      if (d.dataChange) {
        val prevFiles = prev.map(_.files).getOrElse(Seq.empty)
        val prevDv = prev.map(_.dv).getOrElse(Seq.empty)
        if (d.add.nonEmpty)
          parts += out(scan(d.add, Seq.empty, as, withIds = withRowIds), "insert", v)
        if (d.dvAdd.nonEmpty) {
          // the sidecar holds exactly this commit's deletions
          val dvDf = spark.read.parquet(
            d.dvAdd.map(n => filesDir.resolve(n).toString): _*)
          val touched = dvDf.select(DvName).distinct()
            .as[String].collect().toSet
          val scanned = scan(prevFiles.filter(e => touched(e.name)), Seq.empty,
            as, keepPos = true, withIds = withRowIds)
          parts += out(scanned.join(broadcast(dvDf), plumb, "left_semi"),
            "delete", v)
        }
        if (d.remove.nonEmpty) {
          // rewrite: removed files' LIVE rows (pre-commit DV applied)
          val rm = d.remove.toSet
          parts += out(scan(prevFiles.filter(e => rm(e.name)), prevDv, as,
            withIds = withRowIds), "delete", v)
        }
      }
      prev = Some(applyDelta(prev.getOrElse(
        Snapshot(0L, Seq.empty, Seq.empty, schema, Map.empty, Map.empty, 0L)),
        d))
    }
    if (parts.isEmpty) empty else parts.reduce(_ unionByName _)
  }

  // ── CHECK constraints (Delta table constraints, in the log) ─────────────

  /** Active CHECK constraints (name → SQL condition) as of the live
    * version. */
  def constraints: Map[String, String] = {
    val v = currentVersion
    if (v == 0) Map.empty else snapshotAt(v).constraints
  }

  /** Enforce `cs` on every row of `df` IN the write pass itself: each
    * constraint becomes a filter whose condition is
    * `coalesce(assert_true(cond), true)` — always true for conforming rows,
    * throws (failing the write before any commit) on the first violating
    * row. Single pass, no pre-count scan; NULL conditions count as
    * violations (a constraint must hold, not merely not-fail — Delta's
    * CHECK semantics). */
  /** GENERATED COLUMNS in the write pass (Delta `GENERATED ALWAYS AS`):
    * for each schema field carrying a generation expression, a frame that
    * OMITS the column gets it computed; a frame that SUPPLIES it gets every
    * row validated (null-safe equality) via the same assert_true-in-filter
    * shape as CHECK constraints — one pass, throws before any commit. */
  private def withGenerated(df: DataFrame, snap: Option[Snapshot]): DataFrame = {
    val s = snap.map(_.schema).getOrElse(schema)
    s.fields.filter(_.metadata.contains(LogTable.GenKey)).foldLeft(df) { (d, f) =>
      val gen = expr(f.metadata.getString(LogTable.GenKey)).cast(f.dataType)
      if (!d.columns.contains(f.name)) d.withColumn(f.name, gen)
      else d.filter(coalesce(
        assert_true(col(f.name) <=> gen,
          lit(s"GENERATED column '${f.name}' does not match its expression")),
        lit(true)))
    }
  }

  /** COLUMN DEFAULTS in the write pass (Delta `allowColumnDefaults`): a
    * frame that OMITS a defaulted column gets the default computed; a
    * frame that SUPPLIES it — explicit NULL included — wins verbatim (no
    * validation, unlike generated columns). Runs BEFORE generated columns
    * and CHECK constraints so both may reference defaulted columns. */
  private def withDefaults(df: DataFrame, snap: Option[Snapshot]): DataFrame = {
    val s = snap.map(_.schema).getOrElse(schema)
    s.fields.filter(_.metadata.contains(LogTable.DefaultKey)).foldLeft(df) {
      (d, f) =>
        if (d.columns.contains(f.name)) d
        else d.withColumn(f.name,
          expr(f.metadata.getString(LogTable.DefaultKey)).cast(f.dataType))
    }
  }

  /** `ALTER COLUMN ... SET DEFAULT` / `DROP DEFAULT` — a metadata commit
    * (`dataChange = false`): the default travels IN the versioned schema,
    * so each era's writes use the default that era declared and history
    * reads back unchanged. */
  def setDefault(name: String, exprSql: Option[String]): Unit = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val v = currentVersion
      val snap = if (v == 0) None else Some(snapshotAt(v))
      val cur = snap.map(_.schema).getOrElse(schema)
      require(cur.fieldNames.contains(name), s"no such column '$name'")
      val updated = StructType(cur.fields.map { f =>
        if (f.name != name) f
        else {
          require(!f.metadata.contains(LogTable.GenKey),
            s"'$name' is a generated column — it cannot also carry a default")
          val mb = new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata).remove(LogTable.DefaultKey)
          exprSql.foreach(e => mb.putString(LogTable.DefaultKey, e))
          f.copy(metadata = mb.build())
        }
      })
      if (tryCommit(snap, snap.map(_.files).getOrElse(Seq.empty),
          snap.map(_.dv).getOrElse(Seq.empty), dataChange = false,
          newSchema = Some(updated))) return
    }
    throw new IllegalStateException("default commit lost the race 5 times")
  }

  private def withChecks(df: DataFrame, snap: Option[Snapshot]): DataFrame = {
    val cs = snap.map(_.constraints).getOrElse(Map.empty)
    cs.foldLeft(withGenerated(withDefaults(df, snap), snap)) { case (d, (cn, ce)) =>
      d.filter(coalesce(
        assert_true(coalesce(expr(ce), lit(false)),
          lit(s"CHECK constraint '$cn' ($ce) violated")),
        lit(true)))
    }
  }

  /** ADD CONSTRAINT as a metadata commit (`dataChange = false`): validates
    * the EXISTING content first (Delta's ALTER TABLE ADD CONSTRAINT scans
    * the table — a constraint that does not hold now is rejected, not
    * recorded), then folds (name → cond) into the log. Subsequent writes
    * through ANY verb enforce it in their write pass. */
  def addConstraint(name: String, cond: String): Unit = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val v = currentVersion
      val snap = if (v == 0) None else Some(snapshotAt(v))
      require(!snap.exists(_.constraints.contains(name)),
        s"constraint '$name' already exists")
      snap.foreach { m =>
        val bad = scan(m.files, m.dv, m.schema)
          .filter(not(coalesce(expr(cond), lit(false)))).count()
        require(bad == 0,
          s"cannot add CHECK constraint '$name' ($cond): $bad existing row(s) violate it")
      }
      if (tryCommit(snap, snap.map(_.files).getOrElse(Seq.empty),
          snap.map(_.dv).getOrElse(Seq.empty), dataChange = false,
          constraintAdd = Some((name, cond)))) return
    }
    throw new IllegalStateException("constraint commit lost the race 5 times")
  }

  /** DROP CONSTRAINT (metadata commit; no-op error if absent). */
  def dropConstraint(name: String): Unit = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val v = currentVersion
      val snap = if (v == 0) None else Some(snapshotAt(v))
      require(snap.exists(_.constraints.contains(name)),
        s"no such constraint '$name'")
      if (tryCommit(snap, snap.map(_.files).getOrElse(Seq.empty),
          snap.map(_.dv).getOrElse(Seq.empty), dataChange = false,
          constraintDrop = Some(name))) return
    }
    throw new IllegalStateException("constraint commit lost the race 5 times")
  }

  /** SCHEMA EVOLUTION as a LOG ACTION (Delta's metaData commit): widen the
    * schema additive-only — existing columns keep name and type, new ones
    * append. The schema travels IN the log, so `readVersion` serves every
    * version with the schema it had (pre-evolution versions come back
    * narrow — the composition a table-level schema field cannot express),
    * and post-evolution reads null-fill the old files (the mergeSchema
    * read, resolved from the log instead of a footer scan). Committed
    * `dataChange = false`: no rows changed, so change-feed consumers skip
    * it. No data file is touched or rewritten. No-op (no version cut) when
    * the schema is already `wider`. */
  def evolve(wider: StructType): Unit = {
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val v = currentVersion
      val snap = if (v == 0) None else Some(snapshotAt(v))
      val cur = snap.map(_.schema).getOrElse(schema)
      cur.fields.foreach { f =>
        val nf = wider.fields.find(_.name == f.name).getOrElse(
          throw new IllegalArgumentException(
            s"schema evolution is additive-only: existing column '${f.name}' missing " +
              "from the evolved schema (drops/renames need a rewrite)"))
        require(nf.dataType == f.dataType,
          s"schema evolution cannot change types: '${f.name}' ${f.dataType.simpleString} " +
            s"-> ${nf.dataType.simpleString} (type changes need a rewrite)")
      }
      if (cur.fields.map(f => (f.name, f.dataType)).toSeq ==
          wider.fields.map(f => (f.name, f.dataType)).toSeq)
        return // already there: no version cut
      wider.fields.foreach(nf => require(
        cur.fieldNames.contains(nf.name) || !nf.metadata.contains(LogTable.GenKey),
        s"generated column '${nf.name}' must be declared at table creation " +
          "(adding one later would leave pre-addition rows null, not generated — " +
          "Delta semantics)"))
      // existing fields keep their metadata (physical names survive the
      // evolve); added fields get FRESH physical names once the mapping is
      // active, so a re-added logical name can never read a dropped
      // column's bytes (Delta's columnMapping id discipline)
      val merged = StructType(wider.fields.map { nf =>
        cur.fields.find(_.name == nf.name).getOrElse(
          if (mappingActive(cur)) withPhysical(nf, s"${nf.name}#${v + 1}") else nf)
      })
      if (tryCommit(snap, snap.map(_.files).getOrElse(Seq.empty),
          snap.map(_.dv).getOrElse(Seq.empty), dataChange = false,
          newSchema = Some(merged))) return
    }
    throw new IllegalStateException(
      "schema-evolution commit lost the race 5 times — writer storm")
  }

  /** TYPE WIDENING as a METADATA COMMIT (Delta's `typeWidening` feature):
    * change a column's type along a LOSSLESS widening chain without
    * touching any data file — the parquet reader up-casts old files to the
    * live read schema at scan time (Spark 4's widening promotions), so
    * post-widen reads mix narrow and wide files transparently. The type
    * travels IN the versioned schema: pre-widen versions time-travel back
    * NARROW, stats stay valid — integer-chain stats parse exactly under
    * the wide type, and float-era stats under a double read are compared
    * against the union of both parse interpretations in [[readRange]]
    * (superset-safe without per-file era tracking) — and the physical
    * name is
    * unchanged so column mapping composes. `dataChange = false` — no rows
    * changed, change-feed consumers skip it.
    *
    * Allowed (the Delta set restricted to what the parquet reader
    * promotes losslessly): byte→short→int→long, float→double,
    * byte/short/int→double (long→double is LOSSY past 2^53 — rejected;
    * decimal rescale needs a rewrite — the reader cannot rescale
    * FIXED_LEN_BYTE_ARRAY at scan time). Rejected
    * for bucket keys (xxhash64(int) ≠ xxhash64(long) — placement would
    * silently break) and for columns a CHECK constraint or generation
    * expression references (the stored expr's result type could shift). */
  def widenColumn(name: String, to: org.apache.spark.sql.types.DataType): Unit = {
    import org.apache.spark.sql.types._
    def widens(from: DataType, t: DataType): Boolean = (from, t) match {
      case (a, b) if a == b => false
      case (ByteType, ShortType | IntegerType | LongType | DoubleType) => true
      case (ShortType, IntegerType | LongType | DoubleType) => true
      case (IntegerType, LongType | DoubleType) => true
      case (FloatType, DoubleType) => true
      // decimal(p,s)→decimal(p',s') is NOT here: parquet stores decimals as
      // FIXED_LEN_BYTE_ARRAY and the reader cannot rescale them at scan
      // time (verified: PARQUET_COLUMN_DATA_TYPE_MISMATCH) — that change
      // needs a rewrite
      case _ => false
    }
    require(!bucketBy.exists(_._1.contains(name)),
      s"cannot widen bucket key '$name' (the bucket hash is type-sensitive)")
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val v = currentVersion
      val snap = if (v == 0) None else Some(snapshotAt(v))
      val cur = snap.map(_.schema).getOrElse(schema)
      require(cur.fieldNames.contains(name), s"no such column '$name'")
      val f = cur(name)
      if (f.dataType == to) return // already there: no version cut
      require(widens(f.dataType, to),
        s"'$name' ${f.dataType.simpleString} -> ${to.simpleString} is not a " +
          "lossless widening (lossy/narrowing changes need a rewrite)")
      require(!f.metadata.contains(LogTable.GenKey),
        s"cannot widen generated column '$name' (its type is the declared " +
          "contract of the generation expression)")
      val refs = referencingConstraints(snap, name)
      require(refs.isEmpty,
        s"cannot widen '$name': referenced by ${refs.mkString(", ")}")
      val widened = StructType(cur.fields.map(g =>
        if (g.name == name) g.copy(dataType = to) else g))
      if (tryCommit(snap, snap.map(_.files).getOrElse(Seq.empty),
          snap.map(_.dv).getOrElse(Seq.empty), dataChange = false,
          newSchema = Some(widened))) return
    }
    throw new IllegalStateException(
      "type-widening commit lost the race 5 times — writer storm")
  }

  /** Constraint names whose stored SQL references column `c` (conservative
    * word-boundary match — renames/drops of referenced columns are rejected
    * rather than silently breaking the stored expr). */
  private def referencingConstraints(snap: Option[Snapshot], c: String): Seq[String] = {
    val word = ("\\b" + java.util.regex.Pattern.quote(c) + "\\b").r
    val fromChecks = snap.map(_.constraints).getOrElse(Map.empty).collect {
      case (n, e) if word.findFirstIn(e).isDefined => n
    }.toSeq
    // generation expressions reference columns by logical name too — a
    // rename/drop of a referenced column would silently break them
    val s = snap.map(_.schema).getOrElse(schema)
    val fromGenerated = s.fields.collect {
      case f if f.metadata.contains(LogTable.GenKey) && f.name != c &&
        word.findFirstIn(f.metadata.getString(LogTable.GenKey)).isDefined =>
        s"generated:${f.name}"
    }.toSeq
    fromChecks ++ fromGenerated
  }

  /** RENAME COLUMN as a METADATA COMMIT (Delta `columnMapping.mode = name`):
    * the field keeps its PHYSICAL parquet name — only the logical name in
    * the log's schema changes — so NO data file is touched, stats keep
    * pruning (they are keyed by physical name), and every pre-rename
    * version time-travels under the name it had (the mapping rides in the
    * versioned schema). First use activates the mapping: every field's
    * physical name is pinned explicitly. `dataChange = false` — the change
    * feed never sees it. Rejected for bucket keys (the constructor's
    * bucketBy contract is logical) and for columns an active CHECK
    * constraint references (the stored expr would dangle). */
  def renameColumn(oldName: String, newName: String): Unit = {
    require(oldName != newName, "rename to the same name is a no-op")
    require(!bucketBy.exists(_._1.contains(oldName)),
      s"cannot rename bucket key '$oldName' (bucketBy is a logical-name contract)")
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val v = currentVersion
      val snap = if (v == 0) None else Some(snapshotAt(v))
      val cur = snap.map(_.schema).getOrElse(schema)
      require(cur.fieldNames.contains(oldName), s"no such column '$oldName'")
      require(!cur.fieldNames.contains(newName), s"column '$newName' already exists")
      val refs = referencingConstraints(snap, oldName)
      require(refs.isEmpty, s"cannot rename '$oldName': CHECK constraint(s) " +
        s"${refs.mkString(", ")} reference it — drop them first")
      val renamed = StructType(activateMapping(cur).fields.map(f =>
        if (f.name == oldName) f.copy(name = newName) else f))
      if (tryCommit(snap, snap.map(_.files).getOrElse(Seq.empty),
          snap.map(_.dv).getOrElse(Seq.empty), dataChange = false,
          newSchema = Some(renamed))) return
    }
    throw new IllegalStateException("rename commit lost the race 5 times")
  }

  /** DROP COLUMN as a METADATA COMMIT (Delta column-mapping drop): the
    * field leaves the logical schema; its physical column stays in the old
    * files, unreferenced and invisible to every read path — no rewrite.
    * The physical name is RETIRED: a later [[evolve]] re-adding the same
    * logical name allocates a fresh physical, so the dropped bytes never
    * resurrect (spec-pinned). Pre-drop versions still serve the column
    * (schema-in-the-log). Same rejections as rename. */
  def dropColumn(name: String): Unit = {
    require(!bucketBy.exists(_._1.contains(name)), s"cannot drop bucket key '$name'")
    var attempts = 0
    while (attempts < 5) {
      attempts += 1
      val v = currentVersion
      val snap = if (v == 0) None else Some(snapshotAt(v))
      val cur = snap.map(_.schema).getOrElse(schema)
      require(cur.fieldNames.contains(name), s"no such column '$name'")
      require(cur.fields.length > 1, "cannot drop the only column")
      val refs = referencingConstraints(snap, name)
      require(refs.isEmpty, s"cannot drop '$name': CHECK constraint(s) " +
        s"${refs.mkString(", ")} reference it — drop them first")
      val dropped = StructType(activateMapping(cur).fields.filterNot(_.name == name))
      if (tryCommit(snap, snap.map(_.files).getOrElse(Seq.empty),
          snap.map(_.dv).getOrElse(Seq.empty), dataChange = false,
          newSchema = Some(dropped))) return
    }
    throw new IllegalStateException("drop-column commit lost the race 5 times")
  }

  /** Roll FORWARD to the content of version `v` (history preserved).
    * Content only — the LIVE schema stays (a restore is not a schema
    * downgrade; the rewrite re-serves old rows null-filled if the schema
    * widened since `v`). */
  def restore(v: Long): Unit = {
    val s = snapshotAt(v)
    overwrite(scan(s.files, s.dv, currentSchema))
  }

  /** SHALLOW CLONE (Delta `CREATE TABLE … SHALLOW CLONE`): a NEW log table
    * whose first commit references this table's live content — data and DV
    * files are HARDLINKED (zero bytes copied, O(#files) metadata), so the
    * clone is immediately readable, diverges copy-on-write (its commits
    * write fresh uuid files), and — unlike Delta's path-sharing shallow
    * clone, which breaks when the source VACUUMs — survives a source
    * vacuum: the links keep the inodes alive (spec-pinned). The live
    * schema (with its column-mapping metadata) and active CHECK
    * constraints carry over as metadata commits; per-writer txn watermarks
    * deliberately do NOT (a clone is a new sink — Delta resets them too).
    * The clone starts a fresh history: version 1 is the clone point
    * (Delta clones don't inherit source history either). */
  def cloneTo(dest: String): LogTable = {
    val v = currentVersion
    require(v > 0, "cannot clone an empty table (no commits)")
    val s = snapshotAt(v)
    val c = new LogTable(spark, dest, s.schema, bucketBy, statsBy,
      checkpointInterval, clock, trackingEnabled)
    (s.files.map(_.name) ++ s.dv).foreach { n =>
      val target = c.filesDir.resolve(n)
      if (!Files.exists(target)) Files.createLink(target, filesDir.resolve(n))
    }
    // row tracking carries over: bases ride the entries verbatim (rows is
    // dropped so the clone's first commit re-allocates nothing) and the
    // clone's high-water mark is seeded from the source, so post-clone
    // appends on either side never reuse a shared id
    val entries = s.files.map(f =>
      c.FileEntry(f.name, f.bucket, f.stats, -1L, f.baseRowId, f.clustered))
    require(c.tryCommit(None, entries, s.dv, dataChange = true,
      newSchema = Some(s.schema), rowIdHwmFloor = s.rowIdHwm),
      "clone target is not empty")
    s.constraints.foreach { case (n, e) => c.addConstraint(n, e) }
    c
  }

  /** Retention GC: keep the newest `retainLast` versions; cut a checkpoint
    * AT the oldest retained version first (so it stays reconstructible
    * without the dropped prefix), then drop older manifests + checkpoints
    * and every file no retained version references — including orphans
    * from crashed writes (staged files whose commit never landed). Reads
    * of vacuumed versions fail loudly. */
  /** `DESCRIBE HISTORY` rows, version-ascending: (version, in-commit
    * timestamp ms, operation, dataChange, files added, files removed).
    * The operation is INFERRED from the commit's action shape (the log
    * records actions, not statement names — Delta stores the latter as
    * commitInfo, which is advisory there too): a `dataChange = false`
    * rewrite is OPTIMIZE; a DV-only commit is DELETE; metadata-only
    * commits name their metadata kind; add+remove is REPLACE (overwrite /
    * merge / replaceWhere); add-only is WRITE. */
  def describeHistory(): Seq[(Long, Long, String, Boolean, Int, Int)] =
    history().map { v =>
      val d = readDelta(v)
      val op =
        // metadata-only FIRST: every metadata commit (addConstraint,
        // evolve, setDefault, addFeature) also carries dataChange=false,
        // so testing !dataChange before this branch made them all read
        // OPTIMIZE (ADVICE r12). OPTIMIZE = files rewritten, content
        // unchanged — it requires an actual rewrite in the commit.
        if (d.add.isEmpty && d.remove.isEmpty && d.dvAdd.isEmpty &&
            d.dvRemove.isEmpty) {
          if (d.constraintAdd.isDefined) "ADD CONSTRAINT"
          else if (d.constraintDrop.isDefined) "DROP CONSTRAINT"
          else if (d.featureAdd.isDefined) "SET TBLPROPERTIES"
          else if (d.schemaJson.isDefined) "SET SCHEMA"
          else "COMMIT"
        }
        else if (!d.dataChange) "OPTIMIZE"
        else if (d.add.isEmpty && d.remove.isEmpty && d.dvAdd.nonEmpty) "DELETE"
        else if (d.remove.nonEmpty) "REPLACE"
        else "WRITE"
      (v, d.tsMs, op, d.dataChange, d.add.size, d.remove.size)
    }

  /** Drop all but the newest `retainLast` versions, then every file no
    * retained version references and every `.write-*` leftover. The live
    * version always survives: `vacuum(0)` (Delta's `RETAIN 0`) empties the
    * history exactly as `vacuum(1)` does. Returns the dropped versions. */
  def vacuum(retainLast: Int = 1): Seq[Long] = {
    require(retainLast >= 0, s"retainLast must be >= 0, got $retainLast")
    val hs = history()
    if (hs.isEmpty) return Seq.empty
    val (drop, keep) = hs.splitAt(math.max(0, hs.size - math.max(1, retainLast)))
    if (drop.nonEmpty) writeCheckpoint(snapshotAt(keep.head))
    val referenced: Set[String] = keep.flatMap { v =>
      val m = snapshotAt(v)
      m.files.map(_.name) ++ m.dv
    }.toSet
    drop.foreach(v => Files.deleteIfExists(manifestPath(v)))
    checkpointVersions().filter(_ < keep.head)
      .foreach(v => Files.deleteIfExists(checkpointPath(v)))
    LogTable.listDir(filesDir)
      .filterNot(p => referenced.contains(p.getFileName.toString))
      .foreach(Files.deleteIfExists(_))
    // crashed-write leftovers (temp dirs that never committed)
    LogTable.listDir(rootPath)
      .filter(_.getFileName.toString.startsWith(".write-"))
      .foreach(deleteRec)
    drop
  }
}
