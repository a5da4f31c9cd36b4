package graft.merge

import java.nio.file.Files
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** The commit-log table ([[LogTable]]) — every composition a directory-swap
  * table would have to reject must just work here: bucketed × time travel,
  * bucketed × OCC, bucketed × file stats, DV-aware history, plus the
  * no-vanished-snapshot property immutable files buy. */
class LogTableSpec extends SparkSpec {
  import spark.implicits._

  private val s2 = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(Long, String)] =
    df.orderBy("k").as[(Long, String)].collect().toSeq

  test("bucketed merge composes with time travel: partition-scoped rewrite, " +
      "untouched files shared across versions, every version readable") {
    val t = new LogTable(spark, tmp("log-tt-"), s2, bucketBy = Some((Seq("k"), 4)))
    t.overwrite((1L to 40L).map(i => (i, s"v$i")).toDF("k", "v"))        // v1
    val v1Files = t.liveFileNames()
    val batch = Seq((1L, "UPD"), (41L, "NEW")).toDF("k", "v")
    t.merge(batch)((cur, b) => Merge.scd1(cur, b, Seq("k")))             // v2
    val v2Files = t.liveFileNames()
    // untouched buckets keep their FILES (shared, not copied)
    val shared = v1Files.toSet.intersect(v2Files.toSet)
    assert(shared.nonEmpty, "no file sharing across versions — merge rewrote everything")
    assert(v1Files.toSet != v2Files.toSet, "merge replaced no file")
    // both versions readable, exact content
    assert(rows(t.readVersion(1)) == (1L to 40L).map(i => (i, s"v$i")))
    assert(rows(t.readVersion(2)) ==
      ((2L to 40L).map(i => (i, s"v$i")) ++ Seq((1L, "UPD"), (41L, "NEW"))).sortBy(_._1))
    assert(rows(t.read()) == rows(t.readVersion(2)))
    assert(t.history() == Seq(1L, 2L))
  }

  test("DV delete is a NAMED version: AS OF pre-delete resurrects, the " +
      "delete's own version stays deleted, data files untouched") {
    val t = new LogTable(spark, tmp("log-dv-"), s2)
    t.overwrite((1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))        // v1
    val v1Files = t.liveFileNames()
    assert(t.deleteWhere(col("k") % 2 === 0) == 5L)                      // v2
    assert(t.liveFileNames() == v1Files, "DV delete touched data files")
    assert(t.history() == Seq(1L, 2L))
    assert(rows(t.readVersion(1)).map(_._1) == (1L to 10L))
    assert(rows(t.readVersion(2)).map(_._1) == Seq(1L, 3L, 5L, 7L, 9L))
    assert(rows(t.read()).map(_._1) == Seq(1L, 3L, 5L, 7L, 9L))
    // deletes compose; a second wave is version 3 with both sidecars
    assert(t.deleteWhere(col("k") === 3L) == 1L)                         // v3
    assert(rows(t.readVersion(2)).map(_._1) == Seq(1L, 3L, 5L, 7L, 9L))
    assert(rows(t.read()).map(_._1) == Seq(1L, 5L, 7L, 9L))
    // a no-match delete cuts NO version
    assert(t.deleteWhere(col("k") === 999L) == 0L)
    assert(t.history() == Seq(1L, 2L, 3L))
    // restore rolls forward to pre-delete content
    t.restore(1)                                                         // v4
    assert(rows(t.read()).map(_._1) == (1L to 10L))
  }

  test("OCC on a BUCKETED table: manifest CAS serializes, loser rebases") {
    val t = new LogTable(spark, tmp("log-occ-"), s2, bucketBy = Some((Seq("k"), 4)))
    t.overwrite(Seq((1L, "seed"), (2L, "seed")).toDF("k", "v"))          // v1
    val aDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    val attempts = t.occMerge(Seq((2L, "B"), (3L, "B")).toDF("k", "v"), 5) {
      (cur, b) =>
        if (aDone.compareAndSet(false, true))
          assert(t.occMerge(Seq((1L, "A")).toDF("k", "v"))(
            (c2, b2) => Merge.scd1(c2, b2, Seq("k"))) == 1)
        Merge.scd1(cur, b, Seq("k"))
    }
    assert(attempts > 1, "forced interleaving never exercised the rebase")
    assert(rows(t.read()) == Seq((1L, "A"), (2L, "B"), (3L, "B")))
    assert(t.history().size == 3) // seed + A + B (B's lost attempt cut nothing)
  }

  test("no vanished snapshots: a reader pinned to an old version survives " +
      "later commits (immutable files)") {
    val t = new LogTable(spark, tmp("log-pin-"), s2)
    t.overwrite((1L to 5L).map(i => (i, "old")).toDF("k", "v"))          // v1
    val pinned = t.readVersion(1) // lazy plan over v1's files
    t.overwrite((1L to 5L).map(i => (i, "new")).toDF("k", "v"))          // v2
    t.overwrite((1L to 5L).map(i => (i, "newer")).toDF("k", "v"))        // v3
    // the rename design would have retired+deleted v1's files by now;
    // here the pinned plan still reads them
    assert(rows(pinned) == (1L to 5L).map(i => (i, "old")))
  }

  test("file stats prune a BUCKETED table's scan; answer identical") {
    val t = new LogTable(spark, tmp("log-stats-"), s2.add("d", LongType)
      .asInstanceOf[StructType], bucketBy = None, statsBy = Seq("d"))
    // write clustered files: 4 appends with disjoint d-ranges → 4 files
    (0 until 4).foreach { g =>
      t.append((1L to 25L).map(i =>
        (g * 100L + i, s"g$g", g * 1000L + i)).toDF("k", "v", "d"))
    }
    val all = t.read()
    val hit = t.readRange("d", lit(1000L), lit(1999L))
    assert(rows2(hit) == rows2(all.filter(col("d") >= 1000L && col("d") <= 1999L)))
    // pruning actually skipped files: the range read touches fewer files
    assert(hit.inputFiles.length < all.inputFiles.length,
      s"no files pruned: ${hit.inputFiles.length} vs ${all.inputFiles.length}")
  }

  private def rows2(df: org.apache.spark.sql.DataFrame): Seq[(Long, String, Long)] =
    df.orderBy("k").as[(Long, String, Long)].collect().toSeq

  test("delta log + checkpoints: every version reconstructs through the " +
      "newest checkpoint <= v; hint is advisory (listing fallback)") {
    val root = tmp("log-cp-")
    val t = new LogTable(spark, root, s2, checkpointInterval = 3)
    (1 to 7).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(t.checkpointVersions() == Seq(3L, 6L),
      s"interval-3 checkpoints expected at 3,6: ${t.checkpointVersions()}")
    // every version folds correctly (checkpoint-exact, checkpoint+replay,
    // and the pre-checkpoint pure-delta prefix)
    (1 to 7).foreach { v =>
      assert(rows(t.readVersion(v.toLong)) ==
        (1L to v.toLong).map(i => (i, s"v$i")), s"version $v wrong")
    }
    // the hint is advisory: delete it, reads still work via listing
    Files.delete(java.nio.file.Paths.get(root, "_log", "_last_checkpoint"))
    assert(rows(t.read()) == (1L to 7L).map(i => (i, s"v$i")))
    // checkpoints are DERIVED: lose the newest one (crash between CAS and
    // checkpoint write) and every read folds through the older one
    Files.delete(java.nio.file.Paths.get(root, "_log",
      f"${6L}%020d.checkpoint.json"))
    assert(t.checkpointVersions() == Seq(3L))
    assert(rows(t.read()) == (1L to 7L).map(i => (i, s"v$i")))
    assert(rows(t.readVersion(5)) == (1L to 5L).map(i => (i, s"v$i")))
    // a commit's log entry is a DELTA: version 7's manifest names only the
    // files it added, not all 7 (O(change), not O(table))
    val m7 = new String(Files.readAllBytes(
      java.nio.file.Paths.get(root, "_log", f"${7L}%020d.json")))
    assert(t.liveFileNames().count(m7.contains) < t.liveFileNames().size,
      "delta manifest lists every live file — that's a full manifest, not a delta")
  }

  test("compact: coalesces small files and MATERIALIZES deletion vectors " +
      "(dataChange=false), content and history both preserved") {
    val t = new LogTable(spark, tmp("log-opt-"), s2)
    (1 to 5).foreach(i => t.append(Seq((i.toLong, s"v$i")).toDF("k", "v")))  // v1..v5
    assert(t.deleteWhere(col("k") === 2L) == 1L)                             // v6 (DV)
    val before = rows(t.read())
    val filesBefore = t.liveFileNames().size
    val removed = t.compact()                                                // v7
    assert(removed == filesBefore, "compact must replace every data file")
    assert(t.liveFileNames().size == 1, "unbucketed compact → one file")
    assert(rows(t.read()) == before, "compact changed the content")
    assert(t.history() == (1L to 7L), "compact must be a NAMED version")
    // DVs are materialized: the compacted version carries no sidecar, and a
    // fresh delete after compaction starts a new DV generation cleanly
    assert(rows(t.readVersion(6)) == before, "pre-compact version drifted")
    assert(t.compact() == 0, "second compact must be a no-op (no version cut)")
    assert(t.history() == (1L to 7L))
  }

  test("clustered compact: key-random appends leave manifest stats useless; " +
      "compact(clusterBy) re-layouts so readRange prunes files; content intact") {
    val t = new LogTable(spark, tmp("log-clu-"), s2.add("d", LongType)
      .asInstanceOf[StructType], statsBy = Seq("d"))
    // 4 appends, ONE file each, every file spanning the FULL d-range
    // (coalesce(1) — a local ordered Seq would otherwise split into
    // range-contiguous slices and be accidentally pre-clustered)
    (0 until 4).foreach { g =>
      t.append((0L until 100L).filter(_ % 4 == g)
        .map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "d").coalesce(1))
    }
    val all = t.read()
    val before = t.readRange("d", lit(0L), lit(199L))
    assert(before.inputFiles.length == all.inputFiles.length,
      "interleaved appends should not be prunable — fixture broken")
    val expect = rows2(all.filter(col("d") <= 199L))
    // tiny target → several output files, range-clustered on d
    assert(t.compact(targetFileBytes = 2048L, clusterBy = Seq("d")) >= 4)
    assert(rows2(t.read()) == rows2(all), "clustered compact changed content")
    val after = t.readRange("d", lit(0L), lit(199L))
    assert(rows2(after) == expect)
    assert(after.inputFiles.length < t.liveFileNames().size,
      s"clustering did not make stats selective: ${after.inputFiles.length} of " +
        s"${t.liveFileNames().size} files read")
  }

  test("changesSince: append-only feed, compaction transparently skipped, " +
      "update commits throw unless ignoreChanges (at-least-once re-emit)") {
    val t = new LogTable(spark, tmp("log-cdc-"), s2)
    t.append(Seq((1L, "a"), (2L, "a")).toDF("k", "v"))                       // v1
    val (c1, f1) = t.changesSince(0L)
    assert(c1 == 1L && rows(f1) == Seq((1L, "a"), (2L, "a")))
    t.append(Seq((3L, "b")).toDF("k", "v"))                                  // v2
    assert(t.compact() > 0)                                                  // v3 (no data change)
    val (c2, f2) = t.changesSince(c1)
    assert(c2 == 3L, "cursor must advance past the compaction commit")
    assert(rows(f2) == Seq((3L, "b")), "compaction rewrite leaked into the feed")
    // no new commits → empty feed, cursor unchanged
    val (c3, f3) = t.changesSince(c2)
    assert(c3 == c2 && f3.isEmpty)
    // an UPDATE commit (merge rewrites files) poisons the span...
    t.merge(Seq((1L, "UPD")).toDF("k", "v"))((cur, b) => Merge.scd1(cur, b, Seq("k")))
    intercept[IllegalArgumentException](t.changesSince(c2))
    // ...unless ignoreChanges: the rewrite re-emits IN FULL (at-least-once);
    // an idempotent keyed consumer converges to the table state
    val (c4, f4) = t.changesSince(c2, ignoreChanges = true)
    assert(c4 == 4L)
    assert(rows(f4) == Seq((1L, "UPD"), (2L, "a"), (3L, "b")))
    // ...and a DV delete is likewise update-class
    assert(t.deleteWhere(col("k") === 3L) == 1L)
    intercept[IllegalArgumentException](t.changesSince(c4))
    // vacuumed span fails loudly (restart-from-snapshot contract)
    t.vacuum(retainLast = 1)
    intercept[IllegalArgumentException](t.changesSince(c2, ignoreChanges = true))
  }

  test("schema lives in the log: evolve is a metaData commit (no files " +
      "touched), time travel serves each version with ITS schema, old " +
      "files null-fill, the change feed skips the evolve commit") {
    val t = new LogTable(spark, tmp("log-evo-"), s2, checkpointInterval = 2)
    t.append(Seq((1L, "a")).toDF("k", "v"))                              // v1
    val files1 = t.liveFileNames()
    val wider = s2.add("d", LongType)
    t.evolve(wider)                                                      // v2: metaData only
    assert(t.liveFileNames() == files1, "evolve touched data files")
    assert(t.currentSchema == wider)
    // time travel: v1 comes back NARROW, live comes back wide + null-filled
    assert(t.readVersion(1).schema.fieldNames.toSeq == Seq("k", "v"))
    assert(t.read().schema.fieldNames.toSeq == Seq("k", "v", "d"))
    assert(t.read().select("k", "d").as[(Long, Option[Long])].collect().toSeq ==
      Seq((1L, None)))
    t.append(Seq((2L, "b", 20L)).toDF("k", "v", "d"))                    // v3
    assert(t.read().orderBy("k").as[(Long, String, Option[Long])].collect().toSeq ==
      Seq((1L, "a", None), (2L, "b", Some(20L))))
    // idempotent + additive-only
    t.evolve(wider)
    assert(t.history() == Seq(1L, 2L, 3L), "re-evolve must cut no version")
    intercept[IllegalArgumentException](t.evolve(
      StructType(Seq(StructField("k", LongType))))) // drop
    intercept[IllegalArgumentException](t.evolve(
      StructType(Seq(StructField("k", StringType), StructField("v", StringType))))) // type change
    // feed: the evolve commit is invisible; adds serve in the END schema
    val (cur, feed) = t.changesSince(1L)
    assert(cur == 3L)
    assert(feed.schema.fieldNames.toSeq == Seq("k", "v", "d"))
    assert(feed.as[(Long, String, Option[Long])].collect().toSeq ==
      Seq((2L, "b", Some(20L))))
    // checkpoint at v2 carries the evolved schema; vacuum keeps it readable
    assert(t.checkpointVersions().contains(2L))
    t.vacuum(retainLast = 2)
    assert(t.readVersion(2).schema.fieldNames.toSeq == Seq("k", "v", "d"))
    assert(rows(t.readVersion(2).select("k", "v")) == Seq((1L, "a")))
  }

  test("CHECK constraints live in the log: add validates existing data, " +
      "every write verb enforces in-pass, failed writes commit nothing, " +
      "drop restores, metadata commits are invisible to the feed") {
    val t = new LogTable(spark, tmp("log-chk-"), s2)
    t.append(Seq((1L, "a")).toDF("k", "v"))                              // v1
    t.addConstraint("k_positive", "k > 0")                               // v2 (meta)
    assert(t.constraints == Map("k_positive" -> "k > 0"))
    t.append(Seq((2L, "b")).toDF("k", "v"))                              // v3
    def violates(body: => Unit): Unit = {
      val ex = intercept[Throwable](body)
      def mentions(e: Throwable): Boolean = e != null &&
        (Option(e.getMessage).exists(_.contains("CHECK constraint 'k_positive'")) ||
          mentions(e.getCause))
      assert(mentions(ex), s"wrong failure: $ex")
    }
    violates(t.append(Seq((-5L, "bad")).toDF("k", "v")))
    violates(t.overwrite(Seq((-1L, "bad")).toDF("k", "v")))
    violates(t.merge(Seq((0L, "zero")).toDF("k", "v"))(
      (cur, b) => Merge.scd1(cur, b, Seq("k"))))
    violates(t.appendOnce(Seq((-2L, "bad")).toDF("k", "v"), "chk", 0L))
    // NULL conditions are violations, not passes
    t.append(Seq((3L, null.asInstanceOf[String])).toDF("k", "v"))        // v4 (k fine)
    intercept[IllegalArgumentException](
      t.addConstraint("v_short", "length(v) < 2")) // existing NULL row violates
    assert(rows(t.read()).map(_._1) == Seq(1L, 2L, 3L),
      "a failed write committed something")
    assert(t.history() == Seq(1L, 2L, 3L, 4L), "a failed write cut a version")
    t.dropConstraint("k_positive")                                       // v5 (meta)
    t.append(Seq((-5L, "ok-now")).toDF("k", "v"))                        // v6
    assert(rows(t.read()).map(_._1) == Seq(-5L, 1L, 2L, 3L))
    // the feed sees only the data commits, never the metadata ones
    val (_, feed) = t.changesSince(4L) // span: v5 meta + v6 append
    assert(rows(feed) == Seq((-5L, "ok-now")))
  }

  test("txn actions: appendOnce is exactly-once per (appId, batchId) — " +
      "duplicates and stale batchIds no-op, watermarks are per-app and " +
      "survive checkpoints + vacuum") {
    val t = new LogTable(spark, tmp("log-txn-"), s2, checkpointInterval = 2)
    assert(t.lastTxn("sink") == -1L)
    assert(t.appendOnce(Seq((1L, "a")).toDF("k", "v"), "sink", 0L))     // v1
    assert(t.appendOnce(Seq((2L, "b")).toDF("k", "v"), "sink", 1L))     // v2 (+checkpoint)
    // re-delivery of batch 1 and a stale batch 0: both no-ops, no version
    assert(!t.appendOnce(Seq((99L, "dup")).toDF("k", "v"), "sink", 1L))
    assert(!t.appendOnce(Seq((98L, "old")).toDF("k", "v"), "sink", 0L))
    assert(t.history() == Seq(1L, 2L))
    assert(t.lastTxn("sink") == 1L)
    // a DIFFERENT app has its own watermark
    assert(t.appendOnce(Seq((3L, "c")).toDF("k", "v"), "other", 0L))    // v3
    assert(t.lastTxn("other") == 0L && t.lastTxn("sink") == 1L)
    assert(rows(t.read()) == Seq((1L, "a"), (2L, "b"), (3L, "c")))
    // watermarks ride the checkpoint: vacuum away the delta prefix, the
    // fold through checkpoint(2) + delta(3) still knows both apps
    t.vacuum(retainLast = 1)
    assert(t.lastTxn("sink") == 1L && t.lastTxn("other") == 0L)
    assert(!t.appendOnce(Seq((97L, "dup")).toDF("k", "v"), "sink", 1L))
  }

  test("appendOnce of an empty batch cuts no version, leaves no file and " +
      "keeps the watermark, so a later batchId still commits") {
    val root = tmp("log-txn-empty-")
    val t = new LogTable(spark, root, s2)
    def dataFiles() = {
      val dir = java.nio.file.Paths.get(root, "files")
      if (!Files.exists(dir)) Seq.empty
      else Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq.sorted
    }
    // three write partitions, none with a row
    val empty = Seq((1L, "a"), (2L, "b")).toDF("k", "v").repartition(3).filter($"k" < 0)
    assert(!t.appendOnce(empty, "sink", 0L))
    assert(t.history().isEmpty && t.lastTxn("sink") == -1L)
    assert(dataFiles().isEmpty, s"0-row files left behind: ${dataFiles()}")
    assert(t.appendOnce(Seq((1L, "a")).toDF("k", "v").repartition(3), "sink", 1L)) // v1
    assert(t.history() == Seq(1L) && t.lastTxn("sink") == 1L)
    assert(rows(t.read()) == Seq((1L, "a")))
    assert(dataFiles() == t.liveFileNames(), "only the one non-empty file is kept")
  }

  test("vacuum drops old versions' manifests and unreferenced files; " +
      "retained versions intact; crashed-write leftovers collected") {
    val root = tmp("log-vac-")
    val t = new LogTable(spark, root, s2)
    (1 to 4).foreach(i => t.overwrite(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    // fake a crashed write (staged dir without a commit)
    val ghost = java.nio.file.Paths.get(root, ".write-ghost")
    Files.createDirectories(ghost)
    Files.write(ghost.resolve("junk"), "x".getBytes)
    val dropped = t.vacuum(retainLast = 2)
    assert(dropped == Seq(1L, 2L))
    assert(t.history() == Seq(3L, 4L))
    assert(rows(t.readVersion(3)) == Seq((3L, "v3")))
    assert(rows(t.read()) == Seq((4L, "v4")))
    intercept[IllegalArgumentException](t.readVersion(1))
    assert(!Files.exists(ghost), "crashed-write leftover survived vacuum")
    // only retained versions' files remain on disk
    val onDisk = Files.list(java.nio.file.Paths.get(root, "files"))
      .iterator().asScala.map(_.getFileName.toString).toSet
    val referenced = Seq(3L, 4L).flatMap(v => t.readVersion(v).inputFiles.toSeq)
      .map(f => f.substring(f.lastIndexOf('/') + 1)).toSet
    assert(onDisk == referenced, s"orphan files survive vacuum: ${onDisk -- referenced}")
  }

  test("in-commit timestamps: strictly monotone under a stepped-back clock; " +
      "TIMESTAMP AS OF resolves to the newest version at-or-before") {
    var now = 1000L
    val t = new LogTable(spark, tmp("log-ts-"), s2, clock = () => now)
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))                           // v1 @1000
    now = 900L // wall clock steps BACK (ntp, vm migration)
    t.append(Seq((2L, "b")).toDF("k", "v"))                              // v2 @1001 (clamped)
    now = 5000L
    t.append(Seq((3L, "c")).toDF("k", "v"))                              // v3 @5000
    assert(t.commitTimestamp(1) == 1000L)
    assert(t.commitTimestamp(2) == 1001L, "stepped-back clock must clamp to prev+1")
    assert(t.commitTimestamp(3) == 5000L)
    // AS OF: newest version with ts <= probe
    assert(t.versionAtTimestamp(1000L) == 1L)
    assert(t.versionAtTimestamp(1001L) == 2L)
    assert(t.versionAtTimestamp(4999L) == 2L)
    assert(t.versionAtTimestamp(Long.MaxValue) == 3L)
    assert(rows(t.readTimestamp(4999L)) == Seq((1L, "a"), (2L, "b")))
    // probes before the first commit fail loudly
    intercept[IllegalArgumentException](t.versionAtTimestamp(999L))
    // vacuum moves the floor: a probe into the dropped prefix fails
    t.vacuum(retainLast = 2)
    intercept[IllegalArgumentException](t.versionAtTimestamp(1000L))
    assert(t.versionAtTimestamp(1001L) == 2L)
  }

  test("describeHistory names metadata-only commits by their kind — not " +
      "OPTIMIZE (which requires an actual file rewrite)") {
    val t = new LogTable(spark, tmp("log-hist-"), s2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))                   // v1 WRITE
    t.addConstraint("k_pos", "k > 0")                                    // v2
    t.setDefault("v", Some("'x'"))                                       // v3 (schema commit)
    t.evolve(StructType(s2.fields :+ StructField("w", LongType)))        // v4
    t.addFeature("deletionVectors")                                      // v5
    t.dropConstraint("k_pos")                                            // v6
    t.compact()                                                          // v7: the real OPTIMIZE
    val ops = t.describeHistory().map(h => h._1 -> h._3).toMap
    assert(ops(1L) == "WRITE")
    assert(ops(2L) == "ADD CONSTRAINT",
      s"metadata commit misclassified: ${t.describeHistory()}")
    assert(ops(3L) == "SET SCHEMA") // defaults travel in the schema
    assert(ops(4L) == "SET SCHEMA")
    assert(ops(5L) == "SET TBLPROPERTIES")
    assert(ops(6L) == "DROP CONSTRAINT")
    assert(ops(7L) == "OPTIMIZE")
    // OPTIMIZE appears exactly once: only the commit that rewrote files
    assert(t.describeHistory().count(_._3 == "OPTIMIZE") == 1)
  }

  test("a bucketed merge of an empty batch cuts no version and rewrites no file") {
    val t = new LogTable(spark, tmp("log-empty-"), s2, bucketBy = Some((Seq("k"), 4)))
    t.overwrite((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"))
    val (v, files) = (t.currentVersion, t.liveFileNames())
    val empty = Seq.empty[(Long, String)].toDF("k", "v")
    t.merge(empty)((cur, b) => Merge.scd1(cur, b, Seq("k")))
    assert(t.occMerge(empty)((cur, b) => Merge.insertOnly(cur, b, Seq("k"))) == 1)
    assert(t.currentVersion == v && t.liveFileNames() == files)
    assert(t.read().count() == 20L)
  }

  test("after deleteWhere, read() and readVersion build without a Spark job") {
    val t = new LogTable(spark, tmp("log-dv-plan-"), s2)
    t.overwrite((1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"))
    assert(t.deleteWhere(col("k") % 5 === 0) == 10L)
    // the DV sidecars are read with their fixed schema: no inference job
    val ((live, old), jobs) = org.apache.spark.JobCounter.jobsIn(spark.sparkContext) {
      (t.read(), t.readVersion(2))
    }
    assert(jobs == 0)
    assert(rows(live).map(_._1) == (1L to 50L).filter(_ % 5 != 0))
    assert(rows(old) == rows(live))
  }

  private def filesOnDisk(root: String): Set[String] =
    LogTable.listDir(java.nio.file.Paths.get(root, "files"))
      .map(_.getFileName.toString).toSet

  test("insertMissing: an all-duplicate batch cuts no version and writes no file") {
    for (bucketBy <- Seq(None, Some((Seq("k"), 4)))) {
      val root = tmp("log-m1-dup-")
      val t = new LogTable(spark, root, s2, bucketBy = bucketBy)
      t.overwrite((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"))
      val (v, onDisk) = (t.currentVersion, filesOnDisk(root))
      val dup = (1L to 20L by 3).map(i => (i, "again")).toDF("k", "v")
      assert(t.insertMissing(dup, Seq("k")) == 0L)
      assert(t.insertMissing(Seq.empty[(Long, String)].toDF("k", "v"), Seq("k")) == 0L)
      assert(t.currentVersion == v, s"bucketBy=$bucketBy")
      assert(filesOnDisk(root) == onDisk, s"bucketBy=$bucketBy")
      // a batch with one new key appends one file and rewrites none
      assert(t.insertMissing(Seq((5L, "again"), (21L, "new")).toDF("k", "v"), Seq("k")) == 1L)
      assert(filesOnDisk(root) -- onDisk == t.liveFileNames().toSet -- onDisk)
      assert((filesOnDisk(root) -- onDisk).size == 1 && onDisk.subsetOf(t.liveFileNames().toSet))
      assert(rows(t.read()) == (1L to 20L).map(i => (i, s"v$i")) :+ ((21L, "new")))
    }
  }

  test("insertMissing under a forced interleaving: a key committed between " +
      "derive and CAS is seen by the retry, and no key is duplicated") {
    val root = tmp("log-m1-race-")
    val bucketBy = Some((Seq("k"), 4))
    val other = new LogTable(spark, root, s2, bucketBy = bucketBy)
    other.overwrite(Seq((1L, "base")).toDF("k", "v"))                      // v1
    // the in-commit clock runs inside the CAS attempt, after the anti-join
    // was derived: on the first call the other writer commits key 3 first
    val fired = new java.util.concurrent.atomic.AtomicBoolean(false)
    val t = new LogTable(spark, root, s2, bucketBy = bucketBy, clock = () => {
      if (fired.compareAndSet(false, true))
        other.append(Seq((3L, "other")).toDF("k", "v"))                    // v2
      System.currentTimeMillis()
    })
    val added = t.insertMissing(Seq((2L, "mine"), (3L, "mine")).toDF("k", "v"), Seq("k"))
    assert(fired.get())
    assert(added == 1L, "the retry must re-derive against the other writer's key")
    assert(t.history() == Seq(1L, 2L, 3L))
    assert(rows(t.read()) == Seq((1L, "base"), (2L, "mine"), (3L, "other")))
    // the losing attempt's files were dropped
    assert(filesOnDisk(root) == t.liveFileNames().toSet)
  }

  test("an insertMissing commit is a pure add: changesBetween reads it " +
      "without ignoreChanges") {
    val t = new LogTable(spark, tmp("log-m1-feed-"), s2, bucketBy = Some((Seq("k"), 4)))
    t.overwrite((1L to 10L).map(i => (i, "base")).toDF("k", "v"))         // v1
    t.insertMissing((8L to 14L).map(i => (i, "b2")).toDF("k", "v"), Seq("k"))  // v2
    t.insertMissing((12L to 16L).map(i => (i, "b3")).toDF("k", "v"), Seq("k")) // v3
    assert(rows(t.changesBetween(1L, 3L)) ==
      (11L to 14L).map(i => (i, "b2")) ++ (15L to 16L).map(i => (i, "b3")))
  }

  test("a bucketed occMerge leaves no persisted RDD and no cached plan: on " +
      "success, an empty batch, a CHECK failure and a lost-CAS retry") {
    spark.catalog.clearCache()
    val cacheManager =
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession].sharedState.cacheManager
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    def clean(what: String): Unit = {
      assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore, what)
      assert(cacheManager.isEmpty, what)
    }
    val t = new LogTable(spark, tmp("log-persist-"), s2, bucketBy = Some((Seq("k"), 4)))
    t.overwrite((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"))
    // a non-local batch: the merge persists it for the probe and the rewrite
    def batch(from: Long, to: Long) =
      spark.range(from, to).select(col("id").as("k"), lit("B").as("v"))
    var persistedInside = false
    val scd1 = (cur: org.apache.spark.sql.DataFrame, b: org.apache.spark.sql.DataFrame) => {
      persistedInside = b.storageLevel != org.apache.spark.storage.StorageLevel.NONE
      Merge.scd1(cur, b, Seq("k"))
    }
    assert(t.occMerge(batch(15, 25))(scd1) == 1)
    assert(persistedInside, "the non-local batch was not persisted during the merge")
    clean("success")
    assert(rows(t.read()).map(_._1) == (1L to 24L))
    val v = t.currentVersion
    t.merge(batch(0, 0))(scd1)
    assert(t.currentVersion == v)
    clean("empty batch")
    t.addConstraint("k_small", "k < 100")
    intercept[Exception](t.merge(batch(99, 102))(scd1))
    clean("CHECK failure")
    val interloped = new java.util.concurrent.atomic.AtomicBoolean(false)
    assert(t.occMerge(batch(30, 33)) { (cur, b) =>
      if (interloped.compareAndSet(false, true)) t.append(Seq((50L, "x")).toDF("k", "v"))
      scd1(cur, b)
    } == 2)
    clean("lost-CAS retry")
    // a batch the caller persisted stays persisted: the caller owns it
    val mine = batch(40, 42).persist()
    t.merge(mine)(scd1)
    assert(mine.storageLevel != org.apache.spark.storage.StorageLevel.NONE)
    mine.unpersist()
    assert(rows(t.read()).map(_._1) == (1L to 24L) ++ (30L to 32L) ++ (40L to 41L) :+ 50L)
  }

  test("directory streams are closed: log listings hold no descriptors") {
    val t = new LogTable(spark, tmp("log-fds-"), s2)
    t.append(Seq((1L, "a")).toDF("k", "v"))
    def openFds: Int = new java.io.File("/proc/self/fd").list().length
    val before = openFds
    (1 to 500).foreach { _ => t.history(); t.currentVersion }
    val grown = openFds - before
    // each unclosed listing would hold a descriptor: 1,000 here
    assert(grown < 50, s"$grown descriptors leaked over 1,000 log listings")
  }
}
