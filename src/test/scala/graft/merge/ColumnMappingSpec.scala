package graft.merge

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** COLUMN MAPPING on the commit-log table (Delta `columnMapping.mode=name`):
  * rename/drop are metadata commits — the physical parquet column name is
  * pinned in the versioned schema's field metadata, so no data file is ever
  * rewritten, history serves each version under the names it had, stats
  * keep pruning across renames, and a dropped column's bytes can never
  * resurrect under a re-added logical name. */
class ColumnMappingSpec extends SparkSpec {
  import spark.implicits._

  private val s3 = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType),
    StructField("d", LongType)))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("rename is metadata-only: files untouched, live read under the new " +
      "name, pre-rename versions under the old, feed skips the commit") {
    val t = new LogTable(spark, tmp("cm-rename-"), s3)
    t.append((1L to 10L).map(i => (i, s"v$i", i * 10L)).toDF("k", "v", "d")) // v1
    val v1Files = t.liveFileNames()
    t.renameColumn("v", "label")                                             // v2
    assert(t.liveFileNames() == v1Files, "rename rewrote data files")
    assert(t.currentSchema.fieldNames.toSeq == Seq("k", "label", "d"))
    // live read serves the new name with the OLD bytes
    assert(t.read().orderBy("k").as[(Long, String, Long)].collect().toSeq ==
      (1L to 10L).map(i => (i, s"v$i", i * 10L)))
    // pre-rename version time-travels under the old name
    assert(t.readVersion(1).columns.toSeq == Seq("k", "v", "d"))
    assert(t.readVersion(1).orderBy("k").as[(Long, String, Long)].collect().toSeq ==
      (1L to 10L).map(i => (i, s"v$i", i * 10L)))
    // the rename commit is invisible to the change feed
    assert(t.changesBetween(1L, 2L).count() == 0)
    // writes after the rename land under the (stable) physical name and
    // read back seamlessly alongside pre-rename files
    t.append(Seq((11L, "v11", 110L)).toDF("k", "label", "d"))                // v3
    assert(t.read().orderBy("k").as[(Long, String, Long)].collect().toSeq ==
      (1L to 11L).map(i => (i, s"v$i", i * 10L)))
    // a second rename composes (physical name still the original 'v')
    t.renameColumn("label", "tag")                                           // v4
    assert(t.read().columns.toSeq == Seq("k", "tag", "d"))
    assert(t.read().filter(col("tag") === "v11").count() == 1)
  }

  test("manifest stats keep pruning across a rename (physical-keyed stats)") {
    val t = new LogTable(spark, tmp("cm-stats-"), s3, statsBy = Seq("d"))
    (0 until 4).foreach { g =>
      t.append((1L to 25L).map(i =>
        (g * 100L + i, s"g$g", g * 1000L + i)).toDF("k", "v", "d"))
    }
    t.renameColumn("d", "dist")
    assert(t.statsColumns.contains("dist") && !t.statsColumns.contains("d"))
    val all = t.read()
    val hit = t.readRange("dist", lit(1000L), lit(1999L))
    assert(hit.orderBy("k").as[(Long, String, Long)].collect().toSeq ==
      all.filter(col("dist") >= 1000L && col("dist") <= 1999L)
        .orderBy("k").as[(Long, String, Long)].collect().toSeq)
    // stats written under the PRE-rename name still prune POST-rename reads
    assert(hit.inputFiles.length < all.inputFiles.length,
      s"no files pruned after rename: ${hit.inputFiles.length} vs ${all.inputFiles.length}")
  }

  test("drop + re-add never resurrects the dropped bytes; history still " +
      "serves the dropped column") {
    val t = new LogTable(spark, tmp("cm-drop-"), s3)
    t.append((1L to 5L).map(i => (i, s"secret$i", i)).toDF("k", "v", "d"))   // v1
    val v1Files = t.liveFileNames()
    t.dropColumn("v")                                                        // v2
    assert(t.liveFileNames() == v1Files, "drop rewrote data files")
    assert(t.read().columns.toSeq == Seq("k", "d"))
    // pre-drop version still serves the column (schema-in-the-log)
    assert(t.readVersion(1).orderBy("k").as[(Long, String, Long)].collect().toSeq ==
      (1L to 5L).map(i => (i, s"secret$i", i)))
    // re-add the SAME logical name: fresh physical ⇒ old bytes stay buried
    t.evolve(StructType(Seq(
      StructField("k", LongType), StructField("d", LongType),
      StructField("v", StringType))))                                        // v3
    val live = t.read().orderBy("k").collect()
    assert(live.forall(_.isNullAt(2)), "dropped column's bytes resurrected")
    // and a write to the re-added column round-trips without touching v1
    t.append(Seq((6L, 6L, "fresh")).toDF("k", "d", "v"))                     // v4
    assert(t.read().filter(col("v") === "fresh").count() == 1)
    assert(t.read().filter(col("v").isNotNull).count() == 1)
    assert(t.readVersion(1).filter(col("v").startsWith("secret")).count() == 5)
  }

  test("mapping composes with DV delete, compact, and restore") {
    val t = new LogTable(spark, tmp("cm-compose-"), s3)
    (0 until 3).foreach(g => t.append((1L to 10L).map(i =>
      (g * 10L + i, s"v$g-$i", i)).toDF("k", "v", "d")))                     // v1-v3
    t.renameColumn("v", "label")                                             // v4
    // DV delete on the RENAMED column (the positional scan maps names too)
    assert(t.deleteWhere(col("label") === "v0-1") == 1)                      // v5
    assert(t.read().count() == 29)
    // compact materializes DVs, writing under the current mapping
    assert(t.compact() > 0)                                                  // v6 (dataChange=false)
    assert(t.read().count() == 29)
    assert(t.read().filter(col("label") === "v1-1").count() == 1)
    // restore to the pre-delete version: content back under LIVE names
    t.restore(3)                                                             // v7
    assert(t.read().count() == 30)
    assert(t.read().columns.toSeq == Seq("k", "label", "d"))
  }

  test("shallow clone: zero-copy hardlinks, COW divergence, survives source " +
      "vacuum, carries schema mapping + constraints, resets txn watermarks") {
    val root = Files.createTempDirectory("cm-clone-")
    val t = new LogTable(spark, root.resolve("src").toString, s3)
    t.appendOnce((1L to 10L).map(i => (i, s"v$i", i)).toDF("k", "v", "d"),
      appId = "w", batchId = 7L)
    t.renameColumn("v", "label") // mapping active in the cloned schema
    t.addConstraint("d_pos", "d > 0")
    assert(t.deleteWhere(col("k") === 10L) == 1)
    val c = t.cloneTo(root.resolve("dup").toString)
    // zero-copy: every cloned data file is a hardlink (nlink >= 2)
    val dupFiles = Files.list(root.resolve("dup").resolve("files")).iterator()
    dupFiles.forEachRemaining { p =>
      assert(Files.getAttribute(p, "unix:nlink").asInstanceOf[Int] >= 2,
        s"$p is a copy, not a link")
    }
    assert(c.read().count() == 9 && c.read().columns.contains("label"))
    assert(c.constraints.keySet == Set("d_pos"))
    assert(c.lastTxn("w") == -1L, "txn watermarks must reset on clone")
    // COW divergence: clone writes don't touch the source and vice versa
    c.append(Seq((11L, "c-only", 11L)).toDF("k", "label", "d"))
    t.append(Seq((12L, "t-only", 12L)).toDF("k", "label", "d"))
    assert(c.read().filter(col("label") === "t-only").count() == 0)
    assert(t.read().filter(col("label") === "c-only").count() == 0)
    // constraint carried over is ENFORCED on the clone
    intercept[Exception](c.append(Seq((13L, "bad", -1L)).toDF("k", "label", "d")))
    // source vacuum after divergence: the clone keeps reading (hardlinks
    // keep the shared inodes alive even when the source GC unlinks them)
    t.overwrite(Seq((99L, "rewritten", 99L)).toDF("k", "label", "d"))
    t.vacuum(retainLast = 1)
    assert(c.read().count() == 10)
    assert(c.read().filter(col("label") === "v3").count() == 1)
  }

  test("guards: duplicate/ missing names, bucket keys, constraint references") {
    val t = new LogTable(spark, tmp("cm-guards-"),
      s3, bucketBy = Some((Seq("k"), 4)))
    t.overwrite((1L to 8L).map(i => (i, s"v$i", i)).toDF("k", "v", "d"))
    intercept[IllegalArgumentException](t.renameColumn("k", "id"))   // bucket key
    intercept[IllegalArgumentException](t.dropColumn("k"))           // bucket key
    intercept[IllegalArgumentException](t.renameColumn("v", "d"))    // exists
    intercept[IllegalArgumentException](t.renameColumn("nope", "x")) // missing
    t.addConstraint("d_pos", "d > 0")
    intercept[IllegalArgumentException](t.renameColumn("d", "dist"))
    intercept[IllegalArgumentException](t.dropColumn("d"))
    t.dropConstraint("d_pos")
    t.renameColumn("d", "dist") // now allowed
    assert(t.read().filter(col("dist") === 3L).count() == 1)
  }
}
