package graft.merge

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import graft.SparkSpec

/** VACUUM (retention GC) on a [[LogTable]] — the Delta `VACUUM` analog.
  * Pins the whole contract: expired versions' manifests and files are
  * PHYSICALLY gone, reads of them fail loudly, retained versions and the
  * live table are untouched, crash leftovers (`.write-*` staging dirs,
  * orphan files) are collected, and shallow clones survive (hardlinked
  * inodes keep their bytes via link count). */
class VacuumSpec extends SparkSpec {
  import spark.implicits._

  private val schema = new StructType().add("k", LongType).add("v", StringType)

  private def table(): (LogTable, String) = {
    val dir = Files.createTempDirectory("graft-vac-").toString
    (new LogTable(spark, dir, schema), dir)
  }

  private def manifest(dir: String, v: Long) = Paths.get(dir, "_log", f"$v%020d.json")

  test("vacuum deletes expired version trees physically; newer history intact") {
    val (t, dir) = table()
    t.overwrite(Seq((1L, "v1")).toDF("k", "v"))
    val v1Files = t.liveFileNames()
    (2 to 4).foreach(i => t.overwrite(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(t.history() == Seq(1L, 2L, 3L, 4L))
    val vacuumed = t.vacuum(retainLast = 2) // keep v3 and the live v4
    assert(vacuumed == Seq(1L, 2L))
    // expired manifests and their files are gone from disk, not just hidden
    assert(!Files.exists(manifest(dir, 1)) && !Files.exists(manifest(dir, 2)))
    assert(Files.exists(manifest(dir, 3)))
    v1Files.foreach(f => assert(!Files.exists(Paths.get(dir, "files", f))))
    // reads of vacuumed versions fail loudly; newer time travel unaffected
    assert(t.history() == Seq(3L, 4L))
    val e = intercept[IllegalArgumentException](t.readVersion(1))
    assert(e.getMessage.contains("readable versions"))
    assert(t.readVersion(3).as[(Long, String)].collect().toSeq == Seq((3L, "v3")))
    // live content untouched
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((4L, "v4")))
    // retainLast = 1 keeps only the live version
    assert(t.vacuum(retainLast = 1) == Seq(3L))
    assert(t.history() == Seq(4L))
    assert(t.read().count() == 1L)
  }

  test("vacuum(0) empties the version store; current survives") {
    val (t, dir) = table()
    (1 to 3).foreach(i => t.overwrite(Seq((i.toLong, s"v$i")).toDF("k", "v")))
    assert(t.vacuum(retainLast = 0) == Seq(1L, 2L))
    assert(t.history() == Seq(3L))
    assert(t.read().count() == 1L)
    // the live version's manifest and every file it references survive
    assert(Files.exists(manifest(dir, 3)))
    t.liveFileNames().foreach(f => assert(Files.exists(Paths.get(dir, "files", f))))
  }

  test("vacuum collects crashed-write leftovers (.staging-*/.retired-*)") {
    val (t, dir) = table()
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    // simulate a crashed writer. A LogTable's staging leftover is a `.write-*`
    // dir that never committed; its retired leftover is a data file in
    // `files/` that no manifest references.
    val orphanStaging = Files.createDirectories(Paths.get(dir, ".write-7"))
    Files.write(orphanStaging.resolve("part-0.parquet"), Array[Byte](1, 2))
    val orphanRetired = Paths.get(dir, "files", "deadbeef-part-0.parquet")
    Files.write(orphanRetired, Array[Byte](3, 4))
    t.vacuum()
    assert(!Files.exists(orphanStaging) && !Files.exists(orphanRetired))
    assert(t.read().count() == 1L)
  }

  test("vacuum on the source leaves shallow-clone trees readable (hardlinks)") {
    val (t, _) = table()
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v")) // v1
    val cloneRoot = Files.createTempDirectory("graft-vac-clone-").toString
    val c = t.cloneTo(cloneRoot)
    // source moves on and vacuums everything it can
    t.overwrite(Seq((3L, "c")).toDF("k", "v"))            // v2
    t.vacuum(retainLast = 1)                              // drops v1 (the clone's source bytes)
    assert(t.history() == Seq(2L))
    // the clone still reads the v1 content byte-for-byte: its hardlinks kept
    // the inodes alive when the source's links were unlinked
    assert(c.read().orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b")))
  }

  test("unversioned table: vacuum is leftovers-only and returns no versions") {
    // a table whose only version is the live one
    val (t, _) = table()
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    assert(t.vacuum() == Seq.empty)
    assert(t.vacuum(retainLast = 0) == Seq.empty)
    assert(t.read().count() == 1L)
    assert(t.history() == Seq(1L))
    intercept[IllegalArgumentException](t.vacuum(retainLast = -1))
  }
}
