package graft.merge

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.sql.types._
import graft.SparkSpec

/** Shallow clone: zero-copy hardlink clone, independent evolution. */
class CloneSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val s2 = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def parquetFiles(root: String): Seq[Path] =
    LogTable.listDir(Paths.get(root, "files")).filter(_.toString.endsWith(".parquet"))

  private def inode(p: Path): Any = Files.getAttribute(p, "unix:ino")

  test("clone is zero-copy (hardlinks), reads identically, then diverges safely") {
    val srcRoot = tmp("clone-src-")
    val t = new LogTable(spark, srcRoot, s2)
    t.overwrite(Seq((1L, "a"), (2L, "b"), (3L, "c")).toDF("k", "v"))

    val dstRoot = tmp("clone-dst-") + "/t2"
    val c = t.cloneTo(dstRoot)

    // zero-copy: every cloned parquet file shares its source's inode
    val srcInodes = parquetFiles(srcRoot).map(inode).toSet
    val dstFiles = parquetFiles(dstRoot)
    assert(dstFiles.nonEmpty)
    dstFiles.foreach(f => assert(srcInodes.contains(inode(f)),
      s"cloned file $f is a copy, not a hardlink"))

    // identical reads
    assert(c.read().orderBy($"k").as[(Long, String)].collect().toSeq ==
      t.read().orderBy($"k").as[(Long, String)].collect().toSeq)

    // mutate the CLONE: source content and file bytes stay untouched
    val srcState = parquetFiles(srcRoot).map(f => f -> Files.size(f)).toMap
    c.merge(Seq((2L, "B"), (9L, "z")).toDF("k", "v"))(
      (cur, b) => Merge.scd1(cur, b, Seq("k")))
    assert(c.read().orderBy($"k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "B"), (3L, "c"), (9L, "z")))
    assert(t.read().orderBy($"k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (2L, "b"), (3L, "c")))
    srcState.foreach { case (f, size) =>
      assert(Files.exists(f) && Files.size(f) == size, s"source file mutated: $f")
    }

    // mutate the SOURCE: clone unaffected
    t.append(Seq((4L, "d")).toDF("k", "v"))
    assert(!c.read().as[(Long, String)].collect().contains((4L, "d")))
  }

  test("clone of a bucketed table keeps bucket layout and partition-scoped merge") {
    val srcRoot = tmp("clone-bsrc-")
    val t = new LogTable(spark, srcRoot, s2, bucketBy = Some((Seq("k"), 4)))
    t.overwrite((1L to 20L).map(i => (i, s"v$i")).toDF("k", "v"))
    val c = t.cloneTo(tmp("clone-bdst-") + "/t2")
    assert(c.read().count() == 20)
    val before = c.liveFileNames()
    c.merge(Seq((5L, "X")).toDF("k", "v"))((cur, b) => Merge.scd1(cur, b, Seq("k")))
    assert(c.read().filter($"k" === 5L).as[(Long, String)].head() == ((5L, "X")))
    assert(t.read().filter($"k" === 5L).as[(Long, String)].head() == ((5L, "v5")))
    // partition-scoped: the three untouched buckets keep their files
    assert(before.toSet.intersect(c.liveFileNames().toSet).size == before.size - 1)
  }

  test("clone contracts: never-written source and occupied destination fail loudly") {
    val empty = new LogTable(spark, tmp("clone-empty-"), s2)
    assert(intercept[IllegalArgumentException](empty.cloneTo(tmp("clone-x-")))
      .getMessage.contains("empty table"))
    val srcRoot = tmp("clone-src2-")
    val t = new LogTable(spark, srcRoot, s2)
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    assert(intercept[IllegalArgumentException](t.cloneTo(srcRoot))
      .getMessage.contains("not empty"))
  }

  test("clone starts fresh history even when the source is versioned") {
    val srcRoot = tmp("clone-vsrc-")
    val t = new LogTable(spark, srcRoot, s2)
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    t.overwrite(Seq((1L, "a"), (2L, "b")).toDF("k", "v"))
    assert(t.history().size == 2)
    val c = t.cloneTo(tmp("clone-vdst-") + "/t2")
    assert(c.history() == Seq(1L), s"clone must start fresh at the clone point, got ${c.history()}")
    assert(c.read().count() == 2)
  }
}
