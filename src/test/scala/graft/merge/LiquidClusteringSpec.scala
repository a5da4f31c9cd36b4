package graft.merge

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** [[LogTable.compactIncremental]] — liquid clustering's OPTIMIZE contract:
  * rewrite only never-clustered files, keep clustered ones byte-identical,
  * no-op when nothing is new; composes with DVs, row tracking, and clone. */
class LiquidClusteringSpec extends SparkSpec {
  import spark.implicits._

  private val s2 = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  test("first call clusters everything; immediate second call is a no-op " +
      "(no version cut); post-append call rewrites ONLY the new files") {
    val t = new LogTable(spark, tmp("lc-basic-"), s2, statsBy = Seq("k"))
    t.append(Seq((5L, "e"), (1L, "a")).toDF("k", "v").coalesce(1))
    t.append(Seq((9L, "i"), (3L, "c")).toDF("k", "v").coalesce(1))
    assert(t.compactIncremental(Seq("k")) == 2)
    val v = t.currentVersion
    val clusteredFiles = t.liveFileNames().toSet
    assert(t.compactIncremental(Seq("k")) == 0, "nothing new: no-op")
    assert(t.currentVersion == v, "no-op must not cut a version")
    t.append(Seq((7L, "g"), (2L, "b")).toDF("k", "v").coalesce(1))
    assert(t.compactIncremental(Seq("k")) == 1, "only the new file rewrites")
    assert(clusteredFiles.subsetOf(t.liveFileNames().toSet),
      "already-clustered files must be kept byte-identical")
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((5L, "e"), (1L, "a"), (9L, "i"), (3L, "c"), (7L, "g"), (2L, "b")))
  }

  test("two-key (Morton) clustering: incremental contract holds, content " +
      "intact, and range reads prune on BOTH keys — including the trailing " +
      "one a lexicographic sort cannot serve") {
    val s = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val t = new LogTable(spark, tmp("lc-2k-"), s, statsBy = Seq("a", "b"))
    // a 64x64 grid arriving key-random in two batches: z-clustered files
    // must become rectangles, so narrow slices in EITHER dim prune
    val grid = for (a <- 0L until 64L; b <- 0L until 64L) yield (a, b)
    val (g1, g2) = grid.partition { case (a, b) => (a * 31 + b * 17) % 2 == 0 }
    t.append(g1.toDF("a", "b").repartition(2))
    assert(t.compactIncremental(Seq("a", "b"), targetFileBytes = 2048L) == 2)
    val gen1 = t.liveFileNames().toSet
    t.append(g2.toDF("a", "b").repartition(2))
    assert(t.compactIncremental(Seq("a", "b"), targetFileBytes = 2048L) == 2)
    assert(gen1.subsetOf(t.liveFileNames().toSet),
      "gen-1 files must be kept byte-identical")
    assert(t.compactIncremental(Seq("a", "b"), targetFileBytes = 2048L) == 0)
    val live = t.liveFileNames().size
    assert(live >= 6, s"fixture too coarse to show pruning ($live files)")
    val hitA = t.readRange("a", lit(0L), lit(7L))
    val hitB = t.readRange("b", lit(0L), lit(7L))
    assert(hitA.inputFiles.length < live,
      s"leading-key slice must prune (${hitA.inputFiles.length} of $live)")
    assert(hitB.inputFiles.length < live,
      s"trailing-key slice must prune (${hitB.inputFiles.length} of $live)")
    assert(hitA.count() == 8 * 64 && hitB.count() == 8 * 64,
      "range reads must stay exact through the pruning")
    assert(t.read().as[(Long, Long)].collect().toSet == grid.toSet)
  }

  test("two correlated keys (a = b): a Morton rewrite writes the file count " +
      "its target size asks for, and each file covers a short diagonal run") {
    val s = StructType(Seq(
      StructField("a", LongType), StructField("b", LongType)))
    val root = Files.createTempDirectory("lc-diag-")
    val t = new LogTable(spark, root.toString, s, statsBy = Seq("a", "b"))
    t.append((0L until 4096L).map(i => (i, i)).toDF("a", "b").repartition(2))
    val bytes = t.liveFileNames().map(f => Files.size(root.resolve("files").resolve(f))).sum
    val target = (bytes + 15) / 16
    val want = math.ceil(bytes.toDouble / target).toInt
    assert(t.compact(targetFileBytes = target, clusterBy = Seq("a", "b")) == 2)
    // the keys fill only the grid's diagonal: of the 16 cells of a grid 4
    // cells a side they occupy 4, and a rewrite keyed on those cells could
    // write no more than 4 files
    assert(t.liveFileNames().size == want)
    assert(t.readRange("a", lit(0L), lit(255L)).inputFiles.length <= 2)
    assert(t.read().as[(Long, Long)].collect().toSet ==
      (0L until 4096L).map(i => (i, i)).toSet)
  }

  test("two NON-NUMERIC keys fall back to lexicographic clustering instead " +
      "of throwing in the Morton quantile pass; leading-key pruning works") {
    // the Morton path needs quantile-sketchable keys (approxQuantile);
    // a (string, string) pair must take the lexicographic branch
    // (LogTable guard, ADVICE r12) — same incremental contract, stats
    // pruning on the leading key, content intact
    val s = StructType(Seq(
      StructField("a", StringType), StructField("b", StringType)))
    val t = new LogTable(spark, tmp("lc-str-"), s, statsBy = Seq("a", "b"))
    val rows = for (a <- 0 until 16; b <- 0 until 16)
      yield (f"g$a%02d", f"h$b%02d")
    val (r1, r2) = rows.partition { case (a, b) => (a.hashCode + b.hashCode) % 2 == 0 }
    t.append(r1.toDF("a", "b").repartition(2))
    assert(t.compactIncremental(Seq("a", "b"), targetFileBytes = 1024L) == 2)
    val gen1 = t.liveFileNames().toSet
    t.append(r2.toDF("a", "b").repartition(2))
    assert(t.compactIncremental(Seq("a", "b"), targetFileBytes = 1024L) == 2)
    assert(gen1.subsetOf(t.liveFileNames().toSet),
      "gen-1 files must be kept byte-identical")
    assert(t.compactIncremental(Seq("a", "b"), targetFileBytes = 1024L) == 0)
    val live = t.liveFileNames().size
    assert(live >= 4, s"fixture too coarse to show pruning ($live files)")
    val hitA = t.readRange("a", lit("g00"), lit("g03"))
    assert(hitA.inputFiles.length < live,
      s"leading-key slice must prune (${hitA.inputFiles.length} of $live)")
    assert(hitA.count() == 4 * 16)
    assert(t.read().as[(String, String)].collect().toSet == rows.toSet)
  }

  test("DV composition: deletes on rewritten files materialize; deletes on " +
      "kept clustered files keep applying through the passed-through sidecar") {
    val t = new LogTable(spark, tmp("lc-dv-"), s2)
    t.append(Seq((1L, "a"), (2L, "b")).toDF("k", "v").coalesce(1))
    assert(t.compactIncremental(Seq("k")) == 1)
    t.append(Seq((10L, "x"), (11L, "y")).toDF("k", "v").coalesce(1))
    // one DV delete hitting BOTH a clustered file and an unclustered one
    assert(t.deleteWhere(col("k").isin(1L, 10L)) == 2)
    assert(t.compactIncremental(Seq("k")) == 1)
    assert(t.read().as[(Long, String)].collect().toSet ==
      Set((2L, "b"), (11L, "y")),
      "kept file's DV row must keep applying; rewritten file's delete materialized")
  }

  test("row tracking: ids survive the incremental rewrite; clone carries " +
      "the clustered flags so the clone's next incremental pass is a no-op") {
    val root = Files.createTempDirectory("lc-rt-")
    val t = new LogTable(spark, root.resolve("src").toString, s2,
      rowTracking = true)
    t.append(Seq((3L, "c"), (1L, "a")).toDF("k", "v").coalesce(1))
    val ids = t.readWithRowIds().select("k", LogTable.RowIdCol)
      .as[(Long, Long)].collect().toMap
    assert(t.compactIncremental(Seq("k")) == 1)
    assert(t.readWithRowIds().select("k", LogTable.RowIdCol)
      .as[(Long, Long)].collect().toMap == ids)
    val c = t.cloneTo(root.resolve("dup").toString)
    assert(c.compactIncremental(Seq("k")) == 0,
      "clone must inherit the clustered bookkeeping")
  }

  test("guards: empty keys and bucketed tables rejected") {
    val t = new LogTable(spark, tmp("lc-guard-"), s2,
      bucketBy = Some((Seq("k"), 2)))
    intercept[IllegalArgumentException](t.compactIncremental(Seq.empty))
    intercept[IllegalArgumentException](t.compactIncremental(Seq("k")))
  }
}
