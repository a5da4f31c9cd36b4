package graft.merge

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Deletion vectors: merge-on-read DELETE (Delta DV analog) on a
  * [[LogTable]].
  *
  * Contract under test:
  *  - a delete touches NO data file (byte-identity, not just file count);
  *  - every read path (read, readRange, bucketed merge/compact inputs)
  *    subtracts deleted positions;
  *  - deletes compose without double-counting (wave 2 sees the
  *    merge-on-read view);
  *  - compaction rewrites to the same content and drops the sidecars;
  *  - hardlink clones keep DVs valid (positions key on file basenames);
  *  - a delete is a named version: history reads resurrect deleted rows.
  */
class DeletionVectorSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val s2 = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def digest(root: String, name: String): String =
    MessageDigest.getInstance("MD5").digest(Files.readAllBytes(Paths.get(root, "files", name)))
      .map("%02x".format(_)).mkString

  /** Live data files → content digest. */
  private def fingerprint(t: LogTable, root: String): Map[String, String] =
    t.liveFileNames().map(n => n -> digest(root, n)).toMap

  /** Rows the live version's deletion vectors hide (v1 holds every row). */
  private def hidden(t: LogTable): Long = t.readVersion(1).count() - t.read().count()

  test("deleteWhere is merge-on-read: data files byte-identical, reads filtered") {
    val root = tmp("dv-basic-")
    val t = new LogTable(spark, root, s2)
    t.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    val before = fingerprint(t, root)

    val n = t.deleteWhere(col("k") % 10 === 0)
    assert(n == 10L)
    assert(hidden(t) == 10L)
    assert(fingerprint(t, root) == before, "a DELETE rewrote data files")
    assert(t.read().count() == 90L)
    assert(t.read().filter(col("k") % 10 === 0).count() == 0L)

    // composing waves: wave 2 matches only still-live rows
    val n2 = t.deleteWhere(col("k") % 5 === 0) // k%10==0 already gone
    assert(n2 == 10L, s"wave 2 double-counted ($n2)")
    assert(t.read().count() == 80L)
    // re-deleting deleted rows is a no-op
    assert(t.deleteWhere(col("k") % 5 === 0) == 0L)
    assert(fingerprint(t, root) == before)
  }

  test("compact materializes deletes: same content, sidecars dropped, files rewritten") {
    val root = tmp("dv-mat-")
    val t = new LogTable(spark, root, s2)
    t.overwrite((1L to 50L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.deleteWhere(col("k") <= 20)
    val morKeys = t.read().select("k").as[Long].collect().sorted
    val before = t.liveFileNames()

    assert(t.compact() > 0, "a DV-carrying table must compact")
    assert(t.liveFileNames().intersect(before).isEmpty, "compaction rewrote nothing")
    val postKeys = t.read().select("k").as[Long].collect().sorted
    assert(postKeys.toSeq == morKeys.toSeq)
    assert(postKeys.forall(_ > 20))
    // the rewritten files hold exactly the live rows: no sidecar is needed
    assert(spark.read.parquet(t.liveFileNames().map(n => s"$root/files/$n"): _*)
      .count() == postKeys.length.toLong)
    // no-op once no DVs remain
    val files = t.liveFileNames()
    assert(t.compact() == 0)
    assert(t.liveFileNames() == files)
  }

  test("keyed erasure: deleteWhere over a request batch's distinct keys") {
    val root = tmp("dv-keyed-")
    val t = new LogTable(spark, root, s2)
    t.overwrite((1L to 40L).map(i => (i, s"v$i")).toDF("k", "v"))
    val requests = Seq(3L, 7L, 7L, 11L, 999L).toDF("k") // dup + miss
    def erase(): Long = t.deleteWhere(
      col("k").isin(requests.distinct().as[Long].collect().toIndexedSeq: _*))
    assert(erase() == 3L)
    assert(t.read().count() == 37L)
    assert(t.read().filter(col("k").isin(3L, 7L, 11L)).count() == 0L)
    // repeated request: already deleted, no double count, no version cut
    val v = t.currentVersion
    assert(erase() == 0L)
    assert(t.currentVersion == v)
  }

  test("hardlink clone keeps DVs valid (relative-path keying)") {
    val srcRoot = tmp("dv-clone-src-")
    val t = new LogTable(spark, srcRoot, s2)
    t.overwrite((1L to 30L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.deleteWhere(col("k") > 25)
    val dstRoot = tmp("dv-clone-dst-") + "/t2"
    val c = t.cloneTo(dstRoot)
    assert(c.read().count() == 25L, "clone resurrected DV-deleted rows")
    // divergence: source materializes; the clone's view must not change
    t.compact()
    assert(c.read().count() == 25L)
    // the clone still reads the 30-row files through the 5 cloned positions
    assert(spark.read.parquet(c.liveFileNames().map(n => s"$dstRoot/files/$n"): _*)
      .count() == 30L)
  }

  test("bucketed table: merge and compact see the merge-on-read view") {
    val root = tmp("dv-bucket-")
    val t = new LogTable(spark, root, s2, bucketBy = Some((Seq("k"), 4)))
    t.overwrite((1L to 80L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.deleteWhere(col("k") <= 40)
    assert(t.read().count() == 40L)

    // a keyed merge touching SOME buckets must not resurrect rows in either
    // the touched buckets (materialized by the rewrite) or the untouched
    // ones (still filtered by the surviving sidecar entries)
    val batch = Seq((100L, "new"), (41L, "upd")).toDF("k", "v")
    t.merge(batch)((cur, b) => graft.merge.Merge.scd1(cur, b, Seq("k")))
    val keys = t.read().select("k").as[Long].collect().toSet
    assert(!keys.exists(_ <= 40), "merge resurrected DV-deleted rows")
    assert(keys.contains(100L) && keys.contains(41L))
    assert(t.read().filter(col("k") === 41L).select("v").as[String].head() == "upd")

    // appends fragment buckets; compact materializes the deletes
    t.append(Seq((200L, "a")).toDF("k", "v"))
    t.append(Seq((201L, "b")).toDF("k", "v"))
    t.compact()
    val keys2 = t.read().select("k").as[Long].collect().toSet
    assert(!keys2.exists(_ <= 40), "compact resurrected DV-deleted rows")
    assert(keys2.contains(200L) && keys2.contains(201L))
  }

  test("readRange (stats manifest) applies DVs") {
    val root = tmp("dv-range-")
    val t = new LogTable(spark, root, s2, statsBy = Seq("k"))
    t.overwrite((1L to 100L).map(i => (i, s"v$i")).toDF("k", "v"))
    t.deleteWhere(col("k") === 10L || col("k") === 15L)
    val got = t.readRange("k", lit(5L), lit(20L)).select("k").as[Long].collect().sorted
    assert(got.toSeq == (5L to 20L).filterNot(k => k == 10L || k == 15L))
  }

  test("DV deletes compose with time travel: historical reads resurrect, " +
      "live stays deleted (deleteWhere's composition contract)") {
    val root = tmp("dv-tt-")
    val t = new LogTable(spark, root, s2)
    def ks(df: org.apache.spark.sql.DataFrame): Seq[Long] =
      df.select("k").as[Long].collect().sorted.toSeq
    t.overwrite((1L to 10L).map(i => (i, s"v$i")).toDF("k", "v"))  // v1
    assert(t.deleteWhere(col("k") % 2 === 0) == 5L)                // v2
    // the live read applies the sidecar; the pre-delete version resurrects
    assert(ks(t.read()) == Seq(1L, 3L, 5L, 7L, 9L))
    assert(ks(t.readVersion(1)) == (1L to 10L))
    // OPTIMIZE rewrites the live (DV-applied) view; history is unchanged
    assert(t.compact() > 0)                                        // v3
    assert(ks(t.readVersion(1)) == (1L to 10L))
    assert(ks(t.readVersion(2)) == Seq(1L, 3L, 5L, 7L, 9L))
    // a keyed DV delete composes the same way
    assert(t.deleteWhere(col("k") === 3L) == 1L)                   // v4
    assert(ks(t.read()) == Seq(1L, 5L, 7L, 9L))
    assert(ks(t.readVersion(3)) == Seq(1L, 3L, 5L, 7L, 9L),
      "a later DV delete leaked into an earlier version")
    // restore to a pre-delete version resurrects (the Delta behavior);
    // the versions in between keep their own content
    t.restore(1)                                                   // v5 ≡ v1
    assert(ks(t.read()) == (1L to 10L))
    assert(ks(t.readVersion(2)) == Seq(1L, 3L, 5L, 7L, 9L))
  }
}
