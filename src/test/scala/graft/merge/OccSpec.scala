package graft.merge

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** Optimistic concurrency: lock-free staging + CAS commit + conflict
  * rebase (the Delta multi-writer protocol).
  */
class OccSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(prefix: String): String = {
    val d = Files.createTempDirectory(prefix)
    d.toFile.deleteOnExit()
    d.toString
  }

  private val s2 = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  test("conflicting CAS discards the stale staging; rebase equals serial") {
    val root = tmp("occ-basic-")
    val t = new LogTable(spark, root, s2)
    t.overwrite(Seq((1L, "base"), (2L, "base")).toDF("k", "v"))       // v1
    val v1Files = t.liveFileNames().toSet
    var aFiles = Set.empty[String]
    val aDone = new java.util.concurrent.atomic.AtomicBoolean(false)
    // forced interleaving: writer A commits while writer B stages against
    // the same snapshot, so B's first CAS must fail
    val attempts = t.occMerge(Seq((2L, "B"), (3L, "B")).toDF("k", "v")) { (cur, b) =>
      if (aDone.compareAndSet(false, true)) {
        assert(t.occMerge(Seq((1L, "A")).toDF("k", "v"))(
          (c, a) => Merge.scd1(c, a, Seq("k"))) == 1)                  // v2
        aFiles = t.liveFileNames().toSet
      }
      Merge.scd1(cur, b, Seq("k"))
    }
    assert(attempts == 2, "stale staging must fail the CAS and rebase once")
    assert(t.currentVersion == 3L)
    // B's first staged files are discarded on conflict: the data directory
    // holds exactly the files of the three committed versions
    val onDisk = LogTable.listDir(java.nio.file.Paths.get(root, "files"))
      .map(_.getFileName.toString).toSet
    assert(onDisk == v1Files ++ aFiles ++ t.liveFileNames(),
      "the losing attempt's staged files were left behind")
    // without the rebase, B's snapshot-of-old-state would have erased A's
    // update to k=1
    val got = t.read().orderBy("k").as[(Long, String)].collect().toSeq
    assert(got == Seq((1L, "A"), (2L, "B"), (3L, "B")),
      s"rebase diverged from the serial schedule: $got")
  }

  test("every content-changing verb bumps the commit token") {
    // the token is the log's version number
    val root = tmp("occ-token-")
    val t = new LogTable(spark, root, s2)
    val t0 = t.currentVersion
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    assert(t.currentVersion == t0 + 1)
    t.append(Seq((2L, "b")).toDF("k", "v"))
    assert(t.currentVersion == t0 + 2)
    t.merge(Seq((3L, "c")).toDF("k", "v"))(
      (cur, b) => Merge.insertOnly(cur, b, Seq("k")))
    assert(t.currentVersion == t0 + 3)
    t.deleteWhere(col("k") === 1L)
    assert(t.currentVersion == t0 + 4)
    t.deleteWhere(col("k") === 999L) // matches nothing → NOT a commit
    assert(t.currentVersion == t0 + 4)
    t.compact() // materializes the deletion vector
    assert(t.currentVersion == t0 + 5)
  }

  test("two racing OCC writers both land; final state is their union") {
    val root = tmp("occ-race-")
    val t = new LogTable(spark, root, s2)
    t.overwrite(Seq((0L, "base")).toDF("k", "v"))
    // two handles on the same root, as two writer processes would hold
    val w1 = new LogTable(spark, root, s2)
    val w2 = new LogTable(spark, root, s2)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    implicit val ec: scala.concurrent.ExecutionContext =
      scala.concurrent.ExecutionContext.fromExecutor(pool)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val f1 = Future(w1.occMerge(
      (1L to 5L).map(i => (i, "w1")).toDF("k", "v"), maxAttempts = 10)(
      (cur, b) => Merge.insertOnly(cur, b, Seq("k"))))
    val f2 = Future(w2.occMerge(
      (11L to 15L).map(i => (i, "w2")).toDF("k", "v"), maxAttempts = 10)(
      (cur, b) => Merge.insertOnly(cur, b, Seq("k"))))
    val (a1, a2) = (Await.result(f1, 120.seconds), Await.result(f2, 120.seconds))
    pool.shutdown()
    assert(a1 >= 1 && a2 >= 1)
    val keys = t.read().select("k").as[Long].collect().toSet
    assert(keys == (Set(0L) ++ (1L to 5L) ++ (11L to 15L)),
      s"a writer's commit was lost (attempts: $a1/$a2): $keys")
  }

  test("occMerge gives up loudly after maxAttempts") {
    val root = tmp("occ-livelock-")
    val t = new LogTable(spark, root, s2)
    t.overwrite(Seq((1L, "a")).toDF("k", "v"))
    // sabotage: the merge function itself commits, so every stage is stale
    val e = intercept[IllegalStateException] {
      t.occMerge(Seq((2L, "b")).toDF("k", "v"), maxAttempts = 2) { (cur, b) =>
        t.append(Seq((99L, "interloper")).toDF("k", "v"))
        Merge.insertOnly(cur, b, Seq("k"))
      }
    }
    assert(e.getMessage.contains("2 times"))
  }

  test("forced same-key interleaving: the loser rebases (attempts > 1) and " +
      "the recency guard makes the result order-independent") {
    val s3 = StructType(Seq(StructField("k", LongType),
      StructField("v", StringType), StructField("ord", LongType)))
    def run(interleave: Boolean): (Int, Seq[(Long, String, Long)]) = {
      val root = tmp(s"occ-contended-$interleave-")
      val t = new LogTable(spark, root, s3)
      t.overwrite(Seq((1L, "seed", 10L), (2L, "seed", 10L)).toDF("k", "v", "ord"))
      val batchA = Seq((1L, "A", 30L), (2L, "A", 20L)).toDF("k", "v", "ord")
      val batchB = Seq((1L, "B", 20L), (2L, "B", 30L)).toDF("k", "v", "ord")
      val mergeFn = (cur: org.apache.spark.sql.DataFrame,
                     b: org.apache.spark.sql.DataFrame) =>
        Merge.cdcUpsert(cur, b, Seq("k"), "ord")
      val aDone = new java.util.concurrent.atomic.AtomicBoolean(false)
      if (!interleave) assert(t.occMerge(batchA)(mergeFn) == 1)
      val attempts = t.occMerge(batchB, maxAttempts = 5) { (cur, b) =>
        // interleave=true: A commits BETWEEN B's snapshot read and CAS, so
        // B's first attempt must lose the CAS
        if (interleave && aDone.compareAndSet(false, true))
          assert(t.occMerge(batchA)(mergeFn) == 1)
        mergeFn(cur, b)
      }
      (attempts, t.read().orderBy("k").as[(Long, String, Long)].collect().toSeq)
    }
    val (contended, gotContended) = run(interleave = true)
    val (serial, gotSerial) = run(interleave = false)
    assert(contended > 1, "forced interleaving never exercised the rebase")
    assert(serial == 1)
    // per key the max-ord row wins regardless of schedule: k=1 from A, k=2 from B
    val expected = Seq((1L, "A", 30L), (2L, "B", 30L))
    assert(gotContended == expected && gotSerial == expected)
  }

  test("transactional occMerge (LogTable): content rewrite + txn watermark " +
      "land in ONE commit; a re-delivered batch id is a no-op") {
    val t = new LogTable(spark, tmp("occ-txn-"), s2)
    t.append(Seq((1L, "base")).toDF("k", "v"))
    t.occMerge(Seq((1L, "b0")).toDF("k", "v"), txn = Some(("app", 0L))) {
      (cur, b) => Merge.scd1(cur, b, Seq("k"))
    }
    val vAfter = t.currentVersion
    assert(t.lastTxn("app") == 0L)
    // redelivery: same batch id, DIFFERENT (poisoned) content — must not land
    t.occMerge(Seq((1L, "poison")).toDF("k", "v"), txn = Some(("app", 0L))) {
      (cur, b) => Merge.scd1(cur, b, Seq("k"))
    }
    assert(t.currentVersion == vAfter, "redelivered id cut a version")
    assert(t.read().as[(Long, String)].collect().toSeq == Seq((1L, "b0")))
    // the next id advances normally
    t.occMerge(Seq((1L, "b1")).toDF("k", "v"), txn = Some(("app", 1L))) {
      (cur, b) => Merge.scd1(cur, b, Seq("k"))
    }
    assert(t.lastTxn("app") == 1L &&
      t.read().as[(Long, String)].collect().toSeq == Seq((1L, "b1")))
  }
}
