package graft.merge

import org.scalacheck.Gen
import org.scalacheck.rng.Seed
import graft.SparkSpec

/** Property-based invariants of the merge family — the contracts the
  * medallion pipeline's idempotency rests on — checked over randomized
  * target/batch frames (small key cardinality to force collisions).
  * Raw ScalaCheck generators with fixed seeds (the scalatest-scalacheck
  * bridge isn't on the classpath): deterministic, still adversarial.
  */
class MergePropertiesSpec extends SparkSpec {
  import spark.implicits._

  private val rowGen = Gen.listOfN(12,
    Gen.zip(Gen.choose(0, 5), Gen.choose(0, 100), Gen.alphaLowerStr.map(_.take(4))))

  private def sample(seed: Long): List[(Int, Int, String)] =
    rowGen.apply(Gen.Parameters.default, Seed(seed)).get

  private def dedupByKey(rows: List[(Int, Int, String)]) =
    rows.groupBy(_._1).map(_._2.head).toList

  private def cases = (0 until 8).map(i => (sample(i * 2L), sample(i * 2L + 1)))

  test("property: insertOnly is idempotent and never loses target rows") {
    cases.foreach { case (t, b) =>
      val target = dedupByKey(t).toDF("k", "ord", "v")
      val batch = dedupByKey(b).toDF("k", "ord", "v")
      val once = Merge.insertOnly(target, batch, Seq("k")).cache()
      val twice = Merge.insertOnly(once, batch, Seq("k"))
      assert(once.count() == twice.count())
      assert(target.join(once, Seq("k", "ord", "v"), "left_anti").count() == 0)
      val keys = once.select("k").as[Int].collect().toSet
      assert(keys == (dedupByKey(t).map(_._1) ++ dedupByKey(b).map(_._1)).toSet)
      once.unpersist()
    }
  }

  test("property: insertOnly with duplicated TARGET keys equals the multiset model") {
    cases.foreach { case (t, b) =>
      // the target keeps its duplicate keys: the anti-join's right side
      // carries each key several times, which must not change the survivors
      val tKeys = t.map(_._1).toSet
      val expected = (t ++ dedupByKey(b).filterNot(r => tKeys(r._1))).sorted
      val got = Merge.insertOnly(t.toDF("k", "ord", "v"),
          dedupByKey(b).toDF("k", "ord", "v"), Seq("k"))
        .as[(Int, Int, String)].collect().toSeq.sorted
      assert(got == expected)
    }
  }

  test("an M1 plan anti-joins against the raw key projection: no aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.Aggregate
    import org.apache.spark.sql.functions.col
    def aggregates(df: org.apache.spark.sql.DataFrame): Int =
      df.queryExecution.optimizedPlan.collect { case a: Aggregate => a }.size
    val target = spark.range(0, 100).select((col("id") % 10).as("k"), col("id").as("v"))
    val batch = spark.range(50, 150).select((col("id") % 20).as("k"), col("id").as("v"))
    // the former plan: the same anti-join over a de-duplicated key side
    val keysDistinct = target.select(col("k").as("__a_k")).distinct()
    val former = target.unionByName(
      batch.join(keysDistinct, batch("k") <=> keysDistinct("__a_k"), "left_anti"))
    assert(aggregates(former) == 1)
    val m1 = Merge.insertOnly(target, batch, Seq("k"))
    assert(aggregates(m1) == 0, m1.queryExecution.optimizedPlan.treeString)
    assert(m1.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted ==
      former.collect().toSeq.map(r => (r.getLong(0), r.getLong(1))).sorted)
  }

  test("insertMissing equals merge(insertOnly) on bucketed and unbucketed " +
      "tables: null keys, duplicate keys in one batch, a target with a DV") {
    import org.apache.spark.sql.functions.col
    import org.apache.spark.sql.types.{IntegerType, StringType, StructField, StructType}
    val schema = StructType(Seq(StructField("k", IntegerType),
      StructField("ord", IntegerType), StructField("v", StringType)))
    // every fourth row gets a NULL key; batches are NOT de-duplicated
    def withNulls(rows: List[(Int, Int, String)]): Seq[(Option[Int], Int, String)] =
      rows.zipWithIndex.map { case ((k, o, v), i) => (if (i % 4 == 0) None else Some(k), o, v) }
    def contents(t: LogTable) =
      t.read().as[(Option[Int], Int, String)].collect().toSeq.sortBy(r => (r._1, r._2, r._3))
    for (bucketed <- Seq(false, true); (tr, br) <- cases.take(4)) {
      val bucketBy = if (bucketed) Some((Seq("k"), 4)) else None
      def table(tag: String) = new LogTable(spark,
        java.nio.file.Files.createTempDirectory(s"m1-$tag-").toString, schema, bucketBy)
      val (viaMerge, viaAppend) = (table("merge"), table("append"))
      val target = withNulls(tr).toDF("k", "ord", "v")
      val batch = withNulls(br ++ br.take(3)).toDF("k", "ord", "v")
      for (t <- Seq(viaMerge, viaAppend)) {
        t.overwrite(target)
        t.deleteWhere(col("ord") < 30) // the live keys exclude DV-deleted rows
      }
      viaMerge.merge(batch)((cur, b) => Merge.insertOnly(cur, b, Seq("k")))
      val before = viaAppend.read().count()
      val added = viaAppend.insertMissing(batch, Seq("k"))
      assert(contents(viaAppend) == contents(viaMerge), s"bucketed=$bucketed")
      assert(added == contents(viaAppend).size - before)
      // re-delivery: every key is present now, nothing is appended
      val v = viaAppend.currentVersion
      assert(viaAppend.insertMissing(batch, Seq("k")) == 0L)
      assert(viaAppend.currentVersion == v)
    }
  }

  test("property: scd1 equals batch-wins map merge") {
    cases.foreach { case (t, b) =>
      val tm = dedupByKey(t).map(r => r._1 -> r).toMap
      val bm = dedupByKey(b).map(r => r._1 -> r).toMap
      val expected = (tm ++ bm).values.toSet
      val got = Merge.scd1(dedupByKey(t).toDF("k", "ord", "v"),
          dedupByKey(b).toDF("k", "ord", "v"), Seq("k"))
        .as[(Int, Int, String)].collect().toSet
      assert(got == expected)
    }
  }

  test("property: cdcUpsert keeps the newer record per key") {
    cases.foreach { case (t, b) =>
      val tm = dedupByKey(t).map(r => r._1 -> r).toMap
      val bm = dedupByKey(b).map(r => r._1 -> r).toMap
      val expected = (tm.keySet ++ bm.keySet).map { k =>
        (tm.get(k), bm.get(k)) match {
          case (Some(tr), Some(br)) => if (tr._2 < br._2) br else tr
          case (Some(tr), None) => tr
          case (None, Some(br)) => br
          case _ => sys.error("unreachable")
        }
      }
      val got = Merge.cdcUpsert(dedupByKey(t).toDF("k", "ord", "v"),
          dedupByKey(b).toDF("k", "ord", "v"), Seq("k"), "ord")
        .as[(Int, Int, String)].collect().toSet
      assert(got == expected)
    }
  }

  test("bucketed merge: partition-scoped result equals full-rewrite result, " +
      "untouched bucket files are byte-identical") {
    import java.nio.file.{Files, Path}
    import org.apache.spark.sql.functions.{lit, pmod, xxhash64}
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("ord", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val dir = Files.createTempDirectory("bucketed-").toString
    def stat(name: String): (Long, Long) = {
      val p = Path.of(dir, "files", name)
      (Files.size(p), Files.getLastModifiedTime(p).toMillis)
    }
    def bucketsOf(name: String): Set[Int] =
      spark.read.parquet(Path.of(dir, "files", name).toString)
        .select(pmod(xxhash64($"k"), lit(8)).cast("int")).distinct().as[Int].collect().toSet

    val bucketed = new LogTable(spark, dir, schema, Some((Seq("k"), 8)))
    // wide key range → every bucket populated
    val initial = (0 until 64).map(k => (k, k, s"v$k")).toDF("k", "ord", "v")
    bucketed.overwrite(initial)
    val before = bucketed.liveFileNames().map(n => n -> stat(n)).toMap

    // batch touching a handful of keys → few buckets
    val batch = Seq((3, 100, "B3"), (17, 100, "B17"), (90, 100, "B90"))
      .toDF("k", "ord", "v")
    bucketed.merge(batch)(Merge.scd1(_, _, Seq("k")))

    // content equals the unbucketed full-rewrite merge
    val expected = Merge.scd1(initial, batch, Seq("k"))
      .as[(Int, Int, String)].collect().toSet
    assert(bucketed.read().as[(Int, Int, String)].collect().toSet == expected)

    // untouched buckets: same files, same sizes, same mtimes
    val after = bucketed.liveFileNames().toSet
    val touched = batch.select(pmod(xxhash64($"k"), lit(8)).cast("int"))
      .distinct().as[Int].collect().toSet
    val (kept, replaced) = before.keySet.partition(after.contains)
    assert(kept.nonEmpty, "test needs untouched buckets to be meaningful")
    kept.foreach { n =>
      assert(stat(n) == before(n), s"untouched file changed: $n")
      assert(bucketsOf(n).intersect(touched).isEmpty, s"touched bucket kept its file: $n")
    }
    // touched buckets really were rewritten, and only those
    assert(replaced.nonEmpty && replaced.forall(n => bucketsOf(n).subsetOf(touched)))
  }

  test("compact collapses per-append small files, preserves content; " +
      "a compact table is a no-op") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val dir = java.nio.file.Files.createTempDirectory("compact-").toString
    val t = new LogTable(spark, dir, schema, Some((Seq("k"), 4)))
    // five appends → ≥5 files per populated bucket
    (0 until 5).foreach(i => t.append(Seq((i, s"v$i"), (i + 16, s"w$i")).toDF("k", "v")))
    val before = t.read().as[(Int, String)].collect().toSet
    val filesBefore = t.liveFileNames().size
    assert(t.compact() == filesBefore)
    assert(t.read().as[(Int, String)].collect().toSet == before)
    val filesAfter = t.liveFileNames()
    assert(filesAfter.size <= 4, s"no compaction: $filesBefore -> ${filesAfter.size}")
    // second compact is a no-op: one file per bucket already, no version cut
    val v = t.currentVersion
    assert(t.compact() == 0)
    assert(t.liveFileNames() == filesAfter && t.currentVersion == v)
  }

  /** SCD2 model: per key an append-only version list; a batch row appends
    * iff it is strictly newer than the open version AND any tracked
    * attribute differs. (to, current) are derived by chaining — exactly what
    * [[Merge.scd2]] must produce. */
  private def scd2Model(st: Map[Int, List[(String, Int)]],
                        batch: List[(Int, String, Int)]): Map[Int, List[(String, Int)]] =
    batch.foldLeft(st) { case (m, (k, v, f)) =>
      m.get(k) match {
        case None => m + (k -> List((v, f)))
        case Some(vs) =>
          val (cv, cf) = vs.last
          if (f > cf && v != cv) m + (k -> (vs :+ (v, f))) else m
      }
    }

  private def scd2Expected(st: Map[Int, List[(String, Int)]]): Set[(Int, String, Int, Option[Int], Boolean)] =
    st.flatMap { case (k, vs) =>
      vs.zipWithIndex.map { case ((v, f), i) =>
        val to = if (i + 1 < vs.size) Some(vs(i + 1)._2) else None
        (k, v, f, to, to.isEmpty)
      }
    }.toSet

  private def emptyDim = {
    Seq.empty[(Int, String, Int)].toDF("k", "v", "eff_from")
      .withColumn("eff_to", org.apache.spark.sql.functions.lit(null).cast("int"))
      .withColumn("is_current", org.apache.spark.sql.functions.lit(true))
  }

  test("scd2: NULL key rows survive (explicit exists markers, not " +
      "keys.head.isNotNull); duplicate-key batches rejected") {
    // a current row with a NULL key is a legal <=> join participant —
    // the old isNotNull sentinel silently dropped it from the output
    val dim = Seq((Option.empty[Int], "n", 1), (Some(1), "a", 1))
      .toDF("k", "v", "eff_from")
      .withColumn("eff_to", org.apache.spark.sql.functions.lit(null).cast("int"))
      .withColumn("is_current", org.apache.spark.sql.functions.lit(true))
    val batch = Seq((Option.empty[Int], "n2", 2)).toDF("k", "v", "eff_from")
    val out = Merge.scd2(dim, batch, Seq("k"), Seq("v"))
      .as[(Option[Int], String, Int, Option[Int], Boolean)].collect().toSet
    assert(out == Set(
      (None, "n", 1, Some(2), false),    // NULL-key row closed, not dropped
      (None, "n2", 2, None, true),
      (Some(1), "a", 1, None, true)))
    // key-duplicate batch: join fan-out would emit duplicate closes. The
    // guard is write-time (assert_true in a filter — no eager per-call job,
    // ADVICE r11), so it fires when the plan EXECUTES, not at call time.
    val dup = Seq((Some(1), "x", 3), (Some(1), "y", 3)).toDF("k", "v", "eff_from")
    val lazyOut = Merge.scd2(dim, dup, Seq("k"), Seq("v")) // no job yet
    val err = intercept[Exception](lazyOut.collect())
    val messages = Iterator.iterate[Throwable](err)(_.getCause)
      .takeWhile(_ != null).map(e => Option(e.getMessage).getOrElse("")).toSeq
    assert(messages.exists(_.contains("at most one row per key")),
      s"expected the duplicate-key guard message, got: ${messages.mkString(" | ")}")
  }

  test("property: scd2 equals the version-chain model and re-application is a no-op") {
    (0 until 6).foreach { i =>
      val batches = (0 until 3).map(j => dedupByKey(sample(i * 10L + j))).toList
      var model = Map.empty[Int, List[(String, Int)]]
      var dim = emptyDim
      batches.foreach { b =>
        // generator emits (k, ord, v); scd2 batch is (k, v=attr, eff_from=ord)
        val bdf = b.map { case (k, ord, v) => (k, v, ord) }.toDF("k", "v", "eff_from")
        dim = Merge.scd2(dim, bdf, Seq("k"), Seq("v")).localCheckpoint(true)
        model = scd2Model(model, b.map { case (k, ord, v) => (k, v, ord) })
        val got = dim.as[(Int, String, Int, Option[Int], Boolean)].collect().toSet
        assert(got == scd2Expected(model))
      }
      // idempotency: the last batch again — byte-identical state
      val last = batches.last.map { case (k, ord, v) => (k, v, ord) }.toDF("k", "v", "eff_from")
      val again = Merge.scd2(dim, last, Seq("k"), Seq("v"))
        .as[(Int, String, Int, Option[Int], Boolean)].collect().toSet
      assert(again == scd2Expected(model))
    }
  }

  test("scd2 chains validity: one open version per key, intervals contiguous") {
    val b1 = List((1, "a", 10), (2, "a", 10), (3, "a", 10))
    val b2 = List((1, "b", 20), (2, "a", 20)) // key 2: identical attrs → no-op
    val b3 = List((1, "c", 30), (4, "x", 30)) // key 4: insert path
    var dim = emptyDim
    List(b1, b2, b3).foreach { b =>
      dim = Merge.scd2(dim, b.toDF("k", "v", "eff_from"), Seq("k"), Seq("v"))
        .localCheckpoint(true)
    }
    val rows = dim.as[(Int, String, Int, Option[Int], Boolean)].collect().toList
    // key 1 has a 3-version chain 10→20→30; keys 2,3 one open version; key 4 inserted
    assert(rows.count(_._1 == 1) == 3)
    rows.groupBy(_._1).foreach { case (_, vs) =>
      assert(vs.count(_._5) == 1, "exactly one current version per key")
      val sorted = vs.sortBy(_._3)
      sorted.sliding(2).foreach {
        case List(prev, next) => assert(prev._4.contains(next._3), "contiguous intervals")
        case _ => ()
      }
      assert(sorted.last._4.isEmpty && sorted.last._5)
    }
    assert(rows.filter(_._1 == 2).map(r => (r._2, r._3)) == List(("a", 10)))
    assert(rows.filter(_._1 == 4).map(r => (r._2, r._3)) == List(("x", 30)))
    // out-of-order late batch (older eff_from, different attrs) is a no-op
    val late = Merge.scd2(dim, List((1, "z", 5)).toDF("k", "v", "eff_from"), Seq("k"), Seq("v"))
      .as[(Int, String, Int, Option[Int], Boolean)].collect().toSet
    assert(late == rows.toSet)
  }

  test("bucketed merge rejects a merge function that leaks across buckets") {
    val schema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k", org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v", org.apache.spark.sql.types.StringType)))
    val dir = java.nio.file.Files.createTempDirectory("bucketed-leak-").toString
    val t = new LogTable(spark, dir, schema, Some((Seq("k"), 8)))
    t.overwrite((0 until 16).map(k => (k, s"v$k")).toDF("k", "v"))
    val batch = Seq((1, "B1")).toDF("k", "v")
    val v = t.currentVersion
    intercept[IllegalArgumentException] {
      // not keyed on k: rewrites every key's row → rows land outside the
      // batch's buckets
      t.merge(batch)((cur, _) =>
        cur.withColumn("k", $"k" + 100))
    }
    assert(t.currentVersion == v, "a leaking merge must commit nothing")
  }
}
