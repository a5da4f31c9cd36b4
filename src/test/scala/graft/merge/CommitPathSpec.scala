package graft.merge

import java.nio.file.{Files, Paths}
import java.util.concurrent.atomic.AtomicBoolean
import scala.jdk.CollectionConverters._

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode, TextNode}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.SparkSpec

/** The one commit path of [[LogTable]]: every verb derives the next state
  * from the live snapshot inside one retry loop, so a lost CAS re-runs the
  * verb's checks against the newer snapshot; and every commit writes the
  * difference between two snapshots, pinned here action by action. The
  * interleavings use the in-commit clock, which runs inside the commit
  * attempt after the derive: a second handle commits there, never a sleep. */
class CommitPathSpec extends SparkSpec {
  import spark.implicits._

  private val s2 = StructType(Seq(
    StructField("k", LongType), StructField("v", StringType)))

  private def tmp(prefix: String): String =
    Files.createTempDirectory(prefix).toString

  /** A handle on `root` whose first commit attempt lets `interloper` commit
    * first (through its own handle) and so loses its CAS. */
  private def racedOnce(root: String)(interloper: => Unit): (LogTable, AtomicBoolean) = {
    val fired = new AtomicBoolean(false)
    val t = new LogTable(spark, root, s2, clock = () => {
      if (fired.compareAndSet(false, true)) interloper
      System.currentTimeMillis()
    })
    (t, fired)
  }

  test("addConstraint re-derives after a lost CAS: a violating row appended " +
      "between its scan and its CAS rejects the constraint") {
    val root = tmp("commit-constraint-")
    val other = new LogTable(spark, root, s2)
    other.append(Seq((1L, "a")).toDF("k", "v"))                           // v1
    val (t, fired) = racedOnce(root)(
      other.append(Seq((-1L, "bad")).toDF("k", "v")))                     // v2
    val e = intercept[IllegalArgumentException](t.addConstraint("k_pos", "k > 0"))
    assert(fired.get())
    assert(e.getMessage.contains("1 existing row(s) violate it"), e.getMessage)
    assert(t.constraints.isEmpty)
    assert(t.history() == Seq(1L, 2L))
  }

  test("evolve re-derives after a lost CAS: it lands on top of a concurrent " +
      "setDefault") {
    val root = tmp("commit-evolve-")
    val other = new LogTable(spark, root, s2)
    other.append(Seq((1L, "a")).toDF("k", "v"))                           // v1
    val (t, fired) = racedOnce(root)(other.setDefault("v", Some("'x'")))  // v2
    t.evolve(s2.add(StructField("w", LongType)))                          // v3
    assert(fired.get())
    assert(t.history() == Seq(1L, 2L, 3L))
    val live = t.currentSchema
    assert(live.fieldNames.toSeq == Seq("k", "v", "w"))
    assert(live("v").metadata.getString(LogTable.DefaultKey) == "'x'",
      "the evolve overwrote the concurrent default")
  }

  test("renameColumn re-derives after a lost CAS: it lands on top of a " +
      "concurrent evolve") {
    val root = tmp("commit-rename-")
    val other = new LogTable(spark, root, s2)
    other.append(Seq((1L, "a")).toDF("k", "v"))                           // v1
    val (t, fired) = racedOnce(root)(
      other.evolve(s2.add(StructField("w", LongType))))                   // v2
    t.renameColumn("v", "v2")                                             // v3
    assert(fired.get())
    assert(t.history() == Seq(1L, 2L, 3L))
    assert(t.currentSchema.fieldNames.toSeq == Seq("k", "v2", "w"),
      "the rename dropped the concurrently added column")
    assert(t.read().select("k", "v2").as[(Long, String)].collect().toSeq == Seq((1L, "a")))
  }

  test("a metadata verb that loses every race throws after its attempts") {
    val root = tmp("commit-storm-")
    val other = new LogTable(spark, root, s2)
    other.append(Seq((0L, "a")).toDF("k", "v"))                           // v1
    var interlopers = 0L
    val t = new LogTable(spark, root, s2, clock = () => {
      interlopers += 1
      other.append(Seq((interlopers, "x")).toDF("k", "v"))
      System.currentTimeMillis()
    })
    val e = intercept[IllegalStateException](t.addFeature("deletionVectors"))
    assert(e.getMessage.contains("5 times"), e.getMessage)
    assert(interlopers == 5L)
    assert(t.features.isEmpty)
    assert(t.history() == (1L to 6L))
  }

  test("setDefault with the default a column already has cuts no version") {
    val t = new LogTable(spark, tmp("commit-default-"), s2)
    t.append(Seq((1L, "a")).toDF("k", "v"))                               // v1
    t.setDefault("v", Some("'x'"))                                        // v2
    t.setDefault("v", Some("'x'"))
    assert(t.history() == Seq(1L, 2L))
    t.setDefault("v", None)                                               // v3
    t.setDefault("v", None)
    assert(t.history() == Seq(1L, 2L, 3L))
    t.append(Seq(2L).toDF("k"))                                           // v4
    assert(t.read().orderBy("k").as[(Long, Option[String])].collect().toSeq ==
      Seq((1L, Some("a")), (2L, None)))
  }

  /** The log at `root` as compact JSON, one line per manifest in version
    * order and then the checkpoints: `ts` dropped, the `schema` string
    * parsed into JSON, and every data file / DV sidecar name replaced by
    * `f<n>` / `dv<n>` in order of first appearance (names are uuids). */
  private def canonicalLog(root: String, versions: Seq[Long],
                           checkpoints: Seq[Long]): Seq[String] = {
    val mapper = new ObjectMapper()
    val tokens = scala.collection.mutable.LinkedHashMap.empty[String, String]
    def token(n: String): String = tokens.getOrElseUpdate(n, {
      val kind = if (n.startsWith("dv-")) "dv" else "f"
      s"$kind${tokens.values.count(_.startsWith(kind)) + 1}"
    })
    def canon(file: String): String = {
      val n = mapper.readTree(Files.readAllBytes(Paths.get(root, "_log", file)))
        .asInstanceOf[ObjectNode]
      n.remove("ts")
      Option(n.get("schema")).foreach(s => n.replace("schema", mapper.readTree(s.asText())))
      for (key <- Seq("add", "files"); arr <- Option(n.get(key)))
        arr.elements().asScala.foreach { e =>
          val o = e.asInstanceOf[ObjectNode]
          o.put("name", token(o.get("name").asText()))
        }
      for (key <- Seq("remove", "dvAdd", "dvRemove", "dv"); arr <- Option(n.get(key))) {
        val a = arr.asInstanceOf[ArrayNode]
        (0 until a.size()).foreach(i => a.set(i, new TextNode(token(a.get(i).asText()))))
      }
      mapper.writeValueAsString(n)
    }
    versions.map(v => canon(f"$v%020d.json")) ++
      checkpoints.map(v => canon(f"$v%020d.checkpoint.json"))
  }

  test("log format: each verb kind writes its pinned manifest actions, and " +
      "the checkpoint holds the folded state") {
    val root = tmp("commit-format-")
    val t = new LogTable(spark, root, s2, statsBy = Seq("k"), rowTracking = true)
    // one file per write: the names' order of appearance is then fixed
    def one(rows: (Long, String)*) = rows.toDF("k", "v").coalesce(1)
    t.overwrite(one((1L, "a"), (2L, "b"), (3L, "c")))                     // v1
    t.append(one((4L, "d"), (5L, "e")))                                   // v2
    assert(t.deleteWhere(col("k") === 2L) == 1L)                          // v3
    assert(t.appendOnce(one((6L, "f")), "sink", 0L))                      // v4
    t.addConstraint("k_pos", "k > 0")                                     // v5
    t.addFeature("deletionVectors")                                       // v6
    t.evolve(s2.add(StructField("w", LongType)))                          // v7
    t.setDefault("v", Some("'d'"))                                        // v8
    t.dropConstraint("k_pos")                                             // v9
    assert(t.compact() == 3)                                              // v10 + checkpoint
    assert(t.updateWhere(col("k") === 4L, Map("v" -> lit("u"))) == 1L)    // v11
    t.merge(Seq((7L, "g", 70L)).toDF("k", "v", "w").coalesce(1))(
      (cur, b) => Merge.scd1(cur, b, Seq("k")).coalesce(1))               // v12
    t.renameColumn("w", "w2")                                             // v13
    t.dropColumn("w2")                                                    // v14
    t.replaceWhere(col("k") === 8L, one((8L, "r")))                       // v15
    assert(t.history() == (1L to 15L))
    assert(t.checkpointVersions() == Seq(10L))
    assert(t.read().orderBy("k").as[(Long, String)].collect().toSeq ==
      Seq((1L, "a"), (3L, "c"), (4L, "u"), (5L, "e"), (6L, "f"), (7L, "g"), (8L, "r")))
    val actual = canonicalLog(root, t.history(), t.checkpointVersions())
    val expected = CommitPathSpec.PinnedLog.linesIterator.filter(_.nonEmpty).toSeq
    assert(actual.size == expected.size)
    actual.zip(expected).zipWithIndex.foreach { case ((a, e), i) =>
      assert(a == e, s"log entry ${i + 1} of ${actual.size}")
    }
  }
}

object CommitPathSpec {
  /** The canonical log of the format test: versions 1–15, then the
    * checkpoint at 10. */
  val PinnedLog: String = """
{"version":1,"dataChange":true,"rowIdHwm":3,"rowTracking":true,"schema":{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}},{"name":"v","type":"string","nullable":true,"metadata":{}}]},"add":[{"name":"f1","bucket":-1,"rows":3,"base":1,"stats":{"k":["1","3"]}}],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":2,"dataChange":true,"rowIdHwm":5,"rowTracking":true,"add":[{"name":"f2","bucket":-1,"rows":2,"base":4,"stats":{"k":["4","5"]}}],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":3,"dataChange":true,"rowIdHwm":5,"rowTracking":true,"add":[],"remove":[],"dvAdd":["dv1"],"dvRemove":[]}
{"version":4,"dataChange":true,"rowIdHwm":6,"rowTracking":true,"txn":{"app":"sink","batch":0},"add":[{"name":"f3","bucket":-1,"rows":1,"base":6,"stats":{"k":["6","6"]}}],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":5,"dataChange":false,"rowIdHwm":6,"rowTracking":true,"constraintAdd":{"name":"k_pos","expr":"k > 0"},"add":[],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":6,"dataChange":false,"rowIdHwm":6,"rowTracking":true,"featureAdd":"deletionVectors","add":[],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":7,"dataChange":false,"rowIdHwm":6,"rowTracking":true,"schema":{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}},{"name":"v","type":"string","nullable":true,"metadata":{}},{"name":"w","type":"long","nullable":true,"metadata":{}}]},"add":[],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":8,"dataChange":false,"rowIdHwm":6,"rowTracking":true,"schema":{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}},{"name":"v","type":"string","nullable":true,"metadata":{"graft.defaultValue":"'d'"}},{"name":"w","type":"long","nullable":true,"metadata":{}}]},"add":[],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":9,"dataChange":false,"rowIdHwm":6,"rowTracking":true,"constraintDrop":"k_pos","add":[],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":10,"dataChange":false,"rowIdHwm":6,"rowTracking":true,"add":[{"name":"f4","bucket":-1,"stats":{"k":["1","6"]}}],"remove":["f1","f2","f3"],"dvAdd":[],"dvRemove":["dv1"]}
{"version":11,"dataChange":true,"rowIdHwm":11,"rowTracking":true,"add":[{"name":"f5","bucket":-1,"rows":5,"base":7,"stats":{"k":["1","6"]}}],"remove":["f4"],"dvAdd":[],"dvRemove":[]}
{"version":12,"dataChange":true,"rowIdHwm":17,"rowTracking":true,"add":[{"name":"f6","bucket":-1,"rows":6,"base":12,"stats":{"k":["1","7"]}}],"remove":["f5"],"dvAdd":[],"dvRemove":[]}
{"version":13,"dataChange":false,"rowIdHwm":17,"rowTracking":true,"schema":{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{"graft.physical":"k"}},{"name":"v","type":"string","nullable":true,"metadata":{"graft.defaultValue":"'d'","graft.physical":"v"}},{"name":"w2","type":"long","nullable":true,"metadata":{"graft.physical":"w"}}]},"add":[],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":14,"dataChange":false,"rowIdHwm":17,"rowTracking":true,"schema":{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{"graft.physical":"k"}},{"name":"v","type":"string","nullable":true,"metadata":{"graft.defaultValue":"'d'","graft.physical":"v"}}]},"add":[],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":15,"dataChange":true,"rowIdHwm":18,"rowTracking":true,"add":[{"name":"f7","bucket":-1,"rows":1,"base":18,"stats":{"k":["8","8"]}}],"remove":[],"dvAdd":[],"dvRemove":[]}
{"version":10,"rowIdHwm":6,"rowTracking":true,"schema":{"type":"struct","fields":[{"name":"k","type":"long","nullable":true,"metadata":{}},{"name":"v","type":"string","nullable":true,"metadata":{"graft.defaultValue":"'d'"}},{"name":"w","type":"long","nullable":true,"metadata":{}}]},"txns":{"sink":0},"constraints":{},"files":[{"name":"f4","bucket":-1,"stats":{"k":["1","6"]}}],"dv":[],"features":["deletionVectors"]}
"""
}
