package graft.streaming

import java.nio.file.Files
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import graft.{Probe, SparkSpec}

/** `Medallion`'s layer calls run on Spark's interpreted path, scoped to the
  * call on the caller's own session:
  *   - a set compiles next to no generated classes (a codegen'd set 1 ran
  *     about 160). `factoryMode` is an internal Spark conf: if a Spark
  *     upgrade stops honouring it, the compile bound fails;
  *   - the caller's two settings read afterwards exactly as before, unset or
  *     set, also when a layer throws;
  *   - a listener on the caller's session sees every micro-batch, which a
  *     medallion on a cloned session would hide from it. */
class MedallionInterpretedSpec extends SparkSpec {
  import MedallionFixtures.set1

  private val WholeStage = "spark.sql.codegen.wholeStage"
  private val FactoryMode = "spark.sql.codegen.factoryMode"

  private def pipeline() = {
    val root = Files.createTempDirectory("medallion-interp-")
    val m = new Medallion(spark, root.resolve("landing").toString, s"$root/tables",
      s"$root/ckpt", lit("2024-01-15").cast("date"))
    set1(root.resolve("landing"))
    m
  }

  /** The caller's explicit value of each setting; None when unset. */
  private def settings() = {
    val all = spark.conf.getAll
    (all.get(WholeStage), all.get(FactoryMode))
  }

  /** Run `body` with the two settings as given (None = unset), and put
    * them back unset afterwards for the specs that follow. */
  private def withSettings(wholeStage: Option[String], factoryMode: Option[String])
                          (body: => Unit): Unit = {
    Seq(WholeStage -> wholeStage, FactoryMode -> factoryMode).foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    try body finally { spark.conf.unset(WholeStage); spark.conf.unset(FactoryMode) }
  }

  test("runAll over set 1 compiles at most 10 classes and leaves unset settings unset") {
    withSettings(None, None) {
      val m = pipeline()
      val c0 = Probe.compiles()
      m.runAll(MedallionFixtures.dateLookup(spark))
      val compiled = Probe.compiles() - c0
      info(s"$compiled Janino compiles")
      assert(compiled <= 10, s"$compiled Janino compiles in one medallion set")
      assert(settings() == (None, None))
      assert(m.workoutBpmTable.read().count() == 7)
    }
  }

  test("a layer call restores settings the caller set explicitly") {
    withSettings(Some("true"), None) {
      pipeline().runBronze(MedallionFixtures.dateLookup(spark))
      assert(settings() == (Some("true"), None))
    }
  }

  test("a layer call that throws restores the caller's settings") {
    withSettings(None, Some("FALLBACK")) {
      // a calendar without the `date` column fails Bronze's week_part join
      val noDates = spark.range(1).toDF("day")
      intercept[org.apache.spark.sql.AnalysisException](pipeline().runBronze(noDates))
      assert(settings() == (None, Some("FALLBACK")))
    }
  }

  test("a listener on the caller's session sees every micro-batch of runAll") {
    val progress = new ConcurrentLinkedQueue[(String, Long)]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit =
        progress.add(e.progress.name -> e.progress.numInputRows)
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
    }
    spark.streams.addListener(listener)
    try {
      pipeline().runAll(MedallionFixtures.dateLookup(spark))
      // the listener bus is asynchronous: wait (up to 30 s) for 8 batches
      val deadline = System.nanoTime() + 30000000000L
      while (progress.size < 8 && System.nanoTime() < deadline) Thread.sleep(10)
      // one batch per Bronze stream and per wave-1 stream; the landing set
      // has 2 registered users, 1 gym login and 14 multiplex lines, and
      // each of the three multiplex Silver streams reads all 14 and keeps
      // its own `topic` (2 user_info, 2 workout, 10 bpm)
      assert(progress.asScala.toSeq.sorted == Seq(
        "bronze_gym_logins" -> 1L, "bronze_multiplex" -> 14L,
        "bronze_registered_users" -> 2L, "silver_gym_logs" -> 1L,
        "silver_heart_rate" -> 14L, "silver_user_profile" -> 14L,
        "silver_users" -> 2L, "silver_workouts" -> 14L))
    } finally spark.streams.removeListener(listener)
  }
}
