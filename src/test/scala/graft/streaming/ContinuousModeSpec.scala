package graft.streaming

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.SparkSpec

/** Continuous-trigger flavor of the bronze layer (the reference's stream
  * test, `Test Scripts/09-stream-test.py`): ProcessingTime trigger, live
  * file drops, processAllAvailable() instead of availableNow drain, into a
  * Bronze log table through the `graft-logtable` sink — plus the `topic`
  * demux Silver applies to the multiplex table.
  */
class ContinuousModeSpec extends SparkSpec {

  test("bronze ingests live file drops under a ProcessingTime trigger") {
    val root = Files.createTempDirectory("cont-")
    val landing = root.resolve("multiplex")
    Files.createDirectories(landing)
    def envelope(topic: String, off: Long) =
      s"""{"key":"k$off","value":"{}","topic":"$topic","partition":0,"offset":$off,"timestamp":${1704100000000L + off}}"""
    Files.write(landing.resolve("a.json"),
      (1L to 5L).map(envelope("bpm", _)).mkString("\n").getBytes)

    val table = s"$root/bronze"
    def bronze() = spark.read.format("graft-logtable").load(table)
    val q = Bronze.jsonStream(spark, landing.toString, Schemas.kafkaMultiplexJson)
      .writeStream.format("graft-logtable")
      .queryName("cont_bronze")
      .option("appId", "cont_bronze")
      .option("checkpointLocation", s"$root/ckpt")
      .trigger(Trigger.ProcessingTime("5 seconds"))
      .start(table)
    try {
      q.processAllAvailable()
      assert(bronze().count() == 5)
      // live drop of a second file while the query keeps running: write
      // outside the source glob, then atomic-move in — a concurrent trigger
      // must never list a half-written file (it would be latched as
      // processed with partial rows)
      val tmp = root.resolve("b.json.tmp")
      Files.write(tmp, (6L to 9L).map(envelope("workout", _)).mkString("\n").getBytes)
      Files.move(tmp, landing.resolve("b.json"),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE)
      q.processAllAvailable()
      assert(bronze().count() == 9)
      assert(bronze().filter(col("topic") === "bpm").count() == 5)
    } finally q.stop()
  }
}
