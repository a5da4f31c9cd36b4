package graft.ops

import graft.SparkSpec

/** [[SessionConf.scoped]] puts the session back as it found it: an unset
  * key is unset again (not left explicitly set to its default), a set key
  * gets its old value back, and both hold when the body throws. */
class SessionConfSpec extends SparkSpec {

  // a real setting with a default, which nothing in the suite sets
  private val Unset = "spark.sql.streaming.stateStore.minDeltasForSnapshot"
  private val Set = "graft.spec.sessionConf.set"

  private def explicit(k: String) = spark.conf.getAll.get(k)

  private def withSetKey(body: => Unit): Unit = {
    spark.conf.set(Set, "before")
    try body finally spark.conf.unset(Set)
  }

  test("inside the body both keys read the scoped values") {
    withSetKey {
      SessionConf.scoped(spark, Unset -> "7", Set -> "during") {
        assert(spark.conf.get(Unset) == "7" && spark.conf.get(Set) == "during")
      }
    }
  }

  test("an unset key is unset again and a set key gets its value back") {
    withSetKey {
      assert(explicit(Unset).isEmpty)
      assert(SessionConf.scoped(spark, Unset -> "7", Set -> "during")(42) == 42)
      assert(explicit(Unset).isEmpty)
      assert(explicit(Set).contains("before"))
    }
  }

  test("both hold when the body throws") {
    withSetKey {
      intercept[IllegalStateException] {
        SessionConf.scoped(spark, Unset -> "7", Set -> "during") {
          throw new IllegalStateException("body failed")
        }
      }
      assert(explicit(Unset).isEmpty)
      assert(explicit(Set).contains("before"))
    }
  }
}
