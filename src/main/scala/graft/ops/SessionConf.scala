package graft.ops

import org.apache.spark.sql.SparkSession

/** Temporary session settings: [[scoped]] sets each key on the caller's
  * session (not a clone, so its listeners keep seeing `body`'s work) for
  * the length of `body`, then puts back what it found, also when `body`
  * throws. A set key gets its old value back and an unset key is unset
  * again, not left set to its default as a `conf.get` restore would. */
object SessionConf {
  def scoped[T](spark: SparkSession, settings: (String, String)*)(body: => T): T = {
    val set = spark.conf.getAll
    val before = settings.map { case (k, _) => k -> set.get(k) }
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally before.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }
}
