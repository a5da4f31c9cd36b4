package org.apache.spark.sql

import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.datasources.FileFormatWriter

/** What `FileFormatWriter` recorded about its last write (`private[sql]`,
  * hence the package): whether the plan's ordering already met the write's
  * required ordering, and the plan it executed. It records both only while
  * the `spark.testing` system property is set. */
object WriterProbe {
  def orderingMatched: Boolean = FileFormatWriter.outputOrderingMatched
  def executedPlan: Option[SparkPlan] = FileFormatWriter.executedPlan
}
