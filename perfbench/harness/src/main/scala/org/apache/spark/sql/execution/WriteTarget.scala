package org.apache.spark.sql.execution

import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd

/** The directory a finished SQL execution wrote, when it was a file write.
  * The execution's plan is private to Spark's SQL package, hence this
  * package. */
object WriteTarget {
  def apply(e: SparkListenerSQLExecutionEnd): Option[String] =
    Option(e.qe).flatMap(_.logical.collectFirst {
      case c: InsertIntoHadoopFsRelationCommand => c.outputPath.toUri.getPath
    })
}
