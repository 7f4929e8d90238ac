package graft

import org.apache.spark.sql.SparkSession

/** One shared local session for the whole forked test JVM, built by the
  * production factory (extension, UTC, codegen cache) with a fixed
  * layout, so every host runs the tests under the same threads and
  * shuffle partitions. */
object TestSpark {
  lazy val spark: SparkSession = GraftSession.harness("graft-tests",
    "spark.master" -> "local[4]", "spark.sql.shuffle.partitions" -> "4")
}
