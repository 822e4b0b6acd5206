package graft

import org.apache.spark.sql.SparkSession

/** One shared local SparkSession for the whole ScalaTest run. */
object SparkTestSession {
  // local[threads, maxFailures]: allow one task retry so the
  // fault-injection spec can exercise Spark's re-execution path
  // (plain local[4] fails the job on first task failure).
  lazy val spark: SparkSession = GraftSession("local[4,2]", 4)
  val sfDir = "/root/testdata/sf0.001"
}
