package graft

import org.apache.spark.sql.SparkSession

/** The one place a SparkSession is built; every main and the test suite
  * share these settings. UTC; parquet nanos read as longs (the `Tables`
  * shim converts `events.ts`) and no TIMESTAMP_NTZ inference;
  * `GraftExtensions` (SQL `vec_dot`); AQE on, the config we'd run on a
  * real cluster; UI off; WARN logging. Callers pick only the master and
  * the shuffle-partition count.
  */
object GraftSession {
  def apply(master: String, partitions: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", partitions.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** The mains' session: `local[n]`, n shuffle partitions, n =
    * `SPARK_GRAFT_CPUS` (default 32). */
  def fromEnv(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt
    apply(s"local[$cpus]", cpus)
  }
}
