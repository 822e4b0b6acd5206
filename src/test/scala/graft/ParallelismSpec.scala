package graft

import org.scalatest.funsuite.AnyFunSuite

/** The reference's rtiming app (`mrapps/rtiming.go`) fails the run if
  * reduce tasks do not actually execute in parallel; the engine
  * analogue is a reduce stage planned on more than one partition. Its
  * mtiming twin (every non-trivial scan planned on more than one input
  * partition) runs over every query in SurfaceSweepSpec.
  */
class ParallelismSpec extends AnyFunSuite {
  import SparkTestSession.spark

  private val sfDir = "/root/testdata/sf0.01"

  test("rtiming: the reduce side of a shuffle runs with >1 partition") {
    import org.apache.spark.sql.functions._
    val conf = spark.conf
    val prevCoalesce = conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    // AQE legitimately coalesces tiny test shuffles to 1 — disable it so
    // the assertion sees the configured reduce parallelism, which is
    // what a real data volume would get
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try {
      val reduced = Tables.documents(spark, sfDir)
        .select(explode(split(lower(col("text")), "[^a-z]+")).as("word"))
        .filter(col("word") =!= "")
        .groupBy("word").count()
      assert(reduced.rdd.getNumPartitions > 1,
        "reduce stage ran on a single partition")
    } finally {
      conf.set("spark.sql.adaptive.coalescePartitions.enabled", prevCoalesce)
    }
  }
}
