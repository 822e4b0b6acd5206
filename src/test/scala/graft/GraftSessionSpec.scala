package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Sessions come only from [[GraftSession]], so the mains' and the test
  * suite's settings cannot drift apart between copies again. */
class GraftSessionSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("no session is built under src/ outside GraftSession") {
    val needle = "SparkSession" + ".builder" // split: this file must not match
    val walk = Files.walk(Paths.get("src"))
    val hits =
      try walk.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".scala") && Files.readString(Paths.get(p)).contains(needle))
        .toList
      finally walk.close()
    assert(hits == List("src/main/scala/graft/GraftSession.scala"), hits)
  }

  test("the test session carries the shared settings") {
    val conf = spark.conf
    assert(conf.get("spark.sql.session.timeZone") == "UTC")
    assert(conf.get("spark.sql.legacy.parquet.nanosAsLong") == "true")
    assert(conf.get("spark.sql.parquet.inferTimestampNTZ.enabled") == "false")
    assert(conf.get("spark.sql.adaptive.enabled") == "true")
    assert(spark.sql("SELECT vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D))")
      .head().getDouble(0) == 11.0)
  }
}
