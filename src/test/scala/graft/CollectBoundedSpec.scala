package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Driver collects are capped in one place, [[Tables.collectBounded]],
  * so every capped site shares its `limit(cap + 1)` contract. */
class CollectBoundedSpec extends AnyFunSuite {
  import SparkTestSession.spark

  test("collectBounded returns the rows up to the cap and None past it") {
    val df = spark.range(5).toDF("id")
    assert(Tables.collectBounded(df, 5).map(_.map(_.getLong(0)).toSet) ==
      Some(Set(0L, 1L, 2L, 3L, 4L)))
    assert(Tables.collectBounded(df, 4).isEmpty)
  }

  test("no capped collect under src/main outside Tables.collectBounded") {
    val cappedCollect = """limit\([^()]*\+\s*1\)\s*\.collect\(\)""".r
    val walk = Files.walk(Paths.get("src/main"))
    val hits =
      try walk.iterator().asScala.map(_.toString)
        .filter(p => p.endsWith(".scala") &&
          cappedCollect.findFirstIn(Files.readString(Paths.get(p))).nonEmpty)
        .toList.sorted
      finally walk.close()
    assert(hits == List("src/main/scala/graft/Tables.scala"), hits)
  }
}
