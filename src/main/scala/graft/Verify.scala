package graft
import java.nio.file.{Files, Paths}
import org.json4s.{DefaultFormats, Formats}
import org.json4s.jackson.Serialization
/** Correctness dump: each SparkEntry.queries result → parquet, plus
  * oracle_sql.json, for the DuckDB compare (tools/selfcheck.py). A query
  * that throws does not stop the dump; once everything else is written
  * the main exits non-zero, naming every query that threw. */
object Verify {
  def main(args: Array[String]): Unit = {
    require(args.length >= 2, "usage: Verify <sfDir> <outDir> [query...]")
    val Array(sfDir, outDir) = args.take(2)
    // Optional trailing query names restrict the dump (dev loop); the
    // unknown-name check fails loudly instead of silently dumping nothing
    // and letting a stale outDir masquerade as the new result.
    val subset = args.drop(2).toSet
    val unknown = subset.diff(SparkEntry.queries.keySet)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    val spark = GraftSession.fromEnv()
    new java.io.File(outDir).mkdirs()
    val failed = SparkEntry.queries
      .filter { case (name, _) => subset.isEmpty || subset(name) }
      .flatMap { case (name, fn) =>
        try {
          fn(spark, sfDir).coalesce(1).write.mode("overwrite")
            .parquet(s"$outDir/$name")
          None
        } catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: ${e.getMessage}")
          Some(name)
        }
      }
    implicit val formats: Formats = DefaultFormats
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      Serialization.write(SparkEntry.oracleSql))
    spark.stop()
    if (failed.nonEmpty) {
      System.err.println(
        s"[verify] ${failed.size} queries failed: ${failed.mkString(",")}")
      sys.exit(1)
    }
  }
}
