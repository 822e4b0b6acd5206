package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** One pin rule under src/main: a `localCheckpoint` is eager, and stays
  * lazy only where one driver action reads all of it before any other
  * consumer runs (a loop's `head`/`isEmpty`/`collect`, a
  * `collectBounded`, an eager pin further downstream), or where each
  * round has one consumer. A lazy pin that concurrent AQE stages read
  * is computed once per stage, and the first stage to finish truncates
  * its lineage under the others (`Failed to update accumulator`,
  * `Block rdd_N_0 already exists`).
  *
  * Each lazy site is keyed by file and enclosing `def` (nested defs
  * joined by '.'), one entry per site.
  */
class PinContractSpec extends AnyFunSuite {

  private val allowed: List[(String, String)] = List(
    // Lloyd's initModel collects the quantized frame first
    "ClusterQueries.scala" -> "kmeansAssign",
    "ClusterQueries.scala" -> "qKmeansInertia",
    "ClusterQueries.scala" -> "qSilhouette",
    "IvfKnn.scala" -> "buildIndexFrom",
    // each merge round's driver collect reads it first
    "AdvancedTextQueries.scala" -> "trainBpeMerges",
    "AdvancedTextQueries.scala" -> "trainBpeMerges",
    // the round's label-sum head()
    "GraphOps.scala" -> "ccRoundsPreSym",
    // one consumer per round: the next round's join
    "GraphOps.scala" -> "pageRank",
    // the frontier's isEmpty, then the next round's anti-join
    "GraphOps.scala" -> "bfsDepths",
    "GraphOps.scala" -> "bfsDepths",
    // the L1 head()
    "GraphOps.scala" -> "hits.normalize",
    // one consumer per round: the next round's join
    "BehaviorQueries.scala" -> "qStationaryDistributed",
    // triangleCounts' eager pin reads it first
    "AnalyticsQueries.scala" -> "qClusteringCoef",
    // collectBounded reads the bands first
    "MinHashLedger.scala" -> "ingest",
    "MinHashLedger.scala" -> "candidatePairsAgainst")

  private val lazyPin = """localCheckpoint\(\s*false\s*\)|eager\s*=\s*false""".r
  private val defLine = """^\s*(?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+)*def\s+(\w+)""".r

  /** (file name, enclosing def path, line number) of every lazy pin. */
  private def lazySites(file: Path): List[(String, String, Int)] = {
    var stack = List.empty[(Int, String)] // (indent, def name), innermost first
    Files.readAllLines(file).asScala.toList.zipWithIndex.flatMap { case (line, i) =>
      val trimmed = line.trim
      if (trimmed.isEmpty) Nil
      else {
        val indent = line.indexWhere(_ != ' ')
        stack = stack.dropWhile(_._1 >= indent)
        defLine.findFirstMatchIn(line).foreach(m => stack = (indent, m.group(1)) :: stack)
        val comment = trimmed.startsWith("//") || trimmed.startsWith("*") ||
          trimmed.startsWith("/*")
        if (comment || lazyPin.findFirstIn(line).isEmpty) Nil
        else List((file.getFileName.toString,
          stack.reverse.map(_._2).mkString("."), i + 1))
      }
    }
  }

  test("lazy localCheckpoint only at the allowlisted sites") {
    val walk = Files.walk(Paths.get("src/main"))
    val sites =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
        .toList.flatMap(lazySites)
      finally walk.close()
    val found = sites.map { case (f, d, _) => (f, d) }
    val unexpected = sites.filter { case (f, d, _) =>
      found.count(_ == ((f, d))) > allowed.count(_ == ((f, d)))
    }.map { case (f, d, n) => s"$f:$n in def $d" }
    val missing = allowed.distinct.filter(k => allowed.count(_ == k) > found.count(_ == k))
      .map { case (f, d) => s"$f def $d" }
    assert(unexpected.isEmpty,
      s"lazy pins outside the allowlist (make them eager): ${unexpected.mkString(", ")}")
    assert(missing.isEmpty,
      s"allowlisted lazy pins no longer present (drop them): ${missing.mkString(", ")}")
  }
}
