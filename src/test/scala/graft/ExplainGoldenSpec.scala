package graft

import java.io.File
import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** EXPLAINS.md is a golden file: the normalized render of
  * [[ExplainDump.Headline]] and the ledger plans at sf0.01, the plans
  * README's "Design for scale" claims rest on. A change that moves an
  * exchange, a broadcast or a pushed filter in any of them fails here;
  * when the change is intended, the failure names the command that
  * accepts it. The render runs in a fresh session, so SQL conf that
  * other suites leave on the shared one cannot leak into the plans.
  */
class ExplainGoldenSpec extends AnyFunSuite {
  private val golden = Paths.get("EXPLAINS.md")
  private val fresh = Paths.get("target", "EXPLAINS.md")

  /** `## name` → section text, in file order. */
  private def sections(md: String): Seq[(String, String)] =
    md.split("\n## ").toSeq.drop(1).map { s =>
      val (name, rest) = s.span(_ != '\n')
      name -> rest
    }

  test("EXPLAINS.md equals a fresh render of the headline and ledger plans") {
    val sfDir = new File(new File(SparkTestSession.sfDir).getParent, "sf0.01").getPath
    val rendered = ExplainDump.render(SparkTestSession.spark.newSession(), sfDir,
      ExplainDump.Headline ++ ExplainDump.LedgerPlans)
    val expected = Files.readString(golden)
    if (rendered != expected) {
      Files.createDirectories(fresh.getParent)
      Files.writeString(fresh, rendered)
      val (wasSeq, nowSeq) = (sections(expected), sections(rendered))
      val (was, now) = (wasSeq.toMap, nowSeq.toMap)
      val changed = (wasSeq ++ nowSeq).map(_._1).distinct
        .filter(n => was.get(n) != now.get(n))
      val detail = changed.headOption.map { n =>
        val (a, b) = (was.getOrElse(n, "").split("\n"), now.getOrElse(n, "").split("\n"))
        val i = a.zipAll(b, "<none>", "<none>").indexWhere { case (x, y) => x != y }
        s"first difference in $n, line ${i + 1} of the section:\n" +
          s"  EXPLAINS.md: ${a.lift(i).getOrElse("<none>")}\n" +
          s"  rendered:    ${b.lift(i).getOrElse("<none>")}\n"
      }.getOrElse("")
      val where = if (changed.isEmpty) "the header" else changed.mkString(", ")
      fail(s"plans differ from EXPLAINS.md in: $where\n$detail" +
        s"the render is in $fresh; if the change is intended, run\n" +
        s"  cp $fresh $golden")
    }
  }
}
