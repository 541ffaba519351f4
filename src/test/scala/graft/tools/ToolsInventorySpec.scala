package graft.tools

import java.io.File
import org.scalatest.funsuite.AnyFunSuite
import scala.io.Source

/** Keeps `src/main/scala/graft/tools` to the tools something drives:
  * every top-level object there must be named by a spec or by a
  * `runMain graft.tools.X` line in README.md or the verify skill. A
  * one-off probe otherwise lingers in the product tree after its number
  * is recorded — git history is where it belongs. */
class ToolsInventorySpec extends AnyFunSuite {
  private def read(f: File): String =
    if (!f.isFile) ""
    else { val src = Source.fromFile(f, "UTF-8"); try src.mkString finally src.close() }

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f) else Nil
    }

  test("every tools object is driven by a spec or a runMain recipe") {
    val toolFiles = scalaFiles(new File("src/main/scala/graft/tools"))
    assert(toolFiles.nonEmpty, "run from the repository root")
    val TopObject = """(?m)^(?:private(?:\[\w+\])?\s+)?(?:case\s+)?object\s+(\w+)""".r
    val objects = toolFiles.flatMap(f => TopObject.findAllMatchIn(read(f)).map(_.group(1)))

    val specText = scalaFiles(new File("src/test/scala"))
      .filterNot(_.getName == "ToolsInventorySpec.scala").map(read).mkString("\n")
    val RunMain = """runMain graft\.tools\.(\w+)""".r
    val recipes = Seq("README.md", ".claude/skills/verify/SKILL.md")
      .flatMap(p => RunMain.findAllMatchIn(read(new File(p))).map(_.group(1))).toSet

    val orphans = objects.filterNot(o =>
      recipes(o) || s"\\b$o\\b".r.findFirstIn(specText).isDefined).sorted
    assert(orphans.isEmpty,
      s"${orphans.size} tools objects driven by no spec or runMain recipe: " +
        orphans.mkString(", "))
  }
}
