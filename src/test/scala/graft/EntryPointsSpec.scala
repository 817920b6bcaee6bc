package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** The production sources carry exactly three entry points. A one-off
  * measurement `main` belongs in a throwaway spec or outside the tree,
  * not in the shipped jar.
  */
class EntryPointsSpec extends AnyFunSuite {

  test("only Bench, Verify and PlanDump define a main under src/main/scala") {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = {
      val files = java.nio.file.Files.walk(root)
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally files.close()
    }.flatMap { f =>
      val src = java.nio.file.Files.readString(f)
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
          .map(_.group(1)).getOrElse(s"<no object> in $f")
      }
    }
    assert(mains.sorted === Seq("Bench", "PlanDump", "Verify"))
  }
}
