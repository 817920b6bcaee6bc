package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source scans over the production tree. It carries exactly three entry
  * points: a one-off measurement `main` belongs in a throwaway spec or
  * outside the tree, not in the shipped jar. And it cuts lineage in one
  * place: `graftglue.StatsSafeCheckpoint`, behind `Iterative.cut`.
  */
class EntryPointsSpec extends AnyFunSuite {

  private def sources(): List[(java.nio.file.Path, String)] = {
    val root = java.nio.file.Paths.get("src/main/scala")
    assert(java.nio.file.Files.isDirectory(root), s"run from the repo root: $root")
    val files = java.nio.file.Files.walk(root)
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      .map(f => f -> java.nio.file.Files.readString(f))
    finally files.close()
  }

  test("only Bench, Verify and PlanDump define a main under src/main/scala") {
    val objectDecl = """\bobject\s+(\w+)""".r
    val mains = sources().flatMap { case (f, src) =>
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        objectDecl.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
          .map(_.group(1)).getOrElse(s"<no object> in $f")
      }
    }
    assert(mains.sorted === Seq("Bench", "PlanDump", "Verify"))
  }

  test("no localCheckpoint call outside graftglue.StatsSafeCheckpoint") {
    // a raw localCheckpoint keeps the child plan's size estimates, which a
    // join loop squares every round; Iterative.cut is the one lineage cut
    val callers = sources().collect {
      case (f, src) if """\.localCheckpoint\s*\(""".r.findFirstIn(src).isDefined =>
        f.getFileName.toString
    }
    assert(callers === List("StatsSafeCheckpoint.scala"))
  }
}
