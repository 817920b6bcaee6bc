package graft

import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Source scans over the production tree. It carries exactly three entry
  * points: a one-off measurement `main` belongs in a throwaway spec or
  * outside the tree, not in the shipped jar. It cuts lineage in one
  * place: `graftglue.StatsSafeCheckpoint`, behind `Iterative.cut`. And
  * every operator it ships has a production caller: a def or native
  * function that only specs reach belongs in test code, or nowhere.
  */
class EntryPointsSpec extends AnyFunSuite {

  private def sources(dir: String = "src/main/scala"): List[(java.nio.file.Path, String)] = {
    val root = java.nio.file.Paths.get(dir)
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

  /** Source with comments blanked to spaces (offsets kept). With
    * `blankLiterals` the contents of string and char literals are blanked
    * too, so braces and `def`s inside them do not count as code.
    */
  private def code(src: String, blankLiterals: Boolean): String = {
    val out = new StringBuilder(src)
    def blank(from: Int, until: Int): Unit =
      (from until until).foreach(i => if (out(i) != '\n') out(i) = ' ')
    def literal(from: Int, until: Int, quote: Int): Unit =
      if (blankLiterals) blank(from + quote, until - quote)
    var i = 0
    while (i < src.length) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) src.length else j + 3
        while (j < src.length && src(j) == '"') j += 1
        literal(i, j, 3); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < src.length && src(j) != '"' && src(j) != '\n')
          j += (if (src(j) == '\\') 2 else 1)
        literal(i, j + 1, 1); i = j + 1
      } else if (src(i) == '\'' && i + 2 < src.length &&
          (src(i + 2) == '\'' || (src(i + 1) == '\\' && src.indexOf('\'', i + 2) > 0))) {
        val j = src.indexOf('\'', i + 2) + 1
        literal(i, j, 1); i = j
      } else if (src.startsWith("//", i)) {
        val j = { val n = src.indexOf('\n', i); if (n < 0) src.length else n }
        blank(i, j); i = j
      } else if (src.startsWith("/*", i)) {
        var (depth, j) = (1, i + 2)
        while (j < src.length && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        blank(i, j); i = j
      } else i += 1
    }
    out.toString
  }

  /** Defs that may stay without a production caller, each with the
    * reason. Entries only ever leave this list.
    */
  private val callerless: Map[String, String] = Map.empty

  test("every operator def and graft_* function has a caller in src/main or perfbench") {
    // (file, code with literals blanked, code with literals kept)
    val files = (sources() ++ sources("perfbench/src/main/scala")).map { case (f, src) =>
      (f.toString, code(src, blankLiterals = true), code(src, blankLiterals = false))
    }
    val scanned = Set("operators", "functions", "sources").map(p => s"/graft/$p/")
    final case class Def(key: String, file: String, start: Int, end: Int)
    final case class Body(obj: String, file: String, from: Int, until: Int)
    val member = ("""((?:(?:private|protected)(?:\[\w+\])?\s+|override\s+|final\s+|""" +
      """implicit\s+|lazy\s+|case\s+|sealed\s+|abstract\s+)*)""" +
      """(def|val|var|class|object|trait|type)\s+(\w+)""").r.pattern
    // the top-level members of each top-level object in the scanned
    // packages that does not extend a type (an `extends` object's members
    // implement its trait and are reached through it); the public and
    // private[graft] defs among them are checked
    val bodies = Seq.newBuilder[Body]
    val defs = files.filter(f => scanned.exists(f._1.contains)).flatMap { case (file, src, _) =>
      """\bobject\s+(\w+)([^{]*)\{""".r.findAllMatchIn(src).filter { m =>
        val before = src.substring(0, m.start)
        before.count(_ == '{') == before.count(_ == '}') && !m.group(2).contains("extends")
      }.flatMap { m =>
        val starts = Seq.newBuilder[(Int, String, String)]
        val mt = member.matcher(src)
        var depth = 1
        var i = m.end
        while (depth > 0) {
          src(i) match {
            case '{' => depth += 1; i += 1
            case '}' => depth -= 1; i += 1
            case c if depth == 1 && c.isLetter &&
                !(src(i - 1).isLetterOrDigit || src(i - 1) == '_' || src(i - 1) == '.') &&
                mt.region(i, src.length).lookingAt() =>
              if (mt.group(2) == "def" &&
                  """private(?!\[graft\])|protected""".r.findFirstIn(mt.group(1)).isEmpty)
                starts += ((i, mt.group(3), "def"))
              else starts += ((i, mt.group(3), "other"))
              i = mt.end
            case _ => i += 1
          }
        }
        bodies += Body(m.group(1), file, m.end, i - 1)
        val ms = starts.result()
        ms.indices.collect { case k if ms(k)._3 == "def" =>
          Def(s"${m.group(1)}.${ms(k)._2}", file, ms(k)._1,
            if (k + 1 < ms.size) ms(k + 1)._1 else i - 1)
        }
      }
    }
    val keys = defs.map(_.key).toSet
    def owner(file: String, pos: Int): Option[String] =
      defs.find(d => d.file == file && d.start <= pos && pos < d.end).map(_.key)
    // who references each def: Some(def key), or None for code outside
    // every checked def (a query, the pipeline, perfbench — a root).
    // `Obj.name` anywhere (codegen strings included), bare `name` inside
    // its own object
    val qualified = files.flatMap { case (file, _, lit) =>
      """\b(?=(\w+)\s*\.\s*(\w+)\b)""".r.findAllMatchIn(lit)
        .map(m => (s"${m.group(1)}.${m.group(2)}", file, m.start))
    }
    val bare = bodies.result().flatMap { b =>
      val src = files.find(_._1 == b.file).get._2
      """(?<![\w.])(\w+)\b""".r.findAllMatchIn(src.substring(b.from, b.until))
        .filter(m => """def\s+$""".r.findFirstIn(
          src.substring(math.max(0, b.from + m.start - 10), b.from + m.start)).isEmpty)
        .map(m => (s"${b.obj}.${m.group(1)}", b.file, b.from + m.start))
    }
    val refs = (qualified ++ bare).collect {
      case (k, file, pos) if keys(k) => k -> owner(file, pos)
    }.filterNot { case (k, o) => o.contains(k) }.groupMap(_._1)(_._2)
    var live = Set.empty[String]
    var grew = true
    while (grew) {
      val next = refs.collect { case (k, os) if os.exists(_.forall(live)) => k }.toSet
      grew = next.size > live.size
      live = next
    }
    val dead = keys -- live

    // every registered graft_* function has a call_function site in live code
    val (exprFile, _, exprLit) = files.find(_._1.endsWith("GraftExpressions.scala")).get
    val registered = """"(graft_\w+)"\s*->""".r.findAllMatchIn(exprLit).map(_.group(1)).toSeq
    assert(registered.nonEmpty)
    val orphans = registered.filterNot { fn =>
      files.filter(_._1 != exprFile).exists { case (file, _, lit) =>
        s"""call_function\\(\\s*"$fn"""".r.findAllMatchIn(lit)
          .exists(m => owner(file, m.start).forall(live))
      }
    }
    val problems =
      (dead -- callerless.keySet).toSeq.sorted.map(d =>
        s"$d: no caller in src/main or perfbench/src — move it to test code or delete it") ++
      (callerless.keySet -- dead).toSeq.sorted.map(d =>
        s"$d: allow-listed but now called — take it off the list") ++
      orphans.sorted.map(fn =>
        s"$fn: registered, but no production code calls it")
    if (problems.nonEmpty) fail(problems.mkString("\n", "\n", ""))
  }
}
