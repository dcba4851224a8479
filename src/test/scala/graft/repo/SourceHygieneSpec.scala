package graft.repo

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Keeps settled experiments out of the tree: a `graft.*` JVM property in
  * library code is an A/B switch whose question a measurement should
  * answer and then delete, and a `main` in a test file that is not a
  * Spec is a probe harness nothing runs or checks. Also keeps one owner
  * of the resume-ledger format (`BucketLedger`), so a second copy of the
  * protocol cannot drift from it, and keeps library code from naming
  * functions in the caller's session outside the public `register`
  * methods (a Column builder wraps its native expression directly).
  * It also keeps the engine on one Long-keyed table (`LongIndex`).
  * Paths resolve against
  * the working directory, which sbt sets to the project base directory
  * for forked tests.
  */
class SourceHygieneSpec extends AnyFunSuite {

  private def scalaFiles(dir: String): Seq[Path] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"$dir not found under ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList.sorted
    finally walk.close()
  }

  private def read(p: Path): String = new String(Files.readAllBytes(p), StandardCharsets.UTF_8)

  test("src/main/scala reads no graft.* system property") {
    val switch = """(System\.getProperty|sys\.props(\.get)?)\(\s*"graft\.""".r
    val hits = for {
      f <- scalaFiles("src/main/scala")
      (line, i) <- read(f).linesIterator.zipWithIndex
      if switch.findFirstIn(line).isDefined
    } yield s"$f:${i + 1}: ${line.trim}"
    if (hits.nonEmpty) fail(hits.mkString("A/B switches left in library code:\n", "\n", ""))
  }

  test("one module under src/main/scala owns the _ledger files") {
    val owners = scalaFiles("src/main/scala").filter(f => read(f).contains("\"_ledger"))
    assert(owners.size <= 1, owners.mkString("\"_ledger in more than one file:\n", "\n", ""))
  }

  /** 1-based lines of `src` that call `createOrReplaceTempFunction`
    * outside the body of a `def register(`. The enclosing definition is
    * the nearest line above with a smaller indent that opens a `def`;
    * comment lines are skipped.
    */
  private def tempFunctionsOutsideRegister(src: String): Seq[Int] = {
    val lines = src.split("\n", -1)
    val defLine = """^\s*(?:(?:private|protected|override|final)(?:\[\w+\])?\s+)*def\s+(\w+)""".r
    def indent(l: String): Int = l.indexWhere(_ != ' ')
    def isComment(l: String): Boolean = {
      val t = l.trim
      t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")
    }
    def enclosingDef(at: Int): Option[String] = {
      var bound = indent(lines(at))
      var i = at - 1
      while (i >= 0) {
        val l = lines(i)
        val ind = indent(l)
        if (ind >= 0 && ind < bound && !isComment(l)) {
          defLine.findFirstMatchIn(l) match {
            case Some(m) => return Some(m.group(1))
            case None => bound = ind
          }
        }
        i -= 1
      }
      None
    }
    lines.indices.filter { i =>
      lines(i).contains("createOrReplaceTempFunction") && !isComment(lines(i)) &&
        !enclosingDef(i).contains("register")
    }.map(_ + 1)
  }

  test("src/main/scala names session functions only inside def register") {
    val inRegister =
      "object A {\n  def register(s: S): Unit =\n    r.createOrReplaceTempFunction(\"a\", f)\n}"
    val elsewhere =
      "object B {\n  def build(s: S): C = {\n    r.createOrReplaceTempFunction(\"b\", f)\n    c\n  }\n}"
    assert(tempFunctionsOutsideRegister(inRegister).isEmpty)
    assert(tempFunctionsOutsideRegister(elsewhere) == Seq(3))
    val hits = for {
      f <- scalaFiles("src/main/scala")
      i <- tempFunctionsOutsideRegister(read(f))
    } yield s"$f:$i"
    if (hits.nonEmpty)
      fail(hits.mkString("createOrReplaceTempFunction outside a def register:\n", "\n", ""))
  }

  test("one Long-keyed open-addressed table in the engine: LongIndex") {
    // its probe multiplier marks a hand-rolled table; DedupOps/SimOps use
    // the same constant as a MinHash seed and live outside these packages
    val hits = for {
      pkg <- Seq("core", "selectors", "rewrite")
      f <- scalaFiles(s"src/main/scala/graft/$pkg")
      if f.getFileName.toString != "LongIndex.scala"
      (line, i) <- read(f).linesIterator.zipWithIndex
      if line.contains("0x9e3779b97f4a7c15L")
    } yield s"$f:${i + 1}: ${line.trim}"
    if (hits.nonEmpty) fail(hits.mkString("probe multiplier outside LongIndex:\n", "\n", ""))
  }

  test("only *Spec.scala files under src/test/scala declare a main") {
    val main = """\bdef\s+main\s*\(""".r
    val hits = scalaFiles("src/test/scala")
      .filterNot(_.getFileName.toString.endsWith("Spec.scala"))
      .filter(f => main.findFirstIn(read(f)).isDefined)
    if (hits.nonEmpty) fail(hits.mkString("probe mains outside a Spec:\n", "\n", ""))
  }

  test("only the allow-listed entry points under src/main/scala declare a main") {
    val allowed = Set("Bench", "BenchEmitProbe", "BenchExtra", "DumpAst", "ExtractJob", "Verify")
    val main = """\bdef\s+main\s*\(""".r
    val hits = scalaFiles("src/main/scala")
      .filterNot(f => allowed(f.getFileName.toString.stripSuffix(".scala")))
      .filter(f => main.findFirstIn(read(f)).isDefined)
    if (hits.nonEmpty) fail(hits.mkString("main outside the entry-point allow-list:\n", "\n", ""))
  }
}
