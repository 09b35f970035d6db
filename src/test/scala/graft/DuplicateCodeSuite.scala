package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps each piece of engine code in one place: no two `def`/`class`
  * bodies under src/main/scala may be identical once each line is
  * trimmed. A body is the indented block under the definition's header
  * line (plus its closing brace); blank and comment lines do not count,
  * and only bodies of at least [[DuplicateCodeSuite.minLines]] lines are
  * compared, so short idioms do not trip it. A helper pasted into a
  * second operator fails here: move it into a shared object instead.
  */
class DuplicateCodeSuite extends AnyFunSuite {
  import DuplicateCodeSuite._

  test("no two def/class bodies under src/main/scala are identical") {
    val files = Files.walk(Paths.get("src/main/scala"))
    val defs =
      try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq.flatMap(bodies)
      finally files.close()
    assert(defs.nonEmpty, "no definition found under src/main/scala")
    val copies = defs.groupBy(_._2).values.filter(_.size > 1).toSeq
      .map(_.map(_._1).sorted).sortBy(_.head)
    assert(copies.isEmpty,
      s"${copies.size} definition bodies are written more than once:\n" +
        copies.map(_.mkString("  ", ", ", "")).mkString("\n"))
  }
}

object DuplicateCodeSuite {
  val minLines = 8

  private val header =
    ("^\\s*((private|protected)(\\[\\w+\\])?\\s+|(final|override|abstract|sealed|implicit|" +
      "lazy|case)\\s+)*(def|class)\\b").r

  private def indent(l: String): Int = l.length - l.dropWhile(_ == ' ').length

  private def isCode(t: String): Boolean =
    t.nonEmpty && !t.startsWith("//") && !t.startsWith("/*") && !t.startsWith("*")

  /** ("file:line", trimmed code lines of the body) of every def/class in
    * `p` whose body has at least [[minLines]] code lines. */
  def bodies(p: Path): Seq[(String, String)] = {
    val lines = Files.readAllLines(p).asScala.toIndexedSeq
    lines.indices.filter(i => header.findPrefixOf(lines(i)).isDefined).flatMap { i =>
      val d = indent(lines(i))
      var j = i + 1
      while (j < lines.length && (lines(j).trim.isEmpty || indent(lines(j)) > d)) j += 1
      val end =
        if (j < lines.length && indent(lines(j)) == d &&
          (lines(j).trim.startsWith("}") || lines(j).trim.startsWith(")"))) j + 1
        else j
      val code = lines.slice(i + 1, end).map(_.trim).filter(isCode)
      if (code.size >= minLines) Some(s"$p:${i + 1}" -> code.mkString("\n")) else None
    }
  }
}
