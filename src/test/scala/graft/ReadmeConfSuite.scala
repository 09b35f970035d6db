package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Keeps the README's conf table auditable: it must list exactly the
  * `"spark.graft.…"` key literals the engine defines under
  * src/main/scala, one row each — a conf added, removed or renamed
  * without its row fails here.
  */
class ReadmeConfSuite extends AnyFunSuite {
  private val keyLiteral = "\"(spark\\.graft\\.[A-Za-z0-9_.]*)\"".r
  private val tableRow = "^\\| `(spark\\.graft\\.[A-Za-z0-9_.]*)` \\|".r

  private def definedKeys: Set[String] = {
    val files = Files.walk(Paths.get("src/main/scala"))
    try files.iterator().asScala.filter(_.toString.endsWith(".scala")).toSeq
      .flatMap((p: Path) => keyLiteral.findAllMatchIn(Files.readString(p)).map(_.group(1)))
      .toSet
    finally files.close()
  }

  test("README conf table lists exactly the spark.graft.* confs defined in src/main") {
    val rows = Files.readAllLines(Paths.get("README.md")).asScala.toSeq
      .flatMap(l => tableRow.findFirstMatchIn(l).map(_.group(1)))
    val defined = definedKeys
    assert(defined.nonEmpty, "no spark.graft.* literal found under src/main/scala")
    assert(rows.distinct.length == rows.length,
      s"README conf rows repeat: ${rows.diff(rows.distinct)}")
    assert((defined -- rows).isEmpty, s"confs missing from the README table: ${defined -- rows}")
    assert((rows.toSet -- defined).isEmpty,
      s"README rows for confs the engine no longer defines: ${rows.toSet -- defined}")
  }
}
