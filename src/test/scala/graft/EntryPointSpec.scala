package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The program's entry points: `SparkEntry.entry` works on a session
  * none of the project's tuning reached, and every `main` under
  * `src/main/scala` is one README lists, so a new CLI comes with a README
  * row.
  */
class EntryPointSpec extends AnyFunSuite {

  test("SparkEntry.entry returns rows on a default-conf session") {
    SparkTest.session // the shared context must exist first
    // a new session over the shared context, built with none of the
    // project's session settings: no nanosAsLong, no GraftExtensions
    val fresh = SparkSession.builder().create()
    assert(SparkEntry.entry(fresh).count() > 0)
  }

  test("the objects declaring main(args) are exactly README's entry points") {
    val Package = """(?m)^package\s+([\w.]+)""".r
    val Object = """\bobject\s+(\w+)""".r
    val Main = """def main\(args: Array\[String\]\)""".r
    val declared = Using.resource(Files.walk(Paths.get("src/main/scala"))) {
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    }.flatMap { f =>
      val src = Files.readString(f)
      Main.findAllMatchIn(src).map { m =>
        val obj = Object.findAllMatchIn(src.substring(0, m.start)).toList.last.group(1)
        Package.findFirstMatchIn(src).fold(obj)(p => s"${p.group(1)}.$obj")
      }
    }.toSet
    val readme = Files.readString(Paths.get("README.md"))
    val section = readme.split("\n## ").find(_.startsWith("Entry points"))
      .getOrElse(fail("README has no \"## Entry points\" section"))
    val Row = """^\|\s*`(graft\.[\w.]+)`""".r
    val listed = section.linesIterator.flatMap(Row.findFirstMatchIn(_).map(_.group(1))).toSet
    assert(declared.nonEmpty && listed.nonEmpty)
    assert(declared == listed,
      s"mains missing from README: ${(declared -- listed).toSeq.sorted.mkString(", ")}; " +
        s"README rows without a main: ${(listed -- declared).toSeq.sorted.mkString(", ")}")
  }
}
