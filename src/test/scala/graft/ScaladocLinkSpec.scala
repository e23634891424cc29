package graft

import java.nio.file.{Files, Path, Paths}
import java.util.regex.Pattern

import scala.jdk.CollectionConverters._
import scala.util.Using

import org.scalatest.funsuite.AnyFunSuite

/** Scaladoc-link lint as a test, so deleting a class or helper cannot
  * leave a link pointing at nothing: every fully qualified
  * `[[graft.<pkg>.<Name>…]]` link under `src/main/scala` must name an
  * `object`/`class`/`trait` declared in that package's directory, or a
  * member of its `package.scala` (`[[graft.queries.epochSeconds]]`); a
  * `.member` after the name must be declared in the same directory. Links
  * wrapped across scaladoc lines (`[[graft.ops` / `* .Dedup.x]]`) are
  * joined first. A static source scan: no Spark session.
  */
class ScaladocLinkSpec extends AnyFunSuite {

  private val root = Paths.get("src/main/scala")
  private val Link = """\[\[(graft\.[^\]]*)\]\]""".r
  private val Ident = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val Kinds = "object|class|trait"
  private val MemberKinds = "def|val|var|type|object|class|trait"

  private def scalaFiles(dir: Path, recurse: Boolean): Seq[Path] =
    if (!Files.isDirectory(dir)) Nil
    else Using.resource(if (recurse) Files.walk(dir) else Files.list(dir)) {
      _.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
    }

  private def declares(srcs: Seq[String], kinds: String, name: String): Boolean = {
    val decl = s"\\b($kinds)\\s+${Pattern.quote(name)}\\b".r
    srcs.exists(decl.findFirstIn(_).isDefined)
  }

  /** `graft.<pkg>.<Name>[.<member>…]` resolves against `<pkg>`'s directory. */
  private def resolves(parts: Array[String]): Boolean = {
    val dir = root.resolve("graft").resolve(parts(1))
    val srcs = scalaFiles(dir, recurse = false).map(Files.readString)
    val pkgObj = Seq(dir.resolve("package.scala"))
      .filter(Files.exists(_)).map(Files.readString)
    Ident.findPrefixOf(parts(2)).exists { name =>
      val named = declares(srcs, Kinds, name) ||
        declares(pkgObj, MemberKinds, name)
      named && (parts.length < 4 || Ident.findPrefixOf(parts(3))
        .forall(declares(srcs, MemberKinds, _)))
    }
  }

  test("every [[graft.<pkg>.<Name>]] scaladoc link names a declaration") {
    val links = for {
      f <- scalaFiles(root, recurse = true)
      m <- Link.findAllMatchIn(Files.readString(f))
      target = m.group(1).replaceAll("""\s*\n\s*\*\s*""", "")
      parts = target.split('.')
      if parts.length >= 3 && parts(1).nonEmpty && parts(1).forall(_.isLower)
    } yield (root.relativize(f), target, parts)
    assert(links.nonEmpty, "the scan found no qualified links at all")
    val dangling = links.collect {
      case (f, target, parts) if !resolves(parts) => s"$f: [[$target]]"
    }
    assert(dangling.isEmpty,
      s"scaladoc links to undeclared names:\n${dangling.mkString("\n")}")
  }
}
