package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every runnable program ships with a line in README's "Running" block.
  * A main that nothing documents is a main that nothing runs, and such
  * programs pile up in `src/main` unnoticed; this spec makes adding one
  * without its README line fail, and deleting one leave no stale line. */
class MainsDocumentedSpec extends AnyFunSuite {

  private val root: Path =
    Iterator.iterate(Paths.get(sys.props("user.dir")).toAbsolutePath)(_.getParent)
      .takeWhile(_ != null)
      .find(d => Files.isDirectory(d.resolve("src/main/scala")) && Files.exists(d.resolve("README.md")))
      .getOrElse(fail("no enclosing directory holds src/main/scala and README.md"))

  /** Fully qualified name of every object that defines `def main(`: each
    * main belongs to the nearest `object` declared above it in its file. */
  private def mains: Seq[String] = {
    val walk = Files.walk(root.resolve("src/main/scala"))
    val files = try walk.iterator.asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val Pkg = """(?m)^package\s+([\w.]+)""".r
    val Obj = """\bobject\s+(\w+)""".r
    files.flatMap { f =>
      val src = Files.readString(f)
      val pkg = Pkg.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
      """\bdef\s+main\s*\(""".r.findAllMatchIn(src).map { m =>
        val obj = Obj.findAllMatchIn(src.substring(0, m.start)).toSeq.lastOption
          .getOrElse(fail(s"$f: def main outside an object"))
        pkg + obj.group(1)
      }
    }.distinct.sorted
  }

  /** The first fenced block after README's `## Running` heading. */
  private def runningBlock: String = {
    val readme = Files.readString(root.resolve("README.md"))
    val at = readme.indexOf("## Running")
    assert(at >= 0, "README.md has no '## Running' section")
    val open = readme.indexOf("```", at)
    val close = readme.indexOf("```", readme.indexOf('\n', open))
    assert(open >= 0 && close > open, "README's Running section has no fenced block")
    readme.substring(open, close)
  }

  test("every main in src/main/scala is named in README's Running block") {
    val found = mains
    assert(found.contains("graft.Bench") && found.contains("graft.Verify"),
      s"the main scan missed the driver contract: $found")
    val block = runningBlock
    val missing = found.filterNot(m => s"""\\b${java.util.regex.Pattern.quote(m)}\\b""".r
      .findFirstIn(block).nonEmpty)
    assert(missing.isEmpty,
      s"mains with no line in README's Running block: ${missing.mkString(", ")}")
  }
}
