package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
import scala.util.Using

/** Every source file declares the package its directory names, so a
  * class is found where its package says it lives (three probes once
  * sat in `tools/` while declaring `package graft.dedup`). Every test
  * file holds one top-level suite named after the file, so `testOnly`
  * with a file's name runs what the file holds (`graft.Round4Spec` once
  * matched no suite: its file held eight others).
  */
class PackageLayoutSpec extends AnyFunSuite {

  private val PackageClause = """(?m)^package\s+([\w.]+)""".r
  private val TopLevelClass = """(?m)^(?:final |abstract )?class\s+(\w+)""".r

  private def sources(r: String): List[java.nio.file.Path] = {
    val root = Paths.get(r)
    assert(Files.isDirectory(root), s"$root not found; run from the repo root")
    val files = Using.resource(Files.walk(root))(_.iterator().asScala
      .filter(_.toString.endsWith(".scala")).toList)
    assert(files.nonEmpty, s"no sources under $root")
    files
  }

  test("each source file's package clause matches its directory") {
    val mismatches = Seq("src/main/scala", "src/test/scala").flatMap { r =>
      val root = Paths.get(r)
      sources(r).flatMap { f =>
        val dir = root.relativize(f.getParent).iterator().asScala.mkString(".")
        val declared = PackageClause.findFirstMatchIn(Files.readString(f))
          .fold("")(_.group(1))
        if (declared == dir) None
        else Some(s"$f: package '$declared', directory '$dir'")
      }
    }
    if (mismatches.nonEmpty) fail(mismatches.mkString("\n"))
  }

  test("each test file's top-level suite is named after the file") {
    val mismatches = sources("src/test/scala").flatMap { f =>
      val file = f.getFileName.toString.stripSuffix(".scala")
      TopLevelClass.findAllMatchIn(Files.readString(f)).map(_.group(1))
        .filter(_ != file).map(c => s"$f: class '$c'")
    }
    if (mismatches.nonEmpty) fail(mismatches.mkString("\n"))
  }
}
