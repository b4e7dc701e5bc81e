package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Library-surface rules over `src/main/scala`: environment variables are
  * read only by the two mains that own the command-line contract, the
  * only entry points are the four mains the build and docs name, and
  * iterative fits run on the one shared centroid-fit loop. */
class SourceRulesSpec extends AnyFunSuite {
  private val envReaders = Set("Bench.scala", "Verify.scala")
  private val mains = Set("Bench", "Verify", "ScaleData", "ExplainCheck")

  /** `src/main/scala` under the build's base directory: the first
    * ancestor of the compiled test classes that holds `build.sbt`. */
  private lazy val mainSources: Seq[Path] = {
    val classes = Paths.get(getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    val base = Iterator.iterate(classes)(_.getParent).takeWhile(_ != null)
      .find(d => Files.isRegularFile(d.resolve("build.sbt")))
      .getOrElse(fail(s"no build.sbt above $classes"))
    val src = base.resolve("src/main/scala")
    assert(Files.isDirectory(src), s"missing source directory $src")
    val files = Files.walk(src).iterator.asScala
      .filter(_.toString.endsWith(".scala")).toVector
    assert(files.exists(_.getFileName.toString == "SparkEntry.scala"),
      s"$src does not hold the library sources")
    files
  }

  test("only Bench and Verify read environment variables") {
    val readers = mainSources.filter { f =>
      val text = Files.readString(f)
      text.contains("sys.env") || text.contains("System.getenv")
    }.map(_.getFileName.toString)
    assert(readers.toSet.subsetOf(envReaders), s"env read outside the mains: $readers")
  }

  test("treeAggregate runs only in CentroidFit's loop and the one-pass moment kernel") {
    val calls = mainSources.map { f =>
      f.getFileName.toString -> """treeAggregate\(""".r.findAllIn(Files.readString(f)).length
    }.filter(_._2 > 0).toMap
    assert(calls.contains("CentroidFit.scala") &&
      calls - "CentroidFit.scala" == Map("similarity.scala" -> 1),
      s"treeAggregate( per file: $calls")
  }

  test("the only mains are Bench, Verify, ScaleData and ExplainCheck") {
    val objectDecl = """(?m)^\s*(?:private\s+)?object\s+(\w+)""".r
    val found = mainSources.flatMap { f =>
      val text = Files.readString(f)
      """\bdef\s+main\s*\(""".r.findAllMatchIn(text).map { m =>
        objectDecl.findAllMatchIn(text.substring(0, m.start)).toSeq.lastOption
          .map(_.group(1)).getOrElse(s"<no object> in ${f.getFileName}")
      }
    }
    assert(found.nonEmpty && found.toSet.subsetOf(mains),
      s"mains found: ${found.sorted}")
  }
}
