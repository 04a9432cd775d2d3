package graft

import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps the session config, the function registry and the graftlog sink's
  * staged append defined once: every entry point builds through
  * `GraftSession`, only `GraftExpressions` (the list) and `QueryDef` (the one
  * call per run) touch registration, and the sink has one data writer per
  * write mode.
  */
class SourceLayoutSpec extends AnyFunSuite {
  private val root = Paths.get("src/main/scala")

  private def offenders(pattern: String, allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    files.filterNot(p => allowed(p.getFileName.toString)).flatMap { p: Path =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
  }

  test("the main sources are where this spec looks") {
    assert(Files.isRegularFile(root.resolve("graft/GraftSession.scala")))
  }

  test("SparkSession.builder appears only in GraftSession") {
    val hits = offenders("""SparkSession\.builder""", Set("GraftSession.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("function registration happens only in GraftExpressions and QueryDef") {
    val hits = offenders(
      """GraftExpressions\.register|ensureRegistered\(|createOrReplaceTempFunction""",
      Set("Expressions.scala", "QueryDef.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("the graftlog sink has exactly two data writers: staged append and tsColumn bulk") {
    val src = root.resolve("graft/sources/GraftLogSource.scala")
    val writers = Files.readAllLines(src).asScala
      .filter(l => """(extends|with)\s+DataWriter\[InternalRow\]""".r.findFirstIn(l).isDefined)
    assert(writers.size == 2, writers.mkString("\n"))
  }
}
