package graft

import org.apache.xbean.asm9.{ClassReader, ClassVisitor, Label, MethodVisitor, Opcodes}
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Keeps the session config, the function registry, the graftlog sink's
  * staged append, the log's segment formats, streaming query start and
  * scratch directories defined once: every entry point builds through
  * `GraftSession`, only `GraftExpressions` (the list) and `QueryDef` (the
  * one call per run) touch registration, the sink has one data writer per
  * write mode, only `SegmentFormat` tells formats apart by name or renames
  * a file into a stream, nothing outside `graft/log` encodes a values-only
  * line, every streaming query starts through `StreamHarness.start` and
  * takes its trigger and wait from `StreamHarness` (or the consumer), the
  * streaming conf keys `StreamHarness` pins are spelled only there, each
  * memoized fixture log has one producer, and every temp directory comes
  * from `TempDirs`.
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

  test("only SegmentFormat decides a segment format or publishes a file in graft/{log,sources}") {
    val files = Seq("graft/log", "graft/sources").flatMap { d =>
      val s = Files.list(root.resolve(d))
      try s.iterator().asScala.filter(_.toString.endsWith(".scala")).toList finally s.close()
    }
    assert(files.exists(_.getFileName.toString == "SegmentFormat.scala"))
    def hits(pattern: String) = files.flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if pattern.r.findFirstIn(line).isDefined => (p.getFileName.toString, s"$p:${i + 1}: ${line.trim}")
      }
    }
    val ext = hits("""endsWith\("[^"]*\.(parquet|vjsonl|gz|jsonl)"\)""")
      .filterNot(_._1 == "SegmentFormat.scala")
    assert(ext.isEmpty, ext.map(_._2).mkString("\n"))
    val moves = hits("""Files\.move""")
    assert(moves.map(_._1) == Seq("SegmentFormat.scala"), moves.map(_._2).mkString("\n"))
  }

  test("only graft/log encodes a values-only line") {
    val hits = offenders("""encodeValuesLine""", Set.empty)
      .filterNot(_.startsWith(root.resolve("graft/log").toString + "/"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  /** Call sites of any of `names` on a class whose internal name ends with
    * `ownerSuffix`, in the compiled main classes, as `<package dir>/<source
    * file>:<line>`. Read from bytecode, so a call is found however the
    * source spells or splits it.
    */
  private def compiledCalls(ownerSuffix: String, names: Set[String]): Seq[String] = {
    val classes = Paths.get(GraftSession.getClass.getProtectionDomain.getCodeSource.getLocation.toURI)
    Files.walk(classes).iterator().asScala.filter(_.toString.endsWith(".class")).toSeq.flatMap { f =>
      val hits = Seq.newBuilder[String]
      new ClassReader(Files.readAllBytes(f)).accept(new ClassVisitor(Opcodes.ASM9) {
        private var where = ""
        override def visit(version: Int, access: Int, name: String, sig: String,
            superName: String, interfaces: Array[String]): Unit =
          where = name.substring(0, name.lastIndexOf('/') + 1)
        override def visitSource(source: String, debug: String): Unit = where += source
        override def visitMethod(access: Int, name: String, desc: String, sig: String,
            exceptions: Array[String]): MethodVisitor = new MethodVisitor(Opcodes.ASM9) {
          private var line = 0
          override def visitLineNumber(l: Int, start: Label): Unit = line = l
          override def visitMethodInsn(op: Int, owner: String, m: String, d: String, itf: Boolean): Unit =
            if (owner.endsWith(ownerSuffix) && names(m)) hits += s"$where:$line"
        }
      }, ClassReader.SKIP_FRAMES)
      hits.result()
    }.distinct.sorted
  }

  test("every streaming query starts through StreamHarness.start") {
    val calls = compiledCalls("/DataStreamWriter", Set("start", "toTable"))
    assert(calls.nonEmpty, "the guard sees no start at all: is it reading the right classes?")
    val hits = calls.filterNot(_.startsWith("graft/streaming/StreamHarness.scala:"))
    assert(hits.isEmpty, "DataStreamWriter started outside StreamHarness.start:\n" + hits.mkString("\n"))
  }

  test("streaming triggers and waits are set only in StreamHarness and the consumer") {
    val allowed = Set("graft/streaming/StreamHarness.scala", "graft/consumer/ConsumerRunner.scala")
    val calls = compiledCalls("/DataStreamWriter", Set("trigger")) ++
      compiledCalls("/StreamingQuery", Set("awaitTermination", "processAllAvailable"))
    assert(calls.nonEmpty, "the guard sees no trigger or wait at all: is it reading the right classes?")
    val hits = calls.filterNot(c => allowed(c.substring(0, c.lastIndexOf(':'))))
    assert(hits.isEmpty, "streaming drain hand-rolled outside StreamHarness:\n" + hits.mkString("\n"))
  }

  test("each memoized fixture log key is produced at one call site") {
    val key = """producedLog\(\s*\w+\s*,\s*"([^"]+)"""".r
    val sites = offenders(key.regex, Set.empty)
      .flatMap(hit => key.findAllMatchIn(hit).map(m => m.group(1) -> hit))
    assert(sites.nonEmpty, "the guard sees no producedLog call at all")
    val shared = sites.groupBy(_._1).filter(_._2.size > 1)
    assert(shared.isEmpty, "one fixture key, several producers:\n" +
      shared.values.flatten.map(_._2).toSeq.sorted.mkString("\n"))
  }

  test("the streaming conf keys StreamHarness pins are spelled only in StreamHarness") {
    def quoted(key: String) = java.util.regex.Pattern.quote(s""""$key"""")
    val keys = Seq("noDataMicroBatches.enabled", "checkpointFileManagerClass",
      "stateStore.providerClass").map(k => quoted(s"spark.sql.streaming.$k"))
    val hits = offenders(keys.mkString("|"), Set("StreamHarness.scala")) ++
      // the session default is set where the session is built
      offenders(quoted("spark.sql.shuffle.partitions"), Set("StreamHarness.scala", "GraftSession.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }

  test("createTempDirectory appears only in TempDirs") {
    val hits = offenders("""createTempDirectory""", Set("TempDirs.scala"))
    assert(hits.isEmpty, hits.mkString("\n"))
  }
}
