package graft.tools

import graft.{CacheScope, GraftSession, SparkEntry}
import org.apache.spark.sql.execution.ExplainMode

/** Prints one query's formatted physical plan (optionally only the lines
  * containing a substring) — the quick `.explain`-and-iterate loop for a
  * single operator, without regenerating all of PLANS.md. Given an output
  * path it writes the plan to that file instead, untruncated — the form
  * behind the plans/r{N}/<query>_{before,after}.txt evidence pairs (pass
  * "" as the grep to keep every line).
  *
  * Run: sbt "runMain graft.tools.DumpPlan q171_incremental_agg [grep] [sfDir] [outPath]"
  */
object DumpPlan {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val grep = if (args.length > 1) Some(args(1)) else None
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.001"
    val outPath = if (args.length > 3) Some(args(3)) else None
    val spark = GraftSession.builder(GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val df = SparkEntry.queries(name)(spark, sfDir)
    val plan = df.queryExecution.explainString(ExplainMode.fromString("formatted"))
    val out = grep.fold(plan)(g =>
      plan.linesIterator.filter(_.contains(g)).mkString("\n"))
    outPath match {
      case Some(p) =>
        java.nio.file.Files.writeString(java.nio.file.Paths.get(p), out)
        println(s"[dumpplan] wrote ${out.linesIterator.size} lines to $p")
      case None =>
        println(s"===PLAN $name===")
        println(out)
    }
    CacheScope.release()
    spark.stop()
  }
}
