package graft.tools

import graft.{GraftSession, QueryTimer}

/** Time one or more named queries in ONE session (best of N each) — the
  * round-12 measurement workhorse: one JVM/JIT warmup shared across the
  * list, so a before/after pair of invocations with the same list is
  * apples-to-apples (never compare these numbers to Bench runs).
  * Run: sbt "runMain graft.tools.TimeQueries q261_link_prediction,q423_unigram_lm_tokenizer /root/testdata/sf0.1 3"
  */
object TimeQueries {
  def main(args: Array[String]): Unit = {
    val names = args(0).split(",").map(_.trim).filter(_.nonEmpty)
    val sfDir = if (args.length > 1) args(1) else "/root/testdata/sf0.1"
    val n = if (args.length > 2) args(2).toInt else 3
    val spark = GraftSession.builder(GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    QueryTimer.warmUp(spark, "timeq", sfDir)
    names.foreach { name =>
      val ts = QueryTimer.times(spark, "timeq", name, sfDir, n)
      if (ts.nonEmpty)
        println(f"[timeq] $name best ${ts.min}%.3f s  (runs: ${ts.map(t => f"$t%.2f").mkString(" ")})")
    }
    spark.stop()
  }
}
