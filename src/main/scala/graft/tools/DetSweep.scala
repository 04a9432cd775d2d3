package graft.tools

import graft.ColFns
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Paths}

/** Spark half of the cross-engine determinism sweep for the software
  * ln/exp programs (ColFns.detMln / detExpMicro): evaluates both over a
  * seeded domain — exhaustive small rationals, random rationals up to
  * 2^40 on both sides of 1, integer logs, and the exp micro-grid — and
  * dumps results plus the DuckDB-dialect expressions for
  * `tools/check_detmath.py` to replay bit-for-bit in DuckDB.
  *
  * Run: sbt "runMain graft.tools.DetSweep /tmp/detsweep"
  * then: python3 tools/check_detmath.py /tmp/detsweep
  */
object DetSweep {
  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/detsweep")
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    val small = for { q <- 1L to 200L; p <- 1L to 200L } yield (p, q)
    val rnd = new scala.util.Random(42)
    val big = (1 to 20000).flatMap { _ =>
      val q = 1L + (rnd.nextLong().abs % (1L << 40))
      val p = 1L + (rnd.nextLong().abs % q)
      Seq((p, q), (q, p), (q, 1L))
    }
    (small ++ big).toDF("p", "q")
      .withColumn("mln", ColFns.detMln($"p", $"q"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/mln")
    (-40000000L to 40000000L by 13337L).map(Tuple1(_)).toDF("m")
      .withColumn("e", ColFns.detExpMicro($"m"))
      .coalesce(1).write.mode("overwrite").parquet(s"$out/exp")
    Files.writeString(Paths.get(s"$out/mln.sql"),
      ColFns.detMlnSql("p", "q"))
    Files.writeString(Paths.get(s"$out/exp.sql"),
      ColFns.detExpMicroSql("m"))
    println(s"DetSweep: wrote $out/{mln,exp} + dialect SQL")
    spark.stop()
  }
}
