package graft
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // "--sql-only" as the filter dumps oracle_sql.json for ALL queries
    // without running any Spark work — feeds tools/lint_oracle_types.py
    // for the fast static half of the type gate.
    val (sfDir, outDir, only, sqlOnly) = args match {
      case Array(s, o)                => (s, o, None, false)
      case Array(s, o, "--sql-only")  => (s, o, None, true)
      case Array(s, o, f)             => (s, o, Some(f.split(',').toSet), false)
      case _ =>
        System.err.println("usage: Verify <sfDir> <outDir> [q1,q2,...|--sql-only]")
        sys.exit(2)
    }
    new java.io.File(outDir).mkdirs()
    // fail loudly on names that match nothing: a typo would otherwise run
    // zero queries, write an empty oracle_sql.json, and let the downstream
    // check pass vacuously
    only.foreach { f =>
      val unknown = f.diff(SparkEntry.queries.keySet)
      require(unknown.isEmpty, s"unknown query name(s): ${unknown.mkString(", ")}")
    }
    if (!sqlOnly) {
      val spark = GraftSession.builder(GraftSession.envCpus).getOrCreate()
      spark.sparkContext.setLogLevel("WARN")
      val selected = only.fold(SparkEntry.queries)(f =>
        SparkEntry.queries.filter { case (n, _) => f(n) })
      System.err.println(s"[verify] running ${selected.size} of ${SparkEntry.queries.size} queries")
      selected.foreach { case (name, fn) =>
        try fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        catch { case e: Throwable =>
          System.err.println(s"[verify] $name failed: $e")
        }
        finally CacheScope.release() // drop query-internal caches between queries
      }
      spark.stop()
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .filter { case (k, _) => only.forall(_(k)) }
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
  }
}
