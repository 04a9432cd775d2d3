package graft

import org.apache.spark.sql.SparkSession

/** The one timing loop of `Bench`, `TimeQueries` and `ScaleCurve`: a fixed
  * untimed warm-up, then N timed runs per query in one session. A query that
  * throws is printed as `[<tool>] <query> FAILED: <error>` and left out of
  * the times; it never stops the other queries. An analysis error surfaces
  * in ~50 ms, so a failed run must never be read as a fast one (round 6: a
  * fixture-schema change broke every events query and the bench recorded
  * them as 30-50x faster).
  */
object QueryTimer {

  /** Absorbs the session's warm-up (codegen, parquet reader JIT). A FIXED
    * query, so run-over-run deltas compare like-for-like: a warm-up that
    * depended on the query list made q01 look 5x slower in round 4.
    */
  val WarmUp = "q01_pricing_summary"

  /** Run [[WarmUp]] once on `sfDir`, untimed; its failure, if any. */
  def warmUp(spark: SparkSession, tool: String, sfDir: String): Option[Throwable] =
    run(spark, tool, WarmUp, sfDir, "warmup").left.toOption

  /** Seconds taken by each of `runs` runs of query `name` on `dir`, failed
    * runs left out, so an empty result means the query failed. The query's
    * caches live across its runs (the warm run is the measurement) and are
    * released after the last, so storage memory does not grow over a suite.
    */
  def times(spark: SparkSession, tool: String, name: String, dir: String,
      runs: Int): Seq[Double] =
    try (1 to runs).flatMap(i => run(spark, tool, name, dir, s"run$i").toOption)
    finally CacheScope.release()

  /** One run, its jobs labelled `<tool>:<name> <label>` for triage. */
  private def run(spark: SparkSession, tool: String, name: String, dir: String,
      label: String): Either[Throwable, Double] = {
    spark.sparkContext.setJobDescription(s"$tool:$name $label")
    val t0 = System.nanoTime()
    try {
      SparkEntry.queries(name)(spark, dir).count()
      Right((System.nanoTime() - t0) / 1e9)
    } catch { case e: Throwable =>
      System.err.println(s"[$tool] $name FAILED: $e")
      Left(e)
    } finally spark.sparkContext.setJobDescription(null)
  }
}
