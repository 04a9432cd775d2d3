package graft

import org.apache.spark.sql.functions.expr
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Loaders for the driver-generated parquet fixtures (TESTDATA.md).
  *
  * Tables follow the TPC-H-ish star schema plus `events` (stream-shaped),
  * `documents` (text / dedup) and `embeddings` (similarity search); schemas in
  * FIXTURES.md. All reads go through `spark.read.parquet` so Catalyst can push
  * filters and prune columns down to the scan.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  // DataFrames are immutable logical plans; memoizing them per
  // (session, dir, table) saves the parquet footer/listing read that every
  // fresh `spark.read.parquet` pays — with 80+ queries each loading 1-3
  // fixture tables, that listing cost is pure overhead. Keyed on the session
  // too, so tests with their own sessions don't cross-contaminate; bounded
  // (cleared past 256 entries) so a long-lived process cycling sessions
  // can't leak stopped sessions through retained plans.
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(SparkSession, String, String), DataFrame]()

  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    if (cache.size > 256) cache.clear()
    cache.computeIfAbsent((spark, dir, name), { _ =>
      if (name == "events") loadEvents(spark, dir)
      else spark.read.parquet(s"$dir/$name.parquet")
    })
  }

  /** `events.ts` has shipped as two physical types across fixture
    * generations, so the loader dispatches on what it finds:
    *
    *  - parquet TIMESTAMP(NANOS), which Spark refuses by default
    *    ([PARQUET_TYPE_ILLEGAL]): read the nanos as LONG and floor-convert
    *    to a microsecond TIMESTAMP — the same truncation DuckDB applies
    *    when casting TIMESTAMP_NS to TIMESTAMP;
    *  - parquet TIMESTAMP(MICROS, isAdjustedToUTC=false), which Spark
    *    reads as TIMESTAMP_NTZ: cast to the session-zoned TIMESTAMP (all
    *    entry points pin the session timezone to UTC, so the wall-clock
    *    reinterpretation is the identity and `unix_millis`/`unix_micros`
    *    agree with DuckDB's `epoch_ms`/`epoch_us` on the same file).
    *
    * Either way every downstream query sees one canonical shape: a
    * microsecond-precision session-zoned TIMESTAMP.
    */
  private def loadEvents(spark: SparkSession, dir: String): DataFrame = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    val raw = spark.read.parquet(s"$dir/events.parquet")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumn("ts", expr("timestamp_micros(ts div 1000)"))
      case org.apache.spark.sql.types.TimestampNTZType =>
        raw.withColumn("ts", expr("cast(ts as timestamp)"))
      case _ => raw
    }
  }

  /** Register every fixture as a temp view so queries can be written in SQL
    * (shared verbatim with the DuckDB oracle where the dialects agree).
    */
  def registerAll(spark: SparkSession, dir: String): Unit =
    names.foreach(n => load(spark, dir, n).createOrReplaceTempView(n))

  // Memoized fixture row counts (per (dir, table)). Streaming queries size
  // their micro-batch triggers from the input cardinality so a drain is a
  // FIXED number of micro-batches at any scale factor (optimization guide
  // §2: scale-adaptive sizing, never a constant tuned for one SF — a fixed
  // 8000-entry trigger that gave 2 batches at the sf0.01 gate degenerated
  // to 13 batches × the per-batch commit floor at sf0.1, the q352 pathology
  // repeated eleven times over). A parquet count() is a metadata-only job;
  // memoizing it keeps the second bench run of each query from repeating it.
  private val countCache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), java.lang.Long]()

  // NOTE: memoized per (dir, table) with no invalidation for the JVM's
  // lifetime — fine for the read-only driver fixtures this keys on; a tool
  // that regenerates a fixture dir in-process would see stale counts.
  def rowCount(spark: SparkSession, dir: String, name: String): Long =
    countCache.computeIfAbsent((dir, name), _ => load(spark, dir, name).count())

  /** Scale-adaptive micro-batch caps for streams carrying a full fixture
    * table (optimization guide §2: derive sizing from the input, never a
    * constant tuned for one SF). `twoBatchCap` drains in 2 micro-batches at
    * any SF ≥ 0.01 — state still crosses one batch boundary — and in 1 batch
    * below the 4000-entry floor (sf0.001 keeps its historical batch count);
    * `severalBatchCap` keeps a multi-commit exercise at ~4 batches. One
    * definition shared by StreamLog and Monitoring so the floor/divisor
    * can't drift between copies (round-11 advice).
    */
  def twoBatchCap(spark: SparkSession, dir: String, table: String = "events"): String =
    math.max(4000L, rowCount(spark, dir, table) / 2 + 1).toString
  def severalBatchCap(spark: SparkSession, dir: String, table: String = "events"): String =
    math.max(3000L, rowCount(spark, dir, table) / 4 + 1).toString

  /** Parallelize a scan-stage-heavy pipeline over an effectively
    * unsplittable input. Every driver fixture is ONE parquet file with ONE
    * row group, so a scan is a single task — and Spark pipelines all
    * map-side work (casts, per-row hashes, decodes, explodes, partial
    * aggregation) into that task: a 32-core box runs the whole leg serially
    * (measured on q199: 15 decimal moment sums 5.5 s serial → 1.1 s spread,
    * bit-identical). This is the optimization guide §2.5 "input skew: one
    * huge unsplittable file → repartition immediately after the read",
    * applied ONLY where per-row compute dominates; a no-op when the scan
    * already carries enough splits (real multi-file inputs at scale), so
    * the extra exchange never exists where the data layout is healthy.
    */
  def spread(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (df.rdd.getNumPartitions * 2 >= target) df
    else df.repartition(target)
  }
}
