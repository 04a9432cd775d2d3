package graft

import org.apache.spark.sql.SparkSession

/** The one Spark session config every engine entry point and the test
  * suite run under, so a query plans and executes the same way in Bench,
  * Verify, PlanAudit and the tests.
  */
object GraftSession {

  /** Core count for entry points that do not pin one. */
  def envCpus: Int = sys.env.get("SPARK_GRAFT_CPUS").fold(32)(_.toInt)

  /** A local-mode builder with the engine's config; callers may add
    * deployment confs (paths, app name) before `getOrCreate()`.
    */
  def builder(cpus: Int): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.adaptive.enabled", "true")
      // Let AQE size CACHED plans' output partitions from their bytes
      // (default false for historical compat): CacheScope-cached frames
      // otherwise freeze the session shuffle-partition count into every
      // downstream scan, so a KB-sized cached table is re-read as `cpus`
      // near-empty partitions by every action that touches it — per-task
      // overhead that scales with the core count, not the data (the r11
      // verdict's 8-core-beats-32-core pathology). Scale-adaptive by
      // construction: at real input sizes AQE keeps caches many-partitioned.
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .withExtensions(new GraftExtensions)
}
