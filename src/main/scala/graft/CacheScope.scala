package graft

import org.apache.spark.sql.Dataset

/** Registry for DataFrames a query builder `.cache()`s internally.
  *
  * Query builders return lazy plans, so they cannot unpersist their own
  * caches — the action happens later, in the runner (Verify / Bench / a
  * test). Without cleanup each pass over the suite accumulates cached
  * blocks in executor storage memory. Builders register every cached frame
  * here; runners call `release()` after the query's final action.
  */
object CacheScope {
  private val live = new java.util.concurrent.ConcurrentLinkedQueue[Dataset[_]]()
  private val views = new java.util.concurrent.ConcurrentLinkedQueue[
    (org.apache.spark.sql.SparkSession, String)]()

  /** Cache `df` and remember it for the next `release()`. */
  def cached[T](df: Dataset[T]): Dataset[T] = {
    df.cache()
    live.add(df)
    df
  }

  /** Register a memory-sink temp view to drop at the next `release()` —
    * streaming queries that emit one row per input would otherwise pin the
    * drained stream in driver memory for the session's lifetime.
    */
  def sinkView(s: org.apache.spark.sql.SparkSession, name: String): Unit =
    views.add((s, name))

  private val ckRdds = new java.util.concurrent.ConcurrentLinkedQueue[
    org.apache.spark.rdd.RDD[_]]()

  /** Eagerly localCheckpoint `df` and remember its blocks for the next
    * `release()`. Iterative queries (k-core peels, BFS rounds, star
    * contraction) chain 3+ rounds of cached joins; `.cache()` materializes
    * the DATA but the analyzed plan still carries the whole lineage, so by
    * round 3 every action pays seconds of pure re-analysis/AQE re-planning
    * over the full tree (measured on q229: round-3 count 9 s on a 109k-row
    * cached edge list). localCheckpoint cuts the plan to the materialized
    * blocks — the local-mode analogue of the checkpoint-between-rounds
    * discipline those queries already document for 100 TB runs. Blocks are
    * unpersisted at `release()` like any other query-internal cache.
    *
    * CONTRACT: after `release()`, a still-held checkpointed Dataset (or any
    * lazy plan whose leaves reference it) throws on its next action — the
    * blocks are dropped and, unlike a cache, there is no lineage left to
    * recompute. Runners must rebuild via the query fn after a release, as
    * Bench/Verify/TimeQueries do; never re-action a frame returned before it.
    *
    * The checkpointed RDD is captured DIRECTLY off the returned Dataset's
    * LogicalRDD leaf (a registry diff around the call would mis-capture any
    * RDD another thread persists concurrently and fatally unpersist it —
    * round-11 advice). The registry diff remains only as a fallback for an
    * unexpected plan shape.
    */
  def checkpointed[T](df: Dataset[T]): Dataset[T] = {
    val sc = df.sparkSession.sparkContext
    val before = sc.getPersistentRDDs.keySet
    val out = df.localCheckpoint(true)
    out.queryExecution.logical match {
      case lr: org.apache.spark.sql.execution.LogicalRDD => ckRdds.add(lr.rdd)
      case _ =>
        val after = sc.getPersistentRDDs
        after.keysIterator.filterNot(before).foreach(id => ckRdds.add(after(id)))
    }
    out
  }

  /** Unpersist every frame and drop every sink view registered since the
    * last release (non-blocking).
    */
  def release(): Unit = {
    var d = live.poll()
    while (d != null) { d.unpersist(false); d = live.poll() }
    var r = ckRdds.poll()
    while (r != null) { r.unpersist(false); r = ckRdds.poll() }
    var v = views.poll()
    while (v != null) { v._1.catalog.dropTempView(v._2); v = views.poll() }
  }
}
