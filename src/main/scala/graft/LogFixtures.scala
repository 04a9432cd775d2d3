package graft

import org.apache.spark.sql.functions.{col, expr, lit}
import org.apache.spark.sql.{Column, SparkSession}

/** Memoizes produced stream-log roots per (sfDir, key). The fixture tables
  * are immutable, so a log produced from them is identical on every run in
  * one JVM; rebuilding it per run just re-times the produce path, which has
  * its own metric (Bench's stream_entries_per_sec). With the log memoized,
  * a streaming query's warm run measures what it should: the engine's
  * micro-batch read/state path. Each run still gets a fresh checkpoint and
  * sink — only the input artifact is shared.
  */
object LogFixtures {
  private val cache =
    new java.util.concurrent.ConcurrentHashMap[(String, String), String]()

  /** Returns the root of the log produced by `produce`, creating it only on
    * the first call for this (sfDir, key).
    */
  def producedLog(sfDir: String, key: String)(produce: String => Unit): String =
    cache.computeIfAbsent((sfDir, key), { _ =>
      val root = TempDirs.scratch(s"graft-$key")
      produce(root)
      root
    })

  /** The shared fixture logs: one producer per projection, however many
    * queries read it. Each is a fixture table bulk-produced into one stream,
    * an entry per row at `1700000000000 + <id column>` ms (ties broken by
    * the id), so ids follow the table's key and not the clock. The readers
    * only read: a query that rewrites a log (q344's compaction) produces its
    * own.
    *
    * Stream `events`: event_id, event_type and vc, the value in integer
    * cents (replication pipes q341/q342, quarantine lanes q355, streaming
    * sketches q182/q209).
    */
  def eventTypeCents(s: SparkSession, dir: String): String =
    producedLog(dir, "event-type-cents") { r =>
      produceById(s, dir, r, "events", "event_id",
        col("event_type"), expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("vc"))
    }

  /** Stream `events`: event_id, event_type and user_id (q191, q200, q410,
    * q446).
    */
  def eventTypeUser(s: SparkSession, dir: String): String =
    producedLog(dir, "event-type-user") { r =>
      produceById(s, dir, r, "events", "event_id", col("event_type"), col("user_id"))
    }

  /** Stream `events`: event_id and event_type (q352, q414). */
  def eventTypes(s: SparkSession, dir: String): String =
    producedLog(dir, "event-types") { r =>
      produceById(s, dir, r, "events", "event_id", col("event_type"))
    }

  /** Stream `documents`: doc_id, source and text (q419, q434, q445). */
  def documents(s: SparkSession, dir: String): String =
    producedLog(dir, "documents") { r =>
      produceById(s, dir, r, "documents", "doc_id", col("source"), col("text"))
    }

  private def produceById(s: SparkSession, dir: String, root: String, table: String,
      id: String, payload: Column*): Unit =
    graft.log.LogBulkProducer.produceAt(
      Tables.load(s, dir, table)
        .select((lit(1700000000000L) + col(id)).as("ms") +: col(id) +: payload: _*),
      "ms", root, table, orderCols = Seq(id))

  /** Drop a memoized log so the next call re-produces it — for tests that
    * specifically exercise the produce path (e.g. under a changed JVM
    * default timezone).
    */
  private[graft] def invalidate(sfDir: String, key: String): Unit =
    cache.remove((sfDir, key))
}
