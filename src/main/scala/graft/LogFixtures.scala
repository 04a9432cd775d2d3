package graft

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

  /** Drop a memoized log so the next call re-produces it — for tests that
    * specifically exercise the produce path (e.g. under a changed JVM
    * default timezone).
    */
  private[graft] def invalidate(sfDir: String, key: String): Unit =
    cache.remove((sfDir, key))
}
