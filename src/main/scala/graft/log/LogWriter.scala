package graft.log

import java.nio.channels.{FileChannel, FileLock}
import java.nio.file.StandardOpenOption

/** Producer for a stream log — the engine's `produce` (≙ XADD,
  * /root/reference/lib/stream.ex:25-38): values are coerced to strings
  * (`to_string/1` rule, /root/reference/lib/stream.ex:15-16), the id is
  * assigned server-side as `"<millis>-<seq>"` with seq disambiguating
  * same-millisecond appends (the Redis id rule the reference's doctest
  * asserts, /root/reference/lib/stream.ex:21-23).
  *
  * Id assignment is serialized per stream: every append takes an exclusive
  * per-stream lock (JVM mutex + cross-process file lock on
  * `<streamDir>/.writer.lock`), refreshes the high-water id from disk under
  * the lock, then assigns. Two writers — even in different processes, as two
  * concurrent streaming-sink commits would be — therefore never assign
  * duplicate ids or clobber each other's segments; a writer that cannot get
  * the lock within `lockTimeoutMs` fails loudly rather than corrupting the
  * log. (At 100 TB one stream = one ordered shard by design, as in Redis;
  * scale-out is many streams, each with its own writer.)
  *
  * This is the single-writer PARITY api — every append funnels through one
  * sequencer, which is the contract, not a defect. For bulk bootstrap of a
  * fresh stream from a table (backfills, event-time fixtures) use
  * [[LogBulkProducer]]: explicit timestamps make ids data-derived, so
  * executors write segments directly and nothing funnels through the
  * driver.
  */
final class LogWriter(root: String, stream: String,
    clock: () => Long = () => System.currentTimeMillis(),
    lockTimeoutMs: Long = 30000L,
    maxSegmentEntries: Int = 10000,
    compaction: Option[LogStore.CompactionPolicy] = None) {

  LogStore.ensureStream(root, stream)
  // the high-water id; every assignment first refreshes it from disk under
  // the stream lock (withStreamLock), so the constructor need not read it
  private var last: LogId = LogId.Zero

  private def nextIdAt(now: Long): LogId = {
    last = if (now > last.millis) LogId(now, 0L) else LogId(last.millis, last.seq + 1)
    last
  }

  private def nextId(): LogId = nextIdAt(clock())

  /** Run `f` holding the per-stream exclusive lock, with the id high-water
    * mark refreshed from disk (another process may have appended since this
    * writer last looked).
    */
  private def withStreamLock[T](f: => T): T =
    LogWriter.withExclusiveStreamLock(root, stream, lockTimeoutMs) {
      val diskMax = LogStore.maxId(root, stream)
      if (diskMax > last) last = diskMax
      f
    }

  /** Retention trim ([[LogStore.trim]]) under this writer's stream lock:
    * trim mutates and deletes segments, so it must serialize with appends
    * and the produce-path compaction passes — a trim racing a compaction
    * could otherwise resurrect trimmed entries (the compaction's snapshot
    * read still sees segments the trim is about to delete, and its merged
    * segment would re-publish them).
    */
  def trim(upTo: LogId): Long = withStreamLock {
    LogStore.trimLocked(root, stream, upTo)
  }

  /** Coerce any payload value the way the reference does (`to_string/1`). */
  def coerce(values: Map[String, Any]): Map[String, String] =
    values.map { case (k, v) => k -> (if (v == null) "" else String.valueOf(v)) }

  /** One incremental size-tiered merge pass when the segment count crosses
    * the threshold; runs under the writer lock, so it cannot race another
    * writer's append (readers are compaction-safe by design). Keeps a
    * produce-heavy stream's file count O(log n) without a separate daemon.
    */
  private def maybeAutoCompact(): Unit = compaction.foreach { p =>
    // count only the live JSONL tier against the trigger: frozen parquet
    // segments never merge away, so including them would leave the trigger
    // permanently exceeded and run no-op compaction passes on every append
    val live = LogStore.segmentNames(root, stream).count(_.format != SegmentFormat.Parquet)
    if (live >= p.triggerSegments) {
      LogStore.compactTiered(root, stream, p.targetBytes, p.minMerge)
      if (p.freezeColdToParquet)
        LogStore.freezeColdSegments(root, stream, p.targetBytes, p.keepHotSegments)
    }
  }

  /** Append one entry; returns its assigned id. */
  def produce(values: Map[String, Any]): LogId = withStreamLock {
    val entry = LogEntry(nextId(), coerce(values))
    LogStore.writeSegment(root, stream, Seq(entry))
    maybeAutoCompact()
    entry.id
  }

  /** Append a batch; returns the assigned ids in order. Large batches are
    * chunked into segments of at most `maxSegmentEntries` entries — readers
    * parallelize per segment, so one huge append must not become one
    * unsplittable file (the single-giant-segment read is the local analog of
    * the small-files-vs-monolith balance at 100 TB). Id assignment stays
    * serial (the ordering contract); encoding + file IO of the chunks fan
    * out across threads into hidden tmp files, and then the tmp files are
    * moved into place SEQUENTIALLY IN ASCENDING ID ORDER. The in-order
    * publish is load-bearing: a concurrent reader that observed segment N
    * must be able to trust that every earlier segment is already visible —
    * otherwise its micro-batch offset could advance past a chunk that lands
    * late, permanently skipping those entries.
    */
  def produceAll(batch: Seq[Map[String, Any]]): Seq[LogId] =
    if (batch.isEmpty) Nil
    else withStreamLock {
      appendEntries(batch.map(v => LogEntry(nextId(), coerce(v))))
    }

  /** Append a batch with caller-supplied millisecond timestamps — the
    * explicit-id form of XADD (the reference always passes `*`,
    * /root/reference/lib/stream.ex:29; Redis itself also accepts
    * `<ms>-*`). Timestamps must be non-decreasing within the batch and no
    * earlier than the stream's current high-water millisecond — unlike the
    * clock-driven path, which silently absorbs clock regressions into the
    * seq counter, an explicit timestamp that cannot be honored fails
    * loudly: the caller asked for ids whose millisecond prefix IS the
    * given time (event-time replay depends on it), so shifting would
    * corrupt meaning, not just ordering.
    */
  def produceAllAt(batch: Seq[(Long, Map[String, Any])]): Seq[LogId] =
    if (batch.isEmpty) Nil
    else withStreamLock {
      // Validate the WHOLE batch against the disk high-water BEFORE assigning
      // any ids: interleaving validation with nextIdAt would advance the
      // in-memory `last` for elements 0..k-1 of a batch rejected at element
      // k, and withStreamLock only ever refreshes `last` upward — so the
      // phantom high-water would spuriously reject later valid appends until
      // the writer was recreated. Nothing hits disk on a rejected batch, so
      // nothing may move the high-water either.
      batch.iterator.map(_._1).scanLeft(last.millis)(math.max).zip(batch.iterator)
        .foreach { case (hw, (ms, _)) =>
          if (ms < hw) throw new IllegalArgumentException(
            s"explicit timestamp $ms is earlier than the stream '$stream' " +
              s"high-water millisecond $hw — explicit-timestamp " +
              "appends must be non-decreasing")
        }
      appendEntries(batch.map { case (ms, v) => LogEntry(nextIdAt(ms), coerce(v)) })
    }

  /** Write already-id-assigned entries as <= maxSegmentEntries segments and
    * run the compaction hook; must be called under the stream lock.
    */
  private def appendEntries(entries: Seq[LogEntry]): Seq[LogId] = {
    val chunks = entries.grouped(maxSegmentEntries).toSeq
    if (chunks.size <= 1)
      chunks.foreach(chunk => LogStore.writeSegment(root, stream, chunk))
    else {
      import scala.concurrent.duration.DurationInt
      import scala.concurrent.{Await, ExecutionContext, Future}
      implicit val ec: ExecutionContext = LogWriter.writeEc
      val dir = LogStore.streamDir(root, stream)
      val staged = Await.result(
        Future.traverse(chunks)(chunk => Future(SegmentFormat.Jsonl.stage(dir, chunk))),
        10.minutes)
      staged.foreach(_.publish(replace = false)) // ascending id order
    }
    maybeAutoCompact()
    entries.map(_.id)
  }

  /** Publish pre-staged values-only segment files (`.vjsonl`, one
    * [[LogStore.encodeValuesLine]] payload per line) into a freshly reserved
    * dense id range — the de-funneled sink commit. Executors already encoded
    * and wrote the full segment bytes; under the stream lock this only
    * reserves the range and RENAMES each file into place in ascending id
    * order (the reader visibility contract), so commit cost is O(#files)
    * regardless of row count and no payload ever touches the driver. Every
    * entry of the batch shares one millisecond: ids are exactly what
    * [[produceAll]] assigns for the same input order under a frozen clock
    * (seq = position in the concatenated file order). Returns the assigned
    * (firstId, totalEntries), or None for an all-empty batch. Crash between
    * renames = partial append; a retry re-stages and re-publishes with fresh
    * ids — at-least-once, the same contract as every produce path.
    */
  def publishStagedValues(staged: Seq[(java.nio.file.Path, Long)]): Option[(LogId, Long)] = {
    val files = staged.filter(_._2 > 0)
    if (files.isEmpty) None
    else withStreamLock {
      val total = files.iterator.map(_._2).sum
      val start = nextIdAt(clock())
      last = LogId(start.millis, start.seq + total - 1)
      val dir = LogStore.streamDir(root, stream)
      var off = 0L
      files.foreach { case (p, c) =>
        val first = LogId(start.millis, start.seq + off)
        SegmentFormat.publish(p, dir.resolve(SegmentFormat.Values.name(
          first, LogId(first.millis, first.seq + c - 1))), replace = false)
        off += c
      }
      maybeAutoCompact()
      Some((start, total))
    }
  }

  /** Write the tombstone used to materialize an empty stream
    * (≙ MKSTREAM's dummy entry; consumers skip it).
    */
  def produceTombstone(): LogId = withStreamLock {
    val entry = LogEntry(nextId(), LogEntry.TombstoneValues)
    LogStore.writeSegment(root, stream, Seq(entry))
    entry.id
  }
}

object LogWriter {
  // One JVM-level mutex per stream dir: FileLock is held per-JVM, so two
  // threads in the same process must serialize before touching the channel
  // (overlapping FileLock requests from one JVM throw).
  private val locks = new java.util.concurrent.ConcurrentHashMap[String, Object]()
  private def jvmLock(root: String, stream: String): Object =
    locks.computeIfAbsent(
      LogStore.streamDir(root, stream).toAbsolutePath.toString, _ => new Object)

  /** Acquire the per-stream exclusive lock (JVM mutex + cross-process file
    * lock on `<streamDir>/.writer.lock`) and run `f` under it. Shared by the
    * produce paths and every segment-mutating maintenance operation
    * ([[LogStore.trim]]): any operation that deletes or rewrites segment
    * files must hold this lock, or it races the produce-path compaction
    * passes that snapshot-read those same files.
    */
  private[log] def withExclusiveStreamLock[T](root: String, stream: String,
      lockTimeoutMs: Long = 30000L)(f: => T): T =
    jvmLock(root, stream).synchronized {
      val lockPath = LogStore.streamDir(root, stream).resolve(".writer.lock")
      val ch = FileChannel.open(lockPath,
        StandardOpenOption.CREATE, StandardOpenOption.WRITE)
      try {
        var lock: FileLock = null
        val deadline = System.nanoTime() + lockTimeoutMs * 1000000L
        while (lock == null) {
          lock = ch.tryLock()
          if (lock == null) {
            if (System.nanoTime() > deadline)
              throw new IllegalStateException(
                s"timed out acquiring writer lock for stream '$stream' after " +
                  s"${lockTimeoutMs}ms — another writer holds it (single-writer contract)")
            Thread.sleep(5)
          }
        }
        try f finally lock.release()
      } finally ch.close()
    }

  // Shared pool for fanning out chunked segment writes (encode + IO bound)
  // and parallel per-shard commits of sharded sink writes.
  private[graft] lazy val writeEc: scala.concurrent.ExecutionContext =
    scala.concurrent.ExecutionContext.fromExecutorService(
      java.util.concurrent.Executors.newFixedThreadPool(
        math.min(8, Runtime.getRuntime.availableProcessors()),
        r => { val t = new Thread(r, "graftlog-writer"); t.setDaemon(true); t }))
}
