package graft.log

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import graft.log.SegmentFormat.{Jsonl, JsonlGz, Parquet}

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import java.nio.file.attribute.FileTime
import scala.jdk.CollectionConverters._

/** On-disk layout of a stream log: `<root>/<stream>/` holds immutable
  * segment files named `<firstId>__<lastId>.<ext>`, each a batch of entries
  * in id order. Segments are written atomically (tmp + rename), so readers
  * never observe partial files; the name carries the id range for file-level
  * pruning, the same way the id doubles as position in the reference
  * (/root/reference/lib/redix/stream/consumer.ex:301-313).
  *
  * JSONL keeps the produce path append-cheap (mirroring XADD); `compact`
  * merges cold segments and can gzip them, and the cold tier rewrites to
  * parquet. [[SegmentFormat]] owns the formats: readers prune by range, so
  * storage-format changes are invisible to consumers.
  */
object LogStore {

  final case class Segment(path: String, first: LogId, last: LogId, format: SegmentFormat) {
    def read(): Seq[LogEntry] = format.read(this)
    def ids(): Seq[LogId] = format.ids(this)
    def count(): Long = format.count(this)
  }

  /** Writer-attached compaction policy for the log's storage tiers:
    * when the segment count reaches `triggerSegments`, run one size-tiered
    * JSONL merge pass (`targetBytes`/`minMerge` as in [[compactTiered]]);
    * with `freezeColdToParquet` also rewrite each full-size JSONL segment —
    * one that reached `targetBytes`, which the tiered merge will never touch
    * again — to a columnar parquet segment, excluding the newest
    * `keepHotSegments` (still near the append point). Hot tier stays
    * JSONL-append-cheap, cold tier becomes scan-cheap, and no daemon is
    * needed: the policy runs under the writer lock on the produce path.
    */
  final case class CompactionPolicy(
      triggerSegments: Int,
      targetBytes: Long = 4L << 20,
      minMerge: Int = 4,
      freezeColdToParquet: Boolean = false,
      keepHotSegments: Int = 2) {
    require(triggerSegments > 0, "triggerSegments must be positive")
    require(keepHotSegments >= 0, "keepHotSegments must be >= 0")
  }

  def streamDir(root: String, stream: String): Path = Paths.get(root, stream)

  // directory-safe and JSON-interpolation-safe (offset wire format embeds
  // names unescaped); covers the reference's url-base64 test names
  private val SafeStreamName = "^[A-Za-z0-9._=+-]+$".r

  /** Idempotent stream DDL (≙ ensure_stream_and_group MKSTREAM,
    * /root/reference/lib/redix/stream/consumer.ex:332-351): creating an
    * existing stream is a no-op. Names are restricted to a filesystem- and
    * offset-JSON-safe charset.
    */
  def ensureStream(root: String, stream: String): Unit = {
    require(SafeStreamName.matches(stream),
      s"illegal stream name '$stream': allowed characters are [A-Za-z0-9._=+-]")
    Files.createDirectories(streamDir(root, stream))
  }

  def exists(root: String, stream: String): Boolean =
    Files.isDirectory(streamDir(root, stream))

  /** The stream's segment file names, split, from one bare `list()` of its
    * directory: no File, Segment or sort. Every [[Listing]] and the writer's
    * auto-compaction count (every produce and every trigger) share it.
    */
  private[log] def segmentNames(root: String, stream: String): Iterator[SegmentFormat.Named] =
    Option(streamDir(root, stream).toFile.list()).iterator.flatten.flatMap(SegmentFormat.parseName)

  /** The stream directory's last-modified time and the wall-clock time of
    * the stat that read it, taken just before a listing's `list()`.
    */
  private final case class DirStamp(modified: FileTime, at: Long) {
    /** A later stat that returns the same time proves the directory
      * unchanged only if a change after `at` could not carry that same
      * time: the time must be older than `at` by more than the timestamp
      * granularity. A time with no sub-second part may come from a 1-s or
      * 2-s timestamp filesystem; any other from the kernel's coarse clock.
      */
    def settled: Boolean = {
      val allowance = if (modified.toInstant.getNano == 0) 2000L else 50L
      at - modified.toMillis > allowance
    }
  }

  /** A listing stands for its directory for at most this long, so a step of
    * the wall clock delays a listing and never loses an entry.
    */
  private val ReuseMaxAgeMs = 1000L

  private def dirStamp(root: String, stream: String): Option[DirStamp] = {
    val at = System.currentTimeMillis()
    try Some(DirStamp(Files.getLastModifiedTime(streamDir(root, stream)), at))
    catch { case _: java.nio.file.NoSuchFileException => None }
  }

  /** One listing of a stream directory. The head parses only each name's
    * last id; the segments are parsed and sorted from the same names on
    * first use. A trigger lists once: `latestOffset` reads the head, and
    * planning and the admission-control id scan reuse the segments.
    */
  final class Listing private[LogStore] (root: String, stream: String,
      names: Vector[SegmentFormat.Named], stamp: Option[DirStamp]) {

    /** This listing while the stream directory is unchanged, else a new
      * one: an idle poll costs one `stat`, not a `list()` of every segment.
      * Every change to a stream (a segment publish, compaction, trim or
      * deletion, the `.highwater` marker) is a rename or an unlink in its
      * directory, which sets the directory's last-modified time. A missing
      * directory is never reused.
      */
    def refresh(): Listing = stamp match {
      case Some(s) if s.settled =>
        val now = dirStamp(root, stream)
        val age = now.fold(-1L)(_.at - s.at)
        if (age >= 0 && age < ReuseMaxAgeMs && now.exists(_.modified == s.modified)) this
        else listing(root, stream)
      case _ => listing(root, stream)
    }

    /** Highest assigned id, or Zero for an empty/missing stream. Consults
      * the `.highwater` marker [[trim]] leaves behind, so a FULLY trimmed
      * stream still remembers every id it ever assigned — Redis streams keep
      * `last-generated-id` across XTRIM for the same reason: ids double as
      * positions, and reusing one would teleport consumers backwards.
      */
    lazy val head: LogId = {
      val segMax = names.foldLeft(LogId.Zero) { (m, n) =>
        val last = LogId.parse(n.last)
        if (last > m) last else m
      }
      val marker = highwaterMarker(root, stream)
      if (marker > segMax) marker else segMax
    }

    /** The listed segments, in id order. */
    lazy val segments: Seq[Segment] = {
      val dir = streamDir(root, stream).toAbsolutePath
      names.map(n => n.at(dir.resolve(n.name).toString)).sortBy(_.first)
    }

    /** Ids (only) of the first `limit` entries after `start` — what the
      * admission-control cutoff actually needs, through each format's
      * id-only scan ([[SegmentFormat]]). The last answer is kept: segment
      * files never change in place, so it holds while this listing is
      * reused, and a min-rows gate polling an idle stream reads no file.
      */
    def idsAfter(start: LogId, limit: Int): Seq[LogId] = lastIdsAfter match {
      case Some((`start`, `limit`, ids)) => ids
      case _ =>
        val out = scala.collection.mutable.ArrayBuffer.empty[LogId]
        val it = segments.iterator.filter(_.last > start)
        while (out.size < limit && it.hasNext) out ++= it.next().ids().filter(_ > start)
        val ids = out.toSeq.distinct.sorted.take(limit)
        lastIdsAfter = Some((start, limit, ids))
        ids
    }
    @volatile private var lastIdsAfter: Option[(LogId, Int, Seq[LogId])] = None
  }

  def listing(root: String, stream: String): Listing = {
    val stamp = dirStamp(root, stream)
    new Listing(root, stream, segmentNames(root, stream).toVector, stamp)
  }

  def segments(root: String, stream: String): Seq[Segment] = listing(root, stream).segments

  /** The stream's head ([[Listing.head]]). */
  def maxId(root: String, stream: String): LogId = listing(root, stream).head

  private def highwaterPath(root: String, stream: String): Path =
    streamDir(root, stream).resolve(".highwater")

  /** The persisted high-water marker, Zero ONLY when the file does not
    * exist. A marker that exists but cannot be parsed fails loudly: the
    * marker is the id-reuse guard for fully trimmed streams, and silently
    * treating corruption as Zero would re-enable exactly the hazard it
    * prevents (a trimmed id reassigned, teleporting consumers backwards).
    */
  private def highwaterMarker(root: String, stream: String): LogId = {
    val p = highwaterPath(root, stream)
    try LogId.parse(Files.readString(p, StandardCharsets.UTF_8).trim)
    catch {
      case _: java.nio.file.NoSuchFileException => LogId.Zero
      case e: Exception => throw new IllegalStateException(
        s"corrupt .highwater marker for stream '$stream' at $p — refusing " +
          "to guess the id high-water (id reuse would teleport consumers " +
          "backwards); repair or delete the marker explicitly", e)
    }
  }

  /** Persist the stream's current high-water id (monotonic: never lowers an
    * existing marker). Called by [[trim]] before any segment disappears.
    */
  private def recordHighwater(root: String, stream: String): Unit = {
    val hw = maxId(root, stream)
    if (hw > LogId.Zero) {
      val tmp = streamDir(root, stream).resolve(".highwater.tmp")
      Files.writeString(tmp, hw.toString, StandardCharsets.UTF_8)
      SegmentFormat.publish(tmp, highwaterPath(root, stream), replace = true)
    }
  }

  // --- JSONL codec (Jackson ships with Spark) ---

  // shared: ObjectMapper is thread-safe after configuration, and building
  // one per line would dominate segment parse time
  private val mapper = new ObjectMapper()

  private def escapeInto(sb: java.lang.StringBuilder, s: String): Unit = {
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      (c: @annotation.switch) match {
        case '"' => sb.append("\\\"")
        case '\\' => sb.append("\\\\")
        case '\b' => sb.append("\\b")
        case '\f' => sb.append("\\f")
        case '\n' => sb.append("\\n")
        case '\r' => sb.append("\\r")
        case '\t' => sb.append("\\t")
        case _ =>
          if (c < 0x20) sb.append(f"\\u${c.toInt}%04x") else sb.append(c)
      }
      i += 1
    }
  }

  /** Every [[encodeLine]] starts with this, the id's own text next. */
  private[log] val IdPrefix = "{\"id\":\""

  /** Hand-rolled JSON encode (standard escaping, Jackson-decodable): the
    * produce path is a driver-side funnel by design (single id sequencer), so
    * per-line ObjectNode allocation would dominate large appends. The "id"
    * field is always first — the JSONL id-only scan relies on that for its
    * parse-free fast path.
    */
  def encodeLine(e: LogEntry): String = {
    val sb = new java.lang.StringBuilder(64 + 16 * e.values.size)
    sb.append(IdPrefix).append(e.id.toString).append("\",\"values\":")
    appendValuesObject(sb, e.values)
    sb.append('}')
    sb.toString
  }

  private def appendValuesObject(sb: java.lang.StringBuilder,
      values: Map[String, String]): Unit = {
    sb.append('{')
    var first = true
    values.foreach { case (k, v) =>
      if (!first) sb.append(',')
      first = false
      sb.append('"'); escapeInto(sb, k); sb.append("\":\"")
      escapeInto(sb, v); sb.append('"')
    }
    sb.append('}')
  }

  /** One values-only segment line (`{"k":"v",...}` — exactly the `values`
    * object of [[encodeLine]]): the wire format of `.vjsonl` segments, whose
    * ids are implicit (filename range + line number). Executor-side sink
    * tasks encode rows with this BEFORE any id exists; the driver's commit
    * then assigns the range by renaming the file into place.
    */
  def encodeValuesLine(values: Map[String, String]): String = {
    val sb = new java.lang.StringBuilder(16 + 16 * values.size)
    appendValuesObject(sb, values)
    sb.toString
  }

  private[graft] def decodeValuesLine(line: String): Map[String, String] =
    // reconstitute the envelope so both the fast and the Jackson decoder
    // apply unchanged; the placeholder id is discarded
    decodeLine("{\"id\":\"0-0\",\"values\":" + line + "}").values

  def decodeLine(line: String): LogEntry =
    try decodeLineFast(line)
    catch { case _: Exception => decodeLineJackson(line) }

  /** General JSON decode — the fallback for lines not produced by
    * [[encodeLine]] (hand-edited logs, other producers).
    */
  private[graft] def decodeLineJackson(line: String): LogEntry = {
    val node = mapper.readTree(line).asInstanceOf[ObjectNode]
    val id = LogId.parse(node.get("id").asText())
    val vals = node.get("values").asInstanceOf[ObjectNode]
    val values = vals.properties().asScala
      .map(e => e.getKey -> e.getValue.asText()).toMap
    LogEntry(id, values)
  }

  /** Direct parse of [[encodeLine]]'s exact layout
    * (`{"id":"...","values":{"k":"v",...}}`, strings with standard JSON
    * escapes) — several times faster than a generic tree parse, and segment
    * decode is the executor-side cost of every read. Throws on any
    * deviation; [[decodeLine]] then falls back to Jackson.
    */
  private[graft] def decodeLineFast(line: String): LogEntry = {
    require(line.startsWith(IdPrefix), "unexpected prefix")
    var i = IdPrefix.length
    val idEnd = line.indexOf('"', i)
    val id = LogId.parse(line.substring(i, idEnd))
    val ValuesPrefix = ",\"values\":{"
    require(line.regionMatches(idEnd + 1, ValuesPrefix, 0, ValuesPrefix.length),
      "unexpected values prefix")
    i = idEnd + 1 + ValuesPrefix.length
    val sb = new java.lang.StringBuilder
    // parse one escaped JSON string starting at a '"'; returns value,
    // leaves `i` after the closing quote
    def parseString(): String = {
      require(line.charAt(i) == '"', "expected string")
      i += 1
      sb.setLength(0)
      while (line.charAt(i) != '"') {
        val c = line.charAt(i)
        if (c == '\\') {
          val e = line.charAt(i + 1)
          (e: @annotation.switch) match {
            case '"' => sb.append('"'); i += 2
            case '\\' => sb.append('\\'); i += 2
            case '/' => sb.append('/'); i += 2
            case 'b' => sb.append('\b'); i += 2
            case 'f' => sb.append('\f'); i += 2
            case 'n' => sb.append('\n'); i += 2
            case 'r' => sb.append('\r'); i += 2
            case 't' => sb.append('\t'); i += 2
            case 'u' =>
              sb.append(Integer.parseInt(line.substring(i + 2, i + 6), 16).toChar)
              i += 6
            case other => throw new IllegalArgumentException(s"bad escape: \\$other")
          }
        } else { sb.append(c); i += 1 }
      }
      i += 1
      sb.toString
    }
    val values = Map.newBuilder[String, String]
    if (line.charAt(i) == '}') i += 1 // empty map
    else {
      var more = true
      while (more) {
        val k = parseString()
        require(line.charAt(i) == ':', "expected colon")
        i += 1
        val v = parseString()
        values += k -> v
        line.charAt(i) match {
          case ',' => i += 1
          case '}' => i += 1; more = false
          case other => throw new IllegalArgumentException(s"unexpected: $other")
        }
      }
    }
    require(i < line.length && line.charAt(i) == '}', "expected closing brace")
    LogEntry(id, values.result())
  }

  /** Every entry of the segment at `path` (see [[SegmentFormat.read]]). */
  def readSegment(path: String): Seq[LogEntry] = SegmentFormat.at(path).read()

  /** Entries with start < id <= end across all segments, in id order.
    * Deduped by id so a reader racing a compaction (old + merged segments
    * both visible for an instant) still sees each entry once.
    */
  def readRange(root: String, stream: String, start: LogId, end: LogId): Seq[LogEntry] =
    segments(root, stream)
      .filter(s => s.last > start && s.first <= end)
      .flatMap(_.read())
      .filter(e => e.id > start && e.id <= end)
      .distinctBy(_.id)
      .sortBy(_.id)

  /** The entries whose ids are in `ids`, keyed by id: one listing, and one
    * read of each segment whose name range holds a wanted id. An entry seen
    * twice (a reader racing a compaction) is kept once.
    */
  def readIds(root: String, stream: String, ids: Set[LogId]): Map[LogId, LogEntry] = {
    val wanted = ids.toVector.sorted
    segments(root, stream)
      .filter { s =>
        val i = wanted.search(s.first).insertionPoint
        i < wanted.size && wanted(i) <= s.last
      }
      .iterator.flatMap(_.read().filter(e => ids.contains(e.id)))
      .map(e => e.id -> e).toMap
  }

  /** The entries of `segs`, each once, in id order. */
  private def merged(segs: Seq[Segment]): Seq[LogEntry] =
    segs.flatMap(_.read()).distinctBy(_.id).sortBy(_.id)

  /** Merge all segments whose id range is entirely <= `upTo` into one
    * segment. Readers are never wrong during compaction: the new segment is
    * moved in atomically before the old files are deleted, and range
    * filtering dedups any momentary overlap at the reader (ids are unique).
    * This is what keeps a produce-heavy stream (many tiny XADD-like appends)
    * from degrading into a small-files problem at scale; a real deployment
    * would also rewrite cold compacted segments to parquet.
    */
  def compact(root: String, stream: String, upTo: LogId, gzip: Boolean = false): Int = {
    val segs = segments(root, stream).filter(_.last <= upTo)
    if (segs.size < 2) 0
    else SegmentFormat.rewrite(segs, merged(segs), if (gzip) JsonlGz else Jsonl)
  }

  /** Rewrite every segment whose id range is entirely <= `upTo` into ONE
    * columnar parquet segment (MAP<STRING,STRING> payload; dictionary +
    * snappy). The cold tier of the log: ids keep their range-named file
    * contract, readers dispatch on the extension, and the move-then-delete
    * order plus reader-side id dedup make it safe under concurrent reads,
    * exactly like [[compact]]. Returns segments merged (0 if fewer than 2).
    */
  def compactToParquet(root: String, stream: String, upTo: LogId): Int = {
    val segs = segments(root, stream).filter(_.last <= upTo)
    // a lone already-parquet segment is the fixed point: rewriting it would
    // make the natural while(compactToParquet(...) > 0) loop spin forever
    if (segs.isEmpty || (segs.size == 1 && segs.head.format == Parquet)) 0
    else SegmentFormat.rewrite(segs, merged(segs), Parquet)
  }

  /** Rewrite each cold full-size JSONL/gzip segment to parquet IN PLACE
    * (per-segment, unlike [[compactToParquet]]'s fold-into-one): eligible
    * segments are at least `minBytes` (reached the tier's target size, so
    * [[compactTiered]] will never merge them again) and are not among the
    * newest `keepHot` segments (still near the append point). Same
    * reader-safety as every compaction here: tmp + atomic move before the
    * source file is deleted, readers dedup by id. Returns segments frozen.
    */
  def freezeColdSegments(root: String, stream: String,
      minBytes: Long = 4L << 20, keepHot: Int = 2): Int = {
    val eligible = segments(root, stream).dropRight(keepHot)
      .filter(s => s.format != Parquet &&
        (try Files.size(Paths.get(s.path)) >= minBytes
         catch { case _: java.io.IOException => false }))
    eligible.map(s => SegmentFormat.rewrite(Seq(s), s.read(), Parquet)).sum
  }

  /** Size-tiered incremental compaction: merge the first run of >= `minMerge`
    * adjacent segments that are each smaller than `targetBytes` (cumulative
    * cap 2x), producing one segment. Unlike [[compact]] (which folds
    * everything below a watermark into one ever-growing file, O(n^2) bytes
    * rewritten over the log's lifetime), each byte is rewritten O(log n)
    * times — the LSM policy. Returns the number of segments merged (0 if no
    * eligible run). Reader-safe for the same reason compact is: merged
    * segment lands atomically before the olds are deleted, and readers dedup
    * by id.
    */
  def compactTiered(root: String, stream: String,
      targetBytes: Long = 4L << 20, minMerge: Int = 4): Int = {
    val segs = segments(root, stream)
    // parquet segments are the frozen cold tier: treat them as full-size so
    // a run never includes one — merging them back into JSONL would undo
    // the freeze (their compressed size is typically well below target)
    val sizes = segs.map(s => s -> (
      if (s.format == Parquet) Long.MaxValue
      else try Files.size(Paths.get(s.path)) catch {
        case _: java.io.IOException => Long.MaxValue
      }))
    // first run of adjacent small segments, greedily extended under the cap
    var runStart = -1
    var i = 0
    var run: List[(Segment, Long)] = Nil
    while (runStart < 0 && i < sizes.size) {
      if (sizes(i)._2 < targetBytes) {
        var acc = 0L
        var j = i
        var r = List.empty[(Segment, Long)]
        while (j < sizes.size && sizes(j)._2 < targetBytes &&
            acc + sizes(j)._2 <= targetBytes * 2) {
          acc += sizes(j)._2; r ::= sizes(j); j += 1
        }
        if (r.size >= minMerge) { runStart = i; run = r.reverse }
        // too-short run: resume AT j when segment j is itself small (it was
        // excluded only by the cumulative cap and may start the next run);
        // only skip past it when it is genuinely large
        else i = if (j < sizes.size && sizes(j)._2 < targetBytes) j else j + 1
      } else i += 1
    }
    if (runStart < 0) 0
    else SegmentFormat.rewrite(run.map(_._1), merged(run.map(_._1)), Jsonl)
  }

  /** Kafka-style KEY compaction: among entries with id <= `upTo`, retain
    * only the LATEST entry per key (`values(keyField)`, highest id wins);
    * a retained entry carrying the delete marker (`__deleted` -> `"1"`) is
    * dropped entirely — that is how a key is erased from a compacted
    * stream (the Kafka null-value tombstone, adapted to the map payload).
    * Entries above `upTo` are untouched, so the active head keeps
    * appending. Ids of retained entries never change — consumer positions
    * stay valid, and a consumer positioned at a compacted-away id simply
    * resumes at the next retained entry (the identical contract to
    * [[trim]]). Idempotent: re-running compaction over an already-compacted
    * range drops nothing. Returns entries dropped.
    *
    * At 100 TB the affected cold range streams through per-segment latest-
    * per-key maps merged oldest-to-newest; this single-node form folds the
    * affected segments in one pass under the stream writer lock.
    */
  def compactKeyed(root: String, stream: String, keyField: String,
      upTo: LogId): Long =
    LogWriter.withExclusiveStreamLock(root, stream) {
      recordHighwater(root, stream)
      val affected = segments(root, stream).filter(_.first <= upTo)
      if (affected.isEmpty) 0L
      else {
        val (below, above) = merged(affected).partition(_.id <= upTo)
        val latestIds = below.groupBy(_.values.getOrElse(keyField, ""))
          .map { case (_, es) => es.maxBy(_.id).id }.toSet
        val keep = below.filter(e => latestIds.contains(e.id) &&
          !e.values.get("__deleted").contains("1"))
        val retained = keep ++ above
        val droppedN = below.size - keep.size
        if (droppedN > 0) SegmentFormat.rewrite(affected, retained, Jsonl)
        droppedN.toLong
      }
    }

  /** Retention: drop every entry with id <= `upTo` (≙ XTRIM MINID on the
    * Redis stream type the reference rides on — the reference itself never
    * trims, but an unbounded 100 TB log needs a lifecycle). Segments fully
    * below the cutoff are deleted outright — O(#files), no rewrite; the one
    * straddling segment is rewritten to its retained suffix (tmp + atomic
    * move before the old file is deleted, and readers dedup by id, so the
    * momentary overlap is safe — the same contract as every compaction
    * here). Consumers positioned below the cutoff simply resume at the
    * first retained entry; ids never change. Returns entries dropped.
    */
  def trim(root: String, stream: String, upTo: LogId): Long =
    LogWriter.withExclusiveStreamLock(root, stream) {
      trimLocked(root, stream, upTo)
    }

  /** [[trim]] body; caller must hold the per-stream writer lock (trim
    * deletes and rewrites segment files, so it races the produce-path
    * compaction passes otherwise — a compaction's snapshot read could
    * re-publish entries the trim just dropped).
    */
  private[log] def trimLocked(root: String, stream: String, upTo: LogId): Long = {
    // remember the high water FIRST: a trim that empties the stream must
    // not let a later explicit-timestamp append reuse a trimmed id
    recordHighwater(root, stream)
    var dropped = 0L
    segments(root, stream).foreach { s =>
      if (s.last <= upTo) {
        dropped += s.count()
        Files.deleteIfExists(Paths.get(s.path))
      } else if (s.first <= upTo) {
        val entries = s.read()
        val keep = entries.filter(_.id > upTo)
        dropped += entries.size - keep.size
        // in the source's own format: a frozen parquet or gzip'd straddler
        // must not come back as plain JSONL, and a `.vjsonl` suffix stays
        // dense within its one millisecond
        if (keep.size < entries.size) SegmentFormat.rewrite(Seq(s), keep, s.format)
      }
    }
    dropped
  }

  /** Atomically append one JSONL segment holding `entries` (must be
    * id-ordered); an existing segment of the same name fails loudly.
    */
  def writeSegment(root: String, stream: String, entries: Seq[LogEntry],
      gzip: Boolean = false): Unit =
    (if (gzip) JsonlGz else Jsonl).write(streamDir(root, stream), entries, replace = false)
}
