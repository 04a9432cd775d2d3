package graft.log

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.ObjectNode

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import scala.jdk.CollectionConverters._

/** On-disk layout of a stream log: `<root>/<stream>/` holds immutable JSONL
  * segment files named `<firstId>__<lastId>.jsonl`, each a batch of entries in
  * id order. Segments are written atomically (tmp + rename), so readers never
  * observe partial files; the name carries the id range for file-level
  * pruning, the same way the id doubles as position in the reference
  * (/root/reference/lib/redix/stream/consumer.ex:301-313).
  *
  * JSONL keeps the produce path append-cheap (mirroring XADD); `compact`
  * merges cold segments and can gzip them (readers handle both formats), and
  * a columnar rewrite would slot in the same way — readers prune by range,
  * so storage-format changes are invisible to consumers.
  */
object LogStore {

  final case class Segment(path: String, first: LogId, last: LogId)

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

  private val SegName = "^(\\d+-\\d+)__(\\d+-\\d+)\\.(jsonl(\\.gz)?|parquet|vjsonl)$".r

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

  def segments(root: String, stream: String): Seq[Segment] = {
    val dir = streamDir(root, stream).toFile
    val files = Option(dir.listFiles()).getOrElse(Array.empty[File])
    files.iterator.flatMap { f =>
      f.getName match {
        case SegName(a, b, _, _) => Some(Segment(f.getAbsolutePath, LogId.parse(a), LogId.parse(b)))
        case _ => None
      }
    }.toSeq.sortBy(_.first)
  }

  /** Highest assigned id, or Zero for an empty/missing stream. Consults the
    * `.highwater` marker [[trim]] leaves behind, so a FULLY trimmed stream
    * still remembers every id it ever assigned — Redis streams keep
    * `last-generated-id` across XTRIM for the same reason: ids double as
    * positions, and reusing one would teleport consumers backwards.
    */
  def maxId(root: String, stream: String): LogId = {
    // a fold over the bare names: this runs on every produce (under the
    // stream lock) and every trigger, and needs no File, Segment or sort
    var segMax = LogId.Zero
    Option(streamDir(root, stream).toFile.list()).foreach(_.foreach {
      case SegName(_, b, _, _) =>
        val last = LogId.parse(b)
        if (last > segMax) segMax = last
      case _ => ()
    })
    val marker = highwaterMarker(root, stream)
    if (marker > segMax) marker else segMax
  }

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
      val p = highwaterPath(root, stream)
      val tmp = streamDir(root, stream).resolve(".highwater.tmp")
      Files.writeString(tmp, hw.toString, StandardCharsets.UTF_8)
      try Files.move(tmp, p, StandardCopyOption.ATOMIC_MOVE,
        StandardCopyOption.REPLACE_EXISTING)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(tmp, p, StandardCopyOption.REPLACE_EXISTING)
      }
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

  /** Hand-rolled JSON encode (standard escaping, Jackson-decodable): the
    * produce path is a driver-side funnel by design (single id sequencer), so
    * per-line ObjectNode allocation would dominate large appends. The "id"
    * field is always first — `idsAfterLimited` relies on that for its
    * parse-free fast path.
    */
  def encodeLine(e: LogEntry): String = {
    val sb = new java.lang.StringBuilder(64 + 16 * e.values.size)
    sb.append("{\"id\":\"").append(e.id.toString).append("\",\"values\":")
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
    val IdPrefix = "{\"id\":\""
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

  private def segmentLines(path: String): Seq[String] = {
    val lines =
      if (path.endsWith(".gz")) {
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          new java.util.zip.GZIPInputStream(Files.newInputStream(Paths.get(path))),
          StandardCharsets.UTF_8))
        try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
        finally in.close()
      } else Files.readAllLines(Paths.get(path), StandardCharsets.UTF_8).asScala.toSeq
    lines.filter(_.nonEmpty)
  }

  def readSegment(path: String): Seq[LogEntry] =
    if (path.endsWith(".parquet")) ParquetSegments.read(path)
    else if (path.endsWith(".vjsonl")) readValuesSegment(path)
    else segmentLines(path).map(decodeLine)

  /** Id range declared by a segment's file name. */
  private def nameRange(path: String): (LogId, LogId) =
    Paths.get(path).getFileName.toString match {
      case SegName(a, b, _, _) => (LogId.parse(a), LogId.parse(b))
      case other => throw new IllegalArgumentException(s"bad segment name: $other")
    }

  /** Decode a values-only segment: ids are derived as
    * `(first.millis, first.seq + lineNumber)` from the filename range, which
    * the publisher guarantees spans exactly one millisecond and exactly the
    * file's line count (both re-validated here — a mismatch means a corrupt
    * publish and must fail loudly, not mis-assign ids).
    */
  private def readValuesSegment(path: String): Seq[LogEntry] = {
    val (first, last) = nameRange(path)
    require(first.millis == last.millis,
      s"vjsonl segment spans several milliseconds: $path")
    val lines = segmentLines(path)
    require(lines.size.toLong == last.seq - first.seq + 1,
      s"vjsonl segment $path declares ${last.seq - first.seq + 1} entries " +
        s"but holds ${lines.size} lines")
    lines.iterator.zipWithIndex.map { case (l, i) =>
      LogEntry(LogId(first.millis, first.seq + i), decodeValuesLine(l))
    }.toSeq
  }

  /** Entries with start < id <= end across all segments, in id order.
    * Deduped by id so a reader racing a compaction (old + merged segments
    * both visible for an instant) still sees each entry once.
    */
  def readRange(root: String, stream: String, start: LogId, end: LogId): Seq[LogEntry] =
    segments(root, stream)
      .filter(s => s.last > start && s.first <= end)
      .flatMap(s => readSegment(s.path))
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
      .iterator.flatMap(s => readSegment(s.path).filter(e => ids.contains(e.id)))
      .map(e => e.id -> e).toMap
  }

  /** Ids (only) of the first `limit` entries after `start` — what the
    * admission-control cutoff actually needs. Fast path: `encodeLine` always
    * writes the id first, so the id is a fixed-prefix substring and no JSON
    * parse is required; any line not matching falls back to full decode.
    */
  def idsAfterLimited(root: String, stream: String, start: LogId,
      limit: Int): Seq[LogId] = {
    val IdPrefix = "{\"id\":\""
    def lineId(line: String): LogId =
      if (line.startsWith(IdPrefix)) {
        val end = line.indexOf('"', IdPrefix.length)
        LogId.parse(line.substring(IdPrefix.length, end))
      } else decodeLine(line).id
    def segIds(path: String): Seq[LogId] =
      if (path.endsWith(".parquet")) ParquetSegments.read(path).map(_.id)
      else if (path.endsWith(".vjsonl")) {
        // ids are fully determined by the name — zero file IO
        val (first, last) = nameRange(path)
        (first.seq to last.seq).map(LogId(first.millis, _))
      }
      else segmentLines(path).map(lineId)
    val out = scala.collection.mutable.ArrayBuffer.empty[LogId]
    val segs = segments(root, stream).filter(_.last > start)
    val it = segs.iterator
    while (out.size < limit && it.hasNext) {
      val seg = it.next()
      out ++= segIds(seg.path).filter(_ > start)
    }
    out.toSeq.distinct.sorted.take(limit)
  }

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
    else {
      val entries = segs.flatMap(s => readSegment(s.path)).distinctBy(_.id).sortBy(_.id)
      writeSegment(root, stream, entries, gzip, overwrite = true)
      segs.filter(s => Paths.get(s.path).getFileName.toString !=
        segmentName(entries.head.id, entries.last.id, gzip))
        .foreach(s => Files.deleteIfExists(Paths.get(s.path)))
      segs.size
    }
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
    if (segs.isEmpty || (segs.size == 1 && segs.head.path.endsWith(".parquet"))) 0
    else {
      val entries = segs.flatMap(s => readSegment(s.path)).distinctBy(_.id).sortBy(_.id)
      val name = writeParquetSegment(root, stream, entries)
      segs.filter(s => Paths.get(s.path).getFileName.toString != name)
        .foreach(s => Files.deleteIfExists(Paths.get(s.path)))
      segs.size
    }
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
      .filter(s => !s.path.endsWith(".parquet") &&
        (try Files.size(Paths.get(s.path)) >= minBytes
         catch { case _: java.io.IOException => false }))
    eligible.foreach { s =>
      val entries = readSegment(s.path)
      if (entries.nonEmpty) {
        val name = writeParquetSegment(root, stream, entries)
        if (Paths.get(s.path).getFileName.toString != name)
          Files.deleteIfExists(Paths.get(s.path))
      }
    }
    eligible.size
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
      if (s.path.endsWith(".parquet")) Long.MaxValue
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
    else {
      val toMerge = run.map(_._1)
      val entries = toMerge.flatMap(s => readSegment(s.path)).distinctBy(_.id).sortBy(_.id)
      writeSegment(root, stream, entries, gzip = false, overwrite = true)
      val mergedName = segmentName(entries.head.id, entries.last.id, gzip = false)
      toMerge.filter(s => Paths.get(s.path).getFileName.toString != mergedName)
        .foreach(s => Files.deleteIfExists(Paths.get(s.path)))
      toMerge.size
    }
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
        val all = affected.flatMap(s => readSegment(s.path)).sortBy(_.id)
        val (below, above) = all.partition(_.id <= upTo)
        val latestIds = below.groupBy(_.values.getOrElse(keyField, ""))
          .map { case (_, es) => es.maxBy(_.id).id }.toSet
        val keep = below.filter(e => latestIds.contains(e.id) &&
          !e.values.get("__deleted").contains("1"))
        val retained = (keep ++ above).sortBy(_.id)
        val droppedN = below.size - keep.size
        if (droppedN > 0) {
          if (retained.nonEmpty)
            writeSegment(root, stream, retained, gzip = false,
              overwrite = true)
          val newName = if (retained.isEmpty) ""
            else segmentName(retained.head.id, retained.last.id, gzip = false)
          affected
            .filter(s => Paths.get(s.path).getFileName.toString != newName)
            .foreach(s => Files.deleteIfExists(Paths.get(s.path)))
        }
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
        dropped += countEntries(s)
        Files.deleteIfExists(Paths.get(s.path))
      } else if (s.first <= upTo) {
        val entries = readSegment(s.path)
        val keep = entries.filter(_.id > upTo)
        dropped += entries.size - keep.size
        if (keep.size < entries.size) {
          writeRetainedLike(root, stream, s.path, keep)
          Files.deleteIfExists(Paths.get(s.path))
        }
      }
    }
    dropped
  }

  /** Rewrite a straddling segment's retained suffix IN THE SAME storage
    * format as the source segment: a frozen parquet cold-tier or gzip'd
    * segment must not silently come back as plain JSONL (that would undo
    * [[freezeColdSegments]] until the next freeze pass). `.vjsonl` retains
    * its values-only form — the kept suffix is contiguous within the
    * segment's single millisecond, so the name-derived id contract holds.
    */
  private def writeRetainedLike(root: String, stream: String,
      srcPath: String, keep: Seq[LogEntry]): Unit = {
    if (srcPath.endsWith(".parquet")) writeParquetSegment(root, stream, keep)
    else if (srcPath.endsWith(".vjsonl")) {
      val dir = streamDir(root, stream)
      val name = valuesSegmentName(keep.head.id, keep.last.id)
      val tmp = dir.resolve(s".$name.tmp")
      val lines = keep.map(e => encodeValuesLine(e.values)).mkString("", "\n", "\n")
      Files.write(tmp, lines.getBytes(StandardCharsets.UTF_8))
      Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    } else {
      writeSegment(root, stream, keep, gzip = srcPath.endsWith(".gz"),
        overwrite = true)
    }
  }

  /** Entry count of a segment without a full decode where the format allows:
    * values-only segments derive it from the file name alone (zero IO), and
    * parquet segments read it from the footer metadata.
    */
  private def countEntries(s: Segment): Long =
    if (s.path.endsWith(".vjsonl")) s.last.seq - s.first.seq + 1
    else if (s.path.endsWith(".parquet")) ParquetSegments.rowCount(s.path)
    else readSegment(s.path).size.toLong

  private[log] def segmentName(first: LogId, last: LogId, gzip: Boolean): String =
    s"${first}__$last.jsonl" + (if (gzip) ".gz" else "")

  private[graft] def valuesSegmentName(first: LogId, last: LogId): String =
    s"${first}__$last.vjsonl"

  /** A segment fully written to a hidden tmp file, not yet visible. */
  final case class PreparedSegment(tmp: Path, target: Path)

  /** Encode `entries` (must be id-ordered) into a hidden tmp file. Unless
    * `overwrite` (compaction re-runs), an existing segment of the same name
    * fails loudly — a silent ATOMIC_MOVE replace would mean two writers
    * assigned the same id range, which the per-stream writer lock forbids.
    */
  def prepareSegment(root: String, stream: String, entries: Seq[LogEntry],
      gzip: Boolean = false, overwrite: Boolean = false): PreparedSegment = {
    require(entries.nonEmpty, "empty segment")
    val dir = streamDir(root, stream)
    Files.createDirectories(dir)
    val name = segmentName(entries.head.id, entries.last.id, gzip)
    if (!overwrite && Files.exists(dir.resolve(name)))
      throw new IllegalStateException(
        s"segment $name already exists for stream '$stream' — duplicate id " +
          "assignment (two writers?); refusing to replace it")
    val tmp = dir.resolve(s".$name.tmp")
    val lines = entries.map(encodeLine).mkString("", "\n", "\n")
    val bytes = lines.getBytes(StandardCharsets.UTF_8)
    if (gzip) {
      val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(tmp))
      try out.write(bytes) finally out.close()
    } else Files.write(tmp, bytes)
    PreparedSegment(tmp, dir.resolve(name))
  }

  /** Make a prepared segment visible (one atomic rename). When publishing
    * several segments of one append, callers MUST publish in ascending id
    * order — readers infer "everything before what I saw is present".
    */
  def publishSegment(p: PreparedSegment): Unit =
    Files.move(p.tmp, p.target, StandardCopyOption.ATOMIC_MOVE)

  /** The parquet twin of [[prepareSegment]] + [[publishSegment]]: write
    * `entries` (id-ordered, non-empty) to a hidden tmp file, then move it
    * atomically into its range-named `.parquet` segment. Callers delete the
    * source segments only after this returns (readers dedup the overlap by
    * id). Returns the segment's file name.
    */
  private def writeParquetSegment(root: String, stream: String,
      entries: Seq[LogEntry]): String = {
    val dir = streamDir(root, stream)
    val name = s"${entries.head.id}__${entries.last.id}.parquet"
    val tmp = dir.resolve(s".$name.tmp")
    ParquetSegments.write(tmp, entries)
    Files.move(tmp, dir.resolve(name), StandardCopyOption.ATOMIC_MOVE)
    name
  }

  /** Atomically write one segment holding `entries` (must be id-ordered). */
  def writeSegment(root: String, stream: String, entries: Seq[LogEntry],
      gzip: Boolean = false, overwrite: Boolean = false): Unit =
    publishSegment(prepareSegment(root, stream, entries, gzip, overwrite))
}
