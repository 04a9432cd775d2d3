package graft.log

import graft.log.LogStore.Segment

import java.io.FileNotFoundException
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.StandardCopyOption.{ATOMIC_MOVE, REPLACE_EXISTING}
import java.nio.file.{AtomicMoveNotSupportedException, CopyOption, Files, NoSuchFileException, Path, Paths}
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One on-disk format of a stream log segment. A segment file is named
  * `<first>__<last>.<ext>`: the id range doubles as position, so readers
  * prune by name, and the extension picks the format. Each format owns its
  * name, its read, its id-only scan, its entry count and its write. This
  * file is the only place a format is decided from a name,
  * [[SegmentFormat.publish]] is the one rename that makes a segment (or the
  * `.highwater` marker) visible, and [[SegmentFormat.rewrite]] the one way
  * maintenance replaces segments.
  */
sealed abstract class SegmentFormat(val ext: String) {
  final def name(first: LogId, last: LogId): String = s"${first}__$last.$ext"

  /** Every entry, in file (= id) order. */
  protected def decode(seg: Segment): Seq[LogEntry]
  /** The ids alone, as cheaply as the format allows. */
  protected def decodeIds(seg: Segment): Seq[LogId] = decode(seg).map(_.id)
  /** The entry count, as cheaply as the format allows. */
  protected def decodeCount(seg: Segment): Long = decode(seg).size.toLong
  /** Write `entries` (id-ordered, non-empty) to `file`. */
  protected def encode(file: Path, entries: Seq[LogEntry]): Unit

  final def read(seg: Segment): Seq[LogEntry] = SegmentFormat.guarded(seg)(decode(seg))
  final def ids(seg: Segment): Seq[LogId] = SegmentFormat.guarded(seg)(decodeIds(seg))
  final def count(seg: Segment): Long = SegmentFormat.guarded(seg)(decodeCount(seg))

  /** Encode `entries` into a hidden tmp file next to their segment name in
    * `dir`, not yet visible. A `unique` tmp name keeps concurrent task
    * attempts that write the same segment apart.
    */
  final def stage(dir: Path, entries: Seq[LogEntry], unique: Boolean = false): SegmentFormat.Staged = {
    require(entries.nonEmpty, "empty segment")
    Files.createDirectories(dir)
    val target = dir.resolve(name(entries.head.id, entries.last.id))
    val tag = if (unique) s".${java.util.UUID.randomUUID()}" else ""
    val tmp = dir.resolve(s".${target.getFileName}$tag.tmp")
    encode(tmp, entries)
    SegmentFormat.Staged(tmp, target)
  }

  /** [[stage]] then [[SegmentFormat.publish]]; returns the segment's path. */
  final def write(dir: Path, entries: Seq[LogEntry], replace: Boolean,
      unique: Boolean = false): Path =
    stage(dir, entries, unique).publish(replace)
}

object SegmentFormat {

  /** JSONL, one [[LogStore.encodeLine]] object per line: the append tier.
    * The id is always the first field, so the id scan takes it as a
    * fixed-prefix substring with no JSON parse.
    */
  sealed abstract class JsonLines(gzip: Boolean)
      extends SegmentFormat(if (gzip) "jsonl.gz" else "jsonl") {
    protected def decode(seg: Segment): Seq[LogEntry] =
      lines(seg.path, gzip).map(LogStore.decodeLine)
    override protected def decodeIds(seg: Segment): Seq[LogId] =
      lines(seg.path, gzip).map { line =>
        if (line.startsWith(LogStore.IdPrefix)) LogId.parse(line.substring(
          LogStore.IdPrefix.length, line.indexOf('"', LogStore.IdPrefix.length)))
        else LogStore.decodeLine(line).id
      }
    protected def encode(file: Path, entries: Seq[LogEntry]): Unit = {
      val bytes = entries.map(LogStore.encodeLine).mkString("", "\n", "\n").getBytes(UTF_8)
      if (gzip) {
        val out = new java.util.zip.GZIPOutputStream(Files.newOutputStream(file))
        try out.write(bytes) finally out.close()
      } else Files.write(file, bytes)
    }
  }
  case object Jsonl extends JsonLines(gzip = false)
  /** Compacted JSONL, gzip'd ([[LogStore.compact]] with `gzip`). */
  case object JsonlGz extends JsonLines(gzip = true)

  /** Values-only JSONL, one [[LogStore.encodeValuesLine]] payload per line:
    * what sink tasks stage before any id exists. Ids are implicit,
    * `(first.millis, first.seq + line)`, so the name alone gives the ids and
    * the count; a read re-validates that the name spans one millisecond and
    * exactly the file's line count (a mismatch is a corrupt publish).
    */
  case object Values extends SegmentFormat("vjsonl") {
    protected def decode(seg: Segment): Seq[LogEntry] = {
      require(seg.first.millis == seg.last.millis,
        s"vjsonl segment spans several milliseconds: ${seg.path}")
      val ls = lines(seg.path, gzip = false)
      require(ls.size.toLong == decodeCount(seg),
        s"vjsonl segment ${seg.path} declares ${decodeCount(seg)} entries " +
          s"but holds ${ls.size} lines")
      ls.iterator.zipWithIndex.map { case (l, i) =>
        LogEntry(LogId(seg.first.millis, seg.first.seq + i), LogStore.decodeValuesLine(l))
      }.toSeq
    }
    override protected def decodeIds(seg: Segment): Seq[LogId] =
      (seg.first.seq to seg.last.seq).map(LogId(seg.first.millis, _))
    override protected def decodeCount(seg: Segment): Long = seg.last.seq - seg.first.seq + 1
    protected def encode(file: Path, entries: Seq[LogEntry]): Unit = {
      val w = new StagedWriter(file)
      try entries.foreach(e => w.write(e.values)) finally w.close()
    }

    /** A values-only file written one payload at a time, before any id
      * exists: how a sink task stages its rows. [[LogWriter.publishStagedValues]]
      * later names it into a reserved id range.
      */
    final class StagedWriter(val file: Path) {
      private val out = Files.newBufferedWriter(file, UTF_8)
      private var n = 0L
      def write(values: Map[String, String]): Unit = {
        out.write(LogStore.encodeValuesLine(values))
        out.write('\n')
        n += 1
      }
      /** Payloads written so far. */
      def count: Long = n
      def close(): Unit = out.close()
    }
  }

  /** Columnar cold tier ([[ParquetSegments]] is the codec); the count comes
    * from the footer alone.
    */
  case object Parquet extends SegmentFormat("parquet") {
    protected def decode(seg: Segment): Seq[LogEntry] = ParquetSegments.read(seg.path)
    override protected def decodeCount(seg: Segment): Long = ParquetSegments.rowCount(seg.path)
    protected def encode(file: Path, entries: Seq[LogEntry]): Unit =
      ParquetSegments.write(file, entries)
  }

  private val byExt: Map[String, SegmentFormat] =
    Seq(Jsonl, JsonlGz, Values, Parquet).map(f => f.ext -> f).toMap

  private val FileName = "^(\\d+-\\d+)__(\\d+-\\d+)\\.(jsonl(?:\\.gz)?|parquet|vjsonl)$".r

  /** A segment file name, split; the ids stay text so that a fold that needs
    * only the last id parses only that.
    */
  final case class Named(name: String, first: String, last: String, format: SegmentFormat) {
    def at(path: String): Segment = Segment(path, LogId.parse(first), LogId.parse(last), format)
  }

  /** None for anything in a stream directory that is not a segment (tmp
    * files, markers, locks, staging).
    */
  def parseName(name: String): Option[Named] = name match {
    case FileName(a, b, ext) => Some(Named(name, a, b, byExt(ext)))
    case _ => None
  }

  /** The segment at `path`, from its file name. */
  def at(path: String): Segment = parseName(Paths.get(path).getFileName.toString)
    .getOrElse(throw new IllegalArgumentException(s"not a segment file name: $path")).at(path)

  private def lines(path: String, gzip: Boolean): Seq[String] = {
    val all =
      if (gzip) {
        val in = new java.io.BufferedReader(new java.io.InputStreamReader(
          new java.util.zip.GZIPInputStream(Files.newInputStream(Paths.get(path))), UTF_8))
        try Iterator.continually(in.readLine()).takeWhile(_ != null).toList
        finally in.close()
      } else Files.readAllLines(Paths.get(path), UTF_8).asScala.toSeq
    all.filter(_.nonEmpty)
  }

  /** Every read of a segment goes through here. A file that vanished (a
    * compaction or trim deleted it after the listing) is rethrown as it is,
    * for readers that re-list and retry; any other failure is a corrupt
    * segment and fails as an IllegalStateException naming stream and path.
    */
  private def guarded[T](seg: Segment)(f: => T): T =
    try f catch {
      case e @ (_: NoSuchFileException | _: FileNotFoundException) => throw e
      case NonFatal(e) => throw new IllegalStateException(
        s"corrupt segment in stream '${Paths.get(seg.path).getParent.getFileName}': " +
          s"${seg.path} ($e)", e)
    }

  /** A segment written to its hidden tmp file, not yet visible. */
  final case class Staged(tmp: Path, target: Path) {
    def publish(replace: Boolean): Path = SegmentFormat.publish(tmp, target, replace)
  }

  /** Make a fully written hidden file visible as `target` in one atomic
    * rename: every segment and the `.highwater` marker appear this way, so
    * no reader ever sees a partial file. Unless `replace`, an existing
    * target fails loudly: on a live append or a staged publish a name
    * collision means two writers assigned one id range. Rewrites, retried
    * bulk tasks (data-derived, identical content) and the marker replace.
    * The segments of one append must be published in ascending id order: a
    * reader that saw one trusts that every earlier one is present.
    */
  def publish(tmp: Path, target: Path, replace: Boolean): Path = {
    if (!replace && Files.exists(target))
      throw new IllegalStateException(
        s"segment ${target.getFileName} already exists for stream " +
          s"'${target.getParent.getFileName}' — duplicate id assignment (two " +
          "writers?); refusing to replace it")
    def move(opts: CopyOption*): Path = Files.move(tmp, target, opts: _*)
    try move(ATOMIC_MOVE)
    catch { case _: AtomicMoveNotSupportedException =>
      move((if (replace) Seq(REPLACE_EXISTING) else Nil): _*)
    }
  }

  /** Replace the segments `olds` (non-empty, one stream) by one segment
    * holding `entries` in `format`, or by nothing when `entries` is empty.
    * The new segment is published before any old file is deleted, and
    * readers dedup the momentary overlap by id; an old segment whose name
    * the new one reuses stays as rewritten. Returns how many were replaced.
    */
  def rewrite(olds: Seq[Segment], entries: Seq[LogEntry], format: SegmentFormat): Int = {
    val dir = Paths.get(olds.head.path).getParent
    val kept = if (entries.isEmpty) None else Some(format.write(dir, entries, replace = true))
    olds.map(s => Paths.get(s.path)).filterNot(p => kept.exists(_.getFileName == p.getFileName))
      .foreach(Files.deleteIfExists)
    olds.size
  }
}
