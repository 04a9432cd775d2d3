package graft

import graft.log.{LogEntry, LogId, LogStore, LogWriter, SegmentFormat}
import graft.sources.GraftLogBulkDataWriter
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.types.{LongType, StringType, StructType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._

/** Golden on-disk bytes: one fixed entry list written through every segment
  * writer (live append, chunked append, gzip, the sink task's values-only
  * staged file and its publish, bulk task publish, and the trim/compaction
  * rewrites) must produce exactly these file names and SHA-256s. Existing logs and the checkpoints that
  * point into them depend on the names and the bytes not drifting. Parquet
  * embeds its writer's version, so it is pinned by names and decoded
  * entries only.
  */
class SegmentGoldenSpec extends AnyFunSuite {

  private val T0 = 1700000000000L

  private val values: Seq[Map[String, String]] = (1 to 7).map {
    case 5 => Map.empty[String, String]
    case i => Map("i" -> i.toString, "s" -> "q\"b\\s\nt\té/\u0001", "k" -> s"key${i % 2}")
  }

  private val entries: Seq[LogEntry] =
    values.zipWithIndex.map { case (v, i) => LogEntry(LogId(T0 + i / 3, i % 3L), v) }

  private def sha256(p: Path): String =
    java.security.MessageDigest.getInstance("SHA-256").digest(Files.readAllBytes(p))
      .map(b => f"${b & 0xff}%02x").mkString

  /** (file name, sha256) of every segment file of a stream, by name. */
  private def files(root: String, stream: String): Seq[(String, String)] = {
    val s = Files.list(LogStore.streamDir(root, stream))
    try s.iterator().asScala.filter(p => !p.getFileName.toString.startsWith("."))
      .filter(Files.isRegularFile(_)).map(p => p.getFileName.toString -> sha256(p))
      .toSeq.sortBy(_._1)
    finally s.close()
  }

  private def readAll(root: String, stream: String): Seq[LogEntry] =
    LogStore.readRange(root, stream, LogId.Zero, LogStore.maxId(root, stream))

  private def stage(root: String, stream: String, chunk: Seq[Map[String, String]]): (Path, Long) = {
    val staging = LogStore.streamDir(root, stream).resolve(".staging")
    Files.createDirectories(staging)
    val w = new SegmentFormat.Values.StagedWriter(
      staging.resolve(s"${java.util.UUID.randomUUID()}.vjsonl"))
    try chunk.foreach(w.write) finally w.close()
    (w.file, w.count)
  }

  // computed from the writers as they were before the segment-format module
  private val golden: Map[String, Seq[(String, String)]] = Map(
    "bulk" -> Seq(
      "1700000000000-0__1700000000001-0.jsonl" ->
        "2ef8e463abdd6c6304f8bc4222b4d18abb443efb8a36ad7e48542dc3d4d4a899",
      "1700000000001-1__1700000000002-0.jsonl" ->
        "43eea46216a272dfedd312a60f563b5620b5e94ec4e335d949839bbf984e2521"),
    "chunked" -> Seq(
      "1700000000000-0__1700000000000-2.jsonl" ->
        "dfa45fca7a89e7851130d73f43fe6762a656ed5df1e33367c3f176ccd1f8ac04",
      "1700000000000-3__1700000000000-5.jsonl" ->
        "a568ad084485d93238d2b78696a489cdef1c322fa2d31af46d34807b4fb79864",
      "1700000000000-6__1700000000000-6.jsonl" ->
        "3c13ea2140d00079465f4bedffb98eff3d4addbd61a5dcdc83add88803275b29"),
    "chunked-compacted" -> Seq(
      "1700000000000-0__1700000000000-6.jsonl.gz" ->
        "82813150779550990ae01be434ed98f80c289158843d3680ab100dcdf1dfb874"),
    "gz" -> Seq(
      "1700000000000-0__1700000000002-0.jsonl.gz" ->
        "47b1a91114d90eef5f854995dc123baae1ddfbc357d170259f134082483c6958"),
    "gz-trimmed" -> Seq(
      "1700000000001-0__1700000000002-0.jsonl.gz" ->
        "bb00206663320f723db82274add67c7b692cea456ec9f9d706bd78cd0c55dffd"),
    "jsonl" -> Seq(
      "1700000000000-0__1700000000002-0.jsonl" ->
        "6f99d726f8d55b7e2ff5746416a18e44522573c7fd1a23399fd9ce51e79d7a52"),
    "keyed" -> Seq(
      "1700000000000-4__1700000000000-6.jsonl" ->
        "d14e25ef20d1dbc23a15505fedf64bc31e30414c2adfe7b9b8dd750bed4d14aa"),
    "vjsonl" -> Seq(
      "1700000000500-0__1700000000500-2.vjsonl" ->
        "8a2a4b8212d85034259bc793d794835c9941b7e4d92c6b1138adeddd888c3581",
      "1700000000500-3__1700000000500-6.vjsonl" ->
        "fdebe0195338391352a37ee15575453b7ecb2752d5a7353b73debf35704a8308"),
    "vjsonl-trimmed" -> Seq(
      "1700000000500-2__1700000000500-2.vjsonl" ->
        "dd7178ef47cd4ef30b741d1f50d2ff546c9dbc486d41c1102f2af0a58083fb6f",
      "1700000000500-3__1700000000500-6.vjsonl" ->
        "fdebe0195338391352a37ee15575453b7ecb2752d5a7353b73debf35704a8308"))

  test("every segment writer produces the golden names and bytes") {
    val root = TestSpark.tmpDir("golden")
    val got = Map.newBuilder[String, Seq[(String, String)]]

    LogStore.ensureStream(root, "jsonl")
    LogStore.writeSegment(root, "jsonl", entries)
    got += "jsonl" -> files(root, "jsonl")

    LogStore.ensureStream(root, "gz")
    LogStore.writeSegment(root, "gz", entries, gzip = true)
    got += "gz" -> files(root, "gz")

    // chunked append (parallel encode, in-order publish)
    val w = new LogWriter(root, "chunked", () => T0, maxSegmentEntries = 3)
    w.produceAll(values)
    got += "chunked" -> files(root, "chunked")

    // values-only staged publish into a reserved range
    val wv = new LogWriter(root, "vjsonl", () => T0 + 500)
    wv.publishStagedValues(Seq(stage(root, "vjsonl", values.take(3)),
      stage(root, "vjsonl", values.drop(3))))
    got += "vjsonl" -> files(root, "vjsonl")

    // bulk task publish (the sink's tsColumn write)
    val schema = new StructType().add("ts", LongType).add("i", StringType).add("k", StringType)
    val bw = new GraftLogBulkDataWriter(root, "bulk", schema, "ts", segmentEntries = 4)
    LogStore.ensureStream(root, "bulk")
    values.zipWithIndex.foreach { case (v, i) =>
      bw.write(InternalRow(T0 + i / 3, UTF8String.fromString(v.getOrElse("i", "")),
        UTF8String.fromString(v.getOrElse("k", ""))))
    }
    bw.commit()
    got += "bulk" -> files(root, "bulk")

    // rewrites: a trim straddler keeps its format; compaction folds into one
    LogStore.trim(root, "gz", entries(2).id)
    got += "gz-trimmed" -> files(root, "gz")
    LogStore.trim(root, "vjsonl", LogId(T0 + 500, 1L))
    got += "vjsonl-trimmed" -> files(root, "vjsonl")
    LogStore.compact(root, "chunked", LogStore.maxId(root, "chunked"), gzip = true)
    got += "chunked-compacted" -> files(root, "chunked")
    new LogWriter(root, "keyed", () => T0).produceAll(values)
    LogStore.compactKeyed(root, "keyed", "k", LogStore.maxId(root, "keyed"))
    got += "keyed" -> files(root, "keyed")

    val result = got.result()
    assert(result.keySet == golden.keySet)
    golden.foreach { case (k, want) => assert(result(k) == want, s"stream $k drifted") }
  }

  test("a parquet rewrite keeps the golden names and decodes to the same entries") {
    val root = TestSpark.tmpDir("golden")
    LogStore.ensureStream(root, "p")
    LogStore.writeSegment(root, "p", entries.take(3))
    LogStore.writeSegment(root, "p", entries.drop(3))
    assert(LogStore.compactToParquet(root, "p", LogStore.maxId(root, "p")) == 2)
    assert(files(root, "p").map(_._1) == Seq("1700000000000-0__1700000000002-0.parquet"))
    assert(readAll(root, "p") == entries)
    assert(LogStore.trim(root, "p", entries(3).id) == 4L)
    assert(files(root, "p").map(_._1) == Seq("1700000000001-1__1700000000002-0.parquet"))
    assert(readAll(root, "p") == entries.drop(4))
  }
}
