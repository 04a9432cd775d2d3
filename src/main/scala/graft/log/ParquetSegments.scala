package graft.log

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{Path => HPath}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.example.{ExampleParquetWriter, GroupReadSupport, GroupWriteSupport}
import org.apache.parquet.hadoop.metadata.CompressionCodecName
import org.apache.parquet.hadoop.{ParquetFileWriter, ParquetReader}
import org.apache.parquet.io.LocalOutputFile
import org.apache.parquet.schema.{MessageType, MessageTypeParser}

/** Columnar (parquet) segment codec for COLD log data. Hot segments stay
  * JSONL (append-cheap, ≙ XADD); compaction can rewrite cold ranges to
  * parquet, where the schemaless payload maps land as a parquet MAP column —
  * keys/values dictionary-encode (payload keys repeat heavily across a
  * stream), ids carry min/max column statistics, and the bytes shrink
  * several-fold versus gzip'd JSONL without losing random access.
  *
  * Readers are format-blind: [[SegmentFormat]] decides a segment's format
  * from its name (`SegmentFormat.Parquet` wraps this codec), and segment
  * names keep the same `<first>__<last>` id-range contract, so range pruning, compaction-safe dedup and offset bookkeeping
  * are untouched (SURVEY.md §1.1: the id doubles as position).
  */
object ParquetSegments {

  // `values` is OPTIONAL and omitted entirely for an empty payload map:
  // parquet-mr's example writer rejects a started group with zero fields
  // (PARQUET-278), and produce(Map.empty) is legal in the JSONL tier.
  private val Schema: MessageType = MessageTypeParser.parseMessageType(
    """message graft_entry {
      |  required binary id (STRING);
      |  optional group values (MAP) {
      |    repeated group key_value {
      |      required binary key (STRING);
      |      required binary value (STRING);
      |    }
      |  }
      |}""".stripMargin)

  /** Write one parquet segment holding `entries` (id-ordered). */
  def write(path: java.nio.file.Path, entries: Seq[LogEntry]): Unit = {
    val conf = new Configuration(false)
    GroupWriteSupport.setSchema(Schema, conf)
    val factory = new SimpleGroupFactory(Schema)
    // parquet's own local file, not Hadoop's LocalFileSystem: no `.crc`
    // sidecar (which would follow the hidden tmp name and be orphaned by the
    // rename that publishes the segment) and no chmod process per file
    val writer = ExampleParquetWriter.builder(new LocalOutputFile(path))
      .withConf(conf)
      .withType(Schema)
      .withCompressionCodec(CompressionCodecName.SNAPPY)
      .withWriteMode(ParquetFileWriter.Mode.OVERWRITE)
      .withDictionaryEncoding(true)
      .build()
    try entries.foreach { e =>
      val g = factory.newGroup()
      g.add("id", e.id.toString)
      if (e.values.nonEmpty) {
        val values = g.addGroup("values")
        e.values.foreach { case (k, v) =>
          val kv = values.addGroup("key_value")
          kv.add("key", k)
          kv.add("value", v)
        }
      }
      writer.write(g)
    } finally writer.close()
  }

  /** Read a parquet segment back into entries (file order = id order). */
  def read(path: String): Seq[LogEntry] = {
    val reader = ParquetReader
      .builder(new GroupReadSupport(), new HPath(java.nio.file.Paths.get(path).toUri))
      .withConf(new Configuration(false))
      .build()
    val out = scala.collection.mutable.ArrayBuffer.empty[LogEntry]
    try {
      var g: Group = reader.read()
      while (g != null) {
        val id = LogId.parse(g.getString("id", 0))
        val m = Map.newBuilder[String, String]
        if (g.getFieldRepetitionCount("values") > 0) {
          val values = g.getGroup("values", 0)
          val n = values.getFieldRepetitionCount("key_value")
          var i = 0
          while (i < n) {
            val kv = values.getGroup("key_value", i)
            m += kv.getString("key", 0) -> kv.getString("value", 0)
            i += 1
          }
        }
        out += LogEntry(id, m.result())
        g = reader.read()
      }
    } finally reader.close()
    out.toSeq
  }

  /** Row count from the footer metadata alone — no row-group decode. */
  def rowCount(path: String): Long = {
    val in = org.apache.parquet.hadoop.util.HadoopInputFile
      .fromPath(new HPath(java.nio.file.Paths.get(path).toUri), new Configuration(false))
    val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
    try reader.getRecordCount finally reader.close()
  }
}
