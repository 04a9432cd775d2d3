package graft.sources

import graft.log.{LogEntry, LogId, LogStore, LogWriter}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.catalyst.util.ArrayBasedMapData
import org.apache.spark.sql.connector.catalog.{SupportsRead, SupportsWrite, Table, TableCapability, TableProvider}
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.connector.read._
import org.apache.spark.sql.connector.read.streaming.{CompositeReadLimit, MicroBatchStream, Offset, ReadAllAvailable, ReadLimit, ReadMaxRows, ReadMinRows, SupportsAdmissionControl, SupportsTriggerAvailableNow}
import org.apache.spark.sql.connector.write._
import org.apache.spark.sql.connector.write.streaming.{StreamingDataWriterFactory, StreamingWrite}
import org.apache.spark.sql.sources.DataSourceRegister
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.CaseInsensitiveStringMap
import org.apache.spark.unsafe.types.UTF8String

import java.util
import scala.jdk.CollectionConverters._

/** DataSource V2 for the graft append-only stream log (`format("graftlog")`).
  *
  * Read side: batch scan + `MicroBatchStream` with admission control —
  * the Spark-native rebuild of the reference's consumer loop:
  *  - `startingOffsets` ∈ {earliest, latest, "<millis>-<seq>"} ≙ the
  *    start-position decision table (:start_of_stream/"0", :end_of_stream/"$",
  *    explicit id) at /root/reference/lib/redix/stream/consumer.ex:79-91;
  *    "last known message" ≙ offsets recovered from checkpointLocation.
  *  - `maxEntriesPerTrigger` ≙ bounding one XREAD batch
  *    (/root/reference/lib/redix/stream/consumer.ex:142-157 has no bound —
  *    admission control is the scale-safe improvement).
  *  - tombstone entries (`{"": ""}`) are dropped in the reader, as the
  *    reference skips them before the handler
  *    (/root/reference/lib/redix/stream/consumer.ex:286, :295).
  *
  * Write side: batch + streaming append ≙ `produce` (XADD,
  * /root/reference/lib/stream.ex:25-38). Executors encode and stage full
  * values-only segment files on the shared filesystem; the driver's commit
  * holds the per-stream lock only to reserve a dense monotonic
  * `"<millis>-<seq>"` id range and RENAME the staged files into it — the
  * single-sequencer id rule is preserved (a stream is one ordered shard, as
  * in Redis; scale-out = many streams) while no payload row ever passes
  * through the driver. Batch retry after a commit failure re-appends with
  * fresh ids — at-least-once, the reference's contract.
  */
class GraftLogSource extends TableProvider with DataSourceRegister {
  override def shortName(): String = "graftlog"

  override def inferSchema(options: CaseInsensitiveStringMap): StructType =
    GraftLogSource.schemaFor(options)

  override def getTable(schema: StructType, partitioning: Array[Transform],
      properties: util.Map[String, String]): Table =
    new GraftLogTable(new CaseInsensitiveStringMap(properties))
}

object GraftLogSource {
  val Schema: StructType = StructType(Seq(
    StructField("stream", StringType, nullable = false),
    StructField("id", StringType, nullable = false),
    StructField("ts", TimestampType, nullable = false),
    StructField("seq", LongType, nullable = false),
    StructField("values", MapType(StringType, StringType, valueContainsNull = false))))

  def root(o: CaseInsensitiveStringMap): String = {
    val r = o.get("path")
    require(r != null, "graftlog requires option 'path' (log root dir)")
    r
  }

  def stream(o: CaseInsensitiveStringMap): String = {
    val s = o.get("stream")
    require(s != null, "graftlog requires option 'stream'")
    s
  }

  /** Read side accepts a comma-separated stream list (≙ Kafka's multi-topic
    * subscribe; the reference's consumer reads one stream —
    * /root/reference/lib/redix/stream/consumer.ex:7 — this is the engine
    * extension for fan-in pipelines). Writes require exactly one stream.
    */
  def streams(o: CaseInsensitiveStringMap): Seq[String] =
    // distinct: "a,a" must not count as multi-stream — the offset map is
    // keyed by stream name and would collapse to one entry (emitting the
    // flat legacy offset format a multi-stream restart then rejects), and
    // the per-stream maxRows quota would be divided by the wrong count.
    stream(o).split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq

  /** Sharding of one LOGICAL stream over N physical streams
    * (`<name>.s<k>`): the id contract (`"<millis>-<seq>"`, one dense
    * sequence — /root/reference/lib/stream.ex:21-23) holds PER SHARD, so
    * each shard keeps its own sequencer and writer lock and N concurrent
    * commits proceed without serializing on one stream — the write-scale
    * answer to the one-commit-point-per-stream ceiling. Reads fan the
    * shards back in through the existing multi-stream machinery (per-shard
    * offsets, per-shard in-order delivery; global order across shards is
    * intentionally not promised, exactly like partitioned Kafka topics).
    */
  def shards(o: CaseInsensitiveStringMap): Int = {
    val n = o.getInt("shards", 1)
    require(n >= 1 && n <= 4096, s"shards must be in [1, 4096], got $n")
    n
  }

  def shardName(stream: String, k: Int): String = s"$stream.s$k"

  def shardNames(stream: String, n: Int): Seq[String] =
    (0 until n).map(shardName(stream, _))

  /** The physical streams a READ scans: the declared list, expanded to
    * shard names when `shards` is set. Writes do their own fan-out.
    */
  def readStreams(o: CaseInsensitiveStringMap): Seq[String] = {
    val base = streams(o)
    val n = shards(o)
    if (n <= 1) base else base.flatMap(st => shardNames(st, n))
  }

  /** Deterministic key→shard routing (MurmurHash3 over the to_string-coerced
    * key): stable across JVMs, runs, and writers — a key's entries always
    * land on one shard, preserving per-key order.
    */
  def shardOf(key: String, n: Int): Int =
    java.lang.Math.floorMod(scala.util.hashing.MurmurHash3.stringHash(key, 0x9747b28c), n)

  private val ReservedColumns = Set("stream", "id", "ts", "seq", "values")

  /** Schema-on-read projection (`valueSchema` option, a DDL string like
    * `"n INT, name STRING"`): the payload stays schemaless on the wire —
    * the reference's to_string contract, /root/reference/lib/stream.ex:15-16
    * — but a consumer that KNOWS its payload shape reads typed, pruned
    * columns instead of paying MapType access and per-column string casts.
    * Only types `to_string` round-trips are legal; anything else must stay
    * STRING and cast downstream.
    */
  def valueSchema(o: CaseInsensitiveStringMap): Option[StructType] =
    Option(o.get("valueSchema")).map { ddl =>
      val st = StructType.fromDDL(ddl)
      st.fields.foreach { f =>
        require(!ReservedColumns.contains(f.name),
          s"valueSchema field '${f.name}' collides with a reserved graftlog column")
        f.dataType match {
          case StringType | IntegerType | LongType | ShortType | ByteType |
               DoubleType | FloatType | BooleanType => ()
          case dt => throw new IllegalArgumentException(
            s"valueSchema field '${f.name}': type ${dt.simpleString} is not " +
              "to_string-invertible; declare STRING and cast downstream")
        }
      }
      st
    }

  /** The table's read schema: metadata columns plus either the schemaless
    * payload map (default) or the declared typed projection (`valueSchema`).
    * Typed fields are always nullable — a schemaless producer may omit keys.
    */
  def schemaFor(o: CaseInsensitiveStringMap): StructType = valueSchema(o) match {
    case None => Schema
    case Some(vs) => StructType(
      Schema.fields.filterNot(_.name == "values") ++
        vs.fields.map(_.copy(nullable = true)))
  }
}

final class GraftLogTable(options: CaseInsensitiveStringMap)
    extends Table with SupportsRead with SupportsWrite {
  private val root = GraftLogSource.root(options)
  private val stream = GraftLogSource.stream(options)

  override def name(): String = s"graftlog:$root/$stream"

  private def singleWriteStream: String = {
    val ss = GraftLogSource.streams(options)
    require(ss.size == 1,
      s"graftlog writes target exactly one stream, got: ${ss.mkString(",")}")
    ss.head
  }
  override def schema(): StructType = GraftLogSource.schemaFor(options)
  override def capabilities(): util.Set[TableCapability] =
    util.EnumSet.of(TableCapability.BATCH_READ, TableCapability.MICRO_BATCH_READ,
      TableCapability.BATCH_WRITE, TableCapability.STREAMING_WRITE,
      // writes take arbitrary payload columns (stringified into the map)
      TableCapability.ACCEPT_ANY_SCHEMA)

  override def newScanBuilder(o: CaseInsensitiveStringMap): ScanBuilder =
    new GraftLogScanBuilder(root, options)

  override def newWriteBuilder(info: LogicalWriteInfo): WriteBuilder =
    new GraftLogWriteBuilder(root, singleWriteStream, info.schema(), info.queryId(),
      Option(options.get("tsColumn")), options.getInt("maxSegmentEntries", 10000),
      options.getLong("stagingTtlMs", GraftLogWritePath.DefaultStagingTtlMs),
      GraftLogSource.shards(options), Option(options.get("shardKey")))
}

/** Scan builder with filter pushdown and column pruning — the file-level
  * pruning a 100 TB log read lives or dies by. Segment file names carry
  * their id range, and `ts` is derived from the id's millis prefix, so a
  * `ts` (or `stream`) predicate prunes whole segments at PLANNING time:
  * a one-day slice of a year-long log plans ~1/365 of the files instead of
  * filtering every decoded row. All filters are also returned as residuals
  * (Spark re-applies them exactly); the pushdown only narrows the scan,
  * it never owns final predicate semantics. Column pruning skips payload
  * map materialization when `values` isn't selected — a count or an
  * id/ts-only scan never decodes payloads into rows.
  */
final class GraftLogScanBuilder(root: String, options: CaseInsensitiveStringMap)
    extends ScanBuilder with SupportsPushDownFilters with SupportsPushDownRequiredColumns {
  import org.apache.spark.sql.sources._

  private var tsLowerMillis: Option[Long] = None // inclusive, conservative
  private var tsUpperMillis: Option[Long] = None // inclusive, conservative
  private var streamKeep: Option[Set[String]] = None
  private var pushed: Array[Filter] = Array.empty
  private var required: StructType = GraftLogSource.schemaFor(options)

  private def toMillisFloor(v: Any): Option[Long] = v match {
    case t: java.sql.Timestamp => Some(t.getTime)
    case i: java.time.Instant => Some(i.toEpochMilli)
    case _ => None
  }

  // Entries sit at exact milliseconds (ts = id.millis), so a floor()ed
  // bound on either side only ever widens the range — never drops a row
  // that satisfies the real predicate (which runs again as a residual).
  private def tryPrune(f: Filter): Boolean = f match {
    case EqualTo("stream", v: String) =>
      streamKeep = Some(streamKeep.getOrElse(Set(v)).intersect(Set(v))); true
    case In("stream", vs) if vs.forall(_.isInstanceOf[String]) =>
      val set = vs.map(_.asInstanceOf[String]).toSet
      streamKeep = Some(streamKeep.fold(set)(_ intersect set)); true
    case GreaterThan("ts", v) => toMillisFloor(v).exists { m =>
      tsLowerMillis = Some(tsLowerMillis.fold(m)(math.max(_, m))); true }
    case GreaterThanOrEqual("ts", v) => toMillisFloor(v).exists { m =>
      tsLowerMillis = Some(tsLowerMillis.fold(m)(math.max(_, m))); true }
    case LessThan("ts", v) => toMillisFloor(v).exists { m =>
      tsUpperMillis = Some(tsUpperMillis.fold(m)(math.min(_, m))); true }
    case LessThanOrEqual("ts", v) => toMillisFloor(v).exists { m =>
      tsUpperMillis = Some(tsUpperMillis.fold(m)(math.min(_, m))); true }
    case EqualTo("ts", v) => toMillisFloor(v).exists { m =>
      tsLowerMillis = Some(tsLowerMillis.fold(m)(math.max(_, m)))
      tsUpperMillis = Some(tsUpperMillis.fold(m)(math.min(_, m))); true }
    case EqualTo("id", v: String) => scala.util.Try(LogId.parse(v)).toOption.exists { id =>
      tsLowerMillis = Some(tsLowerMillis.fold(id.millis)(math.max(_, id.millis)))
      tsUpperMillis = Some(tsUpperMillis.fold(id.millis)(math.min(_, id.millis))); true }
    case _ => false
  }

  override def pushFilters(filters: Array[Filter]): Array[Filter] = {
    pushed = filters.filter(tryPrune)
    filters // everything is residual: Spark re-applies exact semantics
  }
  override def pushedFilters(): Array[Filter] = pushed
  override def pruneColumns(requiredSchema: StructType): Unit =
    required = requiredSchema

  override def build(): Scan = new GraftLogScan(root, options,
    tsLowerMillis, tsUpperMillis, streamKeep, required, pushed.map(_.toString))
}

final class GraftLogScan(root: String, options: CaseInsensitiveStringMap,
    tsLowerMillis: Option[Long], tsUpperMillis: Option[Long],
    streamKeep: Option[Set[String]], required: StructType,
    pushedDesc: Array[String])
    extends Scan {
  override def readSchema(): StructType = required
  override def description(): String = {
    val streamOpt = GraftLogSource.stream(options)
    val pruned = if (pushedDesc.isEmpty) "" else pushedDesc.mkString(", PushedFilters: [", ", ", "]")
    s"GraftLogScan($root/$streamOpt$pruned)"
  }

  override def toBatch: Batch = new Batch {
    override def planInputPartitions(): Array[InputPartition] = {
      val sts = GraftLogSource.readStreams(options)
        .filter(st => streamKeep.forall(_.contains(st)))
      sts.toArray.flatMap { st =>
        // exclusive start just below the lower-bound millisecond; inclusive
        // end at the last seq of the upper-bound millisecond — segment
        // planning prunes by file-name id range before any file is opened
        val start = tsLowerMillis.map(LogId.startBefore).getOrElse(LogId.Zero)
        val maxId = LogStore.maxId(root, st)
        val end = tsUpperMillis.map(m => LogId(m, Long.MaxValue)).filter(_ < maxId).getOrElse(maxId)
        GraftLogPartitioning.plan(root, st, start, end, minPartitions(options))
      }
    }
    override def createReaderFactory(): PartitionReaderFactory =
      new GraftLogReaderFactory(dropTombstones(options), required)
  }

  override def toMicroBatchStream(checkpointLocation: String): MicroBatchStream =
    // NOTE: Spark (4.1) never calls pushFilters for streaming scans —
    // V2ScanRelationPushDown only matches batch relations — so a filter on
    // a streaming read cannot reach the source. Replay-from-T on a stream
    // is the explicit `startingTimestamp` option instead.
    new GraftLogMicroBatchStream(root, GraftLogSource.stream(options), options, required)

  private def minPartitions(o: CaseInsensitiveStringMap): Int =
    o.getInt("minPartitions", 16)
  private def dropTombstones(o: CaseInsensitiveStringMap): Boolean =
    o.getBoolean("dropTombstones", true)
}

/** Offset = last-consumed id per stream (exclusive start of the next batch).
  * Single-stream queries keep the flat `{"millis":M,"seq":S}` wire format
  * (checkpoint-compatible with earlier versions); multi-stream queries use
  * `{"streams":{"<name>":{"millis":M,"seq":S},...}}` with names sorted.
  */
final case class GraftLogOffset(ids: Map[String, LogId]) extends Offset {
  def id(stream: String): LogId = ids.getOrElse(stream, LogId.Zero)
  override def json(): String =
    if (ids.size == 1) {
      val id = ids.head._2
      s"""{"millis":${id.millis},"seq":${id.seq}}"""
    } else {
      ids.toSeq.sortBy(_._1).map { case (st, id) =>
        s""""${st}":{"millis":${id.millis},"seq":${id.seq}}"""
      }.mkString("""{"streams":{""", ",", "}}")
    }
}

object GraftLogOffset {
  def single(stream: String, id: LogId): GraftLogOffset =
    GraftLogOffset(Map(stream -> id))

  private val P = """\{"millis":(\d+),"seq":(\d+)\}""".r

  /** `defaultStream` names the stream for the flat single-stream format,
    * which does not carry the name itself.
    */
  def parse(json: String, defaultStream: String): GraftLogOffset = json.trim match {
    case P(m, s) => single(defaultStream, LogId(m.toLong, s.toLong))
    case other if other.startsWith("""{"streams":""") =>
      val node = new com.fasterxml.jackson.databind.ObjectMapper().readTree(other)
      val streams = node.get("streams")
      val ids = streams.properties().asScala.map { e =>
        e.getKey -> LogId(e.getValue.get("millis").asLong(), e.getValue.get("seq").asLong())
      }.toMap
      GraftLogOffset(ids)
    case other => throw new IllegalArgumentException(s"bad graftlog offset: $other")
  }
}

final class GraftLogMicroBatchStream(root: String, stream: String,
    options: CaseInsensitiveStringMap,
    required: StructType = GraftLogSource.Schema)
    extends MicroBatchStream with SupportsAdmissionControl
    with SupportsTriggerAvailableNow {

  private val streams: Seq[String] = GraftLogSource.readStreams(options)

  private val maxPerTrigger: Option[Long] =
    Option(options.get("maxEntriesPerTrigger")).map { s =>
      val v = s.toLong
      require(v >= 1, s"maxEntriesPerTrigger must be >= 1, got $v")
      v
    }

  // ≙ the reference's blocking poll: XREAD BLOCK waits for data up to a
  // timeout before returning whatever is there
  // (/root/reference/lib/redix/stream/consumer.ex:252-281). A micro-batch
  // only fires once minEntriesPerTrigger entries are available OR
  // maxTriggerDelayMs has passed since the last fired batch; the delay
  // default mirrors the reference's @default_timeout 2000 ms
  // (/root/reference/lib/redix/stream/consumer.ex:20).
  private val minPerTrigger: Option[Long] =
    Option(options.get("minEntriesPerTrigger")).map { s =>
      val v = s.toLong
      require(v >= 1, s"minEntriesPerTrigger must be >= 1, got $v")
      v
    }
  private val maxTriggerDelayMs: Long = {
    val v = Option(options.get("maxTriggerDelayMs")).map(_.toLong).getOrElse(2000L)
    require(v >= 0, s"maxTriggerDelayMs must be >= 0, got $v")
    v
  }
  @volatile private var lastTriggerMillis: Long = 0L

  // Trigger.AvailableNow: freeze the high-water mark at query start so the
  // drain has a fixed end even while producers keep appending; batches still
  // respect maxEntriesPerTrigger (≙ the reference's BLOCK-until-empty
  // consumption with a bounded lifetime, in bounded bites).
  @volatile private var availableNowCap: Option[Map[String, LogId]] = None
  override def prepareForTriggerAvailableNow(): Unit =
    availableNowCap = Some(streams.map(st => st -> LogStore.maxId(root, st)).toMap)

  private def initialIdFor(st: String): LogId = {
    val byTs = Option(options.get("startingTimestamp"))
    val byOff = Option(options.get("startingOffsets"))
    require(byTs.isEmpty || byOff.isEmpty,
      "set either startingOffsets or startingTimestamp, not both")
    byTs match {
      // ids are millis-prefixed (the Redis stream id model), so a
      // time-based start position is exact: begin just below the given
      // epoch millisecond — the first entry at or after it is included
      case Some(ts) => LogId.startBefore(ts.toLong)
      case None => byOff.getOrElse("latest") match {
        case "earliest" => LogId.Zero
        case "latest" => LogStore.maxId(root, st)
        case explicit => LogId.parse(explicit) // applies to every stream
      }
    }
  }

  override def initialOffset(): Offset =
    GraftLogOffset(streams.map(st => st -> initialIdFor(st)).toMap)

  override def getDefaultReadLimit: ReadLimit = (minPerTrigger, maxPerTrigger) match {
    case (Some(mn), Some(mx)) => ReadLimit.compositeLimit(
      Array(ReadLimit.minRows(mn, maxTriggerDelayMs), ReadLimit.maxRows(mx)))
    case (Some(mn), None) => ReadLimit.minRows(mn, maxTriggerDelayMs)
    case (None, Some(mx)) => ReadLimit.maxRows(mx)
    case _ => ReadLimit.allAvailable()
  }

  override def latestOffset(): Offset =
    throw new UnsupportedOperationException(
      "latestOffset(Offset, ReadLimit) should be called instead")

  // Per-stream live heads as the latest latestOffset read them, so that
  // reportLatestOffset in the same trigger need not list every stream again
  // (the Kafka source keeps latestPartitionOffsets for the same reason).
  private val liveHeads = new java.util.concurrent.ConcurrentHashMap[String, LogId]()

  private def cappedMax(st: String): LogId = {
    val liveMax = LogStore.maxId(root, st)
    liveHeads.put(st, liveMax)
    // under Trigger.AvailableNow, never read past the frozen cap
    availableNowCap.flatMap(_.get(st)).filter(_ < liveMax).getOrElse(liveMax)
  }

  override def latestOffset(start: Offset, limit: ReadLimit): Offset = {
    val startOff = start.asInstanceOf[GraftLogOffset]
    val parts = limit match {
      case c: CompositeReadLimit => c.getReadLimits.toSeq
      case l => Seq(l)
    }
    // min-rows gate (skipped under AvailableNow — a bounded drain must not
    // stall waiting for data that will never arrive)
    val minGate = parts.collectFirst { case m: ReadMinRows => m }
      .filter(_ => availableNowCap.isEmpty)
    val maxOpt = parts.collectFirst { case r: ReadMaxRows => r }
    val clampInt = (v: Long) => math.min(math.max(v, 1L), (Int.MaxValue - 1).toLong)
    if (minGate.isEmpty && maxOpt.isEmpty)
      return GraftLogOffset(streams.map(st => st -> cappedMax(st)).toMap)
    // one ids-only pass per stream serves BOTH decisions: the availability
    // count for the min gate and the quota cut for the max bound (a gate
    // that then re-fetched for the quota would double the driver's
    // per-trigger segment I/O). The per-stream fetch is bounded by the
    // larger of the two needs, clamped to Int range.
    val quota = maxOpt.map(r =>
      math.max(1L, clampInt(r.maxRows()) / streams.size).toInt)
    val minNeed = minGate.map(m => clampInt(m.minRows()).toInt).getOrElse(1)
    val fetchLimit = clampInt(math.max(
      quota.map(_.toLong + 1L).getOrElse(1L), minNeed.toLong)).toInt
    val cuts: Seq[(String, Seq[LogId], LogId)] = streams.map { st =>
      val max = cappedMax(st)
      val ids = LogStore.idsAfterLimited(root, st, startOff.id(st), fetchLimit)
      (st, ids.filter(_ <= max), max)
    }
    val gated = minGate.exists { mn =>
      val now = System.currentTimeMillis()
      if (lastTriggerMillis == 0L) lastTriggerMillis = now
      if (now - lastTriggerMillis >= mn.maxTriggerDelayMs()) {
        // poll window elapsed: fire whatever is there and re-arm the timer
        // — without the re-arm, any idle gap longer than the window leaves
        // the gate permanently open and the next trickle fires an
        // undersized batch immediately (the Kafka source re-arms too)
        lastTriggerMillis = now
        false
      } else cuts.iterator.map(_._2.size.toLong).sum < mn.minRows()
    }
    val end =
      if (gated) startOff
      else GraftLogOffset(cuts.map { case (st, cut, max) =>
        st -> (quota match {
          case Some(q) if cut.size > q => cut(q - 1)
          case _ => max
        })
      }.toMap)
    if (end.ids != startOff.ids) lastTriggerMillis = System.currentTimeMillis()
    end
  }

  /** The live heads this trigger's latestOffset already read; a stream it
    * has not read yet (no latestOffset call so far) is listed here.
    */
  override def reportLatestOffset(): Offset =
    GraftLogOffset(streams.map(st =>
      st -> Option(liveHeads.get(st)).getOrElse(LogStore.maxId(root, st))).toMap)

  override def planInputPartitions(start: Offset, end: Offset): Array[InputPartition] = {
    val s0 = start.asInstanceOf[GraftLogOffset]
    val s1 = end.asInstanceOf[GraftLogOffset]
    streams.toArray.flatMap { st =>
      GraftLogPartitioning.plan(root, st, s0.id(st), s1.id(st),
        options.getInt("minPartitions", 16))
    }
  }

  override def createReaderFactory(): PartitionReaderFactory =
    new GraftLogReaderFactory(options.getBoolean("dropTombstones", true), required)

  override def deserializeOffset(json: String): Offset = {
    // the flat legacy format carries no stream name — attributing it to an
    // arbitrary member of a multi-stream list would resume the wrong stream
    // at the wrong position (silent loss); fail loudly instead
    if (streams.size > 1 && !json.trim.startsWith("""{"streams":"""))
      throw new IllegalArgumentException(
        s"checkpoint offset $json is single-stream but this query reads " +
          s"'${streams.mkString(",")}' — keep the original stream option or " +
          "start a fresh checkpoint")
    val off = GraftLogOffset.parse(json, streams.head)
    // streams added to the list since the checkpoint start at the
    // configured starting offset (the Kafka new-partition behavior)
    val missing = streams.filterNot(off.ids.contains)
    if (missing.isEmpty) off
    else GraftLogOffset(off.ids ++ missing.map(st => st -> initialIdFor(st)))
  }

  /** Batch fully processed — ≙ the group cursor advancing past acked work
    * (auto-XACK after :ok, /root/reference/lib/redix/stream/consumer.ex:199-201).
    * Offsets live in the checkpoint WAL; nothing to persist source-side.
    */
  override def commit(end: Offset): Unit = ()

  override def stop(): Unit = ()
}

/** One partition = a contiguous run of segments (id order preserved within
  * the partition, ≙ the reference's per-consumer in-order dispatch,
  * /root/reference/lib/redix/stream/consumer.ex:190-249).
  */
final case class GraftLogInputPartition(root: String, stream: String,
    paths: Seq[String], startExcl: String, endIncl: String,
    segFirst: String, segLast: String) extends InputPartition

object GraftLogPartitioning {
  def plan(root: String, stream: String, start: LogId, end: LogId,
      minPartitions: Int): Array[InputPartition] = {
    val segs = LogStore.segments(root, stream)
      .filter(s => s.last > start && s.first <= end)
    if (segs.isEmpty) Array.empty
    else {
      val groups = math.max(1, math.min(minPartitions, segs.size))
      val per = math.ceil(segs.size.toDouble / groups).toInt
      segs.grouped(per).map { g =>
        GraftLogInputPartition(root, stream, g.map(_.path),
          start.toString, end.toString,
          g.head.first.toString, g.last.last.toString): InputPartition
      }.toArray
    }
  }
}

final class GraftLogReaderFactory(dropTombstones: Boolean,
    required: StructType = GraftLogSource.Schema)
    extends PartitionReaderFactory {
  override def createReader(partition: InputPartition): PartitionReader[InternalRow] = {
    val p = partition.asInstanceOf[GraftLogInputPartition]
    val start = LogId.parse(p.startExcl)
    val end = LogId.parse(p.endIncl)
    val streamName = UTF8String.fromString(p.stream)
    // column pruning: one extractor per required field, bound once per
    // partition — a scan that doesn't select `values` never materializes
    // the payload map into rows, and under `valueSchema` each typed column
    // is parsed straight out of the payload (to_string inverse), so a
    // projected read touches only its declared keys and no MapData exists
    // anywhere in the row
    val extractors: Array[LogEntry => Any] = required.fields.map { f =>
      f.name match {
        case "stream" => (_: LogEntry) => streamName
        case "id" => (e: LogEntry) => UTF8String.fromString(e.id.toString)
        case "ts" => (e: LogEntry) => e.id.millis * 1000L // epoch micros
        case "seq" => (e: LogEntry) => e.id.seq
        case "values" => (e: LogEntry) => {
          val keys = e.values.keys.toArray[Any]
            .map(k => UTF8String.fromString(k.asInstanceOf[String]))
          val vals = e.values.values.toArray[Any]
            .map(v => UTF8String.fromString(v.asInstanceOf[String]))
          ArrayBasedMapData(keys, vals)
        }
        case key => GraftLogReaderFactory.typedExtractor(key, f.dataType)
      }
    }
    // If a planned segment was compacted away between planning and read,
    // fall back to a range scan over the live segment set — ids are stable
    // under compaction, so this partition's slice is unchanged.
    val raw =
      try p.paths.iterator.flatMap(LogStore.readSegment).toSeq
      catch {
        case _: java.io.IOException | _: java.io.UncheckedIOException =>
          val first = LogId.parse(p.segFirst)
          LogStore.readRange(p.root, p.stream,
            LogId(first.millis, first.seq - 1), LogId.parse(p.segLast))
      }
    val entries = raw.iterator
      .filter(e => e.id > start && e.id <= end)
      .filter(e => !dropTombstones || !e.isTombstone)
      .toSeq.distinctBy(_.id).sortBy(_.id).iterator
    new PartitionReader[InternalRow] {
      private var current: LogEntry = _
      override def next(): Boolean =
        if (entries.hasNext) { current = entries.next(); true } else false
      override def get(): InternalRow =
        new GenericInternalRow(extractors.map(_(current)))
      override def close(): Unit = ()
    }
  }
}

object GraftLogReaderFactory {
  /** Typed payload extractor for a `valueSchema` column: the exact inverse
    * of the write-side to_string coercion. Missing key → null; empty string
    * → null for non-string types (the writer renders null as ""); a value
    * that does not parse as the declared type fails LOUDLY with the entry
    * id — silently nulling would hide producer/schema drift.
    */
  private[sources] def typedExtractor(key: String,
      dt: org.apache.spark.sql.types.DataType): LogEntry => Any = {
    val parse: String => Any = dt match {
      case StringType => s => UTF8String.fromString(s)
      case IntegerType => s => java.lang.Integer.valueOf(s.trim.toInt)
      case LongType => s => java.lang.Long.valueOf(s.trim.toLong)
      case ShortType => s => java.lang.Short.valueOf(s.trim.toShort)
      case ByteType => s => java.lang.Byte.valueOf(s.trim.toByte)
      case DoubleType => s => java.lang.Double.valueOf(s.trim.toDouble)
      case FloatType => s => java.lang.Float.valueOf(s.trim.toFloat)
      case BooleanType => s => java.lang.Boolean.valueOf(s.trim.toBoolean)
      case other => throw new IllegalArgumentException(
        s"valueSchema type ${other.simpleString} unsupported for '$key'")
    }
    (e: LogEntry) => e.values.get(key) match {
      case None => null
      case Some("") if dt != StringType => null
      case Some(s) =>
        try parse(s)
        catch { case _: IllegalArgumentException =>
          throw new IllegalArgumentException(
            s"graftlog valueSchema: payload key '$key' of entry ${e.id} " +
              s"holds '$s', which does not parse as ${dt.simpleString}")
        }
    }
  }
}

// ---------------------------------------------------------------------------
// Write path
// ---------------------------------------------------------------------------

/** SupportsStreamingUpdateAsAppend (the marker the built-in Kafka sink
  * uses): an UPDATE-mode streaming aggregation appends its changed rows to
  * the log each micro-batch — exactly a KTable changelog. The log stays
  * append-only; "update" is a property of the reader's interpretation
  * (keyed compaction folds the changelog to current state, q344/q352).
  */
final class GraftLogWriteBuilder(root: String, stream: String, schema: StructType,
    queryId: String, tsColumn: Option[String] = None,
    segmentEntries: Int = 10000,
    stagingTtlMs: Long = GraftLogWritePath.DefaultStagingTtlMs,
    shardCount: Int = 1, shardKey: Option[String] = None) extends WriteBuilder
    with org.apache.spark.sql.internal.connector.SupportsStreamingUpdateAsAppend {
  override def build(): Write = tsColumn match {
    case None =>
      // a sharded logical stream is N independent sequencers, one per shard;
      // an unsharded write is the one-target case and never looks up a key
      val (targets, key) = if (shardCount <= 1) (Seq(stream), None) else {
        val k = shardKey.getOrElse(throw new IllegalArgumentException(
          "sharded graftlog writes require option 'shardKey' (the routing column)"))
        require(schema.fieldNames.contains(k),
          s"shardKey '$k' not in write schema ${schema.fieldNames.mkString(",")}")
        (GraftLogSource.shardNames(stream, shardCount), Some(k))
      }
      // driver-side DDL + name validation BEFORE tasks stage files
      targets.foreach(LogStore.ensureStream(root, _))
      new GraftLogStagedWrite(root, targets, schema, queryId, segmentEntries,
        stagingTtlMs, key)
    case Some(tsCol) =>
      require(shardCount == 1,
        "tsColumn bulk writes do not shard (ids are data-derived; write each " +
          "shard's slice as its own bulk job instead)")
      require(schema.fieldNames.contains(tsCol),
        s"tsColumn '$tsCol' not in write schema ${schema.fieldNames.mkString(",")}")
      schema(tsCol).dataType match {
        case LongType | IntegerType | TimestampType => ()
        case dt => throw new IllegalArgumentException(
          s"tsColumn '$tsCol' must be LONG epoch-millis, INT, or TIMESTAMP, got $dt")
      }
      // bulk bootstrap contract (same as LogBulkProducer): ids are derived
      // from the data, which is only sound when no sequencer state exists
      LogStore.ensureStream(root, stream)
      require(LogStore.maxId(root, stream) == LogId.Zero,
        s"tsColumn bulk write requires a fresh stream; '$stream' already has " +
          "entries (append through the default sink or LogWriter instead)")
      require(segmentEntries > 0, s"maxSegmentEntries must be positive, got $segmentEntries")
      new GraftLogBulkWrite(root, stream, schema, tsCol, segmentEntries)
  }
}

/** Distributed explicit-timestamp batch write (`option("tsColumn", ...)`):
  * the engine-planned twin of [[graft.log.LogBulkProducer]]. Declaring
  * `RequiresDistributionAndOrdering` makes Catalyst itself plan the shuffle —
  * rows are CLUSTERED on the timestamp column (all rows of one millisecond
  * land in one task, so the per-ms seq is a local counter) and sorted within
  * partitions by (ts, every other column) so the row→id mapping is a pure
  * function of the data. Each task publishes its own segment files; ids are
  * exactly what `LogWriter.produceAllAt` would assign for the same ordering,
  * and no row ever passes through the driver. One hot millisecond = one
  * task, inherent to the id model (same-ms entries need one sequencer).
  */
final class GraftLogBulkWrite(root: String, stream: String, schema: StructType,
    tsCol: String, segmentEntries: Int = 10000)
    extends Write with RequiresDistributionAndOrdering {
  import org.apache.spark.sql.connector.distributions.{Distribution, Distributions}
  import org.apache.spark.sql.connector.expressions.{Expressions, SortDirection, SortOrder}

  override def requiredDistribution(): Distribution =
    Distributions.clustered(Array(Expressions.column(tsCol)))

  override def requiredOrdering(): Array[SortOrder] =
    (tsCol +: schema.fieldNames.filterNot(_ == tsCol).toSeq)
      .map(c => Expressions.sort(Expressions.column(c), SortDirection.ASCENDING))
      .toArray

  override def toBatch: BatchWrite = new BatchWrite {
    override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory =
      GraftLogBulkWriterFactory(root, stream, schema, tsCol, segmentEntries)
    // tasks already published their segments (data-derived names make
    // retries idempotent); the driver only materializes the empty stream
    override def commit(messages: Array[WriterCommitMessage]): Unit =
      LogStore.ensureStream(root, stream)
    override def abort(messages: Array[WriterCommitMessage]): Unit = ()
  }

  override def toStreaming: StreamingWrite =
    throw new UnsupportedOperationException(
      "tsColumn bulk writes are batch-only (a stream appends through the default sink)")

  override def description(): String = s"GraftLogBulkWrite($root/$stream, ts=$tsCol)"
}

final case class GraftLogBulkWriterFactory(root: String, stream: String,
    schema: StructType, tsCol: String, segmentEntries: Int) extends DataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftLogBulkDataWriter(root, stream, schema, tsCol, segmentEntries)
}

/** Streams one task's clustered, sorted rows into segment files: seq resets
  * per millisecond (starting at 1 for ms 0 — id "0-0" is LogId.Zero, the
  * position-before-everything, and must never be assigned); segments flush
  * every `SegmentEntries` rows so a huge task never buffers its whole
  * partition. Published names are tracked for abort cleanup; REPLACEized
  * publishes keep retried attempts idempotent (ids and content are
  * data-derived, see the class doc above).
  */
final class GraftLogBulkDataWriter(root: String, stream: String,
    schema: StructType, tsCol: String, segmentEntries: Int = 10000)
    extends DataWriter[InternalRow] {
  private val tsIdx = schema.fieldIndex(tsCol)
  private val tsType = schema(tsIdx).dataType
  private val buf = scala.collection.mutable.ArrayBuffer.empty[LogEntry]
  private val published = scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]
  private var lastMs = -1L
  private var seq = 0L
  private var count = 0L

  private def msOf(row: InternalRow): Long = {
    require(!row.isNullAt(tsIdx), s"tsColumn '$tsCol' must not be null")
    tsType match {
      case LongType => row.getLong(tsIdx)
      case IntegerType => row.getInt(tsIdx).toLong
      case TimestampType => Math.floorDiv(row.getLong(tsIdx), 1000L) // micros
      case dt => throw new IllegalStateException(s"unreachable: $dt")
    }
  }

  override def write(record: InternalRow): Unit = {
    val ms = msOf(record)
    require(ms >= 0, s"negative timestamp $ms in tsColumn '$tsCol'")
    require(ms >= lastMs, // rows arrive sorted; a regression means a planner bug
      s"unsorted input: $ms after $lastMs")
    if (ms != lastMs) { lastMs = ms; seq = if (ms == 0L) 1L else 0L }
    else seq += 1
    buf += LogEntry(LogId(ms, seq),
      GraftLogWritePath.toPayload(schema, record) - tsCol)
    count += 1
    if (buf.size >= segmentEntries) flush()
  }

  private def flush(): Unit = if (buf.nonEmpty) {
    published += graft.log.LogBulkProducer.publishTaskSegment(root, stream, buf.toSeq)
    buf.clear()
  }

  override def commit(): WriterCommitMessage = {
    flush()
    GraftLogStagedCommit(0, Map.empty) // segments already visible; nothing staged
  }

  override def abort(): Unit = {
    buf.clear()
    published.foreach(p => try java.nio.file.Files.deleteIfExists(p)
      catch { case _: java.io.IOException => () })
  }

  override def close(): Unit = ()
}

/** One task's staged values-only segment files: per target index, the
  * staged files (path, entryCount) in row order. Only file METADATA crosses
  * to the driver — the payload bytes are already on the shared filesystem,
  * encoded by the executor. The tsColumn bulk tasks publish their own
  * segments and ack with no files.
  */
final case class GraftLogStagedCommit(partitionId: Int,
    files: Map[Int, Seq[(String, Long)]]) extends WriterCommitMessage

object GraftLogWritePath {
  /** Convert an incoming row to the flat string map, applying the
    * `to_string/1` coercion rule (/root/reference/lib/stream.ex:15-16):
    * a MAP<STRING,STRING> `values` column is taken as the payload verbatim;
    * otherwise every non-meta column is stringified. Nulls → "" (to_string(nil)).
    */
  def toPayload(schema: StructType, row: InternalRow): Map[String, String] = {
    val valuesIdx = schema.fieldNames.indexOf("values")
    if (valuesIdx >= 0 && schema(valuesIdx).dataType.isInstanceOf[MapType]) {
      val m = row.getMap(valuesIdx)
      val keys = m.keyArray()
      val vals = m.valueArray()
      (0 until m.numElements()).map { i =>
        keys.getUTF8String(i).toString ->
          (if (vals.isNullAt(i)) "" else vals.getUTF8String(i).toString)
      }.toMap
    } else {
      schema.fields.zipWithIndex
        .filter { case (f, _) => !Set("id", "ts", "seq", "stream").contains(f.name) }
        .map { case (f, i) =>
          val v =
            if (row.isNullAt(i)) ""
            else f.dataType match {
              case StringType => row.getUTF8String(i).toString
              case IntegerType => String.valueOf(row.getInt(i))
              case LongType => String.valueOf(row.getLong(i))
              case DoubleType => String.valueOf(row.getDouble(i))
              case FloatType => String.valueOf(row.getFloat(i))
              case BooleanType => String.valueOf(row.getBoolean(i))
              case ShortType => String.valueOf(row.getShort(i))
              case ByteType => String.valueOf(row.getByte(i))
              case dt => String.valueOf(row.get(i, dt))
            }
          f.name -> v
        }.toMap
    }
  }

  /** Default orphan-sweep TTL (24 h); override per write with the
    * `stagingTtlMs` option (a backfill whose tasks may stage more than a
    * day before the job commits needs a larger TTL), `<= 0` disables the
    * sweep entirely.
    */
  val DefaultStagingTtlMs: Long = 24L * 3600 * 1000

  /** Filesystem-safe staging-name prefix for a query id (Spark query ids
    * are UUIDs, but don't trust the format).
    */
  private[sources] def stagingPrefix(queryId: String): String =
    if (queryId == null || queryId.isEmpty) ""
    else queryId.filter(c => c.isLetterOrDigit || c == '-' || c == '_') + "__"

  /** Append-sink commit: executors staged fully-encoded values-only segment
    * files; for each target stream, under that stream's lock, the driver
    * reserves a dense id range and renames its files into place in
    * (partitionId, chunk) order — O(#files) driver work, no payload row ever
    * materializes driver-side. Targets commit concurrently: each has its own
    * writer lock and id sequencer, so the shards of a sharded stream never
    * serialize on one commit point. Per-commit tiered auto-compaction keeps
    * a long-running sink's file count and the per-append maxId directory
    * listing bounded.
    */
  def commitAll(root: String, targets: Seq[String], messages: Array[WriterCommitMessage],
      queryId: String = "", stagingTtlMs: Long = DefaultStagingTtlMs): Unit = {
    val cms = messages.iterator
      .collect { case m: GraftLogStagedCommit => m }
      .toSeq.sortBy(_.partitionId)
    import scala.concurrent.duration.DurationInt
    import scala.concurrent.{Await, ExecutionContext, Future}
    implicit val ec: ExecutionContext = LogWriter.writeEc
    def publish(k: Int): Unit = {
      val staged = cms.flatMap(_.files.getOrElse(k, Nil))
        .map { case (p, c) => (java.nio.file.Paths.get(p), c) }
      // the LogWriter constructor materializes an empty stream when no task
      // staged anything, so an all-empty write still creates the stream
      new LogWriter(root, targets(k), autoCompactSegments = 64)
        .publishStagedValues(staged)
      sweepStaleStaging(root, targets(k), queryId, stagingTtlMs)
    }
    // the calling thread publishes the first target while the pool takes the
    // rest: a one-target commit pays no thread handoff
    val rest = targets.indices.tail.map(k => Future(publish(k)))
    publish(0)
    Await.result(Future.sequence(rest), 10.minutes)
  }

  /** Opportunistic GC of orphaned staged files: a hard-killed executor never
    * calls abort(), so its staging files outlive the attempt. Staged names
    * are prefixed with the writing query's id, so a sweep NEVER touches the
    * committing query's own files (a straggler task of a long job can stage
    * arbitrarily early without a concurrent writer's commit deleting it);
    * foreign files are only removed past `ttlMs` (configurable per write via
    * `stagingTtlMs`; `<= 0` disables the sweep).
    */
  private def sweepStaleStaging(root: String, stream: String,
      ownQueryId: String, ttlMs: Long): Unit = {
    if (ttlMs <= 0) return
    val dir = LogStore.streamDir(root, stream).resolve(".staging")
    val own = stagingPrefix(ownQueryId)
    if (java.nio.file.Files.isDirectory(dir)) {
      val cutoff = System.currentTimeMillis() - ttlMs
      val listing = java.nio.file.Files.list(dir)
      try listing.forEach { p =>
        try {
          val foreign = own.isEmpty || !p.getFileName.toString.startsWith(own)
          if (foreign &&
              java.nio.file.Files.getLastModifiedTime(p).toMillis < cutoff)
            java.nio.file.Files.deleteIfExists(p)
        } catch { case _: java.io.IOException => () }
      } finally listing.close()
    }
  }

  /** Best-effort cleanup of staged files on job abort / duplicate epoch. */
  def dropStaged(messages: Array[WriterCommitMessage]): Unit =
    messages.iterator
      .collect { case m: GraftLogStagedCommit => m }
      .flatMap(_.files.valuesIterator.flatten.map(_._1))
      .foreach { p =>
        try java.nio.file.Files.deleteIfExists(java.nio.file.Paths.get(p))
        catch { case _: java.io.IOException => () }
      }
}

/** Executor-side append writer: encodes each row's payload into staged
  * values-only (`.vjsonl`) files under `<target streamDir>/.staging/` — the
  * full segment bytes are produced HERE, on the executor; the driver's commit
  * only reserves each target's id range and renames the staged files into
  * place ([[graft.log.LogWriter.publishStagedValues]]). With one target
  * every row goes there; a sharded stream routes each row by the
  * deterministic hash of its `shardKey` value. Chunked every
  * `maxSegmentEntries` rows per target so one huge task still yields
  * reader-parallelizable segments. Staged names are UUIDs: retried or
  * speculative attempts stage side by side and only the attempt whose commit
  * message Spark accepts gets published; abort deletes this attempt's files.
  */
final class GraftLogStagedDataWriter(root: String, targets: Seq[String],
    schema: StructType, partitionId: Int, maxSegmentEntries: Int,
    queryId: String, shardKey: Option[String])
    extends DataWriter[InternalRow] {
  import java.nio.file.{Files, Path, Paths}
  private val n = targets.size
  private val stagingDirs: Array[Path] = targets.map { t =>
    val d = LogStore.streamDir(root, t).resolve(".staging")
    Files.createDirectories(d)
    d
  }.toArray
  private val files =
    Array.fill(n)(scala.collection.mutable.ArrayBuffer.empty[(String, Long)])
  private val out = new Array[java.io.Writer](n)
  private val current = new Array[Path](n)
  private val counts = new Array[Long](n)

  private def roll(k: Int): Unit = if (out(k) != null) {
    out(k).close(); out(k) = null
    files(k) += ((current(k).toString, counts(k)))
    current(k) = null
  }

  override def write(record: InternalRow): Unit = {
    val payload = GraftLogWritePath.toPayload(schema, record)
    val k = shardKey.fold(0)(key => GraftLogSource.shardOf(payload.getOrElse(key, ""), n))
    if (out(k) == null) {
      current(k) = stagingDirs(k).resolve(
        s"${GraftLogWritePath.stagingPrefix(queryId)}${java.util.UUID.randomUUID()}.vjsonl")
      out(k) = Files.newBufferedWriter(current(k), java.nio.charset.StandardCharsets.UTF_8)
      counts(k) = 0L
    }
    out(k).write(LogStore.encodeValuesLine(payload))
    out(k).write('\n')
    counts(k) += 1
    if (counts(k) >= maxSegmentEntries) roll(k)
  }

  override def commit(): WriterCommitMessage = {
    (0 until n).foreach(roll)
    GraftLogStagedCommit(partitionId,
      (0 until n).iterator.map(k => k -> files(k).toSeq).filter(_._2.nonEmpty).toMap)
  }

  override def abort(): Unit = {
    (0 until n).foreach { k =>
      if (out(k) != null) { out(k).close(); out(k) = null }
    }
    (files.iterator.flatMap(_.iterator.map(_._1)) ++
      current.iterator.filter(_ != null).map(_.toString))
      .foreach(p => try Files.deleteIfExists(Paths.get(p))
        catch { case _: java.io.IOException => () })
  }

  override def close(): Unit = ()
}

/** Serializable factory shipped to executors (must not capture the write). */
final case class GraftLogStagedWriterFactory(root: String, targets: Seq[String],
    schema: StructType, maxSegmentEntries: Int, queryId: String,
    shardKey: Option[String])
    extends DataWriterFactory with StreamingDataWriterFactory {
  override def createWriter(partitionId: Int, taskId: Long): DataWriter[InternalRow] =
    new GraftLogStagedDataWriter(root, targets, schema, partitionId,
      maxSegmentEntries, queryId, shardKey)
  override def createWriter(partitionId: Int, taskId: Long, epochId: Long): DataWriter[InternalRow] =
    createWriter(partitionId, taskId)
}

/** The staged append, batch and streaming: one plain stream is the
  * one-target case of a sharded stream's `<stream>.s<k>` targets. A batch
  * commit appends at-least-once, like the reference's produce.
  */
final class GraftLogStagedWrite(root: String, targets: Seq[String],
    schema: StructType, queryId: String, maxSegmentEntries: Int = 10000,
    stagingTtlMs: Long = GraftLogWritePath.DefaultStagingTtlMs,
    shardKey: Option[String] = None)
    extends Write with BatchWrite with StreamingWrite {
  private def factory =
    GraftLogStagedWriterFactory(root, targets, schema, maxSegmentEntries, queryId, shardKey)

  override def toBatch: BatchWrite = this
  override def toStreaming: StreamingWrite = this
  override def createBatchWriterFactory(info: PhysicalWriteInfo): DataWriterFactory = factory
  override def createStreamingWriterFactory(info: PhysicalWriteInfo): StreamingDataWriterFactory =
    factory
  // both interfaces default this; Scala needs the tie broken explicitly
  override def useCommitCoordinator(): Boolean = true

  override def commit(messages: Array[WriterCommitMessage]): Unit =
    GraftLogWritePath.commitAll(root, targets, messages, queryId, stagingTtlMs)
  override def abort(messages: Array[WriterCommitMessage]): Unit =
    GraftLogWritePath.dropStaged(messages)

  /** Idempotent per epoch *within a query*: Structured Streaming may
    * re-deliver a committed epoch after a driver failure; a marker file makes
    * the duplicate commit a no-op instead of a double-append. Markers are
    * keyed by `queryId/epochId`, not epochId alone — epoch ids restart at 0
    * for every new query/checkpoint, so a global key would silently drop a
    * later query's first commits. One marker under the first target guards
    * the WHOLE epoch (`<stream>/_epochs/…`, or `<stream>.s0/_epochs/…` when
    * sharded): the commit either ran or did not, and a crash mid-commit
    * replays the epoch, at-least-once like every produce path.
    */
  override def commit(epochId: Long, messages: Array[WriterCommitMessage]): Unit = {
    val epochs = LogStore.streamDir(root, targets.head).resolve("_epochs").resolve(queryId)
    java.nio.file.Files.createDirectories(epochs)
    val marker = epochs.resolve(epochId.toString)
    if (!java.nio.file.Files.exists(marker)) {
      GraftLogWritePath.commitAll(root, targets, messages, queryId, stagingTtlMs)
      java.nio.file.Files.createFile(marker)
    } else GraftLogWritePath.dropStaged(messages) // duplicate epoch: drop, don't leak
  }

  override def abort(epochId: Long, messages: Array[WriterCommitMessage]): Unit =
    GraftLogWritePath.dropStaged(messages)
}
