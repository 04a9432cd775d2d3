package graft.consumer

import graft.log.{LogId, LogStore}
import graft.streaming.StreamHarness
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.ByteBuffer
import java.nio.channels.FileChannel
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardOpenOption}
import java.util.concurrent.TimeUnit
import java.util.concurrent.locks.ReentrantLock
import scala.jdk.CollectionConverters._

/** Handler verdicts — the reference's contract verbatim
  * (/root/reference/lib/redix/stream/consumer.ex:199-210): `Ok` → auto-ack,
  * `Defer` → success but ack manually later, `Err` → failure (raised when
  * `raiseErrors`, crashing the consumer so supervision replays unacked work).
  */
sealed trait HandlerResult
object HandlerResult {
  case object Ok extends HandlerResult
  case object Defer extends HandlerResult
  final case class Err(cause: Throwable) extends HandlerResult
}

/** Consumer configuration ≙ `consumer_spec` options
  * (/root/reference/lib/stream.ex:55-58, README.md:106-118).
  *
  * `stream` accepts a comma-separated list (engine extension over the
  * reference's one-stream consumer): one query fans in over all of them,
  * the handler receives each message's actual stream name, and ack-ledger
  * entries are stream-qualified so ids from different streams never
  * collide.
  *
  * `startPos`: "default" resolves by the reference's decision table
  * (/root/reference/lib/redix/stream/consumer.ex:71-91): no group →
  * `latest` (end_of_stream; messages during downtime are lost — the
  * reference's documented at-most-once no-group mode), group → last known
  * message, which in Spark is simply the recovered checkpoint (fresh
  * checkpoint → `latest`, i.e. group created at "$").
  */
final case class ConsumerConfig(
    logRoot: String,
    stream: String,
    checkpointRoot: String,
    groupName: Option[String] = None,
    consumerName: String = "consumer_1",
    startPos: String = "default",
    maxEntriesPerTrigger: Option[Long] = None,
    // ≙ the consumer `timeout` option (blocking-poll window, default 2000,
    // 0 = block forever — /root/reference/lib/redix/stream/consumer.ex:20,
    // README.md:113); only gates batches when minEntriesPerTrigger is set
    minEntriesPerTrigger: Option[Long] = None,
    timeoutMs: Long = 2000L,
    processPending: Boolean = true,
    raiseErrors: Boolean = true,
    ordered: Boolean = true,
    drainAndStop: Boolean = false,
    supTimeoutMs: Long = 5000L,
    // Dead-letter queue (engine extension; the reference's errored message
    // stays in the PEL forever, /root/reference/lib/redix/stream/
    // consumer.ex:206-216 — at scale that is a crash loop or an unbounded
    // pending set): after `maxDeliveries` FAILED deliveries of one message,
    // route it to `deadLetterStream` (same log root) with provenance
    // metadata and ack it, whatever `raiseErrors` says. Requires group mode
    // — delivery counts live in the ledger, like the PEL they generalize.
    maxDeliveries: Option[Int] = None,
    deadLetterStream: Option[String] = None,
    // XAUTOCLAIM's min-idle-time (engine extension): the pending drain only
    // redelivers entries whose LAST recorded delivery is at least this many
    // ms old, so a still-working consumer's in-flight deferrals aren't
    // stolen by a restarting peer the moment it boots. 0 (the default, and
    // the reference's behavior) reclaims everything; entries with no
    // recorded delivery (pre-timestamp ledgers, crash-lost writes) count as
    // infinitely idle and are always eligible.
    minIdleMs: Long = 0L) {

  require(timeoutMs >= 0, s"timeoutMs must be >= 0 (0 = block forever), got $timeoutMs")
  require(minIdleMs >= 0, s"minIdleMs must be >= 0, got $minIdleMs")
  require(minIdleMs == 0 || groupName.isDefined,
    "minIdleMs gates the pending drain, which only exists in group mode " +
      "(no group => no ledger, so the setting would be silently inert)")
  require(maxDeliveries.forall(_ >= 1), s"maxDeliveries must be >= 1, got $maxDeliveries")
  require(deadLetterStream.isEmpty || (groupName.isDefined && maxDeliveries.isDefined),
    "deadLetterStream requires group mode (the delivery counter lives in the " +
      "group ledger) and an explicit maxDeliveries")
  require(deadLetterStream.forall(d => !streams.contains(d)),
    s"deadLetterStream $deadLetterStream must not be one of the consumed streams " +
      "(a poison message would cycle forever)")

  def resolvedStartingOffsets: String = startPos match {
    case "default" => "latest"
    case other => other
  }

  def streams: Seq[String] = stream.split(",").map(_.trim).filter(_.nonEmpty).distinct.toSeq
  def multiStream: Boolean = streams.size > 1

  def checkpointDir: String = {
    val scope = groupName.getOrElse(s"__nogroup__/$consumerName")
    s"$checkpointRoot/$scope/offsets"
  }

  def ledgerDir: Option[Path] =
    groupName.map(g => Paths.get(checkpointRoot, g, "ledger"))
}

/** Per-group ack/pending ledger. Spark commits offsets per micro-batch while
  * the reference acks per message (XACK) — the ledger closes that gap
  * (SURVEY.md §7 hard part (a)): acked ids are never re-dispatched inside a
  * replayed batch, and `Defer`red ids survive restarts until acked, exactly
  * like Redis's pending-entries list. Append-only files, one set per writer
  * tag, each written through an append-mode channel that stays open from
  * the first record until [[close]] (the owning consumer closes it on stop;
  * a parallel-mode task closes its ledger when its partition ends).
  * [[compact]] folds every writer's files into this writer's.
  */
final class AckLedger(dir: Path, writerTag: String = "driver",
    clock: () => Long = () => System.currentTimeMillis()) {
  private val acksFile = dir.resolve(s"acks-$writerTag.log")
  private val pendingFile = dir.resolve(s"pending-$writerTag.log")
  Files.createDirectories(dir)

  /** Union of a prefix's records across every writer (driver + partitions). */
  private def readSet(prefix: String): Set[String] = {
    val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
    files.iterator.flatMap(f =>
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty)).toSet
  }

  private val failsFile = dir.resolve(s"fails-$writerTag.log")

  /** Multiset of a prefix's records across every writer — the delivery
    * failure counter must survive restarts (a poison message's whole point
    * is that it keeps crashing consumers), so each failure appends a line
    * and the count is line-occurrences.
    */
  private def readCounts(prefix: String): Map[String, Int] = {
    val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
    files.iterator.flatMap(f =>
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty))
      .toSeq.groupBy(identity).map { case (k, v) => k -> v.size }
  }

  private val timesFile = dir.resolve(s"times-$writerTag.log")

  /** Delivery records `key<U+0001>epochMs`, one per recorded delivery attempt,
    * across every writer — Redis's PEL carries (delivery_time,
    * delivery_count) per pending entry and XPENDING/XAUTOCLAIM read them;
    * line count per key is the delivery count, max ms is the last delivery.
    * `U+0001` because multi-stream keys already embed a tab.
    */
  private def readTimes(prefix: String): Map[String, (Long, Int)] = {
    val files = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
      .filter(_.getName.startsWith(prefix))
    files.iterator.flatMap(f =>
      Files.readAllLines(f.toPath, StandardCharsets.UTF_8).asScala.filter(_.nonEmpty))
      .toSeq.flatMap { line =>
        // a torn/corrupt line (crash mid-append) must not brick the group:
        // skip it, so the entry degrades to "no recorded delivery" =
        // infinitely idle, the same contract as a pre-timestamp ledger
        val cut = line.lastIndexOf('\u0001')
        if (cut < 0) None
        else line.substring(cut + 1).toLongOption
          .map(ms => (line.substring(0, cut), ms))
      }
      .groupBy(_._1)
      .map { case (k, v) => k -> (v.map(_._2).max, v.size) }
  }

  // In-memory mirror of this writer's view; files are the restart truth.
  private var ackedSet: Set[String] = readSet("acks-")
  private var pendingSet: Set[String] = readSet("pending-")
  private var failCounts: Map[String, Int] = readCounts("fails-")
  private var deliveryMeta: Map[String, (Long, Int)] = readTimes("times-")

  // One append-mode channel per ledger file, opened on first write and kept
  // until close(). FileChannel.write is an unbuffered write(2), so each
  // record reaches the OS before the caller's next handler call.
  private val channels = scala.collection.mutable.Map.empty[Path, FileChannel]

  private def appendLine(p: Path, line: String): Unit = {
    val ch = channels.getOrElseUpdate(p, FileChannel.open(p,
      StandardOpenOption.CREATE, StandardOpenOption.WRITE, StandardOpenOption.APPEND))
    val buf = ByteBuffer.wrap((line + "\n").getBytes(StandardCharsets.UTF_8))
    while (buf.hasRemaining) ch.write(buf)
  }

  /** Close this writer's open channels. The ledger stays usable: the next
    * write reopens its file.
    */
  def close(): Unit = synchronized {
    channels.values.foreach(_.close())
    channels.clear()
  }

  /** Fold every writer's files into this writer's and drop acks at or below
    * the committed-offset `floor` (batches ending there are committed in the
    * checkpoint and can never replay, so those acks are unreachable; pending
    * ids are kept regardless — their redelivery path is the pending drain,
    * not batch replay). Call only while no other writer is live, e.g. before
    * the query starts. Bounds both ledger file count and ack-set size.
    */
  def compact(floor: Option[LogId] = None): Unit =
    compact((id: String) => floor.exists(fl => LogId.tryParse(id).exists(_ <= fl)))

  /** Fold writers' files and drop acked keys for which `unreachable` holds
    * (the caller knows the key format — bare ids or stream-qualified).
    * Re-reads every writer's files first: the other writers' records since
    * this instance last read them (a restarted consumer's parallel-mode
    * tasks) are in no in-memory view, and their files are deleted below.
    */
  def compact(unreachable: String => Boolean): Unit = synchronized {
    refresh()
    val all = Option(dir.toFile.listFiles()).getOrElse(Array.empty)
    val mine = Set(acksFile.getFileName.toString, pendingFile.getFileName.toString,
      failsFile.getFileName.toString, timesFile.getFileName.toString)
    val others = all.filter(f => !mine.contains(f.getName))
    val retained = ackedSet.filter(id =>
      pendingSet.contains(id) || !unreachable(id))
    // failure counts for acked (resolved) messages are unreachable too —
    // an acked id never dispatches again, so its counter can never matter
    val retainedFails = failCounts.filter { case (id, _) => !ackedSet.contains(id) }
    // same for delivery times: the PEL entry of an acked message is gone
    val retainedTimes = deliveryMeta.filter { case (id, _) => !ackedSet.contains(id) }
    if (others.nonEmpty || retained.size != ackedSet.size ||
        retainedFails.size != failCounts.size ||
        retainedTimes.size != deliveryMeta.size) {
      ackedSet = retained
      failCounts = retainedFails
      deliveryMeta = retainedTimes
      // the rewrites truncate in place; an open channel is in append mode,
      // so its next record still lands after the rewritten content
      Files.write(acksFile, (ackedSet.toSeq.sorted.mkString("", "\n", "\n"))
        .getBytes(StandardCharsets.UTF_8))
      Files.write(pendingFile, (pendingSet.toSeq.sorted.mkString("", "\n", "\n"))
        .getBytes(StandardCharsets.UTF_8))
      Files.write(failsFile, failCounts.toSeq.sorted
        .flatMap { case (k, n) => Seq.fill(n)(k) }.mkString("", "\n", "\n")
        .getBytes(StandardCharsets.UTF_8))
      // intermediate delivery times are never read (only the latest and the
      // count are), so the folded file repeats the latest time count-many
      // times — count and last-delivery both survive the rewrite
      Files.write(timesFile, deliveryMeta.toSeq.sortBy(_._1)
        .flatMap { case (k, (ms, n)) => Seq.fill(n)(s"$k\u0001$ms") }
        .mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8))
      others.foreach(f => Files.deleteIfExists(f.toPath))
    }
  }

  /** Re-read every writer's files into this ledger's in-memory view. In
    * parallel mode the partition tasks append to their own `p<N>` files
    * while this (driver) instance is live — a drain or XPENDING snapshot
    * taken after a batch must see those writes, not the construction-time
    * state. PEL-sized file reads; call sites are per-drain/per-snapshot,
    * never per-message.
    */
  def refresh(): Unit = synchronized {
    ackedSet = readSet("acks-")
    pendingSet = readSet("pending-")
    failCounts = readCounts("fails-")
    deliveryMeta = readTimes("times-")
  }

  def acked: Set[String] = synchronized(ackedSet)
  def deferred: Set[String] = synchronized(pendingSet -- ackedSet)
  def ack(id: String): Unit = synchronized {
    ackedSet += id; appendLine(acksFile, id)
  }
  def defer(id: String): Unit = synchronized {
    pendingSet += id; appendLine(pendingFile, id)
    touch(id)
  }

  /** Record one delivery attempt of a still-pending key — the PEL's
    * (delivery_time, delivery_count) update. Called under `synchronized`
    * by defer/fail.
    */
  private def touch(id: String): Unit = {
    val now = clock()
    val n = deliveryMeta.get(id).map(_._2).getOrElse(0) + 1
    deliveryMeta = deliveryMeta.updated(id, (now, n))
    appendLine(timesFile, s"$id\u0001$now")
  }

  /** (last delivery epoch-ms, recorded delivery attempts) for a key, if any
    * delivery has been recorded. Entries written by pre-timestamp ledgers
    * have no record — callers treat them as infinitely idle (immediately
    * reclaimable), matching what a crashed-before-writing consumer leaves.
    */
  def deliveryInfo(id: String): Option[(Long, Int)] =
    synchronized(deliveryMeta.get(id))

  /** Milliseconds since a key's last recorded delivery; `Long.MaxValue`
    * when no delivery was ever recorded (legacy or crash-lost entries are
    * the MOST idle, like a Redis PEL entry whose consumer vanished).
    */
  def idleMs(id: String): Long = synchronized {
    deliveryMeta.get(id).map(m => math.max(0L, clock() - m._1))
      .getOrElse(Long.MaxValue)
  }

  /** Record one failed delivery; returns the total failure count for the
    * key (across restarts and writers).
    */
  def fail(id: String): Int = synchronized {
    val n = failCounts.getOrElse(id, 0) + 1
    failCounts = failCounts.updated(id, n)
    appendLine(failsFile, id)
    n
  }

  def failures(id: String): Int = synchronized(failCounts.getOrElse(id, 0))
}

/** A running consumer: the Spark rebuild of the reference's Consumer
  * GenServer (/root/reference/lib/redix/stream/consumer.ex) — a streaming
  * query over the graftlog source whose `foreachBatch` dispatches the handler
  * per message in id order, plus the ack ledger for group mode.
  */
final class GraftConsumer(
    spark: SparkSession,
    cfg: ConsumerConfig,
    handler: (String, Option[String], String, Map[String, String]) => HandlerResult,
    clock: () => Long = () => System.currentTimeMillis()) {

  private val ledger: Option[AckLedger] = cfg.ledgerDir.map(new AckLedger(_, clock = clock))
  private val dispatch = new Dispatch(cfg, handler)
  @volatile private var query: Option[StreamingQuery] = None

  // Held while a batch dispatches to the handler. stop() takes it (fair, so
  // it is next when the batch releases it) and stops the query while holding
  // it: a handler call is never cut short, and a batch that starts meanwhile
  // blocks here before dispatching anything and is interrupted by the stop.
  private val dispatching = new ReentrantLock(true)
  // the last batch whose dispatch completed in this run (-1: none yet)
  @volatile private var lastDispatched = -1L

  /** Manual ack for `Defer`red messages (≙ `Consumer.ack/2`,
    * /root/reference/lib/redix/stream/consumer.ex:114-124). For a
    * multi-stream consumer use the two-arg form; the one-arg form assumes
    * the first configured stream.
    */
  def ack(id: String): Unit = ack(cfg.streams.head, id)
  def ack(stream: String, id: String): Unit =
    ledger.foreach(_.ack(GraftConsumer.ledgerKey(cfg, stream, id)))

  /** Drain this consumer's pending (deferred-unacked) backlog before going
    * live — the reference's pending→live switchover
    * (/root/reference/lib/redix/stream/consumer.ex:159-165). With
    * `minIdleMs > 0` only entries idle at least that long are redelivered
    * (XAUTOCLAIM's min-idle gate): the group ledger is shared, so "claiming"
    * is simply redelivering here, but a fresh peer must not re-run work a
    * live consumer deferred moments ago.
    */
  def drainPending(): Unit =
    for (l <- ledger if cfg.processPending) {
      l.refresh() // capture parallel-mode partition writes since construction
      val pending = l.deferred.toSeq
        .filter(k => l.idleMs(k) >= cfg.minIdleMs)
        .map(k => GraftConsumer.parseLedgerKey(cfg, k))
        .sortBy(_._2)
      // one listing per stream and one read per segment holding pending ids
      val entries = pending.groupBy(_._1).map { case (stream, ids) =>
        stream -> LogStore.readIds(cfg.logRoot, stream, ids.map(_._2).toSet)
      }
      pending.foreach { case (stream, id) =>
        entries(stream).get(id).filterNot(_.isTombstone)
          .foreach(e => dispatch(ledger, stream, e.id.toString, e.values))
      }
    }

  /** XPENDING-style snapshot of the group's pending entries: stream, id,
    * ms since last recorded delivery (-1 when none was ever recorded —
    * pre-timestamp ledger entries), and recorded delivery attempts. Driver-
    * side and bounded by the live pending set, like the PEL it mirrors.
    */
  def pendingSummary(): Seq[GraftConsumer.PendingInfo] =
    ledger.toSeq.flatMap { l =>
      l.refresh() // capture parallel-mode partition writes since construction
      l.deferred.toSeq.map { k =>
        val (stream, id) = GraftConsumer.parseLedgerKey(cfg, k)
        val (idle, n) = l.deliveryInfo(k) match {
          case Some((ms, cnt)) => (math.max(0L, clock() - ms), cnt)
          case None => (-1L, 0)
        }
        GraftConsumer.PendingInfo(stream, id, idle, n)
      }.sortBy(p => (p.stream, p.id))
    }

  /** Widening an existing single-stream consumer to a multi-stream list
    * must not silently reinterpret its legacy ledger: bare-id acks would no
    * longer match the new stream-qualified keys (redelivery) and bare-id
    * pendings would be attributed to an arbitrary stream. Reject loudly,
    * like deserializeOffset does for flat checkpoint offsets.
    */
  private def validateLedgerFormat(): Unit = for (l <- ledger) {
    val keys = l.acked ++ l.deferred
    if (cfg.multiStream) {
      val bare = keys.filterNot(_.contains('\t'))
      if (bare.nonEmpty) throw new IllegalStateException(
        s"ledger at ${cfg.ledgerDir.get} holds ${bare.size} bare-id (single-stream) " +
          s"entries, e.g. '${bare.head}', but the consumer is configured with streams " +
          s"[${cfg.streams.mkString(",")}]; widening a consumer over its existing " +
          "ledger is not supported — start a new group or migrate the ledger to " +
          "stream-qualified keys first")
    } else {
      // the narrowing direction is just as corrupting: qualified keys never
      // match the bare keys a single-stream consumer computes, so every
      // acked message would silently redeliver
      val qualified = keys.filter(_.contains('\t'))
      if (qualified.nonEmpty) throw new IllegalStateException(
        s"ledger at ${cfg.ledgerDir.get} holds ${qualified.size} stream-qualified " +
          s"(multi-stream) entries, e.g. '${qualified.head.replace("\t", "\\t")}', but " +
          s"the consumer is configured with the single stream '${cfg.stream}'; " +
          "narrowing a consumer over its existing ledger is not supported — start a " +
          "new group or keep the original stream list")
    }
  }

  def start(): StreamingQuery = {
    validateLedgerFormat()
    // fold partition/previous-run ledger files; acks at or below their
    // stream's committed checkpoint offset can never be re-dispatched
    val floors = committedOffsetFloors()
    ledger.foreach(_.compact { key: String =>
      scala.util.Try(GraftConsumer.parseLedgerKey(cfg, key)).toOption
        .exists { case (st, id) => floors.get(st).exists(id <= _) }
    })
    drainPending()
    lastDispatched = -1L
    val src = spark.readStream.format("graftlog")
      .option("path", cfg.logRoot)
      .option("stream", cfg.stream)
      .option("startingOffsets", cfg.resolvedStartingOffsets)
    // parallel dispatch runs handler code in its tasks, so it fans out over
    // the cores however few bytes a batch reads
    val fanned = if (cfg.ordered) src
      else src.option("minPartitions", spark.sparkContext.defaultParallelism.toString)
    val withMax = cfg.maxEntriesPerTrigger
      .fold(fanned)(m => fanned.option("maxEntriesPerTrigger", m.toString))
    // blocking-poll fidelity: wait for minEntriesPerTrigger up to the
    // consumer timeout; the reference's timeout=0 means block forever
    val withMin = cfg.minEntriesPerTrigger.fold(withMax)(m => withMax
      .option("minEntriesPerTrigger", m.toString)
      .option("maxTriggerDelayMs",
        (if (cfg.timeoutMs == 0L) Long.MaxValue else cfg.timeoutMs).toString))
    val live = withMin.load()
      .writeStream
      .option("checkpointLocation", cfg.checkpointDir)
    // A live consumer runs on Spark's default trigger ≙ XREADGROUP BLOCK: the
    // next batch starts as soon as the previous one ends, and an idle source
    // is polled every spark.sql.streaming.pollingDelay. AvailableNow ≙ drain
    // the backlog then stop — the reference's BLOCK-until-empty consumption
    // with a bounded lifetime.
    val writer = (if (cfg.drainAndStop) live.trigger(Trigger.AvailableNow()) else live)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        dispatching.lockInterruptibly()
        try {
          if (cfg.ordered) {
            // Ordered, driver-side dispatch: the reference is explicitly
            // sequential ("callbacks ... block all processing", README.md:124);
            // analytics workloads should use the DataFrame API instead of a
            // per-message handler, so this path is not a data plane. The rows
            // end up on the driver anyway, so the batch is collected once and
            // sorted here by (ts, seq), stream name breaking ties between
            // streams: one Spark job, where a DataFrame orderBy costs three
            // (a sampling job that scans the batch again, a shuffle and the
            // result).
            val rows = batch
              .selectExpr("stream", "id", "seq", "unix_micros(ts) AS ts_us", "values")
              .collect()
              .sortBy(r => (r.getLong(3), r.getLong(2), r.getString(0)))
            rows.foreach { r =>
              dispatch(ledger, r.getString(0), r.getString(1), r.getAs[Map[String, String]](4))
            }
          } else {
            // Parallel mode ≙ N consumers in one group (2A#15): partitions are
            // disjoint id ranges processed concurrently, each task acking into
            // its own ledger file (needs a shared FS on a real cluster).
            // Order is per-partition, as documented in SURVEY.md §1.4.
            val ledgerDir = cfg.ledgerDir.map(_.toString)
            val dispatchInTask = dispatch // the task closure must not capture this consumer
            batch.selectExpr("stream", "id", "seq", "ts", "values")
              .sortWithinPartitions("ts", "seq")
              .foreachPartition { (it: Iterator[org.apache.spark.sql.Row]) =>
                val pid = org.apache.spark.TaskContext.getPartitionId()
                // executor-side ledgers stamp delivery times with the EXECUTOR
                // wall clock (like Redis stamps server time) — an injected
                // driver clock is deliberately not shipped here: it exists for
                // deterministic driver-side tests, and a test-clock closure
                // over mutable spec state would not serialize meaningfully
                val ledger = ledgerDir.map(d =>
                  new AckLedger(Paths.get(d), s"p$pid"))
                try it.foreach { r =>
                  dispatchInTask(ledger, r.getAs[String]("stream"), r.getAs[String]("id"),
                    r.getAs[Map[String, String]]("values"))
                } finally ledger.foreach(_.close())
              }
          }
          lastDispatched = batchId
        } finally dispatching.unlock()
      }
    val q = StreamHarness.start(spark)(writer)
    query = Some(q)
    q
  }

  /** Per-stream committed floors from the last committed checkpoint batch's
    * offset file (both the flat single-stream and the multi-stream
    * `{"streams":...}` wire formats). Empty map when nothing committed. A
    * committed batch whose offset file is missing or holds no graftlog
    * offset fails loudly: guessing "no floors" would keep every ack forever,
    * and guessing any other floor could drop acks a replay still needs.
    */
  private[graft] def committedOffsetFloors(): Map[String, LogId] = {
    val commits = Paths.get(cfg.checkpointDir, "commits")
    val batches =
      if (!Files.isDirectory(commits)) Nil
      else {
        val ls = Files.list(commits)
        try ls.iterator().asScala.flatMap(_.getFileName.toString.toLongOption).toList
        finally ls.close()
      }
    if (batches.isEmpty) Map.empty
    else {
      val offsetFile = Paths.get(cfg.checkpointDir, "offsets", batches.max.toString)
      def corrupt(why: String, cause: Throwable = null) = new IllegalStateException(
        s"consumer checkpoint ${cfg.checkpointDir}: committed batch ${batches.max} " +
          s"$why ($offsetFile); repair the checkpoint or start a new one", cause)
      val lines =
        try Files.readAllLines(offsetFile, StandardCharsets.UTF_8).asScala
        catch { case e: java.io.IOException => throw corrupt("has no readable offset file", e) }
      lines.iterator
        .flatMap(l => scala.util.Try(
          graft.sources.GraftLogOffset.parse(l.trim, cfg.streams.head)).toOption)
        .nextOption().map(_.ids)
        .getOrElse(throw corrupt("has no graftlog offset in its offset file"))
    }
  }

  private[graft] def committedOffsetFloor(): Option[LogId] =
    committedOffsetFloors().get(cfg.streams.head)

  /** Graceful stop ≙ the supervisor's `sup_timeout` shutdown window
    * (/root/reference/lib/redix/stream/consumer_sup.ex:33, default 5000 ms):
    * give the in-flight dispatch up to `supTimeoutMs` to finish — so its
    * handlers run to completion and ack — and its batch to commit, then stop
    * the query before another batch dispatches. A dispatch still running at
    * the deadline is interrupted; its unacked work replays on the next start
    * (at-least-once, same as the reference's kill-after-timeout).
    */
  def stop(): Unit = {
    query.foreach { q =>
      val deadline = System.nanoTime() + cfg.supTimeoutMs * 1000000L
      val locked = dispatching.tryLock(cfg.supTimeoutMs, TimeUnit.MILLISECONDS)
      try {
        val commit = Paths.get(cfg.checkpointDir, "commits", lastDispatched.toString)
        while (q.isActive && lastDispatched >= 0 && !Files.exists(commit) &&
            System.nanoTime() < deadline)
          Thread.sleep(1)
        q.stop()
      } finally if (locked) dispatching.unlock()
    }
    ledger.foreach(_.close())
  }

  def processAllAvailable(): Unit = query.foreach(_.processAllAvailable())
}

object GraftConsumer {
  /** One XPENDING row: a pending entry's stream, id, idle time (ms since
    * last recorded delivery; -1 = never recorded), and delivery attempts.
    */
  final case class PendingInfo(stream: String, id: LogId, idleMs: Long,
      deliveries: Int)

  /** Ledger key for one message: the bare id for a single-stream consumer
    * (ledger format unchanged from earlier versions); stream-qualified with
    * a tab for multi-stream fan-in, where ids from different streams can
    * collide.
    */
  private[consumer] def ledgerKey(cfg: ConsumerConfig, stream: String, id: String): String =
    if (cfg.multiStream) s"$stream\t$id" else id

  private[consumer] def parseLedgerKey(cfg: ConsumerConfig, key: String): (String, LogId) =
    key.split('\t') match {
      case Array(st, id) if cfg.multiStream => (st, LogId.parse(id))
      case Array(_) if cfg.multiStream =>
        // Bare id under a widened stream list: guessing streams.head could
        // attribute the pending entry to the wrong stream. Fail loudly,
        // mirroring deserializeOffset's rejection of flat checkpoint offsets.
        throw new IllegalStateException(
          s"bare-id ledger key '$key' but consumer is configured with streams " +
            s"[${cfg.streams.mkString(",")}]; a single-stream consumer cannot be " +
            "widened over its existing ledger — start a new group or migrate the " +
            "ledger entries to stream-qualified keys first")
      case _ => (cfg.streams.head, LogId.parse(key))
    }
}

/** Dispatch one entry into `ledger`; mirrors call_handler + the
  * :ok/:defer/error branches (the reference's lib/redix/stream/consumer.ex,
  * lines 190-216). The one per-message dispatch of both consumer modes:
  * ordered mode and the pending drain pass the consumer's own ledger,
  * parallel mode each task's `p<N>` ledger. Serializable, so parallel-mode tasks
  * carry it (with the handler); each deserialized copy opens its own
  * dead-letter writer on first use, and the writer's stream lock orders
  * their appends.
  */
private[consumer] final class Dispatch(cfg: ConsumerConfig,
    handler: (String, Option[String], String, Map[String, String]) => HandlerResult)
    extends Serializable {
  @transient private lazy val deadLetters: Option[graft.log.LogWriter] =
    cfg.deadLetterStream.map(d => new graft.log.LogWriter(cfg.logRoot, d))

  def apply(ledger: Option[AckLedger], stream: String, id: String,
      values: Map[String, String]): Unit = {
    val key = GraftConsumer.ledgerKey(cfg, stream, id)
    if (!ledger.exists(_.acked.contains(key))) {
      handler(stream, cfg.groupName, id, values) match {
        case HandlerResult.Ok => ledger.foreach(_.ack(key))
        case HandlerResult.Defer => ledger.foreach(_.defer(key))
        case HandlerResult.Err(cause) =>
          // dead-letter routing: count the failed delivery first; once a
          // message has failed maxDeliveries times it is poison — park it
          // in the DLQ stream with provenance and ack it, BEFORE any
          // raise, so a crash-looping consumer breaks the loop on the
          // delivery after the limit instead of crashing forever.
          val attempts = ledger.map(_.fail(key)).getOrElse(0)
          val poison = cfg.deadLetterStream.isDefined &&
            cfg.maxDeliveries.exists(attempts >= _)
          if (poison) {
            deadLetters.foreach(_.produce(values ++ Map(
              "__dlq_stream" -> stream,
              "__dlq_id" -> id,
              "__dlq_attempts" -> attempts.toString,
              "__dlq_error" -> String.valueOf(cause.getMessage))))
            ledger.foreach(_.ack(key))
          } else if (cfg.raiseErrors) throw cause
          // non-raising error in group mode: leave the id unacked-but-pending
          // (≙ the reference's errored message staying in the PEL,
          // lib/redix/stream/consumer.ex:206-216) so
          // drainPending redelivers it — never silently lost just because
          // the micro-batch offset commits.
          else ledger.foreach(_.defer(key))
      }
    }
  }
}

/** Restart policy ≙ the `sup_restart` option
  * (/root/reference/lib/redix/stream/consumer_sup.ex:12-23, README.md:106-118),
  * OTP's restart-type triple:
  *   - `Transient`  — restart only on abnormal exit (the supervisor default);
  *   - `Temporary`  — never restart: the first failure propagates to the
  *     caller untouched;
  *   - `Permanent`  — restart even after a NORMAL exit (the consumer that
  *     must always be running): each completed run starts over from the
  *     checkpoint until the restart budget is spent, then returns normally.
  */
sealed trait RestartPolicy
object RestartPolicy {
  case object Permanent extends RestartPolicy
  case object Transient extends RestartPolicy
  case object Temporary extends RestartPolicy
}

/** Supervision ≙ ConsumerSup's one-for-one restart
  * (/root/reference/lib/redix/stream/consumer_sup.ex:12-40): run the
  * consumer, and on failure restart it from the checkpoint — Structured
  * Streaming then re-runs the uncommitted batch (pending replay), giving the
  * reference's group-mode at-least-once contract.
  */
object ConsumerRunner {
  def runSupervised(spark: SparkSession, cfg: ConsumerConfig,
      handler: (String, Option[String], String, Map[String, String]) => HandlerResult,
      maxRestarts: Int = 3,
      restart: RestartPolicy = RestartPolicy.Transient,
      until: GraftConsumer => Boolean = _ => true,
      clock: () => Long = () => System.currentTimeMillis()): GraftConsumer = {
    val consumer = new GraftConsumer(spark, cfg, handler, clock)
    var restarts = 0
    var done = false
    while (!done) {
      // start() is inside the try: a handler crash during the pending drain
      // must also trigger a supervised restart, exactly like a crash in the
      // live loop (the reference supervisor treats both the same).
      try {
        val q = consumer.start()
        var caughtUp = false
        while (!caughtUp) {
          q.processAllAvailable()
          if (until(consumer)) caughtUp = true else Thread.sleep(50)
        }
        consumer.stop()
        restart match {
          // permanent child: a normal exit is also restarted (the checkpoint
          // makes the re-run incremental — only new entries are dispatched)
          case RestartPolicy.Permanent if restarts < maxRestarts => restarts += 1
          case _ => done = true
        }
      } catch {
        case e: Throwable =>
          try consumer.stop() catch { case _: Throwable => () }
          restart match {
            case RestartPolicy.Temporary => throw e // never restarted
            case _ if restarts >= maxRestarts => throw e
            case _ =>
              restarts += 1 // one-for-one restart; checkpoint replays unacked work
          }
      }
    }
    consumer
  }
}
