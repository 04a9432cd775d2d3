package graft.streaming

import org.apache.spark.sql.catalyst.plans.{Inner, LeftSemi}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.{Files, Paths}

/** Where engine streaming queries start and drain. [[start]] is the one
  * place a `DataStreamWriter` is started. [[drain]] is the reference
  * consumer's drain-the-backlog-then-stop (SURVEY §2A row 3) as one call;
  * [[firstBatch]] runs exactly one committed micro-batch and stops;
  * [[runToMemory]] is the memory-sink case of [[drain]]; and
  * [[drainAcross]] keeps ONE query running while its source is appended to
  * between drains (q144: a memory sink restarted per phase would lose the
  * rows the earlier phases emitted). No engine query picks its own trigger,
  * wait or stop: `SourceLayoutSpec` checks the compiled classes.
  */
object StreamHarness {

  private val ShuffleKey = "spark.sql.shuffle.partitions"
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val StoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val NoDataKey = "spark.sql.streaming.noDataMicroBatches.enabled"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
  private val FirstBatchTimeoutMs = 120000L

  /** The shuffle (and so state-store) partition count of every query
    * [[start]] starts; see there.
    */
  private[graft] val StateWidth = 2

  /** Start `writer`'s query: the one place an engine streaming query is
    * started. While `writer.start()` runs, the session carries:
    *  - [[LocalCheckpointFileManager]] as the checkpoint file manager, unless
    *    the session already names one (a user's own manager is never
    *    replaced). The query's offset log, commit log and state-store files
    *    are then written with java.nio, not through Hadoop's local
    *    `FileContext`, which spawns `chmod`/`ls` processes for every write
    *    where libhadoop is missing (tens of ms per file, every micro-batch);
    *  - [[StateWidth]] shuffle partitions, which a NEW checkpoint freezes as
    *    its state-store partition count. Every micro-batch pays one state
    *    commit per partition, and at the engine's state sizes that fixed
    *    cost, not the state itself, is what a wider store adds: q352 once
    *    paid 32 commits a batch on a core-count width for a handful of
    *    keys. So the width is one constant for every query, never the
    *    caller's choice nor the core count. It also sizes the query's
    *    other shuffles; the consumer's batch plans have none.
    * Both are restored right after: the stream clones the session conf
    * synchronously inside `start()`. A start racing another on the same
    * session may see or miss the other's manager setting; both managers
    * write the same bytes, so that only changes the write cost.
    */
  def start(s: SparkSession)(writer: => DataStreamWriter[_]): StreamingQuery = {
    val manager =
      if (s.conf.getOption(ManagerKey).isDefined) None
      else Some(ManagerKey -> classOf[LocalCheckpointFileManager].getName)
    withConf(s, manager.toSeq :+ (ShuffleKey -> StateWidth.toString))(writer.start())
  }

  /** Run `body` with `pins` set on the session conf, then restore each key. */
  private def withConf[T](s: SparkSession, pins: Seq[(String, String)])(body: => T): T = {
    val prev = pins.map { case (k, _) => k -> s.conf.getOption(k) }
    pins.foreach { case (k, v) => s.conf.set(k, v) }
    try body
    finally prev.foreach {
      case (k, Some(v)) => s.conf.set(k, v)
      case (k, None) => s.conf.unset(k)
    }
  }

  /** Drain `writer`'s query under `Trigger.AvailableNow` (started through
    * [[start]]): wait until it has read what its sources held at the start,
    * stop it, and return the stopped query (`recentProgress` stays readable).
    * A drain that dropped rows at the watermark FAILS instead of returning a
    * plausible wrong answer: every engine-streaming oracle fixture is made so
    * nothing is late (q139's 0 s watermark relies on cross-batch order).
    */
  def drain(s: SparkSession)(writer: => DataStreamWriter[_]): StreamingQuery =
    drainWith(s, Nil)(writer)

  private def drainWith(s: SparkSession, pins: Seq[(String, String)])
      (writer: => DataStreamWriter[_]): StreamingQuery = {
    val q = withConf(s, pins)(start(s)(writer.trigger(Trigger.AvailableNow())))
    try q.awaitTermination()
    finally q.stop()
    val dropped = droppedByWatermark(q)
    require(dropped == 0L,
      s"${Option(q.name).getOrElse(q.id.toString)} dropped $dropped late rows at " +
        "the watermark — the fixture's event-time order or watermark delay no " +
        "longer covers its disorder")
    q
  }

  /** Rows `q`'s state operators dropped at the watermark, over its recent progress. */
  def droppedByWatermark(q: StreamingQuery): Long = q.recentProgress.iterator
    .flatMap(p => Option(p.stateOperators).iterator.flatten)
    .map(_.numRowsDroppedByWatermark).sum

  /** Run exactly ONE micro-batch of `writer`'s query on `checkpoint`, then
    * stop: a processing-time trigger an hour long fires the first batch at
    * once and the second an hour later, and the query stops as soon as its
    * first batch is in the checkpoint's commit log (it fails after 120 s
    * without one). A source cap (`maxEntriesPerTrigger`) bounds what that
    * batch reads — unlike `Trigger.Once`, under which Spark reads every
    * source to its head and ignores the cap. Returns the stopped query.
    */
  def firstBatch(s: SparkSession, checkpoint: String)
      (writer: => DataStreamWriter[_]): StreamingQuery = {
    val q = start(s) {
      writer.option("checkpointLocation", checkpoint)
        .trigger(Trigger.ProcessingTime("1 hour"))
    }
    try {
      val commit0 = Paths.get(checkpoint, "commits", "0")
      val deadline = System.currentTimeMillis() + FirstBatchTimeoutMs
      while (!Files.exists(commit0) && q.isActive &&
          System.currentTimeMillis() < deadline) Thread.sleep(50)
      q.exception.foreach(e => throw e)
      require(Files.exists(commit0),
        s"the first micro-batch on $checkpoint did not commit within " +
          s"${FirstBatchTimeoutMs / 1000} s")
    } finally q.stop()
    q
  }

  /** Start `writer`'s query on the default trigger and let it read all it
    * can; after each of `appends`, let the SAME query read again; stop. Late
    * drops are the caller's to judge (q144 drops rows on purpose).
    */
  def drainAcross(s: SparkSession)
      (writer: => DataStreamWriter[_])(appends: (() => Unit)*): StreamingQuery = {
    val q = start(s)(writer)
    try {
      q.processAllAvailable()
      appends.foreach { append => append(); q.processAllAvailable() }
    } finally q.stop()
    q
  }

  /** [[drain]] `build`'s plan into a fresh memory sink on a temp checkpoint
    * and return the sink as a (lazy) DataFrame. The sink view is registered
    * with [[graft.CacheScope]] first, so a failed drain's rows are freed too.
    * A plan holding a `transformWithState` runs on RocksDB, the one state
    * store Spark accepts for it. An [[evictionSilent]] plan drains without
    * Spark's no-data micro-batches: the drain ends at its last data batch
    * instead of running one more batch that only drops state it discards.
    */
  def runToMemory(s: SparkSession, prefix: String, mode: String = "append")
      (build: => DataFrame): DataFrame = {
    val sinkName = s"${prefix}_sink_${System.nanoTime()}"
    val plan = build
    val analyzed = plan.queryExecution.analyzed
    val store = if (analyzed.exists(_.isInstanceOf[TransformWithState]))
      Seq(StoreKey -> RocksDb) else Nil
    val noData = if (evictionSilent(analyzed, mode)) Seq(NoDataKey -> "false") else Nil
    graft.CacheScope.sinkView(s, sinkName)
    drainWith(s, store ++ noData) {
      plan.writeStream.outputMode(mode)
        .format("memory").queryName(sinkName)
        .option("checkpointLocation", graft.TempDirs.scratch(s"graft-$prefix-ckpt"))
    }
    s.table(sinkName)
  }

  /** True when evicting state cannot add to `plan`'s output under output
    * `mode`, so a no-data batch (which only evicts) emits nothing. The
    * stateful nodes allowed are stream-stream `Inner`/`LeftSemi` joins (rows
    * are emitted on match), deduplication, and aggregates outside `append`
    * mode (a group is emitted when it changes); the stateless ones are the
    * kinds the engine's plans use. Anything else is refused: outer and anti
    * joins emit unmatched rows on eviction, append-mode aggregates (session
    * windows too) emit closed windows, and `flatMapGroupsWithState` and
    * `transformWithState` fire timers in no-data batches.
    */
  private def evictionSilent(plan: LogicalPlan, mode: String): Boolean = {
    val append = mode.equalsIgnoreCase("append")
    def silent(n: LogicalPlan): Boolean = n match {
      case j: Join if j.left.isStreaming && j.right.isStreaming =>
        j.joinType == Inner || j.joinType == LeftSemi
      case _: Aggregate | _: Distinct => !append
      case _: Deduplicate | _: DeduplicateWithinWatermark | _: LeafNode | _: Project |
          _: Filter | _: SubqueryAlias | _: Union | _: Generate | _: EventTimeWatermark |
          _: Join => true
      case _ => false
    }
    !plan.exists(n => n.isStreaming && !silent(n))
  }
}
