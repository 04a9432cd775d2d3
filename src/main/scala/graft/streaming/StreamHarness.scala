package graft.streaming

import org.apache.spark.sql.streaming.{DataStreamWriter, StreamingQuery, Trigger}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Where engine streaming queries start and drain. [[start]] is the one
  * place a `DataStreamWriter` is started: it installs the java.nio
  * checkpoint file manager and pins state-store sizing only for the
  * duration of `start()` (safe to restore right after — the stream clones
  * the session conf synchronously inside start). [[runToMemory]] drains a
  * plan into a fresh uniquely-named memory sink under Trigger.AvailableNow
  * with a temp checkpoint; the sink view is registered with
  * [[graft.CacheScope]] before the wait, so the runner's per-query release
  * drops the drained rows from driver memory even after a failed drain
  * (per-row sinks would otherwise pin the whole stream for the session's
  * lifetime); and, unless the caller opts out, a drain that dropped rows at
  * the watermark fails instead of returning a short answer.
  */
object StreamHarness {

  private val ShuffleKey = "spark.sql.shuffle.partitions"
  private val ManagerKey = "spark.sql.streaming.checkpointFileManagerClass"
  private val StoreKey = "spark.sql.streaming.stateStore.providerClass"
  private val RocksDb =
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"

  /** Start `writer`'s query: the one place an engine streaming query is
    * started. While `writer.start()` runs, the session carries:
    *  - [[LocalCheckpointFileManager]] as the checkpoint file manager, unless
    *    the session already names one (a user's own manager is never
    *    replaced). The query's offset log, commit log and state-store files
    *    are then written with java.nio, not through Hadoop's local
    *    `FileContext`, which spawns `chmod`/`ls` processes for every write
    *    where libhadoop is missing (tens of ms per file, every micro-batch);
    *  - with `statePartitions`, that shuffle-partition count, which a NEW
    *    checkpoint freezes as its state-store partition count. Stateful
    *    queries size it to the KEY CARDINALITY: each micro-batch pays one
    *    state commit per partition, so a handful-of-keys aggregation on a
    *    32-partition store pays 32 commits a batch for state that fits in
    *    one (q352: 5 epochs x 32 commits was ~2 s of commit overhead).
    * Both are restored right after: the stream clones the session conf
    * synchronously inside `start()`. A start racing another on the same
    * session may see or miss the other's manager setting; both managers
    * write the same bytes, so that only changes the write cost.
    */
  def start(s: SparkSession, statePartitions: Option[Int] = None)
      (writer: => DataStreamWriter[_]): StreamingQuery = {
    val manager =
      if (s.conf.getOption(ManagerKey).isDefined) None
      else Some(ManagerKey -> classOf[LocalCheckpointFileManager].getName)
    withConf(s, manager.toSeq ++ statePartitions.map(n => ShuffleKey -> n.toString))(writer.start())
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

  /** Drain `build`'s streaming plan to a memory sink and return it as a
    * (lazy) DataFrame. `statePartitions` sizes the state store to the key
    * cardinality — each micro-batch pays one state commit per partition, so
    * small state wants far fewer than the session's shuffle default.
    * `rocksdb` selects the RocksDB provider (required by transformWithState
    * for column families).
    *
    * With `failOnLateDrop` (the default), a drained query that silently
    * dropped rows at the watermark ABORTS instead of returning a plausible
    * wrong answer: every engine-streaming oracle query's fixture is produced
    * so nothing is ever late, so a nonzero drop count means the fixture's
    * order/watermark discipline broke (round-4 advice: q139's 0 s watermark
    * depends on cross-batch event-time order — make disorder fail loudly).
    * q144, which oracle-checks the drop semantics themselves, opts out.
    */
  def runToMemory(s: SparkSession, prefix: String, statePartitions: Int,
      mode: String = "append", rocksdb: Boolean = false,
      failOnLateDrop: Boolean = true)
      (build: => DataFrame): DataFrame = {
    val sinkName = s"${prefix}_sink_${System.nanoTime()}"
    val q = withConf(s, if (rocksdb) Seq(StoreKey -> RocksDb) else Nil) {
      start(s, Some(statePartitions)) {
        build.writeStream.outputMode(mode)
          .format("memory").queryName(sinkName)
          .option("checkpointLocation", graft.TempDirs.scratch(s"graft-$prefix-ckpt"))
          .trigger(Trigger.AvailableNow())
      }
    }
    // register before waiting: a query that fails mid-drain must still get
    // its partially filled sink dropped at the next release
    graft.CacheScope.sinkView(s, sinkName)
    q.awaitTermination()
    if (failOnLateDrop) {
      val dropped = q.recentProgress.iterator
        .flatMap(p => Option(p.stateOperators).iterator.flatten)
        .map(_.numRowsDroppedByWatermark)
        .sum
      require(dropped == 0L,
        s"$prefix dropped $dropped late rows at the watermark — the fixture's " +
          "event-time order or watermark delay no longer covers its disorder")
    }
    s.table(sinkName)
  }
}
