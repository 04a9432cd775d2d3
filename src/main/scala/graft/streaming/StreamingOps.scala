package graft.streaming

import org.apache.spark.sql.{functions => F}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, GroupState, GroupStateTimeout, ListState, MapState, OutputMode, StatefulProcessor, TimeMode, TimerValues, ValueState}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}

/** First-class streaming analytics over any unbounded DataFrame (typically
  * the graftlog source) — SURVEY.md §2B "streaming event-time" and "stateful
  * streaming". The reference delegates every one of these to a user handler
  * run message-at-a-time in a GenServer loop
  * (/root/reference/lib/redix/stream/consumer.ex:190-249); here they are
  * declarative plans Structured Streaming executes incrementally with
  * watermark-bounded state — the property that makes them viable on an
  * unbounded 100 TB stream (state is pruned, not accumulated forever).
  */
object StreamingOps {

  /** Tumbling event-time counts with late-data drop beyond the watermark. */
  def tumblingCounts(events: DataFrame, tsCol: String, watermark: String,
      window: String, keyCols: String*): DataFrame = {
    val keyed = keyCols.map(col)
    events
      .withWatermark(tsCol, watermark)
      .groupBy(F.window(col(tsCol), window) +: keyed: _*)
      .agg(count(lit(1)).as("n"))
      .select((struct(col("window.start").as("start"), col("window.end").as("end"))
        .as("win") +: keyed :+ col("n")): _*)
  }

  /** Streaming deduplication with bounded state: duplicates of a key arriving
    * within the watermark horizon are dropped, state beyond it is pruned —
    * the streaming twin of the batch dedup family (operators.Dedup).
    */
  def dedupWithinWatermark(events: DataFrame, tsCol: String, watermark: String,
      keyCols: String*): DataFrame =
    events
      .withWatermark(tsCol, watermark)
      .dropDuplicatesWithinWatermark(keyCols.toSeq)

  /** Watermarked stream-stream inner join with an event-time interval bound —
    * both sides' buffered state is bounded by the watermark + interval.
    */
  def intervalJoin(left: DataFrame, leftTs: String, right: DataFrame,
      rightTs: String, key: String, watermark: String, maxDelay: String): DataFrame = {
    val l = left.withWatermark(leftTs, watermark).as("l")
    val r = right.withWatermark(rightTs, watermark).as("r")
    l.join(r, expr(
      s"l.$key = r.$key AND r.$rightTs >= l.$leftTs AND " +
        s"r.$rightTs <= l.$leftTs + interval $maxDelay"))
  }

  /** transformWithState processor: per-key running count in engine-owned
    * `ValueState` — the modern (Spark 4) replacement for
    * flatMapGroupsWithState, with typed state handles and TTL support.
    */
  private class RunningCountProcessor
      extends StatefulProcessor[String, (String, String), (String, Long, String)] {
    @transient private var count: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      count = getHandle.getValueState[Long]("count", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, String)],
        timerValues: TimerValues): Iterator[(String, Long, String)] = {
      var n = if (count.exists()) count.get() else 0L
      val out = rows.map { case (_, v) =>
        n += 1
        (key, n, v)
      }.toList
      count.update(n)
      out.iterator
    }
  }

  /** transformWithState processor over typed `ValueState`: per key, carry
    * the last observed (non-missing) reading forward — streaming LOCF
    * (last observation carried forward), the unbounded twin of the batch
    * forward-fill window (q99). Input rows are (key, seq, obs) with
    * obs == Long.MinValue marking a missing reading; in-batch rows are
    * sorted by seq before processing, and across batches the log source's
    * id-ordered delivery IS the sequence order, so the fill is exactly the
    * batch semantics. State per key is ONE long forever — O(distinct keys)
    * however long the stream runs. Emits (key, seq, filled), -1 before the
    * key's first observation.
    */
  private class LocfProcessor
      extends StatefulProcessor[String, (String, Long, Long), (String, Long, Long)] {
    @transient private var last: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      last = getHandle.getValueState[Long]("last", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      val out = rows.toIndexedSeq.sortBy(_._2).map { case (_, seq, obs) =>
        if (obs != Long.MinValue) last.update(obs)
        (key, seq, if (last.exists()) last.get() else -1L)
      }
      out.iterator
    }
  }

  /** Streaming forward fill on [[LocfProcessor]]: `events` must carry a
    * key column, a monotonically-increasing sequence column, and an
    * observation column where `Long.MinValue` means missing.
    */
  def forwardFillByKeyTws(spark: SparkSession, events: DataFrame,
      keyCol: String, seqCol: String, obsCol: String): Dataset[(String, Long, Long)] = {
    import spark.implicits._
    events
      .selectExpr(s"CAST($keyCol AS STRING) AS k",
        s"CAST($seqCol AS BIGINT) AS seq", s"CAST($obsCol AS BIGINT) AS obs")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new LocfProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** transformWithState processor for streaming 3-sigma anomaly flags: per
    * key, running (n, sum, sumsq) in one ValueState tuple; each reading is
    * judged against the state BEFORE it (so a wild value can't mask
    * itself), then folded in. The test is the cross-multiplied integer
    * compare (n*v - sum)^2 > 9*(n*sumsq - sum^2) — no float mean/variance
    * to diverge, and the same arithmetic a batch cumulative window states.
    * Emits (key, seq, v, flag) with flag = -1 during warm-up (n < minN).
    */
  private class AnomalyProcessor(minN: Long)
      extends StatefulProcessor[String, (String, Long, Long), (String, Long, Long, Int)] {
    @transient private var st: ValueState[(Long, Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long, Long)]("moments",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long, Int)] = {
      var (n, sum, sumsq) = if (st.exists()) st.get() else (0L, 0L, 0L)
      val out = rows.toIndexedSeq.sortBy(_._2).map { case (_, seq, v) =>
        val flag =
          if (n < minN) -1
          else {
            val dev = n * v - sum
            if (dev * dev > 9L * (n * sumsq - sum * sum)) 1 else 0
          }
        n += 1; sum += v; sumsq += v * v
        (key, seq, v, flag)
      }
      st.update((n, sum, sumsq))
      out.iterator
    }
  }

  /** transformWithState processor for streaming CEP (A-then-B-unless-C):
    * per key, ONE ValueState pair (lastClickUs, lastErrorUs); a purchase
    * row matches when a click precedes it within the window and no error
    * arrived after that click. Constant state per user forever; in-batch
    * rows sort by (us, seq) and cross-batch order rides the log's
    * id-ordered delivery — the streamed matches equal q292's batch window
    * semantics row for row. Emits one (key, matchSeq, gapUs) per match.
    */
  private class CepProcessor(windowUs: Long)
      extends StatefulProcessor[String, (String, Long, Long, String), (String, Long, Long)] {
    @transient private var st: ValueState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Long, Long)]("cep",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, Long, String)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      var (lastClick, lastError) = if (st.exists()) st.get() else (-1L, -1L)
      val out = scala.collection.mutable.ArrayBuffer[(String, Long, Long)]()
      rows.toIndexedSeq.sortBy(r => (r._3, r._2)).foreach {
        case (_, seq, us, et) =>
          et match {
            case "purchase" =>
              if (lastClick >= 0 && us - lastClick <= windowUs &&
                lastError < lastClick)
                out += ((key, seq, us - lastClick))
            case "click" => lastClick = us
            case "error" => lastError = us
            case _ => ()
          }
      }
      st.update((lastClick, lastError))
      out.iterator
    }
  }

  /** Streaming CEP pattern matching on [[CepProcessor]]: `events` must
    * carry key, sequence, event-time micros, and event-type columns.
    */
  def cepMatchesByKeyTws(spark: SparkSession, events: DataFrame,
      keyCol: String, seqCol: String, usCol: String, typeCol: String,
      windowUs: Long): Dataset[(String, Long, Long)] = {
    import spark.implicits._
    events
      .selectExpr(s"CAST($keyCol AS STRING) AS k",
        s"CAST($seqCol AS BIGINT) AS seq", s"CAST($usCol AS BIGINT) AS us",
        s"CAST($typeCol AS STRING) AS et")
      .as[(String, Long, Long, String)]
      .groupByKey(_._1)
      .transformWithState(new CepProcessor(windowUs),
        TimeMode.None(), OutputMode.Append())
  }

  /** Streaming per-key 3-sigma anomaly detection on [[AnomalyProcessor]]. */
  def anomalyFlagsByKeyTws(spark: SparkSession, events: DataFrame,
      keyCol: String, seqCol: String, valCol: String,
      minN: Long): Dataset[(String, Long, Long, Int)] = {
    import spark.implicits._
    events
      .selectExpr(s"CAST($keyCol AS STRING) AS k",
        s"CAST($seqCol AS BIGINT) AS seq", s"CAST($valCol AS BIGINT) AS v")
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .transformWithState(new AnomalyProcessor(minN),
        TimeMode.None(), OutputMode.Append())
  }

  /** transformWithState processor for a per-user conversion funnel: a
    * 3-stage state machine over an ordered step list. State is ONE
    * ValueState tuple (stage, tStage) — constant per user forever; a step-k
    * event advances the machine only when the user sits at stage k-1 and
    * the event is STRICTLY later than the stage-(k-1) time, which is
    * exactly the chained-min-ts funnel (q227's batch semantics). Rows are
    * sorted by (ts, seq) inside each batch; across batches the log's id
    * order must itself be event-time order (bulk-produce keyed on event
    * time) — same delivery discipline as [[AnomalyProcessor]]'s callers.
    * Emits (user, stage) once per stage TRANSITION, so sink volume is
    * bounded by 3 rows/user no matter how long the stream runs.
    */
  private class FunnelProcessor(steps: IndexedSeq[String])
      extends StatefulProcessor[String, (String, Long, String, Long), (String, Int)] {
    @transient private var st: ValueState[(Int, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[(Int, Long)]("funnel",
        Encoders.tuple(Encoders.scalaInt, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, String, Long)],
        timerValues: TimerValues): Iterator[(String, Int)] = {
      var (stage, tStage) = if (st.exists()) st.get() else (0, Long.MinValue)
      val out = scala.collection.mutable.ArrayBuffer[(String, Int)]()
      rows.toIndexedSeq.sortBy(r => (r._2, r._4)).foreach { case (_, ts, et, _) =>
        if (stage < steps.length && et == steps(stage) &&
            (stage == 0 || ts > tStage)) {
          stage += 1; tStage = ts
          out += ((key, stage))
        }
      }
      st.update((stage, tStage))
      out.iterator
    }
  }

  /** Streaming funnel on [[FunnelProcessor]]: emits stage-transition rows
    * (user, stage reached).
    */
  def funnelByUserTws(spark: SparkSession, events: DataFrame,
      keyCol: String, tsCol: String, typeCol: String, seqCol: String,
      steps: Seq[String]): Dataset[(String, Int)] = {
    import spark.implicits._
    events
      .selectExpr(s"CAST($keyCol AS STRING) AS k",
        s"CAST($tsCol AS BIGINT) AS tsu", s"CAST($typeCol AS STRING) AS et",
        s"CAST($seqCol AS BIGINT) AS seq")
      .as[(String, Long, String, Long)]
      .groupByKey(_._1)
      .transformWithState(new FunnelProcessor(steps.toIndexedSeq),
        TimeMode.None(), OutputMode.Append())
  }

  /** transformWithState processor over typed `MapState`: per grouping key,
    * a map of sub-key -> running count. The sub-key space lives INSIDE the
    * state store (one map entry per live sub-key, point-updated), not in
    * the shuffle key — the layout for per-entity counters under a coarse
    * partition key (e.g. per-type × user-bucket tallies).
    */
  private class BucketCountProcessor
      extends StatefulProcessor[String, (String, Long), (String, Long, Long)] {
    @transient private var counts: MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counts = getHandle.getMapState[Long, Long]("counts",
        Encoders.scalaLong, Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, Long)] = {
      val out = rows.map { case (_, bucket) =>
        val n = (if (counts.containsKey(bucket)) counts.getValue(bucket) else 0L) + 1
        counts.updateValue(bucket, n)
        (key, bucket, n)
      }.toList // materialize so every state update lands before emission
      out.iterator
    }
  }

  /** transformWithState processor over typed `ListState`: per key, a
    * bounded list of the most recent `n` ids (oldest first). Each row
    * emits the history as it stood BEFORE that row, then appends itself
    * and trims — the streaming twin of a "last-N per key" feature join,
    * with state bounded at n entries per key by construction. Requires
    * ids ascending across batches (the log source's delivery order);
    * in-batch rows are sorted before processing.
    */
  private class RecentIdsProcessor(n: Int)
      extends StatefulProcessor[String, (String, Long), (String, Long, String)] {
    @transient private var recent: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      recent = getHandle.getListState[Long]("recent", Encoders.scalaLong,
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, Long)],
        timerValues: TimerValues): Iterator[(String, Long, String)] = {
      var hist: List[Long] = recent.get().toList
      val out = rows.map(_._2).toList.sorted.map { id =>
        val before = hist.mkString(",")
        hist = (hist :+ id).takeRight(n)
        (key, id, before)
      }
      recent.put(hist.toArray)
      out.iterator
    }
  }

  /** transformWithState processor with EVENT-TIME TIMERS: gap-based
    * sessionization over per-key arbitrary state. Sessions that close
    * INSIDE a batch (a later row arrives past the gap) emit immediately;
    * the key's final open session emits from `handleExpiredTimer` when the
    * watermark passes its deadline (last event + gap) — the timer is the
    * engine-owned replacement for the reference pattern of a handler
    * process scheduling itself a timeout message
    * (/root/reference/lib/redix/stream/consumer.ex:315-330, the
    * Process.send_after self-scheduling loop). State per key is one
    * (start, last, n) triple plus one registered timer; both are dropped
    * on emission, so the store is O(live sessions). Times are event-time
    * MICROseconds (ms would merge sessions whose gap straddles a
    * millisecond edge that the micro-precision batch oracle keeps apart).
    * Each input batch deletes the key's stale timer and re-registers the
    * new deadline, so exactly one timer is ever live per key.
    */
  private class SessionTimerProcessor(gapUs: Long)
      extends StatefulProcessor[String, (String, java.sql.Timestamp), (String, Long, Long, Long)] {
    @transient private var sess: ValueState[(Long, Long, Long)] = _
    private def micros(ts: java.sql.Timestamp): Long =
      Math.floorDiv(ts.getTime, 1000L) * 1000000L + ts.getNanos / 1000L
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      sess = getHandle.getValueState[(Long, Long, Long)]("sess",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    override def handleInputRows(key: String, rows: Iterator[(String, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(String, Long, Long, Long)] = {
      var closed = List.empty[(String, Long, Long, Long)]
      var cur: Option[(Long, Long, Long)] =
        if (sess.exists()) Some(sess.get()) else None
      rows.map(r => micros(r._2)).toList.sorted.foreach { ts =>
        cur match {
          case Some((st, last, n)) if ts - last >= gapUs =>
            closed ::= ((key, st, last, n))
            cur = Some((ts, ts, 1L))
          case Some((st, last, n)) =>
            cur = Some((st, math.max(last, ts), n + 1))
          case None =>
            cur = Some((ts, ts, 1L))
        }
      }
      cur.foreach { c =>
        sess.update(c)
        // materialize before mutating: deleting while iterating the live
        // timer iterator is provider-dependent
        getHandle.listTimers().toList.foreach(getHandle.deleteTimer)
        // timers are registered in event-time MILLIseconds (the engine
        // compares them against the watermark); round the deadline UP so
        // the timer can never fire before the exact micro deadline
        getHandle.registerTimer((c._2 + gapUs + 999L) / 1000L)
      }
      closed.reverse.iterator
    }
    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(String, Long, Long, Long)] =
      if (sess.exists()) {
        val (st, last, n) = sess.get()
        sess.clear()
        Iterator.single((key, st, last, n))
      } else Iterator.empty
  }

  /** Gap-based sessionization on transformWithState event-time timers:
    * input rows are (key, event-time); emits one row per closed session
    * as (key, startMicros, endMicros, nEvents). `tsCol` must be the
    * watermarked TimestampType column — it is carried into the typed rows
    * unchanged so the event-time/watermark lineage survives into the
    * stateful operator. Requires per-key event-time-ordered arrival
    * ACROSS batches (in-batch rows are sorted); produce the log in ts
    * order, as q128/q120 do for their id orders.
    */
  def sessionizeWithTimers(spark: SparkSession, events: DataFrame,
      keyCol: String, tsCol: String, gapUs: Long): Dataset[(String, Long, Long, Long)] = {
    import spark.implicits._
    events
      .select(col(keyCol).cast("string").as("k"), col(tsCol))
      .as[(String, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new SessionTimerProcessor(gapUs),
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Per-key last-`n` history on transformWithState ListState: emits
    * (key, id, comma-joined prior history) per input row.
    */
  def recentIdsByKeyTws(spark: SparkSession, events: DataFrame,
      keyCol: String, idCol: String, n: Int): Dataset[(String, Long, String)] = {
    import spark.implicits._
    events
      .selectExpr(s"CAST($keyCol AS STRING) AS k", s"CAST($idCol AS BIGINT) AS id")
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new RecentIdsProcessor(n),
        TimeMode.None(), OutputMode.Append())
  }

  /** Per-(key, bucket) running counts on transformWithState MapState:
    * emits (key, bucket, runningCount) for every input row.
    */
  def bucketCountsByKeyTws(spark: SparkSession, events: DataFrame,
      keyCol: String, bucketCol: String): Dataset[(String, Long, Long)] = {
    import spark.implicits._
    events
      .selectExpr(s"CAST($keyCol AS STRING) AS k", s"CAST($bucketCol AS BIGINT) AS b")
      .as[(String, Long)]
      .groupByKey(_._1)
      .transformWithState(new BucketCountProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** `runningCountByKey` on the transformWithState API (state store-backed
    * typed ValueState per key; same semantics as the fMGWS variant).
    */
  def runningCountByKeyTws(spark: SparkSession, events: DataFrame,
      keyCol: String, valueCol: String): Dataset[(String, Long, String)] = {
    import spark.implicits._
    events
      .selectExpr(s"CAST($keyCol AS STRING) AS k", s"CAST($valueCol AS STRING) AS v")
      .as[(String, String)]
      .groupByKey(_._1)
      .transformWithState(new RunningCountProcessor,
        TimeMode.None(), OutputMode.Append())
  }

  /** Per-key minimum-id tracking for streaming near-dup detection: rows are
    * (key, id); emits (id, hit) where hit means an id smaller than this one
    * was already seen under the same key — in an earlier batch (engine
    * state) or earlier in this batch. State per key is ONE long (the
    * minimum id), so the store is O(distinct keys) no matter how long the
    * stream runs; with LSH band keys that is O(corpus bands), the same
    * budget the batch LSH join shuffles.
    *
    * ORDER-DEPENDENT (verdicts emit on arrival, so a reordered delivery of
    * the same log flips them): kept as the minimal-state/minimal-latency
    * variant for ordered feeds; [[watermarkedBandCollisions]] is the
    * order-robust successor q120 runs — same verdict rule, emitted only at
    * watermark finalization.
    */
  def minSeenCollisions(spark: SparkSession, rows: DataFrame,
      keyCol: String, idCol: String): Dataset[(Long, Boolean)] = {
    import spark.implicits._
    rows
      .selectExpr(s"CAST($keyCol AS STRING) AS k", s"CAST($idCol AS BIGINT) AS id")
      .as[(String, Long)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[Long, (Long, Boolean)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (_: String, rs: Iterator[(String, Long)], state: GroupState[Long]) =>
          var minSeen = state.getOption.getOrElse(Long.MaxValue)
          val out = rs.map(_._2).toList.sorted.map { id =>
            val hit = minSeen < id
            if (id < minSeen) minSeen = id
            (id, hit)
          }
          state.update(minSeen)
          out.iterator
      }
  }

  /** Watermark-finalized per-band near-dup state (the order-robust successor
    * of [[minSeenCollisions]]): rows are (bandKey, docId, eventTime) with the
    * event time STRICTLY MONOTONE in docId (e.g. `to_timestamp(doc_id)`), so
    * "every smaller doc has arrived" is exactly "the watermark passed this
    * doc's event time". Each doc's verdict — is the band's running minimum
    * smaller than me? — is emitted only when the watermark finalizes it,
    * which makes the output a pure function of the log CONTENT: any arrival
    * order within the watermark delay yields identical results (asserted by
    * StreamingOpsSpec's shuffled-order test), unlike emit-on-collision where
    * a reordered delivery flips verdicts. Long-run state per band stays ONE
    * long (the running minimum); pending docs awaiting their watermark are
    * buffered in ListState and drained by event-time timers, so the buffer
    * is bounded by the watermark horizon, not the stream length.
    */
  private class BandMinFinalizeProcessor
      extends StatefulProcessor[String, (String, Long, java.sql.Timestamp), (Long, Boolean)] {
    // one ValueState row per key: (band minimum id, earliest pending event
    // ms, currently registered timer deadline or 0). Folding the timer
    // deadline and the pending minimum into the per-key state the processor
    // already reads lets every batch skip a per-key RocksDB timer iteration
    // (listTimers) and — when the watermark finalizes nothing — the full
    // read+rewrite of the pending buffer (round-12: ~20k band keys paid
    // both on every one of the 4+ micro-batches).
    @transient private var meta: ValueState[(Long, Long, Long)] = _
    @transient private var pending: ListState[(Long, Long)] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      meta = getHandle.getValueState[(Long, Long, Long)]("meta",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
      pending = getHandle.getListState[(Long, Long)]("pending",
        Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong),
        org.apache.spark.sql.streaming.TTLConfig.NONE)
    }

    /** Keep exactly one live timer, tracked in `curT` (0 = none): register
      * only when the required deadline differs from the tracked one — the
      * engine removes an expired timer itself, the caller passes curT = 0
      * after expiry.
      */
    private def retime(curT: Long, want: Long): Long =
      if (curT == want) curT
      else {
        if (curT != 0L) getHandle.deleteTimer(curT)
        if (want != 0L) getHandle.registerTimer(want)
        want
      }

    /** Emit every pending doc the watermark has finalized (all smaller ids
      * have arrived — late ones were dropped under the watermark contract),
      * hold the rest, and keep exactly one timer at the earliest remaining
      * deadline. The band minimum is read AFTER this batch's inputs landed,
      * so a finalized doc's verdict covers every doc that can ever precede
      * it.
      */
    private def drainFinalized(wmMs: Long, mn: Long, minTs: Long,
        curT: Long): Iterator[(Long, Boolean)] = {
      if (minTs > wmMs) { // nothing finalizable: buffer untouched
        meta.update((mn, minTs,
          retime(curT, if (minTs == Long.MaxValue) 0L else minTs + 1L)))
        return Iterator.empty
      }
      val all = pending.get().toList
      val (ready, hold) = all.partition(_._2 <= wmMs)
      if (hold.isEmpty) {
        pending.clear()
        meta.update((mn, Long.MaxValue, retime(curT, 0L)))
      } else {
        pending.put(hold.toArray)
        val newMin = hold.iterator.map(_._2).min
        meta.update((mn, newMin, retime(curT, newMin + 1L)))
      }
      ready.sortBy(_._1).iterator.map { case (id, _) => (id, mn < id) }
    }

    override def handleInputRows(key: String,
        rows: Iterator[(String, Long, java.sql.Timestamp)],
        timerValues: TimerValues): Iterator[(Long, Boolean)] = {
      var (mn, minTs, curT) =
        if (meta.exists()) meta.get() else (Long.MaxValue, Long.MaxValue, 0L)
      rows.foreach { case (_, id, ts) =>
        val ms = ts.getTime
        if (id < mn) mn = id
        if (ms < minTs) minTs = ms
        pending.appendValue((id, ms))
      }
      drainFinalized(timerValues.getCurrentWatermarkInMs(), mn, minTs, curT)
    }

    override def handleExpiredTimer(key: String, timerValues: TimerValues,
        expiredTimerInfo: ExpiredTimerInfo): Iterator[(Long, Boolean)] = {
      val (mn, minTs, curT) =
        if (meta.exists()) meta.get() else (Long.MaxValue, Long.MaxValue, 0L)
      val stillTracked =
        if (curT == expiredTimerInfo.getExpiryTimeInMs) 0L else curT
      drainFinalized(timerValues.getCurrentWatermarkInMs(), mn, minTs, stillTracked)
    }
  }

  /** Order-robust streaming near-dup verdicts: `rows` must carry a
    * watermarked TimestampType column `tsCol` strictly monotone in `idCol`;
    * emits (docId, hit) once the watermark finalizes each doc. See
    * [[BandMinFinalizeProcessor]]. The stream needs one trailing sentinel
    * row whose event time exceeds every real doc's by more than the
    * watermark delay, else the final docs' timers never fire.
    */
  def watermarkedBandCollisions(spark: SparkSession, rows: DataFrame,
      keyCol: String, idCol: String, tsCol: String): Dataset[(Long, Boolean)] = {
    import spark.implicits._
    rows
      .select(col(keyCol).cast("string").as("k"),
        col(idCol).cast("long").as("id"), col(tsCol))
      .as[(String, Long, java.sql.Timestamp)]
      .groupByKey(_._1)
      .transformWithState(new BandMinFinalizeProcessor,
        TimeMode.EventTime(), OutputMode.Append())
  }

  /** Stream-static enrichment join: the static dimension is broadcast, so
    * the unbounded side never shuffles and no streaming state is kept.
    */
  def enrichWithStatic(stream: DataFrame, static: DataFrame, key: String): DataFrame =
    stream.join(broadcast(static), Seq(key), "left")

  /** Per-key running state via flatMapGroupsWithState — the engine twin of
    * the reference's stateful handler loop (a GenServer holding arbitrary
    * per-consumer state): emits (key, runningCount, lastValue) on every
    * update, with state owned by the engine and checkpointed.
    */
  def runningCountByKey(spark: SparkSession, events: DataFrame,
      keyCol: String, valueCol: String): Dataset[(String, Long, String)] = {
    import spark.implicits._
    events
      .selectExpr(s"CAST($keyCol AS STRING) AS k", s"CAST($valueCol AS STRING) AS v")
      .as[(String, String)]
      .groupByKey(_._1)
      .flatMapGroupsWithState[(Long, String), (String, Long, String)](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (key: String, rows: Iterator[(String, String)], state: GroupState[(Long, String)]) =>
          var (n, last) = state.getOption.getOrElse((0L, ""))
          val out = rows.map { case (_, v) =>
            n += 1; last = v
            (key, n, last)
          }.toList
          state.update((n, last))
          out.iterator
      }
  }
}
