package graft.log

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed explicit-timestamp bulk produce — the scale path for
  * bootstrapping a stream log from a table (event-time replay fixtures,
  * backfills, log migrations).
  *
  * [[LogWriter]] is the reference-parity API: ONE sequencer assigns ids
  * under the per-stream lock (≙ Redis XADD's single-threaded id rule,
  * /root/reference/lib/stream.ex:25-38), which makes every append a
  * driver-side funnel — correct for live produce, a bottleneck for bulk
  * ingest (a 10M-row backfill would materialize on one node). Here the id
  * of every row is already determined by the data itself (explicit
  * timestamps = the `<ms>-*` XADD form), so assignment needs no sequencer:
  *
  *   1. `seq` within each millisecond via `row_number()` (one hash shuffle
  *      on the millisecond — ids are (ms, seq), exactly what
  *      [[LogWriter.produceAllAt]] would assign for the same ordering);
  *   2. range-partition by (ms, seq) so executors own disjoint id ranges;
  *   3. each task encodes and publishes its own JSONL segment files
  *      directly through [[SegmentFormat]] (tmp + atomic rename, the same
  *      crash contract as the single writer).
  *
  * No row ever passes through the driver. Requires a FRESH stream (empty or
  * absent): concurrent single-writer appends and bulk produce cannot both
  * hold the id high-water, and a bootstrap never needs them to. Publish
  * order across tasks is arbitrary — acceptable only because nothing reads
  * a stream that is still being bootstrapped; live producers keep the
  * in-order publish contract of [[LogWriter.produceAll]].
  */
object LogBulkProducer {

  /** Produce every row of `df` into `root/stream` with ids
    * `(row[msCol], seq)`; returns the entry count. `orderCols` leads the
    * seq ordering within one millisecond; the remaining payload columns are
    * ALWAYS appended as trailing tiebreaks, so the row→id mapping is a
    * deterministic function of the data — a speculative or retried task
    * recomputes byte-identical segments (rows identical in every column are
    * interchangeable, so their relative order cannot matter). All
    * non-`msCol` columns become the payload, coerced to_string like every
    * produce path (null → "").
    *
    * Thin programmatic wrapper over the sink's `tsColumn` bulk write
    * (GraftLogBulkWrite): Catalyst plans the ms-clustered shuffle via
    * `RequiresDistributionAndOrdering`, tasks assign seqs locally and
    * publish their own segments. One id-assignment implementation, two
    * surfaces.
    */
  def produceAt(df: DataFrame, msCol: String, root: String, stream: String,
      orderCols: Seq[String], maxSegmentEntries: Int = 10000): Long = {
    require(orderCols.nonEmpty, "orderCols must not be empty (seq tiebreak)")
    LogStore.ensureStream(root, stream)
    require(LogStore.maxId(root, stream) == LogId.Zero,
      s"bulk produce requires a fresh stream; '$stream' already has entries " +
        "(use LogWriter for appends to a live stream)")
    val payloadCols = df.columns.filterNot(_ == msCol).toSeq
    require(payloadCols.nonEmpty, "no payload columns besides the timestamp")
    require(orderCols.forall(payloadCols.contains),
      s"orderCols must be payload columns, got $orderCols of $payloadCols")
    // column order IS the sink's tiebreak order: ts first, then orderCols,
    // then the remaining payload columns
    val coerced = df.select(
      (col(msCol).cast("long").as("__ms") +:
        (orderCols ++ payloadCols.filterNot(orderCols.contains))
          .map(c => coalesce(col(c).cast("string"), lit("")).as(c))): _*)
      // the sizing count and the sink write both consume this lineage;
      // without the cache the full source scan + projection runs twice
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      val n = coerced.count()
      if (n == 0L) return 0L
      // roll segments so a bulk-produced log carries ~16 of them at any
      // input size (never above the caller's cap): micro-batch reader
      // parallelism is bounded by the segment count in the batch's id
      // range, and a 1-2 segment log serialized every map-side leg of the
      // streaming queries on one core (measured on q427: the per-doc
      // period DP 3.7 s → 2.2 s once the log rolled 16 segments). Ids are
      // data-derived from `msCol`, so segmentation changes file layout
      // only — never ids, order, or batch boundaries.
      val effSegEntries =
        math.min(maxSegmentEntries.toLong, math.max(256L, n / 16)).toInt
      coerced.write.format("graftlog")
        .option("path", root).option("stream", stream)
        .option("tsColumn", "__ms")
        .option("maxSegmentEntries", effSegEntries.toString)
        .mode("append").save()
      n
    } finally coerced.unpersist()
  }
}
