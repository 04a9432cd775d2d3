package graft

import graft.log.LogWriter
import graft.streaming.StreamHarness
import org.apache.spark.sql.functions.{col, expr, window}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener.{QueryProgressEvent, QueryStartedEvent, QueryTerminatedEvent}
import org.apache.spark.sql.{DataFrame, Row}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import java.nio.file.{Files, Path, Paths}
import java.util.UUID
import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import scala.jdk.CollectionConverters._

/** `StreamHarness.runToMemory` ends a drain at its last data batch only when
  * evicting state cannot add output: inner and left-semi stream-stream joins
  * skip the trailing no-data batch, while an append-mode window aggregation
  * and a left-outer join keep it, because that batch emits their final
  * windows and their null-padded rows. Every query the harness starts keeps
  * its state at the harness's one width, whatever the session's own.
  */
class StreamHarnessSpec extends AnyFunSuite with BeforeAndAfterAll {
  private lazy val spark = TestSpark.spark

  /** The executed micro-batches of every query whose sink `runToMemory`
    * named after a prefix starting with `harness_`: (prefix, input rows).
    * An idle trigger also reports progress but runs no `addBatch`.
    */
  private object Batches extends StreamingQueryListener {
    private val names = new ConcurrentHashMap[UUID, String]()
    private val batches = new ConcurrentLinkedQueue[(String, Long)]()
    private val ended = new ConcurrentLinkedQueue[String]()
    private def prefix(name: String) = name.substring(0, name.indexOf("_sink_"))
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      Option(e.name).filter(n => n.startsWith("harness_") && n.contains("_sink_"))
        .foreach(n => names.put(e.id, prefix(n)))
    override def onQueryProgress(e: QueryProgressEvent): Unit =
      Option(names.get(e.progress.id)).filter(_ => e.progress.durationMs.containsKey("addBatch"))
        .foreach(p => batches.add(p -> e.progress.numInputRows))
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit =
      Option(names.get(e.id)).foreach(ended.add)

    /** Input-row counts of `prefix`'s batches, once its query has ended. */
    def of(prefix: String): Seq[Long] = {
      val deadline = System.currentTimeMillis() + 30000L
      while (!ended.contains(prefix) && System.currentTimeMillis() < deadline) Thread.sleep(20)
      assert(ended.contains(prefix), s"no termination event for $prefix")
      batches.asScala.collect { case (`prefix`, rows) => rows }.toSeq
    }
  }

  override def beforeAll(): Unit = spark.streams.addListener(Batches)
  override def afterAll(): Unit = spark.streams.removeListener(Batches)

  private val H = 3600L * 1000L
  private val M = 60L * 1000L

  /** Clicks and purchases in two streams of one log. u1 buys twice within
    * 10 minutes of its click, u3 once; u2's purchase comes too late, so u2
    * matches nothing. A last entry in each stream at hour 9 moves the
    * watermark past hours 1-2, so a drain's trailing no-data batch evicts
    * (and, for an outer join or an append-mode aggregate, emits) their state.
    */
  private lazy val root: String = {
    val dir = TestSpark.tmpDir("harness")
    def write(stream: String, entries: Seq[(Long, String)]): Unit = {
      var now = 0L
      val w = new LogWriter(dir, stream, () => now)
      entries.foreach { case (ts, user) => now = ts; w.produce(Map("user" -> user)) }
    }
    write("clicks", Seq(1 * H -> "u1", (1 * H + 10 * M) -> "u2", 2 * H -> "u3", 9 * H -> "fc"))
    write("buys", Seq((1 * H + 2 * M) -> "u1", (1 * H + 4 * M) -> "u1",
      (1 * H + 30 * M) -> "u2", (2 * H + 1 * M) -> "u3", 9 * H -> "fb"))
    dir
  }

  private def side(stream: String, ts: String, user: String, streaming: Boolean): DataFrame = {
    val opts = Map("path" -> root, "stream" -> stream, "startingOffsets" -> "earliest")
    val df = (if (streaming) spark.readStream.format("graftlog").options(opts).load()
      else spark.read.format("graftlog").options(opts).load())
      .selectExpr(s"ts AS $ts", s"values['user'] AS $user")
    if (streaming) df.withWatermark(ts, "1 hour") else df
  }

  private def joined(how: String, streaming: Boolean): DataFrame =
    side("clicks", "cts", "cu", streaming).join(side("buys", "bts", "bu", streaming),
      expr("cu = bu AND bts >= cts AND bts < cts + INTERVAL 10 MINUTES"), how)

  private def rows(df: DataFrame): Seq[Row] = df.collect().toSeq.sortBy(_.toString)

  private def drain(prefix: String, mode: String = "append")(build: => DataFrame): Seq[Row] =
    try rows(StreamHarness.runToMemory(spark, prefix, mode)(build))
    finally CacheScope.release()

  test("an inner interval join ends at its last data batch with the batch join's rows") {
    val got = drain("harness_inner")(joined("inner", streaming = true))
    val want = rows(joined("inner", streaming = false))
    assert(want.size == 3)
    assert(got == want)
    val batches = Batches.of("harness_inner")
    assert(batches.nonEmpty && !batches.contains(0L), batches)
  }

  test("a left-semi interval join ends at its last data batch with the batch join's rows") {
    val got = drain("harness_semi")(joined("left_semi", streaming = true))
    val want = rows(joined("left_semi", streaming = false))
    assert(want.map(_.getString(1)) == Seq("u1", "u3"))
    assert(got == want)
    val batches = Batches.of("harness_semi")
    assert(batches.nonEmpty && !batches.contains(0L), batches)
  }

  test("an append-mode window aggregation keeps its eviction batch and emits its final windows") {
    val got = drain("harness_window") {
      side("clicks", "cts", "cu", streaming = true)
        .groupBy(window(col("cts"), "1 hour"))
        .count()
        .selectExpr("CAST(window.start AS LONG) * 1000 AS start", "count")
    }
    assert(got.map(r => r.getLong(0) -> r.getLong(1)) == Seq(1 * H -> 2L, 2 * H -> 1L))
    assert(Batches.of("harness_window").contains(0L))
  }

  test("a left-outer interval join keeps its eviction batch and emits its null-padded rows") {
    val got = drain("harness_outer")(joined("left_outer", streaming = true))
    val inner = rows(joined("inner", streaming = false))
    assert(got.filter(_.isNullAt(3)).map(_.getString(1)) == Seq("u2"))
    assert(got.filterNot(_.isNullAt(3)) == inner)
    assert(Batches.of("harness_outer").contains(0L))
  }

  /** State partition directories of `ckpt`'s first stateful operator. */
  private def stateDirs(ckpt: Path): Set[String] = {
    val ls = Files.list(ckpt.resolve("state").resolve("0"))
    try ls.iterator().asScala.map(_.getFileName.toString).filter(_.forall(_.isDigit)).toSet
    finally ls.close()
  }

  test("a drain's state width is the harness's, not the session's shuffle width") {
    val session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "7")
    val want = (0 until StreamHarness.StateWidth).map(_.toString).toSet
    def counts: DataFrame = session.readStream.format("graftlog")
      .options(Map("path" -> root, "stream" -> "clicks", "startingOffsets" -> "earliest"))
      .load().selectExpr("values['user'] AS user").groupBy("user").count()

    val prefix = s"harness_width_${System.nanoTime()}"
    try assert(StreamHarness.runToMemory(session, prefix, "complete")(counts).count() == 4L)
    finally CacheScope.release()
    val tmp = Files.list(Paths.get(System.getProperty("java.io.tmpdir")))
    val sinkCkpt = try tmp.iterator().asScala
      .filter(_.getFileName.toString.startsWith(s"graft-$prefix-ckpt")).toSeq
    finally tmp.close()
    assert(sinkCkpt.size == 1, sinkCkpt)
    assert(stateDirs(sinkCkpt.head) == want)

    val ckpt = Paths.get(TestSpark.tmpDir("harness-width"))
    StreamHarness.drain(session) {
      counts.writeStream.outputMode("complete").format("noop")
        .option("checkpointLocation", ckpt.toString)
    }
    assert(stateDirs(ckpt) == want)
    assert(session.conf.get("spark.sql.shuffle.partitions") == "7")
  }
}
