package perfbench

import graft.log.{LogBulkProducer, LogId, LogStore}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import java.nio.file.{Files, Path}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** `bulk_load`: a closed loop of appends, each read back by a full scan.
  * A round appends the same seeded rows through the `graftlog` append sink
  * (one stream), the sharded append sink and `LogBulkProducer.produceAt`,
  * then scans each result.
  * Every scan checks the row count and the row-number sum, every round the
  * staging directory; the first and the last round also check, outside the
  * timed calls, that ids are unique and dense.
  */
object BulkLoad {
  private val Rows = 50000L
  private val Shards = 4

  def run(r: Run): Unit = r.raw ++= measure(r, warmups = 2, minRounds = 3, r.seconds)

  /** One warm-up and one timed round, for the sink and codec layer metrics
    * of another workload's traced run.
    */
  def probe(r: Run): Map[String, Any] = measure(r, warmups = 1, minRounds = 1, 0.0)

  private def measure(r: Run, warmups: Int, minRounds: Int, seconds: Double): Map[String, Any] = {
    val spark = r.spark
    val n = Rows
    val shards = Shards
    val seed = r.seed

    // set-up, three times: make the seeded rows and cache them; the last is kept
    var rows: DataFrame = null
    val setups = (0 until 3).map { _ =>
      if (rows != null) rows.unpersist(true)
      val t0 = System.nanoTime()
      rows = r.tracer.span("setup", "harness") {
        val df = spark.range(n).select(
          col("id").as("g"),
          concat(lit("key"), pmod(xxhash64(col("id"), lit(seed)), lit(64L))).as("k"),
          expr(s"substr(sha2(cast(id * 7919 + $seed as string), 256), 1, " +
            s"16 + cast(pmod(xxhash64(id, ${seed}L + 1), 33) as int))").as("p"))
          .cache()
        df.count()
        df
      }
      Main.secondsSince(t0)
    }

    val rounds = ArrayBuffer[Map[String, Any]]()
    var codec: Map[String, Any] = Map.empty
    val sharded = Map("shards" -> shards.toString)
    def check(label: String, dir: String): Unit =
      Seq(("a", Map.empty[String, String]), ("s", sharded), ("b", Map.empty[String, String]))
        .foreach { case (st, extra) =>
          r.attempt(s"check_$st/$label")(denseIds(reader(dir, st, extra), n))
        }
    def round(label: String): (Map[String, Any], String) = {
      r.tracer.trace = s"bulk_load/$seed/$label"
      val dir = r.fresh(s"bulk-$label").toString
      val ops = ArrayBuffer[Map[String, Any]]()
      def op(name: String, layer: String, span: String)(f: => Unit): Unit =
        r.attempt(s"$name/$label") {
          val c0 = System.nanoTime()
          r.tracer.span(span, layer, Map("op" -> name))(f)
          ops += Map("op" -> name, "rows" -> n, "s" -> Main.secondsSince(c0))
        }
      def scan(name: String, stream: String, extra: Map[String, String]): Unit =
        op(name, "source", "scan") {
          val got = reader(dir, stream, extra).selectExpr("count(*)",
            "sum(cast(values['g'] as bigint))").collect()(0)
          require(got.getLong(0) == n && got.getLong(1) == n * (n - 1) / 2,
            s"read back ${got.getLong(0)} rows with id sum ${got.get(1)}, " +
              s"want $n rows with id sum ${n * (n - 1) / 2}")
        }
      r.tracer.span("pass", "harness", Map("pass" -> label)) {
        op("append", "sink", "sink_write") {
          rows.write.format("graftlog").option("path", dir).option("stream", "a")
            .mode("append").save()
        }
        op("sharded_append", "sink", "sink_write") {
          rows.write.format("graftlog").option("path", dir).option("stream", "s")
            .options(sharded).option("shardKey", "k").mode("append").save()
        }
        op("bulk_produce", "log", "produce_at") {
          LogBulkProducer.produceAt(rows.select(
            (lit(1700000000000L) + col("g") / 10).cast("long").as("ms"),
            col("g"), col("k"), col("p")), "ms", dir, "b", Seq("g"))
        }
        scan("scan_append", "a", Map.empty)
        scan("scan_sharded", "s", sharded)
        scan("scan_bulk", "b", Map.empty)
      }
      val streams = Files.list(java.nio.file.Paths.get(dir)).iterator().asScala
        .map(_.getFileName.toString).toSeq
      val orphans = streams.map(st => fileCount(LogStore.streamDir(dir, st).resolve(".staging"))).sum
      if (orphans > 0) r.fail(s"staging/$label", s"$orphans files left in .staging")
      if (r.tracer.enabled && codec.isEmpty && label.startsWith("round")) codec = codecRates(dir)
      (Map("ops" -> ops.toSeq, "wall_s" -> ops.map(_("s").asInstanceOf[Double]).sum,
        "files_published" -> streams.map(st => LogStore.segments(dir, st).size).sum,
        "staging_orphans" -> orphans), dir)
    }
    def drop(dir: String): Unit = Main.deleteTree(java.nio.file.Paths.get(dir))

    // untimed rounds first, so the timed rounds run on compiled code; then
    // at least `minRounds` timed rounds, and more while one more of the mean
    // length still fits in `seconds`
    val warm = round("warmup")._2
    check("warmup", warm)
    drop(warm)
    (2 to warmups).foreach(i => drop(round(s"warmup$i")._2))
    val t0 = System.nanoTime()
    var k = 0
    var last = ""
    while (k < minRounds || Main.secondsSince(t0) * (k + 1) / k <= seconds) {
      val (stats, dir) = round(s"round$k")
      rounds += stats
      if (last.nonEmpty) drop(last)
      last = dir
      k += 1
    }
    check(s"round${k - 1}", last)
    drop(last)
    rows.unpersist(true)
    Map("setup_s" -> setups, "rounds" -> rounds.toSeq, "layer" -> (codec ++ Map(
      "sink.files_published" -> Main.median(rounds.map(_("files_published").asInstanceOf[Int].toDouble).toSeq),
      "sink.staging_orphans" -> rounds.map(_("staging_orphans").asInstanceOf[Int]).sum)))
  }

  private def reader(dir: String, stream: String, extra: Map[String, String]): DataFrame =
    org.apache.spark.sql.SparkSession.active.read.format("graftlog").option("path", dir).option("stream", stream)
      .options(extra).load()

  /** Ids unique per stream, payload row numbers exactly 0..n-1, and within
    * each millisecond of each stream the seqs form one dense run.
    */
  private def denseIds(df: DataFrame, n: Long): Unit = {
    val rows = df.select(col("stream"), col("id"), col("values").getItem("g").cast("long"))
      .collect()
    require(rows.length == n, s"read back ${rows.length} rows, want $n")
    val ids = rows.map(x => (x.getString(0), LogId.parse(x.getString(1))))
    val dupes = n - ids.distinct.length
    require(dupes == 0, s"$dupes duplicate ids")
    require(rows.map(_.getLong(2)).sorted.sameElements(0L until n),
      "payload row numbers are not exactly 0..n-1")
    ids.groupBy { case (st, id) => (st, id.millis) }.foreach { case ((st, ms), xs) =>
      val seqs = xs.map(_._2.seq)
      require(seqs.max - seqs.min + 1 == seqs.length,
        s"ids of stream $st at millisecond $ms are not dense")
    }
  }

  private def fileCount(dir: Path): Int =
    if (!Files.isDirectory(dir)) 0
    else {
      val s = Files.list(dir)
      try s.iterator().asScala.count(p => Files.isRegularFile(p)) finally s.close()
    }

  /** Lines per second through the log store's line codec, over the
    * segments the append sink published.
    */
  private def codecRates(dir: String): Map[String, Any] = {
    val segs = LogStore.segments(dir, "a")
    val d0 = System.nanoTime()
    val entries = segs.flatMap(s => LogStore.readSegment(s.path))
    val decode = Main.secondsSince(d0)
    val e0 = System.nanoTime()
    var bytes = 0L
    entries.foreach(e => bytes += LogStore.encodeLine(e).length)
    val encode = Main.secondsSince(e0)
    Map("log.decode_lines_per_s" -> entries.size / decode,
      "log.encode_lines_per_s" -> entries.size / encode)
  }
}
