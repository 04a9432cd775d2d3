package graft

import graft.log.{LogId, LogStore, LogWriter}
import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Parity tests for the log + DataSource V2 source/sink, ported from the
  * reference's own suite (see SURVEY.md §5):
  * id shape (/root/reference/test/redix/stream_test.exs:17), to_string
  * coercion (/root/reference/lib/stream.ex:15-23), tombstone skipping
  * (/root/reference/lib/redix/stream/consumer.ex:286), position semantics.
  */
class LogSourceSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("produce assigns millis-seq ids, monotonic within a millisecond") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1700000000123L
    val w = new LogWriter(root, "s1", () => now)
    val id1 = w.produce(Map("k" -> "v"))
    val id2 = w.produce(Map("k" -> "v2")) // same millis → seq bump
    now += 5
    val id3 = w.produce(Map("k" -> "v3"))
    assert(id1.toString.matches("\\d+-\\d+"))
    assert(id1 == LogId(1700000000123L, 0))
    assert(id2 == LogId(1700000000123L, 1))
    assert(id3 == LogId(1700000000128L, 0))
    assert(List(id1, id2, id3) == List(id1, id2, id3).sorted)
  }

  test("produceAllAt honors explicit timestamps; rejects regressions loudly") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s1", maxSegmentEntries = 2)
    // same-ms entries get seq bumps; chunking across segments keeps order
    val ids = w.produceAllAt(Seq(
      100L -> Map[String, Any]("k" -> "a"),
      100L -> Map[String, Any]("k" -> "b"),
      250L -> Map[String, Any]("k" -> "c"),
      300L -> Map[String, Any]("k" -> "d"),
      300L -> Map[String, Any]("k" -> "e")))
    assert(ids == Seq(LogId(100, 0), LogId(100, 1), LogId(250, 0),
      LogId(300, 0), LogId(300, 1)))
    val got = LogStore.readRange(root, "s1", LogId.Zero, LogStore.maxId(root, "s1"))
    assert(got.map(_.id) == ids && got.map(_.values("k")) == Seq("a", "b", "c", "d", "e"))
    // an explicit ms below the high-water mark must fail, not silently shift
    val e = intercept[IllegalArgumentException] {
      w.produceAllAt(Seq(299L -> Map[String, Any]("k" -> "late")))
    }
    assert(e.getMessage.contains("non-decreasing"))
    // at the high-water ms is fine: seq continues
    assert(w.produceAllAt(Seq(300L -> Map[String, Any]("k" -> "f"))) == Seq(LogId(300, 2)))
  }

  test("LogBulkProducer assigns the ids the single writer would, distributedly") {
    import spark.implicits._
    val root = TestSpark.tmpDir("graftlog")
    // same-ms runs force seq disambiguation; 25 rows with 3-entry segments
    // force multiple per-task chunks and multiple range partitions
    val rows = (0 until 25).map(i => (1000L + (i / 4) * 10, f"v$i%02d"))
    val df = spark.createDataset(rows).toDF("ms", "payload")
    val n = graft.log.LogBulkProducer.produceAt(df, "ms", root, "s",
      orderCols = Seq("payload"), maxSegmentEntries = 3)
    assert(n == 25)
    // oracle: the single-writer path over the same (ms, payload) ordering
    val root2 = TestSpark.tmpDir("graftlog")
    val w2 = new LogWriter(root2, "s")
    w2.produceAllAt(rows.sortBy(r => (r._1, r._2)).map { case (ms, v) =>
      ms -> Map[String, Any]("payload" -> v) })
    val bulk = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    val single = LogStore.readRange(root2, "s", LogId.Zero, LogStore.maxId(root2, "s"))
    assert(bulk.map(e => (e.id, e.values)) == single.map(e => (e.id, e.values)))
    // segments: disjoint ranges, readable through the DSv2 batch scan
    val segs = LogStore.segments(root, "s")
    assert(segs.size > 1)
    assert(segs.sliding(2).forall { case Seq(a, b) => a.last < b.first; case _ => true })
    val scanned = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").load()
    assert(scanned.count() == 25)
    // bulk produce is a bootstrap API: a non-fresh stream is rejected
    val e = intercept[IllegalArgumentException] {
      graft.log.LogBulkProducer.produceAt(df, "ms", root, "s", Seq("payload"))
    }
    assert(e.getMessage.contains("fresh stream"))
  }

  test("tsColumn sink write: Catalyst plans the clustering, ids match the single writer") {
    import spark.implicits._
    val root = TestSpark.tmpDir("graftlog")
    val rows = (0 until 25).map(i => (1000L + (i / 4) * 10, f"v$i%02d"))
    // engine-planned bulk write: RequiresDistributionAndOrdering clusters on
    // ms and sorts (ms, payload) inside each task — no manual repartition
    spark.createDataset(rows).toDF("ms", "payload")
      .write.format("graftlog")
      .option("path", root).option("stream", "s").option("tsColumn", "ms")
      .mode("append").save()
    val root2 = TestSpark.tmpDir("graftlog")
    new LogWriter(root2, "s").produceAllAt(
      rows.sortBy(r => (r._1, r._2)).map { case (ms, v) =>
        ms -> Map[String, Any]("payload" -> v) })
    val bulk = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    val single = LogStore.readRange(root2, "s", LogId.Zero, LogStore.maxId(root2, "s"))
    assert(bulk.map(e => (e.id, e.values)) == single.map(e => (e.id, e.values)))
    assert(bulk.forall(!_.values.contains("ms"))) // ts column is id metadata, not payload
    // ms 0 rule holds through the sink too
    val root3 = TestSpark.tmpDir("graftlog")
    spark.createDataset(Seq((0L, "a"), (0L, "b"))).toDF("ms", "payload")
      .write.format("graftlog")
      .option("path", root3).option("stream", "s").option("tsColumn", "ms")
      .mode("append").save()
    assert(LogStore.readRange(root3, "s", LogId.Zero, LogStore.maxId(root3, "s"))
      .map(_.id) == Seq(LogId(0, 1), LogId(0, 2)))
    // non-fresh stream rejected at plan time
    val e = intercept[Exception] {
      spark.createDataset(Seq((1L, "x"))).toDF("ms", "payload")
        .write.format("graftlog")
        .option("path", root).option("stream", "s").option("tsColumn", "ms")
        .mode("append").save()
    }
    assert(e.getMessage.contains("fresh stream"))
    // a TIMESTAMP-typed column works too (micros floor to the id millis)
    val root4 = TestSpark.tmpDir("graftlog")
    spark.createDataset(Seq((new java.sql.Timestamp(1500L), "t")))
      .toDF("ts_col", "payload")
      .write.format("graftlog")
      .option("path", root4).option("stream", "s").option("tsColumn", "ts_col")
      .mode("append").save()
    assert(LogStore.readRange(root4, "s", LogId.Zero, LogStore.maxId(root4, "s"))
      .map(_.id) == Seq(LogId(1500, 0)))
  }

  test("LogBulkProducer at millisecond 0 matches the single writer (no 0-0 id)") {
    import spark.implicits._
    // id "0-0" IS LogId.Zero (the position before everything): an entry
    // with it would be invisible to every read-from-start scan. The single
    // writer assigns 0-1 for the first ms-0 entry; bulk produce must agree.
    val root = TestSpark.tmpDir("graftlog")
    val df = spark.createDataset(Seq((0L, "a"), (0L, "b"), (5L, "c")))
      .toDF("ms", "payload")
    graft.log.LogBulkProducer.produceAt(df, "ms", root, "s", Seq("payload"))
    val got = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(got.map(_.id) == Seq(LogId(0, 1), LogId(0, 2), LogId(5, 0)))
    val w = new LogWriter(TestSpark.tmpDir("graftlog") + "/x", "s")
    assert(w.produceAllAt(Seq(
      0L -> Map[String, Any]("payload" -> "a"),
      0L -> Map[String, Any]("payload" -> "b"),
      5L -> Map[String, Any]("payload" -> "c"))) ==
      Seq(LogId(0, 1), LogId(0, 2), LogId(5, 0)))
  }

  test("produceAllAt rejected mid-batch leaves the writer's high-water untouched") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s1")
    w.produceAllAt(Seq(100L -> Map[String, Any]("k" -> "a")))
    // regression at element 2: elements 0-1 (at ms 500, 600) must NOT have
    // advanced the in-memory high-water — nothing was written, so a
    // subsequent append at ms 200 (>= disk high-water 100) is valid
    intercept[IllegalArgumentException] {
      w.produceAllAt(Seq(
        500L -> Map[String, Any]("k" -> "b"),
        600L -> Map[String, Any]("k" -> "c"),
        50L -> Map[String, Any]("k" -> "late")))
    }
    assert(w.produceAllAt(Seq(200L -> Map[String, Any]("k" -> "d"))) ==
      Seq(LogId(200, 0)))
    val got = LogStore.readRange(root, "s1", LogId.Zero, LogStore.maxId(root, "s1"))
    assert(got.map(_.id) == Seq(LogId(100, 0), LogId(200, 0)))
  }

  test("produce coerces values to_string and round-trips") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "temps")
    w.produce(Map("temperature" -> 55, "ratio" -> 1.5, "none" -> null))
    val got = LogStore.readRange(root, "temps", LogId.Zero, LogStore.maxId(root, "temps"))
    assert(got.head.values == Map("temperature" -> "55", "ratio" -> "1.5", "none" -> ""))
  }

  test("writer resumes after the highest existing id on restart") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w1 = new LogWriter(root, "s", () => now)
    w1.produce(Map("a" -> "1"))
    // clock goes backwards across writer restarts; ids must not regress
    now = 900L
    val w2 = new LogWriter(root, "s", () => now)
    val id = w2.produce(Map("b" -> "2"))
    assert(id == LogId(1000L, 1))
  }

  test("batch read returns entries in order with derived ts/seq") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1700000000000L
    val w = new LogWriter(root, "s1", () => now)
    (1 to 5).foreach { i => now += 1000; w.produce(Map(s"key_$i" -> s"value_$i")) }
    val df = spark.read.format("graftlog")
      .option("path", root).option("stream", "s1").load()
    val rows = df.orderBy("seq", "ts").collect()
    assert(rows.length == 5)
    assert(rows.map(_.getAs[String]("id")).toSeq ==
      rows.map(_.getAs[String]("id")).toSeq.sorted)
    val first = df.orderBy("ts").limit(1).collect()(0)
    assert(first.getAs[Map[String, String]]("values") == Map("key_1" -> "value_1"))
    assert(first.getAs[java.sql.Timestamp]("ts").getTime == 1700000001000L)
  }

  test("tombstone entries are skipped by the reader") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s1")
    w.produceTombstone()
    w.produce(Map("k" -> "v"))
    val df = spark.read.format("graftlog")
      .option("path", root).option("stream", "s1").load()
    assert(df.count() == 1)
    val all = spark.read.format("graftlog")
      .option("path", root).option("stream", "s1")
      .option("dropTombstones", "false").load()
    assert(all.count() == 2)
  }

  test("streaming read from earliest sees history; maxEntriesPerTrigger bounds batches") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s1")
    (1 to 10).foreach(i => w.produce(Map("i" -> i)))
    val q = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "s1")
      .option("startingOffsets", "earliest")
      .option("maxEntriesPerTrigger", "3")
      .load()
      .writeStream.format("memory").queryName("early")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q.processAllAvailable()
    val n = spark.sql("select count(*) from early").collect()(0).getLong(0)
    val batches = q.recentProgress.count(_.numInputRows > 0)
    q.stop()
    assert(n == 10)
    assert(batches >= 4) // 10 entries / 3 per trigger
  }

  test("streaming read from latest skips history (end_of_stream semantics)") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s1")
    (1 to 3).foreach(i => w.produce(Map("old" -> i)))
    val q = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "s1")
      .option("startingOffsets", "latest")
      .load()
      .writeStream.format("memory").queryName("tail")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q.processAllAvailable()
    (1 to 2).foreach(i => w.produce(Map("new" -> i)))
    q.processAllAvailable()
    val got = spark.sql("select values['new'] as v from tail order by v").collect()
    q.stop()
    assert(got.length == 2)
    assert(got.map(_.getString(0)).toSeq == Seq("1", "2"))
  }

  test("streaming sink appends with driver-assigned monotonic ids") {
    val root = TestSpark.tmpDir("graftlog")
    import spark.implicits._
    val src = TestSpark.tmpDir("srclog")
    val sw = new LogWriter(src, "in")
    (1 to 4).foreach(i => sw.produce(Map("n" -> i)))
    val q = spark.readStream.format("graftlog")
      .option("path", src).option("stream", "in")
      .option("startingOffsets", "earliest")
      .load()
      .select($"values")
      .writeStream.format("graftlog")
      .option("path", root).option("stream", "out")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    val out = LogStore.readRange(root, "out", LogId.Zero, LogStore.maxId(root, "out"))
    assert(out.map(_.values("n")).sorted == Seq("1", "2", "3", "4"))
    assert(out.map(_.id) == out.map(_.id).sorted)
  }

  test("de-funneled batch sink assigns the ids produceAll would (frozen clock)") {
    // the sink's executor-staged + rename-committed path must be
    // id-indistinguishable from the single-writer funnel: dense seqs in
    // (partition, row) order, all in the commit's one millisecond
    val root = TestSpark.tmpDir("graftlog")
    val n = 100
    val rows = (0 until n).map(i => Map[String, Any]("n" -> i))
    import spark.implicits._
    spark.sparkContext.parallelize(0 until n, 4).toDF("n")
      .write.format("graftlog")
      .option("path", root).option("stream", "sunk").mode("append").save()
    val got = LogStore.readRange(root, "sunk", LogId.Zero, LogStore.maxId(root, "sunk"))
    assert(got.size == n)
    // replay the same input order through the PARITY api, clock frozen at
    // the millisecond the sink's commit actually used → ids must be EQUAL
    val ms = got.head.id.millis
    val exp = new LogWriter(root, "expected", () => ms).produceAll(rows)
    assert(got.map(_.id) == exp, "sink ids diverge from LogWriter.produceAll")
    assert(got.map(_.values("n")) == (0 until n).map(_.toString),
      "payload order diverges from input order")
    // nothing left behind in staging, and no payload crossed the driver:
    // the published segments are the staged files themselves (values-only)
    assert(LogStore.segments(root, "sunk").forall(_.path.endsWith(".vjsonl")))
    val staging = LogStore.streamDir(root, "sunk").resolve(".staging")
    assert(java.nio.file.Files.list(staging).count() == 0)
  }

  test("sink chunks large tasks into multiple segments; admission control reads vjsonl") {
    val root = TestSpark.tmpDir("graftlog")
    import spark.implicits._
    (0 until 25).toDF("n").coalesce(1)
      .write.format("graftlog")
      .option("path", root).option("stream", "s")
      .option("maxSegmentEntries", "10")
      .mode("append").save()
    val segs = LogStore.segments(root, "s")
    assert(segs.size == 3, s"expected 3 chunked segments, got ${segs.size}")
    // ids-only fast path derives vjsonl ids from the name with zero file IO
    val ids = LogStore.listing(root, "s").idsAfter(LogId.Zero, 25)
    assert(ids.size == 25 && ids == ids.sorted)
    assert(LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
      .map(_.values("n")).map(_.toInt) == (0 until 25))
    // tiered compaction folds values-only segments into ordinary JSONL
    val merged = LogStore.compactTiered(root, "s", minMerge = 2)
    assert(merged == 3)
    val after = LogStore.segments(root, "s")
    assert(after.size == 1 && after.head.path.endsWith(".jsonl"))
    assert(LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
      .map(_.values("n")).map(_.toInt) == (0 until 25))
    // the DSv2 reader agrees before/after
    val df = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").load()
    assert(df.count() == 25)
  }

  test("concurrent de-funneled sink appends never assign duplicate ids") {
    // two batch writes race into one stream: staged files are
    // attempt-unique, and publishStagedValues serializes id reservation
    // under the stream lock — both commits land, ids stay unique and dense
    val root = TestSpark.tmpDir("graftlog")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(2)
    try {
      val futures = (0 until 2).map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit =
            spark.range(t * 1000L, t * 1000L + 1000L)
              .selectExpr("CAST(id AS STRING) AS n")
              .write.format("graftlog")
              .option("path", root).option("stream", "c")
              .mode("append").save()
        })
      }
      futures.foreach(_.get())
    } finally pool.shutdown()
    val entries = LogStore.readRange(root, "c", LogId.Zero, LogStore.maxId(root, "c"))
    assert(entries.size == 2000)
    assert(entries.map(_.id).distinct.size == 2000, "duplicate ids assigned")
    assert(entries.map(_.values("n").toInt).sorted == (0 until 2000))
    val staging = LogStore.streamDir(root, "c").resolve(".staging")
    assert(java.nio.file.Files.list(staging).count() == 0, "staging leaked")
  }

  test("trim drops entries at and below the cutoff; straddlers rewritten, ids stable") {
    // 3-entry segments: ids 10,20,30 | 40,50,60 | 70,80,90 (ms = 10*i)
    val root2 = TestSpark.tmpDir("graftlog")
    val w2 = new LogWriter(root2, "s", maxSegmentEntries = 3)
    w2.produceAllAt((1 to 9).map(i => (i * 10L, Map[String, Any]("i" -> i))))
    assert(LogStore.segments(root2, "s").size == 3)
    // cutoff mid-segment-2: drops ids up to ms 50 inclusive
    val dropped = LogStore.trim(root2, "s", LogId(50L, Long.MaxValue))
    assert(dropped == 5, s"dropped $dropped entries, wanted 5")
    val left = LogStore.readRange(root2, "s", LogId.Zero, LogStore.maxId(root2, "s"))
    assert(left.map(_.values("i").toInt) == (6 to 9))
    assert(left.map(_.id.millis) == Seq(60L, 70L, 80L, 90L)) // ids unchanged
    // segment 1 deleted without rewrite; straddler rewritten to its suffix
    val segs = LogStore.segments(root2, "s")
    assert(segs.size == 2 && segs.head.first == LogId(60L, 0L))
    // trimming below the retained range is a no-op
    assert(LogStore.trim(root2, "s", LogId(50L, Long.MaxValue)) == 0L)
  }

  test("compactKeyed keeps latest per key, erases tombstoned keys, ids stable, idempotent") {
    val root2 = TestSpark.tmpDir("graftlog")
    val w2 = new LogWriter(root2, "kc", maxSegmentEntries = 3)
    // key a: updates at ms 10, 40 (latest 40); key b: 20, then tombstone
    // at 50; key c: single update 30; key d: update 60 ABOVE the cutoff
    w2.produceAllAt(Seq(
      (10L, Map[String, Any]("k" -> "a", "v" -> 1)),
      (20L, Map[String, Any]("k" -> "b", "v" -> 2)),
      (30L, Map[String, Any]("k" -> "c", "v" -> 3)),
      (40L, Map[String, Any]("k" -> "a", "v" -> 4)),
      (50L, Map[String, Any]("k" -> "b", "__deleted" -> 1)),
      (60L, Map[String, Any]("k" -> "d", "v" -> 6))))
    val dropped = LogStore.compactKeyed(root2, "kc", "k",
      LogId(55L, Long.MaxValue))
    // dropped: a@10 (stale), b@20 (stale), b@50 (tombstone itself) = 3
    assert(dropped == 3, s"dropped $dropped entries, wanted 3")
    val left = LogStore.readRange(root2, "kc", LogId.Zero,
      LogStore.maxId(root2, "kc"))
    assert(left.map(e => (e.values("k"), e.values.get("v"))) ==
      Seq(("c", Some("3")), ("a", Some("4")), ("d", Some("6"))))
    // ids of retained entries unchanged
    assert(left.map(_.id.millis) == Seq(30L, 40L, 60L))
    // idempotent: a second pass over the compacted range drops nothing
    assert(LogStore.compactKeyed(root2, "kc", "k",
      LogId(55L, Long.MaxValue)) == 0L)
    // the live head still appends after compaction
    w2.produceAllAt(Seq((70L, Map[String, Any]("k" -> "a", "v" -> 7))))
    val after = LogStore.readRange(root2, "kc", LogId.Zero,
      LogStore.maxId(root2, "kc"))
    assert(after.map(_.id.millis) == Seq(30L, 40L, 60L, 70L))
  }

  test("fully trimmed stream never reuses ids (persistent high-water)") {
    // Redis keeps last-generated-id across XTRIM; the log's .highwater
    // marker is the same contract — ids double as positions, so reuse
    // would teleport consumers backwards
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s")
    w.produceAllAt(Seq((100L, Map[String, Any]("i" -> 1)), (200L, Map[String, Any]("i" -> 2))))
    LogStore.trim(root, "s", LogId(200L, Long.MaxValue)) // stream now EMPTY
    assert(LogStore.segments(root, "s").isEmpty)
    assert(LogStore.maxId(root, "s") == LogId(200L, 0L), "high water forgotten")
    // a fresh writer must reject explicit timestamps at or below the
    // trimmed range and keep clock-driven ids monotonic past it
    val w2 = new LogWriter(root, "s", () => 150L)
    intercept[IllegalArgumentException] {
      w2.produceAllAt(Seq((150L, Map[String, Any]("i" -> 3))))
    }
    val id = w2.produce(Map[String, Any]("i" -> 4)) // clock 150 < hw 200
    assert(id > LogId(200L, 0L), s"id $id reuses the trimmed range")
  }

  test("maxId reads segment names only: tmp, .crc and lock files never count; .highwater does") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s")
    w.produceAllAt(Seq((100L, Map[String, Any]("i" -> 1)), (200L, Map[String, Any]("i" -> 2))))
    val dir = LogStore.streamDir(root, "s")
    Seq(".900-0__900-5.jsonl.tmp", "..900-0__900-5.parquet.tmp.crc", ".900-0__900-5.jsonl.crc",
      ".writer.lock", "900-0__900-5.jsonl.bak")
      .foreach(n => java.nio.file.Files.write(dir.resolve(n), Array[Byte](1)))
    assert(LogStore.maxId(root, "s") == LogId(200L, 0L))
    java.nio.file.Files.writeString(dir.resolve(".highwater"), "150-0")
    assert(LogStore.maxId(root, "s") == LogId(200L, 0L), "a lower marker never wins")
    java.nio.file.Files.writeString(dir.resolve(".highwater"), "300-2")
    assert(LogStore.maxId(root, "s") == LogId(300L, 2L), "a higher marker does")
    assert(LogStore.maxId(root, "missing") == LogId.Zero)
  }

  test("trim preserves the straddler's storage format (gz, parquet, vjsonl)") {
    // gz straddler stays gz (a silent JSONL rewrite would undo compression)
    val rootG = TestSpark.tmpDir("graftlog")
    LogStore.ensureStream(rootG, "s")
    LogStore.writeSegment(rootG, "s",
      (1 to 6).map(i => graft.log.LogEntry(LogId(i * 10L, 0L), Map("i" -> i.toString))),
      gzip = true)
    assert(LogStore.trim(rootG, "s", LogId(30L, Long.MaxValue)) == 3L)
    val segsG = LogStore.segments(rootG, "s")
    assert(segsG.size == 1 && segsG.head.path.endsWith(".jsonl.gz"),
      s"gz straddler rewritten to ${segsG.map(_.path)}")
    assert(LogStore.readRange(rootG, "s", LogId.Zero, LogStore.maxId(rootG, "s"))
      .map(_.values("i").toInt) == (4 to 6))

    // parquet cold-tier straddler stays parquet (freeze must not be undone)
    val rootP = TestSpark.tmpDir("graftlog")
    val wp = new LogWriter(rootP, "s")
    wp.produceAllAt((1 to 6).map(i => (i * 10L, Map[String, Any]("i" -> i))))
    assert(LogStore.compactToParquet(rootP, "s", LogStore.maxId(rootP, "s")) > 0)
    assert(LogStore.trim(rootP, "s", LogId(30L, Long.MaxValue)) == 3L)
    val segsP = LogStore.segments(rootP, "s")
    assert(segsP.size == 1 && segsP.head.path.endsWith(".parquet"),
      s"parquet straddler rewritten to ${segsP.map(_.path)}")
    assert(LogStore.readRange(rootP, "s", LogId.Zero, LogStore.maxId(rootP, "s"))
      .map(_.values("i").toInt) == (4 to 6))

    // vjsonl straddler keeps its values-only form (suffix ids stay
    // contiguous within the segment's single millisecond)
    val rootV = TestSpark.tmpDir("graftlog")
    val wv = new LogWriter(rootV, "s", () => 1000L)
    val staging = LogStore.streamDir(rootV, "s").resolve(".staging")
    java.nio.file.Files.createDirectories(staging)
    val f = staging.resolve("a.vjsonl")
    java.nio.file.Files.write(f,
      (1 to 6).map(i => LogStore.encodeValuesLine(Map("i" -> i.toString)))
        .mkString("", "\n", "\n").getBytes(java.nio.charset.StandardCharsets.UTF_8))
    wv.publishStagedValues(Seq((f, 6L)))
    assert(LogStore.trim(rootV, "s", LogId(1000L, 2L)) == 3L)
    val segsV = LogStore.segments(rootV, "s")
    assert(segsV.size == 1 && segsV.head.path.endsWith(".vjsonl"),
      s"vjsonl straddler rewritten to ${segsV.map(_.path)}")
    assert(LogStore.readRange(rootV, "s", LogId.Zero, LogStore.maxId(rootV, "s"))
      .map(_.values("i").toInt) == (4 to 6))
  }

  test("a corrupt segment of any format fails naming stream and path; a vanished one falls back") {
    import graft.log.{LogEntry, SegmentFormat}
    import graft.sources.{GraftLogPartitioning, GraftLogReaderFactory}
    import java.nio.file.{Files, Path}
    val entries = (1 to 6).map(i => LogEntry(LogId(1000L, i.toLong), Map("i" -> i.toString)))
    val garbage = (p: Path) => Files.writeString(p, "{not json\n" * 6)
    val cases: Seq[(SegmentFormat, Path => Any)] = Seq(
      SegmentFormat.Jsonl -> garbage,
      // a truncated gzip stream ends in EOFException, an IOException that
      // must not pass for a vanished file
      SegmentFormat.JsonlGz -> ((p: Path) => Files.write(p, Files.readAllBytes(p).take(20))),
      SegmentFormat.Values -> garbage,
      SegmentFormat.Parquet -> garbage)
    def messages(t: Throwable): String =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null).map(String.valueOf).mkString("\n")
    cases.foreach { case (fmt, corrupt) =>
      val root = TestSpark.tmpDir("graftlog")
      val dir = LogStore.streamDir(root, "s")
      val path = fmt.write(dir, entries, replace = false)
      assert(LogStore.readSegment(path.toString) == entries, s"$fmt round trip")
      corrupt(path)
      val direct = intercept[IllegalStateException](LogStore.readSegment(path.toString))
      assert(direct.getMessage.contains(path.toString) && direct.getMessage.contains("'s'"),
        s"$fmt: ${direct.getMessage}")
      val scan = intercept[Exception](spark.read.format("graftlog")
        .option("path", root).option("stream", "s").load().collect())
      assert(messages(scan).contains("IllegalStateException") &&
        messages(scan).contains(path.toString), s"$fmt: ${messages(scan)}")

      // planned, then rewritten into two other segments before the read:
      // the reader re-lists and reads the same entries from the new files
      fmt.write(dir, entries, replace = true)
      val planned = GraftLogPartitioning.plan(root, "s", LogStore.listing(root, "s"),
        LogId.Zero, LogId(1000L, 6L), 1)
      SegmentFormat.Jsonl.write(dir, entries.take(3), replace = false)
      SegmentFormat.Jsonl.write(dir, entries.drop(3), replace = false)
      Files.delete(path)
      val reader = new GraftLogReaderFactory(dropTombstones = true).createReader(planned.head)
      assert(Iterator.continually(reader.next()).takeWhile(identity).size == 6, s"$fmt fallback")
    }
  }

  test("corrupt .highwater marker fails loudly instead of disabling the guard") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s")
    w.produceAllAt(Seq((100L, Map[String, Any]("i" -> 1))))
    LogStore.trim(root, "s", LogId(100L, Long.MaxValue)) // writes .highwater
    java.nio.file.Files.writeString(
      LogStore.streamDir(root, "s").resolve(".highwater"), "not-an-id")
    val e = intercept[IllegalStateException] { LogStore.maxId(root, "s") }
    assert(e.getMessage.contains("highwater"))
    // absent marker is still simply Zero
    java.nio.file.Files.delete(LogStore.streamDir(root, "s").resolve(".highwater"))
    assert(LogStore.maxId(root, "s") == LogId.Zero)
  }

  test("trim serializes with a live writer's appends and compactions") {
    // a trim racing the produce-path compaction could resurrect trimmed
    // entries (compaction snapshot-reads segments the trim deletes, then
    // re-publishes them merged); under the shared stream lock the
    // invariant below must hold on every interleaving
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s",
      () => { now += 1; now },
      compaction = Some(LogStore.CompactionPolicy(4, targetBytes = 1L << 20, minMerge = 2)))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val trimmedUpTo = new java.util.concurrent.atomic.AtomicReference(LogId.Zero)
    val trimmer = new Thread(() => {
      while (!stop.get()) {
        val mid = LogId(now - 200, Long.MaxValue)
        if (mid > trimmedUpTo.get()) {
          LogStore.trim(root, "s", mid)
          trimmedUpTo.set(mid)
        }
        Thread.sleep(2)
      }
    })
    trimmer.start()
    val ids = (1 to 60).flatMap(i =>
      w.produceAll((1 to 10).map(j => Map[String, Any]("n" -> (i * 10 + j)))))
    stop.set(true); trimmer.join()
    val cutoff = trimmedUpTo.get()
    val all = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(all.map(_.id).distinct.size == all.size, "duplicate ids after trim race")
    assert(all.forall(_.id > cutoff), "trimmed entries resurrected by compaction")
    // every id above the cutoff survived — trim never eats live appends
    assert(all.map(_.id).toSet == ids.filter(_ > cutoff).toSet)
  }

  test("compactKeyed serializes with a live writer's appends and compactions") {
    // keyed compaction rewrites and deletes segments like trim does, so the
    // same races apply: a produce-path size-compaction snapshot could
    // re-publish entries the key compaction dropped. Under the shared
    // stream lock the latest-per-key invariant must hold on every
    // interleaving, and no live append may be lost.
    val root = TestSpark.tmpDir("graftlog")
    var now = 2000L
    val w = new LogWriter(root, "kc2",
      () => { now += 1; now },
      compaction = Some(LogStore.CompactionPolicy(4, targetBytes = 1L << 20, minMerge = 2)))
    val stop = new java.util.concurrent.atomic.AtomicBoolean(false)
    val compactor = new Thread(() => {
      while (!stop.get()) {
        LogStore.compactKeyed(root, "kc2", "k", LogId(now - 100, Long.MaxValue))
        Thread.sleep(2)
      }
    })
    compactor.start()
    // 40 keys, 15 updates each, interleaved
    (1 to 15).foreach { round =>
      w.produceAll((1 to 40).map(k =>
        Map[String, Any]("k" -> k, "v" -> (round * 100 + k))))
    }
    stop.set(true); compactor.join()
    // one final compaction over everything
    LogStore.compactKeyed(root, "kc2", "k", LogStore.maxId(root, "kc2"))
    val all = LogStore.readRange(root, "kc2", LogId.Zero,
      LogStore.maxId(root, "kc2"))
    assert(all.map(_.id).distinct.size == all.size,
      "duplicate ids after compaction race")
    // exactly the latest value per key survives
    val byKey = all.groupBy(_.values("k"))
    assert(byKey.size == 40, s"expected 40 keys, got ${byKey.size}")
    byKey.foreach { case (k, es) =>
      assert(es.size == 1, s"key $k kept ${es.size} entries")
      assert(es.head.values("v") == (1500 + k.toInt).toString,
        s"key $k kept stale value ${es.head.values("v")}")
    }
  }

  test("staging sweep spares the committing query's own files; TTL configurable") {
    import graft.sources.{GraftLogStagedCommit, GraftLogWritePath}
    val root = TestSpark.tmpDir("graftlog")
    LogStore.ensureStream(root, "s")
    val staging = LogStore.streamDir(root, "s").resolve(".staging")
    java.nio.file.Files.createDirectories(staging)
    def stale(name: String): java.nio.file.Path = {
      val p = staging.resolve(name)
      java.nio.file.Files.write(p,
        (LogStore.encodeValuesLine(Map("k" -> "v")) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      java.nio.file.Files.setLastModifiedTime(p,
        java.nio.file.attribute.FileTime.fromMillis(
          System.currentTimeMillis() - 25L * 3600 * 1000))
      p
    }
    val ownStale = stale("q1__straggler.vjsonl")     // committing query's own
    val foreignStale = stale("q0__orphan.vjsonl")    // dead attempt, past TTL
    def commitOne(): Unit = {
      val f = staging.resolve(s"q1__${java.util.UUID.randomUUID()}.vjsonl")
      java.nio.file.Files.write(f,
        (LogStore.encodeValuesLine(Map("k" -> "v")) + "\n")
          .getBytes(java.nio.charset.StandardCharsets.UTF_8))
      GraftLogWritePath.commitAll(root, Seq("s"),
        Array(GraftLogStagedCommit(0, Map(0 -> Seq((f.toString, 1L))))), queryId = "q1")
    }
    commitOne()
    assert(java.nio.file.Files.exists(ownStale),
      "sweep deleted the committing query's own staged file")
    assert(!java.nio.file.Files.exists(foreignStale),
      "sweep left a foreign file past the TTL")
    // TTL <= 0 disables the sweep entirely
    val foreignStale2 = stale("q0__orphan2.vjsonl")
    val f2 = staging.resolve(s"q1__${java.util.UUID.randomUUID()}.vjsonl")
    java.nio.file.Files.write(f2,
      (LogStore.encodeValuesLine(Map("k" -> "v")) + "\n")
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    GraftLogWritePath.commitAll(root, Seq("s"),
      Array(GraftLogStagedCommit(0, Map(0 -> Seq((f2.toString, 1L))))),
      queryId = "q1", stagingTtlMs = -1L)
    assert(java.nio.file.Files.exists(foreignStale2), "disabled sweep still deleted")
  }

  test("streaming read over a trimmed log resumes at the first retained entry") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s", maxSegmentEntries = 3)
    w.produceAllAt((1 to 9).map(i => (i * 10L, Map[String, Any]("i" -> i))))
    LogStore.trim(root, "s", LogId(50L, Long.MaxValue))
    val q = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "s")
      .option("startingOffsets", "earliest") // position below the cutoff
      .load()
      .selectExpr("values['i'] AS i")
      .writeStream.format("memory").queryName("trimmed_read")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    val got = spark.sql("select i from trimmed_read").collect()
      .map(_.getString(0).toInt).sorted.toSeq
    assert(got == (6 to 9), s"trimmed stream read $got")
  }

  test("compaction merges segments; readers see identical data") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    (1 to 10).foreach { i => now += 10; w.produce(Map("i" -> i)) }
    val before = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(LogStore.segments(root, "s").size == 10)
    val merged = LogStore.compact(root, "s", LogStore.maxId(root, "s"))
    assert(merged == 10)
    assert(LogStore.segments(root, "s").size == 1)
    val after = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(after == before)
    // and the DSv2 batch reader agrees
    val df = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").load()
    assert(df.count() == 10)
  }

  test("multi-stream read: batch and streaming fan-in over a stream list") {
    val root = TestSpark.tmpDir("graftlog")
    val wa = new LogWriter(root, "a")
    val wb = new LogWriter(root, "b")
    (1 to 3).foreach(i => wa.produce(Map("n" -> s"a$i")))
    (1 to 2).foreach(i => wb.produce(Map("n" -> s"b$i")))
    // batch: one scan over both streams, stream column distinguishes
    val batch = spark.read.format("graftlog")
      .option("path", root).option("stream", "a,b").load()
    assert(batch.count() == 5)
    assert(batch.select("stream").distinct().collect().map(_.getString(0)).sorted
      .toSeq == Seq("a", "b"))
    // streaming: offsets advance independently per stream
    val q = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "a,b")
      .option("startingOffsets", "earliest")
      .load()
      .writeStream.format("memory").queryName("fanin")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q.processAllAvailable()
    wb.produce(Map("n" -> "b3"))
    q.processAllAvailable()
    val got = spark.sql("select values['n'] as n from fanin").collect()
      .map(_.getString(0)).sorted.toSeq
    q.stop()
    assert(got == Seq("a1", "a2", "a3", "b1", "b2", "b3"))
  }

  test("startingTimestamp resolves the initial offset by the id's millis prefix") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    (1 to 10).foreach { i => now = 1000L + i * 100; w.produce(Map("n" -> i.toString)) }
    // start at epoch millis 1500: entries produced at 1500+ (n >= 5) only
    val q = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "s")
      .option("startingTimestamp", "1500")
      .load()
      .writeStream.format("memory").queryName("bytime")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q.processAllAvailable(); q.stop()
    val got = spark.sql("select CAST(values['n'] AS INT) n from bytime")
      .collect().map(_.getInt(0)).sorted.toSeq
    assert(got == (5 to 10))
    // both options set → loud rejection
    val e = intercept[Exception] {
      spark.readStream.format("graftlog")
        .option("path", root).option("stream", "s")
        .option("startingOffsets", "earliest")
        .option("startingTimestamp", "1500")
        .load()
        .writeStream.format("memory").queryName("bytime2")
        .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
        .start().processAllAvailable()
    }
    assert(Iterator.iterate(e: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("not both"))))
  }

  test("sharded write: union of shards equals unsharded content, keys pinned to shards") {
    val root = TestSpark.tmpDir("graftlog")
    val df = spark.range(1000).selectExpr(
      "CAST(id % 37 AS STRING) AS k", "CAST(id AS STRING) AS n")
    df.write.format("graftlog").option("path", root).option("stream", "s")
      .option("shards", "4").option("shardKey", "k").mode("append").save()
    // fan-in read sees every row exactly once (PARITY with unsharded content)
    val got = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").option("shards", "4")
      .load().selectExpr("values['n'] AS n")
      .collect().map(_.getString(0).toInt).sorted
    assert(got.toSeq == (0 until 1000), "sharded union diverges from input")
    // per-shard ids are dense + unique; every key sits on its routed shard
    val perShard = (0 until 4).map { k =>
      val st = graft.sources.GraftLogSource.shardName("s", k)
      val es = LogStore.readRange(root, st, LogId.Zero, LogStore.maxId(root, st))
      assert(es.map(_.id).distinct.size == es.size, s"duplicate ids on shard $k")
      k -> es
    }
    assert(perShard.map(_._2.size).sum == 1000)
    assert(perShard.count(_._2.nonEmpty) == 4, "a shard stayed empty (bad spread)")
    perShard.foreach { case (k, es) =>
      es.foreach { e =>
        assert(graft.sources.GraftLogSource.shardOf(e.values("k"), 4) == k,
          s"key ${e.values("k")} landed on shard $k, not its routed shard")
      }
    }
    // a second append routes identically (cross-writer determinism) and
    // each shard's sequencer keeps advancing independently
    df.write.format("graftlog").option("path", root).option("stream", "s")
      .option("shards", "4").option("shardKey", "k").mode("append").save()
    (0 until 4).foreach { k =>
      val st = graft.sources.GraftLogSource.shardName("s", k)
      val es = LogStore.readRange(root, st, LogId.Zero, LogStore.maxId(root, st))
      assert(es.size == 2 * perShard(k)._2.size, s"shard $k second append skewed")
      assert(es.map(_.id).distinct.size == es.size)
    }
  }

  test("sharded streaming write + sharded streaming read round-trip") {
    val root = TestSpark.tmpDir("graftlog")
    val src = TestSpark.tmpDir("srclog")
    val w = new LogWriter(src, "in")
    w.produceAll((0 until 50).map(i => Map[String, Any]("k" -> (i % 7), "n" -> i)))
    // stream through a sharded sink
    val q = spark.readStream.format("graftlog")
      .option("path", src).option("stream", "in")
      .option("startingOffsets", "earliest")
      .load()
      .selectExpr("values['k'] AS k", "values['n'] AS n")
      .writeStream.format("graftlog")
      .option("path", root).option("stream", "out")
      .option("shards", "2").option("shardKey", "k")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
      .start()
    q.awaitTermination(120000); q.stop()
    // sharded streaming read fans the shards back in
    val q2 = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "out").option("shards", "2")
      .option("startingOffsets", "earliest")
      .load()
      .selectExpr("values['n'] AS n")
      .writeStream.format("memory").queryName("sharded_fanin")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q2.processAllAvailable(); q2.stop()
    val ns = spark.sql("select n from sharded_fanin")
      .collect().map(_.getString(0).toInt).sorted
    assert(ns.toSeq == (0 until 50))
  }

  test("streamInfo and groupLag compose with sharded streams") {
    val root = TestSpark.tmpDir("graftlog")
    val df = spark.range(100).selectExpr(
      "CAST(id % 11 AS STRING) AS k", "CAST(id AS STRING) AS n")
    df.write.format("graftlog").option("path", root).option("stream", "s")
      .option("shards", "3").option("shardKey", "k").mode("append").save()
    val names = graft.sources.GraftLogSource.shardNames("s", 3)
    val info = graft.operators.StreamInspect.streamInfo(spark, root, names)
      .collect()
    assert(info.map(_.getLong(1)).sum == 100, "shard counts don't sum to input")
    // an uncommitted group lags each shard by that shard's full length
    val lag = graft.operators.StreamInspect
      .groupLag(spark, root, names, Seq(("g", TestSpark.tmpDir("ckpt"))))
      .collect()
    assert(lag.length == 3 && lag.map(_.getAs[Long]("lag")).sum == 100)
  }

  test("streamInfo reports entry counts and high water; tombstones excluded") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "a", () => now)
    w.produceTombstone() // MKSTREAM-style placeholder must not count
    (1 to 5).foreach { i => now += 10; w.produce(Map("i" -> i)) }
    val w2 = new LogWriter(root, "b", () => 5000L)
    w2.produceAll((1 to 3).map(i => Map[String, Any]("i" -> i)))
    val rows = graft.operators.StreamInspect.streamInfo(spark, root, Seq("a", "b"))
      .orderBy("stream").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 5L), ("b", 3L)))
    assert(rows(0).getAs[String]("first_id") == "1010-0")
    assert(rows(0).getAs[String]("high_water") == "1050-0")
    assert(rows(1).getAs[String]("high_water") == "5000-2")
  }

  test("groupLag: uncommitted group lags the whole stream from 0-0") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s", () => 2000L)
    w.produceAll((1 to 7).map(i => Map[String, Any]("i" -> i)))
    val ckpt = TestSpark.tmpDir("ckpt") // no commits yet
    val rows = graft.operators.StreamInspect
      .groupLag(spark, root, Seq("s"), Seq(("g0", ckpt))).collect()
    assert(rows.length == 1)
    val r = rows.head
    assert(r.getAs[String]("committed_id") == "0-0")
    assert(r.getAs[String]("high_water") == "2000-6")
    assert(r.getAs[Long]("lag") == 7L)
  }

  test("valueSchema reads typed columns; missing keys and blanks are null") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s")
    w.produce(Map[String, Any]("n" -> 7, "d" -> 1.5, "b" -> true, "name" -> "x"))
    w.produce(Map[String, Any]("n" -> "", "name" -> "y")) // blank + missing keys
    val df = spark.read.format("graftlog")
      .option("path", root).option("stream", "s")
      .option("valueSchema", "n INT, d DOUBLE, b BOOLEAN, name STRING")
      .load()
    // typed schema replaces the map column entirely
    assert(df.schema.fieldNames.toSeq ==
      Seq("stream", "id", "ts", "seq", "n", "d", "b", "name"))
    val rows = df.select("n", "d", "b", "name").orderBy("id").collect()
    assert(rows(0).getInt(0) == 7 && rows(0).getDouble(1) == 1.5 &&
      rows(0).getBoolean(2) && rows(0).getString(3) == "x")
    assert(rows(1).isNullAt(0) && rows(1).isNullAt(1) && rows(1).isNullAt(2) &&
      rows(1).getString(3) == "y")
  }

  test("valueSchema projected reads never materialize the payload map") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s")
    (1 to 5).foreach(i => w.produce(Map[String, Any]("n" -> i, "junk" -> ("z" * 50))))
    val opts = new CaseInsensitiveStringMap(java.util.Map.of(
      "path", root, "stream", "s", "valueSchema", "n INT, junk STRING"))
    val b = new graft.sources.GraftLogScanBuilder(root, opts)
    // Catalyst prunes to the projected column only
    b.pruneColumns(org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("n",
        org.apache.spark.sql.types.IntegerType))))
    val batch = b.build().toBatch
    val parts = batch.planInputPartitions()
    val reader = batch.createReaderFactory().createReader(parts.head)
    assert(reader.next())
    val row = reader.get()
    // one typed field, parsed straight from the payload — no MapData, and
    // the unprojected key was never converted
    assert(row.numFields == 1 && row.getInt(0) == 1)
    // end-to-end: a typed projection through SQL agrees
    val ns = spark.read.format("graftlog")
      .option("path", root).option("stream", "s")
      .option("valueSchema", "n INT, junk STRING")
      .load().select("n").collect().map(_.getInt(0)).sorted
    assert(ns.toSeq == (1 to 5))
  }

  test("valueSchema rejects reserved names, bad types, and unparseable values") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s")
    w.produce(Map[String, Any]("n" -> "not-a-number"))
    def read(vs: String) = spark.read.format("graftlog")
      .option("path", root).option("stream", "s")
      .option("valueSchema", vs).load()
    intercept[IllegalArgumentException] { read("ts LONG").collect() }
    intercept[IllegalArgumentException] { read("m MAP<STRING,STRING>").collect() }
    // a declared-INT payload that doesn't parse fails loudly, with the id
    val e = intercept[org.apache.spark.SparkException] {
      read("n INT").select("n").collect()
    }
    assert(e.getCause != null &&
      String.valueOf(e.getCause.getMessage).contains("does not parse as int"))
  }

  test("valueSchema applies to streaming reads too") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s")
    (1 to 6).foreach(i => w.produce(Map[String, Any]("n" -> i)))
    val q = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "s")
      .option("valueSchema", "n INT")
      .option("startingOffsets", "earliest")
      .load()
      .groupBy().sum("n")
      .writeStream.format("memory").queryName("vs_stream")
      .outputMode("complete")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q.processAllAvailable()
    q.stop()
    assert(spark.sql("select * from vs_stream").collect().head.getLong(0) == 21L)
  }

  test("ts filter pushdown prunes segments at planning; results stay exact") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    // 10 segments, one per 100ms-spaced batch of 10 entries
    (0 until 10).foreach { b =>
      now = 1000L + b * 100
      w.produceAll((0 until 10).map(i => Map[String, Any]("n" -> (b * 10 + i))))
    }
    val opts = new CaseInsensitiveStringMap(java.util.Map.of(
      "path", root, "stream", "s", "minPartitions", "100"))
    def partitions(filters: Array[org.apache.spark.sql.sources.Filter]): Int = {
      val b = new graft.sources.GraftLogScanBuilder(root, opts)
      b.pushFilters(filters)
      b.build().toBatch.planInputPartitions().length
    }
    val all = partitions(Array.empty)
    assert(all == 10, s"expected one planned partition per segment, got $all")
    // a half-open day-slice style predicate plans only the matching segments
    val pruned = partitions(Array(
      org.apache.spark.sql.sources.GreaterThanOrEqual("ts",
        java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(1500))),
      org.apache.spark.sql.sources.LessThan("ts",
        java.sql.Timestamp.from(java.time.Instant.ofEpochMilli(1700)))))
    assert(pruned <= 3, s"ts range should prune to ~2 segments, planned $pruned")
    // end-to-end: the same predicate through SQL returns exactly the right
    // rows (residual filter keeps boundary semantics exact)
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").load()
      .filter(col("ts") >= expr("timestamp_millis(1500)") &&
        col("ts") < expr("timestamp_millis(1700)"))
    val ns = df.select(expr("CAST(values['n'] AS INT)").as("n"))
      .collect().map(_.getInt(0)).sorted
    assert(ns.toSeq == (50 until 70), s"got ${ns.mkString(",")}")
    // column pruning: an id/ts-only projection never builds the payload map
    val idOnly = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").load()
      .select("id").count()
    assert(idOnly == 100)
  }

  test("ts pushdown pruning is exact under randomized bounds") {
    // the conservative floor math must never drop a matching row, whatever
    // the bounds; compare the pushdown-pruned read against brute force
    val root = TestSpark.tmpDir("graftlog")
    val rnd = new scala.util.Random(42)
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    val produced = (1 to 60).map { i =>
      // irregular gaps INCLUDING zero: same-millisecond runs exercise the
      // seq handling at the pruning boundary (start m-1/MaxValue must admit
      // every seq of millisecond m)
      now += (if (rnd.nextInt(4) == 0) 0 else 1 + rnd.nextInt(50))
      w.produce(Map("n" -> i.toString))
      (now, i)
    }
    import org.apache.spark.sql.functions._
    val df = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").load()
    (1 to 12).foreach { _ =>
      val a = 1000L + rnd.nextInt(1800)
      val b = a + rnd.nextInt(1200)
      val got = df
        .filter(col("ts") >= expr(s"timestamp_millis(${a}L)") &&
          col("ts") < expr(s"timestamp_millis(${b}L)"))
        .select(expr("CAST(values['n'] AS INT)").as("n"))
        .collect().map(_.getInt(0)).sorted.toSeq
      val want = produced.collect { case (m, i) if m >= a && m < b => i }
      assert(got == want, s"bounds [$a,$b): got $got want $want")
    }
  }

  test("duplicate stream names dedupe: 's,s' reads as single-stream") {
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    // "a,a" must not count as multi-stream: the offset map would collapse
    // to one entry (emitting the flat legacy offset format that a restart
    // under the same list then rejects) and the per-stream quota would be
    // divided by the duplicated count.
    assert(graft.sources.GraftLogSource.streams(
      new CaseInsensitiveStringMap(java.util.Map.of("stream", "a, a, b")))
      == Seq("a", "b"))
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s")
    (1 to 4).foreach(i => w.produce(Map("n" -> i.toString)))
    val batch = spark.read.format("graftlog")
      .option("path", root).option("stream", "s,s").load()
    assert(batch.count() == 4) // not doubled
    // streaming restart over the same checkpoint accepts its own offsets
    // (memory sink can't recover a checkpoint — count via foreachBatch)
    val ckpt = TestSpark.tmpDir("ckpt")
    val seen = new java.util.concurrent.atomic.AtomicLong(0)
    def drain(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("path", root).option("stream", "s,s")
        .option("startingOffsets", "earliest")
        .option("maxEntriesPerTrigger", "2")
        .load()
        .writeStream
        .foreachBatch { (b: org.apache.spark.sql.DataFrame, _: Long) =>
          seen.addAndGet(b.count()); ()
        }
        .option("checkpointLocation", ckpt)
        .trigger(org.apache.spark.sql.streaming.Trigger.AvailableNow())
        .start()
      q.awaitTermination()
    }
    drain()
    w.produce(Map("n" -> "5"))
    drain() // would throw on flat-offset rejection if "s,s" were multi-stream
    assert(seen.get() == 5) // 4 + the 1 new entry; nothing redelivered
  }

  test("multi-stream write is rejected (single-sequencer per stream)") {
    val root = TestSpark.tmpDir("graftlog")
    import spark.implicits._
    val ex = intercept[Exception] {
      Seq(("x", "1")).toDF("k", "v")
        .write.format("graftlog")
        .option("path", root).option("stream", "a,b")
        .mode("append").save()
    }
    assert(Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .exists(t => Option(t.getMessage).exists(_.contains("exactly one stream"))))
  }

  test("tiered compaction merges small-segment runs; auto-compact bounds file count") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now, compaction = Some(LogStore.CompactionPolicy(8)))
    (1 to 100).foreach { i => now += 10; w.produce(Map("i" -> i)) }
    val segs = LogStore.segments(root, "s")
    assert(segs.size < 20, s"auto-compact should bound file count, got ${segs.size}")
    val all = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(all.size == 100)
    assert(all.map(_.values("i")) == (1 to 100).map(_.toString))
    // manual tiered pass on a fresh stream with a mixed size profile
    val w2 = new LogWriter(root, "t", () => now)
    (1 to 6).foreach { i => now += 10; w2.produce(Map("i" -> i)) }
    val merged = LogStore.compactTiered(root, "t", minMerge = 4)
    assert(merged >= 4)
    val after = LogStore.readRange(root, "t", LogId.Zero, LogStore.maxId(root, "t"))
    assert(after.map(_.values("i")) == (1 to 6).map(_.toString))
  }

  test("compaction policy auto-freezes cold full-size segments to parquet") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    // tiny tier target so full-size segments appear quickly: merge runs of
    // >=2 sub-200-byte segments, freeze merged segments >=200 bytes to
    // parquet, keep the newest 1 segment hot
    val w = new LogWriter(root, "s", () => now,
      compaction = Some(LogStore.CompactionPolicy(
        triggerSegments = 4, targetBytes = 200L, minMerge = 2,
        freezeColdToParquet = true, keepHotSegments = 1)))
    (1 to 120).foreach { i => now += 10; w.produce(Map("i" -> i, "pad" -> ("x" * 20))) }
    val segs = LogStore.segments(root, "s")
    val parquet = segs.filter(_.path.endsWith(".parquet"))
    assert(parquet.nonEmpty, s"expected frozen parquet cold segments, got: " +
      segs.map(_.path.split('/').last).mkString(", "))
    // the newest (hot, append-point) segment is never frozen
    assert(!segs.last.path.endsWith(".parquet"))
    // no data lost or duplicated across the mixed-format store
    val all = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(all.map(_.values("i")) == (1 to 120).map(_.toString))
    // and the DSv2 batch read sees the same
    val batch = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").load()
    assert(batch.count() == 120)
  }

  test("tiered compaction never merges frozen parquet segments back to JSONL") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    (1 to 6).foreach { i => now += 10; w.produce(Map("i" -> i)) }
    // freeze everything so far into one (small) parquet cold segment
    assert(LogStore.compactToParquet(root, "s", LogStore.maxId(root, "s")) > 0)
    val frozen = LogStore.segments(root, "s").filter(_.path.endsWith(".parquet"))
    assert(frozen.size == 1)
    // new small JSONL segments adjacent to the parquet one
    (7 to 12).foreach { i => now += 10; w.produce(Map("i" -> i)) }
    LogStore.compactTiered(root, "s", targetBytes = 1L << 20, minMerge = 2)
    // the parquet segment survives (a merge would rewrite it as JSONL)
    assert(LogStore.segments(root, "s").exists(_.path == frozen.head.path),
      "frozen parquet segment was merged back into JSONL")
    val all = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(all.map(_.values("i")) == (1 to 12).map(_.toString))
  }

  test("parquet cold compaction round-trips; DSv2 reads mixed-format segments") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    (1 to 6).foreach { i => now += 10; w.produce(Map("i" -> i, "hello \"q\"" -> s"v\n$i")) }
    val before = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    // rewrite the first 4 entries to a columnar cold segment
    val upTo = before(3).id
    val merged = LogStore.compactToParquet(root, "s", upTo)
    assert(merged == 4)
    val segs = LogStore.segments(root, "s")
    assert(segs.count(_.path.endsWith(".parquet")) == 1)
    assert(segs.count(_.path.endsWith(".jsonl")) == 2)
    // entries identical through the mixed-format store
    val after = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(after == before)
    // and through the DSv2 batch reader
    val df = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").load()
    assert(df.count() == 6)
    // and a streaming drain sees the same data across formats
    val q = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "s")
      .option("startingOffsets", "earliest")
      .option("maxEntriesPerTrigger", "2")
      .load()
      .writeStream.format("memory").queryName("coldmix")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q.processAllAvailable()
    val got = spark.sql("select values['i'] as i from coldmix").collect()
      .map(_.getString(0)).sorted.toSeq
    q.stop()
    assert(got == (1 to 6).map(_.toString).sorted)
  }

  test("parquet cold tier handles empty payload maps; lone parquet segment is a fixed point") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    now += 10; w.produce(Map.empty[String, Any]) // legal: empty payload
    now += 10; w.produce(Map("k" -> "v"))
    val before = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(LogStore.compactToParquet(root, "s", LogStore.maxId(root, "s")) == 2)
    val after = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(after == before)
    // compacting again must be a no-op, not an endless self-rewrite
    assert(LogStore.compactToParquet(root, "s", LogStore.maxId(root, "s")) == 0)
  }

  test("parquet compaction and freezing leave no .crc file; entries unchanged") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    (1 to 8).foreach { i => now += 10; w.produce(Map("i" -> i)) }
    val before = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    assert(LogStore.compactToParquet(root, "s", before(3).id) == 4)
    assert(LogStore.freezeColdSegments(root, "s", minBytes = 1, keepHot = 1) == 3)
    import scala.jdk.CollectionConverters._
    val dir = LogStore.streamDir(root, "s")
    val names = java.nio.file.Files.list(dir).iterator().asScala.map(_.getFileName.toString).toSeq
    assert(!names.exists(_.endsWith(".crc")), names.mkString(", "))
    assert(LogStore.segments(root, "s").count(_.path.endsWith(".parquet")) == 4)
    assert(LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s")) == before)
  }

  test("multi-stream offset recovery: flat checkpoints rejected, new streams filled") {
    import graft.sources.{GraftLogMicroBatchStream, GraftLogOffset}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val root = TestSpark.tmpDir("graftlog")
    new LogWriter(root, "a").produce(Map("n" -> "1"))
    new LogWriter(root, "b").produce(Map("n" -> "2"))
    def mbs(streams: String) = new GraftLogMicroBatchStream(root, streams,
      new CaseInsensitiveStringMap(Map("path" -> root, "stream" -> streams,
        "startingOffsets" -> "earliest").asJava))
    // a flat (single-stream) checkpoint offset carries no stream name:
    // resuming it under a widened stream list must fail loudly, not guess
    val ex = intercept[IllegalArgumentException] {
      mbs("b,a").deserializeOffset("""{"millis":1,"seq":0}""")
    }
    assert(ex.getMessage.contains("single-stream"))
    // single-stream recovery of the flat format still works
    val single = mbs("a").deserializeOffset("""{"millis":1,"seq":0}""")
      .asInstanceOf[GraftLogOffset]
    assert(single.ids == Map("a" -> LogId(1, 0)))
    // a stream added since the checkpoint starts at the configured offset
    val widened = mbs("a,b").deserializeOffset(
      """{"streams":{"a":{"millis":5,"seq":2}}}""").asInstanceOf[GraftLogOffset]
    assert(widened.ids("a") == LogId(5, 2))
    assert(widened.ids("b") == LogId.Zero) // earliest
  }

  test("minEntriesPerTrigger gates batches until enough data or the poll timeout") {
    import graft.sources.{GraftLogMicroBatchStream, GraftLogOffset}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    (1 to 5).foreach { i => now += 10; w.produce(Map("n" -> i)) }
    def mbs(extra: (String, String)*) = new GraftLogMicroBatchStream(root, "s",
      new CaseInsensitiveStringMap((Map("path" -> root, "stream" -> "s",
        "startingOffsets" -> "earliest") ++ extra).asJava))
    def drain(m: GraftLogMicroBatchStream) = {
      val start = m.initialOffset()
      m.latestOffset(start, m.getDefaultReadLimit).asInstanceOf[GraftLogOffset]
        .id("s") -> start.asInstanceOf[GraftLogOffset].id("s")
    }
    // below the minimum with a long poll window: the batch must not fire
    // (≙ XREAD BLOCK still waiting, consumer.ex:252-281)
    val (gatedEnd, gatedStart) =
      drain(mbs("minEntriesPerTrigger" -> "10", "maxTriggerDelayMs" -> "600000"))
    assert(gatedEnd == gatedStart, "batch fired below minEntriesPerTrigger")
    // minimum met: fires and reads everything available
    val (end2, _) = drain(mbs("minEntriesPerTrigger" -> "3"))
    assert(end2 == LogStore.maxId(root, "s"))
    // poll timeout elapsed: fires even below the minimum (BLOCK timeout)
    val (end3, _) =
      drain(mbs("minEntriesPerTrigger" -> "10", "maxTriggerDelayMs" -> "0"))
    assert(end3 == LogStore.maxId(root, "s"))
    // composite min+max: min satisfied, max still bounds the batch to 2
    val m4 = mbs("minEntriesPerTrigger" -> "2", "maxEntriesPerTrigger" -> "2")
    val s4 = m4.initialOffset()
    val e4 = m4.latestOffset(s4, m4.getDefaultReadLimit).asInstanceOf[GraftLogOffset]
    val n4 = LogStore.readRange(root, "s",
      s4.asInstanceOf[GraftLogOffset].id("s"), e4.id("s")).size
    assert(n4 == 2, s"composite limit read $n4 entries, wanted 2")
  }

  test("stream names outside the safe charset are rejected") {
    val root = TestSpark.tmpDir("graftlog")
    intercept[IllegalArgumentException] { new LogWriter(root, "bad\"name") }
    intercept[IllegalArgumentException] { new LogWriter(root, "a,b") }
    new LogWriter(root, "ok-name_1.x=") // url-base64-ish names stay legal
  }

  test("gzip compaction round-trips and the DSv2 reader handles .gz segments") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    (1 to 8).foreach { i => now += 10; w.produce(Map("i" -> i)) }
    val before = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
    LogStore.compact(root, "s", LogStore.maxId(root, "s"), gzip = true)
    val segs = LogStore.segments(root, "s")
    assert(segs.size == 1 && segs.head.path.endsWith(".jsonl.gz"))
    assert(LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s")) == before)
    val df = spark.read.format("graftlog")
      .option("path", root).option("stream", "s").load()
    assert(df.count() == 8)
  }

  test("streaming sink commit is idempotent per epoch, but only within a query") {
    import graft.sources.{GraftLogSource, GraftLogStagedCommit, GraftLogStagedWrite}
    import org.apache.spark.sql.connector.write.WriterCommitMessage
    // a plain stream, then a 2-shard one: one marker under the first target
    // guards the whole epoch
    val cases = Seq(Seq("out") -> "out", GraftLogSource.shardNames("out", 2) -> "out.s0")
    for ((targets, markerStream) <- cases) {
      val root = TestSpark.tmpDir("graftlog")
      targets.foreach(LogStore.ensureStream(root, _))
      def stagingDir(t: String) = LogStore.streamDir(root, t).resolve(".staging")
      // a re-delivered epoch re-runs its tasks, so every delivery stages
      // fresh files, one per target
      def staged(): Array[WriterCommitMessage] = {
        val files = targets.indices.map { k =>
          java.nio.file.Files.createDirectories(stagingDir(targets(k)))
          val f = stagingDir(targets(k)).resolve(s"${java.util.UUID.randomUUID()}.vjsonl")
          java.nio.file.Files.write(f,
            (LogStore.encodeValuesLine(Map("k" -> "v")) + "\n")
              .getBytes(java.nio.charset.StandardCharsets.UTF_8))
          k -> Seq((f.toString, 1L))
        }.toMap
        Array(GraftLogStagedCommit(0, files))
      }
      def counts(): Seq[Int] = targets.map(t =>
        LogStore.readRange(root, t, LogId.Zero, LogStore.maxId(root, t)).size)
      val write = new GraftLogStagedWrite(root, targets, null, "query-A")
      write.commit(7L, staged())
      // marker paths are unchanged: <stream>/_epochs/<queryId>/<epoch>, and
      // <stream>.s0/_epochs/<queryId>/<epoch> when sharded
      assert(java.nio.file.Files.isRegularFile(LogStore.streamDir(root, markerStream)
        .resolve("_epochs").resolve("query-A").resolve("7")))
      write.commit(7L, staged()) // re-delivered epoch after driver recovery
      assert(counts() == targets.map(_ => 1))
      // the duplicate epoch's staged files must be dropped, not leaked
      targets.foreach { t =>
        val leftover = java.nio.file.Files.list(stagingDir(t)).count()
        assert(leftover == 0, s"duplicate-epoch staging leaked $leftover files in $t")
      }
      // a DIFFERENT query re-using the same epoch number must NOT be dropped:
      // epoch ids restart at 0 per query, so markers are keyed by query identity
      new GraftLogStagedWrite(root, targets, null, "query-B").commit(7L, staged())
      assert(counts() == targets.map(_ => 2))
    }
  }

  test("a second streaming query with a fresh checkpoint still appends (epoch 0 reuse)") {
    // end-to-end regression for the queryId-keyed markers: two queries, two
    // checkpoints, same output stream — both write their rows.
    val root = TestSpark.tmpDir("graftlog")
    val src = TestSpark.tmpDir("srclog")
    val sw = new LogWriter(src, "in")
    import spark.implicits._
    def runOnce(): Unit = {
      val q = spark.readStream.format("graftlog")
        .option("path", src).option("stream", "in")
        .option("startingOffsets", "earliest")
        .load()
        .select($"values")
        .writeStream.format("graftlog")
        .option("path", root).option("stream", "out")
        .option("checkpointLocation", TestSpark.tmpDir("ckpt")) // fresh each time
        .start()
      q.processAllAvailable()
      q.stop()
    }
    (1 to 2).foreach(i => sw.produce(Map("n" -> i)))
    runOnce()
    runOnce() // fresh checkpoint re-reads from earliest; epochs restart at 0
    val out = LogStore.readRange(root, "out", LogId.Zero, LogStore.maxId(root, "out"))
    assert(out.size == 4, "second query's commits must not be dropped by stale epoch markers")
  }

  test("concurrent writers to one stream never assign duplicate ids") {
    val root = TestSpark.tmpDir("graftlog")
    val threads = 4
    val perThread = 25
    val pool = java.util.concurrent.Executors.newFixedThreadPool(threads)
    try {
      val futures = (0 until threads).map { t =>
        pool.submit(new java.util.concurrent.Callable[Seq[String]] {
          override def call(): Seq[String] = {
            val w = new LogWriter(root, "s") // one writer instance per thread
            (0 until perThread).map(i => w.produce(Map("t" -> t, "i" -> i)).toString)
          }
        })
      }
      val ids = futures.flatMap(_.get())
      assert(ids.size == threads * perThread)
      assert(ids.distinct.size == ids.size, "duplicate ids assigned under contention")
      val entries = LogStore.readRange(root, "s", LogId.Zero, LogStore.maxId(root, "s"))
      assert(entries.size == threads * perThread, "a segment was silently clobbered")
    } finally pool.shutdown()
  }

  test("maxEntriesPerTrigger must be >= 1") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s1")
    w.produce(Map("k" -> "v"))
    val ex = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
      val q = spark.readStream.format("graftlog")
        .option("path", root).option("stream", "s1")
        .option("startingOffsets", "earliest")
        .option("maxEntriesPerTrigger", "0")
        .load()
        .writeStream.format("memory").queryName("badmax")
        .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
        .start()
      q.processAllAvailable()
      q.stop()
    }
    val messages = Iterator.iterate(ex: Throwable)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(messages.contains("maxEntriesPerTrigger"))
  }

  test("flagship slice: produce -> stream -> event-time windowed agg") {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1700000000000L
    val w = new LogWriter(root, "events", () => now)
    val kinds = Seq("click", "click", "purchase", "click", "purchase")
    kinds.foreach { k => now += 60000; w.produce(Map("event_type" -> k)) }
    import spark.implicits._
    val q = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "events")
      .option("startingOffsets", "earliest")
      .load()
      .withWatermark("ts", "1 minute")
      .groupBy(window($"ts", "1 hour"), $"values.event_type".as("event_type"))
      .agg(count(lit(1)).as("n"))
      .writeStream.outputMode("complete")
      .format("memory").queryName("winagg")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt"))
      .start()
    q.processAllAvailable()
    val got = spark.sql("select event_type, n from winagg order by event_type")
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    q.stop()
    assert(got == Map("click" -> 3, "purchase" -> 2))
  }

  test("reportLatestOffset returns the live head latestOffset read, and lists before any") {
    import graft.sources.{GraftLogMicroBatchStream, GraftLogOffset}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    (1 to 3).foreach { _ => now += 10; w.produce(Map("n" -> now)) }
    def mbs(extra: (String, String)*) = new GraftLogMicroBatchStream(root, "s",
      new CaseInsensitiveStringMap((Map("path" -> root, "stream" -> "s",
        "startingOffsets" -> "earliest") ++ extra).asJava))
    def reported(m: GraftLogMicroBatchStream) =
      m.reportLatestOffset().asInstanceOf[GraftLogOffset].id("s")
    def latest(m: GraftLogMicroBatchStream) =
      m.latestOffset(m.initialOffset(), m.getDefaultReadLimit)
        .asInstanceOf[GraftLogOffset].id("s")
    // no latestOffset yet: the head comes from a listing
    val fresh = mbs()
    assert(reported(fresh) == LogStore.maxId(root, "s"))
    assert(latest(fresh) == LogStore.maxId(root, "s"))
    assert(reported(fresh) == LogStore.maxId(root, "s"))
    // a quota cuts the batch, but the report is still the live head
    val capped = mbs("maxEntriesPerTrigger" -> "1")
    assert(latest(capped) == LogId(1010, 0))
    assert(reported(capped) == LogStore.maxId(root, "s"))
    // AvailableNow freezes the batch end; the report follows the live head
    val drain = mbs()
    drain.prepareForTriggerAvailableNow()
    val frozen = LogStore.maxId(root, "s")
    now += 10; w.produce(Map("n" -> now))
    assert(latest(drain) == frozen)
    assert(reported(drain) == LogStore.maxId(root, "s"))
    assert(reported(drain) > frozen)
  }

  // --- scan planning: partitions sized from the bytes they read ---

  /** `segments` single-entry segments of stream "s", one per millisecond. */
  private def tinySegments(segments: Int, payload: String = ""): String = {
    val root = TestSpark.tmpDir("graftlog")
    var now = 1000L
    val w = new LogWriter(root, "s", () => now)
    (1 to segments).foreach { i => now += 1; w.produce(Map("n" -> i, "p" -> payload)) }
    root
  }

  /** Every entry id the planned partitions read, partition by partition. */
  private def readIds(parts: Seq[org.apache.spark.sql.connector.read.InputPartition]): Seq[LogId] = {
    val f = new graft.sources.GraftLogReaderFactory(dropTombstones = true)
    parts.flatMap { p =>
      val r = f.createReader(p)
      Iterator.continually(r.next()).takeWhile(identity)
        .map(_ => LogId.parse(r.get().getUTF8String(1).toString)).toList
    }
  }

  private def segPaths(parts: Seq[org.apache.spark.sql.connector.read.InputPartition]): Seq[Seq[String]] =
    parts.map(_.asInstanceOf[graft.sources.GraftLogInputPartition].paths)

  /** Runs `f` with `confs` set in a session of its own, active on this thread. */
  private def withFileConfs[T](confs: (String, String)*)(f: org.apache.spark.sql.SparkSession => T): T = {
    import org.apache.spark.sql.SparkSession
    val s = spark.newSession()
    confs.foreach { case (k, v) => s.conf.set(k, v) }
    val before = SparkSession.getActiveSession
    SparkSession.setActiveSession(s)
    try f(s)
    finally before.fold(SparkSession.clearActiveSession())(SparkSession.setActiveSession)
  }

  test("25 tiny segments plan one partition, batch and streaming") {
    import graft.sources.{GraftLogMicroBatchStream, GraftLogPartitioning, GraftLogScanBuilder}
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val root = tinySegments(25)
    val head = LogStore.maxId(root, "s")
    assert(LogStore.segments(root, "s").size == 25)
    assert(GraftLogPartitioning.plan(root, "s", LogStore.listing(root, "s"), LogId.Zero, head, 1)
      .length == 1)
    val opts = new CaseInsensitiveStringMap(Map("path" -> root, "stream" -> "s",
      "startingOffsets" -> "earliest").asJava)
    val batch = new GraftLogScanBuilder(root, opts).build().toBatch.planInputPartitions()
    assert(batch.length == 1)
    assert(readIds(batch.toSeq) == LogStore.readRange(root, "s", LogId.Zero, head).map(_.id))
    val m = new GraftLogMicroBatchStream(root, "s", opts)
    val start = m.initialOffset()
    val parts = m.planInputPartitions(start, m.latestOffset(start, m.getDefaultReadLimit))
    assert(parts.length == 1 && readIds(parts.toSeq).size == 25)
    assert(spark.read.format("graftlog").option("path", root).option("stream", "s")
      .load().rdd.getNumPartitions == 1)
  }

  test("segments past one split plan contiguous id runs covering every segment in order") {
    import graft.sources.GraftLogPartitioning
    val root = tinySegments(30, payload = "x" * 400)
    val segs = LogStore.segments(root, "s")
    val size = (p: String) => java.nio.file.Files.size(java.nio.file.Paths.get(p))
    val split = 3 * size(segs.head.path) + 3 // three segments of about equal size
    withFileConfs("spark.sql.files.maxPartitionBytes" -> split.toString,
        "spark.sql.files.openCostInBytes" -> "1") { s =>
      val parts = GraftLogPartitioning.plan(root, "s", LogStore.listing(root, "s"), LogId.Zero,
        LogStore.maxId(root, "s"), 1)
      val runs = segPaths(parts.toSeq)
      assert(runs.size > 1, s"planned ${runs.size} runs")
      assert(runs.flatten == segs.map(_.path), "runs must cover every segment once, in id order")
      runs.foreach(r => assert(r.size == 1 || r.map(p => size(p) + 1).sum <= split,
        s"run of ${r.size} segments exceeds $split bytes"))
      assert(readIds(parts.toSeq) == segs.map(_.first))
      val df = s.read.format("graftlog").option("path", root).option("stream", "s").load()
      assert(df.rdd.getNumPartitions == runs.size)
      assert(df.select("seq").count() == 30)
    }
  }

  test("an explicit minPartitions floor is honoured, up to one run per segment") {
    import graft.sources.GraftLogPartitioning
    val root = tinySegments(25)
    val segs = LogStore.segments(root, "s").map(_.path)
    val head = LogStore.maxId(root, "s")
    Seq(1 -> 1, 4 -> 4, 7 -> 7, 25 -> 25, 100 -> 25).foreach { case (floor, want) =>
      val runs = segPaths(GraftLogPartitioning.plan(root, "s", LogStore.listing(root, "s"),
        LogId.Zero, head, floor).toSeq)
      assert(runs.size == want, s"floor $floor planned ${runs.size}")
      assert(runs.flatten == segs && runs.forall(_.nonEmpty), s"floor $floor")
    }
    intercept[IllegalArgumentException](spark.read.format("graftlog").option("path", root)
      .option("stream", "s").option("minPartitions", "0").load().collect())
  }

  test("a segment deleted between listing and planning does not fail the plan") {
    import graft.sources.GraftLogPartitioning
    val root = tinySegments(12)
    val head = LogStore.maxId(root, "s")
    val listed = LogStore.listing(root, "s")
    assert(listed.segments.size == 12)
    // merge the first six into one file, deleting them, after the listing
    assert(LogStore.compact(root, "s", LogId(1006L, 0L)) == 6)
    val parts = GraftLogPartitioning.plan(root, "s", listed, LogId.Zero, head, 4)
    assert(parts.length == 4)
    assert(readIds(parts.toSeq) == (1001L to 1012L).map(LogId(_, 0L)))
  }

  test("a compaction between latestOffset and planInputPartitions delivers every entry once") {
    import graft.sources.GraftLogMicroBatchStream
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    import scala.jdk.CollectionConverters._
    val root = tinySegments(12)
    val m = new GraftLogMicroBatchStream(root, "s", new CaseInsensitiveStringMap(Map(
      "path" -> root, "stream" -> "s", "startingOffsets" -> "earliest",
      "minPartitions" -> "3").asJava))
    val start = m.initialOffset()
    val end = m.latestOffset(start, m.getDefaultReadLimit)
    assert(LogStore.compact(root, "s", LogId(1009L, 0L)) == 9)
    val parts = m.planInputPartitions(start, end)
    assert(parts.length == 3)
    assert(readIds(parts.toSeq) == (1001L to 1012L).map(LogId(_, 0L)))
  }

  test("a graftlog pipe over many tiny segments keeps id order") {
    val root = tinySegments(60)
    val q = spark.readStream.format("graftlog").option("path", root).option("stream", "s")
      .option("startingOffsets", "earliest").load().select("values")
      .writeStream.format("graftlog").option("path", root).option("stream", "out")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt")).start()
    try {
      q.processAllAvailable()
      var now = 2000L
      val w = new LogWriter(root, "s", () => now)
      (61 to 120).foreach { i => now += 1; w.produce(Map("n" -> i)) }
      q.processAllAvailable()
    } finally q.stop()
    val out = LogStore.readRange(root, "out", LogId.Zero, LogStore.maxId(root, "out"))
    assert(out.map(_.values("n").toInt) == (1 to 120))
  }

  // --- listing reuse: an unchanged stream directory costs one stat ---

  private def setDirTime(root: String, millis: Long): Unit =
    java.nio.file.Files.setLastModifiedTime(LogStore.streamDir(root, "s"),
      java.nio.file.attribute.FileTime.fromMillis(millis))

  /** Backdates stream "s"'s directory time by 10 s, so it reads as quiet. */
  private def quiet(root: String): Unit = setDirTime(root, System.currentTimeMillis() - 10000)

  test("a quiet stream directory's listing is reused; a fresh, stale or missing one is not") {
    val root = tinySegments(3)
    quiet(root)
    val l = LogStore.listing(root, "s")
    assert(l.refresh() eq l)
    assert(l.refresh().refresh() eq l)
    // a time not yet older than the listing by the timestamp allowance: a
    // change in the same clock tick would not move it
    setDirTime(root, System.currentTimeMillis() + 10000)
    val future = LogStore.listing(root, "s")
    assert(future.refresh() ne future)
    val now = System.currentTimeMillis()
    setDirTime(root, now / 1000 * 1000) // whole seconds: a 2 s allowance
    val wholeSecond = LogStore.listing(root, "s")
    assert(wholeSecond.refresh() ne wholeSecond)
    setDirTime(root, if ((now - 500) % 1000 == 0) now - 501 else now - 500) // 50 ms allowance
    val subSecond = LogStore.listing(root, "s")
    assert(subSecond.refresh() eq subSecond)
    // a listing stands for its directory for under a second
    Thread.sleep(1100)
    assert(subSecond.refresh() ne subSecond)
    val missing = LogStore.listing(root, "nope")
    assert(missing.refresh() ne missing)
  }

  test("every change to a stream makes a new listing: append, staged publish, compact, trim, delete") {
    val root = tinySegments(6)
    def changes(what: String)(op: => Unit): Unit = {
      quiet(root)
      val l = LogStore.listing(root, "s")
      assert(l.refresh() eq l, what)
      op
      val next = l.refresh()
      assert(next ne l, s"$what kept the old listing")
      assert(next.head == LogStore.maxId(root, "s"), what)
      assert(next.segments.map(_.path) == LogStore.segments(root, "s").map(_.path), what)
    }
    changes("live append")(new LogWriter(root, "s").produce(Map("n" -> 7)))
    import spark.implicits._
    changes("staged sink publish")(Seq(8, 9).toDF("n").write.format("graftlog")
      .option("path", root).option("stream", "s").mode("append").save())
    changes("compact")(assert(LogStore.compact(root, "s", LogId(1003L, 0L)) == 3))
    changes("trim marker")(assert(LogStore.trim(root, "s", LogId.Zero) == 0L))
    assert(java.nio.file.Files.exists(LogStore.streamDir(root, "s").resolve(".highwater")))
    changes("trim")(assert(LogStore.trim(root, "s", LogId(1004L, 0L)) == 4L))
    changes("segment delete")(java.nio.file.Files.delete(
      java.nio.file.Paths.get(LogStore.segments(root, "s").head.path)))
  }

  private def earliest(root: String, extra: (String, String)*) = {
    import scala.jdk.CollectionConverters._
    new graft.sources.GraftLogMicroBatchStream(root, "s",
      new org.apache.spark.sql.util.CaseInsensitiveStringMap((Map("path" -> root,
        "stream" -> "s", "startingOffsets" -> "earliest") ++ extra).asJava))
  }

  private def latestId(m: graft.sources.GraftLogMicroBatchStream): LogId =
    m.latestOffset(m.initialOffset(), m.getDefaultReadLimit)
      .asInstanceOf[graft.sources.GraftLogOffset].id("s")

  test("an idle latestOffset on a quiet stream reuses its listing") {
    val root = tinySegments(20)
    quiet(root)
    val m = earliest(root)
    val head = LogStore.maxId(root, "s")
    assert(latestId(m) == head)
    val listed = m.listingOf("s").get
    (1 to 5).foreach { _ =>
      assert(latestId(m) == head)
      assert(m.listingOf("s").get eq listed)
    }
    // a min-rows gate that keeps waiting reads the segments once
    val gated = earliest(root, "minEntriesPerTrigger" -> "1000", "maxTriggerDelayMs" -> "600000")
    assert(latestId(gated) == LogId.Zero)
    val ids = gated.listingOf("s").get.idsAfter(LogId.Zero, 1000)
    assert(ids.size == 20)
    assert(latestId(gated) == LogId.Zero)
    assert(gated.listingOf("s").get.idsAfter(LogId.Zero, 1000) eq ids)
  }

  test("500 rounds of publish then latestOffset each report the just-published id") {
    val root = TestSpark.tmpDir("graftlog")
    val w = new LogWriter(root, "s")
    w.produce(Map("n" -> 0))
    val m = earliest(root)
    (1 to 500).foreach { i =>
      val id = w.produce(Map("n" -> i))
      assert(latestId(m) == id, s"round $i")
    }
  }

  test("a pipe and an AvailableNow drain over a quiet stream deliver every entry once, in order") {
    import org.apache.spark.sql.streaming.Trigger
    def out(root: String) =
      LogStore.readRange(root, "out", LogId.Zero, LogStore.maxId(root, "out")).map(_.values("n").toInt)
    val root = tinySegments(30)
    val q = spark.readStream.format("graftlog").option("path", root).option("stream", "s")
      .option("startingOffsets", "earliest").load().select("values")
      .writeStream.format("graftlog").option("path", root).option("stream", "out")
      .option("checkpointLocation", TestSpark.tmpDir("ckpt")).start()
    try {
      q.processAllAvailable()
      var now = 2000L
      val w = new LogWriter(root, "s", () => now)
      (1 to 3).foreach { round =>
        quiet(root)
        Thread.sleep(100) // idle polls of the quiet directory
        (1 to 10).foreach { i => now += 1; w.produce(Map("n" -> (20 + 10 * round + i))) }
        q.processAllAvailable()
      }
    } finally q.stop()
    assert(out(root) == (1 to 60))

    val root2 = tinySegments(40)
    val ckpt = TestSpark.tmpDir("ckpt")
    def drain(): Unit = {
      quiet(root2)
      val d = spark.readStream.format("graftlog").option("path", root2).option("stream", "s")
        .option("startingOffsets", "earliest").option("maxEntriesPerTrigger", "7").load()
        .select("values").writeStream.format("graftlog").option("path", root2)
        .option("stream", "out").option("checkpointLocation", ckpt)
        .trigger(Trigger.AvailableNow()).start()
      assert(d.awaitTermination(60000) && d.exception.isEmpty)
    }
    drain()
    assert(out(root2) == (1 to 40))
    var now = 5000L
    val w2 = new LogWriter(root2, "s", () => now)
    (41 to 45).foreach { i => now += 1; w2.produce(Map("n" -> i)) }
    drain()
    assert(out(root2) == (1 to 45))
  }

  test("a parallel-mode consumer still dispatches over more than one partition") {
    import graft.consumer.{ConsumerConfig, GraftConsumer}
    import scala.jdk.CollectionConverters._
    val root = tinySegments(40)
    LogSourceSpec.dispatchPartitions.clear()
    val c = new GraftConsumer(spark, ConsumerConfig(root, "s", TestSpark.tmpDir("ckpt"),
      groupName = Some("g"), startPos = "earliest", ordered = false), LogSourceSpec.partitionHandler)
    val q = c.start()
    try q.processAllAvailable() finally c.stop()
    val seen = LogSourceSpec.dispatchPartitions.asScala.toMap
    assert(seen.values.sum == 40)
    assert(seen.size > 1, s"dispatched over partitions ${seen.keys.mkString(",")}")
  }
}

object LogSourceSpec {
  import graft.consumer.HandlerResult
  // handler tasks run in-JVM under local[*]; a static map counts their
  // dispatches per partition (the handler must be serializable)
  val dispatchPartitions = new java.util.concurrent.ConcurrentHashMap[Int, Int]()
  val partitionHandler: (String, Option[String], String, Map[String, String]) => HandlerResult =
    (_, _, _, _) => {
      dispatchPartitions.merge(org.apache.spark.TaskContext.getPartitionId(), 1, _ + _)
      HandlerResult.Ok
    }
}
