package perfbench

import graft.consumer.{ConsumerConfig, GraftConsumer, HandlerResult}
import graft.log.{LogEntry, LogId, LogStore}
import org.apache.spark.sql.streaming.Trigger

import java.nio.file.Files
import java.util.concurrent.atomic.AtomicInteger
import scala.collection.mutable.ArrayBuffer

/** `tail_live`: an open-loop pipeline. A generator process appends to
  * stream `raw` on a fixed schedule of rising rates; a graftlog-to-graftlog
  * pipe query copies `raw` into `clean`; a group-mode consumer with ordered
  * dispatch and acks reads `clean`. `raw` starts with a history of many
  * small segments, the steady state of a long-lived stream, so every
  * trigger's segment listing does real work.
  *
  * Options: --rates <eps,...> --shares <n,...> --warmup-s <s> --gap-s <s>
  */
object TailLive {
  private val HistorySegments = 3000
  private val HistoryEntries = 4
  private val TickMs = 20
  private val DrainLimitS = 60
  def run(r: Run): Unit = {
    val spark = r.spark
    // a warm-up step at the first rate, then the measured steps, which
    // share the run's seconds in the given proportions; a quiet gap before
    // the last (overload) step lets the middle step's events drain first,
    // so its latency is the steady state's
    val rates = r.list("rates").map(_.toDouble)
    val weights = r.list("shares").map(_.toDouble)
    val stepsMs = weights.map(_ / weights.sum * r.seconds * 1000.0)
    val sched = Schedule(rates.head +: rates.init :+ 0.0 :+ rates.last,
      r.arg("warmup-s").toDouble * 1000.0 +: stepsMs.init :+ r.arg("gap-s").toDouble * 1000.0 :+
        stepsMs.last)

    // set-up, three times: a fresh log with the pre-seeded history; the last one is used
    val setups = (0 until 3).map { i =>
      val root = r.fresh(s"tail$i").toString
      val t0 = System.nanoTime()
      r.tracer.span("setup", "harness")(seedHistory(root, r.seed))
      if (i < 2) Main.deleteTree(r.work.resolve(s"tail$i"))
      Main.secondsSince(t0)
    }
    val root = r.work.resolve("tail2").toString
    val startAt = LogStore.maxId(root, "raw")
    LogStore.ensureStream(root, "clean")

    val n = sched.events
    val deliveredAt = Array.fill(n)(-1.0)
    val delivered = new AtomicInteger(0)
    var duplicates = 0
    var outOfOrder = 0
    var lastG = -1
    @volatile var t0 = 0L
    def nowMs(): Double = r.tracer.nowMs()
    val handler = (_: String, _: Option[String], _: String, values: Map[String, String]) => {
      val now = nowMs()
      val g = values("g").toInt
      if (deliveredAt(g) >= 0) duplicates += 1
      else {
        deliveredAt(g) = now - t0
        delivered.incrementAndGet()
      }
      if (g != lastG + 1) outOfOrder += 1
      lastG = math.max(lastG, g)
      HandlerResult.Ok: HandlerResult
    }

    val ckpt = r.fresh("tail-ckpt")
    val pipe = spark.readStream.format("graftlog")
      .option("path", root).option("stream", "raw")
      .option("startingOffsets", startAt.toString)
      .load()
      .select("values")
      .writeStream.format("graftlog")
      .option("path", root).option("stream", "clean")
      .option("checkpointLocation", ckpt.resolve("pipe").toString)
      .queryName("tail_pipe")
      .trigger(Trigger.ProcessingTime(100))
      .start()
    val consumer = new GraftConsumer(spark, ConsumerConfig(root, "clean",
      ckpt.resolve("consumer").toString, groupName = Some("perfbench"),
      startPos = "earliest"), handler)
    val cq = consumer.start()
    val ready = System.nanoTime()
    while ((pipe.lastProgress == null || cq.lastProgress == null) && Main.secondsSince(ready) < 60)
      Thread.sleep(20)

    // the generator JVM starts well before the schedule's first due time
    t0 = System.currentTimeMillis() + 1000
    val genOut = r.work.resolve("generator.json")
    val gen = new ProcessBuilder(
      System.getProperty("java.home") + "/bin/java", "-XX:-UsePerfData", "-Xmx256m",
      "-Djava.io.tmpdir=" + System.getProperty("java.io.tmpdir"),
      "-cp", System.getProperty("java.class.path"),
      "perfbench.Generator", "--root", root, "--stream", "raw",
      "--seed", r.seed.toString, "--rates", sched.rates.mkString(","),
      "--steps-ms", sched.stepsMs.mkString(","), "--tick-ms", TickMs.toString,
      "--t0-ms", t0.toString, "--out", genOut.toString)
      .redirectErrorStream(true)
      .redirectOutput(r.work.resolve("generator.log").toFile)
      .start()

    val lag = ArrayBuffer[Seq[Double]]()
    val listMs = ArrayBuffer[Double]()
    val maxIdMs = ArrayBuffer[Double]()
    var genDone = Double.NaN
    var nextProbe = 0.0
    try r.tracer.span("pass", "harness", Map("pass" -> "live")) {
      while (delivered.get() < n && (genDone.isNaN || (nowMs() - t0 - genDone) < DrainLimitS * 1000)) {
        val t = nowMs() - t0
        if (t >= 0) lag += Seq(t, sched.dueBy(t).toDouble, delivered.get().toDouble)
        if (genDone.isNaN && !gen.isAlive) genDone = t
        if (r.tracer.enabled && t >= nextProbe) {
          nextProbe = t + 250
          listMs += timed(r.tracer.span("segments", "log")(LogStore.segments(root, "raw")))
          maxIdMs += timed(r.tracer.span("maxId", "log")(LogStore.maxId(root, "raw")))
        }
        Thread.sleep(50)
      }
    } catch { case e: Throwable => gen.destroyForcibly(); throw e }
    val genExit = gen.waitFor()
    consumer.stop()
    pipe.stop()

    r.attempted(n.toLong)
    if (genExit != 0)
      r.fail("tail/generator", s"generator exited with $genExit: " +
        new String(Files.readAllBytes(r.work.resolve("generator.log"))).takeRight(400))
    Option(pipe.exception.orNull).foreach(e => r.fail("tail/pipe", e.toString))
    Option(cq.exception.orNull).foreach(e => r.fail("tail/consumer", e.toString))
    val missing = n - delivered.get()
    if (missing > 0) r.fail("tail/delivery", s"$missing of $n events never delivered", missing)
    if (duplicates > 0) r.fail("tail/delivery", s"$duplicates events delivered twice", duplicates)
    if (outOfOrder > 0) r.fail("tail/order", s"$outOfOrder events delivered out of id order", outOfOrder)
    val pending = consumer.pendingSummary().size
    if (pending > 0) r.fail("tail/pending", s"$pending entries left pending", pending)

    val gen0 = if (Files.exists(genOut))
      new String(Files.readAllBytes(genOut), java.nio.charset.StandardCharsets.UTF_8) else "{}"
    if (r.tracer.enabled && Files.exists(genOut)) {
      val g = new com.fasterxml.jackson.databind.ObjectMapper().readTree(genOut.toFile)
      val (starts, durs) = (g.get("start_ms"), g.get("produce_ms"))
      (0 until starts.size).foreach { i =>
        val s = t0 + starts.get(i).asDouble
        r.tracer.record(Span(r.tracer.nextId(), r.tracer.current, r.tracer.trace,
          "produce", "log", s, s + durs.get(i).asDouble, Map("process" -> "generator")))
      }
    }
    val segs = LogStore.segments(root, "raw")
    // measured steps only: drop the warm-up and the gap, which holds no events
    val bounds = sched.bounds.tail.patch(rates.size, Nil, 1)
    r.raw ++= Seq("setup_s" -> setups, "rates" -> rates, "step_bounds" -> bounds,
      "due_ms" -> (0 until n).map(sched.due), "delivered_ms" -> deliveredAt.toSeq,
      "lag_samples" -> lag.toSeq,
      "consumer_query_id" -> cq.id.toString, "pipe_query_id" -> pipe.id.toString,
      "generator" -> RawJson(gen0), "t0_ms" -> t0,
      "layer" -> Map(
        "consumer.delivered" -> delivered.get(), "consumer.duplicates" -> duplicates,
        "consumer.pending_end" -> pending,
        "log.list_ms" -> (if (listMs.isEmpty) 0.0 else Main.median(listMs.toSeq)),
        "log.maxid_ms" -> (if (maxIdMs.isEmpty) 0.0 else Main.median(maxIdMs.toSeq)),
        "log.segments_end" -> segs.size,
        "log.bytes_per_entry" -> segs.map(s => Files.size(java.nio.file.Paths.get(s.path))).sum
          .toDouble / (HistorySegments.toLong * HistoryEntries + n)))
  }

  /** The history: small segments written through the log store's segment
    * writer, ids one millisecond apart per segment.
    */
  private def seedHistory(root: String, seed: Long): Unit = {
    val (segments, entries) = (HistorySegments, HistoryEntries)
    LogStore.ensureStream(root, "raw")
    val rnd = new java.util.SplittableRandom(seed ^ 0x5eedL)
    val base = System.currentTimeMillis() - segments - 60000L
    (0 until segments).foreach { s =>
      LogStore.writeSegment(root, "raw", (0 until entries).map { j =>
        LogEntry(LogId(base + s, j.toLong), Map("h" -> (s * entries + j).toString,
          "k" -> s"key${rnd.nextInt(64)}"))
      })
    }
  }

  private def timed(f: => Any): Double = {
    val t0 = System.nanoTime()
    f
    (System.nanoTime() - t0) / 1e6
  }
}

/** A JSON value already serialized, embedded verbatim by [[Json.write]]. */
final case class RawJson(text: String)
