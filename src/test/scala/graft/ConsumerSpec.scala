package graft

import graft.consumer._
import graft.log.{LogId, LogStore, LogWriter}
import org.scalatest.funsuite.AnyFunSuite

import scala.collection.mutable

/** Delivery-semantics parity suite, ported from the reference's consumer
  * integration tests (/root/reference/test/redix/stream/consumer_test.exs —
  * the de-facto semantics spec, see SURVEY.md §5): ordered dispatch,
  * crash/replay at-least-once with exactly-once effect via acks, defer +
  * manual ack, and group-from-end semantics.
  */
object ConsumerSpec {
  // executor tasks run in-JVM under local[*]; a static queue collects their
  // dispatches (the handler must be serializable, so no closure state)
  val parallelSeen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val parallelHandler: (String, Option[String], String, Map[String, String]) => HandlerResult =
    (_, _, _, values) => { parallelSeen.add(values("n")); HandlerResult.Ok }
  // parallel-mode dead-letter cases: every "job" but "poison" is recorded
  val parallelJobs = new java.util.concurrent.ConcurrentLinkedQueue[String]()
  val failPoison: (String, Option[String], String, Map[String, String]) => HandlerResult =
    (_, _, _, values) =>
      if (values("job") == "poison") HandlerResult.Err(new RuntimeException("boom"))
      else { parallelJobs.add(values("job")); HandlerResult.Ok }
  val recordJobs: (String, Option[String], String, Map[String, String]) => HandlerResult =
    (_, _, _, values) => { parallelJobs.add(values("job")); HandlerResult.Ok }
}

class ConsumerSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  private def cfg(root: String, stream: String, group: Option[String],
      start: String = "earliest"): ConsumerConfig =
    ConsumerConfig(
      logRoot = root, stream = stream,
      checkpointRoot = TestSpark.tmpDir("consumer-ckpt"),
      groupName = group, startPos = start)

  test("group consumer processes messages in id order, acking each") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 5).foreach(i => w.produce(Map(s"key_$i" -> s"value_$i")))
    val seen = mutable.ArrayBuffer.empty[Map[String, String]]
    val c = ConsumerRunner.runSupervised(spark, cfg(root, "s", Some("g1")),
      (_, _, _, values) => { seen += values; HandlerResult.Ok },
      until = _ => seen.size >= 5)
    assert(seen.toList == (1 to 5).map(i => Map(s"key_$i" -> s"value_$i")).toList)
    c.stop()
  }

  test("crash on message replays unacked work; acked messages are not re-dispatched") {
    // ≙ consumer_test.exs:222-280: crash hard on msg 2, all messages end up
    // processed, each acked exactly once.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 5).foreach(i => w.produce(Map("n" -> i.toString)))
    val invocations = mutable.ArrayBuffer.empty[String]
    var failedOnce = false
    val c = ConsumerRunner.runSupervised(spark, cfg(root, "s", Some("g1")),
      (_, _, _, values) => {
        val n = values("n")
        invocations += n
        if (n == "2" && !failedOnce) {
          failedOnce = true
          HandlerResult.Err(new RuntimeException("boom on 2"))
        } else HandlerResult.Ok
      },
      until = _ => invocations.count(_ == "5") >= 1)
    c.stop()
    // msg 1 acked before the crash → dispatched exactly once; msg 2 twice
    assert(invocations.count(_ == "1") == 1)
    assert(invocations.count(_ == "2") == 2)
    assert(Set("3", "4", "5").subsetOf(invocations.toSet))
  }

  test("defer leaves the message pending; it replays on restart until acked manually") {
    // ≙ consumer_test.exs:54-100 (ack/:defer) + pending drain on restart
    // (/root/reference/lib/redix/stream/consumer.ex:159-165).
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produce(Map("job" -> "a"))
    val shared = cfg(root, "s", Some("g1"))
    val invocations = mutable.ArrayBuffer.empty[String]
    var deferredId: Option[String] = None
    val c1 = ConsumerRunner.runSupervised(spark, shared,
      (_, _, id, values) => {
        invocations += values("job"); deferredId = Some(id); HandlerResult.Defer
      },
      until = _ => invocations.nonEmpty)
    c1.stop()
    assert(invocations.toList == List("a"))

    // restart: pending message is drained and re-dispatched
    val c2 = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => { invocations += values("job"); HandlerResult.Defer },
      until = _ => true)
    c2.stop()
    assert(invocations.toList == List("a", "a"))

    // manual ack → no more redelivery on the next restart
    val c3 = new GraftConsumer(spark, shared, (_, _, _, values) => {
      invocations += values("job"); HandlerResult.Ok
    })
    c3.ack(deferredId.get)
    c3.drainPending()
    assert(invocations.toList == List("a", "a"))
  }

  test("crash during the pending drain is supervised and retried") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produce(Map("job" -> "a"))
    val shared = cfg(root, "s", Some("g1"))
    // run 1: defer, leaving the message pending
    val pend = mutable.ArrayBuffer.empty[String]
    ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => { pend += values("job"); HandlerResult.Defer },
      until = _ => pend.nonEmpty).stop()
    // run 2: the drain dispatch fails once, supervision retries it
    val seen = mutable.ArrayBuffer.empty[String]
    var failed = false
    ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => {
        if (!failed) { failed = true; HandlerResult.Err(new RuntimeException("drain boom")) }
        else { seen += values("job"); HandlerResult.Ok }
      },
      until = _ => true).stop()
    assert(seen.toList == List("a"))
  }

  test("non-raising error keeps the message pending for redelivery") {
    // raiseErrors=false + Err must behave like the reference's unacked
    // message staying in the PEL (consumer.ex:206-216): even though the
    // micro-batch offset commits, the id lands in the pending ledger and the
    // next restart's drain redelivers it. Never silently lost.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produce(Map("job" -> "x"))
    val shared = cfg(root, "s", Some("g1")).copy(raiseErrors = false)
    val invocations = mutable.ArrayBuffer.empty[String]
    val c1 = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => {
        invocations += values("job")
        HandlerResult.Err(new RuntimeException("soft failure"))
      },
      until = _ => invocations.nonEmpty)
    c1.stop()
    assert(invocations.toList == List("x"))
    // restart: the errored message is drained from pending and succeeds
    val c2 = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => { invocations += values("job"); HandlerResult.Ok },
      until = _ => true)
    c2.stop()
    assert(invocations.toList == List("x", "x"))
    // acked now → a third restart does not redeliver
    val c3 = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => { invocations += values("job"); HandlerResult.Ok },
      until = _ => true)
    c3.stop()
    assert(invocations.toList == List("x", "x"))
  }

  test("poison message parks in the dead-letter stream after maxDeliveries, then stays gone") {
    import graft.log.{LogId, LogStore}
    // Delivery 1 fails -> pending (the PEL path). The restart's drain is
    // delivery 2 = maxDeliveries: the message must be appended ONCE to the
    // DLQ stream with provenance metadata and acked; a third restart must
    // not dispatch it again.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produce(Map("job" -> "good"))
    val pid = w.produce(Map("job" -> "poison")).toString
    val shared = cfg(root, "s", Some("g1")).copy(
      raiseErrors = false, maxDeliveries = Some(2), deadLetterStream = Some("dlq"))
    val seen = mutable.ArrayBuffer.empty[String]
    val handler: (String, Option[String], String, Map[String, String]) => HandlerResult =
      (_, _, _, values) =>
        if (values("job") == "poison") HandlerResult.Err(new RuntimeException("boom"))
        else { seen += values("job"); HandlerResult.Ok }
    ConsumerRunner.runSupervised(spark, shared, handler,
      until = _ => seen.nonEmpty).stop()
    assert(LogStore.readRange(root, "dlq", LogId.Zero,
      LogStore.maxId(root, "dlq")).isEmpty, "one failure must not dead-letter yet")
    ConsumerRunner.runSupervised(spark, shared, handler, until = _ => true).stop()
    val dlq = LogStore.readRange(root, "dlq", LogId.Zero, LogStore.maxId(root, "dlq"))
    assert(dlq.size == 1, s"exactly one dead-lettered entry, got ${dlq.size}")
    assert(dlq.head.values("job") == "poison")
    assert(dlq.head.values("__dlq_stream") == "s")
    assert(dlq.head.values("__dlq_id") == pid)
    assert(dlq.head.values("__dlq_attempts") == "2")
    assert(dlq.head.values("__dlq_error") == "boom")
    // parked = acked: a further restart neither re-dispatches nor re-parks
    val invocations = mutable.ArrayBuffer.empty[String]
    ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => { invocations += values("job"); HandlerResult.Ok },
      until = _ => true).stop()
    assert(!invocations.contains("poison"), "parked message must stay gone")
    assert(LogStore.readRange(root, "dlq", LogId.Zero,
      LogStore.maxId(root, "dlq")).size == 1)
  }

  test("parallel mode: poison message parks in the dead-letter stream after maxDeliveries, then stays gone") {
    import graft.log.{LogId, LogStore}
    // the ordered-mode case above with partition tasks dispatching: the
    // first delivery fails in a task, which counts it in its own p<N>
    // ledger, so the restart's drain is delivery 2 = maxDeliveries
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produce(Map("job" -> "good"))
    val pid = w.produce(Map("job" -> "poison")).toString
    val shared = cfg(root, "s", Some("g1")).copy(ordered = false,
      raiseErrors = false, maxDeliveries = Some(2), deadLetterStream = Some("dlq"))
    def dlq = LogStore.readRange(root, "dlq", LogId.Zero, LogStore.maxId(root, "dlq"))
    ConsumerSpec.parallelJobs.clear()
    ConsumerRunner.runSupervised(spark, shared, ConsumerSpec.failPoison,
      until = _ => !ConsumerSpec.parallelJobs.isEmpty).stop()
    assert(dlq.isEmpty, "one failure must not dead-letter yet")
    ConsumerRunner.runSupervised(spark, shared, ConsumerSpec.failPoison, until = _ => true).stop()
    assert(dlq.size == 1, s"exactly one dead-lettered entry, got ${dlq.size}")
    assert(dlq.head.values("job") == "poison")
    assert(dlq.head.values("__dlq_id") == pid)
    assert(dlq.head.values("__dlq_attempts") == "2")
    // parked = acked: a further restart neither re-dispatches nor re-parks
    ConsumerSpec.parallelJobs.clear()
    val c = ConsumerRunner.runSupervised(spark, shared, ConsumerSpec.recordJobs, until = _ => true)
    c.stop()
    assert(!ConsumerSpec.parallelJobs.contains("poison"), "parked message must stay gone")
    assert(c.pendingSummary().isEmpty)
    assert(dlq.size == 1)
  }

  test("parallel mode: dead-letter routing in a task breaks a raiseErrors crash loop") {
    import graft.log.{LogId, LogStore}
    // every delivery raises inside a partition task and fails the batch;
    // the third one, counted across the restarts' task ledgers, parks the
    // message instead and the batch commits
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produce(Map("job" -> "poison"))
    w.produce(Map("job" -> "good"))
    val shared = cfg(root, "s", Some("g1")).copy(ordered = false,
      raiseErrors = true, maxDeliveries = Some(3), deadLetterStream = Some("dlq"))
    ConsumerSpec.parallelJobs.clear()
    ConsumerRunner.runSupervised(spark, shared, ConsumerSpec.failPoison,
      maxRestarts = 5, until = _ => ConsumerSpec.parallelJobs.contains("good")).stop()
    val dlq = LogStore.readRange(root, "dlq", LogId.Zero, LogStore.maxId(root, "dlq"))
    assert(dlq.size == 1 && dlq.head.values("__dlq_attempts") == "3")
  }

  test("dead-letter routing breaks a raiseErrors crash loop") {
    import graft.log.{LogId, LogStore}
    // raiseErrors=true: each delivery of the poison message crashes the
    // query and the supervisor restarts it — the reference's PEL would
    // crash-loop forever. With maxDeliveries=3 the third delivery must
    // route to the DLQ INSTEAD of raising, the loop ends, and the healthy
    // message processes.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produce(Map("job" -> "poison"))
    w.produce(Map("job" -> "good"))
    val shared = cfg(root, "s", Some("g1")).copy(
      raiseErrors = true, maxDeliveries = Some(3), deadLetterStream = Some("dlq"))
    val seen = mutable.ArrayBuffer.empty[String]
    ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) =>
        if (values("job") == "poison") HandlerResult.Err(new RuntimeException("boom"))
        else { seen += values("job"); HandlerResult.Ok },
      maxRestarts = 5, until = _ => seen.contains("good")).stop()
    val dlq = LogStore.readRange(root, "dlq", LogId.Zero, LogStore.maxId(root, "dlq"))
    assert(dlq.size == 1 && dlq.head.values("__dlq_attempts") == "3")
    assert(seen.contains("good"), "healthy traffic must flow once the poison parks")
  }

  test("DLQ config is rejected without group mode or with a self-referential stream") {
    intercept[IllegalArgumentException] {
      cfg("/tmp/x", "s", None).copy(
        maxDeliveries = Some(2), deadLetterStream = Some("dlq"))
    }
    intercept[IllegalArgumentException] {
      cfg("/tmp/x", "s", Some("g")).copy(deadLetterStream = Some("dlq"))
    }
    intercept[IllegalArgumentException] {
      cfg("/tmp/x", "s", Some("g")).copy(
        maxDeliveries = Some(2), deadLetterStream = Some("s"))
    }
  }

  test("group consumer starting at latest skips history") {
    // ≙ consumer_test.exs:282-322 (group from :end_of_stream)
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 3).foreach(i => w.produce(Map("old" -> i.toString)))
    val seen = mutable.ArrayBuffer.empty[Map[String, String]]
    val consumer = new GraftConsumer(spark, cfg(root, "s", Some("g1"), start = "latest"),
      (_, _, _, values) => { seen += values; HandlerResult.Ok })
    val q = consumer.start()
    q.processAllAvailable()
    w.produce(Map("new" -> "1"))
    q.processAllAvailable()
    consumer.stop()
    assert(seen.toList == List(Map("new" -> "1")))
  }

  test("restart from checkpoint continues at the last committed offset") {
    // stop → produce more → restart with the same group: only the new
    // messages are dispatched (group cursor = last known message,
    // /root/reference/lib/redix/stream/consumer.ex:74).
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 3).foreach(i => w.produce(Map("n" -> i.toString)))
    val shared = cfg(root, "s", Some("g1"))
    val seen = mutable.ArrayBuffer.empty[String]
    val c1 = new GraftConsumer(spark, shared,
      (_, _, _, values) => { seen += values("n"); HandlerResult.Ok })
    val q1 = c1.start()
    q1.processAllAvailable()
    c1.stop()
    assert(seen.toList == List("1", "2", "3"))
    (4 to 5).foreach(i => w.produce(Map("n" -> i.toString)))
    val c2 = new GraftConsumer(spark, shared,
      (_, _, _, values) => { seen += values("n"); HandlerResult.Ok })
    val q2 = c2.start()
    q2.processAllAvailable()
    c2.stop()
    assert(seen.toList == List("1", "2", "3", "4", "5"))

    // ledger retention: acks at or below the committed checkpoint offset are
    // unreachable (those batches never replay) and get dropped on compaction
    val c3 = new GraftConsumer(spark, shared, (_, _, _, _) => HandlerResult.Ok)
    val floor = c3.committedOffsetFloor()
    assert(floor.isDefined)
    val led = new AckLedger(shared.ledgerDir.get)
    // c2's start already compacted with c1's floor, dropping acks 1-3
    assert(led.acked.size == 2)
    led.compact(floor)
    assert(led.acked.isEmpty) // everything was at or below the final floor
  }

  test("parallel mode processes every message exactly once across partitions") {
    // ≙ consumer_test.exs:167-220 (two consumers in one group see disjoint
    // message sets): partitions are the engine's intra-group consumers.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 20).foreach(i => w.produce(Map("n" -> i.toString)))
    ConsumerSpec.parallelSeen.clear()
    val c = new GraftConsumer(spark,
      cfg(root, "s", Some("g1")).copy(ordered = false),
      ConsumerSpec.parallelHandler)
    val q = c.start()
    q.processAllAvailable()
    c.stop()
    val seen = ConsumerSpec.parallelSeen.toArray(Array.empty[String]).toSeq
    assert(seen.size == 20) // no message dispatched twice
    assert(seen.toSet == (1 to 20).map(_.toString).toSet)
  }

  test("drainAndStop consumes the backlog then terminates on its own") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 4).foreach(i => w.produce(Map("n" -> i.toString)))
    val seen = mutable.ArrayBuffer.empty[String]
    val c = new GraftConsumer(spark,
      cfg(root, "s", Some("g1")).copy(drainAndStop = true),
      (_, _, _, values) => { seen += values("n"); HandlerResult.Ok })
    val q = c.start()
    q.awaitTermination(30000) // AvailableNow stops by itself after the drain
    assert(!q.isActive)
    assert(seen.toList == List("1", "2", "3", "4"))
  }

  test("no-group consumer: fire-and-forget from end_of_stream, no ack ledger") {
    // ≙ the reference's default no-group mode (consumer.ex:73): start at
    // latest, dispatch without acks; a fresh consumer (new checkpoint) after
    // downtime misses what it slept through — at-most-once.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 3).foreach(i => w.produce(Map("old" -> i.toString)))
    val seen = mutable.ArrayBuffer.empty[String]
    val cfg1 = cfg(root, "s", None, start = "default")
    val c1 = new GraftConsumer(spark, cfg1,
      (_, _, _, values) => { seen ++= values.keys; HandlerResult.Ok })
    val q1 = c1.start()
    q1.processAllAvailable()
    w.produce(Map("live" -> "1"))
    q1.processAllAvailable()
    c1.stop()
    assert(seen.toList == List("live"), "history must be skipped, live seen")
    assert(cfg1.ledgerDir.isEmpty, "no-group mode keeps no ack ledger")
    // downtime: messages produced while no consumer runs
    w.produce(Map("missed" -> "1"))
    // fresh consumer (new checkpoint scope = new consumer identity)
    val seen2 = mutable.ArrayBuffer.empty[String]
    val c2 = new GraftConsumer(spark,
      cfg(root, "s", None, start = "default").copy(consumerName = "consumer_2"),
      (_, _, _, values) => { seen2 ++= values.keys; HandlerResult.Ok })
    val q2 = c2.start()
    q2.processAllAvailable()
    w.produce(Map("live2" -> "1"))
    q2.processAllAvailable()
    c2.stop()
    assert(seen2.toList == List("live2"), "downtime messages are lost (at-most-once)")
  }

  test("graceful stop lets the in-flight batch finish and ack (sup_timeout)") {
    // ≙ consumer_test.exs:324-401: shutdown mid-batch waits out the window,
    // handlers complete, and a restart does not redeliver the acked work.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 4).foreach(i => w.produce(Map("n" -> i.toString)))
    val shared = cfg(root, "s", Some("g1")).copy(supTimeoutMs = 20000L)
    val seen = mutable.ArrayBuffer.empty[String]
    val started = new java.util.concurrent.CountDownLatch(1)
    val c = new GraftConsumer(spark, shared,
      (_, _, _, values) => {
        started.countDown()
        Thread.sleep(100) // slow handler: stop() arrives mid-batch
        seen.synchronized { seen += values("n") }
        HandlerResult.Ok
      })
    c.start()
    started.await(30, java.util.concurrent.TimeUnit.SECONDS)
    c.stop() // graceful: waits for the active trigger before stopping
    val afterStop = seen.synchronized(seen.toList)
    assert(afterStop == List("1", "2", "3", "4"),
      s"in-flight batch should complete before stop, got $afterStop")
    // restart: nothing redelivered (everything acked before the stop)
    val c2 = new GraftConsumer(spark, shared,
      (_, _, _, values) => { seen.synchronized { seen += values("n") }; HandlerResult.Ok })
    val q2 = c2.start()
    q2.processAllAvailable()
    c2.stop()
    assert(seen.synchronized(seen.toList) == List("1", "2", "3", "4"))
  }

  test("stop under steady input returns before sup_timeout and cuts no handler short") {
    // triggers run back to back while a producer keeps appending, so a
    // trigger is almost always active; stop() waits only for the dispatch
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    // the producer outruns the handler, so every poll finds data; the quota
    // keeps each dispatch short
    val shared = cfg(root, "s", Some("g1"))
      .copy(supTimeoutMs = 20000L, maxEntriesPerTrigger = Some(20L))
    val dispatched = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val started = new java.util.concurrent.atomic.AtomicInteger()
    val finished = new java.util.concurrent.atomic.AtomicInteger()
    val handler: (String, Option[String], String, Map[String, String]) => HandlerResult =
      (_, _, _, values) => {
        started.incrementAndGet()
        Thread.sleep(5)
        dispatched.add(values("n"))
        finished.incrementAndGet()
        HandlerResult.Ok
      }
    @volatile var producing = true
    val produced = new java.util.concurrent.atomic.AtomicInteger()
    val producer = new Thread(() => {
      while (producing) {
        w.produce(Map("n" -> produced.incrementAndGet().toString))
        Thread.sleep(1)
      }
    })
    val c = new GraftConsumer(spark, shared, handler)
    c.start()
    producer.start()
    val deadline = System.currentTimeMillis() + 30000
    while (dispatched.size < 100 && System.currentTimeMillis() < deadline) Thread.sleep(10)
    val t0 = System.nanoTime()
    c.stop()
    val stopMs = (System.nanoTime() - t0) / 1000000
    info(s"stop() took $stopMs ms")
    producing = false
    producer.join()
    assert(dispatched.size >= 100, s"only ${dispatched.size} dispatched before the stop")
    assert(stopMs < 5000, s"stop() took $stopMs ms of its 20000 ms window")
    assert(started.get == finished.get, "a handler call was cut short by the stop")
    val c2 = new GraftConsumer(spark, shared, handler)
    c2.start().processAllAvailable()
    c2.stop()
    val all = dispatched.toArray(Array.empty[String]).toSeq
    assert(all.size == produced.get && all.toSet == (1 to produced.get).map(_.toString).toSet,
      s"${all.size} dispatches over ${all.toSet.size} distinct of ${produced.get} produced")
  }

  test("a live consumer runs on the default trigger; drainAndStop on AvailableNow") {
    import org.apache.spark.sql.execution.streaming.runtime.StreamingQueryWrapper
    import org.apache.spark.sql.streaming.Trigger
    val root = TestSpark.tmpDir("log")
    new LogWriter(root, "s").produce(Map("n" -> "1"))
    def triggerOf(c: GraftConsumer) = {
      val q = c.start()
      try q.asInstanceOf[StreamingQueryWrapper].streamingQuery.trigger
      finally c.stop()
    }
    val ok = (_: String, _: Option[String], _: String, _: Map[String, String]) => HandlerResult.Ok
    // Spark's default trigger: the next batch starts when the previous ends
    assert(triggerOf(new GraftConsumer(spark, cfg(root, "s", Some("g1")), ok)) ==
      Trigger.ProcessingTime(0L))
    assert(triggerOf(new GraftConsumer(spark,
      cfg(root, "s", Some("g1")).copy(drainAndStop = true), ok)) == Trigger.AvailableNow())
  }

  test("one entry produced into a consumer idle for 20 polls is dispatched exactly once") {
    import org.apache.spark.sql.streaming.StreamingQueryListener
    import org.apache.spark.sql.streaming.StreamingQueryListener._
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val c = new GraftConsumer(spark, cfg(root, "s", Some("g1")),
      (_, _, _, values) => { seen.add(values("n")); HandlerResult.Ok })
    // every trigger that finds no new data posts an idle event: one per poll
    val idle = new java.util.concurrent.ConcurrentHashMap[java.util.UUID, Int]()
    val listener = new StreamingQueryListener {
      override def onQueryStarted(e: QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: QueryProgressEvent): Unit = ()
      override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
      override def onQueryIdle(e: QueryIdleEvent): Unit = idle.merge(e.id, 1, _ + _)
    }
    val key = "spark.sql.streaming.noDataProgressEventInterval"
    val before = spark.conf.getOption(key)
    spark.conf.set(key, "0")
    spark.streams.addListener(listener)
    try {
      val q = c.start()
      def awaitIdle(n: Int): Unit = {
        val deadline = System.currentTimeMillis() + 30000
        while (idle.getOrDefault(q.id, 0) < n && System.currentTimeMillis() < deadline)
          Thread.sleep(5)
        assert(idle.getOrDefault(q.id, 0) >= n, s"only ${idle.getOrDefault(q.id, 0)} idle polls")
      }
      awaitIdle(20)
      assert(seen.isEmpty)
      w.produce(Map("n" -> "only"))
      val deadline = System.currentTimeMillis() + 30000
      while (seen.isEmpty && System.currentTimeMillis() < deadline) Thread.sleep(5)
      awaitIdle(idle.getOrDefault(q.id, 0) + 20)
      c.stop()
      assert(seen.toArray.toSeq == Seq("only"))
    } finally {
      spark.streams.removeListener(listener)
      before.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    }
  }

  test("concurrent producers racing a live consumer: every message exactly once") {
    // end-to-end single-writer-lock evidence: two producer threads append
    // while the consumer tails; ids never collide, nothing is lost, nothing
    // is dispatched twice (acks + monotonic offsets).
    val root = TestSpark.tmpDir("log")
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val c = new GraftConsumer(spark, cfg(root, "s", Some("g1")),
      (_, _, _, values) => { seen.add(values("m")); HandlerResult.Ok })
    val q = c.start()
    val perThread = 30
    val threads = (0 until 2).map { t =>
      new Thread(() => {
        val w = new LogWriter(root, "s")
        (0 until perThread).foreach { i =>
          w.produce(Map("m" -> s"t$t-$i"))
          if (i % 7 == 0) Thread.sleep(1)
        }
      })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    val deadline = System.currentTimeMillis() + 30000
    while (seen.size < 2 * perThread && System.currentTimeMillis() < deadline) {
      q.processAllAvailable()
      Thread.sleep(20)
    }
    c.stop()
    val all = seen.toArray(Array.empty[String]).toSeq
    assert(all.size == 2 * perThread, s"expected ${2 * perThread}, got ${all.size}")
    assert(all.toSet ==
      (0 until 2).flatMap(t => (0 until perThread).map(i => s"t$t-$i")).toSet)
  }

  test("independent groups each see every message (multi-group fan-out)") {
    // ≙ README.md:100: consumers in the same group split the work, but each
    // GROUP gets the full stream. Two groups, same stream, disjoint
    // checkpoints/ledgers — both must dispatch all messages.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 5).foreach(i => w.produce(Map("n" -> i.toString)))
    val seenA = mutable.ArrayBuffer.empty[String]
    val seenB = mutable.ArrayBuffer.empty[String]
    val ca = ConsumerRunner.runSupervised(spark, cfg(root, "s", Some("ga")),
      (_, _, _, values) => { seenA += values("n"); HandlerResult.Ok },
      until = _ => seenA.size >= 5)
    ca.stop()
    val cb = ConsumerRunner.runSupervised(spark, cfg(root, "s", Some("gb")),
      (_, _, _, values) => { seenB += values("n"); HandlerResult.Ok },
      until = _ => seenB.size >= 5)
    cb.stop()
    assert(seenA.toList == (1 to 5).map(_.toString).toList)
    assert(seenB.toList == (1 to 5).map(_.toString).toList)
  }

  test("multi-stream consumer fans in; pending replay is stream-qualified") {
    // engine extension: one consumer over "a,b"; handler receives each
    // message's actual stream; same numeric id on both streams must not
    // collide in the ack ledger (deferred on a, acked on b).
    val root = TestSpark.tmpDir("log")
    val now = System.currentTimeMillis()
    val wa = new LogWriter(root, "a", () => now) // same clock => same ids
    val wb = new LogWriter(root, "b", () => now)
    wa.produce(Map("job" -> "a1"))
    wb.produce(Map("job" -> "b1"))
    val shared = cfg(root, "a,b", Some("g1"))
    val seen = mutable.ArrayBuffer.empty[(String, String)]
    val c1 = ConsumerRunner.runSupervised(spark, shared,
      (stream, _, _, values) => {
        seen += stream -> values("job")
        if (stream == "a") HandlerResult.Defer else HandlerResult.Ok
      },
      until = _ => seen.size >= 2)
    c1.stop()
    assert(seen.toSet == Set("a" -> "a1", "b" -> "b1"))
    // restart: only the deferred message from stream a replays
    val c2 = ConsumerRunner.runSupervised(spark, shared,
      (stream, _, _, values) => { seen += stream -> values("job"); HandlerResult.Ok },
      until = _ => true)
    c2.stop()
    assert(seen.size == 3)
    assert(seen.last == ("a" -> "a1"))
  }

  test("multi-stream ledger compacts acks below each stream's committed floor") {
    // The floor parser must understand the multi-stream offset wire format;
    // otherwise a long-lived fan-in consumer's ack set grows forever.
    val root = TestSpark.tmpDir("log")
    val wa = new LogWriter(root, "a")
    val wb = new LogWriter(root, "b")
    (1 to 3).foreach(i => wa.produce(Map("n" -> s"a$i")))
    (1 to 2).foreach(i => wb.produce(Map("n" -> s"b$i")))
    val shared = cfg(root, "a,b", Some("g1"))
    val seen = mutable.ArrayBuffer.empty[String]
    val c1 = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => { seen += values("n"); HandlerResult.Ok },
      until = _ => seen.size >= 5)
    c1.stop()
    val led = new AckLedger(shared.ledgerDir.get)
    assert(led.acked.size == 5)
    // a fresh consumer's start() compacts with the committed per-stream
    // floors — all five acks are at or below them and get dropped
    val c2 = new GraftConsumer(spark, shared, (_, _, _, _) => HandlerResult.Ok)
    val floors = c2.committedOffsetFloors()
    assert(floors.keySet == Set("a", "b"))
    c2.start()
    c2.stop()
    assert(new AckLedger(shared.ledgerDir.get).acked.isEmpty)
  }

  test("widening a single-stream consumer over its legacy ledger fails loudly") {
    // A bare-id (single-stream) ledger under a widened stream list must be
    // rejected, not reinterpreted: bare acks would no longer match the
    // stream-qualified keys (redelivery) and bare pendings would be
    // attributed to an arbitrary stream.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 3).foreach(i => w.produce(Map("n" -> i.toString)))
    val single = cfg(root, "s", Some("g1"))
    val seen = mutable.ArrayBuffer.empty[String]
    val c1 = ConsumerRunner.runSupervised(spark, single,
      (_, _, _, values) => { seen += values("n"); HandlerResult.Ok },
      until = _ => seen.size >= 3)
    c1.stop()
    new LogWriter(root, "s2").produce(Map("n" -> "x"))
    val widened = single.copy(stream = "s,s2")
    val c2 = new GraftConsumer(spark, widened, (_, _, _, _) => HandlerResult.Ok)
    val e = intercept[IllegalStateException](c2.start())
    assert(e.getMessage.contains("bare-id"))
  }

  test("narrowing a multi-stream consumer over its qualified ledger fails loudly") {
    // the inverse of the widening guard: qualified 'st\tid' keys never
    // match the bare keys a single-stream consumer computes, so every
    // acked message would silently redeliver
    val root = TestSpark.tmpDir("log")
    val wa = new LogWriter(root, "a")
    val wb = new LogWriter(root, "b")
    wa.produce(Map("n" -> "1")); wb.produce(Map("n" -> "2"))
    val multi = cfg(root, "a,b", Some("g1"))
    val seen = mutable.ArrayBuffer.empty[String]
    val c1 = ConsumerRunner.runSupervised(spark, multi,
      (_, _, _, values) => { seen += values("n"); HandlerResult.Ok },
      until = _ => seen.size >= 2)
    c1.stop()
    val narrowed = multi.copy(stream = "a")
    val c2 = new GraftConsumer(spark, narrowed, (_, _, _, _) => HandlerResult.Ok)
    val e = intercept[IllegalStateException](c2.start())
    assert(e.getMessage.contains("stream-qualified"))
  }

  test("duplicate names in the stream list collapse to one stream") {
    // "s,s" must behave exactly like "s": single-stream ledger keys, full
    // (undivided) per-trigger quota, flat offset format compatible with
    // its own restart.
    val dup = ConsumerConfig(logRoot = "/x", stream = "s, s",
      checkpointRoot = "/y")
    assert(dup.streams == Seq("s") && !dup.multiStream)
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 4).foreach(i => w.produce(Map("n" -> i.toString)))
    val seen = mutable.ArrayBuffer.empty[String]
    val shared = cfg(root, "s,s", Some("g1"))
    val c = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => { seen += values("n"); HandlerResult.Ok },
      until = _ => seen.size >= 4)
    c.stop()
    assert(seen.toList == (1 to 4).map(_.toString).toList)
    // restart over the same checkpoint parses its own (flat) offsets
    val c2 = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, _) => HandlerResult.Ok, until = _ => true)
    c2.stop()
    assert(seen.size == 4) // nothing redelivered
  }

  test("restart policy: temporary never restarts — first failure propagates") {
    // ≙ sup_restart: :temporary (consumer_sup.ex:12-23): the child is never
    // restarted; the crash reaches the caller on the first attempt.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 3).foreach(i => w.produce(Map("n" -> i.toString)))
    var attempts = 0
    // the handler crash surfaces wrapped (StreamingQueryException -> foreach
    // batch user-function error -> the cause); walk the chain for the message
    val e = intercept[Exception] {
      ConsumerRunner.runSupervised(spark, cfg(root, "s", Some("g1")),
        (_, _, _, values) => {
          if (values("n") == "1") attempts += 1
          HandlerResult.Err(new RuntimeException("always boom"))
        },
        maxRestarts = 3, restart = RestartPolicy.Temporary)
    }
    val msgs = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString("; ")
    assert(msgs.contains("always boom"))
    assert(attempts == 1) // no second run ever started
  }

  test("restart policy: transient restarts on failure only (the default)") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 3).foreach(i => w.produce(Map("n" -> i.toString)))
    val seen = mutable.ArrayBuffer.empty[String]
    var failedOnce = false
    val c = ConsumerRunner.runSupervised(spark, cfg(root, "s", Some("g1")),
      (_, _, _, values) => {
        if (values("n") == "2" && !failedOnce) {
          failedOnce = true
          HandlerResult.Err(new RuntimeException("boom once"))
        } else { seen += values("n"); HandlerResult.Ok }
      },
      restart = RestartPolicy.Transient,
      until = _ => seen.size >= 3)
    c.stop()
    assert(seen.toList == List("1", "2", "3"))
  }

  test("restart policy: permanent restarts after a NORMAL exit, resuming incrementally") {
    // ≙ sup_restart: :permanent — a completed run is started again; the
    // checkpoint makes the re-run incremental, so entries produced between
    // runs are dispatched by the restarted consumer with no manual restart.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 2).foreach(i => w.produce(Map("n" -> i.toString)))
    val seen = mutable.ArrayBuffer.empty[String]
    var runs = 0
    val shared = cfg(root, "s", Some("g1"))
    ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => { seen += values("n"); HandlerResult.Ok },
      maxRestarts = 1, restart = RestartPolicy.Permanent,
      until = { _ =>
        val caughtUp =
          if (runs == 0) seen.size >= 2
          else seen.size >= 3
        if (caughtUp && runs == 0) {
          // first run completes normally here; produce more BEFORE the
          // permanent restart so the second run has work to pick up
          runs += 1
          w.produce(Map("n" -> "3"))
        }
        caughtUp
      })
    assert(seen.toList == List("1", "2", "3")) // second run saw only the new entry
  }

  test("tombstone is not dispatched to the handler") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produceTombstone()
    w.produce(Map("k" -> "v"))
    val seen = mutable.ArrayBuffer.empty[Map[String, String]]
    val c = ConsumerRunner.runSupervised(spark, cfg(root, "s", Some("g1")),
      (_, _, _, values) => { seen += values; HandlerResult.Ok },
      until = _ => seen.nonEmpty)
    c.stop()
    assert(seen.toList == List(Map("k" -> "v")))
  }

  test("min-idle gate: fresh deferrals are not reclaimed until they age past minIdleMs") {
    // XAUTOCLAIM semantics: a restarting peer must not steal work another
    // consumer deferred moments ago. Deterministic via an injected clock.
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produce(Map("job" -> "a"))
    var now = 1700000000000L
    val clock: () => Long = () => now
    val shared = cfg(root, "s", Some("g1")).copy(minIdleMs = 60000L)
    val invocations = mutable.ArrayBuffer.empty[String]
    val c1 = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) => { invocations += values("job"); HandlerResult.Defer },
      until = _ => invocations.nonEmpty, clock = clock)
    c1.stop()
    assert(invocations.toList == List("a"))
    // immediate restart: entry is 0 ms idle < 60 s → NOT redelivered
    val c2 = new GraftConsumer(spark, shared,
      (_, _, _, values) => { invocations += values("job"); HandlerResult.Defer },
      clock)
    c2.drainPending()
    assert(invocations.toList == List("a"))
    // age the entry past the threshold → reclaimed and redelivered
    now += 61000L
    val c3 = new GraftConsumer(spark, shared,
      (_, _, _, values) => { invocations += values("job"); HandlerResult.Ok },
      clock)
    c3.drainPending()
    assert(invocations.toList == List("a", "a"))
  }

  test("pendingSummary reports idle time and delivery attempts (XPENDING)") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    w.produce(Map("job" -> "a"))
    w.produce(Map("job" -> "b"))
    var now = 1700000000000L
    val clock: () => Long = () => now
    val shared = cfg(root, "s", Some("g1"))
    var acked = 0
    val c1 = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, values) =>
        if (values("job") == "a") HandlerResult.Defer
        else { acked += 1; HandlerResult.Ok },
      until = _ => acked >= 1, clock = clock)
    c1.stop()
    // second delivery of the pending entry 5 s later, deferred again
    now += 5000L
    val c2 = new GraftConsumer(spark, shared,
      (_, _, _, _) => HandlerResult.Defer, clock)
    c2.drainPending()
    now += 2000L
    val summary = c2.pendingSummary()
    assert(summary.size == 1)
    val p = summary.head
    assert(p.stream == "s")
    assert(p.deliveries == 2) // live dispatch + the drain redelivery
    assert(p.idleMs == 2000L) // since the drain's deferral
  }

  test("ledger delivery times survive restart and compaction; acked entries drop") {
    var now = 1000L
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("ledger-times"))
    val l1 = new AckLedger(dir, clock = () => now)
    l1.defer("100-0")
    now = 4000L
    l1.defer("100-0") // second delivery attempt
    l1.defer("200-0")
    assert(l1.deliveryInfo("100-0").contains((4000L, 2)))
    // a fresh ledger over the same dir reads the times back
    val l2 = new AckLedger(dir, writerTag = "driver2", clock = () => now)
    assert(l2.deliveryInfo("100-0").contains((4000L, 2)))
    assert(l2.deliveryInfo("200-0").contains((4000L, 1)))
    // compaction folds writers and keeps unacked times (count + last ms)
    l2.compact((_: String) => true)
    assert(l2.deliveryInfo("100-0").contains((4000L, 2)))
    // acked entry's PEL metadata is unreachable and compacts away
    l2.ack("100-0")
    l2.compact((_: String) => true)
    val l3 = new AckLedger(dir, writerTag = "driver3", clock = () => now)
    assert(l3.deliveryInfo("100-0").isEmpty)
    assert(l3.deliveryInfo("200-0").contains((4000L, 1)))
  }

  test("legacy pending entries without delivery records are infinitely idle") {
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("ledger-legacy"))
    java.nio.file.Files.write(dir.resolve("pending-old.log"),
      "100-0\n".getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val l = new AckLedger(dir)
    assert(l.deferred == Set("100-0"))
    assert(l.idleMs("100-0") == Long.MaxValue) // always eligible for reclaim
    assert(l.deliveryInfo("100-0").isEmpty)
  }

  test("a torn times-ledger line does not brick the group; the entry reads infinitely idle") {
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("ledger-torn"))
    // one good record, one torn (crash mid-append: no epoch after the
    // separator), one with a garbage epoch
    java.nio.file.Files.write(dir.resolve("times-old.log"),
      "100-0\u00015000\n200-0\u0001\n300-0\u0001notanumber\n"
        .getBytes(java.nio.charset.StandardCharsets.UTF_8))
    val l = new AckLedger(dir, clock = () => 9000L)
    assert(l.deliveryInfo("100-0").contains((5000L, 1)))
    assert(l.deliveryInfo("200-0").isEmpty) // degraded, not fatal
    assert(l.deliveryInfo("300-0").isEmpty)
    assert(l.idleMs("200-0") == Long.MaxValue)
  }

  test("minIdleMs without group mode is rejected (it would be silently inert)") {
    intercept[IllegalArgumentException] {
      cfg(TestSpark.tmpDir("log"), "s", None).copy(minIdleMs = 1000L)
    }
  }

  test("DLQ redrive: parked messages re-enter their source stream with " +
    "provenance, the DLQ empties, and a repeat redrive is a no-op") {
    val root = TestSpark.tmpDir("log")
    // a missing DLQ redrive is a clean zero, not an error
    assert(DlqRedrive.redrive(root, "dlq") == DlqRedrive.Result(0L, Map.empty))
    val w = new LogWriter(root, "s")
    val ids = (1 to 3).map(i => w.produce(Map("n" -> i.toString)))
    val dlq = new LogWriter(root, "dlq")
    // park two of them the way ConsumerRunner does
    ids.take(2).zipWithIndex.foreach { case (id, i) =>
      dlq.produce(Map("n" -> (i + 1).toString, "__dlq_stream" -> "s",
        "__dlq_id" -> id.toString, "__dlq_attempts" -> "2",
        "__dlq_error" -> "boom"))
    }
    val r = DlqRedrive.redrive(root, "dlq")
    assert(r == DlqRedrive.Result(2L, Map("s" -> 2L)))
    val hi = graft.log.LogStore.maxId(root, "s")
    val all = graft.log.LogStore.readRange(root, "s",
      graft.log.LogId(0L, 0L), hi)
    assert(all.size == 5, "3 originals + 2 re-driven")
    val redriven = all.filter(_.values.contains("__redrive_of"))
    assert(redriven.size == 2)
    redriven.foreach { e =>
      assert(ids.map(_.toString).contains(e.values("__redrive_of")))
      assert(e.values("__redrive_attempts") == "2")
      assert(e.values("__redrive_error") == "boom")
      assert(!e.values.contains("__dlq_stream") &&
        !e.values.contains("__dlq_id"), "__dlq_* envelope must be stripped")
      assert(ids.forall(e.id > _), "re-driven entries get FRESH ids")
    }
    // DLQ trimmed; a second redrive finds nothing
    assert(DlqRedrive.redrive(root, "dlq").redriven == 0L)
    // an entry without origin provenance is refused loudly
    dlq.produce(Map("n" -> "9"))
    intercept[IllegalArgumentException](DlqRedrive.redrive(root, "dlq"))
  }

  test("pendingSummary sees parallel-mode partition deferrals (ledger refresh)") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 4).foreach(i => w.produce(Map("n" -> i.toString)))
    val shared = cfg(root, "s", Some("g1")).copy(ordered = false)
    // parallel mode: partition tasks defer into their own p<N> ledger files;
    // the driver instance must re-read them for the XPENDING snapshot
    val c = ConsumerRunner.runSupervised(spark, shared,
      (_, _, _, _) => HandlerResult.Defer,
      until = cc => cc.pendingSummary().size >= 4)
    c.stop()
    val summary = c.pendingSummary()
    assert(summary.size == 4)
    assert(summary.forall(p => p.deliveries == 1 && p.idleMs >= 0))
  }

  test("ordered batch over two interleaved streams and >16 segments dispatches in (ts, seq, stream) order") {
    val root = TestSpark.tmpDir("log")
    var nowA = 0L
    var nowB = 0L
    val wa = new LogWriter(root, "a", () => nowA)
    val wb = new LogWriter(root, "b", () => nowB)
    // one segment per produce; b's timestamps fall between a's
    (0 until 10).foreach { i =>
      nowA = 1000L + 2 * i; wa.produce(Map("n" -> s"a$i"))
      nowB = 1001L + 2 * i; wb.produce(Map("n" -> s"b$i"))
    }
    // ties: equal (ts, seq) on both streams, and a seq-1 entry after both
    nowA = 2000L; nowB = 2000L
    wa.produce(Map("n" -> "a-tie0")); wb.produce(Map("n" -> "b-tie0"))
    wa.produce(Map("n" -> "a-tie1"))
    assert(LogStore.segments(root, "a").size + LogStore.segments(root, "b").size > 16)
    val seen = mutable.ArrayBuffer.empty[(String, LogId)]
    val c = new GraftConsumer(spark, cfg(root, "a,b", Some("g1")),
      (stream, _, id, _) => { seen += stream -> LogId.parse(id); HandlerResult.Ok })
    c.start().processAllAvailable()
    c.stop()
    val expected = Seq("a", "b").flatMap(st =>
      LogStore.readRange(root, st, LogId.Zero, LogStore.maxId(root, st)).map(e => st -> e.id))
      .sortBy { case (st, id) => (id.millis, id.seq, st) }
    assert(seen.size == 23)
    assert(seen.toList == expected.toList)
    assert(seen.takeRight(3).toList ==
      List("a" -> LogId(2000, 0), "b" -> LogId(2000, 0), "a" -> LogId(2000, 1)))
  }

  test("each non-empty ordered batch runs exactly one Spark job") {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    val sc = spark.sparkContext
    val barrier = "graft.test.jobBarrier"
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, String)]()
    @volatile var barrierSeen = false
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        val p = e.properties
        if (p != null && p.getProperty(barrier) != null) barrierSeen = true
        else if (p != null && p.getProperty("sql.streaming.queryId") != null)
          jobs.add(p.getProperty("sql.streaming.queryId") ->
            p.getProperty("streaming.sql.batchId"))
      }
    }
    sc.addSparkListener(listener)
    try {
      // the ordered handler runs on the query's thread, which carries the
      // batch id as a local property
      val batches = mutable.Set.empty[String]
      var seen = 0
      val c = new GraftConsumer(spark, cfg(root, "s", Some("g1")),
        (_, _, _, _) => {
          batches += sc.getLocalProperty("streaming.sql.batchId")
          seen += 1
          HandlerResult.Ok
        })
      (1 to 3).foreach(i => w.produce(Map("n" -> i.toString)))
      val q = c.start()
      (1 to 3).foreach { round =>
        q.processAllAvailable()
        (1 to 3).foreach(i => w.produce(Map("n" -> s"$round-$i")))
      }
      q.processAllAvailable()
      c.stop()
      assert(seen == 12)
      // a job posted after the query stopped: once the listener sees it,
      // every earlier job event has been delivered (the bus is FIFO)
      sc.setLocalProperty(barrier, "1")
      try spark.range(1).count() finally sc.setLocalProperty(barrier, null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!barrierSeen && System.nanoTime() < deadline) Thread.sleep(10)
      assert(barrierSeen)
      val perBatch = jobs.toArray(Array.empty[(String, String)]).toSeq
        .filter(_._1 == q.id.toString).groupBy(_._2).map { case (b, js) => b -> js.size }
      assert(batches.size >= 2)
      assert(batches.toSeq.map(b => b -> perBatch.getOrElse(b, 0)).toMap ==
        batches.toSeq.map(_ -> 1).toMap)
    } finally sc.removeSparkListener(listener)
  }

  test("an ack written through the open channel is visible to a fresh ledger before stop") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 3).foreach(i => w.produce(Map("n" -> i.toString)))
    val shared = cfg(root, "s", Some("g1"))
    val c = new GraftConsumer(spark, shared, (_, _, _, values) =>
      if (values("n") == "3") HandlerResult.Defer else HandlerResult.Ok)
    c.start().processAllAvailable()
    try {
      val fresh = new AckLedger(shared.ledgerDir.get, "reader")
      assert(fresh.acked.size == 2)
      assert(fresh.deferred.size == 1)
      assert(fresh.deliveryInfo(fresh.deferred.head).exists(_._2 == 1))
    } finally c.stop()
  }

  test("an append after compact() survives a reload") {
    val dir = java.nio.file.Paths.get(TestSpark.tmpDir("ledger"))
    val other = new AckLedger(dir, "p0") // another writer's file, folded away
    other.ack("1-0")
    other.close()
    val l = new AckLedger(dir)
    l.ack("2-0")
    l.ack("3-0")
    l.defer("4-0")
    l.compact(Some(LogId(2, 0)))
    l.ack("5-0")
    l.defer("6-0")
    l.close()
    val reloaded = new AckLedger(dir)
    assert(reloaded.acked == Set("3-0", "5-0"))
    assert(reloaded.deferred == Set("4-0", "6-0"))
    assert(dir.toFile.list().toSet.forall(_.endsWith("-driver.log")))
  }

  test("parallel-mode batches close their task ledgers (open fd count stays flat)") {
    val fdDir = new java.io.File("/proc/self/fd")
    def openFds = fdDir.list().length
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    ConsumerSpec.parallelSeen.clear()
    val shared = cfg(root, "s", Some("g1")).copy(ordered = false)
    // an unclosed channel is only reclaimed when the GC runs, so also look
    // for open ledger files right after each batch
    lazy val ledgerDir = shared.ledgerDir.get.toRealPath().toString
    def openLedgerFiles = fdDir.listFiles().toSeq
      .flatMap(f => scala.util.Try(java.nio.file.Files.readSymbolicLink(f.toPath)).toOption)
      .count(_.toString.startsWith(ledgerDir))
    val c = new GraftConsumer(spark, shared, ConsumerSpec.parallelHandler)
    w.produce(Map("n" -> "0"))
    val q = c.start()
    q.processAllAvailable()
    val before = openFds
    val openAfterBatch = (1 to 20).map { i =>
      w.produce(Map("n" -> i.toString))
      q.processAllAvailable()
      openLedgerFiles
    }
    val after = openFds
    c.stop()
    assert(ConsumerSpec.parallelSeen.size == 21)
    assert(openAfterBatch.forall(_ == 0), s"ledger files open after batches: $openAfterBatch")
    assert(after - before < 10, s"open fds grew from $before to $after over 20 batches")
  }

  test("a committed batch with an unreadable offset file fails start() loudly") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    (1 to 3).foreach(i => w.produce(Map("n" -> i.toString)))
    val shared = cfg(root, "s", Some("g1"))
    // no commits directory yet: no floors
    assert(new GraftConsumer(spark, shared, (_, _, _, _) => HandlerResult.Ok)
      .committedOffsetFloors().isEmpty)
    val c1 = new GraftConsumer(spark, shared, (_, _, _, _) => HandlerResult.Ok)
    c1.start().processAllAvailable()
    c1.stop()
    assert(c1.committedOffsetFloors() == Map("s" -> LogStore.maxId(root, "s")))
    val offsets = java.nio.file.Paths.get(shared.checkpointDir, "offsets")
    val latest = offsets.toFile.list().flatMap(_.toLongOption).max
    val file = offsets.resolve(latest.toString)
    java.nio.file.Files.writeString(file, "v1\n{}\nnot-an-offset\n")
    val corrupt = intercept[IllegalStateException](
      new GraftConsumer(spark, shared, (_, _, _, _) => HandlerResult.Ok).start())
    assert(corrupt.getMessage.contains(shared.checkpointDir))
    java.nio.file.Files.delete(file)
    val missing = intercept[IllegalStateException](
      new GraftConsumer(spark, shared, (_, _, _, _) => HandlerResult.Ok).start())
    assert(missing.getMessage.contains(shared.checkpointDir))
  }

  test("pending drain redelivers deferred ids across many segments in id order") {
    val root = TestSpark.tmpDir("log")
    val w = new LogWriter(root, "s")
    // one six-entry segment, then one segment per entry
    w.produceAll((1 to 6).map(i => Map("n" -> i.toString)))
    (7 to 12).foreach(i => w.produce(Map("n" -> i.toString)))
    w.produceTombstone()
    val shared = cfg(root, "s", Some("g1"))
    val deferOdd: (String, Option[String], String, Map[String, String]) => HandlerResult =
      (_, _, _, values) =>
        if (values("n").toInt % 2 == 1) HandlerResult.Defer else HandlerResult.Ok
    val c1 = new GraftConsumer(spark, shared, deferOdd)
    c1.start().processAllAvailable()
    c1.stop()
    val seen = mutable.ArrayBuffer.empty[String]
    val c2 = new GraftConsumer(spark, shared,
      (_, _, _, values) => { seen += values("n"); HandlerResult.Ok })
    c2.drainPending()
    c2.stop()
    assert(seen.toList == List("1", "3", "5", "7", "9", "11"))
    assert(new AckLedger(shared.ledgerDir.get).deferred.isEmpty)
  }
}
