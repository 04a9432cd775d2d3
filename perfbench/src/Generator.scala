package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import scala.collection.mutable.ArrayBuffer

/** The open-loop event source of `tail_live`, run as its own JVM so that it
  * shares nothing with the Spark process but the log directory.
  *
  * One thread wakes every tick and appends, through `LogWriter.produceAll`,
  * every event whose due time has passed. Due times follow the schedule in
  * [[Schedule]], which the Spark side rebuilds from the same arguments, so
  * latency is measured from when an event was due, not from when it was
  * written: a stalled append delays every later event by the stall.
  *
  * Usage: perfbench.Generator --root <log root> --stream <name> --seed <n>
  *   --rates <eps,...> --steps-ms <ms,...> --tick-ms <ms> --t0-ms <epoch ms> --out <json>
  */
object Generator {
  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.drop(2) -> v }.toMap
    val sched = Schedule(a("rates").split(',').map(_.toDouble).toSeq,
      a("steps-ms").split(',').map(_.toDouble).toSeq)
    val seed = a("seed").toLong
    val tick = a("tick-ms").toLong
    val t0 = a("t0-ms").toLong
    val writer = new graft.log.LogWriter(a("root"), a("stream"))
    val rnd = new java.util.SplittableRandom(seed)
    val alphabet = "abcdefghijklmnopqrstuvwxyz0123456789"
    def event(g: Int): Map[String, Any] = {
      val len = 16 + rnd.nextInt(33)
      val sb = new java.lang.StringBuilder(len)
      (0 until len).foreach(_ => sb.append(alphabet.charAt(rnd.nextInt(alphabet.length))))
      Map("g" -> g, "k" -> s"key${rnd.nextInt(64)}",
        "due" -> math.round((t0 + sched.due(g)) * 1000.0), "p" -> sb.toString)
    }
    val produceMs = ArrayBuffer[Double]()
    val lateMs = ArrayBuffer[Double]()
    val startMs = ArrayBuffer[Double]()
    val baseNs = System.nanoTime() - (System.currentTimeMillis() - t0) * 1000000L
    def nowRel(): Double = (System.nanoTime() - baseNs) / 1e6
    var g = 0
    var k = 0L
    while (g < sched.events) {
      val wake = k * tick
      val wait = wake - nowRel()
      if (wait > 0) Thread.sleep(math.max(1L, wait.toLong))
      k += 1
      val now = nowRel()
      var end = g
      while (end < sched.events && sched.due(end) <= now) end += 1
      if (end > g) {
        lateMs += now - sched.due(g)
        startMs += now
        val c0 = System.nanoTime()
        writer.produceAll((g until end).map(event))
        produceMs += (System.nanoTime() - c0) / 1e6
        g = end
      }
      // open loop: after an overrun, resume at the first tick not yet passed
      k = math.max(k, (nowRel() / tick).toLong + 1)
    }
    Files.write(Paths.get(a("out")), Json.write(Map("produce_ms" -> produceMs,
      "late_ms" -> lateMs, "start_ms" -> startMs)).getBytes(StandardCharsets.UTF_8))
  }
}

/** Fixed-rate steps: step s runs at `rates(s)` for `stepsMs(s)` ms, and its
  * event j is due `j * 1000 / rates(s)` ms after the step starts.
  */
final case class Schedule(rates: Seq[Double], stepsMs: Seq[Double]) {
  require(rates.size == stepsMs.size, "one duration per rate")
  val starts: Seq[Double] = stepsMs.scanLeft(0.0)(_ + _)
  val counts: Seq[Int] = rates.indices.map(s => math.round(rates(s) * stepsMs(s) / 1000.0).toInt)
  val bounds: Seq[Int] = counts.scanLeft(0)(_ + _)
  val events: Int = bounds.last
  private val dueMs: Array[Double] = rates.indices.flatMap { s =>
    (0 until counts(s)).map(j => starts(s) + j * 1000.0 / rates(s))
  }.toArray
  def due(g: Int): Double = dueMs(g)
  def end: Double = starts.last
  /** Events due at or before `t`. */
  def dueBy(t: Double): Int = {
    var lo = 0
    var hi = events
    while (lo < hi) {
      val mid = (lo + hi) >>> 1
      if (dueMs(mid) <= t) lo = mid + 1 else hi = mid
    }
    lo
  }
}
