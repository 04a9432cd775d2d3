package perfbench

import org.apache.spark.sql.SparkSession

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import scala.collection.mutable

/** Everything one run shares: the session, the tracer and listeners, and
  * the raw record the metrics step turns into numbers.
  */
final class Run(val spark: SparkSession, val tracer: Tracer, val args: Map[String, String]) {
  val raw = mutable.LinkedHashMap[String, Any]()
  private val failures = mutable.ArrayBuffer[Map[String, Any]]()
  private var attemptedOps = 0L
  val progress = new Progress(tracer)
  val input = new InputRecords

  def arg(k: String): String = args.getOrElse(k, sys.error(s"missing --$k"))
  def seed: Long = arg("seed").toLong
  def seconds: Double = arg("seconds").toDouble
  val work: Path = Paths.get(arg("work")).toAbsolutePath
  def list(k: String): Seq[String] = arg(k).split(',').map(_.trim).filter(_.nonEmpty).toSeq

  /** Count one attempted operation; a failure keeps its reason. */
  def attempt(op: String)(f: => Unit): Boolean = {
    attempted(1)
    try { f; true }
    catch { case e: Throwable => fail(op, e.toString); false }
  }
  def attempted(n: Long): Unit = synchronized { attemptedOps += n }
  /** Record a failure of `count` operations, with its reason. */
  def fail(op: String, reason: String, count: Long = 1): Unit = synchronized {
    failures += Map("op" -> op, "reason" -> reason.take(500), "count" -> count)
  }

  def fresh(name: String): Path = {
    val p = work.resolve(name)
    Main.deleteTree(p)
    Files.createDirectories(p)
  }

  def result: Map[String, Any] = synchronized {
    raw.toMap ++ Map("attempted" -> attemptedOps, "failures" -> failures.toSeq)
  }
}

/** Benchmark harness entry point: one workload per JVM.
  *
  * Usage: perfbench.Main --workload <name> --seed <n> --seconds <s>
  *   --trace <0|1> --data <fixture dir> --work <scratch dir> --out <raw.json>
  *   --cpus <n> [workload options]
  */
object Main {
  def main(argv: Array[String]): Unit = {
    val args = argv.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val cpus = args.getOrElse("cpus", "4")
    val work = Paths.get(args("work")).toAbsolutePath
    Files.createDirectories(work)
    val tracing = args.getOrElse("trace", "0") == "1"
    val loadStart = loadavg()
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // report idle micro-batches too, so trigger counts include them
      .config("spark.sql.streaming.noDataProgressEventInterval", "0")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(tracing)
    val run = new Run(spark, tracer, args)
    spark.streams.addListener(run.progress)
    spark.sparkContext.addSparkListener(run.input)
    if (tracing) spark.sparkContext.addSparkListener(new JobSpans(tracer))

    val workload = args("workload")
    run.raw ++= Seq("workload" -> workload, "seed" -> run.seed, "cpus" -> cpus.toInt,
      "trace" -> tracing, "spark_version" -> spark.version,
      "java_version" -> System.getProperty("java.version"),
      "loadavg_start" -> loadStart)
    tracer.trace = s"$workload/${run.seed}"
    tracer.span(workload, "harness") {
      workload match {
        case "tail_live" => TailLive.run(run)
        case "replay_catchup" | "batch_mix" => QueryMix.run(run)
        case "bulk_load" => BulkLoad.run(run)
        case "datagen" => DataGen.run(run)
        case other => sys.error(s"unknown workload '$other'")
      }
    }
    run.raw ++= Seq("loadavg_end" -> loadavg(), "peak_rss_mb" -> peakRssMb(),
      "progress" -> run.progress.all)
    if (tracing) {
      val spans = Paths.get(args("out") + ".spans.jsonl")
      tracer.writeTo(spans)
      run.raw("spans") = spans.toString
    }
    Files.write(Paths.get(args("out")), Json.write(run.result).getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }

  /** One-minute load average of the box. */
  def loadavg(): Double =
    Files.readString(Paths.get("/proc/loadavg")).split(' ')(0).toDouble

  /** Peak resident set of this JVM (VmHWM), in MiB. */
  def peakRssMb(): Double =
    Files.readAllLines(Paths.get("/proc/self/status")).toArray.map(_.toString)
      .find(_.startsWith("VmHWM:"))
      .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(0.0)

  def deleteTree(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(x => Files.delete(x))
    finally s.close()
  }

  def secondsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  /** Median of a non-empty sample. */
  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }
}
