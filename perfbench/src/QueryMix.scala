package perfbench

import org.apache.spark.sql.Row

import java.nio.charset.StandardCharsets
import java.nio.file.Files
import scala.collection.mutable

/** `replay_catchup` and `batch_mix`: one client runs a fixed list of engine
  * queries, each the moment the previous one returns (a closed loop).
  *
  * The first pass is the set-up: it pays table loading, the streaming
  * queries' fixture-log production and code generation, and its results are
  * written out for the DuckDB oracle check. Timed passes follow, at least
  * one and another while it fits the run's seconds; each of their results
  * must match the checked one, row for row.
  *
  * Options: --data <fixture dir> --queries <q1,q2,...>
  */
object QueryMix {
  def run(r: Run): Unit = {
    val spark = r.spark
    val dir = r.arg("data")
    val names = r.list("queries")
    val defs = graft.SparkEntry.queries
    val oracle = graft.SparkEntry.oracleSql
    val check = r.fresh("check")
    val expected = mutable.Map[String, (Int, Int)]()
    val samples = mutable.ArrayBuffer[Map[String, Any]]()

    def runOne(name: String, pass: String): Array[Row] =
      r.tracer.span("query", "operators", Map("query" -> name, "pass" -> pass)) {
        spark.sparkContext.setJobDescription(s"perfbench:$name:$pass")
        try {
          val t0 = System.nanoTime()
          val df = r.tracer.span("build", "operators")(defs(name)(spark, dir))
          val t1 = System.nanoTime()
          val rows = r.tracer.span("action", "operators")(df.collect())
          val t2 = System.nanoTime()
          samples += Map("query" -> name, "pass" -> pass,
            "build_s" -> (t1 - t0) / 1e9, "action_s" -> (t2 - t1) / 1e9,
            "total_s" -> (t2 - t0) / 1e9)
          if (pass == "setup") {
            spark.createDataFrame(java.util.Arrays.asList(rows: _*), df.schema)
              .coalesce(1).write.parquet(check.resolve(name).toString)
          }
          rows
        } finally {
          spark.sparkContext.setJobDescription(null)
          graft.CacheScope.release()
        }
      }

    val unknown = names.filterNot(defs.contains)
    require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(",")}")
    Files.write(check.resolve("oracle_sql.json"), Json.write(
      names.flatMap(n => oracle.get(n).map(n -> _)).toMap).getBytes(StandardCharsets.UTF_8))
    names.filterNot(oracle.contains).foreach(n => r.fail(s"$n/oracle", "no oracle SQL"))

    val windows = mutable.ArrayBuffer[Map[String, Any]]()
    def pass(label: String): Double = {
      r.tracer.trace = s"${r.arg("workload")}/${r.seed}/$label"
      val input0 = r.input.records.get()
      val startMs = System.currentTimeMillis()
      val t0 = System.nanoTime()
      r.tracer.span("pass", "harness", Map("pass" -> label)) {
        names.foreach { name =>
          r.attempt(s"$name/$label") {
            val got = fingerprint(runOne(name, label))
            expected.get(name) match {
              case None if label == "setup" => expected(name) = got
              case None => throw new IllegalStateException("its set-up run failed")
              case Some(want) if want != got => throw new IllegalStateException(
                s"result ${got._1} rows/hash ${got._2} differs from the checked " +
                  s"set-up pass (${want._1} rows/hash ${want._2})")
              case _ => ()
            }
          }
        }
      }
      val wall = Main.secondsSince(t0)
      windows += Map("pass" -> label, "start_ms" -> startMs,
        "end_ms" -> System.currentTimeMillis(), "wall_s" -> wall,
        "input_records" -> (r.input.records.get() - input0))
      wall
    }

    r.raw("setup_s") = Seq(pass("setup"))
    val t0 = System.nanoTime()
    var k = 0
    // at least one pass; another only while one more of the mean length fits
    while (k == 0 || Main.secondsSince(t0) * (k + 1) / k <= r.seconds) {
      pass(s"pass$k")
      k += 1
    }
    r.raw ++= Seq("queries" -> names, "check_dir" -> check.toString,
      "passes" -> windows.toSeq, "samples" -> samples.toSeq)
    // the batch sink and line codec have no workload of their own: a traced
    // replay run measures them after its timed passes
    if (r.tracer.enabled && r.arg("workload") == "replay_catchup")
      r.raw("bulk_probe") = BulkLoad.probe(r)
  }

  /** Order-insensitive digest of a result: row count and a hash of the
    * sorted rendered rows.
    */
  def fingerprint(rows: Array[Row]): (Int, Int) =
    (rows.length, scala.util.hashing.MurmurHash3.orderedHash(rows.map(render).sorted))

  private def render(v: Any): String = v match {
    case null => "null"
    case b: Array[Byte] => java.util.Arrays.toString(b)
    case row: Row => row.toSeq.map(render).mkString("(", ",", ")")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", ",", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", ",", "]")
    case d: java.math.BigDecimal => d.toPlainString
    case other => other.toString
  }
}
