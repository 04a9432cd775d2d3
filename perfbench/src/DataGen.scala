package perfbench

import org.apache.spark.sql.functions._

/** The fixture tables the query workloads read, made from source: the
  * engine's own generator (`graft.tools.GenSf`, the measured process behind
  * the sf0.1 fixtures) at sf0.1, then thinned to a tenth so that one pass of
  * a query workload fits a benchmark run. Thinning keeps every table's
  * schema, key ranges stay dense, and foreign keys are folded into the kept
  * range, so joins keep their fan-out. Events keep one in ten, renumbered in
  * timestamp order, so the 30-day span stays the same.
  *
  * Options: --data <output dir> --gen-seed <n>
  */
object DataGen {
  def run(r: Run): Unit = {
    val spark = r.spark
    val out = r.arg("data")
    val full = r.fresh("gen-sf0.1").toString
    graft.tools.GenSf.generate(spark, full, 1, r.arg("gen-seed").toLong)
    def t(name: String) = spark.read.parquet(s"$full/$name.parquet")
    val tables = Seq(
      "region" -> t("region"),
      "nation" -> t("nation"),
      "customer" -> t("customer").where(col("c_custkey") < 1500),
      "supplier" -> t("supplier").where(col("s_suppkey") < 100),
      "part" -> t("part").where(col("p_partkey") < 2000),
      "orders" -> t("orders").where(col("o_orderkey") < 15000)
        .withColumn("o_custkey", col("o_custkey") % 1500),
      "lineitem" -> t("lineitem").where(col("l_orderkey") < 15000)
        .withColumn("l_partkey", col("l_partkey") % 2000)
        .withColumn("l_suppkey", col("l_suppkey") % 100),
      "events" -> t("events").where(col("event_id") % 10 === 0)
        .withColumn("event_id", col("event_id") / 10 cast "bigint")
        .withColumn("user_id", col("user_id") % 150)
        .orderBy("event_id"),
      "documents" -> t("documents").where(col("doc_id") < 500),
      "embeddings" -> t("embeddings").where(col("vec_id") < 200))
    val tmp = s"$out.tmp"
    Main.deleteTree(java.nio.file.Paths.get(tmp))
    tables.foreach { case (name, df) =>
      df.coalesce(1).write.parquet(s"$tmp/$name.parquet")
    }
    Main.deleteTree(java.nio.file.Paths.get(full))
    java.nio.file.Files.move(java.nio.file.Paths.get(tmp), java.nio.file.Paths.get(out))
    r.raw("tables") = tables.map(_._1)
  }
}
