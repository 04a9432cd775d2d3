package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Deterministic distributed fixture generator: a REAL scale-up of the
  * driver's synthetic tables (TESTDATA.md) for scale-curve validation.
  *
  * The driver ships sf0.001/0.01/0.1 (seed 42); SCALE_CURVE.json's 10x
  * point was, until round 11, a semantics-preserving synthetic copy-up of
  * sf0.1 (key offsets + word prefixes — ScaleCurve.buildScaled). That
  * keeps group sizes artificially constant. This tool instead re-draws
  * every table from the SAME generative process (distributions measured
  * off the fixtures, recorded below) at 10x the row counts with a fresh
  * seed, so duplicate groups, join fan-outs, and candidate volumes grow
  * the way real data grows.
  *
  * Measured process being reproduced (all verified against sf0.1/0.01):
  *  - customer/supplier: dense keys, Name#%09d, nationkey ~ U[0,24],
  *    acctbal ~ U(-1000, 10000) 2dp, mktsegment uniform over 5.
  *  - part: name = adj x noun (8x8 lists), Brand#1..25, 6 types,
  *    size ~ U[1,50], retailprice = 900 + (key % 1000) * 0.1 (exact).
  *  - orders: dense keys, custkey ~ U[0, nCust), status uniform {O,F,P},
  *    totalprice ~ U(1000, 500000) 2dp, orderdate ~ U days
  *    [1995-01-01, 2001-08-01], priority uniform over 5.
  *  - lineitem: orderkey ~ U[0, nOrders) (=> Poisson(4) lines/order),
  *    partkey/suppkey uniform, linenumber ~ U[1,7], quantity ~ U[1,50],
  *    extendedprice ~ U(900, 105000) 2dp, discount ~ {0.00..0.10},
  *    tax ~ {0.00..0.08}, flags uniform, shipdate ~ U days
  *    [1995-01-02, 2001-11-04] (independent of orderdate — measured).
  *  - events: N uniform arrivals over [2024-01-01, 2024-01-31), event_id
  *    assigned in ts order, user_id ~ U[0, nUsers) with nUsers = N/66.7
  *    (15 users per 1000 events at every shipped SF), type uniform over
  *    5, value ~ Exp(mean 50) 2dp, props = {"k": U[0,99]}.
  *  - documents: len ~ U[10,100] words from the 30-word vocab; 5% of
  *    docs are COPIES of a uniform partner's base text with k inserted
  *    'dup' marker words (k = 0 w.p. 0.03 -> exact dup, 2 w.p. 0.02,
  *    else 1) — reproduces both the ~5% near-dup rate and the ~0.16%
  *    exact-dup rate of sf0.1. lang ~ {en .40, de/es/fr/zh .15 each},
  *    source = src(doc_id % 20), n_chars = length(text).
  *  - embeddings: 64-dim unit-normalized gaussians, label ~ U[0,9].
  *
  * Everything is a pure function of (seed, table, row id) via splitmix64,
  * so generation is embarrassingly parallel — the same code generates the
  * 100 TB version on a cluster by raising `factor`.
  *
  * Usage: GenSf <outDir> [factor=10] [seed=43]   (factor x sf0.1 counts)
  */
object GenSf {

  private def mix(x: Long): Long = {
    var z = x + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  private def h(seed: Long, parts: Long*): Long =
    parts.foldLeft(mix(seed))((a, b) => mix(a ^ mix(b)))
  private def u01(x: Long): Double = (x >>> 11).toDouble / (1L << 53).toDouble
  private def uInt(x: Long, lo: Int, hi: Int): Int =
    lo + java.lang.Math.floorMod(x, (hi - lo + 1).toLong).toInt
  private def round2(v: Double): Double = math.floor(v * 100.0 + 0.5) / 100.0

  private val Vocab: Array[String] = Array(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup", "fast",
    "filter", "group", "hash", "join", "key", "line", "merge", "order",
    "part", "query", "row", "scan", "slow", "small", "sort", "spark",
    "stream", "table", "the", "value", "vector", "window").filter(_ != "dup")
  private val Adjs = Array("blue", "cold", "hot", "large", "new", "old", "red", "small")
  private val Nouns = Array("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget")
  private val Types = Array("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD")
  private val Segments = Array("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY")
  private val Priorities = Array("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW")
  private val EventTypes = Array("click", "error", "purchase", "signup", "view")
  private val Langs = Array("en", "de", "es", "fr", "zh")

  private val DayMs = 86400000L
  private val OrderEpoch = java.time.LocalDate.of(1995, 1, 1).toEpochDay
  private val OrderDays = java.time.LocalDate.of(2001, 8, 1).toEpochDay - OrderEpoch // inclusive upper via uInt
  private val ShipLo = java.time.LocalDate.of(1995, 1, 2).toEpochDay
  private val ShipHi = java.time.LocalDate.of(2001, 11, 4).toEpochDay
  private val EventsT0Us = java.time.Instant.parse("2024-01-01T00:00:00Z").toEpochMilli * 1000L
  private val EventsSpanUs = 30L * DayMs * 1000L

  /** Base word-soup text for a doc id — callable from any row (copies
    * recompute their partner's base text inline; no join needed).
    */
  private def baseText(seed: Long, id: Long): String = {
    val n = uInt(h(seed, 7001L, id), 10, 100)
    val sb = new java.lang.StringBuilder(n * 7)
    var j = 0
    while (j < n) {
      if (j > 0) sb.append(' ')
      sb.append(Vocab(uInt(h(seed, 7002L, id, j.toLong), 0, Vocab.length - 1)))
      j += 1
    }
    sb.toString
  }

  def generate(spark: SparkSession, out: String, factor: Int, seed: Long): Unit = {
    import spark.implicits._
    val nCust = 15000L * factor
    val nSupp = 1000L * factor
    val nPart = 20000L * factor
    val nOrders = 150000L * factor
    val nLine = 600000L * factor
    val nEvents = 100000L * factor
    val nUsers = 1500L * factor
    val nDocs = 5000L * factor
    val nVecs = 2000L * factor

    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    write(Seq((0L, "AFRICA"), (1L, "AMERICA"), (2L, "ASIA"), (3L, "EUROPE"),
      (4L, "MIDDLE EAST")).toDF("r_regionkey", "r_name"), "region")
    write(spark.range(25).select($"id".as("n_nationkey"),
      concat(lit("NATION_"), $"id").as("n_name"),
      ($"id" % 5).as("n_regionkey")), "nation")

    write(spark.range(nCust).map { i =>
      (i, f"Customer#$i%09d", uInt(h(seed, 1L, i), 0, 24),
        round2(-1000.0 + 11000.0 * u01(h(seed, 2L, i))),
        Segments(uInt(h(seed, 3L, i), 0, 4)))
    }.toDF("c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"),
      "customer")

    write(spark.range(nSupp).map { i =>
      (i, f"Supplier#$i%09d", uInt(h(seed, 11L, i), 0, 24),
        round2(-1000.0 + 11000.0 * u01(h(seed, 12L, i))))
    }.toDF("s_suppkey", "s_name", "s_nationkey", "s_acctbal"), "supplier")

    write(spark.range(nPart).map { i =>
      (i, Adjs(uInt(h(seed, 21L, i), 0, 7)) + " " + Nouns(uInt(h(seed, 22L, i), 0, 7)),
        "Brand#" + uInt(h(seed, 23L, i), 1, 25), Types(uInt(h(seed, 24L, i), 0, 5)),
        uInt(h(seed, 25L, i), 1, 50), 900.0 + (i % 1000L) * 0.1)
    }.toDF("p_partkey", "p_name", "p_brand", "p_type", "p_size", "p_retailprice"),
      "part")

    write(spark.range(nOrders).map { i =>
      val day = OrderEpoch + uInt(h(seed, 31L, i), 0, OrderDays.toInt)
      (i, java.lang.Math.floorMod(h(seed, 32L, i), nCust), "OFP".charAt(uInt(h(seed, 33L, i), 0, 2)).toString,
        round2(1000.0 + 499000.0 * u01(h(seed, 34L, i))),
        new java.sql.Timestamp(day * DayMs), Priorities(uInt(h(seed, 35L, i), 0, 4)))
    }.toDF("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
      "o_orderdate", "o_orderpriority"), "orders")

    write(spark.range(nLine).map { i =>
      val ship = ShipLo + uInt(h(seed, 41L, i), 0, (ShipHi - ShipLo).toInt)
      (java.lang.Math.floorMod(h(seed, 42L, i), nOrders),
        java.lang.Math.floorMod(h(seed, 43L, i), nPart),
        java.lang.Math.floorMod(h(seed, 44L, i), nSupp),
        uInt(h(seed, 45L, i), 1, 7), uInt(h(seed, 46L, i), 1, 50).toDouble,
        round2(900.0 + 104100.0 * u01(h(seed, 47L, i))),
        uInt(h(seed, 48L, i), 0, 10) / 100.0, uInt(h(seed, 49L, i), 0, 8) / 100.0,
        "ANR".charAt(uInt(h(seed, 50L, i), 0, 2)).toString,
        "OF".charAt(uInt(h(seed, 51L, i), 0, 1)).toString,
        new java.sql.Timestamp(ship * DayMs))
    }.toDF("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
      "l_extendedprice", "l_discount", "l_tax", "l_returnflag", "l_linestatus",
      "l_shipdate"), "lineitem")

    // events: arrivals uniform over the 30-day window; event_id in ts order
    // (zipWithIndex over the range-partitioned sort — no single-partition
    // window). Exponential value via inverse CDF of a hash uniform.
    val raw = spark.range(nEvents).map { i =>
      val tsUs = EventsT0Us + (u01(h(seed, 61L, i)) * EventsSpanUs).toLong
      val value = round2(-50.0 * math.log(1.0 - u01(h(seed, 62L, i))))
      (tsUs, java.lang.Math.floorMod(h(seed, 63L, i), nUsers),
        EventTypes(uInt(h(seed, 64L, i), 0, 4)), value,
        s"""{"k": ${uInt(h(seed, 65L, i), 0, 99)}}""")
    }.toDF("ts_us", "user_id", "event_type", "value", "props")
    val sorted = raw.repartitionByRange(32, $"ts_us").sortWithinPartitions($"ts_us")
    val withId = sorted.rdd.zipWithIndex.map { case (r, idx) =>
      val us = r.getLong(0)
      val ts = new java.sql.Timestamp(us / 1000000L * 1000L)
      ts.setNanos(((us % 1000000L) * 1000L).toInt)
      org.apache.spark.sql.Row(idx, ts, r.getLong(1), r.getString(2),
        r.getDouble(3), r.getString(4))
    }
    // single file, ts-ordered — the driver's fixture layout contract: the
    // streaming fixtures (q107/q138's clickPurchaseLog) re-produce events
    // through the plain append sink, whose log order is the READ order;
    // a multi-file events table gets size-packed into scan partitions in
    // arbitrary file order, manufacturing event-time disorder the 2 h
    // watermark correctly rejects (found by the full sf1.0 verify run).
    write(spark.createDataFrame(withId.coalesce(1),
      org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("event_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("ts", org.apache.spark.sql.types.TimestampType),
      org.apache.spark.sql.types.StructField("user_id", org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("event_type", org.apache.spark.sql.types.StringType),
      org.apache.spark.sql.types.StructField("value", org.apache.spark.sql.types.DoubleType),
      org.apache.spark.sql.types.StructField("props", org.apache.spark.sql.types.StringType)))),
      "events")

    write(spark.range(nDocs).map { i =>
      val isCopy = u01(h(seed, 71L, i)) < 0.05
      val text =
        if (!isCopy) baseText(seed, i)
        else {
          val partner = java.lang.Math.floorMod(h(seed, 72L, i), nDocs)
          val base = baseText(seed, partner)
          val r = u01(h(seed, 73L, i))
          val k = if (r < 0.03) 0 else if (r < 0.98) 1 else 2
          var words = base.split(' ').toVector
          var j = 0
          while (j < k) {
            val pos = uInt(h(seed, 74L, i, j.toLong), 0, words.length)
            words = (words.take(pos) :+ "dup") ++ words.drop(pos)
            j += 1
          }
          words.mkString(" ")
        }
      val lr = u01(h(seed, 75L, i))
      val lang = if (lr < 0.40) "en" else Langs(1 + ((lr - 0.40) / 0.15).toInt.min(3))
      (i, text, lang, s"src${i % 20}", text.length.toLong)
    }.toDF("doc_id", "text", "lang", "source", "n_chars"), "documents")

    write(spark.range(nVecs).map { i =>
      val v = new Array[Float](64)
      var j = 0
      var ss = 0.0
      while (j < 64) {
        // Box-Muller from two hash uniforms (u clamped off 0)
        val u1 = math.max(u01(h(seed, 81L, i, j.toLong)), 1e-12)
        val u2 = u01(h(seed, 82L, i, j.toLong))
        val g = math.sqrt(-2.0 * math.log(u1)) * math.cos(2.0 * math.Pi * u2)
        v(j) = g.toFloat
        ss += g * g
        j += 1
      }
      val inv = (1.0 / math.sqrt(ss)).toFloat
      j = 0
      while (j < 64) { v(j) *= inv; j += 1 }
      (i, v.toSeq, uInt(h(seed, 83L, i), 0, 9))
    }.toDF("vec_id", "embedding", "label")
      .select($"vec_id", $"embedding".cast("array<float>").as("embedding"), $"label"),
      "embeddings")
  }

  def main(args: Array[String]): Unit = {
    val out = args.headOption.getOrElse("/tmp/graft-sf1.0")
    val factor = if (args.length > 1) args(1).toInt else 10
    val seed = if (args.length > 2) args(2).toLong else 43L
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    generate(spark, out, factor, seed)
    println(s"""{"gen":"$out","factor":$factor,"seed":$seed}""")
    spark.stop()
  }
}
