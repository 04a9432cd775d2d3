package graft.operators

import graft.ColFns.davgSql
import graft.QueryDef.q
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoder, Encoders, SparkSession}

/** The user-extension surface (SURVEY.md §2B "UDF surface") mirroring the
  * reference's handler hook (the only computation surface it has —
  * /root/reference/lib/redix/stream/consumer.ex:283-299): a scalar Scala UDF,
  * a typed `Aggregator` UDAF, and a `Dataset.flatMap` generator (UDTF-style).
  * Each is intentionally SQL-replicable so the oracle can check the plumbing;
  * real engine code should prefer built-ins / native expressions (see
  * GraftExpressions) — a Scala UDF is an opaque box to Catalyst.
  */
object UdfSurface {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Decimal-exact mean — Aggregator form of ColFns.davg: per-value quantize
    * to 6dp (same as CAST(x AS DECIMAL(28,6))), exact decimal sum, one final
    * IEEE division. Order-independent, so parallel merge order can't flap
    * the result.
    */
  private object DecimalAvg extends Aggregator[Double, (BigDecimal, Long), Double] {
    override def zero: (BigDecimal, Long) = (BigDecimal(0).setScale(6), 0L)
    override def reduce(b: (BigDecimal, Long), a: Double): (BigDecimal, Long) =
      (b._1 + BigDecimal(a).setScale(6, BigDecimal.RoundingMode.HALF_UP), b._2 + 1)
    override def merge(x: (BigDecimal, Long), y: (BigDecimal, Long)): (BigDecimal, Long) =
      (x._1 + y._1, x._2 + y._2)
    override def finish(r: (BigDecimal, Long)): Double =
      if (r._2 == 0) 0.0 else r._1.toDouble / r._2
    override def bufferEncoder: Encoder[(BigDecimal, Long)] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[(BigDecimal, Long)]()
    override def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  /** Misra-Gries heavy-hitters sketch capacity (counter slots). */
  private[graft] val MgK = 64

  /** Misra-Gries heavy-hitters summary: at most MgK counters; any key with
    * true frequency > n/(MgK+1) is guaranteed present, and every estimate
    * satisfies est <= true <= est + n/(MgK+1). Mergeable (Agarwal et al.,
    * "Mergeable Summaries"): merge sums counters, then subtracts the
    * (k+1)-th largest count from all and drops the non-positive — so Spark
    * can partial-aggregate it map-side and only k-entry maps cross the
    * shuffle, where an exact count would shuffle the full key space.
    * Immutable-Map updates are fine at k=64; a production variant would be
    * a TypedImperativeAggregate over an open-addressing table.
    */
  private[graft] object MisraGries extends Aggregator[String, Map[String, Long], Map[String, Long]] {
    override def zero: Map[String, Long] = Map.empty
    override def reduce(b: Map[String, Long], key: String): Map[String, Long] =
      b.get(key) match {
        case Some(c)                  => b.updated(key, c + 1)
        case None if b.size < MgK     => b.updated(key, 1L)
        case None                     => // decrement-all step of the streaming MG update
          b.collect { case (k, c) if c > 1 => k -> (c - 1) }
      }
    override def merge(x: Map[String, Long], y: Map[String, Long]): Map[String, Long] = {
      val sum = y.foldLeft(x) { case (acc, (k, c)) =>
        acc.updated(k, acc.getOrElse(k, 0L) + c)
      }
      if (sum.size <= MgK) sum
      else {
        val cut = sum.values.toSeq.sorted(Ordering[Long].reverse)(MgK)
        sum.collect { case (k, c) if c > cut => k -> (c - cut) }
      }
    }
    override def finish(r: Map[String, Long]): Map[String, Long] = r
    override def bufferEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
    override def outputEncoder: Encoder[Map[String, Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Map[String, Long]]()
  }

  /** KMV sketch capacity: the K smallest distinct hashes kept per group. */
  private[graft] val KmvK = 8

  /** K-minimum-values buffer: a sorted array of at most KmvK DISTINCT hash
    * values. reduce inserts (dedup + trim), merge is a sorted-merge + trim —
    * both keep the invariant, so partial aggregation anywhere in the plan
    * yields the same sketch (partitioning-invariant; SketchSpec pins it).
    */
  private[graft] object KmvSketch extends Aggregator[Long, Array[Long], Array[Long]] {
    private def insert(b: Array[Long], h: Long): Array[Long] = {
      if (b.length == KmvK && h >= b(KmvK - 1)) return b
      if (java.util.Arrays.binarySearch(b, h) >= 0) return b
      val merged = (b :+ h).sorted
      if (merged.length > KmvK) merged.take(KmvK) else merged
    }
    override def zero: Array[Long] = Array.empty
    override def reduce(b: Array[Long], h: Long): Array[Long] = insert(b, h)
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] =
      y.foldLeft(x)(insert)
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  val defs: Seq[QueryDef] = Seq(

    q("q119_heavy_hitters",
      """WITH w AS (SELECT unnest(string_split(text,' ')) word FROM documents)
        |SELECT word, CAST(COUNT(*) AS BIGINT) AS est_n, TRUE AS bound_ok
        |FROM w GROUP BY word ORDER BY word""") { (s, dir) =>
      import s.implicits._
      // Heavy hitters via the mergeable Misra-Gries sketch. The fixture
      // vocabulary is smaller than the counter budget, so no eviction ever
      // fires and the sketch is EXACT — the oracle hash-checks the
      // estimates against true counts (a wrong reduce/merge shows up as a
      // value mismatch, not just a failed contract). bound_ok additionally
      // states the guarantee that still holds when the key space outgrows
      // k at scale: est <= true <= est + n/(k+1).
      val mg = udaf(MisraGries)
      val words = T(s, dir, "documents")
        .select(explode(split($"text", " ")).as("word"))
        .transform(graft.CacheScope.cached)
      val sketch = words.agg(mg($"word").as("sk"))
      val est = sketch.select(explode($"sk")).toDF("word", "est_n")
      val exact = words.groupBy($"word").agg(count(lit(1)).as("n"))
      val total = words.count()
      est.join(exact, "word")
        .select($"word", $"est_n",
          ($"est_n" <= $"n" && ($"n" - $"est_n") * (MgK + 1) <= total)
            .as("bound_ok"))
        .orderBy($"word")
    },

    q("q62_udf_scalar",
      """SELECT o_orderkey,
        |  CAST(substr(o_orderpriority, 1, 1) AS BIGINT) AS prio_rank
        |FROM orders ORDER BY o_orderkey""") { (s, dir) =>
      import s.implicits._
      val prioRank = udf((p: String) => p.substring(0, 1).toLong)
      T(s, dir, "orders")
        .select($"o_orderkey", prioRank($"o_orderpriority").as("prio_rank"))
        .orderBy($"o_orderkey")
    },

    q("q63_udaf_aggregator",
      s"""SELECT l_returnflag, ${davgSql("l_quantity")} AS avg_qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      import s.implicits._
      val avgQty = udaf(DecimalAvg)
      T(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(avgQty($"l_quantity").as("avg_qty"))
        .orderBy($"l_returnflag")
    },

    q("q64_flatmap_words",
      """SELECT w AS word, COUNT(*) AS n FROM (
        |  SELECT unnest(string_split(text, ' ')) AS w FROM documents
        |) WHERE w IN ('the', 'spark', 'join')
        |GROUP BY w ORDER BY word""") { (s, dir) =>
      import s.implicits._
      // UDTF-style generator: one input row → many output rows via typed
      // flatMap (the reference's handler could only consume; this emits).
      val target = Set("the", "spark", "join")
      T(s, dir, "documents")
        .select($"text").as[String]
        .flatMap(_.split(' '))
        .filter(w => target.contains(w))
        .toDF("word")
        .groupBy($"word").agg(count(lit(1)).as("n"))
        .orderBy($"word")
    },

    q("q189_sql_entry", {
      val ph = graft.functions.TextHash.duckPolyHash("CAST(user_id AS VARCHAR)")
      s"""WITH fx AS (SELECT user_id, event_type,
         |    ROW_NUMBER() OVER (PARTITION BY user_id
         |      ORDER BY epoch_us(ts), event_id) AS rn
         |  FROM events)
         |SELECT event_type,
         |  CAST(COUNT(*) AS BIGINT) AS n_users_first,
         |  CAST(MIN($ph) AS BIGINT) AS min_uhash
         |FROM fx WHERE rn = 1 GROUP BY event_type ORDER BY event_type"""
    }) { (s, dir) =>
      // The pure-SQL-TEXT entry path: temp view + spark.sql(...), no
      // DataFrame DSL anywhere — what a spark-sql / Thrift / notebook user
      // runs, with the engine's graft_* natives resolving inside the SQL
      // (GraftExtensions injects them at session build; register() covers
      // vanilla sessions). The query itself is "which event type wins each
      // user's FIRST touch" — one window over user_id + one aggregation,
      // with the same (micros, id) tie-break discipline as q174/q185.
      T(s, dir, "events").createOrReplaceTempView("g_events")
      s.sql(
        """WITH fx AS (SELECT user_id, event_type,
          |    ROW_NUMBER() OVER (PARTITION BY user_id
          |      ORDER BY unix_micros(ts), event_id) AS rn
          |  FROM g_events)
          |SELECT event_type,
          |  CAST(COUNT(*) AS BIGINT) AS n_users_first,
          |  CAST(MIN(graft_polyhash(CAST(user_id AS STRING))) AS BIGINT) AS min_uhash
          |FROM fx WHERE rn = 1 GROUP BY event_type ORDER BY event_type""".stripMargin)
    },

    q("q184_kmv_distinct", {
      val P = graft.functions.TextHash.P
      val ph = graft.functions.TextHash.duckPolyHash("CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT DISTINCT event_type,
         |    (($ph) * 2654435761) % $P AS h FROM events),
         |r AS (SELECT event_type, h,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) AS rn,
         |    COUNT(*) OVER (PARTITION BY event_type) AS nd FROM u),
         |k AS (SELECT event_type,
         |    MAX(CASE WHEN rn = $KmvK THEN h END) AS kth_min,
         |    CAST(MIN(nd) AS BIGINT) AS n_exact FROM r GROUP BY event_type)
         |SELECT event_type, n_exact, kth_min,
         |  CASE WHEN kth_min IS NULL THEN n_exact
         |    ELSE (${(KmvK - 1) * P}) // kth_min END AS est_n,
         |  CASE WHEN kth_min IS NULL THEN 0
         |    ELSE (${(KmvK - 1) * P}) // kth_min - n_exact END AS err
         |FROM k ORDER BY event_type"""
    }) { (s, dir) =>
      import s.implicits._
      // K-minimum-values distinct-count sketch (Bar-Yossef et al.): keep the
      // K smallest distinct hash values; estimate = (K-1) * P / kth_min.
      // Unlike approx_count_distinct's opaque HLL (q13), every byte of this
      // sketch is integer arithmetic the oracle replays exactly — and it is
      // MERGEABLE: merging two sketches is merging two sorted K-lists and
      // trimming, which is what the typed Aggregator's partial aggregation
      // does map-side, so only K longs per group cross the shuffle. The
      // short-key hash is scattered (q165's multiplicative-mix lesson)
      // before the order statistics — raw polyhashes of small integers
      // cluster near 0 and would wreck the (K-1)*P/kth estimator.
      val kmv = udaf(KmvSketch)
      val hashed = T(s, dir, "events")
        .select($"event_type", expr(
          s"(graft_polyhash(CAST(user_id AS STRING)) * 2654435761) % ${graft.functions.TextHash.P}")
          .as("h"))
      val sk = hashed.groupBy($"event_type").agg(kmv($"h").as("mins"))
      val exact = hashed.groupBy($"event_type")
        .agg(countDistinct($"h").as("n_exact"))
      sk.join(exact, "event_type")
        .withColumn("kth_min",
          when(size($"mins") >= KmvK, element_at($"mins", KmvK)))
        .select($"event_type", $"n_exact", $"kth_min",
          expr(s"CASE WHEN kth_min IS NULL THEN n_exact " +
            s"ELSE ${(KmvK - 1) * graft.functions.TextHash.P} DIV kth_min END").as("est_n"),
          expr(s"CASE WHEN kth_min IS NULL THEN 0 " +
            s"ELSE ${(KmvK - 1) * graft.functions.TextHash.P} DIV kth_min - n_exact END").as("err"))
        .orderBy($"event_type")
    },

    q("q249_sketch_table_merge", {
      val P = graft.functions.TextHash.P
      val ph = graft.functions.TextHash.duckPolyHash("CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT DISTINCT CAST(ts AS DATE) AS day,
         |    (($ph) * 2654435761) % $P AS h FROM events),
         |b AS (SELECT MIN(day) AS lo FROM u),
         |d AS (SELECT (day - lo) AS dayoff, h FROM u, b),
         |sk AS (SELECT dayoff, h,
         |    ROW_NUMBER() OVER (PARTITION BY dayoff ORDER BY h) AS rn FROM d),
         |sketch AS (SELECT dayoff, h FROM sk WHERE rn <= $KmvK),
         |ranges(rname, rlo, rhi) AS (VALUES ('d00_06', 0, 6),
         |  ('d07_20', 7, 20), ('d00_99', 0, 99)),
         |m0 AS (SELECT DISTINCT rname, h FROM ranges r JOIN sketch s
         |  ON s.dayoff BETWEEN r.rlo AND r.rhi),
         |m AS (SELECT rname, h,
         |    ROW_NUMBER() OVER (PARTITION BY rname ORDER BY h) AS rn,
         |    COUNT(*) OVER (PARTITION BY rname) AS nh FROM m0),
         |k AS (SELECT rname, MAX(CASE WHEN rn = $KmvK THEN h END) AS kth_min,
         |    CAST(MIN(nh) AS BIGINT) AS n_sketch FROM m GROUP BY rname),
         |ex AS (SELECT rname, CAST(COUNT(DISTINCT h) AS BIGINT) AS n_exact
         |  FROM ranges r JOIN d ON d.dayoff BETWEEN r.rlo AND r.rhi
         |  GROUP BY rname)
         |SELECT k.rname AS range_name, ex.n_exact, k.kth_min,
         |  CASE WHEN k.kth_min IS NULL THEN k.n_sketch
         |    ELSE (${(KmvK - 1) * P}) // k.kth_min END AS est_n
         |FROM k JOIN ex ON ex.rname = k.rname ORDER BY range_name"""
    }) { (s, dir) =>
      import s.implicits._
      // The SKETCH-TABLE pattern q184's UDAF enables at warehouse scale:
      // persist one tiny KMV sketch per day-partition, then answer any
      // day-range distinct-count from the sketches ALONE — the raw rows
      // are never rescanned for a range query (here the exact side reads
      // them only to certify the estimates). Merging = union the per-day
      // K-lists, dedup, trim to the K smallest — valid because the range's
      // k-th smallest hash is necessarily among its days' k-smallest
      // lists. When a merged list holds fewer than K hashes every
      // contributing day was complete, so the "estimate" is exact — the
      // same CASE as q184. All integer arithmetic; both engines replay
      // every byte.
      val P = graft.functions.TextHash.P
      val u = T(s, dir, "events")
        .select(to_date($"ts").as("day"), expr(
          s"(graft_polyhash(CAST(user_id AS STRING)) * 2654435761) % $P")
          .as("h"))
        .distinct()
      val lo = u.agg(min($"day").as("lo"))
      val d = u.crossJoin(broadcast(lo))
        .select(datediff($"day", $"lo").as("dayoff"), $"h")
        .transform(graft.CacheScope.cached) // sketch build + exact foil
      val byDay = org.apache.spark.sql.expressions.Window
        .partitionBy($"dayoff").orderBy($"h")
      val sketch = d.withColumn("rn", row_number().over(byDay))
        .filter($"rn" <= KmvK).select($"dayoff", $"h")
      val ranges = broadcast(Seq(("d00_06", 0, 6), ("d07_20", 7, 20),
        ("d00_99", 0, 99)).toDF("rname", "rlo", "rhi"))
      val m0 = ranges.join(sketch,
          $"dayoff".between($"rlo", $"rhi"))
        .select($"rname", $"h").distinct()
      val byRange = org.apache.spark.sql.expressions.Window
        .partitionBy($"rname").orderBy($"h")
      val m = m0.withColumn("rn", row_number().over(byRange))
        .withColumn("nh", count(lit(1)).over(
          org.apache.spark.sql.expressions.Window.partitionBy($"rname")))
      val k = m.groupBy($"rname")
        .agg(max(when($"rn" === KmvK, $"h")).as("kth_min"),
          min($"nh").as("n_sketch"))
      val ex = ranges.join(d, $"dayoff".between($"rlo", $"rhi"))
        .groupBy($"rname").agg(countDistinct($"h").as("n_exact"))
      k.join(ex, Seq("rname"))
        .select($"rname".as("range_name"), $"n_exact", $"kth_min",
          expr(s"CASE WHEN kth_min IS NULL THEN n_sketch " +
            s"ELSE ${(KmvK - 1) * P} DIV kth_min END").as("est_n"))
        .orderBy($"range_name")
    },

    q("q260_kmv_audience_overlap", {
      val P = graft.functions.TextHash.P
      val ph = graft.functions.TextHash.duckPolyHash("CAST(user_id AS VARCHAR)")
      s"""WITH u AS (SELECT DISTINCT event_type,
         |    (($ph) * 2654435761) % $P AS h FROM events),
         |sk AS (SELECT event_type, h FROM (SELECT event_type, h,
         |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h) rn
         |  FROM u) WHERE rn <= $KmvK),
         |tt AS (SELECT DISTINCT event_type FROM u),
         |pairs AS (SELECT a.event_type ta, b.event_type tb FROM tt a
         |  JOIN tt b ON a.event_type < b.event_type),
         |m0 AS (SELECT p.ta, p.tb, s.h,
         |    MAX(CASE WHEN s.event_type = p.ta THEN 1 ELSE 0 END) ina,
         |    MAX(CASE WHEN s.event_type = p.tb THEN 1 ELSE 0 END) inb
         |  FROM pairs p JOIN sk s ON s.event_type IN (p.ta, p.tb)
         |  GROUP BY p.ta, p.tb, s.h),
         |mr AS (SELECT ta, tb, h, ina, inb,
         |    ROW_NUMBER() OVER (PARTITION BY ta, tb ORDER BY h) rn,
         |    COUNT(*) OVER (PARTITION BY ta, tb) nu FROM m0),
         |kk AS (SELECT ta, tb, MAX(CASE WHEN rn = $KmvK THEN h END) kh,
         |    CAST(MIN(nu) AS BIGINT) nu,
         |    CAST(SUM(CASE WHEN rn <= $KmvK AND ina = 1 AND inb = 1
         |      THEN 1 ELSE 0 END) AS BIGINT) ic
         |  FROM mr GROUP BY ta, tb),
         |ex AS (SELECT p.ta, p.tb, CAST(COUNT(*) AS BIGINT) exact_inter
         |  FROM pairs p JOIN u ua ON ua.event_type = p.ta
         |  JOIN u ub ON ub.event_type = p.tb AND ub.h = ua.h
         |  GROUP BY p.ta, p.tb)
         |SELECT kk.ta AS type_a, kk.tb AS type_b,
         |  COALESCE(ex.exact_inter, 0) AS exact_inter,
         |  CASE WHEN kk.kh IS NULL THEN kk.ic
         |    ELSE (kk.ic * ((${(KmvK - 1) * P}) // kk.kh)) // $KmvK END
         |    AS est_inter
         |FROM kk LEFT JOIN ex ON ex.ta = kk.ta AND ex.tb = kk.tb
         |ORDER BY type_a, type_b"""
    }) { (s, dir) =>
      import s.implicits._
      // Audience-overlap matrix from KMV sketches alone — the classic
      // inclusion estimate (Beyer et al. 2007): for each segment pair,
      // merge the two K-lists, take the K smallest, estimate the union
      // with (K-1)P/kth, and scale by the fraction of merged-K hashes
      // present in BOTH sketches. The raw rows certify (exact_inter);
      // at warehouse scale only the K-long sketch per segment is stored
      // and every pairwise overlap is answered without rescanning. When
      // the merged list holds < K hashes both sketches were complete and
      // the estimate is exact (q249's CASE).
      val P = graft.functions.TextHash.P
      val W = org.apache.spark.sql.expressions.Window
      val u = T(s, dir, "events")
        .select($"event_type", expr(
          s"(graft_polyhash(CAST(user_id AS STRING)) * 2654435761) % $P")
          .as("h"))
        .distinct()
        .transform(graft.CacheScope.cached) // sketches + exact foil
      val sk = u.withColumn("rn",
          row_number().over(W.partitionBy($"event_type").orderBy($"h")))
        .filter($"rn" <= KmvK).select($"event_type", $"h")
      val tt = u.select($"event_type").distinct()
      val pairs = broadcast(tt.select($"event_type".as("ta"))
        .join(tt.select($"event_type".as("tb")), $"ta" < $"tb"))
      val m0 = pairs.join(sk,
          $"event_type" === $"ta" || $"event_type" === $"tb")
        .groupBy($"ta", $"tb", $"h")
        .agg(max(when($"event_type" === $"ta", 1).otherwise(0)).as("ina"),
          max(when($"event_type" === $"tb", 1).otherwise(0)).as("inb"))
      val mr = m0
        .withColumn("rn",
          row_number().over(W.partitionBy($"ta", $"tb").orderBy($"h")))
        .withColumn("nu", count(lit(1)).over(W.partitionBy($"ta", $"tb")))
      val kk = mr.groupBy($"ta", $"tb")
        .agg(max(when($"rn" === KmvK, $"h")).as("kh"),
          min($"nu").as("nu"),
          sum(when($"rn" <= KmvK && $"ina" === 1 && $"inb" === 1, 1L)
            .otherwise(0L)).as("ic"))
      val ex = pairs
        .join(u.select($"event_type".as("ta"), $"h"), Seq("ta"))
        .join(u.select($"event_type".as("tb"), $"h"), Seq("tb", "h"))
        .groupBy($"ta", $"tb").agg(count(lit(1)).as("exact_inter"))
      kk.join(ex, Seq("ta", "tb"), "left")
        .select($"ta".as("type_a"), $"tb".as("type_b"),
          coalesce($"exact_inter", lit(0L)).as("exact_inter"),
          expr(s"CASE WHEN kh IS NULL THEN ic " +
            s"ELSE (ic * ((${(KmvK - 1) * P}) DIV kh)) DIV $KmvK END")
            .as("est_inter"))
        .orderBy($"type_a", $"type_b")
    },

  )

}
