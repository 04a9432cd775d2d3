package graft.operators

import graft.ColFns._
import graft.QueryDef.q
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Deeper relational coverage: multi-table join pipelines, correlated scalar
  * subqueries (Catalyst decorrelation), pivot / conditional aggregation, and
  * exact percentiles.
  */
object Advanced {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** 32-bit Morton (Z-order) interleave of two 16-bit values, emitted as a
    * plain arithmetic expression in either dialect — bit i of x lands at
    * position 2i, bit i of y at 2i+1. The same formula renders for Spark
    * (shiftleft/shiftright functions) and DuckDB (<</>> operators), so the
    * oracle replicates the curve bit for bit.
    */
  /** Top-30% co-supply edge selection WITHOUT a pair-sized global window.
    *
    * Input: the weighted pair table (s1, s2, c). Output: exactly the first
    * floor(3·nw/10) pairs in (c DESC, s1, s2) order — bit-identical to the
    * rank-selection `rn*10 <= 3*nw` that the SQL oracles keep as the SPEC
    * (the oracle gate therefore certifies this plan's equality on every
    * fixture). The scale path: a cumulative count over the COMPACTED weight
    * histogram (bounded by distinct weight values, the q289/q179 discipline)
    * finds the cutoff weight; every pair strictly inside the quota streams
    * through a broadcast semi filter, and only the single boundary-weight
    * tie cell is ranked — with a per-weight PARTITIONED window — to fill the
    * remaining quota. No Window.orderBy without partitionBy ever sees a
    * pair-sized input. (Degenerate all-weights-equal graphs would put every
    * pair in the boundary cell; natural co-supply weights spread across the
    * histogram, and an approximate variant could shard that cell by hashed
    * tie instead of (s1,s2).)
    */
  private[graft] def topWeightEdges(wts: DataFrame): DataFrame = {
    val s = wts.sparkSession
    import s.implicits._
    val allW = Window.partitionBy()
      .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    val cw = wts.groupBy($"c").agg(count(lit(1)).as("cnt"))
      .withColumn("cum", sum($"cnt").over(Window.orderBy($"c".desc)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("nw", sum($"cnt").over(allW))
      .withColumn("quota", expr("(3 * nw) div 10"))
      .select($"c", ($"cum" - $"cnt").as("cum_prev"), $"cum", $"quota")
    val full = cw.filter($"cum" <= $"quota").select($"c")
    val bd = cw.filter($"cum_prev" < $"quota" && $"cum" > $"quota")
      .select($"c", ($"quota" - $"cum_prev").as("need"))
    wts.join(broadcast(full), Seq("c"), "left_semi")
      .select($"s1", $"s2")
      .unionAll(wts.join(broadcast(bd), Seq("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"c").orderBy($"s1", $"s2")))
        .filter($"rn" <= $"need")
        .select($"s1", $"s2"))
  }

  private def zOrderSpark(x: String, y: String): String =
    (0 until 16).map(i =>
      s"shiftleft(shiftright($x, $i) & 1, ${2 * i}) + " +
        s"shiftleft(shiftright($y, $i) & 1, ${2 * i + 1})").mkString(" + ")

  private def zOrderDuck(x: String, y: String): String =
    (0 until 16).map(i =>
      s"((($x >> $i) & 1) << ${2 * i}) + ((($y >> $i) & 1) << ${2 * i + 1})")
      .mkString(" + ")

  /** PageRank fixed-point scale: ranks are integers in 1e-12ths of total
    * mass, so every engine-side op is exact BIGINT arithmetic (q142's
    * integer-Lloyd discipline — no float accumulation order to disagree
    * on). Non-negative throughout, so Spark's truncating DIV and DuckDB's
    * floor `//` agree.
    */
  private val PrScale = 1000000000000L

  val defs: Seq[QueryDef] = Seq(

    q("q167_bucketed_join",
      s"""SELECT o_orderkey, o_orderpriority,
         |  CAST(COUNT(*) AS BIGINT) AS n_items,
         |  ${dsumSql("l_extendedprice * (1 - l_discount)")} AS revenue
         |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |GROUP BY o_orderkey, o_orderpriority
         |ORDER BY o_orderkey""") { (s, dir) =>
      import s.implicits._
      // Co-located fact-fact join via bucketing — THE technique for a join
      // both of whose sides are too big to broadcast and which runs often
      // enough to amortize a one-time layout: both tables are written
      // bucketed 8 ways on the join key, so the sort-merge join consumes
      // bucket files directly and NO hash shuffle happens anywhere in the
      // plan (PLANS.md asserts it) — the per-orderkey aggregation reuses
      // the same bucketing. At 100 TB this turns the nightly fact-fact
      // join from the cluster's biggest shuffle into a bucket-local merge;
      // the only exchange left is the presentation sort's range partition.
      // Only the joined/aggregated columns are written into the bucketed
      // copies (column-pruned layout, smaller files).
      val tmpO = graft.TempDirs.scratch("graft-q167-orders")
      val tmpL = graft.TempDirs.scratch("graft-q167-lineitem")
      s.sql("DROP TABLE IF EXISTS graft_b_orders")
      s.sql("DROP TABLE IF EXISTS graft_b_lineitem")
      // Pre-partition each write by its bucket key: HashPartitioning and
      // bucket assignment use the same murmur3-pmod, so every write task
      // holds exactly one bucket — the sort+write parallelizes to the
      // bucket count and each bucket lands in ONE file (instead of one
      // file per input split per bucket), which is what keeps the merge
      // join sort-free on read and the file count layout-healthy at scale
      // (guide §6). The two writes share no input — overlap them so the
      // small orders write rides inside the lineitem write's wall time
      // (guide §2.6).
      import scala.concurrent.{Await, Future}
      import scala.concurrent.ExecutionContext.Implicits.global
      val wo = Future {
        T(s, dir, "orders").select($"o_orderkey", $"o_orderpriority")
          .repartition(8, $"o_orderkey")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
          .option("path", tmpO).saveAsTable("graft_b_orders")
      }
      val wl = Future {
        T(s, dir, "lineitem").select($"l_orderkey", $"l_extendedprice", $"l_discount")
          .repartition(8, $"l_orderkey")
          .write.mode("overwrite").format("parquet")
          .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
          .option("path", tmpL).saveAsTable("graft_b_lineitem")
      }
      Await.result(wo, scala.concurrent.duration.Duration.Inf)
      Await.result(wl, scala.concurrent.duration.Duration.Inf)
      s.table("graft_b_lineitem")
        .join(s.table("graft_b_orders").hint("merge"),
          $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderkey", $"o_orderpriority")
        .agg(count(lit(1)).as("n_items"),
          dsum($"l_extendedprice" * (lit(1) - $"l_discount")).as("revenue"))
        .orderBy($"o_orderkey")
    },

    q("q168_pagerank", {
      val iter = (k: Int) =>
        s"""i$k AS (
           |  SELECT nd.n_name AS node, nn.base + COALESCE(c.s, 0) AS pr
           |  FROM nation nd CROSS JOIN nn
           |  LEFT JOIN (
           |    SELECT e.dst AS node,
           |      CAST(SUM((85 * r.pr) // (100 * od.deg)) AS BIGINT) AS s
           |    FROM i${k - 1} r JOIN e ON r.node = e.src JOIN od ON e.src = od.src
           |    GROUP BY e.dst) c ON nd.n_name = c.node)"""
      s"""WITH e AS (
         |  SELECT DISTINCT cn.n_name AS src, sn.n_name AS dst
         |  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
         |  JOIN customer ON o_custkey = c_custkey
         |  JOIN nation cn ON c_nationkey = cn.n_nationkey
         |  JOIN supplier ON l_suppkey = s_suppkey
         |  JOIN nation sn ON s_nationkey = sn.n_nationkey),
         |od AS (SELECT src, CAST(COUNT(*) AS BIGINT) AS deg FROM e GROUP BY src),
         |nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST((15 * $PrScale) // (100 * COUNT(*)) AS BIGINT) AS base FROM nation),
         |i0 AS (SELECT n_name AS node, CAST($PrScale // n AS BIGINT) AS pr
         |  FROM nation, nn),
         |${iter(1)},
         |${iter(2)},
         |${iter(3)}
         |SELECT node, CAST(pr // 1000000 AS BIGINT) AS rank_micro
         |FROM i3 ORDER BY rank_micro DESC, node"""
    }) { (s, dir) =>
      import s.implicits._
      // PageRank (3 unrolled power iterations, damping 0.85) over the
      // who-buys-from-whom nation graph — the join-based propagation shape
      // of every large-scale graph metric (link analysis for crawl
      // prioritization, dedup-cluster authority). Each iteration is one
      // equi join of ranks to edges plus one keyed aggregation — at 100 TB
      // both shuffle on the node key, and pre-partitioning ranks AND edges
      // on that key (bucketing, q167) makes every subsequent iteration
      // shuffle-free. The 25-node dimension side (nation list, degree
      // table, scalar N) is broadcast. Dangling-node mass is dropped (the
      // simplified formulation); integer truncation makes both engines
      // bit-identical. Edge derivation hash-joins the two fact tables and
      // broadcasts all dimensions.
      val nation = T(s, dir, "nation")
      val edges = T(s, dir, "lineitem").select($"l_orderkey", $"l_suppkey")
        .join(T(s, dir, "orders").select($"o_orderkey", $"o_custkey"),
          $"l_orderkey" === $"o_orderkey")
        .join(broadcast(T(s, dir, "customer").select($"c_custkey", $"c_nationkey")),
          $"o_custkey" === $"c_custkey")
        .join(broadcast(nation.select($"n_nationkey".as("cnk"), $"n_name".as("src"))),
          $"c_nationkey" === $"cnk")
        .join(broadcast(T(s, dir, "supplier").select($"s_suppkey", $"s_nationkey")),
          $"l_suppkey" === $"s_suppkey")
        .join(broadcast(nation.select($"n_nationkey".as("snk"), $"n_name".as("dst"))),
          $"s_nationkey" === $"snk")
        .select($"src", $"dst").distinct()
        .transform(graft.CacheScope.cached) // reused by deg + all 3 iterations
      val od = edges.groupBy($"src").agg(count(lit(1)).as("deg"))
      val nn = nation.agg(count(lit(1)).cast("long").as("n"))
        .select($"n", expr(s"(15 * CAST($PrScale AS BIGINT)) DIV (100 * n)").as("base"))
      val nodes = nation.select($"n_name".as("node"))
      var ranks = nodes.crossJoin(broadcast(nn))
        .select($"node", expr(s"CAST($PrScale AS BIGINT) DIV n").as("pr"))
      for (_ <- 1 to 3) {
        val contrib = ranks.join(edges, $"node" === $"src")
          .join(broadcast(od), "src")
          .select($"dst", expr("(85 * pr) DIV (100 * deg)").as("c"))
          .groupBy($"dst").agg(sum($"c").as("s"))
        ranks = nodes.crossJoin(broadcast(nn))
          .join(contrib, $"node" === $"dst", "left")
          .select($"node", ($"base" + coalesce($"s", lit(0L))).as("pr"))
      }
      ranks.select($"node", expr("pr DIV 1000000").as("rank_micro"))
        .orderBy($"rank_micro".desc, $"node")
    },

    q("q117_zorder_layout",
      s"""WITH b AS (SELECT MIN(l_partkey) p0, MAX(l_partkey) p1,
         |    MIN(l_suppkey) s0, MAX(l_suppkey) s1 FROM lineitem),
         |z AS (SELECT l_partkey, l_suppkey,
         |    ${zOrderDuck("((l_partkey - p0) * 65535 // (p1 - p0))",
                           "((l_suppkey - s0) * 65535 // (s1 - s0))")} AS zval
         |  FROM lineitem, b)
         |SELECT CAST(zval >> 26 AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_rows,
         |  CAST(MIN(l_partkey) AS BIGINT) AS min_pk, CAST(MAX(l_partkey) AS BIGINT) AS max_pk,
         |  CAST(MIN(l_suppkey) AS BIGINT) AS min_sk, CAST(MAX(l_suppkey) AS BIGINT) AS max_sk
         |FROM z GROUP BY 1 ORDER BY 1""") { (s, dir) =>
      import s.implicits._
      // Z-order data layout: normalize two filter dimensions to 16 bits
      // (exact integer scaling against the column bounds, so the curve
      // fills the key space at every scale factor), interleave them into
      // one Morton key, and bucket rows by its high 6 bits. Each bucket's
      // (min, max) range then stays narrow on BOTH dimensions at once —
      // the per-file min/max skipping index that lets a 100 TB scan prune
      // on either predicate column after clustering. The two-row bounds
      // frame is broadcast; bucket assignment is pure map-side arithmetic
      // (no global sort). The write path is repartitionByRange(zval) +
      // sortWithinPartitions; this query materializes the skipping index
      // that layout yields.
      val li = T(s, dir, "lineitem")
      val bounds = li.agg(
        min($"l_partkey").as("p0"), max($"l_partkey").as("p1"),
        min($"l_suppkey").as("s0"), max($"l_suppkey").as("s1"))
      li.crossJoin(broadcast(bounds))
        .select($"l_partkey", $"l_suppkey",
          expr(zOrderSpark("((l_partkey - p0) * 65535 DIV (p1 - p0))",
            "((l_suppkey - s0) * 65535 DIV (s1 - s0))")).as("zval"))
        .groupBy(expr("zval >> 26").cast("long").as("bucket"))
        .agg(count(lit(1)).as("n_rows"),
          min($"l_partkey").cast("long").as("min_pk"),
          max($"l_partkey").cast("long").as("max_pk"),
          min($"l_suppkey").cast("long").as("min_sk"),
          max($"l_suppkey").cast("long").as("max_sk"))
        .orderBy($"bucket")
    },

    q("q65_multijoin_revenue",
      s"""SELECT n_name,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue,
         |  COUNT(*) AS n_li
         |FROM customer
         |JOIN orders ON c_custkey = o_custkey
         |JOIN lineitem ON l_orderkey = o_orderkey
         |JOIN nation ON c_nationkey = n_nationkey
         |JOIN region ON n_regionkey = r_regionkey
         |WHERE r_name = 'ASIA' AND o_orderdate >= TIMESTAMP '1996-01-01'
         |  AND o_orderdate < TIMESTAMP '1999-01-01'
         |GROUP BY n_name ORDER BY n_name""") { (s, dir) =>
      import s.implicits._
      // TPC-H Q5 shape: fact-to-fact join shuffles on the join key once;
      // both dimension tables broadcast; the date filter pushes into the
      // orders scan before the join.
      T(s, dir, "customer")
        .join(T(s, dir, "orders")
          .filter($"o_orderdate" >= lit("1996-01-01").cast("timestamp") &&
            $"o_orderdate" < lit("1999-01-01").cast("timestamp")),
          $"c_custkey" === $"o_custkey")
        .join(T(s, dir, "lineitem"), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(T(s, dir, "nation")), $"c_nationkey" === $"n_nationkey")
        .join(broadcast(T(s, dir, "region").filter($"r_name" === "ASIA")),
          $"n_regionkey" === $"r_regionkey")
        .groupBy($"n_name")
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"),
          count(lit(1)).as("n_li"))
        .orderBy($"n_name")
    },

    q("q111_multijoin_profit",
      s"""SELECT n_name AS nation, CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS yr,
         |  ${dsumSql("l_extendedprice * (1.0 - l_discount)")} AS revenue
         |FROM lineitem
         |JOIN orders ON l_orderkey = o_orderkey
         |JOIN supplier ON l_suppkey = s_suppkey
         |JOIN nation ON s_nationkey = n_nationkey
         |JOIN part ON l_partkey = p_partkey
         |WHERE p_name LIKE '%a%'
         |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      import s.implicits._
      // TPC-H Q9 shape (adapted: no partsupp fixture): a five-table star
      // with one fact-to-fact shuffle join (lineitem x orders) and every
      // dimension broadcast — the plan that must hold at 100 TB is exactly
      // this: shuffle ONCE on the fact key, never for dimensions, with the
      // part filter applied before its broadcast.
      T(s, dir, "lineitem")
        .join(T(s, dir, "orders"), $"l_orderkey" === $"o_orderkey")
        .join(broadcast(T(s, dir, "supplier")), $"l_suppkey" === $"s_suppkey")
        .join(broadcast(T(s, dir, "nation")), $"s_nationkey" === $"n_nationkey")
        .join(broadcast(T(s, dir, "part").filter($"p_name".like("%a%"))),
          $"l_partkey" === $"p_partkey")
        .groupBy($"n_name".as("nation"), year($"o_orderdate").cast("long").as("yr"))
        .agg(dsum($"l_extendedprice" * (lit(1.0) - $"l_discount")).as("revenue"))
        .orderBy($"nation", $"yr")
    },

    q("q126_regression",
      // Regression aggregates (the regr_slope/intercept/corr family) from
      // decimal-exact moment sums: every Σ is order-independent DECIMAL
      // arithmetic (q11/q109's discipline), the derived stats are one
      // IEEE expression over those exact sums with identical op order in
      // both dialects, rounded half-up before comparison. x is bounded
      // (user_id % 100) so the scaled sums stay far below 2^53 where
      // DECIMAL->DOUBLE casts could diverge by an ulp.
      s"""WITH b AS (SELECT event_type, CAST(user_id % 100 AS DOUBLE) x, value y FROM events),
         |s AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) n,
         |    ${dsumSql("x")} sx, ${dsumSql("y")} sy, ${dsumSql("x*y")} sxy,
         |    ${dsumSql("x*x")} sxx, ${dsumSql("y*y")} syy
         |  FROM b GROUP BY event_type)
         |SELECT event_type,
         |  ${r6Sql("(n*sxy - sx*sy) / (n*sxx - sx*sx)")} AS slope,
         |  ${r6Sql("(sy - (n*sxy - sx*sy) / (n*sxx - sx*sx) * sx) / n")} AS intercept,
         |  ${r6Sql("(n*sxy - sx*sy) / SQRT((n*sxx - sx*sx) * (n*syy - sy*sy))")} AS corr
         |FROM s ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val base = T(s, dir, "events")
        .select($"event_type", ($"user_id" % 100).cast("double").as("x"),
          $"value".as("y"))
      val m = base.groupBy($"event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum($"x").as("sx"), dsum($"y").as("sy"), dsum($"x" * $"y").as("sxy"),
          dsum($"x" * $"x").as("sxx"), dsum($"y" * $"y").as("syy"))
      val slope = ($"n" * $"sxy" - $"sx" * $"sy") / ($"n" * $"sxx" - $"sx" * $"sx")
      m.select($"event_type",
          r6(slope).as("slope"),
          r6(($"sy" - slope * $"sx") / $"n").as("intercept"),
          r6(($"n" * $"sxy" - $"sx" * $"sy") /
            sqrt(($"n" * $"sxx" - $"sx" * $"sx") * ($"n" * $"syy" - $"sy" * $"sy")))
            .as("corr"))
        .orderBy($"event_type")
    },

    q("q66_subquery_correlated",
      """SELECT c_custkey FROM customer c
        |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
        |                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
        |ORDER BY c_custkey""") { (s, dir) =>
      // Same ANSI text on both engines; Catalyst decorrelates the scalar
      // subquery into an aggregate + join (no per-row re-execution). The
      // inner average uses the decimal-exact sum so the > boundary cannot
      // flap between engines.
      Tables.registerAll(s, dir)
      s.sql(
        """SELECT c_custkey FROM customer c
          |WHERE c_acctbal > (SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(28,6))) AS DOUBLE) / COUNT(*)
          |                   FROM customer c2 WHERE c2.c_nationkey = c.c_nationkey)
          |ORDER BY c_custkey""".stripMargin)
    },

    q("q67_pivot",
      s"""SELECT l_linestatus,
         |  ${dsumSql("CASE WHEN l_returnflag = 'A' THEN l_quantity END")} AS "A",
         |  ${dsumSql("CASE WHEN l_returnflag = 'N' THEN l_quantity END")} AS "N",
         |  ${dsumSql("CASE WHEN l_returnflag = 'R' THEN l_quantity END")} AS "R"
         |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "lineitem")
        .groupBy($"l_linestatus")
        .pivot("l_returnflag", Seq("A", "N", "R"))
        .agg(dsum($"l_quantity"))
        .orderBy($"l_linestatus")
    },

    q("q76_map_hof",
      // Map higher-order functions; oracle states the relationally-expected
      // values (same technique as q32).
      """SELECT doc_id,
        |  UPPER(lang) AS lang_u,
        |  CAST(1 AS BIGINT) AS n_filtered,
        |  CONCAT('lang=', lang) AS lang_kv
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents")
        .withColumn("m", map(lit("lang"), $"lang", lit("source"), $"source"))
        .select($"doc_id",
          expr("element_at(transform_values(m, (k, v) -> upper(v)), 'lang')").as("lang_u"),
          expr("CAST(size(map_filter(m, (k, v) -> k = 'lang')) AS BIGINT)").as("n_filtered"),
          expr("array_join(transform(map_entries(map_filter(m, (k, v) -> k = 'lang')), e -> concat(e.key, '=', e.value)), ',')").as("lang_kv"))
        .orderBy($"doc_id")
    },

    q("q77_date_advanced",
      """SELECT o_orderkey,
        |  last_day(CAST(o_orderdate AS DATE)) AS month_end,
        |  CAST(CAST(o_orderdate AS DATE) + INTERVAL 2 MONTH AS DATE) AS plus2m,
        |  CAST(quarter(o_orderdate) AS BIGINT) AS qtr,
        |  CAST(weekofyear(o_orderdate) AS BIGINT) AS iso_week
        |FROM orders ORDER BY o_orderkey""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "orders").select(
        $"o_orderkey",
        last_day($"o_orderdate").as("month_end"),
        add_months($"o_orderdate", 2).as("plus2m"),
        quarter($"o_orderdate").cast("long").as("qtr"),
        weekofyear($"o_orderdate").cast("long").as("iso_week"))
        .orderBy($"o_orderkey")
    },

    q("q73_array_hof",
      """SELECT doc_id,
        |  CAST(list_max(list_transform(string_split(text,' '), x -> length(x))) AS BIGINT) AS max_wlen,
        |  len(list_filter(string_split(text,' '), x -> length(x) > 8)) > 0 AS has_long,
        |  len(list_filter(string_split(text,' '), x -> lower(x) <> x)) = 0 AS all_lower
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // higher-order array functions: transform / exists / forall
      T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .select($"doc_id",
          expr("CAST(array_max(transform(w, x -> length(x))) AS BIGINT)").as("max_wlen"),
          expr("exists(w, x -> length(x) > 8)").as("has_long"),
          expr("forall(w, x -> lower(x) = x)").as("all_lower"))
        .orderBy($"doc_id")
    },

    q("q74_edit_distance",
      """SELECT doc_id,
        |  CAST(levenshtein(string_split(text,' ')[1], string_split(text,' ')[2]) AS BIGINT) AS lev12,
        |  CAST(levenshtein(lang, 'en') AS BIGINT) AS lev_lang
        |FROM documents WHERE len(string_split(text,' ')) >= 2
        |ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 2)
        .select($"doc_id",
          levenshtein(element_at($"w", 1), element_at($"w", 2)).cast("long").as("lev12"),
          levenshtein($"lang", lit("en")).cast("long").as("lev_lang"))
        .orderBy($"doc_id")
    },

    q("q75_window_values",
      """SELECT o_custkey, o_orderkey,
        |  FIRST_VALUE(o_totalprice) OVER w AS first_price,
        |  LAST_VALUE(o_totalprice) OVER (PARTITION BY o_custkey
        |    ORDER BY o_orderdate, o_orderkey
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price,
        |  NTH_VALUE(o_totalprice, 2) OVER w AS second_price,
        |  CAST(FLOOR(PERCENT_RANK() OVER (PARTITION BY o_custkey
        |    ORDER BY o_totalprice, o_orderkey) * 1000000 + 0.5) AS DOUBLE)
        |    / CAST(1000000 AS DOUBLE) AS pr
        |FROM orders
        |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
        |ORDER BY o_custkey, o_orderkey""") { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val wSeq = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      val wAll = wSeq.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val wVal = Window.partitionBy($"o_custkey").orderBy($"o_totalprice", $"o_orderkey")
      T(s, dir, "orders").select(
        $"o_custkey", $"o_orderkey",
        first($"o_totalprice").over(wSeq).as("first_price"),
        last($"o_totalprice").over(wAll).as("last_price"),
        nth_value($"o_totalprice", 2).over(wSeq).as("second_price"),
        (floor(percent_rank().over(wVal) * 1000000 + 0.5).cast("double") / 1000000.0).as("pr"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    q("q72_salted_agg",
      s"""SELECT l_returnflag, COUNT(*) AS n, ${dsumSql("l_quantity")} AS qty
         |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      import s.implicits._
      // Skew handling: two-phase salted aggregation. Phase 1 spreads each
      // (hot) key over 16 salts so no single reducer owns a whole key;
      // phase 2 merges the partials. Decimal-exact partial sums are
      // associative, so the result is IDENTICAL to the unsalted plan —
      // which is exactly what the oracle asserts.
      import org.apache.spark.sql.types.DecimalType
      val dec = DecimalType(28, 6)
      val phase1 = T(s, dir, "lineitem")
        .groupBy($"l_returnflag", pmod($"l_orderkey", lit(16)).as("salt"))
        .agg(count(lit(1)).as("pn"), sum($"l_quantity".cast(dec)).as("pqty"))
      phase1
        .groupBy($"l_returnflag")
        .agg(sum($"pn").as("n"), sum($"pqty").cast("double").as("qty"))
        .orderBy($"l_returnflag")
    },

    q("q68_percentile",
      """SELECT l_returnflag,
        |  CAST(FLOOR(quantile_cont(l_extendedprice, 0.5) * 1000000 + 0.5) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS p50,
        |  CAST(FLOOR(quantile_cont(l_extendedprice, 0.9) * 1000000 + 0.5) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS p90
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      import s.implicits._
      // exact interpolated percentile (both engines use the same
      // (n-1)*p rank + linear interpolation definition); rounded at 1e-6 to
      // absorb the differing interpolation op order.
      T(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          (floor(expr("percentile(l_extendedprice, 0.5)") * 1000000 + 0.5)
            .cast("double") / 1000000.0).as("p50"),
          (floor(expr("percentile(l_extendedprice, 0.9)") * 1000000 + 0.5)
            .cast("double") / 1000000.0).as("p90"))
        .orderBy($"l_returnflag")
    },

    q("q151_interval_overlap_join",
      // Interval-OVERLAP join (ranges x ranges — q10 joins points into
      // ranges) via time-bucket banding, the plan that survives 100 TB:
      // each interval explodes into the hour buckets it covers (<= 2 here,
      // durations are < 1 h), candidates meet in an EQUI join on
      // (user, bucket), the exact overlap predicate verifies, and a
      // distinct collapses pairs that met in two buckets. No nested-loop,
      // no per-row range probe; the oracle states the plain theta join.
      """WITH c AS (SELECT user_id, event_id AS cid, epoch_us(CAST(ts AS TIMESTAMP)) AS cs,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 3600) * 1000000 AS ce
        |  FROM events WHERE event_type = 'click'),
        |p AS (SELECT user_id, event_id AS pid, epoch_us(CAST(ts AS TIMESTAMP)) AS ps,
        |    epoch_us(CAST(ts AS TIMESTAMP)) + (event_id % 3600) * 1000000 AS pe
        |  FROM events WHERE event_type = 'purchase')
        |SELECT c.user_id, CAST(COUNT(*) AS BIGINT) AS n_overlaps
        |FROM c JOIN p ON c.user_id = p.user_id AND p.ps <= c.ce AND c.cs <= p.pe
        |GROUP BY c.user_id ORDER BY c.user_id""") { (s, dir) =>
      import s.implicits._
      val HourUs = 3600L * 1000000L
      def side(eventType: String, idCol: String, sCol: String, eCol: String) =
        T(s, dir, "events")
          .filter($"event_type" === eventType)
          .select($"user_id", $"event_id".as(idCol),
            unix_micros($"ts").as(sCol),
            (unix_micros($"ts") + ($"event_id" % 3600) * 1000000L).as(eCol))
          // banding: one row per covered hour bucket — the equi key that
          // replaces the non-equi range condition in the shuffle
          .withColumn("hb", explode(sequence(
            expr(s"$sCol div $HourUs"), expr(s"$eCol div $HourUs"))))
      side("click", "cid", "cs", "ce")
        .join(side("purchase", "pid", "ps", "pe"), Seq("user_id", "hb"))
        .filter($"ps" <= $"ce" && $"cs" <= $"pe") // exact overlap verify
        .select($"user_id", $"cid", $"pid").distinct() // met in >1 bucket
        .groupBy($"user_id").agg(count(lit(1)).as("n_overlaps"))
        .orderBy($"user_id")
    },

    q("q152_merge_upsert",
      // MERGE INTO semantics as one plan (the Delta/Iceberg upsert shape,
      // declaratively): the snapshot is each user's latest even-event state,
      // the change feed is each user's latest odd event — a DELETE when its
      // id % 3 = 0, an UPSERT otherwise. One latest-per-key aggregation per
      // side (partial max_by, no window sort), one full-outer equi join,
      // and a CASE resolves kept / updated / inserted / deleted. The oracle
      // states the same merge relationally.
      """WITH base AS (SELECT user_id, MAX(event_id) AS bid FROM events
        |              WHERE event_id % 2 = 0 GROUP BY user_id),
        |chg AS (SELECT user_id, MAX(event_id) AS cid FROM events
        |        WHERE event_id % 2 = 1 GROUP BY user_id),
        |m AS (SELECT COALESCE(b.user_id, c.user_id) AS user_id, b.bid, c.cid,
        |        CASE WHEN c.cid IS NULL THEN 'kept'
        |             WHEN c.cid % 3 = 0 THEN 'deleted'
        |             WHEN b.bid IS NULL THEN 'inserted'
        |             ELSE 'updated' END AS action
        |  FROM base b FULL JOIN chg c ON b.user_id = c.user_id)
        |SELECT user_id, action,
        |  CAST(CASE WHEN action IN ('updated', 'inserted') THEN cid
        |            ELSE bid END AS BIGINT) AS state_id
        |FROM m WHERE action <> 'deleted'
        |ORDER BY user_id""") { (s, dir) =>
      import s.implicits._
      val ev = T(s, dir, "events")
      def latest(parity: Int, out: String) =
        ev.filter($"event_id" % 2 === parity)
          .groupBy($"user_id").agg(max($"event_id").as(out))
      latest(0, "bid").join(latest(1, "cid").withColumnRenamed("user_id", "cu"),
          $"user_id" === $"cu", "full_outer")
        .select(coalesce($"user_id", $"cu").as("user_id"), $"bid", $"cid")
        .withColumn("action",
          when($"cid".isNull, "kept")
            .when($"cid" % 3 === 0, "deleted")
            .when($"bid".isNull, "inserted")
            .otherwise("updated"))
        .filter($"action" =!= "deleted")
        .select($"user_id", $"action",
          when($"action".isin("updated", "inserted"), $"cid")
            .otherwise($"bid").as("state_id"))
        .orderBy($"user_id")
    },

    q("q171_incremental_agg",
      // The ORACLE is the full recompute — the point of the query is that
      // the incremental plan (merge of two partial aggregate states) is
      // provably equivalent to rescanning everything.
      """SELECT o_custkey,
        |  CAST(COUNT(*) AS BIGINT) AS n_orders,
        |  CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) AS BIGINT) AS sum_cents
        |FROM orders GROUP BY o_custkey ORDER BY o_custkey""") { (s, dir) =>
      import s.implicits._
      // Incremental materialized-view maintenance: the per-customer order
      // aggregate is kept as a STATE table (one row per key); when a new
      // partition of facts arrives, only the DELTA is aggregated and merged
      // into the state via one full-outer join on the key — the base facts
      // are never rescanned. Here base = orders before 1997-01-01, delta =
      // the rest, and the DuckDB oracle recomputes from scratch, certifying
      // merge(partial(base), partial(delta)) == full. Amounts are summed in
      // integer cents (floor(x*100+0.5) per row), so partial sums are exact
      // and merge order cannot matter. At 100 TB this is THE pattern for
      // keeping derived tables fresh: aggregate state is key-sized, the
      // daily scan is delta-sized, and the merge join shuffles only
      // aggregate rows, never facts. The state-vs-state join is sort-merge
      // (full-outer cannot broadcast); both sides arrive pre-aggregated.
      val orders = T(s, dir, "orders")
        .select($"o_custkey", $"o_orderdate",
          expr("CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)").as("cents"))
      def partial(df: org.apache.spark.sql.DataFrame) = df
        .groupBy($"o_custkey")
        .agg(count(lit(1)).as("pn"), sum($"cents").as("ps"))
      val base = partial(orders.filter($"o_orderdate" < lit("1997-01-01").cast("timestamp")))
        .select($"o_custkey", $"pn".as("bn"), $"ps".as("bs"))
      val delta = partial(orders.filter($"o_orderdate" >= lit("1997-01-01").cast("timestamp")))
        .select($"o_custkey", $"pn".as("dn"), $"ps".as("ds"))
      base.join(delta, Seq("o_custkey"), "full_outer")
        .select($"o_custkey",
          (coalesce($"bn", lit(0L)) + coalesce($"dn", lit(0L))).as("n_orders"),
          (coalesce($"bs", lit(0L)) + coalesce($"ds", lit(0L))).as("sum_cents"))
        .orderBy($"o_custkey")
    },

    q("q173_mad_outliers",
      // Integer discipline: values in cents; medians doubled (2x / 4x) so
      // the interpolated midpoint of an even-count group stays integer; the
      // outlier rule |x - med| > 3.5 * MAD cross-multiplies to
      // 2*dev2 > 7*mad4 with no division anywhere. The one DIV (the
      // magnitude column) has a non-negative numerator by construction.
      """WITH v AS (SELECT event_id, event_type,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
        |m AS (SELECT event_type,
        |    CAST(quantile_cont(vc, 0.5) * 2 AS BIGINT) AS med2
        |  FROM v GROUP BY event_type),
        |d AS (SELECT v.event_id, v.event_type, v.vc, m.med2,
        |    abs(2 * v.vc - m.med2) AS dev2
        |  FROM v JOIN m USING (event_type)),
        |md AS (SELECT event_type,
        |    CAST(quantile_cont(dev2, 0.5) * 2 AS BIGINT) AS mad4
        |  FROM d GROUP BY event_type)
        |SELECT event_id, d.event_type, vc, med2, mad4,
        |  (dev2 * 2000) // GREATEST(mad4, 1) AS absz_milli,
        |  2 * dev2 > 7 * mad4 AS is_outlier
        |FROM d JOIN md USING (event_type) ORDER BY event_id""") { (s, dir) =>
      import s.implicits._
      // Robust outlier detection via median absolute deviation — the
      // heavy-tail-safe alternative to q109's z-score (one wild sensor
      // value shifts a mean, not a median). Two grouped exact medians
      // (Spark `percentile`), each a tiny per-type stats frame BROADCAST
      // back over the facts, so the flagging itself is map-side. At 100 TB
      // the exact per-group percentile (which buffers group values) swaps
      // for approx_percentile with the same downstream arithmetic — the
      // documented sketch path; the fixture keeps it exact so the oracle
      // can replicate bit-for-bit.
      val v = T(s, dir, "events")
        .select($"event_id", $"event_type",
          expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("vc"))
        .transform(graft.CacheScope.cached) // median pass + deviation pass
      val m = v.groupBy($"event_type")
        .agg(expr("CAST(percentile(vc, 0.5) * 2 AS BIGINT)").as("med2"))
      val d = v.join(broadcast(m), "event_type")
        .withColumn("dev2", abs(lit(2) * $"vc" - $"med2"))
        .transform(graft.CacheScope.cached) // MAD pass + output pass
      val md = d.groupBy($"event_type")
        .agg(expr("CAST(percentile(dev2, 0.5) * 2 AS BIGINT)").as("mad4"))
      d.join(broadcast(md), "event_type")
        .select($"event_id", $"event_type", $"vc", $"med2", $"mad4",
          expr("(dev2 * 2000) DIV GREATEST(mad4, 1)").as("absz_milli"),
          (lit(2) * $"dev2" > lit(7) * $"mad4").as("is_outlier"))
        .orderBy($"event_id")
    },

    q("q174_ohlc_bars",
      // Tie-breaks order on (micros, event_id) in BOTH engines: DuckDB sees
      // the parquet nanos, Spark's Tables.load floors to micros — epoch_us
      // puts the two dialects on the identical key.
      """WITH v AS (SELECT event_type, date_trunc('hour', ts) AS hr,
        |    epoch_us(ts) AS tsu, event_id,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
        |w AS (SELECT *,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, hr
        |      ORDER BY tsu, event_id) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY event_type, hr
        |      ORDER BY tsu DESC, event_id DESC) AS rl FROM v)
        |SELECT event_type, hr,
        |  CAST(MAX(CASE WHEN rf = 1 THEN vc END) AS BIGINT) AS open_c,
        |  CAST(MAX(vc) AS BIGINT) AS high_c,
        |  CAST(MIN(vc) AS BIGINT) AS low_c,
        |  CAST(MAX(CASE WHEN rl = 1 THEN vc END) AS BIGINT) AS close_c,
        |  CAST(COUNT(*) AS BIGINT) AS n_events,
        |  CAST(SUM(vc) AS BIGINT) AS sum_c
        |FROM w GROUP BY event_type, hr ORDER BY event_type, hr""") { (s, dir) =>
      import s.implicits._
      // OHLC bar aggregation — the time-series downsampling every metrics /
      // market pipeline runs. One shuffle on (event_type, hour): the two
      // row-number orderings share the window partitioning (one exchange,
      // two sorts) and the bar aggregation reuses it. Open/close are
      // first/last by (event-time, id) — deterministic under ties; high /
      // low / volume partial-aggregate map-side. At 100 TB bars are
      // time-partitioned: the shuffle key is (type, hour), so a day's bars
      // never touch another day's partitions.
      val w = Seq(
        ("rf", Window.partitionBy($"event_type", $"hr").orderBy($"tsu".asc, $"event_id".asc)),
        ("rl", Window.partitionBy($"event_type", $"hr").orderBy($"tsu".desc, $"event_id".desc)))
      val v = T(s, dir, "events")
        .select($"event_type", date_trunc("hour", $"ts").as("hr"),
          unix_micros($"ts").as("tsu"), $"event_id",
          expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("vc"))
      w.foldLeft(v) { case (df, (name, spec)) =>
          df.withColumn(name, row_number().over(spec))
        }
        .groupBy($"event_type", $"hr")
        .agg(
          max(when($"rf" === 1, $"vc")).cast("long").as("open_c"),
          max($"vc").cast("long").as("high_c"),
          min($"vc").cast("long").as("low_c"),
          max(when($"rl" === 1, $"vc")).cast("long").as("close_c"),
          count(lit(1)).as("n_events"),
          sum($"vc").cast("long").as("sum_c"))
        .orderBy($"event_type", $"hr")
    },

    q("q176_triangle_count",
      // Degree-oriented triangle counting: undirected co-supply edges are
      // oriented from the (degree, id)-smaller endpoint to the larger, so
      // every triangle survives as exactly ONE directed wedge + closing
      // edge and the wedge join fans out on sqrt-degree, not max-degree —
      // the standard scalable formulation.
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e0 AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey
        |  GROUP BY s1, s2 HAVING COUNT(*) >= 4),
        |deg AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT s1 AS s FROM e0 UNION ALL SELECT s2 AS s FROM e0)
        |  GROUP BY s),
        |eo AS (SELECT
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND s1 < s2)
        |      THEN s1 ELSE s2 END AS u,
        |    CASE WHEN da.d < db.d OR (da.d = db.d AND s1 < s2)
        |      THEN s2 ELSE s1 END AS v
        |  FROM e0 JOIN deg da ON da.s = s1 JOIN deg db ON db.s = s2)
        |SELECT
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM deg) AS n_nodes,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e0) AS n_edges,
        |  (SELECT CAST(COUNT(*) AS BIGINT)
        |    FROM eo e1 JOIN eo e2 ON e1.v = e2.u
        |      JOIN eo e3 ON e3.u = e1.u AND e3.v = e2.v) AS n_triangles""") { (s, dir) =>
      import s.implicits._
      // Triangle counting over the supplier co-occurrence graph (two
      // suppliers connect when they serve the same order) — the clustering
      // primitive behind community detection and spam-graph analysis. All
      // joins are equi-joins; the degree table is node-sized and BROADCAST;
      // the wedge join e1.v = e2.u runs on the oriented edge list, whose
      // per-node out-degree is bounded by ~sqrt(2m) — the property that
      // keeps the join's fan-out survivable when a hub node would otherwise
      // square a 10^6 degree at 100 TB.
      val li = T(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey").distinct()
        .transform(graft.CacheScope.cached)
      // edge = a pair co-supplying >= 4 distinct orders: a REPEATED business
      // relationship, not incidental co-occurrence — and the pruning that
      // keeps the co-occurrence graph sparse (without it the fixture graph
      // approaches a clique and triangle counting degenerates into
      // enumerating C(n,3); the same weight threshold is what production
      // co-occurrence graphs apply before any triangle work)
      val e0 = li.as("a")
        .join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
        .groupBy($"a.l_suppkey".as("s1"), $"b.l_suppkey".as("s2"))
        .agg(count(lit(1)).as("w"))
        .filter($"w" >= 4)
        .select($"s1", $"s2")
        .transform(graft.CacheScope.cached)
      val deg = e0.select($"s1".as("s")).unionAll(e0.select($"s2".as("s")))
        .groupBy($"s").agg(count(lit(1)).as("d"))
        .transform(graft.CacheScope.cached)
      val fwd = $"da.d" < $"db.d" || ($"da.d" === $"db.d" && $"s1" < $"s2")
      val eo = e0
        .join(broadcast(deg.as("da")), $"da.s" === $"s1")
        .join(broadcast(deg.as("db")), $"db.s" === $"s2")
        .select(when(fwd, $"s1").otherwise($"s2").as("u"),
          when(fwd, $"s2").otherwise($"s1").as("v"))
        .transform(graft.CacheScope.cached)
      val tri = eo.as("e1")
        .join(eo.as("e2"), $"e1.v" === $"e2.u")
        .join(eo.as("e3"), $"e3.u" === $"e1.u" && $"e3.v" === $"e2.v")
        .agg(count(lit(1)).as("n_triangles"))
      deg.agg(count(lit(1)).as("n_nodes"))
        .crossJoin(e0.agg(count(lit(1)).as("n_edges")))
        .crossJoin(tri)
        .select($"n_nodes", $"n_edges", $"n_triangles")
    },

    q("q229_kcore_decomposition",
      // 3-core peeling on the q176 co-supply graph, 3 unrolled rounds:
      // each round drops nodes with degree < 3 and every edge touching
      // them, then re-counts degrees on the shrunk graph. Reports the
      // (nodes, undirected edges) trajectory — convergence is visible as
      // consecutive equal rows. The density primitive behind community
      // seeding and spam-ring mining.
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e0 AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey
        |  GROUP BY s1, s2 HAVING COUNT(*) >= 4),
        |d1 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT s1 AS s FROM e0 UNION ALL SELECT s2 AS s FROM e0)
        |  GROUP BY s),
        |v1 AS (SELECT s FROM d1 WHERE d >= 3),
        |e1 AS (SELECT s1, s2 FROM e0
        |  WHERE s1 IN (SELECT s FROM v1) AND s2 IN (SELECT s FROM v1)),
        |d2 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT s1 AS s FROM e1 UNION ALL SELECT s2 AS s FROM e1)
        |  GROUP BY s),
        |v2 AS (SELECT s FROM d2 WHERE d >= 3),
        |e2 AS (SELECT s1, s2 FROM e1
        |  WHERE s1 IN (SELECT s FROM v2) AND s2 IN (SELECT s FROM v2)),
        |d3 AS (SELECT s, CAST(COUNT(*) AS BIGINT) AS d FROM (
        |    SELECT s1 AS s FROM e2 UNION ALL SELECT s2 AS s FROM e2)
        |  GROUP BY s),
        |v3 AS (SELECT s FROM d3 WHERE d >= 3),
        |e3 AS (SELECT s1, s2 FROM e2
        |  WHERE s1 IN (SELECT s FROM v3) AND s2 IN (SELECT s FROM v3))
        |SELECT CAST(1 AS BIGINT) AS peel,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM v1) AS n_nodes,
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e1) AS n_edges
        |UNION ALL SELECT 2, (SELECT CAST(COUNT(*) AS BIGINT) FROM v2),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e2)
        |UNION ALL SELECT 3, (SELECT CAST(COUNT(*) AS BIGINT) FROM v3),
        |    (SELECT CAST(COUNT(*) AS BIGINT) FROM e3)
        |ORDER BY peel""") { (s, dir) =>
      import s.implicits._
      // Iterative peel with the surviving-node set BROADCAST into a
      // semi-join each round (node sets are orders of magnitude smaller
      // than edge sets — the same asymmetry GraphX's Pregel exploits);
      // edges only ever shrink, and each round is one degree aggregation
      // + one semi-join on the cached frame. Unrolled to a fixed depth
      // exactly like q195's BFS — at 100 TB you run peels to a fixed
      // budget, checkpointing between rounds, not to convergence.
      val li = T(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey").distinct()
      val e0 = li.as("a")
        .join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
        .groupBy($"a.l_suppkey".as("s1"), $"b.l_suppkey".as("s2"))
        .agg(count(lit(1)).as("w"))
        .filter($"w" >= 4)
        .select($"s1", $"s2")
        .transform(graft.CacheScope.cached)
      // each round's outputs are LINEAGE-TRUNCATED (CacheScope.checkpointed,
      // not .cached): a cache materializes the data but keeps the full
      // logical tree, so by round 3 every action was paying ~9 s of pure
      // re-analysis/AQE re-planning over the 3-deep join chain (measured;
      // the data itself is a 109k-row edge list). Checkpointing between
      // rounds is exactly what the 100 TB note below prescribes.
      def peel(e: DataFrame): (DataFrame, DataFrame) = {
        val deg = e.select($"s1".as("s")).unionAll(e.select($"s2".as("s")))
          .groupBy($"s").agg(count(lit(1)).as("d"))
        val v = deg.filter($"d" >= 3).select($"s")
          .transform(graft.CacheScope.checkpointed)
        val e2 = e
          .join(broadcast(v.withColumnRenamed("s", "s1")), Seq("s1"), "left_semi")
          .join(broadcast(v.withColumnRenamed("s", "s2")), Seq("s2"), "left_semi")
          .select($"s1", $"s2")
          .transform(graft.CacheScope.checkpointed)
        (v, e2)
      }
      val (v1, e1) = peel(e0)
      val (v2, e2) = peel(e1)
      val (v3, e3) = peel(e2)
      // materialize each cached peel ONCE with a count action and emit the
      // trajectory as literals: a single union query over the 3-deep tree
      // of cached join chains re-planned every branch under AQE and cost
      // ~10 s of pure scheduling on a graph whose data fits in one task —
      // the iterative-algorithm pattern (like q106/q142) is drive the
      // rounds imperatively, counts landing driver-side between rounds.
      val traj = Seq((v1, e1), (v2, e2), (v3, e3)).zipWithIndex
        .map { case ((v, e), i) => (i + 1L, v.count(), e.count()) }
      traj.toDF("peel", "n_nodes", "n_edges").orderBy($"peel")
    },

    q("q261_link_prediction",
      // Common-neighbor / Jaccard link prediction on the co-supply graph
      // (the "suppliers likely to co-supply next" recommender; Liben-
      // Nowell & Kleinberg 2003): candidate pairs are generated by the
      // same wedge join as q176's triangles (fans on shared neighbors,
      // never all-pairs), EXISTING edges are removed by a keyed LEFT ANTI,
      // and the score is integer-ppm Jaccard cn/(da+db-cn) with a
      // deterministic (score, id) tie-break into a TakeOrderedAndProject
      // top-20. At 100 TB: hub neighbors dominate the wedge fan-out —
      // q322 ships the top-k hub-capped variant (cappedAdjacency) whose
      // wedge volume stays <= k x edges on any degree distribution.
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |w AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey
        |  GROUP BY s1, s2),
        |r AS (SELECT s1, s2, ROW_NUMBER() OVER (ORDER BY c DESC, s1, s2) rn,
        |    COUNT(*) OVER () nw FROM w),
        |e0 AS (SELECT s1, s2 FROM r WHERE rn * 10 <= 3 * nw),
        |adj AS (SELECT s1 u, s2 v FROM e0 UNION ALL SELECT s2, s1 FROM e0),
        |deg AS (SELECT u s, CAST(COUNT(*) AS BIGINT) d FROM adj GROUP BY u),
        |cand AS (SELECT a.u AS x, b.u AS y, CAST(COUNT(*) AS BIGINT) cn
        |  FROM adj a JOIN adj b ON a.v = b.v AND a.u < b.u GROUP BY x, y),
        |ne AS (SELECT c.x, c.y, c.cn FROM cand c
        |  WHERE NOT EXISTS (SELECT 1 FROM e0
        |    WHERE e0.s1 = c.x AND e0.s2 = c.y))
        |SELECT ne.x AS s_a, ne.y AS s_b, ne.cn AS common_neighbors,
        |  da.d AS deg_a, db.d AS deg_b,
        |  CAST((ne.cn * 1000000) // (da.d + db.d - ne.cn) AS BIGINT)
        |    AS jaccard_ppm
        |FROM ne JOIN deg da ON da.s = ne.x JOIN deg db ON db.s = ne.y
        |ORDER BY jaccard_ppm DESC, s_a, s_b LIMIT 20""") { (s, dir) =>
      import s.implicits._
      val li = T(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey").distinct()
      // edge set = the top-30%-strongest co-supply pairs by (weight, id)
      // rank — the fixture graph is COMPLETE at every SF (every supplier
      // pair shares >= 4 orders), so an absolute weight threshold leaves
      // no non-edges to predict. Selection runs through topWeightEdges
      // (histogram cutoff + boundary-cell tie rank, no pair-sized global
      // window); the SQL oracle keeps the equivalent rank-selection as
      // the spec, so the gate certifies the scalable plan's equality.
      val wts = li.as("a")
        .join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
        .groupBy($"a.l_suppkey".as("s1"), $"b.l_suppkey".as("s2"))
        .agg(count(lit(1)).as("c"))
      val e0 = topWeightEdges(wts)
        .transform(graft.CacheScope.cached) // adjacency + anti filter
      val adj = e0.select($"s1".as("u"), $"s2".as("v"))
        .unionAll(e0.select($"s2".as("u"), $"s1".as("v")))
        .transform(graft.CacheScope.cached)
      val deg = adj.groupBy($"u".as("s")).agg(count(lit(1)).as("d"))
      // the wedge aggregation is the query's hot path (~45M join rows into
      // ~500k pair groups at sf0.1): pack the (x, y) pair into ONE bigint
      // group key — half the shuffled key bytes, single-long hash probes in
      // the partial/final aggregates (guide §2.3 narrower keys). Safe while
      // l_suppkey < 2^32 (TPC-H suppkeys are 10k x SF, so this holds beyond
      // SF 100k); unpacked right after the aggregate, results identical.
      val cand = adj.as("a")
        .join(adj.as("b"), $"a.v" === $"b.v" && $"a.u" < $"b.u")
        .select((shiftleft($"a.u", 32).bitwiseOR($"b.u")).as("pk"))
        .groupBy($"pk").agg(count(lit(1)).as("cn"))
      // existing edges removed by the same packed key, with the edge set
      // BROADCAST: e0 is node-sized (top-30% pairs), and the SMJ anti join
      // was paying a sort of the full candidate table; unpack after
      val ne = cand.join(
        broadcast(e0.select(shiftleft($"s1", 32).bitwiseOR($"s2").as("epk"))),
        $"pk" === $"epk", "left_anti")
        .select(shiftright($"pk", 32).as("x"),
          $"pk".bitwiseAND(lit(0xffffffffL)).as("y"), $"cn")
      ne.join(broadcast(deg.select($"s".as("x"), $"d".as("deg_a"))), Seq("x"))
        .join(broadcast(deg.select($"s".as("y"), $"d".as("deg_b"))), Seq("y"))
        .select($"x".as("s_a"), $"y".as("s_b"),
          $"cn".as("common_neighbors"), $"deg_a", $"deg_b",
          expr("(cn * 1000000) div (deg_a + deg_b - cn)").as("jaccard_ppm"))
        .orderBy($"jaccard_ppm".desc, $"s_a", $"s_b")
        .limit(20)
    },

    q("q179_histogram_quantiles",
      // Everything runs on SHIFTED values sv = cents - lo >= 0, so every
      // DIV has non-negative operands (Spark trunc == DuckDB floor) even
      // though raw event values can be negative. Doubled "x2" true
      // quantiles keep the even-count interpolation midpoint integer.
      """WITH v0 AS (SELECT event_type,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
        |b AS (SELECT CAST(MIN(vc) AS BIGINT) AS lo,
        |    CAST(MAX(vc) - MIN(vc) + 1 AS BIGINT) AS w FROM v0),
        |v AS (SELECT event_type, vc - lo AS sv, w FROM v0, b),
        |h AS (SELECT event_type, (sv * 64) // w AS bin, w,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM v GROUP BY event_type, (sv * 64) // w, w),
        |cum AS (SELECT event_type, bin, c, w,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY bin) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM h),
        |est AS (SELECT event_type, ANY_VALUE(w) AS w,
        |    CAST(MIN(n) AS BIGINT) AS n,
        |    MIN(CASE WHEN cum * 2 >= n THEN bin END) AS b50,
        |    MIN(CASE WHEN cum * 10 >= 9 * n THEN bin END) AS b90
        |  FROM cum GROUP BY event_type),
        |ranked AS (SELECT event_type, sv,
        |    ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY sv) AS rn,
        |    COUNT(*) OVER (PARTITION BY event_type) AS cn FROM v),
        |tq AS (SELECT event_type,
        |    CAST(MAX(CASE WHEN rn = (cn + 1) // 2 THEN sv END) AS BIGINT) AS true50,
        |    CAST(MAX(CASE WHEN rn = (9 * cn + 9) // 10 THEN sv END) AS BIGINT) AS true90
        |  FROM ranked GROUP BY event_type)
        |SELECT e.event_type, n, b50,
        |  (b50 * w) // 64 AS est50_lo, ((b50 + 1) * w) // 64 - 1 AS est50_hi,
        |  true50,
        |  (true50 * 64) // w - b50 AS p50_bin_err,
        |  b90,
        |  (b90 * w) // 64 AS est90_lo, ((b90 + 1) * w) // 64 - 1 AS est90_hi,
        |  true90,
        |  (true90 * 64) // w - b90 AS p90_bin_err
        |FROM est e JOIN tq ON e.event_type = tq.event_type
        |ORDER BY e.event_type""") { (s, dir) =>
      import s.implicits._
      // Fixed-bin histogram quantile sketch — the mergeable streaming
      // estimator (64 counters per group, element-wise addable like q166's
      // count-min) next to its exact ground truth. The histogram is one
      // grouped count whose partial aggregation IS the sketch merge; the
      // quantile estimate is a cumulative-sum scan over 64 rows per group;
      // the bin-error columns pin the estimator's guarantee (the true
      // quantile's bin is the estimated bin, give or take interpolation at
      // an edge). At 100 TB the exact quantile_cont side disappears and
      // only the 64-long vectors move — that is the point of the sketch;
      // here both run so the oracle can certify the error, not just the
      // estimate.
      val v0 = T(s, dir, "events")
        .select($"event_type",
          expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("vc"))
      val b = v0.agg(min($"vc").as("lo"), (max($"vc") - min($"vc") + 1).as("w"))
      val v = v0.crossJoin(broadcast(b))
        .select($"event_type", ($"vc" - $"lo").as("sv"), $"w")
        .transform(graft.CacheScope.cached) // histogram pass + exact pass
      val h = v.groupBy($"event_type", expr("(sv * 64) DIV w").as("bin"), $"w")
        .agg(count(lit(1)).as("c"))
      val byType = Window.partitionBy($"event_type")
      val cum = h
        .withColumn("cum", sum($"c").over(byType.orderBy($"bin")))
        .withColumn("n", sum($"c").over(byType))
      val est = cum.groupBy($"event_type")
        .agg(first($"w").as("w"), min($"n").as("n"),
          min(when($"cum" * 2 >= $"n", $"bin")).as("b50"),
          min(when($"cum" * 10 >= lit(9) * $"n", $"bin")).as("b90"))
      val ranked = v
        .withColumn("rn", row_number().over(byType.orderBy($"sv")))
        .withColumn("cn", count(lit(1)).over(byType))
      val tq = ranked.groupBy($"event_type")
        .agg(max(when($"rn" === expr("(cn + 1) DIV 2"), $"sv")).cast("long").as("true50"),
          max(when($"rn" === expr("(9 * cn + 9) DIV 10"), $"sv")).cast("long").as("true90"))
      est.join(tq, "event_type")
        .select($"event_type", $"n", $"b50",
          expr("(b50 * w) DIV 64").as("est50_lo"),
          expr("((b50 + 1) * w) DIV 64 - 1").as("est50_hi"),
          $"true50",
          expr("(true50 * 64) DIV w - b50").as("p50_bin_err"),
          $"b90",
          expr("(b90 * w) DIV 64").as("est90_lo"),
          expr("((b90 + 1) * w) DIV 64 - 1").as("est90_hi"),
          $"true90",
          expr("(true90 * 64) DIV w - b90").as("p90_bin_err"))
        .orderBy($"event_type")
    },

    q("q185_click_attribution",
      """WITH p AS (SELECT event_id AS pid, user_id, epoch_us(ts) AS ptsu
        |  FROM events WHERE event_type = 'purchase'),
        |c AS (SELECT event_id AS cid, user_id, epoch_us(ts) AS ctsu
        |  FROM events WHERE event_type = 'click'),
        |j AS (SELECT p.pid, p.user_id, c.cid, c.ctsu FROM p
        |  JOIN c ON p.user_id = c.user_id
        |    AND c.ctsu <= p.ptsu AND c.ctsu > p.ptsu - 604800000000),
        |r AS (SELECT pid, user_id, cid, ctsu,
        |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ctsu, cid) AS rf,
        |    ROW_NUMBER() OVER (PARTITION BY pid ORDER BY ctsu DESC, cid DESC) AS rl
        |  FROM j),
        |a AS (SELECT pid, CAST(COUNT(*) AS BIGINT) AS n_clicks,
        |    CAST(MAX(CASE WHEN rf = 1 THEN cid END) AS BIGINT) AS first_click,
        |    CAST(MAX(CASE WHEN rl = 1 THEN cid END) AS BIGINT) AS last_click
        |  FROM r GROUP BY pid)
        |SELECT p.pid AS purchase_id, p.user_id,
        |  COALESCE(a.n_clicks, 0) AS n_clicks, a.first_click, a.last_click
        |FROM p LEFT JOIN a ON p.pid = a.pid
        |ORDER BY purchase_id""") { (s, dir) =>
      import s.implicits._
      // First-/last-touch attribution: every purchase credits the earliest
      // and latest click by the same user in the preceding 7 days — the
      // query behind every marketing-spend dashboard. One user-keyed
      // equi-join (the time window is a post-join filter, so no nested
      // loop); first/last are the two row_number orderings on one pid
      // partition (q174's shared-exchange pattern); purchases with no
      // clicks survive the left join with n_clicks = 0. At 100 TB both
      // sides co-partition on user_id and the 7-day bound keeps join state
      // small under AQE; hot users are exactly the skew the salted variant
      // (q89) handles if one key outgrows a partition.
      val ev = T(s, dir, "events")
      val p = ev.filter($"event_type" === "purchase")
        .select($"event_id".as("pid"), $"user_id", unix_micros($"ts").as("ptsu"))
        .transform(graft.CacheScope.cached) // join side + left-join spine
      val c = ev.filter($"event_type" === "click")
        .select($"event_id".as("cid"), $"user_id", unix_micros($"ts").as("ctsu"))
      val j = p.join(c, Seq("user_id"))
        .filter($"ctsu" <= $"ptsu" && $"ctsu" > $"ptsu" - lit(604800000000L))
      val byP = Window.partitionBy($"pid")
      val a = j
        .withColumn("rf", row_number().over(byP.orderBy($"ctsu".asc, $"cid".asc)))
        .withColumn("rl", row_number().over(byP.orderBy($"ctsu".desc, $"cid".desc)))
        .groupBy($"pid")
        .agg(count(lit(1)).as("n_clicks"),
          max(when($"rf" === 1, $"cid")).cast("long").as("first_click"),
          max(when($"rl" === 1, $"cid")).cast("long").as("last_click"))
      p.select($"pid", $"user_id")
        .join(a, Seq("pid"), "left")
        .select($"pid".as("purchase_id"), $"user_id",
          coalesce($"n_clicks", lit(0L)).as("n_clicks"),
          $"first_click", $"last_click")
        .orderBy($"purchase_id")
    },

    q("q186_twap",
      // Products scaled to (cents x interval-MILLIS) so a day of intervals
      // stays orders of magnitude inside Long; the one double division per
      // group happens on identical integer operands in both engines.
      s"""WITH v AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    epoch_us(ts) AS tsu, event_id,
         |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
         |iv AS (SELECT event_type, day, vc,
         |    (LEAD(tsu) OVER (PARTITION BY event_type, day
         |      ORDER BY tsu, event_id) - tsu) // 1000 AS dur_ms
         |  FROM v),
         |k AS (SELECT event_type, day, vc, dur_ms FROM iv WHERE dur_ms IS NOT NULL)
         |SELECT event_type, day,
         |  CAST(COUNT(*) AS BIGINT) AS n_intervals,
         |  CAST(SUM(vc * dur_ms) AS BIGINT) AS sum_vdur,
         |  CAST(SUM(dur_ms) AS BIGINT) AS sum_dur_ms,
         |  ${graft.ColFns.r6Sql(
             "CAST(SUM(vc * dur_ms) AS DOUBLE) / CAST(SUM(dur_ms) AS DOUBLE)")} AS twap_c
         |FROM k GROUP BY event_type, day ORDER BY event_type, day""") { (s, dir) =>
      import graft.ColFns.r6
      import s.implicits._
      // Time-weighted average price/value — the downsample that weights
      // each reading by how long it was CURRENT, not by how often it was
      // sampled (irregular telemetry makes plain AVG lie). One (type, day)
      // shuffle shared by the LEAD window and the aggregation; the final
      // interval of each day is open-ended and excluded (the standard
      // convention). Weights are interval-millis integers; the per-group
      // sums partial-aggregate map-side.
      val w = Window.partitionBy($"event_type", $"day").orderBy($"tsu", $"event_id")
      T(s, dir, "events")
        .select($"event_type", to_date($"ts").as("day"),
          unix_micros($"ts").as("tsu"), $"event_id",
          expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("vc"))
        .withColumn("next_tsu", lead($"tsu", 1).over(w))
        .withColumn("dur_ms", expr("(next_tsu - tsu) DIV 1000"))
        .filter($"dur_ms".isNotNull)
        .groupBy($"event_type", $"day")
        .agg(count(lit(1)).as("n_intervals"),
          sum($"vc" * $"dur_ms").as("sum_vdur"),
          sum($"dur_ms").as("sum_dur_ms"))
        .withColumn("twap_c",
          r6($"sum_vdur".cast("double") / $"sum_dur_ms".cast("double")))
        .orderBy($"event_type", $"day")
    },

    q("q190_decayed_counts",
      // Weights are exact powers of two (2^20 >> age_weeks), so the decay
      // is integer arithmetic end to end — no exp()/pow() to diverge by a
      // ulp between engines; a >=64-week shift would zero out naturally.
      """WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day FROM events),
        |mx AS (SELECT MAX(day) AS mday FROM d),
        |c AS (SELECT event_type, day, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d GROUP BY event_type, day),
        |w AS (SELECT event_type, n,
        |    (CAST(1048576 AS BIGINT) >> CAST((mday - day) // 7 AS INT)) AS wgt
        |  FROM c, mx)
        |SELECT event_type,
        |  CAST(SUM(n) AS BIGINT) AS n_total,
        |  CAST(SUM(n * wgt) AS BIGINT) AS decayed_mega
        |FROM w GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      // Time-decayed activity scoring — the freshness-weighted counter
      // behind trending/ranking surfaces: each day's events count at
      // half-weight per week of age (quantized to power-of-two weights in
      // 2^-20 fixed point, so both engines are bit-identical — the usual
      // exp(-lambda*age) is one libm call away from a cross-engine ulp
      // flap). Two keyed aggregations: (type, day) pre-aggregation first,
      // so the decay math runs on day-counts, never raw events; the
      // one-row max-day frame is broadcast. At 100 TB the same shape
      // incrementally maintains: yesterday's score halves by table lookup,
      // today's partition aggregates fresh (q171's delta pattern).
      val d = T(s, dir, "events")
        .select($"event_type", to_date($"ts").as("day"))
      val mx = d.agg(max($"day").as("mday"))
      d.groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
        .crossJoin(broadcast(mx))
        .withColumn("wgt", expr(
          "shiftright(CAST(1048576 AS BIGINT), CAST(datediff(mday, day) DIV 7 AS INT))"))
        .groupBy($"event_type")
        .agg(sum($"n").as("n_total"), sum($"n" * $"wgt").as("decayed_mega"))
        .orderBy($"event_type")
    },

    q("q195_bfs_hops",
      // Single-source BFS over the q176 co-supply graph (co-supplied >= 4
      // orders), 3 unrolled hop iterations: d_{k+1}(v) = min(d_k(v),
      // min over edges (u,v) of d_k(u) + 1). Source = smallest node id in
      // the graph, so the query is deterministic at every SF.
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |e0 AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey
        |  GROUP BY s1, s2 HAVING COUNT(*) >= 4),
        |e AS (SELECT s1 AS u, s2 AS v FROM e0
        |  UNION ALL SELECT s2 AS u, s1 AS v FROM e0),
        |src AS (SELECT MIN(u) AS sn FROM e),
        |d0 AS (SELECT sn AS node, CAST(0 AS BIGINT) AS hops FROM src),
        |d1 AS (SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM (
        |    SELECT node, hops FROM d0
        |    UNION ALL SELECT e.v AS node, d0.hops + 1 AS hops
        |      FROM e JOIN d0 ON e.u = d0.node) GROUP BY node),
        |d2 AS (SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM (
        |    SELECT node, hops FROM d1
        |    UNION ALL SELECT e.v AS node, d1.hops + 1 AS hops
        |      FROM e JOIN d1 ON e.u = d1.node) GROUP BY node),
        |d3 AS (SELECT node, CAST(MIN(hops) AS BIGINT) AS hops FROM (
        |    SELECT node, hops FROM d2
        |    UNION ALL SELECT e.v AS node, d2.hops + 1 AS hops
        |      FROM e JOIN d2 ON e.u = d2.node) GROUP BY node)
        |SELECT node, hops FROM d3 ORDER BY node""") { (s, dir) =>
      import s.implicits._
      // Multi-hop reachability — the supply-chain blast-radius question
      // ("every supplier within 3 relationships of this one") and the
      // building block of label propagation / community detection. Each
      // iteration is ONE equi-join of the edge list against the frontier
      // plus ONE min-aggregation: the frontier is node-sized, so it is
      // BROADCAST into the join while small (here always); at 100 TB, once
      // a frontier outgrows broadcast the same plan degrades gracefully to
      // a shuffle join co-partitioned with the cached edge list — the
      // q106/q168 iterative-join discipline. The edge list is built once
      // and cached across all three iterations.
      val li = T(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey").distinct()
        .transform(graft.CacheScope.cached)
      val e0 = li.as("a")
        .join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
        .groupBy($"a.l_suppkey".as("s1"), $"b.l_suppkey".as("s2"))
        .agg(count(lit(1)).as("w"))
        .filter($"w" >= 4)
        .select($"s1", $"s2")
      val e = e0.select($"s1".as("u"), $"s2".as("v"))
        .unionAll(e0.select($"s2".as("u"), $"s1".as("v")))
        .transform(graft.CacheScope.cached)
      val d0 = e.agg(min($"u").as("node")).select($"node", lit(0L).as("hops"))
      def step(dk: DataFrame): DataFrame =
        dk.unionAll(
            e.join(broadcast(dk), e("u") === dk("node"))
              .select(e("v").as("node"), (dk("hops") + 1L).as("hops")))
          .groupBy($"node").agg(min($"hops").as("hops"))
      // intermediate frontiers are lineage-truncated (the q229/q457
      // checkpoint-between-rounds discipline): nesting all three hops in
      // one plan made every action re-analyze the 3-deep broadcast-join
      // tree. The LAST hop stays lazy so the audited plan keeps the
      // broadcast-join + min-agg shape PlanAudit pins.
      val d3 = step(graft.CacheScope.checkpointed(
        step(graft.CacheScope.checkpointed(step(d0)))))
      d3.select($"node", $"hops").orderBy($"node")
    },

    q("q199_correlation_matrix", {
      def corrSql(sxy: String, sx: String, sy: String,
          sxx: String, syy: String): String =
        graft.ColFns.r6Sql(s"(n*$sxy - $sx*$sy) / " +
          s"SQRT((n*$sxx - $sx*$sx) * (n*$syy - $sy*$sy))")
      // All 15 moment sums ride ONE aggregation pass (q126's decimal-exact
      // sum discipline); price is pre-scaled by 1e-5 so every squared sum
      // stays far below 2^53, where DECIMAL->DOUBLE casts are exact.
      s"""WITH b AS (SELECT CAST(l_quantity AS DOUBLE) AS x1,
         |    l_extendedprice / 100000 AS x2, l_discount AS x3, l_tax AS x4
         |  FROM lineitem),
         |s AS (SELECT CAST(COUNT(*) AS DOUBLE) n,
         |    ${dsumSql("x1")} s1, ${dsumSql("x2")} s2,
         |    ${dsumSql("x3")} s3, ${dsumSql("x4")} s4,
         |    ${dsumSql("x1*x1")} s11, ${dsumSql("x2*x2")} s22,
         |    ${dsumSql("x3*x3")} s33, ${dsumSql("x4*x4")} s44,
         |    ${dsumSql("x1*x2")} s12, ${dsumSql("x1*x3")} s13,
         |    ${dsumSql("x1*x4")} s14, ${dsumSql("x2*x3")} s23,
         |    ${dsumSql("x2*x4")} s24, ${dsumSql("x3*x4")} s34
         |  FROM b)
         |SELECT col_a, col_b, corr FROM (
         |  SELECT 'qty' AS col_a, 'price' AS col_b,
         |    ${corrSql("s12", "s1", "s2", "s11", "s22")} AS corr FROM s
         |  UNION ALL SELECT 'qty', 'disc',
         |    ${corrSql("s13", "s1", "s3", "s11", "s33")} FROM s
         |  UNION ALL SELECT 'qty', 'tax',
         |    ${corrSql("s14", "s1", "s4", "s11", "s44")} FROM s
         |  UNION ALL SELECT 'price', 'disc',
         |    ${corrSql("s23", "s2", "s3", "s22", "s33")} FROM s
         |  UNION ALL SELECT 'price', 'tax',
         |    ${corrSql("s24", "s2", "s4", "s22", "s44")} FROM s
         |  UNION ALL SELECT 'disc', 'tax',
         |    ${corrSql("s34", "s3", "s4", "s33", "s44")} FROM s)
         |ORDER BY col_a, col_b"""
    }) { (s, dir) =>
      import s.implicits._
      // Pairwise Pearson correlation matrix — the feature-redundancy /
      // leakage screen run before any model training. ONE scan computes all
      // 15 moment sums as order-independent DECIMAL aggregates (q126's
      // discipline — raw double sums would flap run-to-run under parallel
      // partial aggregation); the 6 upper-triangle correlations are then
      // scalar IEEE expressions over those exact sums, identical op order
      // in both engines, r6-rounded. Unpivot to (col_a, col_b, corr) rows
      // via stack on the single result row. At 100 TB this stays one scan
      // + one single-row exchange however many column pairs are profiled.
      def corrC(sxy: Column, sx: Column, sy: Column,
          sxx: Column, syy: Column): Column =
        r6(($"n" * sxy - sx * sy) /
          sqrt(($"n" * sxx - sx * sx) * ($"n" * syy - sy * sy)))
      // spread: the single-row-group fixture scan would otherwise run all
      // 15 decimal casts+sums in ONE task (measured 5.5 s serial → 1.1 s
      // spread, bit-identical — decimal sums are order-independent)
      val b = T(s, dir, "lineitem").select(
        $"l_quantity".cast("double").as("x1"),
        ($"l_extendedprice" / 100000).as("x2"),
        $"l_discount".as("x3"), $"l_tax".as("x4"))
        .transform(graft.Tables.spread)
      b.agg(count(lit(1)).cast("double").as("n"),
          dsum($"x1").as("s1"), dsum($"x2").as("s2"),
          dsum($"x3").as("s3"), dsum($"x4").as("s4"),
          dsum($"x1" * $"x1").as("s11"), dsum($"x2" * $"x2").as("s22"),
          dsum($"x3" * $"x3").as("s33"), dsum($"x4" * $"x4").as("s44"),
          dsum($"x1" * $"x2").as("s12"), dsum($"x1" * $"x3").as("s13"),
          dsum($"x1" * $"x4").as("s14"), dsum($"x2" * $"x3").as("s23"),
          dsum($"x2" * $"x4").as("s24"), dsum($"x3" * $"x4").as("s34"))
        .withColumn("c12", corrC($"s12", $"s1", $"s2", $"s11", $"s22"))
        .withColumn("c13", corrC($"s13", $"s1", $"s3", $"s11", $"s33"))
        .withColumn("c14", corrC($"s14", $"s1", $"s4", $"s11", $"s44"))
        .withColumn("c23", corrC($"s23", $"s2", $"s3", $"s22", $"s33"))
        .withColumn("c24", corrC($"s24", $"s2", $"s4", $"s22", $"s44"))
        .withColumn("c34", corrC($"s34", $"s3", $"s4", $"s33", $"s44"))
        .selectExpr("""stack(6,
          'qty',   'price', c12,
          'qty',   'disc',  c13,
          'qty',   'tax',   c14,
          'price', 'disc',  c23,
          'price', 'tax',   c24,
          'disc',  'tax',   c34) AS (col_a, col_b, corr)""")
        .orderBy($"col_a", $"col_b")
    },

    q("q241_pareto_frontier",
      // 2-D skyline (Börzsönyi et al. 2001): the parts no other part beats
      // on BOTH price and size — multi-objective shortlisting (e.g. "best
      // quality at every cost point" in a data-mix search). The naive plan
      // is the O(n²) dominance anti-join; this one is the sort-based
      // linear skyline made scale-safe the q211 way: compact to the
      // DISTINCT price domain (max size per price), one cumulative-max
      // window over that bounded domain finds the frontier prices (max
      // size strictly above every higher price's best), and a keyed join
      // brings back the winning rows. Ties on both dims don't dominate,
      // so equal (price, size) parts all surface. Prices compare as exact
      // cents; every output is integer.
      """WITH p AS (SELECT p_partkey,
        |    CAST(FLOOR(p_retailprice * 100 + 0.5) AS BIGINT) cents,
        |    p_size FROM part),
        |m AS (SELECT cents, MAX(p_size) ms FROM p GROUP BY cents),
        |r AS (SELECT cents, ms, MAX(ms) OVER (ORDER BY cents DESC
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) prev FROM m),
        |f AS (SELECT cents, ms FROM r WHERE prev IS NULL OR ms > prev)
        |SELECT p.p_partkey, p.cents AS price_cents,
        |  CAST(p.p_size AS BIGINT) AS p_size
        |FROM p JOIN f ON p.cents = f.cents AND p.p_size = f.ms
        |ORDER BY price_cents DESC, p_partkey""") { (s, dir) =>
      import s.implicits._
      val p = T(s, dir, "part").select($"p_partkey",
        floor($"p_retailprice" * 100 + 0.5).cast("long").as("cents"),
        $"p_size")
      val m = p.groupBy($"cents").agg(max($"p_size").as("ms"))
      val prev = Window.orderBy($"cents".desc)
        .rowsBetween(Window.unboundedPreceding, -1)
      val f = m.withColumn("prev", max($"ms").over(prev))
        .filter($"prev".isNull || $"ms" > $"prev")
        .select($"cents".as("fc"), $"ms")
      p.join(f, $"cents" === $"fc" && $"p_size" === $"ms")
        .select($"p_partkey", $"cents".as("price_cents"),
          $"p_size".cast("long").as("p_size"))
        .orderBy($"price_cents".desc, $"p_partkey")
    },

    q("q243_acf",
      // Autocorrelation of the daily event-count series at lags 1..7 — the
      // seasonality probe run before choosing q218's period or q246's
      // seasonal-naive horizon. Exact integers end to end: with n days,
      // total S, the centered value n*cnt_i - S is a BIGINT, so numerator
      // Σ X_i·X_{i+k} and denominator Σ X_i² are exact in both engines and
      // each acf is one IEEE division. Everything after the one daily
      // groupBy runs on the COMPACTED day domain (~corpus span in days):
      // the lag self-join is a bounded-side nested loop over ~30 rows,
      // constant whatever the event volume.
      s"""WITH c AS (SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) cnt
         |  FROM events GROUP BY day),
         |st AS (SELECT CAST(COUNT(*) AS BIGINT) n, CAST(SUM(cnt) AS BIGINT) s
         |  FROM c),
         |x AS (SELECT ROW_NUMBER() OVER (ORDER BY day) idx, n*cnt - s AS xv
         |  FROM c, st),
         |den AS (SELECT CAST(SUM(xv*xv) AS BIGINT) d FROM x),
         |num AS (SELECT b.idx - a.idx AS lag_k,
         |    CAST(COUNT(*) AS BIGINT) n_pairs,
         |    CAST(SUM(a.xv*b.xv) AS BIGINT) num
         |  FROM x a JOIN x b ON b.idx - a.idx BETWEEN 1 AND 7 GROUP BY 1)
         |SELECT CAST(lag_k AS BIGINT) AS lag_k, n_pairs, num, den.d AS den,
         |  ${graft.ColFns.r6Sql("CAST(num AS DOUBLE) / den.d")} AS acf
         |FROM num, den ORDER BY lag_k""") { (s, dir) =>
      import s.implicits._
      import graft.ColFns.r6
      val c = T(s, dir, "events")
        .groupBy(to_date($"ts").as("day")).agg(count(lit(1)).as("cnt"))
      val st = c.agg(count(lit(1)).as("n"), sum($"cnt").as("s"))
      val x = c.crossJoin(broadcast(st))
        .withColumn("idx", row_number().over(Window.orderBy($"day")))
        .select($"idx", ($"n" * $"cnt" - $"s").as("xv"))
        .transform(graft.CacheScope.cached) // both join sides + denominator
      val den = x.agg(sum($"xv" * $"xv").as("d"))
      x.as("a").join(x.as("b"), ($"b.idx" - $"a.idx").between(1, 7))
        .groupBy(($"b.idx" - $"a.idx").as("lag_k"))
        .agg(count(lit(1)).as("n_pairs"), sum($"a.xv" * $"b.xv").as("num"))
        .crossJoin(broadcast(den))
        .select($"lag_k".cast("long").as("lag_k"), $"n_pairs", $"num",
          $"d".as("den"), r6($"num".cast("double") / $"d").as("acf"))
        .orderBy($"lag_k")
    },

    q("q244_grid_spatial_join", {
      // Grid-bucketed spatial self-join — the geohash-join pattern for
      // "all pairs within distance r" without an O(n²) cross join:
      // fixed-point coordinates (milli-degrees, derived deterministically
      // from the customer key so the oracle can re-derive them) bucket
      // into r-sized cells; candidates meet in an EQUI join on the 9
      // neighbor cells (each candidate pair arises under exactly one
      // offset — no dedup pass) and the exact integer distance² filter
      // finishes. Bucketing uses each engine's native integer division —
      // truncation vs floor differ on negatives, but any monotone
      // width-≥r bucketing yields a candidate SUPERSET, and the exact
      // filter equalizes. At 100 TB this is one shuffle on the cell key;
      // skew = dense cells, the documented salting/AQE case.
      val P = graft.functions.TextHash.P
      val ph = graft.functions.TextHash.duckPolyHash("CAST(c_custkey AS VARCHAR)")
      s"""WITH pts AS (SELECT c_custkey k,
        |    (($ph) * 2654435761) % $P % 180000 - 90000 AS y,
        |    (($ph) * 2246822519) % $P % 360000 - 180000 AS x
        |  FROM customer),
        |cells AS (SELECT k, x, y, x // 2000 cx, y // 2000 cy FROM pts),
        |off(ox, oy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
        |  (1,-1),(1,0),(1,1)),
        |cand AS (SELECT a.k ka, a.x xa, a.y ya, b.k kb, b.x xb, b.y yb
        |  FROM cells a CROSS JOIN off o JOIN cells b
        |    ON b.cx = a.cx + o.ox AND b.cy = a.cy + o.oy AND a.k < b.k)
        |SELECT ka, kb,
        |  (xa-xb)*(xa-xb) + (ya-yb)*(ya-yb) AS dist2
        |FROM cand
        |WHERE (xa-xb)*(xa-xb) + (ya-yb)*(ya-yb) <= 4000000
        |ORDER BY ka, kb"""
      }) { (s, dir) =>
      import s.implicits._
      val P = graft.functions.TextHash.P
      // raw LCG mixes of the key are degenerate here: x and y would both
      // be linear in c_custkey, so the points fall on one lattice line and
      // no pair lands within r. Polyhash the key first (q183's scattered-
      // hash lesson), then two independent multiplicative mixes.
      val pts = T(s, dir, "customer")
        .withColumn("h", expr("graft_polyhash(CAST(c_custkey AS STRING))"))
        .select($"c_custkey".as("k"),
          (($"h" * 2654435761L) % P % 180000L - 90000L).as("y"),
          (($"h" * 2246822519L) % P % 360000L - 180000L).as("x"))
      val cells = pts.select($"k", $"x", $"y",
        expr("x div 2000").as("cx"), expr("y div 2000").as("cy"))
        .transform(graft.CacheScope.cached) // both sides of the pair join
      val off = broadcast(Seq(-1, 0, 1).flatMap(ox =>
        Seq(-1, 0, 1).map(oy => (ox, oy))).toDF("ox", "oy"))
      val a = cells.select($"k".as("ka"), $"x".as("xa"), $"y".as("ya"),
        $"cx", $"cy").crossJoin(off)
        .select($"ka", $"xa", $"ya",
          ($"cx" + $"ox").as("jx"), ($"cy" + $"oy").as("jy"))
      val b = cells.select($"k".as("kb"), $"x".as("xb"), $"y".as("yb"),
        $"cx".as("jx"), $"cy".as("jy"))
      val d2 = ($"xa" - $"xb") * ($"xa" - $"xb") +
        ($"ya" - $"yb") * ($"ya" - $"yb")
      a.join(b, Seq("jx", "jy")).filter($"ka" < $"kb" && d2 <= 4000000L)
        .select($"ka", $"kb", d2.as("dist2"))
        .orderBy($"ka", $"kb")
    },

    q("q280_spatial_hotspot", {
      // Grid-density hotspot detection (Getis-Ord flavor): per occupied
      // cell, the 3x3 neighborhood point mass vs the expected mass under a
      // uniform spread over occupied cells — ratio >= 2x flags the
      // hotspot. Same synthetic fixed-point coordinates as q244, but the
      // coordinates are SHIFTED non-negative before bucketing: here the
      // cell ids ARE the output (not a candidate superset an exact filter
      // later equalizes), so Spark's truncating div and DuckDB's floor //
      // must see non-negative operands. The neighbor sum is a 9-offset
      // EQUI join on the CELL table (bounded by occupancy, already
      // aggregated) — the raw points shuffle once into cells and never
      // again.
      val P = graft.functions.TextHash.P
      val ph = graft.functions.TextHash.duckPolyHash("CAST(c_custkey AS VARCHAR)")
      s"""WITH pts AS (SELECT
        |    (($ph) * 2654435761) % $P % 180000 + 90000 AS y,
        |    (($ph) * 2246822519) % $P % 360000 + 180000 AS x
        |  FROM customer),
        |cells AS (SELECT x // 2000 AS cx, y // 2000 AS cy,
        |    CAST(COUNT(*) AS BIGINT) AS n_pts
        |  FROM pts GROUP BY cx, cy),
        |tot AS (SELECT CAST(SUM(n_pts) AS BIGINT) AS total,
        |    CAST(COUNT(*) AS BIGINT) AS n_cells FROM cells),
        |off(ox, oy) AS (VALUES (-1,-1),(-1,0),(-1,1),(0,-1),(0,0),(0,1),
        |  (1,-1),(1,0),(1,1)),
        |nb AS (SELECT a.cx, a.cy, a.n_pts,
        |    CAST(SUM(b.n_pts) AS BIGINT) AS neighbor_sum
        |  FROM cells a CROSS JOIN off o JOIN cells b
        |    ON b.cx = a.cx + o.ox AND b.cy = a.cy + o.oy
        |  GROUP BY a.cx, a.cy, a.n_pts)
        |SELECT nb.cx, nb.cy, nb.n_pts, nb.neighbor_sum,
        |  CAST((nb.neighbor_sum * t.n_cells * 1000000)
        |    // (9 * t.total) AS BIGINT) AS density_ratio_ppm,
        |  (nb.neighbor_sum * t.n_cells) >= (2 * 9 * t.total) AS hot
        |FROM nb, tot t ORDER BY cx, cy"""
      }) { (s, dir) =>
      import s.implicits._
      val P = graft.functions.TextHash.P
      val cells = T(s, dir, "customer")
        .withColumn("h", expr("graft_polyhash(CAST(c_custkey AS STRING))"))
        .select((($"h" * 2654435761L) % P % 180000L + 90000L).as("y"),
          (($"h" * 2246822519L) % P % 360000L + 180000L).as("x"))
        .groupBy(expr("x div 2000").as("cx"), expr("y div 2000").as("cy"))
        .agg(count(lit(1)).as("n_pts"))
        .transform(graft.CacheScope.cached) // totals + both join sides
      val tot = cells.agg(sum($"n_pts").as("total"),
        count(lit(1)).as("n_cells"))
      val off = broadcast(Seq(-1, 0, 1).flatMap(ox =>
        Seq(-1, 0, 1).map(oy => (ox, oy))).toDF("ox", "oy"))
      val a = cells.select($"cx", $"cy", $"n_pts").crossJoin(off)
        .select($"cx", $"cy", $"n_pts",
          ($"cx" + $"ox").as("jx"), ($"cy" + $"oy").as("jy"))
      val b = cells.select($"cx".as("jx"), $"cy".as("jy"),
        $"n_pts".as("nb_pts"))
      a.join(b, Seq("jx", "jy"))
        .groupBy($"cx", $"cy", $"n_pts")
        .agg(sum($"nb_pts").as("neighbor_sum"))
        .crossJoin(broadcast(tot))
        .select($"cx", $"cy", $"n_pts", $"neighbor_sum",
          expr("(neighbor_sum * n_cells * 1000000) div (9 * total)")
            .as("density_ratio_ppm"),
          ($"neighbor_sum" * $"n_cells" >= lit(18L) * $"total").as("hot"))
        .orderBy($"cx", $"cy")
    },

    q("q284_share_of_parent",
      // Hierarchical share-of-parent rollup (region -> nation revenue):
      // each nation's revenue as ppm of its region and of the world — the
      // contribution readout every drill-down dashboard renders next to
      // the raw number. Revenue partial-aggregates on the customer join
      // key, dims broadcast, and BOTH share windows run on the
      // nation-sized rollup (bounded forever) — the fact table is touched
      // exactly once. Exact cents; shares are non-negative floor
      // divisions.
      """WITH rev AS (SELECT c.c_nationkey AS nk,
        |    CAST(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey
        |  GROUP BY nk),
        |j AS (SELECT r.r_name AS region, n.n_name AS nation, rev.cents
        |  FROM rev JOIN nation n ON n.n_nationkey = rev.nk
        |  JOIN region r ON r.r_regionkey = n.n_regionkey),
        |w AS (SELECT region, nation, cents,
        |    CAST(SUM(cents) OVER (PARTITION BY region) AS BIGINT)
        |      AS region_cents,
        |    CAST(SUM(cents) OVER () AS BIGINT) AS total_cents FROM j)
        |SELECT region, nation, cents AS rev_cents,
        |  CAST((1000000 * cents) // region_cents AS BIGINT)
        |    AS share_of_region_ppm,
        |  CAST((1000000 * cents) // total_cents AS BIGINT)
        |    AS share_of_total_ppm
        |FROM w ORDER BY region, nation""") { (s, dir) =>
      import s.implicits._
      val rev = T(s, dir, "orders")
        .join(T(s, dir, "customer"), $"c_custkey" === $"o_custkey")
        .groupBy($"c_nationkey".as("nk"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long"))
          .as("cents"))
      val j = rev
        .join(broadcast(T(s, dir, "nation")), $"n_nationkey" === $"nk")
        .join(broadcast(T(s, dir, "region")),
          $"r_regionkey" === $"n_regionkey")
        .select($"r_name".as("region"), $"n_name".as("nation"), $"cents")
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      j.withColumn("region_cents",
          sum($"cents").over(Window.partitionBy($"region")))
        .withColumn("total_cents", sum($"cents").over(all))
        .select($"region", $"nation", $"cents".as("rev_cents"),
          expr("(1000000 * cents) div region_cents")
            .as("share_of_region_ppm"),
          expr("(1000000 * cents) div total_cents")
            .as("share_of_total_ppm"))
        .orderBy($"region", $"nation")
    },

    q("q285_personalized_pagerank",
      // Personalized PageRank (random walk with restart) from a seed set —
      // the graph-proximity primitive behind "suppliers related to THESE
      // suppliers" recommendations, vs q168's global rank. Same rank-
      // selected co-supply edges as q261 (the fixture graph is complete,
      // so edges are the top-30% by weight); alpha = 0.15 teleports to the
      // SEEDS only. All-integer mass (micro units, m' = 150000*seed +
      // (850000 * sum_in(m DIV deg)) DIV 1e6), 3 unrolled power
      // iterations, each one equi join + one keyed aggregation with the
      // node-sized degree table riding the join — q168's discipline on a
      // personalized walk. Top-20 by (mass, id).
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS p
        |  FROM lineitem),
        |w AS (SELECT a.p AS s1, b.p AS s2, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY s1, s2),
        |r AS (SELECT s1, s2, ROW_NUMBER() OVER (ORDER BY c DESC, s1, s2) rn,
        |    COUNT(*) OVER () nw FROM w),
        |e0 AS (SELECT s1, s2 FROM r WHERE rn * 10 <= 3 * nw),
        |adj AS (SELECT s1 AS u, s2 AS v FROM e0
        |  UNION ALL SELECT s2, s1 FROM e0),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
        |nodes AS (SELECT u, d,
        |    CASE WHEN u % 10 = 0 THEN 1 ELSE 0 END AS seed FROM deg),
        |m0 AS (SELECT u, d, seed, CAST(seed * 1000000 AS BIGINT) AS m
        |  FROM nodes),
        |i1 AS (SELECT n.u, n.d, n.seed,
        |    150000 * n.seed + (850000 * COALESCE(SUM(s.m // s.d), 0))
        |      // 1000000 AS m
        |  FROM nodes n LEFT JOIN adj ON adj.v = n.u
        |    LEFT JOIN m0 s ON s.u = adj.u
        |  GROUP BY n.u, n.d, n.seed),
        |i2 AS (SELECT n.u, n.d, n.seed,
        |    150000 * n.seed + (850000 * COALESCE(SUM(s.m // s.d), 0))
        |      // 1000000 AS m
        |  FROM nodes n LEFT JOIN adj ON adj.v = n.u
        |    LEFT JOIN i1 s ON s.u = adj.u
        |  GROUP BY n.u, n.d, n.seed),
        |i3 AS (SELECT n.u, n.d, n.seed,
        |    150000 * n.seed + (850000 * COALESCE(SUM(s.m // s.d), 0))
        |      // 1000000 AS m
        |  FROM nodes n LEFT JOIN adj ON adj.v = n.u
        |    LEFT JOIN i2 s ON s.u = adj.u
        |  GROUP BY n.u, n.d, n.seed)
        |SELECT u AS supplier, CAST(seed AS BIGINT) AS is_seed,
        |  d AS degree, CAST(m AS BIGINT) AS ppr_micro
        |FROM i3 ORDER BY ppr_micro DESC, supplier LIMIT 20""") { (s, dir) =>
      import s.implicits._
      val li = T(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_suppkey".as("p")).distinct()
      val wts = li.as("a")
        .join(li.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
        .groupBy($"a.p".as("s1"), $"b.p".as("s2"))
        .agg(count(lit(1)).as("c"))
      val e0 = topWeightEdges(wts)
      val adj = e0.select($"s1".as("u"), $"s2".as("v"))
        .unionAll(e0.select($"s2".as("u"), $"s1".as("v")))
        .transform(graft.CacheScope.cached) // reused every iteration
      val nodes = adj.groupBy($"u").agg(count(lit(1)).as("d"))
        .withColumn("seed", when($"u" % 10 === 0, 1L).otherwise(0L))
        .transform(graft.CacheScope.cached)
      // both joins hint the node-sized side BROADCAST explicitly: the
      // iterate is lineage-truncated below, and a checkpointed frame has
      // no size estimate (LogicalRDD defaults to "huge"), which silently
      // flipped these to shuffle joins of the cached edge list
      def step(m: DataFrame): DataFrame = {
        val inflow = broadcast(m.select($"u".as("src"), expr("m div d").as("c")))
          .join(adj, $"src" === $"u")
          .groupBy($"v".as("u")).agg(sum($"c").as("inflow"))
        nodes.join(broadcast(inflow), Seq("u"), "left")
          .select($"u", $"d", $"seed",
            (lit(150000L) * $"seed" +
              expr("(850000 * COALESCE(inflow, 0)) div 1000000")).as("m"))
      }
      val m0 = nodes.withColumn("m", $"seed" * 1000000L)
      // intermediate iterates lineage-truncated (q229/q457 discipline);
      // the last step stays lazy so the audited plan keeps its join shape
      val m3 = step(graft.CacheScope.checkpointed(
        step(graft.CacheScope.checkpointed(step(m0)))))
      m3.select($"u".as("supplier"), $"seed".as("is_seed"),
          $"d".as("degree"), $"m".cast("long").as("ppr_micro"))
        .orderBy($"ppr_micro".desc, $"supplier").limit(20)
    },

    q("q289_weighted_median",
      // Weighted order statistics: quantity-weighted median and P90 of
      // the unit price per return flag — the fair-aggregate form (each
      // unit sold votes, not each line) that plain percentile_cont can't
      // express. Exact integers: prices compact to cents, weights to
      // integer units, and the quantile is the smallest price whose
      // cumulative weight crosses the threshold (2*cum >= total for the
      // median, 10*cum >= 9*total for P90) — cross-multiplied, no float
      // boundary. The cumulative window runs per flag over the COMPACTED
      // price domain, never raw lineitems.
      """WITH g AS (SELECT l_returnflag AS flag,
        |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c,
        |    CAST(SUM(CAST(FLOOR(l_quantity + 0.5) AS BIGINT)) AS BIGINT)
        |      AS w
        |  FROM lineitem GROUP BY flag, price_c),
        |c AS (SELECT flag, price_c, w,
        |    SUM(w) OVER (PARTITION BY flag ORDER BY price_c) AS cum,
        |    SUM(w) OVER (PARTITION BY flag) AS total FROM g)
        |SELECT flag, CAST(MIN(total) AS BIGINT) AS total_weight,
        |  CAST(MIN(CASE WHEN 2 * cum >= total THEN price_c END) AS BIGINT)
        |    AS median_price_c,
        |  CAST(MIN(CASE WHEN 10 * cum >= 9 * total THEN price_c END)
        |    AS BIGINT) AS p90_price_c
        |FROM c GROUP BY flag ORDER BY flag""") { (s, dir) =>
      import s.implicits._
      val g = T(s, dir, "lineitem")
        .groupBy($"l_returnflag".as("flag"),
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("price_c"))
        .agg(sum(floor($"l_quantity" + 0.5).cast("long")).as("w"))
      val wc = Window.partitionBy($"flag").orderBy($"price_c")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy($"flag")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("cum", sum($"w").over(wc))
        .withColumn("total", sum($"w").over(wt))
        .groupBy($"flag")
        .agg(min($"total").as("total_weight"),
          min(when(lit(2) * $"cum" >= $"total", $"price_c"))
            .as("median_price_c"),
          min(when(lit(10) * $"cum" >= lit(9) * $"total", $"price_c"))
            .as("p90_price_c"))
        .orderBy($"flag")
    },

    q("q316_assortativity",
      // Degree assortativity of the co-supply graph (Newman 2002): the
      // Pearson correlation of endpoint degrees over directed edge stubs —
      // positive means hubs link hubs (social shape), negative means
      // hub-and-spoke (infrastructure shape); the one-number structure
      // diagnostic that tells you which skew strategy the graph's joins
      // need. Degrees come from one aggregation, ride the edge list in a
      // keyed join, and the moments are exact DECIMAL(38,0)/HUGEINT sums
      // feeding ONE trailing IEEE chain.
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS p
        |  FROM lineitem),
        |w AS (SELECT a.p AS s1, b.p AS s2, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY s1, s2),
        |r AS (SELECT s1, s2, ROW_NUMBER() OVER (ORDER BY c DESC, s1, s2) rn,
        |    COUNT(*) OVER () nw FROM w),
        |e0 AS (SELECT s1, s2 FROM r WHERE rn * 10 <= 3 * nw),
        |adj AS (SELECT s1 AS u, s2 AS v FROM e0
        |  UNION ALL SELECT s2, s1 FROM e0),
        |deg AS (SELECT u, CAST(COUNT(*) AS BIGINT) AS d FROM adj GROUP BY u),
        |st AS (SELECT du.d AS x, dv.d AS y FROM adj
        |  JOIN deg du ON du.u = adj.u JOIN deg dv ON dv.u = adj.v),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x*y) AS HUGEINT) AS sxy,
        |    CAST(SUM(x*x) AS HUGEINT) AS sxx,
        |    CAST(SUM(y*y) AS HUGEINT) AS syy FROM st)
        |SELECT CAST(n AS BIGINT) AS n_stubs,
        |  CAST(FLOOR(CAST(n*sxy - sx*sy AS DOUBLE)
        |    / sqrt(CAST(n*sxx - sx*sx AS DOUBLE)
        |           * CAST(n*syy - sy*sy AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) AS assortativity_ppm
        |FROM m""") { (s, dir) =>
      import s.implicits._
      val D = "DECIMAL(38,0)"
      val li = T(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_suppkey".as("p")).distinct()
      val wts = li.as("a")
        .join(li.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
        .groupBy($"a.p".as("s1"), $"b.p".as("s2"))
        .agg(count(lit(1)).as("c"))
      val e0 = topWeightEdges(wts)
      val adj = e0.select($"s1".as("u"), $"s2".as("v"))
        .unionAll(e0.select($"s2".as("u"), $"s1".as("v")))
        .transform(graft.CacheScope.cached) // degrees + stub join
      val deg = adj.groupBy($"u").agg(count(lit(1)).as("d"))
        .transform(graft.CacheScope.cached) // both stub ends
      adj
        .join(broadcast(deg.select($"u".as("ju"), $"d".as("x"))),
          $"ju" === adj("u"))
        .join(broadcast(deg.select($"u".as("jv"), $"d".as("y"))),
          $"jv" === adj("v"))
        .agg(count(lit(1)).cast(D).as("n"),
          sum($"x").cast(D).as("sx"), sum($"y").cast(D).as("sy"),
          sum(($"x" * $"y").cast(D)).as("sxy"),
          sum(($"x" * $"x").cast(D)).as("sxx"),
          sum(($"y" * $"y").cast(D)).as("syy"))
        .select($"n".cast("long").as("n_stubs"),
          expr("CAST(FLOOR(CAST(n*sxy - sx*sy AS DOUBLE) " +
            "/ sqrt(CAST(n*sxx - sx*sx AS DOUBLE) " +
            "* CAST(n*syy - sy*sy AS DOUBLE)) " +
            "* 1000000.0 + 0.5) AS BIGINT)").as("assortativity_ppm"))
    },

    q("q317_modularity",
      // Modularity of the nation partition on the co-supply graph — does
      // geography actually explain the graph's community structure, the
      // yes/no a label-based segmentation needs before anyone trusts it.
      // Exact rational form: Q*4m^2 = Sum_c (4m*e_cc - d_c^2), emitted as
      // a SHIFTED floor division in ppm (Q can be negative — q264's
      // positive-operand trick). Edge endpoints pick up their community
      // from the broadcast supplier dimension; within-community edges and
      // community degree sums are two keyed aggregations on the bounded
      // community table.
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_suppkey AS p
        |  FROM lineitem),
        |w AS (SELECT a.p AS s1, b.p AS s2, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p GROUP BY s1, s2),
        |r AS (SELECT s1, s2, ROW_NUMBER() OVER (ORDER BY c DESC, s1, s2) rn,
        |    COUNT(*) OVER () nw FROM w),
        |e0 AS (SELECT s1, s2 FROM r WHERE rn * 10 <= 3 * nw),
        |lab AS (SELECT s_suppkey, CAST(s_nationkey AS BIGINT) AS com
        |  FROM supplier),
        |el AS (SELECT la.com AS ca, lb.com AS cb FROM e0
        |  JOIN lab la ON la.s_suppkey = e0.s1
        |  JOIN lab lb ON lb.s_suppkey = e0.s2),
        |mm AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM el),
        |ecc AS (SELECT ca AS com, CAST(COUNT(*) AS BIGINT) AS e_in
        |  FROM el WHERE ca = cb GROUP BY ca),
        |dc AS (SELECT com, CAST(SUM(cnt) AS BIGINT) AS d FROM (
        |  SELECT ca AS com, CAST(COUNT(*) AS BIGINT) AS cnt FROM el
        |    GROUP BY ca
        |  UNION ALL SELECT cb, CAST(COUNT(*) AS BIGINT) FROM el GROUP BY cb)
        |  GROUP BY com),
        |s AS (SELECT CAST(SUM(4 * mm.m * COALESCE(ecc.e_in, 0)
        |    - dc.d * dc.d) AS BIGINT) AS num, CAST(MIN(mm.m) AS BIGINT) AS m
        |  FROM dc LEFT JOIN ecc ON ecc.com = dc.com, mm)
        |SELECT m AS n_edges,
        |  CAST((CAST(1000000 AS HUGEINT) * (num + 4*m*m)) // (4*m*m)
        |    - 1000000 AS BIGINT) AS modularity_ppm
        |FROM s""") { (s, dir) =>
      import s.implicits._
      val li = T(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_suppkey".as("p")).distinct()
      val wts = li.as("a")
        .join(li.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
        .groupBy($"a.p".as("s1"), $"b.p".as("s2"))
        .agg(count(lit(1)).as("c"))
      val e0 = topWeightEdges(wts)
      val lab = T(s, dir, "supplier")
        .select($"s_suppkey", $"s_nationkey".cast("long").as("com"))
      val el = e0
        .join(broadcast(lab.select($"s_suppkey".as("s1"),
          $"com".as("ca"))), Seq("s1"))
        .join(broadcast(lab.select($"s_suppkey".as("s2"),
          $"com".as("cb"))), Seq("s2"))
        .select($"ca", $"cb")
        .transform(graft.CacheScope.cached) // m + e_cc + degree sums
      val mm = el.agg(count(lit(1)).as("m"))
      val ecc = el.filter($"ca" === $"cb")
        .groupBy($"ca".as("com")).agg(count(lit(1)).as("e_in"))
      val dc = el.groupBy($"ca".as("com")).agg(count(lit(1)).as("cnt"))
        .unionAll(el.groupBy($"cb".as("com")).agg(count(lit(1)).as("cnt")))
        .groupBy($"com").agg(sum($"cnt").as("d"))
      dc.join(broadcast(ecc), Seq("com"), "left")
        .withColumn("e_in", coalesce($"e_in", lit(0L)))
        .crossJoin(broadcast(mm))
        .agg(sum(lit(4L) * $"m" * $"e_in" - $"d" * $"d").as("num"),
          min($"m").as("m"))
        .select($"m".as("n_edges"),
          // the ONE big product widened through DECIMAL(38,0) (q262's
          // rule): at real sf1.0 m ~ 1.5e7 edges puts 1e6 * 4m^2 ~ 9e20
          // past Long (found by the round-11 full sf1.0 verify run);
          // num + 4m^2 >= 0 (sum d_c^2 <= (sum d_c)^2 = 4m^2) so floor
          // division stays sign-safe, and DuckDB's side is HUGEINT
          // arithmetic already. IntegralDivide on decimals returns LONG.
          expr("(CAST(1000000 AS DECIMAL(38,0)) * CAST(num + 4*m*m AS DECIMAL(38,0))) div CAST(4*m*m AS DECIMAL(38,0)) - 1000000")
            .as("modularity_ppm"))
    },

    q("q322_capped_common_neighbors",
      // Hub-capped wedge join — the bounded-fan-out variant of q261's
      // common-neighbor counting that survives power-law hubs: every
      // node's adjacency is truncated to its top-8 neighbors by
      // (co-supply weight DESC, neighbor id) BEFORE the wedge join, so
      // the per-center fan-out is <= 8 and total wedge volume is
      // <= 8 x capped-edges at ANY graph size (a single million-degree
      // hub otherwise contributes 10^12 wedges on its own). The cap is a
      // per-node PARTITIONED window — embarrassingly parallel — and the
      // capped count is a lower bound on the true common-neighbor count
      // that preserves the strongest-tie structure (the standard
      // top-k-neighbors sparsification used by large-scale similarity
      // graphs). Deterministic (cn DESC, pair) top-20; the oracle runs
      // the identical capped definition, so the gate checks the whole
      // cap-then-wedge pipeline cross-engine.
      """WITH li AS (SELECT DISTINCT l_orderkey, l_suppkey FROM lineitem),
        |w AS (SELECT a.l_suppkey AS s1, b.l_suppkey AS s2,
        |    CAST(COUNT(*) AS BIGINT) c
        |  FROM li a JOIN li b ON a.l_orderkey = b.l_orderkey
        |    AND a.l_suppkey < b.l_suppkey
        |  GROUP BY s1, s2),
        |adj AS (SELECT s1 AS u, s2 AS v, c FROM w
        |  UNION ALL SELECT s2, s1, c FROM w),
        |cap AS (SELECT u, v FROM (SELECT u, v,
        |    ROW_NUMBER() OVER (PARTITION BY u ORDER BY c DESC, v) rn
        |  FROM adj) WHERE rn <= 8),
        |wed AS (SELECT a.v AS x, b.v AS y, CAST(COUNT(*) AS BIGINT) cn
        |  FROM cap a JOIN cap b ON a.u = b.u AND a.v < b.v
        |  GROUP BY x, y)
        |SELECT x AS s_a, y AS s_b, cn AS capped_common_neighbors
        |FROM wed ORDER BY cn DESC, s_a, s_b LIMIT 20""") { (s, dir) =>
      import s.implicits._
      val li = T(s, dir, "lineitem")
        .select($"l_orderkey", $"l_suppkey").distinct()
      val wts = li.as("a")
        .join(li.as("b"),
          $"a.l_orderkey" === $"b.l_orderkey" && $"a.l_suppkey" < $"b.l_suppkey")
        .groupBy($"a.l_suppkey".as("s1"), $"b.l_suppkey".as("s2"))
        .agg(count(lit(1)).as("c"))
      val cap = cappedAdjacency(wts, 8)
        .transform(graft.CacheScope.cached) // both wedge sides
      cap.as("a")
        .join(cap.as("b"), $"a.u" === $"b.u" && $"a.v" < $"b.v")
        .groupBy($"a.v".as("s_a"), $"b.v".as("s_b"))
        .agg(count(lit(1)).as("capped_common_neighbors"))
        .orderBy($"capped_common_neighbors".desc, $"s_a", $"s_b")
        .limit(20)
    },

    q("q460_label_spreading", {
      // One unrolled round of the oracle: votes from labeled neighbors,
      // majority with the (count DESC, label ASC) tie-break, seeds clamped.
      def round(t: Int): String =
        s"""v$t AS (SELECT e.b AS node, l.label, COUNT(*) AS cnt
           |  FROM sym e JOIN l${t - 1} l ON l.node = e.a
           |  WHERE l.label IS NOT NULL GROUP BY e.b, l.label),
           |p$t AS (SELECT node, label FROM (SELECT node, label,
           |    ROW_NUMBER() OVER (PARTITION BY node
           |      ORDER BY cnt DESC, label) AS rn FROM v$t) WHERE rn = 1),
           |l$t AS (SELECT l.node, COALESCE(l.label, p.label) AS label,
           |    CASE WHEN l.at IS NOT NULL THEN l.at
           |      WHEN p.label IS NOT NULL THEN $t END AS at
           |  FROM l${t - 1} l LEFT JOIN p$t p ON p.node = l.node)"""
      s"""WITH n AS (SELECT doc_id AS node FROM documents),
         |e0 AS (SELECT a.node AS a, b.node AS b FROM n a JOIN n b
         |    ON b.node = a.node + 1 AND a.node // 40 = b.node // 40
         |  UNION ALL SELECT a.node, b.node FROM n a JOIN n b
         |    ON b.node = a.node + 7 AND a.node // 40 = b.node // 40),
         |sym AS (SELECT a, b FROM e0 UNION ALL SELECT b, a FROM e0),
         |l0 AS (SELECT node,
         |    CASE WHEN node % 40 = 0 THEN (node // 40) % 3 END AS label,
         |    CASE WHEN node % 40 = 0 THEN 0 END AS at FROM n),
         |${round(1)},
         |${round(2)},
         |${round(3)}
         |SELECT node AS doc_id,
         |  CAST(COALESCE(label, -1) AS BIGINT) AS label,
         |  CAST(COALESCE(at, -1) AS BIGINT) AS labeled_at
         |FROM l3 ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Seeded label spreading (TrustRank-style semi-supervised
      // propagation): a small labeled seed set (one per 40-node block,
      // class = block % 3) spreads over a planted ring+chord graph in 3
      // SYNCHRONOUS rounds — unlabeled nodes take the majority label of
      // their already-labeled neighbors under the deterministic
      // (count DESC, label ASC) tie-break; seeds stay clamped. The
      // curation use: propagate a handful of human trust/quality labels
      // over a document-similarity graph without rescoring everything.
      // Differs from q106/q457 (connected components: label = MIN, runs
      // to convergence) — here labels are CLASSES, votes have
      // multiplicities, rounds are budgeted, and unreached nodes stay
      // unlabeled (labeled_at = -1 records the propagation frontier).
      // Each round = one edge-keyed equi join + one (node,label) count +
      // one node-keyed window — all keyed shuffles; nothing global. At
      // 100 TB rounds are O(edges) each and the frontier check bounds
      // wasted work; AnalyticsSpec pins the output against a from-scratch
      // BFS over the planted topology.
      val n = T(s, dir, "documents").select($"doc_id".as("node"))
        .transform(graft.CacheScope.cached)
      val e0 = n.as("a").join(n.as("b"),
          $"b.node" === $"a.node" + 1 &&
            expr("a.node div 40") === expr("b.node div 40"))
        .select($"a.node".as("a"), $"b.node".as("b"))
        .unionAll(n.as("a").join(n.as("b"),
            $"b.node" === $"a.node" + 7 &&
              expr("a.node div 40") === expr("b.node div 40"))
          .select($"a.node".as("a"), $"b.node".as("b")))
      val sym = e0.unionAll(e0.select($"b".as("a"), $"a".as("b")))
        .transform(graft.CacheScope.cached)
      var labels = n.select($"node",
        when($"node" % 40 === 0, expr("(node div 40) % 3")).as("label"),
        when($"node" % 40 === 0, lit(0L)).as("at"))
      for (t <- 1 to 3) {
        val votes = sym.as("e")
          .join(labels.filter($"label".isNotNull).as("l"),
            $"l.node" === $"e.a")
          .groupBy($"e.b".as("node"), $"l.label".as("vlabel"))
          .agg(count(lit(1)).as("cnt"))
        val pick = votes.withColumn("rn", row_number().over(
            Window.partitionBy($"node").orderBy($"cnt".desc, $"vlabel")))
          .filter($"rn" === 1).select($"node".as("pnode"), $"vlabel")
        // checkpoint between rounds (the q229/q195 iterative discipline):
        // chaining three join+window rounds in one lazy tree makes every
        // downstream action re-analyze the whole unrolled plan. The LAST
        // round stays lazy so the final plan keeps its join/window shape
        // for PlanAudit's pins (same convention as q229/q195).
        val next = labels.join(pick, $"node" === $"pnode", "left")
          .select($"node", coalesce($"label", $"vlabel").as("label"),
            when($"at".isNotNull, $"at")
              .when($"vlabel".isNotNull, lit(t.toLong)).as("at"))
        labels = if (t < 3) graft.CacheScope.checkpointed(next) else next
      }
      labels.select($"node".as("doc_id"),
          coalesce($"label", lit(-1L)).cast("long").as("label"),
          coalesce($"at", lit(-1L)).cast("long").as("labeled_at"))
        .orderBy($"doc_id")
    },

    q("q472_key_skew_profile",
      // Key-skew profiler — the diagnosis a team runs BEFORE reaching for
      // q89's salting: bucket every join/agg key by floor(log2(group
      // size)) and read the histogram. Two keyings of the same events
      // share the output: the natural user_id (healthy — sizes
      // concentrate in adjacent buckets) and a 'hubbed' keying that
      // funnels every tenth user into one key (the pathology — a lone
      // top bucket holding a corpus-scale share of rows while holding
      // ONE key). log2 comes from length(bin(n)) - 1, integer-exact in
      // both engines — never floor(ln/ln2), whose float boundary at
      // exact powers of two is the classic off-by-one. Two keyed
      // aggregations to key-sized tables, then a bucket rollup bounded
      // by 64 rows per keying; the profile costs one groupBy at any
      // corpus size.
      """WITH nk AS (SELECT user_id AS k, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id),
        |hk AS (SELECT CASE WHEN user_id % 10 = 0 THEN -1 ELSE user_id END
        |    AS k, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY 1),
        |u AS (SELECT 'natural' AS key_kind, k, n FROM nk
        |  UNION ALL SELECT 'hubbed', k, n FROM hk),
        |b AS (SELECT key_kind, CAST(length(bin(n)) - 1 AS BIGINT)
        |    AS bucket, k, n FROM u),
        |t AS (SELECT key_kind, CAST(SUM(n) AS BIGINT) AS total
        |  FROM b GROUP BY key_kind)
        |SELECT b.key_kind, b.bucket,
        |  CAST(COUNT(*) AS BIGINT) AS n_keys,
        |  CAST(SUM(b.n) AS BIGINT) AS n_rows,
        |  CAST((SUM(b.n) * 1000000) // MIN(t.total) AS BIGINT) AS rows_ppm,
        |  CAST(MIN(b.n) AS BIGINT) AS min_size,
        |  CAST(MAX(b.n) AS BIGINT) AS max_size
        |FROM b JOIN t ON t.key_kind = b.key_kind
        |GROUP BY b.key_kind, b.bucket
        |ORDER BY b.key_kind, b.bucket""") { (s, dir) =>
      import s.implicits._
      val ev = T(s, dir, "events").select($"user_id")
        .transform(graft.CacheScope.cached)
      val nk = ev.groupBy($"user_id".as("k")).agg(count(lit(1)).as("n"))
        .select(lit("natural").as("key_kind"), $"k", $"n")
      val hk = ev.select(when($"user_id" % 10 === 0, -1L)
          .otherwise($"user_id").as("k"))
        .groupBy($"k").agg(count(lit(1)).as("n"))
        .select(lit("hubbed").as("key_kind"), $"k", $"n")
      val b = nk.unionAll(hk)
        .withColumn("bucket", expr("CAST(length(bin(n)) - 1 AS BIGINT)"))
        .transform(graft.CacheScope.cached)
      val t = b.groupBy($"key_kind").agg(sum($"n").as("total"))
        .withColumnRenamed("key_kind", "t_kind")
      b.join(broadcast(t), $"key_kind" === $"t_kind")
        .groupBy($"key_kind", $"bucket")
        .agg(count(lit(1)).as("n_keys"), sum($"n").as("n_rows"),
          expr("CAST((SUM(n) * 1000000) div MIN(total) AS BIGINT)")
            .as("rows_ppm"),
          min($"n").as("min_size"), max($"n").as("max_size"))
        .orderBy($"key_kind", $"bucket")
    },
  )

  /** Per-node top-k adjacency sparsification: symmetrize the weighted pair
    * table and keep each node's k strongest neighbors by (weight DESC,
    * neighbor id). The rank window partitions by node — no global pass —
    * and caps every downstream wedge fan-out at k, which is what keeps
    * wedge volume <= k·|capped edges| no matter how extreme the degree
    * distribution gets (q322; probed at runtime by PlanAudit on a planted
    * hub).
    */
  private[graft] def cappedAdjacency(wts: DataFrame, k: Int): DataFrame = {
    val s = wts.sparkSession
    import s.implicits._
    val adj = wts.select($"s1".as("u"), $"s2".as("v"), $"c")
      .unionAll(wts.select($"s2".as("u"), $"s1".as("v"), $"c"))
    adj.withColumn("rn", row_number().over(
        Window.partitionBy($"u").orderBy($"c".desc, $"v")))
      .filter($"rn" <= k)
      .select($"u", $"v")
  }
}
