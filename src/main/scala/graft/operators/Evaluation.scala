package graft.operators

import graft.ColFns._
import graft.QueryDef.q
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Model-evaluation and experiment-analytics operators: the readouts a
  * training-data pipeline runs AFTER curation to decide whether a quality
  * classifier, a labeling rule, or a data mix actually works — ROC AUC,
  * calibration bins, inter-annotator agreement, burst detection, and
  * association rules. The reference delegates all such computation to user
  * handlers (`/root/reference/lib/consumer.ex:283-299` — a handler is an
  * arbitrary fold over the stream); the engine owns them as first-class,
  * oracle-checked operators.
  *
  * Numeric discipline: every statistic is computed from exact BIGINT
  * counts/rank-sums (order-independent), with ONE trailing IEEE division
  * per output value, r6-rounded — the q126/q142 playbook, so Spark and
  * DuckDB agree bit-for-bit.
  */
object Evaluation {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Shared oracle for q402/q410: the streaming twin must hash-match the
    * batch estimator verbatim, so both declare the SAME SQL.
    */
  private val passAtKOracleSql: String =
    """WITH RECURSIVE s AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS c
        |  FROM events GROUP BY user_id),
        |ks AS (SELECT CAST(unnest([1, 5, 10]) AS BIGINT) AS k),
        |sk AS (SELECT s.user_id, s.n, s.c, ks.k FROM s, ks WHERE s.n >= ks.k),
        |it AS (
        |  SELECT user_id, n, c, k, CAST(0 AS BIGINT) AS i,
        |    CAST(1000000000000 AS BIGINT) AS acc,
        |    CAST(1000000000000 AS BIGINT) AS nacc
        |  FROM sk
        |  UNION ALL
        |  SELECT user_id, n, c, k, i + 1,
        |    (acc * GREATEST(n - c - i, 0)) // (n - i),
        |    (nacc * (n - c)) // n
        |  FROM it WHERE i < k),
        |f AS (SELECT user_id, k,
        |    1000000 - acc // 1000000 AS pass_ppm,
        |    1000000 - nacc // 1000000 AS naive_ppm
        |  FROM it WHERE i = k)
        |SELECT k, CAST(COUNT(*) AS BIGINT) AS problems,
        |  CAST(SUM(pass_ppm) // COUNT(*) AS BIGINT) AS mean_pass_ppm,
        |  CAST(SUM(naive_ppm) // COUNT(*) AS BIGINT) AS mean_naive_ppm,
        |  CAST(SUM(pass_ppm) // COUNT(*) - SUM(naive_ppm) // COUNT(*)
        |    AS BIGINT) AS bias_ppm
        |FROM f GROUP BY k ORDER BY k"""

  /** Shared hypergeometric pass@k readout over a per-problem
    * (user_id, n, c) frame — q402 feeds it a batch groupBy, q410 the
    * streamed state snapshot. One copy of the recurrence, so the twins
    * cannot drift.
    */
  private def passAtKReadout(s: SparkSession, perProblem: DataFrame): DataFrame = {
      import s.implicits._
      val ks = Seq(1L, 5L, 10L).toDF("k")
      perProblem.crossJoin(broadcast(ks)).where($"n" >= $"k")
        .withColumn("accs", expr(
          """aggregate(sequence(CAST(0 AS BIGINT), k - 1),
            |  named_struct('a', CAST(1000000000000 AS BIGINT),
            |               'na', CAST(1000000000000 AS BIGINT)),
            |  (acc, i) -> named_struct(
            |    'a', (acc.a * GREATEST(n - c - i, CAST(0 AS BIGINT))) div (n - i),
            |    'na', (acc.na * (n - c)) div n))""".stripMargin))
        .select($"k",
          (lit(1000000L) - expr("accs.a div 1000000")).as("pass_ppm"),
          (lit(1000000L) - expr("accs.na div 1000000")).as("naive_ppm"))
        .groupBy($"k")
        .agg(count(lit(1)).as("problems"),
          expr("SUM(pass_ppm) div COUNT(1)").as("mean_pass_ppm"),
          expr("SUM(naive_ppm) div COUNT(1)").as("mean_naive_ppm"))
        .select($"k", $"problems", $"mean_pass_ppm", $"mean_naive_ppm",
          ($"mean_pass_ppm" - $"mean_naive_ppm").as("bias_ppm"))
        .orderBy($"k")
  }

  val defs: Seq[QueryDef] = Seq(

    q("q211_roc_auc",
      // Mann-Whitney rank-sum AUC with exact tie handling: per distinct
      // score, 2x(average rank) = 2*cum - cnt + 1 is an INTEGER, so the
      // whole rank-sum stays in BIGINT; AUC is one double division.
      s"""WITH e AS (SELECT value AS score,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         |  FROM events),
         |g AS (SELECT score, COUNT(*) AS cnt, SUM(pos) AS pos
         |  FROM e GROUP BY score),
         |r AS (SELECT *, SUM(cnt) OVER (ORDER BY score) AS cum FROM g),
         |a AS (SELECT CAST(SUM(pos * (2*cum - cnt + 1)) AS BIGINT) AS r2,
         |    CAST(SUM(pos) AS BIGINT) AS npos,
         |    CAST(SUM(cnt) - SUM(pos) AS BIGINT) AS nneg
         |  FROM r)
         |SELECT npos, nneg,
         |  ${r6Sql("CAST(r2 - npos*(npos+1) AS DOUBLE) / CAST(2*npos*nneg AS DOUBLE)")} AS auc
         |FROM a""") { (s, dir) =>
      import s.implicits._
      // Does `value` predict a purchase? AUC via the rank-sum identity:
      // AUC = (R_pos - npos(npos+1)/2) / (npos*nneg), ties at average rank.
      // The window runs over the per-SCORE compacted table (one row per
      // distinct 2-decimal value — bounded domain, NOT corpus-sized), so
      // the single-partition rank pass is a few KB however large the event
      // log is; the heavy lifting is the groupBy, which scales.
      val e = T(s, dir, "events").select($"value".as("score"),
        when($"event_type" === "purchase", 1L).otherwise(0L).as("pos"))
      val g = e.groupBy($"score")
        .agg(count(lit(1)).as("cnt"), sum($"pos").as("pos"))
      val r = g.withColumn("cum",
        sum($"cnt").over(Window.orderBy($"score")))
      r.agg(
          sum($"pos" * (lit(2) * $"cum" - $"cnt" + 1)).as("r2"),
          sum($"pos").as("npos"),
          (sum($"cnt") - sum($"pos")).as("nneg"))
        .select($"npos", $"nneg",
          r6(($"r2" - $"npos" * ($"npos" + 1)).cast("double") /
            (lit(2) * $"npos" * $"nneg").cast("double")).as("auc"))
    },

    q("q212_calibration_bins",
      // Reliability diagram: predicted probability = cume_dist of the score
      // (an exact rational cum/n), decile-binned by INTEGER division
      // (10*cum) DIV n — no float boundary ambiguity at bin edges.
      s"""WITH e AS (SELECT value AS score,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         |  FROM events),
         |g AS (SELECT score, COUNT(*) AS cnt, SUM(pos) AS pos
         |  FROM e GROUP BY score),
         |r AS (SELECT *, SUM(cnt) OVER (ORDER BY score) AS cum,
         |    SUM(cnt) OVER () AS n FROM g),
         |b AS (SELECT LEAST((10*cum) // n, 9) AS bin, cnt, pos, cum, n FROM r)
         |SELECT CAST(bin AS BIGINT) AS bin,
         |  CAST(SUM(cnt) AS BIGINT) AS n_events,
         |  CAST(SUM(pos) AS BIGINT) AS n_pos,
         |  ${r6Sql("CAST(SUM(cnt*cum) AS DOUBLE) / CAST(MIN(n)*SUM(cnt) AS DOUBLE)")} AS pred_mean,
         |  ${r6Sql("CAST(SUM(pos) AS DOUBLE) / CAST(SUM(cnt) AS DOUBLE)")} AS obs_rate
         |FROM b GROUP BY bin ORDER BY bin""") { (s, dir) =>
      import s.implicits._
      // A calibrated score has pred_mean ~ obs_rate per bin. All bin
      // statistics are exact integer sums; the two output rates are one
      // IEEE division each. Window over the per-score compacted table
      // (bounded domain) as in q211.
      val e = T(s, dir, "events").select($"value".as("score"),
        when($"event_type" === "purchase", 1L).otherwise(0L).as("pos"))
      val g = e.groupBy($"score")
        .agg(count(lit(1)).as("cnt"), sum($"pos").as("pos"))
      val r = g
        .withColumn("cum", sum($"cnt").over(Window.orderBy($"score")))
        .withColumn("n", sum($"cnt").over(
          Window.partitionBy().rowsBetween(Window.unboundedPreceding,
            Window.unboundedFollowing)))
      r.withColumn("bin", least(expr("(10*cum) div n"), lit(9)))
        .groupBy($"bin")
        .agg(sum($"cnt").as("n_events"), sum($"pos").as("n_pos"),
          r6(sum($"cnt" * $"cum").cast("double") /
            (min($"n") * sum($"cnt")).cast("double")).as("pred_mean"),
          r6(sum($"pos").cast("double") /
            sum($"cnt").cast("double")).as("obs_rate"))
        .orderBy($"bin")
    },

    q("q213_cohens_kappa",
      // Two deterministic rule annotators on documents; kappa from the
      // integer confusion matrix in single-division form:
      // kappa = (n*(n11+n00) - (a1*b1 + a0*b0)) / (n*n - (a1*b1 + a0*b0)).
      s"""WITH l AS (SELECT
         |    CASE WHEN n_chars >= 311 THEN 1 ELSE 0 END AS a,
         |    CASE WHEN LENGTH(text) - LENGTH(REPLACE(text, ' ', '')) >= 54
         |      THEN 1 ELSE 0 END AS b
         |  FROM documents),
         |c AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(a*b) AS BIGINT) AS n11,
         |    CAST(SUM(a*(1-b)) AS BIGINT) AS n10,
         |    CAST(SUM((1-a)*b) AS BIGINT) AS n01,
         |    CAST(SUM((1-a)*(1-b)) AS BIGINT) AS n00
         |  FROM l)
         |SELECT n, n11, n10, n01, n00,
         |  ${r6Sql("CAST(n*(n11+n00) - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) AS DOUBLE) / CAST(n*n - ((n11+n10)*(n11+n01) + (n01+n00)*(n10+n00)) AS DOUBLE)")} AS kappa
         |FROM c""") { (s, dir) =>
      import s.implicits._
      // Inter-annotator agreement beyond chance between a length rule and a
      // word-count rule — the QA readout for any labeling campaign. One
      // map-side pass + a single-row aggregate; trivially 100 TB-safe.
      val l = T(s, dir, "documents").select(
        when($"n_chars" >= 311, 1L).otherwise(0L).as("a"),
        when(length($"text") - length(regexp_replace($"text", " ", "")) >= 54,
          1L).otherwise(0L).as("b"))
      val c = l.agg(count(lit(1)).as("n"),
        sum($"a" * $"b").as("n11"),
        sum($"a" * (lit(1) - $"b")).as("n10"),
        sum((lit(1) - $"a") * $"b").as("n01"),
        sum((lit(1) - $"a") * (lit(1) - $"b")).as("n00"))
      val pe = ($"n11" + $"n10") * ($"n11" + $"n01") +
        ($"n01" + $"n00") * ($"n10" + $"n00")
      c.select($"n", $"n11", $"n10", $"n01", $"n00",
        r6(($"n" * ($"n11" + $"n00") - pe).cast("double") /
          ($"n" * $"n" - pe).cast("double")).as("kappa"))
    },

    q("q214_burst_detection",
      // Daily event-type counts vs the trailing 3-observed-day baseline.
      // is_burst: cnt >= 1.5x the trailing mean, tested as 2*cnt >= sum3
      // (pure integer compare — no float threshold to disagree on).
      s"""WITH d AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM events GROUP BY event_type, CAST(ts AS DATE)),
         |w AS (SELECT *,
         |    SUM(cnt) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS sum3,
         |    COUNT(*) OVER (PARTITION BY event_type ORDER BY day
         |      ROWS BETWEEN 3 PRECEDING AND 1 PRECEDING) AS c3
         |  FROM d)
         |SELECT event_type, day, cnt, CAST(sum3 AS BIGINT) AS sum3,
         |  ${r6Sql("3.0*cnt / sum3")} AS burst_ratio,
         |  CASE WHEN 2*cnt >= sum3 THEN 1 ELSE 0 END AS is_burst
         |FROM w WHERE c3 = 3 ORDER BY event_type, day""") { (s, dir) =>
      import s.implicits._
      // Emits EVERY fully-windowed day with its ratio + flag (not only
      // bursts) so the readout is non-empty at any scale and the oracle
      // checks the arithmetic everywhere. One shuffle to (type, day)
      // counts, one partitioned window pass — the day-granularity table is
      // ~|types| x |days| however many raw events feed it.
      val d = T(s, dir, "events")
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("cnt"))
      val win = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(-3, -1)
      d.withColumn("sum3", sum($"cnt").over(win))
        .withColumn("c3", count(lit(1)).over(win))
        .where($"c3" === 3)
        .select($"event_type", $"day", $"cnt", $"sum3",
          r6(lit(3.0) * $"cnt" / $"sum3").as("burst_ratio"),
          when(lit(2) * $"cnt" >= $"sum3", 1).otherwise(0).as("is_burst"))
        .orderBy($"event_type", $"day")
    },

    q("q215_association_rules",
      // Market-basket rules over orders: pair support via a per-order
      // equi self-join on the deduped (order, part) table, confidence and
      // lift from exact counts, top-20 by (lift, p1, p2) — a total order,
      // so the LIMIT is deterministic in both engines.
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem),
         |c AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY p),
         |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM b),
         |pr AS (SELECT a.p AS p1, b2.p AS p2, CAST(COUNT(*) AS BIGINT) AS pair_cnt
         |  FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
         |  GROUP BY a.p, b2.p HAVING COUNT(*) >= 3)
         |SELECT p1, p2, pair_cnt,
         |  ${r6Sql("CAST(pair_cnt AS DOUBLE) / c1.cnt")} AS confidence,
         |  ${r6Sql("CAST(n.n_orders * pair_cnt AS DOUBLE) / CAST(c1.cnt * c2.cnt AS DOUBLE)")} AS lift
         |FROM pr
         |JOIN c c1 ON c1.p = pr.p1 JOIN c c2 ON c2.p = pr.p2 CROSS JOIN n
         |ORDER BY lift DESC, p1, p2 LIMIT 20""") { (s, dir) =>
      import s.implicits._
      // Co-purchase rules p1 => p2. The self-join is an EQUI join on the
      // order key — pair expansion is bounded by basket size (quadratic in
      // items-per-order, tiny), never all-pairs across parts. Per-part
      // counts are broadcast back onto the (far smaller) surviving pairs;
      // top-20 compiles to TakeOrderedAndProject, no global sort.
      val b = T(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
        .transform(graft.CacheScope.cached) // read 4x: counts, n_orders, both self-join sides
      val c = b.groupBy($"p").agg(count(lit(1)).as("cnt"))
      val nOrders = b.agg(countDistinct($"o").as("n_orders"))
      val pairs = b.as("a")
        .join(b.as("b2"), $"a.o" === $"b2.o" && $"a.p" < $"b2.p")
        .groupBy($"a.p".as("p1"), $"b2.p".as("p2"))
        .agg(count(lit(1)).as("pair_cnt"))
        .where($"pair_cnt" >= 3)
      pairs
        .join(broadcast(c.as("c1")), $"c1.p" === $"p1")
        .join(broadcast(c.as("c2")), $"c2.p" === $"p2")
        .crossJoin(broadcast(nOrders))
        .select($"p1", $"p2", $"pair_cnt",
          r6($"pair_cnt".cast("double") / $"c1.cnt").as("confidence"),
          r6(($"n_orders" * $"pair_cnt").cast("double") /
            ($"c1.cnt" * $"c2.cnt").cast("double")).as("lift"))
        .orderBy($"lift".desc, $"p1", $"p2")
        .limit(20)
    },

    q("q220_pr_curve",
      // Precision/recall/F1 at the 9 decile thresholds of the score
      // distribution. Thresholds and all TP/PP counts come from cumulative
      // sums over the per-score COMPACTED table (q211's bounded-domain
      // discipline); each rate is one trailing IEEE division.
      s"""WITH e AS (SELECT value AS score,
         |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
         |  FROM events),
         |g AS (SELECT score, CAST(COUNT(*) AS BIGINT) AS cnt,
         |    CAST(SUM(pos) AS BIGINT) AS pos FROM e GROUP BY 1),
         |r AS (SELECT *, SUM(cnt) OVER (ORDER BY score) AS cum_cnt,
         |    SUM(pos) OVER (ORDER BY score) AS cum_pos,
         |    SUM(cnt) OVER () AS n, SUM(pos) OVER () AS npos FROM g),
         |ks AS (SELECT range AS k FROM range(1, 10)),
         |thr AS (SELECT k, MIN(score) AS thr FROM ks
         |  JOIN r ON r.cum_cnt >= (k*r.n + 9) // 10 GROUP BY k),
         |j AS (SELECT t.k, t.thr, r.cnt, r.pos, r.cum_cnt, r.cum_pos, r.n, r.npos
         |  FROM thr t JOIN r ON r.score = t.thr),
         |o AS (SELECT k, thr, npos - cum_pos + pos AS tp,
         |    n - cum_cnt + cnt AS pp, npos FROM j)
         |SELECT CAST(k AS BIGINT) AS k, thr, CAST(tp AS BIGINT) AS tp,
         |  CAST(pp AS BIGINT) AS pred_pos,
         |  ${r6Sql("CAST(tp AS DOUBLE)/CAST(pp AS DOUBLE)")} AS precision_,
         |  ${r6Sql("CAST(tp AS DOUBLE)/CAST(npos AS DOUBLE)")} AS recall_,
         |  ${r6Sql("CAST(2*tp AS DOUBLE)/CAST(pp + npos AS DOUBLE)")} AS f1
         |FROM o ORDER BY k""") { (s, dir) =>
      import s.implicits._
      // The threshold-picking readout for any quality classifier: where
      // q211 summarizes ranking power in one number, this shows the
      // operating points. "Classify positive when score >= decile-k
      // threshold" — TP and predicted-positive counts fall out of the
      // same cumulative sums that define the thresholds. The 9-row
      // threshold table meets the compacted score table in a broadcast
      // join; nothing corpus-sized shuffles twice.
      val e = T(s, dir, "events").select($"value".as("score"),
        when($"event_type" === "purchase", 1L).otherwise(0L).as("pos"))
      val g = e.groupBy($"score")
        .agg(count(lit(1)).as("cnt"), sum($"pos").as("pos"))
      val all = Window.partitionBy().rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
      val r = g
        .withColumn("cum_cnt", sum($"cnt").over(Window.orderBy($"score")))
        .withColumn("cum_pos", sum($"pos").over(Window.orderBy($"score")))
        .withColumn("n", sum($"cnt").over(all))
        .withColumn("npos", sum($"pos").over(all))
      val ks = s.range(1, 10).select($"id".as("k"))
      val thr = broadcast(ks)
        .join(r, $"cum_cnt" >= expr("(k*n + 9) div 10"))
        .groupBy($"k").agg(min($"score").as("thr"))
      val j = broadcast(thr).join(r, $"score" === $"thr")
      j.select($"k", $"thr",
          ($"npos" - $"cum_pos" + $"pos").as("tp"),
          ($"n" - $"cum_cnt" + $"cnt").as("pp"), $"npos")
        .select($"k", $"thr", $"tp", $"pp".as("pred_pos"),
          r6($"tp".cast("double") / $"pp".cast("double")).as("precision_"),
          r6($"tp".cast("double") / $"npos".cast("double")).as("recall_"),
          r6((lit(2) * $"tp").cast("double") /
            ($"pp" + $"npos").cast("double")).as("f1"))
        .orderBy($"k")
    },

    q("q221_cuped",
      // CUPED variance-reduced A/B readout: pre-period covariate x,
      // post-period metric y per user, pooled theta = cov(x,y)/var(x) from
      // BIGINT moment sums (deci-dollar units keep n*sxy far below 2^63),
      // adjusted lift = raw lift - theta * covariate imbalance.
      s"""WITH e AS (SELECT user_id,
         |    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 0 ELSE 1 END AS per,
         |    CAST(FLOOR(value*10 + 0.5) AS BIGINT) AS vd
         |  FROM events),
         |u AS (SELECT user_id,
         |    CAST(SUM(CASE WHEN per = 0 THEN vd ELSE 0 END) AS BIGINT) AS x,
         |    CAST(SUM(CASE WHEN per = 1 THEN vd ELSE 0 END) AS BIGINT) AS y,
         |    user_id % 2 AS v
         |  FROM e GROUP BY user_id),
         |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, CAST(SUM(x) AS BIGINT) AS sx,
         |    CAST(SUM(y) AS BIGINT) AS sy, CAST(SUM(x*x) AS BIGINT) AS sxx,
         |    CAST(SUM(x*y) AS BIGINT) AS sxy FROM u),
         |g AS (SELECT v, CAST(COUNT(*) AS BIGINT) AS ng, CAST(SUM(x) AS BIGINT) AS sxg,
         |    CAST(SUM(y) AS BIGINT) AS syg FROM u GROUP BY v),
         |p AS (SELECT MAX(CASE WHEN v = 0 THEN ng END) AS na,
         |    MAX(CASE WHEN v = 1 THEN ng END) AS nb,
         |    MAX(CASE WHEN v = 0 THEN sxg END) AS sxa,
         |    MAX(CASE WHEN v = 1 THEN sxg END) AS sxb,
         |    MAX(CASE WHEN v = 0 THEN syg END) AS sya,
         |    MAX(CASE WHEN v = 1 THEN syg END) AS syb FROM g)
         |SELECT CAST(na AS BIGINT) AS na, CAST(nb AS BIGINT) AS nb,
         |  ${r6Sql("CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)")} AS theta,
         |  ${r6Sql("CAST(syb AS DOUBLE)/CAST(nb AS DOUBLE) - CAST(sya AS DOUBLE)/CAST(na AS DOUBLE)")} AS raw_diff_d,
         |  ${r6Sql("(CAST(syb AS DOUBLE)/CAST(nb AS DOUBLE) - CAST(sya AS DOUBLE)/CAST(na AS DOUBLE)) - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE)) * (CAST(sxb AS DOUBLE)/CAST(nb AS DOUBLE) - CAST(sxa AS DOUBLE)/CAST(na AS DOUBLE))")} AS adj_diff_d
         |FROM m, p""") { (s, dir) =>
      import s.implicits._
      // The experiment readout q208 can't give: when the variants start
      // imbalanced on a pre-period covariate, the raw lift lies; CUPED
      // subtracts theta x the imbalance. One user-keyed aggregation, then
      // two single-row aggregates cross-joined (both broadcast) — the
      // 100 TB plan is identical. Every moment is an exact BIGINT sum;
      // the three outputs are fixed IEEE op chains written identically in
      // both engines, r6-rounded.
      val e = T(s, dir, "events").select($"user_id",
        when(to_date($"ts") < lit("2024-01-16").cast("date"), 0).otherwise(1).as("per"),
        expr("CAST(FLOOR(value*10 + 0.5) AS BIGINT)").as("vd"))
      val u = e.groupBy($"user_id").agg(
          sum(when($"per" === 0, $"vd").otherwise(0L)).as("x"),
          sum(when($"per" === 1, $"vd").otherwise(0L)).as("y"))
        .withColumn("v", $"user_id" % 2)
      val m = u.agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
      val p = u.groupBy($"v")
        .agg(count(lit(1)).as("ng"), sum($"x").as("sxg"), sum($"y").as("syg"))
        .agg(max(when($"v" === 0, $"ng")).as("na"),
          max(when($"v" === 1, $"ng")).as("nb"),
          max(when($"v" === 0, $"sxg")).as("sxa"),
          max(when($"v" === 1, $"sxg")).as("sxb"),
          max(when($"v" === 0, $"syg")).as("sya"),
          max(when($"v" === 1, $"syg")).as("syb"))
      val theta = ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
        ($"n" * $"sxx" - $"sx" * $"sx").cast("double")
      val rawDiff = $"syb".cast("double") / $"nb".cast("double") -
        $"sya".cast("double") / $"na".cast("double")
      val xDiff = $"sxb".cast("double") / $"nb".cast("double") -
        $"sxa".cast("double") / $"na".cast("double")
      m.crossJoin(broadcast(p)).select($"na", $"nb",
        r6(theta).as("theta"), r6(rawDiff).as("raw_diff_d"),
        r6(rawDiff - theta * xDiff).as("adj_diff_d"))
    },

    q("q223_poisson_bootstrap", {
      val P = graft.functions.TextHash.P
      val u = graft.functions.TextHash
        .duckPolyHash("CAST(e.event_id*64 + bs.b AS VARCHAR)")
      // Poisson(1) bootstrap weights from a deterministic per-(row,
      // replica) hash uniform in ppm; CDF cut points are fixed integer
      // literals, so the draw is identical in both engines.
      s"""WITH e AS (SELECT event_id, CAST(FLOOR(value*100 + 0.5) AS BIGINT) AS vc
         |  FROM events),
         |bs AS (SELECT range AS b FROM range(0, 64)),
         |w AS (SELECT e.vc, bs.b,
         |    (($u) * 2654435761) % $P % 1000000 + 1 AS u FROM e, bs),
         |ww AS (SELECT b, vc, CASE WHEN u <= 367879 THEN 0 WHEN u <= 735759 THEN 1
         |    WHEN u <= 919699 THEN 2 WHEN u <= 981012 THEN 3 ELSE 4 END AS wt
         |  FROM w),
         |rm AS (SELECT b, (1000000 * SUM(wt*vc)) // SUM(wt) AS mean_u
         |  FROM ww GROUP BY b),
         |rk AS (SELECT mean_u, ROW_NUMBER() OVER (ORDER BY mean_u, b) AS rn FROM rm),
         |sel AS (SELECT CAST(MAX(CASE WHEN rn = 4 THEN mean_u END) AS BIGINT) AS lo_u,
         |    CAST(MAX(CASE WHEN rn = 61 THEN mean_u END) AS BIGINT) AS hi_u FROM rk),
         |pt AS (SELECT (1000000 * SUM(vc)) // COUNT(*) AS point_u FROM e)
         |SELECT CAST(point_u AS BIGINT) AS point_u, lo_u, hi_u,
         |  CAST(64 AS BIGINT) AS n_replicas FROM pt, sel"""
    }) { (s, dir) =>
      import s.implicits._
      // THE distributed bootstrap: resampling-with-replacement is
      // impossible to coordinate across a 100 TB shuffle, but Poisson(1)
      // weights are independent per (row, replica) — one map to draw 64
      // deterministic weights per row, one aggregation to 64 replica
      // means, a 64-row sort for the percentile CI. The cut points are
      // the Poisson(1) CDF in fixed ppm literals (367879/735759/919699/
      // 981012 — the distribution is exactly the stated discretization,
      // identically in both engines). Replica means are integer
      // micro-cents via non-negative DIV.
      val P = graft.functions.TextHash.P
      val e = T(s, dir, "events").select($"event_id",
        expr("CAST(FLOOR(value*100 + 0.5) AS BIGINT)").as("vc"))
      val w = e.select($"event_id", $"vc",
          explode(sequence(lit(0), lit(63))).as("b"))
        .withColumn("u", expr(
          s"(graft_polyhash(CAST(event_id*64 + b AS STRING)) * 2654435761) % $P % 1000000 + 1"))
      val ww = w.withColumn("wt",
        when($"u" <= 367879, 0L).when($"u" <= 735759, 1L)
          .when($"u" <= 919699, 2L).when($"u" <= 981012, 3L).otherwise(4L))
      val rm = ww.groupBy($"b")
        .agg(expr("(1000000 * SUM(wt*vc)) div SUM(wt)").as("mean_u"))
      val rk = rm.withColumn("rn",
        row_number().over(Window.orderBy($"mean_u", $"b")))
      val sel = rk.agg(max(when($"rn" === 4, $"mean_u")).as("lo_u"),
        max(when($"rn" === 61, $"mean_u")).as("hi_u"))
      val pt = e.agg(expr("(1000000 * SUM(vc)) div COUNT(*)").as("point_u"))
      pt.crossJoin(broadcast(sel))
        .select($"point_u", $"lo_u", $"hi_u", lit(64L).as("n_replicas"))
    },

    q("q225_conformal_interval",
      // Split-conformal prediction intervals per event type: train/cal/
      // test split on event_id parity, qhat = the ceil(0.9*(nc+1))-th
      // smallest calibration residual, coverage checked on the held-out
      // quarter. Micro-deci integer residuals end to end; the finite-
      // sample guarantee (coverage >= 90%) is the property conformal
      // buys, and the readout shows it.
      s"""WITH e AS (SELECT event_type, event_id,
         |    CAST(FLOOR(value*10 + 0.5) AS BIGINT) AS vd FROM events),
         |tr AS (SELECT event_type, (1000000 * SUM(vd)) // COUNT(*) AS mean_u
         |  FROM e WHERE event_id % 2 = 0 GROUP BY 1),
         |cal AS (SELECT e.event_type, ABS(e.vd*1000000 - tr.mean_u) AS r
         |  FROM e JOIN tr USING (event_type) WHERE e.event_id % 4 = 1),
         |cn AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nc
         |  FROM cal GROUP BY 1),
         |rk AS (SELECT event_type, r, ROW_NUMBER() OVER (
         |    PARTITION BY event_type ORDER BY r) AS rn FROM cal),
         |qh AS (SELECT rk.event_type, CAST(rk.r AS BIGINT) AS qhat
         |  FROM rk JOIN cn USING (event_type)
         |  WHERE rn = LEAST((9*(nc+1) + 9) // 10, nc)),
         |te AS (SELECT e.event_type,
         |    CASE WHEN ABS(e.vd*1000000 - tr.mean_u) <= qh.qhat
         |      THEN 1 ELSE 0 END AS c
         |  FROM e JOIN tr USING (event_type) JOIN qh USING (event_type)
         |  WHERE e.event_id % 4 = 3),
         |ta AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_test,
         |    CAST(SUM(c) AS BIGINT) AS n_cov FROM te GROUP BY 1)
         |SELECT t.event_type, CAST(t.mean_u AS BIGINT) AS mean_u, qh.qhat,
         |  cn.nc AS n_cal, ta.n_test, ta.n_cov,
         |  ${r6Sql("CAST(ta.n_cov AS DOUBLE) / CAST(ta.n_test AS DOUBLE)")} AS coverage
         |FROM tr t JOIN qh USING (event_type) JOIN cn USING (event_type)
         |  JOIN ta USING (event_type)
         |ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      // Distribution-free uncertainty for ANY point predictor (here the
      // per-type train mean): the calibration quantile of residuals is
      // the interval half-width. The per-type tables are |types|-sized
      // and broadcast; the residual rank is one partitioned window over
      // the calibration slice. This is the modern replacement for
      // assuming Gaussian residuals (contrast q224's 3-sigma rule).
      val e = T(s, dir, "events").select($"event_type", $"event_id",
        expr("CAST(FLOOR(value*10 + 0.5) AS BIGINT)").as("vd"))
      val tr = e.filter($"event_id" % 2 === 0).groupBy($"event_type")
        .agg(expr("(1000000 * SUM(vd)) div COUNT(*)").as("mean_u"))
      val cal = e.filter($"event_id" % 4 === 1)
        .join(broadcast(tr), Seq("event_type"))
        .select($"event_type", abs($"vd" * 1000000L - $"mean_u").as("r"))
      val cn = cal.groupBy($"event_type").agg(count(lit(1)).as("nc"))
      val rk = cal.withColumn("rn", row_number().over(
        Window.partitionBy($"event_type").orderBy($"r")))
      val qh = rk.join(broadcast(cn), Seq("event_type"))
        .filter($"rn" === least(expr("(9*(nc+1) + 9) div 10"), $"nc"))
        .select($"event_type", $"r".as("qhat"))
      val ta = e.filter($"event_id" % 4 === 3)
        .join(broadcast(tr), Seq("event_type"))
        .join(broadcast(qh), Seq("event_type"))
        .select($"event_type",
          when(abs($"vd" * 1000000L - $"mean_u") <= $"qhat", 1L)
            .otherwise(0L).as("c"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n_test"), sum($"c").as("n_cov"))
      tr.join(broadcast(qh), Seq("event_type"))
        .join(broadcast(cn), Seq("event_type"))
        .join(broadcast(ta), Seq("event_type"))
        .select($"event_type", $"mean_u", $"qhat", $"nc".as("n_cal"),
          $"n_test", $"n_cov",
          r6($"n_cov".cast("double") / $"n_test".cast("double")).as("coverage"))
        .orderBy($"event_type")
    },

    q("q231_llr_copurchase", {
      def lnm(x: String) = graft.ColFns.detMlnIntSql(x)
      def xlx(x: String) = s"(CASE WHEN $x = 0 THEN 0 ELSE $x * ${lnm(x)} END)"
      // Dunning's log-likelihood-ratio association over co-ordered part
      // pairs — the significance-aware complement of q215's lift (lift
      // explodes on rare pairs; LLR discounts them by the evidence mass)
      // and q210's PMI. G2 = 2 * (sum xlogx over the 2x2 cells + xlogx(N)
      // - xlogx of the margins); every xlogx is n * micro-rounded ln(n)
      // (q136's one-rounding-per-distinct-integer discipline), so the
      // score is an exact BIGINT in micro-nat units and the top-20 order
      // cannot flap across engines.
      s"""WITH b AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
         |  FROM lineitem),
         |c AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY p),
         |n AS (SELECT CAST(COUNT(DISTINCT o) AS BIGINT) AS n_orders FROM b),
         |pr AS (SELECT a.p AS p1, b2.p AS p2,
         |    CAST(COUNT(*) AS BIGINT) AS k11
         |  FROM b a JOIN b b2 ON a.o = b2.o AND a.p < b2.p
         |  GROUP BY a.p, b2.p HAVING COUNT(*) >= 3),
         |k AS (SELECT p1, p2, k11, c1.cnt - k11 AS k12, c2.cnt - k11 AS k21,
         |    n.n_orders - c1.cnt - c2.cnt + k11 AS k22, n.n_orders AS nn
         |  FROM pr JOIN c c1 ON c1.p = pr.p1 JOIN c c2 ON c2.p = pr.p2
         |  CROSS JOIN n)
         |SELECT p1, p2, k11,
         |  2 * (${xlx("k11")} + ${xlx("k12")} + ${xlx("k21")} + ${xlx("k22")}
         |    + ${xlx("nn")} - ${xlx("(k11 + k12)")} - ${xlx("(k21 + k22)")}
         |    - ${xlx("(k11 + k21)")} - ${xlx("(k12 + k22)")}) AS llr_micro
         |FROM k ORDER BY llr_micro DESC, p1, p2 LIMIT 20"""
    }) { (s, dir) =>
      import s.implicits._
      // Same candidate generation as q215 (per-order equi self-join, pair
      // support floor); the 2x2 contingency margins come from broadcast
      // per-part counts, so the LLR itself is map-side arithmetic on the
      // surviving pairs. At 100 TB the xlogx terms cost nothing — the
      // shuffle is the pair aggregation, identical to q215's.
      def lnmC(c: Column): Column = graft.ColFns.detMlnInt(c)
      def xlxC(c: Column): Column =
        when(c === 0L, 0L).otherwise(c * lnmC(c))
      val b = T(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
        .transform(graft.CacheScope.cached) // read 4x: counts, n_orders, both self-join sides
      val c = b.groupBy($"p").agg(count(lit(1)).as("cnt"))
      val nOrders = b.agg(countDistinct($"o").as("n_orders"))
      val pairs = b.as("a")
        .join(b.as("b2"), $"a.o" === $"b2.o" && $"a.p" < $"b2.p")
        .groupBy($"a.p".as("p1"), $"b2.p".as("p2"))
        .agg(count(lit(1)).as("k11"))
        .where($"k11" >= 3)
      pairs
        .join(broadcast(c.as("c1")), $"c1.p" === $"p1")
        .join(broadcast(c.as("c2")), $"c2.p" === $"p2")
        .crossJoin(broadcast(nOrders))
        .select($"p1", $"p2", $"k11",
          ($"c1.cnt" - $"k11").as("k12"), ($"c2.cnt" - $"k11").as("k21"),
          ($"n_orders" - $"c1.cnt" - $"c2.cnt" + $"k11").as("k22"),
          $"n_orders".as("nn"))
        .select($"p1", $"p2", $"k11",
          (lit(2L) * (xlxC($"k11") + xlxC($"k12") + xlxC($"k21")
            + xlxC($"k22") + xlxC($"nn") - xlxC($"k11" + $"k12")
            - xlxC($"k21" + $"k22") - xlxC($"k11" + $"k21")
            - xlxC($"k12" + $"k22"))).as("llr_micro"))
        .orderBy($"llr_micro".desc, $"p1", $"p2")
        .limit(20)
    },

    q("q239_kaplan_meier",
      // Kaplan-Meier survival over user lifetimes (product-limit estimator
      // with right censoring — the retention readout experiment platforms
      // publish): lifetime = HOURS between a user's first and last event
      // (the fixture's users live ~the whole 30-day window, so hours are
      // the granularity with an actual curve); a user whose last event is
      // within 12 h of the corpus high-water is CENSORED (still alive),
      // not churned. S(t) multiplies
      // (1 - d_i/n_i) over event times <= t; the product becomes an exact
      // BIGINT cumsum of per-time micro-log(1 - d/n) rationals. The
      // hash-checked survival column IS that exact integer cumsum
      // (survival_mln_micro = round(1e6*ln S), monotone in S). After the
      // round-7 AND round-8 fresh-run flips proved any libm ln call is a
      // boundary hazard, mln is now computed by ColFns.detMln — a fixed
      // IEEE-double program (integer bit-length range reduction + atanh
      // Horner) both engines evaluate op-for-op, so the micro-log is
      // bit-identical BY CONSTRUCTION, not by 1-ulp luck; the survival
      // readout likewise uses ColFns.detExpMicro (software exp). Every
      // window runs over the compacted per-DURATION table (bounded by the
      // corpus span in days, not by users), so the single-partition pass
      // is constant-size at any scale; the one data-sized shuffle is the
      // per-user groupBy. Terminal rows where the whole risk set churns
      // (S would hit exactly 0) are dropped, commented on both sides.
      s"""WITH u AS (SELECT user_id,
        |    CAST(MIN(epoch_ms(CAST(ts AS TIMESTAMP))) AS BIGINT) f,
        |    CAST(MAX(epoch_ms(CAST(ts AS TIMESTAMP))) AS BIGINT) l
        |  FROM events GROUP BY user_id),
        |g AS (SELECT CAST(MAX(epoch_ms(CAST(ts AS TIMESTAMP))) AS BIGINT) gmax
        |  FROM events),
        |d AS (SELECT (l - f) // 3600000 dur,
        |    CASE WHEN l <= gmax - 43200000 THEN 1 ELSE 0 END churned
        |  FROM u CROSS JOIN g),
        |pd AS (SELECT dur, CAST(COUNT(*) AS BIGINT) n_u,
        |    CAST(SUM(churned) AS BIGINT) n_e FROM d GROUP BY dur),
        |rk AS (SELECT dur, n_u, n_e,
        |    CAST(SUM(n_u) OVER (ORDER BY dur DESC) AS BIGINT) n_risk FROM pd),
        |ev AS (SELECT dur, n_risk, n_e,
        |    ${graft.ColFns.detMlnSql("n_risk - n_e", "n_risk")} mln
        |  FROM rk WHERE n_e > 0 AND n_risk > n_e),
        |s AS (SELECT dur, n_risk, n_e,
        |    CAST(SUM(mln) OVER (ORDER BY dur) AS BIGINT) cum FROM ev)
        |SELECT CAST(dur AS BIGINT) AS t_hours, n_risk, n_e AS n_events,
        |  cum AS survival_mln_micro,
        |  ${graft.ColFns.r4Sql(graft.ColFns.detExpMicroSql("cum"))}
        |    AS survival_r4
        |FROM s ORDER BY t_hours""") { (s, dir) =>
      import s.implicits._
      val ev = T(s, dir, "events")
      val u = ev.groupBy($"user_id")
        .agg(min(unix_millis($"ts")).as("f"), max(unix_millis($"ts")).as("l"))
      val g = ev.agg(max(unix_millis($"ts")).as("gmax"))
      val pd = u.crossJoin(broadcast(g))
        .select(expr("(l - f) div 3600000").as("dur"),
          when($"l" <= $"gmax" - 43200000L, 1L).otherwise(0L).as("churned"))
        .groupBy($"dur")
        .agg(count(lit(1)).as("n_u"), sum($"churned").as("n_e"))
      val rk = pd.withColumn("n_risk",
        sum($"n_u").over(Window.orderBy($"dur".desc)))
      val evt = rk.filter($"n_e" > 0 && $"n_risk" > $"n_e")
        .select($"dur", $"n_risk", $"n_e",
          graft.ColFns.detMln($"n_risk" - $"n_e", $"n_risk").as("mln"))
      evt.withColumn("cum", sum($"mln").over(Window.orderBy($"dur")))
        .select($"dur".as("t_hours"), $"n_risk", $"n_e".as("n_events"),
          $"cum".as("survival_mln_micro"),
          graft.ColFns.r4(graft.ColFns.detExpMicro($"cum"))
            .as("survival_r4"))
        .orderBy($"t_hours")
    },

    q("q246_forecast_backtest",
      // Seasonal-naive forecast backtest with a MASE-style readout: per
      // event type, forecast day d's count with day d-7 and score mean
      // absolute error against the naive-1 (yesterday) baseline — the
      // standard scale-free "is weekly seasonality real signal" test
      // (Hyndman & Koehler 2006) run before any fancier model. Series
      // come zero-filled from q207's generated (type x day) grid so gaps
      // don't silently shrink the error sums; both MAEs are exact BIGINT
      // sums over the bounded grid and the ratio is cross-multiplied into
      // ONE IEEE division (mase < 1 means the seasonal forecast beats
      // naive-1). The only data-sized work is the daily pre-aggregation.
      s"""WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day,
         |    CAST(COUNT(*) AS BIGINT) n FROM events GROUP BY 1, 2),
         |b AS (SELECT MIN(day) lo, MAX(day) hi FROM c),
         |days AS (SELECT CAST(unnest(generate_series(lo, hi,
         |    INTERVAL 1 DAY)) AS DATE) AS day FROM b),
         |g AS (SELECT t.event_type, days.day, COALESCE(c.n, 0) n
         |  FROM (SELECT DISTINCT event_type FROM c) t CROSS JOIN days
         |  LEFT JOIN c ON c.event_type = t.event_type AND c.day = days.day),
         |l AS (SELECT event_type, n,
         |    LAG(n, 7) OVER (PARTITION BY event_type ORDER BY day) n7,
         |    LAG(n, 1) OVER (PARTITION BY event_type ORDER BY day) n1
         |  FROM g),
         |e AS (SELECT event_type,
         |    CAST(COUNT(n7) AS BIGINT) c7, CAST(SUM(ABS(n - n7)) AS BIGINT) e7,
         |    CAST(COUNT(n1) AS BIGINT) c1, CAST(SUM(ABS(n - n1)) AS BIGINT) e1
         |  FROM l GROUP BY event_type)
         |SELECT event_type, c7 AS n_pairs_s7, e7 AS abs_err_s7,
         |  c1 AS n_pairs_n1, e1 AS abs_err_n1,
         |  CASE WHEN e1 > 0 THEN
         |    ${r6Sql("CAST(e7 * c1 AS DOUBLE) / (e1 * c7)")}
         |    ELSE NULL END AS mase
         |FROM e ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val c = T(s, dir, "events")
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n"))
        .transform(graft.CacheScope.cached) // grid left side + bounds + types
      val b = c.agg(min($"day").as("lo"), max($"day").as("hi"))
      val days = b.select(explode(expr(
        "sequence(lo, hi, interval 1 day)")).as("day"))
      val g = c.select($"event_type").distinct().crossJoin(broadcast(days))
        .as("g").join(c.as("o"),
          $"g.event_type" === $"o.event_type" && $"g.day" === $"o.day", "left")
        .select($"g.event_type", $"g.day", coalesce($"o.n", lit(0L)).as("n"))
      val byDay = Window.partitionBy($"event_type").orderBy($"day")
      val l = g
        .withColumn("n7", lag($"n", 7).over(byDay))
        .withColumn("n1", lag($"n", 1).over(byDay))
      l.groupBy($"event_type")
        .agg(count($"n7").as("c7"), sum(abs($"n" - $"n7")).as("e7"),
          count($"n1").as("c1"), sum(abs($"n" - $"n1")).as("e1"))
        .select($"event_type", $"c7".as("n_pairs_s7"), $"e7".as("abs_err_s7"),
          $"c1".as("n_pairs_n1"), $"e1".as("abs_err_n1"),
          when($"e1" > 0,
            r6(($"e7" * $"c1").cast("double") / ($"e1" * $"c7")))
            .otherwise(lit(null).cast("double")).as("mase"))
        .orderBy($"event_type")
    },

    q("q253_srm_check",
      // Sample-ratio-mismatch guard for q208's A/B split — the sanity
      // check every experiment platform runs BEFORE reading the lift
      // (an unbalanced split invalidates the whole readout): per segment,
      // distinct users per arm under the user-parity assignment, chi²
      // against the expected 50/50 as the pure-integer compare
      // 100·(a-b)² > 384·(a+b) (chi² = (a-b)²/n for two equal-expectation
      // cells; 3.84 = the 95% critical value) — the flag cannot flap on a
      // float edge. chi2_milli is reported for magnitude. One distinct
      // collapse + one bounded groupBy; trivially scale-safe.
      """WITH u AS (SELECT DISTINCT event_type, user_id FROM events),
        |c AS (SELECT event_type,
        |    CAST(SUM(CASE WHEN user_id % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT) n_a,
        |    CAST(SUM(CASE WHEN user_id % 2 = 1 THEN 1 ELSE 0 END) AS BIGINT) n_b
        |  FROM u GROUP BY event_type)
        |SELECT event_type, n_a, n_b,
        |  CAST((1000 * (n_a - n_b) * (n_a - n_b)) // (n_a + n_b) AS BIGINT)
        |    AS chi2_milli,
        |  (100 * (n_a - n_b) * (n_a - n_b) > 384 * (n_a + n_b)) AS srm_flag
        |FROM c ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val u = T(s, dir, "events")
        .select($"event_type", $"user_id").distinct()
      u.groupBy($"event_type")
        .agg(sum(when($"user_id" % 2 === 0, 1L).otherwise(0L)).as("n_a"),
          sum(when($"user_id" % 2 === 1, 1L).otherwise(0L)).as("n_b"))
        .select($"event_type", $"n_a", $"n_b",
          expr("(1000 * (n_a - n_b) * (n_a - n_b)) div (n_a + n_b)")
            .as("chi2_milli"),
          (lit(100L) * ($"n_a" - $"n_b") * ($"n_a" - $"n_b") >
            lit(384L) * ($"n_a" + $"n_b")).as("srm_flag"))
        .orderBy($"event_type")
    },

    q("q262_gini_lorenz",
      // Revenue-concentration readout: the Lorenz curve at deciles plus
      // the Gini coefficient — "how much of the data/spend do the top
      // customers carry", the skew diagnostic run before quota or salting
      // decisions. Exact integers: customers rank by (cents, key), decile
      // = ((rank-1)*10)//n, cumulative shares in ppm, and Gini from the
      // closed form G = 2Σ(r·x)/(n·Σx) − (n+1)/n as two floor divisions
      // in ppm — identical in both engines. The rank runs on the
      // PER-CUSTOMER aggregate (entity-sized, far below fact volume; at
      // extreme scale a range-partitioned sort replaces the single
      // window, same arithmetic).
      """WITH r0 AS (SELECT o_custkey k,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) x
        |  FROM orders GROUP BY o_custkey),
        |rk AS (SELECT k, x, ROW_NUMBER() OVER (ORDER BY x, k) rn,
        |    COUNT(*) OVER () n, SUM(x) OVER () t FROM r0),
        |g AS (SELECT CAST((2000000 * SUM(rn * x)) // (MIN(n) * MIN(t))
        |      - (1000000 * (MIN(n) + 1)) // MIN(n) AS BIGINT) gini_ppm
        |  FROM rk),
        |d AS (SELECT ((rn - 1) * 10) // n AS decile,
        |    CAST(COUNT(*) AS BIGINT) n_cust, CAST(SUM(x) AS BIGINT) rev,
        |    CAST(MIN(t) AS BIGINT) t
        |  FROM rk GROUP BY decile),
        |c AS (SELECT decile, n_cust, rev,
        |    CAST((1000000 * SUM(rev) OVER (ORDER BY decile)) // t AS BIGINT)
        |      cum_share_ppm
        |  FROM d)
        |SELECT CAST(c.decile AS BIGINT) AS decile, c.n_cust,
        |  c.rev AS rev_cents, c.cum_share_ppm, g.gini_ppm
        |FROM c, g ORDER BY decile""") { (s, dir) =>
      import s.implicits._
      val r0 = T(s, dir, "orders")
        .groupBy($"o_custkey".as("k"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("x"))
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val rk = r0
        .withColumn("rn", row_number().over(Window.orderBy($"x", $"k")))
        .withColumn("n", count(lit(1)).over(all))
        .withColumn("t", sum($"x").over(all))
        .transform(graft.CacheScope.cached) // gini + decile rollup
      // Σ(rn·x) fits a Long, but ×2e6 it overflows past sf0.001 — widen
      // through DECIMAL(38,0) for the one big product (DuckDB's SUM is
      // already HUGEINT); all operands positive, so trunc == floor.
      val g = rk.agg(
        (expr("CAST((2000000 * CAST(sum(rn * x) AS DECIMAL(38,0))) " +
          "div (min(n) * min(t)) AS BIGINT)") -
          expr("(1000000 * (min(n) + 1)) div min(n)")).as("gini_ppm"))
      val d = rk.groupBy(expr("((rn - 1) * 10) div n").as("decile"))
        .agg(count(lit(1)).as("n_cust"), sum($"x").as("rev"),
          min($"t").as("t"))
      d.withColumn("cum",
          sum($"rev").over(Window.orderBy($"decile")))
        .select($"decile".cast("long").as("decile"), $"n_cust",
          $"rev".as("rev_cents"),
          expr("(1000000 * cum) div t").as("cum_share_ppm"))
        .crossJoin(broadcast(g))
        .orderBy($"decile")
    },

    q("q263_neyman_allocation",
      // Stratified sampling-budget allocation with exact largest-remainder
      // (Hamilton) apportionment: each language stratum weighs in at
      // N_h x spread_h (the Neyman N·S shape with an integer spread proxy),
      // floors get the guaranteed seats, and the leftover budget goes to
      // the largest remainders with a deterministic (remainder, lang)
      // tie-break — allocations sum to the budget EXACTLY, no float
      // rounding can gain or lose a seat. Everything after the one
      // per-stratum aggregation runs on the bounded strata table.
      """WITH st AS (SELECT lang, CAST(COUNT(*) AS BIGINT) nh,
        |    CAST(MAX(n_chars) - MIN(n_chars) + 1 AS BIGINT) spread
        |  FROM documents GROUP BY lang),
        |w AS (SELECT lang, nh, spread, nh * spread AS wt,
        |    SUM(nh * spread) OVER () AS tw FROM st),
        |f AS (SELECT lang, nh, spread, wt,
        |    (1000 * wt) // tw AS fl, (1000 * wt) % tw AS rem FROM w),
        |lv AS (SELECT CAST(1000 - SUM(fl) AS BIGINT) leftover FROM f),
        |rr AS (SELECT lang, nh, spread, fl, rem,
        |    ROW_NUMBER() OVER (ORDER BY rem DESC, lang) rr FROM f)
        |SELECT rr.lang, rr.nh AS n_docs, rr.spread,
        |  CAST(rr.fl + CASE WHEN rr.rr <= lv.leftover THEN 1 ELSE 0 END
        |    AS BIGINT) AS alloc
        |FROM rr, lv ORDER BY lang""") { (s, dir) =>
      import s.implicits._
      val st = T(s, dir, "documents")
        .groupBy($"lang")
        .agg(count(lit(1)).as("nh"),
          (max($"n_chars") - min($"n_chars") + 1).as("spread"))
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val f = st
        .withColumn("wt", $"nh" * $"spread")
        .withColumn("tw", sum($"nh" * $"spread").over(all))
        .withColumn("fl", expr("(1000 * wt) div tw"))
        .withColumn("rem", expr("(1000 * wt) % tw"))
        .transform(graft.CacheScope.cached) // leftover + remainder rank
      val lv = f.agg((lit(1000L) - sum($"fl")).as("leftover"))
      f.withColumn("rr",
          row_number().over(Window.orderBy($"rem".desc, $"lang")))
        .crossJoin(broadcast(lv))
        .select($"lang", $"nh".as("n_docs"), $"spread",
          ($"fl" + when($"rr" <= $"leftover", 1L).otherwise(0L)).as("alloc"))
        .orderBy($"lang")
    },

    q("q265_benford_audit",
      // Benford first-significant-digit audit of order totals — the
      // fabricated-or-degenerate-amounts screen an ingestion pipeline runs
      // on any money/count column before trusting it. The expected-share
      // table is the 9 constants floor(log10(1+1/d)*1e6+0.5) INLINED as
      // literals (they sum to exactly 1e6) — computing ln() at runtime
      // would put a 1-ulp libm divergence inside an equality-checked
      // column for zero benefit. Digit extraction is map-side string math
      // on exact cents; everything after the 9-key aggregation runs on a
      // 9-row table. MAD vs Benford is the single summary column
      // dashboards threshold on (Nigrini's conformity bands).
      """WITH c AS (SELECT CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)
        |    AS cents FROM orders),
        |d AS (SELECT CAST(substr(CAST(cents AS VARCHAR), 1, 1) AS BIGINT)
        |    AS digit FROM c),
        |o AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS n FROM d
        |  GROUP BY digit),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM o),
        |e AS (SELECT CAST(dg AS BIGINT) AS digit,
        |    CAST(ep AS BIGINT) AS expected_ppm
        |  FROM (VALUES (1, 301030), (2, 176091), (3, 124939), (4, 96910),
        |    (5, 79181), (6, 66947), (7, 57992), (8, 51153), (9, 45757))
        |    v(dg, ep)),
        |j AS (SELECT e.digit, COALESCE(o.n, 0) AS n, e.expected_ppm,
        |    (1000000 * COALESCE(o.n, 0)) // t.total AS observed_ppm
        |  FROM e LEFT JOIN o ON o.digit = e.digit, t)
        |SELECT digit, n, CAST(observed_ppm AS BIGINT) AS observed_ppm,
        |  expected_ppm,
        |  CAST(abs(observed_ppm - expected_ppm) AS BIGINT) AS dev_ppm,
        |  CAST(SUM(abs(observed_ppm - expected_ppm)) OVER () // 9 AS BIGINT)
        |    AS mad_ppm
        |FROM j ORDER BY digit""") { (s, dir) =>
      import s.implicits._
      val o = T(s, dir, "orders")
        .select(floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
        .select(substring($"cents".cast("string"), 1, 1).cast("long")
          .as("digit"))
        .groupBy($"digit").agg(count(lit(1)).as("n"))
      val t = o.agg(sum($"n").as("total"))
      // digit spine as a literal local relation: a digit with zero hits
      // (possible under a degenerate price domain) must still emit its row
      // or the MAD summary silently understates the deviation.
      val e = Seq(1L -> 301030L, 2L -> 176091L, 3L -> 124939L,
          4L -> 96910L, 5L -> 79181L, 6L -> 66947L, 7L -> 57992L,
          8L -> 51153L, 9L -> 45757L)
        .toDF("digit", "expected_ppm")
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      e.join(o, Seq("digit"), "left")
        .withColumn("n", coalesce($"n", lit(0L)))
        .crossJoin(broadcast(t))
        .withColumn("observed_ppm", expr("(1000000 * n) div total"))
        .withColumn("dev_ppm", abs($"observed_ppm" - $"expected_ppm"))
        .withColumn("mad_ppm", expr("sum(dev_ppm)").over(all))
        .select($"digit", $"n", $"observed_ppm", $"expected_ppm",
          $"dev_ppm", expr("mad_ppm div 9").as("mad_ppm"))
        .orderBy($"digit")
    },

    q("q266_spearman_corr",
      // Spearman rank correlation between two per-document metrics
      // (n_chars vs whitespace token count) — the monotone-association
      // readout that survives the heavy-tailed marginals Pearson (q199)
      // chokes on. Exact tie handling via the q211 identity: per DISTINCT
      // value, 2x(average rank) = 2*cum - cnt + 1 stays an integer, and
      // the rank windows run over the two COMPACTED value domains
      // (bounded), never the corpus. Docs rejoin their ranks on equi keys
      // with the rank maps broadcast; the five moment sums widen through
      // DECIMAL(38,0)/HUGEINT and rho is ONE trailing IEEE chain written
      // op-for-op identically in both engines (q221 discipline).
      """WITH v AS (SELECT n_chars AS x,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS y
        |  FROM documents),
        |gx AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY x),
        |rx AS (SELECT x, 2 * SUM(cnt) OVER (ORDER BY x) - cnt + 1 AS r2x
        |  FROM gx),
        |gy AS (SELECT y, CAST(COUNT(*) AS BIGINT) AS cnt FROM v GROUP BY y),
        |ry AS (SELECT y, 2 * SUM(cnt) OVER (ORDER BY y) - cnt + 1 AS r2y
        |  FROM gy),
        |p AS (SELECT r2x, r2y FROM v
        |  JOIN rx ON rx.x = v.x JOIN ry ON ry.y = v.y),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(r2x) AS HUGEINT) AS sx, CAST(SUM(r2y) AS HUGEINT) AS sy,
        |    CAST(SUM(r2x * r2y) AS HUGEINT) AS sxy,
        |    CAST(SUM(r2x * r2x) AS HUGEINT) AS sxx,
        |    CAST(SUM(r2y * r2y) AS HUGEINT) AS syy FROM p)
        |SELECT CAST(n AS BIGINT) AS n_docs,
        |  CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE)
        |    / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
        |           * CAST(n * syy - sy * sy AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) AS rho_ppm
        |FROM m""") { (s, dir) =>
      import s.implicits._
      val v = T(s, dir, "documents")
        .select($"n_chars".as("x"),
          size(split($"text", " ")).cast("long").as("y"))
        .transform(graft.CacheScope.cached) // feeds both rank maps + rejoin
      def ranks(col: String, out: String): DataFrame = {
        val w = Window.orderBy(org.apache.spark.sql.functions.col(col))
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        v.groupBy(org.apache.spark.sql.functions.col(col))
          .agg(count(lit(1)).as("cnt"))
          .withColumn(out, lit(2L) * sum($"cnt").over(w) - $"cnt" + 1L)
          .drop("cnt")
      }
      val D = "DECIMAL(38,0)"
      v.join(broadcast(ranks("x", "r2x")), Seq("x"))
        .join(broadcast(ranks("y", "r2y")), Seq("y"))
        .agg(count(lit(1)).cast(D).as("n"),
          sum($"r2x").cast(D).as("sx"), sum($"r2y").cast(D).as("sy"),
          sum(($"r2x" * $"r2y").cast(D)).as("sxy"),
          sum(($"r2x" * $"r2x").cast(D)).as("sxx"),
          sum(($"r2y" * $"r2y").cast(D)).as("syy"))
        .select($"n".cast("long").as("n_docs"),
          expr("CAST(FLOOR(CAST(n * sxy - sx * sy AS DOUBLE) " +
            "/ sqrt(CAST(n * sxx - sx * sx AS DOUBLE) " +
            "* CAST(n * syy - sy * sy AS DOUBLE)) " +
            "* 1000000.0 + 0.5) AS BIGINT)").as("rho_ppm"))
    },

    q("q273_chi2_independence",
      // Chi-square independence test on the (market segment x region)
      // contingency table — the is-this-attribute-actually-correlated
      // screen behind stratification and mix decisions (generalizes q253's
      // 2x2 SRM guard to full R x C). Exact integers throughout: each
      // cell's contribution is ((n*O - r*c)^2 * 1e6) // (n*r*c) with the
      // square widened through DECIMAL(38,0)/HUGEINT (it overflows BIGINT
      // past sf0.01), summed over the COMPLETE dimension grid — absent
      // cells still contribute their full expected mass, so the statistic
      // can't silently shrink when a stratum empties out. Both dimension
      // tables broadcast; one fact aggregation; everything after runs on
      // <= 25 rows.
      """WITH f AS (SELECT c.c_mktsegment AS segment, r.r_name AS region
        |  FROM customer c
        |  JOIN nation n ON n.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n.n_regionkey),
        |o AS (SELECT segment, region, CAST(COUNT(*) AS BIGINT) AS obs
        |  FROM f GROUP BY segment, region),
        |grid AS (SELECT s.segment, g.region
        |  FROM (SELECT DISTINCT segment FROM f) s,
        |       (SELECT DISTINCT region FROM f) g),
        |cell AS (SELECT grid.segment, grid.region,
        |    COALESCE(o.obs, 0) AS obs
        |  FROM grid LEFT JOIN o
        |    ON o.segment = grid.segment AND o.region = grid.region),
        |m AS (SELECT segment, region, obs,
        |    SUM(obs) OVER (PARTITION BY segment) AS rs,
        |    SUM(obs) OVER (PARTITION BY region) AS cs,
        |    SUM(obs) OVER () AS n FROM cell),
        |x AS (SELECT segment, region, obs,
        |    (1000 * rs * cs) // n AS expected_milli,
        |    CAST((CAST(n*obs - rs*cs AS HUGEINT)
        |      * CAST(n*obs - rs*cs AS HUGEINT) * 1000000)
        |      // (CAST(n AS HUGEINT) * rs * cs) AS BIGINT) AS contrib_micro
        |  FROM m),
        |dd AS (SELECT
        |    CAST(((SELECT COUNT(*) FROM (SELECT DISTINCT segment FROM f)) - 1)
        |      * ((SELECT COUNT(*) FROM (SELECT DISTINCT region FROM f)) - 1)
        |      AS BIGINT) AS dof)
        |SELECT segment, region, obs,
        |  CAST(expected_milli AS BIGINT) AS expected_milli, contrib_micro,
        |  CAST(SUM(contrib_micro) OVER () AS BIGINT) AS chi2_micro, dd.dof
        |FROM x, dd ORDER BY segment, region""") { (s, dir) =>
      import s.implicits._
      val f = T(s, dir, "customer")
        .join(broadcast(T(s, dir, "nation")),
          $"n_nationkey" === $"c_nationkey")
        .join(broadcast(T(s, dir, "region")),
          $"r_regionkey" === $"n_regionkey")
        .select($"c_mktsegment".as("segment"), $"r_name".as("region"))
        .transform(graft.CacheScope.cached) // observed + both dimension sets
      val o = f.groupBy($"segment", $"region").agg(count(lit(1)).as("obs"))
      val segD = f.select($"segment").distinct()
        .transform(graft.CacheScope.cached)
      val regD = f.select($"region").distinct()
        .transform(graft.CacheScope.cached)
      val dof = segD.agg(count(lit(1)).as("ns"))
        .crossJoin(regD.agg(count(lit(1)).as("nr")))
        .select((($"ns" - 1) * ($"nr" - 1)).as("dof"))
      val grid = segD.crossJoin(broadcast(regD))
      val cell = grid.join(o, Seq("segment", "region"), "left")
        .withColumn("obs", coalesce($"obs", lit(0L)))
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val D = "DECIMAL(38,0)"
      cell
        .withColumn("rs", sum($"obs").over(Window.partitionBy($"segment")))
        .withColumn("cs", sum($"obs").over(Window.partitionBy($"region")))
        .withColumn("n", sum($"obs").over(all))
        .withColumn("expected_milli", expr("(1000 * rs * cs) div n"))
        .withColumn("contrib_micro", expr(
          s"CAST((CAST(n*obs - rs*cs AS $D) * CAST(n*obs - rs*cs AS $D) " +
            s"* 1000000) div (CAST(n AS $D) * rs * cs) AS BIGINT)"))
        .withColumn("chi2_micro", sum($"contrib_micro").over(all))
        .crossJoin(broadcast(dof))
        .select($"segment", $"region", $"obs", $"expected_milli",
          $"contrib_micro", $"chi2_micro", $"dof")
        .orderBy($"segment", $"region")
    },

    q("q277_item_cf",
      // Item-item collaborative filtering: cosine similarity over co-order
      // incidence (Sarwar et al. 2001) — the "customers who bought X also
      // bought Y" neighbor list. Same basket-bounded pair expansion as
      // q215's association rules (per-order EQUI self-join, never
      // all-pairs across the catalog), but normalized by sqrt(c_a*c_b) so
      // popular items don't drown the list, support-floored, global
      // top-20 via TakeOrderedAndProject. Item counts are catalog-sized
      // and broadcast onto the surviving pairs; cosine is ONE trailing
      // IEEE chain written op-for-op identically (counts <= 2^26, exact
      // in double).
      """WITH li AS (SELECT DISTINCT l_orderkey AS o, l_partkey AS p
        |  FROM lineitem),
        |cnt AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS c FROM li GROUP BY p),
        |pr AS (SELECT a.p AS pa, b.p AS pb, CAST(COUNT(*) AS BIGINT) AS cab
        |  FROM li a JOIN li b ON a.o = b.o AND a.p < b.p
        |  GROUP BY pa, pb HAVING COUNT(*) >= 3)
        |SELECT pr.pa, pr.pb, pr.cab, ca.c AS c_a, cb.c AS c_b,
        |  CAST(FLOOR(CAST(pr.cab AS DOUBLE)
        |    / sqrt(CAST(ca.c AS DOUBLE) * CAST(cb.c AS DOUBLE))
        |    * 1000000.0 + 0.5) AS BIGINT) AS cos_ppm
        |FROM pr JOIN cnt ca ON ca.p = pr.pa JOIN cnt cb ON cb.p = pr.pb
        |ORDER BY cos_ppm DESC, pa, pb LIMIT 20""") { (s, dir) =>
      import s.implicits._
      val li = T(s, dir, "lineitem")
        .select($"l_orderkey".as("o"), $"l_partkey".as("p")).distinct()
        .transform(graft.CacheScope.cached) // item counts + pair expansion
      val cnt = li.groupBy($"p").agg(count(lit(1)).as("c"))
      val pr = li.as("a")
        .join(li.as("b"), $"a.o" === $"b.o" && $"a.p" < $"b.p")
        .groupBy($"a.p".as("pa"), $"b.p".as("pb"))
        .agg(count(lit(1)).as("cab"))
        .filter($"cab" >= 3)
      pr.join(broadcast(cnt.select($"p".as("pa"), $"c".as("c_a"))), Seq("pa"))
        .join(broadcast(cnt.select($"p".as("pb"), $"c".as("c_b"))), Seq("pb"))
        .withColumn("cos_ppm", expr(
          "CAST(FLOOR(CAST(cab AS DOUBLE) " +
            "/ sqrt(CAST(c_a AS DOUBLE) * CAST(c_b AS DOUBLE)) " +
            "* 1000000.0 + 0.5) AS BIGINT)"))
        .select($"pa", $"pb", $"cab", $"c_a", $"c_b", $"cos_ppm")
        .orderBy($"cos_ppm".desc, $"pa", $"pb").limit(20)
    },

    q("q278_markov_backtest",
      // Backtest of q194's first-order Markov next-event model: train the
      // argmax-next transition table on EVEN users, score it on ODD users'
      // actual transitions — per source state, held-out accuracy in ppm.
      // The per-user adjacency comes from one LEAD window per split (both
      // on the same user_id partitioning, (ts, event_id)-ordered so ties
      // can't flap); the trained model is vocab x vocab bounded and
      // BROADCAST into the test transitions. The readout is the
      // keep-or-retrain gate for any next-event model.
      """WITH sq AS (SELECT user_id, event_type AS src,
        |    LEAD(event_type) OVER (PARTITION BY user_id
        |      ORDER BY ts, event_id) AS dst
        |  FROM events),
        |tr AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM sq WHERE dst IS NOT NULL AND user_id % 2 = 0
        |  GROUP BY src, dst),
        |md AS (SELECT src, dst AS pred FROM (SELECT src, dst,
        |    ROW_NUMBER() OVER (PARTITION BY src ORDER BY c DESC, dst) AS rn
        |  FROM tr) WHERE rn = 1),
        |te AS (SELECT src, dst FROM sq
        |  WHERE dst IS NOT NULL AND user_id % 2 = 1)
        |SELECT te.src, CAST(COUNT(*) AS BIGINT) AS n_test,
        |  CAST(SUM(CASE WHEN te.dst = md.pred THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_correct,
        |  CAST((1000000 * SUM(CASE WHEN te.dst = md.pred THEN 1 ELSE 0 END))
        |    // COUNT(*) AS BIGINT) AS acc_ppm
        |FROM te JOIN md ON md.src = te.src
        |GROUP BY te.src ORDER BY te.src""") { (s, dir) =>
      import s.implicits._
      val sq = T(s, dir, "events")
        .select($"user_id", $"event_type".as("src"),
          lead($"event_type", 1).over(Window.partitionBy($"user_id")
            .orderBy($"ts", $"event_id")).as("dst"))
        .filter($"dst".isNotNull)
        .transform(graft.CacheScope.cached) // train + test splits
      val tr = sq.filter($"user_id" % 2 === 0)
        .groupBy($"src", $"dst").agg(count(lit(1)).as("c"))
      val md = tr.withColumn("rn", row_number().over(
          Window.partitionBy($"src").orderBy($"c".desc, $"dst")))
        .filter($"rn" === 1).select($"src", $"dst".as("pred"))
      sq.filter($"user_id" % 2 === 1)
        .join(broadcast(md), Seq("src"))
        .groupBy($"src")
        .agg(count(lit(1)).as("n_test"),
          sum(when($"dst" === $"pred", 1L).otherwise(0L)).as("n_correct"))
        .withColumn("acc_ppm", expr("(1000000 * n_correct) div n_test"))
        .orderBy($"src")
    },

    q("q279_capture_recapture",
      // Chapman capture-recapture population estimate: treat two event
      // types' user sets as two independent "captures" and estimate the
      // total population from their overlap — N = (n1+1)(n2+1)//(m+1) - 1.
      // The corpus-coverage estimator (how many distinct users/docs exist
      // beyond what either crawl saw); the true distinct count rides along
      // so the readout certifies the estimator's bias on this fixture.
      // Three distinct-collapses on the one user key + 1-row arithmetic.
      """WITH s1 AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'click'),
        |s2 AS (SELECT DISTINCT user_id FROM events
        |  WHERE event_type = 'purchase'),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM s1
        |  WHERE EXISTS (SELECT 1 FROM s2 WHERE s2.user_id = s1.user_id)),
        |n1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n1 FROM s1),
        |n2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n2 FROM s2),
        |tot AS (SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_true
        |  FROM events)
        |SELECT n1.n1, n2.n2, m.m,
        |  CAST(((n1.n1 + 1) * (n2.n2 + 1)) // (m.m + 1) - 1 AS BIGINT)
        |    AS n_est,
        |  tot.n_true
        |FROM n1, n2, m, tot""") { (s, dir) =>
      import s.implicits._
      val ev = T(s, dir, "events").select($"user_id", $"event_type")
      val s1 = ev.filter($"event_type" === "click")
        .select($"user_id").distinct()
        .transform(graft.CacheScope.cached)
      val s2 = ev.filter($"event_type" === "purchase")
        .select($"user_id").distinct()
        .transform(graft.CacheScope.cached)
      val m = s1.join(s2, Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("m"))
      val n1 = s1.agg(count(lit(1)).as("n1"))
      val n2 = s2.agg(count(lit(1)).as("n2"))
      val tot = ev.agg(countDistinct($"user_id").as("n_true"))
      broadcast(n1).crossJoin(broadcast(n2)).crossJoin(broadcast(m))
        .crossJoin(broadcast(tot))
        .select($"n1", $"n2", $"m",
          expr("((n1 + 1) * (n2 + 1)) div (m + 1) - 1").as("n_est"),
          $"n_true")
    },

    q("q290_ks_test",
      // Two-sample Kolmogorov-Smirnov distance between two sources'
      // length distributions — the distribution-drift test that, unlike
      // q202's KL, needs no smoothing and catches shape changes KL's
      // support mismatch hides. Exact integers throughout: both ECDFs
      // accumulate over the MERGED compacted value domain (zero counts
      // fill by grouping, so no forward-fill pass), D's numerator is
      // max|cum1*n2 - cum2*n1| (cross-multiplied, division-free), and the
      // alpha=0.05 rejection is the integer compare 1e6*max^2 >
      // 1844164*(n1+n2)*n1*n2 (1.358^2 scaled) widened through
      // DECIMAL(38,0)/HUGEINT. Everything after the per-value counts runs
      // on the bounded domain.
      """WITH v AS (SELECT source, n_chars AS v FROM documents
        |  WHERE source IN ('src0', 'src1')),
        |g AS (SELECT v,
        |    CAST(SUM(CASE WHEN source = 'src0' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c1,
        |    CAST(SUM(CASE WHEN source = 'src1' THEN 1 ELSE 0 END) AS BIGINT)
        |      AS c2
        |  FROM v GROUP BY v),
        |w AS (SELECT v, SUM(c1) OVER (ORDER BY v) AS cum1,
        |    SUM(c2) OVER (ORDER BY v) AS cum2 FROM g),
        |t AS (SELECT CAST(MAX(cum1) AS BIGINT) AS n1,
        |    CAST(MAX(cum2) AS BIGINT) AS n2,
        |    CAST(MAX(ABS(cum1 * (SELECT MAX(cum2) FROM w)
        |      - cum2 * (SELECT MAX(cum1) FROM w))) AS BIGINT) AS mx
        |  FROM w)
        |SELECT n1, n2,
        |  CAST((1000000 * mx) // (n1 * n2) AS BIGINT) AS d_ppm,
        |  CAST(1000000 AS HUGEINT) * mx * mx
        |    > CAST(1844164 AS HUGEINT) * (n1 + n2) * n1 * n2 AS reject_05
        |FROM t""") { (s, dir) =>
      import s.implicits._
      val g = T(s, dir, "documents")
        .filter($"source".isin("src0", "src1"))
        .groupBy($"n_chars".as("v"))
        .agg(sum(when($"source" === "src0", 1L).otherwise(0L)).as("c1"),
          sum(when($"source" === "src1", 1L).otherwise(0L)).as("c2"))
      val wc = Window.orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val D = "DECIMAL(38,0)"
      g.withColumn("cum1", sum($"c1").over(wc))
        .withColumn("cum2", sum($"c2").over(wc))
        .withColumn("n1", max($"cum1").over(all))
        .withColumn("n2", max($"cum2").over(all))
        .agg(min($"n1").as("n1"), min($"n2").as("n2"),
          max(abs($"cum1" * $"n2" - $"cum2" * $"n1")).as("mx"))
        .select($"n1", $"n2",
          expr("(1000000 * mx) div (n1 * n2)").as("d_ppm"),
          expr(s"CAST(1000000 AS $D) * mx * mx " +
            s"> CAST(1844164 AS $D) * (n1 + n2) * n1 * n2").as("reject_05"))
    },

    q("q295_delta_attribution",
      // Root-cause contribution analysis: the latest day's revenue vs each
      // segment's trailing-7-day baseline, ranked by who moved the total —
      // the "which segment explains the drop" readout an on-call run
      // opens with. Exact cents; the baseline is an integer floor-div of
      // the 7-day sum; shares are computed on |delta| with an explicit
      // sign column because a signed ppm would put truncating-vs-floor
      // division on negative operands between the engines (q264's
      // lesson, solved by construction instead of shifting). One fact
      // aggregation; everything after runs on the segment dimension.
      """WITH f AS (SELECT c.c_mktsegment AS segment,
        |    CAST(o.o_orderdate AS DATE) AS day,
        |    CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey),
        |hi AS (SELECT MAX(day) AS d0 FROM f),
        |cur AS (SELECT segment, CAST(SUM(cents) AS BIGINT) AS rev_c
        |  FROM f, hi WHERE day = d0 GROUP BY segment),
        |base AS (SELECT segment,
        |    CAST(SUM(cents) // 7 AS BIGINT) AS base_c
        |  FROM f, hi WHERE day >= d0 - 7 AND day < d0 GROUP BY segment),
        |d AS (SELECT b.segment, COALESCE(c.rev_c, 0) AS rev_c, b.base_c,
        |    COALESCE(c.rev_c, 0) - b.base_c AS delta_c
        |  FROM base b LEFT JOIN cur c ON c.segment = b.segment),
        |t AS (SELECT CAST(SUM(ABS(delta_c)) AS BIGINT) AS tot FROM d)
        |SELECT d.segment, d.rev_c, d.base_c, d.delta_c,
        |  CAST((1000000 * ABS(d.delta_c)) // t.tot AS BIGINT)
        |    AS abs_share_ppm,
        |  CASE WHEN d.delta_c < 0 THEN -1 ELSE 1 END AS sign
        |FROM d, t ORDER BY ABS(d.delta_c) DESC, d.segment""") { (s, dir) =>
      import s.implicits._
      val f = T(s, dir, "orders")
        .join(T(s, dir, "customer"), $"c_custkey" === $"o_custkey")
        .select($"c_mktsegment".as("segment"),
          to_date($"o_orderdate").as("day"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
        .transform(graft.CacheScope.cached) // horizon + current + baseline
      val hi = f.agg(max($"day").as("d0"))
      val cur = f.crossJoin(broadcast(hi)).filter($"day" === $"d0")
        .groupBy($"segment").agg(sum($"cents").as("rev_c"))
      val base = f.crossJoin(broadcast(hi))
        .filter($"day" >= expr("date_sub(d0, 7)") && $"day" < $"d0")
        .groupBy($"segment")
        .agg(expr("CAST(SUM(cents) div 7 AS BIGINT)").as("base_c"))
      val d = base.join(cur, Seq("segment"), "left")
        .withColumn("rev_c", coalesce($"rev_c", lit(0L)))
        .withColumn("delta_c", $"rev_c" - $"base_c")
        .transform(graft.CacheScope.cached) // total + report
      val t = d.agg(sum(abs($"delta_c")).as("tot"))
      d.crossJoin(broadcast(t))
        .select($"segment", $"rev_c", $"base_c", $"delta_c",
          expr("(1000000 * ABS(delta_c)) div tot").as("abs_share_ppm"),
          when($"delta_c" < 0, -1).otherwise(1).as("sign"))
        .orderBy(abs($"delta_c").desc, $"segment")
    },

    q("q297_conformal_interval",
      // Split-conformal prediction interval: train a per-quantity price
      // model on one split, take the ceil((n+1)*0.9)-th smallest absolute
      // residual on a CALIBRATION split as the interval half-width, and
      // certify the ~90% coverage guarantee on a held-out TEST split —
      // the distribution-free uncertainty wrapper modern eval stacks put
      // around any point model. Exact integers: the model is integer-cents
      // means over the bounded quantity domain (broadcast), the
      // calibration quantile is an order statistic over the compacted
      // residual domain, and coverage is a ppm count. Three disjoint
      // orderkey splits; one shuffle each.
      """WITH b AS (SELECT l_orderkey % 4 AS split,
        |    CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty,
        |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS price_c
        |  FROM lineitem),
        |mdl AS (SELECT qty, CAST(SUM(price_c) // COUNT(*) AS BIGINT)
        |    AS pred_c
        |  FROM b WHERE split = 0 GROUP BY qty),
        |cal AS (SELECT ABS(b.price_c - m.pred_c) AS r FROM b
        |  JOIN mdl m ON m.qty = b.qty WHERE b.split = 1),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_cal FROM cal),
        |rk AS (SELECT r, SUM(cnt) OVER (ORDER BY r) AS cum FROM
        |  (SELECT r, CAST(COUNT(*) AS BIGINT) AS cnt FROM cal GROUP BY r)),
        |qh AS (SELECT CAST(MIN(r) AS BIGINT) AS qhat_c FROM rk, n
        |  WHERE 10 * cum >= 9 * (n.n_cal + 1)),
        |te AS (SELECT ABS(b.price_c - m.pred_c) AS r FROM b
        |  JOIN mdl m ON m.qty = b.qty WHERE b.split = 3)
        |SELECT n.n_cal, CAST((SELECT COUNT(*) FROM te) AS BIGINT) AS n_test,
        |  qh.qhat_c,
        |  CAST((1000000 * (SELECT COUNT(*) FROM te, qh
        |    WHERE te.r <= qh.qhat_c))
        |    // (SELECT COUNT(*) FROM te) AS BIGINT) AS coverage_ppm
        |FROM n, qh""") { (s, dir) =>
      import s.implicits._
      val b = T(s, dir, "lineitem")
        .select(($"l_orderkey" % 4).as("split"),
          floor($"l_quantity" + 0.5).cast("long").as("qty"),
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("price_c"))
        .transform(graft.CacheScope.cached) // model + calibration + test
      val mdl = b.filter($"split" === 0).groupBy($"qty")
        .agg(expr("CAST(SUM(price_c) div COUNT(*) AS BIGINT)").as("pred_c"))
        .transform(graft.CacheScope.cached) // joined by cal and test
      val cal = b.filter($"split" === 1)
        .join(broadcast(mdl), Seq("qty"))
        .select(abs($"price_c" - $"pred_c").as("r"))
        .transform(graft.CacheScope.cached) // count + order statistic
      val n = cal.agg(count(lit(1)).as("n_cal"))
      val wc = Window.orderBy($"r")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val qh = cal.groupBy($"r").agg(count(lit(1)).as("cnt"))
        .withColumn("cum", sum($"cnt").over(wc))
        .crossJoin(broadcast(n))
        .filter(lit(10) * $"cum" >= lit(9) * ($"n_cal" + 1))
        .agg(min($"r").as("qhat_c"))
      val te = b.filter($"split" === 3)
        .join(broadcast(mdl), Seq("qty"))
        .select(abs($"price_c" - $"pred_c").as("r"))
        .transform(graft.CacheScope.cached) // count + coverage
      val cov = te.crossJoin(broadcast(qh))
        .agg(count(lit(1)).as("n_test"),
          sum(when($"r" <= $"qhat_c", 1L).otherwise(0L)).as("n_in"))
      broadcast(n).crossJoin(broadcast(qh)).crossJoin(broadcast(cov))
        .select($"n_cal", $"n_test", $"qhat_c",
          expr("(1000000 * n_in) div n_test").as("coverage_ppm"))
    },

    q("q298_kfold_cv",
      // 5-fold cross-validated OLS (price ~ quantity) with the
      // leave-one-fold-out moments computed as GLOBAL minus FOLD — the
      // subtraction trick that makes K-fold training O(one aggregation)
      // instead of K passes over the data, which is exactly how K-fold
      // survives a 100 TB fact table. Per fold: integer-micro slope,
      // integer-cents intercept, and the OUT-OF-FOLD mean absolute error
      // — the model-selection readout. Moments widen through
      // DECIMAL(38,0)/HUGEINT; every division has positive operands on
      // this fixture's positively-sloped data.
      """WITH b AS (SELECT l_orderkey % 5 AS fold,
        |    CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS x,
        |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS y
        |  FROM lineitem),
        |fm AS (SELECT fold, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x*y) AS HUGEINT) AS sxy,
        |    CAST(SUM(x*x) AS HUGEINT) AS sxx
        |  FROM b GROUP BY fold),
        |g AS (SELECT CAST(SUM(n) AS HUGEINT) AS n,
        |    CAST(SUM(sx) AS HUGEINT) AS sx, CAST(SUM(sy) AS HUGEINT) AS sy,
        |    CAST(SUM(sxy) AS HUGEINT) AS sxy,
        |    CAST(SUM(sxx) AS HUGEINT) AS sxx FROM fm),
        |tr AS (SELECT fm.fold,
        |    (g.n - fm.n) AS n, (g.sx - fm.sx) AS sx, (g.sy - fm.sy) AS sy,
        |    (g.sxy - fm.sxy) AS sxy, (g.sxx - fm.sxx) AS sxx FROM fm, g),
        |co AS (SELECT fold,
        |    (1000000 * (n*sxy - sx*sy)) // (n*sxx - sx*sx) AS slope_micro,
        |    ((1000000 * sy - ((1000000 * (n*sxy - sx*sy))
        |      // (n*sxx - sx*sx)) * sx) // (1000000 * n)) AS intercept_c
        |  FROM tr),
        |er AS (SELECT b.fold,
        |    ABS(b.y - ((co.slope_micro * b.x) // 1000000 + co.intercept_c))
        |      AS r
        |  FROM b JOIN co ON co.fold = b.fold)
        |SELECT fold, CAST(MIN(co.slope_micro) AS BIGINT) AS slope_micro,
        |  CAST(MIN(co.intercept_c) AS BIGINT) AS intercept_c,
        |  CAST(COUNT(*) AS BIGINT) AS n_oof,
        |  CAST(SUM(er.r) // COUNT(*) AS BIGINT) AS mae_c
        |FROM er JOIN co USING (fold) GROUP BY fold ORDER BY fold""") { (s, dir) =>
      import s.implicits._
      val D = "DECIMAL(38,0)"
      val b = T(s, dir, "lineitem")
        .select(($"l_orderkey" % 5).as("fold"),
          floor($"l_quantity" + 0.5).cast("long").as("x"),
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("y"))
        .transform(graft.CacheScope.cached) // moments + out-of-fold error
      val fm = b.groupBy($"fold")
        .agg(count(lit(1)).cast(D).as("n"),
          sum($"x").cast(D).as("sx"), sum($"y").cast(D).as("sy"),
          sum(($"x" * $"y").cast(D)).as("sxy"),
          sum(($"x" * $"x").cast(D)).as("sxx"))
        .transform(graft.CacheScope.cached) // global rollup + per-fold
      val g = fm.agg(sum($"n").as("gn"), sum($"sx").as("gsx"),
        sum($"sy").as("gsy"), sum($"sxy").as("gsxy"),
        sum($"sxx").as("gsxx"))
      val co = fm.crossJoin(broadcast(g))
        .select($"fold", ($"gn" - $"n").as("n"), ($"gsx" - $"sx").as("sx"),
          ($"gsy" - $"sy").as("sy"), ($"gsxy" - $"sxy").as("sxy"),
          ($"gsxx" - $"sxx").as("sxx"))
        .select($"fold",
          expr("(1000000 * (n*sxy - sx*sy)) div (n*sxx - sx*sx)")
            .as("slope_micro"),
          expr("(1000000 * sy - ((1000000 * (n*sxy - sx*sy)) " +
            "div (n*sxx - sx*sx)) * sx) div (1000000 * n)")
            .as("intercept_c"))
      b.join(broadcast(co), Seq("fold"))
        .select($"fold", $"slope_micro", $"intercept_c",
          abs($"y" - (expr("(slope_micro * x) div 1000000") +
            $"intercept_c")).as("r"))
        .groupBy($"fold")
        .agg(min($"slope_micro").cast("long").as("slope_micro"),
          min($"intercept_c").cast("long").as("intercept_c"),
          count(lit(1)).as("n_oof"),
          expr("CAST(SUM(r) div COUNT(*) AS BIGINT)").as("mae_c"))
        .orderBy($"fold")
    },

    q("q299_diff_in_diff",
      // Difference-in-differences readout: treated segment vs control
      // segment, recent 30-day window vs the prior 30 days — the
      // quasi-experimental estimate (did the treated group's CHANGE exceed
      // the control's change) a launch review runs when there was no
      // randomized holdout. All exact cents and subtraction only — the DiD
      // estimate itself never divides, so no negative-operand division
      // discipline is even needed; the per-day means are positive floor
      // divisions. One fact aggregation on (segment, period).
      """WITH hi AS (SELECT MAX(CAST(o_orderdate AS DATE)) AS d0
        |  FROM orders),
        |f AS (SELECT c.c_mktsegment AS segment,
        |    CASE WHEN CAST(o.o_orderdate AS DATE) > d0 - 30 THEN 'post'
        |         ELSE 'pre' END AS period,
        |    CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders o JOIN customer c ON c.c_custkey = o.o_custkey, hi
        |  WHERE CAST(o.o_orderdate AS DATE) > d0 - 60
        |    AND c.c_mktsegment IN ('BUILDING', 'MACHINERY')),
        |a AS (SELECT segment, period,
        |    CAST(SUM(cents) // 30 AS BIGINT) AS daily_c
        |  FROM f GROUP BY segment, period)
        |SELECT
        |  MAX(CASE WHEN segment = 'BUILDING' AND period = 'pre'
        |    THEN daily_c END) AS treated_pre_c,
        |  MAX(CASE WHEN segment = 'BUILDING' AND period = 'post'
        |    THEN daily_c END) AS treated_post_c,
        |  MAX(CASE WHEN segment = 'MACHINERY' AND period = 'pre'
        |    THEN daily_c END) AS control_pre_c,
        |  MAX(CASE WHEN segment = 'MACHINERY' AND period = 'post'
        |    THEN daily_c END) AS control_post_c,
        |  (MAX(CASE WHEN segment = 'BUILDING' AND period = 'post'
        |    THEN daily_c END)
        |   - MAX(CASE WHEN segment = 'BUILDING' AND period = 'pre'
        |    THEN daily_c END))
        |  - (MAX(CASE WHEN segment = 'MACHINERY' AND period = 'post'
        |    THEN daily_c END)
        |   - MAX(CASE WHEN segment = 'MACHINERY' AND period = 'pre'
        |    THEN daily_c END)) AS did_c
        |FROM a""") { (s, dir) =>
      import s.implicits._
      val hi = T(s, dir, "orders")
        .agg(max(to_date($"o_orderdate")).as("d0"))
      val a = T(s, dir, "orders")
        .join(T(s, dir, "customer"), $"c_custkey" === $"o_custkey")
        .crossJoin(broadcast(hi))
        .filter(to_date($"o_orderdate") > expr("date_sub(d0, 60)") &&
          $"c_mktsegment".isin("BUILDING", "MACHINERY"))
        .select($"c_mktsegment".as("segment"),
          when(to_date($"o_orderdate") > expr("date_sub(d0, 30)"), "post")
            .otherwise("pre").as("period"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
        .groupBy($"segment", $"period")
        .agg(expr("CAST(SUM(cents) div 30 AS BIGINT)").as("daily_c"))
      def cell(seg: String, per: String) =
        max(when($"segment" === seg && $"period" === per, $"daily_c"))
      a.agg(
          cell("BUILDING", "pre").as("treated_pre_c"),
          cell("BUILDING", "post").as("treated_post_c"),
          cell("MACHINERY", "pre").as("control_pre_c"),
          cell("MACHINERY", "post").as("control_post_c"),
          ((cell("BUILDING", "post") - cell("BUILDING", "pre")) -
            (cell("MACHINERY", "post") - cell("MACHINERY", "pre")))
            .as("did_c"))
    },

    q("q309_design_effect",
      // Cluster-sampling design effect: the ANOVA intraclass correlation
      // of account balances within nations and DEFF = 1 + (m-1)*ICC — the
      // variance-inflation factor that says how much a cluster-randomized
      // experiment (or cluster sample) loses vs simple random sampling;
      // the number that sizes geo experiments. Exact DECIMAL(38,0)/HUGEINT
      // sums of shifted non-negative cents feed ONE trailing IEEE chain
      // (MSB/MSW/ICC/DEFF written op-for-op identically). One group
      // aggregation; everything after runs on 25 rows.
      """WITH v AS (SELECT CAST(c_nationkey AS BIGINT) AS g,
        |    CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000 AS y
        |  FROM customer),
        |pg AS (SELECT g, CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(y) AS HUGEINT) AS s,
        |    CAST(SUM(y*y) AS HUGEINT) AS ss FROM v GROUP BY g),
        |t AS (SELECT CAST(COUNT(*) AS HUGEINT) AS k,
        |    CAST(SUM(n) AS HUGEINT) AS nn, CAST(SUM(s) AS HUGEINT) AS st,
        |    CAST(SUM(ss) AS HUGEINT) AS sst,
        |    CAST(SUM((s*s) // n) AS HUGEINT) AS sbn FROM pg),
        |m AS (SELECT CAST(nn AS BIGINT) AS n_rows, CAST(k AS BIGINT)
        |      AS n_groups,
        |    CAST(sbn - (st*st) // nn AS DOUBLE) / CAST(k - 1 AS DOUBLE)
        |      AS msb,
        |    CAST(sst - sbn AS DOUBLE) / CAST(nn - k AS DOUBLE) AS msw,
        |    CAST(nn AS DOUBLE) / CAST(k AS DOUBLE) AS mbar
        |  FROM t)
        |SELECT n_rows, n_groups,
        |  CAST(FLOOR((msb - msw) / (msb + (mbar - 1.0) * msw)
        |    * 1000000.0 + 0.5) AS BIGINT) AS icc_ppm,
        |  CAST(FLOOR((1.0 + (mbar - 1.0)
        |      * ((msb - msw) / (msb + (mbar - 1.0) * msw)))
        |    * 1000000.0 + 0.5) AS BIGINT) AS deff_ppm
        |FROM m""") { (s, dir) =>
      import s.implicits._
      val D = "DECIMAL(38,0)"
      val pg = T(s, dir, "customer")
        .select($"c_nationkey".cast("long").as("g"),
          (floor($"c_acctbal" * 100 + 0.5).cast("long") + 100000L).as("y"))
        .groupBy($"g")
        .agg(count(lit(1)).cast(D).as("n"), sum($"y").cast(D).as("s"),
          sum(($"y" * $"y").cast(D)).as("ss"))
      pg.agg(count(lit(1)).cast(D).as("k"), sum($"n").as("nn"),
          sum($"s").as("st"), sum($"ss").as("sst"),
          sum(expr("(s*s) div n")).as("sbn"))
        .select($"nn".cast("long").as("n_rows"),
          $"k".cast("long").as("n_groups"),
          expr("CAST(sbn - (st*st) div nn AS DOUBLE) " +
            "/ CAST(k - 1 AS DOUBLE)").as("msb"),
          expr("CAST(sst - sbn AS DOUBLE) / CAST(nn - k AS DOUBLE)")
            .as("msw"),
          expr("CAST(nn AS DOUBLE) / CAST(k AS DOUBLE)").as("mbar"))
        .select($"n_rows", $"n_groups",
          expr("CAST(FLOOR((msb - msw) / (msb + (mbar - 1.0) * msw) " +
            "* 1000000.0 + 0.5) AS BIGINT)").as("icc_ppm"),
          expr("CAST(FLOOR((1.0 + (mbar - 1.0) " +
            "* ((msb - msw) / (msb + (mbar - 1.0) * msw))) " +
            "* 1000000.0 + 0.5) AS BIGINT)").as("deff_ppm"))
    },

    q("q320_fdr_drift_screen",
      // FDR-controlled multi-source drift screen: q290's two-sample KS
      // statistic computed for EVERY source against the rest of the
      // corpus, then Benjamini-Hochberg at alpha=0.05 over all 20 tests —
      // without the FDR step, screening 20 sources at per-test alpha
      // fires ~1 false alarm per run by construction. The per-test
      // statistic is the integer T_micro = (1e6·mx²)//(n1·n2·(n1+n2))
      // (the exponent of the one-term KS bound p = 2e^{-2T}); the BH
      // step-up compares the rank-k statistic against the INLINED
      // constant ln(2m/(alpha·k))/2 in micro units — runtime ln() never
      // touches an equality-checked column. Every window runs on the
      // 20-source table; the per-source ECDFs accumulate on merged
      // compacted value domains.
      """WITH v AS (SELECT source, n_chars AS v FROM documents),
        |g AS (SELECT source, v, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM v GROUP BY source, v),
        |dom AS (SELECT DISTINCT v FROM v),
        |grid AS (SELECT s.source, dom.v,
        |    COALESCE(g.c, 0) AS c_in
        |  FROM (SELECT DISTINCT source FROM v) s CROSS JOIN dom
        |  LEFT JOIN g ON g.source = s.source AND g.v = dom.v),
        |tot AS (SELECT v, CAST(SUM(c) AS BIGINT) AS c_all FROM g GROUP BY v),
        |w AS (SELECT grid.source, grid.v,
        |    SUM(grid.c_in) OVER (PARTITION BY grid.source ORDER BY grid.v)
        |      AS cum_in,
        |    SUM(tot.c_all - grid.c_in) OVER (PARTITION BY grid.source
        |      ORDER BY grid.v) AS cum_out
        |  FROM grid JOIN tot ON tot.v = grid.v),
        |wmx AS (SELECT source, cum_in, cum_out,
        |    MAX(cum_in) OVER (PARTITION BY source) AS n1,
        |    MAX(cum_out) OVER (PARTITION BY source) AS n2 FROM w),
        |st AS (SELECT source, CAST(MIN(n1) AS BIGINT) AS n1,
        |    CAST(MIN(n2) AS BIGINT) AS n2,
        |    CAST(MAX(ABS(cum_in * n2 - cum_out * n1)) AS BIGINT) AS mx
        |  FROM wmx GROUP BY source),
        |t AS (SELECT source, n1, n2,
        |    CAST((1000000 * CAST(mx AS HUGEINT) * mx)
        |      // (CAST(n1 AS HUGEINT) * n2 * (n1 + n2))
        |      AS BIGINT) AS t_micro
        |  FROM st),
        |rk AS (SELECT source, n1, n2, t_micro,
        |    CAST(ROW_NUMBER() OVER (ORDER BY t_micro DESC, source)
        |      AS BIGINT) AS rnk FROM t),
        |thr AS (SELECT CAST(k AS BIGINT) AS rnk, CAST(th AS BIGINT)
        |    AS thr_micro FROM (VALUES
        |  (1, 3342306), (2, 2995732), (3, 2793000), (4, 2649159),
        |  (5, 2537587), (6, 2446426), (7, 2369351), (8, 2302585),
        |  (9, 2243694), (10, 2191013), (11, 2143358), (12, 2099853),
        |  (13, 2059831), (14, 2022777), (15, 1988281), (16, 1956012),
        |  (17, 1925699), (18, 1897120), (19, 1870086), (20, 1844440))
        |  x(k, th)),
        |fl AS (SELECT rk.source, rk.n1, rk.n2, rk.t_micro, rk.rnk,
        |    thr.thr_micro,
        |    CASE WHEN rk.t_micro >= thr.thr_micro THEN rk.rnk ELSE 0 END
        |      AS pass_rnk
        |  FROM rk JOIN thr ON thr.rnk = rk.rnk),
        |ks AS (SELECT CAST(MAX(pass_rnk) AS BIGINT) AS kstar FROM fl)
        |SELECT fl.source, fl.n1, fl.n2, fl.t_micro, fl.rnk,
        |  fl.thr_micro, fl.rnk <= ks.kstar AS drift_flag
        |FROM fl, ks ORDER BY fl.rnk""") { (s, dir) =>
      import s.implicits._
      val v = T(s, dir, "documents").select($"source", $"n_chars".as("v"))
      val g = v.groupBy($"source", $"v").agg(count(lit(1)).as("c"))
        .transform(graft.CacheScope.cached) // grid + totals
      val dom = g.select($"v").distinct()
      val grid = g.select($"source").distinct()
        .crossJoin(broadcast(dom))
        .join(g, Seq("source", "v"), "left")
        .withColumn("c_in", coalesce($"c", lit(0L)))
      val tot = g.groupBy($"v").agg(sum($"c").as("c_all"))
      val wc = Window.partitionBy($"source").orderBy($"v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wall = Window.partitionBy($"source")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val D = "DECIMAL(38,0)"
      val st = grid.join(tot, Seq("v"))
        .withColumn("cum_in", sum($"c_in").over(wc))
        .withColumn("cum_out", sum($"c_all" - $"c_in").over(wc))
        .withColumn("n1", max($"cum_in").over(wall))
        .withColumn("n2", max($"cum_out").over(wall))
        .groupBy($"source")
        .agg(min($"n1").as("n1"), min($"n2").as("n2"),
          max(abs($"cum_in" * $"n2" - $"cum_out" * $"n1")).as("mx"))
      val t = st.select($"source", $"n1", $"n2",
        expr(s"CAST((1000000 * CAST(mx AS $D) * mx) " +
          s"div (CAST(n1 AS $D) * n2 * (n1 + n2)) AS BIGINT)")
          .as("t_micro"))
      val thr = Seq((1L,3342306L),(2L,2995732L),(3L,2793000L),
          (4L,2649159L),(5L,2537587L),(6L,2446426L),(7L,2369351L),
          (8L,2302585L),(9L,2243694L),(10L,2191013L),(11L,2143358L),
          (12L,2099853L),(13L,2059831L),(14L,2022777L),(15L,1988281L),
          (16L,1956012L),(17L,1925699L),(18L,1897120L),(19L,1870086L),
          (20L,1844440L))
        .toDF("rnk", "thr_micro")
      val fl = t.withColumn("rnk", row_number().over(
          Window.orderBy($"t_micro".desc, $"source")).cast("long"))
        .join(broadcast(thr), Seq("rnk"))
        .withColumn("pass_rnk",
          when($"t_micro" >= $"thr_micro", $"rnk").otherwise(0L))
        .transform(graft.CacheScope.cached) // k* + report
      val ks = fl.agg(max($"pass_rnk").as("kstar"))
      fl.crossJoin(broadcast(ks))
        .select($"source", $"n1", $"n2", $"t_micro", $"rnk",
          $"thr_micro", ($"rnk" <= $"kstar").as("drift_flag"))
        .orderBy($"rnk")
    },

    q("q321_gini_split",
      // Decision-stump training: the best single threshold on a feature
      // (per-user event volume) for predicting conversion, by EXACT
      // weighted Gini impurity — the split-search primitive inside every
      // tree ensemble, expressed as cumulative sums over the compacted
      // feature domain (one candidate per distinct value, never per row).
      // The weighted impurity collapses to ONE integer fraction:
      // 2·(posL·negL·nR + posR·negR·nL) / (n·nL·nR) in micro units, so
      // the argmin can't flap on float error; deterministic (impurity,
      // threshold) tie-break. Top-5 thresholds emitted with the baseline
      // (no-split) impurity alongside.
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(MAX(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |g AS (SELECT x, CAST(COUNT(*) AS BIGINT) AS cnt,
        |    CAST(SUM(y) AS BIGINT) AS pos FROM u GROUP BY x),
        |c AS (SELECT x, SUM(cnt) OVER (ORDER BY x) AS nl,
        |    SUM(pos) OVER (ORDER BY x) AS posl,
        |    SUM(cnt) OVER () AS n, SUM(pos) OVER () AS pos FROM g),
        |sp AS (SELECT x AS threshold, nl, n - nl AS nr, posl,
        |    pos - posl AS posr, n, pos FROM c WHERE nl < n),
        |gi AS (SELECT threshold, CAST(nl AS BIGINT) AS n_left,
        |    CAST(nr AS BIGINT) AS n_right,
        |    CAST((2000000 * (CAST(posl AS HUGEINT) * (nl - posl) * nr
        |      + CAST(posr AS HUGEINT) * (nr - posr) * nl))
        |      // (CAST(n AS HUGEINT) * nl * nr) AS BIGINT) AS gini_micro,
        |    CAST((2000000 * CAST(pos AS HUGEINT) * (n - pos))
        |      // (CAST(n AS HUGEINT) * n) AS BIGINT) AS baseline_micro
        |  FROM sp)
        |SELECT threshold, n_left, n_right, gini_micro, baseline_micro
        |FROM gi ORDER BY gini_micro, threshold LIMIT 5""") { (s, dir) =>
      import s.implicits._
      val g = T(s, dir, "events")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("x"),
          max(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
        .groupBy($"x")
        .agg(count(lit(1)).as("cnt"), sum($"y").as("pos"))
      val wc = Window.orderBy($"x")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("nl", sum($"cnt").over(wc))
        .withColumn("posl", sum($"pos").over(wc))
        .withColumn("n", sum($"cnt").over(all))
        .withColumn("pos", sum($"pos").over(all))
        .filter($"nl" < $"n")
        .select($"x".as("threshold"), $"nl".as("n_left"),
          ($"n" - $"nl").as("n_right"),
          expr("CAST((2000000 * (CAST(posl AS DECIMAL(38,0)) " +
            "* (nl - posl) * (n - nl) " +
            "+ CAST(pos - posl AS DECIMAL(38,0)) " +
            "* ((n - nl) - (pos - posl)) * nl)) " +
            "div (CAST(n AS DECIMAL(38,0)) * nl * (n - nl)) AS BIGINT)")
            .as("gini_micro"),
          expr("CAST((2000000 * CAST(pos AS DECIMAL(38,0)) * (n - pos)) " +
            "div (CAST(n AS DECIMAL(38,0)) * n) AS BIGINT)")
            .as("baseline_micro"))
        .orderBy($"gini_micro", $"threshold").limit(5)
    },

    q("q347_isotonic_calibration",
      // Isotonic calibration (pool-adjacent-violators) of a 10-bin score
      // -> conversion-rate curve, via the exact minimax identity
      // m_i = max_{j<=i} min_{k>=i} pooledRate(j..k) — PAV without the
      // sequential pooling loop, because over the BOUNDED bin grid the
      // <= 1000 (i,j,k) windows are a three-way join of the 10-row prefix
      // table (constant work at any event volume; the only data-sized
      // pass is the binning aggregation). Pooled rates are single
      // rationals rounded once to ppm before min/max (deterministic in
      // both engines); the monotonicity certificate rides the output.
      // This is the calibration layer applied to any score a ranker or
      // risk model emits before its probabilities are trusted.
      """WITH e AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |b AS (SELECT MIN(vc) lo, MAX(vc) - MIN(vc) + 1 AS w FROM e),
        |h AS (SELECT ((vc - lo) * 10) // w AS bin,
        |    CAST(COUNT(*) AS BIGINT) AS cnt, CAST(SUM(pos) AS BIGINT) AS p
        |  FROM e, b GROUP BY bin),
        |grid AS (SELECT CAST(unnest(range(10)) AS BIGINT) AS bin),
        |z AS (SELECT grid.bin, COALESCE(h.cnt, 0) AS cnt,
        |    COALESCE(h.p, 0) AS p
        |  FROM grid LEFT JOIN h ON h.bin = grid.bin),
        |pre AS (SELECT bin, cnt, p,
        |    SUM(cnt) OVER (ORDER BY bin) AS pc,
        |    SUM(p) OVER (ORDER BY bin) AS pp FROM z),
        |pj AS (SELECT bin, pc, pp,
        |    COALESCE(LAG(pc) OVER (ORDER BY bin), 0) AS pc0,
        |    COALESCE(LAG(pp) OVER (ORDER BY bin), 0) AS pp0 FROM pre),
        |win AS (SELECT i.bin AS i, j.bin AS j, k.bin AS k,
        |    CASE WHEN k.pc - j.pc0 > 0 THEN
        |      ((k.pp - j.pp0) * 1000000) // (k.pc - j.pc0) ELSE 0 END
        |      AS rate_ppm
        |  FROM pj i JOIN pj j ON j.bin <= i.bin
        |    JOIN pj k ON k.bin >= i.bin),
        |mm AS (SELECT i, j, CAST(MIN(rate_ppm) AS BIGINT) AS mn
        |  FROM win GROUP BY i, j),
        |iso AS (SELECT i AS bin, CAST(MAX(mn) AS BIGINT) AS iso_ppm
        |  FROM mm GROUP BY i)
        |SELECT z.bin, z.cnt AS n_events, z.p AS n_pos,
        |  CAST(CASE WHEN z.cnt > 0 THEN (z.p * 1000000) // z.cnt
        |    ELSE 0 END AS BIGINT) AS raw_ppm,
        |  iso.iso_ppm,
        |  iso.iso_ppm >= COALESCE(LAG(iso.iso_ppm)
        |    OVER (ORDER BY z.bin), 0) AS monotone
        |FROM z JOIN iso ON iso.bin = z.bin ORDER BY z.bin""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "events")
        .select(floor($"value" * 100 + 0.5).cast("long").as("vc"),
          when($"event_type" === "purchase", 1L).otherwise(0L).as("pos"))
      val b = e.agg(min($"vc").as("lo"),
        (max($"vc") - min($"vc") + 1).as("w"))
      val h = e.crossJoin(broadcast(b))
        .groupBy(expr("((vc - lo) * 10) div w").as("bin"))
        .agg(count(lit(1)).as("cnt"), sum($"pos").as("p"))
      val z = s.range(0, 10).select($"id".as("bin"))
        .join(broadcast(h), Seq("bin"), "left")
        .select($"bin", coalesce($"cnt", lit(0L)).as("cnt"),
          coalesce($"p", lit(0L)).as("p"))
        .transform(graft.CacheScope.cached) // prefix + final report
      val ord = Window.orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pj = z
        .withColumn("pc", sum($"cnt").over(ord))
        .withColumn("pp", sum($"p").over(ord))
        .withColumn("pc0", coalesce(lag($"pc", 1).over(Window.orderBy($"bin")), lit(0L)))
        .withColumn("pp0", coalesce(lag($"pp", 1).over(Window.orderBy($"bin")), lit(0L)))
        .select($"bin", $"pc", $"pp", $"pc0", $"pp0")
        .transform(graft.CacheScope.cached) // three join sides
      val win = pj.as("i")
        .join(broadcast(pj.as("j")), $"j.bin" <= $"i.bin")
        .join(broadcast(pj.as("k")), $"k.bin" >= $"i.bin")
        .select($"i.bin".as("i"), $"j.bin".as("j"),
          expr("CASE WHEN k.pc - j.pc0 > 0 THEN " +
            "((k.pp - j.pp0) * 1000000) div (k.pc - j.pc0) ELSE 0 END")
            .as("rate_ppm"))
      val iso = win.groupBy($"i", $"j").agg(min($"rate_ppm").as("mn"))
        .groupBy($"i").agg(max($"mn").as("iso_ppm"))
        .select($"i".as("bin"), $"iso_ppm")
      z.join(broadcast(iso), Seq("bin"))
        .withColumn("raw_ppm", expr(
          "CAST(CASE WHEN cnt > 0 THEN (p * 1000000) div cnt ELSE 0 END " +
            "AS BIGINT)"))
        .withColumn("monotone", $"iso_ppm" >= coalesce(
          lag($"iso_ppm", 1).over(Window.orderBy($"bin")), lit(0L)))
        .select($"bin", $"cnt".as("n_events"), $"p".as("n_pos"),
          $"raw_ppm", $"iso_ppm", $"monotone")
        .orderBy($"bin")
    },

    q("q351_experiment_readout", {
      val P = graft.functions.TextHash.P
      val u = graft.functions.TextHash
        .duckPolyHash("CAST(u.user_id*16 + bs.b AS VARCHAR)")
      // The composed experiment-analysis DAG — assignment → SRM gate →
      // CUPED adjustment → replica CI → decision, chained the way an
      // experimentation platform actually reads out a test (each stage
      // certified standalone: q348, q221, q223): deterministic 50/50 user
      // hash split with the chi-square SRM certificate riding the output;
      // per-user pre/post metrics; the POINT estimate is q221's CUPED
      // chain; and the uncertainty band re-runs the FULL pipeline — theta
      // included — under 16 deterministic Poisson(1) user weights (q223's
      // distributed bootstrap), taking the 2nd/15th order statistics of
      // the adjusted lift as the band. decision = 'ship'/'abandon' only
      // when the whole band clears zero, else 'continue'; srm_ok false
      // voids everything downstream by construction. Every moment is an
      // exact BIGINT sum; IEEE chains are written identically in both
      // engines and r6-rounded BEFORE the order-statistic rank.
      s"""WITH e AS (SELECT user_id,
        |    CASE WHEN CAST(ts AS DATE) < DATE '2024-01-16' THEN 0 ELSE 1
        |      END AS per,
        |    CAST(FLOOR(value*10 + 0.5) AS BIGINT) AS vd
        |  FROM events),
        |u AS (SELECT user_id,
        |    CAST(SUM(CASE WHEN per = 0 THEN vd ELSE 0 END) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN per = 1 THEN vd ELSE 0 END) AS BIGINT) AS y,
        |    user_id % 2 AS v
        |  FROM e GROUP BY user_id),
        |srm AS (SELECT CAST(SUM(1 - v) AS BIGINT) AS na,
        |    CAST(SUM(v) AS BIGINT) AS nb,
        |    ((SUM(1 - v) - SUM(v)) * (SUM(1 - v) - SUM(v)) * 1000000)
        |      // COUNT(*) < 3841459 AS srm_ok
        |  FROM u),
        |bs AS (SELECT range AS b FROM range(0, 16)),
        |w AS (SELECT u.user_id, u.x, u.y, u.v, bs.b,
        |    (($u) * 2654435761) % $P % 1000000 + 1 AS uu FROM u, bs),
        |ww AS (SELECT b, x, y, v,
        |    CASE WHEN uu <= 367879 THEN 0 WHEN uu <= 735759 THEN 1
        |      WHEN uu <= 919699 THEN 2 WHEN uu <= 981012 THEN 3 ELSE 4
        |      END AS wt
        |  FROM w),
        |mom AS (SELECT b, CAST(SUM(wt) AS BIGINT) AS n,
        |    CAST(SUM(wt*x) AS BIGINT) AS sx, CAST(SUM(wt*y) AS BIGINT) AS sy,
        |    CAST(SUM(wt*x*x) AS BIGINT) AS sxx,
        |    CAST(SUM(wt*x*y) AS BIGINT) AS sxy,
        |    CAST(SUM(wt * (1 - v)) AS BIGINT) AS nwa,
        |    CAST(SUM(wt * v) AS BIGINT) AS nwb,
        |    CAST(SUM(wt * (1 - v) * x) AS BIGINT) AS sxa,
        |    CAST(SUM(wt * v * x) AS BIGINT) AS sxb,
        |    CAST(SUM(wt * (1 - v) * y) AS BIGINT) AS sya,
        |    CAST(SUM(wt * v * y) AS BIGINT) AS syb
        |  FROM ww GROUP BY b),
        |adj AS (SELECT b,
        |    ${r6Sql("(CAST(syb AS DOUBLE)/nwb - CAST(sya AS DOUBLE)/nwa)" +
          " - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))" +
          " * (CAST(sxb AS DOUBLE)/nwb - CAST(sxa AS DOUBLE)/nwa)")} AS a
        |  FROM mom),
        |rk AS (SELECT a, ROW_NUMBER() OVER (ORDER BY a, b) AS rn FROM adj),
        |ci AS (SELECT MAX(CASE WHEN rn = 2 THEN a END) AS lo,
        |    MAX(CASE WHEN rn = 15 THEN a END) AS hi FROM rk),
        |pm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x*x) AS BIGINT) AS sxx, CAST(SUM(x*y) AS BIGINT) AS sxy,
        |    CAST(SUM((1 - v) * x) AS BIGINT) AS sxa,
        |    CAST(SUM(v * x) AS BIGINT) AS sxb,
        |    CAST(SUM((1 - v) * y) AS BIGINT) AS sya,
        |    CAST(SUM(v * y) AS BIGINT) AS syb FROM u),
        |pt AS (SELECT
        |    ${r6Sql("(CAST(syb AS DOUBLE)/(SELECT nb FROM srm)" +
          " - CAST(sya AS DOUBLE)/(SELECT na FROM srm))" +
          " - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))" +
          " * (CAST(sxb AS DOUBLE)/(SELECT nb FROM srm)" +
          " - CAST(sxa AS DOUBLE)/(SELECT na FROM srm))")} AS adj_diff
        |  FROM pm)
        |SELECT srm.na, srm.nb, srm.srm_ok, pt.adj_diff AS adj_diff_d,
        |  ci.lo AS ci_lo_d, ci.hi AS ci_hi_d,
        |  CASE WHEN NOT srm.srm_ok THEN 'invalid_srm'
        |       WHEN ci.lo > 0 THEN 'ship'
        |       WHEN ci.hi < 0 THEN 'abandon'
        |       ELSE 'continue' END AS decision
        |FROM srm, pt, ci"""
    }) { (s, dir) =>
      import s.implicits._
      val P = graft.functions.TextHash.P
      val e = T(s, dir, "events").select($"user_id",
        when(to_date($"ts") < lit("2024-01-16").cast("date"), 0).otherwise(1)
          .as("per"),
        expr("CAST(FLOOR(value*10 + 0.5) AS BIGINT)").as("vd"))
      val u = e.groupBy($"user_id").agg(
          sum(when($"per" === 0, $"vd").otherwise(0L)).as("x"),
          sum(when($"per" === 1, $"vd").otherwise(0L)).as("y"))
        .withColumn("v", $"user_id" % 2)
        .transform(graft.CacheScope.cached) // srm + point + replicas
      val srm = u.agg(sum(lit(1L) - $"v").as("na"), sum($"v").as("nb"),
        expr("((SUM(1 - v) - SUM(v)) * (SUM(1 - v) - SUM(v)) * 1000000) " +
          "div COUNT(*) < 3841459").as("srm_ok"))
      val ww = u.select($"user_id", $"x", $"y", $"v",
          explode(sequence(lit(0), lit(15))).as("b"))
        .withColumn("uu", expr(
          s"(graft_polyhash(CAST(user_id*16 + b AS STRING)) * 2654435761)" +
            s" % $P % 1000000 + 1"))
        .withColumn("wt",
          when($"uu" <= 367879, 0L).when($"uu" <= 735759, 1L)
            .when($"uu" <= 919699, 2L).when($"uu" <= 981012, 3L)
            .otherwise(4L))
      val mom = ww.groupBy($"b").agg(
        sum($"wt").as("n"), sum($"wt" * $"x").as("sx"),
        sum($"wt" * $"y").as("sy"), sum($"wt" * $"x" * $"x").as("sxx"),
        sum($"wt" * $"x" * $"y").as("sxy"),
        sum($"wt" * (lit(1L) - $"v")).as("nwa"), sum($"wt" * $"v").as("nwb"),
        sum($"wt" * (lit(1L) - $"v") * $"x").as("sxa"),
        sum($"wt" * $"v" * $"x").as("sxb"),
        sum($"wt" * (lit(1L) - $"v") * $"y").as("sya"),
        sum($"wt" * $"v" * $"y").as("syb"))
      val adjExpr = "(CAST(syb AS DOUBLE)/nwb - CAST(sya AS DOUBLE)/nwa)" +
        " - (CAST(n*sxy - sx*sy AS DOUBLE) / CAST(n*sxx - sx*sx AS DOUBLE))" +
        " * (CAST(sxb AS DOUBLE)/nwb - CAST(sxa AS DOUBLE)/nwa)"
      val adj = mom.select($"b",
        expr(graft.ColFns.r6Sql(adjExpr)).as("a"))
      val ci = adj.withColumn("rn",
          row_number().over(Window.orderBy($"a", $"b")))
        .agg(max(when($"rn" === 2, $"a")).as("lo"),
          max(when($"rn" === 15, $"a")).as("hi"))
      val pm = u.agg(count(lit(1)).as("n"), sum($"x").as("sx"),
        sum($"y").as("sy"), sum($"x" * $"x").as("sxx"),
        sum($"x" * $"y").as("sxy"),
        sum((lit(1L) - $"v") * $"x").as("sxa"), sum($"v" * $"x").as("sxb"),
        sum((lit(1L) - $"v") * $"y").as("sya"), sum($"v" * $"y").as("syb"))
      val pt = pm.crossJoin(broadcast(srm.select($"na", $"nb")))
        .select(expr(graft.ColFns.r6Sql(
          "(CAST(syb AS DOUBLE)/nb - CAST(sya AS DOUBLE)/na)" +
            " - (CAST(n*sxy - sx*sy AS DOUBLE) " +
            "/ CAST(n*sxx - sx*sx AS DOUBLE))" +
            " * (CAST(sxb AS DOUBLE)/nb - CAST(sxa AS DOUBLE)/na)"))
          .as("adj_diff_d"))
      broadcast(srm).crossJoin(broadcast(pt)).crossJoin(broadcast(ci))
        .select($"na", $"nb", $"srm_ok", $"adj_diff_d",
          $"lo".as("ci_lo_d"), $"hi".as("ci_hi_d"),
          when(!$"srm_ok", "invalid_srm")
            .when($"lo" > 0, "ship")
            .when($"hi" < 0, "abandon")
            .otherwise("continue").as("decision"))
    },

    q("q340_raking_weights",
      // Survey raking (iterative proportional fitting, Deming-Stephan
      // 1940): a hash-sampled ~30% of customers has (segment x region)
      // cell counts that drift from the population margins; IPF
      // alternately rescales weights to match the segment margins then
      // the region margins, 3 unrolled rounds — the post-stratification
      // weighting every experimentation/survey platform applies before
      // reading a mean off a biased sample. All arithmetic is integer
      // ppm with a deterministic floor division per step, and every pass
      // after the two data-sized aggregations (population margins,
      // sample cells) runs on the bounded 25-cell grid. The readout
      // carries the final per-cell weight and both achieved-vs-target
      // margin gaps, which shrink round over round.
      """WITH pop AS (SELECT c.c_mktsegment AS seg,
        |    CAST(n.n_regionkey AS BIGINT) AS reg
        |  FROM customer c JOIN nation n ON n.n_nationkey = c.c_nationkey),
        |samp AS (SELECT seg, reg FROM (SELECT seg, reg,
        |    ROW_NUMBER() OVER (PARTITION BY seg, reg ORDER BY seg) AS rn,
        |    COUNT(*) OVER (PARTITION BY seg, reg) AS cn FROM pop)
        |  WHERE rn * 10 <= cn * 3),
        |tseg AS (SELECT seg, CAST(COUNT(*) AS BIGINT) AS t FROM pop
        |  GROUP BY seg),
        |treg AS (SELECT reg, CAST(COUNT(*) AS BIGINT) AS t FROM pop
        |  GROUP BY reg),
        |c0 AS (SELECT seg, reg, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(1000000 AS BIGINT) AS w FROM samp GROUP BY seg, reg),
        |r1 AS (SELECT c0.seg, c0.reg, n,
        |    (CAST(w AS HUGEINT) * tseg.t * 1000000 //
        |      SUM(n * w) OVER (PARTITION BY c0.seg)) AS w
        |  FROM c0 JOIN tseg ON tseg.seg = c0.seg),
        |r2 AS (SELECT r1.seg, r1.reg, n,
        |    (CAST(w AS HUGEINT) * treg.t * 1000000 //
        |      SUM(n * w) OVER (PARTITION BY r1.reg)) AS w
        |  FROM r1 JOIN treg ON treg.reg = r1.reg),
        |r3 AS (SELECT r2.seg, r2.reg, n,
        |    (CAST(w AS HUGEINT) * tseg.t * 1000000 //
        |      SUM(n * w) OVER (PARTITION BY r2.seg)) AS w
        |  FROM r2 JOIN tseg ON tseg.seg = r2.seg),
        |r4 AS (SELECT r3.seg, r3.reg, n,
        |    (CAST(w AS HUGEINT) * treg.t * 1000000 //
        |      SUM(n * w) OVER (PARTITION BY r3.reg)) AS w
        |  FROM r3 JOIN treg ON treg.reg = r3.reg),
        |r5 AS (SELECT r4.seg, r4.reg, n,
        |    (CAST(w AS HUGEINT) * tseg.t * 1000000 //
        |      SUM(n * w) OVER (PARTITION BY r4.seg)) AS w
        |  FROM r4 JOIN tseg ON tseg.seg = r4.seg),
        |r6 AS (SELECT r5.seg, r5.reg, n,
        |    (CAST(w AS HUGEINT) * treg.t * 1000000 //
        |      SUM(n * w) OVER (PARTITION BY r5.reg)) AS w
        |  FROM r5 JOIN treg ON treg.reg = r5.reg)
        |SELECT r6.seg AS segment, CAST(r6.reg AS BIGINT) AS region,
        |  n AS n_sample, CAST(w AS BIGINT) AS weight_ppm,
        |  CAST(SUM(n * w) OVER (PARTITION BY r6.seg) // 1000000
        |    - tseg.t AS BIGINT) AS seg_gap,
        |  CAST(SUM(n * w) OVER (PARTITION BY r6.reg) // 1000000
        |    - treg.t AS BIGINT) AS reg_gap
        |FROM r6 JOIN tseg ON tseg.seg = r6.seg
        |  JOIN treg ON treg.reg = r6.reg
        |ORDER BY segment, region""") { (s, dir) =>
      import s.implicits._
      val pop = T(s, dir, "customer")
        .join(broadcast(T(s, dir, "nation")),
          $"n_nationkey" === $"c_nationkey")
        .select($"c_mktsegment".as("seg"),
          $"n_regionkey".cast("long").as("reg"))
        .transform(graft.CacheScope.cached) // margins + the sample
      // deterministic 30% per-cell sample (rank-prefix — any shared
      // deterministic rule works; the oracle replicates it exactly)
      val samp = pop
        .withColumn("rn", row_number().over(
          Window.partitionBy($"seg", $"reg").orderBy($"seg")))
        .withColumn("cn", count(lit(1)).over(
          Window.partitionBy($"seg", $"reg")))
        .filter($"rn" * 10 <= $"cn" * 3)
      val tseg = pop.groupBy($"seg").agg(count(lit(1)).as("t"))
      val treg = pop.groupBy($"reg").agg(count(lit(1)).as("t"))
      val c0 = samp.groupBy($"seg", $"reg")
        .agg(count(lit(1)).as("n"))
        .withColumn("w", lit(1000000L))
      def scaleSeg(df: DataFrame): DataFrame =
        df.join(broadcast(tseg), Seq("seg"))
          .withColumn("w", expr(
            "CAST(CAST(w AS DECIMAL(38,0)) * t * 1000000 div " +
              "(SUM(n * w) OVER (PARTITION BY seg)) AS BIGINT)"))
          .select($"seg", $"reg", $"n", $"w")
      def scaleReg(df: DataFrame): DataFrame =
        df.join(broadcast(treg), Seq("reg"))
          .withColumn("w", expr(
            "CAST(CAST(w AS DECIMAL(38,0)) * t * 1000000 div " +
              "(SUM(n * w) OVER (PARTITION BY reg)) AS BIGINT)"))
          .select($"seg", $"reg", $"n", $"w")
      val r6 = scaleReg(scaleSeg(scaleReg(scaleSeg(scaleReg(scaleSeg(c0))))))
      r6.join(broadcast(tseg.withColumnRenamed("t", "ts")), Seq("seg"))
        .join(broadcast(treg.withColumnRenamed("t", "tr")), Seq("reg"))
        .withColumn("seg_gap", expr(
          "SUM(n * w) OVER (PARTITION BY seg) div 1000000 - ts"))
        .withColumn("reg_gap", expr(
          "SUM(n * w) OVER (PARTITION BY reg) div 1000000 - tr"))
        .select($"seg".as("segment"), $"reg".as("region"),
          $"n".as("n_sample"), $"w".as("weight_ppm"), $"seg_gap", $"reg_gap")
        .orderBy($"segment", $"region")
    },

    q("q370_monotone_calibration",
      // Monotone score calibration — the "does a higher quality score
      // actually mean a higher conversion/keep rate, and what calibrated
      // probability should downstream thresholds use" readout: the value
      // score is binned into 10 equal-width bins (q327's integer binning),
      // per-bin positive rates land as exact integer ppm, and the
      // calibrated curve is the running-max monotone envelope over bins —
      // the cheap monotonization a dashboard applies (full PAV pooling is
      // sequential; the envelope is its upper bound and is one bounded
      // window). Everything after the one groupBy runs on <= 10 rows.
      """WITH e AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
        |    CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
        |  FROM events),
        |b AS (SELECT MIN(vc) AS lo, MAX(vc) - MIN(vc) + 1 AS w FROM e),
        |h AS (SELECT ((vc - lo) * 10) // w AS bin, pos FROM e, b),
        |g AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(pos) AS BIGINT) AS np FROM h GROUP BY bin),
        |r AS (SELECT bin, n, np, (np * 1000000) // n AS raw_ppm FROM g)
        |SELECT bin, n, np AS n_pos, raw_ppm,
        |  CAST(MAX(raw_ppm) OVER (ORDER BY bin) AS BIGINT) AS iso_ppm
        |FROM r ORDER BY bin""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "events")
        .select(floor($"value" * 100 + 0.5).cast("long").as("vc"),
          when($"event_type" === "purchase", 1L).otherwise(0L).as("pos"))
      val b = e.agg(min($"vc").as("lo"),
        (max($"vc") - min($"vc") + 1).as("w"))
      e.crossJoin(broadcast(b))
        .select(expr("((vc - lo) * 10) div w").as("bin"), $"pos")
        .groupBy($"bin")
        .agg(count(lit(1)).as("n"), sum($"pos").as("np"))
        .withColumn("raw_ppm", expr("(np * 1000000) div n"))
        .withColumn("iso_ppm",
          max($"raw_ppm").over(Window.orderBy($"bin")).cast("long"))
        .select($"bin", $"n", $"np".as("n_pos"), $"raw_ppm", $"iso_ppm")
        .orderBy($"bin")
    },

    q("q381_fleiss_kappa", {
      val sw = graft.functions.TextHash.stopWordsDuckList
      s"""WITH t AS (SELECT len(string_split(text, ' ')) AS wc,
         |    len(list_filter(string_split(text, ' '),
         |      x -> list_contains($sw, x))) AS ns,
         |    len(list_distinct(string_split(text, ' '))) AS nd
         |  FROM documents),
         |r AS (SELECT
         |    CASE WHEN wc < 40 THEN 0 WHEN wc < 69 THEN 1 ELSE 2 END AS a,
         |    CASE WHEN ns*1000 < wc*24 THEN 0 WHEN ns*1000 < wc*46 THEN 1
         |      ELSE 2 END AS b,
         |    CASE WHEN nd*1000 >= wc*556 THEN 0 WHEN nd*1000 >= wc*394 THEN 1
         |      ELSE 2 END AS c
         |  FROM t),
         |nij AS (SELECT
         |    (CASE WHEN a=0 THEN 1 ELSE 0 END) + (CASE WHEN b=0 THEN 1 ELSE 0 END)
         |      + (CASE WHEN c=0 THEN 1 ELSE 0 END) AS n0,
         |    (CASE WHEN a=1 THEN 1 ELSE 0 END) + (CASE WHEN b=1 THEN 1 ELSE 0 END)
         |      + (CASE WHEN c=1 THEN 1 ELSE 0 END) AS n1,
         |    (CASE WHEN a=2 THEN 1 ELSE 0 END) + (CASE WHEN b=2 THEN 1 ELSE 0 END)
         |      + (CASE WHEN c=2 THEN 1 ELSE 0 END) AS n2
         |  FROM r),
         |agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items,
         |    CAST(SUM(n0*n0 + n1*n1 + n2*n2) AS BIGINT) AS s,
         |    CAST(SUM(n0) AS BIGINT) AS c0, CAST(SUM(n1) AS BIGINT) AS c1,
         |    CAST(SUM(n2) AS BIGINT) AS c2
         |  FROM nij)
         |SELECT n_items, s AS sum_sq, c0, c1, c2,
         |  ${r6Sql("CAST(3*n_items*(s - 3*n_items) - 2*(c0*c0 + c1*c1 + c2*c2) AS DOUBLE) / CAST(18*n_items*n_items - 2*(c0*c0 + c1*c1 + c2*c2) AS DOUBLE)")} AS kappa
         |FROM agg"""
    }) { (s, dir) =>
      import s.implicits._
      // Fleiss' kappa — q213's Cohen kappa generalized to n raters x k
      // categories, the agreement statistic for multi-annotator labeling
      // campaigns (3+ raters is the norm for preference/quality labels).
      // Three deterministic rule raters tri-bin every document: length
      // terciles, stopword-ratio terciles, and type-token-ratio terciles
      // (oriented so low diversity = category 2, aligning with the length
      // raters on repetitive long docs — fixture kappa ~0.32, "fair").
      // All thresholds are integer cross-multiplications; the per-item
      // agreement sum S = sum_i sum_j n_ij^2 and category marginals c_j
      // are exact BIGINTs, and kappa collapses to the single division
      // (3N(S-3N) - 2*sum c_j^2) / (18N^2 - 2*sum c_j^2) — one r6'd IEEE
      // divide, the q213 discipline. Map-side rating + one single-row
      // aggregate: trivially 100 TB-safe.
      val sw = graft.functions.TextHash.stopWordsSparkArray
      val t = T(s, dir, "documents").select(
        expr("size(split(text, ' '))").as("wc"),
        expr(s"size(filter(split(text, ' '), x -> array_contains($sw, x)))").as("ns"),
        expr("size(array_distinct(split(text, ' ')))").as("nd"))
      val r = t.select(
        when($"wc" < 40, 0).when($"wc" < 69, 1).otherwise(2).as("a"),
        when($"ns" * 1000 < $"wc" * 24, 0)
          .when($"ns" * 1000 < $"wc" * 46, 1).otherwise(2).as("b"),
        when($"nd" * 1000 >= $"wc" * 556, 0)
          .when($"nd" * 1000 >= $"wc" * 394, 1).otherwise(2).as("c"))
      def nj(j: Int): Column =
        (when($"a" === j, 1).otherwise(0) + when($"b" === j, 1).otherwise(0) +
          when($"c" === j, 1).otherwise(0)).as(s"n$j")
      val agg = r.select(nj(0), nj(1), nj(2))
        .agg(count(lit(1)).as("n_items"),
          sum($"n0" * $"n0" + $"n1" * $"n1" + $"n2" * $"n2").as("s"),
          sum($"n0").as("c0"), sum($"n1").as("c1"), sum($"n2").as("c2"))
      val cc = $"c0" * $"c0" + $"c1" * $"c1" + $"c2" * $"c2"
      agg.select($"n_items", $"s".as("sum_sq"), $"c0", $"c1", $"c2",
        r6((lit(3) * $"n_items" * ($"s" - lit(3) * $"n_items") - lit(2) * cc)
          .cast("double") /
          (lit(18) * $"n_items" * $"n_items" - lit(2) * cc).cast("double"))
          .as("kappa"))
    },

    q("q383_paired_bootstrap", {
      val P = graft.functions.TextHash.P
      val sw = graft.functions.TextHash.stopWordsDuckList
      val u = graft.functions.TextHash
        .duckPolyHash("CAST(t.doc_id*64 + bs.b AS VARCHAR)")
      val sp = graft.functions.TextHash.splitCaseDuck("doc_id")
      s"""WITH t AS (SELECT doc_id,
         |    (len(list_filter(string_split(text, ' '),
         |       x -> list_contains($sw, x))) * 1000000)
         |      // len(string_split(text, ' ')) AS sa,
         |    (len(list_distinct(string_split(text, ' '))) * 1000000)
         |      // len(string_split(text, ' ')) AS sb
         |  FROM documents WHERE $sp = 'test'),
         |bs AS (SELECT range AS b FROM range(0, 64)),
         |w AS (SELECT t.sa, t.sb, bs.b,
         |    (($u) * 2654435761) % $P % 1000000 + 1 AS u FROM t, bs),
         |ww AS (SELECT b, sa, sb, CASE WHEN u <= 367879 THEN 0
         |    WHEN u <= 735759 THEN 1 WHEN u <= 919699 THEN 2
         |    WHEN u <= 981012 THEN 3 ELSE 4 END AS wt
         |  FROM w),
         |rep AS (SELECT b, CAST(SUM(wt*(sa - sb)) AS BIGINT) AS dsum,
         |    CAST(SUM(wt) AS BIGINT) AS n FROM ww GROUP BY b HAVING SUM(wt) > 0),
         |rd AS (SELECT b, CASE WHEN dsum >= 0 THEN (dsum * 1000) // n
         |    ELSE -(((-dsum) * 1000) // n) END AS dmean FROM rep),
         |pt AS (SELECT CAST(SUM(sa - sb) AS BIGINT) AS psum,
         |    CAST(COUNT(*) AS BIGINT) AS pn FROM t)
         |SELECT CAST(CASE WHEN psum >= 0 THEN (psum * 1000) // pn
         |    ELSE -(((-psum) * 1000) // pn) END AS BIGINT) AS point_diff_nano,
         |  CAST((SELECT COUNT(*) FROM rd) AS BIGINT) AS n_replicas,
         |  CAST((SELECT (SUM(CASE WHEN dmean > 0 THEN 1 ELSE 0 END) * 1000000)
         |      // COUNT(*) FROM rd) AS BIGINT) AS a_wins_ppm,
         |  CAST((SELECT MIN(dmean) FROM rd) AS BIGINT) AS min_diff_nano,
         |  CAST((SELECT MAX(dmean) FROM rd) AS BIGINT) AS max_diff_nano
         |FROM pt"""
    }) { (s, dir) =>
      import s.implicits._
      // Paired bootstrap model comparison — the standard significance test
      // for "is scorer A actually better than scorer B on this eval set?"
      // (Koehn 2004 for MT; universal for LM evals). The two "models" are
      // the stopword-ratio and type-token-ratio quality scorers over the
      // held-out (md5) test split; PAIRED means each bootstrap replicate
      // applies the SAME Poisson(1) weight to both scores of a document
      // (the q223 deterministic per-(row,replica) hash draw), so replicate
      // means of the DIFFERENCE are compared. Negative sums divide via the
      // sign-symmetric floor (both dialects state the identical CASE), and
      // a_wins_ppm is the fraction of replicates where A's mean exceeds
      // B's — the bootstrap p-value readout. Per-row weight draw is
      // map-side; the replicate table is 64 rows. 100 TB-safe.
      val P = graft.functions.TextHash.P
      val sw = graft.functions.TextHash.stopWordsSparkArray
      val sp = graft.functions.TextHash.splitCaseSpark("doc_id")
      val t = T(s, dir, "documents")
        .filter(expr(sp) === "test")
        .select($"doc_id",
          expr(s"(size(filter(split(text, ' '), x -> array_contains($sw, x))) * 1000000) div size(split(text, ' '))").as("sa"),
          expr("(size(array_distinct(split(text, ' '))) * 1000000) div size(split(text, ' '))").as("sb"))
      val w = t.select($"doc_id", $"sa", $"sb",
          explode(sequence(lit(0), lit(63))).as("b"))
        .withColumn("u", expr(
          s"(graft_polyhash(CAST(doc_id*64 + b AS STRING)) * 2654435761) % $P % 1000000 + 1"))
        .withColumn("wt", when($"u" <= 367879, 0L).when($"u" <= 735759, 1L)
          .when($"u" <= 919699, 2L).when($"u" <= 981012, 3L).otherwise(4L))
      val rep = w.groupBy($"b")
        .agg(sum($"wt" * ($"sa" - $"sb")).as("dsum"), sum($"wt").as("n"))
        .filter($"n" > 0)
        .withColumn("dmean", expr(
          "CASE WHEN dsum >= 0 THEN (dsum * 1000) div n ELSE -(((-dsum) * 1000) div n) END"))
        .agg(count(lit(1)).as("n_replicas"),
          expr("(SUM(CASE WHEN dmean > 0 THEN 1 ELSE 0 END) * 1000000) div COUNT(1)").as("a_wins_ppm"),
          min($"dmean").as("min_diff_nano"), max($"dmean").as("max_diff_nano"))
      val pt = t.agg(sum($"sa" - $"sb").as("psum"), count(lit(1)).as("pn"))
        .select(expr(
          "CAST(CASE WHEN psum >= 0 THEN (psum * 1000) div pn ELSE -(((-psum) * 1000) div pn) END AS BIGINT)")
          .as("point_diff_nano"))
      pt.crossJoin(broadcast(rep))
        .select($"point_diff_nano", $"n_replicas", $"a_wins_ppm",
          $"min_diff_nano", $"max_diff_nano")
    },

    q("q402_pass_at_k",
      // Unbiased pass@k (Chen et al. 2021, HumanEval appendix): with n
      // samples per problem of which c succeed, the probability that a
      // random size-k subset contains >=1 success is
      // 1 - C(n-c,k)/C(n,k) — NOT 1-(1-c/n)^k, which the naive column
      // computes side by side to expose its bias (sampling WITHOUT
      // replacement always passes at least as often). Both engines run
      // the identical integer recurrence in pico-units —
      // acc_{i+1} = floor(acc_i * max(n-c-i,0) / (n-i)) — so the
      // hypergeometric ratio needs no floats and no factorials (the
      // running value never exceeds 1e12 * n). Problems = users,
      // samples = their events, success = a purchase event; the operator
      // certifies ESTIMATOR MECHANICS on fixture traffic, like q397.
      // Per-problem (n, c) is one map-side-combinable groupBy; the k-fan
      // is a 3-row broadcast. 100 TB-safe.
      passAtKOracleSql) { (s, dir) =>
      import s.implicits._
      passAtKReadout(s, T(s, dir, "events")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("n"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("c")))
    },

    q("q403_best_of_n",
      // Unbiased best-of-n curve (Nakano et al. 2021, WebGPT appendix):
      // with N scored samples per problem, the expected MAX reward of a
      // random size-n subset is sum_i C(i-1,n-1)/C(N,n) * r_(i) over the
      // ascending-sorted rewards — the standard readout for "how much
      // does reward-model best-of-n buy at n=4, 16?" without throwing
      // away samples per draw. The weight is a per-row integer recurrence
      // in pico-units (acc_0 = 1e12*n/N; acc_j = acc*(i-j)/(N-j),
      // floor each step, identical in both engines); ranks below n get a
      // zero factor at j=i and stay zero, so no branch is needed. The sum
      // is invariant to tied-reward rank order (weights depend only on
      // position), rewards are exact centi-units via floor(value*100+.5)
      // on the same IEEE double both engines read. problems = users,
      // samples = their events, reward = the event value — estimator
      // MECHANICS on fixture traffic, like q402/q397. Per-user windows
      // are bounded (a problem's sample count), the n-fan is a 3-row
      // broadcast; nothing global. 100 TB-safe.
      """WITH RECURSIVE e AS (SELECT user_id, event_id,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS r FROM events),
        |rk AS (SELECT user_id, r,
        |    CAST(row_number() OVER (PARTITION BY user_id
        |      ORDER BY r, event_id) AS BIGINT) AS i,
        |    CAST(COUNT(*) OVER (PARTITION BY user_id) AS BIGINT) AS nn
        |  FROM e),
        |ns AS (SELECT CAST(unnest([1, 4, 16]) AS BIGINT) AS n),
        |base AS (SELECT rk.user_id, rk.r, rk.i, rk.nn, ns.n
        |  FROM rk, ns WHERE rk.nn >= ns.n),
        |it AS (
        |  SELECT user_id, r, i, nn, n, CAST(1 AS BIGINT) AS j,
        |    (1000000000000 * n) // nn AS acc
        |  FROM base
        |  UNION ALL
        |  SELECT user_id, r, i, nn, n, j + 1, (acc * (i - j)) // (nn - j)
        |  FROM it WHERE j <= n - 1),
        |w AS (SELECT user_id, n, r, acc FROM it WHERE j = n),
        |pu AS (SELECT user_id, n,
        |    CAST(SUM(acc * r) // 100000000 AS BIGINT) AS bon
        |  FROM w GROUP BY user_id, n)
        |SELECT n, CAST(COUNT(*) AS BIGINT) AS users,
        |  CAST(SUM(bon) // COUNT(*) AS BIGINT) AS mean_bon_micro
        |FROM pu GROUP BY n ORDER BY n""") { (s, dir) =>
      import s.implicits._
      val ranked = T(s, dir, "events")
        .select($"user_id", $"event_id",
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("r"))
        .withColumn("i", row_number().over(
          Window.partitionBy($"user_id").orderBy($"r", $"event_id"))
          .cast("long"))
        .withColumn("nn", count(lit(1)).over(
          Window.partitionBy($"user_id")).cast("long"))
      val ns = Seq(1L, 4L, 16L).toDF("n")
      ranked.crossJoin(broadcast(ns)).where($"nn" >= $"n")
        .withColumn("acc", expr(
          """IF(n = 1, (1000000000000 * n) div nn,
            |  aggregate(sequence(CAST(1 AS BIGINT), n - 1),
            |    (1000000000000 * n) div nn,
            |    (acc, j) -> (acc * (i - j)) div (nn - j)))""".stripMargin))
        .groupBy($"user_id", $"n")
        .agg(expr("SUM(acc * r) div 100000000").as("bon"))
        .groupBy($"n")
        .agg(count(lit(1)).as("users"),
          expr("SUM(bon) div COUNT(1)").as("mean_bon_micro"))
        .orderBy($"n")
    },

    q("q410_streaming_pass_at_k",
      // Streaming twin of q402 through the engine's source — the shape a
      // live eval harness takes: per-problem (n, c) is a complete-mode
      // keyed aggregation whose state is two counters per problem
      // forever (the classic incrementally-maintainable sufficient
      // statistic), drained with AvailableNow over bounded micro-batches;
      // the hypergeometric readout then runs in batch over the state
      // SNAPSHOT, because pass@k is a function of final (n, c) only —
      // the same split q145/q388 use between streamed state and offline
      // readback. The oracle is q402's batch statement verbatim:
      // streamed counters must reproduce the batch estimator exactly.
      passAtKOracleSql) { (s, dir) =>
      import s.implicits._
      val root = graft.LogFixtures.eventTypeUser(s, dir)
      // trigger scales with the input (q352's lesson): the complete-mode
      // snapshot is identical at any batch count, so drain in ~3 batches
      // at any SF instead of 25 batches of commit overhead at sf0.1
      val nIn = Tables.rowCount(s, dir, "events")
      val state = graft.streaming.StreamHarness.runToMemory(s, "q410", mode = "complete") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "events")
          .option("valueSchema",
            "event_id BIGINT, event_type STRING, user_id BIGINT")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", math.max(4000L, nIn / 3).toString)
          .load()
          .groupBy($"user_id")
          .agg(count(lit(1)).as("n"),
            sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("c"))
      }
      passAtKReadout(s, state)
    },

    q("q405_simpsons_audit",
      // Simpson's-paradox screen: the pooled association between two
      // variables can flip sign against every stratum's association when
      // stratum sizes confound (UC-Berkeley admissions being the canonical
      // case) — the audit a data-mixing pass runs before trusting any
      // pooled correlation across sources. Per stratum (event type) the
      // regression-slope NUMERATOR n*Sxy - Sx*Sy carries the association
      // sign in exact BIGINT sufficient statistics (x = hour-of-day by
      // integer epoch math, y = centi-value via floor(value*100+.5) on
      // the same IEEE double both engines read); the pooled row recomputes
      // it from the summed statistics. reversal_flag fires only when every
      // stratum agrees on a nonzero sign and the pooled sign is nonzero
      // and opposite — the operator certifies the DETECTOR's mechanics on
      // fixture traffic (a null result is the honest readout, q397-style).
      // One map-side-combinable groupBy; the stratum table is bounded by
      // the event-type vocabulary, so the flag fan-out is a broadcast.
      // 100 TB-safe.
      """WITH e AS (SELECT event_type AS stratum,
        |    (epoch_ms(CAST(ts AS TIMESTAMP)) // 3600000) % 24 AS x,
        |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS y
        |  FROM events),
        |st AS (SELECT stratum, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
        |    CAST(SUM(x * y) AS BIGINT) AS sxy
        |  FROM e GROUP BY stratum),
        |pl AS (SELECT 'ALL' AS stratum, CAST(SUM(n) AS BIGINT) AS n,
        |    CAST(SUM(sx) AS BIGINT) AS sx, CAST(SUM(sy) AS BIGINT) AS sy,
        |    CAST(SUM(sxy) AS BIGINT) AS sxy
        |  FROM st),
        |sl AS (SELECT stratum, n, n * sxy - sx * sy AS slope_num
        |  FROM (SELECT * FROM st UNION ALL SELECT * FROM pl)),
        |sg AS (SELECT stratum, n, slope_num,
        |    CASE WHEN slope_num > 0 THEN 1
        |         WHEN slope_num < 0 THEN -1 ELSE 0 END AS slope_sign
        |  FROM sl),
        |ag AS (SELECT CASE WHEN MIN(slope_sign) = MAX(slope_sign)
        |      THEN MIN(slope_sign) ELSE 0 END AS common_sign
        |  FROM sg WHERE stratum <> 'ALL'),
        |fl AS (SELECT CASE WHEN ag.common_sign <> 0 AND p.slope_sign <> 0
        |      AND p.slope_sign <> ag.common_sign THEN 1 ELSE 0 END AS rev
        |  FROM ag, (SELECT slope_sign FROM sg WHERE stratum = 'ALL') p)
        |SELECT sg.stratum, sg.n, sg.slope_num, sg.slope_sign,
        |  CAST(fl.rev AS BIGINT) AS reversal_flag
        |FROM sg, fl ORDER BY sg.stratum""") { (s, dir) =>
      import s.implicits._
      val st = T(s, dir, "events")
        .select($"event_type".as("stratum"),
          expr("(unix_millis(ts) div 3600000) % 24").as("x"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("y"))
        .groupBy($"stratum")
        .agg(count(lit(1)).as("n"), sum($"x").as("sx"), sum($"y").as("sy"),
          sum($"x" * $"y").as("sxy"))
        .transform(graft.CacheScope.cached) // stratum rows + pooled fold
      val pl = st.agg(sum($"n").as("n"), sum($"sx").as("sx"),
          sum($"sy").as("sy"), sum($"sxy").as("sxy"))
        .select(lit("ALL").as("stratum"), $"n", $"sx", $"sy", $"sxy")
      val sg = st.unionByName(pl)
        .withColumn("slope_num", $"n" * $"sxy" - $"sx" * $"sy")
        .withColumn("slope_sign", expr(
          "CASE WHEN slope_num > 0 THEN 1 WHEN slope_num < 0 THEN -1 ELSE 0 END"))
      val common = sg.filter($"stratum" =!= "ALL")
        .agg(expr("CASE WHEN MIN(slope_sign) = MAX(slope_sign) " +
          "THEN MIN(slope_sign) ELSE 0 END").as("common_sign"))
      val flag = sg.filter($"stratum" === "ALL")
        .select($"slope_sign".as("pooled_sign"))
        .crossJoin(broadcast(common))
        .select(expr("CAST(CASE WHEN common_sign <> 0 AND pooled_sign <> 0 " +
          "AND pooled_sign <> common_sign THEN 1 ELSE 0 END AS BIGINT)")
          .as("reversal_flag"))
      sg.select($"stratum", $"n", $"slope_num", $"slope_sign")
        .crossJoin(broadcast(flag))
        .orderBy($"stratum")
    },

    q("q406_loo_influence",
      // Leave-one-group-out influence on a fitted model, in closed form:
      // for an OLS slope the sufficient statistics are additive, so the
      // refit WITHOUT group g needs no second pass — subtract g's moment
      // sums from the totals and re-evaluate the slope formula. This is
      // the exact group-level influence function a data-curation pass
      // uses to ask "which source is dragging the fit?" without one
      // retrain per source (the q366 ablation needs one LM rescore per
      // source; here additivity makes it free). Same global-minus-group
      // subtraction as q298's k-fold trainer — but where q298 reads the
      // held-out ERROR for model selection, this reads the COEFFICIENT
      // SHIFT per left-out group: the influence-function attribution,
      // signed toward the group that drags the fit. q126's discipline: every
      // Σ is an order-independent DECIMAL sum, derived stats are one IEEE
      // expression with identical op order in both dialects, r6-rounded;
      // x is bounded (user_id % 100) so scaled sums stay far below 2^53.
      // One groupBy plus a 1-row totals broadcast. 100 TB-safe.
      s"""WITH b AS (SELECT event_type,
         |    CAST(user_id % 100 AS DOUBLE) x, value y FROM events),
         |s AS (SELECT event_type, CAST(COUNT(*) AS DOUBLE) n,
         |    ${dsumSql("x")} sx, ${dsumSql("y")} sy,
         |    ${dsumSql("x*y")} sxy, ${dsumSql("x*x")} sxx
         |  FROM b GROUP BY event_type),
         |t AS (SELECT CAST(COUNT(*) AS DOUBLE) nn,
         |    ${dsumSql("x")} tsx, ${dsumSql("y")} tsy,
         |    ${dsumSql("x*y")} tsxy, ${dsumSql("x*x")} tsxx
         |  FROM b)
         |SELECT s.event_type, CAST(s.n AS BIGINT) AS n,
         |  ${r6Sql("(nn*tsxy - tsx*tsy) / (nn*tsxx - tsx*tsx)")} AS slope_full,
         |  ${r6Sql("((nn - n)*(tsxy - sxy) - (tsx - sx)*(tsy - sy)) / ((nn - n)*(tsxx - sxx) - (tsx - sx)*(tsx - sx))")} AS slope_loo,
         |  ${r6Sql("((nn - n)*(tsxy - sxy) - (tsx - sx)*(tsy - sy)) / ((nn - n)*(tsxx - sxx) - (tsx - sx)*(tsx - sx)) - (nn*tsxy - tsx*tsy) / (nn*tsxx - tsx*tsx)")} AS influence
         |FROM s, t ORDER BY s.event_type""") { (s, dir) =>
      import s.implicits._
      val b = T(s, dir, "events")
        .select($"event_type", ($"user_id" % 100).cast("double").as("x"),
          $"value".as("y"))
        .transform(graft.CacheScope.cached) // per-group pass + totals pass
      val perGroup = b.groupBy($"event_type")
        .agg(count(lit(1)).cast("double").as("n"),
          dsum($"x").as("sx"), dsum($"y").as("sy"),
          dsum($"x" * $"y").as("sxy"), dsum($"x" * $"x").as("sxx"))
      val totals = b.agg(count(lit(1)).cast("double").as("nn"),
        dsum($"x").as("tsx"), dsum($"y").as("tsy"),
        dsum($"x" * $"y").as("tsxy"), dsum($"x" * $"x").as("tsxx"))
      val full = ($"nn" * $"tsxy" - $"tsx" * $"tsy") /
        ($"nn" * $"tsxx" - $"tsx" * $"tsx")
      val loo = (($"nn" - $"n") * ($"tsxy" - $"sxy") -
          ($"tsx" - $"sx") * ($"tsy" - $"sy")) /
        (($"nn" - $"n") * ($"tsxx" - $"sxx") -
          ($"tsx" - $"sx") * ($"tsx" - $"sx"))
      perGroup.crossJoin(broadcast(totals))
        .select($"event_type", $"n".cast("long").as("n"),
          r6(full).as("slope_full"),
          r6(loo).as("slope_loo"),
          r6(loo - full).as("influence"))
        .orderBy($"event_type")
    },

    q("q420_dawid_skene", {
      val sw = graft.functions.TextHash.stopWordsDuckList
      s"""WITH t AS (SELECT len(string_split(text, ' ')) AS wc,
         |    len(list_filter(string_split(text, ' '),
         |      x -> list_contains($sw, x))) AS ns,
         |    len(list_distinct(string_split(text, ' '))) AS nd
         |  FROM documents),
         |r AS (SELECT
         |    CASE WHEN wc < 40 THEN 0 WHEN wc < 69 THEN 1 ELSE 2 END AS a,
         |    CASE WHEN ns*1000 < wc*24 THEN 0 WHEN ns*1000 < wc*46 THEN 1
         |      ELSE 2 END AS b,
         |    CASE WHEN nd*1000 >= wc*556 THEN 0 WHEN nd*1000 >= wc*394 THEN 1
         |      ELSE 2 END AS c
         |  FROM t),
         |pat AS (SELECT a, b, c, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM r GROUP BY a, b, c),
         |k3 AS (SELECT CAST(unnest([0,1,2]) AS BIGINT) AS k),
         |r3 AS (SELECT CAST(unnest([0,1,2]) AS BIGINT) AS rr),
         |e1 AS (SELECT p.a, p.b, p.c, p.cnt, k.k,
         |    CAST(333333 AS HUGEINT)
         |      * (CASE WHEN k.k = p.a THEN 700000 ELSE 150000 END)
         |      * (CASE WHEN k.k = p.b THEN 700000 ELSE 150000 END)
         |      * (CASE WHEN k.k = p.c THEN 700000 ELSE 150000 END) AS w
         |  FROM pat p, k3 k),
         |p1 AS (SELECT a, b, c, cnt, k,
         |    CAST((w * 1000000) // SUM(w) OVER (PARTITION BY a, b, c)
         |      AS BIGINT) AS post
         |  FROM e1),
         |lab1 AS (SELECT p.cnt, p.k, p.post, r3.rr,
         |    CASE r3.rr WHEN 0 THEN p.a WHEN 1 THEN p.b ELSE p.c END AS l
         |  FROM p1 p, r3),
         |num1 AS (SELECT rr, k, l, CAST(SUM(cnt * post) AS BIGINT) AS num
         |  FROM lab1 GROUP BY rr, k, l),
         |den1 AS (SELECT rr, k, CAST(SUM(cnt * post) AS BIGINT) AS den
         |  FROM lab1 GROUP BY rr, k),
         |conf1 AS (SELECT g.rr, g.k, g.l,
         |    (COALESCE(n.num, 0) * 1000000) // d.den AS cm
         |  FROM (SELECT r3.rr, k3.k, l3.k AS l FROM r3, k3, k3 l3) g
         |  JOIN den1 d ON d.rr = g.rr AND d.k = g.k
         |  LEFT JOIN num1 n ON n.rr = g.rr AND n.k = g.k AND n.l = g.l),
         |prior1 AS (SELECT k, CAST(SUM(cnt * post) // SUM(cnt) AS BIGINT) AS pm
         |  FROM p1 GROUP BY k),
         |e2 AS (SELECT p.a, p.b, p.c, p.cnt, k.k,
         |    CAST(pr.pm AS HUGEINT) * ca.cm * cb.cm * cc.cm AS w
         |  FROM pat p, k3 k
         |  JOIN prior1 pr ON pr.k = k.k
         |  JOIN conf1 ca ON ca.rr = 0 AND ca.k = k.k AND ca.l = p.a
         |  JOIN conf1 cb ON cb.rr = 1 AND cb.k = k.k AND cb.l = p.b
         |  JOIN conf1 cc ON cc.rr = 2 AND cc.k = k.k AND cc.l = p.c),
         |p2 AS (SELECT a, b, c, cnt, k,
         |    CAST((w * 1000000) // SUM(w) OVER (PARTITION BY a, b, c)
         |      AS BIGINT) AS post
         |  FROM e2),
         |lab2 AS (SELECT p.cnt, p.k, p.post, r3.rr,
         |    CASE r3.rr WHEN 0 THEN p.a WHEN 1 THEN p.b ELSE p.c END AS l
         |  FROM p2 p, r3),
         |num2 AS (SELECT rr, k, l, CAST(SUM(cnt * post) AS BIGINT) AS num
         |  FROM lab2 GROUP BY rr, k, l),
         |den2 AS (SELECT rr, k, CAST(SUM(cnt * post) AS BIGINT) AS den
         |  FROM lab2 GROUP BY rr, k),
         |conf2 AS (SELECT g.rr, g.k, g.l,
         |    (COALESCE(n.num, 0) * 1000000) // d.den AS cm
         |  FROM (SELECT r3.rr, k3.k, l3.k AS l FROM r3, k3, k3 l3) g
         |  JOIN den2 d ON d.rr = g.rr AND d.k = g.k
         |  LEFT JOIN num2 n ON n.rr = g.rr AND n.k = g.k AND n.l = g.l),
         |prior2 AS (SELECT k, CAST(SUM(cnt * post) // SUM(cnt) AS BIGINT) AS pm
         |  FROM p2 GROUP BY k)
         |SELECT CASE rr WHEN 0 THEN 'len_tercile' WHEN 1 THEN 'stop_tercile'
         |    ELSE 'ttr_tercile' END AS rater,
         |  k AS true_class, l AS label, CAST(cm AS BIGINT) AS value_micro
         |FROM conf2
         |UNION ALL
         |SELECT '__prior', k, k, pm FROM prior2
         |ORDER BY rater, true_class, label"""
    }) { (s, dir) =>
      import s.implicits._
      // Dawid-Skene annotator-confusion estimation — the canonical
      // label-aggregation model behind every multi-annotator campaign:
      // latent true class per item, per-rater confusion matrices, fit by
      // EM. Raters are q381's three deterministic rule raters (length /
      // stopword-ratio / type-token-ratio terciles), so the estimator's
      // verdict is itself checkable: it discovers that the length and TTR
      // raters are reliable (~0.9 diagonal) while the stopword rater is
      // noise — exactly the per-annotator readout Fleiss' single kappa
      // cannot give. The corpus-sized work is ONE pattern-count
      // aggregation (3^3 = 27 bounded patterns); the EM runs driver-side
      // on the collected pattern table in exact BigInt micro arithmetic,
      // 2 unrolled iterations from a diagonal-0.7 init (q365's
      // bounded-stats fit shape — floor divisions on non-negatives match
      // DuckDB's // operand for operand, and the posterior products stay
      // exact integers: 1e6^3 * 1e6 < 2^127 on both sides, HUGEINT in
      // the oracle, BigInt here).
      val sw = graft.functions.TextHash.stopWordsSparkArray
      val pat = T(s, dir, "documents")
        .select(expr("size(split(text, ' '))").as("wc"),
          expr(s"size(filter(split(text, ' '), x -> array_contains($sw, x)))")
            .as("ns"),
          expr("size(array_distinct(split(text, ' ')))").as("nd"))
        .select(
          when($"wc" < 40, 0).when($"wc" < 69, 1).otherwise(2).as("a"),
          when($"ns" * 1000 < $"wc" * 24, 0)
            .when($"ns" * 1000 < $"wc" * 46, 1).otherwise(2).as("b"),
          when($"nd" * 1000 >= $"wc" * 556, 0)
            .when($"nd" * 1000 >= $"wc" * 394, 1).otherwise(2).as("c"))
        .groupBy($"a", $"b", $"c").agg(count(lit(1)).as("cnt"))
        .collect()
        .map(r => (r.getInt(0), r.getInt(1), r.getInt(2), r.getLong(3)))
      var prior: Array[BigInt] = Array.fill(3)(BigInt(333333))
      var conf: Array[Array[Array[BigInt]]] =
        Array.tabulate(3, 3, 3)((_, k, l) =>
          BigInt(if (k == l) 700000 else 150000))
      (0 until 2).foreach { _ =>
        val num = Array.fill(3, 3, 3)(BigInt(0))
        val den = Array.fill(3, 3)(BigInt(0))
        val pnum = Array.fill(3)(BigInt(0))
        var n = BigInt(0)
        pat.foreach { case (a, b, c, cnt) =>
          val labels = Array(a, b, c)
          val w = Array.tabulate(3)(k =>
            prior(k) * conf(0)(k)(a) * conf(1)(k)(b) * conf(2)(k)(c))
          val tot = w.sum
          val post = w.map(x => (x * 1000000) / tot)
          n += cnt
          for (k <- 0 until 3) {
            pnum(k) += post(k) * cnt
            for (r <- 0 until 3) {
              num(r)(k)(labels(r)) += post(k) * cnt
              den(r)(k) += post(k) * cnt
            }
          }
        }
        conf = Array.tabulate(3, 3, 3)((r, k, l) =>
          if (den(r)(k) > 0) (num(r)(k)(l) * 1000000) / den(r)(k)
          else BigInt(0))
        prior = Array.tabulate(3)(k => pnum(k) / n)
      }
      val names = Array("len_tercile", "stop_tercile", "ttr_tercile")
      val rows = (for {
        r <- 0 until 3; k <- 0 until 3; l <- 0 until 3
      } yield (names(r), k.toLong, l.toLong, conf(r)(k)(l).toLong)) ++
        (0 until 3).map(k => ("__prior", k.toLong, k.toLong, prior(k).toLong))
      rows.toDF("rater", "true_class", "label", "value_micro")
        .orderBy($"rater", $"true_class", $"label")
    },

    q("q466_dtw_alignment", {
      val inf = "CAST(1000000000000000 AS BIGINT)"
      // cell lookup into a diagonal list with an explicit positive-index
      // guard (DuckDB negative list indices read from the END — an
      // unguarded i-1 lookup would silently alias the last cell).
      def at(lst: String, pos: String): String =
        s"CASE WHEN $pos >= 1 THEN COALESCE($lst[CAST($pos AS INT)], $inf) ELSE $inf END"
      s"""WITH RECURSIVE c AS (SELECT CAST(ts AS DATE) AS day,
         |    CAST(SUM(CASE WHEN event_type = 'click' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS x,
         |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
         |      AS BIGINT) AS y
         |  FROM events GROUP BY 1),
         |arr AS (SELECT list(x ORDER BY day) AS xa, list(y ORDER BY day)
         |    AS ya, CAST(COUNT(*) AS BIGINT) AS n FROM c),
         |rec(d, cur, prv) AS (
         |  SELECT CAST(2 AS BIGINT), [abs(xa[1] - ya[1])],
         |    CAST([] AS BIGINT[]) FROM arr
         |  UNION ALL
         |  SELECT d + 1,
         |    list_transform(range(GREATEST(1, d + 1 - n), LEAST(n, d) + 1),
         |      i -> CASE WHEN abs(2*i - (d+1)) > 7 THEN $inf
         |        ELSE abs(xa[CAST(i AS INT)] - ya[CAST(d + 1 - i AS INT)])
         |          + LEAST(
         |            ${at("cur", "i - 1 - GREATEST(1, d - n) + 1")},
         |            ${at("cur", "i - GREATEST(1, d - n) + 1")},
         |            ${at("prv", "i - 1 - GREATEST(1, d - 1 - n) + 1")})
         |        END),
         |    cur
         |  FROM rec, arr WHERE d < 2 * n),
         |fin AS (SELECT cur[1] AS dtw FROM rec, arr WHERE d = 2 * n),
         |ls AS (SELECT CAST(list_sum(list_transform(range(1, n + 1), i ->
         |    abs(xa[CAST(i AS INT)] - ya[CAST(i AS INT)]))) AS BIGINT)
         |    AS lockstep, n FROM arr)
         |SELECT ls.n AS n_days, CAST(fin.dtw AS BIGINT) AS dtw_cost,
         |  ls.lockstep AS lockstep_cost,
         |  CAST(((ls.lockstep - fin.dtw) * 1000000)
         |    // GREATEST(ls.lockstep, 1) AS BIGINT) AS warp_gain_ppm
         |FROM fin, ls"""
    }) { (s, dir) =>
      import s.implicits._
      // Banded dynamic-time-warping alignment (Sakoe-Chiba radius 7)
      // between two daily-volume curves — "do purchases follow the click
      // curve, allowing a few days of lag?", the shape-similarity readout
      // a lockstep L1 distance misses whenever one series is a shifted
      // copy of the other. The corpus-scale work is the one keyed
      // day-rollup shuffle; the DP itself runs IN-PLAN as a nested
      // integer fold over the calendar-bounded 30x30 band (no collect,
      // no UDF) — row i of the cost matrix folds over the previous row,
      // out-of-band cells pinned to an INF that real paths (<= 60 steps
      // of bounded daily diffs) can never reach. The oracle recomputes
      // the SAME DP by a different decomposition entirely (anti-diagonal
      // recursive CTE), so an index-off-by-one in either formulation
      // cannot survive the hash compare. warp_gain_ppm = how much of the
      // lockstep distance warping explains away; EvaluationSpec pins
      // dtw(x,x) = 0, dtw <= lockstep, and a planted-shift law.
      val inf = "CAST(1000000000000000 AS BIGINT)"
      val c = T(s, dir, "events")
        .groupBy(to_date($"ts").as("day"))
        .agg(sum(when($"event_type" === "click", 1L).otherwise(0L)).as("x"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
      val arr = c.agg(
        expr("transform(array_sort(collect_list(struct(day, x))), s -> s.x)")
          .as("xa"),
        expr("transform(array_sort(collect_list(struct(day, y))), s -> s.y)")
          .as("ya"),
        count(lit(1)).as("n"))
      arr.select($"n".as("n_days"),
          expr(dtwExprSpark("xa", "ya", "CAST(n AS INT)", 7)).as("dtw_cost"),
          expr("aggregate(zip_with(xa, ya, (a, b) -> abs(a - b)), " +
            "CAST(0 AS BIGINT), (acc, v) -> acc + v)").as("lockstep_cost"))
        .select($"n_days", $"dtw_cost", $"lockstep_cost",
          expr("CAST(((lockstep_cost - dtw_cost) * 1000000) div " +
            "GREATEST(lockstep_cost, 1) AS BIGINT)").as("warp_gain_ppm"))
    },
  )

  /** q466's banded-DTW dynamic program as one Spark SQL expression over two
    * BIGINT-array column exprs of equal length `n` (a SQL int expr): row i
    * of the cost matrix folds over row i-1, with out-of-band cells pinned
    * to an INF no real path can reach. Exposed for EvaluationSpec's
    * identity / shift laws on literal arrays.
    */
  private[graft] def dtwExprSpark(xa: String, ya: String, n: String,
      band: Int): String = {
    val inf = "CAST(1000000000000000 AS BIGINT)"
    s"""element_at(aggregate(sequence(1, $n),
       |  transform(sequence(1, $n), j -> $inf),
       |  (prev, i) -> aggregate(sequence(1, $n),
       |    CAST(array() AS ARRAY<BIGINT>),
       |    (r, j) -> concat(r, array(
       |      IF(abs(i - j) > $band, $inf,
       |        abs(element_at($xa, i) - element_at($ya, j)) + least(
       |          element_at(prev, j),
       |          IF(j = 1, IF(i = 1, CAST(0 AS BIGINT), $inf),
       |            element_at(prev, j - 1)),
       |          IF(j = 1, $inf, element_at(r, j - 1))))))))
       |, $n)""".stripMargin
  }
}
