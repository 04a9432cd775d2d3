package graft.operators

import graft.QueryDef.q
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Production-monitoring operators: sequential change detection (CUSUM,
  * SPRT), distribution drift (PSI), rank agreement (Kendall tau-b), PII
  * redaction audit, and quantile-forecast scoring (pinball loss) — the
  * queries that run CONTINUOUSLY against a production corpus/event stream
  * to decide when the data changed out from under the models.
  *
  * The reference delegates all per-entry computation to handler callbacks
  * (/root/reference/lib/redix/stream/consumer.ex:283-299); these are the
  * standard monitoring handlers made first-class. Shared discipline: every
  * sequential statistic is a prefix-sum identity over a BOUNDED grid (days,
  * bins, compacted domains), never an entity-sized ordered walk; every ln is
  * a single call on a single rational rounded to integer micro units (the
  * q239 rule); thresholds are inlined integer constants.
  */
object Monitoring {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // SPRT design constants (H0: p = 0.18 vs H1: p = 0.22, alpha = beta =
  // 0.05), inlined in micro units identically in both dialects:
  // ln(22/18), ln(78/82), ln(19).
  private val SprtLa = 200671L
  private val SprtLb = -50010L
  private val SprtThr = 2944439L

  val defs: Seq[QueryDef] = Seq(

    q("q324_cusum_change",
      // One-sided CUSUM change detection on daily event volume, per type —
      // the sequential alarm that catches a sustained upward shift long
      // before a fixed threshold on any single day would. The textbook
      // recursion S_t = max(0, S_{t-1} + x_t - k) is NOT a prefix sum, but
      // its closed form IS: S_t = P_t - min(0, min_{j<=t} P_j) with
      // P_t = cum_x*1e6 - t*k_micro — so the whole detector is two window
      // passes (cumsum + running min) over the zero-filled (type x day)
      // grid, bounded by the calendar at any event volume. k = the type's
      // own mean daily volume; alarm when S >= k (one reference-day of
      // cumulative excess — policy constant, stated in-band). Exact
      // integers end to end.
      """WITH c AS (SELECT event_type, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n FROM events GROUP BY 1, 2),
        |b AS (SELECT MIN(day) lo, MAX(day) hi FROM c),
        |days AS (SELECT CAST(unnest(generate_series(lo, hi,
        |    INTERVAL 1 DAY)) AS DATE) AS day FROM b),
        |g AS (SELECT t.event_type, days.day, COALESCE(c.n, 0) AS n
        |  FROM (SELECT DISTINCT event_type FROM c) t CROSS JOIN days
        |  LEFT JOIN c ON c.event_type = t.event_type AND c.day = days.day),
        |k AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_days,
        |    (CAST(SUM(n) AS BIGINT) * 1000000) // COUNT(*) AS k_micro
        |  FROM g GROUP BY event_type),
        |p AS (SELECT g.event_type, g.day, k.n_days, k.k_micro,
        |    SUM(g.n) OVER (PARTITION BY g.event_type ORDER BY g.day)
        |      * 1000000
        |    - CAST(ROW_NUMBER() OVER (PARTITION BY g.event_type
        |        ORDER BY g.day) AS BIGINT) * k.k_micro AS pm
        |  FROM g JOIN k ON k.event_type = g.event_type),
        |s AS (SELECT event_type, day, n_days, k_micro,
        |    pm - LEAST(CAST(0 AS BIGINT), MIN(pm) OVER (
        |      PARTITION BY event_type ORDER BY day)) AS cusum_micro
        |  FROM p),
        |r AS (SELECT event_type, day, n_days, k_micro, cusum_micro,
        |    ROW_NUMBER() OVER (PARTITION BY event_type
        |      ORDER BY cusum_micro DESC, day) AS rk,
        |    CASE WHEN cusum_micro >= k_micro THEN 1 ELSE 0 END AS alarm
        |  FROM s)
        |SELECT event_type, CAST(MIN(n_days) AS BIGINT) AS n_days,
        |  CAST(MIN(k_micro) AS BIGINT) AS k_micro,
        |  CAST(MAX(cusum_micro) AS BIGINT) AS max_cusum_micro,
        |  MIN(CASE WHEN rk = 1 THEN day END) AS peak_day,
        |  CAST(SUM(alarm) AS BIGINT) AS n_alarm_days
        |FROM r GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val c = T(s, dir, "events")
        .groupBy($"event_type", to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n"))
        .transform(graft.CacheScope.cached) // grid left side + bounds
      val b = c.agg(min($"day").as("lo"), max($"day").as("hi"))
      val days = b.select(explode(expr(
        "sequence(lo, hi, interval 1 day)")).as("day"))
      val g = c.select($"event_type").distinct()
        .crossJoin(broadcast(days))
        .join(c, Seq("event_type", "day"), "left")
        .select($"event_type", $"day", coalesce($"n", lit(0L)).as("n"))
        .transform(graft.CacheScope.cached) // k + the window passes
      val k = g.groupBy($"event_type")
        .agg(count(lit(1)).as("n_days"),
          expr("(SUM(n) * 1000000) div COUNT(*)").as("k_micro"))
      val byDay = Window.partitionBy($"event_type").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val r = g.join(broadcast(k), Seq("event_type"))
        .withColumn("pm",
          sum($"n").over(byDay) * 1000000L -
            row_number().over(Window.partitionBy($"event_type")
              .orderBy($"day")).cast("long") * $"k_micro")
        .withColumn("cusum_micro",
          $"pm" - least(lit(0L), min($"pm").over(byDay)))
        .withColumn("rk", row_number().over(
          Window.partitionBy($"event_type")
            .orderBy($"cusum_micro".desc, $"day")))
        .withColumn("alarm",
          when($"cusum_micro" >= $"k_micro", 1L).otherwise(0L))
      r.groupBy($"event_type")
        .agg(min($"n_days").as("n_days"), min($"k_micro").as("k_micro"),
          max($"cusum_micro").as("max_cusum_micro"),
          min(when($"rk" === 1, $"day")).as("peak_day"),
          sum($"alarm").as("n_alarm_days"))
        .orderBy($"event_type")
    },

    q("q325_pii_redaction",
      // PII scrub audit — the curation stage every released corpus runs:
      // find and redact emails, phone numbers, and SSN-shaped ids, then
      // PROVE the scrub completed (zero residual matches ride the output).
      // The fixture plants deterministic PII per document (two emails, a
      // phone, an SSN), so the oracle checks detection counts, the
      // redacted byte length, and residuals cross-engine. Pure map-side
      // regex at any corpus size; the only shuffle is the per-source
      // rollup. Patterns avoid backslash escapes (the q163 dialect rule).
      """WITH d AS (SELECT doc_id, source,
        |    concat(text, ' contact user', CAST(doc_id AS STRING),
        |      '@mail.example.com or u', CAST(doc_id AS STRING),
        |      '@backup.example.org phone 555-',
        |      lpad(CAST(doc_id % 10000 AS STRING), 4, '0'), ' ssn 123-45-',
        |      lpad(CAST(doc_id % 10000 AS STRING), 4, '0')) AS t
        |  FROM documents),
        |m AS (SELECT doc_id, source, t,
        |    CAST(len(regexp_extract_all(t,
        |      '[a-z0-9]+@[a-z0-9.]+[.][a-z]+')) AS BIGINT) AS n_email,
        |    CAST(len(regexp_extract_all(t, '555-[0-9]{4}')) AS BIGINT)
        |      AS n_phone,
        |    CAST(len(regexp_extract_all(t,
        |      '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_ssn
        |  FROM d),
        |r AS (SELECT doc_id, source, n_email, n_phone, n_ssn,
        |    regexp_replace(regexp_replace(regexp_replace(t,
        |      '[0-9]{3}-[0-9]{2}-[0-9]{4}', '[SSN]', 'g'),
        |      '555-[0-9]{4}', '[PHONE]', 'g'),
        |      '[a-z0-9]+@[a-z0-9.]+[.][a-z]+', '[EMAIL]', 'g') AS red
        |  FROM m),
        |v AS (SELECT doc_id, source, n_email, n_phone, n_ssn,
        |    CAST(length(red) AS BIGINT) AS red_len,
        |    CAST(len(regexp_extract_all(red,
        |      '[a-z0-9]+@[a-z0-9.]+[.][a-z]+')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(red, '555-[0-9]{4}')) AS BIGINT)
        |    + CAST(len(regexp_extract_all(red,
        |        '[0-9]{3}-[0-9]{2}-[0-9]{4}')) AS BIGINT) AS n_residual
        |  FROM r)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_email) AS BIGINT) AS n_emails,
        |  CAST(SUM(n_phone) AS BIGINT) AS n_phones,
        |  CAST(SUM(n_ssn) AS BIGINT) AS n_ssns,
        |  CAST(SUM(n_residual) AS BIGINT) AS n_residual,
        |  CAST(SUM(red_len) AS BIGINT) AS sum_redacted_len
        |FROM v GROUP BY source ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val email = "[a-z0-9]+@[a-z0-9.]+[.][a-z]+"
      val phone = "555-[0-9]{4}"
      val ssn = "[0-9]{3}-[0-9]{2}-[0-9]{4}"
      T(s, dir, "documents")
        .withColumn("t", concat($"text", lit(" contact user"),
          $"doc_id".cast("string"), lit("@mail.example.com or u"),
          $"doc_id".cast("string"), lit("@backup.example.org phone 555-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0"),
          lit(" ssn 123-45-"),
          lpad(($"doc_id" % 10000).cast("string"), 4, "0")))
        .withColumn("n_email", expr(s"regexp_count(t, '$email')").cast("long"))
        .withColumn("n_phone", expr(s"regexp_count(t, '$phone')").cast("long"))
        .withColumn("n_ssn", expr(s"regexp_count(t, '$ssn')").cast("long"))
        .withColumn("red", regexp_replace(regexp_replace(regexp_replace(
          $"t", ssn, "[SSN]"), phone, "[PHONE]"), email, "[EMAIL]"))
        .withColumn("n_residual",
          (expr(s"regexp_count(red, '$email')") +
            expr(s"regexp_count(red, '$phone')") +
            expr(s"regexp_count(red, '$ssn')")).cast("long"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_email").as("n_emails"),
          sum($"n_phone").as("n_phones"), sum($"n_ssn").as("n_ssns"),
          sum($"n_residual").as("n_residual"),
          sum(length($"red").cast("long")).as("sum_redacted_len"))
        .orderBy($"source")
    },

    q("q326_kendall_tau",
      // Kendall tau-b rank agreement between per-user activity volume and
      // purchase count — the tie-aware rank correlation reported when
      // Spearman's squared-rank-difference form is distorted by heavy ties
      // (integer metrics ARE heavily tied). Concordant/discordant pairs
      // come from a self-join of the COMPACTED (x, y) cell grid (bounded
      // by the two metric domains, never user-sized); tie corrections
      // n1/n2 are per-marginal sums. Products widen through
      // HUGEINT/DECIMAL(38,0) (pair counts are O(n^2)); the tau-b
      // denominator sqrt is the single trailing IEEE chain.
      """WITH u AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS x,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS y
        |  FROM events GROUP BY user_id),
        |cells AS (SELECT x, y, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM u GROUP BY x, y),
        |n AS (SELECT CAST(SUM(c) AS HUGEINT) AS n FROM cells),
        |cd AS (SELECT
        |    CAST(COALESCE(SUM(CASE WHEN a.x < b.x AND a.y < b.y
        |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS HUGEINT) AS conc,
        |    CAST(COALESCE(SUM(CASE WHEN a.x < b.x AND a.y > b.y
        |      THEN CAST(a.c AS HUGEINT) * b.c END), 0) AS HUGEINT) AS disc
        |  FROM cells a, cells b),
        |tx AS (SELECT CAST(SUM(CAST(tc AS HUGEINT) * (tc - 1) // 2)
        |    AS HUGEINT) AS n1 FROM (SELECT x, CAST(SUM(c) AS BIGINT) AS tc
        |  FROM cells GROUP BY x)),
        |ty AS (SELECT CAST(SUM(CAST(tc AS HUGEINT) * (tc - 1) // 2)
        |    AS HUGEINT) AS n2 FROM (SELECT y, CAST(SUM(c) AS BIGINT) AS tc
        |  FROM cells GROUP BY y))
        |SELECT CAST(n.n AS BIGINT) AS n_users,
        |  CAST(cd.conc AS BIGINT) AS concordant,
        |  CAST(cd.disc AS BIGINT) AS discordant,
        |  CAST(tx.n1 AS BIGINT) AS ties_x, CAST(ty.n2 AS BIGINT) AS ties_y,
        |  CAST(FLOOR(CAST(cd.conc - cd.disc AS DOUBLE)
        |    / sqrt(CAST(n.n * (n.n - 1) // 2 - tx.n1 AS DOUBLE)
        |           * CAST(n.n * (n.n - 1) // 2 - ty.n2 AS DOUBLE))
        |    * 1000000 + 0.5) AS BIGINT) AS tau_b_ppm
        |FROM n, cd, tx, ty""") { (s, dir) =>
      import s.implicits._
      val D = "DECIMAL(38,0)"
      val cells = T(s, dir, "events")
        .groupBy($"user_id")
        .agg(count(lit(1)).as("x"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("y"))
        .groupBy($"x", $"y").agg(count(lit(1)).as("c"))
        .transform(graft.CacheScope.cached) // self-join + marginals + n
      val n = cells.agg(sum($"c").cast(D).as("n"))
      val cd = cells.as("a").crossJoin(broadcast(cells.as("b")))
        .agg(
          coalesce(sum(when($"a.x" < $"b.x" && $"a.y" < $"b.y",
            $"a.c".cast(D) * $"b.c")), lit(0L).cast(D)).as("conc"),
          coalesce(sum(when($"a.x" < $"b.x" && $"a.y" > $"b.y",
            $"a.c".cast(D) * $"b.c")), lit(0L).cast(D)).as("disc"))
      val tx = cells.groupBy($"x").agg(sum($"c").as("tc"))
        .agg(sum(expr(s"CAST(tc AS $D) * (tc - 1) div 2")).as("n1"))
      val ty = cells.groupBy($"y").agg(sum($"c").as("tc"))
        .agg(sum(expr(s"CAST(tc AS $D) * (tc - 1) div 2")).as("n2"))
      broadcast(n).crossJoin(broadcast(cd)).crossJoin(broadcast(tx))
        .crossJoin(broadcast(ty))
        .select($"n".cast("long").as("n_users"),
          $"conc".cast("long").as("concordant"),
          $"disc".cast("long").as("discordant"),
          $"n1".cast("long").as("ties_x"), $"n2".cast("long").as("ties_y"),
          expr("CAST(FLOOR(CAST(conc - disc AS DOUBLE) " +
            "/ sqrt(CAST(n * (n - 1) div 2 - n1 AS DOUBLE) " +
            "* CAST(n * (n - 1) div 2 - n2 AS DOUBLE)) " +
            "* 1000000 + 0.5) AS BIGINT)").as("tau_b_ppm"))
    },

    q("q327_psi_drift",
      // Population Stability Index between the first and second half of
      // the event timeline over the value distribution — the industry
      // drift score (credit-risk lineage) every model-monitoring dashboard
      // thresholds at 0.1 / 0.25. Ten equal-width bins over the global
      // integer cents domain, Laplace-smoothed ppm shares so empty bins
      // can't blow up the log, and each bin's term is ONE ln of a single
      // ppm rational rounded to integer micro units before the sum (the
      // q239 rule — engines cannot disagree on addition order). Bounded
      // work after the two binning aggregations; midpoint, bins, and
      // shares all derive from the data.
      s"""WITH e AS (SELECT CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
        |    CAST(epoch_ms(CAST(ts AS TIMESTAMP)) AS BIGINT) AS ms
        |  FROM events),
        |b AS (SELECT MIN(vc) lo, MAX(vc) - MIN(vc) + 1 AS w,
        |    (MIN(ms) + MAX(ms)) // 2 AS mid FROM e),
        |h AS (SELECT ((vc - lo) * 10) // w AS bin,
        |    CASE WHEN ms <= mid THEN 1 ELSE 0 END AS in_a FROM e, b),
        |cnt AS (SELECT bin, CAST(SUM(in_a) AS BIGINT) AS ca,
        |    CAST(SUM(1 - in_a) AS BIGINT) AS cb FROM h GROUP BY bin),
        |grid AS (SELECT CAST(unnest(range(10)) AS BIGINT) AS bin),
        |z AS (SELECT grid.bin, COALESCE(cnt.ca, 0) AS ca,
        |    COALESCE(cnt.cb, 0) AS cb
        |  FROM grid LEFT JOIN cnt ON cnt.bin = grid.bin),
        |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na,
        |    CAST(SUM(cb) AS BIGINT) AS nb FROM z),
        |pq AS (SELECT bin, ca, cb,
        |    ((ca + 1) * 1000000) // (na + 10) AS p_ppm,
        |    ((cb + 1) * 1000000) // (nb + 10) AS q_ppm FROM z, tot),
        |t AS (SELECT bin, ca, cb, p_ppm, q_ppm,
        |    CAST(FLOOR((p_ppm - q_ppm)
        |      * ${graft.ColFns.detLnSql("p_ppm", "q_ppm")} + 0.5) AS BIGINT)
        |      AS term_micro
        |  FROM pq)
        |SELECT bin, ca AS n_first_half, cb AS n_second_half, p_ppm, q_ppm,
        |  term_micro,
        |  CAST(SUM(term_micro) OVER () AS BIGINT) AS psi_micro,
        |  CASE WHEN SUM(term_micro) OVER () < 100000 THEN 'stable'
        |       WHEN SUM(term_micro) OVER () < 250000 THEN 'moderate'
        |       ELSE 'major' END AS drift_band
        |FROM t ORDER BY bin""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "events")
        .select(floor($"value" * 100 + 0.5).cast("long").as("vc"),
          unix_millis($"ts").as("ms"))
      val b = e.agg(min($"vc").as("lo"),
        (max($"vc") - min($"vc") + 1).as("w"),
        expr("(MIN(ms) + MAX(ms)) div 2").as("mid"))
      val cnt = e.crossJoin(broadcast(b))
        .select(expr("((vc - lo) * 10) div w").as("bin"),
          when($"ms" <= $"mid", 1L).otherwise(0L).as("in_a"))
        .groupBy($"bin")
        .agg(sum($"in_a").as("ca"), sum(lit(1L) - $"in_a").as("cb"))
      val grid = s.range(0, 10).select($"id".as("bin"))
      val z = grid.join(broadcast(cnt), Seq("bin"), "left")
        .select($"bin", coalesce($"ca", lit(0L)).as("ca"),
          coalesce($"cb", lit(0L)).as("cb"))
        .transform(graft.CacheScope.cached) // totals + terms
      val tot = z.agg(sum($"ca").as("na"), sum($"cb").as("nb"))
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      z.crossJoin(broadcast(tot))
        .withColumn("p_ppm", expr("((ca + 1) * 1000000) div (na + 10)"))
        .withColumn("q_ppm", expr("((cb + 1) * 1000000) div (nb + 10)"))
        .withColumn("term_micro",
          floor(($"p_ppm" - $"q_ppm")
            * graft.ColFns.detLn($"p_ppm", $"q_ppm") + 0.5).cast("long"))
        .withColumn("psi_micro", sum($"term_micro").over(all))
        .select($"bin", $"ca".as("n_first_half"), $"cb".as("n_second_half"),
          $"p_ppm", $"q_ppm", $"term_micro", $"psi_micro",
          when($"psi_micro" < 100000L, "stable")
            .when($"psi_micro" < 250000L, "moderate")
            .otherwise("major").as("drift_band"))
        .orderBy($"bin")
    },

    q("q328_sprt_ab",
      // Wald's Sequential Probability Ratio Test on an A/B conversion
      // stream — the always-valid early-stopping test that replaces the
      // fixed-horizon z-test when peeking daily: H0 p=0.18 vs H1 p=0.22 at
      // alpha = beta = 0.05, decided per variant from the DAILY cumulative
      // (trials, successes) walk (trial = event, success = purchase;
      // variant = user hash). LLR_t = s_t*ln(p1/p0) + (n_t-s_t)*
      // ln((1-p1)/(1-p0)) is LINEAR in the prefix counts — the inlined
      // micro constants 200671 / -50010 and the ln(19) barrier 2944439
      // keep every compared value an exact BIGINT. All windows run on the
      // bounded (variant x day) grid; the per-day aggregation is the only
      // data-sized work. The fixture's true rate ~0.198 sits between the
      // hypotheses, so 'continue' at the horizon is the HONEST verdict.
      s"""WITH d AS (SELECT user_id % 2 AS variant, CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS s
        |  FROM events GROUP BY 1, 2),
        |c AS (SELECT variant, day,
        |    SUM(n) OVER (PARTITION BY variant ORDER BY day) AS n_cum,
        |    SUM(s) OVER (PARTITION BY variant ORDER BY day) AS s_cum
        |  FROM d),
        |l AS (SELECT variant, day, n_cum, s_cum,
        |    s_cum * $SprtLa + (n_cum - s_cum) * $SprtLb AS llr_micro
        |  FROM c),
        |x AS (SELECT variant, day, n_cum, s_cum, llr_micro,
        |    CASE WHEN llr_micro >= $SprtThr THEN 'accept_h1'
        |         WHEN llr_micro <= -$SprtThr THEN 'accept_h0'
        |         ELSE 'continue' END AS state,
        |    ROW_NUMBER() OVER (PARTITION BY variant ORDER BY day DESC)
        |      AS rev,
        |    MIN(CASE WHEN llr_micro >= $SprtThr
        |          OR llr_micro <= -$SprtThr THEN day END)
        |      OVER (PARTITION BY variant) AS cross_day
        |  FROM l),
        |dec AS (SELECT variant,
        |    MIN(CASE WHEN day = cross_day THEN state END) AS decision
        |  FROM x GROUP BY variant)
        |SELECT CAST(x.variant AS BIGINT) AS variant,
        |  CAST(n_cum AS BIGINT) AS n_trials,
        |  CAST(s_cum AS BIGINT) AS n_success,
        |  CAST(llr_micro AS BIGINT) AS final_llr_micro,
        |  COALESCE(CAST(cross_day AS VARCHAR), 'none') AS first_cross_day,
        |  COALESCE(dec.decision, 'continue') AS decision
        |FROM x JOIN dec ON dec.variant = x.variant
        |WHERE rev = 1 ORDER BY variant""") { (s, dir) =>
      import s.implicits._
      val d = T(s, dir, "events")
        .groupBy(($"user_id" % 2).as("variant"), to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when($"event_type" === "purchase", 1L).otherwise(0L)).as("s"))
      val byDay = Window.partitionBy($"variant").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val byVar = Window.partitionBy($"variant")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      d.withColumn("n_cum", sum($"n").over(byDay))
        .withColumn("s_cum", sum($"s").over(byDay))
        .withColumn("llr_micro",
          $"s_cum" * SprtLa + ($"n_cum" - $"s_cum") * SprtLb)
        .withColumn("state",
          when($"llr_micro" >= SprtThr, "accept_h1")
            .when($"llr_micro" <= -SprtThr, "accept_h0")
            .otherwise("continue"))
        .withColumn("rev", row_number().over(
          Window.partitionBy($"variant").orderBy($"day".desc)))
        .withColumn("cross_day", min(when($"llr_micro" >= SprtThr ||
          $"llr_micro" <= -SprtThr, $"day")).over(byVar))
        // SPRT is absorbing: the verdict is the barrier hit at the FIRST
        // crossing, not the state at the horizon
        .withColumn("decision", coalesce(
          min(when($"day" === $"cross_day", $"state")).over(byVar),
          lit("continue")))
        .filter($"rev" === 1)
        .select($"variant".cast("long").as("variant"),
          $"n_cum".as("n_trials"), $"s_cum".as("n_success"),
          $"llr_micro".as("final_llr_micro"),
          coalesce($"cross_day".cast("string"), lit("none"))
            .as("first_cross_day"),
          $"decision")
        .orderBy($"variant")
    },

    q("q348_srm_check",
      // Sample-ratio-mismatch guardrail — the FIRST check any A/B readout
      // must pass: with a deterministic 50/50 user hash split, the
      // chi-square statistic over (observed A, observed B) against the
      // expected half-half must stay below the df=1 critical value
      // (3.841459 at alpha=0.05, inlined micro constant). SRM firing
      // means the assignment or logging pipeline is biased and every
      // downstream metric is untrustworthy. chi2 = (nA-nB)^2/(nA+nB)
      // exactly (both cells deviate by the same delta); cross-multiplied
      // into integers, one per-user aggregation then constant work.
      """WITH u AS (SELECT user_id, user_id % 2 AS variant FROM
        |  (SELECT DISTINCT user_id FROM events)),
        |c AS (SELECT CAST(SUM(CASE WHEN variant = 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS na,
        |    CAST(SUM(CASE WHEN variant = 1 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nb
        |  FROM u)
        |SELECT na AS n_variant_a, nb AS n_variant_b,
        |  CAST(((na - nb) * (na - nb) * 1000000) // (na + nb) AS BIGINT)
        |    AS chi2_micro,
        |  ((na - nb) * (na - nb) * 1000000) // (na + nb) < 3841459
        |    AS ratio_ok
        |FROM c""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "events")
        .select($"user_id").distinct()
        .select(($"user_id" % 2).as("variant"))
        .agg(sum(when($"variant" === 0, 1L).otherwise(0L)).as("na"),
          sum(when($"variant" === 1, 1L).otherwise(0L)).as("nb"))
        .select($"na".as("n_variant_a"), $"nb".as("n_variant_b"),
          expr("((na - nb) * (na - nb) * 1000000) div (na + nb)")
            .as("chi2_micro"),
          expr("((na - nb) * (na - nb) * 1000000) div (na + nb) < 3841459")
            .as("ratio_ok"))
    },

    q("q349_shard_balance",
      // Data-parallel training shard assignment audit: documents hash
      // deterministically into 8 dataloader shards (multiplicative
      // scatter of doc_id, the q165 trick — modular doc_id would
      // correlate with the fixture's source striping) and the audit
      // proves (a) the assignment is a PARTITION (token sums add back to
      // the corpus total — certificate column) and (b) per-shard token
      // skew is within tolerance: a slow shard sets the step time of
      // every data-parallel worker, so max/mean token imbalance is the
      // number that decides whether the loader needs length-aware
      // balancing (q333). Integer token counts; one doc-level pass.
      """WITH d AS (SELECT (doc_id * 2654435761) % 1000000007 % 8 AS shard,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS toks
        |  FROM documents),
        |s AS (SELECT shard, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    CAST(SUM(toks) AS BIGINT) AS n_tokens
        |  FROM d GROUP BY shard)
        |SELECT CAST(shard AS BIGINT) AS shard, n_docs, n_tokens,
        |  CAST((n_tokens * 8000000) // SUM(n_tokens) OVER () AS BIGINT)
        |    AS share_x8_ppm,
        |  CAST(SUM(n_tokens) OVER () AS BIGINT) AS total_tokens,
        |  CAST((MAX(n_tokens) OVER () * 1000000)
        |    // (SUM(n_tokens) OVER () // 8) AS BIGINT) AS max_over_mean_ppm
        |FROM s ORDER BY shard""") { (s, dir) =>
      import s.implicits._
      val d = T(s, dir, "documents")
        .select(expr("(doc_id * 2654435761) % 1000000007 % 8").as("shard"),
          size(split($"text", " ")).cast("long").as("toks"))
        .groupBy($"shard")
        .agg(count(lit(1)).as("n_docs"), sum($"toks").as("n_tokens"))
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      d.withColumn("share_x8_ppm",
          expr("(n_tokens * 8000000) div (SUM(n_tokens) OVER ())"))
        .withColumn("total_tokens", sum($"n_tokens").over(all))
        .withColumn("max_over_mean_ppm",
          expr("(MAX(n_tokens) OVER () * 1000000) " +
            "div ((SUM(n_tokens) OVER ()) div 8)"))
        .select($"shard".cast("long").as("shard"), $"n_docs", $"n_tokens",
          $"share_x8_ppm", $"total_tokens", $"max_over_mean_ppm")
        .orderBy($"shard")
    },

    q("q357_slo_burn_rate",
      // Multiwindow error-budget burn rate (the Google SRE alerting
      // recipe): with an SLO of 75% non-error events (budget = 25%),
      // burn = error_share / budget per window; the alert fires only
      // when BOTH the short (3-day) and long (14-day) windows burn
      // faster than 1x — the two-window AND is what kills both
      // flappy-spike pages and slow-leak blindness. Windows anchor to
      // the corpus high-water day; everything is integer ppm over the
      // bounded day grid after one daily pre-aggregation.
      """WITH d AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
        |      AS BIGINT) AS bad
        |  FROM events GROUP BY day),
        |hw AS (SELECT MAX(day) AS hi FROM d),
        |w AS (SELECT
        |    CAST(SUM(CASE WHEN day > hi - INTERVAL 3 DAY THEN n ELSE 0 END)
        |      AS BIGINT) AS n_short,
        |    CAST(SUM(CASE WHEN day > hi - INTERVAL 3 DAY THEN bad ELSE 0
        |      END) AS BIGINT) AS bad_short,
        |    CAST(SUM(CASE WHEN day > hi - INTERVAL 14 DAY THEN n ELSE 0
        |      END) AS BIGINT) AS n_long,
        |    CAST(SUM(CASE WHEN day > hi - INTERVAL 14 DAY THEN bad ELSE 0
        |      END) AS BIGINT) AS bad_long
        |  FROM d, hw)
        |SELECT n_short, bad_short, n_long, bad_long,
        |  CAST((bad_short * 4000000) // n_short AS BIGINT)
        |    AS burn_short_ppm,
        |  CAST((bad_long * 4000000) // n_long AS BIGINT) AS burn_long_ppm,
        |  (bad_short * 4000000) // n_short > 1000000
        |    AND (bad_long * 4000000) // n_long > 1000000 AS page
        |FROM w""") { (s, dir) =>
      import s.implicits._
      val d = T(s, dir, "events")
        .groupBy(to_date($"ts").as("day"))
        .agg(count(lit(1)).as("n"),
          sum(when($"event_type" === "error", 1L).otherwise(0L)).as("bad"))
      val hw = d.agg(max($"day").as("hi"))
      d.crossJoin(broadcast(hw))
        .agg(
          sum(when($"day" > expr("hi - interval 3 day"), $"n")
            .otherwise(0L)).as("n_short"),
          sum(when($"day" > expr("hi - interval 3 day"), $"bad")
            .otherwise(0L)).as("bad_short"),
          sum(when($"day" > expr("hi - interval 14 day"), $"n")
            .otherwise(0L)).as("n_long"),
          sum(when($"day" > expr("hi - interval 14 day"), $"bad")
            .otherwise(0L)).as("bad_long"))
        .select($"n_short", $"bad_short", $"n_long", $"bad_long",
          expr("(bad_short * 4000000) div n_short").as("burn_short_ppm"),
          expr("(bad_long * 4000000) div n_long").as("burn_long_ppm"),
          (expr("(bad_short * 4000000) div n_short") > 1000000L &&
            expr("(bad_long * 4000000) div n_long") > 1000000L).as("page"))
    },

    q("q329_pinball_eval",
      // Pinball (quantile) loss scoring of per-type constant P90
      // forecasts — the proper scoring rule for quantile predictions
      // (Koenker & Bassett 1978): a forecaster claiming "the 90th
      // percentile" is graded by L_0.9, and the CERTIFICATE rides the
      // output — the exact P90 must score no worse than the exact median
      // under L_0.9 (P90 is the L_0.9 minimizer over constants). tau = 0.9
      // is cross-multiplied (x10), so both losses are exact BIGINT sums
      // over the COMPACTED per-type cents domain; quantiles come from the
      // same cumulative-threshold pass as q289.
      """WITH g AS (SELECT event_type,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc,
        |    CAST(COUNT(*) AS BIGINT) AS c
        |  FROM events GROUP BY event_type, vc),
        |cum AS (SELECT event_type, vc, c,
        |    SUM(c) OVER (PARTITION BY event_type ORDER BY vc) AS cum,
        |    SUM(c) OVER (PARTITION BY event_type) AS n FROM g),
        |qs AS (SELECT event_type, CAST(MIN(n) AS BIGINT) AS n,
        |    CAST(MIN(CASE WHEN 2 * cum >= n THEN vc END) AS BIGINT) AS p50,
        |    CAST(MIN(CASE WHEN 10 * cum >= 9 * n THEN vc END) AS BIGINT)
        |      AS p90
        |  FROM cum GROUP BY event_type),
        |l AS (SELECT g.event_type, qs.n, qs.p50, qs.p90,
        |    CAST(SUM(g.c * (9 * GREATEST(g.vc - qs.p90, 0)
        |      + GREATEST(qs.p90 - g.vc, 0))) AS BIGINT) AS loss10_p90,
        |    CAST(SUM(g.c * (9 * GREATEST(g.vc - qs.p50, 0)
        |      + GREATEST(qs.p50 - g.vc, 0))) AS BIGINT) AS loss10_p50
        |  FROM g JOIN qs ON qs.event_type = g.event_type
        |  GROUP BY g.event_type, qs.n, qs.p50, qs.p90)
        |SELECT event_type, n, p50, p90, loss10_p90, loss10_p50,
        |  loss10_p90 <= loss10_p50 AS p90_is_optimal
        |FROM l ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val g = T(s, dir, "events")
        .groupBy($"event_type",
          floor($"value" * 100 + 0.5).cast("long").as("vc"))
        .agg(count(lit(1)).as("c"))
        .transform(graft.CacheScope.cached) // quantile pass + loss join
      val wc = Window.partitionBy($"event_type").orderBy($"vc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy($"event_type")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val qs = g.withColumn("cum", sum($"c").over(wc))
        .withColumn("n", sum($"c").over(wt))
        .groupBy($"event_type")
        .agg(min($"n").as("n"),
          min(when(lit(2) * $"cum" >= $"n", $"vc")).as("p50"),
          min(when(lit(10) * $"cum" >= lit(9) * $"n", $"vc")).as("p90"))
      g.join(broadcast(qs), Seq("event_type"))
        .groupBy($"event_type", $"n", $"p50", $"p90")
        .agg(
          sum($"c" * (lit(9) * greatest($"vc" - $"p90", lit(0L))
            + greatest($"p90" - $"vc", lit(0L)))).as("loss10_p90"),
          sum($"c" * (lit(9) * greatest($"vc" - $"p50", lit(0L))
            + greatest($"p50" - $"vc", lit(0L)))).as("loss10_p50"))
        .select($"event_type", $"n", $"p50", $"p90", $"loss10_p90",
          $"loss10_p50",
          ($"loss10_p90" <= $"loss10_p50").as("p90_is_optimal"))
        .orderBy($"event_type")
    },

    q("q465_rendezvous_resharding", {
      val hv = graft.functions.TextHash.duckPolyHash("CAST(doc_id AS STRING)")
      val Pm = graft.functions.TextHash.P
      // h(key, k) = ((g^2 mod P) + 12345)^2 mod P with g = (hv +
      // 1000003*(k+1)) mod P — double square-mod. One squaring is not
      // enough: an affine family is MONOTONE in k (argmax would always
      // be the last shard — no rendezvous at all), and a single square
      // keeps enough stride structure to skew shard loads ~5 sigma;
      // the second squaring scatters it (measured 54..73 on 500 keys,
      // multinomial-consistent). Operands stay < P + 12345, so every
      // product is < 2^63 in both engines.
      def hrwHash(gk: String): String = {
        val g = s"((hv + 1000003*($gk+1)) % $Pm)"
        val sq = s"(($g * $g) % $Pm)"
        s"((($sq + 12345) * ($sq + 12345)) % $Pm)"
      }
      def hrw(n: Int): String =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), range($n)), " +
          s"(acc, k) -> CASE WHEN ${hrwHash("k")} > acc // 16 " +
          s"THEN ${hrwHash("k")} * 16 + k ELSE acc END) % 16"
      s"""WITH h AS (SELECT doc_id, $hv AS hv FROM documents),
         |d AS (SELECT doc_id,
         |    ${hrw(8)} AS s8, ${hrw(9)} AS s9,
         |    hv % 8 AS m8, hv % 9 AS m9 FROM h),
         |a AS (SELECT s8 AS shard, CAST(COUNT(*) AS BIGINT) AS n_before
         |  FROM d GROUP BY s8),
         |b AS (SELECT s9 AS shard, CAST(COUNT(*) AS BIGINT) AS n_after,
         |    CAST(SUM(CASE WHEN s8 = s9 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_stayed
         |  FROM d GROUP BY s9),
         |am AS (SELECT m9 AS shard, CAST(COUNT(*) AS BIGINT) AS mod_after,
         |    CAST(SUM(CASE WHEN m8 = m9 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS mod_stayed
         |  FROM d GROUP BY m9)
         |SELECT b.shard, COALESCE(a.n_before, 0) AS n_before, b.n_after,
         |  b.n_stayed, b.n_after - b.n_stayed AS moved_in,
         |  am.mod_after, am.mod_stayed,
         |  am.mod_after - am.mod_stayed AS mod_moved_in
         |FROM b LEFT JOIN a ON a.shard = b.shard
         |  JOIN am ON am.shard = b.shard
         |ORDER BY b.shard"""
    }) { (s, dir) =>
      import s.implicits._
      // Rendezvous (highest-random-weight) resharding audit — what a
      // sharded store (the engine's own sharded log sink included) must
      // verify before growing 8 shards to 9: with HRW each key goes to
      // argmax_k h(key, k), so adding shard 8 moves ONLY the keys whose
      // new argmax IS shard 8 (expected 1/9 of the corpus) and nothing
      // moves laterally between old shards — moved_in = 0 for every
      // shard < 8 is the minimal-disruption certificate, while the
      // mod-hash columns alongside show the naive hv % n scheme
      // reshuffling ~8/9 of all keys on the same event. The argmax runs
      // as a bounded 9-step integer fold per key (encode (h, k) as
      // h*16+k; strictly-greater keeps the earliest k on ties, and all
      // values are non-negative so truncating div and floor // agree);
      // assignment is pure map-side, the readout is two shard-keyed
      // rollups on a 9-row domain. 100 TB-trivial and embarrassingly
      // parallel.
      val P = graft.functions.TextHash.P
      def hrwHash(gk: String): String = {
        val g = s"((hv + 1000003*($gk+1)) % $P)"
        val sq = s"(($g * $g) % $P)"
        s"((($sq + 12345) * ($sq + 12345)) % $P)"
      }
      def hrw(n: Int): String =
        s"aggregate(sequence(0, ${n - 1}), CAST(0 AS BIGINT), " +
          s"(acc, k) -> IF(${hrwHash("k")} > acc div 16, " +
          s"${hrwHash("k")} * 16 + k, acc)) % 16"
      val d = T(s, dir, "documents")
        .withColumn("hv",
          expr(graft.functions.TextHash.polyHashSql("CAST(doc_id AS STRING)")))
        .select($"doc_id", expr(hrw(8)).as("s8"), expr(hrw(9)).as("s9"),
          ($"hv" % 8).as("m8"), ($"hv" % 9).as("m9"))
        .transform(graft.CacheScope.cached)
      val a = d.groupBy($"s8".as("shard"))
        .agg(count(lit(1)).as("n_before"))
      val b = d.groupBy($"s9".as("shard"))
        .agg(count(lit(1)).as("n_after"),
          sum(when($"s8" === $"s9", 1L).otherwise(0L)).as("n_stayed"))
      val am = d.groupBy($"m9".as("mshard"))
        .agg(count(lit(1)).as("mod_after"),
          sum(when($"m8" === $"m9", 1L).otherwise(0L)).as("mod_stayed"))
      b.join(a, Seq("shard"), "left")
        .join(am, $"shard" === $"mshard")
        .select($"shard", coalesce($"n_before", lit(0L)).as("n_before"),
          $"n_after", $"n_stayed",
          ($"n_after" - $"n_stayed").as("moved_in"),
          $"mod_after", $"mod_stayed",
          ($"mod_after" - $"mod_stayed").as("mod_moved_in"))
        .orderBy($"shard")
    },

    q("q467_wasserstein_drift",
      // Exact 1-D Wasserstein-1 (earth-mover) drift between each event
      // type's value distribution in the first vs second half of the
      // month — the transport-distance complement to PSI (q327, binned,
      // blind WITHIN a bin) and KS (q290, sup-norm, blind to HOW FAR
      // mass moved): W1 = integral |F1 - F2| dv over the compacted cents
      // domain, so it prices both how much mass moved and how far.
      // Integer discipline: per domain step the CDF gap is floored to
      // micro units FIRST (gap_micro = 1e6*|c1*n2 - c2*n1| // (n1*n2),
      // numerator <= 1e6 * n1 * n2 so no overflow at any SF), then
      // weighted by the exact cents step width — documented
      // micro-resolution rounding, identical in both engines. One keyed
      // shuffle to the (type, cents) rollup; cumulative and step windows
      // are keyed per type over the COMPACTED value domain (bounded by
      // distinct cents, not event rows). W1 >= |mean shift| is the
      // transport lower bound EvaluationSpec-style law in MonitoringSpec.
      w1OracleSql) { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "events")
        .select($"event_type",
          when(dayofmonth($"ts") <= 15, 1).otherwise(2).as("half"),
          expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents"))
      val c = e.groupBy($"event_type", $"cents")
        .agg(sum(when($"half" === 1, 1L).otherwise(0L)).as("d1"),
          sum(when($"half" === 2, 1L).otherwise(0L)).as("d2"))
        .transform(graft.CacheScope.cached)
      w1Finalize(c)
    },

    q("q471_streaming_w1_drift", w1OracleSql) { (s, dir) =>
      import s.implicits._
      // Streaming twin of q467 through the engine's source — the LIVE
      // drift monitor: events stream in, the state is the COMPACTED
      // (type, cents) count table maintained by a complete-mode keyed
      // aggregation (bounded by the value domain, never by event volume
      // — q182's live-sketch-table pattern), and the W1 readout runs
      // batch-side over the drained state through the SAME w1Finalize
      // helper q467 uses, so twins cannot disagree in finalization. The
      // half/cents projections are per-row map-side on each micro-batch.
      // Oracle = q467's batch statement verbatim.
      val root = graft.LogFixtures.producedLog(dir, "q471") { r =>
        graft.log.LogBulkProducer.produceAt(
          T(s, dir, "events")
            .select((unix_millis($"ts".cast("timestamp"))).as("ms"),
              $"event_id", $"event_type",
              when(dayofmonth($"ts") <= 15, 1L).otherwise(2L).as("half"),
              expr("CAST(floor(value * 100 + 0.5) AS BIGINT)").as("cents")),
          "ms", r, "ev", orderCols = Seq("event_id"))
      }
      val c = graft.streaming.StreamHarness.runToMemory(s, "q471", mode = "complete") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "ev")
          .option("valueSchema",
            "event_id BIGINT, event_type STRING, half BIGINT, cents BIGINT")
          .option("startingOffsets", "earliest")
          // scale-adaptive: 2 batches at any SF >= 0.01, 1 below the floor
          // (a fixed 4000 meant 25 batches × the per-batch commit floor at
          // sf0.1; the compacted complete-mode state is batch-count-invariant)
          .option("maxEntriesPerTrigger", graft.Tables.twoBatchCap(s, dir))
          .load()
          .groupBy($"event_type", $"cents")
          .agg(sum(when($"half" === 1L, 1L).otherwise(0L)).as("d1"),
            sum(when($"half" === 2L, 1L).otherwise(0L)).as("d2"))
      }
      w1Finalize(c.transform(graft.CacheScope.cached))
    },
  )

  /** q467/q471 shared oracle: exact 1-D W1 + mean shift per event type,
    * first vs second half of the month.
    */
  private def w1OracleSql: String =
    """WITH e AS (SELECT event_type,
      |    CASE WHEN date_part('day', ts) <= 15 THEN 1 ELSE 2 END AS half,
      |    CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events),
      |c AS (SELECT event_type, cents,
      |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS d1,
      |    CAST(SUM(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS d2
      |  FROM e GROUP BY event_type, cents),
      |t AS (SELECT event_type, CAST(SUM(d1) AS BIGINT) AS n1,
      |    CAST(SUM(d2) AS BIGINT) AS n2,
      |    CAST(SUM(d1 * cents) AS BIGINT) AS s1,
      |    CAST(SUM(d2 * cents) AS BIGINT) AS s2
      |  FROM c GROUP BY event_type),
      |w AS (SELECT c.event_type, c.cents, t.n1, t.n2, t.s1, t.s2,
      |    SUM(c.d1) OVER (PARTITION BY c.event_type ORDER BY c.cents)
      |      AS c1,
      |    SUM(c.d2) OVER (PARTITION BY c.event_type ORDER BY c.cents)
      |      AS c2,
      |    LEAD(c.cents) OVER (PARTITION BY c.event_type ORDER BY c.cents)
      |      AS nxt
      |  FROM c JOIN t ON t.event_type = c.event_type),
      |g AS (SELECT event_type, n1, n2, s1, s2,
      |    COALESCE(nxt - cents, 0)
      |      * ((1000000 * abs(c1 * n2 - c2 * n1)) // (n1 * n2)) AS term
      |  FROM w)
      |SELECT event_type, CAST(MIN(n1) AS BIGINT) AS n_first,
      |  CAST(MIN(n2) AS BIGINT) AS n_second,
      |  CAST(SUM(term) AS BIGINT) AS w1_cents_micro,
      |  CAST((1000000 * MIN(s1)) // MIN(n1) AS BIGINT)
      |    AS mean_first_micro,
      |  CAST((1000000 * MIN(s2)) // MIN(n2) AS BIGINT)
      |    AS mean_second_micro
      |FROM g GROUP BY event_type ORDER BY event_type""".stripMargin

  /** The W1 finalization q467 and its streaming twin q471 share, over the
    * compacted (event_type, cents, d1, d2) count table: per-type totals
    * broadcast back, cumulative CDFs and step widths by type-keyed
    * windows, per-step micro-floored CDF gap weighted by the cents step.
    */
  private def w1Finalize(c: DataFrame): DataFrame = {
    val s = c.sparkSession
    import s.implicits._
    // the totals side is re-keyed under a fresh name before the join —
    // c and t share lineage (and, fed from a memory sink, even attribute
    // ids), and a same-id equi join throws "Conflicting attributes"
    val t = c.groupBy($"event_type")
      .agg(sum($"d1").as("n1"), sum($"d2").as("n2"),
        sum($"d1" * $"cents").as("s1"), sum($"d2" * $"cents").as("s2"))
      .withColumnRenamed("event_type", "t_type")
    val byType = Window.partitionBy($"event_type").orderBy($"cents")
    val run = byType.rowsBetween(Window.unboundedPreceding,
      Window.currentRow)
    c.join(broadcast(t), c("event_type") === t("t_type")).drop("t_type")
      .withColumn("c1", sum($"d1").over(run))
      .withColumn("c2", sum($"d2").over(run))
      .withColumn("nxt", lead($"cents", 1).over(byType))
      .withColumn("term",
        coalesce($"nxt" - $"cents", lit(0L)) *
          expr("(1000000 * abs(c1 * n2 - c2 * n1)) div (n1 * n2)"))
      .groupBy($"event_type")
      .agg(min($"n1").as("n_first"), min($"n2").as("n_second"),
        sum($"term").as("w1_cents_micro"),
        expr("CAST((1000000 * MIN(s1)) div MIN(n1) AS BIGINT)")
          .as("mean_first_micro"),
        expr("CAST((1000000 * MIN(s2)) div MIN(n2) AS BIGINT)")
          .as("mean_second_micro"))
      .orderBy($"event_type")
  }
}
