package graft.operators

import graft.ColFns._
import graft.QueryDef.q
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

import java.nio.file.Files

/** Round-2 inventory widening (SURVEY.md §2B): TF-IDF and n-gram text
  * analytics, interval arithmetic, argmax/filtered aggregation, generator
  * (posexplode) parity, regexp extraction, analytic distribution functions,
  * ORC as a third round-trip format, deterministic hash sampling, an
  * approx-quantile accuracy contract, a salted skew-safe join, grouping_id,
  * and a second streaming-executed query (stateful dropDuplicates through
  * the graftlog engine).
  *
  * The reference delegates every one of these to user handler callbacks
  * (/root/reference/README.md:35); here they are first-class, oracle-checked
  * operators.
  */
object Extras {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    q("q79_tfidf_top_term",
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |tf AS (SELECT doc_id, unnest(w) term FROM words),
        |tfc AS (SELECT doc_id, term, COUNT(*) tf FROM tf GROUP BY 1, 2),
        |n AS (SELECT COUNT(*) nd FROM documents),
        |df AS (SELECT term, COUNT(DISTINCT doc_id) df FROM tf GROUP BY 1),
        |len AS (SELECT doc_id, COUNT(*) dl FROM tf GROUP BY 1),
        |score AS (SELECT t.doc_id, t.term,
        |    ROUND((CAST(t.tf AS DOUBLE)/len.dl) * (${
               graft.ColFns.detLnSql("n.nd + 1", "df.df + 1")} + 1.0), 6) s
        |  FROM tfc t, n JOIN df ON t.term = df.term JOIN len ON t.doc_id = len.doc_id),
        |rk AS (SELECT doc_id, term, s,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY s DESC, term) rn FROM score)
        |SELECT doc_id, term AS top_term, s AS tfidf FROM rk WHERE rn = 1
        |ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // Classic smoothed TF-IDF, all map-side until the two small groupBys;
      // the doc-frequency table is tiny (vocabulary) and broadcast into the
      // scoring join — at 100 TB the vocab side stays the broadcast side.
      // Scores are rounded BEFORE ranking on both engines so the tie-break
      // (term asc) fires identically.
      val tf = T(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
      val tfc = tf.groupBy($"doc_id", $"term").agg(count(lit(1)).as("tf"))
      val dl = tf.groupBy($"doc_id").agg(count(lit(1)).as("dl"))
      val dfT = tf.distinct().groupBy($"term").agg(count(lit(1)).as("df"))
      val nd = T(s, dir, "documents").count()
      val score = tfc
        .join(broadcast(dfT), "term")
        .join(dl, "doc_id")
        .select($"doc_id", $"term",
          round(($"tf".cast("double") / $"dl") *
            (graft.ColFns.detLn(lit(nd) + 1, $"df" + 1) + 1.0), 6).as("s"))
      val w = Window.partitionBy($"doc_id").orderBy($"s".desc, $"term")
      score.withColumn("rn", row_number().over(w))
        .filter($"rn" === 1)
        .select($"doc_id", $"term".as("top_term"), $"s".as("tfidf"))
        .orderBy($"doc_id")
    },

    q("q80_bigram_counts",
      """WITH words AS (SELECT string_split(text,' ') w FROM documents),
        |bg AS (SELECT unnest(list_transform(range(1, len(w)),
        |         i -> w[CAST(i AS INT)] || ' ' || w[CAST(i+1 AS INT)])) b
        |       FROM words WHERE len(w) >= 2)
        |SELECT b AS bigram, COUNT(*) AS n FROM bg
        |GROUP BY 1 ORDER BY n DESC, bigram LIMIT 20""") { (s, dir) =>
      import s.implicits._
      // n-gram language statistics: adjacent-pair generation is a pure
      // map-side transform (no join), then one hash aggregation; top-k via
      // deterministic (count desc, bigram asc) ordering.
      T(s, dir, "documents")
        .select(split($"text", " ").as("w"))
        .filter(size($"w") >= 2)
        .select(explode(expr(
          "transform(sequence(1, size(w) - 1), i -> concat(element_at(w, i), ' ', element_at(w, i + 1)))"))
          .as("bigram"))
        .groupBy($"bigram")
        .agg(count(lit(1)).as("n"))
        .orderBy($"n".desc, $"bigram")
        .limit(20)
    },

    q("q81_interval_arith",
      """SELECT o_orderkey,
        |  strftime(o_orderdate + INTERVAL 30 DAY, '%Y-%m-%d %H:%M:%S') AS plus30d,
        |  strftime(o_orderdate + INTERVAL 2 MONTH, '%Y-%m-%d %H:%M:%S') AS plus2mo,
        |  CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS BIGINT) AS days_since
        |FROM orders ORDER BY o_orderkey""") { (s, dir) =>
      import s.implicits._
      val fmt = "yyyy-MM-dd HH:mm:ss"
      T(s, dir, "orders")
        .select($"o_orderkey",
          date_format(expr("o_orderdate + INTERVAL 30 DAYS"), fmt).as("plus30d"),
          date_format(expr("o_orderdate + INTERVAL 2 MONTHS"), fmt).as("plus2mo"),
          datediff($"o_orderdate", lit("1995-01-01").cast("date")).cast("long").as("days_since"))
        .orderBy($"o_orderkey")
    },

    q("q82_argmax_countif",
      """SELECT o_orderpriority,
        |  arg_max(o_orderkey, o_totalprice) AS top_order,
        |  MAX(o_totalprice) AS top_price,
        |  COUNT(*) FILTER (WHERE o_totalprice > 200000) AS n_big
        |FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""") { (s, dir) =>
      import s.implicits._
      // max_by/arg_max + filtered aggregation — one pass, no self-join
      // (prices are continuous doubles; no ties in the fixtures).
      T(s, dir, "orders")
        .groupBy($"o_orderpriority")
        .agg(max_by($"o_orderkey", $"o_totalprice").as("top_order"),
          max($"o_totalprice").as("top_price"),
          count_if($"o_totalprice" > 200000).as("n_big"))
        .orderBy($"o_orderpriority")
    },

    q("q83_posexplode_words",
      """WITH t AS (SELECT doc_id, string_split(text,' ') w FROM documents
        |           WHERE doc_id % 25 = 0)
        |SELECT doc_id, CAST(generate_subscripts(w, 1) - 1 AS BIGINT) AS pos,
        |  unnest(w) AS word
        |FROM t ORDER BY doc_id, pos""") { (s, dir) =>
      import s.implicits._
      // generator/UDTF parity: position-preserving explode.
      T(s, dir, "documents")
        .filter($"doc_id" % 25 === 0)
        .select($"doc_id", posexplode(split($"text", " ")))
        .select($"doc_id", $"pos".cast("long").as("pos"), $"col".as("word"))
        .orderBy($"doc_id", $"pos")
    },

    q("q84_regexp_extract_all",
      """SELECT p_partkey,
        |  array_to_string(regexp_extract_all(p_name, '[aeiou][a-z]+'), ',') AS vwords,
        |  CAST(len(regexp_extract_all(p_name, '[aeiou][a-z]+')) AS INT) AS nv
        |FROM part ORDER BY p_partkey""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "part")
        .select($"p_partkey",
          concat_ws(",", regexp_extract_all($"p_name", lit("[aeiou][a-z]+"), lit(0))).as("vwords"),
          size(regexp_extract_all($"p_name", lit("[aeiou][a-z]+"), lit(0))).as("nv"))
        .orderBy($"p_partkey")
    },

    q("q85_window_distribution",
      """SELECT c_custkey,
        |  ROUND(PERCENT_RANK() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal), 6) AS pr,
        |  ROUND(CUME_DIST() OVER (PARTITION BY c_nationkey ORDER BY c_acctbal), 6) AS cd
        |FROM customer ORDER BY c_custkey""") { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"c_nationkey").orderBy($"c_acctbal")
      T(s, dir, "customer")
        .select($"c_custkey",
          round(percent_rank().over(w), 6).as("pr"),
          round(cume_dist().over(w), 6).as("cd"))
        .orderBy($"c_custkey")
    },

    q("q86_orc_roundtrip",
      s"""SELECT l_linestatus, COUNT(*) AS n,
         |  ${dsumSql("l_extendedprice")} AS total
         |FROM lineitem GROUP BY l_linestatus ORDER BY l_linestatus""") { (s, dir) =>
      import s.implicits._
      // third round-trip format (parquet fixtures -> ORC -> scan -> agg);
      // columnar like parquet, so pushdown/pruning still reach the scan.
      val tmp = graft.TempDirs.scratch("graft-q86")
      T(s, dir, "lineitem")
        .select($"l_linestatus", $"l_extendedprice")
        .write.mode("overwrite").orc(tmp)
      s.read.orc(tmp)
        .groupBy($"l_linestatus")
        .agg(count(lit(1)).as("n"), dsum($"l_extendedprice").as("total"))
        .orderBy($"l_linestatus")
    },

    q("q140_xml_roundtrip",
      s"""SELECT p_brand, COUNT(*) AS n,
         |  ${dsumSql("p_retailprice")} AS total
         |FROM part GROUP BY p_brand ORDER BY p_brand""") { (s, dir) =>
      import s.implicits._
      // fourth round-trip format: XML (first-class in Spark 4 — the old
      // spark-xml package moved into core). Row-oriented like JSON/CSV, so
      // an explicit schema is mandatory at scale (inference double-reads);
      // the rowTag option frames each record.
      val tmp = graft.TempDirs.scratch("graft-q140")
      T(s, dir, "part")
        .select($"p_brand", $"p_retailprice")
        .write.mode("overwrite").option("rowTag", "part").xml(tmp)
      s.read.schema("p_brand STRING, p_retailprice DOUBLE")
        .option("rowTag", "part").xml(tmp)
        .groupBy($"p_brand")
        .agg(count(lit(1)).as("n"), dsum($"p_retailprice").as("total"))
        .orderBy($"p_brand")
    },

    q("q87_hash_sample",
      """SELECT doc_id, lang, source FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 1) IN ('0','1')
        |ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // Deterministic ~12.5% sample by hashing the key — reproducible across
      // engines and runs, unlike TABLESAMPLE/rand(); the standard trick for
      // stable eval-set carving in data pipelines.
      T(s, dir, "documents")
        .filter(substring(md5($"doc_id".cast("string").cast("binary")), 1, 1)
          .isin("0", "1"))
        .select($"doc_id", $"lang", $"source")
        .orderBy($"doc_id")
    },

    q("q88_approx_quantile",
      """SELECT l_returnflag,
        |  ROUND(quantile_cont(l_extendedprice, 0.5), 4) AS p50_exact,
        |  true AS approx_within_1pct
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""") { (s, dir) =>
      import s.implicits._
      // Same contract pattern as q13 (HLL): sketch values are
      // engine-specific, so the oracle checks the exact quantile plus the
      // ACCURACY BOUND of the sketch, stated as a constant-true column.
      T(s, dir, "lineitem")
        .groupBy($"l_returnflag")
        .agg(
          round(expr("percentile(l_extendedprice, 0.5)"), 4).as("p50_exact"),
          percentile_approx($"l_extendedprice", lit(0.5), lit(10000)).as("p50_approx"),
          expr("percentile(l_extendedprice, 0.5)").as("exact_raw"))
        .select($"l_returnflag", $"p50_exact",
          (abs($"p50_approx" - $"exact_raw") / $"exact_raw" < 0.01).as("approx_within_1pct"))
        .orderBy($"l_returnflag")
    },

    q("q89_salted_join",
      s"""SELECT o_orderstatus, c_mktsegment, COUNT(*) AS n,
         |  ${dsumSql("o_totalprice")} AS rev
         |FROM orders JOIN customer ON o_custkey = c_custkey
         |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      import s.implicits._
      // Skew-safe salted join: fact keys get a salt from their own hash, the
      // dimension is replicated across all salt values, and the join key
      // becomes (key, salt) — a hot key's rows now spread over `salts`
      // reducers instead of one. Same result as the plain join (the oracle
      // is the plain join); at 100 TB this (or AQE skew-join) is what keeps
      // a power-law key set from stalling the stage.
      val salts = 8
      val fact = T(s, dir, "orders")
        .withColumn("salt", pmod(hash($"o_orderkey"), lit(salts)))
      val dim = T(s, dir, "customer")
        .withColumn("salt", explode(sequence(lit(0), lit(salts - 1))))
      fact.join(dim, fact("o_custkey") === dim("c_custkey") &&
          fact("salt") === dim("salt"))
        .groupBy($"o_orderstatus", $"c_mktsegment")
        .agg(count(lit(1)).as("n"), dsum($"o_totalprice").as("rev"))
        .orderBy($"o_orderstatus", $"c_mktsegment")
    },

    q("q90_grouping_id",
      """SELECT o_orderstatus, o_orderpriority,
        |  CAST(GROUPING(o_orderstatus) * 2 + GROUPING(o_orderpriority) AS BIGINT) AS gid,
        |  COUNT(*) AS n
        |FROM orders GROUP BY ROLLUP(o_orderstatus, o_orderpriority)
        |ORDER BY gid, o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST""") { (s, dir) =>
      import s.implicits._
      // grouping() disambiguates "NULL because subtotal" from "NULL in the
      // data" — required for correct rollup consumers.
      T(s, dir, "orders")
        .rollup($"o_orderstatus", $"o_orderpriority")
        .agg((grouping($"o_orderstatus") * 2 + grouping($"o_orderpriority"))
          .cast("long").as("gid"),
          count(lit(1)).as("n"))
        .select($"o_orderstatus", $"o_orderpriority", $"gid", $"n")
        .orderBy($"gid", $"o_orderstatus".asc_nulls_first, $"o_orderpriority".asc_nulls_first)
    },

    q("q91_streaming_dedup",
      // Second query executed THROUGH the streaming engine: events are
      // produced to the log TWICE (duplicate delivery — exactly what a
      // crashed producer retry looks like), the stream is deduplicated by
      // event_id with dropDuplicates state, and the oracle checks the final
      // per-type counts against the single-copy batch answer.
      """SELECT event_type, COUNT(*) AS n FROM events
        |WHERE event_id % 5 = 0 GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val sub = T(s, dir, "events")
        .filter($"event_id" % 5 === 0)
        .selectExpr("CAST(event_id AS STRING) AS event_id", "event_type")
      val root = graft.LogFixtures.producedLog(dir, "q91") { r =>
        sub.write.format("graftlog")
          .option("path", r).option("stream", "ev").mode("append").save()
        sub.write.format("graftlog") // duplicate delivery
          .option("path", r).option("stream", "ev").mode("append").save()
      }
      graft.streaming.StreamHarness.runToMemory(s, "q91") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "ev")
          .option("startingOffsets", "earliest")
          // 2 batches at bench scale: the second copy of the stream dedups
          // against state built by the first (cross-batch, not just in-batch)
          .option("maxEntriesPerTrigger", "20000")
          .load()
          .select($"values.event_id".as("event_id"),
            $"values.event_type".as("event_type"))
          .dropDuplicates("event_id")
      }
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type")
    },

    q("q93_multistream_fanin",
      // Fan-in over the engine's multi-stream read (Kafka-style subscribe
      // list): events are routed to two physical streams by type (a crude
      // topic split), then ONE batch scan over "clicks,others" reunifies
      // them; the oracle is the single-table batch answer.
      """SELECT event_type, COUNT(*) AS n FROM events
        |WHERE event_id % 10 = 0 GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val root = graft.TempDirs.scratch("graft-q93")
      val sub = T(s, dir, "events")
        .filter($"event_id" % 10 === 0)
        .selectExpr("CAST(event_id AS STRING) AS event_id", "event_type")
      sub.filter($"event_type" === "click")
        .write.format("graftlog")
        .option("path", root).option("stream", "clicks").mode("append").save()
      sub.filter($"event_type" =!= "click")
        .write.format("graftlog")
        .option("path", root).option("stream", "others").mode("append").save()
      s.read.format("graftlog")
        .option("path", root).option("stream", "clicks,others")
        .load()
        .groupBy($"values.event_type".as("event_type"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"event_type")
    },

    q("q94_streaming_session",
      // Third query executed THROUGH the streaming engine: session windows
      // in APPEND mode, where a session only emits once the watermark passes
      // its end. Per-user sentinel events (2 h after the real maximum, i.e.
      // beyond the 30-min gap) close every real session, and one final flush
      // event in a later micro-batch advances the watermark past the
      // sentinels so the closed sessions actually emit. The oracle is the
      // batch gaps-and-islands answer over the real events only.
      """WITH t AS (
        |  SELECT user_id, event_id, CAST(ts AS TIMESTAMP) uts,
        |    CASE WHEN CAST(ts AS TIMESTAMP) - LAG(CAST(ts AS TIMESTAMP))
        |        OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id) >= INTERVAL 30 MINUTE
        |      THEN 1 ELSE 0 END AS brk
        |  FROM events WHERE event_id % 7 = 0
        |), s AS (
        |  SELECT user_id, uts,
        |    SUM(brk) OVER (PARTITION BY user_id ORDER BY uts, event_id
        |                   ROWS UNBOUNDED PRECEDING) AS sid
        |  FROM t
        |)
        |SELECT user_id,
        |  strftime(MIN(uts), '%Y-%m-%d %H:%M:%S') AS session_start,
        |  COUNT(*) AS n_events,
        |  CAST(date_diff('second', MIN(uts), MAX(uts)) AS BIGINT) AS dur_sec
        |FROM s GROUP BY user_id, sid
        |ORDER BY user_id, session_start""") { (s, dir) =>
      import s.implicits._
      val fmt = "yyyy-MM-dd HH:mm:ss"
      val sub = T(s, dir, "events")
        .filter($"event_id" % 7 === 0)
        .select($"user_id", $"ts")
      val maxTs = sub.agg(max($"ts")).head().getTimestamp(0)
      val sentinelTs = new java.sql.Timestamp(maxTs.getTime + 2L * 3600 * 1000)
      val flushTs = new java.sql.Timestamp(maxTs.getTime + 4L * 3600 * 1000)
      val tsFmt = "yyyy-MM-dd HH:mm:ss.SSSSSS"
      val reals = sub.selectExpr("CAST(user_id AS STRING) AS user_id",
        s"date_format(ts, '$tsFmt') AS ts_s")
      // timestamp_millis is instant-exact regardless of the JVM default TZ
      // (Timestamp.toString renders in local time and would shift the
      // sentinel/flush events on a non-UTC JVM).
      val sentinels = sub.select($"user_id").distinct()
        .selectExpr("CAST(user_id AS STRING) AS user_id",
          s"date_format(timestamp_millis(${sentinelTs.getTime}), '$tsFmt') AS ts_s")
      val flush = s.range(1)
        .selectExpr("'__flush__' AS user_id",
          s"date_format(timestamp_millis(${flushTs.getTime}), '$tsFmt') AS ts_s")
      val root = graft.LogFixtures.producedLog(dir, "q94") { r =>
        def append(df: org.apache.spark.sql.DataFrame): Unit =
          df.write.format("graftlog")
            .option("path", r).option("stream", "ev").mode("append").save()
        append(reals); append(sentinels); append(flush)
      }
      val nBatch1 = reals.count() + sentinels.count() // flush lands in batch 2
      graft.streaming.StreamHarness.runToMemory(s, "q94") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "ev")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", nBatch1.toString)
          .load()
          .select(to_timestamp($"values.ts_s").as("ets"),
            $"values.user_id".as("user_id"))
          .withWatermark("ets", "0 seconds")
          .groupBy(session_window($"ets", "30 minutes").as("sw"), $"user_id")
          .agg(count(lit(1)).as("n_events"), min($"ets").as("mn"), max($"ets").as("mx"))
      }
        .filter($"mn" < lit(sentinelTs)) // drop sentinel/flush sessions
        .select($"user_id".cast("long").as("user_id"),
          date_format($"mn", fmt).as("session_start"),
          $"n_events",
          ($"mx".cast("long") - $"mn".cast("long")).as("dur_sec"))
        .orderBy($"user_id", $"session_start")
    },

    q("q98_union_by_name",
      // Schema evolution: two message generations with different column
      // sets unified by NAME (missing columns null-filled) — the batch twin
      // of reading a log whose producers added fields over time.
      """SELECT * FROM (
        |  SELECT o_orderkey AS k, o_totalprice AS price, o_orderstatus AS status
        |  FROM orders WHERE o_orderkey % 100 = 0
        |  UNION ALL BY NAME
        |  SELECT o_orderkey AS k, o_orderpriority AS prio
        |  FROM orders WHERE o_orderkey % 100 = 1
        |) ORDER BY k""") { (s, dir) =>
      import s.implicits._
      val gen1 = T(s, dir, "orders")
        .filter($"o_orderkey" % 100 === 0)
        .select($"o_orderkey".as("k"), $"o_totalprice".as("price"),
          $"o_orderstatus".as("status"))
      val gen2 = T(s, dir, "orders")
        .filter($"o_orderkey" % 100 === 1)
        .select($"o_orderkey".as("k"), $"o_orderpriority".as("prio"))
      gen1.unionByName(gen2, allowMissingColumns = true).orderBy($"k")
    },

    q("q99_forward_fill",
      // Gap filling (forward fill): carry the last observed value over
      // nulls per key in event order — the standard time-series repair pass
      // before feature extraction. One window pass, shuffle on user_id only.
      """WITH t AS (SELECT user_id, event_id,
        |    CASE WHEN event_type = 'error' THEN NULL ELSE value END AS v
        |  FROM events)
        |SELECT user_id, event_id,
        |  LAST_VALUE(v IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY event_id
        |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS v_filled
        |FROM t ORDER BY user_id, event_id""") { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      T(s, dir, "events")
        .withColumn("v", when($"event_type" === "error", lit(null)).otherwise($"value"))
        .select($"user_id", $"event_id",
          last($"v", ignoreNulls = true).over(w).as("v_filled"))
        .orderBy($"user_id", $"event_id")
    },

    q("q193_column_profile",
      // One row per column: non-null count, exact distinct count, min/max
      // rendered as VARCHAR. Profiled on NORMALIZED values (epoch micros,
      // value cents) so every rendered string is integer text — identical
      // across engines, with no timestamp/float formatting divergence.
      """WITH v AS (SELECT event_id, epoch_us(ts) AS ts_us, user_id, event_type,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS value_c, props
        |  FROM events)
        |SELECT 'event_id' AS col_name,
        |  CAST(COUNT(event_id) AS BIGINT) AS n_nonnull,
        |  CAST(COUNT(DISTINCT event_id) AS BIGINT) AS n_distinct,
        |  CAST(MIN(event_id) AS VARCHAR) AS min_s,
        |  CAST(MAX(event_id) AS VARCHAR) AS max_s FROM v
        |UNION ALL SELECT 'ts_us', CAST(COUNT(ts_us) AS BIGINT),
        |  CAST(COUNT(DISTINCT ts_us) AS BIGINT),
        |  CAST(MIN(ts_us) AS VARCHAR), CAST(MAX(ts_us) AS VARCHAR) FROM v
        |UNION ALL SELECT 'user_id', CAST(COUNT(user_id) AS BIGINT),
        |  CAST(COUNT(DISTINCT user_id) AS BIGINT),
        |  CAST(MIN(user_id) AS VARCHAR), CAST(MAX(user_id) AS VARCHAR) FROM v
        |UNION ALL SELECT 'event_type', CAST(COUNT(event_type) AS BIGINT),
        |  CAST(COUNT(DISTINCT event_type) AS BIGINT),
        |  MIN(event_type), MAX(event_type) FROM v
        |UNION ALL SELECT 'value_c', CAST(COUNT(value_c) AS BIGINT),
        |  CAST(COUNT(DISTINCT value_c) AS BIGINT),
        |  CAST(MIN(value_c) AS VARCHAR), CAST(MAX(value_c) AS VARCHAR) FROM v
        |UNION ALL SELECT 'props', CAST(COUNT(props) AS BIGINT),
        |  CAST(COUNT(DISTINCT props) AS BIGINT),
        |  MIN(props), MAX(props) FROM v
        |ORDER BY col_name""") { (s, dir) =>
      import s.implicits._
      // Dataset profiling — the first query anyone runs against an unknown
      // table, and the backbone of data-quality gates (null-rate and
      // cardinality drift between ingest batches). ONE scan: all 24
      // aggregates ride a single aggregation (Catalyst plans the six exact
      // count-distincts as one Expand — a 6x row multiplication before the
      // partial aggregate), then stack() unpivots the single result row
      // into one row per column. At 100 TB the same shape swaps
      // countDistinct for approx_count_distinct (q13's HLL path) and the
      // Expand disappears; min/max/count stay partial-aggregated map-side.
      T(s, dir, "events")
        .select($"event_id", unix_micros($"ts").as("ts_us"), $"user_id",
          $"event_type",
          expr("CAST(FLOOR(value * 100 + 0.5) AS BIGINT)").as("value_c"),
          $"props")
        // spread: the 6-way count-distinct Expand (6x row multiplication +
        // partial agg) otherwise runs inside the single-row-group scan task
        .transform(graft.Tables.spread)
        .agg(
          count($"event_id").as("a_n"), countDistinct($"event_id").as("a_d"),
          min($"event_id").cast("string").as("a_mn"),
          max($"event_id").cast("string").as("a_mx"),
          count($"ts_us").as("b_n"), countDistinct($"ts_us").as("b_d"),
          min($"ts_us").cast("string").as("b_mn"),
          max($"ts_us").cast("string").as("b_mx"),
          count($"user_id").as("c_n"), countDistinct($"user_id").as("c_d"),
          min($"user_id").cast("string").as("c_mn"),
          max($"user_id").cast("string").as("c_mx"),
          count($"event_type").as("d_n"), countDistinct($"event_type").as("d_d"),
          min($"event_type").as("d_mn"), max($"event_type").as("d_mx"),
          count($"value_c").as("e_n"), countDistinct($"value_c").as("e_d"),
          min($"value_c").cast("string").as("e_mn"),
          max($"value_c").cast("string").as("e_mx"),
          count($"props").as("f_n"), countDistinct($"props").as("f_d"),
          min($"props").as("f_mn"), max($"props").as("f_mx"))
        .selectExpr("""stack(6,
          'event_id',   a_n, a_d, a_mn, a_mx,
          'ts_us',      b_n, b_d, b_mn, b_mx,
          'user_id',    c_n, c_d, c_mn, c_mx,
          'event_type', d_n, d_d, d_mn, d_mx,
          'value_c',    e_n, e_d, e_mn, e_mx,
          'props',      f_n, f_d, f_mn, f_mx
          ) AS (col_name, n_nonnull, n_distinct, min_s, max_s)""")
        .orderBy($"col_name")
    },

    q("q201_skew_profile",
      // Hot-key diagnostics: top-20 keys by row count, each with its
      // parts-per-million share and an integer-exact >2% hot flag
      // (n * 50 > total — no float threshold to flap).
      """WITH c AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n
        |  FROM events GROUP BY user_id),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total FROM c)
        |SELECT user_id, n, (n * 1000000) // total AS share_ppm,
        |  n * 50 > total AS hot
        |FROM c, t ORDER BY n DESC, user_id LIMIT 20""") { (s, dir) =>
      import s.implicits._
      // The operational query behind every "why is this stage slow" page:
      // which keys dominate the distribution a join/agg is about to
      // shuffle on. Exactly the probe an operator runs before choosing
      // q89's salting or trusting AQE's skew split — made a first-class
      // operator so the diagnosis itself scales: one keyed aggregation
      // (partial map-side), a 1-row total broadcast, and a
      // TakeOrderedAndProject top-20 — never a global sort, never the full
      // key list on the driver.
      val c = T(s, dir, "events")
        .groupBy($"user_id").agg(count(lit(1)).as("n"))
      val t = c.agg(sum($"n").as("total"))
      c.crossJoin(broadcast(t))
        .select($"user_id", $"n",
          expr("(n * 1000000) DIV total").as("share_ppm"),
          ($"n" * 50 > $"total").as("hot"))
        .orderBy($"n".desc, $"user_id")
        .limit(20)
    },

    q("q235_partition_backfill",
      // Idempotent partition backfill — the reprocessing primitive every
      // 100 TB pipeline runs daily: a day-partitioned aggregate table is
      // first loaded with two deliberately corrupted days, then ONLY those
      // two partitions are recomputed and swapped via dynamic partition
      // overwrite (mode=dynamic replaces exactly the partitions present in
      // the incoming frame; a static overwrite would truncate the table).
      // The oracle is the clean full recompute from events — a hash match
      // proves the backfill repaired the corrupted partitions and touched
      // nothing else. ExtrasMaintenanceSpec additionally pins that
      // untouched partitions' files are byte-identical after the swap.
      """SELECT CAST(ts AS DATE) AS day, event_type,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM events GROUP BY 1, 2 ORDER BY day, event_type""") { (s, dir) =>
      import s.implicits._
      val daily = T(s, dir, "events")
        .groupBy(date_format(to_date($"ts"), "yyyy-MM-dd").as("day"),
          $"event_type")
        .agg(count(lit(1)).as("n"))
      // the two most recent days arrive corrupted (doubled counts) —
      // a bounded 2-row driver probe picks them, like q78's cutoff scalar
      val bad = daily.select($"day").distinct().orderBy($"day".desc)
        .limit(2).collect().map(_.getString(0)).toSeq
      val table = graft.TempDirs.scratch("graft-q235")
      // key the initial load by the partition column (explicit count —
      // q332's pattern): each day writes from one task in parallel with
      // the others, one file per partition at any input split count
      daily.withColumn("n",
          when($"day".isin(bad: _*), $"n" * 2L).otherwise($"n"))
        .repartition(s.sparkContext.defaultParallelism, $"day")
        .write.mode("overwrite").partitionBy("day").parquet(table)
      // backfill: recompute ONLY the bad days, swap their partitions
      daily.filter($"day".isin(bad: _*))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("day").parquet(table)
      s.read.parquet(table)
        .select(to_date($"day").as("day"), $"event_type", $"n")
        .orderBy($"day", $"event_type")
    },

    q("q236_small_file_compaction",
      // Small-file compaction — the table-maintenance pass that keeps a
      // 100 TB lake scannable (thousands of streaming micro-batch files
      // per partition destroy scan throughput): a 64-fragment copy of
      // documents is rewritten into size-targeted files (#files =
      // ceil(bytes / 4 MiB), never fewer than 1), and the oracle checks
      // content parity through the fragment->compact round trip. The
      // repartition is the only shuffle — exactly what the rewrite costs
      // in production, where it buys back every later scan.
      s"""SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_chars) AS BIGINT) AS total_chars
         |FROM documents GROUP BY lang ORDER BY lang""") { (s, dir) =>
      import s.implicits._
      val frag = graft.TempDirs.scratch("graft-q236-frag")
      T(s, dir, "documents").repartition(64)
        .write.mode("overwrite").parquet(frag)
      val bytes = parquetBytes(frag)
      val nOut = math.max(1L, (bytes + TargetFileBytes - 1) / TargetFileBytes).toInt
      val compact = graft.TempDirs.scratch("graft-q236-out")
      s.read.parquet(frag).repartition(nOut)
        .write.mode("overwrite").parquet(compact)
      val (before, after) = (parquetFileCount(frag), parquetFileCount(compact))
      require(after <= nOut && after < before,
        s"compaction must shrink the file count below $before, got $after")
      s.read.parquet(compact)
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
        .orderBy($"lang")
    },

    q("q237_table_diff",
      // Snapshot reconciliation — the validation pass run after every
      // backfill/migration at lake scale: diff two versions of a table and
      // report added / removed / changed / unchanged keys plus which
      // columns drifted. Snapshots are derived deterministically from
      // orders (keys % 97 = 3 exist only in the new version, % 97 = 5 only
      // in the old; % 89 = 7 got a price bump, % 89 = 11 a status flip), so
      // the oracle can derive the identical pair. The diff itself is ONE
      // full-outer sort-merge join on the key — both sides shuffle once on
      // o_orderkey and nothing else moves, which is the whole cost at
      // 100 TB — and the per-status roll-up is a four-row aggregate.
      // All outputs are integer counts; prices compare as exact cents.
      """WITH base AS (SELECT o_orderkey k,
        |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) cents,
        |    o_orderstatus st FROM orders),
        |a AS (SELECT * FROM base WHERE k % 97 <> 3),
        |b AS (SELECT k,
        |    cents + CASE WHEN k % 89 = 7 THEN 100000 ELSE 0 END cents,
        |    CASE WHEN k % 89 = 11 THEN 'X' ELSE st END st
        |  FROM base WHERE k % 97 <> 5),
        |d AS (SELECT
        |    CASE WHEN a.k IS NULL THEN 'added'
        |         WHEN b.k IS NULL THEN 'removed'
        |         WHEN a.cents <> b.cents OR a.st <> b.st THEN 'changed'
        |         ELSE 'unchanged' END diff_status,
        |    CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
        |              AND a.cents <> b.cents THEN 1 ELSE 0 END price_chg,
        |    CASE WHEN a.k IS NOT NULL AND b.k IS NOT NULL
        |              AND a.st <> b.st THEN 1 ELSE 0 END status_chg
        |  FROM a FULL OUTER JOIN b ON a.k = b.k)
        |SELECT diff_status, CAST(COUNT(*) AS BIGINT) AS n,
        |  CAST(SUM(price_chg) AS BIGINT) AS n_price_changed,
        |  CAST(SUM(status_chg) AS BIGINT) AS n_status_changed
        |FROM d GROUP BY diff_status ORDER BY diff_status""") { (s, dir) =>
      import s.implicits._
      val base = T(s, dir, "orders").select($"o_orderkey".as("k"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
        $"o_orderstatus".as("st"))
      val a = base.filter($"k" % 97 =!= 3)
      val b = base.filter($"k" % 97 =!= 5).select($"k",
        ($"cents" + when($"k" % 89 === 7, 100000L).otherwise(0L)).as("cents"),
        when($"k" % 89 === 11, "X").otherwise($"st").as("st"))
      val j = a.select($"k".as("ak"), $"cents".as("ac"), $"st".as("ast"))
        .join(b.select($"k".as("bk"), $"cents".as("bc"), $"st".as("bst")),
          $"ak" === $"bk", "full_outer")
      j.select(
          when($"ak".isNull, "added")
            .when($"bk".isNull, "removed")
            .when($"ac" =!= $"bc" || $"ast" =!= $"bst", "changed")
            .otherwise("unchanged").as("diff_status"),
          when($"ak".isNotNull && $"bk".isNotNull && $"ac" =!= $"bc", 1L)
            .otherwise(0L).as("price_chg"),
          when($"ak".isNotNull && $"bk".isNotNull && $"ast" =!= $"bst", 1L)
            .otherwise(0L).as("status_chg"))
        .groupBy($"diff_status")
        .agg(count(lit(1)).as("n"), sum($"price_chg").as("n_price_changed"),
          sum($"status_chg").as("n_status_changed"))
        .orderBy($"diff_status")
    },

    q("q252_data_contract",
      // Data-contract validation (the dbt-tests / Great Expectations pass
      // run before a load is accepted): a deliberately dirtied orders
      // snapshot — key-mod-derived duplicate rows, broken customer FKs,
      // nulled priorities, negated prices, so the oracle re-derives the
      // identical mess — is checked against four rules and the violations
      // report comes back as one integer table. Scale shape: uniqueness
      // is one groupBy on the key, the FK probe is a keyed LEFT ANTI join
      // against the dimension (broadcast when it fits, shuffle otherwise),
      // null/range checks are map-side; each rule is one pass over the
      // cached dirty frame.
      """WITH base AS (SELECT o_orderkey k, o_custkey ck,
        |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) cents,
        |    o_orderpriority pr FROM orders),
        |dirty AS (
        |  SELECT k,
        |    CASE WHEN k % 107 = 3 THEN ck + 100000000 ELSE ck END ck,
        |    CASE WHEN k % 109 = 11 THEN -cents ELSE cents END cents,
        |    CASE WHEN k % 103 = 5 THEN NULL ELSE pr END pr
        |  FROM base
        |  UNION ALL SELECT k, ck, cents, pr FROM base WHERE k % 101 = 7),
        |n AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM dirty),
        |dup AS (SELECT CAST(COALESCE(SUM(c - 1), 0) AS BIGINT) v FROM
        |  (SELECT COUNT(*) c FROM dirty GROUP BY k) WHERE c > 1),
        |fk AS (SELECT CAST(COUNT(*) AS BIGINT) v FROM dirty d
        |  WHERE NOT EXISTS (SELECT 1 FROM customer c WHERE c.c_custkey = d.ck)),
        |nn AS (SELECT CAST(COUNT(*) AS BIGINT) v FROM dirty WHERE pr IS NULL),
        |rg AS (SELECT CAST(COUNT(*) AS BIGINT) v FROM dirty WHERE cents <= 0)
        |SELECT 'fk_custkey' AS rule, n.n AS n_checked, fk.v AS n_violations
        |  FROM n, fk
        |UNION ALL SELECT 'not_null_priority', n.n, nn.v FROM n, nn
        |UNION ALL SELECT 'range_totalprice', n.n, rg.v FROM n, rg
        |UNION ALL SELECT 'unique_orderkey', n.n, dup.v FROM n, dup
        |ORDER BY rule""") { (s, dir) =>
      import s.implicits._
      val base = T(s, dir, "orders").select($"o_orderkey".as("k"),
        $"o_custkey".as("ck"),
        floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"),
        $"o_orderpriority".as("pr"))
      val dirty = base.select($"k",
          when($"k" % 107 === 3, $"ck" + 100000000L).otherwise($"ck").as("ck"),
          when($"k" % 109 === 11, -$"cents").otherwise($"cents").as("cents"),
          when($"k" % 103 === 5, lit(null).cast("string")).otherwise($"pr")
            .as("pr"))
        .unionAll(base.filter($"k" % 101 === 7))
        .transform(graft.CacheScope.cached) // one pass per rule below
      val n = dirty.agg(count(lit(1)).as("n_checked"))
      val dup = dirty.groupBy($"k").agg(count(lit(1)).as("c"))
        .filter($"c" > 1)
        .agg(coalesce(sum($"c" - 1), lit(0L)).as("v"))
      val fk = dirty.join(T(s, dir, "customer")
          .select($"c_custkey".as("ck")), Seq("ck"), "left_anti")
        .agg(count(lit(1)).as("v"))
      val nn = dirty.filter($"pr".isNull).agg(count(lit(1)).as("v"))
      val rg = dirty.filter($"cents" <= 0).agg(count(lit(1)).as("v"))
      def rule(name: String, v: DataFrame): DataFrame =
        broadcast(n).crossJoin(broadcast(v))
          .select(lit(name).as("rule"), $"n_checked", $"v".as("n_violations"))
      rule("fk_custkey", fk)
        .unionAll(rule("not_null_priority", nn))
        .unionAll(rule("range_totalprice", rg))
        .unionAll(rule("unique_orderkey", dup))
        .orderBy($"rule")
    },

    q("q271_erasure_sweep",
      // Right-to-be-forgotten sweep + audit: given a deletion-request list
      // (fixture stand-in: every 97th user — in production an external
      // requests table), purge every fact row for those users via a keyed
      // LEFT ANTI join and report, per event type, rows before/purged/
      // after plus the zero-rows-remaining verification the auditor
      // actually signs off on (computed FROM the swept output, not assumed).
      // Scale posture: the request list is tiny vs the corpus — broadcast
      // anti join, corpus never reshuffles; a bulk backlog would swap in
      // the q114 bloom pre-filter + shuffled anti join, same plan shape.
      """WITH req AS (SELECT DISTINCT user_id FROM events
        |  WHERE user_id % 97 = 0),
        |b AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_before
        |  FROM events GROUP BY event_type),
        |sw AS (SELECT e.event_type, e.user_id FROM events e
        |  WHERE NOT EXISTS (SELECT 1 FROM req WHERE req.user_id = e.user_id)),
        |a AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_after
        |  FROM sw GROUP BY event_type),
        |v AS (SELECT CAST(COUNT(*) AS BIGINT) AS remaining_requested
        |  FROM sw WHERE EXISTS (SELECT 1 FROM req
        |    WHERE req.user_id = sw.user_id))
        |SELECT b.event_type, b.n_before, COALESCE(a.n_after, 0) AS n_after,
        |  b.n_before - COALESCE(a.n_after, 0) AS n_purged,
        |  v.remaining_requested
        |FROM b LEFT JOIN a ON a.event_type = b.event_type, v
        |ORDER BY b.event_type""") { (s, dir) =>
      import s.implicits._
      val ev = T(s, dir, "events").select($"event_type", $"user_id")
      val req = ev.filter($"user_id" % 97 === 0)
        .select($"user_id").distinct()
        .transform(graft.CacheScope.cached) // sweep + verification
      val swept = ev.join(broadcast(req), Seq("user_id"), "left_anti")
        .transform(graft.CacheScope.cached) // after-counts + verification
      val before = ev.groupBy($"event_type").agg(count(lit(1)).as("n_before"))
      val after = swept.groupBy($"event_type").agg(count(lit(1)).as("n_after"))
      val verify = swept.join(broadcast(req), Seq("user_id"), "left_semi")
        .agg(count(lit(1)).as("remaining_requested"))
      before.join(after, Seq("event_type"), "left")
        .withColumn("n_after", coalesce($"n_after", lit(0L)))
        .withColumn("n_purged", $"n_before" - $"n_after")
        .crossJoin(broadcast(verify))
        .select($"event_type", $"n_before", $"n_after", $"n_purged",
          $"remaining_requested")
        .orderBy($"event_type")
    },

    q("q272_spend_deciles",
      // Equal-frequency customer spend bands — ntile(10) semantics
      // WITHOUT an entity-sized single-partition sort. The Spark side
      // runs the distributed exact-rank plan: repartitionByRange on
      // (cents, k) makes partitions globally ordered and disjoint, so a
      // row's global rank = its partition's offset + its LOCAL
      // row_number; offsets come from a 32-row per-partition-count
      // prefix sum (bounded by the partition count at any entity
      // count — correct for ANY sampled range boundaries, so the range
      // partitioner's sampling never touches the result). The tile is
      // then pure integer arithmetic on the rank (first n mod 10 tiles
      // get the extra row — the NTILE definition); the SQL oracle keeps
      // NTILE(10) as the spec, so the gate certifies the scalable
      // plan's equality. Ties are impossible: (cents, k) is unique
      // per customer.
      """WITH sp AS (SELECT o_custkey AS k,
        |    CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT))
        |      AS BIGINT) AS cents
        |  FROM orders GROUP BY o_custkey),
        |t AS (SELECT k, cents,
        |    CAST(NTILE(10) OVER (ORDER BY cents, k) AS BIGINT) AS decile
        |  FROM sp)
        |SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_cust,
        |  CAST(MIN(cents) AS BIGINT) AS min_cents,
        |  CAST(MAX(cents) AS BIGINT) AS max_cents,
        |  CAST(SUM(cents) AS BIGINT) AS total_cents
        |FROM t GROUP BY decile ORDER BY decile""") { (s, dir) =>
      import s.implicits._
      val sp = T(s, dir, "orders")
        .groupBy($"o_custkey".as("k"))
        .agg(sum(floor($"o_totalprice" * 100 + 0.5).cast("long")).as("cents"))
      // cache so the offset branch and the rank branch see the SAME
      // physical range partitioning (sampled boundaries are otherwise
      // free to differ between plan executions)
      val parts = sp.repartitionByRange(32, $"cents", $"k")
        .withColumn("pid", spark_partition_id().cast("long"))
        .transform(graft.CacheScope.cached)
      val offs = parts.groupBy($"pid").agg(count(lit(1)).as("pc"))
        .withColumn("off", coalesce(sum($"pc").over(
          Window.orderBy($"pid").rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
        .withColumn("n", sum($"pc").over(Window.partitionBy()
          .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select($"pid", $"off", $"n")
      val ranked = parts
        .withColumn("lr", row_number().over(
          Window.partitionBy($"pid").orderBy($"cents", $"k")).cast("long"))
        .join(broadcast(offs), Seq("pid"))
        .withColumn("rnk", $"off" + $"lr")
      // NTILE(10): q = n div 10 rows per tile, first rem = n mod 10
      // tiles take one extra
      ranked
        .withColumn("decile",
          expr("CASE WHEN rnk <= (n % 10) * (n div 10 + 1) " +
            "THEN (rnk - 1) div (n div 10 + 1) + 1 " +
            "ELSE (n % 10) + (rnk - (n % 10) * (n div 10 + 1) - 1) " +
            "div (n div 10) + 1 END"))
        .groupBy($"decile")
        .agg(count(lit(1)).as("n_cust"), min($"cents").as("min_cents"),
          max($"cents").as("max_cents"), sum($"cents").as("total_cents"))
        .orderBy($"decile")
    },

    q("q276_file_provenance",
      // File-provenance / lineage audit via the parquet source's hidden
      // `_metadata` column: per table, how many physical files feed the
      // scan, scanned row count, and the row-index integrity probe —
      // sum over files of (max(_metadata.row_index)+1) must equal the
      // scanned count, or the source skipped/duplicated rows within a
      // file. The per-file aggregation is the provenance primitive
      // (which file did this row come from) that incident response runs
      // when one bad upstream file poisons a table; here it collapses to
      // a per-table audit line. All partial-aggregated map-side; output
      // is #tables rows. The hashed contract is layout-independent:
      // indexed_rows == n_rows holds for ANY file count when the reader
      // is correct (per-file row_index is dense from 0), so a fixture
      // re-written as multi-file parquet still gates — only a real
      // skip/duplicate within a file breaks it. File count itself is
      // reported as the boolean files_positive, not a pinned literal.
      """SELECT 'customer' AS table_name, TRUE AS files_positive,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS indexed_rows FROM customer
        |UNION ALL
        |SELECT 'documents', TRUE, CAST(COUNT(*) AS BIGINT),
        |  CAST(COUNT(*) AS BIGINT) FROM documents
        |UNION ALL
        |SELECT 'lineitem', TRUE, CAST(COUNT(*) AS BIGINT),
        |  CAST(COUNT(*) AS BIGINT) FROM lineitem
        |UNION ALL
        |SELECT 'orders', TRUE, CAST(COUNT(*) AS BIGINT),
        |  CAST(COUNT(*) AS BIGINT) FROM orders
        |ORDER BY table_name""") { (s, dir) =>
      import s.implicits._
      def audit(name: String): DataFrame =
        s.read.parquet(s"$dir/$name.parquet")
          .select(col("_metadata.file_name").as("fn"),
            col("_metadata.row_index").as("ri"))
          .groupBy($"fn")
          .agg(count(lit(1)).as("rows_in_file"), max($"ri").as("max_ri"))
          .agg(count(lit(1)).as("n_files"),
            sum($"rows_in_file").as("n_rows"),
            sum($"max_ri" + 1).as("indexed_rows"))
          .select(lit(name).as("table_name"),
            ($"n_files" >= 1).as("files_positive"), $"n_rows",
            $"indexed_rows")
      audit("customer").unionAll(audit("documents"))
        .unionAll(audit("lineitem")).unionAll(audit("orders"))
        .orderBy($"table_name")
    },

    q("q281_schema_evolution",
      // Schema-on-read evolution: an old parquet epoch written WITHOUT a
      // column and a new epoch written WITH it are read back as ONE table
      // via mergeSchema — the added column null-fills for old files, no
      // rewrite of historical data (how a 100 TB lake absorbs a schema
      // change; rewriting history is not an option). The query writes
      // both epochs from the documents fixture (even docs = v1 without
      // `lang`, odd docs = v2 with it), reads the union scan, and reports
      // per epoch: rows, null-filled lang cells, and an exact content sum
      // — the oracle re-derives all of it closed-form from the fixture,
      // so a reader that dropped or mis-aligned the evolved column cannot
      // match.
      """SELECT 'v1_no_lang' AS epoch,
        |  CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(COUNT(*) AS BIGINT) AS n_null_lang,
        |  CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        |FROM documents WHERE doc_id % 2 = 0
        |UNION ALL
        |SELECT 'v2_with_lang', CAST(COUNT(*) AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(SUM(n_chars) AS BIGINT)
        |FROM documents WHERE doc_id % 2 = 1
        |ORDER BY epoch""") { (s, dir) =>
      import s.implicits._
      val docs = T(s, dir, "documents")
      val base = graft.TempDirs.scratch("graft-q281-evolve")
      docs.filter($"doc_id" % 2 === 0)
        .select($"doc_id", $"n_chars")
        .write.mode("overwrite").parquet(s"$base/epoch=1")
      docs.filter($"doc_id" % 2 === 1)
        .select($"doc_id", $"n_chars", $"lang")
        .write.mode("overwrite").parquet(s"$base/epoch=2")
      s.read.option("mergeSchema", "true").parquet(base)
        .groupBy(when($"lang".isNull, "v1_no_lang").otherwise("v2_with_lang")
          .as("epoch"))
        .agg(count(lit(1)).as("n_rows"),
          sum(when($"lang".isNull, 1L).otherwise(0L)).as("n_null_lang"),
          sum($"n_chars").as("sum_chars"))
        .orderBy($"epoch")
    },

    q("q293_fk_conformance",
      // Dimensional-conformance matrix: every fact->dimension foreign key
      // in the star schema audited in one report — fact rows, orphan rows
      // (keyed LEFT ANTI against the dimension), orphan ppm. q252 checks
      // one FK as a contract rule; this is the schema-wide referential
      // health dashboard a warehouse runs nightly. Each audit is one
      // anti-join with the dimension's KEY COLUMN ONLY broadcast; fact
      // tables are scanned once per edge with only the key column read.
      """SELECT 'lineitem.l_partkey->part' AS fk,
        |  CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT) AS n_facts,
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |    AS BIGINT) AS n_orphans,
        |  CAST(1000000 * (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey))
        |    // (SELECT COUNT(*) FROM lineitem) AS BIGINT) AS orphan_ppm
        |UNION ALL
        |SELECT 'lineitem.l_suppkey->supplier',
        |  CAST((SELECT COUNT(*) FROM lineitem) AS BIGINT),
        |  CAST((SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |    AS BIGINT),
        |  CAST(1000000 * (SELECT COUNT(*) FROM lineitem l WHERE NOT EXISTS
        |    (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey))
        |    // (SELECT COUNT(*) FROM lineitem) AS BIGINT)
        |UNION ALL
        |SELECT 'orders.o_custkey->customer',
        |  CAST((SELECT COUNT(*) FROM orders) AS BIGINT),
        |  CAST((SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    AS BIGINT),
        |  CAST(1000000 * (SELECT COUNT(*) FROM orders o WHERE NOT EXISTS
        |    (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey))
        |    // (SELECT COUNT(*) FROM orders) AS BIGINT)
        |ORDER BY fk""") { (s, dir) =>
      import s.implicits._
      def audit(name: String, fact: DataFrame, key: String,
          dim: DataFrame, dimKey: String): DataFrame = {
        val facts = fact.select(col(key))
          .transform(graft.CacheScope.cached) // total + anti-join
        val n = facts.agg(count(lit(1)).as("n_facts"))
        val orphans = facts
          .join(broadcast(dim.select(col(dimKey).as(key))), Seq(key),
            "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
        broadcast(n).crossJoin(broadcast(orphans))
          .select(lit(name).as("fk"), $"n_facts", $"n_orphans",
            expr("(1000000 * n_orphans) div n_facts").as("orphan_ppm"))
      }
      val li = T(s, dir, "lineitem")
      audit("lineitem.l_partkey->part", li, "l_partkey",
          T(s, dir, "part"), "p_partkey")
        .unionAll(audit("lineitem.l_suppkey->supplier", li, "l_suppkey",
          T(s, dir, "supplier"), "s_suppkey"))
        .unionAll(audit("orders.o_custkey->customer", T(s, dir, "orders"),
          "o_custkey", T(s, dir, "customer"), "c_custkey"))
        .orderBy($"fk")
    },

    q("q296_column_matching",
      // Value-fingerprint column matching (data discovery / schema
      // matching): profile every money-like column across the star schema
      // (exact-cents min/max/NDV from one aggregation per table), then
      // score all column pairs by range overlap and NDV ratio — the
      // "which columns look like the same quantity" report a catalog
      // builds when onboarding undocumented tables. The pair scoring runs
      // on the 5-row profile table; integer ppm everywhere (overlap and
      // ratio denominators are positive by construction).
      """WITH p AS (
        |  SELECT 'customer.c_acctbal' AS col_,
        |    CAST(MIN(FLOOR(c_acctbal * 100 + 0.5)) AS BIGINT) AS mn,
        |    CAST(MAX(FLOOR(c_acctbal * 100 + 0.5)) AS BIGINT) AS mx,
        |    CAST(COUNT(DISTINCT FLOOR(c_acctbal * 100 + 0.5)) AS BIGINT)
        |      AS ndv FROM customer
        |  UNION ALL SELECT 'supplier.s_acctbal',
        |    CAST(MIN(FLOOR(s_acctbal * 100 + 0.5)) AS BIGINT),
        |    CAST(MAX(FLOOR(s_acctbal * 100 + 0.5)) AS BIGINT),
        |    CAST(COUNT(DISTINCT FLOOR(s_acctbal * 100 + 0.5)) AS BIGINT)
        |    FROM supplier
        |  UNION ALL SELECT 'orders.o_totalprice',
        |    CAST(MIN(FLOOR(o_totalprice * 100 + 0.5)) AS BIGINT),
        |    CAST(MAX(FLOOR(o_totalprice * 100 + 0.5)) AS BIGINT),
        |    CAST(COUNT(DISTINCT FLOOR(o_totalprice * 100 + 0.5)) AS BIGINT)
        |    FROM orders
        |  UNION ALL SELECT 'part.p_retailprice',
        |    CAST(MIN(FLOOR(p_retailprice * 100 + 0.5)) AS BIGINT),
        |    CAST(MAX(FLOOR(p_retailprice * 100 + 0.5)) AS BIGINT),
        |    CAST(COUNT(DISTINCT FLOOR(p_retailprice * 100 + 0.5)) AS BIGINT)
        |    FROM part
        |  UNION ALL SELECT 'lineitem.l_extendedprice',
        |    CAST(MIN(FLOOR(l_extendedprice * 100 + 0.5)) AS BIGINT),
        |    CAST(MAX(FLOOR(l_extendedprice * 100 + 0.5)) AS BIGINT),
        |    CAST(COUNT(DISTINCT FLOOR(l_extendedprice * 100 + 0.5))
        |      AS BIGINT) FROM lineitem)
        |SELECT a.col_ AS col_a, b.col_ AS col_b,
        |  CAST((1000000 * GREATEST(0, LEAST(a.mx, b.mx)
        |      - GREATEST(a.mn, b.mn) + 1))
        |    // (GREATEST(a.mx, b.mx) - LEAST(a.mn, b.mn) + 1) AS BIGINT)
        |    AS range_overlap_ppm,
        |  CAST((1000000 * LEAST(a.ndv, b.ndv)) // GREATEST(a.ndv, b.ndv)
        |    AS BIGINT) AS ndv_ratio_ppm
        |FROM p a JOIN p b ON a.col_ < b.col_
        |ORDER BY range_overlap_ppm DESC, col_a, col_b""") { (s, dir) =>
      import s.implicits._
      def profile(label: String, table: String, col0: String): DataFrame = {
        val c = floor(col(col0) * 100 + 0.5).cast("long")
        T(s, dir, table).agg(min(c).as("mn"), max(c).as("mx"),
            countDistinct(c).as("ndv"))
          .select(lit(label).as("col_"), $"mn", $"mx", $"ndv")
      }
      val p = profile("customer.c_acctbal", "customer", "c_acctbal")
        .unionAll(profile("supplier.s_acctbal", "supplier", "s_acctbal"))
        .unionAll(profile("orders.o_totalprice", "orders", "o_totalprice"))
        .unionAll(profile("part.p_retailprice", "part", "p_retailprice"))
        .unionAll(profile("lineitem.l_extendedprice", "lineitem",
          "l_extendedprice"))
        .transform(graft.CacheScope.cached) // both sides of the pair join
      p.as("a").join(p.as("b"), $"a.col_" < $"b.col_")
        .select($"a.col_".as("col_a"), $"b.col_".as("col_b"),
          expr("(1000000 * GREATEST(0, LEAST(a.mx, b.mx) " +
            "- GREATEST(a.mn, b.mn) + 1)) " +
            "div (GREATEST(a.mx, b.mx) - LEAST(a.mn, b.mn) + 1)")
            .as("range_overlap_ppm"),
          expr("(1000000 * LEAST(a.ndv, b.ndv)) div GREATEST(a.ndv, b.ndv)")
            .as("ndv_ratio_ppm"))
        .orderBy($"range_overlap_ppm".desc, $"col_a", $"col_b")
    },

    q("q301_incremental_join",
      // Incremental maintenance of a JOIN view (ΔV = Δfact ⋈ dim): the
      // per-nation revenue view is maintained by joining ONLY the late
      // delta batch (every 97th order, the fixture stand-in for a
      // late-arriving load) against the unchanged dimension and ADDING it
      // to the base view — q171's incremental-aggregate rule lifted to a
      // join view. The full recompute runs alongside and the match column
      // certifies maintained == recomputed per nation; at 100 TB the
      // point is the daily work is delta-sized, base is never rescanned.
      """WITH b AS (SELECT o.o_orderkey, o.o_custkey,
        |    CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM orders o),
        |dim AS (SELECT c_custkey, CAST(c_nationkey AS BIGINT) AS nation
        |  FROM customer),
        |base AS (SELECT nation, CAST(SUM(cents) AS BIGINT) AS base_c
        |  FROM b JOIN dim ON c_custkey = o_custkey
        |  WHERE o_orderkey % 97 <> 0 GROUP BY nation),
        |delta AS (SELECT nation, CAST(SUM(cents) AS BIGINT) AS delta_c
        |  FROM b JOIN dim ON c_custkey = o_custkey
        |  WHERE o_orderkey % 97 = 0 GROUP BY nation),
        |full_ AS (SELECT nation, CAST(SUM(cents) AS BIGINT) AS full_c
        |  FROM b JOIN dim ON c_custkey = o_custkey GROUP BY nation)
        |SELECT f.nation, COALESCE(base.base_c, 0) AS base_c,
        |  COALESCE(delta.delta_c, 0) AS delta_c,
        |  COALESCE(base.base_c, 0) + COALESCE(delta.delta_c, 0)
        |    AS maintained_c,
        |  f.full_c,
        |  COALESCE(base.base_c, 0) + COALESCE(delta.delta_c, 0) = f.full_c
        |    AS consistent
        |FROM full_ f
        |LEFT JOIN base ON base.nation = f.nation
        |LEFT JOIN delta ON delta.nation = f.nation
        |ORDER BY f.nation""") { (s, dir) =>
      import s.implicits._
      val b = T(s, dir, "orders")
        .select($"o_orderkey", $"o_custkey",
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
      val dim = T(s, dir, "customer")
        .select($"c_custkey", $"c_nationkey".cast("long").as("nation"))
      def view(f: DataFrame, out: String): DataFrame =
        f.join(broadcast(dim), $"c_custkey" === $"o_custkey")
          .groupBy($"nation").agg(sum($"cents").as(out))
      val base = view(b.filter($"o_orderkey" % 97 =!= 0), "base_c")
      val delta = view(b.filter($"o_orderkey" % 97 === 0), "delta_c")
      val full = view(b, "full_c")
      full.join(base, Seq("nation"), "left")
        .join(delta, Seq("nation"), "left")
        .withColumn("base_c", coalesce($"base_c", lit(0L)))
        .withColumn("delta_c", coalesce($"delta_c", lit(0L)))
        .withColumn("maintained_c", $"base_c" + $"delta_c")
        .select($"nation", $"base_c", $"delta_c", $"maintained_c",
          $"full_c", ($"maintained_c" === $"full_c").as("consistent"))
        .orderBy($"nation")
    },

    q("q302_rank_movers",
      // Week-over-week rank movement leaderboard: parts ranked by revenue
      // in the trailing 30 days vs the prior 30, top-10 biggest rank
      // movers among parts active in BOTH periods — the risers/fallers
      // readout every category dashboard leads with. One fact aggregation
      // on (part, period); both rank windows run on the part-sized
      // rollup; the cut is TakeOrderedAndProject with a deterministic
      // (|delta|, part) order.
      """WITH hi AS (SELECT MAX(CAST(l_shipdate AS DATE)) AS d0
        |  FROM lineitem),
        |f AS (SELECT l_partkey AS part,
        |    CASE WHEN CAST(l_shipdate AS DATE) > d0 - 30 THEN 'post'
        |         ELSE 'pre' END AS period,
        |    CAST(FLOOR(l_extendedprice * 100 + 0.5) AS BIGINT) AS cents
        |  FROM lineitem, hi WHERE CAST(l_shipdate AS DATE) > d0 - 60),
        |a AS (SELECT part, period, CAST(SUM(cents) AS BIGINT) AS rev_c
        |  FROM f GROUP BY part, period),
        |p2 AS (SELECT pre.part, pre.rev_c AS rev_pre_c,
        |    post.rev_c AS rev_post_c
        |  FROM (SELECT part, rev_c FROM a WHERE period = 'pre') pre
        |  JOIN (SELECT part, rev_c FROM a WHERE period = 'post') post
        |    ON post.part = pre.part),
        |rk AS (SELECT part, rev_pre_c, rev_post_c,
        |    CAST(ROW_NUMBER() OVER (ORDER BY rev_pre_c DESC, part)
        |      AS BIGINT) AS rank_pre,
        |    CAST(ROW_NUMBER() OVER (ORDER BY rev_post_c DESC, part)
        |      AS BIGINT) AS rank_post
        |  FROM p2)
        |SELECT part, rev_pre_c, rev_post_c, rank_pre, rank_post,
        |  rank_pre - rank_post AS rank_delta
        |FROM rk
        |ORDER BY ABS(rank_pre - rank_post) DESC, part LIMIT 10""") { (s, dir) =>
      import s.implicits._
      val hi = T(s, dir, "lineitem")
        .agg(max(to_date($"l_shipdate")).as("d0"))
      val a = T(s, dir, "lineitem")
        .crossJoin(broadcast(hi))
        .filter(to_date($"l_shipdate") > expr("date_sub(d0, 60)"))
        .select($"l_partkey".as("part"),
          when(to_date($"l_shipdate") > expr("date_sub(d0, 30)"), "post")
            .otherwise("pre").as("period"),
          floor($"l_extendedprice" * 100 + 0.5).cast("long").as("cents"))
        .groupBy($"part", $"period").agg(sum($"cents").as("rev_c"))
        .transform(graft.CacheScope.cached) // both period sides
      val p2 = a.filter($"period" === "pre")
        .select($"part", $"rev_c".as("rev_pre_c"))
        .join(a.filter($"period" === "post")
          .select($"part", $"rev_c".as("rev_post_c")), Seq("part"))
      p2.withColumn("rank_pre", row_number().over(
          Window.orderBy($"rev_pre_c".desc, $"part")).cast("long"))
        .withColumn("rank_post", row_number().over(
          Window.orderBy($"rev_post_c".desc, $"part")).cast("long"))
        .withColumn("rank_delta", $"rank_pre" - $"rank_post")
        .select($"part", $"rev_pre_c", $"rev_post_c", $"rank_pre",
          $"rank_post", $"rank_delta")
        .orderBy(abs($"rank_delta").desc, $"part").limit(10)
    },

    q("q303_trimmed_mean",
      // 10%-trimmed mean (robust location) per order priority — the
      // outlier-resistant aggregate reported when a handful of whale
      // orders would drag a plain mean. Scale-right formulation: the trim
      // happens on the COMPACTED (value, count) domain with EXACT partial
      // weights — each distinct price keeps overlap([cum-cnt+1, cum],
      // [lo+1, n-lo]) units — so no per-row rank over the facts, just one
      // group compaction and a bounded-domain window. All integer.
      """WITH g AS (SELECT o_orderpriority AS pri,
        |    CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT) AS cents,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM orders GROUP BY pri, cents),
        |c AS (SELECT pri, cents, cnt,
        |    SUM(cnt) OVER (PARTITION BY pri ORDER BY cents) AS cum,
        |    SUM(cnt) OVER (PARTITION BY pri) AS n FROM g),
        |k AS (SELECT pri, cents,
        |    GREATEST(0, LEAST(cum, n - n // 10)
        |      - GREATEST(cum - cnt + 1, n // 10 + 1) + 1) AS keep,
        |    n FROM c)
        |SELECT pri, CAST(MIN(n) AS BIGINT) AS n_rows,
        |  CAST(SUM(keep) AS BIGINT) AS n_kept,
        |  CAST(SUM(cents * keep) // SUM(keep) AS BIGINT) AS trimmed_mean_c
        |FROM k GROUP BY pri ORDER BY pri""") { (s, dir) =>
      import s.implicits._
      val g = T(s, dir, "orders")
        .groupBy($"o_orderpriority".as("pri"),
          floor($"o_totalprice" * 100 + 0.5).cast("long").as("cents"))
        .agg(count(lit(1)).as("cnt"))
      val wc = Window.partitionBy($"pri").orderBy($"cents")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wt = Window.partitionBy($"pri")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      g.withColumn("cum", sum($"cnt").over(wc))
        .withColumn("n", sum($"cnt").over(wt))
        .withColumn("keep", expr(
          "GREATEST(0, LEAST(cum, n - n div 10) " +
            "- GREATEST(cum - cnt + 1, n div 10 + 1) + 1)"))
        .groupBy($"pri")
        .agg(min($"n").as("n_rows"), sum($"keep").as("n_kept"),
          expr("CAST(SUM(cents * keep) div SUM(keep) AS BIGINT)")
            .as("trimmed_mean_c"))
        .orderBy($"pri")
    },

    q("q305_late_dimension",
      // Late-arriving dimension reconciliation: facts whose dimension row
      // hasn't landed yet are PARKED (keyed LEFT ANTI against the initial
      // dim), then re-joined once the dimension delta arrives; the report
      // certifies conservation (matched + parked = total; resolved +
      // still-pending = parked) and that nothing stays pending once the
      // full dimension exists. The standard warehouse pattern for
      // out-of-order loads — q247's point-in-time join assumes the dim is
      // there; this is what happens when it isn't. All keyed semi/anti
      // joins with the dimension keys broadcast.
      """WITH dim0 AS (SELECT c_custkey FROM customer
        |  WHERE c_custkey % 13 <> 0),
        |delta AS (SELECT c_custkey FROM customer WHERE c_custkey % 13 = 0),
        |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_facts FROM orders),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_matched FROM orders o
        |  WHERE EXISTS (SELECT 1 FROM dim0 WHERE c_custkey = o.o_custkey)),
        |p AS (SELECT o_orderkey, o_custkey FROM orders o
        |  WHERE NOT EXISTS (SELECT 1 FROM dim0
        |    WHERE c_custkey = o.o_custkey)),
        |r AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_resolved FROM p
        |  WHERE EXISTS (SELECT 1 FROM delta WHERE c_custkey = p.o_custkey)),
        |sp AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_still FROM p
        |  WHERE NOT EXISTS (SELECT 1 FROM customer
        |    WHERE c_custkey = p.o_custkey))
        |SELECT t.n_facts, m.n_matched,
        |  t.n_facts - m.n_matched AS n_parked, r.n_resolved, sp.n_still,
        |  m.n_matched + r.n_resolved + sp.n_still = t.n_facts AS conserved
        |FROM t, m, r, sp""") { (s, dir) =>
      import s.implicits._
      val cust = T(s, dir, "customer").select($"c_custkey")
      val dim0 = cust.filter($"c_custkey" % 13 =!= 0)
      val delta = cust.filter($"c_custkey" % 13 === 0)
      val facts = T(s, dir, "orders").select($"o_orderkey", $"o_custkey")
      val t = facts.agg(count(lit(1)).as("n_facts"))
      val m = facts.join(broadcast(dim0), $"c_custkey" === $"o_custkey",
          "left_semi")
        .agg(count(lit(1)).as("n_matched"))
      val parked = facts.join(broadcast(dim0),
          $"c_custkey" === $"o_custkey", "left_anti")
        .transform(graft.CacheScope.cached) // resolved + still-pending
      val r = parked.join(broadcast(delta), $"c_custkey" === $"o_custkey",
          "left_semi")
        .agg(count(lit(1)).as("n_resolved"))
      val sp = parked.join(broadcast(cust), $"c_custkey" === $"o_custkey",
          "left_anti")
        .agg(count(lit(1)).as("n_still"))
      broadcast(t).crossJoin(broadcast(m)).crossJoin(broadcast(r))
        .crossJoin(broadcast(sp))
        .select($"n_facts", $"n_matched",
          ($"n_facts" - $"n_matched").as("n_parked"), $"n_resolved",
          $"n_still",
          ($"n_matched" + $"n_resolved" + $"n_still" === $"n_facts")
            .as("conserved"))
    },

    q("q306_encoding_advisor",
      // Storage-encoding advisor: per low-cardinality string column,
      // estimate dictionary-encoded size (distinct bytes + 4-byte codes)
      // vs plain size and recommend dictionary encoding when it at least
      // halves the bytes — the layout-maintenance readout behind parquet
      // encoding choices (q236's compaction decides file sizes; this
      // decides bytes IN the files). One profile aggregation per column;
      // everything is exact integer byte arithmetic.
      """WITH p AS (
        |  SELECT 'orders.o_orderpriority' AS col_,
        |    CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(COUNT(DISTINCT o_orderpriority) AS BIGINT) AS ndv,
        |    CAST(SUM(length(o_orderpriority)) AS BIGINT) AS plain_bytes,
        |    CAST((SELECT SUM(length(v)) FROM
        |      (SELECT DISTINCT o_orderpriority AS v FROM orders)) AS BIGINT)
        |      AS distinct_bytes
        |  FROM orders
        |  UNION ALL SELECT 'customer.c_mktsegment',
        |    CAST(COUNT(*) AS BIGINT),
        |    CAST(COUNT(DISTINCT c_mktsegment) AS BIGINT),
        |    CAST(SUM(length(c_mktsegment)) AS BIGINT),
        |    CAST((SELECT SUM(length(v)) FROM
        |      (SELECT DISTINCT c_mktsegment AS v FROM customer)) AS BIGINT)
        |  FROM customer
        |  UNION ALL SELECT 'documents.lang',
        |    CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT lang) AS BIGINT),
        |    CAST(SUM(length(lang)) AS BIGINT),
        |    CAST((SELECT SUM(length(v)) FROM
        |      (SELECT DISTINCT lang AS v FROM documents)) AS BIGINT)
        |  FROM documents
        |  UNION ALL SELECT 'part.p_brand',
        |    CAST(COUNT(*) AS BIGINT), CAST(COUNT(DISTINCT p_brand) AS BIGINT),
        |    CAST(SUM(length(p_brand)) AS BIGINT),
        |    CAST((SELECT SUM(length(v)) FROM
        |      (SELECT DISTINCT p_brand AS v FROM part)) AS BIGINT)
        |  FROM part)
        |SELECT col_, n_rows, ndv, plain_bytes,
        |  distinct_bytes + 4 * n_rows AS dict_bytes,
        |  CAST((1000000 * (distinct_bytes + 4 * n_rows)) // plain_bytes
        |    AS BIGINT) AS dict_ratio_ppm,
        |  2 * (distinct_bytes + 4 * n_rows) < plain_bytes AS recommend_dict
        |FROM p ORDER BY col_""") { (s, dir) =>
      import s.implicits._
      def profile(label: String, table: String, c: String): DataFrame = {
        val base = T(s, dir, table)
        val d = base.select(col(c).as("v")).distinct()
          .agg(sum(length($"v")).as("distinct_bytes"))
        base.agg(count(lit(1)).as("n_rows"),
            countDistinct(col(c)).as("ndv"),
            sum(length(col(c))).as("plain_bytes"))
          .crossJoin(broadcast(d))
          .select(lit(label).as("col_"), $"n_rows", $"ndv", $"plain_bytes",
            $"distinct_bytes")
      }
      profile("orders.o_orderpriority", "orders", "o_orderpriority")
        .unionAll(profile("customer.c_mktsegment", "customer",
          "c_mktsegment"))
        .unionAll(profile("documents.lang", "documents", "lang"))
        .unionAll(profile("part.p_brand", "part", "p_brand"))
        .select($"col_", $"n_rows", $"ndv", $"plain_bytes",
          ($"distinct_bytes" + lit(4L) * $"n_rows").as("dict_bytes"),
          expr("(1000000 * (distinct_bytes + 4 * n_rows)) div plain_bytes")
            .as("dict_ratio_ppm"),
          (lit(2L) * ($"distinct_bytes" + lit(4L) * $"n_rows") <
            $"plain_bytes").as("recommend_dict"))
        .orderBy($"col_")
    },

    q("q332_zonemap_advisor",
      // Partition zone-map pruning advisor: write the fact table
      // PARTITIONED BY day (the real lake layout), read it back through
      // the partitioned scan, and compute each partition's value zone
      // (min/max) plus whether a high-value predicate (vc >= lo + 9w/10,
      // derived from the data) could SKIP it entirely — max(vc) < thr
      // means zero matching rows can live there, so a planner that keeps
      // partition-level stats rewrites the scan to the surviving day set.
      // The summary columns quantify the win: partitions skipped and the
      // ppm of rows that never need reading. The oracle re-derives all of
      // it from day groups — equal for ANY physical file count inside a
      // partition, because zones here are the day partitions themselves.
      // At 100 TB this is the difference between a full scan and reading
      // a few percent; the same arithmetic runs per parquet row-group.
      """WITH e AS (SELECT CAST(ts AS DATE) AS day,
        |    CAST(FLOOR(value * 100 + 0.5) AS BIGINT) AS vc FROM events),
        |b AS (SELECT MIN(vc) lo, MAX(vc) - MIN(vc) + 1 AS w FROM e),
        |thr AS (SELECT lo + (9 * w) // 10 AS t FROM b),
        |z AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |    CAST(MIN(vc) AS BIGINT) AS zone_min,
        |    CAST(MAX(vc) AS BIGINT) AS zone_max,
        |    CAST(SUM(CASE WHEN vc >= (SELECT t FROM thr) THEN 1 ELSE 0 END)
        |      AS BIGINT) AS n_match
        |  FROM e GROUP BY day)
        |SELECT CAST(day AS VARCHAR) AS day, n_rows, zone_min, zone_max,
        |  n_match, zone_max < (SELECT t FROM thr) AS skippable,
        |  CAST(SUM(CASE WHEN zone_max < (SELECT t FROM thr) THEN 1 ELSE 0
        |    END) OVER () AS BIGINT) AS n_skipped_parts,
        |  CAST((1000000 * SUM(CASE WHEN zone_max < (SELECT t FROM thr)
        |      THEN n_rows ELSE 0 END) OVER ())
        |    // SUM(n_rows) OVER () AS BIGINT) AS rows_skipped_ppm
        |FROM z ORDER BY day""") { (s, dir) =>
      import s.implicits._
      // the real seam: a partitioned write + partitioned read-back (day
      // comes back as a partition column from the directory layout)
      val base = graft.TempDirs.scratch("graft-q332-zones")
      // key the write by the partition column (explicit count so AQE's
      // byte-based coalescing can't fold it back to one task): each day
      // lands wholly in one task -> one file per partition and a parallel
      // write, instead of the single scan task writing every partition
      // (guide §6 hash distribution before a partitioned write)
      T(s, dir, "events")
        .select(to_date($"ts").as("day"),
          floor($"value" * 100 + 0.5).cast("long").as("vc"))
        .repartition(s.sparkContext.defaultParallelism, $"day")
        .write.mode("overwrite").partitionBy("day").parquet(base)
      val e = s.read.parquet(base).select($"day", $"vc")
        .transform(graft.CacheScope.cached) // bounds + zones
      val thr = e.agg(min($"vc").as("lo"), (max($"vc") - min($"vc") + 1)
          .as("w"))
        .select(expr("lo + (9 * w) div 10").as("t"))
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      e.crossJoin(broadcast(thr))
        .withColumn("m", when($"vc" >= $"t", 1L).otherwise(0L))
        .groupBy($"day")
        .agg(count(lit(1)).as("n_rows"), min($"vc").as("zone_min"),
          max($"vc").as("zone_max"), sum($"m").as("n_match"),
          max($"t").as("t"))
        .withColumn("skippable", $"zone_max" < $"t")
        .withColumn("n_skipped_parts",
          sum(when($"skippable", 1L).otherwise(0L)).over(all))
        .withColumn("rows_skipped_ppm",
          expr("(1000000 * SUM(CASE WHEN skippable THEN n_rows ELSE 0 END) " +
            "OVER ()) div SUM(n_rows) OVER ()"))
        .select($"day".cast("string").as("day"), $"n_rows", $"zone_min",
          $"zone_max", $"n_match", $"skippable", $"n_skipped_parts",
          $"rows_skipped_ppm")
        .orderBy($"day")
    },

    q("q354_data_contract",
      // Data-contract validation sweep — the dbt-tests /
      // great-expectations primitive run as ONE query: primary-key
      // uniqueness, FK integrity (keyed anti semantics via a broadcast
      // dimension), range, domain-enum, and null checks over the orders
      // fact, each emitted as a (check, n_checked, n_violations, pass)
      // row. Every check is a conditional aggregate over ONE scan of the
      // fact (the FK probe adds one broadcast join) — at 100 TB the
      // whole contract costs a single pass, which is why platforms run
      // it on every load. The fixture is clean, so all checks pass —
      // and the oracle proves the CHECKS compute the right zeros, not
      // just that the data is nice.
      """WITH o AS (SELECT o_orderkey, o_custkey, o_orderstatus,
        |    o_totalprice, o_orderdate, o_orderpriority,
        |    CASE WHEN c.c_custkey IS NULL THEN 1 ELSE 0 END AS fk_miss
        |  FROM orders LEFT JOIN customer c ON c.c_custkey = orders.o_custkey),
        |m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(*) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS dup_pk,
        |    CAST(SUM(fk_miss) AS BIGINT) AS fk_viol,
        |    CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END)
        |      AS BIGINT) AS price_viol,
        |    CAST(SUM(CASE WHEN CAST(o_orderdate AS DATE) < DATE '1995-01-01'
        |      OR CAST(o_orderdate AS DATE) > DATE '2002-01-01' THEN 1
        |      ELSE 0 END) AS BIGINT) AS date_viol,
        |    CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT','2-HIGH',
        |      '3-MEDIUM','4-NOT SPECIFIED','5-LOW') THEN 1 ELSE 0 END)
        |      AS BIGINT) AS prio_viol,
        |    CAST(SUM(CASE WHEN o_orderstatus NOT IN ('F','O','P') THEN 1
        |      ELSE 0 END) AS BIGINT) AS status_viol,
        |    CAST(SUM(CASE WHEN o_orderkey IS NULL OR o_custkey IS NULL
        |      OR o_totalprice IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |      AS null_viol
        |  FROM o)
        |SELECT * FROM (
        |  SELECT '1_pk_unique' AS check_name, n AS n_checked,
        |    dup_pk AS n_violations, dup_pk = 0 AS pass FROM m
        |  UNION ALL SELECT '2_fk_customer', n, fk_viol, fk_viol = 0 FROM m
        |  UNION ALL SELECT '3_price_positive', n, price_viol,
        |    price_viol = 0 FROM m
        |  UNION ALL SELECT '4_date_in_window', n, date_viol,
        |    date_viol = 0 FROM m
        |  UNION ALL SELECT '5_priority_domain', n, prio_viol,
        |    prio_viol = 0 FROM m
        |  UNION ALL SELECT '6_status_domain', n, status_viol,
        |    status_viol = 0 FROM m
        |  UNION ALL SELECT '7_required_not_null', n, null_viol,
        |    null_viol = 0 FROM m
        |) ORDER BY check_name""") { (s, dir) =>
      import s.implicits._
      val o = T(s, dir, "orders")
        .join(broadcast(T(s, dir, "customer").select($"c_custkey")),
          $"c_custkey" === $"o_custkey", "left")
        .withColumn("fk_miss", when($"c_custkey".isNull, 1L).otherwise(0L))
      val m = o.agg(count(lit(1)).as("n"),
          (count(lit(1)) - countDistinct($"o_orderkey")).as("dup_pk"),
          sum($"fk_miss").as("fk_viol"),
          sum(when($"o_totalprice" <= 0, 1L).otherwise(0L)).as("price_viol"),
          sum(when(to_date($"o_orderdate") < lit("1995-01-01").cast("date")
            || to_date($"o_orderdate") > lit("2002-01-01").cast("date"), 1L)
            .otherwise(0L)).as("date_viol"),
          sum(when(!$"o_orderpriority".isin("1-URGENT", "2-HIGH",
            "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), 1L).otherwise(0L))
            .as("prio_viol"),
          sum(when(!$"o_orderstatus".isin("F", "O", "P"), 1L).otherwise(0L))
            .as("status_viol"),
          sum(when($"o_orderkey".isNull || $"o_custkey".isNull ||
            $"o_totalprice".isNull, 1L).otherwise(0L)).as("null_viol"))
        .transform(graft.CacheScope.cached) // seven report rows
      def row(name: String, viol: String): DataFrame =
        m.select(lit(name).as("check_name"), $"n".as("n_checked"),
          col(viol).as("n_violations"), (col(viol) === 0L).as("pass"))
      row("1_pk_unique", "dup_pk")
        .unionAll(row("2_fk_customer", "fk_viol"))
        .unionAll(row("3_price_positive", "price_viol"))
        .unionAll(row("4_date_in_window", "date_viol"))
        .unionAll(row("5_priority_domain", "prio_viol"))
        .unionAll(row("6_status_domain", "status_viol"))
        .unionAll(row("7_required_not_null", "null_viol"))
        .orderBy($"check_name")
    },

    q("q362_schema_drift",
      // Schema-drift detector — the schema-registry diff run when a new
      // data epoch lands: two epochs of the same logical table are
      // written to storage (v2 adds a column, drops one, and changes a
      // type — the three mutations that break consumers), read back, and
      // their PHYSICAL schemas are diffed AS DATA: one row per column
      // with presence, types, and the change class. Consumers alert on
      // anything but 'unchanged'/'added' (removals and type changes are
      // the breaking ones). The schemas come from the real parquet
      // footers of the round-tripped epochs, so a writer that silently
      // coerced a type would be caught, not assumed.
      """SELECT * FROM (VALUES
        |  ('doc_id', TRUE, TRUE, 'bigint', 'bigint', 'unchanged'),
        |  ('lang', FALSE, TRUE, '', 'string', 'added'),
        |  ('n_chars', TRUE, TRUE, 'bigint', 'string', 'type_changed'),
        |  ('source', TRUE, FALSE, 'string', '', 'removed'))
        |  t(column_name, in_v1, in_v2, type_v1, type_v2, change)
        |ORDER BY column_name""") { (s, dir) =>
      import s.implicits._
      val docs = T(s, dir, "documents")
      val base = graft.TempDirs.scratch("graft-q362-epochs")
      docs.select($"doc_id", $"n_chars", $"source")
        .write.mode("overwrite").parquet(s"$base/v1")
      docs.select($"doc_id", $"n_chars".cast("string").as("n_chars"),
          $"lang")
        .write.mode("overwrite").parquet(s"$base/v2")
      def schemaRows(path: String): Seq[(String, String)] =
        s.read.parquet(path).schema.fields.toSeq
          .map(f => f.name -> f.dataType.sql.toLowerCase) // SQL type names
      val v1 = schemaRows(s"$base/v1").toMap
      val v2 = schemaRows(s"$base/v2").toMap
      val cols = (v1.keySet ++ v2.keySet).toSeq.sorted
      cols.map { c =>
        val t1 = v1.getOrElse(c, "")
        val t2 = v2.getOrElse(c, "")
        val change =
          if (t1.isEmpty) "added"
          else if (t2.isEmpty) "removed"
          else if (t1 != t2) "type_changed"
          else "unchanged"
        (c, v1.contains(c), v2.contains(c), t1, t2, change)
      }.toDF("column_name", "in_v1", "in_v2", "type_v1", "type_v2",
        "change")
        .orderBy($"column_name")
    },

    q("q363_join_fanout_audit",
      // Join fan-out audit — the silent-row-duplication check every
      // pipeline needs before trusting a metric computed downstream of a
      // join: for each declared FK relationship, joining the fact to its
      // dimension must preserve the fact's row count EXACTLY (fanout
      // 1.0); a fanout above 1 means the "dimension" has duplicate keys
      // and every downstream SUM is inflated. One row per relationship
      // with left/joined counts, integer fanout ppm, and the pass flag.
      // Each probe is one broadcast join + count — the cheapest insurance
      // in the warehouse.
      """SELECT relationship, CAST(left_rows AS BIGINT) AS left_rows,
        |  CAST(joined_rows AS BIGINT) AS joined_rows,
        |  CAST((joined_rows * 1000000) // left_rows AS BIGINT)
        |    AS fanout_ppm,
        |  joined_rows = left_rows AS fanout_ok
        |FROM (SELECT * FROM (
        |  SELECT 'orders->customer' AS relationship,
        |    (SELECT COUNT(*) FROM orders) AS left_rows,
        |    (SELECT COUNT(*) FROM orders o JOIN customer c
        |      ON c.c_custkey = o.o_custkey) AS joined_rows
        |  UNION ALL
        |  SELECT 'lineitem->orders',
        |    (SELECT COUNT(*) FROM lineitem),
        |    (SELECT COUNT(*) FROM lineitem l JOIN orders o
        |      ON o.o_orderkey = l.l_orderkey)
        |  UNION ALL
        |  SELECT 'customer->nation',
        |    (SELECT COUNT(*) FROM customer),
        |    (SELECT COUNT(*) FROM customer c JOIN nation n
        |      ON n.n_nationkey = c.c_nationkey)
        |  UNION ALL
        |  SELECT 'nation->region',
        |    (SELECT COUNT(*) FROM nation),
        |    (SELECT COUNT(*) FROM nation n JOIN region r
        |      ON r.r_regionkey = n.n_regionkey)
        |)) ORDER BY relationship""") { (s, dir) =>
      import s.implicits._
      def probe(rel: String, fact: DataFrame, factKey: String,
          dim: DataFrame, dimKey: String): DataFrame = {
        val joined = fact.join(broadcast(dim), col(factKey) === col(dimKey))
        fact.agg(count(lit(1)).as("left_rows"))
          .crossJoin(broadcast(joined.agg(count(lit(1)).as("joined_rows"))))
          .select(lit(rel).as("relationship"), $"left_rows", $"joined_rows",
            expr("(joined_rows * 1000000) div left_rows").as("fanout_ppm"),
            ($"joined_rows" === $"left_rows").as("fanout_ok"))
      }
      probe("orders->customer", T(s, dir, "orders"), "o_custkey",
          T(s, dir, "customer").select($"c_custkey"), "c_custkey")
        .unionAll(probe("lineitem->orders", T(s, dir, "lineitem")
            .select($"l_orderkey"), "l_orderkey",
          T(s, dir, "orders").select($"o_orderkey"), "o_orderkey"))
        .unionAll(probe("customer->nation", T(s, dir, "customer")
            .select($"c_nationkey"), "c_nationkey",
          T(s, dir, "nation").select($"n_nationkey"), "n_nationkey"))
        .unionAll(probe("nation->region", T(s, dir, "nation")
            .select($"n_regionkey"), "n_regionkey",
          T(s, dir, "region").select($"r_regionkey"), "r_regionkey"))
        .orderBy($"relationship")
    },

    q("q339_table_checksum", {
      def duckRow(cols: String) =
        graft.functions.TextHash.duckPolyHash(s"concat_ws('|', $cols)")
      // Order-independent table checksums — the cross-system validation a
      // migration OFF the reference (or any replication pipeline) runs on
      // both sides: per table, row count plus two independent commutative
      // digests of the canonical row string (bit_xor of the polyhash, and
      // its sum mod P) — both are order- and partitioning-independent, so
      // ANY cluster layout produces the same triple, and a single
      // corrupted/duplicated/dropped row flips them. Floats ride as exact
      // cents; the digests partial-aggregate map-side (three longs per
      // table cross the shuffle, whatever the table size).
      s"""SELECT 'customer' AS table_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
        |  CAST(bit_xor(h) AS BIGINT) AS xor_hash,
        |  CAST(CAST(SUM(CAST(h AS HUGEINT)) AS HUGEINT) % 1000000007
        |    AS BIGINT) AS sum_hash
        |FROM (SELECT ${duckRow("c_custkey, c_name, " +
          "CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)")} AS h
        |  FROM customer)
        |UNION ALL
        |SELECT 'documents', CAST(COUNT(*) AS BIGINT),
        |  CAST(bit_xor(h) AS BIGINT),
        |  CAST(CAST(SUM(CAST(h AS HUGEINT)) AS HUGEINT) % 1000000007
        |    AS BIGINT)
        |FROM (SELECT ${duckRow("doc_id, lang, n_chars")} AS h
        |  FROM documents)
        |UNION ALL
        |SELECT 'orders', CAST(COUNT(*) AS BIGINT),
        |  CAST(bit_xor(h) AS BIGINT),
        |  CAST(CAST(SUM(CAST(h AS HUGEINT)) AS HUGEINT) % 1000000007
        |    AS BIGINT)
        |FROM (SELECT ${duckRow("o_orderkey, o_custkey, " +
          "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")} AS h
        |  FROM orders)
        |ORDER BY table_name"""
    }) { (s, dir) =>
      import s.implicits._
      def sums(df: DataFrame, name: String, cols: String): DataFrame =
        df.select(expr(
            s"graft_polyhash(concat_ws('|', $cols))").as("h"))
          .agg(count(lit(1)).as("n_rows"),
            expr("bit_xor(h)").as("xor_hash"),
            expr("CAST(CAST(SUM(CAST(h AS DECIMAL(38,0))) AS DECIMAL(38,0))" +
              " % 1000000007 AS BIGINT)").as("sum_hash"))
          .select(lit(name).as("table_name"), $"n_rows", $"xor_hash",
            $"sum_hash")
      sums(T(s, dir, "customer"), "customer",
          "c_custkey, c_name, CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)")
        .unionAll(sums(T(s, dir, "documents"), "documents",
          "doc_id, lang, n_chars"))
        .unionAll(sums(T(s, dir, "orders"), "orders",
          "o_orderkey, o_custkey, " +
            "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)"))
        .orderBy($"table_name")
    },
  )

  private val TargetFileBytes = 4L * 1024 * 1024

  private def parquetParts(dir: String): Seq[java.io.File] =
    Option(new java.io.File(dir).listFiles()).fold(Seq.empty[java.io.File])(
      _.toSeq.filter(f => f.isFile && f.getName.endsWith(".parquet")))

  private def parquetBytes(dir: String): Long = parquetParts(dir).map(_.length).sum

  private def parquetFileCount(dir: String): Int = parquetParts(dir).size
}
