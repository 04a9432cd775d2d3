package graft.operators

import graft.QueryDef.q
import graft.functions.TextHash._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The composed corpus-release pipeline: every stage certified individually
  * elsewhere (q163 extract, q164 canonicalize, q133 curate, q42 LSH dedup,
  * q205 index, q169 BM25), here chained END-TO-END through real intermediate
  * tables — the DAG an actual release job runs, where the bugs live in the
  * seams (schema contracts between stages), not in the stages.
  *
  * The reference delegates all per-entry computation to handler callbacks
  * (/root/reference/lib/redix/stream/consumer.ex:283-299); a user of the
  * reference composes exactly this kind of multi-stage handler chain by
  * wiring consumers to streams of each stage's output.
  */
object Release {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    q("q323_release_pipeline", {
      val ext = WebCorpus.extractExpr(duck = true, "html")
      val idf = graft.ColFns.detMlnSql("2*n_docs - 2*df + 1", "2*df + 1")
      s"""WITH pages AS (SELECT doc_id, ${WebCorpus.htmlExpr} AS html,
         |    ${WebCorpus.urlExpr} AS url FROM documents),
         |ex AS (SELECT doc_id, url, $ext AS extracted FROM pages),
         |parts AS (SELECT doc_id, extracted,
         |    ${WebCorpus.schemeExpr} AS scheme, ${WebCorpus.authExpr} AS auth,
         |    ${WebCorpus.pathqExpr} AS pathq FROM ex),
         |cu AS (SELECT doc_id, extracted,
         |    ${WebCorpus.canonUrlSql(duck = true)} AS canon_url FROM parts),
         |u AS (SELECT doc_id, extracted FROM (SELECT doc_id, extracted,
         |    MIN(doc_id) OVER (PARTITION BY canon_url) AS rep FROM cu)
         |  WHERE doc_id = rep),
         |wds AS (SELECT doc_id, extracted, string_split(extracted, ' ') AS w
         |  FROM u),
         |m AS (SELECT doc_id, extracted, w,
         |    ${qualityMetricsDuck("w").mkString(", ")} FROM wds),
         |k AS (SELECT doc_id, extracted, w FROM m WHERE $QualityKeep),
         |sh AS (SELECT doc_id, ${duckShingles("w")} AS shingles FROM k
         |  WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} AS hh FROM sh),
         |sig AS (SELECT doc_id, ${duckMinhash("hh")} AS mh FROM hs),
         |bands AS (SELECT doc_id, b.band,
         |    mh[CAST(b.band*4+1 AS INT)]||':'||mh[CAST(b.band*4+2 AS INT)]||':'||
         |    mh[CAST(b.band*4+3 AS INT)]||':'||mh[CAST(b.band*4+4 AS INT)] AS key
         |  FROM sig, (SELECT unnest(range($MinhashBands)) AS band) b),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a
         |  JOIN bands b ON a.band = b.band AND a.key = b.key
         |              AND a.doc_id < b.doc_id),
         |est AS (SELECT da, db,
         |    CAST(len(list_filter(range($MinhashSigs),
         |      i -> sa.mh[CAST(i+1 AS INT)] = sb.mh[CAST(i+1 AS INT)]))
         |      AS DOUBLE)/$MinhashSigs AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = cand.da
         |            JOIN sig sb ON sb.doc_id = cand.db),
         |dropd AS (SELECT DISTINCT db FROM est WHERE est_sim >= 0.5),
         |r AS (SELECT doc_id, w FROM k
         |  WHERE doc_id NOT IN (SELECT db FROM dropd)),
         |tok AS (SELECT doc_id, unnest(w) AS term FROM r),
         |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM tok WHERE term <> '' GROUP BY term, doc_id),
         |idx AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
         |    CAST(SUM(tf) AS BIGINT) AS ttf
         |  FROM tf GROUP BY term HAVING COUNT(*) >= 5),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf
         |  GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(SUM(tf) AS BIGINT) AS n_toks FROM tf),
         |st AS (SELECT n_docs, (n_toks * 1000000) // n_docs AS a FROM stats),
         |qt AS (SELECT term, df FROM idx WHERE length(term) >= 4
         |  ORDER BY df DESC, term LIMIT 5),
         |qi AS (SELECT term, $idf AS idf_micro FROM qt, st),
         |sc AS (SELECT f.doc_id,
         |    qi.idf_micro * ((22 * f.tf * st.a * 1000000)
         |      // (10 * f.tf * st.a + 3 * st.a + 9 * d.dl * 1000000)) AS contrib
         |  FROM tf f JOIN qi ON qi.term = f.term
         |    JOIN dl d ON f.doc_id = d.doc_id, st),
         |bm AS (SELECT doc_id, CAST(SUM(contrib) AS BIGINT) AS score_pico
         |  FROM sc GROUP BY doc_id ORDER BY score_pico DESC, doc_id LIMIT 10)
         |SELECT * FROM (
         |  SELECT '1_crawled' AS stage, CAST(COUNT(*) AS BIGINT) AS n_rows,
         |    CAST(SUM(len(string_split(extracted, ' '))) AS BIGINT) AS metric
         |  FROM ex
         |  UNION ALL
         |  SELECT '2_url_unique', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(len(string_split(extracted, ' '))) AS BIGINT) FROM u
         |  UNION ALL
         |  SELECT '3_quality_kept', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(len(w)) AS BIGINT) FROM k
         |  UNION ALL
         |  SELECT '4_near_deduped', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(len(w)) AS BIGINT) FROM r
         |  UNION ALL
         |  SELECT '5_index_terms', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(ttf) AS BIGINT) FROM idx
         |  UNION ALL
         |  SELECT '6_bm25_smoke', CAST(COUNT(*) AS BIGINT),
         |    CAST(SUM(score_pico) AS BIGINT) FROM bm
         |) ORDER BY stage"""
    }) { (s, dir) =>
      import s.implicits._
      // ---- stage 1: crawl — synthesize page + URL, extract text ----
      // (map-side; the extracted column is the only thing later stages read)
      val ex = graft.Tables.spread(T(s, dir, "documents"))
        .withColumn("html", expr(WebCorpus.htmlExpr))
        .withColumn("url", expr(WebCorpus.urlExpr))
        .withColumn("extracted",
          expr(WebCorpus.extractExpr(duck = false, "html")))
        .select($"doc_id", $"url", $"extracted")
        .transform(graft.CacheScope.cached) // stage count + stage 2 input
      // ---- stage 2: URL dedup — keep-first decided on a (canon_url,
      // doc_id) PROXY (guide §8): the old window ranked full rows, so the
      // one canon_url shuffle carried every extracted payload; the groupBy
      // collapses map-side and ships only urls+ids, and the survivor ids
      // re-attach to the CACHED ex with a semi-join the planner sizes
      // itself (broadcast here, shuffled at corpus scale). doc_ids are
      // unique, so id IN reps <=> id is its canon group's minimum.
      val reps = ex
        .withColumn("scheme", expr(WebCorpus.schemeExpr))
        .withColumn("auth", expr(WebCorpus.authExpr))
        .withColumn("pathq", expr(WebCorpus.pathqExpr))
        .withColumn("canon_url", expr(WebCorpus.canonUrlSql(duck = false)))
        .select($"canon_url", $"doc_id")
        .groupBy($"canon_url").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val u = ex.join(reps, Seq("doc_id"), "left_semi")
        .select($"doc_id", $"extracted")
      // ---- stage 3: quality gates — map-side metrics, integer thresholds
      val k = u
        .withColumn("w", split($"extracted", " "))
        .selectExpr(Seq("doc_id", "w") ++ qualityMetricsSpark("w"): _*)
        .filter(expr(QualityKeep))
        .select($"doc_id", $"w")
        .transform(graft.CacheScope.cached) // stage count, LSH, retention
      // ---- stage 4: MinHash-LSH near-dup, keep-first on candidate pairs
      val sig = k.filter(size($"w") >= 3)
        .withColumn("shingles", expr(shinglesSql("w")))
        .withColumn("hh",
          expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .withColumn("mh", expr("graft_minhash(hh)"))
        .select($"doc_id", $"mh")
        .transform(graft.CacheScope.cached) // bands + both est sides
      val bands = sig
        .select($"doc_id",
          explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"), $"mh")
        .withColumn("key", expr("concat_ws(':', " +
          "transform(slice(mh, band*4 + 1, 4), x -> CAST(x AS STRING)))"))
        .select($"doc_id", $"band", $"key")
      val cand = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.key" === $"b.key" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .distinct()
      val dropd = cand
        .join(sig.as("sa"), $"da" === $"sa.doc_id")
        .join(sig.as("sb"), $"db" === $"sb.doc_id")
        .withColumn("est_sim", expr("size(filter(zip_with(sa.mh, sb.mh, " +
          s"(x, y) -> x = y), b -> b)) / CAST($MinhashSigs AS DOUBLE)"))
        .filter($"est_sim" >= 0.5)
        .select($"db").distinct()
      val r = k.join(dropd, $"doc_id" === $"db", "left_anti")
      // ---- the seam: the release is MATERIALIZED (parquet) and the index
      // stages read it back — the schema contract between the curation job
      // and the index job is a real table, exactly where production
      // pipelines break (this is what the end-to-end gate is FOR)
      val relDir = graft.TempDirs.scratch("graft-q323-release")
      r.select($"doc_id", array_join($"w", " ").as("text"))
        .write.mode("overwrite").parquet(relDir)
      val rel = s.read.parquet(relDir)
        .select($"doc_id", split($"text", " ").as("w"))
      // ---- stage 5: inverted-index statistics over the released corpus
      val tf = rel.select($"doc_id", explode($"w").as("term"))
        .filter($"term" =!= "")
        .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
        .transform(graft.CacheScope.cached) // idx, dl, stats, probe join
      val idx = tf.groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").as("ttf"))
        .filter($"df" >= 5)
        .transform(graft.CacheScope.cached) // stage count + query terms
      // ---- stage 6: BM25 smoke query over the released index ----
      val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      val st = tf.agg(countDistinct($"doc_id").as("n_docs"),
          sum($"tf").as("n_toks"))
        .withColumn("a", expr("n_toks * 1000000 DIV n_docs"))
        .select($"n_docs", $"a")
      val qi = idx.filter(length($"term") >= 4)
        .orderBy($"df".desc, $"term".asc).limit(5)
        .crossJoin(broadcast(st))
        .withColumn("idf_micro",
          graft.ColFns.detMln(lit(2) * $"n_docs" - lit(2) * $"df" + 1,
            lit(2) * $"df" + 1))
        .select($"term", $"idf_micro")
      val bm = tf.join(broadcast(qi), "term")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st.select($"a")))
        .withColumn("contrib", expr("idf_micro * ((22 * tf * a * 1000000) " +
          "DIV (10 * tf * a + 3 * a + 9 * dl * 1000000))"))
        .groupBy($"doc_id")
        .agg(sum($"contrib").as("score_pico"))
        .orderBy($"score_pico".desc, $"doc_id".asc)
        .limit(10)
      // ---- the release card: per-stage funnel + index/retrieval readout
      def card(stage: String, df: DataFrame, nTok: org.apache.spark.sql.Column,
          n: org.apache.spark.sql.Column): DataFrame =
        df.agg(n.cast("long").as("n_rows"), nTok.cast("long").as("metric"))
          .select(lit(stage).as("stage"), $"n_rows", $"metric")
      card("1_crawled", ex, sum(size(split($"extracted", " "))), count(lit(1)))
        .unionAll(card("2_url_unique", u,
          sum(size(split($"extracted", " "))), count(lit(1))))
        .unionAll(card("3_quality_kept", k, sum(size($"w")), count(lit(1))))
        .unionAll(card("4_near_deduped", r, sum(size($"w")), count(lit(1))))
        .unionAll(card("5_index_terms", idx, sum($"ttf"), count(lit(1))))
        .unionAll(card("6_bm25_smoke", bm, sum($"score_pico"), count(lit(1))))
        .orderBy($"stage")
    },

    q("q451_corpus_release_diff",
      // Corpus RELEASE-to-RELEASE diff — the governance readout run before
      // publishing corpus v2: per source, how many documents were added /
      // removed / modified (content-hash compare, not metadata), the
      // churn rate, and the mean-length drift — the dashboard that
      // catches "the crawler silently dropped a domain" or "the cleaner
      // rewrote everything" before a model trains on it. v2 is derived
      // deterministically from documents (q237's discipline, at the
      // document level): doc_id % 97 = 3 exists only in v2 (added),
      // % 97 = 5 only in v1 (removed), % 89 = 7 got its text revised
      // ('rev2 ' prefix, +5 chars). The diff is ONE full-outer equi join
      // on doc_id — both releases shuffle once and nothing else moves at
      // 100 TB — and the rollup is source-sized. Mean-length drift is the
      // exact integer cross-multiplication |sum2*n1 - sum1*n2| * 1e6 //
      // (sum1 * n2) (no float means); all DIVs non-negative.
      """WITH base AS (SELECT doc_id, source, text, n_chars FROM documents),
        |v1 AS (SELECT * FROM base WHERE doc_id % 97 <> 3),
        |v2 AS (SELECT doc_id, source,
        |    CASE WHEN doc_id % 89 = 7 THEN 'rev2 ' || text ELSE text END AS text,
        |    CASE WHEN doc_id % 89 = 7 THEN n_chars + 5 ELSE n_chars END AS n_chars
        |  FROM base WHERE doc_id % 97 <> 5),
        |d AS (SELECT COALESCE(a.source, b.source) AS source,
        |    CASE WHEN a.doc_id IS NULL THEN 'added'
        |         WHEN b.doc_id IS NULL THEN 'removed'
        |         WHEN md5(a.text) <> md5(b.text) THEN 'modified'
        |         ELSE 'unchanged' END AS st,
        |    COALESCE(a.n_chars, 0) AS c1, COALESCE(b.n_chars, 0) AS c2,
        |    CASE WHEN a.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in1,
        |    CASE WHEN b.doc_id IS NOT NULL THEN 1 ELSE 0 END AS in2
        |  FROM v1 a FULL OUTER JOIN v2 b ON a.doc_id = b.doc_id)
        |SELECT source,
        |  CAST(SUM(in1) AS BIGINT) AS n_v1,
        |  CAST(SUM(in2) AS BIGINT) AS n_v2,
        |  CAST(SUM(CASE WHEN st = 'added' THEN 1 ELSE 0 END) AS BIGINT) AS n_added,
        |  CAST(SUM(CASE WHEN st = 'removed' THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
        |  CAST(SUM(CASE WHEN st = 'modified' THEN 1 ELSE 0 END) AS BIGINT) AS n_modified,
        |  CAST(SUM(CASE WHEN st = 'unchanged' THEN 1 ELSE 0 END) AS BIGINT) AS n_unchanged,
        |  CAST((SUM(CASE WHEN st <> 'unchanged' THEN 1 ELSE 0 END) * 1000000)
        |    // SUM(in1) AS BIGINT) AS churn_ppm,
        |  CAST((ABS(SUM(c2) * SUM(in1) - SUM(c1) * SUM(in2)) * 1000000)
        |    // (SUM(c1) * SUM(in2)) AS BIGINT) AS len_drift_ppm
        |FROM d GROUP BY source ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val base = T(s, dir, "documents")
        .select($"doc_id", $"source", $"text", $"n_chars")
      val v1 = base.filter($"doc_id" % 97 =!= 3)
      val v2 = base.filter($"doc_id" % 97 =!= 5).select($"doc_id", $"source",
        when($"doc_id" % 89 === 7, concat(lit("rev2 "), $"text"))
          .otherwise($"text").as("text"),
        when($"doc_id" % 89 === 7, $"n_chars" + 5L)
          .otherwise($"n_chars").as("n_chars"))
      val j = v1.select($"doc_id".as("ak"), $"source".as("as_"),
          md5($"text").as("ah"), $"n_chars".as("c1"))
        .join(v2.select($"doc_id".as("bk"), $"source".as("bs"),
          md5($"text").as("bh"), $"n_chars".as("c2")),
          $"ak" === $"bk", "full_outer")
      j.select(coalesce($"as_", $"bs").as("source"),
          when($"ak".isNull, "added")
            .when($"bk".isNull, "removed")
            .when($"ah" =!= $"bh", "modified")
            .otherwise("unchanged").as("st"),
          coalesce($"c1", lit(0L)).as("c1"), coalesce($"c2", lit(0L)).as("c2"),
          when($"ak".isNotNull, 1L).otherwise(0L).as("in1"),
          when($"bk".isNotNull, 1L).otherwise(0L).as("in2"))
        .groupBy($"source")
        .agg(sum($"in1").as("n_v1"), sum($"in2").as("n_v2"),
          sum(when($"st" === "added", 1L).otherwise(0L)).as("n_added"),
          sum(when($"st" === "removed", 1L).otherwise(0L)).as("n_removed"),
          sum(when($"st" === "modified", 1L).otherwise(0L)).as("n_modified"),
          sum(when($"st" === "unchanged", 1L).otherwise(0L)).as("n_unchanged"),
          expr("CAST((SUM(CASE WHEN st <> 'unchanged' THEN 1 ELSE 0 END) " +
            "* 1000000) div SUM(in1) AS BIGINT)").as("churn_ppm"),
          expr("CAST((ABS(SUM(c2) * SUM(in1) - SUM(c1) * SUM(in2)) * 1000000)" +
            " div (SUM(c1) * SUM(in2)) AS BIGINT)").as("len_drift_ppm"))
        .orderBy($"source")
    },
  )
}
