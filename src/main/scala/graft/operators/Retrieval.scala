package graft.operators

import graft.QueryDef.q
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Retrieval-side operators for an LLM data/serving pipeline: lexical BM25
  * ranking and ColBERT-style late-interaction (MaxSim) re-ranking. Both are
  * the standard second half of a retrieval stack whose first half (ANN
  * shortlist) is q156's IVF-PQ index.
  *
  * The reference delegates all per-entry computation to handler callbacks
  * (/root/reference/lib/redix/stream/consumer.ex:283-299); these make the
  * standard retrieval handlers first-class engine operators.
  */
object Retrieval {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** BM25 constants, scaled to integers: k1 = 1.2 (=12/10), b = 0.75 (=3/4).
    * With num/den cross-multiplied by 10*avgdl_micro every division in the
    * term-frequency saturation is a single non-negative integer DIV, so
    * Spark's truncating DIV and DuckDB's floor `//` agree (q142's
    * discipline). idf may legitimately go negative for very common terms;
    * it is only ever multiplied and summed, never divided.
    */
  private val Bm25K = 5 // query terms
  private val Bm25TopK = 20
  private val PrfFbDocs = 10 // q270 pseudo-relevance feedback depth
  private val PrfExpTerms = 10 // q270 expansion terms emitted

  val defs: Seq[QueryDef] = Seq(

    q("q169_bm25_topk",
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks GROUP BY doc_id, tok),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(SUM(tf) AS BIGINT) AS n_toks FROM tf),
         |st AS (SELECT n_docs, (n_toks * 1000000) // n_docs AS a FROM stats),
         |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY tok),
         |qt AS (SELECT tok, df FROM df WHERE length(tok) >= 4
         |  ORDER BY df DESC, tok LIMIT $Bm25K),
         |qi AS (SELECT tok,
         |    ${graft.ColFns.detMlnSql("2*n_docs - 2*df + 1", "2*df + 1")} AS idf_micro
         |  FROM qt, st),
         |sc AS (SELECT f.doc_id,
         |    qi.idf_micro * ((22 * f.tf * st.a * 1000000)
         |      // (10 * f.tf * st.a + 3 * st.a + 9 * d.dl * 1000000)) AS contrib
         |  FROM tf f JOIN qi USING (tok) JOIN dl d ON f.doc_id = d.doc_id, st)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_match,
         |  CAST(SUM(contrib) AS BIGINT) AS score_pico
         |FROM sc GROUP BY doc_id
         |ORDER BY score_pico DESC, doc_id LIMIT $Bm25TopK""") { (s, dir) =>
      import s.implicits._
      // BM25 lexical ranking (Robertson-Sparck Jones), the retrieval baseline
      // every dense index is measured against. Postings = one (doc, term)
      // aggregation; document length and document frequency are two more
      // keyed aggregations over the SAME postings table (the corpus text is
      // tokenized exactly once). The query-term table (terms + integer
      // micro-idf) is tiny by construction and BROADCAST into the postings
      // join, so the corpus side never shuffles for the probe; the final
      // top-k is TakeOrderedAndProject, not a global sort. Float discipline:
      // idf is rounded to integer micro-units per DISTINCT (df, N) pair
      // (q136's trick) and the tf-saturation fraction is one non-negative
      // integer DIV, so the per-doc sum is exact integer addition in both
      // engines. At 100 TB the plan is unchanged: postings are the one big
      // shuffle, everything query-sided is broadcast.
      val toks = T(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
      val tf = toks.groupBy($"doc_id", $"tok")
        .agg(count(lit(1)).as("tf"))
        .transform(graft.CacheScope.cached) // feeds dl, stats, df, and the probe
      val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      val st = tf.agg(countDistinct($"doc_id").as("n_docs"), sum($"tf").as("n_toks"))
        .withColumn("a", expr("n_toks * 1000000 DIV n_docs"))
        .select($"n_docs", $"a")
      val df = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val qi = df.filter(length($"tok") >= 4)
        .orderBy($"df".desc, $"tok".asc).limit(Bm25K)
        .crossJoin(broadcast(st))
        .withColumn("idf_micro",
          graft.ColFns.detMln(lit(2) * $"n_docs" - lit(2) * $"df" + 1,
            lit(2) * $"df" + 1))
        .select($"tok", $"idf_micro")
      tf.join(broadcast(qi), "tok")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st.select($"a")))
        .withColumn("contrib", expr(
          "idf_micro * ((22 * tf * a * 1000000) DIV (10 * tf * a + 3 * a + 9 * dl * 1000000))"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_match"), sum($"contrib").as("score_pico"))
        .orderBy($"score_pico".desc, $"doc_id".asc)
        .limit(Bm25TopK)
    },

    q("q172_late_interaction", {
      val qdot = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)] * dv[CAST(i+1 AS INT)])), " +
        "(acc, x) -> acc + x)"
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |tok AS (SELECT vec_id, t,
         |    list_transform(embedding[CAST(t*16+1 AS INT):CAST(t*16+16 AS INT)],
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT)) AS tv
         |  FROM embeddings, (SELECT unnest([0,1,2,3]) AS t), m),
         |qtok AS (SELECT vec_id AS q_id, t AS qt, tv AS qv FROM tok WHERE vec_id < 8),
         |pair AS (SELECT q.q_id, d.vec_id AS cand_id, q.qt, d.t AS dt,
         |    $qdot AS dot
         |  FROM qtok q JOIN (SELECT vec_id, t, tv AS dv FROM tok) d
         |    ON q.q_id <> d.vec_id),
         |mx AS (SELECT q_id, cand_id, qt, CAST(MAX(dot) AS BIGINT) AS md
         |  FROM pair GROUP BY q_id, cand_id, qt),
         |sc AS (SELECT q_id, cand_id, CAST(SUM(md) AS BIGINT) AS score
         |  FROM mx GROUP BY q_id, cand_id),
         |rk AS (SELECT q_id, cand_id, score,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY score DESC, cand_id) AS BIGINT) AS rnk FROM sc)
         |SELECT q_id, cand_id, rnk, score FROM rk WHERE rnk <= 3
         |ORDER BY q_id, rnk"""
    }) { (s, dir) =>
      import s.implicits._
      // ColBERT-style late interaction (Khattab & Zaharia 2020): each vector
      // is treated as 4 token sub-vectors of 16 dims (a Matryoshka-flavored
      // stand-in for real token embeddings — the PLUMBING is the operator);
      // score(q, d) = sum over query tokens of the MAX dot product against
      // any doc token. Arithmetic is integer-exact: sub-vectors are
      // quantized on one GLOBAL max-abs scale (q141's discipline — a
      // per-vector scale would distort cross-vector dots), every dot is a
      // BIGINT fold. The 8x4 query-token table is BROADCAST, so the corpus
      // token side scans shuffle-free; the per-(q, cand, qt) max and the
      // per-(q, cand) sum both partial-aggregate map-side. At 100 TB this
      // operator re-ranks an ANN SHORTLIST (q156 produces it), where the
      // candidate side is thousands of rows per query, not the corpus — the
      // same plan, with the broadcast side swapped.
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val tok = e.crossJoin(broadcast(gm))
        .select($"vec_id", explode(expr("sequence(0, 3)")).as("t"), $"embedding", $"gm")
        .withColumn("tv", expr(
          "transform(slice(embedding, t*16+1, 16), " +
            "x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT))"))
        .select($"vec_id", $"t", $"tv")
        .transform(graft.CacheScope.cached) // query side and candidate side
      val qtok = broadcast(tok.filter($"vec_id" < 8)
        .select($"vec_id".as("q_id"), $"t".as("qt"), $"tv".as("qv")))
      val wQ = Window.partitionBy($"q_id").orderBy($"score".desc, $"cand_id".asc)
      qtok.join(tok.select($"vec_id".as("cand_id"), $"t".as("dt"), $"tv".as("dv")),
          $"q_id" =!= $"cand_id")
        .withColumn("dot", expr("graft_doti(qv, dv)"))
        .groupBy($"q_id", $"cand_id", $"qt")
        .agg(max($"dot").as("md"))
        .groupBy($"q_id", $"cand_id")
        .agg(sum($"md").as("score"))
        .withColumn("rnk", row_number().over(wQ).cast("long"))
        .filter($"rnk" <= 3)
        .select($"q_id", $"cand_id", $"rnk", $"score")
        .orderBy($"q_id", $"rnk")
    },

    q("q178_rank_fusion", {
      val qdot = (qc: String, dc: String) =>
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(range(len($qc)), i -> $qc[CAST(i+1 AS INT)] * $dc[CAST(i+1 AS INT)])), " +
          "(acc, x) -> acc + x)"
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |qz AS (SELECT vec_id, list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT)) AS qv
         |  FROM embeddings, m),
         |pr AS (SELECT q.vec_id AS q_id, c.vec_id AS cand_id,
         |    ${qdot("q.qv", "c.qv")} AS dot_full,
         |    ${qdot("q.qv[1:16]", "c.qv[1:16]")} AS dot_16
         |  FROM qz q JOIN qz c ON q.vec_id < 6 AND q.vec_id <> c.vec_id),
         |rk AS (SELECT q_id, cand_id,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY dot_full DESC, cand_id) AS BIGINT) AS rank_a,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY dot_16 DESC, cand_id) AS BIGINT) AS rank_b
         |  FROM pr),
         |fu AS (SELECT q_id, cand_id, rank_a, rank_b,
         |    (1000000 // (60 + rank_a)) + (1000000 // (60 + rank_b)) AS rrf_micro
         |  FROM rk),
         |out AS (SELECT q_id, cand_id, rank_a, rank_b, rrf_micro,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY rrf_micro DESC, cand_id) AS BIGINT) AS fused_rank FROM fu)
         |SELECT q_id, cand_id, fused_rank, rrf_micro, rank_a, rank_b
         |FROM out WHERE fused_rank <= 10 ORDER BY q_id, fused_rank"""
    }) { (s, dir) =>
      import s.implicits._
      // Reciprocal-rank fusion (Cormack et al. 2009) — the standard way a
      // hybrid retriever combines rankers without score calibration. Two
      // rankers share ONE scan and one broadcast join: the full-dim int8
      // dot and its 16-dim truncated (Matryoshka, q161) counterpart; both
      // row_number passes and the fused re-rank partition on q_id, so the
      // three windows share a single exchange. RRF scores are fixed-point
      // (1e6 // (60 + rank)) — integer in both engines, no float ordering.
      // At 100 TB each ranker is its own index probe (BM25 q169, ANN
      // q156) producing per-query top-k lists a few hundred rows long;
      // fusion joins those lists, never the corpus — this query IS that
      // join, with the rankers inlined.
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT))")
          .as("qv"))
      val dot = (qc: String, dc: String) => s"graft_doti($qc, $dc)"
      val pr = broadcast(qz.filter($"vec_id" < 6)
          .select($"vec_id".as("q_id"), $"qv"))
        .join(qz.select($"vec_id".as("cand_id"), $"qv".as("cv")),
          $"q_id" =!= $"cand_id")
        .withColumn("dot_full", expr(dot("qv", "cv")))
        .withColumn("dot_16", expr(dot("slice(qv, 1, 16)", "slice(cv, 1, 16)")))
      val byQ = Window.partitionBy($"q_id")
      pr
        .withColumn("rank_a", row_number().over(
          byQ.orderBy($"dot_full".desc, $"cand_id")).cast("long"))
        .withColumn("rank_b", row_number().over(
          byQ.orderBy($"dot_16".desc, $"cand_id")).cast("long"))
        .withColumn("rrf_micro", expr(
          "(1000000 DIV (60 + rank_a)) + (1000000 DIV (60 + rank_b))"))
        .withColumn("fused_rank", row_number().over(
          byQ.orderBy($"rrf_micro".desc, $"cand_id")).cast("long"))
        .filter($"fused_rank" <= 10)
        .select($"q_id", $"cand_id", $"fused_rank", $"rrf_micro", $"rank_a", $"rank_b")
        .orderBy($"q_id", $"fused_rank")
    },

    q("q205_inverted_index",
      // Materialized posting-list build: term -> (document frequency,
      // total term frequency, sorted doc-id postings). Postings are
      // ORDER-PINNED (sorted by doc_id) and serialized as one
      // comma-joined string — a list column would be the natural segment
      // shape, but the driver's comparator sorts rows by every output
      // column and array-typed sort keys crash it (round-6 ADVICE), and a
      // delimited string hash-compares identically; emitted for terms
      // with df >= 20 — the index segment a search engine would actually
      // flush.
      """WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term
        |  FROM documents),
        |tf AS (SELECT term, doc_id, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok WHERE term <> '' GROUP BY term, doc_id)
        |SELECT term,
        |  CAST(COUNT(*) AS BIGINT) AS df,
        |  CAST(SUM(tf) AS BIGINT) AS ttf,
        |  array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |FROM tf GROUP BY term HAVING COUNT(*) >= 20
        |ORDER BY term""") { (s, dir) =>
      import s.implicits._
      // The index-BUILD half of the retrieval stack (q169's BM25 consumes
      // these statistics query-side): one (term, doc) aggregation for term
      // frequencies, one term aggregation assembling df/ttf/postings. The
      // posting list is sort_array(collect_list(...)) — deterministic
      // regardless of partitioning, which is what makes the build
      // idempotent across cluster layouts. At 100 TB postings are the
      // big shuffle (they are the index); per-term lists are Zipf-bounded
      // and the df floor caps emitted segment size — the same cut real
      // segment writers make before merging tails.
      T(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("term"))
        .filter($"term" =!= "")
        .groupBy($"term", $"doc_id").agg(count(lit(1)).as("tf"))
        .groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").as("ttf"),
          array_join(sort_array(collect_list($"doc_id")), ",").as("postings"))
        .filter($"df" >= 20)
        .orderBy($"term")
    },

    q("q240_retrieval_metrics", {
      val dot = graft.functions.VectorFns.duckDot _
      // Integer DCG weights: w_i = floor(1e6/log2(i+1) + 0.5) for ranks
      // 1..10, and their prefix sums for the ideal DCG — precomputed
      // constants inlined IDENTICALLY in both engines, so DCG/IDCG are
      // exact BIGINT sums and NDCG is one IEEE division.
      s"""WITH qv AS (SELECT vec_id qid, embedding qe, label ql
         |  FROM embeddings WHERE vec_id % 25 = 2),
         |w(wrk, wt) AS (VALUES (1, 1000000), (2, 630930), (3, 500000),
         |  (4, 430677), (5, 386853), (6, 356207), (7, 333333),
         |  (8, 315465), (9, 301030), (10, 289065)),
         |cw(k, cwt) AS (VALUES (1, 1000000), (2, 1630930), (3, 2130930),
         |  (4, 2561607), (5, 2948460), (6, 3304667), (7, 3638000),
         |  (8, 3953465), (9, 4254495), (10, 4543560)),
         |d AS (SELECT qv.qid, qv.ql, c.vec_id cid, c.label cl,
         |    ${dot("qv.qe", "c.embedding")} AS sim
         |  FROM qv, embeddings c WHERE c.vec_id <> qv.qid),
         |top AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (
         |    PARTITION BY qid ORDER BY sim DESC, cid) rk FROM d)
         |  WHERE rk <= 10),
         |nrel AS (SELECT qid, CAST(COUNT(*) AS BIGINT) n_rel FROM d
         |  WHERE cl = ql GROUP BY qid),
         |dcg AS (SELECT qid,
         |    CAST(SUM(CASE WHEN cl = ql THEN wt ELSE 0 END) AS BIGINT)
         |      dcg_micro,
         |    MIN(CASE WHEN cl = ql THEN rk END) first_rel
         |  FROM top JOIN w ON w.wrk = top.rk GROUP BY qid),
         |o AS (SELECT dcg.qid, COALESCE(nrel.n_rel, 0) n_rel,
         |    dcg.dcg_micro, dcg.first_rel, cw.cwt
         |  FROM dcg LEFT JOIN nrel ON nrel.qid = dcg.qid
         |  LEFT JOIN cw ON cw.k = LEAST(COALESCE(nrel.n_rel, 0), 10))
         |SELECT qid AS q_id, CAST(n_rel AS BIGINT) AS n_rel, dcg_micro,
         |  CAST(COALESCE(cwt, 0) AS BIGINT) AS idcg_micro,
         |  CASE WHEN COALESCE(cwt, 0) > 0 THEN
         |    ${graft.ColFns.r6Sql("CAST(dcg_micro AS DOUBLE) / cwt")}
         |    ELSE 0.0 END AS ndcg,
         |  CASE WHEN first_rel IS NOT NULL THEN
         |    ${graft.ColFns.r6Sql("1.0 / first_rel")} ELSE 0.0 END AS rr
         |FROM o ORDER BY q_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Ranking-quality metrics for a retrieval run — NDCG@10 and MRR@10
      // against label-match relevance, the readout that decides whether an
      // ANN index or a reranker actually helps. The probe set (vec_id
      // % 25 = 2, disjoint from q46/q222/q124's probes) is broadcast, so
      // the corpus scan is shuffle-free and per-query top-10 is a window
      // over the probe-keyed candidates — q45's brute-force shape, which
      // at 100 TB swaps in any certified ANN shortlist (q156) unchanged:
      // the metric layer only needs (qid, rank, relevance).
      import graft.ColFns.r6
      val wts = Seq(1000000L, 630930L, 500000L, 430677L, 386853L,
        356207L, 333333L, 315465L, 301030L, 289065L)
      val cums = wts.scanLeft(0L)(_ + _).tail
      val wArr = array(wts.map(lit): _*)
      val cwArr = array(cums.map(lit): _*)
      val e = T(s, dir, "embeddings")
      val qv = broadcast(e.filter($"vec_id" % 25 === 2)
        .select($"vec_id".as("qid"), $"embedding".as("qe"),
          $"label".as("ql")))
      val d = qv.join(e.select($"vec_id".as("cid"), $"embedding".as("ce"),
          $"label".as("cl")), $"qid" =!= $"cid")
        .withColumn("sim", expr("graft_dot(qe, ce)"))
        .transform(graft.CacheScope.cached) // feeds top-10 AND the n_rel count
      val byQ = Window.partitionBy($"qid").orderBy($"sim".desc, $"cid")
      val top = d.withColumn("rk", row_number().over(byQ)).filter($"rk" <= 10)
      val nrel = d.filter($"cl" === $"ql")
        .groupBy($"qid").agg(count(lit(1)).as("n_rel"))
      val dcg = top
        .withColumn("wt", element_at(wArr, $"rk"))
        .groupBy($"qid")
        .agg(sum(when($"cl" === $"ql", $"wt").otherwise(0L)).as("dcg_micro"),
          min(when($"cl" === $"ql", $"rk")).as("first_rel"))
      dcg.join(nrel, Seq("qid"), "left")
        .select($"qid".as("q_id"),
          coalesce($"n_rel", lit(0L)).as("n_rel"), $"dcg_micro",
          when(coalesce($"n_rel", lit(0L)) > 0,
            element_at(cwArr, least($"n_rel", lit(10L)).cast("int")))
            .otherwise(0L).as("idcg_micro"),
          $"first_rel")
        .select($"q_id", $"n_rel", $"dcg_micro", $"idcg_micro",
          when($"idcg_micro" > 0,
            r6($"dcg_micro".cast("double") / $"idcg_micro"))
            .otherwise(0.0d).as("ndcg"),
          when($"first_rel".isNotNull, r6(lit(1.0d) / $"first_rel"))
            .otherwise(0.0d).as("rr"))
        .orderBy($"q_id")
    },

    q("q226_mmr_rerank", {
      val dot = graft.functions.VectorFns.duckDot _
      // MMR (Carbonell & Goldstein 1998) with lambda = 1/2: the greedy
      // pick maximizes simq - max(sim to already-selected) — unrolled for
      // k=3 selections over a top-10 shortlist, exactly as the engine
      // side. Dots are the fold-ordered exact doubles; margins are IEEE
      // subtractions of identical bit values, r6 only at output.
      s"""WITH qv AS (SELECT vec_id qid, embedding qe FROM embeddings
         |  WHERE vec_id < 5),
         |d AS (SELECT qv.qid, c.vec_id cid,
         |    ${dot("qv.qe", "c.embedding")} AS simq
         |  FROM qv, embeddings c WHERE c.vec_id <> qv.qid),
         |top AS (SELECT * FROM (SELECT *, ROW_NUMBER() OVER (PARTITION BY qid
         |    ORDER BY simq DESC, cid) rn FROM d) WHERE rn <= 10),
         |pair AS (SELECT a.qid, a.cid ca, b.cid cb,
         |    ${dot("ea.embedding", "eb.embedding")} AS sim
         |  FROM top a JOIN top b ON a.qid = b.qid AND a.cid <> b.cid
         |  JOIN embeddings ea ON ea.vec_id = a.cid
         |  JOIN embeddings eb ON eb.vec_id = b.cid),
         |s1 AS (SELECT qid, cid AS sel1, simq AS m1 FROM top WHERE rn = 1),
         |m2 AS (SELECT t.qid, t.cid, t.simq - p.sim AS mmr FROM top t
         |  JOIN s1 ON s1.qid = t.qid AND t.cid <> s1.sel1
         |  JOIN pair p ON p.qid = t.qid AND p.ca = t.cid AND p.cb = s1.sel1),
         |s2 AS (SELECT qid, cid AS sel2, mmr AS m2 FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY mmr DESC, cid) rn2
         |  FROM m2) WHERE rn2 = 1),
         |m3 AS (SELECT t.qid, t.cid, t.simq - GREATEST(p1.sim, p2.sim) AS mmr
         |  FROM top t
         |  JOIN s1 ON s1.qid = t.qid JOIN s2 ON s2.qid = t.qid
         |  JOIN pair p1 ON p1.qid = t.qid AND p1.ca = t.cid AND p1.cb = s1.sel1
         |  JOIN pair p2 ON p2.qid = t.qid AND p2.ca = t.cid AND p2.cb = s2.sel2
         |  WHERE t.cid <> s1.sel1 AND t.cid <> s2.sel2),
         |s3 AS (SELECT qid, cid AS sel3, mmr AS m3 FROM (SELECT *,
         |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY mmr DESC, cid) rn3
         |  FROM m3) WHERE rn3 = 1)
         |SELECT qid AS q_id, CAST(rk AS BIGINT) AS rk, cand_id,
         |  FLOOR(margin * 1000000 + 0.5) / 1000000 AS mmr_margin FROM (
         |  SELECT qid, 1 AS rk, sel1 AS cand_id, m1 AS margin FROM s1
         |  UNION ALL SELECT qid, 2, sel2, m2 FROM s2
         |  UNION ALL SELECT qid, 3, sel3, m3 FROM s3)
         |ORDER BY q_id, rk"""
    }) { (s, dir) =>
      import s.implicits._
      // Diversified re-ranking — the answer to "my top-k are 5 copies of
      // the same document": after relevance ranks a shortlist, MMR
      // penalizes each candidate by its similarity to what's already
      // picked. Greedy is inherently sequential, so it runs UNROLLED on
      // the shortlist only (10 rows/query; q177's unrolled-iteration
      // pattern): the corpus-sized work is the one broadcast scan that
      // builds the shortlist — everything after is per-query-constant.
      import graft.ColFns.r6
      val e = T(s, dir, "embeddings")
      val qv = broadcast(e.filter($"vec_id" < 5)
        .select($"vec_id".as("qid"), $"embedding".as("qe")))
      val d = qv.join(e.select($"vec_id".as("cid"), $"embedding".as("ce")),
          $"cid" =!= $"qid")
        .withColumn("simq", expr("graft_dot(qe, ce)"))
      val top = d.withColumn("rn", row_number().over(
          Window.partitionBy($"qid").orderBy($"simq".desc, $"cid")))
        .filter($"rn" <= 10)
        .select($"qid", $"cid", $"ce", $"simq", $"rn")
      val pair = top.as("a").join(top.as("b"),
          $"a.qid" === $"b.qid" && $"a.cid" =!= $"b.cid")
        .select($"a.qid".as("qid"), $"a.cid".as("ca"), $"b.cid".as("cb"),
          expr("graft_dot(a.ce, b.ce)").as("sim"))
      val s1 = top.filter($"rn" === 1)
        .select($"qid", $"cid".as("sel1"), $"simq".as("m1"))
      val pair1 = pair.select($"qid".as("p1qid"), $"ca".as("p1ca"),
        $"cb".as("p1cb"), $"sim".as("p1sim"))
      val pair2 = pair.select($"qid".as("p2qid"), $"ca".as("p2ca"),
        $"cb".as("p2cb"), $"sim".as("p2sim"))
      val m2 = top.join(broadcast(s1), Seq("qid")).filter($"cid" =!= $"sel1")
        .join(pair1, $"p1qid" === $"qid" &&
          $"p1ca" === $"cid" && $"p1cb" === $"sel1")
        .select($"qid", $"cid", ($"simq" - $"p1sim").as("mmr"))
      val s2 = m2.withColumn("rn2", row_number().over(
          Window.partitionBy($"qid").orderBy($"mmr".desc, $"cid")))
        .filter($"rn2" === 1)
        .select($"qid", $"cid".as("sel2"), $"mmr".as("m2"))
      val m3 = top.join(broadcast(s1), Seq("qid"))
        .join(broadcast(s2), Seq("qid"))
        .filter($"cid" =!= $"sel1" && $"cid" =!= $"sel2")
        .join(pair1, $"p1qid" === $"qid" &&
          $"p1ca" === $"cid" && $"p1cb" === $"sel1")
        .join(pair2, $"p2qid" === $"qid" &&
          $"p2ca" === $"cid" && $"p2cb" === $"sel2")
        .select($"qid", $"cid",
          ($"simq" - greatest($"p1sim", $"p2sim")).as("mmr"))
      val s3 = m3.withColumn("rn3", row_number().over(
          Window.partitionBy($"qid").orderBy($"mmr".desc, $"cid")))
        .filter($"rn3" === 1)
        .select($"qid", $"cid".as("sel3"), $"mmr".as("m3"))
      s1.select($"qid", lit(1L).as("rk"), $"sel1".as("cand_id"), $"m1".as("margin"))
        .unionAll(s2.select($"qid", lit(2L).as("rk"), $"sel2".as("cand_id"),
          $"m2".as("margin")))
        .unionAll(s3.select($"qid", lit(3L).as("rk"), $"sel3".as("cand_id"),
          $"m3".as("margin")))
        .select($"qid".as("q_id"), $"rk", $"cand_id",
          r6($"margin").as("mmr_margin"))
        .orderBy($"q_id", $"rk")
    },

    q("q270_prf_expansion",
      // Pseudo-relevance-feedback query expansion (Rocchio/RM3 shape): run
      // q169's BM25 probe, take the top-10 feedback docs, and mine the
      // expansion terms a second retrieval pass would add — candidates are
      // the feedback docs' terms minus the original query terms, weighted
      // by feedback mass x global idf (fb_tf * idf_micro, exact integers).
      // Scale posture: the feedback set is 10 doc ids BROADCAST into a
      // semi-join against the postings (the corpus never reshuffles for
      // the probe), the candidate table is feedback-doc-sized and rides a
      // keyed equi join against global df, and both top-k cuts are
      // TakeOrderedAndProject. idf reuses q169's micro-rounded form so the
      // two stages of the retrieval stack stay mutually consistent.
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tf AS (SELECT doc_id, tok, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM toks GROUP BY doc_id, tok),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf
         |  GROUP BY doc_id),
         |stats AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |    CAST(SUM(tf) AS BIGINT) AS n_toks FROM tf),
         |st AS (SELECT n_docs, (n_toks * 1000000) // n_docs AS a FROM stats),
         |df AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS df FROM tf
         |  GROUP BY tok),
         |qt AS (SELECT tok, df FROM df WHERE length(tok) >= 4
         |  ORDER BY df DESC, tok LIMIT $Bm25K),
         |qi AS (SELECT tok,
         |    ${graft.ColFns.detMlnSql("2*n_docs - 2*df + 1", "2*df + 1")} AS idf_micro
         |  FROM qt, st),
         |sc AS (SELECT f.doc_id,
         |    qi.idf_micro * ((22 * f.tf * st.a * 1000000)
         |      // (10 * f.tf * st.a + 3 * st.a + 9 * d.dl * 1000000)) AS contrib
         |  FROM tf f JOIN qi USING (tok) JOIN dl d ON f.doc_id = d.doc_id, st),
         |top AS (SELECT doc_id FROM (SELECT doc_id, SUM(contrib) AS sp
         |  FROM sc GROUP BY doc_id ORDER BY sp DESC, doc_id LIMIT $PrfFbDocs)),
         |cand AS (SELECT f.tok, CAST(COUNT(*) AS BIGINT) AS fb_df,
         |    CAST(SUM(f.tf) AS BIGINT) AS fb_tf
         |  FROM tf f JOIN top USING (doc_id)
         |  WHERE length(f.tok) >= 4
         |    AND f.tok NOT IN (SELECT tok FROM qi)
         |  GROUP BY f.tok)
         |SELECT c.tok AS term, c.fb_df, c.fb_tf,
         |  ${graft.ColFns.detMlnSql("2*st.n_docs - 2*d.df + 1", "2*d.df + 1")}
         |    AS idf_micro,
         |  CAST(c.fb_tf * ${graft.ColFns.detMlnSql("2*st.n_docs - 2*d.df + 1",
                "2*d.df + 1")} AS BIGINT)
         |    AS rocchio_micro
         |FROM cand c JOIN df d ON d.tok = c.tok, st
         |ORDER BY rocchio_micro DESC, term LIMIT $PrfExpTerms""") { (s, dir) =>
      import s.implicits._
      val tf = T(s, dir, "documents")
        // spread: tokenize+explode+partial agg otherwise run in the single
        // scan task (Tables.spread rationale)
        .transform(graft.Tables.spread)
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        .transform(graft.CacheScope.cached) // dl/stats/df/score/candidates
      val dl = tf.groupBy($"doc_id").agg(sum($"tf").as("dl"))
      val st = tf.agg(countDistinct($"doc_id").as("n_docs"),
          sum($"tf").as("n_toks"))
        .withColumn("a", expr("n_toks * 1000000 DIV n_docs"))
        .select($"n_docs", $"a")
      val dfT = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
        .transform(graft.CacheScope.cached) // probe terms + candidate idf
      val qi = dfT.filter(length($"tok") >= 4)
        .orderBy($"df".desc, $"tok".asc).limit(Bm25K)
        .crossJoin(broadcast(st))
        .withColumn("idf_micro",
          graft.ColFns.detMln(lit(2) * $"n_docs" - lit(2) * $"df" + 1,
            lit(2) * $"df" + 1))
        .select($"tok", $"idf_micro")
      val top = tf.join(broadcast(qi), "tok")
        .join(dl, "doc_id")
        .crossJoin(broadcast(st.select($"a")))
        .withColumn("contrib", expr(
          "idf_micro * ((22 * tf * a * 1000000) DIV " +
            "(10 * tf * a + 3 * a + 9 * dl * 1000000))"))
        .groupBy($"doc_id").agg(sum($"contrib").as("sp"))
        .orderBy($"sp".desc, $"doc_id".asc).limit(PrfFbDocs)
        .select($"doc_id")
      val cand = tf
        .join(broadcast(top), Seq("doc_id"), "left_semi")
        .filter(length($"tok") >= 4)
        .join(broadcast(qi.select($"tok")), Seq("tok"), "left_anti")
        .groupBy($"tok")
        .agg(count(lit(1)).as("fb_df"), sum($"tf").as("fb_tf"))
      dfT.join(broadcast(cand), Seq("tok"))
        .crossJoin(broadcast(st.select($"n_docs")))
        .withColumn("idf_micro",
          graft.ColFns.detMln(lit(2) * $"n_docs" - lit(2) * $"df" + 1,
            lit(2) * $"df" + 1))
        .select($"tok".as("term"), $"fb_df", $"fb_tf", $"idf_micro",
          ($"fb_tf" * $"idf_micro").as("rocchio_micro"))
        .orderBy($"rocchio_micro".desc, $"term".asc).limit(PrfExpTerms)
    },

    q("q350_index_segment_merge", {
      val ph = graft.functions.TextHash.duckPolyHash(
        "concat_ws('|', term, df, ttf, postings)")
      // Inverted-index SEGMENT MERGE certificate — the Lucene-style
      // incremental-indexing algebra: two index segments built over
      // disjoint doc-id ranges (an ingestion-time split, so segment A's
      // postings all precede segment B's) merge by TERM with df/ttf
      // addition and posting-list concatenation, and the merged index
      // must equal the single-pass build over the whole corpus — digest
      // for digest. This is what makes indexing INCREMENTAL at 100 TB:
      // new data builds its own segment and merges in term-keyed linear
      // work, instead of re-indexing the corpus. Merge is a full-outer
      // term join (terms may exist in only one half); df floor >= 5 is
      // applied AFTER the merge, exactly as the full build applies it.
      s"""WITH b AS (SELECT (MIN(doc_id) + MAX(doc_id)) // 2 AS mid
        |  FROM documents),
        |tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS term,
        |    doc_id <= (SELECT mid FROM b) AS in_a
        |  FROM documents),
        |tf AS (SELECT term, doc_id, in_a, CAST(COUNT(*) AS BIGINT) AS tf
        |  FROM tok WHERE term <> '' GROUP BY term, doc_id, in_a),
        |seg AS (SELECT term, in_a, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(tf) AS BIGINT) AS ttf,
        |    array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |  FROM tf GROUP BY term, in_a),
        |merged AS (SELECT term,
        |    CAST(COALESCE(a.df, 0) + COALESCE(bb.df, 0) AS BIGINT) AS df,
        |    CAST(COALESCE(a.ttf, 0) + COALESCE(bb.ttf, 0) AS BIGINT) AS ttf,
        |    concat(COALESCE(a.postings, ''),
        |      CASE WHEN a.postings IS NOT NULL AND bb.postings IS NOT NULL
        |        THEN ',' ELSE '' END, COALESCE(bb.postings, '')) AS postings
        |  FROM (SELECT * FROM seg WHERE in_a) a
        |  FULL OUTER JOIN (SELECT * FROM seg WHERE NOT in_a) bb
        |    USING (term)),
        |mk AS (SELECT term, df, ttf, postings FROM merged WHERE df >= 5),
        |full_ AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS df,
        |    CAST(SUM(tf) AS BIGINT) AS ttf,
        |    array_to_string(list(doc_id ORDER BY doc_id), ',') AS postings
        |  FROM tf GROUP BY term HAVING COUNT(*) >= 5),
        |dm AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        |    CAST(bit_xor(h) AS BIGINT) AS xor_hash FROM
        |  (SELECT $ph AS h FROM mk)),
        |df_ AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_terms,
        |    CAST(bit_xor(h) AS BIGINT) AS xor_hash FROM
        |  (SELECT $ph AS h FROM full_))
        |SELECT dm.n_terms AS merged_terms, df_.n_terms AS full_terms,
        |  dm.xor_hash AS merged_hash, df_.xor_hash AS full_hash,
        |  dm.n_terms = df_.n_terms AND dm.xor_hash = df_.xor_hash
        |    AS merge_law_holds
        |FROM dm, df_"""
    }) { (s, dir) =>
      import s.implicits._
      val docs = T(s, dir, "documents")
      val mid = docs.agg(
        expr("(MIN(doc_id) + MAX(doc_id)) div 2").as("mid"))
      val tf = docs.crossJoin(broadcast(mid))
        .select($"doc_id", ($"doc_id" <= $"mid").as("in_a"),
          explode(split($"text", " ")).as("term"))
        .filter($"term" =!= "")
        .groupBy($"term", $"doc_id", $"in_a")
        .agg(count(lit(1)).as("tf"))
        .transform(graft.CacheScope.cached) // segments + the full build
      def seg(df0: DataFrame): DataFrame = df0
        .groupBy($"term")
        .agg(count(lit(1)).as("df"), sum($"tf").as("ttf"),
          array_join(sort_array(collect_list($"doc_id")), ",").as("postings"))
      val a = seg(tf.filter($"in_a"))
      val b = seg(tf.filter(!$"in_a"))
      val merged = a.withColumnRenamed("df", "dfa")
        .withColumnRenamed("ttf", "ttfa").withColumnRenamed("postings", "pa")
        .join(b.withColumnRenamed("df", "dfb")
          .withColumnRenamed("ttf", "ttfb")
          .withColumnRenamed("postings", "pb"), Seq("term"), "full_outer")
        .select($"term",
          (coalesce($"dfa", lit(0L)) + coalesce($"dfb", lit(0L))).as("df"),
          (coalesce($"ttfa", lit(0L)) + coalesce($"ttfb", lit(0L))).as("ttf"),
          concat(coalesce($"pa", lit("")),
            when($"pa".isNotNull && $"pb".isNotNull, ",").otherwise(""),
            coalesce($"pb", lit(""))).as("postings"))
        .filter($"df" >= 5)
      val full = seg(tf).filter($"df" >= 5)
      def digest(df0: DataFrame, nc: String, hc: String): DataFrame = df0
        .select(expr("graft_polyhash(concat_ws('|', term, df, ttf, " +
          "postings))").as("h"))
        .agg(count(lit(1)).as(nc), expr("bit_xor(h)").as(hc))
      digest(merged, "merged_terms", "merged_hash")
        .crossJoin(digest(full, "full_terms", "full_hash"))
        .withColumn("merge_law_holds",
          $"merged_terms" === $"full_terms" &&
            $"merged_hash" === $"full_hash")
    },

    q("q396_incremental_bm25_idf", {
      val sp = graft.functions.TextHash.splitCaseDuck("doc_id")
      val idfOld = graft.ColFns.detMlnSql("2*no - 2*df_old + 1", "2*df_old + 1")
      val idfNew = graft.ColFns.detMlnSql("2*nn - 2*df_new + 1", "2*df_new + 1")
      s"""WITH d AS (SELECT doc_id, $sp AS sp, string_split(text, ' ') AS w
         |  FROM documents),
         |tf AS (SELECT doc_id, sp, unnest(w) AS tok FROM d),
         |dfo AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_old
         |  FROM tf WHERE sp <> 'test' GROUP BY tok),
         |dfd AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df_d
         |  FROM tf WHERE sp = 'test' GROUP BY tok),
         |ns AS (SELECT
         |    CAST(COUNT(DISTINCT CASE WHEN sp <> 'test' THEN doc_id END)
         |      AS BIGINT) AS no,
         |    CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS nn FROM tf),
         |m AS (SELECT COALESCE(o.tok, dx.tok) AS term,
         |    COALESCE(o.df_old, 0) AS df_old,
         |    COALESCE(o.df_old, 0) + COALESCE(dx.df_d, 0) AS df_new
         |  FROM dfo o FULL OUTER JOIN dfd dx ON dx.tok = o.tok),
         |sm AS (SELECT CAST(SUM(CASE WHEN df_old = 0 THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_new_terms,
         |    CAST(COUNT(*) AS BIGINT) AS n_terms FROM m),
         |sc AS (SELECT term, df_old, df_new, no, nn,
         |    $idfOld AS idf_old_micro, $idfNew AS idf_new_micro
         |  FROM m, ns WHERE df_old > 0)
         |SELECT term, df_old, df_new, idf_old_micro, idf_new_micro,
         |  idf_new_micro - idf_old_micro AS delta_micro,
         |  sm.n_new_terms, sm.n_terms
         |FROM sc, sm
         |ORDER BY ABS(idf_new_micro - idf_old_micro) DESC, term LIMIT 20"""
    }) { (s, dir) =>
      import s.implicits._
      // Incremental BM25 index maintenance — the retrieval member of the
      // delta-update triad (q376 IVF centroids, q385 minhash bands): a
      // delta batch (the md5 'test' slice) lands on a PERSISTED postings
      // index, document frequencies merge by a term-keyed outer join of
      // old-df and delta-df (the corpus is never re-tokenized), and the
      // idf column — the only index-WIDE statistic BM25 keeps — is
      // recomputed on the |vocab|-sized table. The readout is what an
      // index operator actually monitors after a merge: the 20 terms whose
      // idf moved most (stale idf is the classic incremental-index bug —
      // scores drift until a rebuild), plus how many brand-new vocabulary
      // terms the delta introduced. idf stays the exact q169 rational
      // through detMln, so old/new/delta are all integer micro.
      val sp = graft.functions.TextHash.splitCaseSpark("doc_id")
      val tf = T(s, dir, "documents")
        .select($"doc_id", expr(sp).as("sp"),
          explode(split($"text", " ")).as("tok"))
        .transform(graft.CacheScope.cached) // old df + delta df + counts
      val dfo = tf.filter($"sp" =!= "test")
        .groupBy($"tok").agg(countDistinct($"doc_id").as("df_old"))
      val dfd = tf.filter($"sp" === "test")
        .groupBy($"tok").agg(countDistinct($"doc_id").as("df_d"))
      val ns = tf.agg(
        countDistinct(when($"sp" =!= "test", $"doc_id")).as("no"),
        countDistinct($"doc_id").as("nn"))
      val m = dfo.join(dfd, Seq("tok"), "full_outer")
        .select($"tok".as("term"),
          coalesce($"df_old", lit(0L)).as("df_old"),
          (coalesce($"df_old", lit(0L)) + coalesce($"df_d", lit(0L)))
            .as("df_new"))
        .transform(graft.CacheScope.cached) // summary + scored share it
      val sm = m.agg(
        sum(when($"df_old" === 0, 1L).otherwise(0L)).as("n_new_terms"),
        count(lit(1)).as("n_terms"))
      m.filter($"df_old" > 0)
        .crossJoin(broadcast(ns))
        .withColumn("idf_old_micro", graft.ColFns.detMln(
          lit(2) * $"no" - lit(2) * $"df_old" + 1, lit(2) * $"df_old" + 1))
        .withColumn("idf_new_micro", graft.ColFns.detMln(
          lit(2) * $"nn" - lit(2) * $"df_new" + 1, lit(2) * $"df_new" + 1))
        .withColumn("delta_micro", $"idf_new_micro" - $"idf_old_micro")
        .crossJoin(broadcast(sm))
        .select($"term", $"df_old", $"df_new", $"idf_old_micro",
          $"idf_new_micro", $"delta_micro", $"n_new_terms", $"n_terms")
        .orderBy(abs($"delta_micro").desc, $"term")
        .limit(20)
    },
  )
}
