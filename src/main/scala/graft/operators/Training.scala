package graft.operators

import graft.ColFns.{detExpMicro, detExpMicroSql, detMln, detMlnInt, detMlnIntSql, detMlnSql}
import graft.QueryDef.q
import graft.functions.TextHash.duckPolyHash
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-mix and data-selection operators — the decisions a pretraining /
  * post-training data team makes AFTER curation: how much of each language
  * to sample (alpha-temperature mixing, mT5/XLM-R style), which behavioral
  * preferences the event stream implies (Bradley-Terry), what a source
  * contributes to corpus diversity (leave-one-out ablation), which examples
  * cover the embedding space (k-center coreset), how a span-corruption
  * objective reshapes token budgets (T5 accounting), and where to set a
  * quality gate with a finite-sample guarantee (split conformal). The
  * reference delegates every such computation to consumer handlers
  * (`/root/reference/lib/consumer.ex:283-299`); the engine owns them as
  * first-class, oracle-checked operators.
  *
  * Numeric discipline: counts stay BIGINT; every ln/exp/pow runs through
  * ColFns.detLn/detExpMicro (fixed IEEE programs — bit-identical across
  * engines, no libm); every division is a floor DIV on non-negative
  * operands so Spark's truncating `div` and DuckDB's flooring `//` agree.
  */
object Training {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  val defs: Seq[QueryDef] = Seq(

    q("q364_alpha_mixture",
      // Alpha-temperature multinomial mixing weights (the mT5/XLM-R
      // p_l ∝ n_l^0.7 rule): per-language token counts, the 0.7-power via
      // the deterministic micro-log/exp pair (n^0.7 = exp(0.7·ln n) with
      // the exponent floored in integer micro units), weights re-floored
      // to micro, and the shares + a 10M-token budget allocation as floor
      // divisions of exact integers. The only corpus-sized work is the
      // per-language token count; everything after runs on |langs| rows.
      // At 100 TB the weight*budget products widen through HUGEINT /
      // DECIMAL(38,0) (q264's pattern) — at fixture scale they fit BIGINT
      // with >400x headroom.
      s"""WITH tk AS (SELECT lang,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS nt
         |  FROM documents),
         |n AS (SELECT lang, CAST(SUM(nt) AS BIGINT) AS n_tokens
         |  FROM tk GROUP BY lang),
         |w0 AS (SELECT lang, n_tokens,
         |    (7 * ${detMlnIntSql("n_tokens")}) // 10 AS sc FROM n),
         |w AS (SELECT lang, n_tokens,
         |    CAST(FLOOR(${detExpMicroSql("sc")}
         |      * 1000000 + 0.5) AS BIGINT) AS weight_micro
         |  FROM w0),
         |t AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS tot FROM w)
         |SELECT lang, n_tokens, weight_micro,
         |  (weight_micro * 1000000) // tot AS share_ppm,
         |  (weight_micro * 10000000) // tot AS alloc_10m
         |FROM w, t ORDER BY lang""") { (s, dir) =>
      import s.implicits._
      val n = T(s, dir, "documents")
        .select($"lang", size(split($"text", " ")).cast("long").as("nt"))
        .groupBy($"lang").agg(sum($"nt").as("n_tokens"))
      // (7·mln)/10 via double division then truncation — exact-equal to the
      // oracle's integer // for non-negative operands (the 0.1 gap to the
      // next integer dwarfs the 1e-16 division rounding). The micro-log is
      // STAGED as its own cached projection before feeding the software
      // exp: detExpMicro references its argument ~20 times, and inlining
      // the (large) detMln tree at every occurrence multiplies the plan to
      // megabytes of codegen (the round-9 q364 8s lesson — tree size, not
      // row count, was the cost on a 5-row table).
      val w0 = n.select($"lang", $"n_tokens",
          ((detMlnInt($"n_tokens") * 7) / 10).cast("long").as("sc"))
        .transform(graft.CacheScope.cached) // projection barrier (see above)
      val w = w0.select($"lang", $"n_tokens",
        floor(detExpMicro($"sc")
          * lit(1000000.0d) + lit(0.5d)).cast("long").as("weight_micro"))
        .transform(graft.CacheScope.cached) // totals + shares share the scan
      val t = w.agg(sum($"weight_micro").as("tot"))
      w.crossJoin(broadcast(t))
        .select($"lang", $"n_tokens", $"weight_micro",
          expr("(weight_micro * 1000000) div tot").as("share_ppm"),
          expr("(weight_micro * 10000000) div tot").as("alloc_10m"))
        .orderBy($"lang")
    },

    q("q365_bradley_terry", {
      def iter(i: Int, p: String): String =
        s"""t$i AS (SELECT p.i, (p.n_sm * 1000000000000) // (pa.pi + pb.pi) AS t
           |  FROM pairs p JOIN $p pa ON pa.it = p.i JOIN $p pb ON pb.it = p.j),
           |s$i AS (SELECT i, CAST(SUM(t) AS BIGINT) AS st FROM t$i GROUP BY i),
           |u$i AS (SELECT w.i, (w.wsum * 1000000000000) // s.st AS pu
           |  FROM tot w JOIN s$i s ON s.i = w.i),
           |ns$i AS (SELECT CAST(SUM(pu) AS BIGINT) AS ns FROM u$i),
           |p$i AS (SELECT u.i AS it, (u.pu * k.kk * 1000000) // n.ns AS pi
           |  FROM u$i u, ns$i n, k)"""
      // Bradley-Terry preference strengths over the event-type transition
      // graph (Hunter 2004 MM, 3 unrolled iterations) — the
      // pairwise-preference fit post-training teams run on comparison data;
      // here each consecutive same-user transition A->B votes "B over A".
      // Everything after the one user-keyed transition window runs on the
      // |types|^2 pair table (bounded). The MM update is all-integer: pi
      // lives in micro units, each term (n_ij·1e12)//(pi_i+pi_j) and each
      // update/normalization is a floor DIV on non-negative operands, so
      // three iterations stay bit-identical across engines (no float sums
      // whose order could drift). Add-one virtual comparisons regularize
      // zero-win types (the standard BT prior). At 100 TB the 1e12-scaled
      // products widen through HUGEINT/DECIMAL(38,0).
      s"""WITH tr AS (SELECT user_id,
         |    LAG(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev,
         |    event_type AS nxt
         |  FROM events),
         |wm AS (SELECT nxt AS wi, prev AS lo, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM tr WHERE prev IS NOT NULL AND prev <> nxt GROUP BY 1, 2),
         |items AS (SELECT DISTINCT event_type AS it FROM events),
         |k AS (SELECT CAST(COUNT(*) AS BIGINT) AS kk FROM items),
         |pairs AS (SELECT a.it AS i, b.it AS j,
         |    COALESCE(w1.w, 0) + 1 AS win_sm,
         |    COALESCE(w1.w, 0) + COALESCE(w2.w, 0) + 2 AS n_sm
         |  FROM items a JOIN items b ON a.it <> b.it
         |  LEFT JOIN wm w1 ON w1.wi = a.it AND w1.lo = b.it
         |  LEFT JOIN wm w2 ON w2.wi = b.it AND w2.lo = a.it),
         |tot AS (SELECT i, CAST(SUM(win_sm) AS BIGINT) AS wsum,
         |    CAST(SUM(win_sm - 1) AS BIGINT) AS wins_raw,
         |    CAST(SUM(n_sm - 2) AS BIGINT) AS comps_raw
         |  FROM pairs GROUP BY i),
         |p0 AS (SELECT it, CAST(1000000 AS BIGINT) AS pi FROM items),
         |${iter(1, "p0").stripMargin},
         |${iter(2, "p1").stripMargin},
         |${iter(3, "p2").stripMargin}
         |SELECT t.i AS event_type, t.wins_raw AS wins,
         |  t.comps_raw AS comparisons, p.pi AS bt_micro,
         |  CAST(ROW_NUMBER() OVER (ORDER BY p.pi DESC, t.i) AS BIGINT)
         |    AS rank
         |FROM tot t JOIN p3 p ON p.it = t.i ORDER BY event_type"""
    }) { (s, dir) =>
      import s.implicits._
      // The DISTRIBUTED work is the user-keyed transition window and the
      // pairwise-win aggregation; what comes back to the driver is the
      // bounded |types|^2 sufficient-statistics table (the event-type
      // vocabulary is bounded, q119's counter-budget argument), and the MM
      // iterations run as exact driver-side Long arithmetic — the standard
      // shape for fitting a bounded-parameter model after a distributed
      // statistics pass (q142's centroids, q229's per-round scalars). The
      // first all-DataFrame formulation spent ~8 s scheduling ~15 tiny
      // broadcast stages for 25 rows of arithmetic.
      val ev = T(s, dir, "events")
      val byUser = Window.partitionBy($"user_id").orderBy($"ts", $"event_id")
      val wm = ev.select($"user_id",
          lag($"event_type", 1).over(byUser).as("prev"),
          $"event_type".as("nxt"))
        .filter($"prev".isNotNull && $"prev" =!= $"nxt")
        .groupBy($"nxt".as("wi"), $"prev".as("lo"))
        .agg(count(lit(1)).as("w"))
        .collect().map(r => (r.getString(0), r.getString(1)) -> r.getLong(2))
        .toMap
      val items = ev.select($"event_type").distinct()
        .collect().map(_.getString(0)).sorted
      val kk = items.length.toLong
      def w(i: String, j: String): Long = wm.getOrElse((i, j), 0L)
      // floor DIV on non-negative Longs == DuckDB's // on the same operands
      val winSm = (for { i <- items; j <- items if i != j }
        yield (i, j) -> (w(i, j) + 1L)).toMap
      val nSm = (for { i <- items; j <- items if i != j }
        yield (i, j) -> (w(i, j) + w(j, i) + 2L)).toMap
      val wsum = items.map(i =>
        i -> items.filter(_ != i).map(j => winSm((i, j))).sum).toMap
      var pi = items.map(_ -> 1000000L).toMap
      for (_ <- 1 to 3) {
        val st = items.map(i => i -> items.filter(_ != i)
          .map(j => nSm((i, j)) * 1000000000000L / (pi(i) + pi(j))).sum).toMap
        val pu = items.map(i => i -> wsum(i) * 1000000000000L / st(i)).toMap
        val ns = items.map(pu).sum
        pi = items.map(i => i -> pu(i) * kk * 1000000L / ns).toMap
      }
      val ranked = items.sortBy(i => (-pi(i), i)).zipWithIndex
        .map { case (i, r) => i -> (r + 1L) }.toMap
      items.map { i =>
        (i, items.filter(_ != i).map(j => w(i, j)).sum,
          items.filter(_ != i).map(j => nSm((i, j)) - 2L).sum,
          pi(i), ranked(i))
      }.toSeq
        .toDF("event_type", "wins", "comparisons", "bt_micro", "rank")
        .orderBy($"event_type")
    },

    q("q366_source_ablation", {
      val xlx = (c: String) =>
        s"(CASE WHEN $c = 0 THEN 0 ELSE $c * ${detMlnIntSql(c)} END)"
      // Leave-one-source-out ablation of corpus language diversity — the
      // data-valuation readout ("what does dropping this feed cost?") that
      // would need |sources| corpus rescans done naively. Here ONE
      // (source x lang) token aggregation feeds every ablation by group
      // subtraction: remaining-language entropy for "corpus minus s" is
      // recomputed from (T_l - T_sl) on the bounded grid, with
      // H = ln T - sum(T_l·ln T_l)/T in exact micro integers
      // (ColFns.detMln software ln; the closing division a floor DIV on
      // non-negative operands). delta > 0 means removing the source
      // INCREASES diversity (it was skewing the mix).
      s"""WITH sl AS (SELECT source, lang,
         |    CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS t
         |  FROM documents GROUP BY source, lang),
         |lt AS (SELECT lang, CAST(SUM(t) AS BIGINT) AS tl FROM sl
         |  GROUP BY lang),
         |tt AS (SELECT CAST(SUM(t) AS BIGINT) AS tall FROM sl),
         |h0 AS (SELECT ${detMlnIntSql("tall")}
         |    - (SELECT CAST(SUM(${xlx("tl")}) AS BIGINT) FROM lt) // tall
         |    AS h_micro FROM tt),
         |st AS (SELECT source, CAST(SUM(t) AS BIGINT) AS ts FROM sl
         |  GROUP BY source),
         |sd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS docs FROM documents
         |  GROUP BY source),
         |rem AS (SELECT s.source, l.lang, l.tl - COALESCE(x.t, 0) AS tr
         |  FROM (SELECT DISTINCT source FROM sl) s
         |  CROSS JOIN lt l
         |  LEFT JOIN sl x ON x.source = s.source AND x.lang = l.lang),
         |hs AS (SELECT r.source,
         |    CAST(SUM(${xlx("r.tr")}) AS BIGINT) AS sxlx,
         |    CAST(SUM(r.tr) AS BIGINT) AS trem
         |  FROM rem r GROUP BY r.source),
         |hs2 AS (SELECT source, sxlx, trem,
         |    ${detMlnIntSql("trem")} - sxlx // trem AS h_rem FROM hs)
         |SELECT h.source, d.docs AS docs_removed, s.ts AS tokens_removed,
         |  h.trem AS tokens_remaining,
         |  h.h_rem AS entropy_remaining_micro,
         |  h.h_rem - h0.h_micro AS entropy_delta_micro
         |FROM hs2 h JOIN st s ON s.source = h.source
         |JOIN sd d ON d.source = h.source, h0
         |ORDER BY h.source"""
    }) { (s, dir) =>
      import s.implicits._
      def xlxC(c: org.apache.spark.sql.Column) =
        when(c === 0L, 0L).otherwise(c * detMlnInt(c))
      val sl = T(s, dir, "documents")
        .groupBy($"source", $"lang")
        .agg(sum(size(split($"text", " ")).cast("long")).as("t"))
        .transform(graft.CacheScope.cached) // totals + grid + ablations
      val lt = sl.groupBy($"lang").agg(sum($"t").as("tl"))
        .transform(graft.CacheScope.cached)
      val h0 = sl.agg(sum($"t").as("tall"))
        .crossJoin(broadcast(lt.agg(sum(xlxC($"tl")).as("sx"))))
        .select((detMlnInt($"tall") - expr("sx div tall")).as("h_micro"))
      val st = sl.groupBy($"source").agg(sum($"t").as("ts"))
      val sd = T(s, dir, "documents").groupBy($"source")
        .agg(count(lit(1)).as("docs"))
      val hs = sl.select($"source").distinct()
        .crossJoin(broadcast(lt))
        .join(sl.select($"source", $"lang", $"t"), Seq("source", "lang"), "left")
        .select($"source", ($"tl" - coalesce($"t", lit(0L))).as("tr"))
        .groupBy($"source")
        .agg(sum(xlxC($"tr")).as("sxlx"), sum($"tr").as("trem"))
      hs.join(st, "source").join(sd, "source")
        .crossJoin(broadcast(h0))
        .select($"source", $"docs".as("docs_removed"),
          $"ts".as("tokens_removed"), $"trem".as("tokens_remaining"),
          (detMlnInt($"trem") - expr("sxlx div trem"))
            .as("entropy_remaining_micro"),
          (detMlnInt($"trem") - expr("sxlx div trem") - $"h_micro")
            .as("entropy_delta_micro"))
        .orderBy($"source")
    },

    q("q367_kcenter_coreset", {
      val sq = (a: String, b: String) =>
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(list_zip($a, $b), " +
          s"z -> (z[1] - z[2]) * (z[1] - z[2]))), (acc, x) -> acc + x)"
      // Greedy k-center coreset selection (Gonzalez 1985) over the
      // int8-quantized embeddings — the diversity-first data-selection
      // pass (pick examples that COVER the space, the complement of
      // similarity dedup): seed with vec_id 0, then 3 unrolled farthest-
      // point picks; each pick is one broadcast of the chosen centers, a
      // map-side integer min-distance (q142's shifted-int8 scheme makes
      // every distance exact BIGINT), and one TakeOrderedAndProject argmax
      // — never a pairwise join. The final row reports the 4-center
      // coverage radius (the k-center objective, and the 2-approximation
      // certificate). Scale: k broadcasts of <=k vectors + k linear scans.
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |qz AS (SELECT vec_id, list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5)
         |        AS BIGINT) + 127) AS qv
         |  FROM embeddings, m),
         |c0 AS (SELECT qv AS cv FROM qz WHERE vec_id = 0),
         |d1 AS (SELECT v.vec_id, ${sq("v.qv", "c0.cv")} AS d
         |  FROM qz v, c0),
         |p1 AS (SELECT vec_id, d FROM d1 ORDER BY d DESC, vec_id LIMIT 1),
         |c1 AS (SELECT qv AS cv FROM qz WHERE vec_id = (SELECT vec_id FROM p1)),
         |d2 AS (SELECT d1.vec_id, least(d1.d, ${sq("v.qv", "c1.cv")}) AS d
         |  FROM d1 JOIN qz v ON v.vec_id = d1.vec_id, c1),
         |p2 AS (SELECT vec_id, d FROM d2 ORDER BY d DESC, vec_id LIMIT 1),
         |c2 AS (SELECT qv AS cv FROM qz WHERE vec_id = (SELECT vec_id FROM p2)),
         |d3 AS (SELECT d2.vec_id, least(d2.d, ${sq("v.qv", "c2.cv")}) AS d
         |  FROM d2 JOIN qz v ON v.vec_id = d2.vec_id, c2),
         |p3 AS (SELECT vec_id, d FROM d3 ORDER BY d DESC, vec_id LIMIT 1),
         |c3 AS (SELECT qv AS cv FROM qz WHERE vec_id = (SELECT vec_id FROM p3)),
         |d4 AS (SELECT d3.vec_id, least(d3.d, ${sq("v.qv", "c3.cv")}) AS d
         |  FROM d3 JOIN qz v ON v.vec_id = d3.vec_id, c3),
         |cov AS (SELECT MAX(d) AS r FROM d4)
         |SELECT * FROM (
         |  SELECT CAST(0 AS BIGINT) AS pick_no, CAST(0 AS BIGINT) AS vec_id,
         |    CAST(0 AS BIGINT) AS dist
         |  UNION ALL SELECT 1, vec_id, d FROM p1
         |  UNION ALL SELECT 2, vec_id, d FROM p2
         |  UNION ALL SELECT 3, vec_id, d FROM p3
         |  UNION ALL SELECT 4, -1, r FROM cov)
         |ORDER BY pick_no"""
    }) { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127)")
          .as("qv"))
        .transform(graft.CacheScope.cached) // 4 passes share the quantization
      val c0 = qz.filter($"vec_id" === 0).select($"qv".as("cv"))
      val d1 = qz.crossJoin(broadcast(c0))
        .select($"vec_id", $"qv", expr("graft_sqdisti(qv, cv)").as("d"))
        .transform(graft.CacheScope.cached)
      def pick(d: DataFrame): DataFrame =
        d.orderBy($"d".desc, $"vec_id".asc).limit(1).select($"vec_id", $"d")
      def refine(d: DataFrame, p: DataFrame): DataFrame =
        d.crossJoin(broadcast(
            qz.join(p.select($"vec_id"), "vec_id").select($"qv".as("cv"))))
          .select($"vec_id", $"qv",
            least($"d", expr("graft_sqdisti(qv, cv)")).as("d"))
          .transform(graft.CacheScope.cached)
      val p1 = pick(d1)
      val d2 = refine(d1, p1)
      val p2 = pick(d2)
      val d3 = refine(d2, p2)
      val p3 = pick(d3)
      val d4 = refine(d3, p3)
      val cov = d4.agg(max($"d").as("r"))
      Seq((0L, 0L, 0L)).toDF("pick_no", "vec_id", "dist")
        .unionAll(p1.select(lit(1L), $"vec_id", $"d"))
        .unionAll(p2.select(lit(2L), $"vec_id", $"d"))
        .unionAll(p3.select(lit(3L), $"vec_id", $"d"))
        .unionAll(cov.select(lit(4L), lit(-1L), $"r"))
        .orderBy($"pick_no")
    },

    q("q368_span_corruption", {
      val keyDuck = graft.functions.TextHash.duckPolyHash(
        "CAST(doc_id AS VARCHAR) || ':' || CAST(blk AS VARCHAR)")
      // T5-style span-corruption accounting: fixed 5-token blocks are
      // masked when a deterministic hash of (doc_id, block) clears a 15%
      // rate, and the query reports exactly how the objective reshapes
      // token budgets per doc — masked tokens, span count, encoder input
      // length (unmasked + one sentinel per span) and decoder target
      // length (masked + sentinels + EOS). The hash-block rule is the
      // distributed version of the sequential span sampler: no RNG state,
      // no order dependence, identical masks on any partitioning or
      // engine, and re-runs are reproducible (the property a data loader
      // actually needs). Entirely map-side: one split + one bounded
      // explode per doc, no shuffle except the final ORDER BY.
      s"""WITH d AS (SELECT doc_id,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
         |  FROM documents),
         |b AS (SELECT doc_id, n, CAST(unnest(range((n + 4) // 5)) AS BIGINT)
         |    AS blk FROM d),
         |mk AS (SELECT doc_id, n, blk,
         |    CASE WHEN ($keyDuck) % 1000 < 150
         |      THEN least(5, n - blk * 5) ELSE 0 END AS masked
         |  FROM b),
         |agg AS (SELECT doc_id, MAX(n) AS n_tokens,
         |    CAST(SUM(CASE WHEN masked > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_spans,
         |    CAST(SUM(masked) AS BIGINT) AS n_masked
         |  FROM mk GROUP BY doc_id)
         |SELECT doc_id, n_tokens, n_spans, n_masked,
         |  n_tokens - n_masked + n_spans AS input_len,
         |  n_masked + n_spans + 1 AS target_len,
         |  (n_masked * 1000000) // n_tokens AS mask_ratio_ppm
         |FROM agg ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      val d = T(s, dir, "documents")
        .select($"doc_id", size(split($"text", " ")).cast("long").as("n"))
      val mk = d
        .select($"doc_id", $"n",
          explode(expr("sequence(0, (n + 4) div 5 - 1)")).as("blk"))
        .select($"doc_id", $"n", $"blk",
          when(expr("graft_polyhash(CAST(doc_id AS STRING) || ':' || " +
            "CAST(blk AS STRING)) % 1000") < 150,
            least(lit(5L), $"n" - $"blk" * 5)).otherwise(0L).as("masked"))
      mk.groupBy($"doc_id")
        .agg(max($"n").as("n_tokens"),
          sum(when($"masked" > 0, 1L).otherwise(0L)).as("n_spans"),
          sum($"masked").as("n_masked"))
        .select($"doc_id", $"n_tokens", $"n_spans", $"n_masked",
          ($"n_tokens" - $"n_masked" + $"n_spans").as("input_len"),
          ($"n_masked" + $"n_spans" + 1).as("target_len"),
          expr("(n_masked * 1000000) div n_tokens").as("mask_ratio_ppm"))
        .orderBy($"doc_id")
    },

    q("q369_conformal_threshold",
      // Split-conformal quality gate with a finite-sample guarantee
      // (Vovk et al.): a 20% md5-keyed calibration split per language
      // yields the ceil(0.9·(n+1))-th smallest mean-chars-per-token score
      // as the 90% threshold; the evaluation split then reports realized
      // keep-rates. Scores are exact integer micro units, the order
      // statistic comes from the COMPACTED per-(lang, score) domain via a
      // cumulative-count window (bounded, never corpus-sized — the q211
      // rank discipline), and the split is engine-agnostic md5 hex
      // (q123's trick). A calibration split smaller than the rank (tiny
      // languages at tiny SF) yields a NULL threshold = keep-everything,
      // stated rather than silently clamped.
      s"""WITH sc AS (SELECT doc_id, lang,
         |    (n_chars * 1000000) // CAST(len(string_split(text, ' '))
         |      AS BIGINT) AS s,
         |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '33'
         |      THEN 1 ELSE 0 END AS is_cal
         |  FROM documents),
         |cal AS (SELECT lang, s, CAST(COUNT(*) AS BIGINT) AS cnt FROM sc
         |  WHERE is_cal = 1 GROUP BY lang, s),
         |nc AS (SELECT lang, CAST(SUM(cnt) AS BIGINT) AS n_cal FROM cal
         |  GROUP BY lang),
         |rk AS (SELECT lang, s, SUM(cnt) OVER (PARTITION BY lang
         |    ORDER BY s) AS cum FROM cal),
         |kq AS (SELECT lang, n_cal,
         |    (9 * (n_cal + 1) + 9) // 10 AS k_rank FROM nc),
         |th AS (SELECT k.lang, k.n_cal, k.k_rank,
         |    MIN(CASE WHEN r.cum >= k.k_rank THEN r.s END) AS threshold_micro
         |  FROM kq k LEFT JOIN rk r ON r.lang = k.lang
         |  GROUP BY k.lang, k.n_cal, k.k_rank),
         |langs AS (SELECT DISTINCT lang FROM sc),
         |thf AS (SELECT l.lang, COALESCE(t.n_cal, 0) AS n_cal,
         |    COALESCE(t.k_rank, 1) AS k_rank, t.threshold_micro
         |  FROM langs l LEFT JOIN th t ON t.lang = l.lang),
         |ev AS (SELECT t.lang, t.n_cal, t.k_rank, t.threshold_micro,
         |    CAST(COUNT(*) AS BIGINT) AS n_eval,
         |    CAST(SUM(CASE WHEN t.threshold_micro IS NULL
         |      OR e.s <= t.threshold_micro THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_kept
         |  FROM thf t JOIN sc e ON e.lang = t.lang AND e.is_cal = 0
         |  GROUP BY 1, 2, 3, 4)
         |SELECT lang, n_cal AS n_calib, k_rank, threshold_micro, n_eval,
         |  n_kept, (n_kept * 1000000) // n_eval AS kept_ppm
         |FROM ev ORDER BY lang""") { (s, dir) =>
      import s.implicits._
      val sc = T(s, dir, "documents")
        .select($"doc_id", $"lang",
          expr("(n_chars * 1000000) div CAST(size(split(text, ' ')) AS BIGINT)")
            .as("s"),
          when(expr(
            "substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 2)")
            < "33", 1L).otherwise(0L).as("is_cal"))
        .transform(graft.CacheScope.cached) // calibration + evaluation sides
      val cal = sc.filter($"is_cal" === 1)
        .groupBy($"lang", $"s").agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheScope.cached)
      val nc = cal.groupBy($"lang").agg(sum($"cnt").as("n_cal"))
      val rk = cal.withColumn("cum",
        sum($"cnt").over(Window.partitionBy($"lang").orderBy($"s")))
      val kq = nc.select($"lang", $"n_cal",
        expr("(9 * (n_cal + 1) + 9) div 10").as("k_rank"))
      val th = kq.join(rk, Seq("lang"), "left")
        .groupBy($"lang", $"n_cal", $"k_rank")
        .agg(min(when($"cum" >= $"k_rank", $"s")).as("threshold_micro"))
      val thf = sc.select($"lang").distinct()
        .join(broadcast(th), Seq("lang"), "left")
        .select($"lang", coalesce($"n_cal", lit(0L)).as("n_cal"),
          coalesce($"k_rank", lit(1L)).as("k_rank"), $"threshold_micro")
      sc.filter($"is_cal" === 0)
        .join(broadcast(thf), "lang")
        .groupBy($"lang", $"n_cal", $"k_rank", $"threshold_micro")
        .agg(count(lit(1)).as("n_eval"),
          sum(when($"threshold_micro".isNull
            || $"s" <= $"threshold_micro", 1L).otherwise(0L)).as("n_kept"))
        .select($"lang", $"n_cal".as("n_calib"), $"k_rank",
          $"threshold_micro", $"n_eval", $"n_kept",
          expr("(n_kept * 1000000) div n_eval").as("kept_ppm"))
        .orderBy($"lang")
    },

    q("q382_data_budget_epochs", {
      val expSql = detExpMicroSql("m")
      s"""WITH d AS (SELECT source, lower(text) AS nt,
         |    CAST(len(string_split(text, ' ')) AS BIGINT) AS wc
         |  FROM documents),
         |u AS (SELECT source, nt, MIN(wc) AS wc, CAST(COUNT(*) AS BIGINT) AS reps
         |  FROM d GROUP BY source, nt),
         |s AS (SELECT source, CAST(SUM(wc * reps) AS BIGINT) AS total_tokens,
         |    CAST(SUM(wc) AS BIGINT) AS unique_tokens
         |  FROM u GROUP BY source),
         |ns AS (SELECT CAST(COUNT(*) AS BIGINT) AS k FROM s),
         |a AS (SELECT s.*, (200000 // ns.k) AS alloc_tokens,
         |    ((200000 // ns.k) * 1000000) // s.unique_tokens AS epochs_micro
         |  FROM s, ns),
         |e AS (SELECT *,
         |    -(GREATEST(epochs_micro - 1000000, 0) // 15) AS m FROM a),
         |x AS (SELECT *, $expSql AS decay FROM e),
         |f AS (SELECT source, total_tokens, unique_tokens,
         |    ((total_tokens - unique_tokens) * 1000000) // total_tokens
         |      AS dup_ppm,
         |    alloc_tokens, epochs_micro,
         |    unique_tokens + CAST(FLOOR(CAST(unique_tokens * 15 AS DOUBLE)
         |      * (CAST(1 AS DOUBLE) - decay) + CAST(0.5 AS DOUBLE)) AS BIGINT)
         |      AS effective_tokens
         |  FROM x)
         |SELECT source, total_tokens, unique_tokens, dup_ppm, alloc_tokens,
         |  epochs_micro, effective_tokens,
         |  (effective_tokens * 1000000) // alloc_tokens AS util_ppm,
         |  (epochs_micro > 4000000) AS over_four_epochs
         |FROM f ORDER BY source"""
    }) { (s, dir) =>
      import s.implicits._
      // Data-constrained token budgeting (Muennighoff et al. 2023): given a
      // training budget of B tokens split uniformly across sources, how many
      // EPOCHS does each source run, and what is the repetition-discounted
      // EFFECTIVE data it contributes? Per source: unique tokens after
      // normalized exact dedup (the budget repeats unique data, not raw
      // rows; fixture has no planted raw dups so dup_ppm reads 0 — the
      // stage is load-bearing on real crawls), epochs = alloc/U in exact
      // micro units, and the diminishing-returns discount
      // D' = U + U*R*(1 - exp(-(epochs-1)/R*)) with R* = 15 — the decay
      // exp runs through the graft_detexp kernel on a STAGED micro column
      // (never nested — the standing det* rule), so both engines produce
      // the bit-identical double and one identical floor. over_four_epochs
      // is the paper's "repeating beyond ~4 epochs is near-worthless"
      // flag. Shape at 100 TB: dedup is a per-source groupBy (bucketable),
      // the rest is a |sources|-row table; the single-row source count
      // broadcasts.
      val d = T(s, dir, "documents").select($"source",
        lower($"text").as("nt"),
        expr("CAST(size(split(text, ' ')) AS BIGINT)").as("wc"))
      val u = d.groupBy($"source", $"nt")
        .agg(min($"wc").as("wc"), count(lit(1)).as("reps"))
      val src = u.groupBy($"source")
        .agg(sum($"wc" * $"reps").as("total_tokens"),
          sum($"wc").as("unique_tokens"))
      val ns = src.agg(count(lit(1)).as("k"))
      val a = src.crossJoin(broadcast(ns))
        .withColumn("alloc_tokens", expr("200000 div k"))
        .withColumn("epochs_micro",
          expr("(alloc_tokens * 1000000) div unique_tokens"))
        .withColumn("m",
          expr("-(GREATEST(epochs_micro - 1000000, 0) div 15)"))
        .withColumn("decay", detExpMicro($"m"))
        .withColumn("effective_tokens", expr(
          "unique_tokens + CAST(FLOOR(CAST(unique_tokens * 15 AS DOUBLE) * (CAST(1 AS DOUBLE) - decay) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
      a.select($"source", $"total_tokens", $"unique_tokens",
        expr("((total_tokens - unique_tokens) * 1000000) div total_tokens")
          .as("dup_ppm"),
        $"alloc_tokens", $"epochs_micro", $"effective_tokens",
        expr("(effective_tokens * 1000000) div alloc_tokens").as("util_ppm"),
        ($"epochs_micro" > 4000000L).as("over_four_epochs"))
        .orderBy($"source")
    },

    q("q386_preference_cycles",
      // Preference-transitivity audit — the annotation-quality gate run on
      // pairwise comparison data BEFORE fitting q365's Bradley-Terry: if
      // the majority-vote tournament has many cyclic triads (A>B>C>A), the
      // preferences are noisy/inconsistent and the fitted strengths mean
      // little (Kendall & Babington Smith 1940). Votes are q365's
      // transitions (A->B votes "B over A"); each unordered pair gets its
      // strict majority direction (ties drop); cyclic triads come from a
      // triple join over the DECIDED edge set — bounded by |event types|^2
      // edges, so the triple join is tiny however big the event stream —
      // and, as a self-certifying cross-check, Kendall's closed form
      // d = C(k,3) - sum C(outdeg,2) is emitted beside it (equal whenever
      // the tournament is complete, as it is here: the one corpus-sized
      // pass is the q365 transition window; everything after runs on the
      // bounded pair table).
      s"""WITH tr AS (SELECT user_id,
         |    LAG(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev,
         |    event_type AS nxt
         |  FROM events),
         |wm AS (SELECT nxt AS wi, prev AS lo, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM tr WHERE prev IS NOT NULL AND prev <> nxt GROUP BY 1, 2),
         |e AS (SELECT a.wi, a.lo FROM wm a LEFT JOIN wm b
         |    ON b.wi = a.lo AND b.lo = a.wi
         |  WHERE a.w > COALESCE(b.w, 0)),
         |k AS (SELECT CAST(COUNT(DISTINCT event_type) AS BIGINT) AS k
         |  FROM events),
         |cyc AS (SELECT CAST(COUNT(*) AS BIGINT) AS c FROM e e1
         |  JOIN e e2 ON e2.lo = e1.wi
         |  JOIN e e3 ON e3.lo = e2.wi AND e3.wi = e1.lo
         |  WHERE e1.lo < e1.wi AND e1.lo < e2.wi),
         |od AS (SELECT CAST(SUM((d*(d-1))//2) AS BIGINT) AS s
         |  FROM (SELECT wi, CAST(COUNT(*) AS BIGINT) AS d FROM e GROUP BY wi)),
         |ud AS (SELECT LEAST(wi, lo) AS a, GREATEST(wi, lo) AS b FROM e),
         |dt AS (SELECT CAST(COUNT(*) AS BIGINT) AS t FROM ud p1
         |  JOIN ud p2 ON p2.a = p1.b
         |  JOIN ud p3 ON p3.a = p1.a AND p3.b = p2.b)
         |SELECT k.k AS n_items, (k.k*(k.k-1))//2 AS n_pairs,
         |  (SELECT CAST(COUNT(*) AS BIGINT) FROM e) AS n_decided,
         |  dt.t AS decided_triples, cyc.c AS cyclic_triads,
         |  (k.k*(k.k-1)*(k.k-2))//6 - od.s AS kendall_cyclic,
         |  ((dt.t - cyc.c) * 1000000) // dt.t AS consistency_ppm
         |FROM k, cyc, od, dt""") { (s, dir) =>
      import s.implicits._
      val tr = T(s, dir, "events")
        .withColumn("prev", lag($"event_type", 1).over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
      val wm = tr.filter($"prev".isNotNull && $"prev" =!= $"event_type")
        .groupBy($"event_type".as("wi"), $"prev".as("lo"))
        .agg(count(lit(1)).as("w"))
      val e = wm.as("a").join(wm.as("b"),
          $"b.wi" === $"a.lo" && $"b.lo" === $"a.wi", "left")
        .filter($"a.w" > coalesce($"b.w", lit(0L)))
        .select($"a.wi".as("wi"), $"a.lo".as("lo"))
        .transform(graft.CacheScope.cached) // tiny: |types|^2 bound
      val k = T(s, dir, "events")
        .agg(countDistinct($"event_type").as("k"))
      val cyc = e.as("e1")
        .join(e.as("e2"), $"e2.lo" === $"e1.wi")
        .join(e.as("e3"), $"e3.lo" === $"e2.wi" && $"e3.wi" === $"e1.lo")
        .filter($"e1.lo" < $"e1.wi" && $"e1.lo" < $"e2.wi")
        .agg(count(lit(1)).as("c"))
      val od = e.groupBy($"wi").agg(count(lit(1)).as("d"))
        .agg(sum(expr("(d * (d - 1)) div 2")).as("s"))
      val ud = e.select(least($"wi", $"lo").as("a"),
        greatest($"wi", $"lo").as("b"))
      val dt = ud.as("p1")
        .join(ud.as("p2"), $"p2.a" === $"p1.b")
        .join(ud.as("p3"), $"p3.a" === $"p1.a" && $"p3.b" === $"p2.b")
        .agg(count(lit(1)).as("t"))
      val nd = e.agg(count(lit(1)).as("n_decided"))
      k.crossJoin(broadcast(cyc)).crossJoin(broadcast(od))
        .crossJoin(broadcast(dt)).crossJoin(broadcast(nd))
        .select($"k".as("n_items"),
          expr("(k * (k - 1)) div 2").as("n_pairs"),
          $"n_decided",
          $"t".as("decided_triples"), $"c".as("cyclic_triads"),
          expr("(k * (k - 1) * (k - 2)) div 6 - s").as("kendall_cyclic"),
          expr("((t - c) * 1000000) div t").as("consistency_ppm"))
    },

    q("q391_doremi_reweight", {
      val mln = detMlnSql("cnt", "n")
      val ex = detExpMicroSql("m")
      s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
         |sc AS (SELECT source, $mln AS mlp
         |  FROM toks JOIN freq USING (tok), tot),
         |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(-SUM(mlp) AS BIGINT) AS nll_sum FROM sc GROUP BY source),
         |g AS (SELECT CAST(SUM(nll_sum) AS BIGINT) // CAST(SUM(n_tokens)
         |    AS BIGINT) AS nll_corpus,
         |    CAST(SUM(n_tokens) AS BIGINT) AS n_total FROM s),
         |e AS (SELECT s.source, s.n_tokens, g.n_total,
         |    s.nll_sum // s.n_tokens AS nll_micro, g.nll_corpus,
         |    2 * GREATEST(s.nll_sum // s.n_tokens - g.nll_corpus, 0) AS m
         |  FROM s, g),
         |w AS (SELECT *, CAST(FLOOR($ex * 1000000 + 0.5) AS BIGINT)
         |    AS weight_micro FROM e),
         |tw AS (SELECT CAST(SUM(weight_micro) AS BIGINT) AS wt FROM w)
         |SELECT source, n_tokens, nll_micro, nll_corpus,
         |  (m // 2) AS excess_micro, weight_micro,
         |  (weight_micro * 1000000) // tw.wt AS share_ppm,
         |  (n_tokens * 1000000) // n_total AS token_ppm,
         |  ((weight_micro * 1000000) // tw.wt
         |    > (n_tokens * 1000000) // n_total) AS upweighted
         |FROM w, tw ORDER BY source"""
    }) { (s, dir) =>
      import s.implicits._
      // Excess-loss domain reweighting (DoReMi, Xie et al. 2023 — the
      // Group-DRO view of mixture design): domains where the reference
      // model's loss EXCEEDS the corpus-wide loss are upweighted
      // exponentially, w_d ∝ exp(eta·max(0, L_d − L)), here with the
      // corpus-trained unigram LM as the reference scorer (q136's signal,
      // eta = 2). The mT5 temperature rule (q364) keys on SIZE; this keys
      // on LOSS — the two bracket how production mixtures are actually
      // set. Determinism: per-token micro-logs (detMln) sum exactly per
      // source; the source mean, excess, and the staged exp argument are
      // floor DIVs on non-negative BIGINTs; weights return to integer
      // micro BEFORE the share division, so no float ever aggregates.
      // Scale shape = q136's: token-keyed count + join (AQE splits hot
      // tokens), then a |sources|-row table; the corpus scalar broadcasts.
      val toks = T(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("tok"))
        .transform(graft.CacheScope.cached) // vocab count + scoring join
      val freq = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n"))
      val srcS = toks.join(freq, "tok")
        .crossJoin(broadcast(tot))
        .select($"source", detMln($"cnt", $"n").as("mlp"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"), (-sum($"mlp")).as("nll_sum"))
        .transform(graft.CacheScope.cached) // corpus scalar + per-source rows
      val g = srcS.agg(
        expr("SUM(nll_sum) div SUM(n_tokens)").as("nll_corpus"),
        sum($"n_tokens").as("n_total"))
      val w = srcS.crossJoin(broadcast(g))
        .withColumn("nll_micro", expr("nll_sum div n_tokens"))
        .withColumn("m",
          expr("2 * GREATEST(nll_sum div n_tokens - nll_corpus, 0)"))
        .withColumn("weight_micro",
          floor(detExpMicro($"m") * lit(1000000.0d) + lit(0.5d)).cast("long"))
        .transform(graft.CacheScope.cached) // total + shares share the scan
      val tw = w.agg(sum($"weight_micro").as("wt"))
      w.crossJoin(broadcast(tw))
        .select($"source", $"n_tokens", $"nll_micro", $"nll_corpus",
          expr("m div 2").as("excess_micro"), $"weight_micro",
          expr("(weight_micro * 1000000) div wt").as("share_ppm"),
          expr("(n_tokens * 1000000) div n_total").as("token_ppm"),
          expr("(weight_micro * 1000000) div wt > (n_tokens * 1000000) div n_total")
            .as("upweighted"))
        .orderBy($"source")
    },

    q("q394_ess_diagnostic", {
      val mln = detMlnSql("cnt", "n")
      val ex = detExpMicroSql("m")
      s"""WITH toks AS (SELECT source, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
         |sc AS (SELECT source, $mln AS mlp
         |  FROM toks JOIN freq USING (tok), tot),
         |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(-SUM(mlp) AS BIGINT) AS nll_sum FROM sc GROUP BY source),
         |g AS (SELECT CAST(SUM(nll_sum) AS BIGINT) // CAST(SUM(n_tokens)
         |    AS BIGINT) AS nll_corpus FROM s),
         |e AS (SELECT s.source,
         |    2 * GREATEST(s.nll_sum // s.n_tokens - g.nll_corpus, 0) AS m
         |  FROM s, g),
         |w AS (SELECT source, CAST(FLOOR($ex * 1000 + 0.5) AS BIGINT)
         |    AS wm FROM e),
         |a AS (SELECT CAST(COUNT(*) AS BIGINT) AS k,
         |    CAST(SUM(wm) AS BIGINT) AS sw,
         |    CAST(SUM(wm * wm) AS BIGINT) AS sww FROM w)
         |SELECT k AS n_domains, sw AS sum_w_milli,
         |  (sw * sw * 1000) // sww AS ess_milli_domains,
         |  ((sw * sw * 1000) // sww * 1000) // k AS ess_ppm,
         |  (((sw * sw * 1000) // sww * 1000) // k < 500000)
         |    AS collapsed
         |FROM a"""
    }) { (s, dir) =>
      import s.implicits._
      // Effective sample size of an importance-weighting scheme — the
      // one-number diagnostic that tells you whether a reweighting (q391's
      // DoReMi weights here; the same readout applies to q175's DSIR
      // weights) has quietly collapsed the mixture onto a handful of
      // domains: ESS = (sum w)^2 / (sum w^2), in [1, k], and ESS/k < 0.5
      // means half the nominal diversity is gone (Kong 1992, the particle-
      // filter degeneracy test). Kish's formula is scale-invariant, so
      // integer MILLI weights feed it exactly (milli, not micro: sw^2*1000
      // must stay inside BIGINT at any plausible domain count):
      // (sw*sw*1000) // sww is ESS in milli-domains, then ppm of k. Pure
      // integer arithmetic after the staged det-exp weights; one row out.
      val toks = T(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("tok"))
        .transform(graft.CacheScope.cached)
      val freq = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n"))
      val srcS = toks.join(freq, "tok")
        .crossJoin(broadcast(tot))
        .select($"source", detMln($"cnt", $"n").as("mlp"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"), (-sum($"mlp")).as("nll_sum"))
        .transform(graft.CacheScope.cached)
      val g = srcS.agg(expr("SUM(nll_sum) div SUM(n_tokens)").as("nll_corpus"))
      val w = srcS.crossJoin(broadcast(g))
        .withColumn("m",
          expr("2 * GREATEST(nll_sum div n_tokens - nll_corpus, 0)"))
        .select(floor(detExpMicro($"m") * lit(1000.0d) + lit(0.5d))
          .cast("long").as("wm"))
      w.agg(count(lit(1)).as("k"), sum($"wm").as("sw"),
          sum($"wm" * $"wm").as("sww"))
        .select($"k".as("n_domains"), $"sw".as("sum_w_milli"),
          expr("(sw * sw * 1000) div sww").as("ess_milli_domains"),
          expr("((sw * sw * 1000) div sww * 1000) div k").as("ess_ppm"),
          expr("((sw * sw * 1000) div sww * 1000) div k < 500000")
            .as("collapsed"))
    },

    q("q397_preference_holdout", {
      val sp = graft.functions.TextHash.splitCaseDuck("user_id")
      s"""WITH tr AS (SELECT user_id, $sp AS sp,
         |    LAG(event_type) OVER (PARTITION BY user_id
         |      ORDER BY ts, event_id) AS prev,
         |    event_type AS nxt
         |  FROM events),
         |v AS (SELECT sp, prev, nxt FROM tr
         |  WHERE prev IS NOT NULL AND prev <> nxt),
         |wm AS (SELECT nxt AS wi, prev AS lo, CAST(COUNT(*) AS BIGINT) AS w
         |  FROM v WHERE sp <> 'test' GROUP BY 1, 2),
         |e AS (SELECT a.wi, a.lo FROM wm a LEFT JOIN wm b
         |    ON b.wi = a.lo AND b.lo = a.wi
         |  WHERE a.w > COALESCE(b.w, 0)),
         |t AS (SELECT prev, nxt FROM v WHERE sp = 'test'),
         |sc AS (SELECT t.prev, t.nxt,
         |    CASE WHEN ew.wi IS NOT NULL THEN 1
         |         WHEN el.wi IS NOT NULL THEN 0 END AS correct
         |  FROM t LEFT JOIN e ew ON ew.wi = t.nxt AND ew.lo = t.prev
         |         LEFT JOIN e el ON el.wi = t.prev AND el.lo = t.nxt)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_test_votes,
         |  CAST(COUNT(correct) AS BIGINT) AS n_scored,
         |  CAST(SUM(correct) AS BIGINT) AS n_correct,
         |  CAST((SUM(correct) * 1000000) // COUNT(correct) AS BIGINT)
         |    AS acc_ppm,
         |  CAST(COUNT(*) - COUNT(correct) AS BIGINT) AS n_undecided
         |FROM sc"""
    }) { (s, dir) =>
      import s.implicits._
      // Preference-model holdout accuracy — the eval a reward-model /
      // ranking team runs before trusting fitted strengths (q365) or a
      // transitivity audit (q386): fit the majority-direction tournament
      // on TRAIN users' transition votes only (user-keyed md5 split — the
      // split must key on the RATER, not the vote, or one user's habits
      // leak across the boundary), then score each TEST user's vote
      // against the trained direction. A test vote on a pair the training
      // split never decided is 'undecided' (excluded from accuracy but
      // counted — coverage is part of the readout). One corpus-sized
      // transition window; the trained edge set is |types|^2-bounded and
      // broadcast into the scoring joins.
      val sp = graft.functions.TextHash.splitCaseSpark("user_id")
      val v = T(s, dir, "events")
        .withColumn("prev", lag($"event_type", 1).over(
          Window.partitionBy($"user_id").orderBy($"ts", $"event_id")))
        .filter($"prev".isNotNull && $"prev" =!= $"event_type")
        .select(expr(sp).as("sp"), $"prev", $"event_type".as("nxt"))
        .transform(graft.CacheScope.cached) // train fit + test scoring
      val wm = v.filter($"sp" =!= "test")
        .groupBy($"nxt".as("wi"), $"prev".as("lo"))
        .agg(count(lit(1)).as("w"))
      val e = wm.as("a").join(wm.as("b"),
          $"b.wi" === $"a.lo" && $"b.lo" === $"a.wi", "left")
        .filter($"a.w" > coalesce($"b.w", lit(0L)))
        .select($"a.wi".as("wi"), $"a.lo".as("lo"))
      val t = v.filter($"sp" === "test").select($"prev", $"nxt")
      t.join(broadcast(e.as("ew")),
          $"ew.wi" === $"nxt" && $"ew.lo" === $"prev", "left")
        .join(broadcast(e.as("el")),
          $"el.wi" === $"prev" && $"el.lo" === $"nxt", "left")
        .select(when($"ew.wi".isNotNull, 1L)
          .when($"el.wi".isNotNull, 0L).as("correct"))
        .agg(count(lit(1)).as("n_test_votes"),
          count($"correct").as("n_scored"),
          sum($"correct").as("n_correct"),
          expr("(SUM(correct) * 1000000) div COUNT(correct)").as("acc_ppm"),
          (count(lit(1)) - count($"correct")).as("n_undecided"))
    },

    q("q400_mix_planner", {
      val m = graft.functions.TextHash.qualityMetricsDuck("w").mkString(", ")
      val keep = graft.functions.TextHash.QualityKeep
      val mln = detMlnSql("cnt", "n")
      val exW = detExpMicroSql("m1")
      val exD = detExpMicroSql("m2")
      s"""WITH d AS (SELECT doc_id, source, lower(text) AS nt,
         |    string_split(text, ' ') AS w FROM documents),
         |g AS (SELECT doc_id, source, nt, w FROM
         |  (SELECT doc_id, source, nt, w, $m FROM d) WHERE $keep),
         |rep AS (SELECT doc_id, source, w FROM
         |  (SELECT doc_id, source, w,
         |     MIN(doc_id) OVER (PARTITION BY nt) AS rep_id FROM g)
         |  WHERE doc_id = rep_id),
         |toks AS (SELECT source, unnest(w) AS tok FROM rep),
         |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM toks),
         |sc AS (SELECT source, $mln AS mlp
         |  FROM toks JOIN freq USING (tok), tot),
         |st AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(-SUM(mlp) AS BIGINT) AS nll_sum FROM sc GROUP BY source),
         |nd AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs_kept
         |  FROM rep GROUP BY source),
         |gg AS (SELECT CAST(SUM(nll_sum) AS BIGINT) // CAST(SUM(n_tokens)
         |    AS BIGINT) AS nll_corpus FROM st),
         |e1 AS (SELECT st.source, st.n_tokens,
         |    st.nll_sum // st.n_tokens AS nll_micro,
         |    2 * GREATEST(st.nll_sum // st.n_tokens - gg.nll_corpus, 0) AS m1
         |  FROM st, gg),
         |w1 AS (SELECT *, CAST(FLOOR($exW * 1000000 + 0.5) AS BIGINT)
         |    AS wm FROM e1),
         |tw AS (SELECT CAST(SUM(wm) AS BIGINT) AS twm FROM w1),
         |al AS (SELECT w1.source, w1.n_tokens, w1.nll_micro,
         |    (w1.wm * 1000000) // tw.twm AS share_ppm,
         |    (200000 * ((w1.wm * 1000000) // tw.twm)) // 1000000
         |      AS alloc_tokens
         |  FROM w1, tw),
         |ep AS (SELECT *,
         |    (alloc_tokens * 1000000) // n_tokens AS epochs_micro FROM al),
         |e2 AS (SELECT *,
         |    -(GREATEST(epochs_micro - 1000000, 0) // 15) AS m2 FROM ep),
         |x AS (SELECT *, $exD AS decay FROM e2)
         |SELECT x.source, nd.n_docs_kept, x.n_tokens AS release_tokens,
         |  x.nll_micro, x.share_ppm, x.alloc_tokens, x.epochs_micro,
         |  x.n_tokens + CAST(FLOOR(CAST(x.n_tokens * 15 AS DOUBLE)
         |    * (CAST(1 AS DOUBLE) - x.decay) + CAST(0.5 AS DOUBLE))
         |    AS BIGINT) AS effective_tokens
         |FROM x JOIN nd ON nd.source = x.source ORDER BY x.source"""
    }) { (s, dir) =>
      import s.implicits._
      // The composed TRAINING-MIX planner — q323 releases a corpus; this
      // plans how to TRAIN on one. One DAG through a materialized seam:
      // (1) the q129/q133 integer quality gate; (2) corpus-wide exact
      // dedup on normalized text (min-doc_id representative — the
      // release's unique data); ---- seam: the release is written to
      // parquet and read back, because the mix decision consumes a
      // RELEASE, not a lineage of views ---- (3) a unigram reference LM
      // trained on the release itself scores each source's mean NLL
      // (q391's DoReMi machinery); (4) excess-loss weights via the
      // staged det-exp; (5) a 200k-token budget allocated by weight
      // share, per-source epochs in exact micro, and the Muennighoff
      // effective-token discount (q382's decay, its own staged det-exp —
      // the two exp stages NEVER nest, per the standing det* rule). The
      // oracle states the identical chain in CTEs. Scale shape: gate +
      // dedup + LM are the established per-stage plans; everything after
      // the per-source rollup is a |sources|-row table.
      val keep = graft.functions.TextHash.QualityKeep
      // spread the single-row-group scan so the per-row gate metrics
      // parallelize (no-op on healthy layouts), and cache the gated table:
      // the dedup decision and the survivor set both read it
      val d = graft.Tables.spread(T(s, dir, "documents"))
        .select($"doc_id", $"source", lower($"text").as("nt"),
          split($"text", " ").as("w"))
      val g = d.selectExpr(Seq("doc_id", "source", "nt", "w") ++
          graft.functions.TextHash.qualityMetricsSpark("w"): _*)
        .filter(expr(keep))
        .transform(graft.CacheScope.cached)
      // exact dedup on nt as a PROXY decision (guide §8): aggregate
      // min(doc_id) over just (nt, doc_id) — map-side partial collapse,
      // no w/source payload in the exchange (the old window shuffled the
      // full row to rank it) — then attach the survivor ids back with a
      // semi-join the planner sizes itself (broadcast here, shuffled at
      // corpus scale). doc_ids are unique, so id IN reps <=> id is its
      // nt-group's minimum: identical rows survive.
      val reps = g.select($"nt", $"doc_id")
        .groupBy($"nt").agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val rep = g.join(reps, Seq("doc_id"), "left_semi")
        .select($"doc_id", $"source", $"w")
      // ---- seam: the release is MATERIALIZED and the planner reads it
      val relDir = graft.TempDirs.scratch("graft-q400-release")
      rep.write.mode("overwrite").parquet(relDir)
      val rel = s.read.parquet(relDir)
      val toks = rel.select($"source", explode($"w").as("tok"))
        .transform(graft.CacheScope.cached) // LM train + scoring
      val freq = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n"))
      val st = toks.join(freq, "tok")
        .crossJoin(broadcast(tot))
        .select($"source", detMln($"cnt", $"n").as("mlp"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_tokens"), (-sum($"mlp")).as("nll_sum"))
        .transform(graft.CacheScope.cached)
      val nd = rel.groupBy($"source").agg(count(lit(1)).as("n_docs_kept"))
      val gg = st.agg(expr("SUM(nll_sum) div SUM(n_tokens)").as("nll_corpus"))
      val w1 = st.crossJoin(broadcast(gg))
        .withColumn("nll_micro", expr("nll_sum div n_tokens"))
        .withColumn("m1",
          expr("2 * GREATEST(nll_sum div n_tokens - nll_corpus, 0)"))
        .withColumn("wm",
          floor(detExpMicro($"m1") * lit(1000000.0d) + lit(0.5d)).cast("long"))
        .transform(graft.CacheScope.cached)
      val tw = w1.agg(sum($"wm").as("twm"))
      w1.crossJoin(broadcast(tw))
        .withColumn("share_ppm", expr("(wm * 1000000) div twm"))
        .withColumn("alloc_tokens",
          expr("(200000 * ((wm * 1000000) div twm)) div 1000000"))
        .withColumn("epochs_micro",
          expr("(alloc_tokens * 1000000) div n_tokens"))
        .withColumn("m2",
          expr("-(GREATEST(epochs_micro - 1000000, 0) div 15)"))
        .withColumn("decay", detExpMicro($"m2"))
        .withColumn("effective_tokens", expr(
          "n_tokens + CAST(FLOOR(CAST(n_tokens * 15 AS DOUBLE) * (CAST(1 AS DOUBLE) - decay) + CAST(0.5 AS DOUBLE)) AS BIGINT)"))
        .join(nd, "source")
        .select($"source", $"n_docs_kept", $"n_tokens".as("release_tokens"),
          $"nll_micro", $"share_ppm", $"alloc_tokens", $"epochs_micro",
          $"effective_tokens")
        .orderBy($"source")
    },

    q("q440_epoch_shuffle", {
      val k = duckPolyHash("(CAST(doc_id AS VARCHAR) || ':' || CAST(e AS VARCHAR))")
      val kn = duckPolyHash("(CAST(doc_id AS VARCHAR) || ':' || CAST((e + 1) % 3 AS VARCHAR))")
      s"""WITH d AS (SELECT doc_id, unnest([0, 1, 2]) AS e FROM documents),
         |k AS (SELECT doc_id, CAST(e AS BIGINT) AS ep,
         |    $k AS k, $kn AS kn
         |  FROM d),
         |b AS (SELECT doc_id, ep, k, k % 1024 AS bkt,
         |    CASE WHEN k % 1024 = kn % 1024 THEN 1 ELSE 0 END AS agree
         |  FROM k),
         |loads AS (SELECT ep, bkt, CAST(COUNT(*) AS BIGINT) AS load
         |  FROM b GROUP BY ep, bkt),
         |ml AS (SELECT ep, CAST(MAX(load) AS BIGINT) AS max_bucket_load
         |  FROM loads GROUP BY ep)
         |SELECT b.ep AS epoch, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT b.k) AS BIGINT) AS n_distinct_keys,
         |  CAST(MIN(ml.max_bucket_load) AS BIGINT) AS max_bucket_load,
         |  CAST((SUM(b.agree) * 1000000) // COUNT(*) AS BIGINT)
         |    AS agree_next_ppm
         |FROM b JOIN ml ON ml.ep = b.ep
         |GROUP BY b.ep ORDER BY epoch"""
    }) { (s, dir) =>
      import s.implicits._
      // Epoch-shuffle audit — the reproducible-data-order contract of a
      // training run: epoch e's order key is hash(doc_id ':' e), so the
      // permutation is deterministic (re-runs and restarts see the same
      // stream), and per-epoch orders must be DECORRELATED — a doc's
      // 1024-bucket "batch neighborhood" should agree with the next
      // epoch's at the chance rate 1/1024 (~977 ppm), never cluster.
      // Readout per epoch: key-collision check (distinct keys vs docs),
      // the hottest bucket load (stragglers in a batch-parallel reader),
      // and the cyclic next-epoch agreement rate. The bucket table is
      // bounded (3x1024); everything else is map-side hashing — the
      // global sort a naive ORDER BY hash audit would need never
      // materializes. Complements q409 (curriculum order) and q123
      // (split assignment) on the same md5/polyhash discipline.
      val b = T(s, dir, "documents")
        .select($"doc_id", explode(expr("sequence(0, 2)")).as("e"))
        .select($"doc_id", $"e".cast("long").as("e"),
          expr("graft_polyhash(concat(CAST(doc_id AS STRING), ':', " +
            "CAST(e AS STRING)))").as("k"),
          expr("graft_polyhash(concat(CAST(doc_id AS STRING), ':', " +
            "CAST((e + 1) % 3 AS STRING)))").as("kn"))
        .select($"doc_id", $"e", $"k", ($"k" % 1024).as("bkt"),
          when($"k" % 1024 === $"kn" % 1024, 1L).otherwise(0L).as("agree"))
        .transform(graft.CacheScope.cached) // per-epoch agg + bucket loads
      val ml = b.groupBy($"e", $"bkt").agg(count(lit(1)).as("load"))
        .groupBy($"e").agg(max($"load").as("max_bucket_load"))
      b.groupBy($"e")
        .agg(count(lit(1)).as("n_docs"),
          countDistinct($"k").as("n_distinct_keys"),
          expr("CAST((SUM(agree) * 1000000) div COUNT(1) AS BIGINT)")
            .as("agree_next_ppm"))
        .join(ml, "e")
        .select($"e".as("epoch"), $"n_docs", $"n_distinct_keys",
          $"max_bucket_load", $"agree_next_ppm")
        .orderBy($"epoch")
    },
  )
}
