package graft.operators

import graft.ColFns.{detMln, detMlnIntSql, detMlnSql}
import graft.QueryDef.q
import graft.functions.TextHash
import graft.{QueryDef, Tables}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Example-assembly and training-run accounting — what happens to curated
  * documents AFTER selection, when they are physically packed into training
  * examples, and the privacy ledger a data platform keeps over the
  * statistics it releases. The reference delegates all per-entry computation
  * to consumer handler callbacks (`/root/reference/lib/consumer.ex:283-299`);
  * the engine owns these as first-class, oracle-checked operators:
  *
  *  - q411 fill-in-the-middle span accounting (the FIM objective's
  *    prefix/middle/suffix split, per source),
  *  - q412 cross-document attention contamination of concat-and-chunk
  *    packing (the cost of NOT using a block-diagonal attention mask),
  *  - q415 per-window source-mixture entropy (how diverse each packed
  *    context window actually is),
  *  - q413 a zCDP differential-privacy accountant over released query
  *    counts, and q414 its streaming twin through the engine's source.
  *
  * Scale posture: q412/q415 need every document's global token offset. A
  * naive `SUM OVER (ORDER BY doc_id)` is a corpus-sized SinglePartition
  * window (the q304 anti-pattern), so the offsets come from a TWO-PHASE
  * cumulative sum: per-block sums (one shuffle of #blocks rows), a prefix
  * sum over the bounded block table, then a broadcast join back and a
  * window partitioned BY BLOCK — every row-level window partition is at
  * most [[graft.TwoPhaseCumsum.Block]] rows (the shared helper; block
  * size is one knob for every call site).
  *
  * Numeric discipline (round-9 standing rules): no libm in hashed columns —
  * entropy goes through the deterministic `graft_detln` kernel; the DP
  * epsilon needs a square root, and IEEE-754 REQUIRES sqrt to be correctly
  * rounded (unlike ln/exp), so `FLOOR(SQRT(x))` is engine-identical, and
  * the operands are kept below 2^40 where floor∘sqrt equals the exact
  * integer square root with a >100x margin. All shares are integer ppm /
  * centi floor-divisions on non-negative operands.
  */
object Assembly {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** Context window length (tokens) for the packing audits. */
  private val Ctx = 128L

  /** Global token start offset per doc via [[graft.TwoPhaseCumsum]]:
    * returns (doc_id, nt, st) where st = sum of nt over all doc_id' <
    * doc_id. The only unbounded-partition window runs over the BLOCK table
    * (#docs / Block rows — bounded by construction); the row-level
    * window partitions by block.
    */
  private def docStarts(s: SparkSession, dir: String): DataFrame = {
    import s.implicits._
    graft.TwoPhaseCumsum.cumBefore(
        T(s, dir, "documents")
          .select($"doc_id", size(split($"text", " ")).cast("long").as("nt")),
        Seq.empty, "doc_id", "nt")
      .select($"doc_id", $"nt", $"cum_before".as("st"))
  }

  /** Oracle-side mirror of [[docStarts]] + per-(doc, chunk) segment lengths.
    * DuckDB runs the plain global window — the oracle states WHAT the
    * two-phase sum must equal, not how to distribute it.
    */
  private val duckSegCte: String =
    s"""t AS (SELECT doc_id, CAST(len(string_split(text,' ')) AS BIGINT) AS nt
       |  FROM documents),
       |c AS (SELECT doc_id, nt,
       |    CAST(SUM(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - nt
       |      AS BIGINT) AS st FROM t),
       |tot AS (SELECT CAST(SUM(nt) AS BIGINT) AS ttot FROM t),
       |seg0 AS (SELECT doc_id, st, nt,
       |    unnest(generate_series(st // $Ctx, (st + nt - 1) // $Ctx)) AS chunk
       |  FROM c),
       |seg AS (SELECT doc_id, chunk,
       |    LEAST(st + nt, (chunk + 1) * $Ctx) - GREATEST(st, chunk * $Ctx)
       |      AS seg
       |  FROM seg0)""".stripMargin

  /** Spark-side (doc_id, chunk, seg) segments plus the broadcast total.
    * `starts` is cached so the segment explode and the 1-row total share
    * one computation of the two-phase offsets instead of re-executing the
    * scan + block join lineage twice.
    */
  private def chunkSegs(s: SparkSession, dir: String): (DataFrame, DataFrame) = {
    import s.implicits._
    val starts = docStarts(s, dir).transform(graft.CacheScope.cached)
    val tot = starts.agg(sum($"nt").as("ttot"))
    val seg = starts
      .select($"doc_id", $"st", $"nt",
        explode(sequence(expr(s"st DIV $Ctx"), expr(s"(st + nt - 1) DIV $Ctx")))
          .as("chunk"))
      .select($"doc_id", $"chunk",
        (least($"st" + $"nt", ($"chunk" + 1) * Ctx) -
          greatest($"st", $"chunk" * Ctx)).as("seg"))
    (seg, tot)
  }

  /** Per-event-type Gaussian-mechanism noise scale, milli-units — the
    * release policy table (coarser stats tolerate less noise). Rendered
    * into both dialects from one constant so the engines cannot drift.
    */
  private val SigmaMilli: Seq[(String, Long)] = Seq(
    "click" -> 2000L, "error" -> 8000L, "purchase" -> 500L,
    "signup" -> 1000L, "view" -> 4000L)

  private def sigmaValuesSql: String =
    SigmaMilli.map { case (t, s) => s"('$t', $s)" }.mkString(", ")

  /** Shared zCDP readout: from (event_type, n_queries) counts to the
    * composed privacy ledger. rho of one sensitivity-1 Gaussian release is
    * 1/(2 sigma^2) — in pico-units an exact integer floor-division — and
    * zCDP composition is ADDITION, so the corpus-sized work is only the
    * count; everything after runs on |event types| + 1 rows. The
    * (rho, delta=1e-6) -> epsilon conversion eps = rho + 2*sqrt(rho *
    * ln(1/delta)) runs in centi-units: ln(1e6) via the deterministic
    * micro-log kernel, the square root over an operand <= ~1e9 where
    * IEEE-correctly-rounded FLOOR(SQRT(x)) is the exact integer sqrt.
    */
  private def dpReadout(s: SparkSession, counts: DataFrame): DataFrame = {
    import s.implicits._
    val sig = SigmaMilli.toDF("event_type", "sigma_milli")
    val perType = counts.join(broadcast(sig), "event_type")
      .select($"event_type", $"n_queries", $"sigma_milli",
        ($"n_queries" *
          expr("1000000000000000000 DIV (2 * sigma_milli * sigma_milli)"))
          .as("rho_pico"))
    val total = perType.agg(sum($"n_queries").as("n_queries"),
        sum($"rho_pico").as("rho_pico"))
      .select(lit("__total").as("event_type"), $"n_queries",
        lit(0L).as("sigma_milli"), $"rho_pico")
    perType.unionByName(total)
      .withColumn("rho_centi", expr("rho_pico DIV 10000000000"))
      .withColumn("mln1e6", graft.ColFns.detMlnInt(lit(1000000L)))
      .withColumn("lc", expr("mln1e6 DIV 10000"))
      .select($"event_type", $"n_queries", $"sigma_milli", $"rho_pico",
        ($"rho_centi" + lit(2L) *
          floor(sqrt(($"rho_centi" * $"lc").cast("double"))).cast("long"))
          .as("eps_centi"))
      .orderBy($"event_type")
  }

  private val dpOracleSql: String =
    s"""WITH sig(event_type, sigma_milli) AS (VALUES $sigmaValuesSql),
       |n AS (SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n_queries,
       |    CAST(s.sigma_milli AS BIGINT) AS sigma_milli
       |  FROM events e JOIN sig s USING (event_type)
       |  GROUP BY e.event_type, s.sigma_milli),
       |r AS (SELECT event_type, n_queries, sigma_milli,
       |    n_queries * (1000000000000000000 // (2 * sigma_milli * sigma_milli))
       |      AS rho_pico FROM n),
       |a AS (SELECT * FROM r UNION ALL
       |  SELECT '__total', CAST(SUM(n_queries) AS BIGINT), CAST(0 AS BIGINT),
       |    CAST(SUM(rho_pico) AS BIGINT) FROM r),
       |c AS (SELECT event_type, n_queries, sigma_milli, rho_pico,
       |    rho_pico // 10000000000 AS rho_centi,
       |    ${detMlnIntSql("1000000")} // 10000 AS lc FROM a)
       |SELECT event_type, n_queries, sigma_milli,
       |  CAST(rho_pico AS BIGINT) AS rho_pico,
       |  CAST(rho_centi + 2 * CAST(FLOOR(SQRT(CAST(rho_centi * lc AS DOUBLE)))
       |    AS BIGINT) AS BIGINT) AS eps_centi
       |FROM c ORDER BY event_type""".stripMargin

  /** FIM cut-point derivation + per-source aggregate, shared by the batch
    * query and its streaming twin. Input: (source, L, h) rows with L >= 2;
    * h is the deterministic polynomial text hash. h picks the prefix end
    * a in [1, L-1], a derived h2 picks the middle end b in [a, L], and
    * h's parity is the PSM-vs-SPM mode flag — reproducible run-to-run and
    * engine-to-engine with no RNG state.
    */
  private def fimAgg(df: DataFrame): DataFrame = {
    import df.sparkSession.implicits._
    df.withColumn("h2", ($"h" * 31 + 7) % TextHash.P)
      .withColumn("a", lit(1L) + ($"h" % ($"L" - 1)))
      .withColumn("b", $"a" + ($"h2" % ($"L" - $"a" + 1)))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"h" % 2 === 0, 1L).otherwise(0L)).as("spm_docs"),
        sum($"L").as("sum_chars"),
        sum($"b" - $"a").as("sum_middle"),
        max($"b" - $"a").as("max_middle"))
  }

  /** Readout of [[fimAgg]]'s state: the integer-ppm share columns. */
  private def fimReadout(agged: DataFrame): DataFrame = {
    import agged.sparkSession.implicits._
    agged.select($"source", $"n_docs", $"spm_docs", $"sum_chars",
        $"sum_middle",
        expr("(sum_middle * 1000000) DIV sum_chars").as("middle_share_ppm"),
        expr("(sum_middle * 1000000) DIV n_docs").as("avg_middle_micro"),
        $"max_middle")
      .orderBy($"source")
  }

  private val fimOracleSql: String = {
    val h = TextHash.duckPolyHash("text")
    s"""WITH d AS (SELECT source, CAST(length(text) AS BIGINT) AS L,
       |    $h AS h
       |  FROM documents WHERE length(text) >= 2),
       |s AS (SELECT source, L, h, (h * 31 + 7) % ${TextHash.P} AS h2,
       |    1 + (h % (L - 1)) AS a FROM d),
       |m AS (SELECT source, L, h, a, a + (h2 % (L - a + 1)) AS b FROM s)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(CASE WHEN h % 2 = 0 THEN 1 ELSE 0 END) AS BIGINT)
       |    AS spm_docs,
       |  CAST(SUM(L) AS BIGINT) AS sum_chars,
       |  CAST(SUM(b - a) AS BIGINT) AS sum_middle,
       |  (CAST(SUM(b - a) AS BIGINT) * 1000000) // CAST(SUM(L) AS BIGINT)
       |    AS middle_share_ppm,
       |  (CAST(SUM(b - a) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
       |    AS avg_middle_micro,
       |  CAST(MAX(b - a) AS BIGINT) AS max_middle
       |FROM m GROUP BY source ORDER BY source""".stripMargin
  }

  val defs: Seq[QueryDef] = Seq(

    q("q411_fim_spans", fimOracleSql) { (s, dir) =>
      import s.implicits._
      // Fill-in-the-middle span accounting (the FIM transform of Bavarian
      // et al.: move a middle span to the end so a causal LM learns to
      // infill). Cut points and mode flag derive from the deterministic
      // polynomial hash (see fimAgg). Everything is one map-side pass +
      // a |sources|-row aggregate; the per-source readout (middle-token
      // share, mean middle length) is what a pretraining team checks
      // before committing an infill mix.
      fimReadout(fimAgg(
        T(s, dir, "documents")
          .filter(length($"text") >= 2)
          .select($"source", length($"text").cast("long").as("L"),
            expr("graft_polyhash(text)").as("h"))))
    },

    q("q419_streaming_fim_spans", fimOracleSql) { (s, dir) =>
      import s.implicits._
      // Streaming twin of q411 — which it literally shares its oracle and
      // per-source aggregate with: documents stream through the engine's
      // source, the FIM cut-point derivation runs as a stateless
      // projection inside the stream, and the per-source span accounting
      // accumulates as complete-mode keyed state (five scalar aggregates
      // per source, bounded forever). The ppm readout happens batch-side
      // over the drained snapshot — the live infill-mix dashboard,
      // q414/q375's shape.
      val root = graft.LogFixtures.documents(s, dir)
      // trigger scales with the input so the drain stays ~3 micro-batches
      // at any SF (q352's lesson: a fixed small trigger is pure per-batch
      // commit overhead at 10x the rows; the complete-mode snapshot is
      // identical at any batch count)
      val nIn = Tables.rowCount(s, dir, "documents")
      val agged = graft.streaming.StreamHarness.runToMemory(s, "q419", mode = "complete") {
        fimAgg(
          s.readStream.format("graftlog")
            .option("path", root).option("stream", "documents")
            .option("valueSchema", "doc_id BIGINT, source STRING, text STRING")
            .option("startingOffsets", "earliest")
            .option("maxEntriesPerTrigger", math.max(200L, nIn / 3).toString)
            .load()
            .filter(length($"text") >= 2)
            .select($"source", length($"text").cast("long").as("L"),
              expr("graft_polyhash(text)").as("h")))
      }
      fimReadout(agged)
    },

    q("q412_packing_contamination",
      s"""WITH $duckSegCte,
         |g AS (SELECT chunk, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM((seg * (seg - 1)) // 2) AS BIGINT) AS same_pairs
         |  FROM seg GROUP BY chunk),
         |f AS (SELECT g.chunk,
         |    CAST(LEAST($Ctx, t.ttot - g.chunk * $Ctx) AS BIGINT) AS clen,
         |    g.n_docs, g.same_pairs
         |  FROM g, tot t)
         |SELECT CAST(chunk AS BIGINT) AS chunk, clen, n_docs,
         |  CAST((clen * (clen - 1)) // 2 - same_pairs AS BIGINT)
         |    AS cross_pairs,
         |  CAST(CASE WHEN clen >= 2 THEN
         |      (((clen * (clen - 1)) // 2 - same_pairs) * 1000000)
         |        // ((clen * (clen - 1)) // 2)
         |    ELSE 0 END AS BIGINT) AS cross_ppm
         |FROM f ORDER BY chunk""") { (s, dir) =>
      import s.implicits._
      // Concat-and-chunk packing (q101's scheme) trains with windows that
      // straddle document boundaries; without a block-diagonal attention
      // mask every (token, earlier-token) pair whose members come from
      // DIFFERENT documents is contaminated context. Exact accounting per
      // window: causal pairs = clen*(clen-1)/2, same-document pairs =
      // sum over the window's doc segments of seg*(seg-1)/2, cross = the
      // difference — all integers derived from each doc's global token
      // offset (two-phase cumsum, see the object scaladoc; no
      // corpus-sized window partition anywhere in the plan). The ~60-80%
      // cross-pair shares on this fixture's short docs are the argument
      // for masked packing.
      val (seg, tot) = chunkSegs(s, dir)
      seg.groupBy($"chunk")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("(seg * (seg - 1)) DIV 2")).as("same_pairs"))
        .crossJoin(broadcast(tot))
        .select($"chunk", least(lit(Ctx), $"ttot" - $"chunk" * Ctx).as("clen"),
          $"n_docs", $"same_pairs")
        .select($"chunk", $"clen", $"n_docs",
          expr("(clen * (clen - 1)) DIV 2 - same_pairs").as("cross_pairs"),
          when($"clen" >= 2,
            expr("(((clen * (clen - 1)) DIV 2 - same_pairs) * 1000000) " +
              "DIV ((clen * (clen - 1)) DIV 2)"))
            .otherwise(0L).as("cross_ppm"))
        .orderBy($"chunk")
    },

    q("q413_dp_accountant", dpOracleSql) { (s, dir) =>
      import s.implicits._
      // zCDP privacy ledger over released statistics: each event is one
      // released sensitivity-1 Gaussian query with a per-type noise scale
      // from the release-policy table; composition is rho addition. The
      // corpus-sized work is one keyed count; the ledger itself is
      // |event types| + 1 rows. See dpReadout for the numeric discipline
      // (integer pico-rho, deterministic ln, exact-by-margin FLOOR(SQRT)).
      dpReadout(s,
        T(s, dir, "events").groupBy($"event_type")
          .agg(count(lit(1)).as("n_queries")))
    },

    q("q414_streaming_dp_ledger", dpOracleSql) { (s, dir) =>
      import s.implicits._
      // Streaming twin of q413 — which it literally shares its oracle
      // statement and readout with: the per-type release counts accumulate
      // as complete-mode keyed streaming state through the engine's own
      // source (state = one counter per event type, bounded forever), and
      // the batch-side ledger readout converts the live counts to the
      // composed (rho, epsilon) — the privacy dashboard a platform reads
      // between ingest batches, q375/q410's snapshot-readout shape.
      val root = graft.LogFixtures.eventTypes(s, dir)
      // trigger scales with the input (q352's lesson) — the complete-mode
      // snapshot is identical at any batch count, so drain in ~3 batches
      // at any SF instead of paying per-batch commit overhead
      val nIn = Tables.rowCount(s, dir, "events")
      val counts = graft.streaming.StreamHarness.runToMemory(s, "q414", mode = "complete") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "events")
          .option("valueSchema", "event_id BIGINT, event_type STRING")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", math.max(8000L, nIn / 3).toString)
          .load()
          .groupBy($"event_type")
          .agg(count(lit(1)).as("n_queries"))
      }
      dpReadout(s, counts)
    },

    q("q416_chunking_dependency_loss",
      s"""WITH t AS (SELECT doc_id,
         |    CAST(len(string_split(text,' ')) AS BIGINT) AS nt FROM documents),
         |c AS (SELECT doc_id, nt,
         |    CAST(SUM(nt) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - nt
         |      AS BIGINT) AS st FROM t),
         |w AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
         |g0 AS (SELECT doc_id,
         |    CAST(unnest(range(1, len(w))) AS BIGINT) AS pos,
         |    unnest(list_transform(range(len(w)-1), i ->
         |      array_to_string(w[CAST(i+1 AS INT):CAST(i+2 AS INT)],' '))) AS g
         |  FROM w WHERE len(w) >= 2),
         |d AS (SELECT doc_id, g, CAST(MIN(pos) AS BIGINT) AS p1,
         |    CAST(MAX(pos) AS BIGINT) AS p2
         |  FROM g0 GROUP BY doc_id, g
         |  HAVING COUNT(*) >= 2 AND MAX(pos) > MIN(pos)),
         |j AS (SELECT d.doc_id, (p2 - p1) AS span,
         |    CASE WHEN (c.st + p1 - 1) // $Ctx = (c.st + p2 - 1) // $Ctx
         |      THEN 1 ELSE 0 END AS pres
         |  FROM d JOIN c USING (doc_id))
         |SELECT CAST(span // 16 AS BIGINT) AS band,
         |  CAST(COUNT(*) AS BIGINT) AS n_deps,
         |  CAST(SUM(pres) AS BIGINT) AS n_preserved,
         |  (CAST(SUM(pres) AS BIGINT) * 1000000) // CAST(COUNT(*) AS BIGINT)
         |    AS preserved_ppm
         |FROM j GROUP BY band ORDER BY band""") { (s, dir) =>
      import s.implicits._
      // What chunked packing DESTROYS: a repeated bigram inside one
      // document is a long-range dependency (the model can only learn the
      // re-occurrence if both ends share a context window). For every
      // (doc, bigram) seen twice or more, the first-to-last occurrence
      // span is banded and checked against the q412 window assignment —
      // preservation decays monotonically with span (95% at <16 tokens,
      // ~14% at 80+ on this fixture), the quantitative case for long-doc-
      // aware packing. Occurrence extraction is map-side (positions stay
      // inside the doc); the only shuffles are the per-(doc, gram) minmax
      // aggregate and the doc-keyed join to the two-phase offsets. At
      // corpus scale the gram text would ride as its polyhash; the
      // fixture keys on the text so the oracle stays legible.
      val starts = docStarts(s, dir).select($"doc_id", $"st")
      // spread the single-row-group scan: the per-row bigram-occurrence
      // explode + partial minmax agg ran as one ~0.7 s task (guide §2.5)
      val deps = graft.Tables.spread(T(s, dir, "documents"))
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 2)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(w) - 1), i -> " +
            "struct(CAST(i AS BIGINT) AS pos, concat_ws(' ', slice(w, i, 2)) AS g))"))
          .as("x"))
        .select($"doc_id", $"x.pos".as("pos"), $"x.g".as("g"))
        .groupBy($"doc_id", $"g")
        .agg(min($"pos").as("p1"), max($"pos").as("p2"),
          count(lit(1)).as("cnt"))
        .filter($"cnt" >= 2 && $"p2" > $"p1")
      deps.join(starts, "doc_id")
        .select(($"p2" - $"p1").as("span"),
          when(expr(s"(st + p1 - 1) DIV $Ctx") ===
            expr(s"(st + p2 - 1) DIV $Ctx"), 1L).otherwise(0L).as("pres"))
        .groupBy(expr("span DIV 16").as("band"))
        .agg(count(lit(1)).as("n_deps"), sum($"pres").as("n_preserved"))
        .select($"band", $"n_deps", $"n_preserved",
          expr("(n_preserved * 1000000) DIV n_deps").as("preserved_ppm"))
        .orderBy($"band")
    },

    q("q415_window_mixture",
      s"""WITH $duckSegCte,
         |per AS (SELECT s.chunk, d.source, CAST(SUM(s.seg) AS BIGINT)
         |      AS s_tokens
         |  FROM seg s JOIN documents d USING (doc_id)
         |  GROUP BY s.chunk, d.source),
         |f AS (SELECT per.chunk,
         |    CAST(LEAST($Ctx, t.ttot - per.chunk * $Ctx) AS BIGINT) AS clen,
         |    source, s_tokens
         |  FROM per, tot t),
         |e AS (SELECT chunk, clen, source, s_tokens,
         |    ${detMlnSql("s_tokens", "clen")} AS mln FROM f)
         |SELECT CAST(chunk AS BIGINT) AS chunk, clen,
         |  CAST(COUNT(*) AS BIGINT) AS n_sources,
         |  CAST(SUM((-(s_tokens * mln)) // clen) AS BIGINT) AS entropy_micro,
         |  CAST(MAX(s_tokens) AS BIGINT) AS max_source_tokens
         |FROM e GROUP BY chunk, clen ORDER BY chunk""") { (s, dir) =>
      import s.implicits._
      // Source-mixture entropy of each packed context window: with
      // p_src = tokens-from-src / window-length, H = -sum p ln p in
      // micro-nats — per-term -(s * mln(s/clen)) // clen keeps every
      // operand a non-negative integer (mln <= 0 since s <= clen) through
      // the deterministic log kernel. Low-entropy windows are runs of one
      // source back-to-back — the signal that the packing order needs a
      // shuffle; windows are chunk-keyed so the check distributes with
      // the same two-phase-cumsum plan as q412.
      val (seg, tot) = chunkSegs(s, dir)
      val docsSrc = T(s, dir, "documents").select($"doc_id", $"source")
      seg.join(docsSrc, "doc_id")
        .groupBy($"chunk", $"source")
        .agg(sum($"seg").as("s_tokens"))
        .crossJoin(broadcast(tot))
        .select($"chunk", $"source", $"s_tokens",
          least(lit(Ctx), $"ttot" - $"chunk" * Ctx).as("clen"))
        .withColumn("mln", detMln($"s_tokens", $"clen"))
        .groupBy($"chunk", $"clen")
        .agg(count(lit(1)).as("n_sources"),
          sum(expr("(-(s_tokens * mln)) DIV clen")).as("entropy_micro"),
          max($"s_tokens").as("max_source_tokens"))
        .select($"chunk", $"clen", $"n_sources", $"entropy_micro",
          $"max_source_tokens")
        .orderBy($"chunk")
    },
    q("q429_padding_waste",
      // The padding-waste side of the packing tradeoff q412 measures the
      // contamination side of: for a 64-token context, the three standard
      // example-assembly strategies — concat-and-chunk (zero boundary
      // respect, minimal waste, maximal cross-doc attention), pad-each-doc
      // (full boundary respect, worst waste), and 16-token length-bucketed
      // packing (the sequence-bucketing middle ground) — each accounted
      // exactly: docs longer than the context first emit waste-free full
      // chunks, the residual is what each strategy pads. Everything is one
      // map-side pass + a per-source (and per-bucket) aggregation; the
      // bucket table is bounded by 4 widths x sources. The provable
      // ordering concat <= bucketed <= pad-each-doc is the AssemblySpec
      // law; the ppm numbers are what a trainer weighs against q412's
      // cross-attention percentages.
      """WITH d AS (SELECT source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n
        |  FROM documents),
        |x AS (SELECT source, n, n // 64 AS f, n % 64 AS rem FROM d),
        |t AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tok,
        |    CAST(SUM(f) AS BIGINT) AS sfull,
        |    CAST(SUM(CASE WHEN rem > 0 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS nres,
        |    CAST(SUM(CASE WHEN rem > 0 THEN 64 - rem ELSE 0 END) AS BIGINT)
        |      AS padw
        |  FROM x GROUP BY source),
        |b AS (SELECT source, ((rem + 15) // 16) * 16 AS p,
        |    CAST(COUNT(*) AS BIGINT) AS cnt
        |  FROM x WHERE rem > 0 GROUP BY source, p),
        |bc AS (SELECT source,
        |    CAST(SUM((cnt + (64 // p) - 1) // (64 // p)) AS BIGINT) AS bctx
        |  FROM b GROUP BY source),
        |st AS (
        |  SELECT source, 'concat_chunk' AS strategy,
        |    (tok + 63) // 64 AS ctx FROM t
        |  UNION ALL
        |  SELECT source, 'pad_each_doc', sfull + nres FROM t
        |  UNION ALL
        |  SELECT t.source, 'bucket16_pack', t.sfull + bc.bctx
        |  FROM t JOIN bc ON bc.source = t.source)
        |SELECT st.source, st.strategy, st.ctx AS n_contexts,
        |  ((st.ctx * 64 - t.tok) * 1000000) // (st.ctx * 64) AS waste_ppm
        |FROM st JOIN t ON t.source = st.source
        |ORDER BY st.source, st.strategy""") { (s, dir) =>
      import s.implicits._
      val x = T(s, dir, "documents")
        .select($"source",
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("n"))
        .select($"source", $"n", expr("n div 64").as("f"),
          ($"n" % 64).as("rem"))
        .transform(graft.CacheScope.cached) // totals + bucket rollup
      val t = x.groupBy($"source")
        .agg(sum($"n").as("tok"), sum($"f").as("sfull"),
          sum(when($"rem" > 0, 1L).otherwise(0L)).as("nres"),
          sum(when($"rem" > 0, lit(64L) - $"rem").otherwise(0L)).as("padw"))
        .transform(graft.CacheScope.cached) // three strategy branches
      val bc = x.filter($"rem" > 0)
        .select($"source", (expr("(rem + 15) div 16") * 16).as("p"))
        .groupBy($"source", $"p").agg(count(lit(1)).as("cnt"))
        .groupBy($"source")
        .agg(sum(expr("(cnt + (64 div p) - 1) div (64 div p)")).as("bctx"))
      val st = t.select($"source", lit("concat_chunk").as("strategy"),
          expr("(tok + 63) div 64").as("ctx"))
        .unionByName(t.select($"source", lit("pad_each_doc").as("strategy"),
          ($"sfull" + $"nres").as("ctx")))
        .unionByName(t.join(bc, "source")
          .select($"source", lit("bucket16_pack").as("strategy"),
            ($"sfull" + $"bctx").as("ctx")))
      st.join(t.select($"source", $"tok"), "source")
        .select($"source", $"strategy", $"ctx".as("n_contexts"),
          expr("((ctx * 64 - tok) * 1000000) div (ctx * 64)").as("waste_ppm"))
        .orderBy($"source", $"strategy")
    },

    q("q444_contribution_capping",
      // User-level DP preprocessing — the step BEFORE q413's accountant
      // can promise anything: bound each user's contribution per released
      // statistic (here: at most k=5 events per (user, event_type)), so
      // one user's presence changes any count by at most k — the
      // sensitivity bound DP noise is calibrated to. Selection must be
      // DETERMINISTIC and content-uniform, so the kept events are the
      // k smallest by md5(event_id) (hash order, not time order — a
      // take-first-k-by-time cap biases the capped sample toward early
      // behavior). Readout per event_type: raw/kept counts, clipped
      // mass, contributing users, and the before/after max contribution
      // (after must be <= 5 — the certified sensitivity). The window is
      // keyed by (user, event_type) — group-sized, never corpus-sized.
      """WITH r AS (SELECT event_type, user_id,
        |    ROW_NUMBER() OVER (PARTITION BY user_id, event_type
        |      ORDER BY md5(CAST(event_id AS VARCHAR)), event_id) AS rn
        |  FROM events),
        |u AS (SELECT event_type, user_id, CAST(COUNT(*) AS BIGINT) AS raw,
        |    CAST(SUM(CASE WHEN rn <= 5 THEN 1 ELSE 0 END) AS BIGINT) AS kept
        |  FROM r GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(SUM(raw) AS BIGINT) AS n_raw,
        |  CAST(SUM(kept) AS BIGINT) AS n_kept,
        |  CAST(((SUM(raw) - SUM(kept)) * 1000000) // SUM(raw) AS BIGINT)
        |    AS clipped_ppm,
        |  CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(MAX(raw) AS BIGINT) AS max_contrib_raw,
        |  CAST(MAX(kept) AS BIGINT) AS max_contrib_capped
        |FROM u GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      T(s, dir, "events")
        .withColumn("rn", row_number().over(
          Window.partitionBy($"user_id", $"event_type")
            .orderBy(md5(expr("CAST(CAST(event_id AS STRING) AS BINARY)")),
              $"event_id")))
        .groupBy($"event_type", $"user_id")
        .agg(count(lit(1)).as("raw"),
          sum(when($"rn" <= 5, 1L).otherwise(0L)).as("kept"))
        .groupBy($"event_type")
        .agg(sum($"raw").as("n_raw"), sum($"kept").as("n_kept"),
          expr("CAST(((SUM(raw) - SUM(kept)) * 1000000) div SUM(raw) " +
            "AS BIGINT)").as("clipped_ppm"),
          count(lit(1)).as("n_users"),
          max($"raw").as("max_contrib_raw"),
          max($"kept").as("max_contrib_capped"))
        .orderBy($"event_type")
    },

    q("q446_streaming_admission_cap",
      // STREAMING twin of q444's contribution bound, as a live ADMISSION
      // gate: per (user, event_type), typed ValueState in RocksDB counts
      // arrivals across micro-batches and everything past the 5th is
      // rejected at ingest — the DP-prep shape for a stream you cannot
      // re-sort (a batch cap selects by hash; an admission gate can only
      // take first-k by arrival). The verdict COUNTS are order-
      // independent (admitted per key = min(5, total)), so the oracle
      // pins them exactly without pinning which events were taken: raw/
      // admitted/rejected per type, rejected ppm, and how many users hit
      // the cap. State is one long per (user, type) forever; the
      // admission decision is emitted per row (no loss, no dupes — the
      // q115 invariant), and the rollup runs batch-side on the drained
      // sink.
      """WITH u AS (SELECT event_type, user_id,
        |    CAST(COUNT(*) AS BIGINT) AS cnt FROM events GROUP BY 1, 2)
        |SELECT event_type,
        |  CAST(SUM(cnt) AS BIGINT) AS n_raw,
        |  CAST(SUM(LEAST(cnt, 5)) AS BIGINT) AS n_admitted,
        |  CAST(SUM(cnt - LEAST(cnt, 5)) AS BIGINT) AS n_rejected,
        |  CAST((SUM(cnt - LEAST(cnt, 5)) * 1000000) // SUM(cnt) AS BIGINT)
        |    AS rejected_ppm,
        |  CAST(SUM(CASE WHEN cnt > 5 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_capped_users
        |FROM u GROUP BY event_type ORDER BY event_type""") { (s, dir) =>
      import s.implicits._
      val root = graft.LogFixtures.eventTypeUser(s, dir)
      graft.streaming.StreamHarness.runToMemory(s, "q446") {
        val src = s.readStream.format("graftlog")
          .option("path", root).option("stream", "events")
          .option("valueSchema",
            "event_id BIGINT, event_type STRING, user_id BIGINT")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", "60000")
          .load()
          .selectExpr("concat(event_type, ':', user_id) AS k",
            "CAST(event_id AS STRING) AS v")
        graft.streaming.StreamingOps.runningCountByKeyTws(s, src, "k", "v")
          .toDF("k", "running", "event_id")
      }
        .groupBy($"k")
        .agg(count(lit(1)).as("cnt"),
          sum(when($"running" <= 5, 1L).otherwise(0L)).as("adm"))
        // recover event_type by stripping the NUMERIC user_id suffix — a
        // ':' inside a future event_type value can no longer truncate it
        .select(expr("regexp_replace(k, ':[0-9]+$', '')").as("event_type"),
          $"cnt", $"adm",
          when($"cnt" > 5, 1L).otherwise(0L).as("capped"))
        .groupBy($"event_type")
        .agg(sum($"cnt").as("n_raw"), sum($"adm").as("n_admitted"),
          sum($"cnt" - $"adm").as("n_rejected"),
          expr("CAST((SUM(cnt - adm) * 1000000) div SUM(cnt) AS BIGINT)")
            .as("rejected_ppm"),
          sum($"capped").as("n_capped_users"))
        .orderBy($"event_type")
    },

    q("q441_prefix_cache", {
      // the prefix hash is projected per-row over the sliced word array
      // (duckPolyHash binds its own lambda var internally — no outer
      // lambda nesting is involved here)
      val ph = TextHash.duckPolyHash("array_to_string(w[1:CAST(d AS INT)], ' ')")
      s"""WITH wds AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |x AS (SELECT doc_id, w, unnest([8, 16, 32]) AS d FROM wds),
         |p AS (SELECT CAST(d AS BIGINT) AS d, $ph AS k
         |  FROM x WHERE len(w) >= d),
         |g AS (SELECT d, k, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM p GROUP BY d, k)
         |SELECT d AS depth,
         |  CAST(SUM(cnt) AS BIGINT) AS n_eligible,
         |  CAST(COUNT(*) AS BIGINT) AS n_groups,
         |  CAST(SUM(cnt - 1) AS BIGINT) AS n_cache_hits,
         |  CAST((SUM(cnt - 1) * 1000000) // SUM(cnt) AS BIGINT)
         |    AS hit_ppm,
         |  CAST(MAX(cnt) AS BIGINT) AS hottest_prefix
         |FROM g GROUP BY d ORDER BY depth"""
    }) { (s, dir) =>
      import s.implicits._
      // Prefix-cache (radix-tree KV-cache) sharing audit — the serving-
      // economics readout beside q389's speculative-decoding acceptance:
      // an inference server that caches KV states by token prefix serves
      // every request whose first d tokens match a cached entry without
      // recomputing them, so the shareable mass is SUM(group_size - 1)
      // over exact-prefix groups. Measured at depths 8/16/32 (deeper =
      // rarer but each hit saves more). hottest_prefix is the capacity-
      // planning number — one viral prefix family concentrates cache
      // traffic. Prefix hashing is map-side; the (depth, key) count is
      // the only shuffle, 3 instances per doc. At 100 TB the same plan
      // holds: groups are keyed, never enumerated pairwise.
      T(s, dir, "documents")
        .select(split($"text", " ").as("w"),
          explode(expr("array(8, 16, 32)")).as("d"))
        .filter(size($"w") >= $"d")
        .select($"d".cast("long").as("d"),
          expr("graft_polyhash(concat_ws(' ', slice(w, 1, d)))").as("k"))
        .groupBy($"d", $"k").agg(count(lit(1)).as("cnt"))
        .groupBy($"d")
        .agg(sum($"cnt").as("n_eligible"),
          count(lit(1)).as("n_groups"),
          sum($"cnt" - 1).as("n_cache_hits"),
          expr("CAST((SUM(cnt - 1) * 1000000) div SUM(cnt) AS BIGINT)")
            .as("hit_ppm"),
          max($"cnt").as("hottest_prefix"))
        .select($"d".as("depth"), $"n_eligible", $"n_groups",
          $"n_cache_hits", $"hit_ppm", $"hottest_prefix")
        .orderBy($"depth")
    },

  )
}
