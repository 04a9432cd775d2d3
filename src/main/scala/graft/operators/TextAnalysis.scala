package graft.operators

import graft.QueryDef.q
import graft.functions.TextHash._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}

/** Text analysis + multimodal-column plumbing for training-data pipelines:
  * language-ID (stopword-profile heuristic), quality scoring, token counting
  * (whitespace + regex "BPE-ish"), document fingerprinting (rolling hash),
  * and opaque-binary payload handling. All map-side scalar work — embarrassingly
  * parallel at any scale.
  */
object TextAnalysis {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val stops = Map(
    "en" -> Seq("the", "a", "of", "and", "to"),
    "es" -> Seq("el", "la", "de", "y", "en"),
    "fr" -> Seq("le", "la", "de", "et", "les"),
    "de" -> Seq("der", "die", "und", "das", "ist"))

  private def sparkCount(lang: String): String = {
    val lst = stops(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(size(filter(w, x -> array_contains(array($lst), x))) AS BIGINT)"
  }

  private def duckCount(lang: String): String = {
    val lst = stops(lang).map(w => s"'$w'").mkString(", ")
    s"CAST(len(list_filter(w, x -> list_contains([$lst], x))) AS BIGINT)"
  }

  private val predLadder =
    """CASE WHEN s_en = 0 AND s_es = 0 AND s_fr = 0 AND s_de = 0 THEN 'und'
      |     WHEN s_en >= s_es AND s_en >= s_fr AND s_en >= s_de THEN 'en'
      |     WHEN s_es >= s_fr AND s_es >= s_de THEN 'es'
      |     WHEN s_fr >= s_de THEN 'fr'
      |     ELSE 'de' END""".stripMargin

  /** Fixture subword vocabulary for q160 (BPE-style merges a real tokenizer
    * would learn: common English affixes and digraphs), grouped by unit
    * length for the greedy longest-match ladder. Any character not starting
    * a vocab unit falls back to a single-character token — the standard
    * byte-fallback contract.
    */
  private val subwordVocab: Map[Int, Seq[String]] = Map(
    4 -> Seq("tion", "ment", "ther", "ight", "ound", "ough"),
    3 -> Seq("ing", "ion", "ent", "ati", "ter", "est", "ers", "and",
      "the", "for", "ere", "his", "ith", "ver"),
    2 -> Seq("th", "he", "in", "er", "an", "re", "on", "at", "en", "nd",
      "ti", "es", "or", "te", "ed", "is", "it", "al", "ar", "st",
      "to", "nt", "ha", "ou", "le", "se"))

  private def vocabIn(len: Int): String =
    subwordVocab(len).map(v => s"'$v'").mkString(", ")

  /** Greedy longest-match step length at position `i` of `w`, probing
    * vocab tiers from `maxTier` down to 2 (single chars always match) —
    * identical text in both dialects (substring is 1-based in both; a
    * tail shorter than the probe never equals a full-width vocab unit).
    * One generator serves the full ladder (maxTier = 4, the q160/q384/
    * q398 tokenizer) and q401's ablations (3, 2), so the tiers can never
    * drift apart.
    */
  private def stepCase(w: String, i: String, maxTier: Int = 4): String = {
    val arms = (maxTier to 2 by -1).map(l =>
      s"WHEN substring($w, $i, $l) IN (${vocabIn(l)}) THEN $l")
    s"""CASE ${arms.mkString("\n       |     ")}
       |     ELSE 1 END""".stripMargin
  }

  /** Greedy step with the 4-gram tier ablated (q401). */
  private def stepCaseNo4(w: String, i: String): String = stepCase(w, i, 3)

  /** Greedy step with the 4- and 3-gram tiers ablated (q401). */
  private def stepCaseNo43(w: String, i: String): String = stepCase(w, i, 2)

  /** Optimal-segmentation DP step (q398): the best token count for the
    * prefix ending at position `i`, from the best counts of the previous
    * four positions (`b1`..`b4` = best[i-1]..best[i-4]) — a piece of
    * length L ending at i must be in the length-L vocabulary; single
    * chars always segment. Identical text in both dialects (substring is
    * 1-based in both; the i>=L guards keep the probe inside the word).
    */
  private def bestStep(w: String, i: String,
      b1: String, b2: String, b3: String, b4: String): String =
    s"""LEAST($b1 + 1,
       |  CASE WHEN $i >= 2 AND substring($w, $i - 1, 2) IN (${vocabIn(2)})
       |    THEN $b2 + 1 ELSE 9999999 END,
       |  CASE WHEN $i >= 3 AND substring($w, $i - 2, 3) IN (${vocabIn(3)})
       |    THEN $b3 + 1 ELSE 9999999 END,
       |  CASE WHEN $i >= 4 AND substring($w, $i - 3, 4) IN (${vocabIn(4)})
       |    THEN $b4 + 1 ELSE 9999999 END)""".stripMargin


  // ---- q423 unigram-LM tokenizer machinery: the weighted-Viterbi DP and
  // its backtrace as identical integer programs in both dialects. Packed
  // value = cost_micro * 1024 + n_tokens, so least() minimizes total cost
  // with a deterministic fewest-tokens tiebreak; EmInf marks a piece
  // missing from the vocabulary (never on an optimal path — every single
  // char is in the vocabulary), EmBig an out-of-range L candidate. Word
  // lengths stay far below 1024 tokens and 90 chars, so the packing and
  // the sentinel sums never collide (fixture max 8 chars). ----
  private[graft] val EmInf = "1000000000000"
  private[graft] val EmBig = "100000000000000000"

  /** Spark forward DP: best[0..len] packed, as an ARRAY<BIGINT> column
    * (element_at(acc, k) = best[k-1]); `cm` is a broadcast piece->cost map. */
  private[graft] def emDpSpark(cm: String): String = {
    def cand(l: Int): String =
      if (l == 1)
        s"element_at(acc, i) + (coalesce(element_at($cm, substring(word, i, 1)), $EmInf) * 1024 + 1)"
      else
        s"IF(i >= $l, element_at(acc, i - $l + 1) + (coalesce(element_at($cm, substring(word, i - $l + 1, $l)), $EmInf) * 1024 + 1), $EmBig)"
    s"""aggregate(sequence(1, length(word)),
       |  array(CAST(0 AS BIGINT)),
       |  (acc, i) -> array_append(acc, least(
       |    ${cand(1)},
       |    ${cand(2)},
       |    ${cand(3)},
       |    ${cand(4)})),
       |  acc -> acc)""".stripMargin
  }

  /** Spark backtrace over a computed best array `barr`: re-derives the
    * argmin choice at each position (first L attaining the packed minimum
    * — the same CASE order in both dialects) and collects the chosen
    * pieces. A word of length n backtraces in at most n steps. */
  private[graft] def emBacktraceSpark(cm: String, barr: String): String = {
    def cand(l: Int): String =
      s"""IF(acc.pos >= $l, element_at($barr, CAST(acc.pos - $l + 1 AS INT))
         | + (coalesce(element_at($cm, substring(word, CAST(acc.pos - $l + 1 AS INT), $l)), $EmInf) * 1024 + 1), $EmBig)"""
        .stripMargin.replace("\n", "")
    def take(l: Int): String =
      s"named_struct('pos', acc.pos - $l, 'ps', array_append(acc.ps, substring(word, CAST(acc.pos - $l + 1 AS INT), $l)))"
    s"""aggregate(sequence(1, length(word)),
       |  named_struct('pos', CAST(length(word) AS BIGINT),
       |    'ps', CAST(array() AS ARRAY<STRING>)),
       |  (acc, z) -> IF(acc.pos <= 0, acc,
       |    CASE
       |      WHEN ${cand(1)} = element_at($barr, CAST(acc.pos + 1 AS INT)) THEN ${take(1)}
       |      WHEN ${cand(2)} = element_at($barr, CAST(acc.pos + 1 AS INT)) THEN ${take(2)}
       |      WHEN ${cand(3)} = element_at($barr, CAST(acc.pos + 1 AS INT)) THEN ${take(3)}
       |      ELSE ${take(4)}
       |    END),
       |  acc -> acc.ps)""".stripMargin
  }

  /** DuckDB forward DP as a recursive CTE `cte` emitting (word, i,
    * b1 = best[i], b2..b4 = best[i-1..i-3]); piece costs come from LEFT
    * JOIN lookups into `vocTbl.costCol` — NOT correlated subqueries,
    * which DuckDB 1.0 plans unreliably inside recursive arms (the same
    * query returned NULL or the right value depending on the OUTER
    * query's filter). An out-of-range L's join may probe a clamped
    * substring; the i + 1 >= L guard discards it before it can matter. */
  private def emDpDuck(cte: String, vocTbl: String, costCol: String,
      wordTbl: String = "w"): String = {
    def cand(l: Int): String = {
      val look = s"(COALESCE(v$l.$costCol, $EmInf) * 1024 + 1)"
      if (l == 1) s"b1 + $look"
      else s"CASE WHEN $cte.i + 1 >= $l THEN b$l + $look ELSE $EmBig END"
    }
    val joins = (1 to 4).map(l =>
      s"LEFT JOIN $vocTbl v$l ON v$l.piece = " +
        s"substr($cte.word, CAST($cte.i + 2 - $l AS INT), $l)").mkString("\n  ")
    s"""$cte AS (
       |  SELECT word, CAST(0 AS BIGINT) AS i, CAST(0 AS BIGINT) AS b1,
       |    CAST($EmBig AS BIGINT) AS b2, CAST($EmBig AS BIGINT) AS b3,
       |    CAST($EmBig AS BIGINT) AS b4
       |  FROM $wordTbl
       |  UNION ALL
       |  SELECT $cte.word, $cte.i + 1,
       |    LEAST(${cand(1)},
       |      ${cand(2)},
       |      ${cand(3)},
       |      ${cand(4)}),
       |    b1, b2, b3
       |  FROM $cte
       |  $joins
       |  WHERE $cte.i < len($cte.word))""".stripMargin
  }

  /** DuckDB backtrace over the forward table `fwd` (same argmin CASE
    * order as [[emBacktraceSpark]]); best[] and cost lookups via LEFT
    * JOINs for the same DuckDB-1.0 reason as [[emDpDuck]]. */
  private def emBacktraceDuck(fwd: String, vocTbl: String, costCol: String): String = {
    def cand(l: Int): String =
      s"CASE WHEN bt.pos >= $l THEN COALESCE(f$l.b1, $EmBig) + " +
        s"(COALESCE(v$l.$costCol, $EmInf) * 1024 + 1) ELSE $EmBig END"
    val joins = ((1 to 4).map(l =>
      s"LEFT JOIN $fwd f$l ON f$l.word = bt.word AND f$l.i = bt.pos - $l") ++
      (1 to 4).map(l =>
        s"LEFT JOIN $vocTbl v$l ON v$l.piece = " +
          s"substr(bt.word, CAST(bt.pos + 1 - $l AS INT), $l)")).mkString("\n      ")
    s"""bt AS (
       |  SELECT word, CAST(len(word) AS BIGINT) AS pos,
       |    CAST(NULL AS VARCHAR) AS piece
       |  FROM w
       |  UNION ALL
       |  SELECT t.word, t.pos - t.l,
       |    substr(t.word, CAST(t.pos - t.l + 1 AS INT), CAST(t.l AS INT))
       |  FROM (SELECT bt.word, bt.pos AS pos,
       |      CASE WHEN ${cand(1)} = f0.b1 THEN CAST(1 AS BIGINT)
       |           WHEN ${cand(2)} = f0.b1 THEN CAST(2 AS BIGINT)
       |           WHEN ${cand(3)} = f0.b1 THEN CAST(3 AS BIGINT)
       |           ELSE CAST(4 AS BIGINT) END AS l
       |    FROM bt
       |      JOIN $fwd f0 ON f0.word = bt.word AND f0.i = bt.pos
       |      $joins
       |    WHERE bt.pos > 0) t)""".stripMargin
  }


  val defs: Seq[QueryDef] = Seq(

    q("q447_source_vocab_overlap",
      // Pairwise source similarity for data-mixing and dedup-policy
      // decisions — the matrix beside q202 (each source vs the CORPUS LM)
      // and q234 (near-dup pair counts): Jaccard of the two sources'
      // top-100 vocabularies, in ppm. Deterministic top-k via
      // (count DESC, word ASC); the corpus collapses ONCE to
      // (source, word) counts, the per-source top-k window runs on the
      // source-keyed dictionary (bounded), and the pair join only ever
      // touches 20 x 100 top-set rows — the output is the bounded
      // |sources|^2/2 triangle however big the corpus is.
      """WITH wc AS (SELECT source, w AS word, CAST(COUNT(*) AS BIGINT) AS c
        |  FROM (SELECT source, unnest(string_split(text, ' ')) AS w
        |        FROM documents)
        |  GROUP BY 1, 2),
        |tk AS (SELECT source, word FROM (SELECT source, word,
        |    ROW_NUMBER() OVER (PARTITION BY source
        |      ORDER BY c DESC, word ASC) AS rn FROM wc) WHERE rn <= 100),
        |sz AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n FROM tk
        |  GROUP BY source),
        |ix AS (SELECT a.source AS sa, b.source AS sb,
        |    CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM tk a JOIN tk b ON a.word = b.word AND a.source < b.source
        |  GROUP BY 1, 2)
        |SELECT za.source AS source_a, zb.source AS source_b,
        |  COALESCE(ix.inter, 0) AS n_shared,
        |  CAST((COALESCE(ix.inter, 0) * 1000000)
        |    // (za.n + zb.n - COALESCE(ix.inter, 0)) AS BIGINT)
        |    AS jaccard_ppm
        |FROM sz za JOIN sz zb ON za.source < zb.source
        |LEFT JOIN ix ON ix.sa = za.source AND ix.sb = zb.source
        |ORDER BY source_a, source_b""") { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.expressions.Window
      val tk = T(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("word"))
        .groupBy($"source", $"word").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"source").orderBy($"c".desc, $"word".asc)))
        .filter($"rn" <= 100)
        .select($"source", $"word")
        .transform(graft.CacheScope.cached) // sizes + both join sides
      val sz = tk.groupBy($"source").agg(count(lit(1)).as("n"))
      val ix = tk.as("a").join(tk.as("b"),
          $"a.word" === $"b.word" && $"a.source" < $"b.source")
        .groupBy($"a.source".as("sa"), $"b.source".as("sb"))
        .agg(count(lit(1)).as("inter"))
      sz.as("za").join(sz.as("zb"), $"za.source" < $"zb.source")
        .join(ix, $"sa" === $"za.source" && $"sb" === $"zb.source", "left")
        .select($"za.source".as("source_a"), $"zb.source".as("source_b"),
          coalesce($"inter", lit(0L)).as("n_shared"),
          expr("CAST((COALESCE(inter, 0) * 1000000) div " +
            "(za.n + zb.n - COALESCE(inter, 0)) AS BIGINT)")
            .as("jaccard_ppm"))
        .orderBy($"source_a", $"source_b")
    },

    q("q160_subword_tokens",
      // Subword tokenization — how an LLM pipeline actually budgets tokens
      // (q49's whitespace count approximates length, not cost): greedy
      // longest-match against the fixture vocabulary, single-char fallback.
      // The tokenizer runs once per DISTINCT word (the corpus-scale plan:
      // distinct words are a dictionary, orders of magnitude smaller than
      // the token stream; per-doc totals come from an equi join of per-doc
      // word counts against that dictionary). Spark folds the match loop
      // into one codegen'd `aggregate` over character positions; DuckDB
      // states the same walk as a recursive CTE. cpt_micro is the
      // integer-exact chars-per-token (x1e6, DIV) — no float division.
      s"""WITH RECURSIVE dw AS (SELECT doc_id, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |wc AS (SELECT doc_id, word, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM dw WHERE word <> '' GROUP BY doc_id, word),
         |w AS (SELECT DISTINCT word FROM wc),
         |tok AS (
         |  SELECT word, CAST(1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS n FROM w
         |  UNION ALL
         |  SELECT word, i + ${stepCase("word", "CAST(i AS INT)")}, n + 1
         |  FROM tok WHERE i <= len(word)),
         |tc AS (SELECT word, MAX(n) AS n_tok FROM tok GROUP BY word)
         |SELECT wc.doc_id,
         |  CAST(SUM(wc.cnt * tc.n_tok) AS BIGINT) AS n_subwords,
         |  CAST(SUM(wc.cnt * len(wc.word)) AS BIGINT) AS n_chars,
         |  CAST(SUM(wc.cnt * len(wc.word)) * 1000000 AS BIGINT)
         |    // CAST(SUM(wc.cnt * tc.n_tok) AS BIGINT) AS cpt_micro
         |FROM wc JOIN tc ON wc.word = tc.word
         |GROUP BY wc.doc_id ORDER BY wc.doc_id""") { (s, dir) =>
      import s.implicits._
      val wc = T(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"doc_id", $"word").agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheScope.cached) // dictionary + per-doc totals
      val tc = wc.select($"word").distinct()
        .withColumn("n_tok", expr(
          s"""aggregate(sequence(1, length(word)),
             |  named_struct('i', 1, 'n', CAST(0 AS BIGINT)),
             |  (acc, p) -> IF(p <> acc.i, acc, named_struct(
             |    'i', acc.i + ${stepCase("word", "acc.i")},
             |    'n', acc.n + CAST(1 AS BIGINT))),
             |  acc -> acc.n)""".stripMargin))
      wc.join(tc, "word")
        .groupBy($"doc_id")
        .agg(sum($"cnt" * $"n_tok").as("n_subwords"),
          sum($"cnt" * length($"word")).as("n_chars"))
        .select($"doc_id", $"n_subwords", $"n_chars",
          expr("(n_chars * 1000000) DIV n_subwords").as("cpt_micro"))
        .orderBy($"doc_id")
    },

    q("q47_text_langid",
      s"""WITH words AS (SELECT doc_id, lang, string_split(text, ' ') w FROM documents),
         |scored AS (SELECT doc_id, lang,
         |  ${duckCount("en")} AS s_en, ${duckCount("es")} AS s_es,
         |  ${duckCount("fr")} AS s_fr, ${duckCount("de")} AS s_de
         |FROM words)
         |SELECT doc_id, s_en, s_es, s_fr, s_de,
         |  $predLadder AS pred_lang,
         |  ($predLadder) = lang AS is_match
         |FROM scored ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .select($"doc_id", $"lang",
          expr(sparkCount("en")).as("s_en"), expr(sparkCount("es")).as("s_es"),
          expr(sparkCount("fr")).as("s_fr"), expr(sparkCount("de")).as("s_de"))
        .withColumn("pred_lang", expr(predLadder))
        .withColumn("is_match", $"pred_lang" === $"lang")
        .drop("lang")
        .orderBy($"doc_id")
    },

    q("q48_text_quality",
      s"""WITH t AS (
         |  SELECT doc_id, n_chars, string_split(text, ' ') w FROM documents
         |), m AS (
         |  SELECT doc_id,
         |    CAST(len(w) AS BIGINT) AS n_words,
         |    CAST(len(list_distinct(w)) AS DOUBLE) / len(w) AS ttr,
         |    CAST(len(list_filter(w, x -> list_contains($stopWordsDuckList, x))) AS DOUBLE) / len(w) AS stop_ratio,
        |    (CAST(n_chars AS DOUBLE) - (len(w) - 1)) / len(w) AS avg_wlen
        |  FROM t)
        |SELECT doc_id, n_words, ttr, stop_ratio, avg_wlen,
        |  CAST(0.5 AS DOUBLE) * ttr + CAST(0.3 AS DOUBLE) * (CAST(1 AS DOUBLE) - stop_ratio)
        |    + CAST(0.2 AS DOUBLE) * LEAST(n_words / CAST(100 AS DOUBLE), CAST(1 AS DOUBLE)) AS quality
        |FROM m ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .select($"doc_id",
          size($"w").cast("long").as("n_words"),
          (size(array_distinct($"w")).cast("double") / size($"w")).as("ttr"),
          (expr(s"size(filter(w, x -> array_contains($stopWordsSparkArray, x)))")
            .cast("double") / size($"w")).as("stop_ratio"),
          (($"n_chars".cast("double") - (size($"w") - 1)) / size($"w")).as("avg_wlen"))
        .withColumn("quality",
          lit(0.5) * $"ttr" + lit(0.3) * (lit(1.0) - $"stop_ratio") +
            lit(0.2) * least($"n_words" / lit(100.0), lit(1.0)))
        .orderBy($"doc_id")
    },

    q("q49_text_tokens",
      """SELECT doc_id,
        |  CAST(len(string_split(text, ' ')) AS BIGINT) AS ws_tokens,
        |  CAST(len(regexp_extract_all(text, '[a-z]+|[0-9]+')) AS BIGINT) AS re_tokens,
        |  CAST(n_chars AS DOUBLE) / len(string_split(text, ' ')) AS chars_per_tok
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents").select(
        $"doc_id",
        size(split($"text", " ")).cast("long").as("ws_tokens"),
        size(expr("regexp_extract_all(text, '[a-z]+|[0-9]+', 0)")).cast("long").as("re_tokens"),
        ($"n_chars".cast("double") / size(split($"text", " "))).as("chars_per_tok")
      ).orderBy($"doc_id")
    },

    q("q50_text_fingerprint",
      s"""SELECT doc_id,
         |  md5(text) AS fp_md5,
         |  ${duckPolyHash("text")} AS fp_poly
         |FROM documents ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents").select(
        $"doc_id",
        md5($"text").as("fp_md5"),
        expr("graft_polyhash(text)").as("fp_poly")
      ).orderBy($"doc_id")
    },

    q("q51_multimodal_binary",
      // Binary payload plumbing: text bytes stand in for image/audio blobs
      // (no media libs in this environment); the byte-level ops are real.
      """SELECT doc_id,
        |  CAST(octet_length(CAST(text AS BLOB)) AS BIGINT) AS n_bytes,
        |  md5(text) AS digest,
        |  CAST(ascii(substr(text, 1, 1)) AS BIGINT) AS first_byte
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents")
        .withColumn("payload", expr("encode(text, 'UTF-8')"))
        .select(
          $"doc_id",
          expr("octet_length(payload)").cast("long").as("n_bytes"),
          md5($"payload").as("digest"),
          ascii(substring($"text", 1, 1)).cast("long").as("first_byte"))
        .orderBy($"doc_id")
    },

    q("q96_stopword_removal", {
      val all = TextAnalysis.allStops.map(w => s"'$w'").mkString(", ")
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents)
         |SELECT doc_id,
         |  CAST(len(w) AS BIGINT) AS n_tokens,
         |  CAST(len(list_filter(w, t -> t NOT IN ($all))) AS BIGINT) AS n_kept,
         |  ROUND(CAST(len(list_filter(w, t -> t NOT IN ($all))) AS DOUBLE)
         |    / len(w), 6) AS keep_ratio
         |FROM words ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Stopword stripping, the first normalization pass of every text
      // corpus pipeline: pure map-side higher-order filter against a small
      // in-plan list (at scale: a broadcast variable / dictionary file).
      val all = TextAnalysis.allStops.map(w => s"'$w'").mkString(", ")
      T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .withColumn("kept", expr(s"filter(w, t -> NOT array_contains(array($all), t))"))
        .select($"doc_id",
          size($"w").cast("long").as("n_tokens"),
          size($"kept").cast("long").as("n_kept"),
          round(size($"kept").cast("double") / size($"w"), 6).as("keep_ratio"))
        .orderBy($"doc_id")
    },

    q("q136_unigram_logprob",
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text,' ')) tok FROM documents),
         |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) cnt FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM toks),
         |sc AS (SELECT doc_id,
         |    ${graft.ColFns.detMlnSql("cnt", "n")} mlp
         |  FROM toks JOIN freq USING (tok), tot),
         |d AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_tokens,
         |    CAST(SUM(mlp) AS BIGINT) sum_mlp
         |  FROM sc GROUP BY doc_id),
         |o AS (SELECT doc_id, n_tokens, sum_mlp,
         |    ${graft.ColFns.r6Sql("CAST(sum_mlp AS DOUBLE) / (CAST(1000000 AS DOUBLE) * n_tokens)")} AS avg_logprob
         |  FROM d)
         |SELECT doc_id, n_tokens, sum_mlp, avg_logprob,
         |  ${graft.ColFns.r6Sql(graft.ColFns.detExpMicroSql(
               "-FLOOR(CAST(sum_mlp AS DOUBLE) / n_tokens + 0.5)"))} AS ppl
         |FROM o ORDER BY doc_id""") { (s, dir) =>
      import graft.ColFns.r6
      import s.implicits._
      // Unigram language-model quality score (the CCNet/RedPajama filtering
      // signal, here with the LM trained on the corpus itself): per-doc mean
      // token log-probability and its perplexity. Two keyed shuffles — the
      // vocabulary count and the (token -> frequency) join — both on the
      // token; hot tokens are exactly the skew AQE's join handling splits.
      // The vocabulary is NOT broadcast by hand: it grows with the corpus,
      // so the keyed join is the 100 TB plan (Catalyst may still broadcast
      // it at small SF). Cross-engine float discipline: each token's
      // log-prob is rounded to an integer micro-log (1e-6) BEFORE the
      // per-doc sum, so the aggregate is exact integer addition in both
      // engines and the one IEEE division at the end starts from identical
      // operands. The micro-log itself is ColFns.detMln (software ln) and
      // the perplexity readout ColFns.detExpMicro — fixed IEEE programs
      // both engines evaluate op-for-op, so there is no libm boundary to
      // flip (the round-7/8 q239 lesson applied corpus-wide).
      val toks = T(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
      val freq = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n"))
      toks.join(freq, "tok")
        .crossJoin(broadcast(tot))
        .select($"doc_id",
          graft.ColFns.detMln($"cnt", $"n").as("mlp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum($"mlp").as("sum_mlp"))
        .withColumn("avg_logprob",
          r6($"sum_mlp".cast("double") / (lit(1000000d) * $"n_tokens")))
        .withColumn("ppl", r6(graft.ColFns.detExpMicro(
          -floor($"sum_mlp".cast("double") / $"n_tokens" + 0.5d))))
        .orderBy($"doc_id")
    },
    q("q153_bigram_backoff_lm",
      // Bigram LM with Stupid Backoff (Brants et al. 2007), scored on a
      // HELD-OUT split so the backoff path actually fires (q136's unigram
      // LM trains on the scored corpus, where every observed n-gram has a
      // count): even docs train counts, odd docs score. Seen bigram ->
      // ln(c2/c1(w1)); unseen -> ln(0.4) + add-one unigram ln((c1(w2)+1)/
      // (N+V)), so OOV test tokens are defined too. Bigrams come from one
      // LAG window per split (one doc_id shuffle, no self-join); count
      // joins are keyed on token strings — hot heads are exactly the skew
      // AQE's join handling splits, and the vocabulary is deliberately NOT
      // hand-broadcast (it grows with the corpus — q136's rationale).
      // Micro-log integer rounding (ColFns.detMln — deterministic software
      // ln, no libm) before the per-doc sum keeps the aggregate exact and
      // bit-identical in both engines.
      s"""WITH tk AS (SELECT doc_id,
        |    CAST(generate_subscripts(w, 1) - 1 AS BIGINT) AS pos, unnest(w) AS tok
        |  FROM (SELECT doc_id, string_split(text,' ') AS w FROM documents)),
        |big AS (SELECT doc_id,
        |    LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1, tok AS w2
        |  FROM tk),
        |trb AS (SELECT w1, w2 FROM big WHERE doc_id % 2 = 0 AND w1 IS NOT NULL),
        |c1 AS (SELECT tok, CAST(COUNT(*) AS BIGINT) c FROM tk
        |       WHERE doc_id % 2 = 0 GROUP BY tok),
        |nv AS (SELECT CAST(COUNT(*) AS BIGINT) n,
        |       CAST(COUNT(DISTINCT tok) AS BIGINT) v FROM tk WHERE doc_id % 2 = 0),
        |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) c2c FROM trb GROUP BY 1, 2),
        |te AS (SELECT doc_id, w1, w2 FROM big
        |       WHERE doc_id % 2 = 1 AND w1 IS NOT NULL),
        |sc AS (SELECT te.doc_id,
        |    CASE WHEN c2.c2c IS NOT NULL
        |      THEN ${graft.ColFns.detMlnSql("c2.c2c", "u1.c")}
        |      ELSE ${graft.ColFns.detMlnSql("2 * (COALESCE(u2.c, 0) + 1)",
                 "5 * (nv.n + nv.v)")} END AS mlp
        |  FROM te
        |  LEFT JOIN c2 ON te.w1 = c2.w1 AND te.w2 = c2.w2
        |  LEFT JOIN c1 u1 ON te.w1 = u1.tok
        |  LEFT JOIN c1 u2 ON te.w2 = u2.tok
        |  CROSS JOIN nv)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(mlp) AS BIGINT) AS sum_mlp
        |FROM sc GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      val byPos = org.apache.spark.sql.expressions.Window
        .partitionBy($"doc_id").orderBy($"pos")
      val big = T(s, dir, "documents")
        .select($"doc_id", posexplode(split($"text", " ")))
        .select($"doc_id", $"pos", $"col".as("tok"))
        .withColumn("w1", lag($"tok", 1).over(byPos))
        .transform(graft.CacheScope.cached) // feeds c1/nv/c2 and the test side
      val train = big.filter($"doc_id" % 2 === 0)
      val c1 = train.groupBy($"tok").agg(count(lit(1)).as("c"))
      val nv = train.agg(count(lit(1)).as("n"), countDistinct($"tok").as("v"))
      val c2 = train.filter($"w1".isNotNull)
        .groupBy($"w1", $"tok".as("w2")).agg(count(lit(1)).as("c2c"))
      big.filter($"doc_id" % 2 === 1 && $"w1".isNotNull)
        .select($"doc_id", $"w1", $"tok".as("w2"))
        .join(c2, Seq("w1", "w2"), "left")
        .join(c1.select($"tok".as("w1"), $"c".as("c1w1")), Seq("w1"), "left")
        .join(c1.select($"tok".as("w2"), $"c".as("c1w2")), Seq("w2"), "left")
        .crossJoin(broadcast(nv))
        .select($"doc_id",
          when($"c2c".isNotNull,
            graft.ColFns.detMln($"c2c", $"c1w1"))
            // ln(0.4 * x) = ln(2x/5): the backoff constant folds into the
            // rational so the whole branch stays one deterministic micro-log
            .otherwise(graft.ColFns.detMln(
              lit(2L) * (coalesce($"c1w2", lit(0L)) + 1L),
              lit(5L) * ($"n" + $"v")))
            .as("mlp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_bigrams"), sum($"mlp").as("sum_mlp"))
        .orderBy($"doc_id")
    },

    q("q175_dsir_resample",
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |tgt AS (SELECT t.tok, CAST(COUNT(*) AS BIGINT) AS ct FROM toks t
         |  JOIN documents d ON t.doc_id = d.doc_id AND d.lang = 'en'
         |  GROUP BY t.tok),
         |cf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS cc FROM toks GROUP BY tok),
         |consts AS (SELECT
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM toks t
         |      JOIN documents d ON t.doc_id = d.doc_id AND d.lang = 'en') AS nt,
         |    (SELECT CAST(COUNT(DISTINCT tok) AS BIGINT) FROM toks) AS v,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM toks) AS nc),
         |diffs AS (SELECT t.doc_id,
         |    (${graft.ColFns.detMlnSql("COALESCE(g.ct, 0) + 1", "nt + v")}
         |      + ${graft.ColFns.detMlnSql("nc", "c.cc")}) AS dm
         |  FROM toks t JOIN cf c USING (tok) LEFT JOIN tgt g ON t.tok = g.tok,
         |    consts),
         |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tokens,
         |    CAST(SUM(dm) AS BIGINT) AS sum_diff_micro
         |  FROM diffs GROUP BY doc_id)
         |SELECT s.doc_id, d.lang, s.n_tokens, s.sum_diff_micro,
         |  ${graft.ColFns.r6Sql(
               "CAST(s.sum_diff_micro AS DOUBLE) / (CAST(1000000 AS DOUBLE) * s.n_tokens)")} AS avg_log_ratio
         |FROM sc s JOIN documents d ON s.doc_id = d.doc_id
         |ORDER BY avg_log_ratio DESC, s.doc_id LIMIT 100""") { (s, dir) =>
      import graft.ColFns.r6
      import s.implicits._
      // DSIR-style importance resampling (Xie et al. 2023): score every doc
      // by how much more likely its tokens are under a TARGET distribution
      // (the English subset's unigram LM, add-one smoothed) than under the
      // corpus-wide proposal LM, and keep the top of the ranking — the
      // hashed-n-gram trick for steering a 100 TB crawl toward a domain
      // with one cheap pass. Both LMs are token-keyed aggregations over the
      // SAME tokenization; per-token log-ratios are rounded to integer
      // micro-logs BEFORE the per-doc sum (q136's float discipline), so the
      // ranking key is exact integer arithmetic plus one final IEEE
      // division on identical operands. The vocabulary is deliberately NOT
      // hand-broadcast (it grows with the corpus); the top-k is
      // TakeOrderedAndProject, never a global sort.
      val docs = T(s, dir, "documents")
      val toks = docs
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
        .transform(graft.CacheScope.cached) // target LM, proposal LM, scoring
      val en = toks.filter($"lang" === "en")
      val tgt = en.groupBy($"tok").agg(count(lit(1)).as("ct"))
      val cf = toks.groupBy($"tok").agg(count(lit(1)).as("cc"))
      val consts = en.agg(count(lit(1)).as("nt"))
        .crossJoin(toks.agg(countDistinct($"tok").as("v"), count(lit(1)).as("nc")))
      toks.join(cf, "tok")
        .join(tgt, Seq("tok"), "left")
        .crossJoin(broadcast(consts))
        .select($"doc_id",
          // target and proposal log-ratios each get ONE deterministic
          // micro-round (the 1e13-scale products a single-round form would
          // need overflow the <2^51 detMln domain at corpus scale)
          (graft.ColFns.detMln(coalesce($"ct", lit(0L)) + 1, $"nt" + $"v")
            + graft.ColFns.detMln($"nc", $"cc")).as("dm"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tokens"), sum($"dm").as("sum_diff_micro"))
        .join(docs.select($"doc_id", $"lang"), "doc_id")
        .withColumn("avg_log_ratio",
          r6($"sum_diff_micro".cast("double") / (lit(1000000d) * $"n_tokens")))
        .select($"doc_id", $"lang", $"n_tokens", $"sum_diff_micro", $"avg_log_ratio")
        .orderBy($"avg_log_ratio".desc, $"doc_id".asc)
        .limit(100)
    },

    q("q177_bpe_train",
      s"""WITH $duckBpeCtes
         |SELECT iter, pair, c FROM (
         |  SELECT 1 AS iter, pair, c FROM b1
         |  UNION ALL SELECT 2, pair, c FROM b2
         |  UNION ALL SELECT 3, pair, c FROM b3) ORDER BY iter""") { (s, dir) =>
      import s.implicits._
      // BPE merge training (Sennrich et al. 2016), the vocabulary-learning
      // half of every LLM tokenizer, in its SCALABLE formulation: the
      // corpus collapses to the word-frequency table ONCE (one token
      // shuffle), then each merge iteration runs over the vocabulary only —
      // pair counts partial-aggregate map-side, the winning merge is a
      // one-row frame BROADCAST into the re-segmentation, and no iteration
      // ever touches the corpus again. Three iterations driver-unrolled
      // (q142's k-means pattern); the merge application is the
      // space-delimited replace trick (' a b ' -> ' ab '), identical
      // left-to-right non-overlapping semantics in both engines. At 100 TB
      // the word-frequency table is Zipf-bounded (vocab grows ~log with
      // corpus), so the iteration cost is independent of corpus size — the
      // reason real BPE trainers work on exactly this table.
      val (bests, _) = bpeTrain(s, dir)
      bests.zipWithIndex
        .map { case (b, k) => b.select(lit(k + 1).as("iter"), $"pair", $"c") }
        .reduce(_.unionAll(_))
        .orderBy($"iter")
    },

    q("q180_bpe_segment",
      s"""WITH $duckBpeCtes,
         |wp AS (SELECT word, CAST(len(string_split(seq, ' ')) AS BIGINT) AS np
         |  FROM w3),
         |toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
         |  FROM documents),
         |per AS (SELECT t.doc_id, COALESCE(wp.np, 1) AS np
         |  FROM toks t LEFT JOIN wp ON t.tok = wp.word)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_words,
         |  CAST(SUM(np) AS BIGINT) AS n_pieces,
         |  (CAST(SUM(np) AS BIGINT) * 1000000) // COUNT(*) AS pieces_per_word_micro
         |FROM per GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // The APPLY half of q177: segment the corpus with the learned merges
      // and report the pieces-per-word fertility every tokenizer budget is
      // planned around. The scalable shape is the point — segmentation is
      // computed once per VOCABULARY entry (Zipf-bounded), and the corpus
      // pays only a token->vocab join (hot heads are the skew AQE splits,
      // q136's rationale for not hand-broadcasting a corpus-growing
      // vocab); single-character words fall back to one piece, the byte-
      // fallback contract of real tokenizers.
      val (_, w3) = bpeTrain(s, dir)
      val wp = w3.select($"word",
        size(split($"seq", " ")).cast("long").as("np"))
      T(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .join(wp.withColumnRenamed("word", "tok"), Seq("tok"), "left")
        .select($"doc_id", coalesce($"np", lit(1L)).as("np"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_words"), sum($"np").as("n_pieces"))
        .withColumn("pieces_per_word_micro", expr("(n_pieces * 1000000) DIV n_words"))
        .orderBy($"doc_id")
    },

    q("q330_bigram_perplexity",
      // Bigram language-model quality scoring — the CCNet/C4-style filter:
      // train an add-one-smoothed bigram LM on 80% of the corpus (doc-hash
      // split), score the held-out 20% by per-source perplexity. The LM is
      // two keyed aggregations (bigram + unigram counts); scoring is one
      // join of held-out bigrams against the trained counts, and every log
      // probability is ONE ln of the single rational (c2+1)/(c1+V) rounded
      // to integer micro units per instance (the q239 rule), so the
      // per-source sum is exact BIGINT. Perplexity = exp(-avg) is the one
      // trailing IEEE chain at r4. Unseen contexts fall back to 1/V via
      // the same formula (c2=0, c1=0) — no special-casing to diverge on.
      // Held-out = the md5-prefix 20% (q123's split trick): a modular
      // doc_id split would correlate with the fixture's source assignment
      // and starve most sources of held docs.
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w,
        |    ${splitCaseDuck("doc_id")} AS split FROM documents),
        |bg AS (SELECT doc_id, source, split, w[CAST(i AS INT)] AS w1,
        |    w[CAST(i+1 AS INT)] AS w2
        |  FROM w, unnest(range(1, len(w))) AS t(i) WHERE len(w) >= 2),
        |tb AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c2 FROM bg
        |  WHERE split = 'train' GROUP BY w1, w2),
        |tu AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS c1 FROM bg
        |  WHERE split = 'train' GROUP BY w1),
        |v AS (SELECT CAST(COUNT(DISTINCT w2) AS BIGINT) AS vocab FROM tb),
        |h AS (SELECT bg.source,
        |    ${graft.ColFns.detMlnSql("COALESCE(tb.c2, 0) + 1",
               "COALESCE(tu.c1, 0) + v.vocab")}
        |      AS mln
        |  FROM bg LEFT JOIN tb ON tb.w1 = bg.w1 AND tb.w2 = bg.w2
        |    LEFT JOIN tu ON tu.w1 = bg.w1, v
        |  WHERE bg.split <> 'train')
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(mln) AS BIGINT) AS nll_micro_total,
        |  ${graft.ColFns.r4Sql(graft.ColFns.detExpMicroSql(
             "-FLOOR(CAST(SUM(mln) AS DOUBLE) / COUNT(*) + 0.5)"))}
        |    AS perplexity_r4
        |FROM h GROUP BY source ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val bg = T(s, dir, "documents")
        .select($"doc_id", $"source", split($"text", " ").as("w"),
          expr(splitCaseSpark("doc_id")).as("split"))
        .filter(size($"w") >= 2)
        .select($"doc_id", $"source", $"split", explode(expr(
          "transform(sequence(1, size(w) - 1), " +
            "i -> struct(element_at(w, i) AS w1, element_at(w, i+1) AS w2))"))
          .as("p"))
        .select($"doc_id", $"source", $"split", $"p.w1", $"p.w2")
        .transform(graft.CacheScope.cached) // train counts + held scoring
      val train = bg.filter($"split" === "train")
      val tb = train.groupBy($"w1", $"w2").agg(count(lit(1)).as("c2"))
        .transform(graft.CacheScope.cached) // vocab + scoring join
      val tu = train.groupBy($"w1").agg(count(lit(1)).as("c1"))
      val v = tb.agg(countDistinct($"w2").as("vocab"))
      bg.filter($"split" =!= "train")
        .join(tb, Seq("w1", "w2"), "left")
        .join(tu, Seq("w1"), "left")
        .crossJoin(broadcast(v))
        .select($"source",
          graft.ColFns.detMln(coalesce($"c2", lit(0L)) + 1,
            coalesce($"c1", lit(0L)) + $"vocab").as("mln"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_bigrams"), sum($"mln").as("nll_micro_total"))
        .select($"source", $"n_bigrams", $"nll_micro_total",
          graft.ColFns.r4(graft.ColFns.detExpMicro(
            -floor($"nll_micro_total".cast("double") / $"n_bigrams" + 0.5d)))
            .as("perplexity_r4"))
        .orderBy($"source")
    },

    q("q384_tokenizer_fertility",
      // Tokenizer fertility audit — the per-source cost table a tokenizer
      // eval produces: fertility (subword tokens per whitespace word, x1e6)
      // and compression (chars per subword token, x1e6) under the fixture
      // subword vocabulary (q160's greedy longest-match), per source, with
      // each source's fertility delta vs the corpus-wide rate. High
      // fertility marks sources the tokenizer serves poorly (morphology /
      // domain mismatch) — they cost more context budget per word and
      // typically train worse per token. Same scale shape as q160: the
      // tokenizer runs ONCE per distinct word (the dictionary is orders of
      // magnitude smaller than the token stream — at 100 TB it is the only
      // thing tokenized; per-source totals are an equi-join rollup), and
      // the corpus baseline is a 1-row broadcast. All ratios are integer
      // micro/ppm via non-negative DIV.
      s"""WITH RECURSIVE dw AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |wc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM dw WHERE word <> '' GROUP BY source, word),
         |w AS (SELECT DISTINCT word FROM wc),
         |tok AS (
         |  SELECT word, CAST(1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS n FROM w
         |  UNION ALL
         |  SELECT word, i + ${stepCase("word", "CAST(i AS INT)")}, n + 1
         |  FROM tok WHERE i <= len(word)),
         |tc AS (SELECT word, MAX(n) AS n_tok FROM tok GROUP BY word),
         |s AS (SELECT wc.source,
         |    CAST(SUM(wc.cnt) AS BIGINT) AS n_words,
         |    CAST(SUM(wc.cnt * tc.n_tok) AS BIGINT) AS n_subwords,
         |    CAST(SUM(wc.cnt * len(wc.word)) AS BIGINT) AS n_chars
         |  FROM wc JOIN tc ON wc.word = tc.word GROUP BY wc.source),
         |g AS (SELECT CAST(SUM(n_subwords) AS BIGINT) AS gs,
         |    CAST(SUM(n_words) AS BIGINT) AS gw FROM s)
         |SELECT source, n_words, n_subwords, n_chars,
         |  (n_subwords * 1000000) // n_words AS fertility_ppm,
         |  (n_chars * 1000000) // n_subwords AS cpt_micro,
         |  (n_subwords * 1000000) // n_words
         |    - (g.gs * 1000000) // g.gw AS delta_vs_corpus_ppm
         |FROM s, g ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val wc = T(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"source", $"word").agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheScope.cached) // dictionary + per-source totals
      val tc = wc.select($"word").distinct()
        .withColumn("n_tok", expr(
          s"""aggregate(sequence(1, length(word)),
             |  named_struct('i', 1, 'n', CAST(0 AS BIGINT)),
             |  (acc, p) -> IF(p <> acc.i, acc, named_struct(
             |    'i', acc.i + ${stepCase("word", "acc.i")},
             |    'n', acc.n + CAST(1 AS BIGINT))),
             |  acc -> acc.n)""".stripMargin))
      val srcAgg = wc.join(tc, "word")
        .groupBy($"source")
        .agg(sum($"cnt").as("n_words"),
          sum($"cnt" * $"n_tok").as("n_subwords"),
          sum($"cnt" * length($"word")).as("n_chars"))
      val g = srcAgg.agg(sum($"n_subwords").as("gs"), sum($"n_words").as("gw"))
      srcAgg.crossJoin(broadcast(g))
        .select($"source", $"n_words", $"n_subwords", $"n_chars",
          expr("(n_subwords * 1000000) div n_words").as("fertility_ppm"),
          expr("(n_chars * 1000000) div n_subwords").as("cpt_micro"),
          expr("(n_subwords * 1000000) div n_words - (gs * 1000000) div gw")
            .as("delta_vs_corpus_ppm"))
        .orderBy($"source")
    },

    q("q398_segmentation_optimality",
      // How much does GREEDY longest-match tokenization (q160/q384's
      // ladder — what byte-fallback BPE inference does) overshoot the
      // OPTIMAL segmentation under the same vocabulary (what a
      // SentencePiece-unigram Viterbi pass would produce with uniform
      // piece costs)? Optimal counts come from the classic segmentation
      // DP — best[i] = 1 + min over vocab pieces ending at i of
      // best[i-L] — which, because the longest piece is 4 chars, runs as
      // a LINEAR recursion carrying only the last four best values: the
      // same dictionary-sized recursive walk as q160 (tokenize once per
      // DISTINCT word; per-source totals by equi-join rollup). The
      // readout is the per-source inflation ppm — the price of greedy
      // inference a tokenizer team weighs against Viterbi's cost — plus
      // the corpus-level worst word set certified optimal <= greedy by
      // the AnalyticsSpec law. On this fixture the inflation reads an
      // honest ZERO (no corpus word hits the greedy trap); the
      // AnalyticsSpec plant ("tionating": greedy 4, optimal 3) proves
      // the DP searches.
      s"""WITH RECURSIVE dw AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |wc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM dw WHERE word <> '' GROUP BY source, word),
         |w AS (SELECT DISTINCT word FROM wc),
         |tok AS (
         |  SELECT word, CAST(1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS n FROM w
         |  UNION ALL
         |  SELECT word, i + ${stepCase("word", "CAST(i AS INT)")}, n + 1
         |  FROM tok WHERE i <= len(word)),
         |tc AS (SELECT word, MAX(n) AS greedy_n FROM tok GROUP BY word),
         |seg AS (
         |  SELECT word, CAST(1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS b1,
         |    CAST(9999999 AS BIGINT) AS b2, CAST(9999999 AS BIGINT) AS b3,
         |    CAST(9999999 AS BIGINT) AS b4
         |  FROM w
         |  UNION ALL
         |  SELECT word, i + 1,
         |    ${bestStep("word", "CAST(i AS INT)", "b1", "b2", "b3", "b4")},
         |    b1, b2, b3
         |  FROM seg WHERE i <= len(word)),
         |oc AS (SELECT word, b1 AS opt_n FROM seg WHERE i = len(word) + 1),
         |s AS (SELECT wc.source,
         |    CAST(SUM(wc.cnt * tc.greedy_n) AS BIGINT) AS greedy_subwords,
         |    CAST(SUM(wc.cnt * oc.opt_n) AS BIGINT) AS opt_subwords
         |  FROM wc JOIN tc ON tc.word = wc.word
         |          JOIN oc ON oc.word = wc.word
         |  GROUP BY wc.source)
         |SELECT source, greedy_subwords, opt_subwords,
         |  ((greedy_subwords - opt_subwords) * 1000000) // opt_subwords
         |    AS inflation_ppm
         |FROM s ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val wc = T(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"source", $"word").agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheScope.cached) // dictionary + rollup
      val dict = wc.select($"word").distinct()
        .transform(graft.CacheScope.cached) // greedy + DP share it
      val tc = dict.withColumn("greedy_n", expr(
        s"""aggregate(sequence(1, length(word)),
           |  named_struct('i', 1, 'n', CAST(0 AS BIGINT)),
           |  (acc, p) -> IF(p <> acc.i, acc, named_struct(
           |    'i', acc.i + ${stepCase("word", "acc.i")},
           |    'n', acc.n + CAST(1 AS BIGINT))),
           |  acc -> acc.n)""".stripMargin))
      val oc = dict.withColumn("opt_n", expr(
        s"""aggregate(sequence(1, length(word)),
           |  named_struct('b1', CAST(0 AS BIGINT), 'b2', CAST(9999999 AS BIGINT),
           |    'b3', CAST(9999999 AS BIGINT), 'b4', CAST(9999999 AS BIGINT)),
           |  (acc, i) -> named_struct(
           |    'b1', ${bestStep("word", "i", "acc.b1", "acc.b2", "acc.b3", "acc.b4")},
           |    'b2', acc.b1, 'b3', acc.b2, 'b4', acc.b3),
           |  acc -> acc.b1)""".stripMargin))
      wc.join(tc, "word").join(oc, "word")
        .groupBy($"source")
        .agg(sum($"cnt" * $"greedy_n").as("greedy_subwords"),
          sum($"cnt" * $"opt_n").as("opt_subwords"))
        .select($"source", $"greedy_subwords", $"opt_subwords",
          expr("((greedy_subwords - opt_subwords) * 1000000) div opt_subwords")
            .as("inflation_ppm"))
        .orderBy($"source")
    },

    q("q401_vocab_ablation",
      // Vocabulary-tier ablation — the compression-vs-vocab-size curve a
      // tokenizer team reads before pruning merges: re-tokenize the
      // corpus with the 4-gram tier removed, then with the 3-gram tier
      // also removed, and report each tier's marginal token inflation
      // per source. Longest merges are the rarest-but-densest; if
      // no4_inflation is small, those six 4-gram slots are better spent
      // elsewhere. Same dictionary-sized shape as q160/q384/q398: three
      // greedy walks over DISTINCT words, per-source totals by rollup.
      s"""WITH RECURSIVE dw AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |wc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM dw WHERE word <> '' GROUP BY source, word),
         |w AS (SELECT DISTINCT word FROM wc),
         |t0 AS (
         |  SELECT word, CAST(1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS n FROM w
         |  UNION ALL
         |  SELECT word, i + ${stepCase("word", "CAST(i AS INT)")}, n + 1
         |  FROM t0 WHERE i <= len(word)),
         |c0 AS (SELECT word, MAX(n) AS n_full FROM t0 GROUP BY word),
         |t1 AS (
         |  SELECT word, CAST(1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS n FROM w
         |  UNION ALL
         |  SELECT word, i + ${stepCaseNo4("word", "CAST(i AS INT)")}, n + 1
         |  FROM t1 WHERE i <= len(word)),
         |c1 AS (SELECT word, MAX(n) AS n_no4 FROM t1 GROUP BY word),
         |t2 AS (
         |  SELECT word, CAST(1 AS BIGINT) AS i, CAST(0 AS BIGINT) AS n FROM w
         |  UNION ALL
         |  SELECT word, i + ${stepCaseNo43("word", "CAST(i AS INT)")}, n + 1
         |  FROM t2 WHERE i <= len(word)),
         |c2 AS (SELECT word, MAX(n) AS n_no43 FROM t2 GROUP BY word),
         |s AS (SELECT wc.source,
         |    CAST(SUM(wc.cnt * c0.n_full) AS BIGINT) AS tokens_full,
         |    CAST(SUM(wc.cnt * c1.n_no4) AS BIGINT) AS tokens_no4,
         |    CAST(SUM(wc.cnt * c2.n_no43) AS BIGINT) AS tokens_no43
         |  FROM wc JOIN c0 ON c0.word = wc.word
         |          JOIN c1 ON c1.word = wc.word
         |          JOIN c2 ON c2.word = wc.word
         |  GROUP BY wc.source)
         |SELECT source, tokens_full, tokens_no4, tokens_no43,
         |  ((tokens_no4 - tokens_full) * 1000000) // tokens_full
         |    AS no4_inflation_ppm,
         |  ((tokens_no43 - tokens_no4) * 1000000) // tokens_no4
         |    AS no43_inflation_ppm
         |FROM s ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val wc = T(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"source", $"word").agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheScope.cached)
      val dict = wc.select($"word").distinct()
        .transform(graft.CacheScope.cached) // three walks share it
      def walk(step: (String, String) => String, out: String): DataFrame =
        dict.withColumn(out, expr(
          s"""aggregate(sequence(1, length(word)),
             |  named_struct('i', 1, 'n', CAST(0 AS BIGINT)),
             |  (acc, p) -> IF(p <> acc.i, acc, named_struct(
             |    'i', acc.i + ${step("word", "acc.i")},
             |    'n', acc.n + CAST(1 AS BIGINT))),
             |  acc -> acc.n)""".stripMargin))
      wc.join(walk(stepCase(_, _), "n_full"), "word")
        .join(walk(stepCaseNo4, "n_no4"), "word")
        .join(walk(stepCaseNo43, "n_no43"), "word")
        .groupBy($"source")
        .agg(sum($"cnt" * $"n_full").as("tokens_full"),
          sum($"cnt" * $"n_no4").as("tokens_no4"),
          sum($"cnt" * $"n_no43").as("tokens_no43"))
        .select($"source", $"tokens_full", $"tokens_no4", $"tokens_no43",
          expr("((tokens_no4 - tokens_full) * 1000000) div tokens_full")
            .as("no4_inflation_ppm"),
          expr("((tokens_no43 - tokens_no4) * 1000000) div tokens_no4")
            .as("no43_inflation_ppm"))
        .orderBy($"source")
    },
  ) ++ noveltyAndEntropy

  private lazy val noveltyAndEntropy: Seq[QueryDef] = Seq(
    q("q187_ngram_novelty", {
      val w = "string_split(text, ' ')"
      s"""WITH sh AS (SELECT doc_id, ${duckHashedSet(duckShingles(w))} AS hh
         |  FROM documents WHERE len($w) >= 3),
         |ex AS (SELECT doc_id, unnest(hh) AS h FROM sh),
         |fo AS (SELECT doc_id, h,
         |    MIN(doc_id) OVER (PARTITION BY h) AS first_doc FROM ex)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  (CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // COUNT(*) AS novelty_ppm
         |FROM fo GROUP BY doc_id ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // N-gram novelty: what fraction of a document's distinct 3-grams has
      // never appeared in any EARLIER document (doc_id = ingest order) —
      // the incremental-crawl signal for "is this new content or a re-hash
      // of what we already have", and the streaming-friendly cousin of the
      // pairwise dedup family (no pairs). The plan never sorts or re-joins
      // the gram stream: first-seen resolution is ONE hash aggregation on
      // the 8-byte gram hash, and because (doc, gram) rows are distinct,
      // per-doc novel counts fall out of re-aggregating THAT result by its
      // winner — two aggregations plus a doc-sized join, no window sort
      // over the corpus (measured 4.8 s -> sub-second at sf0.1). At 100 TB
      // the same shape runs per ingest batch against a gram->first-seen
      // index; the arithmetic is identical.
      val sh = T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 3)
        .withColumn("hh", expr(hashedSetSql(shinglesSql("w"))))
        .select($"doc_id", explode($"hh").as("h"))
        .transform(graft.CacheScope.cached) // gram-count pass + first-seen pass
      val grams = sh.groupBy($"doc_id").agg(count(lit(1)).as("n_grams"))
      val novel = sh.groupBy($"h").agg(min($"doc_id").as("first_doc"))
        .groupBy($"first_doc").agg(count(lit(1)).as("n_novel"))
      grams
        .join(novel.withColumnRenamed("first_doc", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id", $"n_grams",
          coalesce($"n_novel", lit(0L)).as("n_novel"))
        .withColumn("novelty_ppm", expr("(n_novel * 1000000) DIV n_grams"))
        .orderBy($"doc_id")
    },

    q("q192_incremental_novelty", {
      val w = "string_split(text, ' ')"
      // The ORACLE is q187's full-corpus recompute restricted to the delta
      // docs — certifying that novelty maintained incrementally against a
      // persisted gram index equals novelty recomputed from scratch
      // (q171's maintenance theorem, applied to the text pipeline).
      s"""WITH sh AS (SELECT doc_id, ${duckHashedSet(duckShingles(w))} AS hh
         |  FROM documents WHERE len($w) >= 3),
         |ex AS (SELECT doc_id, unnest(hh) AS h FROM sh),
         |fo AS (SELECT doc_id, h,
         |    MIN(doc_id) OVER (PARTITION BY h) AS first_doc FROM ex)
         |SELECT doc_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_grams,
         |  CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel,
         |  (CAST(SUM(CASE WHEN first_doc = doc_id THEN 1 ELSE 0 END) AS BIGINT)
         |    * 1000000) // COUNT(*) AS novelty_ppm
         |FROM fo WHERE doc_id >= 250 GROUP BY doc_id ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // q187 run the way a daily crawl actually runs it: the BASE corpus
      // (doc_id < 250) has already been collapsed into a persisted
      // gram -> first-seen INDEX; the DELTA batch is scored against that
      // index plus itself (a delta gram is novel iff it misses the index
      // AND this doc is its first holder within the batch) — the base
      // corpus is never rescanned, the index is gram-keyed (joined, NOT
      // broadcast: it grows with the corpus), and the arithmetic provably
      // equals the from-scratch recompute the oracle runs. At 100 TB this
      // is the difference between scoring 1 TB/day and rescanning 100 TB
      // for every batch; the updated index is one union + min away.
      val grams = T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 3)
        .withColumn("hh", expr(hashedSetSql(shinglesSql("w"))))
        .select($"doc_id", explode($"hh").as("h"))
      val index = grams.filter($"doc_id" < 250)
        .groupBy($"h").agg(min($"doc_id").as("base_first"))
      val delta = grams.filter($"doc_id" >= 250)
        .transform(graft.CacheScope.cached) // gram-count pass + scoring pass
      val deltaMin = delta.groupBy($"h").agg(min($"doc_id").as("delta_first"))
      val scored = delta
        .join(index, Seq("h"), "left")
        .join(deltaMin, Seq("h"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_grams"),
          sum(when($"base_first".isNull && $"delta_first" === $"doc_id", 1L)
            .otherwise(0L)).as("n_novel"))
      scored
        .withColumn("novelty_ppm", expr("(n_novel * 1000000) DIV n_grams"))
        .orderBy($"doc_id")
    },

    q("q188_char_entropy",
      s"""WITH ch AS (SELECT doc_id,
         |    unnest(list_transform(range(1, length(text) + 1),
         |      i -> substr(text, CAST(i AS INT), 1))) AS c
         |  FROM documents),
         |cc AS (SELECT doc_id, c, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM ch GROUP BY doc_id, c),
         |d AS (SELECT doc_id,
         |    CAST(SUM(cnt) AS BIGINT) AS n,
         |    CAST(COUNT(*) AS BIGINT) AS n_distinct,
         |    CAST(SUM(cnt * ${graft.ColFns.detMlnIntSql("cnt")}) AS BIGINT) AS sum_clnc
         |  FROM cc GROUP BY doc_id)
         |SELECT doc_id, n, n_distinct, sum_clnc,
         |  ${graft.ColFns.r6Sql(graft.ColFns.detLnSql("n", "1")
             + " - CAST(sum_clnc AS DOUBLE) / (CAST(1000000 AS DOUBLE) * n)")} AS entropy
         |FROM d ORDER BY doc_id""") { (s, dir) =>
      import graft.ColFns.r6
      import s.implicits._
      // Character-level Shannon entropy — the cheap gibberish/encoded-blob
      // detector every quality stack runs (natural language sits ~2.5-4.5
      // bits; base64 and key dumps saturate). H = ln(n) - sum(c*ln c)/n:
      // each ln(c) is micro-rounded once per distinct count (q136's
      // discipline) and multiplied by the exact integer c, so the per-doc
      // sum is exact and the single closing division runs on identical
      // operands in both engines. Per-char explode then two keyed
      // aggregations on (doc, char) — map-heavy, shuffle-light (the
      // (doc,char) space is alphabet-bounded per doc).
      T(s, dir, "documents")
        // spread: the per-char explode + partial agg otherwise run inside
        // the single-row-group scan task (Tables.spread rationale)
        .transform(graft.Tables.spread)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, length(text)), i -> substring(text, i, 1))")).as("c"))
        .groupBy($"doc_id", $"c").agg(count(lit(1)).as("cnt"))
        .groupBy($"doc_id")
        .agg(sum($"cnt").as("n"), count(lit(1)).as("n_distinct"),
          sum($"cnt" * graft.ColFns.detMlnInt($"cnt")).as("sum_clnc"))
        .withColumn("entropy",
          r6(graft.ColFns.detLn($"n", lit(1L))
            - $"sum_clnc".cast("double") / (lit(1000000d) * $"n")))
        .orderBy($"doc_id")
    },

    q("q196_readability",
      // Flesch reading-ease in integer MICRO units: counts come from the
      // same regex in both engines ('[.!?]+' sentence runs, '[aeiouy]+'
      // vowel groups as the syllable proxy, clamped to >= 1 per word), and
      // every division is a non-negative integer DIV — no float ratio to
      // diverge. FRE = 206.835 - 1.015*(W/S) - 84.6*(Syl/W).
      """WITH c AS (SELECT doc_id,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS n_words,
        |    CAST(GREATEST(1, len(regexp_extract_all(text, '[.!?]+'))) AS BIGINT)
        |      AS n_sentences,
        |    CAST(GREATEST(len(string_split(text, ' ')),
        |      len(regexp_extract_all(lower(text), '[aeiouy]+'))) AS BIGINT)
        |      AS n_syllables
        |  FROM documents),
        |m AS (SELECT doc_id, n_words, n_sentences, n_syllables,
        |    (n_words * 1000000) // n_sentences AS wps_micro,
        |    (n_syllables * 1000000) // n_words AS spw_micro
        |  FROM c)
        |SELECT doc_id, n_words, n_sentences, n_syllables,
        |  206835000 - (1015 * wps_micro) // 1000 - (84600 * spw_micro) // 1000
        |    AS fre_micro,
        |  CASE WHEN 206835000 - (1015 * wps_micro) // 1000
        |      - (84600 * spw_micro) // 1000 >= 60000000 THEN 'easy'
        |    WHEN 206835000 - (1015 * wps_micro) // 1000
        |      - (84600 * spw_micro) // 1000 >= 30000000 THEN 'medium'
        |    ELSE 'hard' END AS band
        |FROM m ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // Readability scoring — the curation signal that separates
      // encyclopedic prose from listicles and SEO sludge when length and
      // stopword ratios (q48) look identical. Pure map-side: three regex
      // counts and four integer ops per doc, no shuffle except the
      // presentation sort; composes with q129's gate stack as one more
      // AND-able integer column. The vowel-group syllable proxy is the
      // standard cheap estimator (exact syllabification needs a dictionary);
      // clamping syllables to >= words keeps the estimate sane on
      // digit/symbol-heavy docs.
      val counted = T(s, dir, "documents")
        .select($"doc_id",
          size(split($"text", " ")).cast("long").as("n_words"),
          greatest(lit(1), size(expr("regexp_extract_all(text, '[.!?]+', 0)")))
            .cast("long").as("n_sentences"),
          greatest(size(split($"text", " ")),
            size(expr("regexp_extract_all(lower(text), '[aeiouy]+', 0)")))
            .cast("long").as("n_syllables"))
        .withColumn("wps_micro", expr("(n_words * 1000000) DIV n_sentences"))
        .withColumn("spw_micro", expr("(n_syllables * 1000000) DIV n_words"))
        .withColumn("fre_micro", expr(
          "206835000 - (1015 * wps_micro) DIV 1000 - (84600 * spw_micro) DIV 1000"))
      counted
        .select($"doc_id", $"n_words", $"n_sentences", $"n_syllables",
          $"fre_micro",
          when($"fre_micro" >= 60000000L, "easy")
            .when($"fre_micro" >= 30000000L, "medium")
            .otherwise("hard").as("band"))
        .orderBy($"doc_id")
    },

    q("q202_source_kl_divergence", {
      def lnm(x: String) = graft.ColFns.detMlnIntSql(x)
      // KL(P_source || P_corpus) over unigram LMs, micro-log integers:
      // each ln is rounded ONCE per distinct integer count (q136's
      // discipline), every product/sum is exact, and only the final
      // normalization divides — so the divergence is bit-identical across
      // engines. No smoothing needed: every source word exists in the
      // corpus LM by construction.
      s"""WITH w AS (SELECT source, unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |ws AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS c_sw
         |  FROM w GROUP BY source, word),
         |wc AS (SELECT word, CAST(SUM(c_sw) AS BIGINT) AS c_w
         |  FROM ws GROUP BY word),
         |ns AS (SELECT source, CAST(SUM(c_sw) AS BIGINT) AS n_s
         |  FROM ws GROUP BY source),
         |nt AS (SELECT CAST(SUM(c_sw) AS BIGINT) AS n FROM ws),
         |t AS (SELECT ws.source, MAX(ns.n_s) AS n_tokens,
         |    CAST(SUM(ws.c_sw * (${lnm("ws.c_sw")} - ${lnm("ns.n_s")}
         |      - ${lnm("wc.c_w")} + ${lnm("nt.n")})) AS BIGINT) AS kl_sum_micro
         |  FROM ws JOIN wc ON ws.word = wc.word
         |    JOIN ns ON ws.source = ns.source CROSS JOIN nt
         |  GROUP BY ws.source)
         |SELECT source, n_tokens, kl_sum_micro,
         |  ${graft.ColFns.r6Sql(
             "CAST(kl_sum_micro AS DOUBLE) / (CAST(1000000 AS DOUBLE) * n_tokens)")}
         |    AS kl_nats
         |FROM t ORDER BY source"""
    }) { (s, dir) =>
      import graft.ColFns.r6
      import s.implicits._
      // Corpus drift / domain-shift measurement — the data-mixing signal
      // behind "how far is this source's language from the blend" (DSIR's
      // q175 ranks DOCS against a target; this scores SOURCES against the
      // corpus — the dashboard number a curation team tracks per crawl).
      // Token counts aggregate once; the per-(source,word) table joins the
      // vocab-sized corpus LM on word (keyed equi-join — the corpus never
      // re-shuffles) and the source-count-sized tables broadcast. KL term
      // c_sw*(ln c_sw - ln n_s - ln c_w + ln n) sums exactly per source.
      def lnmC(c: Column): Column = graft.ColFns.detMlnInt(c)
      val ws = T(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("word"))
        .groupBy($"source", $"word").agg(count(lit(1)).as("c_sw"))
        .transform(graft.CacheScope.cached)
      val wc = ws.groupBy($"word").agg(sum($"c_sw").as("c_w"))
      val ns = ws.groupBy($"source").agg(sum($"c_sw").as("n_s"))
      val nt = ws.agg(sum($"c_sw").as("n"))
      ws.join(wc, "word")
        .join(broadcast(ns), "source")
        .crossJoin(broadcast(nt))
        .groupBy($"source")
        .agg(max($"n_s").as("n_tokens"),
          sum($"c_sw" * (lnmC($"c_sw") - lnmC($"n_s") - lnmC($"c_w")
            + lnmC($"n"))).as("kl_sum_micro"))
        .withColumn("kl_nats",
          r6($"kl_sum_micro".cast("double") / (lit(1000000d) * $"n_tokens")))
        .orderBy($"source")
    },

    q("q210_pmi_collocations", {
      def lnm(x: String) = graft.ColFns.detMlnIntSql(x)
      // Pointwise mutual information over a forward 4-word window:
      // PMI = ln(c_xy * N / (c_x * c_y)) as a SUM of micro-rounded logs
      // (q136's discipline) — integer-exact ranking in both engines.
      // Pairs are generated MAP-SIDE inside the token array (no positional
      // self-join): each position pairs with the next <= 4 positions.
      s"""WITH d AS (SELECT string_split(text, ' ') AS w FROM documents),
         |pr AS (SELECT unnest(flatten(list_transform(range(1, len(w)), i ->
         |    list_transform(range(i + 1, least(i + 4, len(w)) + 1), j ->
         |      w[CAST(i AS INT)] || ' ' || w[CAST(j AS INT)])))) AS pair
         |  FROM d WHERE len(w) >= 2),
         |cp AS (SELECT pair, CAST(COUNT(*) AS BIGINT) AS c_xy
         |  FROM pr GROUP BY pair HAVING COUNT(*) >= 20),
         |tok AS (SELECT unnest(w) AS word FROM d),
         |cx AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS c FROM tok
         |  GROUP BY word),
         |nt AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM tok),
         |sc AS (SELECT cp.pair, cp.c_xy,
         |    ${lnm("cp.c_xy")} + ${lnm("nt.n")} - ${lnm("a.c")} - ${lnm("b.c")}
         |      AS pmi_micro
         |  FROM cp
         |    JOIN cx a ON a.word = split_part(cp.pair, ' ', 1)
         |    JOIN cx b ON b.word = split_part(cp.pair, ' ', 2)
         |    CROSS JOIN nt)
         |SELECT pair, c_xy, pmi_micro FROM sc
         |ORDER BY pmi_micro DESC, pair LIMIT 30"""
    }) { (s, dir) =>
      import s.implicits._
      // Collocation extraction — the phrase-mining pass that finds "new
      // york"-style units a whitespace tokenizer misses (feeds tokenizer
      // vocab curation and q177's BPE merge priors). The pair stream is
      // generated inside each token array (window <= 4 ahead), so there is
      // NO positional self-join — the classic formulation joins the token
      // table to itself on doc + position band, which at 100 TB shuffles
      // the corpus twice; this shape pays one pair aggregation instead,
      // and the support floor (c_xy >= 20) cuts the Zipf tail before the
      // vocab-keyed PMI joins. Top-30 via TakeOrderedAndProject.
      def lnmC(c: Column): Column = graft.ColFns.detMlnInt(c)
      // spread BEFORE the cache: the cache inherits the scan's single
      // partition otherwise, so the map-side pair generation (the hot
      // ~0.7 s leg) runs serially in every consumer (guide §2.5)
      val d = graft.Tables.spread(T(s, dir, "documents"))
        .select(split($"text", " ").as("w"))
        .transform(graft.CacheScope.cached)
      val pr = d.filter(size($"w") >= 2)
        .select(explode(expr(
          """flatten(transform(sequence(1, size(w) - 1), i ->
            |  transform(sequence(i + 1, least(i + 4, size(w))), j ->
            |    concat(element_at(w, i), ' ', element_at(w, j)))))""".stripMargin))
          .as("pair"))
      val cp = pr.groupBy($"pair").agg(count(lit(1)).as("c_xy"))
        .filter($"c_xy" >= 20)
      val tok = d.select(explode($"w").as("word"))
      val cx = tok.groupBy($"word").agg(count(lit(1)).as("c"))
        .transform(graft.CacheScope.cached)
      val nt = tok.agg(count(lit(1)).as("n"))
      cp.join(cx.as("a"), expr("a.word = split_part(pair, ' ', 1)"))
        .join(cx.as("b"), expr("b.word = split_part(pair, ' ', 2)"))
        .crossJoin(broadcast(nt))
        .select($"pair", $"c_xy",
          (lnmC($"c_xy") + lnmC($"n") - lnmC($"a.c") - lnmC($"b.c"))
            .as("pmi_micro"))
        .orderBy($"pmi_micro".desc, $"pair")
        .limit(30)
    },

    q("q217_rake_keywords", {
      val all = allStops.map(w => s"'$w'").mkString(", ")
      // RAKE (Rose et al. 2010): candidate phrases = maximal stopword-free
      // word runs capped at 2-4 words; word score = ((deg+freq)*1e6) DIV
      // freq in integer micro units; phrase score = sum of word scores.
      s"""WITH w0 AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |w AS (SELECT doc_id, CAST(generate_subscripts(w,1)-1 AS BIGINT) AS pos,
         |    unnest(w) AS word FROM w0),
         |m AS (SELECT doc_id, pos, word,
         |    CASE WHEN word IN ($all) THEN 1 ELSE 0 END AS stop FROM w),
         |seg AS (SELECT *, SUM(stop) OVER (PARTITION BY doc_id ORDER BY pos) AS sid
         |  FROM m),
         |pw AS (SELECT doc_id, sid, pos, word FROM seg WHERE stop = 0),
         |ph AS (SELECT doc_id, sid, CAST(COUNT(*) AS BIGINT) AS len,
         |    string_agg(word, ' ' ORDER BY pos) AS phrase
         |  FROM pw GROUP BY doc_id, sid),
         |ph4 AS (SELECT * FROM ph WHERE len BETWEEN 2 AND 4),
         |pw4 AS (SELECT pw.*, ph4.len, ph4.phrase
         |  FROM pw JOIN ph4 USING (doc_id, sid)),
         |ws AS (SELECT word, CAST(COUNT(*) AS BIGINT) AS freq,
         |    CAST(SUM(len - 1) AS BIGINT) AS deg
         |  FROM pw4 GROUP BY word),
         |sc AS (SELECT word, ((deg + freq) * 1000000) // freq AS score_u FROM ws),
         |pph AS (SELECT pw4.doc_id, pw4.sid, pw4.phrase,
         |    CAST(SUM(sc.score_u) AS BIGINT) AS score_u
         |  FROM pw4 JOIN sc USING (word) GROUP BY pw4.doc_id, pw4.sid, pw4.phrase),
         |agg AS (SELECT phrase, CAST(MIN(score_u) AS BIGINT) AS score_u,
         |    CAST(COUNT(*) AS BIGINT) AS n_occ
         |  FROM pph GROUP BY phrase)
         |SELECT phrase, n_occ, score_u FROM agg
         |ORDER BY score_u DESC, phrase LIMIT 20"""
    }) { (s, dir) =>
      import s.implicits._
      // RAKE keyword extraction — the unsupervised keyphrase pass that
      // needs no trained model, run to tag a corpus before mixing. Phrase
      // segmentation is a per-doc window (stopword-run cumulative sum);
      // word degree/frequency aggregate over phrase words; the vocab-sized
      // score table is broadcast back onto phrase words. No self-joins —
      // every heavy op is a keyed aggregation, so the plan survives a
      // corpus-sized scale-up; phrases are capped at 4 words (standard
      // RAKE practice, and it bounds the string_agg state per group).
      val all = allStops.map(w => s"'$w'").mkString(", ")
      // spread the single-row-group scan under the posexplode (guide
      // §2.5), and cache the segmented phrase words: both the phrase
      // assembly and the score join read pw, which otherwise re-ran the
      // scan + explode + stopword window once per branch
      val w = graft.Tables.spread(T(s, dir, "documents"))
        .select($"doc_id", posexplode(split($"text", " ")))
        .toDF("doc_id", "pos", "word")
      val seg = w
        .withColumn("stop", when(expr(s"word IN ($all)"), 1).otherwise(0))
        .withColumn("sid", sum($"stop")
          .over(Window.partitionBy($"doc_id").orderBy($"pos")))
      val pw = seg.where($"stop" === 0)
        .select($"doc_id", $"sid", $"pos", $"word")
        .transform(graft.CacheScope.cached)
      val ph = pw.groupBy($"doc_id", $"sid").agg(
        count(lit(1)).as("len"),
        expr("array_join(transform(array_sort(collect_list(struct(pos, word))), x -> x.word), ' ')")
          .as("phrase"))
      val ph4 = ph.where($"len".between(2, 4))
      val pw4 = pw.join(ph4, Seq("doc_id", "sid"))
      val sc = pw4.groupBy($"word")
        .agg(count(lit(1)).as("freq"), sum($"len" - 1).as("deg"))
        .select($"word", expr("((deg + freq) * 1000000) div freq").as("score_u"))
      pw4.join(broadcast(sc), Seq("word"))
        .groupBy($"doc_id", $"sid", $"phrase")
        .agg(sum($"score_u").as("score_u"))
        .groupBy($"phrase")
        .agg(min($"score_u").as("score_u"), count(lit(1)).as("n_occ"))
        .select($"phrase", $"n_occ", $"score_u")
        .orderBy($"score_u".desc, $"phrase")
        .limit(20)
    },

    q("q238_naive_bayes", {
      // Trained multinomial Naive Bayes language classifier — the
      // fastText-style learned filter every LLM curation stack runs
      // (vs q47's fixed stopword heuristic): even docs train per-lang
      // token counts with add-one smoothing, odd docs are scored and the
      // confusion matrix comes back. Scale shape: the class stats (a few
      // rows) and doc priors broadcast; the (lang, tok) likelihood table
      // is vocab-sized and joins KEYED on the token pair — it grows with
      // the corpus, so it is deliberately not hand-broadcast (q136's
      // rationale); test tokens fan out only by |classes| (bounded).
      // Micro-log integers (ColFns.detMln — deterministic software ln)
      // before every sum keep both engines exact; argmax tie-breaks on the
      // class name.
      s"""WITH tk AS (SELECT doc_id, lang,
        |    unnest(string_split(text,' ')) tok FROM documents),
        |tr AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
        |cls AS (SELECT lang, CAST(COUNT(*) AS BIGINT) n_tok FROM tr GROUP BY lang),
        |docs AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) n_docs
        |  FROM tr GROUP BY lang),
        |tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) nd,
        |    CAST(COUNT(DISTINCT tok) AS BIGINT) v FROM tr),
        |ct AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) c FROM tr GROUP BY 1, 2),
        |te AS (SELECT doc_id, lang AS lang_true, tok FROM tk WHERE doc_id % 2 = 1),
        |sc AS (SELECT te.doc_id, te.lang_true, cls.lang AS cand,
        |    ${graft.ColFns.detMlnSql("COALESCE(ct.c, 0) + 1",
               "cls.n_tok + tot.v")} mlp
        |  FROM te CROSS JOIN cls CROSS JOIN tot
        |  LEFT JOIN ct ON ct.lang = cls.lang AND ct.tok = te.tok),
        |ds AS (SELECT doc_id, lang_true, cand, CAST(SUM(mlp) AS BIGINT) s
        |  FROM sc GROUP BY 1, 2, 3),
        |dsp AS (SELECT ds.doc_id, ds.lang_true, ds.cand,
        |    ds.s + ${graft.ColFns.detMlnSql("docs.n_docs", "tot.nd")} score
        |  FROM ds JOIN docs ON ds.cand = docs.lang CROSS JOIN tot),
        |pred AS (SELECT doc_id, lang_true, cand AS lang_pred,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) rn FROM dsp)
        |SELECT lang_true, lang_pred, CAST(COUNT(*) AS BIGINT) AS n
        |FROM pred WHERE rn = 1 GROUP BY 1, 2 ORDER BY 1, 2"""
    }) { (s, dir) =>
      import s.implicits._
      val tk = T(s, dir, "documents")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
        .transform(graft.CacheScope.cached) // feeds train stats + test side
      val tr = tk.filter($"doc_id" % 2 === 0)
      val cls = tr.groupBy($"lang").agg(count(lit(1)).as("n_tok"))
      val docs = tr.groupBy($"lang")
        .agg(countDistinct($"doc_id").as("n_docs"))
      val tot = tr.agg(countDistinct($"doc_id").as("nd"),
        countDistinct($"tok").as("v"))
      val ct = tr.groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
      val te = tk.filter($"doc_id" % 2 === 1)
        .select($"doc_id", $"lang".as("lang_true"), $"tok")
      val sc = te
        .crossJoin(broadcast(cls.select($"lang".as("cand"), $"n_tok")))
        .crossJoin(broadcast(tot))
        .join(ct.select($"lang".as("cand"), $"tok", $"c"),
          Seq("cand", "tok"), "left")
        .select($"doc_id", $"lang_true", $"cand",
          graft.ColFns.detMln(coalesce($"c", lit(0L)) + 1,
            $"n_tok" + $"v").as("mlp"))
      val ds = sc.groupBy($"doc_id", $"lang_true", $"cand")
        .agg(sum($"mlp").as("s"))
      val dsp = ds
        .join(broadcast(docs.select($"lang".as("cand"), $"n_docs")), Seq("cand"))
        .crossJoin(broadcast(tot))
        .select($"doc_id", $"lang_true", $"cand",
          ($"s" + graft.ColFns.detMln($"n_docs", $"nd")).as("score"))
      val byDoc = Window.partitionBy($"doc_id")
        .orderBy($"score".desc, $"cand")
      dsp.withColumn("rn", row_number().over(byDoc))
        .filter($"rn" === 1)
        .groupBy($"lang_true", $"cand".as("lang_pred"))
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang_true", $"lang_pred")
    },

    q("q360_label_noise",
      // Label-noise triage (confident-learning style): the q238 Naive
      // Bayes model trained on even docs scores the held-out odd docs,
      // and a doc whose PREDICTED class beats its GIVEN label by a wide
      // margin (>= 2e6 micro-log = 2 nats) is flagged a label-noise
      // SUSPECT — the cleanlab-style disagreement queue a labeling
      // operation reviews before the next training run. Per language:
      // scored docs, suspects, suspect ppm, and the single worst doc
      // (max margin, doc_id tie) for spot-checking. Margins are exact
      // differences of the integer micro-log scores, so the flag cannot
      // flap across engines.
      s"""WITH tk AS (SELECT doc_id, lang,
        |    unnest(string_split(text,' ')) tok FROM documents),
        |tr AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
        |cls AS (SELECT lang, CAST(COUNT(*) AS BIGINT) n_tok FROM tr
        |  GROUP BY lang),
        |docs AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) n_docs
        |  FROM tr GROUP BY lang),
        |tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) nd,
        |    CAST(COUNT(DISTINCT tok) AS BIGINT) v FROM tr),
        |ct AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) c FROM tr
        |  GROUP BY 1, 2),
        |te AS (SELECT doc_id, lang AS lang_true, tok FROM tk
        |  WHERE doc_id % 2 = 1),
        |sc AS (SELECT te.doc_id, te.lang_true, cls.lang AS cand,
        |    ${graft.ColFns.detMlnSql("COALESCE(ct.c, 0) + 1",
               "cls.n_tok + tot.v")} mlp
        |  FROM te CROSS JOIN cls CROSS JOIN tot
        |  LEFT JOIN ct ON ct.lang = cls.lang AND ct.tok = te.tok),
        |ds AS (SELECT doc_id, lang_true, cand, CAST(SUM(mlp) AS BIGINT) s
        |  FROM sc GROUP BY 1, 2, 3),
        |dsp AS (SELECT ds.doc_id, ds.lang_true, ds.cand,
        |    ds.s + ${graft.ColFns.detMlnSql("docs.n_docs", "tot.nd")} score
        |  FROM ds JOIN docs ON ds.cand = docs.lang CROSS JOIN tot),
        |top AS (SELECT doc_id, lang_true, cand AS lang_pred, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) rn FROM dsp),
        |own AS (SELECT doc_id, score AS own_score FROM dsp
        |  WHERE cand = lang_true),
        |m AS (SELECT t.doc_id, t.lang_true, t.lang_pred,
        |    t.score - own.own_score AS margin
        |  FROM (SELECT * FROM top WHERE rn = 1) t
        |  JOIN own ON own.doc_id = t.doc_id),
        |sus AS (SELECT doc_id, lang_true, margin,
        |    CASE WHEN lang_pred <> lang_true AND margin >= 2000000
        |      THEN 1 ELSE 0 END AS suspect FROM m),
        |rk AS (SELECT lang_true, doc_id, margin, suspect,
        |    ROW_NUMBER() OVER (PARTITION BY lang_true
        |      ORDER BY margin DESC, doc_id) wr FROM sus)
        |SELECT lang_true AS lang, CAST(COUNT(*) AS BIGINT) AS n_scored,
        |  CAST(SUM(suspect) AS BIGINT) AS n_suspect,
        |  CAST((SUM(suspect) * 1000000) // COUNT(*) AS BIGINT)
        |    AS suspect_ppm,
        |  CAST(MIN(CASE WHEN wr = 1 THEN doc_id END) AS BIGINT)
        |    AS worst_doc_id
        |FROM rk GROUP BY lang_true ORDER BY lang""") { (s, dir) =>
      import s.implicits._
      val tk = T(s, dir, "documents")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
        .transform(graft.CacheScope.cached) // train stats + held side
      val tr = tk.filter($"doc_id" % 2 === 0)
      val cls = tr.groupBy($"lang").agg(count(lit(1)).as("n_tok"))
      val docs = tr.groupBy($"lang")
        .agg(countDistinct($"doc_id").as("n_docs"))
      val tot = tr.agg(countDistinct($"doc_id").as("nd"),
        countDistinct($"tok").as("v"))
      val ct = tr.groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
      val te = tk.filter($"doc_id" % 2 === 1)
        .select($"doc_id", $"lang".as("lang_true"), $"tok")
      val dsp = te
        .crossJoin(broadcast(cls.select($"lang".as("cand"), $"n_tok")))
        .crossJoin(broadcast(tot))
        .join(ct.select($"lang".as("cand"), $"tok", $"c"),
          Seq("cand", "tok"), "left")
        .select($"doc_id", $"lang_true", $"cand",
          graft.ColFns.detMln(coalesce($"c", lit(0L)) + 1,
            $"n_tok" + $"v").as("mlp"))
        .groupBy($"doc_id", $"lang_true", $"cand").agg(sum($"mlp").as("s"))
        .join(broadcast(docs.select($"lang".as("cand"), $"n_docs")),
          Seq("cand"))
        .crossJoin(broadcast(tot))
        .select($"doc_id", $"lang_true", $"cand",
          ($"s" + graft.ColFns.detMln($"n_docs", $"nd")).as("score"))
        .transform(graft.CacheScope.cached) // argmax side + own-score side
      val top = dsp.withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id").orderBy($"score".desc, $"cand")))
        .filter($"rn" === 1)
        .select($"doc_id", $"lang_true", $"cand".as("lang_pred"), $"score")
      val own = dsp.filter($"cand" === $"lang_true")
        .select($"doc_id", $"score".as("own_score"))
      val sus = top.join(own, Seq("doc_id"))
        .withColumn("margin", $"score" - $"own_score")
        .withColumn("suspect",
          when($"lang_pred" =!= $"lang_true" && $"margin" >= 2000000L, 1L)
            .otherwise(0L))
      sus.withColumn("wr", row_number().over(
          Window.partitionBy($"lang_true")
            .orderBy($"margin".desc, $"doc_id")))
        .groupBy($"lang_true".as("lang"))
        .agg(count(lit(1)).as("n_scored"), sum($"suspect").as("n_suspect"),
          expr("(SUM(suspect) * 1000000) div COUNT(*)").as("suspect_ppm"),
          min(when($"wr" === 1, $"doc_id")).as("worst_doc_id"))
        .orderBy($"lang")
    },

    q("q264_zipf_fit",
      // Zipf-law fit of the corpus vocabulary: OLS slope of ln(freq) on
      // ln(rank) — the rank-frequency diagnostic that tells you whether a
      // corpus is natural-language-shaped (slope near -1) or synthetic/
      // boilerplate-heavy. Numeric discipline: each point's logs are
      // micro-log BIGINTs (q136), the OLS moment sums widen through
      // DECIMAL(38,0) (micro-log products overflow Long at vocab scale —
      // q262's lesson), and slope/intercept land as integer-ppm floor
      // divisions over all-positive-denominator operands, identical in
      // both engines (DuckDB sums are HUGEINT natively). The rank window
      // runs over the vocabulary (Zipf-bounded), not the corpus.
      s"""WITH w AS (SELECT unnest(string_split(text, ' ')) tok FROM documents),
        |f AS (SELECT tok, CAST(COUNT(*) AS BIGINT) c FROM w GROUP BY tok),
        |r AS (SELECT c, ROW_NUMBER() OVER (ORDER BY c DESC, tok) rk FROM f),
        |p AS (SELECT
        |    ${graft.ColFns.detMlnIntSql("rk")} x,
        |    ${graft.ColFns.detMlnIntSql("c")} y FROM r),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) n,
        |    CAST(SUM(x) AS HUGEINT) sx, CAST(SUM(y) AS HUGEINT) sy,
        |    CAST(SUM(x*y) AS HUGEINT) sxy, CAST(SUM(x*x) AS HUGEINT) sxx
        |  FROM p),
        |sl AS (SELECT n, sx, sy,
        |    (1000000 * (n*sxy - sx*sy) + 10000000 * (n*sxx - sx*sx))
        |      // (n*sxx - sx*sx) - 10000000 AS slope_ppm
        |  FROM m)
        |SELECT CAST(n AS BIGINT) AS vocab_size,
        |  CAST(slope_ppm AS BIGINT) AS slope_ppm,
        |  CAST((sy * 1000000 - slope_ppm * sx) // (1000000 * n) AS BIGINT)
        |    AS intercept_micro
        |FROM sl""") { (s, dir) =>
      import s.implicits._
      val f = T(s, dir, "documents")
        .select(explode(split($"text", " ")).as("tok"))
        .groupBy($"tok").agg(count(lit(1)).as("c"))
      val r = f.withColumn("rk",
        row_number().over(Window.orderBy($"c".desc, $"tok")))
      val p = r.select(
        graft.ColFns.detMlnInt($"rk").as("x"),
        graft.ColFns.detMlnInt($"c").as("y"))
      val D = "DECIMAL(38,0)"
      p.agg(
          count(lit(1)).cast(D).as("n"),
          sum($"x").cast(D).as("sx"), sum($"y").cast(D).as("sy"),
          sum(($"x" * $"y").cast(D)).as("sxy"),
          sum(($"x" * $"x").cast(D)).as("sxx"))
        // slope is NEGATIVE and Spark DIV truncates while DuckDB // floors
        // (q255's lesson): shift the numerator by +1e7 denominators so the
        // division sees positive operands in both engines, then unshift.
        // Intercept is arranged so its numerator is positive too (the
        // -slope_ppm*sx term adds when the slope is negative).
        .withColumn("slope_ppm", expr(
          "(1000000 * (n*sxy - sx*sy) + 10000000 * (n*sxx - sx*sx)) " +
            "div (n*sxx - sx*sx) - 10000000"))
        .select(
          $"n".cast("long").as("vocab_size"),
          $"slope_ppm".cast("long").as("slope_ppm"),
          expr("CAST((sy * 1000000 - slope_ppm * sx) div (1000000 * n) AS BIGINT)")
            .as("intercept_micro"))
    },

    q("q286_kwic_concordance",
      // Keyword-in-context concordance: every occurrence of the probe term
      // (the corpus's most document-frequent >= 4-char token, q169's
      // deterministic probe convention) with its +/-3-word context — the
      // how-is-this-term-actually-used readout behind lexicon debugging
      // and contamination triage. The probe is a 1-row broadcast; matches
      // are found map-side inside the token array (posexplode + equality,
      // no positional self-join) and context is array slicing on the row
      // the match came from. Top-50 by (doc, pos) bounds the emission.
      """WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |df AS (SELECT tok, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
        |  FROM toks WHERE length(tok) >= 4 GROUP BY tok),
        |probe AS (SELECT tok FROM df ORDER BY df DESC, tok LIMIT 1),
        |w AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |ix AS (SELECT doc_id, w, unnest(range(1, len(w) + 1)) AS i FROM w),
        |hit AS (SELECT ix.doc_id, ix.w, CAST(ix.i AS BIGINT) AS pos
        |  FROM ix, probe WHERE ix.w[CAST(ix.i AS INT)] = probe.tok)
        |SELECT doc_id, pos,
        |  COALESCE(array_to_string(w[CAST(GREATEST(1, pos - 3) AS INT)
        |    :CAST(pos - 1 AS INT)], ' '), '') AS left_ctx,
        |  w[CAST(pos AS INT)] AS term,
        |  COALESCE(array_to_string(w[CAST(pos + 1 AS INT)
        |    :CAST(pos + 3 AS INT)], ' '), '') AS right_ctx
        |FROM hit ORDER BY doc_id, pos LIMIT 50""") { (s, dir) =>
      import s.implicits._
      val toks = T(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
        .filter(length($"tok") >= 4)
      val probe = toks.distinct()
        .groupBy($"tok").agg(count(lit(1)).as("df"))
        .orderBy($"df".desc, $"tok").limit(1)
        .select($"tok".as("probe"))
      T(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .crossJoin(broadcast(probe))
        .select($"doc_id", $"w", $"probe",
          posexplode($"w"))
        .filter($"col" === $"probe")
        .select($"doc_id", ($"pos" + 1).cast("long").as("pos"), $"w")
        .select($"doc_id", $"pos",
          concat_ws(" ", expr(
            "slice(w, CAST(greatest(1, pos - 3) AS INT), " +
              "CAST(pos - greatest(1, pos - 3) AS INT))")).as("left_ctx"),
          expr("element_at(w, CAST(pos AS INT))").as("term"),
          concat_ws(" ", expr("slice(w, CAST(pos + 1 AS INT), 3)"))
            .as("right_ctx"))
        .orderBy($"doc_id", $"pos").limit(50)
    },

    q("q315_heaps_law",
      // Heaps'-law vocabulary-growth fit: V(n) ~ K·n^beta estimated by
      // micro-log OLS over ingest checkpoints (every 50 docs) — the
      // sizing curve that predicts dictionary/posting growth at 100 TB
      // from a prefix of the corpus. Cumulative distinct WITHOUT running
      // dedup: each token collapses to its first-seen checkpoint once
      // (q204's trick), so both cumulative series are running sums over
      // the checkpoint-sized table. Same numeric discipline as q264:
      // per-point micro-log BIGINTs, DECIMAL(38,0)/HUGEINT moment sums,
      // all-positive floor divisions (beta and ln K are positive here).
      s"""WITH tk AS (SELECT doc_id // 50 AS ck,
        |    unnest(string_split(text, ' ')) AS tok
        |  FROM documents),
        |tc AS (SELECT ck, CAST(COUNT(*) AS BIGINT) AS toks FROM tk
        |  GROUP BY ck),
        |fs AS (SELECT tok, CAST(MIN(ck) AS BIGINT) AS fck FROM tk
        |  GROUP BY tok),
        |nv AS (SELECT fck AS ck, CAST(COUNT(*) AS BIGINT) AS new_toks
        |  FROM fs GROUP BY fck),
        |pt AS (SELECT tc.ck,
        |    SUM(tc.toks) OVER (ORDER BY tc.ck) AS cum_toks,
        |    SUM(COALESCE(nv.new_toks, 0)) OVER (ORDER BY tc.ck)
        |      AS cum_vocab
        |  FROM tc LEFT JOIN nv ON nv.ck = tc.ck),
        |lp AS (SELECT
        |    ${graft.ColFns.detMlnIntSql("cum_toks")} AS x,
        |    ${graft.ColFns.detMlnIntSql("cum_vocab")} AS y
        |  FROM pt),
        |m AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n,
        |    CAST(SUM(x) AS HUGEINT) AS sx, CAST(SUM(y) AS HUGEINT) AS sy,
        |    CAST(SUM(x*y) AS HUGEINT) AS sxy,
        |    CAST(SUM(x*x) AS HUGEINT) AS sxx FROM lp)
        |SELECT CAST(n AS BIGINT) AS n_checkpoints,
        |  CAST((1000000 * (n*sxy - sx*sy)) // (n*sxx - sx*sx) AS BIGINT)
        |    AS beta_ppm,
        |  CAST((sy * 1000000 - ((1000000 * (n*sxy - sx*sy))
        |    // (n*sxx - sx*sx)) * sx) // (1000000 * n) AS BIGINT)
        |    AS ln_k_micro
        |FROM m""") { (s, dir) =>
      import s.implicits._
      val D = "DECIMAL(38,0)"
      val tk = T(s, dir, "documents")
        .select(expr("doc_id div 50").as("ck"),
          explode(split($"text", " ")).as("tok"))
        .transform(graft.CacheScope.cached) // token counts + first-seen
      val tc = tk.groupBy($"ck").agg(count(lit(1)).as("toks"))
      val nv = tk.groupBy($"tok").agg(min($"ck").as("fck"))
        .groupBy($"fck".as("ck")).agg(count(lit(1)).as("new_toks"))
      val wc = Window.orderBy($"ck")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val pt = tc.join(nv, Seq("ck"), "left")
        .withColumn("cum_toks", sum($"toks").over(wc))
        .withColumn("cum_vocab",
          sum(coalesce($"new_toks", lit(0L))).over(wc))
      val lp = pt.select(
        graft.ColFns.detMlnInt($"cum_toks").as("x"),
        graft.ColFns.detMlnInt($"cum_vocab").as("y"))
      lp.agg(count(lit(1)).cast(D).as("n"),
          sum($"x").cast(D).as("sx"), sum($"y").cast(D).as("sy"),
          sum(($"x" * $"y").cast(D)).as("sxy"),
          sum(($"x" * $"x").cast(D)).as("sxx"))
        .select($"n".cast("long").as("n_checkpoints"),
          expr("CAST((1000000 * (n*sxy - sx*sy)) div (n*sxx - sx*sx) " +
            "AS BIGINT)").as("beta_ppm"),
          expr("CAST((sy * 1000000 - ((1000000 * (n*sxy - sx*sy)) " +
            "div (n*sxx - sx*sx)) * sx) div (1000000 * n) AS BIGINT)")
            .as("ln_k_micro"))
    },

    q("q371_kneser_ney",
      // Interpolated Kneser-Ney bigram LM (Kneser & Ney 1995; the Chen &
      // Goodman 1999 benchmark smoother, a strict upgrade over q153's
      // Stupid Backoff): absolute discount D = 3/4 folds into EXACT
      // integer-ppm probabilities — max(4c2-3,0)/(4c1) for the discounted
      // bigram term, lambda = 3·N1+(w1·)/(4c1) for the backoff mass, and
      // the CONTINUATION unigram N1+(·w2)/N1+(··) (how many contexts a
      // word completes — KN's defining idea) — so every probability is a
      // floor DIV of exact counts and both engines agree bit-for-bit; the
      // only transcendentals are detMln/detExpMicro on the final ppm.
      // Train on the md5-keyed 80% split, score the held 20% (the q330
      // lesson: a parity split correlates with the fixture's source
      // assignment and starves half the sources of held docs; the md5
      // split covers all of them), roll up NLL and perplexity per source. Count
      // tables are vocab-sized and join KEYED on tokens (q136's rationale:
      // they grow with the corpus); the type-count table N1+(··) is 1 row.
      s"""WITH tk AS (SELECT doc_id, source,
        |    CAST(generate_subscripts(w, 1) - 1 AS BIGINT) AS pos,
        |    unnest(w) AS tok
        |  FROM (SELECT doc_id, source, string_split(text,' ') AS w
        |        FROM documents)),
        |big AS (SELECT doc_id, source,
        |    LAG(tok) OVER (PARTITION BY doc_id ORDER BY pos) AS w1,
        |    tok AS w2 FROM tk),
        |trb AS (SELECT w1, w2 FROM big
        |  WHERE ${splitCaseDuck("doc_id")} = 'train' AND w1 IS NOT NULL),
        |c2 AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM trb
        |  GROUP BY 1, 2),
        |c1 AS (SELECT w1, CAST(SUM(c) AS BIGINT) AS c FROM c2 GROUP BY w1),
        |cfw AS (SELECT w1, CAST(COUNT(*) AS BIGINT) AS n FROM c2
        |  GROUP BY w1),
        |ctw AS (SELECT w2, CAST(COUNT(*) AS BIGINT) AS n FROM c2
        |  GROUP BY w2),
        |nb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM c2),
        |te AS (SELECT doc_id, source, w1, w2 FROM big
        |  WHERE ${splitCaseDuck("doc_id")} <> 'train' AND w1 IS NOT NULL),
        |p AS (SELECT te.source,
        |    CASE WHEN COALESCE(u.c, 0) > 0 THEN GREATEST(
        |        (GREATEST(4 * COALESCE(b.c, 0) - 3, 0) * 1000000)
        |          // (4 * u.c)
        |        + (3 * COALESCE(f.n, 0)
        |            * ((COALESCE(t.n, 0) * 1000000) // nb.n))
        |          // (4 * u.c), 1)
        |      ELSE GREATEST((COALESCE(t.n, 0) * 1000000) // nb.n, 1)
        |      END AS p_ppm
        |  FROM te
        |  LEFT JOIN c2 b ON b.w1 = te.w1 AND b.w2 = te.w2
        |  LEFT JOIN c1 u ON u.w1 = te.w1
        |  LEFT JOIN cfw f ON f.w1 = te.w1
        |  LEFT JOIN ctw t ON t.w2 = te.w2
        |  CROSS JOIN nb),
        |pm AS (SELECT source, ${graft.ColFns.detMlnSql("p_ppm", "1000000")}
        |    AS mln FROM p)
        |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
        |  CAST(SUM(mln) AS BIGINT) AS nll_micro_total,
        |  ${graft.ColFns.r4Sql(graft.ColFns.detExpMicroSql(
             "-FLOOR(CAST(SUM(mln) AS DOUBLE) / COUNT(*) + 0.5)"))}
        |    AS perplexity_r4
        |FROM pm GROUP BY source ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val byPos = Window.partitionBy($"doc_id").orderBy($"pos")
      val big = T(s, dir, "documents")
        .select($"doc_id", $"source", posexplode(split($"text", " ")))
        .select($"doc_id", $"source", $"pos", $"col".as("tok"))
        .withColumn("w1", lag($"tok", 1).over(byPos))
        .transform(graft.CacheScope.cached) // train counts + test side
      val trb = big
        .filter(expr(splitCaseSpark("doc_id")) === "train" && $"w1".isNotNull)
        .select($"w1", $"tok".as("w2"))
      val c2 = trb.groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
        .transform(graft.CacheScope.cached) // feeds c1/cfw/ctw/nb + probe
      val c1 = c2.groupBy($"w1").agg(sum($"c").as("cu"))
      val cfw = c2.groupBy($"w1").agg(count(lit(1)).as("nf"))
      val ctw = c2.groupBy($"w2").agg(count(lit(1)).as("nt"))
      val nb = c2.agg(count(lit(1)).as("nall"))
      val p = big
        .filter(expr(splitCaseSpark("doc_id")) =!= "train" && $"w1".isNotNull)
        .select($"doc_id", $"source", $"w1", $"tok".as("w2"))
        .join(c2.select($"w1", $"w2", $"c".as("cb")), Seq("w1", "w2"), "left")
        .join(c1, Seq("w1"), "left")
        .join(cfw, Seq("w1"), "left")
        .join(ctw, Seq("w2"), "left")
        .crossJoin(broadcast(nb))
        .select($"source",
          when(coalesce($"cu", lit(0L)) > 0, greatest(
            expr("(GREATEST(4 * COALESCE(cb, 0) - 3, 0) * 1000000) " +
              "div (4 * cu)")
              + expr("(3 * COALESCE(nf, 0) * " +
                "((COALESCE(nt, 0) * 1000000) div nall)) div (4 * cu)"),
            lit(1L)))
            .otherwise(greatest(
              expr("(COALESCE(nt, 0) * 1000000) div nall"), lit(1L)))
            .as("p_ppm"))
      p.select($"source", graft.ColFns.detMln($"p_ppm", lit(1000000L))
          .as("mln"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_bigrams"), sum($"mln").as("nll_micro_total"))
        .select($"source", $"n_bigrams", $"nll_micro_total",
          graft.ColFns.r4(graft.ColFns.detExpMicro(
            -floor($"nll_micro_total".cast("double") / $"n_bigrams" + 0.5d)))
            .as("perplexity_r4"))
        .orderBy($"source")
    },

    q("q373_uncertainty_sampling",
      // Margin-based uncertainty sampling — the active-learning labeling
      // queue (Lewis & Gale 1994): q238's trained Naive Bayes scores the
      // held-out docs and the 20 docs where the top two classes are
      // CLOSEST (smallest exact integer micro-log margin) go to human
      // annotators first. q360 uses the same scores to flag docs whose
      // GIVEN label loses by a wide margin (label noise); this query ranks
      // by ambiguity regardless of label — the two queues a labeling
      // operation actually runs. Margins are exact integer differences,
      // the per-doc argmax/argmax2 is one bounded window over |classes|
      // rows per doc, and the queue cut is TakeOrderedAndProject.
      s"""WITH tk AS (SELECT doc_id, lang, unnest(string_split(text, ' '))
        |    AS tok FROM documents),
        |tr AS (SELECT * FROM tk WHERE doc_id % 2 = 0),
        |cls AS (SELECT lang, CAST(COUNT(*) AS BIGINT) n_tok FROM tr
        |  GROUP BY lang),
        |docs AS (SELECT lang, CAST(COUNT(DISTINCT doc_id) AS BIGINT) n_docs
        |  FROM tr GROUP BY lang),
        |tot AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) nd,
        |    CAST(COUNT(DISTINCT tok) AS BIGINT) v FROM tr),
        |ct AS (SELECT lang, tok, CAST(COUNT(*) AS BIGINT) c FROM tr
        |  GROUP BY 1, 2),
        |te AS (SELECT doc_id, lang AS lang_true, tok FROM tk
        |  WHERE doc_id % 2 = 1),
        |sc AS (SELECT te.doc_id, te.lang_true, cls.lang AS cand,
        |    ${graft.ColFns.detMlnSql("COALESCE(ct.c, 0) + 1",
               "cls.n_tok + tot.v")} mlp
        |  FROM te CROSS JOIN cls CROSS JOIN tot
        |  LEFT JOIN ct ON ct.lang = cls.lang AND ct.tok = te.tok),
        |ds AS (SELECT doc_id, lang_true, cand, CAST(SUM(mlp) AS BIGINT) s
        |  FROM sc GROUP BY 1, 2, 3),
        |dsp AS (SELECT ds.doc_id, ds.lang_true, ds.cand,
        |    ds.s + ${graft.ColFns.detMlnSql("docs.n_docs", "tot.nd")} score
        |  FROM ds JOIN docs ON ds.cand = docs.lang CROSS JOIN tot),
        |rk AS (SELECT doc_id, lang_true, cand, score,
        |    ROW_NUMBER() OVER (PARTITION BY doc_id
        |      ORDER BY score DESC, cand) rn FROM dsp),
        |t1 AS (SELECT doc_id, lang_true, cand AS top_lang, score AS s1
        |  FROM rk WHERE rn = 1),
        |t2 AS (SELECT doc_id, cand AS second_lang, score AS s2
        |  FROM rk WHERE rn = 2)
        |SELECT t1.doc_id, t1.lang_true, t1.top_lang, t2.second_lang,
        |  t1.s1 - t2.s2 AS margin_micro
        |FROM t1 JOIN t2 ON t1.doc_id = t2.doc_id
        |ORDER BY margin_micro, t1.doc_id LIMIT 20""") { (s, dir) =>
      import s.implicits._
      val tk = T(s, dir, "documents")
        .select($"doc_id", $"lang", explode(split($"text", " ")).as("tok"))
        .transform(graft.CacheScope.cached) // train stats + held side
      val tr = tk.filter($"doc_id" % 2 === 0)
      val cls = tr.groupBy($"lang").agg(count(lit(1)).as("n_tok"))
      val docs = tr.groupBy($"lang")
        .agg(countDistinct($"doc_id").as("n_docs"))
      val tot = tr.agg(countDistinct($"doc_id").as("nd"),
        countDistinct($"tok").as("v"))
      val ct = tr.groupBy($"lang", $"tok").agg(count(lit(1)).as("c"))
      val dsp = tk.filter($"doc_id" % 2 === 1)
        .select($"doc_id", $"lang".as("lang_true"), $"tok")
        .crossJoin(broadcast(cls.select($"lang".as("cand"), $"n_tok")))
        .crossJoin(broadcast(tot))
        .join(ct.select($"lang".as("cand"), $"tok", $"c"),
          Seq("cand", "tok"), "left")
        .select($"doc_id", $"lang_true", $"cand",
          graft.ColFns.detMln(coalesce($"c", lit(0L)) + 1,
            $"n_tok" + $"v").as("mlp"))
        .groupBy($"doc_id", $"lang_true", $"cand").agg(sum($"mlp").as("s"))
        .join(broadcast(docs.select($"lang".as("cand"), $"n_docs")),
          Seq("cand"))
        .crossJoin(broadcast(tot))
        .select($"doc_id", $"lang_true", $"cand",
          ($"s" + graft.ColFns.detMln($"n_docs", $"nd")).as("score"))
        .transform(graft.CacheScope.cached) // rn=1 and rn=2 sides
      val rk = dsp.withColumn("rn", row_number().over(
        Window.partitionBy($"doc_id").orderBy($"score".desc, $"cand")))
      val t1 = rk.filter($"rn" === 1)
        .select($"doc_id", $"lang_true", $"cand".as("top_lang"),
          $"score".as("s1"))
      val t2 = rk.filter($"rn" === 2)
        .select($"doc_id", $"cand".as("second_lang"), $"score".as("s2"))
      t1.join(t2, "doc_id")
        .select($"doc_id", $"lang_true", $"top_lang", $"second_lang",
          ($"s1" - $"s2").as("margin_micro"))
        .orderBy($"margin_micro", $"doc_id").limit(20)
    },

    q("q418_branching_entropy", {
      val mln = graft.ColFns.detMlnSql("n", "nc")
      s"""WITH w AS (SELECT doc_id, source, string_split(text,' ') AS w
         |  FROM documents),
         |tri AS (SELECT source,
         |    array_to_string(w[CAST(unnest(range(1, len(w)-1)) AS INT):
         |      CAST(unnest(range(1, len(w)-1)) AS INT)+1], ' ') AS ctx,
         |    w[CAST(unnest(range(1, len(w)-1)) AS INT)+2] AS nxt
         |  FROM w WHERE len(w) >= 3),
         |cn AS (SELECT source, ctx, nxt, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM tri GROUP BY source, ctx, nxt),
         |cm AS (SELECT source, ctx, CAST(SUM(n) AS BIGINT) AS nc
         |  FROM cn GROUP BY source, ctx),
         |h AS (SELECT cn.source, cn.ctx, cm.nc, cn.n, $mln AS mln
         |  FROM cn JOIN cm USING (source, ctx)),
         |hc AS (SELECT source, ctx, nc,
         |    CAST(SUM((-(n * mln)) // nc) AS BIGINT) AS h_micro
         |  FROM h GROUP BY source, ctx, nc),
         |tot AS (SELECT source, CAST(SUM(nc) AS BIGINT) AS n_triples
         |  FROM hc GROUP BY source)
         |SELECT hc.source, CAST(COUNT(*) AS BIGINT) AS n_contexts,
         |  t.n_triples,
         |  CAST(SUM(nc * h_micro) // t.n_triples AS BIGINT)
         |    AS cond_entropy_micro,
         |  CAST(SUM(CASE WHEN h_micro = 0 THEN nc ELSE 0 END) * 1000000
         |    // t.n_triples AS BIGINT) AS deterministic_ppm
         |FROM hc JOIN tot t USING (source)
         |GROUP BY hc.source, t.n_triples ORDER BY hc.source"""
    }) { (s, dir) =>
      import s.implicits._
      // Corpus branching entropy: the mean Shannon entropy of the
      // next-token distribution given a bigram context, token-weighted
      // per source — the LM-relevant "how predictable is this corpus"
      // number (and the quantity boundary-entropy tokenizers segment on),
      // distinct from q330's held-out perplexity (which scores text under
      // a model) and q188's character entropy (no conditioning). Per-term
      // -(n * mln(n/nc)) // nc keeps every operand a non-negative integer
      // through the deterministic log kernel; deterministic_ppm is the
      // token share whose context has exactly one continuation. Triples
      // extract map-side; the shuffles are the (source, ctx, nxt) and
      // (source, ctx) aggregates — both key-bounded, no window anywhere.
      // spread the single-row-group scan: the triple extraction is pure
      // per-row compute and ran as one ~0.7 s task per consumer (guide
      // §2.5; no-op on healthy multi-split layouts)
      val tri = graft.Tables.spread(T(s, dir, "documents"))
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 3)
        .select($"source", explode(expr(
          "transform(sequence(1, size(w) - 2), i -> struct(" +
            "concat_ws(' ', slice(w, i, 2)) AS ctx, " +
            "element_at(w, CAST(i + 2 AS INT)) AS nxt))")).as("x"))
        .select($"source", $"x.ctx".as("ctx"), $"x.nxt".as("nxt"))
      val cn = tri.groupBy($"source", $"ctx", $"nxt")
        .agg(count(lit(1)).as("n"))
      val cm = cn.groupBy($"source", $"ctx").agg(sum($"n").as("nc"))
      val h = cn.join(cm, Seq("source", "ctx"))
        .withColumn("mln", graft.ColFns.detMln($"n", $"nc"))
        .groupBy($"source", $"ctx", $"nc")
        .agg(sum(expr("(-(n * mln)) DIV nc")).as("h_micro"))
      val tot = h.groupBy($"source").agg(sum($"nc").as("n_triples"))
      h.join(tot, "source")
        .groupBy($"source", $"n_triples")
        .agg(count(lit(1)).as("n_contexts"),
          sum($"nc" * $"h_micro").as("sh"),
          sum(when($"h_micro" === 0, $"nc").otherwise(0L)).as("sd"))
        .select($"source", $"n_contexts", $"n_triples",
          expr("sh DIV n_triples").as("cond_entropy_micro"),
          expr("(sd * 1000000) DIV n_triples").as("deterministic_ppm"))
        .orderBy($"source")
    },

    q("q423_unigram_lm_tokenizer", {
      // Oracle = the identical integer program: same candidate explode,
      // same (weight DESC, piece ASC) vocabulary rank, same detMln micro
      // costs, same packed Viterbi DP (recursive CTE carrying the last
      // four best values, correlated cost lookups), same first-L-match
      // backtrace, same add-one recount. Hard-EM state never leaves
      // integers, so convergence/tie behavior is pinned bit-for-bit.
      s"""WITH RECURSIVE dw AS (SELECT source,
         |    unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |wc AS (SELECT source, word, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM dw WHERE word <> '' GROUP BY source, word),
         |w AS (SELECT DISTINCT word FROM wc),
         |wt AS (SELECT word, CAST(SUM(cnt) AS BIGINT) AS w_total
         |  FROM wc GROUP BY word),
         |cs1 AS (SELECT word, unnest(range(1, len(word) + 1)) AS st FROM w),
         |cs2 AS (SELECT word, st, unnest(range(1,
         |    least(CAST(4 AS BIGINT), len(word) - st + 1) + 1)) AS l
         |  FROM cs1),
         |cand AS (SELECT word,
         |    substr(word, CAST(st AS INT), CAST(l AS INT)) AS piece
         |  FROM cs2),
         |pw AS (SELECT piece, CAST(SUM(wt.w_total) AS BIGINT) AS fw
         |  FROM cand JOIN wt USING (word) GROUP BY piece),
         |multi AS (SELECT piece, fw FROM (SELECT piece, fw,
         |      row_number() OVER (ORDER BY fw DESC, piece ASC) AS rk
         |    FROM pw WHERE len(piece) >= 2) WHERE rk <= 48),
         |voc0 AS (SELECT piece, fw FROM pw WHERE len(piece) = 1
         |  UNION ALL SELECT piece, fw FROM multi),
         |t0 AS (SELECT CAST(SUM(fw) AS BIGINT) AS tt FROM voc0),
         |voc AS MATERIALIZED (SELECT piece,
         |    ${graft.ColFns.detMlnSql("t0.tt", "voc0.fw")} AS cost0
         |  FROM voc0, t0),
         |${emDpDuck("seg", "voc", "cost0")},
         |${emBacktraceDuck("seg", "voc", "cost0")},
         |c1 AS (SELECT u.piece, CAST(SUM(wt.w_total) AS BIGINT) AS used
         |  FROM (SELECT word, piece FROM bt WHERE piece IS NOT NULL) u
         |  JOIN wt USING (word) GROUP BY u.piece),
         |voc2 AS (SELECT voc.piece, COALESCE(c1.used, 0) AS used,
         |    COALESCE(c1.used, 0) + 1 AS f1
         |  FROM voc LEFT JOIN c1 ON c1.piece = voc.piece),
         |t1 AS (SELECT CAST(SUM(f1) AS BIGINT) AS tt FROM voc2),
         |voc2c AS MATERIALIZED (SELECT piece, used,
         |    ${graft.ColFns.detMlnSql("t1.tt", "voc2.f1")} AS cost1
         |  FROM voc2, t1),
         |${emDpDuck("seg2", "voc2c", "cost1")},
         |fc AS (SELECT word, b1 AS bestf FROM seg2 WHERE i = len(word)),
         |src AS (SELECT wc.source AS item,
         |    CAST(SUM(wc.cnt * (f.bestf % 1024)) AS BIGINT) AS n,
         |    CAST(SUM(wc.cnt * (f.bestf // 1024)) AS BIGINT) AS micro
         |  FROM wc JOIN fc f USING (word) GROUP BY wc.source),
         |top AS (SELECT '__piece:' || piece AS item, used AS n,
         |    CAST(cost1 AS BIGINT) AS micro
         |  FROM voc2c WHERE len(piece) >= 2
         |  ORDER BY used DESC, piece ASC LIMIT 10)
         |SELECT item, n, micro FROM src
         |UNION ALL SELECT item, n, micro FROM top
         |ORDER BY item"""
    }) { (s, dir) =>
      import s.implicits._
      // SentencePiece-style unigram-LM tokenizer trained by hard EM
      // (Kudo 2018), end to end: candidate pieces are all 1..4-char
      // substrings of the DISTINCT-word dictionary weighted by corpus
      // occurrence; the vocabulary is every single char (byte-fallback
      // floor) plus the top-48 multi-char pieces by (weight, piece); piece
      // costs are exact micro-logs -ln(f/T) via detMln; the E-step
      // segments each distinct word by a weighted-Viterbi DP (packed
      // cost*1024+tokens value so the tiebreak is fewest-tokens, then
      // first-matching-L on the backtrace — deterministic in both
      // engines); the M-step recounts piece usage weighted by word
      // frequency with add-one smoothing and re-derives costs; the final
      // pass re-segments under the trained model. Corpus-sized work is
      // ONE (source, word) collapse — everything after runs on the
      // dictionary (the q160/q177/q398 shape), and the vocabulary rank
      // window orders the bounded candidate table, never the corpus.
      // Readout: per-source subword counts + corpus NLL in micro-nats
      // under the trained model (the compression number a tokenizer team
      // tracks), plus the top-10 learned multi-char pieces with their
      // usage mass and trained costs.
      // the corpus collapses ONCE to (source, word) counts; checkpointing
      // (not just caching) the collapse truncates the lineage so the ~12
      // chained dictionary-sized stages below don't each re-analyze the
      // corpus subtree — measured (round 12): the warm run spent 3.5 s in
      // BETWEEN-job driver gaps (plan re-analysis/AQE re-planning of the
      // repeated tree) vs 2.2 s in jobs. Guide §3.3: materialise an
      // intermediate to truncate a very large plan. Joins downstream of a
      // checkpoint need explicit broadcast hints (a LogicalRDD has no size
      // estimate and defaults to "huge" — the q285 lesson).
      val wc = T(s, dir, "documents")
        .select($"source", explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"source", $"word").agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheScope.checkpointed)
      val dict = wc.select($"word").distinct()
        .transform(graft.CacheScope.cached)
      val wt = wc.groupBy($"word").agg(sum($"cnt").as("w_total"))
        .transform(graft.CacheScope.cached)
      val pw = dict.select($"word", explode(expr(
          """flatten(transform(sequence(1, length(word)),
            |  st -> transform(sequence(1, least(4, length(word) - st + 1)),
            |    l -> substring(word, st, l))))""".stripMargin)).as("piece"))
        .join(broadcast(wt), "word")
        .groupBy($"piece").agg(sum($"w_total").as("fw"))
        .transform(graft.CacheScope.cached)
      // the rank window orders the piece-candidate table — bounded by the
      // dictionary (len x 4 substrings per distinct word), never corpus-sized
      val multi = pw.filter(length($"piece") >= 2)
        .withColumn("rk", row_number().over(
          Window.orderBy($"fw".desc, $"piece".asc)))
        .filter($"rk" <= 48).drop("rk")
      val voc0 = pw.filter(length($"piece") === 1).unionByName(multi)
        .transform(graft.CacheScope.cached)
      val t0 = voc0.agg(sum($"fw").as("tt"))
      // checkpoint the trained cost tables: seg1/c1/voc2/fc below otherwise
      // chain the whole vocabulary-selection window into every action's plan
      val voc = voc0.crossJoin(broadcast(t0))
        .select($"piece", graft.ColFns.detMln($"tt", $"fw").as("cost0"))
        .transform(graft.CacheScope.checkpointed)
      def costMap(vocDf: DataFrame, costCol: String): DataFrame =
        vocDf.agg(map_from_entries(collect_list(
          struct(col("piece"), col(costCol)))).as("cm"))
      val seg1 = dict.crossJoin(broadcast(costMap(voc, "cost0")))
        .withColumn("barr", expr(emDpSpark("cm")))
        .withColumn("ps", expr(emBacktraceSpark("cm", "barr")))
      val c1 = seg1.select($"word", explode($"ps").as("piece"))
        .join(broadcast(wt), "word")
        .groupBy($"piece").agg(sum($"w_total").as("used"))
      val voc2 = voc.join(broadcast(c1), Seq("piece"), "left")
        .select($"piece", coalesce($"used", lit(0L)).as("used"),
          (coalesce($"used", lit(0L)) + 1L).as("f1"))
        .transform(graft.CacheScope.cached)
      val t1 = voc2.agg(sum($"f1").as("tt"))
      val voc2c = voc2.crossJoin(broadcast(t1))
        .select($"piece", $"used", graft.ColFns.detMln($"tt", $"f1").as("cost1"))
        .transform(graft.CacheScope.checkpointed)
      val fc = dict.crossJoin(broadcast(costMap(voc2c, "cost1")))
        .withColumn("barr", expr(emDpSpark("cm")))
        .select($"word",
          expr("element_at(barr, CAST(length(word) + 1 AS INT))").as("bestf"))
      val src = wc.join(broadcast(fc), "word")
        .groupBy($"source")
        .agg(sum($"cnt" * ($"bestf" % 1024)).as("n"),
          sum($"cnt" * expr("bestf DIV 1024")).as("micro"))
        .select($"source".as("item"), $"n", $"micro")
      val top = voc2c.filter(length($"piece") >= 2)
        .orderBy($"used".desc, $"piece".asc).limit(10)
        .select(concat(lit("__piece:"), $"piece").as("item"),
          $"used".as("n"), $"cost1".as("micro"))
      src.unionByName(top).orderBy($"item")
    },

    q("q425_period_detection",
      // Oracle = the identical per-doc scan: smallest period p of the
      // token array (p valid iff t[i] = t[i+p] for all i <= n-p), planted
      // periodic docs synthesized INSIDE the query (q417's self-contained
      // plant pattern) so the detector's fire path is exercised at any SF.
      // q427 streams the same corpus+plant through the engine source and
      // shares this statement verbatim (the q402/q410 twin contract).
      periodOracleSql) { (s, dir) =>
      import s.implicits._
      // Smallest-period detection over the token stream — the
      // template/loop-generation screen: a doc whose tokens repeat with
      // period p <= n/2 is machine-looped output (degenerate sampling,
      // boilerplate templating), invisible to q102's repetition SCORE when
      // the repeating unit is long. Detection is the direct periodicity
      // test p valid iff t[i] = t[i+p] for all i — O(n^2/2) token compares
      // per doc, entirely map-side inside the token array (no join, no
      // shuffle beyond the per-source rollup), so the plan is flat at any
      // corpus size. Planted periodic docs (first-4-tokens x 5 per 50th
      // doc, synthesized in-query) certify the fire path; the law in
      // AnalyticsSpec pins them periodic with period <= 4. Spark's
      // sequence(1, 0) descends instead of returning empty, so the n < 2
      // case is guarded explicitly (DuckDB's range(1, 1) is empty).
      val base = T(s, dir, "documents")
        .select($"doc_id", $"source", split($"text", " ").as("t"))
      val planted = base
        .filter($"doc_id" % 50 === 0 && size($"t") >= 4)
        .select(($"doc_id" + 1000000000L).as("doc_id"),
          concat(lit("__planted:"), $"source").as("source"),
          expr("split(trim(repeat(concat(array_join(slice(t, 1, 4), ' '), " +
            "' '), 5)), ' ')").as("t"))
      val per = base.unionByName(planted)
        .select($"source", expr(periodExprSpark("t")).as("p"))
      per.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum(when($"p" > 0, 1L).otherwise(0L)).as("n_periodic"),
          coalesce(min(when($"p" > 0, $"p")), lit(0)).cast("long")
            .as("min_period"))
        .select($"source", $"n_docs", $"n_periodic",
          expr("(n_periodic * 1000000) DIV n_docs").as("periodic_ppm"),
          $"min_period")
        .orderBy($"source")
    },

    q("q427_streaming_periods", periodOracleSql) { (s, dir) =>
      import s.implicits._
      // Streaming twin of the period detector through the engine source —
      // the shape an ingest-time loop screen takes: the smallest-period
      // test is a pure per-row projection (no cross-row state), so it runs
      // map-side inside each micro-batch, and the per-source screen is a
      // complete-mode keyed aggregation of three counters (docs, periodic
      // docs, min period) per source forever. The plant happens at PRODUCE
      // time — the synthesized periodic docs ride the same log the
      // naturals do — and the oracle is q425's batch statement verbatim:
      // streamed counters must reproduce the batch scan exactly.
      val root = graft.LogFixtures.producedLog(dir, "q427") { r =>
        val base = T(s, dir, "documents")
          .select($"doc_id", $"source", $"text")
        val planted = T(s, dir, "documents")
          .select($"doc_id", $"source", split($"text", " ").as("t"))
          .filter($"doc_id" % 50 === 0 && size($"t") >= 4)
          .select(($"doc_id" + 1000000000L).as("doc_id"),
            concat(lit("__planted:"), $"source").as("source"),
            expr("trim(repeat(concat(array_join(slice(t, 1, 4), ' '), " +
              "' '), 5))").as("text"))
        graft.log.LogBulkProducer.produceAt(
          base.unionByName(planted)
            .select((lit(1700000000000L) + $"doc_id").as("ms"),
              $"doc_id", $"source", $"text"),
          "ms", r, "docs", orderCols = Seq("doc_id"))
      }
      val nIn = T(s, dir, "documents").count()
      val state = graft.streaming.StreamHarness.runToMemory(s, "q427", mode = "complete") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "docs")
          .option("valueSchema", "doc_id BIGINT, source STRING, text STRING")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", math.max(200L, nIn / 3).toString)
          .load()
          .select($"source", split($"text", " ").as("t"))
          .select($"source", expr(periodExprSpark("t")).as("p"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum(when($"p" > 0, 1L).otherwise(0L)).as("n_periodic"),
            min(when($"p" > 0, $"p")).as("minp"))
      }
      state
        .select($"source", $"n_docs", $"n_periodic",
          expr("(n_periodic * 1000000) DIV n_docs").as("periodic_ppm"),
          coalesce($"minp", lit(0)).cast("long").as("min_period"))
        .orderBy($"source")
    },

    q("q430_tokenizer_staleness", {
      // Oracle = the identical program: q423's vocabulary selection and
      // detMln costs trained on the OLD md5-half only, the packed Viterbi
      // DP over the union dictionary, per-(source, half) rollups. Unknown
      // pieces ride the deterministic EmInf path in both engines, so a
      // genuinely out-of-vocabulary word poisons nll identically and is
      // counted by the oov test rather than crashing anything.
      s"""WITH RECURSIVE dw AS (SELECT source,
         |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
         |      THEN 'old' ELSE 'new' END AS half,
         |    unnest(string_split(text, ' ')) AS word
         |  FROM documents),
         |wc AS (SELECT source, half, word, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM dw WHERE word <> '' GROUP BY source, half, word),
         |w AS (SELECT DISTINCT word FROM wc),
         |wo AS (SELECT DISTINCT word FROM wc WHERE half = 'old'),
         |wt AS (SELECT word, CAST(SUM(cnt) AS BIGINT) AS w_total
         |  FROM wc WHERE half = 'old' GROUP BY word),
         |cs1 AS (SELECT word, unnest(range(1, len(word) + 1)) AS st FROM wo),
         |cs2 AS (SELECT word, st, unnest(range(1,
         |    least(CAST(4 AS BIGINT), len(word) - st + 1) + 1)) AS l
         |  FROM cs1),
         |cand AS (SELECT word,
         |    substr(word, CAST(st AS INT), CAST(l AS INT)) AS piece
         |  FROM cs2),
         |pw AS (SELECT piece, CAST(SUM(wt.w_total) AS BIGINT) AS fw
         |  FROM cand JOIN wt USING (word) GROUP BY piece),
         |multi AS (SELECT piece, fw FROM (SELECT piece, fw,
         |      row_number() OVER (ORDER BY fw DESC, piece ASC) AS rk
         |    FROM pw WHERE len(piece) >= 2) WHERE rk <= 48),
         |voc0 AS (SELECT piece, fw FROM pw WHERE len(piece) = 1
         |  UNION ALL SELECT piece, fw FROM multi),
         |t0 AS (SELECT CAST(SUM(fw) AS BIGINT) AS tt FROM voc0),
         |voc AS MATERIALIZED (SELECT piece,
         |    ${graft.ColFns.detMlnSql("t0.tt", "voc0.fw")} AS cost0
         |  FROM voc0, t0),
         |${emDpDuck("seg", "voc", "cost0")},
         |fc AS (SELECT word, b1 AS bestf FROM seg WHERE i = len(word))
         |SELECT wc.source, wc.half,
         |  CAST(SUM(wc.cnt) AS BIGINT) AS n_words,
         |  CAST(SUM(wc.cnt * (f.bestf % 1024)) AS BIGINT) AS n_subwords,
         |  CAST((CAST(SUM(wc.cnt * (f.bestf % 1024)) AS BIGINT) * 1000000)
         |    // SUM(wc.cnt) AS BIGINT) AS fertility_ppm,
         |  CAST(SUM(CASE WHEN f.bestf >= 1024000000000000 THEN wc.cnt
         |    ELSE 0 END) AS BIGINT) AS oov_words
         |FROM wc JOIN fc f USING (word)
         |GROUP BY wc.source, wc.half ORDER BY wc.source, wc.half"""
    }) { (s, dir) =>
      import s.implicits._
      // Tokenizer-staleness monitor — the refresh-or-keep gate for a
      // tokenizer trained on last release's corpus: train q423's
      // frequency-initialized unigram model on the OLD md5-half of the
      // corpus only, segment BOTH halves under it, and compare per-source
      // fertility (subwords per word, ppm). A distribution shift shows up
      // as the new half paying more subwords per word than the old half
      // paid under its own vocabulary; genuinely unseen words ride the
      // deterministic EmInf path and surface in oov_words. Corpus-sized
      // work is ONE (source, half, word) collapse; training and the DP
      // run on the dictionary (q423's shape minus the EM round — the
      // frequency-initialized model IS the trained artifact here). The
      // md5 doc split follows the standing rule (parity correlates with
      // the fixture's source assignment).
      val wc = T(s, dir, "documents")
        .select($"source",
          expr("CASE WHEN substring(md5(CAST(CAST(doc_id AS STRING) AS " +
            "BINARY)), 1, 2) < '80' THEN 'old' ELSE 'new' END").as("half"),
          explode(split($"text", " ")).as("word"))
        .filter($"word" =!= "")
        .groupBy($"source", $"half", $"word").agg(count(lit(1)).as("cnt"))
        .transform(graft.CacheScope.cached)
      val dictAll = wc.select($"word").distinct()
      val dictOld = wc.filter($"half" === "old").select($"word").distinct()
        .transform(graft.CacheScope.cached)
      val wt = wc.filter($"half" === "old")
        .groupBy($"word").agg(sum($"cnt").as("w_total"))
      val pw = dictOld.select($"word", explode(expr(
          """flatten(transform(sequence(1, length(word)),
            |  st -> transform(sequence(1, least(4, length(word) - st + 1)),
            |    l -> substring(word, st, l))))""".stripMargin)).as("piece"))
        .join(wt, "word")
        .groupBy($"piece").agg(sum($"w_total").as("fw"))
        .transform(graft.CacheScope.cached)
      val multi = pw.filter(length($"piece") >= 2)
        .withColumn("rk", row_number().over(
          Window.orderBy($"fw".desc, $"piece".asc)))
        .filter($"rk" <= 48).drop("rk")
      val voc0 = pw.filter(length($"piece") === 1).unionByName(multi)
      val t0 = voc0.agg(sum($"fw").as("tt"))
      val voc = voc0.crossJoin(broadcast(t0))
        .select($"piece", graft.ColFns.detMln($"tt", $"fw").as("cost0"))
      val cm = voc.agg(map_from_entries(collect_list(
        struct($"piece", $"cost0"))).as("cm"))
      val fc = dictAll.crossJoin(broadcast(cm))
        .withColumn("barr", expr(emDpSpark("cm")))
        .select($"word",
          expr("element_at(barr, CAST(length(word) + 1 AS INT))").as("bestf"))
      wc.join(fc, "word")
        .groupBy($"source", $"half")
        .agg(sum($"cnt").as("n_words"),
          sum($"cnt" * ($"bestf" % 1024)).as("n_subwords"),
          sum(when($"bestf" >= 1024000000000000L, $"cnt").otherwise(0L))
            .as("oov_words"))
        .select($"source", $"half", $"n_words", $"n_subwords",
          expr("(n_subwords * 1000000) div n_words").as("fertility_ppm"),
          $"oov_words")
        .orderBy($"source", $"half")
    },
  )

  /** q425/q427 shared oracle: per-source smallest-period rollup with the
    * in-query plant (first-4-tokens x 5 per 50th doc). */
  private def periodOracleSql: String =
    """WITH base AS (SELECT doc_id, source, string_split(text, ' ') AS t
      |  FROM documents),
      |planted AS (SELECT doc_id + 1000000000 AS doc_id,
      |    '__planted:' || source AS source,
      |    string_split(trim(repeat(array_to_string(t[1:4], ' ') || ' ',
      |      5)), ' ') AS t
      |  FROM base WHERE doc_id % 50 = 0 AND len(t) >= 4),
      |allv AS (SELECT * FROM base UNION ALL SELECT * FROM planted),
      |per AS (SELECT source,
      |    COALESCE(list_min(list_filter(range(1, len(t) // 2 + 1),
      |      p -> len(list_filter(range(1, len(t) - p + 1),
      |        i -> t[CAST(i AS INT)] != t[CAST(i + p AS INT)])) = 0)),
      |      0) AS p
      |  FROM allv)
      |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  CAST(SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    AS n_periodic,
      |  (CAST(SUM(CASE WHEN p > 0 THEN 1 ELSE 0 END) AS BIGINT)
      |    * 1000000) // COUNT(*) AS periodic_ppm,
      |  CAST(COALESCE(MIN(CASE WHEN p > 0 THEN p END), 0) AS BIGINT)
      |    AS min_period
      |FROM per GROUP BY source ORDER BY source""".stripMargin

  /** The smallest-period projection over a token-array column (shared by
    * q425 batch and q427 streaming — one definition, one semantics).
    * Spark's sequence(1, 0) DESCENDS instead of returning empty, so the
    * n < 2 case is guarded explicitly (DuckDB's range(1, 1) is empty). */
  private def periodExprSpark(t: String): String =
    s"""coalesce(array_min(filter(
       |    IF(size($t) >= 2, sequence(1, size($t) DIV 2), array()),
       |    p -> size(filter(sequence(1, size($t) - p),
       |      i -> element_at($t, CAST(i AS INT))
       |        != element_at($t, CAST(i + p AS INT)))) = 0)),
       |  0)""".stripMargin

  /** One BPE iteration in the DuckDB dialect: count weighted adjacent symbol
    * pairs, pick the most frequent (tie-break lexicographic), apply the
    * merge via space-delimited replace. Shared by q177 (reports the merges)
    * and q180 (applies the final segmentation).
    */
  private def duckBpeIter(k: Int): String = {
    val prev = s"w${k - 1}"
    s"""p$k AS (SELECT pair, CAST(SUM(wf) AS BIGINT) AS c FROM (
       |    SELECT wf, unnest(list_transform(range(1, len(sy)),
       |      i -> sy[CAST(i AS INT)] || ' ' || sy[CAST(i+1 AS INT)])) AS pair
       |    FROM (SELECT wf, string_split(seq, ' ') AS sy FROM $prev)
       |    WHERE len(sy) >= 2) GROUP BY pair),
       |b$k AS (SELECT pair, c FROM p$k ORDER BY c DESC, pair LIMIT 1),
       |w$k AS (SELECT word, wf,
       |    trim(replace(' ' || seq || ' ', ' ' || pair || ' ',
       |      ' ' || replace(pair, ' ', '') || ' ')) AS seq
       |  FROM $prev, b$k)"""
  }

  /** The word-frequency table, initial char segmentation, and three merge
    * iterations (w0..w3, b1..b3) as DuckDB CTE bodies (no WITH keyword).
    */
  private def duckBpeCtes: String =
    s"""wf AS (SELECT tok AS word, CAST(COUNT(*) AS BIGINT) AS wf
       |  FROM (SELECT unnest(string_split(text, ' ')) AS tok FROM documents)
       |  WHERE length(tok) >= 2 GROUP BY tok),
       |w0 AS (SELECT word, wf, array_to_string(list_transform(
       |    range(1, length(word) + 1), i -> substr(word, CAST(i AS INT), 1)), ' ') AS seq
       |  FROM wf),
       |${duckBpeIter(1)},
       |${duckBpeIter(2)},
       |${duckBpeIter(3)}"""

  /** Spark-side BPE trainer shared by q177/q180: returns the three winning
    * merges (one-row frames) and the vocabulary segmented by all three.
    * See q177's scaladoc for the scale argument.
    */
  private def bpeTrain(s: SparkSession, dir: String): (Seq[DataFrame], DataFrame) = {
    import s.implicits._
    val wfT = T(s, dir, "documents")
      .select(explode(split($"text", " ")).as("tok"))
      .filter(length($"tok") >= 2)
      .groupBy($"tok").agg(count(lit(1)).as("wf"))
      .select($"tok".as("word"), $"wf")
    val w0 = wfT.withColumn("seq", expr(
      "array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), ' ')"))
      .transform(graft.CacheScope.cached)
    def step(prev: DataFrame): (DataFrame, DataFrame) = {
      val best = prev
        .withColumn("sy", split($"seq", " "))
        .filter(size($"sy") >= 2)
        .select($"wf", explode(expr(
          "transform(sequence(1, size(sy) - 1), i -> concat(sy[i-1], ' ', sy[i]))")).as("pair"))
        .groupBy($"pair").agg(sum($"wf").as("c"))
        .orderBy($"c".desc, $"pair".asc).limit(1)
      val merged = prev.crossJoin(broadcast(best.select($"pair")))
        .withColumn("seq", trim(expr(
          "replace(concat(' ', seq, ' '), concat(' ', pair, ' '), " +
            "concat(' ', replace(pair, ' ', ''), ' '))")))
        .select($"word", $"wf", $"seq")
        .transform(graft.CacheScope.cached)
      (best, merged)
    }
    val (b1, w1) = step(w0)
    val (b2, w2) = step(w1)
    val (b3, w3) = step(w2)
    (Seq(b1, b2, b3), w3)
  }

  /** Union of the per-language stopword profiles, deduped, stable order. */
  private[operators] def allStops: Seq[String] =
    stops.toSeq.sortBy(_._1).flatMap(_._2).distinct
}
