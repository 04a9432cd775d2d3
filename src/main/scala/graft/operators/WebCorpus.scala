package graft.operators

import graft.QueryDef.q
import graft.functions.TextHash.{P, duckPolyHash, polyHashSql}
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.{Aggregator, Window}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, Encoder, SparkSession}

/** Web-corpus curation operators — the ingest-side stages a crawl-derived
  * training-data pipeline runs BEFORE the dedup/quality family: HTML
  * boilerplate stripping, URL canonicalization, temperature-based source
  * mixing, and count-min-sketch frequency estimation.
  *
  * The reference delegates all per-entry computation to handler callbacks
  * (/root/reference/lib/redix/stream/consumer.ex:283-299); these make the
  * standard web-curation handlers first-class engine operators. Everything
  * here is map-side or one keyed shuffle — the 100 TB posture is stated per
  * query.
  */
object WebCorpus {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  // ---- q163 fixture synthesis + extraction, rendered into both dialects.
  // The fixture wraps each document in deterministic HTML (head/script/style,
  // nav + footer boilerplate, entity-encoded suffix) so the extraction has
  // real markup to strip; both engines synthesize and strip the SAME bytes,
  // so the oracle checks the extraction arithmetic, not the corpus.

  /** Dialect-aware global regexp_replace (Spark replaces all matches by
    * default; DuckDB needs the 'g' option). Patterns avoid backslash escapes
    * entirely — Spark string literals eat backslashes, DuckDB's don't, so a
    * pattern with them could silently differ between engines.
    */
  private[operators] def rr(duck: Boolean)(s: String, pat: String, rep: String): String =
    if (duck) s"regexp_replace($s, '$pat', '$rep', 'g')"
    else s"regexp_replace($s, '$pat', '$rep')"

  /** The synthesized page: one concat() both engines parse identically. */
  private[operators] val htmlExpr: String =
    "concat('<html><head><title>Doc ', CAST(doc_id AS STRING), " +
      "'</title><script type=\"text/javascript\">var n=1;</script>" +
      "<style>p{color:red}</style></head><body>" +
      "<nav>Home | About | Contact</nav><h1>', source, '</h1><p>', text, " +
      "'</p><p>Q&amp;A &lt;faq&gt;</p>" +
      "<footer>&copy; 2026 example.com</footer></body></html>')"

  /** trafilatura-style extraction: drop head (scripts/styles with it), drop
    * nav/footer boilerplate, strip remaining tags to spaces, decode the
    * basic entities (amp last, so '&amp;lt;' would stay literal '&lt;'),
    * collapse runs of spaces, trim.
    */
  private[operators] def extractExpr(duck: Boolean, h: String): String = {
    val g = rr(duck) _
    val noHead = g(h, "<head>.*?</head>", "")
    val noBoiler = g(noHead, "<nav>.*?</nav>|<footer>.*?</footer>", "")
    val noTags = g(noBoiler, "<[^>]+>", " ")
    val decoded = s"replace(replace(replace(replace($noTags, " +
      "'&lt;', '<'), '&gt;', '>'), '&copy;', '(c)'), '&amp;', '&')"
    s"trim(${g(decoded, "  +", " ")})"
  }

  // ---- q164 fixture synthesis + canonicalization ----

  /** Messy-but-equivalent URL variants per doc: mixed-case scheme/host,
    * optional www, default and non-default ports, optional path, tracking
    * params mixed into real ones, optional fragment.
    */
  private[operators] val urlExpr: String =
    "concat(CASE WHEN doc_id % 3 = 0 THEN 'HTTP' ELSE 'https' END, '://', " +
      "CASE WHEN doc_id % 2 = 0 THEN 'WWW.' ELSE '' END, " +
      "CASE WHEN doc_id % 5 < 2 THEN upper(source) ELSE source END, " +
      "'.Example.COM', " +
      "CASE WHEN doc_id % 4 = 0 THEN ':80' WHEN doc_id % 4 = 1 THEN ':443' " +
      "     WHEN doc_id % 4 = 2 THEN ':8080' ELSE '' END, " +
      "CASE WHEN doc_id % 5 = 0 THEN '' " +
      "     ELSE concat('/docs/', CAST(doc_id % 7 AS STRING)) END, " +
      "'?utm_source=feed&id=', CAST(doc_id % 13 AS STRING), " +
      "'&utm_campaign=spring&ref=rss', " +
      "CASE WHEN doc_id % 3 = 1 THEN '#sec2' ELSE '' END)"

  /** Canonicalization fragments over an aliased `url` column. The regexes use
    * character classes instead of backslash escapes ('[?]', '[0-9]') for the
    * same cross-dialect reason as [[rr]].
    */
  private[operators] val schemeExpr = "lower(regexp_extract(url, '^([A-Za-z]+)://', 1))"
  private[operators] val authExpr = "lower(regexp_extract(url, '^[A-Za-z]+://([^/?#]+)', 1))"
  /** path + query, fragment dropped. */
  private[operators] val pathqExpr = "regexp_extract(url, '^[A-Za-z]+://[^/?#]+([^#]*)', 1)"

  /** Canonical host over an aliased `auth` column: port stripped, leading
    * www. dropped (auth is already lowercased).
    */
  private[operators] val hostSql: String = {
    val hostRaw = "regexp_extract(auth, '^([^:]+)', 1)"
    s"CASE WHEN $hostRaw LIKE 'www.%' THEN substring($hostRaw, 5) ELSE $hostRaw END"
  }

  /** Canonical URL over aliased `scheme`/`auth`/`pathq` columns. */
  private[operators] def canonUrlSql(duck: Boolean): String = {
    val port = "regexp_extract(auth, ':([0-9]+)$', 1)"
    val canonPort = s"CASE WHEN $port = '' THEN '' " +
      s"WHEN scheme = 'http' AND $port = '80' THEN '' " +
      s"WHEN scheme = 'https' AND $port = '443' THEN '' " +
      s"ELSE concat(':', $port) END"
    val path = "regexp_extract(pathq, '^([^?]*)', 1)"
    val canonPath = s"CASE WHEN $path = '' THEN '/' ELSE $path END"
    val qs = "regexp_extract(pathq, '[?](.*)$', 1)"
    // drop tracking params, order-normalize the rest (literal compare, not
    // LIKE — '_' is a LIKE wildcard)
    val kept =
      if (duck) s"array_to_string(list_sort(list_filter(string_split($qs, '&'), " +
        "p -> substring(p, 1, 4) <> 'utm_')), '&')"
      else s"array_join(array_sort(filter(split($qs, '&'), " +
        "p -> substring(p, 1, 4) <> 'utm_')), '&')"
    s"concat(scheme, '://', $hostSql, $canonPort, $canonPath, " +
      s"CASE WHEN $kept = '' THEN '' ELSE concat('?', $kept) END)"
  }

  /** The Spark-dialect canonicalizer, exposed for WebCorpusSpec's
    * idempotence property.
    */
  private[graft] def canonUrlSqlForTest: String = canonUrlSql(duck = false)

  // ---- q165: temperature-flattened source mixing ----

  /** Macro-source with deliberately skewed sizes derived from the uniform
    * srcN fixture (web 10 sources, books 5, code 3, wiki 2), so alpha=0.5
    * flattening visibly up-weights the small sources.
    */
  private val macroExpr: String =
    "CASE WHEN CAST(substring(source, 4) AS BIGINT) < 10 THEN 'web' " +
      "WHEN CAST(substring(source, 4) AS BIGINT) < 15 THEN 'books' " +
      "WHEN CAST(substring(source, 4) AS BIGINT) < 18 THEN 'code' " +
      "ELSE 'wiki' END"

  /** Total docs the mixture should select (expectation). */
  private val MixTarget = 200L

  // ---- q166: count-min sketch ----

  private[graft] val CmsDepth = 4
  private[graft] val CmsWidth = 64

  /** Row d of the sketch hashes key-hash `h` with the same affine family the
    * minhash permutations use; the double mod keeps everything in the
    * polyhash domain first, so both engines agree.
    */
  private def bucket(d: Long, h: Long): Int =
    (((2 * d + 1) * h + 1000003L * d + 12345L) % P % CmsWidth).toInt

  private def bucketSql(d: String, h: String): String =
    s"((2*$d + 1) * $h + 1000003*$d + 12345) % $P % $CmsWidth"

  /** Mergeable count-min sketch over pre-hashed keys: a depth x width grid of
    * counters; update increments one counter per row, merge is element-wise
    * addition (commutative + associative, so Spark partial-aggregates it
    * map-side and only DepthxWidth longs cross the shuffle — the point of the
    * sketch at 100 TB, where the exact key space would not fit). Estimates
    * (min over rows) only ever over-count: est >= true, and with prob
    * 1-(1/2)^depth the error is <= 2n/width.
    */
  private[graft] object CmsSketch extends Aggregator[Long, Array[Long], Array[Long]] {
    override def zero: Array[Long] = new Array[Long](CmsDepth * CmsWidth)
    override def reduce(b: Array[Long], h: Long): Array[Long] = {
      var d = 0
      while (d < CmsDepth) { b(d * CmsWidth + bucket(d, h)) += 1; d += 1 }
      b
    }
    override def merge(x: Array[Long], y: Array[Long]): Array[Long] = {
      var i = 0
      while (i < x.length) { x(i) += y(i); i += 1 }
      x
    }
    override def finish(r: Array[Long]): Array[Long] = r
    override def bufferEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
    override def outputEncoder: Encoder[Array[Long]] =
      org.apache.spark.sql.catalyst.encoders.ExpressionEncoder[Array[Long]]()
  }

  // ---- q458 fixture synthesis: the WARC record, rendered identically in
  // both dialects (ASCII only, so length() == bytes in both engines).
  // Every fifth payload embeds the two-CRLF record separator so parsing
  // must honor Content-Length.

  private[operators] val warcPayloadExpr: String =
    "concat(text, CASE WHEN doc_id % 5 = 0 " +
      "THEN concat(chr(13), chr(10), chr(13), chr(10), '--') ELSE '' END)"

  private[operators] def warcRecExpr(p: String): String =
    "concat('WARC/1.0', chr(13), chr(10), " +
      "'WARC-Type: response', chr(13), chr(10), " +
      "'WARC-Record-ID: <urn:graft:', CAST(doc_id AS STRING), '>', " +
      "chr(13), chr(10), " +
      "'WARC-Target-URI: https://', source, '.example.com/docs/', " +
      "CAST(doc_id % 7 AS STRING), chr(13), chr(10), " +
      s"'Content-Length: ', CAST(length($p) AS STRING), " +
      s"chr(13), chr(10), chr(13), chr(10), $p, chr(13), chr(10), " +
      "chr(13), chr(10))"

  // ---- q459 fixture synthesis: 1-3 anchor tags per document, all
  // closed-form; the regex extracts (href, anchor) pairs group-indexed.

  private def linkExpr(j: Int): String = {
    val anchor = s"CASE (doc_id + $j) % 5 WHEN 0 THEN 'click here' " +
      "WHEN 1 THEN 'read more' WHEN 2 THEN 'docs' " +
      "WHEN 3 THEN 'spark guide' ELSE 'home' END"
    s"CASE WHEN doc_id % 3 >= $j THEN concat('<a href=\"https://src', " +
      s"CAST((CAST(substr(source, 4) AS BIGINT) * 31 + doc_id * 7 + $j * 13) " +
      s"% 20 AS STRING), '.example.com/docs/', " +
      s"CAST((doc_id + $j) % 7 AS STRING), '\">', $anchor, '</a> ') " +
      "ELSE '' END"
  }

  private[operators] val linkedHtmlExpr: String =
    s"concat('<html><body><p>', text, '</p>', ${linkExpr(0)}, " +
      s"${linkExpr(1)}, ${linkExpr(2)}, '</body></html>')"

  /** The <a> tag pattern as a SQL string literal (shared by both dialects;
    * no backslash escapes — Spark and DuckDB string literals disagree on
    * them).
    */
  private[operators] val aTagPat: String =
    "'<a href=\"([^\"]+)\">([^<]+)</a>'"

  val defs: Seq[QueryDef] = Seq(

    q("q163_html_extract", {
      val ext = extractExpr(duck = true, "html")
      s"""WITH pages AS (SELECT doc_id, $htmlExpr AS html FROM documents),
         |ex AS (SELECT doc_id, html, $ext AS extracted FROM pages)
         |SELECT doc_id,
         |  CAST(length(html) AS BIGINT) AS n_html,
         |  CAST(length(extracted) AS BIGINT) AS n_text,
         |  CAST(length(extracted) AS BIGINT) * 1000000
         |    // CAST(length(html) AS BIGINT) AS text_ratio_micro,
         |  md5(extracted) AS digest
         |FROM ex ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // HTML -> text extraction, the first stage of every crawl pipeline:
      // drop <head> (scripts/styles with it), drop nav/footer boilerplate,
      // strip tags, decode entities, normalize whitespace; emit the
      // text-to-markup ratio every boilerplate classifier thresholds on.
      // Pure map-side regex/string work — embarrassingly parallel, no
      // shuffle at any scale (the final sort is presentation).
      T(s, dir, "documents")
        .withColumn("html", expr(htmlExpr))
        .withColumn("extracted", expr(extractExpr(duck = false, "html")))
        .select($"doc_id",
          length($"html").cast("long").as("n_html"),
          length($"extracted").cast("long").as("n_text"),
          expr("CAST(length(extracted) AS BIGINT) * 1000000 DIV length(html)")
            .as("text_ratio_micro"),
          md5($"extracted").as("digest"))
        .orderBy($"doc_id")
    },

    q("q164_url_canonicalize", {
      s"""WITH u AS (SELECT doc_id, $urlExpr AS url FROM documents),
         |parts AS (SELECT doc_id, url, $schemeExpr AS scheme, $authExpr AS auth,
         |  $pathqExpr AS pathq FROM u),
         |c AS (SELECT doc_id, ${canonUrlSql(duck = true)} AS canon_url,
         |  $hostSql AS host FROM parts)
         |SELECT doc_id, canon_url, host,
         |  CAST(COUNT(*) OVER (PARTITION BY canon_url) AS BIGINT) AS n_same,
         |  doc_id = MIN(doc_id) OVER (PARTITION BY canon_url) AS is_rep
         |FROM c ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // URL canonicalization + duplicate grouping, how a crawl dedups BEFORE
      // fetching content twice: lowercase scheme/host, strip www and default
      // ports, drop fragments and utm_* tracking params, order-normalize the
      // query string, root empty paths. Canonicalization is map-side; the
      // duplicate-group window is ONE shuffle on canon_url (at 100 TB the
      // same shuffle any url-keyed groupBy pays; the text column is never
      // read). is_rep keys keep-first retention on MIN(doc_id) — the same
      // canonical-representative contract as q40's exact dedup.
      val byCanon = Window.partitionBy($"canon_url")
      T(s, dir, "documents")
        .withColumn("url", expr(urlExpr))
        .withColumn("scheme", expr(schemeExpr))
        .withColumn("auth", expr(authExpr))
        .withColumn("pathq", expr(pathqExpr))
        .select($"doc_id",
          expr(canonUrlSql(duck = false)).as("canon_url"),
          expr(hostSql).as("host"))
        .withColumn("n_same", count(lit(1)).over(byCanon).cast("long"))
        .withColumn("is_rep", $"doc_id" === min($"doc_id").over(byCanon))
        .orderBy($"doc_id")
    },

    q("q165_source_mixture", {
      val ph = duckPolyHash("CAST(doc_id AS STRING)")
      s"""WITH docs AS (SELECT doc_id, $macroExpr AS source_group FROM documents),
         |sc AS (SELECT source_group, CAST(COUNT(*) AS BIGINT) AS n_docs
         |  FROM docs GROUP BY source_group),
         |ms AS (SELECT source_group, n_docs,
         |  CAST(FLOOR(sqrt(CAST(n_docs AS DOUBLE)) * 1000000 + 0.5) AS BIGINT) AS msqrt
         |  FROM sc),
         |tot AS (SELECT CAST(SUM(msqrt) AS BIGINT) AS t FROM ms),
         |rates AS (SELECT source_group, n_docs, msqrt,
         |  LEAST(1000000, (msqrt * $MixTarget * 1000000) // (t * n_docs)) AS rate_ppm
         |  FROM ms, tot),
         |picked AS (SELECT d.source_group,
         |    CASE WHEN (($ph) * 2654435761) % ${P} % 1000000 < r.rate_ppm
         |      THEN 1 ELSE 0 END AS pick
         |  FROM docs d JOIN rates r USING (source_group))
         |SELECT r.source_group, r.n_docs, r.rate_ppm,
         |  p.n_sampled
         |FROM rates r JOIN (SELECT source_group, CAST(SUM(pick) AS BIGINT) AS n_sampled
         |  FROM picked GROUP BY source_group) p USING (source_group)
         |ORDER BY r.source_group"""
    }) { (s, dir) =>
      import s.implicits._
      // Temperature-based source mixing (the XLM-R / multilingual-LM recipe
      // at alpha = 0.5): sampling probability proportional to n^alpha, so
      // small sources are up-weighted relative to their share. Float
      // discipline: each sqrt is rounded to integer micro-units BEFORE the
      // cross-source sum (double addition is order-dependent; integer
      // addition is exact in both engines), and the per-source rate is one
      // integer expression. Selection is the deterministic hash-threshold
      // trick (q87) with one extra mixing step: polyhash of a SHORT string
      // (doc_id is 1-5 chars) lands in a tiny range, so it is multiplied by
      // a large odd constant mod P (a bijection on [0,P) — Knuth's
      // multiplicative scatter) before the % 1e6 threshold; without it the
      // raw hash of every 3-char id sits below any realistic rate and the
      // "sample" keeps everything (caught by WebCorpusSpec). Reproducible
      // across engines, runs, and cluster sizes. The rate table is tiny and
      // broadcast; the corpus is never shuffled (one map-side pick + one
      // groupBy on the handful of source groups).
      val docs = T(s, dir, "documents")
        .select($"doc_id", expr(macroExpr).as("source_group"))
        .transform(graft.CacheScope.cached)
      val sc = docs.groupBy($"source_group")
        .agg(count(lit(1)).as("n_docs"))
        .withColumn("msqrt",
          floor(sqrt($"n_docs".cast("double")) * 1000000d + 0.5d).cast("long"))
        .transform(graft.CacheScope.cached) // feeds both the rate table and the total
      val rates = sc.crossJoin(broadcast(sc.agg(sum($"msqrt").as("t"))))
        .withColumn("rate_ppm",
          least(lit(1000000L),
            expr(s"(msqrt * $MixTarget * 1000000) DIV (t * n_docs)")))
        .select($"source_group", $"n_docs", $"rate_ppm")
      val picked = docs
        .join(broadcast(rates), "source_group")
        .withColumn("pick",
          (expr(polyHashSql("CAST(doc_id AS STRING)")) * 2654435761L % P % 1000000L
            < $"rate_ppm").cast("int"))
        .groupBy($"source_group").agg(sum($"pick").cast("long").as("n_sampled"))
      rates.join(picked, "source_group")
        .select($"source_group", $"n_docs", $"rate_ppm", $"n_sampled")
        .orderBy($"source_group")
    },

    q("q166_count_min", {
      val ph = duckPolyHash("tok")
      s"""WITH toks AS (SELECT unnest(string_split(text, ' ')) AS tok FROM documents),
         |tf AS (SELECT tok, CAST(COUNT(*) AS BIGINT) AS exact_n, $ph AS h
         |  FROM toks GROUP BY tok),
         |lk AS (SELECT tok, exact_n, d, ${bucketSql("d", "h")} AS bucket
         |  FROM tf, (SELECT unnest([0,1,2,3]) AS d)),
         |cnt AS (SELECT d, bucket, CAST(SUM(exact_n) AS BIGINT) AS c
         |  FROM lk GROUP BY d, bucket),
         |est AS (SELECT tok, exact_n, MIN(c) AS est_n
         |  FROM lk JOIN cnt USING (d, bucket) GROUP BY tok, exact_n)
         |SELECT tok, exact_n, est_n, est_n - exact_n AS overcount
         |FROM est ORDER BY exact_n DESC, tok LIMIT 20"""
    }) { (s, dir) =>
      import s.implicits._
      // Count-min sketch (Cormode & Muthukrishnan): fixed DepthxWidth counter
      // grid, mergeable by element-wise addition — the Spark side runs the
      // REAL sketch as a typed Aggregator UDAF over the raw token stream
      // (partial sketches merge map-side; only 256 longs cross the shuffle),
      // then answers point queries from the broadcast sketch array. The
      // width is sized BELOW the vocabulary so collisions actually occur and
      // the overcount column shows the sketch's one-sided error; the oracle
      // replays the identical counter arithmetic in SQL. At 100 TB this is
      // the frequency-estimation plan when the key space doesn't fit:
      // sketch size is constant in the data.
      val cms = udaf(CmsSketch)
      val toks = T(s, dir, "documents")
        .select(explode(split($"text", " ")).as("tok"))
        .transform(graft.CacheScope.cached)
      val sketch = toks
        .select(expr(polyHashSql("tok")).as("h"))
        .agg(cms($"h").as("sk"))
      val tf = toks.groupBy($"tok").agg(count(lit(1)).as("exact_n"))
        .withColumn("h", expr(polyHashSql("tok")))
      tf.crossJoin(broadcast(sketch))
        .withColumn("est_n", expr(
          s"""array_min(transform(sequence(0, ${CmsDepth - 1}, 1),
             |  d -> element_at(sk, CAST(d * $CmsWidth + ${bucketSql("d", "h")} + 1 AS INT))))""".stripMargin))
        .select($"tok", $"exact_n", $"est_n",
          ($"est_n" - $"exact_n").as("overcount"))
        .orderBy($"exact_n".desc, $"tok".asc)
        .limit(20)
    },

    q("q170_line_dedup", {
      val duckLines =
        "list_concat(list_concat(['NAV HOME ' || source], " +
          "list_transform(range((len(words)+7)//8), " +
          "i -> array_to_string(words[CAST(i*8+1 AS INT):CAST(i*8+8 AS INT)], ' '))), " +
          "['COPYRIGHT 2026 EXAMPLE'])"
      s"""WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS words
         |  FROM documents),
         |l AS (SELECT doc_id, $duckLines AS lines FROM d),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |c AS (SELECT line, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM (SELECT doc_id, unnest(list_distinct(lines)) AS line FROM l)
         |  GROUP BY line),
         |b AS (SELECT COALESCE((SELECT list(line ORDER BY line) FROM c, n
         |    WHERE cnt * 50 >= n_docs), []) AS bl)
         |SELECT doc_id,
         |  CAST(len(lines) AS BIGINT) AS n_lines,
         |  CAST(len(kept) AS BIGINT) AS n_kept,
         |  md5(array_to_string(kept, '|')) AS kept_digest
         |FROM (SELECT doc_id, lines,
         |    list_filter(lines, x -> NOT list_contains(bl, x)) AS kept
         |  FROM l, b)
         |ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // CCNet-style line-level boilerplate removal: split each page into
      // lines (synthesized here as a nav header, 8-word chunks of the real
      // text, and a copyright footer — the corpus has no newlines, so the
      // framing gives the dedup real boilerplate to find), count how many
      // DOCUMENTS each exact line appears in, and drop lines above a 2%
      // document-frequency threshold, rebuilding the page with surviving
      // lines IN ORDER. One shuffle on the line string for the frequency
      // count; the boilerplate vocabulary is inherently small (that is what
      // makes it boilerplate — bounded per-domain nav/footer text), so the
      // drop list is BROADCAST and the rebuild is a map-side list_filter
      // that preserves position without a posexplode round-trip. At 100 TB
      // the same shape holds per domain shard; if a drop list ever outgrew
      // broadcast, the fallback is an anti-join on (doc, line, pos) with a
      // positional rebuild — noted, not needed.
      val sparkLines =
        "concat(array(concat('NAV HOME ', source)), " +
          "transform(sequence(0, (size(words)+7) DIV 8 - 1), " +
          "i -> concat_ws(' ', slice(words, i*8+1, 8))), " +
          "array('COPYRIGHT 2026 EXAMPLE'))"
      val l = T(s, dir, "documents")
        .withColumn("words", split($"text", " "))
        .select($"doc_id", expr(sparkLines).as("lines"))
        .transform(graft.CacheScope.cached) // frequency pass + rebuild pass
      val nDocs = l.agg(count(lit(1)).as("n_docs"))
      val boiler = l
        .select($"doc_id", explode(array_distinct($"lines")).as("line"))
        .groupBy($"line").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(nDocs))
        .filter($"cnt" * 50 >= $"n_docs")
        .agg(sort_array(collect_list($"line")).as("bl"))
      l.crossJoin(broadcast(boiler))
        .withColumn("kept", expr("filter(lines, x -> NOT array_contains(bl, x))"))
        .select($"doc_id",
          size($"lines").cast("long").as("n_lines"),
          size($"kept").cast("long").as("n_kept"),
          md5(concat_ws("|", $"kept").cast("binary")).as("kept_digest"))
        .orderBy($"doc_id")
    },

    q("q206_cms_join_estimate", {
      val ph = duckPolyHash("CAST(user_id AS VARCHAR)")
      // CMS inner-product join-size estimation: est_d = sum_i A_d[i]*B_d[i]
      // over each depth row, estimate = min over depths. One-sided like the
      // point query: est >= true join size, and the oracle replays the
      // identical counter arithmetic from exact per-bucket counts.
      s"""WITH a AS (SELECT $ph AS h FROM events WHERE event_type = 'click'),
         |b AS (SELECT $ph AS h FROM events WHERE event_type = 'purchase'),
         |la AS (SELECT d, ${bucketSql("d", "h")} AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS ca
         |  FROM a, (SELECT unnest([0,1,2,3]) AS d) GROUP BY d, bucket),
         |lb AS (SELECT d, ${bucketSql("d", "h")} AS bucket,
         |    CAST(COUNT(*) AS BIGINT) AS cb
         |  FROM b, (SELECT unnest([0,1,2,3]) AS d) GROUP BY d, bucket),
         |ip AS (SELECT la.d, CAST(SUM(la.ca * lb.cb) AS BIGINT) AS dot
         |  FROM la JOIN lb ON la.d = lb.d AND la.bucket = lb.bucket
         |  GROUP BY la.d),
         |ex AS (SELECT CAST(COALESCE(SUM(na * nb), 0) AS BIGINT) AS exact_join
         |  FROM (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS na FROM events
         |      WHERE event_type = 'click' GROUP BY user_id) x
         |    JOIN (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS nb FROM events
         |      WHERE event_type = 'purchase' GROUP BY user_id) y
         |    ON x.user_id = y.user_id)
         |SELECT (SELECT MIN(dot) FROM ip) AS est_join,
         |  exact_join,
         |  (SELECT MIN(dot) FROM ip) - exact_join AS overcount
         |FROM ex"""
    }) { (s, dir) =>
      import s.implicits._
      // Join-cardinality estimation from two count-min sketches — what a
      // planner (or an operator sizing a shuffle) does BEFORE running the
      // join: sketch each side's key distribution in one pass, estimate
      // |A JOIN B| as the minimum depth-row inner product. Both sketches
      // partial-aggregate map-side (256 longs each cross their shuffles),
      // the inner product is a 1-row-x-1-row broadcast cross join, and the
      // exact join runs alongside as the certificate — at 100 TB you keep
      // the sketches and drop the exact pass, which is the point: estimate
      // cost is constant in the data.
      val cms = udaf(CmsSketch)
      val ev = T(s, dir, "events")
        .select($"event_type", expr(
          s"(graft_polyhash(CAST(user_id AS STRING)))").as("h"), $"user_id")
        .transform(graft.CacheScope.cached)
      val ska = ev.filter($"event_type" === "click").agg(cms($"h").as("ska"))
      val skb = ev.filter($"event_type" === "purchase").agg(cms($"h").as("skb"))
      val est = ska.crossJoin(broadcast(skb))
        .withColumn("est_join", expr(
          s"""array_min(transform(sequence(0, ${CmsDepth - 1}, 1),
             |  d -> aggregate(
             |    zip_with(slice(ska, d * $CmsWidth + 1, $CmsWidth),
             |             slice(skb, d * $CmsWidth + 1, $CmsWidth),
             |             (x, y) -> x * y),
             |    CAST(0 AS BIGINT), (acc, v) -> acc + v)))""".stripMargin))
        .select($"est_join")
      val na = ev.filter($"event_type" === "click")
        .groupBy($"user_id").agg(count(lit(1)).as("na"))
      val nb = ev.filter($"event_type" === "purchase")
        .groupBy($"user_id").agg(count(lit(1)).as("nb"))
      val exact = na.join(nb, "user_id")
        .agg(coalesce(sum($"na" * $"nb"), lit(0L)).as("exact_join"))
      est.crossJoin(broadcast(exact))
        .select($"est_join", $"exact_join",
          ($"est_join" - $"exact_join").as("overcount"))
    },
    q("q304_crawl_schedule",
      // Politeness-aware crawl-frontier scheduling: per-source queues
      // interleaved round-robin (slot = position within source, global
      // order = (slot, source)) so no host is hammered twice before every
      // other active host got its turn — the fetch-order planner of any
      // crawler. The certificate rides the output: each row carries its
      // gap to the SAME source's previous scheduled fetch, which stays >=
      // the number of active sources during full rounds. The global
      // interleave window only ever sees the slot <= 40 prefix: slots are
      // DENSE per source, so a row with slot 41 has >= 40 same-source
      // predecessors in (slot, source, doc_id) order and its global rank
      // is >= 41 — pre-filtering cannot change any surviving rank or gap
      // (the same-source predecessor of a kept row sits at slot-1, also
      // kept). That caps the single-partition pass at 40 x #sources rows
      // at ANY corpus size; the per-source slot window is the only
      // data-sized pass.
      """WITH s AS (SELECT doc_id, source,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
        |      AS BIGINT) AS slot
        |  FROM documents),
        |r AS (SELECT doc_id, source, slot,
        |    CAST(ROW_NUMBER() OVER (ORDER BY slot, source, doc_id)
        |      AS BIGINT) AS rank_
        |  FROM s WHERE slot <= 40),
        |g AS (SELECT rank_, source, doc_id, slot,
        |    COALESCE(rank_ - LAG(rank_) OVER (PARTITION BY source
        |      ORDER BY rank_), 0) AS same_source_gap
        |  FROM r)
        |SELECT rank_, source, doc_id, slot, same_source_gap
        |FROM g WHERE rank_ <= 40 ORDER BY rank_""") { (s, dir) =>
      import s.implicits._
      val sl = T(s, dir, "documents")
        .select($"doc_id", $"source",
          row_number().over(Window.partitionBy($"source")
            .orderBy($"doc_id")).cast("long").as("slot"))
      val r = sl.filter($"slot" <= 40)
        .withColumn("rank_",
          row_number().over(Window.orderBy($"slot", $"source", $"doc_id"))
            .cast("long"))
      r.withColumn("same_source_gap",
          coalesce($"rank_" - lag($"rank_", 1).over(
            Window.partitionBy($"source").orderBy($"rank_")), lit(0L)))
        .filter($"rank_" <= 40)
        .select($"rank_", $"source", $"doc_id", $"slot", $"same_source_gap")
        .orderBy($"rank_")
    },

    q("q454_robots_compliance",
      // robots.txt COMPLIANCE audit — the legal/etiquette gate a crawl
      // corpus must pass before its URLs become training data, the
      // access-rule half beside q304's politeness scheduling. Each
      // source's robots.txt is synthesized closed-form (every third
      // source carries a graftbot-specific group with a Disallow and a
      // LONGER Allow carve-out; the rest only a `*` group) and then
      // genuinely PARSED by the RFC 9309 evaluator (functions/Robots:
      // group selection specific-over-*, longest-prefix match, Allow
      // winning length ties — WebCorpusSpec pins those laws on adversarial
      // inputs, including consecutive User-agent lines and comment
      // stripping). Per source: URL count, blocked count, how many
      // verdicts an Allow carve-out OVERRODE a matching Disallow (the
      // rule interaction naive prefix-blockers get wrong), blocked ppm,
      // and whether the specific group was selected. The oracle replays
      // the OUTCOMES arithmetically from the closed-form layout — a
      // parser that mis-selects groups, ignores tie rules, or
      // short-circuits on first match cannot reproduce them. Map-side
      // per URL; the only shuffle is the source-sized rollup.
      """WITH d AS (SELECT doc_id, source,
        |    CAST(substr(source, 4) AS BIGINT) AS k,
        |    doc_id % 7 AS seg FROM documents),
        |v AS (SELECT doc_id, source,
        |    CASE WHEN k % 3 = 0 THEN 1 ELSE 0 END AS specific,
        |    CASE WHEN k % 3 = 0 THEN
        |        CASE WHEN seg = k % 5 AND doc_id % 11 <> 0 THEN 1 ELSE 0 END
        |      ELSE
        |        CASE WHEN seg = (k + 1) % 5 THEN 1 ELSE 0 END
        |      END AS blocked,
        |    CASE WHEN k % 3 = 0 AND seg = k % 5 AND doc_id % 11 = 0
        |      THEN 1 ELSE 0 END AS overridden
        |  FROM d)
        |SELECT source,
        |  CAST(COUNT(*) AS BIGINT) AS n_urls,
        |  CAST(SUM(blocked) AS BIGINT) AS n_blocked,
        |  CAST(SUM(overridden) AS BIGINT) AS n_overridden,
        |  CAST((SUM(blocked) * 1000000) // COUNT(*) AS BIGINT) AS blocked_ppm,
        |  CAST(MIN(specific) AS BIGINT) AS specific_group
        |FROM v GROUP BY source ORDER BY source""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents")
        .select($"doc_id", $"source").as[(Long, String)]
        .mapPartitions(_.map { case (id, src) =>
          val k = src.stripPrefix("src").toLong
          val robots =
            if (k % 3 == 0)
              s"""# robots for $src
                 |User-agent: graftbot
                 |Disallow: /p${k % 5}
                 |Allow: /p${k % 5}/ok
                 |
                 |User-agent: *
                 |Disallow: /p${(k + 1) % 5}""".stripMargin
            else
              s"""User-agent: *
                 |Disallow: /p${(k + 1) % 5}""".stripMargin
          val path = s"/p${id % 7}${if (id % 11 == 0) "/ok" else ""}/page$id"
          val groups = graft.functions.Robots.parse(robots)
          val rules = graft.functions.Robots.groupFor(groups, "graftbot")
          val specific = groups.contains("graftbot") &&
            (groups("graftbot") eq rules)
          val (allowed, overridden) =
            graft.functions.Robots.evaluate(rules, path)
          (src, if (allowed) 0L else 1L, if (overridden) 1L else 0L,
            if (specific) 1L else 0L)
        })
        .toDF("source", "blocked", "overridden", "specific")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_urls"), sum($"blocked").as("n_blocked"),
          sum($"overridden").as("n_overridden"),
          expr("CAST((SUM(blocked) * 1000000) div COUNT(*) AS BIGINT)")
            .as("blocked_ppm"),
          min($"specific").as("specific_group"))
        .orderBy($"source")
    },

    q("q458_warc_ingest",
      // WARC archive ingest census — web corpora arrive as WARC files
      // (Common Crawl's container), so the ingest edge of the pipeline is
      // a format PARSER, not a parquet scan. Each source's archive is
      // synthesized closed-form (every fifth payload deliberately CONTAINS
      // the two-CRLF record separator, so boundaries must come from
      // Content-Length — the property split-on-separator pseudo-parsers
      // get wrong) and then genuinely parsed by functions/Warc.scala
      // (strict ISO 28500 grammar, loud byte-offset failures; WarcProps
      // pins the round-trip, embedded-separator, truncation, and
      // over-declared-length laws). The oracle replays the census
      // ARITHMETICALLY from the construction (offsets = prefix sums of
      // record lengths), so a parser that resyncs on separators, drops
      // headers, or mis-sizes payloads cannot reproduce it. At 100 TB:
      // one blob row = one archive segment; the parse is map-side and
      // embarrassingly parallel across segments (in production the blobs
      // come straight from storage — the groupBy assembly here only
      // exists because the fixture is row-shaped).
      s"""WITH p AS (SELECT doc_id, source, $warcPayloadExpr AS payload
         |  FROM documents),
         |r AS (SELECT doc_id, source, payload,
         |    ${warcRecExpr("payload")} AS rec FROM p),
         |w AS (SELECT source, doc_id, payload,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id)
         |      AS BIGINT) AS rec_idx,
         |    CAST(COALESCE(SUM(length(rec)) OVER (PARTITION BY source
         |        ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1
         |        PRECEDING), 0) AS BIGINT) AS byte_off
         |  FROM r)
         |SELECT source, rec_idx, doc_id, byte_off,
         |  CAST(length(payload) AS BIGINT) AS content_length,
         |  CAST(4 AS BIGINT) AS n_headers,
         |  md5(payload) AS payload_digest
         |FROM w ORDER BY source, rec_idx""") { (s, dir) =>
      import s.implicits._
      val recs = T(s, dir, "documents")
        .withColumn("payload", expr(warcPayloadExpr))
        .withColumn("rec", expr(warcRecExpr("payload")))
      recs.groupBy($"source")
        .agg(expr("array_join(transform(array_sort(collect_list(" +
          "struct(doc_id, rec))), r -> r.rec), '')").as("blob"))
        .select($"source", $"blob").as[(String, String)]
        .mapPartitions(_.flatMap { case (src, blob) =>
          graft.functions.Warc.parse(blob).iterator.zipWithIndex.map {
            case (r, i) =>
              val id = r.headers("WARC-Record-ID")
                .stripPrefix("<urn:graft:").stripSuffix(">").toLong
              (src, (i + 1).toLong, id, r.offset,
                r.payload.length.toLong, r.headers.size.toLong, r.payload)
          }
        })
        .toDF("source", "rec_idx", "doc_id", "byte_off", "content_length",
          "n_headers", "payload")
        .select($"source", $"rec_idx", $"doc_id", $"byte_off",
          $"content_length", $"n_headers",
          md5($"payload".cast("binary")).as("payload_digest"))
        .orderBy($"source", $"rec_idx")
    },

    q("q459_outlink_graph",
      // Host-level link graph + anchor-text consensus — what PageRank-like
      // authority scoring (q168) and anchor-text indexing consume. Each
      // document's HTML is synthesized with 1-3 deterministic <a> tags
      // (target host, path segment, and anchor words all closed-form in
      // doc_id/source), outlinks are extracted by regex (group-indexed
      // regexp_extract_all in BOTH dialects — no backslash escapes, per
      // the house rule), and the edge rollup keeps per-(src,dst) link
      // counts plus the modal anchor text with the (count DESC, anchor)
      // tie-break q319's MODE aggregate uses. Extraction is map-side; the
      // only shuffles are the (src,dst,anchor)-keyed count and the
      // (src,dst) window over the ALREADY-AGGREGATED edge-anchor table
      // (bounded by hosts x anchors, not by corpus rows) — at 100 TB the
      // raw-row pass never sorts.
      s"""WITH h AS (SELECT doc_id, source, $linkedHtmlExpr AS html
         |  FROM documents),
         |e AS (SELECT source,
         |    unnest(regexp_extract_all(html, $aTagPat, 1)) AS href,
         |    unnest(regexp_extract_all(html, $aTagPat, 2)) AS anchor
         |  FROM h),
         |d AS (SELECT source,
         |    regexp_extract(href, 'https://(src[0-9]+)[.]', 1) AS dst_host,
         |    anchor FROM e),
         |c AS (SELECT source, dst_host, anchor,
         |    CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM d GROUP BY source, dst_host, anchor),
         |r AS (SELECT source, dst_host, anchor, cnt,
         |    ROW_NUMBER() OVER (PARTITION BY source, dst_host
         |      ORDER BY cnt DESC, anchor) AS rn,
         |    CAST(SUM(cnt) OVER (PARTITION BY source, dst_host)
         |      AS BIGINT) AS n_links,
         |    CAST(COUNT(*) OVER (PARTITION BY source, dst_host)
         |      AS BIGINT) AS n_anchor_kinds
         |  FROM c)
         |SELECT source AS src_host, dst_host, n_links, n_anchor_kinds,
         |  anchor AS top_anchor, cnt AS top_anchor_n,
         |  source = dst_host AS is_self
         |FROM r WHERE rn = 1 ORDER BY src_host, dst_host""") { (s, dir) =>
      import s.implicits._
      val pairs = T(s, dir, "documents")
        .withColumn("html", expr(linkedHtmlExpr))
        .withColumn("hrefs", expr(s"regexp_extract_all(html, $aTagPat, 1)"))
        .withColumn("anchors", expr(s"regexp_extract_all(html, $aTagPat, 2)"))
        .select($"source", explode(arrays_zip($"hrefs", $"anchors")).as("z"))
        .select($"source",
          expr("regexp_extract(z.hrefs, 'https://(src[0-9]+)[.]', 1)")
            .as("dst_host"),
          $"z.anchors".as("anchor"))
      val edgeAnchor = pairs.groupBy($"source", $"dst_host", $"anchor")
        .agg(count(lit(1)).as("cnt"))
      val byEdge = Window.partitionBy($"source", $"dst_host")
      edgeAnchor
        .withColumn("rn",
          row_number().over(byEdge.orderBy($"cnt".desc, $"anchor")))
        .withColumn("n_links", sum($"cnt").over(byEdge).cast("long"))
        .withColumn("n_anchor_kinds", count(lit(1)).over(byEdge).cast("long"))
        .filter($"rn" === 1)
        .select($"source".as("src_host"), $"dst_host", $"n_links",
          $"n_anchor_kinds", $"anchor".as("top_anchor"),
          $"cnt".as("top_anchor_n"),
          ($"source" === $"dst_host").as("is_self"))
        .orderBy($"src_host", $"dst_host")
    },

    q("q470_sitemap_coverage",
      // Sitemap-vs-crawl coverage audit — the reconciliation a crawl
      // operator runs weekly: which sitemap-declared pages did the
      // crawler miss (sitemap_only — coverage debt), what did it fetch
      // that the site never declared (crawled_only — discovery), and
      // which declared-and-fetched pages are stale by lastmod. Each
      // source's sitemap.xml is synthesized closed-form (docs with doc_id % 3 <> 1
      // declared — a modulus coprime with the source assignment's 20, so
      // every source gets entries; lastmod day = 1 + doc_id % 28) and the Spark side
      // genuinely extracts <loc>/<lastmod> pairs from the assembled XML
      // blob by group-indexed regex, then reconciles against the crawl
      // set (doc_id % 7 <> 2) with ONE loc-keyed equi join. The
      // oracle replays the outcomes arithmetically from the layout — an
      // extractor that drops entries, misaligns loc/lastmod pairs, or
      // double-counts cannot reproduce them. Blob assembly exists only
      // because the fixture is row-shaped (production reads sitemap
      // files directly); parse is map-side per source, reconciliation is
      // one keyed join + a source rollup.
      """WITH sm AS (SELECT doc_id, source,
        |    concat('https://', source, '.example.com/docs/',
        |      CAST(doc_id AS STRING)) AS loc,
        |    1 + doc_id % 28 AS lastday
        |  FROM documents WHERE doc_id % 3 <> 1),
        |cr AS (SELECT doc_id, source,
        |    concat('https://', source, '.example.com/docs/',
        |      CAST(doc_id AS STRING)) AS loc
        |  FROM documents WHERE doc_id % 7 <> 2),
        |j AS (SELECT COALESCE(sm.source, cr.source) AS source,
        |    CASE WHEN sm.loc IS NOT NULL THEN 1 ELSE 0 END AS in_sm,
        |    CASE WHEN cr.loc IS NOT NULL THEN 1 ELSE 0 END AS in_cr,
        |    COALESCE(sm.lastday, 0) AS lastday
        |  FROM sm FULL OUTER JOIN cr ON cr.loc = sm.loc)
        |SELECT source,
        |  CAST(SUM(in_sm) AS BIGINT) AS n_sitemap,
        |  CAST(SUM(in_cr) AS BIGINT) AS n_crawled,
        |  CAST(SUM(in_sm * in_cr) AS BIGINT) AS n_both,
        |  CAST(SUM(in_sm * (1 - in_cr)) AS BIGINT) AS sitemap_only,
        |  CAST(SUM((1 - in_sm) * in_cr) AS BIGINT) AS crawled_only,
        |  CAST((SUM(in_sm * in_cr) * 1000000) // SUM(in_sm) AS BIGINT)
        |    AS coverage_ppm,
        |  CAST(SUM(CASE WHEN in_sm * in_cr = 1 AND lastday <= 10
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_stale
        |FROM j GROUP BY source ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val docs = T(s, dir, "documents")
        .select($"doc_id", $"source",
          concat(lit("https://"), $"source", lit(".example.com/docs/"),
            $"doc_id".cast("string")).as("loc"))
        .transform(graft.CacheScope.cached)
      // assemble each source's sitemap.xml, then genuinely parse it back
      val entries = docs.filter($"doc_id" % 3 =!= 1)
        .withColumn("entry", expr(
          """concat('<url><loc>', loc, '</loc><lastmod>2026-01-',
            |  lpad(CAST(1 + doc_id % 28 AS STRING), 2, '0'),
            |  '</lastmod></url>')""".stripMargin))
      val xml = entries.groupBy($"source")
        .agg(concat(lit("<?xml version=\"1.0\"?><urlset>"),
          expr("array_join(transform(array_sort(collect_list(" +
            "struct(doc_id, entry))), e -> e.entry), '')"),
          lit("</urlset>")).as("blob"))
      val sm = xml
        .withColumn("locs", expr(
          "regexp_extract_all(blob, '<loc>([^<]+)</loc>', 1)"))
        .withColumn("days", expr(
          "regexp_extract_all(blob, '<lastmod>2026-01-([0-9]+)</lastmod>', 1)"))
        .select($"source", explode(arrays_zip($"locs", $"days")).as("z"))
        .select($"source", $"z.locs".as("loc"),
          expr("CAST(z.days AS BIGINT)").as("lastday"))
      val cr = docs.filter($"doc_id" % 7 =!= 2).select($"source", $"loc")
      sm.as("sm").join(cr.as("cr"), $"sm.loc" === $"cr.loc", "full_outer")
        .select(coalesce($"sm.source", $"cr.source").as("source"),
          when($"sm.loc".isNotNull, 1L).otherwise(0L).as("in_sm"),
          when($"cr.loc".isNotNull, 1L).otherwise(0L).as("in_cr"),
          coalesce($"lastday", lit(0L)).as("lastday"))
        .groupBy($"source")
        .agg(sum($"in_sm").as("n_sitemap"), sum($"in_cr").as("n_crawled"),
          sum($"in_sm" * $"in_cr").as("n_both"),
          sum($"in_sm" * (lit(1L) - $"in_cr")).as("sitemap_only"),
          sum((lit(1L) - $"in_sm") * $"in_cr").as("crawled_only"),
          expr("CAST((SUM(in_sm * in_cr) * 1000000) div SUM(in_sm) " +
            "AS BIGINT)").as("coverage_ppm"),
          sum(when($"in_sm" * $"in_cr" === 1L && $"lastday" <= 10, 1L)
            .otherwise(0L)).as("n_stale"))
        .orderBy($"source")
    },
  )

}
