package graft.operators

import graft.QueryDef.q
import graft.functions.TextHash._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Deduplication family for large-scale training-data pipelines: exact
  * (hash-group), exact n-gram Jaccard (inverted-index join), MinHash+LSH
  * (signature → band → bucket join), and SimHash (band-blocked Hamming join).
  *
  * Scale posture (the part that matters at 100 TB):
  *  - signatures/fingerprints are computed map-side per row (no shuffle);
  *  - candidate generation always goes through an equi-join on a small key
  *    (shingle, band signature, simhash band) — never a cross join;
  *  - SimHash band blocking is exact by pigeonhole: hamming <= 3 with 4
  *    bands guarantees at least one identical band, so blocking loses no
  *    pair while cutting the O(n^2) comparison space.
  */
object Dedup {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** documents with `words` (split) and distinct 3-gram `shingles`.
    * `spreadInput` repartitions the (single-row-group) document scan first
    * so the per-row shingle work parallelizes — opt-in per query because
    * the exchange ships the raw text and only pays where the downstream
    * per-row compute (e.g. polyhash over every shingle) dominates.
    */
  private def shingled(s: SparkSession, dir: String,
      spreadInput: Boolean = false): DataFrame = {
    import s.implicits._
    val docs = T(s, dir, "documents")
    (if (spreadInput) graft.Tables.spread(docs) else docs)
      .withColumn("w", split($"text", " "))
      .filter(size($"w") >= 3)
      .withColumn("shingles", expr(shinglesSql("w")))
  }

  /** q437's content-defined chunker over a words-array column `w`: adds
    * `n`, boundary list `bnd` (a boundary falls AFTER token i wherever the
    * rolling 8-token window hash ≡ 0 mod 32, i < n), `starts`/`ends`, and
    * the `chunks` string array. Shared with QueriesSpec's boundary-
    * stability law so the test exercises the exact production expression.
    * NOTE `bi`, not `i`, as the outer lambda variable: polyHashSql binds
    * `i` in its inner lambda and Spark resolves to the INNERMOST binding —
    * an outer `i` would be silently captured (the Spark-side twin of the
    * duckPolyHash `gi` rule).
    */
  private[graft] def withCdcChunks(df: DataFrame): DataFrame = {
    // Two-level rolling hash: each WORD is hashed once with the native
    // codegen'd graft_polyhash, and the 8-word window fingerprint is a
    // pure integer fold (acc*31 + wordhash) % P over the word-hash
    // array. The first cut of this helper hashed the window STRING via
    // the polyHashSql HOF mirror, which re-evaluates its textual
    // argument per character inside the lambda — quadratic in window
    // bytes and all string allocation (measured: q437 alone >280 s at
    // sf0.1; this form: ~1 s). HOF lambda bodies are interpreted, so
    // the hot loop must be integer-only.
    df
    .withColumn("n", size(col("w")).cast("long"))
    .withColumn("wh", expr("transform(w, x -> graft_polyhash(x))"))
    // materialization barrier: CollapseProject would otherwise inline
    // wh's transform INTO bnd's filter lambda, and HOF lambda bodies
    // re-evaluate invariant subtrees per element — every boundary
    // candidate would re-hash ALL words, O(n^2) per doc (measured: q437
    // ~20 s of pure fixed-shape work at sf0.1; with the barrier, ~1 s).
    .transform(graft.CacheScope.cached)
    .withColumn("bnd", expr(
      s"""IF(n >= 9, filter(sequence(CAST(8 AS BIGINT), n - 1), bi ->
         |  aggregate(slice(wh, CAST(bi - 7 AS INT), 8), CAST(0 AS BIGINT),
         |    (acc, x) -> (acc * 31 + x) % ${P}) % 32 = 0),
         |  CAST(array() AS ARRAY<BIGINT>))""".stripMargin))
    .withColumn("starts", expr(
      "concat(array(CAST(1 AS BIGINT)), transform(bnd, b -> b + 1))"))
    .withColumn("ends", expr("concat(bnd, array(n))"))
    .withColumn("chunks", expr(
      """transform(sequence(1, size(starts)), k ->
        |  concat_ws(' ', slice(w, CAST(element_at(starts, k) AS INT),
        |    CAST(element_at(ends, k) - element_at(starts, k) + 1 AS INT))))"""
        .stripMargin))
  }

  /** q439's winnowing selector over a words-array column `w` (size >= 8):
    * adds `m` (gram count), `gh` (5-token k-gram hashes), `c` (the
    * rightmost-min encoding (g+1)·2^20 − i), `ps` (selected positions)
    * and `fps` (fingerprint hashes). Shared with QueriesSpec's coverage/
    * rightmost-min laws. `ti`, not `i` (see [[withCdcChunks]]).
    */
  private[graft] def withWinnowFps(df: DataFrame): DataFrame = {
    // same two-level rolling hash as [[withCdcChunks]]: word hashes via
    // the native kernel once, the 5-gram fingerprint as an integer fold
    // — HOF lambdas are interpreted, so no string building in them
    df
    .withColumn("m", (size(col("w")) - 4).cast("long"))
    .withColumn("wh", expr("transform(w, x -> graft_polyhash(x))"))
    // barrier before the per-position lambdas, as in [[withCdcChunks]]
    .transform(graft.CacheScope.cached)
    .withColumn("gh", expr(
      s"""transform(sequence(1, size(w) - 4), ti ->
         |  aggregate(slice(wh, CAST(ti AS INT), 5), CAST(0 AS BIGINT),
         |    (acc, x) -> (acc * 31 + x) % ${P}))""".stripMargin))
    // second barrier: ps's window lambda inlines c which inlines gh —
    // without it each window min re-derives the whole gram-hash array
    .transform(graft.CacheScope.cached)
    .withColumn("c", expr(
      "transform(sequence(1, CAST(m AS INT)), i -> " +
        "(element_at(gh, i) + 1) * 1048576 - CAST(i AS BIGINT))"))
    .withColumn("ps", expr(
      "array_distinct(transform(sequence(1, CAST(m - 3 AS INT)), j -> " +
        "1048576 - (array_min(slice(c, j, 4)) % 1048576)))"))
    .withColumn("fps", expr(
      "array_distinct(transform(ps, p -> element_at(gh, CAST(p AS INT))))"))
  }

  /** Shared oracle for q41/q92: both compute the identical exact n-gram
    * Jaccard result; they differ only in the Spark-side candidate plan.
    */
  private val jaccardOracleSql: String =
    s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
       |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
       |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
       |ex AS (SELECT doc_id, unnest(hh) h FROM hs),
       |pair AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) inter
       |         FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
       |         GROUP BY 1, 2),
       |sz AS (SELECT doc_id, len(hh) n FROM hs)
       |SELECT da AS doc_a, db AS doc_b,
       |  CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) AS jac
       |FROM pair JOIN sz sa ON sa.doc_id = pair.da
       |          JOIN sz sb ON sb.doc_id = pair.db
       |WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.6
       |ORDER BY doc_a, doc_b""".stripMargin

  val defs: Seq[QueryDef] = Seq(

    q("q40_dedup_exact",
      """SELECT doc_id, md5(text) AS text_hash,
        |  COUNT(*) OVER (PARTITION BY md5(text)) AS group_size,
        |  doc_id = MIN(doc_id) OVER (PARTITION BY md5(text)) AS keep
        |FROM documents ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      val w = Window.partitionBy($"text_hash")
      T(s, dir, "documents")
        .withColumn("text_hash", md5($"text"))
        .select($"doc_id", $"text_hash",
          count(lit(1)).over(w).as("group_size"),
          ($"doc_id" === min($"doc_id").over(w)).as("keep"))
        .orderBy($"doc_id")
    },

    q("q41_dedup_ngram_jaccard", jaccardOracleSql) { (s, dir) =>
      import s.implicits._
      // Exact n-gram Jaccard via inverted-index join — only docs sharing a
      // shingle are ever compared, and the join key is the 8-byte shingle
      // hash rather than the shingle string (the oracle hashes identically,
      // so any collision affects both engines the same way). At bench scale
      // this direct index wins; q92 is the same semantics with ppjoin-style
      // prefix filtering, the variant that wins at much larger corpora.
      // cached: the self-join and the size lookup would otherwise recompute
      // the shingling+hashing subtree three times
      val sh = shingled(s, dir)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .select($"doc_id", $"hh")
        .transform(graft.CacheScope.cached)
      val ex = sh.select($"doc_id", explode($"hh").as("h"))
      val pair = ex.as("a").join(ex.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .agg(count(lit(1)).as("inter"))
      val sz = sh.select($"doc_id", size($"hh").cast("long").as("n"))
      pair
        .join(sz.as("sa"), $"da" === $"sa.doc_id")
        .join(sz.as("sb"), $"db" === $"sb.doc_id")
        .withColumn("jac",
          $"inter".cast("double") / ($"sa.n" + $"sb.n" - $"inter"))
        .filter($"jac" >= 0.6)
        .select($"da".as("doc_a"), $"db".as("doc_b"), $"jac")
        .orderBy($"doc_a", $"doc_b")
    },

    q("q42_dedup_minhash_lsh",
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
         |sig AS (SELECT doc_id, ${duckMinhash("hh")} mh FROM hs),
         |bands AS (SELECT doc_id, b.band,
         |    mh[CAST(b.band*4+1 AS INT)]||':'||mh[CAST(b.band*4+2 AS INT)]||':'||
         |    mh[CAST(b.band*4+3 AS INT)]||':'||mh[CAST(b.band*4+4 AS INT)] AS key
         |  FROM sig, (SELECT unnest(range($MinhashBands)) AS band) b),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a
         |         JOIN bands b ON a.band = b.band AND a.key = b.key
         |                     AND a.doc_id < b.doc_id),
         |est AS (SELECT da, db,
         |    CAST(len(list_filter(range($MinhashSigs), i -> sa.mh[CAST(i+1 AS INT)] = sb.mh[CAST(i+1 AS INT)])) AS DOUBLE)/$MinhashSigs AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = cand.da
         |            JOIN sig sb ON sb.doc_id = cand.db)
         |SELECT da AS doc_a, db AS doc_b, est_sim FROM est
         |WHERE est_sim >= 0.5 ORDER BY doc_a, doc_b""") { (s, dir) =>
      import s.implicits._
      // shingle → polyhash set → minhash signature (map-side), then LSH:
      // band the signature, equi-join on (band, band-signature) to get
      // candidates, estimate similarity from signature agreement.
      val sig = shingled(s, dir)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .withColumn("mh", expr("graft_minhash(hh)"))
        .select($"doc_id", $"mh")
        .transform(graft.CacheScope.cached)
      val bands = sig
        .select($"doc_id", $"mh",
          explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"))
        .withColumn("key", expr(
          "concat_ws(':', transform(slice(mh, band*4 + 1, 4), x -> CAST(x AS STRING)))"))
        .select($"doc_id", $"band", $"key")
      val cand = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.key" === $"b.key" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .distinct()
      cand
        .join(sig.as("sa"), $"da" === $"sa.doc_id")
        .join(sig.as("sb"), $"db" === $"sb.doc_id")
        .withColumn("est_sim",
          expr(s"size(filter(zip_with(sa.mh, sb.mh, (x, y) -> x = y), b -> b)) / CAST($MinhashSigs AS DOUBLE)"))
        .filter($"est_sim" >= 0.5)
        .select($"da".as("doc_a"), $"db".as("doc_b"), $"est_sim")
        .orderBy($"doc_a", $"doc_b")
    },

    q("q456_neardup_explain",
      // Near-dup pair EXPLANATION — the human-review diagnostics a dedup
      // pipeline attaches to every candidate before a reviewer (or an
      // auto-policy) decides what to drop: for each q42 banded-LSH
      // candidate pair, the exact shingle-Jaccard in ppm, the shared
      // shingle count, the FIRST DIVERGENT TOKEN position (0 = texts
      // identical; min(len)+1 = one text is a strict prefix of the
      // other), the word-length delta, and the verdict ladder exact /
      // near (jac >= 0.5) / collision (a banded false positive — the
      // rate this query makes visible is what q154's recall curve
      // trades off). Candidates come from the banded equi-join, never
      // all-pairs; the per-pair explanation is bounded HOF arithmetic
      // on the two word arrays.
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents
         |  WHERE len(string_split(text,' ')) >= 3),
         |sh AS (SELECT doc_id, w, ${duckShingles("w")} shingles FROM words),
         |hs AS (SELECT doc_id, w, ${duckHashedSet("shingles")} hh FROM sh),
         |sig AS (SELECT doc_id, ${duckMinhash("hh")} mh FROM hs),
         |bands AS (SELECT doc_id, b.band,
         |    mh[CAST(b.band*4+1 AS INT)]||':'||mh[CAST(b.band*4+2 AS INT)]||':'||
         |    mh[CAST(b.band*4+3 AS INT)]||':'||mh[CAST(b.band*4+4 AS INT)] AS key
         |  FROM sig, (SELECT unnest(range($MinhashBands)) AS band) b),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a
         |         JOIN bands b ON a.band = b.band AND a.key = b.key
         |                     AND a.doc_id < b.doc_id),
         |x AS (SELECT da, db, ha.w wa, hb.w wb,
         |    CAST(len(list_filter(ha.hh, h -> list_contains(hb.hh, h)))
         |      AS BIGINT) AS inter,
         |    CAST(len(ha.hh) + len(hb.hh) AS BIGINT) AS szsum
         |  FROM cand JOIN hs ha ON ha.doc_id = cand.da
         |            JOIN hs hb ON hb.doc_id = cand.db),
         |e AS (SELECT da, db, inter,
         |    (inter * 1000000) // (szsum - inter) AS jac_ppm,
         |    COALESCE(list_min(list_filter(list_transform(
         |        range(1, least(len(wa), len(wb)) + 1),
         |        i -> CASE WHEN wa[CAST(i AS INT)] <> wb[CAST(i AS INT)]
         |          THEN i END), v -> v IS NOT NULL)),
         |      CASE WHEN len(wa) = len(wb) THEN 0
         |        ELSE least(len(wa), len(wb)) + 1 END) AS fd,
         |    abs(len(wa) - len(wb)) AS ld
         |  FROM x)
         |SELECT da AS doc_a, db AS doc_b,
         |  CAST(jac_ppm AS BIGINT) AS jac_ppm,
         |  CAST(inter AS BIGINT) AS n_shared,
         |  CAST(fd AS BIGINT) AS first_diff_pos,
         |  CAST(ld AS BIGINT) AS len_delta,
         |  CASE WHEN fd = 0 THEN 'exact'
         |       WHEN jac_ppm >= 500000 THEN 'near'
         |       ELSE 'collision' END AS verdict
         |FROM e ORDER BY doc_a, doc_b""") { (s, dir) =>
      import s.implicits._
      val hs = shingled(s, dir)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .select($"doc_id", $"w", $"hh")
        .transform(graft.CacheScope.cached) // signature + both pair sides
      val sig = hs.select($"doc_id", expr("graft_minhash(hh)").as("mh"))
      val bands = sig
        .select($"doc_id", $"mh",
          explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"))
        .withColumn("key", expr(
          "concat_ws(':', transform(slice(mh, band*4 + 1, 4), x -> CAST(x AS STRING)))"))
        .select($"doc_id", $"band", $"key")
      val cand = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.key" === $"b.key" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .distinct()
      cand
        .join(hs.select($"doc_id".as("da"), $"w".as("wa"), $"hh".as("ha")), "da")
        .join(hs.select($"doc_id".as("db"), $"w".as("wb"), $"hh".as("hb")), "db")
        .withColumn("inter",
          expr("CAST(size(array_intersect(ha, hb)) AS BIGINT)"))
        .withColumn("jac_ppm", expr(
          "(inter * 1000000) div (CAST(size(ha) + size(hb) AS BIGINT) - inter)"))
        .withColumn("fd", expr(
          """coalesce(
            |  array_min(filter(transform(
            |    sequence(1, least(size(wa), size(wb))),
            |    i -> IF(element_at(wa, CAST(i AS INT)) <>
            |            element_at(wb, CAST(i AS INT)),
            |          CAST(i AS BIGINT), CAST(NULL AS BIGINT))),
            |    v -> v IS NOT NULL)),
            |  IF(size(wa) = size(wb), CAST(0 AS BIGINT),
            |    CAST(least(size(wa), size(wb)) + 1 AS BIGINT)))""".stripMargin))
        .select($"da".as("doc_a"), $"db".as("doc_b"), $"jac_ppm",
          $"inter".as("n_shared"), $"fd".as("first_diff_pos"),
          expr("CAST(abs(size(wa) - size(wb)) AS BIGINT)").as("len_delta"),
          when($"fd" === 0L, "exact")
            .when($"jac_ppm" >= 500000L, "near")
            .otherwise("collision").as("verdict"))
        .orderBy($"doc_a", $"doc_b")
    },

    q("q154_lsh_recall_eval",
      // Dedup-quality EVALUATION (the q95-for-text analog): the minhash-LSH
      // candidate generator (q42's bands) is scored against exact-Jaccard
      // ground truth (q41's inverted index) as a RECALL CURVE — true pairs
      // bucketed by integer jaccard decile ((inter*10) div union, exact in
      // both engines; jac >= 0.3 stated as 10*inter >= 3*union), each bucket
      // counting how many pairs some band caught. This is the knob-tuning
      // query for bands-vs-rows tradeoffs: at 100 TB you run it on a sample
      // BEFORE committing a band count to the full corpus.
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
         |ex AS (SELECT doc_id, unnest(hh) h FROM hs),
         |pair AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) inter
         |         FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |sz AS (SELECT doc_id, len(hh) n FROM hs),
         |truth AS (SELECT da, db,
         |    CAST((inter*10) // (sa.n + sb.n - inter) AS BIGINT) AS bucket
         |  FROM pair JOIN sz sa ON sa.doc_id = pair.da
         |            JOIN sz sb ON sb.doc_id = pair.db
         |  WHERE 10*inter >= 3*(sa.n + sb.n - inter)),
         |sig AS (SELECT doc_id, ${duckMinhash("hh")} mh FROM hs),
         |bands AS (SELECT doc_id, b.band,
         |    mh[CAST(b.band*4+1 AS INT)]||':'||mh[CAST(b.band*4+2 AS INT)]||':'||
         |    mh[CAST(b.band*4+3 AS INT)]||':'||mh[CAST(b.band*4+4 AS INT)] AS key
         |  FROM sig, (SELECT unnest(range($MinhashBands)) AS band) b),
         |cand AS (SELECT DISTINCT a.doc_id cda, b.doc_id cdb FROM bands a
         |         JOIN bands b ON a.band = b.band AND a.key = b.key
         |                     AND a.doc_id < b.doc_id)
         |SELECT bucket, CAST(COUNT(*) AS BIGINT) AS n_true,
         |  CAST(SUM(CASE WHEN c.cda IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_caught
         |FROM truth t LEFT JOIN cand c ON t.da = c.cda AND t.db = c.cdb
         |GROUP BY bucket ORDER BY bucket""") { (s, dir) =>
      import s.implicits._
      val sh = shingled(s, dir, spreadInput = true)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .select($"doc_id", $"hh")
        .transform(graft.CacheScope.cached) // truth index + signatures
      // same parallelism pins as q457/q106/q181: spread the shingle/hash
      // compute (above), explicit keyed partition count on the exploded
      // join input (AQE's byte-based coalescing cannot see join fan-out);
      // the spread cache also parallelizes the minhash signature leg below
      val ex = sh.select($"doc_id", explode($"hh").as("h"))
        .repartition(s.sparkContext.defaultParallelism, $"h")
      val pair = ex.as("a").join(ex.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .agg(count(lit(1)).as("inter"))
      val sz = sh.select($"doc_id", size($"hh").cast("long").as("n"))
      val truth = pair
        .join(sz.as("sa"), $"da" === $"sa.doc_id")
        .join(sz.as("sb"), $"db" === $"sb.doc_id")
        .withColumn("un", $"sa.n" + $"sb.n" - $"inter")
        .filter($"inter" * 10 >= $"un" * 3)
        .select($"da", $"db", expr("(inter*10) div un").as("bucket"))
      val bands = sh
        .withColumn("mh", expr("graft_minhash(hh)"))
        .select($"doc_id",
          explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"), $"mh")
        .withColumn("key", expr(
          "concat_ws(':', transform(slice(mh, band*4 + 1, 4), x -> CAST(x AS STRING)))"))
        .select($"doc_id", $"band", $"key")
      val cand = bands.as("x").join(bands.as("y"),
          $"x.band" === $"y.band" && $"x.key" === $"y.key" &&
            $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("cda"), $"y.doc_id".as("cdb"))
        .distinct()
      truth.join(cand, $"da" === $"cda" && $"db" === $"cdb", "left")
        .groupBy($"bucket")
        .agg(count(lit(1)).as("n_true"),
          sum(when($"cda".isNotNull, 1L).otherwise(0L)).as("n_caught"))
        .orderBy($"bucket")
    },

    q("q43_dedup_simhash",
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
         |sim AS (SELECT doc_id, ${duckSimhash("hh")} AS sh32 FROM hs)
         |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |  CAST(bit_count(xor(a.sh32, b.sh32)) AS BIGINT) AS hamming
         |FROM sim a JOIN sim b ON a.doc_id < b.doc_id
         |WHERE bit_count(xor(a.sh32, b.sh32)) <= 3
         |ORDER BY doc_a, doc_b""") { (s, dir) =>
      import s.implicits._
      // SimHash near-dup with EXACT band blocking: hamming <= 3 and 4 bands
      // of 8 bits → pigeonhole guarantees one identical band, so the
      // band equi-join finds every qualifying pair (the oracle's naive
      // O(n^2) join is only feasible because the oracle runs small).
      val sim = shingled(s, dir)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .withColumn("sh32", expr("graft_simhash32(hh)"))
        .select($"doc_id", $"sh32")
        .transform(graft.CacheScope.cached)
      val banded = sim.select($"doc_id", $"sh32",
        explode(sequence(lit(0), lit(3))).as("band"))
        .withColumn("bkey", expr("(shiftright(sh32, band * 8) & 255)"))
      val pairs = banded.as("a").join(banded.as("b"),
          $"a.band" === $"b.band" && $"a.bkey" === $"b.bkey" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("doc_a"), $"b.doc_id".as("doc_b"),
          bit_count($"a.sh32".bitwiseXOR($"b.sh32")).cast("long").as("hamming"))
        .distinct()
      pairs.filter($"hamming" <= 3)
        .orderBy($"doc_a", $"doc_b")
    },

    q("q106_dedup_clusters",
      // Duplicate-cluster assignment: connected components over the exact-
      // jaccard pair graph (same edges as q41), each doc labeled with the
      // minimum doc_id of its component; the canonical doc is the label
      // owner. The oracle computes the same components via a recursive
      // transitive closure.
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
         |ex AS (SELECT doc_id, unnest(hh) h FROM hs),
         |pair AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) inter
         |         FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |sz AS (SELECT doc_id, len(hh) n FROM hs),
         |edges AS (SELECT da, db FROM pair
         |          JOIN sz sa ON sa.doc_id = pair.da
         |          JOIN sz sb ON sb.doc_id = pair.db
         |          WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.6),
         |sym AS (SELECT da a, db b FROM edges UNION SELECT db, da FROM edges),
         |r AS (
         |  WITH RECURSIVE rr(a, b) AS (
         |    SELECT a, b FROM sym
         |    UNION
         |    SELECT rr.a, s.b FROM rr JOIN sym s ON rr.b = s.a WHERE s.b <> rr.a
         |  ) SELECT * FROM rr),
         |lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM r GROUP BY a)
         |SELECT doc_id, cluster, doc_id = cluster AS is_canonical
         |FROM lab ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // Edges: q41's inverted-index jaccard plan. Components: iterative
      // min-label propagation — each round is a distributed join + min-agg,
      // converging in O(component diameter) rounds. That loop shape is the
      // scale path too (it's how label propagation runs on billion-edge
      // graphs; alternating large-star/small-star would cut the round count,
      // unnecessary while near-dup components stay shallow). localCheckpoint
      // cuts the growing lineage each round.
      val sh = shingled(s, dir, spreadInput = true)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .select($"doc_id", $"hh")
        .transform(graft.CacheScope.cached)
      // same parallelism pins as q457: spread the shingle compute, explicit
      // partition count on the exploded join input (AQE's byte-based
      // coalescing cannot see the join's row fan-out)
      val ex = sh.select($"doc_id", explode($"hh").as("h"))
        .repartition(s.sparkContext.defaultParallelism, $"h")
      val pair = ex.as("a").join(ex.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .agg(count(lit(1)).as("inter"))
      val sz = sh.select($"doc_id", size($"hh").cast("long").as("n"))
      val edges = pair
        .join(sz.as("sa"), $"da" === $"sa.doc_id")
        .join(sz.as("sb"), $"db" === $"sb.doc_id")
        .filter($"inter".cast("double") / ($"sa.n" + $"sb.n" - $"inter") >= 0.6)
        .select($"da", $"db")
      val sym = edges.select($"da".as("a"), $"db".as("b"))
        .union(edges.select($"db".as("a"), $"da".as("b")))
        .transform(graft.CacheScope.cached)
      var labels = sym.select($"a".as("doc_id")).distinct()
        .withColumn("label", $"doc_id")
        .localCheckpoint(true)
      var changed = 1L
      while (changed > 0) {
        val neigh = sym.join(labels, sym("b") === labels("doc_id"))
          .select($"a".as("doc_id"), $"label")
        val next = labels.union(neigh)
          .groupBy($"doc_id").agg(min($"label").as("label"))
          .localCheckpoint(true)
        changed = next.as("n").join(labels.as("o"), "doc_id")
          .filter($"n.label" =!= $"o.label").count()
        labels = next
      }
      labels.select($"doc_id", $"label".as("cluster"),
          ($"doc_id" === $"label").as("is_canonical"))
        .orderBy($"doc_id")
    },

    q("q457_cc_star_contraction",
      // q106's duplicate clusters by a DIFFERENT distributed algorithm:
      // alternating large-star/small-star contraction (Kiveris et al.
      // 2014) — O(log d) rounds where label propagation pays O(diameter).
      // Same edges (q41's exact-jaccard graph), same oracle (recursive
      // transitive closure), and QueriesSpec additionally pins q457 ==
      // q106 row-for-row — two algorithms, one answer — while
      // StarContractionProps law-tests the rounds against union-find on
      // random graphs (the fixture's shallow components alone could not
      // distinguish a subtly wrong star rule). Each round is two keyed
      // aggregations + equi joins on ids; the edge set only contracts.
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
         |ex AS (SELECT doc_id, unnest(hh) h FROM hs),
         |pair AS (SELECT a.doc_id da, b.doc_id db, COUNT(*) inter
         |         FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |sz AS (SELECT doc_id, len(hh) n FROM hs),
         |edges AS (SELECT da, db FROM pair
         |          JOIN sz sa ON sa.doc_id = pair.da
         |          JOIN sz sb ON sb.doc_id = pair.db
         |          WHERE CAST(inter AS DOUBLE)/(sa.n + sb.n - inter) >= 0.6),
         |sym AS (SELECT da a, db b FROM edges UNION SELECT db, da FROM edges),
         |r AS (
         |  WITH RECURSIVE rr(a, b) AS (
         |    SELECT a, b FROM sym
         |    UNION
         |    SELECT rr.a, s.b FROM rr JOIN sym s ON rr.b = s.a WHERE s.b <> rr.a
         |  ) SELECT * FROM rr),
         |lab AS (SELECT a AS doc_id, LEAST(a, MIN(b)) AS cluster FROM r GROUP BY a)
         |SELECT doc_id, cluster, doc_id = cluster AS is_canonical
         |FROM lab ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      val sh = shingled(s, dir, spreadInput = true)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .select($"doc_id", $"hh")
        .transform(graft.CacheScope.cached)
      // pin the all-pairs join's parallelism with an EXPLICIT partition
      // count on the exploded (doc_id, h) table: the join's row fan-out is
      // per-row compute AQE's byte-based coalescing cannot see, so the
      // shuffled join stage otherwise collapses to 1 task (~0.7 s serial
      // at sf0.1 — the q92 pathology). Both self-join sides reuse the one
      // keyed exchange.
      val ex = sh.select($"doc_id", explode($"hh").as("h"))
        .repartition(s.sparkContext.defaultParallelism, $"h")
      val pair = ex.as("a").join(ex.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .agg(count(lit(1)).as("inter"))
      val sz = sh.select($"doc_id", size($"hh").cast("long").as("n"))
      val edges = pair
        .join(sz.as("sa"), $"da" === $"sa.doc_id")
        .join(sz.as("sb"), $"db" === $"sb.doc_id")
        .filter($"inter".cast("double") / ($"sa.n" + $"sb.n" - $"inter") >= 0.6)
        .select($"da".as("a"), $"db".as("b"))
      StarContraction.componentsDF(edges)
        .select($"doc_id", $"cluster",
          ($"doc_id" === $"cluster").as("is_canonical"))
        .orderBy($"doc_id")
    },

    q("q92_dedup_jaccard_prefix", jaccardOracleSql) { (s, dir) =>
      import s.implicits._
      // Same exact Jaccard semantics as q41, with PREFIX FILTERING
      // (ppjoin-style): for threshold t, two sets with jac >= t must share
      // an element among the first (n - ceil(t*n) + 1) elements of each
      // under one global ordering. Order by (df asc, hash) — rarest first —
      // index ONLY the prefix, bound candidates by the size ratio, then
      // verify exactly on the full hash sets. At bench scale the extra df
      // pass costs more than it saves (q41's direct index wins); at large
      // corpora the prefix index is what keeps frequent shingles from
      // exploding the candidate space — this query keeps the scale plan
      // honest against the same oracle.
      val t = 0.6
      // document frequency via a count window partitioned by hash (one
      // shuffle of the exploded set). Re-measured r4 at sf0.1 against the
      // aggregate-vocab-and-broadcast variant: warm best-of-3 3.14 s vs
      // 3.23 s — a wash here, but the window is the scale plan: the vocab
      // grows linearly with the corpus (unbroadcastable at 100 TB), while
      // this stays one bounded shuffle of (doc_id, h) pairs.
      val withDf = shingled(s, dir)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .select($"doc_id", explode($"hh").as("h"))
        .withColumn("df", count(lit(1)).over(Window.partitionBy($"h")))
      // per doc: hashes rarest-first, full set + prefix; prefix length
      // n - ceil(t*n) + 1 with t = 3/5 in exact integer arithmetic (a float
      // ceil at an exact multiple of 5 could shorten the prefix by one and
      // silently drop a boundary pair)
      val docs = withDf
        .groupBy($"doc_id")
        .agg(expr("transform(array_sort(collect_list(struct(df, h))), x -> x.h)").as("sorted"),
          count(lit(1)).cast("long").as("n"))
        .withColumn("prefix",
          expr("slice(sorted, 1, CAST(size(sorted) - ((3 * size(sorted) + 4) DIV 5) + 1 AS INT))"))
        .transform(graft.CacheScope.cached)
      val ex = docs.select($"doc_id", $"n", explode($"prefix").as("h"))
      val cand = ex.as("a").join(ex.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        // size bound: jac >= 3/5 requires 3*na <= 5*nb (and vice versa)
        .filter($"a.n" * 3 <= $"b.n" * 5 && $"b.n" * 3 <= $"a.n" * 5)
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .distinct()
        // pin the exact-verify stage's parallelism with a keyed exchange of
        // the 16-byte pair table: the per-pair array_intersect below is
        // per-row compute AQE cannot see, so byte-sized coalescing would
        // otherwise run the ~3 s (CPU) verify on 1-2 tasks (measured +1.5 s
        // at sf0.1). The partition count is EXPLICIT — an AQE-coalescible
        // keyed repartition gets folded right back to 1. Repartitioning the
        // PAIRS — never the hash arrays — is the guide §8 proxy-shuffle
        // shape and stays cheap at any corpus size.
        .transform(d => d.repartition(
          d.sparkSession.sparkContext.defaultParallelism, col("da")))
      cand
        .join(docs.select($"doc_id".as("da"), $"sorted".as("ha"), $"n".as("na")), "da")
        .join(docs.select($"doc_id".as("db"), $"sorted".as("hb"), $"n".as("nb")), "db")
        .withColumn("inter", expr("size(array_intersect(ha, hb))").cast("long"))
        .withColumn("jac", $"inter".cast("double") / ($"na" + $"nb" - $"inter"))
        .filter($"jac" >= t)
        .select($"da".as("doc_a"), $"db".as("doc_b"), $"jac")
        .orderBy($"doc_a", $"doc_b")
    },

    q("q137_span_dedup",
      """WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |sp AS (SELECT doc_id, unnest(list_transform(range(len(w)-9), i ->
        |    md5(array_to_string(w[CAST(i+1 AS INT):CAST(i+10 AS INT)], ' ')))) AS h
        |  FROM words WHERE len(w) >= 10),
        |marked AS (SELECT doc_id,
        |    (MIN(doc_id) OVER (PARTITION BY h) <> MAX(doc_id) OVER (PARTITION BY h)) AS dup
        |  FROM sp),
        |per AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) n_spans,
        |    CAST(SUM(CASE WHEN dup THEN 1 ELSE 0 END) AS BIGINT) n_dup
        |  FROM marked GROUP BY doc_id)
        |SELECT doc_id, n_spans, n_dup,
        |  FLOOR((CAST(n_dup AS DOUBLE)/n_spans) * 1000000 + 0.5) / 1000000 AS dup_ratio,
        |  (n_dup * 5 > n_spans) AS contaminated
        |FROM per ORDER BY doc_id""") { (s, dir) =>
      import graft.ColFns.r6
      import s.implicits._
      // Exact-substring duplication measure (the signal behind suffix-array
      // dedup, Lee et al. 2021 "Deduplicating Training Data Makes Language
      // Models Better", approximated the way production pipelines do it:
      // every OVERLAPPING 10-word span, hashed): a span is duplicated iff
      // some OTHER document contains the same span verbatim; per doc, the
      // fraction of its spans that are duplicated. Unlike q116 (disjoint
      // chunks, first-occurrence keep) this measures contamination DEPTH —
      // how much of the doc is copied — not which copy to keep. One shuffle:
      // spans partitioned by hash; "another doc has it" is min(doc_id) !=
      // max(doc_id) over the hash partition (two window aggs, one Window
      // node, no countDistinct and no self-join). At 100 TB the shuffle
      // carries (doc_id, 16-byte hash) pairs — fixed width, no text.
      // spread the single-row-group scan: one md5 per overlapping span is
      // pure per-row compute that otherwise runs as one ~0.5 s task
      // (guide §2.5; no-op on healthy multi-split layouts)
      val spans = graft.Tables.spread(T(s, dir, "documents"))
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 10)
        .select($"doc_id", explode(expr(
          "transform(sequence(1, size(w) - 9), i -> md5(concat_ws(' ', slice(w, i, 10))))")).as("h"))
      val byH = Window.partitionBy($"h")
      spans
        .withColumn("dup", min($"doc_id").over(byH) =!= max($"doc_id").over(byH))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_spans"),
          sum(when($"dup", 1L).otherwise(0L)).as("n_dup"))
        .select($"doc_id", $"n_spans", $"n_dup",
          r6($"n_dup".cast("double") / $"n_spans").as("dup_ratio"),
          ($"n_dup" * 5 > $"n_spans").as("contaminated"))
        .orderBy($"doc_id")
    },

    q("q181_containment",
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
         |ex AS (SELECT doc_id, unnest(hh) h FROM hs),
         |pair AS (SELECT a.doc_id da, b.doc_id db, CAST(COUNT(*) AS BIGINT) inter
         |         FROM ex a JOIN ex b ON a.h = b.h AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2),
         |sz AS (SELECT doc_id, CAST(len(hh) AS BIGINT) n FROM hs)
         |SELECT da AS doc_a, db AS doc_b, inter,
         |  sa.n AS n_a, sb.n AS n_b,
         |  (inter * 1000000) // LEAST(sa.n, sb.n) AS contain_ppm
         |FROM pair JOIN sz sa ON sa.doc_id = pair.da
         |          JOIN sz sb ON sb.doc_id = pair.db
         |WHERE (inter * 1000000) // LEAST(sa.n, sb.n) >= 800000
         |ORDER BY doc_a, doc_b""") { (s, dir) =>
      import s.implicits._
      // Shingle CONTAINMENT (Broder's resemblance's asymmetric sibling):
      // |A intersect B| / min(|A|, |B|) — catches a short document quoted
      // inside a long one, which Jaccard structurally cannot (the union
      // term drowns it: a 10-shingle doc inside a 1000-shingle doc has
      // containment 1.0 but Jaccard < 0.01, invisible to q41/q92's 0.6
      // cut). Same inverted-index candidate plan as q41 — only docs
      // sharing a shingle hash ever meet, the join key is the 8-byte hash.
      // The fixed-point threshold is one non-negative integer DIV. At
      // 100 TB the index gets df-capped exactly like q118's probe (drop
      // shingles seen in > K docs before the self-join — a stop-shingle
      // list); the fixture corpus needs no cap, so the operator stays
      // exact here.
      // same parallelism pins as q457/q106: spread the single-row-group
      // scan under the per-row shingle/hash compute, and give the exploded
      // join input an explicit keyed partition count (AQE's byte-based
      // coalescing cannot see the self-join's row fan-out)
      val sh = graft.Tables.spread(T(s, dir, "documents"))
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 3)
        .withColumn("shingles", expr(shinglesSql("w")))
        .withColumn("hh", expr(hashedSetSql("shingles")))
        .select($"doc_id", $"hh")
        .transform(graft.CacheScope.cached) // index join + two size lookups
      val ex = sh.select($"doc_id", explode($"hh").as("h"))
        .repartition(s.sparkContext.defaultParallelism, $"h")
      val sz = sh.select($"doc_id", size($"hh").cast("long").as("n"))
      ex.as("a").join(ex.as("b"),
          $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .agg(count(lit(1)).as("inter"))
        .join(sz.as("sa"), $"da" === $"sa.doc_id")
        .join(sz.as("sb"), $"db" === $"sb.doc_id")
        .withColumn("contain_ppm",
          expr("(inter * 1000000) DIV LEAST(sa.n, sb.n)"))
        .filter($"contain_ppm" >= 800000L)
        .select($"da".as("doc_a"), $"db".as("doc_b"), $"inter",
          $"sa.n".as("n_a"), $"sb.n".as("n_b"), $"contain_ppm")
        .orderBy($"doc_a", $"doc_b")
    },

    q("q234_source_dup_matrix",
      // Cross-source contamination matrix: q42's minhash-LSH near-dup
      // pairs rolled up into a source x source count table (pair key
      // sorted, so the matrix is upper-triangular incl. the intra-source
      // diagonal) — the governance readout that tells a data-mixing pass
      // WHICH feeds overlap before any weights are chosen. Candidates
      // come only from LSH band collisions; no all-pairs anywhere.
      s"""WITH words AS (SELECT doc_id, source, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, source, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, source, ${duckHashedSet("shingles")} hh FROM sh),
         |sig AS (SELECT doc_id, source, ${duckMinhash("hh")} mh FROM hs),
         |bands AS (SELECT doc_id, b.band,
         |    mh[CAST(b.band*4+1 AS INT)]||':'||mh[CAST(b.band*4+2 AS INT)]||':'||
         |    mh[CAST(b.band*4+3 AS INT)]||':'||mh[CAST(b.band*4+4 AS INT)] AS key
         |  FROM sig, (SELECT unnest(range($MinhashBands)) AS band) b),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a
         |         JOIN bands b ON a.band = b.band AND a.key = b.key
         |                     AND a.doc_id < b.doc_id),
         |est AS (SELECT da, db, sa.source ssa, sb.source ssb,
         |    CAST(len(list_filter(range($MinhashSigs), i -> sa.mh[CAST(i+1 AS INT)] = sb.mh[CAST(i+1 AS INT)])) AS DOUBLE)/$MinhashSigs AS est_sim
         |  FROM cand JOIN sig sa ON sa.doc_id = cand.da
         |            JOIN sig sb ON sb.doc_id = cand.db)
         |SELECT LEAST(ssa, ssb) AS source_a, GREATEST(ssa, ssb) AS source_b,
         |  CAST(COUNT(*) AS BIGINT) AS n_pairs
         |FROM est WHERE est_sim >= 0.5
         |GROUP BY 1, 2 ORDER BY source_a, source_b""") { (s, dir) =>
      import s.implicits._
      // Same signature/band machinery as q42 (shared CacheScope'd helper
      // would cross queries — kept local); the only additions are the
      // source column riding the signature table and the final roll-up,
      // so the scale profile is exactly q42's: banded equi-join
      // candidates, signature-agreement verify, then a tiny matrix
      // aggregation (|sources|^2 cells).
      val sig = shingled(s, dir)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .withColumn("mh", expr("graft_minhash(hh)"))
        .select($"doc_id", $"source", $"mh")
        .transform(graft.CacheScope.cached)
      val bands = sig
        .select($"doc_id", $"mh",
          explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"))
        .withColumn("key", expr(
          "concat_ws(':', transform(slice(mh, band*4 + 1, 4), x -> CAST(x AS STRING)))"))
        .select($"doc_id", $"band", $"key")
      val cand = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.key" === $"b.key" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .distinct()
      cand
        .join(sig.as("sa"), $"da" === $"sa.doc_id")
        .join(sig.as("sb"), $"db" === $"sb.doc_id")
        .withColumn("est_sim",
          expr(s"size(filter(zip_with(sa.mh, sb.mh, (x, y) -> x = y), b -> b)) / CAST($MinhashSigs AS DOUBLE)"))
        .filter($"est_sim" >= 0.5)
        .select(least($"sa.source", $"sb.source").as("source_a"),
          greatest($"sa.source", $"sb.source").as("source_b"))
        .groupBy($"source_a", $"source_b")
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy($"source_a", $"source_b")
    },

    q("q275_dedup_retention",
      // Quality-aware duplicate-cluster retention: exact dedup (q40) keeps
      // an arbitrary row and identical texts tie on every metric, but real
      // retention policies pick the BEST member of a near-dup cluster.
      // Cluster key here is the 128-char prefix hash (truncation/extension
      // near-dups share it while tails differ); the kept representative is
      // the longest member, (n_chars DESC, doc_id) deterministic. One
      // shuffle on the hash key carrying (hash, id, n_chars) only — the
      // text never shuffles (hash computed map-side), which is what makes
      // the policy runnable at corpus scale; with q106's connected
      // components as the cluster id instead, the same window applies
      // unchanged.
      """WITH g AS (SELECT md5(substr(text, 1, 128)) AS cluster_md5,
        |    doc_id, n_chars FROM documents),
        |r AS (SELECT cluster_md5, doc_id, n_chars,
        |    ROW_NUMBER() OVER (PARTITION BY cluster_md5
        |      ORDER BY n_chars DESC, doc_id) AS rn,
        |    COUNT(*) OVER (PARTITION BY cluster_md5) AS n_members
        |  FROM g)
        |SELECT cluster_md5, CAST(n_members AS BIGINT) AS n_members,
        |  doc_id AS rep_doc, n_chars AS rep_chars,
        |  CAST(n_members - 1 AS BIGINT) AS n_purged
        |FROM r WHERE rn = 1 AND n_members >= 2
        |ORDER BY cluster_md5""") { (s, dir) =>
      import s.implicits._
      val g = T(s, dir, "documents")
        .select(md5(substring($"text", 1, 128).cast("binary"))
          .as("cluster_md5"), $"doc_id", $"n_chars")
      val w = Window.partitionBy($"cluster_md5")
      g.withColumn("rn", row_number().over(
          w.orderBy($"n_chars".desc, $"doc_id")))
        .withColumn("n_members", count(lit(1)).over(w))
        .filter($"rn" === 1 && $"n_members" >= 2)
        .select($"cluster_md5", $"n_members", $"doc_id".as("rep_doc"),
          $"n_chars".as("rep_chars"), ($"n_members" - 1).as("n_purged"))
        .orderBy($"cluster_md5")
    },

    q("q314_lsh_tuner",
      // MinHash-LSH parameter auto-tuner: the measured pairwise-Jaccard
      // decile masses of a deterministic corpus sample are pushed through
      // the S-curve p(s) = 1-(1-s^r)^b for every 16-signature (bands,
      // rows) split, yielding expected recall (sim >= 0.5 pairs) and
      // expected candidate-FP rate per config — the evidence for choosing
      // q42's knobs instead of folklore. The S-curve values at decile
      // midpoints are INLINED integer-ppm constants (computing pow() at
      // runtime would put libm in an equality-checked column); the data
      // enters only through the decile masses. Sample-pair exact Jaccard
      // runs on the 50% sample's gram postings — the tuning cost model at
      // any corpus scale.
      """WITH sd AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents WHERE doc_id % 2 = 0),
        |g AS (SELECT DISTINCT doc_id,
        |    md5(list_aggregate(w[CAST(i AS INT):CAST(i+2 AS INT)],
        |      'string_agg', ' ')) AS gram
        |  FROM (SELECT doc_id, w, unnest(range(1, len(w) - 1)) AS i
        |    FROM sd)),
        |sz AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n FROM g
        |  GROUP BY doc_id),
        |ix AS (SELECT a.doc_id AS da, b.doc_id AS db,
        |    CAST(COUNT(*) AS BIGINT) AS inter
        |  FROM g a JOIN g b ON a.gram = b.gram AND a.doc_id < b.doc_id
        |  GROUP BY da, db),
        |jp AS (SELECT LEAST((10 * (1000000 * ix.inter
        |      // (sa.n + sb.n - ix.inter))) // 1000000, 9) AS dec_,
        |    CAST(COUNT(*) AS BIGINT) AS mass
        |  FROM ix JOIN sz sa ON sa.doc_id = ix.da
        |    JOIN sz sb ON sb.doc_id = ix.db
        |  GROUP BY dec_),
        |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS np,
        |    CAST((SELECT COUNT(*) FROM sz) AS BIGINT) AS nd FROM ix),
        |m0 AS (SELECT d.k AS dec_,
        |    CASE WHEN d.k = 0 THEN COALESCE(jp.mass, 0)
        |      + (tot.nd * (tot.nd - 1)) // 2 - tot.np
        |    ELSE COALESCE(jp.mass, 0) END AS mass
        |  FROM (SELECT unnest(range(0, 10)) AS k) d
        |  LEFT JOIN jp ON jp.dec_ = d.k, tot),
        |p AS (SELECT CAST(b AS BIGINT) AS bands, CAST(r AS BIGINT)
        |    AS rows_, CAST(k AS BIGINT) AS dec_, CAST(pp AS BIGINT)
        |    AS p_ppm
        |  FROM (VALUES
        |    (16,1,0,559873),(16,1,1,925749),(16,1,2,989977),
        |    (16,1,3,998985),(16,1,4,999930),(16,1,5,999997),
        |    (16,1,6,1000000),(16,1,7,1000000),(16,1,8,1000000),
        |    (16,1,9,1000000),
        |    (8,2,0,19826),(8,2,1,166445),(8,2,2,403281),(8,2,3,648458),
        |    (8,2,4,836377),(8,2,5,943979),(8,2,6,987629),(8,2,7,998658),
        |    (8,2,8,999965),(8,2,9,1000000),
        |    (4,4,0,25),(4,4,1,2023),(4,4,2,15534),(4,4,3,58687),
        |    (4,4,4,154209),(4,4,5,318779),(4,4,6,544575),(4,4,7,781630),
        |    (4,4,8,947798),(4,4,9,998816),
        |    (2,8,0,0),(2,8,1,1),(2,8,2,31),(2,8,3,450),(2,8,4,3360),
        |    (2,8,5,16677),(2,8,6,62714),(2,8,7,190203),(2,8,8,470730),
        |    (2,8,9,886714),
        |    (1,16,0,0),(1,16,1,0),(1,16,2,0),(1,16,3,0),(1,16,4,3),
        |    (1,16,5,70),(1,16,6,1015),(1,16,7,10023),(1,16,8,74251),
        |    (1,16,9,440127)) v(b, r, k, pp))
        |SELECT p.bands, p.rows_,
        |  CAST(CASE WHEN SUM(CASE WHEN p.dec_ >= 5 THEN m0.mass ELSE 0
        |      END) = 0 THEN -1
        |    ELSE SUM(CASE WHEN p.dec_ >= 5 THEN m0.mass * p.p_ppm
        |      ELSE 0 END)
        |      // SUM(CASE WHEN p.dec_ >= 5 THEN m0.mass ELSE 0 END)
        |    END AS BIGINT) AS est_recall_ppm,
        |  CAST(CASE WHEN SUM(CASE WHEN p.dec_ < 5 THEN m0.mass ELSE 0
        |      END) = 0 THEN -1
        |    ELSE SUM(CASE WHEN p.dec_ < 5 THEN m0.mass * p.p_ppm
        |      ELSE 0 END)
        |      // SUM(CASE WHEN p.dec_ < 5 THEN m0.mass ELSE 0 END)
        |    END AS BIGINT) AS est_fp_ppm
        |FROM p JOIN m0 ON m0.dec_ = p.dec_
        |GROUP BY p.bands, p.rows_ ORDER BY p.bands DESC""") { (s, dir) =>
      import s.implicits._
      val sd = T(s, dir, "documents")
        .filter($"doc_id" % 2 === 0)
        .select($"doc_id", split($"text", " ").as("w"))
      val g = sd
        .select($"doc_id", explode(expr(
          "transform(sequence(1, greatest(1, size(w) - 2)), " +
            "i -> concat_ws(' ', slice(w, i, 3)))")).as("gr"))
        .filter(expr("size(split(gr, ' ')) = 3"))
        .select($"doc_id", md5($"gr".cast("binary")).as("gram")).distinct()
        .transform(graft.CacheScope.cached) // sizes + intersections
      val sz = g.groupBy($"doc_id").agg(count(lit(1)).as("n"))
      val ix = g.as("a")
        .join(g.as("b"),
          $"a.gram" === $"b.gram" && $"a.doc_id" < $"b.doc_id")
        .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .agg(count(lit(1)).as("inter"))
        .transform(graft.CacheScope.cached) // masses + totals
      val jp = ix
        .join(broadcast(sz.select($"doc_id".as("da"), $"n".as("na"))),
          Seq("da"))
        .join(broadcast(sz.select($"doc_id".as("db"), $"n".as("nb"))),
          Seq("db"))
        .groupBy(expr("LEAST((10 * (1000000 * inter " +
          "div (na + nb - inter))) div 1000000, 9)").as("dec_"))
        .agg(count(lit(1)).as("mass"))
      val tot = ix.agg(count(lit(1)).as("np"))
        .crossJoin(broadcast(sz.agg(count(lit(1)).as("nd"))))
      val spine = Seq.range(0L, 10L).toDF("dec_")
      val m0 = spine.join(jp, Seq("dec_"), "left")
        .withColumn("mass", coalesce($"mass", lit(0L)))
        .crossJoin(broadcast(tot))
        .withColumn("mass", when($"dec_" === 0,
          $"mass" + expr("(nd * (nd - 1)) div 2") - $"np")
          .otherwise($"mass"))
        .select($"dec_", $"mass")
      val p = Seq(
          (16L,1L,0L,559873L),(16L,1L,1L,925749L),(16L,1L,2L,989977L),
          (16L,1L,3L,998985L),(16L,1L,4L,999930L),(16L,1L,5L,999997L),
          (16L,1L,6L,1000000L),(16L,1L,7L,1000000L),(16L,1L,8L,1000000L),
          (16L,1L,9L,1000000L),
          (8L,2L,0L,19826L),(8L,2L,1L,166445L),(8L,2L,2L,403281L),
          (8L,2L,3L,648458L),(8L,2L,4L,836377L),(8L,2L,5L,943979L),
          (8L,2L,6L,987629L),(8L,2L,7L,998658L),(8L,2L,8L,999965L),
          (8L,2L,9L,1000000L),
          (4L,4L,0L,25L),(4L,4L,1L,2023L),(4L,4L,2L,15534L),
          (4L,4L,3L,58687L),(4L,4L,4L,154209L),(4L,4L,5L,318779L),
          (4L,4L,6L,544575L),(4L,4L,7L,781630L),(4L,4L,8L,947798L),
          (4L,4L,9L,998816L),
          (2L,8L,0L,0L),(2L,8L,1L,1L),(2L,8L,2L,31L),(2L,8L,3L,450L),
          (2L,8L,4L,3360L),(2L,8L,5L,16677L),(2L,8L,6L,62714L),
          (2L,8L,7L,190203L),(2L,8L,8L,470730L),(2L,8L,9L,886714L),
          (1L,16L,0L,0L),(1L,16L,1L,0L),(1L,16L,2L,0L),(1L,16L,3L,0L),
          (1L,16L,4L,3L),(1L,16L,5L,70L),(1L,16L,6L,1015L),
          (1L,16L,7L,10023L),(1L,16L,8L,74251L),(1L,16L,9L,440127L))
        .toDF("bands", "rows_", "dec_", "p_ppm")
      p.join(broadcast(m0), Seq("dec_"))
        .groupBy($"bands", $"rows_")
        .agg(
          expr("CAST(CASE WHEN SUM(CASE WHEN dec_ >= 5 THEN mass ELSE 0 " +
            "END) = 0 THEN -1 ELSE SUM(CASE WHEN dec_ >= 5 THEN mass * " +
            "p_ppm ELSE 0 END) div SUM(CASE WHEN dec_ >= 5 THEN mass " +
            "ELSE 0 END) END AS BIGINT)").as("est_recall_ppm"),
          expr("CAST(CASE WHEN SUM(CASE WHEN dec_ < 5 THEN mass ELSE 0 " +
            "END) = 0 THEN -1 ELSE SUM(CASE WHEN dec_ < 5 THEN mass * " +
            "p_ppm ELSE 0 END) div SUM(CASE WHEN dec_ < 5 THEN mass " +
            "ELSE 0 END) END AS BIGINT)").as("est_fp_ppm"))
        .orderBy($"bands".desc)
    },

    q("q331_minhash_merge",
      // MinHash MERGEABILITY certificate — the algebra that makes the
      // sketch work as a distributed partial aggregate: minhash(A ∪ B) =
      // elementwise-min(minhash(A), minhash(B)). Per source, the signature
      // of the source's whole shingle union is computed BOTH ways — (a)
      // directly over the flattened distinct hash set, (b) by merging the
      // per-document signatures with a per-permutation MIN aggregation
      // (exactly what Spark's map-side partial aggregation does with
      // sketch state at 100 TB, where per-doc signatures are all that
      // ever crosses the shuffle) — and the output carries both digests
      // plus the law's verdict. A signature is serialized as a
      // comma-joined string (q205's rule: array sort keys crash the
      // driver comparator).
      s"""WITH words AS (SELECT doc_id, source, string_split(text,' ') w
         |  FROM documents),
         |sh AS (SELECT doc_id, source, ${duckShingles("w")} shingles
         |  FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, source, ${duckHashedSet("shingles")} hh
         |  FROM sh),
         |direct AS (SELECT source, ${duckMinhash("hh")} dm FROM
         |  (SELECT source, list_distinct(flatten(list(hh))) AS hh
         |   FROM hs GROUP BY source)),
         |persig AS (SELECT doc_id, source, ${duckMinhash("hh")} mh FROM hs),
         |exsig AS (SELECT source, i, mh[CAST(i+1 AS INT)] AS v
         |  FROM persig, unnest(range($MinhashSigs)) AS t(i)),
         |merged AS (SELECT source, list(mn ORDER BY i) AS mm FROM
         |  (SELECT source, i, MIN(v) AS mn FROM exsig GROUP BY source, i)
         |  GROUP BY source),
         |j AS (SELECT d.source,
         |    array_to_string(d.dm, ',') AS direct_sig,
         |    array_to_string(m.mm, ',') AS merged_sig,
         |    (SELECT CAST(COUNT(*) AS BIGINT) FROM hs
         |     WHERE hs.source = d.source) AS n_docs
         |  FROM direct d JOIN merged m ON m.source = d.source)
         |SELECT source, n_docs, direct_sig, merged_sig,
         |  direct_sig = merged_sig AS merge_law_holds
         |FROM j ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val hs = shingled(s, dir)
        .withColumn("hh",
          expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .select($"doc_id", $"source", $"hh")
        .transform(graft.CacheScope.cached) // direct union + per-doc sigs
      val direct = hs.select($"source", explode($"hh").as("h")).distinct()
        .groupBy($"source").agg(collect_list($"h").as("hh"))
        .select($"source", expr("graft_minhash(hh)").as("dm"))
      val merged = hs
        .withColumn("mh", expr("graft_minhash(hh)"))
        .select($"source", posexplode($"mh"))
        .groupBy($"source", $"pos").agg(min($"col").as("mn"))
        .groupBy($"source")
        .agg(expr("transform(array_sort(collect_list(struct(pos, mn))), " +
          "x -> x.mn)").as("mm"))
      val nd = hs.groupBy($"source").agg(count(lit(1)).as("n_docs"))
      direct.join(merged, Seq("source")).join(broadcast(nd), Seq("source"))
        .select($"source", $"n_docs",
          array_join(expr("transform(dm, x -> CAST(x AS STRING))"), ",")
            .as("direct_sig"),
          array_join(expr("transform(mm, x -> CAST(x AS STRING))"), ",")
            .as("merged_sig"))
        .withColumn("merge_law_holds", $"direct_sig" === $"merged_sig")
        .orderBy($"source")
    },

    q("q337_entity_resolution",
      // Blocked edit-distance entity resolution — the record-linkage
      // pipeline that reconciles dirty identifiers against a master list
      // WITHOUT an all-pairs distance matrix: candidates only form inside
      // a BLOCK (here the 16-char name prefix, which the planted
      // last-character corruptions cannot touch), so per-record fan-out
      // is bounded by block size (<= 100 here) at any corpus size — the
      // standard blocking/recall trade every linkage system documents.
      // The fixture corrupts each customer name deterministically by
      // class (keep / substitute last char / delete last char); matches
      // take the (distance, master key) minimum, and the per-class
      // readout separates resolved-correctly from resolved-to-a-NEIGHBOR
      // — a last-digit substitution often lands exactly on another
      // master (distance 0 beats the true master's 1), the honest
      // ambiguity of near-identical keys that this operator surfaces
      // rather than hides.
      """WITH d0 AS (SELECT c_custkey AS src_key, c_name,
        |    c_custkey % 3 AS mod_class FROM customer),
        |dirty AS (SELECT src_key, mod_class,
        |    CASE mod_class WHEN 0 THEN c_name
        |      WHEN 1 THEN concat(substring(c_name, 1, length(c_name) - 1),
        |        CAST((CAST(substring(c_name, length(c_name), 1) AS BIGINT)
        |          + 1) % 10 AS STRING))
        |      ELSE substring(c_name, 1, length(c_name) - 1) END AS dname
        |  FROM d0),
        |m AS (SELECT c_custkey AS master_key, c_name AS mname,
        |    substring(c_name, 1, 16) AS blk FROM customer),
        |cand AS (SELECT d.src_key, d.mod_class, m.master_key,
        |    CAST(levenshtein(d.dname, m.mname) AS BIGINT) AS dist
        |  FROM dirty d JOIN m ON substring(d.dname, 1, 16) = m.blk),
        |best AS (SELECT src_key, mod_class, master_key, dist,
        |    ROW_NUMBER() OVER (PARTITION BY src_key
        |      ORDER BY dist, master_key) AS rn
        |  FROM cand WHERE dist <= 1)
        |SELECT CAST(d.mod_class AS BIGINT) AS mod_class,
        |  CAST(COUNT(*) AS BIGINT) AS n_records,
        |  CAST(SUM(CASE WHEN b.master_key IS NOT NULL THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_resolved,
        |  CAST(SUM(CASE WHEN b.master_key = d.src_key THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_correct,
        |  CAST(SUM(CASE WHEN b.master_key IS NOT NULL
        |      AND b.master_key <> d.src_key THEN 1 ELSE 0 END)
        |    AS BIGINT) AS n_neighbor
        |FROM dirty d LEFT JOIN (SELECT * FROM best WHERE rn = 1) b
        |  ON b.src_key = d.src_key
        |GROUP BY d.mod_class ORDER BY mod_class""") { (s, dir) =>
      import s.implicits._
      val cust = T(s, dir, "customer")
      val dirty = cust
        .select($"c_custkey".as("src_key"), ($"c_custkey" % 3).as("mod_class"),
          expr("CASE c_custkey % 3 WHEN 0 THEN c_name " +
            "WHEN 1 THEN concat(substring(c_name, 1, length(c_name) - 1), " +
            "CAST((CAST(substring(c_name, length(c_name), 1) AS BIGINT) " +
            "+ 1) % 10 AS STRING)) " +
            "ELSE substring(c_name, 1, length(c_name) - 1) END").as("dname"))
        .transform(graft.CacheScope.cached) // candidate join + final left
      val m = cust.select($"c_custkey".as("master_key"),
        $"c_name".as("mname"), substring($"c_name", 1, 16).as("blk"))
      val best = dirty
        .join(m, substring($"dname", 1, 16) === $"blk")
        .withColumn("dist", levenshtein($"dname", $"mname").cast("long"))
        .filter($"dist" <= 1)
        .withColumn("rn", row_number().over(Window.partitionBy($"src_key")
          .orderBy($"dist", $"master_key")))
        .filter($"rn" === 1)
        .select($"src_key", $"master_key")
      dirty.join(best, Seq("src_key"), "left")
        .groupBy($"mod_class")
        .agg(count(lit(1)).as("n_records"),
          sum(when($"master_key".isNotNull, 1L).otherwise(0L))
            .as("n_resolved"),
          sum(when($"master_key" === $"src_key", 1L).otherwise(0L))
            .as("n_correct"),
          sum(when($"master_key".isNotNull && $"master_key" =!= $"src_key",
            1L).otherwise(0L)).as("n_neighbor"))
        .orderBy($"mod_class")
    },

    q("q372_dedup_roi_curve",
      // Dedup ROI curve — the evidence behind choosing a near-dup
      // similarity threshold: for every observed signature-agreement level
      // m (of 16 minhash sigs, est. Jaccard m/16), how many documents and
      // how many bytes become removable if the threshold is set there.
      // Candidates come from q42's banded LSH (never all-pairs); each
      // removable doc (the LARGER id of a pair — q40's keep-first policy)
      // counts ONCE at the HIGHEST agreement level any pair gives it, so
      // the descending-cumulative columns are an honest dedup yield curve,
      // not a pair count that double-books cluster members. Everything
      // after the candidate join runs on the <=17-level rollup.
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words
         |  WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
         |sig AS (SELECT doc_id, ${duckMinhash("hh")} mh FROM hs),
         |bands AS (SELECT doc_id, b.band,
         |    mh[CAST(b.band*4+1 AS INT)]||':'||mh[CAST(b.band*4+2 AS INT)]||':'||
         |    mh[CAST(b.band*4+3 AS INT)]||':'||mh[CAST(b.band*4+4 AS INT)] AS key
         |  FROM sig, (SELECT unnest(range($MinhashBands)) AS band) b),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a
         |         JOIN bands b ON a.band = b.band AND a.key = b.key
         |                     AND a.doc_id < b.doc_id),
         |est AS (SELECT da, db, CAST(len(list_filter(range($MinhashSigs),
         |      i -> sa.mh[CAST(i+1 AS INT)] = sb.mh[CAST(i+1 AS INT)]))
         |      AS BIGINT) AS m
         |  FROM cand JOIN sig sa ON sa.doc_id = cand.da
         |            JOIN sig sb ON sb.doc_id = cand.db),
         |rm AS (SELECT db AS doc_id, CAST(MAX(m) AS BIGINT) AS m FROM est
         |  GROUP BY db),
         |lvl AS (SELECT r.m, CAST(COUNT(*) AS BIGINT) AS docs_new,
         |    CAST(SUM(d.n_chars) AS BIGINT) AS bytes_new
         |  FROM rm r JOIN documents d ON d.doc_id = r.doc_id GROUP BY r.m)
         |SELECT m AS match_sigs, (m * 1000000) // $MinhashSigs AS est_ppm,
         |  docs_new, bytes_new,
         |  CAST(SUM(docs_new) OVER (ORDER BY m DESC) AS BIGINT) AS docs_cum,
         |  CAST(SUM(bytes_new) OVER (ORDER BY m DESC) AS BIGINT) AS bytes_cum
         |FROM lvl ORDER BY match_sigs DESC""") { (s, dir) =>
      import s.implicits._
      val sig = shingled(s, dir)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .withColumn("mh", expr("graft_minhash(hh)"))
        .select($"doc_id", $"mh")
        .transform(graft.CacheScope.cached) // bands + both signature probes
      val bands = sig
        .select($"doc_id", explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"), $"mh")
        .withColumn("key", expr(
          "concat_ws(':', transform(slice(mh, band*4 + 1, 4), x -> CAST(x AS STRING)))"))
        .select($"doc_id", $"band", $"key")
      val cand = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.key" === $"b.key" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .distinct()
      val rm = cand
        .join(sig.as("sa"), $"da" === $"sa.doc_id")
        .join(sig.as("sb"), $"db" === $"sb.doc_id")
        .withColumn("m", expr(
          "CAST(size(filter(zip_with(sa.mh, sb.mh, (x, y) -> x = y), b -> b)) AS BIGINT)"))
        .groupBy($"db".as("doc_id")).agg(max($"m").as("m"))
      rm.join(T(s, dir, "documents").select($"doc_id", $"n_chars"), "doc_id")
        .groupBy($"m")
        .agg(count(lit(1)).as("docs_new"), sum($"n_chars").as("bytes_new"))
        .select($"m".as("match_sigs"),
          expr(s"(m * 1000000) div $MinhashSigs").as("est_ppm"),
          $"docs_new", $"bytes_new",
          sum($"docs_new").over(Window.orderBy($"m".desc)).cast("long")
            .as("docs_cum"),
          sum($"bytes_new").over(Window.orderBy($"m".desc)).cast("long")
            .as("bytes_cum"))
        .orderBy($"match_sigs".desc)
    },

    q("q385_incremental_dedup", {
      val sp = splitCaseDuck("doc_id")
      s"""WITH words AS (SELECT doc_id, $sp AS sp, string_split(text,' ') w
         |  FROM documents),
         |sh AS (SELECT doc_id, sp, ${duckShingles("w")} shingles
         |  FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, sp, ${duckHashedSet("shingles")} hh FROM sh),
         |sig AS (SELECT doc_id, sp, ${duckMinhash("hh")} mh FROM hs),
         |bands AS (SELECT doc_id, sp, b.band,
         |    mh[CAST(b.band*4+1 AS INT)]||':'||mh[CAST(b.band*4+2 AS INT)]||':'||
         |    mh[CAST(b.band*4+3 AS INT)]||':'||mh[CAST(b.band*4+4 AS INT)] AS key
         |  FROM sig, (SELECT unnest(range($MinhashBands)) AS band) b),
         |c1 AS (SELECT DISTINCT d.doc_id dd, i.doc_id oi FROM bands d
         |  JOIN bands i ON d.band = i.band AND d.key = i.key
         |  WHERE d.sp = 'test' AND i.sp <> 'test'),
         |c2 AS (SELECT DISTINCT a.doc_id dd, b.doc_id ob FROM bands a
         |  JOIN bands b ON a.band = b.band AND a.key = b.key
         |  WHERE a.sp = 'test' AND b.sp = 'test' AND b.doc_id < a.doc_id),
         |m1 AS (SELECT dd, CAST(COUNT(*) AS BIGINT) n_index_cand,
         |    CAST(MAX(len(list_filter(range($MinhashSigs),
         |      i -> sa.mh[CAST(i+1 AS INT)] = sb.mh[CAST(i+1 AS INT)])))
         |      AS BIGINT) max_match_index
         |  FROM c1 JOIN sig sa ON sa.doc_id = c1.dd
         |          JOIN sig sb ON sb.doc_id = c1.oi GROUP BY dd),
         |m2 AS (SELECT dd, CAST(COUNT(*) AS BIGINT) n_batch_cand,
         |    CAST(MAX(len(list_filter(range($MinhashSigs),
         |      i -> sa.mh[CAST(i+1 AS INT)] = sb.mh[CAST(i+1 AS INT)])))
         |      AS BIGINT) max_match_batch
         |  FROM c2 JOIN sig sa ON sa.doc_id = c2.dd
         |          JOIN sig sb ON sb.doc_id = c2.ob GROUP BY dd)
         |SELECT s.doc_id,
         |  COALESCE(m1.n_index_cand, 0) AS n_index_cand,
         |  COALESCE(m1.max_match_index, 0) AS max_match_index,
         |  COALESCE(m2.n_batch_cand, 0) AS n_batch_cand,
         |  COALESCE(m2.max_match_batch, 0) AS max_match_batch,
         |  CASE WHEN COALESCE(m1.max_match_index, 0) >= 8 THEN 'dup_vs_index'
         |       WHEN COALESCE(m2.max_match_batch, 0) >= 8 THEN 'dup_in_batch'
         |       ELSE 'admit' END AS verdict
         |FROM sig s LEFT JOIN m1 ON m1.dd = s.doc_id
         |           LEFT JOIN m2 ON m2.dd = s.doc_id
         |WHERE s.sp = 'test' ORDER BY s.doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Incremental MinHash dedup — the per-ingest shape of q42: a DELTA
      // batch (the md5 'test' slice standing in for today's crawl) checked
      // against the PERSISTED band index of the existing corpus (in
      // production a table keyed by (band, key); here derived from the
      // non-delta slice — same contract as q376's persisted centroids).
      // The corpus is NEVER re-shingled per ingest: only the delta is
      // signed map-side, index candidates come from the (band, key)
      // equi-join against the stored bands, and in-batch duplicates use
      // the single-pass keep-first rule (collide with a SMALLER admitted
      // id — the greedy approximation every streaming dedup ships; the
      // full transitive closure is q106's offline job). Verdict ladder:
      // dup_vs_index beats dup_in_batch beats admit, thresholds on exact
      // signature-agreement counts (8/16 = the q42 0.5 estimate). At
      // 100 TB: delta is days-sized, index lookup is a bucketed equi-join,
      // and admitted rows append their bands to the index — O(delta), not
      // O(corpus), per ingest.
      val sp = splitCaseSpark("doc_id")
      val sig = shingled(s, dir)
        .withColumn("sp", expr(sp))
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .withColumn("mh", expr("graft_minhash(hh)"))
        .select($"doc_id", $"sp", $"mh")
        .transform(graft.CacheScope.cached)
      val bands = sig
        .select($"doc_id", $"sp", $"mh",
          explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"))
        .withColumn("key", expr(
          "concat_ws(':', transform(slice(mh, band*4 + 1, 4), x -> CAST(x AS STRING)))"))
        .select($"doc_id", $"sp", $"band", $"key")
        .transform(graft.CacheScope.cached)
      val delta = bands.filter($"sp" === "test")
      val idx = bands.filter($"sp" =!= "test")
      def agreed(cand: DataFrame, nCol: String, mCol: String): DataFrame =
        cand
          .join(sig.select($"doc_id".as("dd"), $"mh".as("ma")), "dd")
          .join(sig.select($"doc_id".as("oi"), $"mh".as("mb")), "oi")
          .groupBy($"dd")
          .agg(count(lit(1)).as(nCol),
            max(expr("CAST(size(filter(zip_with(ma, mb, (x, y) -> x = y), b -> b)) AS BIGINT)"))
              .as(mCol))
      val m1 = agreed(
        delta.as("d").join(idx.as("i"),
            $"d.band" === $"i.band" && $"d.key" === $"i.key")
          .select($"d.doc_id".as("dd"), $"i.doc_id".as("oi")).distinct(),
        "n_index_cand", "max_match_index")
      val m2 = agreed(
        delta.as("a").join(delta.as("b"),
            $"a.band" === $"b.band" && $"a.key" === $"b.key" &&
              $"b.doc_id" < $"a.doc_id")
          .select($"a.doc_id".as("dd"), $"b.doc_id".as("oi")).distinct(),
        "n_batch_cand", "max_match_batch")
      sig.filter($"sp" === "test").select($"doc_id")
        .join(m1.withColumnRenamed("dd", "doc_id"), Seq("doc_id"), "left")
        .join(m2.withColumnRenamed("dd", "doc_id"), Seq("doc_id"), "left")
        .select($"doc_id",
          coalesce($"n_index_cand", lit(0L)).as("n_index_cand"),
          coalesce($"max_match_index", lit(0L)).as("max_match_index"),
          coalesce($"n_batch_cand", lit(0L)).as("n_batch_cand"),
          coalesce($"max_match_batch", lit(0L)).as("max_match_batch"))
        .withColumn("verdict",
          when($"max_match_index" >= 8, "dup_vs_index")
            .when($"max_match_batch" >= 8, "dup_in_batch")
            .otherwise("admit"))
        .orderBy($"doc_id")
    },

    q("q407_fold_leakage", {
      val foldA = "substring(md5(CAST(doc_id AS VARCHAR)), 1, 2)"
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
         |sig AS (SELECT doc_id, ${duckMinhash("hh")} mh FROM hs),
         |bands AS (SELECT doc_id, b.band,
         |    mh[CAST(b.band*4+1 AS INT)]||':'||mh[CAST(b.band*4+2 AS INT)]||':'||
         |    mh[CAST(b.band*4+3 AS INT)]||':'||mh[CAST(b.band*4+4 AS INT)] AS key
         |  FROM sig, (SELECT unnest(range($MinhashBands)) AS band) b),
         |cand AS (SELECT DISTINCT a.doc_id da, b.doc_id db FROM bands a
         |         JOIN bands b ON a.band = b.band AND a.key = b.key
         |                     AND a.doc_id < b.doc_id),
         |est AS (SELECT da, db FROM cand
         |  JOIN sig sa ON sa.doc_id = cand.da
         |  JOIN sig sb ON sb.doc_id = cand.db
         |  WHERE 2*len(list_filter(range($MinhashSigs),
         |    i -> sa.mh[CAST(i+1 AS INT)] = sb.mh[CAST(i+1 AS INT)])) >= $MinhashSigs),
         |fl AS (SELECT doc_id, CAST(CASE WHEN h < '33' THEN 0 WHEN h < '66' THEN 1
         |    WHEN h < '99' THEN 2 WHEN h < 'cc' THEN 3 ELSE 4 END AS BIGINT) AS fold
         |  FROM (SELECT doc_id, $foldA AS h FROM documents)),
         |px AS (SELECT LEAST(fa.fold, fb.fold) AS fold_a,
         |    GREATEST(fa.fold, fb.fold) AS fold_b
         |  FROM est JOIN fl fa ON fa.doc_id = est.da
         |           JOIN fl fb ON fb.doc_id = est.db)
         |SELECT fold_a, fold_b, CAST(COUNT(*) AS BIGINT) AS pairs,
         |  CAST(CASE WHEN fold_a <> fold_b THEN 1 ELSE 0 END AS BIGINT) AS cross_fold
         |FROM px GROUP BY fold_a, fold_b ORDER BY fold_a, fold_b"""
    }) { (s, dir) =>
      import s.implicits._
      // Cross-fold dedup-leakage audit (Lee et al. 2021's warning made
      // measurable): assign documents to 5 folds by an md5 range split
      // (hash-based, NOT id parity — parity correlates with the fixture's
      // source assignment), find near-dup pairs with q42's banded
      // MinHash-LSH (threshold stated as the integer comparison
      // 2*matches >= sigs so no float divides), and count pairs per
      // (fold_a, fold_b) cell. Off-diagonal cells ARE the leakage: a
      // random split puts ~4/5 of every duplicate cluster's pairs across
      // fold boundaries, which silently turns held-out evaluation into
      // memorization credit — the measured case for q123's cluster-aware
      // leakage-safe split. Candidates come from the (band, key)
      // equi-join, never all pairs; the fold table joins by doc_id.
      // 100 TB-safe.
      val sig = shingled(s, dir)
        .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
        .withColumn("mh", expr("graft_minhash(hh)"))
        .select($"doc_id", $"mh")
        .transform(graft.CacheScope.cached)
      val bands = sig
        .select($"doc_id", $"mh",
          explode(sequence(lit(0), lit(MinhashBands - 1))).as("band"))
        .withColumn("key", expr(
          "concat_ws(':', transform(slice(mh, band*4 + 1, 4), x -> CAST(x AS STRING)))"))
        .select($"doc_id", $"band", $"key")
      val est = bands.as("a").join(bands.as("b"),
          $"a.band" === $"b.band" && $"a.key" === $"b.key" &&
            $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("da"), $"b.doc_id".as("db"))
        .distinct()
        .join(sig.as("sa"), $"da" === $"sa.doc_id")
        .join(sig.as("sb"), $"db" === $"sb.doc_id")
        .filter(expr(s"2 * size(filter(zip_with(sa.mh, sb.mh, (x, y) -> x = y), b -> b)) >= $MinhashSigs"))
        .select($"da", $"db")
      val folds = T(s, dir, "documents")
        .select($"doc_id", expr(
          "substring(md5(CAST(CAST(doc_id AS STRING) AS BINARY)), 1, 2)").as("h"))
        .select($"doc_id", expr(
          "CAST(CASE WHEN h < '33' THEN 0 WHEN h < '66' THEN 1 " +
            "WHEN h < '99' THEN 2 WHEN h < 'cc' THEN 3 ELSE 4 END AS BIGINT)")
          .as("fold"))
      est.join(folds.as("fa"), $"da" === $"fa.doc_id")
        .join(folds.as("fb"), $"db" === $"fb.doc_id")
        .select(least($"fa.fold", $"fb.fold").as("fold_a"),
          greatest($"fa.fold", $"fb.fold").as("fold_b"))
        .groupBy($"fold_a", $"fold_b")
        .agg(count(lit(1)).as("pairs"))
        .withColumn("cross_fold", expr(
          "CAST(CASE WHEN fold_a <> fold_b THEN 1 ELSE 0 END AS BIGINT)"))
        .orderBy($"fold_a", $"fold_b")
    },

    q("q417_deletion_neighborhood",
      """WITH base AS (SELECT doc_id, string_split(text,' ') AS w FROM documents),
        |mut AS (SELECT doc_id + 1000000000000 AS doc_id,
        |    list_transform(range(1, len(w)+1), i ->
        |      CASE WHEN i = 1 + (doc_id * 7) % len(w) THEN 'xmutx'
        |        ELSE w[CAST(i AS INT)] END) AS w
        |  FROM base WHERE doc_id % 50 = 0),
        |u AS (SELECT * FROM base UNION ALL SELECT * FROM mut),
        |del AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS len,
        |    CAST(unnest(range(1, len(w)+1)) AS BIGINT) AS pos,
        |    md5(array_to_string(
        |      w[1:CAST(unnest(range(1, len(w)+1)) AS INT)-1]
        |        || w[CAST(unnest(range(1, len(w)+1)) AS INT)+1:CAST(len(w) AS INT)],
        |      ' ')) AS key
        |  FROM u),
        |cand AS (SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id,
        |    a.len, a.pos
        |  FROM del a JOIN del b ON a.key = b.key AND a.len = b.len
        |    AND a.pos = b.pos AND a.doc_id < b.doc_id),
        |v AS (SELECT c.a_id, c.b_id, c.len, c.pos,
        |    CAST(list_sum(list_transform(range(1, CAST(c.len AS INT)+1), i ->
        |      CASE WHEN ua.w[CAST(i AS INT)] = ub.w[CAST(i AS INT)]
        |        THEN 0 ELSE 1 END)) AS BIGINT) AS n_diff
        |  FROM cand c JOIN u ua ON ua.doc_id = c.a_id
        |    JOIN u ub ON ub.doc_id = c.b_id)
        |SELECT a_id, b_id, len, CAST(pos AS BIGINT) AS diff_pos
        |FROM v WHERE n_diff = 1 ORDER BY a_id, b_id, diff_pos""") { (s, dir) =>
      import s.implicits._
      // SymSpell-style deletion-neighborhood blocking: token-level
      // substitution-distance-1 pairs MUST agree on the sequence with the
      // differing position deleted, so each doc emits len deletion keys
      // (md5 of the words minus position i) and candidates come from an
      // equi-join on (key, len, pos) — subquadratic candidate generation
      // for edit-distance dedup, vs q74's per-pair scalar distance. The
      // probe set plants one single-token mutant per 50th doc (position
      // derived from doc_id, fully deterministic); the pipeline must
      // recover exactly those pairs, verified by an exact zip_with
      // difference count before emission. At corpus scale the deletion
      // fan-out is len x rows but each variant is a fixed-width digest;
      // the join key space is ~unique so the shuffle carries no skew.
      val base = T(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        // spread: the len-way deletion explode + md5 per variant otherwise
        // run in the single scan task (Tables.spread rationale)
        .transform(graft.Tables.spread)
      val mut = base.filter($"doc_id" % 50 === 0)
        .select(($"doc_id" + 1000000000000L).as("doc_id"),
          expr("transform(sequence(1, size(w)), i -> " +
            "IF(i = 1 + (doc_id * 7) % size(w), 'xmutx', " +
            "element_at(w, CAST(i AS INT))))").as("w"))
      val u = base.unionByName(mut)
        .transform(graft.CacheScope.cached) // deletion pass + both verify sides
      val del = u
        .select($"doc_id", $"w", size($"w").cast("long").as("len"),
          explode(expr("sequence(CAST(1 AS BIGINT), CAST(size(w) AS BIGINT))"))
            .as("pos"))
        .select($"doc_id", $"len", $"pos",
          md5(expr("CAST(concat_ws(' ', concat(" +
            "slice(w, 1, CAST(pos - 1 AS INT)), " +
            "slice(w, CAST(pos + 1 AS INT), CAST(len - pos AS INT)))) AS BINARY)"))
            .as("key"))
      val cand = del.as("a").join(del.as("b"),
          $"a.key" === $"b.key" && $"a.len" === $"b.len" &&
            $"a.pos" === $"b.pos" && $"a.doc_id" < $"b.doc_id")
        .select($"a.doc_id".as("a_id"), $"b.doc_id".as("b_id"),
          $"a.len".as("len"), $"a.pos".as("pos"))
        .distinct()
      cand
        .join(u.select($"doc_id".as("a_id"), $"w".as("wa")), "a_id")
        .join(u.select($"doc_id".as("b_id"), $"w".as("wb")), "b_id")
        .withColumn("n_diff", expr(
          "aggregate(zip_with(wa, wb, (x, y) -> IF(x = y, 0, 1)), 0, " +
            "(acc, v) -> acc + v)"))
        .filter($"n_diff" === 1)
        .select($"a_id", $"b_id", $"len", $"pos".as("diff_pos"))
        .orderBy($"a_id", $"b_id", $"diff_pos")
    },

    q("q437_cdc_chunking", {
      // DuckDB mirror of withCdcChunks — NOTE the gx/gi/gk outer lambda
      // variables (duckPolyHash binds `i` internally; an outer `i`
      // silently NULLs). Window fingerprint = integer fold over per-word
      // hashes, mirroring the Spark side's two-level rolling hash.
      val hashWord = duckPolyHash("gx")
      s"""WITH wds AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |  FROM documents),
         |c0 AS (SELECT doc_id, source, w, len(w) AS n,
         |    list_transform(w, gx -> $hashWord) AS wh FROM wds),
         |hb AS (SELECT doc_id, source, w, n,
         |    CASE WHEN n >= 8 THEN list_filter(range(8, n), gi ->
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          wh[CAST(gi-7 AS INT):CAST(gi AS INT)]),
         |          (acc, x) -> (acc * 31 + x) % $P) % 32 = 0)
         |      ELSE [] END AS bnd
         |  FROM c0),
         |se AS (SELECT doc_id, source, w, n,
         |    list_prepend(CAST(1 AS BIGINT),
         |      list_transform(bnd, gb -> gb + 1)) AS starts,
         |    list_append(bnd, CAST(n AS BIGINT)) AS ends
         |  FROM hb),
         |ch AS (SELECT doc_id, source,
         |    list_transform(range(1, len(starts) + 1), gk ->
         |      array_to_string(w[CAST(starts[CAST(gk AS INT)] AS INT):
         |        CAST(ends[CAST(gk AS INT)] AS INT)], ' ')) AS chunks
         |  FROM se),
         |inst AS (SELECT doc_id, source, chunks[CAST(gk AS INT)] AS chunk
         |  FROM (SELECT doc_id, source, chunks,
         |      unnest(range(1, len(chunks) + 1)) AS gk FROM ch)),
         |hsh AS (SELECT doc_id, source,
         |    CAST(len(string_split(chunk, ' ')) AS BIGINT) AS clen,
         |    ${duckPolyHash("chunk")} AS h
         |  FROM inst),
         |occ AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS cnt FROM hsh GROUP BY h)
         |SELECT source,
         |  CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
         |  CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(CASE WHEN occ.cnt > 1 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_dup,
         |  CAST((SUM(CASE WHEN occ.cnt > 1 THEN 1 ELSE 0 END) * 1000000)
         |    // COUNT(*) AS BIGINT) AS dup_ppm,
         |  CAST((SUM(clen) * 1000000) // COUNT(*) AS BIGINT)
         |    AS mean_words_micro
         |FROM hsh JOIN occ USING (h)
         |GROUP BY source ORDER BY source"""
    }) { (s, dir) =>
      import s.implicits._
      // Content-defined chunking (Rabin-style, the storage/dedup layer
      // under every large-corpus snapshotting scheme — LBFS/restic/borg
      // lineage): a chunk boundary falls AFTER token i wherever the
      // rolling 8-token window hash ≡ 0 (mod 32), so boundaries are a
      // function of LOCAL CONTENT only — insert one token and every chunk
      // more than a window past the edit re-aligns identically, which is
      // exactly what fixed-size chunking cannot do (its boundaries all
      // shift; dedup against the previous snapshot collapses). Expected
      // chunk ~32 tokens plus the forced doc-end boundary. Everything up
      // to the chunk instance is map-side HOFs; the ONE corpus-scale
      // shuffle is the chunk-hash occurrence count — the same plan a
      // storage dedup runs — and the per-source rollup rides the
      // hash-join back. Boundary-stability law in QueriesSpec.
      Dedup.withCdcChunks(T(s, dir, "documents")
          .withColumn("w", split($"text", " ")))
        .select($"doc_id", $"source", posexplode($"chunks"))
        .select($"doc_id", $"source",
          expr("CAST(size(split(col, ' ')) AS BIGINT)").as("clen"),
          expr("graft_polyhash(col)").as("h"))
        .transform(graft.CacheScope.cached) // occurrence count + join side
        .transform { inst =>
          val occ = inst.groupBy($"h").agg(count(lit(1)).as("cnt"))
          inst.join(occ, "h")
        }
        .groupBy($"source")
        .agg(countDistinct($"doc_id").as("n_docs"),
          count(lit(1)).as("n_chunks"),
          sum(when($"cnt" > 1, 1L).otherwise(0L)).as("n_dup"),
          expr("CAST((SUM(CASE WHEN cnt > 1 THEN 1 ELSE 0 END) * 1000000) " +
            "div COUNT(1) AS BIGINT)").as("dup_ppm"),
          expr("CAST((SUM(clen) * 1000000) div COUNT(1) AS BIGINT)")
            .as("mean_words_micro"))
        .orderBy($"source")
    },

    q("q439_winnowing", {
      // gx/gi/gj/gp outer lambda variables per the duckPolyHash binding
      // rule; gram fingerprint = integer fold over per-word hashes,
      // mirroring withWinnowFps' two-level rolling hash.
      val hashWord = duckPolyHash("gx")
      s"""WITH wds AS (SELECT doc_id, string_split(text, ' ') AS w
         |  FROM documents),
         |c0 AS (SELECT doc_id, w, len(w) AS n,
         |    list_transform(w, gx -> $hashWord) AS wh
         |  FROM wds WHERE len(w) >= 8),
         |g AS (SELECT doc_id, n - 4 AS m,
         |    list_transform(range(1, n - 3), gi ->
         |      list_reduce(list_prepend(CAST(0 AS BIGINT),
         |        wh[CAST(gi AS INT):CAST(gi+4 AS INT)]),
         |        (acc, x) -> (acc * 31 + x) % $P)) AS gh
         |  FROM c0),
         |cc AS (SELECT doc_id, m, gh,
         |    list_transform(range(1, m + 1), gi ->
         |      (gh[CAST(gi AS INT)] + 1) * 1048576 - gi) AS c
         |  FROM g),
         |sel AS (SELECT doc_id, m, gh,
         |    list_distinct(list_transform(range(1, m - 2), gj ->
         |      1048576 - (list_min(c[CAST(gj AS INT):CAST(gj+3 AS INT)])
         |        % 1048576))) AS ps
         |  FROM cc),
         |fp AS (SELECT doc_id, m, CAST(len(ps) AS BIGINT) AS n_sel,
         |    list_distinct(list_transform(ps, gp ->
         |      gh[CAST(gp AS INT)])) AS fps
         |  FROM sel),
         |ex AS (SELECT doc_id, unnest(fps) AS f FROM fp),
         |pr AS (SELECT a.doc_id, CAST(COUNT(DISTINCT b.doc_id) AS BIGINT)
         |    AS n_partners
         |  FROM ex a JOIN ex b ON a.f = b.f AND a.doc_id <> b.doc_id
         |  GROUP BY a.doc_id)
         |SELECT fp.doc_id, CAST(fp.m AS BIGINT) AS n_grams, fp.n_sel,
         |  CAST(len(fp.fps) AS BIGINT) AS n_fp,
         |  CAST((fp.n_sel * 1000000) // fp.m AS BIGINT) AS density_ppm,
         |  CAST(list_sum(fp.fps) % 1000000007 AS BIGINT) AS fp_sum,
         |  COALESCE(pr.n_partners, 0) AS n_partners
         |FROM fp LEFT JOIN pr ON pr.doc_id = fp.doc_id
         |ORDER BY fp.doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Winnowing fingerprint selection (Schleimer/Wilkerson/Aiken 2003 —
      // the MOSS algorithm): hash every 5-token k-gram, slide a window of
      // w=4 hashes, keep the RIGHTMOST MINIMUM per window. Guarantees: at
      // least one fingerprint in every window (no w-gram-long gap can
      // hide a match — the coverage law QueriesSpec pins), expected
      // density 2/(w+1), and selection is position-independent so shared
      // substrings select the SAME fingerprints in both documents. The
      // rightmost-min-with-ties is one integer trick both engines share:
      // minimize c(i) = (g_i + 1)·2^20 − i, which orders by hash first
      // and position descending second; the position comes back as
      // 2^20 − (min mod 2^20). Fingerprinting is pure map-side HOFs; the
      // only shuffle is the fingerprint equi-join for partner degree —
      // MOSS candidate generation, bucketed, never all-pairs.
      val fp = Dedup.withWinnowFps(T(s, dir, "documents")
          .withColumn("w", split($"text", " "))
          .filter(size($"w") >= 8))
        .select($"doc_id", $"m".as("n_grams"),
          size($"ps").cast("long").as("n_sel"),
          size($"fps").cast("long").as("n_fp"),
          expr("CAST((size(ps) * 1000000) div m AS BIGINT)").as("density_ppm"),
          expr(s"CAST(aggregate(fps, CAST(0 AS BIGINT), (a, x) -> a + x) " +
            s"% 1000000007 AS BIGINT)").as("fp_sum"),
          $"fps")
        .transform(graft.CacheScope.cached) // readout + both partner sides
      val ex = fp.select($"doc_id", explode($"fps").as("f"))
      val pr = ex.as("a").join(ex.as("b"),
          $"a.f" === $"b.f" && $"a.doc_id" =!= $"b.doc_id")
        .groupBy($"a.doc_id".as("p_id"))
        .agg(countDistinct($"b.doc_id").as("n_partners"))
      fp.join(pr, $"doc_id" === $"p_id", "left")
        .select($"doc_id", $"n_grams", $"n_sel", $"n_fp", $"density_ppm",
          $"fp_sum", coalesce($"n_partners", lit(0L)).as("n_partners"))
        .orderBy($"doc_id")
    },

    q("q443_incremental_cdc", {
      val sp = splitCaseDuck("doc_id")
      val hashWord = duckPolyHash("gx")
      s"""WITH wds AS (SELECT doc_id, $sp AS sp, string_split(text, ' ') AS w
         |  FROM documents),
         |c0 AS (SELECT doc_id, sp, w, len(w) AS n,
         |    list_transform(w, gx -> $hashWord) AS wh FROM wds),
         |hb AS (SELECT doc_id, sp, w, n,
         |    CASE WHEN n >= 8 THEN list_filter(range(8, n), gi ->
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          wh[CAST(gi-7 AS INT):CAST(gi AS INT)]),
         |          (acc, x) -> (acc * 31 + x) % $P) % 32 = 0)
         |      ELSE [] END AS bnd
         |  FROM c0),
         |se AS (SELECT doc_id, sp, w, n,
         |    list_prepend(CAST(1 AS BIGINT),
         |      list_transform(bnd, gb -> gb + 1)) AS starts,
         |    list_append(bnd, CAST(n AS BIGINT)) AS ends
         |  FROM hb),
         |ch AS (SELECT doc_id, sp,
         |    list_transform(range(1, len(starts) + 1), gk ->
         |      array_to_string(w[CAST(starts[CAST(gk AS INT)] AS INT):
         |        CAST(ends[CAST(gk AS INT)] AS INT)], ' ')) AS chunks
         |  FROM se),
         |inst AS (SELECT doc_id, sp, gk,
         |    ${duckPolyHash("chunks[CAST(gk AS INT)]")} AS h
         |  FROM (SELECT doc_id, sp, chunks,
         |      unnest(range(1, len(chunks) + 1)) AS gk FROM ch)),
         |idx AS (SELECT DISTINCT h FROM inst WHERE sp <> 'test'),
         |del AS (SELECT doc_id, h, doc_id * 1000000 + gk AS ok
         |  FROM inst WHERE sp = 'test'),
         |fo AS (SELECT h, MIN(ok) AS first_ok FROM del GROUP BY h),
         |fl AS (SELECT del.doc_id,
         |    CASE WHEN idx.h IS NOT NULL THEN 1 ELSE 0 END AS hi,
         |    CASE WHEN idx.h IS NULL AND del.ok > fo.first_ok
         |      THEN 1 ELSE 0 END AS hb
         |  FROM del LEFT JOIN idx ON idx.h = del.h
         |           JOIN fo ON fo.h = del.h)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
         |  CAST(SUM(hi) AS BIGINT) AS n_hit_index,
         |  CAST(SUM(hb) AS BIGINT) AS n_hit_batch,
         |  CAST(COUNT(*) - SUM(hi) - SUM(hb) AS BIGINT) AS n_new,
         |  CAST(((SUM(hi) + SUM(hb)) * 1000000) // COUNT(*) AS BIGINT)
         |    AS reuse_ppm
         |FROM fl GROUP BY doc_id ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Incremental CDC chunk dedup — q437's per-ingest shape, completing
      // the delta-update family (q385 minhash bands, q396 idf, q376
      // centroids): a DELTA batch (the md5 'test' slice standing in for
      // today's snapshot) is chunked map-side and checked against the
      // PERSISTED chunk-hash index of the existing store (in production a
      // table keyed by h; derived here from the non-delta slice — same
      // contract as q385's band index). The store is NEVER re-chunked per
      // ingest. Instances already in the index are served from storage
      // (hit_index); within-batch repeats use the keep-first rule on the
      // deterministic (doc_id, chunk_idx) order key (hit_batch); the rest
      // are genuinely new bytes. Because boundaries are content-defined
      // (q437's re-alignment law), an edited document still hits the
      // index on every chunk past the edit window — the whole point of
      // CDC storage. O(delta) chunking + one bucketed hash join per
      // ingest; order key assumes < 10^6 chunks/doc (comment-enforced,
      // ~32-token chunks ⇒ 32M-token docs before it binds).
      val sp = splitCaseSpark("doc_id")
      val inst = Dedup.withCdcChunks(T(s, dir, "documents")
          .withColumn("sp", expr(sp))
          .withColumn("w", split($"text", " ")))
        .select($"doc_id", $"sp", posexplode($"chunks"))
        .select($"doc_id", $"sp", $"pos",
          expr("graft_polyhash(col)").as("h"))
        .transform(graft.CacheScope.cached) // index + delta sides
      val idx = inst.filter($"sp" =!= "test").select($"h").distinct()
        .withColumn("in_idx", lit(1))
      val del = inst.filter($"sp" === "test")
        .withColumn("ok", $"doc_id" * 1000000L + $"pos" + 1)
      val fo = del.groupBy($"h").agg(min($"ok").as("first_ok"))
      del.join(idx, Seq("h"), "left")
        .join(fo, "h")
        .select($"doc_id",
          when($"in_idx".isNotNull, 1L).otherwise(0L).as("hi"),
          when($"in_idx".isNull && $"ok" > $"first_ok", 1L).otherwise(0L)
            .as("hb"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          sum($"hi").as("n_hit_index"),
          sum($"hb").as("n_hit_batch"),
          (count(lit(1)) - sum($"hi") - sum($"hb")).as("n_new"),
          expr("CAST(((SUM(hi) + SUM(hb)) * 1000000) div COUNT(1) " +
            "AS BIGINT)").as("reuse_ppm"))
        .orderBy($"doc_id")
    },
  )
}
