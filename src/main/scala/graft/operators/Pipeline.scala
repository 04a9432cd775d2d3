package graft.operators

import graft.QueryDef.q
import graft.functions.TextHash._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Training-data pipeline operators beyond the dedup/similarity families:
  * benchmark decontamination, sequence packing, repetition scoring,
  * per-source quotas, and stratified sampling. The reference delegates all
  * per-message computation to handler callbacks
  * (/root/reference/README.md:35); these make the standard corpus-curation
  * passes first-class, declarative, and oracle-checked.
  *
  * Scale posture: every per-doc feature (token counts, n-gram hashes,
  * repetition stats) is computed map-side; the only shuffles are the ones
  * the semantics force (a groupBy on the join key, a window partitioned by
  * a bounded-cardinality key). The decontamination join broadcasts the eval
  * side — eval sets are tiny next to a 100 TB corpus, so the candidate
  * probe is a broadcast hash join with no shuffle of the corpus at all.
  */
object Pipeline {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  /** q438's Luhn checksum (ISO/IEC 7812) as a Spark SQL predicate over a
    * digit-string lambda variable `t`: from the right, double every second
    * digit, subtract 9 past 9, valid iff the sum ≡ 0 mod 10. Shared with
    * QueriesSpec's known-vector law (4111111111111111 et al.) so the test
    * exercises the exact production expression.
    */
  private[graft] val luhnValidSparkSql: String = {
    val digit = "ascii(substring(t, CAST(length(t) - j + 1 AS INT), 1)) - 48"
    s"""aggregate(sequence(1, length(t)), CAST(0 AS BIGINT), (acc, j) ->
       |  acc + CASE WHEN j % 2 = 0
       |    THEN CASE WHEN 2 * ($digit) > 9
       |      THEN 2 * ($digit) - 9 ELSE 2 * ($digit) END
       |    ELSE $digit END) % 10 = 0""".stripMargin
  }

  /** `docs` with distinct hashed 3-gram shingles (same formula as the
    * dedup family, so any hash collision hits both engines identically).
    * Takes the pre-filtered frame so callers restrict BEFORE shingling —
    * hashing is the dominant map-side cost, so a side that needs 2% of the
    * corpus must not hash all of it first.
    */
  private def hashedShingles(s: SparkSession, docs: DataFrame): DataFrame = {
    import s.implicits._
    docs
      .withColumn("w", split($"text", " "))
      .filter(size($"w") >= 3)
      .withColumn("shingles", expr(shinglesSql("w")))
      .withColumn("hh", expr("array_distinct(transform(shingles, s -> graft_polyhash(s)))"))
      .select($"doc_id", $"hh")
  }

  val defs: Seq[QueryDef] = Seq(

    q("q100_decontaminate",
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |sh AS (SELECT doc_id, ${duckShingles("w")} shingles FROM words WHERE len(w) >= 3),
         |hs AS (SELECT doc_id, ${duckHashedSet("shingles")} hh FROM sh),
         |ex AS (SELECT doc_id, unnest(hh) h FROM hs),
         |hit AS (SELECT t.doc_id AS train_doc, e.doc_id AS eval_doc, COUNT(*) AS n_shared
         |        FROM (SELECT * FROM ex WHERE doc_id % 50 <> 0) t
         |        JOIN (SELECT * FROM ex WHERE doc_id % 50 = 0) e ON t.h = e.h
         |        GROUP BY 1,2)
         |SELECT train_doc, eval_doc, n_shared FROM hit
         |WHERE n_shared >= 2 ORDER BY train_doc, eval_doc""") { (s, dir) =>
      import s.implicits._
      // Benchmark decontamination: flag training docs sharing >= 2 distinct
      // n-gram hashes with any doc in the eval set (here: doc_id % 50 = 0
      // as the stand-in benchmark). The eval side is BROADCAST: at corpus
      // scale the train side never shuffles — each task probes a small
      // hash-set of eval n-grams, the same reason this pass is tractable
      // over 100 TB when an eval suite is a few hundred MB.
      // one shingling pass over the corpus, cached, split into the two
      // sides by the eval predicate (hashing is the dominant map-side cost;
      // two uncached branches would pay it twice)
      val ex = hashedShingles(s, T(s, dir, "documents"))
        .select($"doc_id", explode($"hh").as("h"))
        .transform(graft.CacheScope.cached)
      val train = ex.filter($"doc_id" % 50 =!= 0)
      val eval_ = ex.filter($"doc_id" % 50 === 0)
      train.as("t").join(broadcast(eval_.as("e")), $"t.h" === $"e.h")
        .groupBy($"t.doc_id".as("train_doc"), $"e.doc_id".as("eval_doc"))
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= 2)
        .orderBy($"train_doc", $"eval_doc")
    },

    q("q101_token_packing",
      """WITH t AS (SELECT doc_id, lang,
        |  CAST(len(string_split(text,' ')) AS BIGINT) n_tokens FROM documents),
        |c AS (SELECT lang, n_tokens,
        |    SUM(n_tokens) OVER (PARTITION BY lang ORDER BY doc_id
        |                        ROWS UNBOUNDED PRECEDING) - n_tokens AS cum_before
        |  FROM t)
        |SELECT lang, CAST(cum_before // 2048 AS BIGINT) AS bin,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs, CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
        |FROM c GROUP BY lang, bin ORDER BY lang, bin""") { (s, dir) =>
      import s.implicits._
      // Sequence packing for a fixed context window: docs are assigned to
      // bins by cumulative token count in a deterministic order (doc_id)
      // within each lang partition — the single-pass approximation of
      // first-fit packing used when shaping pretraining batches. All
      // integer arithmetic. A lang partition is itself corpus-sized at
      // scale (half the corpus can be one language), so the per-lang
      // cumsum runs through the shared TWO-PHASE helper: per-(lang,
      // block) sums, a prefix sum over the bounded block table, then a
      // broadcast join back and a window partitioned by (lang, block) —
      // no window partition ever exceeds TwoPhaseCumsum.Block rows.
      graft.TwoPhaseCumsum.cumBefore(
          T(s, dir, "documents")
            .select($"doc_id", $"lang",
              size(split($"text", " ")).cast("long").as("n_tokens")),
          Seq("lang"), "doc_id", "n_tokens")
        .groupBy($"lang", expr("cum_before DIV 2048").as("bin"))
        .agg(count(lit(1)).as("n_docs"), sum($"n_tokens").as("sum_tokens"))
        .orderBy($"lang", $"bin")
    },

    q("q102_repetition_score",
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |g AS (SELECT doc_id, CAST(len(w)-2 AS BIGINT) AS total,
         |    CAST(len(${duckShingles("w")}) AS BIGINT) AS uniq
         |  FROM words WHERE len(w) >= 3)
         |SELECT doc_id, total, uniq,
         |  1 - CAST(uniq AS DOUBLE)/total AS dup_ratio,
         |  (uniq * 50 < total * 49) AS repetitive
         |FROM g ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // Intra-document repetition (Gopher-style quality rule): the fraction
      // of word 3-grams that are duplicates. Map-side only — no shuffle but
      // the final sort. The flag threshold (dup_ratio > 0.02) is stated in
      // exact integer arithmetic so the boolean can't flap on a float edge.
      T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 3)
        .select($"doc_id",
          (size($"w") - 2).cast("long").as("total"),
          size(expr(shinglesSql("w"))).cast("long").as("uniq"))
        .withColumn("dup_ratio", lit(1) - $"uniq".cast("double") / $"total")
        .withColumn("repetitive", $"uniq" * 50 < $"total" * 49)
        .orderBy($"doc_id")
    },

    q("q103_source_quota",
      """WITH r AS (SELECT doc_id, source,
        |  CAST(row_number() OVER (PARTITION BY source ORDER BY doc_id) AS BIGINT) rn
        |  FROM documents)
        |SELECT doc_id, source, rn, rn <= 30 AS kept FROM r ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // Per-source quota capping (domain rebalancing): keep the first N docs
      // per source in a deterministic order. One shuffle on source; at scale
      // a skewed source is bounded by the quota itself after a per-partition
      // pre-rank would cap the spill — the declarative form lets AQE handle
      // the skew here.
      T(s, dir, "documents")
        .select($"doc_id", $"source",
          row_number().over(Window.partitionBy($"source").orderBy($"doc_id"))
            .cast("long").as("rn"))
        .withColumn("kept", $"rn" <= 30)
        .orderBy($"doc_id")
    },

    q("q108_winsorize",
      s"""WITH q AS (SELECT ${graft.ColFns.r6Sql("quantile_cont(value, 0.05)")} lo,
         |            ${graft.ColFns.r6Sql("quantile_cont(value, 0.95)")} hi FROM events)
         |SELECT event_id,
         |  ${graft.ColFns.r6Sql("CASE WHEN value < lo THEN lo WHEN value > hi THEN hi ELSE value END")} AS clipped,
         |  (value < lo OR value > hi) AS was_clipped
         |FROM events, q ORDER BY event_id""") { (s, dir) =>
      import graft.ColFns.r6
      import s.implicits._
      // Outlier clipping to the exact [p5, p95] band — the standard
      // feature-cleaning pass before normalization. The two-row bounds
      // frame is broadcast; the clip itself is map-side over the fan-out
      // (at 100 TB: one small exact-or-sketched percentile job, then a
      // pure map). Bounds are rounded half-up BEFORE comparing so both
      // engines clip against bit-identical thresholds.
      val bounds = T(s, dir, "events")
        .agg(r6(expr("percentile(value, 0.05)")).as("lo"),
          r6(expr("percentile(value, 0.95)")).as("hi"))
      T(s, dir, "events")
        .crossJoin(broadcast(bounds))
        .select($"event_id",
          r6(when($"value" < $"lo", $"lo")
            .when($"value" > $"hi", $"hi")
            .otherwise($"value")).as("clipped"),
          ($"value" < $"lo" || $"value" > $"hi").as("was_clipped"))
        .orderBy($"event_id")
    },

    q("q109_zscore_normalize",
      s"""WITH s AS (SELECT event_type,
         |    ${graft.ColFns.r6Sql(graft.ColFns.davgSql("value"))} mu,
         |    ${graft.ColFns.r6Sql(
               s"SQRT((${graft.ColFns.dsumSql("value * value")} * COUNT(*) - " +
               s"${graft.ColFns.dsumSql("value")} * ${graft.ColFns.dsumSql("value")}) " +
               "/ (COUNT(*) * (COUNT(*) - 1)))")} sd
         |  FROM events GROUP BY event_type)
         |SELECT event_id, e.event_type, ${graft.ColFns.r6Sql("(value - mu) / sd")} AS z
         |FROM events e JOIN s ON e.event_type = s.event_type
         |ORDER BY event_id""") { (s, dir) =>
      import graft.ColFns.{davg, dsum, r6}
      import s.implicits._
      // Per-group standardization: tiny per-type stats frame broadcast back
      // over the events — one aggregation plus a map-side join, no second
      // shuffle of the fact table. Mean and stddev come from decimal-exact
      // sums (q11's discipline: the builtin's streaming variance is
      // order-dependent) and are rounded half-up before use, so the
      // normalization is bit-identical across engines and runs.
      val stats = T(s, dir, "events")
        .groupBy($"event_type")
        .agg(r6(davg($"value")).as("mu"),
          r6(sqrt((dsum($"value" * $"value") * count(lit(1)) -
            dsum($"value") * dsum($"value")) /
            (count(lit(1)) * (count(lit(1)) - 1)))).as("sd"))
      T(s, dir, "events").as("e")
        .join(broadcast(stats).as("st"), "event_type")
        .select($"event_id", $"event_type", r6(($"value" - $"mu") / $"sd").as("z"))
        .orderBy($"event_id")
    },

    q("q114_bloom_semijoin",
      s"""SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
         |  ${graft.ColFns.dsumSql("l_quantity")} AS qty
         |FROM lineitem
         |WHERE l_orderkey IN (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000)
         |GROUP BY l_orderkey ORDER BY l_orderkey""") { (s, dir) =>
      // Bloom-prefiltered semi-join: build a bloom filter over the selected
      // order keys (graft_bloom_agg = Spark's own runtime-filter aggregate,
      // surfaced), probe it MAP-SIDE on lineitem before the shuffle, then
      // finish with the exact semi-join that removes bloom false positives.
      // At 100 TB the probe prunes the fact scan down to ~selectivity
      // before any exchange; the result is oracle-exact because the bloom
      // has no false negatives and the final IN is exact.
      Tables.registerAll(s, dir)
      s.sql(
        s"""WITH keys AS (SELECT o_orderkey FROM orders WHERE o_totalprice > 300000),
           |b AS (SELECT graft_bloom_agg(xxhash64(o_orderkey), 100000L, 800000L) bf FROM keys)
           |SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS n_items,
           |  ${graft.ColFns.dsumSql("l_quantity")} AS qty
           |FROM lineitem
           |WHERE graft_might_contain((SELECT bf FROM b), xxhash64(l_orderkey))
           |  AND l_orderkey IN (SELECT o_orderkey FROM keys)
           |GROUP BY l_orderkey ORDER BY l_orderkey""".stripMargin)
    },

    q("q112_funnel",
      """WITH m AS (SELECT user_id,
        |  MIN(CASE WHEN event_type='click' THEN ts END) c,
        |  MIN(CASE WHEN event_type='view' THEN ts END) v,
        |  MIN(CASE WHEN event_type='purchase' THEN ts END) p
        |FROM events GROUP BY user_id)
        |SELECT CAST(COUNT(*) AS BIGINT) AS n_users,
        |  CAST(COUNT(c) AS BIGINT) AS n_click,
        |  CAST(COUNT(CASE WHEN v >= c THEN 1 END) AS BIGINT) AS n_click_view,
        |  CAST(COUNT(CASE WHEN p >= v AND v >= c THEN 1 END) AS BIGINT) AS n_full
        |FROM m""") { (s, dir) =>
      import s.implicits._
      // Ordered conversion funnel (click -> view -> purchase by first
      // occurrence): one per-user aggregation then a global rollup — two
      // shuffles total, the second over one row per user. Null-propagating
      // comparisons implement "reached stage k" without a self-join.
      T(s, dir, "events")
        .groupBy($"user_id")
        .agg(min(when($"event_type" === "click", $"ts")).as("c"),
          min(when($"event_type" === "view", $"ts")).as("v"),
          min(when($"event_type" === "purchase", $"ts")).as("p"))
        .agg(count(lit(1)).as("n_users"),
          count($"c").as("n_click"),
          count(when($"v" >= $"c", 1)).as("n_click_view"),
          count(when($"p" >= $"v" && $"v" >= $"c", 1)).as("n_full"))
    },

    q("q113_retention",
      """WITH f AS (SELECT user_id,
        |    CAST(date_trunc('week', MIN(CAST(ts AS TIMESTAMP))) AS TIMESTAMP) w0
        |  FROM events GROUP BY user_id),
        |a AS (SELECT DISTINCT e.user_id,
        |    CAST(date_trunc('week', CAST(e.ts AS TIMESTAMP)) AS TIMESTAMP) w FROM events e)
        |SELECT strftime(f.w0, '%Y-%m-%d') AS cohort,
        |  CAST(date_diff('day', f.w0, a.w) // 7 AS BIGINT) AS week_offset,
        |  CAST(COUNT(*) AS BIGINT) AS n_active
        |FROM f JOIN a ON f.user_id = a.user_id
        |GROUP BY 1, 2 ORDER BY 1, 2""") { (s, dir) =>
      import s.implicits._
      // Weekly retention cohorts: cohort = ISO week of first activity,
      // offset = weeks since. The week-truncated projection is shared by
      // the first-activity and distinct-activity branches — cached so the
      // events scan and truncation run once (q100's pattern); the final
      // rollup groups a (cohorts x weeks)-sized frame, tiny at any scale.
      val ev = T(s, dir, "events")
        .select($"user_id", date_trunc("week", $"ts").as("w"))
        .transform(graft.CacheScope.cached)
      val f = ev.groupBy($"user_id").agg(min($"w").as("w0"))
      val a = ev.distinct()
      f.join(a, "user_id")
        .groupBy(date_format($"w0", "yyyy-MM-dd").as("cohort"),
          expr("CAST(datediff(w, w0) DIV 7 AS BIGINT)").as("week_offset"))
        .agg(count(lit(1)).as("n_active"))
        .orderBy($"cohort", $"week_offset")
    },

    q("q110_redact_patterns",
      """SELECT event_id,
        |  regexp_replace(props, '[0-9]+', '<NUM>', 'g') AS redacted,
        |  CAST(len(regexp_extract_all(props, '[0-9]+')) AS INT) AS n_redacted
        |FROM events ORDER BY event_id""") { (s, dir) =>
      import s.implicits._
      // Pattern redaction (the PII-scrub shape: phone/SSN/email regexes in
      // production, a digit-run stand-in on the fixture): replace-all plus
      // a per-row redaction count. Pure map-side — regexp_replace and the
      // count run inside whole-stage codegen with no shuffle but the output
      // sort. Spark's regexp_replace replaces all matches by default; the
      // DuckDB oracle needs the explicit 'g' flag for the same semantics.
      T(s, dir, "events")
        .select($"event_id",
          regexp_replace($"props", "[0-9]+", "<NUM>").as("redacted"),
          size(regexp_extract_all($"props", lit("[0-9]+"), lit(0))).as("n_redacted"))
        .orderBy($"event_id")
    },

    q("q116_paragraph_dedup",
      """WITH t AS (SELECT doc_id, string_split(text,' ') w FROM documents),
        |c AS (SELECT doc_id, list_transform(range(((len(w)-1)//20)+1),
        |        i -> array_to_string(w[CAST(i*20+1 AS INT):CAST(i*20+20 AS INT)], ' ')) chunks
        |      FROM t),
        |e AS (SELECT doc_id, CAST(generate_subscripts(chunks,1)-1 AS BIGINT) idx,
        |        unnest(chunks) chunk FROM c),
        |k AS (SELECT doc_id, idx, chunk,
        |        row_number() OVER (PARTITION BY md5(chunk) ORDER BY doc_id, idx) = 1 AS kept
        |      FROM e)
        |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_chunks,
        |  CAST(COUNT(CASE WHEN kept THEN 1 END) AS BIGINT) AS n_kept,
        |  COALESCE(string_agg(CASE WHEN kept THEN chunk END, ' ' ORDER BY idx), '') AS kept_text
        |FROM k GROUP BY doc_id ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // Paragraph-level dedup (the CCNet/RefinedWeb line-dedup shape; the
      // fixture has no newlines, so the unit is a fixed 20-word chunk):
      // across the whole corpus each chunk survives only at its first
      // occurrence under the (doc_id, idx) order, and every doc is
      // reassembled from its surviving chunks. Chunking is map-side; the
      // first-occurrence window partitions by the chunk's md5 so the
      // partitioner hashes a fixed-width key (the shuffled rows still
      // carry the chunk text — this plan moves the corpus twice: once for
      // the verdict, once for reassembly). At much larger corpora, shuffle
      // only (md5, doc_id, idx) for the verdict and join kept flags back
      // to in-place rows, trading the byte movement for one extra join.
      val chunks = T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .withColumn("chunks", expr(
          "transform(sequence(0, (size(w)-1) DIV 20), i -> concat_ws(' ', slice(w, i*20+1, 20)))"))
        .select($"doc_id", posexplode($"chunks"))
        .select($"doc_id", $"pos".cast("long").as("idx"), $"col".as("chunk"))
      chunks
        .withColumn("kept", row_number().over(
          Window.partitionBy(md5($"chunk")).orderBy($"doc_id", $"idx")) === 1)
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_chunks"),
          count(when($"kept", 1)).as("n_kept"),
          concat_ws(" ", expr(
            "transform(array_sort(collect_list(CASE WHEN kept THEN struct(idx, chunk) END)), x -> x.chunk)"))
            .as("kept_text"))
        .orderBy($"doc_id")
    },

    q("q118_decontaminate_13gram",
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |g AS (SELECT doc_id, ${duckHashedSet(duckNGrams("w", 13))} hh
         |      FROM words WHERE len(w) >= 13),
         |ex AS (SELECT doc_id, unnest(hh) h FROM g),
         |ev AS (SELECT doc_id, h FROM ex WHERE doc_id % 50 = 0),
         |df AS (SELECT ex.h, CAST(COUNT(*) AS BIGINT) df FROM ex
         |       JOIN (SELECT DISTINCT h FROM ev) e ON ex.h = e.h GROUP BY ex.h),
         |probe AS (SELECT ev.doc_id eval_doc, ev.h FROM ev
         |          JOIN df ON ev.h = df.h WHERE df.df <= 10)
         |SELECT t.doc_id AS train_doc, p.eval_doc, CAST(COUNT(*) AS BIGINT) AS n_shared
         |FROM (SELECT * FROM ex WHERE doc_id % 50 <> 0) t
         |JOIN probe p ON t.h = p.h
         |GROUP BY 1, 2 ORDER BY train_doc, eval_doc""") { (s, dir) =>
      import s.implicits._
      // Benchmark decontamination at the standard 13-gram width with
      // df-capping: a training doc is contaminated if it shares any RARE
      // 13-gram with an eval doc, where "rare" = corpus document frequency
      // <= 10 (ubiquitous boilerplate n-grams must not flag everything).
      // The df pass only counts n-grams that occur in the eval set — the
      // eval hash set is broadcast into the corpus scan, so the corpus is
      // never shuffled: df-of-eval-ngrams is a tiny aggregate, the capped
      // probe is broadcast back, and the contamination join is map-side.
      // Result is identical to capping on full-corpus df because the cap
      // only ever applies to n-grams the probe contains.
      val ex = T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 13)
        .withColumn("hh", expr(
          s"array_distinct(transform(${nGramsSql("w", 13)}, s -> graft_polyhash(s)))"))
        .select($"doc_id", explode($"hh").as("h"))
        .transform(graft.CacheScope.cached)
      val ev = ex.filter($"doc_id" % 50 === 0)
      val df = ex.as("x")
        .join(broadcast(ev.select($"h").distinct().as("e")), $"x.h" === $"e.h")
        .groupBy($"x.h".as("h")).agg(count(lit(1)).as("df"))
      val probe = ev.select($"doc_id".as("eval_doc"), $"h")
        .join(broadcast(df.filter($"df" <= 10)), "h")
      ex.filter($"doc_id" % 50 =!= 0).as("t")
        .join(broadcast(probe), "h")
        .groupBy($"t.doc_id".as("train_doc"), $"eval_doc")
        .agg(count(lit(1)).as("n_shared"))
        .orderBy($"train_doc", $"eval_doc")
    },

    q("q408_clean_eval_gap",
      // Contamination-sensitive eval readout (GPT-3 appendix C's
      // clean-vs-dirty protocol): split the eval metric by whether each
      // held-out doc shares a rare 13-gram with any training doc, and
      // report the per-source gap — a large clean/dirty divergence means
      // the headline number is memorization credit, not capability. The
      // held-out set keys on md5(doc_id) (never id parity), contamination
      // is q118's machinery (df <= 10 cap over eval n-grams only, probe
      // BROADCAST into the train scan so the corpus never shuffles), and
      // the metric is the exact integer type-token ppm. Docs under 13
      // words cannot carry a 13-gram and are excluded from the protocol
      // (stated, not silent). Means are floor-divided sums; empty cells
      // read 0 with their n columns beside them. 100 TB-safe.
      s"""WITH d AS (SELECT doc_id, source, string_split(text,' ') w,
         |    ${splitCaseDuck("doc_id")} sp FROM documents),
         |g AS (SELECT doc_id, sp, ${duckHashedSet(duckNGrams("w", 13))} hh
         |      FROM d WHERE len(w) >= 13),
         |ex AS (SELECT doc_id, sp, unnest(hh) h FROM g),
         |ev AS (SELECT doc_id, h FROM ex WHERE sp = 'test'),
         |df AS (SELECT ex.h, CAST(COUNT(*) AS BIGINT) df FROM ex
         |       JOIN (SELECT DISTINCT h FROM ev) e ON ex.h = e.h GROUP BY ex.h),
         |probe AS (SELECT ev.doc_id, ev.h FROM ev
         |          JOIN df ON ev.h = df.h WHERE df.df <= 10),
         |dirty AS (SELECT DISTINCT p.doc_id FROM probe p
         |          JOIN (SELECT h FROM ex WHERE sp <> 'test') t ON t.h = p.h),
         |sc AS (SELECT doc_id, source,
         |    (len(list_distinct(w)) * 1000000) // len(w) AS ttr_ppm
         |  FROM d WHERE sp = 'test' AND len(w) >= 13),
         |lab AS (SELECT sc.source, sc.ttr_ppm,
         |    CASE WHEN dirty.doc_id IS NULL THEN 0 ELSE 1 END AS dirty
         |  FROM sc LEFT JOIN dirty ON dirty.doc_id = sc.doc_id)
         |SELECT source,
         |  CAST(SUM(1 - dirty) AS BIGINT) AS n_clean,
         |  CAST(SUM(dirty) AS BIGINT) AS n_dirty,
         |  CAST(CASE WHEN SUM(1 - dirty) = 0 THEN 0 ELSE
         |    SUM(CASE WHEN dirty = 0 THEN ttr_ppm ELSE 0 END) // SUM(1 - dirty)
         |    END AS BIGINT) AS clean_mean_ppm,
         |  CAST(CASE WHEN SUM(dirty) = 0 THEN 0 ELSE
         |    SUM(CASE WHEN dirty = 1 THEN ttr_ppm ELSE 0 END) // SUM(dirty)
         |    END AS BIGINT) AS dirty_mean_ppm,
         |  CAST(CASE WHEN SUM(dirty) = 0 OR SUM(1 - dirty) = 0 THEN 0 ELSE
         |    SUM(CASE WHEN dirty = 1 THEN ttr_ppm ELSE 0 END) // SUM(dirty)
         |    - SUM(CASE WHEN dirty = 0 THEN ttr_ppm ELSE 0 END) // SUM(1 - dirty)
         |    END AS BIGINT) AS gap_ppm
         |FROM lab GROUP BY source ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val d = T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .selectExpr("doc_id", "source", "w",
          s"${splitCaseSpark("doc_id")} AS sp")
        .filter(size($"w") >= 13)
        .transform(graft.CacheScope.cached) // n-gram pass + scoring pass
      val ex = d
        .withColumn("hh", expr(
          s"array_distinct(transform(${nGramsSql("w", 13)}, s -> graft_polyhash(s)))"))
        .select($"doc_id", $"sp", explode($"hh").as("h"))
        .transform(graft.CacheScope.cached)
      val ev = ex.filter($"sp" === "test").select($"doc_id", $"h")
      val df = ex.as("x")
        .join(broadcast(ev.select($"h").distinct().as("e")), $"x.h" === $"e.h")
        .groupBy($"x.h".as("h")).agg(count(lit(1)).as("df"))
      val probe = ev.join(broadcast(df.filter($"df" <= 10)), "h")
        .select($"doc_id", $"h")
      val dirty = ex.filter($"sp" =!= "test").select($"h").as("t")
        .join(broadcast(probe.as("p")), $"t.h" === $"p.h")
        .select($"p.doc_id").distinct()
        .withColumn("is_dirty", lit(1L))
      d.filter($"sp" === "test")
        .select($"doc_id", $"source",
          expr("(size(array_distinct(w)) * 1000000) div size(w)").as("ttr_ppm"))
        .join(broadcast(dirty), Seq("doc_id"), "left")
        .withColumn("dirty", coalesce($"is_dirty", lit(0L)))
        .groupBy($"source")
        .agg(
          expr("CAST(SUM(1 - dirty) AS BIGINT)").as("n_clean"),
          expr("CAST(SUM(dirty) AS BIGINT)").as("n_dirty"),
          expr("""CAST(CASE WHEN SUM(1 - dirty) = 0 THEN 0 ELSE
            SUM(CASE WHEN dirty = 0 THEN ttr_ppm ELSE 0 END) div SUM(1 - dirty)
            END AS BIGINT)""").as("clean_mean_ppm"),
          expr("""CAST(CASE WHEN SUM(dirty) = 0 THEN 0 ELSE
            SUM(CASE WHEN dirty = 1 THEN ttr_ppm ELSE 0 END) div SUM(dirty)
            END AS BIGINT)""").as("dirty_mean_ppm"))
        .select($"source", $"n_clean", $"n_dirty", $"clean_mean_ppm",
          $"dirty_mean_ppm",
          // gap only when both cells are populated: an empty cell's 0 mean
          // must not masquerade as a huge divergence
          expr("CASE WHEN n_dirty = 0 OR n_clean = 0 THEN CAST(0 AS BIGINT) " +
            "ELSE dirty_mean_ppm - clean_mean_ppm END").as("gap_ppm"))
        .orderBy($"source")
    },

    q("q123_leakage_safe_split",
      // Train/val/test assignment that cannot leak duplicates across
      // splits: the split is keyed on the duplicate group's canonical
      // doc_id (min per exact text hash), not the doc itself, so every
      // copy of a text lands in the same split by construction. The
      // deterministic md5-prefix trick (q104) turns the canonical id into
      // ~80/10/10 rates with no RNG; one window shuffle on the text hash,
      // then pure map-side assignment.
      s"""WITH g AS (SELECT doc_id,
         |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical
         |  FROM documents)
        |SELECT doc_id, canonical, ${splitCaseDuck("canonical")} AS split
        |FROM g ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents")
        .select($"doc_id",
          min($"doc_id").over(Window.partitionBy(md5($"text"))).as("canonical"))
        .selectExpr("doc_id", "canonical",
          s"${splitCaseSpark("canonical")} AS split")
        .orderBy($"doc_id")
    },

    q("q129_quality_filter",
      // The composite keep/drop verdict (C4/Gopher-style rule stack) over
      // the per-doc quality signals, with a reasons BITMASK so a pipeline
      // can report why each doc fell out: bit0 too short (<20 words),
      // bit1 repetitive (dup 3-gram ratio > 2%, q102's rule), bit2 low
      // stopword ratio (<5%), bit3 low type-token ratio (<=30%). Every
      // gate is exact integer cross-multiplication — no float threshold
      // can flap between engines. Pure map-side; the only shuffle is the
      // output sort.
      s"""WITH t AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |m AS (SELECT doc_id, ${qualityMetricsDuck("w").mkString(", ")} FROM t)
        |SELECT doc_id,
        |  CAST(CASE WHEN $GateTooShort THEN 1 ELSE 0 END
        |     + CASE WHEN $GateRepetitive THEN 2 ELSE 0 END
        |     + CASE WHEN $GateLowStopword THEN 4 ELSE 0 END
        |     + CASE WHEN $GateLowTtr THEN 8 ELSE 0 END AS BIGINT) AS reasons,
        |  ($QualityKeep) AS keep
        |FROM m ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      val m = T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .selectExpr("doc_id" +: qualityMetricsSpark("w"): _*)
      m.selectExpr("doc_id",
          s"CAST(IF($GateTooShort, 1, 0) + IF($GateRepetitive, 2, 0)" +
            s" + IF($GateLowStopword, 4, 0) + IF($GateLowTtr, 8, 0) AS BIGINT) AS reasons",
          s"($QualityKeep) AS keep")
        .orderBy($"doc_id")
    },

    q("q130_corpus_stats",
      // The dataset-card rollup: per language, doc count, exact token sum,
      // mean tokens (one IEEE division over exact integer sums), exact
      // interpolated median (q68's discipline), and corpus share rounded
      // half-up — the numbers every corpus release publishes. One small
      // aggregation; the one-row total is broadcast back.
      """WITH t AS (SELECT lang, CAST(len(string_split(text,' ')) AS BIGINT) n FROM documents),
        |tot AS (SELECT CAST(SUM(n) AS DOUBLE) total FROM t),
        |g AS (SELECT lang, CAST(COUNT(*) AS BIGINT) n_docs, CAST(SUM(n) AS BIGINT) sum_tokens,
        |    CAST(FLOOR(quantile_cont(n, 0.5) * 1000000 + 0.5) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS p50_tokens
        |  FROM t GROUP BY lang)
        |SELECT lang, n_docs, sum_tokens,
        |  CAST(FLOOR(CAST(sum_tokens AS DOUBLE) / n_docs * 1000000 + 0.5) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS mean_tokens,
        |  p50_tokens,
        |  CAST(FLOOR(CAST(sum_tokens AS DOUBLE) / total * 1000000 + 0.5) AS DOUBLE) / CAST(1000000 AS DOUBLE) AS share
        |FROM g, tot ORDER BY lang""") { (s, dir) =>
      import s.implicits._
      val t = T(s, dir, "documents")
        .select($"lang", size(split($"text", " ")).cast("long").as("n"))
        .transform(graft.CacheScope.cached)
      val tot = t.agg(sum($"n").cast("double").as("total"))
      val g = t.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n").as("sum_tokens"),
          (floor(expr("percentile(n, 0.5)") * 1000000 + 0.5).cast("double") / 1000000.0)
            .as("p50_tokens"))
      g.crossJoin(broadcast(tot))
        .select($"lang", $"n_docs", $"sum_tokens",
          (floor($"sum_tokens".cast("double") / $"n_docs" * 1000000 + 0.5)
            .cast("double") / 1000000.0).as("mean_tokens"),
          $"p50_tokens",
          (floor($"sum_tokens".cast("double") / $"total" * 1000000 + 0.5)
            .cast("double") / 1000000.0).as("share"))
        .orderBy($"lang")
    },

    q("q133_curation_pipeline",
      // The curation stages composed END-TO-END in one plan — what a real
      // corpus release runs as a single job: exact first-occurrence dedup
      // (q40/q123's canonical-id window), q129's integer-exact quality
      // gate stack, q123's leakage-safe md5-prefix split assignment, then
      // the per-(split, lang) dataset card. At 100 TB the cost profile is
      // one wide shuffle keyed on the text hash (the dedup window); the
      // gates and the split assignment are pure map-side over its output,
      // and the rollup is a partial-aggregated shuffle over ~15 groups.
      s"""WITH g AS (SELECT doc_id, lang, text,
         |    MIN(doc_id) OVER (PARTITION BY md5(text)) AS canonical
         |  FROM documents),
         |t AS (SELECT doc_id, lang, string_split(text,' ') w
         |  FROM g WHERE doc_id = canonical),
         |m AS (SELECT doc_id, lang, ${qualityMetricsDuck("w").mkString(", ")} FROM t),
         |k AS (SELECT doc_id, lang, n_words FROM m WHERE $QualityKeep),
         |s AS (SELECT lang, n_words, ${splitCaseDuck("doc_id")} AS split FROM k)
        |SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS sum_tokens
        |FROM s GROUP BY split, lang ORDER BY split, lang""") { (s, dir) =>
      import s.implicits._
      // metrics BEFORE the dedup window: the shuffle then carries the text
      // hash plus five longs per doc instead of the full text column (the
      // dominant bytes at corpus scale); dupes cost a little redundant
      // map-side compute, which beats shipping every document body through
      // the exchange
      val m = T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .selectExpr(Seq("doc_id", "lang", "md5(text) AS h")
          ++ qualityMetricsSpark("w"): _*)
        .select($"doc_id", $"lang", $"n_words", $"n_distinct", $"n_stop",
          $"uniq3", $"total3",
          min($"doc_id").over(Window.partitionBy($"h")).as("canonical"))
        .filter($"doc_id" === $"canonical")
      m.filter(expr(QualityKeep))
        .selectExpr(s"${splitCaseSpark("doc_id")} AS split", "lang", "n_words")
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("sum_tokens"))
        .orderBy($"split", $"lang")
    },

    q("q157_streaming_curation",
      // The curation pipeline RUNNING CONTINUOUSLY through the engine —
      // q133's batch release job restated as one streaming query over the
      // log: documents stream in (typed via q158's valueSchema read),
      // duplicates are dropped in bounded state
      // (dropDuplicatesWithinWatermark keyed on (lang, text-hash) — state
      // lives only for the watermark horizon, the 100 TB requirement), the
      // integer-exact quality gates run map-side on the survivors, the
      // leakage-safe split keys on the DEDUP KEY itself (every duplicate of
      // a text shares its hash, so whichever copy survives, its split is
      // identical — no leakage across train/val/test by construction), and
      // the per-(split, lang) dataset card aggregates in complete mode.
      // The oracle is the batch twin stated over the same documents: one
      // row per distinct (lang, text), same gates, same split function.
      // Event time = produce time (ids' ms prefixes are doc_id-derived),
      // arrival is id-ordered, so the late-drop guard stays on and proves
      // nothing was silently dropped at the watermark.
      s"""WITH d AS (SELECT lang, text FROM documents GROUP BY lang, text),
         |t AS (SELECT lang, md5(text) AS h, string_split(text,' ') w FROM d),
         |m AS (SELECT lang, h, ${qualityMetricsDuck("w").mkString(", ")} FROM t),
         |k AS (SELECT lang, h, n_words FROM m WHERE $QualityKeep),
         |s AS (SELECT lang, n_words, ${splitCaseDuck("h")} AS split FROM k)
        |SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(n_words) AS BIGINT) AS sum_tokens
        |FROM s GROUP BY split, lang ORDER BY split, lang""") { (s, dir) =>
      import s.implicits._
      val root = graft.LogFixtures.producedLog(dir, "q157") { r =>
        graft.log.LogBulkProducer.produceAt(
          T(s, dir, "documents")
            .select((lit(1700000000000L) + $"doc_id").as("ms"),
              $"doc_id", $"lang", $"text"),
          "ms", r, "docs", orderCols = Seq("doc_id"))
      }
      graft.streaming.StreamHarness.runToMemory(s, "q157", mode = "complete") {
        val src = s.readStream.format("graftlog")
          .option("path", root).option("stream", "docs")
          .option("valueSchema", "doc_id BIGINT, lang STRING, text STRING")
          .option("startingOffsets", "earliest")
          // 2 batches at bench scale: dedup state must survive a batch
          // boundary, not just a single drain
          .option("maxEntriesPerTrigger", "3000")
          .load()
          .select($"ts", $"lang", md5($"text".cast("binary")).as("h"), $"text")
        graft.streaming.StreamingOps
          .dedupWithinWatermark(src, "ts", "30 days", "lang", "h")
          .withColumn("w", split($"text", " "))
          .selectExpr(Seq("lang", "h") ++ qualityMetricsSpark("w"): _*)
          .filter(expr(QualityKeep))
          .selectExpr(s"${splitCaseSpark("h")} AS split", "lang", "n_words")
          .groupBy($"split", $"lang")
          .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("sum_tokens"))
      }.orderBy($"split", $"lang")
    },

    q("q162_chunk_overlap",
      // Overlapping-window chunking — the RAG / long-context prep step:
      // each document becomes ceil-spaced word windows of 64 with stride 48
      // (16-word overlap keeps boundary context in both neighbors), each
      // chunk carrying its md5 fingerprint (the key chunk-level dedup and
      // provenance tracking join on; q116's fixed-chunk dedup is the
      // non-overlapping cousin). Pure map-side + one explode — no shuffle
      // at all until a downstream consumer groups by fingerprint; the
      // chunk count per doc is closed-form integer arithmetic, so both
      // engines enumerate identical windows.
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS ws FROM documents),
        |n AS (SELECT doc_id, ws,
        |    1 + (GREATEST(CAST(len(ws) AS BIGINT) - 64, 0) + 47) // 48 AS n_chunks
        |  FROM w),
        |c AS (SELECT doc_id, ws, unnest(range(n_chunks)) AS chunk_idx FROM n)
        |SELECT doc_id, CAST(chunk_idx AS BIGINT) AS chunk_idx,
        |  CAST(len(ws[CAST(chunk_idx*48+1 AS INT):CAST(chunk_idx*48+64 AS INT)]) AS BIGINT) AS n_words_chunk,
        |  md5(array_to_string(ws[CAST(chunk_idx*48+1 AS INT):CAST(chunk_idx*48+64 AS INT)], ' ')) AS fp
        |FROM c ORDER BY doc_id, chunk_idx""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("ws"))
        .withColumn("n_chunks",
          lit(1L) + expr("(GREATEST(CAST(size(ws) AS BIGINT) - 64, 0) + 47) DIV 48"))
        .select($"doc_id", $"ws",
          explode(expr("sequence(CAST(0 AS BIGINT), n_chunks - 1)")).as("chunk_idx"))
        .withColumn("chunk", expr("slice(ws, CAST(chunk_idx*48 + 1 AS INT), 64)"))
        .select($"doc_id", $"chunk_idx",
          size($"chunk").cast("long").as("n_words_chunk"),
          md5(array_join($"chunk", " ").cast("binary")).as("fp"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    q("q104_stratified_sample",
      """SELECT doc_id, lang, substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) AS bucket
        |FROM documents
        |WHERE substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) <
        |  CASE WHEN lang IN ('en','es') THEN '20'
        |       WHEN lang IN ('zh','fr') THEN '80' ELSE 'c0' END
        |ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // Stratified deterministic sampling: per-language keep rates applied
      // via the md5-prefix trick (q87's hash sample, stratified) — fixed-
      // width lowercase hex compares numerically, so rate '20'/256 = 12.5%
      // for over-represented languages, '80' = 50%, 'c0' = 75%. Fully
      // map-side (filter only), reproducible across engines and runs —
      // how a 100 TB corpus gets its language mix rebalanced without a
      // shuffle or an RNG.
      val bucket = substring(md5($"doc_id".cast("string").cast("binary")), 1, 2)
      T(s, dir, "documents")
        .withColumn("bucket", bucket)
        .filter($"bucket" <
          when($"lang".isin("en", "es"), "20")
            .when($"lang".isin("zh", "fr"), "80")
            .otherwise("c0"))
        .select($"doc_id", $"lang", $"bucket")
        .orderBy($"doc_id")
    },

    q("q135_gopher_topngram", {
      def duckGrams(n: Int): String = {
        val cat = (1 to n).map(j => s"w[CAST(i+$j AS INT)]").mkString("||' '||")
        s"""SELECT doc_id, $n AS n, unnest(list_transform(range(len(w)-${n - 1}), i -> $cat)) AS gram
           |  FROM words WHERE len(w) >= $n"""
      }
      s"""WITH words AS (SELECT doc_id, string_split(text,' ') w FROM documents),
         |g AS (${duckGrams(2).stripMargin}
         |  UNION ALL
         |${duckGrams(3).stripMargin}),
         |c AS (SELECT doc_id, n, gram, CAST(COUNT(*) AS BIGINT) cnt FROM g GROUP BY 1,2,3),
         |top AS (SELECT doc_id, n, gram, cnt,
         |    row_number() OVER (PARTITION BY doc_id, n ORDER BY cnt DESC, gram) rn FROM c),
         |p AS (SELECT doc_id,
         |    MAX(CASE WHEN n=2 THEN gram END) top2,
         |    MAX(CASE WHEN n=2 THEN cnt*CAST(length(gram) AS BIGINT) END) top2_chars,
         |    MAX(CASE WHEN n=3 THEN gram END) top3,
         |    MAX(CASE WHEN n=3 THEN cnt*CAST(length(gram) AS BIGINT) END) top3_chars
         |  FROM top WHERE rn = 1 GROUP BY doc_id)
         |SELECT d.doc_id, top2, top2_chars,
         |  ${graft.ColFns.r6Sql("CAST(top2_chars AS DOUBLE)/n_chars")} AS top2_frac,
         |  (top2_chars * 5 > n_chars) AS flag2,
         |  top3, top3_chars,
         |  ${graft.ColFns.r6Sql("CAST(top3_chars AS DOUBLE)/n_chars")} AS top3_frac,
         |  (top3_chars * 50 > n_chars * 9) AS flag3
         |FROM documents d JOIN p ON d.doc_id = p.doc_id
         |ORDER BY d.doc_id"""
    }) { (s, dir) =>
      import graft.ColFns.r6
      import s.implicits._
      // Gopher-style top-n-gram concentration rules (Rae et al. 2021, table
      // A1): a document is flagged when the characters covered by its single
      // most frequent word 2-gram exceed 20% of the text (3-gram: 18%) — the
      // signature of boilerplate and keyword-stuffed pages that the
      // duplicate-3-gram ratio (q102) misses because ONE hot n-gram can
      // dominate while the rest of the doc stays diverse. Positions count
      // (not distinct grams), so the explode keeps duplicates. Shuffles are
      // keyed on (doc_id, n, gram) then (doc_id, n) — both bounded-width
      // keys; nothing in the plan holds more than one doc's gram counts.
      // Thresholds are integer cross-multiplications (×5 for 1/5, ×50 > ×9
      // for 18%), so the flags cannot flap on a float edge.
      // spread the single-row-group scan: each union branch's explode +
      // partial aggregation is per-row compute that otherwise runs as one
      // task per branch (guide §2.5; no-op on healthy layouts)
      val docs = graft.Tables.spread(T(s, dir, "documents"))
        .select($"doc_id", $"n_chars", split($"text", " ").as("w"))
      def grams(n: Int) = docs.filter(size($"w") >= n)
        .select($"doc_id", lit(n).as("n"),
          explode(expr(s"transform(sequence(1, size(w) - ${n - 1}), " +
            s"i -> concat_ws(' ', slice(w, i, $n)))")).as("gram"))
      val top = grams(2).unionAll(grams(3))
        .groupBy($"doc_id", $"n", $"gram").agg(count(lit(1)).as("cnt"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"doc_id", $"n").orderBy($"cnt".desc, $"gram")))
        .filter($"rn" === 1)
      val p = top.groupBy($"doc_id").agg(
        max(when($"n" === 2, $"gram")).as("top2"),
        max(when($"n" === 2, $"cnt" * length($"gram").cast("long"))).as("top2_chars"),
        max(when($"n" === 3, $"gram")).as("top3"),
        max(when($"n" === 3, $"cnt" * length($"gram").cast("long"))).as("top3_chars"))
      docs.select($"doc_id", $"n_chars").join(p, "doc_id")
        .select($"doc_id", $"top2", $"top2_chars",
          r6($"top2_chars".cast("double") / $"n_chars").as("top2_frac"),
          ($"top2_chars" * 5 > $"n_chars").as("flag2"),
          $"top3", $"top3_chars",
          r6($"top3_chars".cast("double") / $"n_chars").as("top3_frac"),
          ($"top3_chars" * 50 > $"n_chars" * 9).as("flag3"))
        .orderBy($"doc_id")
    },

    q("q183_weighted_sample", {
      val P = graft.functions.TextHash.P
      val ph = graft.functions.TextHash.duckPolyHash("CAST(doc_id AS VARCHAR)")
      s"""WITH u AS (SELECT doc_id, n_chars,
         |    (($ph) * 2654435761) % $P % 1000000 + 1 AS u_ppm
         |  FROM documents),
         |k AS (SELECT doc_id, n_chars, u_ppm,
         |    CAST(FLOOR(${graft.ColFns.detLnSql("u_ppm", "1000000")}
         |      * 1000000000000 / n_chars + 0.5) AS BIGINT) AS key_pico
         |  FROM u)
         |SELECT doc_id, n_chars, u_ppm, key_pico FROM k
         |ORDER BY key_pico DESC, doc_id LIMIT 50"""
    }) { (s, dir) =>
      import s.implicits._
      // Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
      // each item draws a deterministic pseudo-uniform u from its id hash
      // (scattered — q165's short-key lesson) and gets key = ln(u)/w; the
      // top-k keys ARE a weighted sample without replacement. This is THE
      // distributed algorithm for "sample 10k docs proportional to length
      // from 100 TB" — one map to compute keys, one TakeOrderedAndProject,
      // no sequential pass, reproducible across runs and cluster sizes
      // (q87's hash-threshold trick does Bernoulli sampling; this one hits
      // an exact k with weights). Float discipline: one ln() per row
      // rounded to pico units via ColFns.detLn (deterministic software ln)
      // on identical integer operands — bit-identical across engines;
      // ordering ties break on doc_id.
      T(s, dir, "documents")
        .select($"doc_id", $"n_chars", expr(
          s"(graft_polyhash(CAST(doc_id AS STRING)) * 2654435761) % ${graft.functions.TextHash.P} % 1000000 + 1")
          .as("u_ppm"))
        .withColumn("key_pico", floor(
          graft.ColFns.detLn($"u_ppm", lit(1000000L))
            * lit(1000000000000d) / $"n_chars" + lit(0.5d)).cast("long"))
        .orderBy($"key_pico".desc, $"doc_id".asc)
        .limit(50)
    },

    q("q197_group_topk_sample",
      // Exactly-k-per-group deterministic sample: rank every doc inside its
      // language by the md5 of its id (q87's engine-agnostic "uniform"
      // order) and keep the first 5 — the reservoir-sample-per-key analog
      // that is reproducible across engines, runs, and partitionings.
      """WITH h AS (SELECT doc_id, lang,
        |    md5(CAST(doc_id AS VARCHAR)) AS hk FROM documents),
        |r AS (SELECT doc_id, lang, hk,
        |    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY hk, doc_id) AS rn
        |  FROM h)
        |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id FROM r
        |WHERE rn <= 5 ORDER BY lang, rn""") { (s, dir) =>
      import s.implicits._
      // Per-stratum exact-k sampling — eval-set carving ("5 held-out docs
      // per language") and per-source spot-check panels, where q104's
      // rate-based stratified sample gives binomial counts, not exactly k.
      // One lang-keyed exchange + window; the hash order makes the pick
      // uniform-ish yet stable. At 100 TB a giant stratum still sorts only
      // WITHIN its partition and the window's rank short-circuits nothing —
      // the heavy-group refinement is a per-partition top-k pre-prune
      // (mapPartitions keeping k per group) before the window, the same
      // two-phase shape TakeOrderedAndProject applies globally; unnecessary
      // at fixture scale.
      val w = Window.partitionBy($"lang").orderBy($"hk", $"doc_id")
      T(s, dir, "documents")
        .select($"doc_id", $"lang",
          md5($"doc_id".cast("string").cast("binary")).as("hk"))
        .withColumn("rn", row_number().over(w).cast("long"))
        .filter($"rn" <= 5)
        .select($"lang", $"rn", $"doc_id")
        .orderBy($"lang", $"rn")
    },

    q("q219_quantile_normalize",
      // Cross-source quantile normalization: map each source's n_chars
      // distribution onto the GLOBAL distribution so per-source scale
      // drift can't bias downstream gates. Scale-safe formulation: all
      // ranking runs over the COMPACTED value domain (distinct n_chars
      // per source / globally — bounded, never corpus-sized); docs join
      // the mapping back on (source, value) equi keys.
      s"""WITH d AS (SELECT doc_id, source, n_chars FROM documents),
         |gs AS (SELECT source, n_chars, CAST(COUNT(*) AS BIGINT) AS cnt
         |  FROM d GROUP BY 1, 2),
         |ss AS (SELECT *, SUM(cnt) OVER (PARTITION BY source ORDER BY n_chars) AS cum_s,
         |    SUM(cnt) OVER (PARTITION BY source) AS ns FROM gs),
         |gg AS (SELECT n_chars, CAST(COUNT(*) AS BIGINT) AS cntg FROM d GROUP BY 1),
         |gw AS (SELECT n_chars AS gval, SUM(cntg) OVER (ORDER BY n_chars) AS cum_g
         |  FROM gg),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS nt FROM d),
         |tgt AS (SELECT source, n_chars, (cum_s * nt + ns - 1) // ns AS gpos
         |  FROM ss, n),
         |mapv AS (SELECT t.source, t.n_chars, CAST(MIN(g.gval) AS BIGINT) AS norm_chars
         |  FROM tgt t JOIN gw g ON g.cum_g >= t.gpos
         |  GROUP BY t.source, t.n_chars)
         |SELECT d.doc_id, d.source, d.n_chars, m.norm_chars
         |FROM d JOIN mapv m USING (source, n_chars) ORDER BY doc_id""") { (s, dir) =>
      import s.implicits._
      // Upper-cume position within the source maps to ceil(p * n_total)
      // in the global order; the normalized value is the smallest global
      // value covering that position (pure integers — ceil(a/b) as
      // (a+b-1) DIV b). The only non-equi join is value-domain x
      // value-domain (both tiny, broadcast); every corpus-sized op is a
      // keyed aggregation or an equi join on (source, value).
      val d = T(s, dir, "documents").select($"doc_id", $"source", $"n_chars")
      val gs = d.groupBy($"source", $"n_chars").agg(count(lit(1)).as("cnt"))
      val ss = gs
        .withColumn("cum_s", sum($"cnt").over(
          Window.partitionBy($"source").orderBy($"n_chars")))
        .withColumn("ns", sum($"cnt").over(Window.partitionBy($"source")))
      val gw = d.groupBy($"n_chars".as("gval")).agg(count(lit(1)).as("cntg"))
        .withColumn("cum_g", sum($"cntg").over(Window.orderBy($"gval")))
      val nt = d.agg(count(lit(1)).as("nt"))
      val tgt = ss.crossJoin(broadcast(nt))
        .select($"source", $"n_chars",
          expr("(cum_s * nt + ns - 1) div ns").as("gpos"))
      val mapv = tgt.join(broadcast(gw), $"cum_g" >= $"gpos")
        .groupBy($"source", $"n_chars")
        .agg(min($"gval").as("norm_chars"))
      d.join(broadcast(mapv), Seq("source", "n_chars"))
        .select($"doc_id", $"source", $"n_chars", $"norm_chars")
        .orderBy($"doc_id")
    },

    q("q257_negative_sampling",
      // Uniform negative sampling for contrastive / recsys training — the
      // cheap-negatives complement of q124's hard negatives: for every
      // positive (customer, part) purchase pair, draw 2 deterministic
      // pseudo-uniform candidate parts (multiplicative mix of (c, p, k) —
      // reproducible, so the oracle re-draws the identical sample), keep
      // only candidates that are REAL parts (equi join on the drawn key)
      // and are NOT already purchased by that customer (keyed LEFT ANTI
      // against the positives — the false-negative filter). The report
      // pins the whole pipeline's integrity: candidates drawn, valid
      // parts, survivors per draw index. Candidate generation is
      // map-side; both joins are keyed; nothing is all-pairs.
      """WITH pos AS (SELECT DISTINCT o.o_custkey c, l.l_partkey p
        |  FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey),
        |np AS (SELECT CAST(MAX(p_partkey) AS BIGINT) maxp FROM part),
        |ks(k) AS (VALUES (0), (1)),
        |cand AS (SELECT c, p, k,
        |    ((c * 2654435761 + p * 40503 + k * 97) % 1000000007) % maxp + 1
        |      AS negp
        |  FROM pos, ks, np),
        |valid AS (SELECT cand.c, cand.k, cand.negp FROM cand
        |  JOIN part ON part.p_partkey = cand.negp),
        |kept AS (SELECT v.c, v.k, v.negp FROM valid v
        |  WHERE NOT EXISTS (SELECT 1 FROM pos d
        |    WHERE d.c = v.c AND d.p = v.negp))
        |SELECT CAST(ks.k AS BIGINT) AS draw_k,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM pos) AS n_positives,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM valid v WHERE v.k = ks.k)
        |    AS n_valid,
        |  (SELECT CAST(COUNT(*) AS BIGINT) FROM kept t WHERE t.k = ks.k)
        |    AS n_kept
        |FROM ks ORDER BY draw_k""") { (s, dir) =>
      import s.implicits._
      val pos = T(s, dir, "orders").select($"o_orderkey", $"o_custkey")
        .join(T(s, dir, "lineitem").select($"l_orderkey", $"l_partkey"),
          $"l_orderkey" === $"o_orderkey")
        .select($"o_custkey".as("c"), $"l_partkey".as("p")).distinct()
        .transform(graft.CacheScope.cached) // candidate gen + anti filter
      val np = T(s, dir, "part").agg(max($"p_partkey").as("maxp"))
      val ks = broadcast(Seq(0L, 1L).toDF("k"))
      val cand = pos.crossJoin(ks).crossJoin(broadcast(np))
        .select($"c", $"k",
          expr("((c * 2654435761 + p * 40503 + k * 97) % 1000000007) % maxp + 1")
            .as("negp"))
      val valid = cand
        .join(T(s, dir, "part").select($"p_partkey".as("negp")), Seq("negp"))
        .transform(graft.CacheScope.cached) // counted + anti-filtered below
      val kept = valid.join(
        pos.select($"c", $"p".as("negp")), Seq("c", "negp"), "left_anti")
      val nPos = pos.agg(count(lit(1)).as("n_positives"))
      val nValid = valid.groupBy($"k").agg(count(lit(1)).as("n_valid"))
      val nKept = kept.groupBy($"k").agg(count(lit(1)).as("n_kept"))
      ks.join(broadcast(nValid), Seq("k"))
        .join(broadcast(nKept), Seq("k"))
        .crossJoin(broadcast(nPos))
        .select($"k".as("draw_k"), $"n_positives", $"n_valid", $"n_kept")
        .orderBy($"draw_k")
    },

    q("q258_ipf_mixture",
      // Data-mixture weight fitting by iterative proportional fitting
      // (2 unrolled rounds — q177's fixed-budget iteration pattern): given
      // the observed (source x lang) contingency table, find per-cell
      // sampling weights that hit EQUAL language shares while restoring
      // the observed source marginals — the solve behind "reweight the
      // crawl so every language gets its target share without starving a
      // source". Everything after the one corpus groupBy runs on the tiny
      // contingency table; weights are integer ppm with every division a
      // non-negative floor DIV, so both engines land the identical mix.
      """WITH n AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) c
        |  FROM documents GROUP BY source, lang),
        |tot AS (SELECT CAST(SUM(c) AS BIGINT) t,
        |    CAST(COUNT(DISTINCT lang) AS BIGINT) nl FROM n),
        |tl AS (SELECT lang, CAST(SUM(c) AS BIGINT) cl FROM n GROUP BY lang),
        |tsrc AS (SELECT source, CAST(SUM(c) AS BIGINT) cs FROM n
        |  GROUP BY source),
        |w1 AS (SELECT n.source, n.lang, n.c,
        |    ((tot.t // tot.nl) * 1000000) // tl.cl AS w
        |  FROM n JOIN tl ON tl.lang = n.lang CROSS JOIN tot),
        |m1 AS (SELECT source, CAST(SUM(c * w // 1000000) AS BIGINT) cur
        |  FROM w1 GROUP BY source),
        |r2 AS (SELECT w1.source, w1.lang, w1.c,
        |    (w1.w * ((tsrc.cs * 1000000) // NULLIF(m1.cur, 0))) // 1000000
        |      AS w2
        |  FROM w1 JOIN m1 ON m1.source = w1.source
        |  JOIN tsrc ON tsrc.source = w1.source)
        |SELECT source, lang, c AS n_docs, CAST(w2 AS BIGINT) AS weight_ppm,
        |  CAST(c * w2 // 1000000 AS BIGINT) AS resampled_n
        |FROM r2 ORDER BY source, lang""") { (s, dir) =>
      import s.implicits._
      val n = T(s, dir, "documents")
        .groupBy($"source", $"lang").agg(count(lit(1)).as("c"))
        .transform(graft.CacheScope.cached) // marginals + both fit rounds
      val tot = n.agg(sum($"c").as("t"), countDistinct($"lang").as("nl"))
      val tl = n.groupBy($"lang").agg(sum($"c").as("cl"))
      val tsrc = n.groupBy($"source").agg(sum($"c").as("cs"))
      val w1 = n.join(broadcast(tl), Seq("lang")).crossJoin(broadcast(tot))
        .select($"source", $"lang", $"c",
          expr("((t div nl) * 1000000) div cl").as("w"))
      val m1 = w1.groupBy($"source")
        .agg(sum(expr("(c * w) div 1000000")).as("cur"))
      w1.join(broadcast(m1), Seq("source"))
        .join(broadcast(tsrc), Seq("source"))
        .select($"source", $"lang", $"c".as("n_docs"),
          expr("(w * ((cs * 1000000) div nullif(cur, 0))) div 1000000")
            .as("weight_ppm"))
        .select($"source", $"lang", $"n_docs", $"weight_ppm",
          expr("(n_docs * weight_ppm) div 1000000").as("resampled_n"))
        .orderBy($"source", $"lang")
    },

    q("q268_k_anonymity",
      // k-anonymity audit over quasi-identifiers (nation x market segment x
      // coarse balance bucket) — the re-identification screen run before a
      // dataset containing user attributes is released or joined into
      // training data (Sweeney 2002). Reports every equivalence class
      // smaller than k=5 plus the corpus-wide at-risk share in ppm. The
      // bucket is integer math on exact cents SHIFTED non-negative (acctbal
      // goes negative; trunc-vs-floor div would disagree across engines —
      // the q142 shift trick). One quasi-identifier aggregation, a 1-row
      // broadcast total, map-side everything else; the violations output is
      // class-sized, tiny by construction.
      """WITH q AS (SELECT CAST(c_nationkey AS BIGINT) AS nation,
        |    c_mktsegment AS segment,
        |    (CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
        |      // 100000 AS bal_bucket
        |  FROM customer),
        |g AS (SELECT nation, segment, bal_bucket,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM q GROUP BY nation, segment, bal_bucket),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT) AS at_risk
        |  FROM g)
        |SELECT g.nation, g.segment, g.bal_bucket, g.n,
        |  CAST((1000000 * t.at_risk) // t.total AS BIGINT) AS at_risk_ppm
        |FROM g, t WHERE g.n < 5
        |ORDER BY nation, segment, bal_bucket""") { (s, dir) =>
      import s.implicits._
      val g = T(s, dir, "customer")
        .select($"c_nationkey".cast("long").as("nation"),
          $"c_mktsegment".as("segment"),
          expr("(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000) " +
            "div 100000").as("bal_bucket"))
        .groupBy($"nation", $"segment", $"bal_bucket")
        .agg(count(lit(1)).as("n"))
        .transform(graft.CacheScope.cached) // total + violations
      val t = g.agg(sum($"n").as("total"),
        sum(when($"n" < 5, $"n").otherwise(0L)).as("at_risk"))
      g.filter($"n" < 5)
        .crossJoin(broadcast(t))
        .select($"nation", $"segment", $"bal_bucket", $"n",
          expr("(1000000 * at_risk) div total").as("at_risk_ppm"))
        .orderBy($"nation", $"segment", $"bal_bucket")
    },

    q("q432_l_diversity", {
      """WITH sp AS (SELECT c.c_custkey,
        |    COALESCE(SUM(CAST(FLOOR(o.o_totalprice * 100 + 0.5) AS BIGINT)),
        |      0) // 200000000 AS sens
        |  FROM customer c
        |  LEFT JOIN orders o ON o.o_custkey = c.c_custkey
        |  GROUP BY c.c_custkey),
        |q AS (SELECT c.c_mktsegment AS segment,
        |    (CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
        |      // 100000 AS bal_bucket,
        |    sp.sens
        |  FROM customer c JOIN sp ON sp.c_custkey = c.c_custkey),
        |g AS (SELECT segment, bal_bucket, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(COUNT(DISTINCT sens) AS BIGINT) AS l_distinct
        |  FROM q GROUP BY segment, bal_bucket),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN n >= 5 AND l_distinct < 3 THEN n ELSE 0 END)
        |      AS BIGINT) AS blind
        |  FROM g)
        |SELECT g.segment, g.bal_bucket, g.n, g.l_distinct,
        |  (g.n >= 5 AND g.l_distinct < 3) AS k_blind_spot,
        |  CAST((1000000 * t.blind) // t.total AS BIGINT) AS blind_spot_ppm
        |FROM g, t ORDER BY g.segment, g.bal_bucket"""
    }) { (s, dir) =>
      import s.implicits._
      // l-diversity audit (Machanavajjhala 2007) — the attribute-disclosure
      // screen k-anonymity structurally misses: a quasi-identifier class
      // can hold k >= 5 people who all share ONE sensitive value, so an
      // attacker who links any of them learns the attribute without
      // re-identifying anyone. Quasi-identifiers are q268's (segment,
      // coarse balance bucket); the sensitive attribute is the customer's
      // lifetime-spend band in exact cents (the orders fact aggregated
      // ONCE per customer — keyed join, never broadcast-by-hand since both
      // sides scale). Readout: every class with its size and distinct-l,
      // the k-blind-spot flag (n >= 5 AND l < 3 — exactly the classes
      // q268 certifies as safe and this audit doesn't), and the corpus
      // blind-spot share in ppm. Class table is bounded by the QI domain.
      val sp = T(s, dir, "customer").as("c")
        .join(T(s, dir, "orders").as("o"),
          $"o.o_custkey" === $"c.c_custkey", "left")
        .groupBy($"c.c_custkey")
        .agg((coalesce(sum(expr(
          "CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)")), lit(0L))
          / lit(200000000L)).cast("long").as("sens"))
      val g = T(s, dir, "customer")
        .join(sp, "c_custkey")
        .select($"c_mktsegment".as("segment"),
          expr("(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000) " +
            "div 100000").as("bal_bucket"),
          $"sens")
        .groupBy($"segment", $"bal_bucket")
        .agg(count(lit(1)).as("n"),
          countDistinct($"sens").as("l_distinct"))
        .transform(graft.CacheScope.cached) // total + class rows
      val t = g.agg(sum($"n").as("total"),
        sum(when($"n" >= 5 && $"l_distinct" < 3, $"n").otherwise(0L))
          .as("blind"))
      g.crossJoin(broadcast(t))
        .select($"segment", $"bal_bucket", $"n", $"l_distinct",
          ($"n" >= 5 && $"l_distinct" < 3).as("k_blind_spot"),
          expr("(1000000 * blind) div total").as("blind_spot_ppm"))
        .orderBy($"segment", $"bal_bucket")
    },

    q("q433_release_manifest", manifestOracleSql) { (s, dir) =>
      import s.implicits._
      // Release content manifest — the diffable fingerprint a dataset
      // release ships beside q392's statistics card: per source, an
      // order-independent ADDITIVE content root (sum of per-doc content
      // polyhashes — commutative, so any partitioning, any ingest order,
      // any merge of shards produces the same root, and the root is
      // incrementally maintainable by adding each new doc's hash).
      // Additivity is the operational point: root_now - root_prev IS the
      // root of exactly the delta docs, so a consumer holding last
      // release's manifest can verify this release's increment without
      // re-reading a single old document. The previous release is the
      // md5-half of the corpus (the standing split rule); one map-side
      // hash pass, one per-source aggregation. Roots stay far inside
      // BIGINT: each hash < 2^30, so 2^33 docs per source fit.
      T(s, dir, "documents")
        .select($"source",
          expr("CASE WHEN substring(md5(CAST(CAST(doc_id AS STRING) AS " +
            "BINARY)), 1, 2) < '80' THEN 1 ELSE 0 END").as("is_old"),
          expr("graft_polyhash(text)").as("h"))
        .groupBy($"source")
        .agg(sum($"is_old").as("n_docs_prev"),
          count(lit(1)).as("n_docs_now"),
          sum($"is_old" * $"h").as("root_prev"),
          sum($"h").as("root_now"),
          sum((lit(1) - $"is_old") * $"h").as("delta_root"))
        .orderBy($"source")
    },

    q("q434_streaming_manifest", manifestOracleSql) { (s, dir) =>
      import s.implicits._
      // Streaming twin of the release manifest — the additive content
      // root maintained LIVE at ingest, which is the entire reason the
      // root is a sum: per-source state is five BIGINT counters forever,
      // updated map-side per micro-batch row (hash + release-membership
      // flag are pure projections), drained complete-mode. The oracle is
      // q433's batch statement verbatim: streamed roots must reproduce
      // the batch manifest bit for bit.
      val root = graft.LogFixtures.documents(s, dir)
      val nIn = Tables.rowCount(s, dir, "documents")
      graft.streaming.StreamHarness.runToMemory(s, "q434", mode = "complete") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "documents")
          .option("valueSchema", "doc_id BIGINT, source STRING, text STRING")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", math.max(200L, nIn / 3).toString)
          .load()
          .select($"source",
            expr("CASE WHEN substring(md5(CAST(CAST(doc_id AS STRING) AS " +
              "BINARY)), 1, 2) < '80' THEN 1 ELSE 0 END").as("is_old"),
            expr("graft_polyhash(text)").as("h"))
          .groupBy($"source")
          .agg(sum($"is_old").as("n_docs_prev"),
            count(lit(1)).as("n_docs_now"),
            sum($"is_old" * $"h").as("root_prev"),
            sum($"h").as("root_now"),
            sum((lit(1) - $"is_old") * $"h").as("delta_root"))
      }.orderBy($"source")
    },

    q("q435_gate_ablation", {
      s"""WITH t AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |  FROM documents),
         |m AS (SELECT doc_id, source,
         |    ${qualityMetricsDuck("w").mkString(", ")} FROM t),
         |f AS (SELECT source,
         |    CASE WHEN $GateTooShort THEN 1 ELSE 0 END AS g1,
         |    CASE WHEN $GateRepetitive THEN 1 ELSE 0 END AS g2,
         |    CASE WHEN $GateLowStopword THEN 1 ELSE 0 END AS g3,
         |    CASE WHEN $GateLowTtr THEN 1 ELSE 0 END AS g4
         |  FROM m),
         |a AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN g1 + g2 + g3 + g4 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS keep_all,
         |    CAST(SUM(CASE WHEN g2 + g3 + g4 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wo1,
         |    CAST(SUM(CASE WHEN g1 + g3 + g4 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wo2,
         |    CAST(SUM(CASE WHEN g1 + g2 + g4 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wo3,
         |    CAST(SUM(CASE WHEN g1 + g2 + g3 = 0 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS wo4
         |  FROM f GROUP BY source),
         |u AS (SELECT source, n, keep_all, 'too_short' AS gate, wo1 AS wo
         |    FROM a
         |  UNION ALL SELECT source, n, keep_all, 'repetitive', wo2 FROM a
         |  UNION ALL SELECT source, n, keep_all, 'low_stopword', wo3 FROM a
         |  UNION ALL SELECT source, n, keep_all, 'low_ttr', wo4 FROM a)
         |SELECT source, gate, n AS n_docs,
         |  (keep_all * 1000000) // n AS keep_all_ppm,
         |  (wo * 1000000) // n AS keep_without_ppm,
         |  ((wo - keep_all) * 1000000) // n AS marginal_ppm
         |FROM u ORDER BY source, gate"""
    }) { (s, dir) =>
      import s.implicits._
      // Quality-gate ablation matrix — which gate does the work: for each
      // of the four shared q129 gates, the corpus keep rate with that one
      // gate removed, per source. marginal_ppm is the share of docs ONLY
      // that gate kills — a gate whose marginal is ~0 is redundant with
      // the rest of the stack (its kills are double-covered), and a gate
      // whose marginal dwarfs the others is the stack's single point of
      // judgment. Complements q426 (agreement with the LM score) and q395
      // (length bias): this is the within-stack redundancy readout. One
      // map-side metrics pass, one per-source aggregation, the 4-gate
      // fan-out on the bounded per-source table.
      val f = T(s, dir, "documents")
        .select($"doc_id", $"source", split($"text", " ").as("w"))
        .selectExpr("source" +: qualityMetricsSpark("w"): _*)
        .selectExpr("source",
          s"CAST(IF($GateTooShort, 1, 0) AS BIGINT) AS g1",
          s"CAST(IF($GateRepetitive, 1, 0) AS BIGINT) AS g2",
          s"CAST(IF($GateLowStopword, 1, 0) AS BIGINT) AS g3",
          s"CAST(IF($GateLowTtr, 1, 0) AS BIGINT) AS g4")
      val a = f.groupBy($"source")
        .agg(count(lit(1)).as("n"),
          sum(when($"g1" + $"g2" + $"g3" + $"g4" === 0, 1L).otherwise(0L))
            .as("keep_all"),
          sum(when($"g2" + $"g3" + $"g4" === 0, 1L).otherwise(0L)).as("wo1"),
          sum(when($"g1" + $"g3" + $"g4" === 0, 1L).otherwise(0L)).as("wo2"),
          sum(when($"g1" + $"g2" + $"g4" === 0, 1L).otherwise(0L)).as("wo3"),
          sum(when($"g1" + $"g2" + $"g3" === 0, 1L).otherwise(0L)).as("wo4"))
        .transform(graft.CacheScope.cached) // four gate branches
      val u = Seq(("too_short", "wo1"), ("repetitive", "wo2"),
          ("low_stopword", "wo3"), ("low_ttr", "wo4"))
        .map { case (gname, wcol) =>
          a.select($"source", $"n", $"keep_all", lit(gname).as("gate"),
            col(wcol).as("wo"))
        }.reduce(_ unionByName _)
      u.select($"source", $"gate", $"n".as("n_docs"),
          expr("(keep_all * 1000000) div n").as("keep_all_ppm"),
          expr("(wo * 1000000) div n").as("keep_without_ppm"),
          expr("((wo - keep_all) * 1000000) div n").as("marginal_ppm"))
        .orderBy($"source", $"gate")
    },

    q("q274_doc_chunking",
      // Sliding-window document chunking — the retrieval/embedding prep
      // step that turns documents into fixed-budget overlapping chunks
      // (40 tokens, stride 30) with STABLE ids: chunk identity is the
      // content hash, so re-chunking a re-crawled corpus reproduces ids
      // for unchanged chunks and embedding caches stay valid. Pure
      // map-side explode (token positions from one sequence(), slice per
      // start) — no shuffle at all until a consumer aggregates; the text
      // leaves the scan only as 40-token chunks.
      """WITH w AS (SELECT doc_id, string_split(text, ' ') AS w
        |  FROM documents),
        |st AS (SELECT doc_id, w, unnest(range(1, len(w)+1, 30)) AS start
        |  FROM w),
        |ch AS (SELECT doc_id, CAST((start-1)//30 AS BIGINT) AS chunk_idx,
        |    CAST(start AS BIGINT) AS start_pos, w[start:start+39] AS cw
        |  FROM st)
        |SELECT doc_id, chunk_idx, start_pos,
        |  CAST(len(cw) AS BIGINT) AS n_tokens,
        |  md5(array_to_string(cw, ' ')) AS chunk_md5
        |FROM ch ORDER BY doc_id, chunk_idx""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id", $"w",
          explode(expr("sequence(1, size(w), 30)")).as("start"))
        .select($"doc_id",
          expr("(start - 1) div 30").cast("long").as("chunk_idx"),
          $"start".cast("long").as("start_pos"),
          expr("slice(w, start, 40)").as("cw"))
        .select($"doc_id", $"chunk_idx", $"start_pos",
          size($"cw").cast("long").as("n_tokens"),
          md5(concat_ws(" ", $"cw").cast("binary")).as("chunk_md5"))
        .orderBy($"doc_id", $"chunk_idx")
    },

    q("q283_generalization_tradeoff",
      // The anonymization ladder readout: re-run q268's k-anonymity audit
      // at two generalization levels — fine (nation x segment x $1k
      // balance bucket) vs generalized (REGION x segment x $10k bucket) —
      // and report classes / violations / at-risk mass side by side. This
      // is the utility-vs-privacy table a release review actually looks
      // at: how much coarsening buys how much risk reduction. Each level
      // is one quasi-identifier aggregation collapsed to a 1-row summary;
      // the region rollup rides the broadcast nation/region dims.
      """WITH f1 AS (SELECT CAST(c_nationkey AS BIGINT) AS g, c_mktsegment
        |    AS seg, (CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000)
        |      // 100000 AS b
        |  FROM customer),
        |l1 AS (SELECT g, seg, b, CAST(COUNT(*) AS BIGINT) AS n FROM f1
        |  GROUP BY g, seg, b),
        |s1 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |      AS at_risk_rows,
        |    CAST(SUM(n) AS BIGINT) AS total FROM l1),
        |f2 AS (SELECT CAST(r.r_regionkey AS BIGINT) AS g,
        |    c.c_mktsegment AS seg,
        |    (CAST(FLOOR(c.c_acctbal * 100 + 0.5) AS BIGINT) + 1000000)
        |      // 1000000 AS b
        |  FROM customer c
        |  JOIN nation n2 ON n2.n_nationkey = c.c_nationkey
        |  JOIN region r ON r.r_regionkey = n2.n_regionkey),
        |l2 AS (SELECT g, seg, b, CAST(COUNT(*) AS BIGINT) AS n FROM f2
        |  GROUP BY g, seg, b),
        |s2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_classes,
        |    CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
        |      AS n_violating,
        |    CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
        |      AS at_risk_rows,
        |    CAST(SUM(n) AS BIGINT) AS total FROM l2)
        |SELECT 'L1_fine' AS level_, n_classes, n_violating, at_risk_rows,
        |  CAST((1000000 * at_risk_rows) // total AS BIGINT) AS at_risk_ppm
        |FROM s1
        |UNION ALL
        |SELECT 'L2_generalized', n_classes, n_violating, at_risk_rows,
        |  CAST((1000000 * at_risk_rows) // total AS BIGINT) FROM s2
        |ORDER BY level_""") { (s, dir) =>
      import s.implicits._
      def summarize(classes: DataFrame, name: String): DataFrame =
        classes.agg(count(lit(1)).as("n_classes"),
            sum(when($"n" < 5, 1L).otherwise(0L)).as("n_violating"),
            sum(when($"n" < 5, $"n").otherwise(0L)).as("at_risk_rows"),
            sum($"n").as("total"))
          .select(lit(name).as("level_"), $"n_classes", $"n_violating",
            $"at_risk_rows",
            expr("(1000000 * at_risk_rows) div total").as("at_risk_ppm"))
      val cust = T(s, dir, "customer")
      val l1 = cust
        .groupBy($"c_nationkey".cast("long").as("g"),
          $"c_mktsegment".as("seg"),
          expr("(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 100000) " +
            "div 100000").as("b"))
        .agg(count(lit(1)).as("n"))
      val l2 = cust
        .join(broadcast(T(s, dir, "nation")),
          $"n_nationkey" === $"c_nationkey")
        .join(broadcast(T(s, dir, "region")),
          $"r_regionkey" === $"n_regionkey")
        .groupBy($"r_regionkey".cast("long").as("g"),
          $"c_mktsegment".as("seg"),
          expr("(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT) + 1000000) " +
            "div 1000000").as("b"))
        .agg(count(lit(1)).as("n"))
      summarize(l1, "L1_fine").unionAll(summarize(l2, "L2_generalized"))
        .orderBy($"level_")
    },

    q("q291_pseudonymization",
      // Keyed-hash pseudonymization with a referential-integrity
      // certificate: customer keys are replaced by a salted md5 token on
      // BOTH sides of the orders join, and the audit proves the
      // anonymization is lossless for analytics — token cardinality equals
      // key cardinality (no collisions) and the fact join matches exactly
      // as many rows through tokens as through raw keys. This is the
      // share-data-without-identifiers primitive the privacy family
      // (q268/q283) assumes; the certificate is what a reviewer signs.
      // Map-side hashing; two keyed joins; 1-row output.
      """WITH c AS (SELECT c_custkey,
        |    md5('salt42:' || CAST(c_custkey AS VARCHAR)) AS token
        |  FROM customer),
        |o AS (SELECT o_custkey,
        |    md5('salt42:' || CAST(o_custkey AS VARCHAR)) AS token
        |  FROM orders),
        |card AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_customers,
        |    CAST(COUNT(DISTINCT token) AS BIGINT) AS n_tokens FROM c),
        |jr AS (SELECT CAST(COUNT(*) AS BIGINT) AS joined_raw
        |  FROM orders JOIN customer ON c_custkey = o_custkey),
        |jt AS (SELECT CAST(COUNT(*) AS BIGINT) AS joined_token
        |  FROM o JOIN c ON c.token = o.token)
        |SELECT card.n_customers, card.n_tokens, jr.joined_raw,
        |  jt.joined_token,
        |  card.n_customers = card.n_tokens
        |    AND jr.joined_raw = jt.joined_token AS lossless
        |FROM card, jr, jt""") { (s, dir) =>
      import s.implicits._
      val c = T(s, dir, "customer")
        .select($"c_custkey",
          md5(concat(lit("salt42:"), $"c_custkey".cast("string"))
            .cast("binary")).as("token"))
        .transform(graft.CacheScope.cached) // cardinality + token join
      val o = T(s, dir, "orders")
        .select($"o_custkey",
          md5(concat(lit("salt42:"), $"o_custkey".cast("string"))
            .cast("binary")).as("token"))
      val card = c.agg(count(lit(1)).as("n_customers"),
        countDistinct($"token").as("n_tokens"))
      val jr = T(s, dir, "orders")
        .join(T(s, dir, "customer"), $"c_custkey" === $"o_custkey")
        .agg(count(lit(1)).as("joined_raw"))
      val jt = o.join(c.select($"token"), Seq("token"))
        .agg(count(lit(1)).as("joined_token"))
      broadcast(card).crossJoin(broadcast(jr)).crossJoin(broadcast(jt))
        .select($"n_customers", $"n_tokens", $"joined_raw", $"joined_token",
          ($"n_customers" === $"n_tokens" &&
            $"joined_raw" === $"joined_token").as("lossless"))
    },

    q("q307_shadow_gate_diff",
      // Shadow-deployment agreement matrix for a quality-gate change: the
      // candidate gate (tighter length band) runs ALONGSIDE the live gate
      // over the same corpus and the report is the 2x2 keep/drop
      // confusion — both_keep / only_live / only_candidate / both_drop
      // with corpus shares — plus the flip rate the rollout review
      // thresholds on. One map-side double evaluation + a 4-key
      // aggregation; no second corpus pass, which is the whole point of
      // shadowing the gate instead of re-running the pipeline.
      """WITH g AS (SELECT doc_id,
        |    n_chars BETWEEN 100 AND 3000 AS live,
        |    n_chars BETWEEN 150 AND 2500 AS cand
        |  FROM documents),
        |c AS (SELECT CASE
        |      WHEN live AND cand THEN 'both_keep'
        |      WHEN live AND NOT cand THEN 'only_live'
        |      WHEN cand AND NOT live THEN 'only_candidate'
        |      ELSE 'both_drop' END AS cell,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM g GROUP BY cell),
        |t AS (SELECT CAST(SUM(n) AS BIGINT) AS total,
        |    CAST(SUM(CASE WHEN cell IN ('only_live', 'only_candidate')
        |      THEN n ELSE 0 END) AS BIGINT) AS flips FROM c)
        |SELECT c.cell, c.n,
        |  CAST((1000000 * c.n) // t.total AS BIGINT) AS share_ppm,
        |  CAST((1000000 * t.flips) // t.total AS BIGINT) AS flip_ppm
        |FROM c, t ORDER BY cell""") { (s, dir) =>
      import s.implicits._
      val c = T(s, dir, "documents")
        .select($"n_chars".between(100, 3000).as("live"),
          $"n_chars".between(150, 2500).as("cand"))
        .groupBy(when($"live" && $"cand", "both_keep")
          .when($"live" && !$"cand", "only_live")
          .when($"cand" && !$"live", "only_candidate")
          .otherwise("both_drop").as("cell"))
        .agg(count(lit(1)).as("n"))
        .transform(graft.CacheScope.cached) // totals + report
      val t = c.agg(sum($"n").as("total"),
        sum(when($"cell".isin("only_live", "only_candidate"), $"n")
          .otherwise(0L)).as("flips"))
      c.crossJoin(broadcast(t))
        .select($"cell", $"n",
          expr("(1000000 * n) div total").as("share_ppm"),
          expr("(1000000 * flips) div total").as("flip_ppm"))
        .orderBy($"cell")
    },

    q("q359_dataloader_replay",
      // Dataloader replay-determinism certificate — what makes a training
      // run RESUMABLE and a loss spike attributable to data: the batch
      // order for (epoch, shard) is a pure function of (seed, epoch,
      // doc_id) (multiplicative scatter — no RNG state to lose), so any
      // worker can replay any epoch bit-for-bit. Per (epoch, shard):
      // the order fingerprint (md5 over the hash-ordered id sequence) and
      // the content digest (order-independent xor). The certificate: the
      // two epochs' order fingerprints DIFFER per shard (reshuffling is
      // real) while content digests MATCH (epochs visit identical data).
      // Per-shard sequence assembly is the only non-scalable-looking
      // step, and it is per-shard bounded by construction — exactly the
      // unit a dataloader materializes anyway.
      """WITH d AS (SELECT doc_id,
        |    (doc_id * 2654435761) % 1000000007 % 8 AS shard FROM documents),
        |e AS (SELECT d.doc_id, d.shard, ep.epoch,
        |    ((d.doc_id + 1000003 * ep.epoch) * 2654435761) % 1000000007
        |      AS ord
        |  FROM d, (SELECT unnest(range(2)) AS epoch) ep),
        |fp AS (SELECT epoch, shard,
        |    CAST(COUNT(*) AS BIGINT) AS n_docs,
        |    md5(array_to_string(list(doc_id ORDER BY ord, doc_id), ','))
        |      AS order_fp,
        |    CAST(bit_xor((doc_id * 2654435761) % 1000000007) AS BIGINT)
        |      AS content_xor
        |  FROM e GROUP BY epoch, shard),
        |chk AS (SELECT a.shard,
        |    a.order_fp <> b.order_fp AS reshuffled,
        |    a.content_xor = b.content_xor AND a.n_docs = b.n_docs
        |      AS same_content
        |  FROM (SELECT * FROM fp WHERE epoch = 0) a
        |  JOIN (SELECT * FROM fp WHERE epoch = 1) b ON b.shard = a.shard)
        |SELECT CAST(fp.epoch AS BIGINT) AS epoch, fp.shard, fp.n_docs,
        |  fp.order_fp, fp.content_xor, chk.reshuffled, chk.same_content
        |FROM fp JOIN chk ON chk.shard = fp.shard
        |ORDER BY fp.epoch, fp.shard""") { (s, dir) =>
      import s.implicits._
      val d = T(s, dir, "documents")
        .select($"doc_id",
          expr("(doc_id * 2654435761) % 1000000007 % 8").as("shard"))
      val e = d.select($"doc_id", $"shard",
          explode(sequence(lit(0), lit(1))).as("epoch"))
        .withColumn("ord", expr(
          "((doc_id + 1000003 * epoch) * 2654435761) % 1000000007"))
      val fp = e.groupBy($"epoch", $"shard")
        .agg(count(lit(1)).as("n_docs"),
          md5(array_join(expr(
            "transform(array_sort(collect_list(struct(ord, doc_id))), " +
              "x -> CAST(x.doc_id AS STRING))"), ",")).as("order_fp"),
          expr("bit_xor((doc_id * 2654435761) % 1000000007)")
            .as("content_xor"))
        .transform(graft.CacheScope.cached) // both epoch sides + report
      val chk = fp.filter($"epoch" === 0).as("a")
        .join(fp.filter($"epoch" === 1).as("b"), $"a.shard" === $"b.shard")
        .select($"a.shard".as("cshard"),
          ($"a.order_fp" =!= $"b.order_fp").as("reshuffled"),
          ($"a.content_xor" === $"b.content_xor" &&
            $"a.n_docs" === $"b.n_docs").as("same_content"))
      fp.join(broadcast(chk), $"shard" === $"cshard")
        .select($"epoch".cast("long").as("epoch"), $"shard", $"n_docs",
          $"order_fp", $"content_xor", $"reshuffled", $"same_content")
        .orderBy($"epoch", $"shard")
    },

    q("q333_length_batching",
      // Length-bucketed batch planning — the training-throughput lever:
      // batching sequences of similar length cuts padding waste (every
      // batch pads to its own max, not the corpus max). Documents are
      // assigned to 8 equal-frequency length buckets from the cumulative
      // count over the COMPACTED length domain (cells assigned wholly by
      // the position of their first row — bounded window, the q289
      // discipline), and the padding accounting is exact integer token
      // math: pad = n·max_len − Σ len per bucket, against the naive
      // one-global-batch baseline. saved_ppm is the fraction of padding
      // tokens the bucketing eliminates — the number that decides whether
      // the pipeline ships a bucketed sampler.
      """WITH d AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT)
        |    AS len FROM documents),
        |g AS (SELECT len, CAST(COUNT(*) AS BIGINT) AS cnt FROM d
        |  GROUP BY len),
        |c AS (SELECT len, cnt,
        |    SUM(cnt) OVER (ORDER BY len) AS cum,
        |    SUM(cnt) OVER () AS n FROM g),
        |bk AS (SELECT len, cnt, ((cum - cnt) * 8) // n + 1 AS bucket
        |  FROM c),
        |b AS (SELECT bucket, CAST(SUM(cnt) AS BIGINT) AS n_docs,
        |    CAST(MIN(len) AS BIGINT) AS min_len,
        |    CAST(MAX(len) AS BIGINT) AS max_len,
        |    CAST(SUM(cnt * len) AS BIGINT) AS sum_len
        |  FROM bk GROUP BY bucket)
        |SELECT CAST(bucket AS BIGINT) AS bucket, n_docs, min_len, max_len,
        |  n_docs * max_len - sum_len AS pad_bucketed,
        |  CAST(SUM(n_docs) OVER () * MAX(max_len) OVER ()
        |    - SUM(sum_len) OVER () AS BIGINT) AS pad_naive_total,
        |  CAST((1000000 * (SUM(n_docs) OVER () * MAX(max_len) OVER ()
        |      - SUM(sum_len) OVER ()
        |      - SUM(n_docs * max_len - sum_len) OVER ()))
        |    // (SUM(n_docs) OVER () * MAX(max_len) OVER ()
        |      - SUM(sum_len) OVER ()) AS BIGINT) AS saved_ppm
        |FROM b ORDER BY bucket""") { (s, dir) =>
      import s.implicits._
      val g = T(s, dir, "documents")
        .select(size(split($"text", " ")).cast("long").as("len"))
        .groupBy($"len").agg(count(lit(1)).as("cnt"))
      val wc = Window.orderBy($"len")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      val b = g.withColumn("cum", sum($"cnt").over(wc))
        .withColumn("n", sum($"cnt").over(all))
        .withColumn("bucket", expr("((cum - cnt) * 8) div n + 1"))
        .groupBy($"bucket")
        .agg(sum($"cnt").as("n_docs"), min($"len").as("min_len"),
          max($"len").as("max_len"), sum($"cnt" * $"len").as("sum_len"))
      b.withColumn("pad_bucketed", $"n_docs" * $"max_len" - $"sum_len")
        .withColumn("pad_naive_total",
          sum($"n_docs").over(all) * max($"max_len").over(all)
            - sum($"sum_len").over(all))
        .withColumn("saved_ppm",
          expr("(1000000 * (pad_naive_total " +
            "- SUM(n_docs * max_len - sum_len) OVER ())) " +
            "div pad_naive_total"))
        .select($"bucket", $"n_docs", $"min_len", $"max_len",
          $"pad_bucketed", $"pad_naive_total", $"saved_ppm")
        .orderBy($"bucket")
    },

    q("q379_prefix_cache_share",
      // Prefix-cache sharing estimator — the serving-side question vLLM-era
      // deployments ask of a corpus/prompt set: how many requests share a
      // 10-token prefix (and could reuse a KV-cache entry)? Docs group by
      // the polyhash of their 10-token prefix (shorter docs hash their
      // whole text — they share iff identical); the cluster-size histogram
      // is the answer, with docs_sharing = (size-1)·n_clusters counting
      // the requests after each cluster's first (the cache-hit candidates)
      // and hit_ppm the corpus-wide reuse rate. One map-side hash + two
      // bounded aggregations; the histogram is tiny whatever the corpus.
      s"""WITH p AS (SELECT doc_id,
         |    ${duckPolyHash(
               "array_to_string(string_split(text, ' ')[1:10], ' ')")} AS h
         |  FROM documents),
         |cl AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS sz FROM p GROUP BY h),
         |hist AS (SELECT sz AS cluster_size,
         |    CAST(COUNT(*) AS BIGINT) AS n_clusters,
         |    CAST(SUM(sz) AS BIGINT) AS n_docs FROM cl GROUP BY sz)
         |SELECT cluster_size, n_clusters, n_docs,
         |  (cluster_size - 1) * n_clusters AS docs_sharing,
         |  CAST((SUM((cluster_size - 1) * n_clusters) OVER () * 1000000)
         |    // (SUM(n_docs) OVER ()) AS BIGINT) AS hit_ppm
         |FROM hist ORDER BY cluster_size""") { (s, dir) =>
      import s.implicits._
      val cl = T(s, dir, "documents")
        .select(expr("graft_polyhash(concat_ws(' ', " +
          "slice(split(text, ' '), 1, 10)))").as("h"))
        .groupBy($"h").agg(count(lit(1)).as("sz"))
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      cl.groupBy($"sz".as("cluster_size"))
        .agg(count(lit(1)).as("n_clusters"), sum($"sz").as("n_docs"))
        .withColumn("docs_sharing", ($"cluster_size" - 1) * $"n_clusters")
        .withColumn("hit_ppm", expr(
          "(SUM(docs_sharing) OVER () * 1000000) div (SUM(n_docs) OVER ())"))
        .select($"cluster_size", $"n_clusters", $"n_docs", $"docs_sharing",
          $"hit_ppm")
        .orderBy($"cluster_size")
    },

    q("q387_watermark_screen",
      // Synthetic-text watermark screen — the curation pass that keeps
      // model-generated text out of the next model's training set
      // (Kirchenbauer et al. 2023: a watermarked generator biases each
      // token toward a "green list" keyed by the previous token's hash;
      // the detector needs only the hash rule, not the model). Every
      // bigram position is green iff polyhash(prev·' '·next) is even —
      // natural text sits at ~1/2 green; watermarked text shows excess.
      // The per-doc flag is the z >= 3 one-sided test stated as a pure
      // integer cross-multiplication ((2g-n) >= 0 AND (2g-n)^2 >= 9n — no
      // float sqrt, no per-doc IEEE at all), and the per-source readout
      // carries the signed squared z in ppm ((2G-N)^2·1e6 // N, negated
      // when the bias runs anti-green). On this natural-text fixture every
      // source reads ~470k green ppm and zero flags — the correct null
      // result; the planted-watermark law in AnalyticsSpec proves the
      // detector fires. Map-side hashing + one source aggregation;
      // 100 TB-trivial.
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |bg AS (SELECT doc_id, source, unnest(list_transform(range(len(w)-1),
         |    i -> w[CAST(i+1 AS INT)]||' '||w[CAST(i+2 AS INT)])) AS bgm
         |  FROM w),
         |gr AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN (${duckPolyHash("bgm")}) % 2 = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS g
         |  FROM bg GROUP BY 1, 2),
         |d AS (SELECT *, 2*g - n AS b FROM gr)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS n_pos, CAST(SUM(g) AS BIGINT) AS n_green,
         |  CAST((SUM(g) * 1000000) // SUM(n) AS BIGINT) AS green_ppm,
         |  CAST(CASE WHEN SUM(b) >= 0
         |    THEN (SUM(b)*SUM(b)*1000000) // SUM(n)
         |    ELSE -((SUM(b)*SUM(b)*1000000) // SUM(n)) END
         |    AS BIGINT) AS z2_signed_ppm,
         |  CAST(SUM(CASE WHEN b >= 0 AND b*b >= 9*n THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_flagged
         |FROM d GROUP BY source ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val w = T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 2)
      val gr = w.select($"doc_id", $"source", explode(expr(
          "transform(sequence(1, size(w) - 1), i -> concat(w[i-1], ' ', w[i]))"))
          .as("bgm"))
        .groupBy($"doc_id", $"source")
        .agg(count(lit(1)).as("n"),
          sum(when(expr("graft_polyhash(bgm) % 2 = 0"), 1L).otherwise(0L))
            .as("g"))
        .withColumn("b", lit(2) * $"g" - $"n")
      gr.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n").as("n_pos"),
          sum($"g").as("n_green"),
          expr("(SUM(g) * 1000000) div SUM(n)").as("green_ppm"),
          expr("CASE WHEN SUM(b) >= 0 THEN (SUM(b)*SUM(b)*1000000) div SUM(n) " +
            "ELSE -((SUM(b)*SUM(b)*1000000) div SUM(n)) END").as("z2_signed_ppm"),
          sum(when($"b" >= 0 && $"b" * $"b" >= lit(9) * $"n", 1L).otherwise(0L))
            .as("n_flagged"))
        .orderBy($"source")
    },

    q("q392_dataset_card", {
      val m = qualityMetricsDuck("w").mkString(", ")
      s"""WITH b AS (SELECT doc_id, source, lang, lower(text) AS nt,
         |    string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT source, lang, nt, n_words,
         |    CASE WHEN $QualityKeep THEN 1 ELSE 0 END AS keep
         |  FROM (SELECT source, lang, nt, $m FROM b)),
         |s AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(SUM(n_words) AS BIGINT) AS n_tokens,
         |    CAST(SUM(keep) AS BIGINT) AS n_keep,
         |    CAST(COUNT(DISTINCT nt) AS BIGINT) AS n_distinct_texts
         |  FROM q GROUP BY source),
         |l AS (SELECT source, lang, CAST(COUNT(*) AS BIGINT) AS c,
         |    ROW_NUMBER() OVER (PARTITION BY source
         |      ORDER BY COUNT(*) DESC, lang) AS rn
         |  FROM b GROUP BY source, lang),
         |tl AS (SELECT source, lang AS top_lang, c AS top_lang_docs
         |  FROM l WHERE rn = 1)
         |SELECT s.source, s.n_docs, s.n_tokens,
         |  (s.n_tokens * 1000000) // s.n_docs AS mean_tokens_micro,
         |  tl.top_lang, (tl.top_lang_docs * 1000000) // s.n_docs
         |    AS top_lang_ppm,
         |  (s.n_keep * 1000000) // s.n_docs AS keep_ppm,
         |  ((s.n_docs - s.n_distinct_texts) * 1000000) // s.n_docs
         |    AS dup_ppm
         |FROM s JOIN tl ON tl.source = s.source ORDER BY s.source"""
    }) { (s, dir) =>
      import s.implicits._
      // The dataset card — "Datasheets for Datasets" (Gebru et al. 2021)
      // distilled to the per-source table a release actually ships: volume
      // (docs, tokens, mean length), language composition (majority lang +
      // share), quality (the q129/q133 integer gate pass rate), and
      // within-source exact duplication (normalized text). Every number is
      // an exact BIGINT or a ppm floor DIV — the card is diffable across
      // releases (q307's shadow-gate pattern applies verbatim). One scan
      // feeds both rollups; the language majority is a per-source rank
      // over a |sources|x|langs| table. The composed release pipeline
      // (q323) emits data; this emits its documentation.
      val b = T(s, dir, "documents")
        .select($"doc_id", $"source", $"lang", lower($"text").as("nt"),
          split($"text", " ").as("w"))
        .transform(graft.CacheScope.cached) // stats + language rollups
      val q0 = b.selectExpr(Seq("source", "lang", "nt") ++
          qualityMetricsSpark("w"): _*)
        .withColumn("keep", when(expr(QualityKeep), 1L).otherwise(0L))
      val st = q0.groupBy($"source")
        .agg(count(lit(1)).as("n_docs"), sum($"n_words").as("n_tokens"),
          sum($"keep").as("n_keep"),
          countDistinct($"nt").as("n_distinct_texts"))
      val tl = b.groupBy($"source", $"lang").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"source").orderBy($"c".desc, $"lang")))
        .filter($"rn" === 1)
        .select($"source", $"lang".as("top_lang"), $"c".as("top_lang_docs"))
      st.join(tl, "source")
        .select($"source", $"n_docs", $"n_tokens",
          expr("(n_tokens * 1000000) div n_docs").as("mean_tokens_micro"),
          $"top_lang",
          expr("(top_lang_docs * 1000000) div n_docs").as("top_lang_ppm"),
          expr("(n_keep * 1000000) div n_docs").as("keep_ppm"),
          expr("((n_docs - n_distinct_texts) * 1000000) div n_docs")
            .as("dup_ppm"))
        .orderBy($"source")
    },

    q("q395_gate_length_bias", {
      val m = qualityMetricsDuck("w").mkString(", ")
      s"""WITH b AS (SELECT string_split(text, ' ') AS w FROM documents),
         |q AS (SELECT LEAST(n_words // 10, 9) AS bin,
         |    CASE WHEN $QualityKeep THEN 1 ELSE 0 END AS keep,
         |    CASE WHEN $GateTooShort THEN 1 ELSE 0 END AS g_short,
         |    CASE WHEN $GateRepetitive THEN 1 ELSE 0 END AS g_rep,
         |    CASE WHEN $GateLowStopword THEN 1 ELSE 0 END AS g_stop,
         |    CASE WHEN $GateLowTtr THEN 1 ELSE 0 END AS g_ttr
         |  FROM (SELECT $m FROM b))
         |SELECT CAST(bin AS BIGINT) AS len_bin,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST((SUM(keep) * 1000000) // COUNT(*) AS BIGINT) AS keep_ppm,
         |  CAST((SUM(g_short) * 1000000) // COUNT(*) AS BIGINT) AS short_ppm,
         |  CAST((SUM(g_rep) * 1000000) // COUNT(*) AS BIGINT) AS rep_ppm,
         |  CAST((SUM(g_stop) * 1000000) // COUNT(*) AS BIGINT) AS stop_ppm,
         |  CAST((SUM(g_ttr) * 1000000) // COUNT(*) AS BIGINT) AS ttr_ppm
         |FROM q GROUP BY bin ORDER BY len_bin"""
    }) { (s, dir) =>
      import s.implicits._
      // Length-bias audit of the quality gate — the confound check a
      // filtering paper's appendix runs: per 10-word length bin, the keep
      // rate AND each individual gate's fire rate. The too-short gate
      // firing at low bins is by design; what the audit exposes is whether
      // the OTHER gates (repetition, stopword, TTR) also correlate with
      // length — if they do, the "quality" filter is quietly a length
      // filter, which shifts the corpus length distribution and with it
      // downstream context statistics (q333's batching assumptions, q101's
      // packing efficiency). All gates are the q129/q133 integer
      // cross-multiplications over the shared TextHash metric definitions
      // — one map-side pass, a 10-row output; trivially 100 TB-safe.
      val b = T(s, dir, "documents").select(split($"text", " ").as("w"))
        .selectExpr(qualityMetricsSpark("w"): _*)
      b.select(expr("LEAST(n_words div 10, 9)").as("len_bin"),
          when(expr(QualityKeep), 1L).otherwise(0L).as("keep"),
          when(expr(GateTooShort), 1L).otherwise(0L).as("g_short"),
          when(expr(GateRepetitive), 1L).otherwise(0L).as("g_rep"),
          when(expr(GateLowStopword), 1L).otherwise(0L).as("g_stop"),
          when(expr(GateLowTtr), 1L).otherwise(0L).as("g_ttr"))
        .groupBy($"len_bin")
        .agg(count(lit(1)).as("n_docs"),
          expr("(SUM(keep) * 1000000) div COUNT(1)").as("keep_ppm"),
          expr("(SUM(g_short) * 1000000) div COUNT(1)").as("short_ppm"),
          expr("(SUM(g_rep) * 1000000) div COUNT(1)").as("rep_ppm"),
          expr("(SUM(g_stop) * 1000000) div COUNT(1)").as("stop_ppm"),
          expr("(SUM(g_ttr) * 1000000) div COUNT(1)").as("ttr_ppm"))
        .select($"len_bin".cast("long").as("len_bin"), $"n_docs",
          $"keep_ppm", $"short_ppm", $"rep_ppm", $"stop_ppm", $"ttr_ppm")
        .orderBy($"len_bin")
    },

    q("q388_streaming_watermark", {
      // Streaming twin of q387 through the engine's source — the shape a
      // live ingest gate takes: per-doc green counts and the integer z>=3
      // flag are computed MAP-SIDE on each micro-batch's rows (one row =
      // one document, so the flag needs no cross-batch state at all), and
      // the per-source screen is a complete-mode keyed aggregation whose
      // state is four counters per source forever. The oracle is q387's
      // batch statement over the same documents: streamed counters must
      // equal the batch aggregation exactly.
      s"""WITH w AS (SELECT doc_id, source, string_split(text, ' ') AS w
         |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |bg AS (SELECT doc_id, source, unnest(list_transform(range(len(w)-1),
         |    i -> w[CAST(i+1 AS INT)]||' '||w[CAST(i+2 AS INT)])) AS bgm
         |  FROM w),
         |gr AS (SELECT doc_id, source, CAST(COUNT(*) AS BIGINT) AS n,
         |    CAST(SUM(CASE WHEN (${duckPolyHash("bgm")}) % 2 = 0
         |      THEN 1 ELSE 0 END) AS BIGINT) AS g
         |  FROM bg GROUP BY 1, 2),
         |d AS (SELECT *, 2*g - n AS b FROM gr)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n) AS BIGINT) AS n_pos, CAST(SUM(g) AS BIGINT) AS n_green,
         |  CAST(SUM(CASE WHEN b >= 0 AND b*b >= 9*n THEN 1 ELSE 0 END)
         |    AS BIGINT) AS n_flagged
         |FROM d GROUP BY source ORDER BY source"""
    }) { (s, dir) =>
      import s.implicits._
      val root = graft.LogFixtures.producedLog(dir, "q388") { r =>
        graft.log.LogBulkProducer.produceAt(
          T(s, dir, "documents")
            .withColumn("wz", split($"text", " "))
            .filter(size($"wz") >= 2)
            .select((lit(1700000000000L) + $"doc_id").as("ms"),
              $"doc_id", $"source", $"text"),
          "ms", r, "docs", orderCols = Seq("doc_id"))
      }
      graft.streaming.StreamHarness.runToMemory(s, "q388", mode = "complete") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "docs")
          .option("valueSchema", "doc_id BIGINT, source STRING, text STRING")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", "3000")
          .load()
          .withColumn("w", split($"text", " "))
          .withColumn("stats", expr(
            """aggregate(transform(sequence(1, size(w) - 1),
              |  i -> IF(graft_polyhash(concat(w[i-1], ' ', w[i])) % 2 = 0, 1, 0)),
              |  named_struct('n', CAST(0 AS BIGINT), 'g', CAST(0 AS BIGINT)),
              |  (acc, x) -> named_struct('n', acc.n + CAST(1 AS BIGINT),
              |    'g', acc.g + CAST(x AS BIGINT)))""".stripMargin))
          .select($"source", $"stats.n".as("n"), $"stats.g".as("g"))
          .withColumn("b", lit(2) * $"g" - $"n")
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"), sum($"n").as("n_pos"),
            sum($"g").as("n_green"),
            sum(when($"b" >= 0 && $"b" * $"b" >= lit(9) * $"n", 1L)
              .otherwise(0L)).as("n_flagged"))
      }.orderBy($"source")
    },

    q("q389_spec_decode_acceptance", {
      val sp = splitCaseDuck("doc_id")
      val r6 = graft.ColFns.r6Sql(
        "CAST(1 AS DOUBLE) + a*(CAST(1 AS DOUBLE) + a*(CAST(1 AS DOUBLE) + a*(CAST(1 AS DOUBLE) + a)))")
      s"""WITH w AS (SELECT doc_id, source, $sp AS sp,
         |    string_split(text, ' ') AS w
         |  FROM documents WHERE len(string_split(text, ' ')) >= 2),
         |bg AS (SELECT doc_id, source, sp,
         |    unnest(list_transform(range(len(w)-1), i ->
         |      {'w1': w[CAST(i+1 AS INT)], 'w2': w[CAST(i+2 AS INT)]})) AS b
         |  FROM w),
         |bgf AS (SELECT source, sp, b.w1 AS w1, b.w2 AS w2 FROM bg),
         |tc AS (SELECT w1, w2, CAST(COUNT(*) AS BIGINT) AS c FROM bgf
         |  WHERE sp = 'train' GROUP BY 1, 2),
         |dr AS (SELECT w1, w2 AS pred FROM (SELECT w1, w2,
         |    ROW_NUMBER() OVER (PARTITION BY w1 ORDER BY c DESC, w2) AS rn
         |  FROM tc) WHERE rn = 1),
         |ev AS (SELECT bgf.source, CAST(COUNT(*) AS BIGINT) AS n_pos,
         |    CAST(SUM(CASE WHEN dr.pred = bgf.w2 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_accept
         |  FROM bgf LEFT JOIN dr ON dr.w1 = bgf.w1
         |  WHERE bgf.sp = 'test' GROUP BY bgf.source),
         |ar AS (SELECT source, n_pos, n_accept,
         |    (n_accept * 1000000) // n_pos AS accept_ppm,
         |    CAST(n_accept AS DOUBLE) / CAST(n_pos AS DOUBLE) AS a
         |  FROM ev)
         |SELECT source, n_pos, n_accept, accept_ppm,
         |  $r6 AS tokens_per_step
         |FROM ar ORDER BY source"""
    }) { (s, dir) =>
      import s.implicits._
      // Speculative-decoding acceptance estimator — the serving-economics
      // readout next to q379's prefix-cache share: if a cheap draft model
      // proposes tokens and the target verifies, throughput scales with the
      // draft's acceptance rate (Leviathan et al. 2023). The corpus-side
      // proxy: train a bigram-argmax draft on the md5 TRAIN split (the
      // deterministic argmax: count desc, word asc), measure on the TEST
      // split the fraction of next-words the draft gets right; unseen
      // contexts count as rejects (LEFT JOIN null never equals). The
      // gamma=4 expected accepted-run length (1-a^5)/(1-a) is emitted via
      // the Horner 1+a(1+a(1+a(1+a))) — the SAME IEEE op sequence in both
      // engines off one staged division, r6-rounded. Scale shape: the
      // transition table is vocabulary^2-bounded and aggregates map-side;
      // the draft table (one row per w1) joins by hash equi-join; nothing
      // corpus-sized shuffles twice.
      val sp = splitCaseSpark("doc_id")
      val bgf = T(s, dir, "documents")
        .withColumn("w", split($"text", " "))
        .filter(size($"w") >= 2)
        .withColumn("sp", expr(sp))
        .select($"source", $"sp", explode(expr(
          "transform(sequence(1, size(w) - 1), i -> struct(w[i-1] AS w1, w[i] AS w2))"))
          .as("b"))
        .select($"source", $"sp", $"b.w1".as("w1"), $"b.w2".as("w2"))
        .transform(graft.CacheScope.cached) // train counts + test eval
      val dr = bgf.filter($"sp" === "train")
        .groupBy($"w1", $"w2").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"w1").orderBy($"c".desc, $"w2")))
        .filter($"rn" === 1)
        .select($"w1", $"w2".as("pred"))
      val ev = bgf.filter($"sp" === "test")
        .join(dr, Seq("w1"), "left")
        .groupBy($"source")
        .agg(count(lit(1)).as("n_pos"),
          sum(when($"pred" === $"w2", 1L).otherwise(0L)).as("n_accept"))
      ev.withColumn("accept_ppm", expr("(n_accept * 1000000) div n_pos"))
        .withColumn("a",
          $"n_accept".cast("double") / $"n_pos".cast("double"))
        .select($"source", $"n_pos", $"n_accept", $"accept_ppm",
          graft.ColFns.r6(expr(
            "CAST(1 AS DOUBLE) + a*(CAST(1 AS DOUBLE) + a*(CAST(1 AS DOUBLE) + a*(CAST(1 AS DOUBLE) + a)))"))
            .as("tokens_per_step"))
        .orderBy($"source")
    },

    q("q409_curriculum_schedule",
      // Curriculum schedule: order the corpus into easy → medium → hard
      // training phases by a difficulty score, and report each phase's
      // source mixture — the staged-pretraining planner (and the mixture
      // drift it exposes: if src7 is 40% of phase 2 but 5% of phase 0,
      // the model meets that source late and skewed). Difficulty is the
      // exact integer mean word length (n_chars*1e6/words), COMPACTED to
      // per-mille buckets so the tercile cutpoints come from an exact
      // histogram cumsum — the q88/topWeightEdges pattern: the only
      // window runs over the bounded score DOMAIN, never the corpus, and
      // both engines derive identical integer cutpoints (no
      // approx-percentile cross-engine drift). Assignment is a map-side
      // comparison against the two broadcast cutpoints. Ties share a
      // bucket, so phases are exactly reproducible. 100 TB-safe.
      """WITH d AS (SELECT doc_id, source,
        |    CAST(len(string_split(text, ' ')) AS BIGINT) AS words,
        |    (n_chars * 1000000) // len(string_split(text, ' ')) AS score
        |  FROM documents),
        |b AS (SELECT doc_id, source, words, score // 1000 AS bkt FROM d),
        |h AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) AS c FROM b GROUP BY bkt),
        |cum AS (SELECT bkt, SUM(c) OVER (ORDER BY bkt) AS cum,
        |    (SELECT SUM(c) FROM h) AS n FROM h),
        |cuts AS (SELECT
        |    (SELECT MIN(bkt) FROM cum WHERE cum * 3 >= n) AS cut1,
        |    (SELECT MIN(bkt) FROM cum WHERE cum * 3 >= 2 * n) AS cut2),
        |ph AS (SELECT b.source, b.words,
        |    CASE WHEN b.bkt <= cuts.cut1 THEN 0
        |         WHEN b.bkt <= cuts.cut2 THEN 1 ELSE 2 END AS phase
        |  FROM b, cuts),
        |ps AS (SELECT phase, source, CAST(COUNT(*) AS BIGINT) AS docs,
        |    CAST(SUM(words) AS BIGINT) AS tokens
        |  FROM ph GROUP BY phase, source),
        |pt AS (SELECT phase, CAST(SUM(tokens) AS BIGINT) AS phase_tokens
        |  FROM ps GROUP BY phase)
        |SELECT ps.phase, ps.source, ps.docs, ps.tokens,
        |  (ps.tokens * 1000000) // pt.phase_tokens AS share_ppm
        |FROM ps JOIN pt ON pt.phase = ps.phase
        |ORDER BY ps.phase, ps.source""") { (s, dir) =>
      import s.implicits._
      val b = T(s, dir, "documents")
        .select($"doc_id", $"source",
          expr("CAST(size(split(text, ' ')) AS BIGINT)").as("words"),
          expr("(n_chars * 1000000) div size(split(text, ' '))").as("score"))
        .withColumn("bkt", expr("score div 1000"))
        .transform(graft.CacheScope.cached) // histogram pass + assign pass
      val hist = b.groupBy($"bkt").agg(count(lit(1)).as("c"))
        .transform(graft.CacheScope.cached) // cumsum + total share one pass
      val cuts = hist
        .withColumn("cum", sum($"c").over(
          Window.orderBy($"bkt"))) // bounded: score DOMAIN, not corpus
        .crossJoin(broadcast(hist.agg(sum($"c").as("n"))))
        .agg(min(when($"cum" * 3 >= $"n", $"bkt")).as("cut1"),
          min(when($"cum" * 3 >= lit(2) * $"n", $"bkt")).as("cut2"))
      val ps = b.crossJoin(broadcast(cuts))
        .withColumn("phase", expr(
          "CASE WHEN bkt <= cut1 THEN 0 WHEN bkt <= cut2 THEN 1 ELSE 2 END"))
        .groupBy($"phase", $"source")
        .agg(count(lit(1)).as("docs"), sum($"words").as("tokens"))
      val pt = ps.groupBy($"phase").agg(sum($"tokens").as("phase_tokens"))
      ps.join(broadcast(pt), "phase")
        .select($"phase", $"source", $"docs", $"tokens",
          expr("(tokens * 1000000) div phase_tokens").as("share_ppm"))
        .orderBy($"phase", $"source")
    },

    q("q426_lm_gate_agreement", {
      // Oracle = the identical program: q136's per-doc micro-log LM score,
      // q409's bounded-histogram decile cut, q129's shared gate
      // definitions. Every division is a floor on non-negative operands
      // ((-smlp) is positive because every token log-prob is negative).
      s"""WITH toks AS (SELECT doc_id, unnest(string_split(text, ' ')) tok
         |  FROM documents),
         |freq AS (SELECT tok, CAST(COUNT(*) AS BIGINT) cnt
         |  FROM toks GROUP BY tok),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) n FROM toks),
         |sc AS (SELECT doc_id, ${graft.ColFns.detMlnSql("cnt", "n")} mlp
         |  FROM toks JOIN freq USING (tok), tot),
         |lm AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) nt,
         |    CAST(SUM(mlp) AS BIGINT) smlp
         |  FROM sc GROUP BY doc_id),
         |sco AS (SELECT doc_id, (-smlp) // nt AS am FROM lm),
         |t AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
         |m AS (SELECT doc_id, ${qualityMetricsDuck("w").mkString(", ")}
         |  FROM t),
         |gf AS (SELECT doc_id,
         |    CASE WHEN $QualityKeep THEN 1 ELSE 0 END AS keep,
         |    CASE WHEN $GateTooShort THEN 1 ELSE 0 END AS g_short,
         |    CASE WHEN $GateRepetitive THEN 1 ELSE 0 END AS g_rep,
         |    CASE WHEN $GateLowStopword THEN 1 ELSE 0 END AS g_stop,
         |    CASE WHEN $GateLowTtr THEN 1 ELSE 0 END AS g_ttr
         |  FROM m),
         |j AS (SELECT sco.am // 1000 AS bkt, sco.am, gf.*
         |  FROM sco JOIN gf USING (doc_id)),
         |h AS (SELECT bkt, CAST(COUNT(*) AS BIGINT) c FROM j GROUP BY bkt),
         |cum AS (SELECT bkt, CAST(SUM(c) OVER (ORDER BY bkt) - c AS BIGINT)
         |    AS cb, (SELECT CAST(SUM(c) AS BIGINT) FROM h) AS n FROM h),
         |bd AS (SELECT bkt, LEAST(CAST(9 AS BIGINT), (cb * 10) // n)
         |    AS band FROM cum)
         |SELECT bd.band, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  (CAST(SUM(j.keep) AS BIGINT) * 1000000) // COUNT(*) AS keep_ppm,
         |  CAST(SUM(j.g_short) AS BIGINT) AS n_short,
         |  CAST(SUM(j.g_rep) AS BIGINT) AS n_repetitive,
         |  CAST(SUM(j.g_stop) AS BIGINT) AS n_lowstop,
         |  CAST(SUM(j.g_ttr) AS BIGINT) AS n_lowttr,
         |  CAST(SUM(j.am) AS BIGINT) // COUNT(*) AS avg_neg_logprob_micro
         |FROM j JOIN bd USING (bkt) GROUP BY bd.band ORDER BY bd.band"""
    }) { (s, dir) =>
      import s.implicits._
      // LM-score vs rule-gate agreement audit — the "is the perplexity
      // filter redundant with the C4/Gopher rules" diagnostic every
      // curation team eventually tables: per LM-score decile (q136's
      // corpus-trained micro-log score, deciled by q409's exact bounded-
      // histogram cut, never a corpus-sized rank), the q129 gate stack's
      // keep rate and each individual gate's fire count. If keep_ppm is
      // flat across bands, the LM score adds signal the rules don't have
      // (and vice versa if it collapses to 0/1e6 at the extremes). Two
      // corpus passes (token LM join + map-side metrics) meet in ONE
      // doc-keyed join; the decile machinery runs on the ~100-value
      // centi-nat score domain, broadcast back. 100 TB-safe.
      val toks = T(s, dir, "documents")
        .select($"doc_id", explode(split($"text", " ")).as("tok"))
      val freq = toks.groupBy($"tok").agg(count(lit(1)).as("cnt"))
      val tot = toks.agg(count(lit(1)).as("n"))
      val sco = toks.join(freq, "tok").crossJoin(broadcast(tot))
        .select($"doc_id", graft.ColFns.detMln($"cnt", $"n").as("mlp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("nt"), sum($"mlp").as("smlp"))
        .select($"doc_id", expr("(-smlp) div nt").as("am"))
      val gf = T(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .selectExpr("doc_id" +: qualityMetricsSpark("w"): _*)
        .selectExpr("doc_id",
          s"CAST(IF($QualityKeep, 1, 0) AS BIGINT) AS keep",
          s"CAST(IF($GateTooShort, 1, 0) AS BIGINT) AS g_short",
          s"CAST(IF($GateRepetitive, 1, 0) AS BIGINT) AS g_rep",
          s"CAST(IF($GateLowStopword, 1, 0) AS BIGINT) AS g_stop",
          s"CAST(IF($GateLowTtr, 1, 0) AS BIGINT) AS g_ttr")
      val j = sco.join(gf, "doc_id")
        .withColumn("bkt", expr("am div 1000"))
        .transform(graft.CacheScope.cached) // histogram pass + band join
      val h = j.groupBy($"bkt").agg(count(lit(1)).as("c"))
        .transform(graft.CacheScope.cached) // cumsum + total share one pass
      val bd = h
        .withColumn("cb", sum($"c").over(Window.orderBy($"bkt")) - $"c")
        .crossJoin(broadcast(h.agg(sum($"c").as("n"))))
        .select($"bkt", least(lit(9L), expr("(cb * 10) div n")).as("band"))
      j.join(broadcast(bd), "bkt")
        .groupBy($"band")
        .agg(count(lit(1)).as("n_docs"), sum($"keep").as("sk"),
          sum($"g_short").as("n_short"), sum($"g_rep").as("n_repetitive"),
          sum($"g_stop").as("n_lowstop"), sum($"g_ttr").as("n_lowttr"),
          sum($"am").as("sam"))
        .select($"band", $"n_docs",
          expr("(sk * 1000000) div n_docs").as("keep_ppm"),
          $"n_short", $"n_repetitive", $"n_lowstop", $"n_lowttr",
          expr("sam div n_docs").as("avg_neg_logprob_micro"))
        .orderBy($"band")
    },

    q("q431_span_scrub", {
      // the outer lambda variable must NOT be `i` — duckPolyHash's inner
      // per-char lambda binds `i` and would shadow it (NULL hashes)
      val ph = duckPolyHash("array_to_string(w[CAST(gi+1 AS INT):CAST(gi+13 AS INT)], ' ')")
      s"""WITH words AS (SELECT doc_id, source, string_split(text, ' ') w
         |  FROM documents),
         |gx AS (SELECT doc_id, ${duckHashedSet(duckNGrams("w", 13))} hh
         |  FROM words WHERE len(w) >= 13),
         |ex AS (SELECT doc_id, unnest(hh) h FROM gx),
         |ev AS (SELECT doc_id, h FROM ex WHERE doc_id % 50 = 0),
         |df AS (SELECT ex.h, CAST(COUNT(*) AS BIGINT) df FROM ex
         |  JOIN (SELECT DISTINCT h FROM ev) e ON ex.h = e.h GROUP BY ex.h),
         |pr AS (SELECT COALESCE(list(DISTINCT ev.h), []) pa FROM ev
         |  JOIN df ON ev.h = df.h WHERE df.df <= 10),
         |t AS (SELECT doc_id, source, w,
         |    CASE WHEN len(w) >= 13 THEN list_transform(range(len(w) - 12),
         |      gi -> $ph) ELSE [] END gh
         |  FROM words, pr WHERE doc_id % 50 <> 0),
         |st AS (SELECT doc_id, source, w,
         |    list_filter(range(1, len(gh) + 1),
         |      i -> list_contains(pa, gh[CAST(i AS INT)])) starts
         |  FROM t, pr),
         |sc AS (SELECT doc_id, source, w, starts,
         |    list_transform(list_filter(range(1, len(w) + 1),
         |        p -> len(list_filter(starts,
         |          i -> p >= i AND p <= i + 12)) = 0),
         |      p -> w[CAST(p AS INT)]) w2
         |  FROM st),
         |rs AS (SELECT doc_id, source, w, starts, w2,
         |    CASE WHEN len(w2) >= 13 THEN list_transform(range(len(w2) - 12),
         |      gi -> ${duckPolyHash("array_to_string(w2[CAST(gi+1 AS INT):CAST(gi+13 AS INT)], ' ')")})
         |      ELSE [] END g2
         |  FROM sc)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_train_docs,
         |  CAST(SUM(CASE WHEN len(starts) > 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_docs_touched,
         |  CAST(SUM(len(w)) AS BIGINT) AS tokens_before,
         |  CAST(SUM(len(w) - len(w2)) AS BIGINT) AS tokens_removed,
         |  CAST(SUM(len(list_filter(g2, h -> list_contains(pa, h))))
         |    AS BIGINT) AS residual_overlaps
         |FROM rs, pr GROUP BY source ORDER BY source"""
    }) { (s, dir) =>
      import s.implicits._
      // Contamination span SCRUBBING — the curation ACTION q118/q137 only
      // detect: drop every token covered by a rare (df <= 10) 13-gram
      // shared with the eval slice, rebuild the doc from the surviving
      // tokens, and re-run the detector on the rebuilt text so the
      // operator ships its own certificate (residual_overlaps — scrubbing
      // can in principle SPLICE two clean fragments into a new probe
      // gram, which an honest scrubber must count rather than assume
      // away; the spec pins the fixture's residual at zero). The probe
      // set is tiny (rare grams of the 2% eval slice) and rides BROADCAST
      // into one map-side corpus pass: span marking, token filtering, and
      // the re-scan all happen inside the row, no corpus shuffle beyond
      // the per-source rollup. 100 TB-safe.
      val words = T(s, dir, "documents")
        .select($"doc_id", $"source", split($"text", " ").as("w"))
        .transform(graft.CacheScope.cached) // probe build + scrub pass
      val ex = words.filter(size($"w") >= 13)
        .select($"doc_id", explode(expr(
          s"array_distinct(transform(${nGramsSql("w", 13)}, s -> graft_polyhash(s)))"))
          .as("h"))
        .transform(graft.CacheScope.cached)
      val ev = ex.filter($"doc_id" % 50 === 0)
      val df = ex.as("x")
        .join(broadcast(ev.select($"h").distinct().as("e")), $"x.h" === $"e.h")
        .groupBy($"x.h".as("h")).agg(count(lit(1)).as("df"))
      val pr = ev.join(broadcast(df.filter($"df" <= 10)), "h")
        .agg(collect_set($"h").as("pa"))
      def grams(col: String): String =
        s"""IF(size($col) >= 13, transform(sequence(1, size($col) - 12),
           |  i -> graft_polyhash(concat_ws(' ', slice($col, i, 13)))),
           |  CAST(array() AS ARRAY<BIGINT>))""".stripMargin
      words.filter($"doc_id" % 50 =!= 0)
        .crossJoin(broadcast(pr))
        .withColumn("gh", expr(grams("w")))
        .withColumn("starts", expr(
          // sequence(1, 0) DESCENDS in Spark (q425's lesson) — guard the
          // short-doc case where gh is empty
          """filter(IF(size(gh) >= 1, sequence(1, size(gh)), array()),
            |  i -> array_contains(pa, element_at(gh, i)))""".stripMargin))
        .withColumn("w2", expr(
          """transform(filter(sequence(1, size(w)),
            |    p -> NOT exists(starts, i -> p >= i AND p <= i + 12)),
            |  p -> element_at(w, p))""".stripMargin))
        .withColumn("g2", expr(grams("w2")))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_train_docs"),
          sum(when(size($"starts") > 0, 1L).otherwise(0L)).as("n_docs_touched"),
          sum(size($"w")).cast("long").as("tokens_before"),
          sum(size($"w") - size($"w2")).cast("long").as("tokens_removed"),
          sum(expr("size(filter(g2, h -> array_contains(pa, h)))"))
            .cast("long").as("residual_overlaps"))
        .orderBy($"source")
    },

    q("q438_luhn_pii", Pipeline.luhnOracleSql) { (s, dir) =>
      import s.implicits._
      // Checksum-validated identifier detection — the false-positive
      // killer a PII scrubbing pass (q110 redacts by pattern alone) needs
      // at corpus scale: a 12-19-digit run is only treated as a payment-
      // card-like identifier if its Luhn checksum verifies (ISO/IEC
      // 7812), which random digit runs fail 90% of the time. Fixture
      // plants per doc, closed-form from doc_id: one 16-digit candidate
      // whose check digit is correct iff doc_id % 3 = 0 (else shifted +5,
      // never ≡ 0 mod 10), and one 8-digit run that must be ignored by
      // the length floor. The detector recomputes Luhn over the token
      // text generically — the oracle's valid set certifies the full
      // arithmetic (double every second digit from the right, subtract 9
      // past 9, sum ≡ 0 mod 10). Natural fixture text contributes zero
      // digit runs (honest null). Entirely map-side + one per-source
      // rollup; 100 TB-trivial.
      val sparkLuhn = Pipeline.luhnValidSparkSql
      T(s, dir, "documents")
        .withColumn("d15", expr(
          "transform(sequence(1, 15), j -> (doc_id + 7 * j) % 10)"))
        .withColumn("s15", expr(
          """aggregate(sequence(1, 15), CAST(0 AS BIGINT), (acc, j) ->
            |  acc + CASE WHEN j % 2 = 1
            |    THEN CASE WHEN 2 * element_at(d15, CAST(j AS INT)) > 9
            |      THEN 2 * element_at(d15, CAST(j AS INT)) - 9
            |      ELSE 2 * element_at(d15, CAST(j AS INT)) END
            |    ELSE element_at(d15, CAST(j AS INT)) END)""".stripMargin))
        .withColumn("toks", expr(
          """concat(split(text, ' '), array(
            |  concat(concat_ws('', transform(d15, d -> CAST(d AS STRING))),
            |    CAST(CASE WHEN doc_id % 3 = 0 THEN (10 - s15 % 10) % 10
            |      ELSE ((10 - s15 % 10) % 10 + 5) % 10 END AS STRING)),
            |  concat_ws('', transform(sequence(1, 8), d ->
            |    CAST((doc_id + d) % 10 AS STRING)))))""".stripMargin))
        .withColumn("cands", expr(
          "filter(toks, gt -> gt RLIKE '^[0-9]{12,19}$')"))
        .select($"doc_id", $"source",
          size($"cands").cast("long").as("n_cand"),
          expr("CAST(size(filter(toks, gt -> gt RLIKE '^[0-9]{6,11}$')) " +
            "AS BIGINT)").as("n_short"),
          expr(s"CAST(size(filter(cands, t -> $sparkLuhn)) AS BIGINT)")
            .as("n_valid"))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_cand").as("n_candidates"),
          sum($"n_valid").as("n_valid"),
          expr("CAST((SUM(n_valid) * 1000000) div SUM(n_cand) AS BIGINT)")
            .as("valid_ppm"),
          sum($"n_short").as("n_short_ignored"))
        .orderBy($"source")
    },

    q("q445_streaming_luhn", Pipeline.luhnOracleSql) { (s, dir) =>
      import s.implicits._
      // Streaming twin of q438 through the engine's source — the live
      // PII screen an ingest gate runs BEFORE a document lands in the
      // corpus (scrubbing after the fact still leaves the identifier in
      // every intermediate copy): plant, candidate scan and Luhn
      // validation are pure per-row projections, so they run map-side on
      // each micro-batch; the per-source screen is a complete-mode keyed
      // aggregation holding five BIGINT counters per source forever. The
      // oracle is q438's batch statement verbatim; streamed counters
      // must equal the batch aggregation exactly (row-for-row law in
      // QueriesSpec).
      val root = graft.LogFixtures.documents(s, dir)
      val sparkLuhn = Pipeline.luhnValidSparkSql
      graft.streaming.StreamHarness.runToMemory(s, "q445", mode = "complete") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "documents")
          .option("valueSchema", "doc_id BIGINT, source STRING, text STRING")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", "3000")
          .load()
          .withColumn("d15", expr(
            "transform(sequence(1, 15), j -> (doc_id + 7 * j) % 10)"))
          .withColumn("s15", expr(
            """aggregate(sequence(1, 15), CAST(0 AS BIGINT), (acc, j) ->
              |  acc + CASE WHEN j % 2 = 1
              |    THEN CASE WHEN 2 * element_at(d15, CAST(j AS INT)) > 9
              |      THEN 2 * element_at(d15, CAST(j AS INT)) - 9
              |      ELSE 2 * element_at(d15, CAST(j AS INT)) END
              |    ELSE element_at(d15, CAST(j AS INT)) END)""".stripMargin))
          .withColumn("toks", expr(
            """concat(split(text, ' '), array(
              |  concat(concat_ws('', transform(d15, d -> CAST(d AS STRING))),
              |    CAST(CASE WHEN doc_id % 3 = 0 THEN (10 - s15 % 10) % 10
              |      ELSE ((10 - s15 % 10) % 10 + 5) % 10 END AS STRING)),
              |  concat_ws('', transform(sequence(1, 8), d ->
              |    CAST((doc_id + d) % 10 AS STRING)))))""".stripMargin))
          .withColumn("cands", expr(
            "filter(toks, gt -> gt RLIKE '^[0-9]{12,19}$')"))
          .select($"source",
            size($"cands").cast("long").as("n_cand"),
            expr("CAST(size(filter(toks, gt -> gt RLIKE '^[0-9]{6,11}$')) " +
              "AS BIGINT)").as("n_short"),
            expr(s"CAST(size(filter(cands, t -> $sparkLuhn)) AS BIGINT)")
              .as("n_valid"))
          .groupBy($"source")
          .agg(count(lit(1)).as("n_docs"),
            sum($"n_cand").as("n_candidates"),
            sum($"n_valid").as("n_valid"),
            expr("CAST((SUM(n_valid) * 1000000) div SUM(n_cand) AS BIGINT)")
              .as("valid_ppm"),
            sum($"n_short").as("n_short_ignored"))
      }.orderBy($"source")
    },

    q("q453_token_budget_selection",
      // Token-budget data selection — the "keep the best N tokens" cut
      // every pretraining run makes: rank documents by a quality score
      // (here unique-token ratio in exact ppm), then admit the highest-
      // quality PREFIX whose cumulative token count fits the budget (60%
      // of corpus tokens). Because token counts are positive the
      // admitted set {cum <= budget} is exactly the greedy prefix, so
      // one rule states the whole policy: admitted iff the inclusive
      // running total over (quality DESC, doc_id) fits. The SCALE story
      // is the point: the running total is NOT a corpus-wide
      // single-partition window — quality_ppm lives on a compacted
      // domain (<= ~2.7k distinct values here, <= 1e6 always), so the
      // global prefix decomposes into (a) a window over the COMPACTED
      // (quality, count, token-sum) table for the strictly-higher-quality
      // mass, broadcast back, plus (b) a per-quality window keyed on
      // quality_ppm for the in-value order (q219/q289's
      // compacted-domain discipline). Everything integer; DIVs
      // non-negative.
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS w FROM documents),
        |t AS (SELECT doc_id, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST((CAST(len(list_distinct(w)) AS BIGINT) * 1000000) // len(w)
        |      AS BIGINT) AS quality_ppm
        |  FROM d),
        |b AS (SELECT CAST((SUM(n_tokens) * 3) // 5 AS BIGINT) AS budget FROM t),
        |c AS (SELECT doc_id, n_tokens, quality_ppm,
        |    CAST(SUM(n_tokens) OVER (ORDER BY quality_ppm DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum_tokens
        |  FROM t)
        |SELECT c.doc_id, c.n_tokens, c.quality_ppm, c.cum_tokens,
        |  c.cum_tokens <= b.budget AS admitted
        |FROM c, b ORDER BY c.doc_id""") { (s, dir) =>
      import s.implicits._
      val t = T(s, dir, "documents")
        .select($"doc_id", split($"text", " ").as("w"))
        .select($"doc_id",
          size($"w").cast("long").as("n_tokens"),
          expr("(CAST(size(array_distinct(w)) AS BIGINT) * 1000000) div " +
            "CAST(size(w) AS BIGINT)").as("quality_ppm"))
        .transform(graft.CacheScope.cached) // budget + compaction + verdicts
      val budget = t.agg(expr("CAST((SUM(n_tokens) * 3) div 5 AS BIGINT)")
        .as("budget"))
      // strictly-higher-quality token mass from the COMPACTED domain
      val wQ = Window.orderBy($"quality_ppm".desc)
      val comp = t.groupBy($"quality_ppm")
        .agg(sum($"n_tokens").as("qsum"))
        .withColumn("qcum_before", sum($"qsum").over(wQ) - $"qsum")
        .select($"quality_ppm", $"qcum_before")
      // in-value order: a window KEYED on quality_ppm (doc_id unique, so
      // Spark's default RANGE frame equals ROWS — the q204 rule)
      val wIn = Window.partitionBy($"quality_ppm").orderBy($"doc_id")
      t.join(broadcast(comp), "quality_ppm")
        .withColumn("cum_tokens", $"qcum_before" + sum($"n_tokens").over(wIn))
        .crossJoin(broadcast(budget))
        .select($"doc_id", $"n_tokens", $"quality_ppm", $"cum_tokens",
          ($"cum_tokens" <= $"budget").as("admitted"))
        .orderBy($"doc_id")
    },
    q("q455_source_budget_mixing",
      // Per-SOURCE token-budget mixing — the multi-tenant form of q453
      // and the enforcement half of q165's mixing weights: a release
      // allocates the global 60% token budget across sources by a target
      // mix (here share_k proportional to k+1, closed-form so the oracle
      // replays it), and each source independently admits its highest-
      // quality prefix into its own allocation. EVERY window here is
      // keyed: the compacted (source, quality) mass table windows
      // partitioned by source (bounded by the per-source quality domain),
      // the in-value order windows by (source, quality) — the fully-keyed
      // generalization of q453 with no unpartitioned window at all.
      // Readout per source: allocation, admitted docs/tokens, fill ppm
      // (how much of the allocation the source could actually fill at
      // its quality profile), and the quality cutoff (-1 = nothing
      // admitted). Integer-exact throughout.
      """WITH d AS (SELECT doc_id, source, string_split(text, ' ') AS w
        |  FROM documents),
        |t AS (SELECT doc_id, source, CAST(len(w) AS BIGINT) AS n_tokens,
        |    CAST((CAST(len(list_distinct(w)) AS BIGINT) * 1000000) // len(w)
        |      AS BIGINT) AS quality_ppm
        |  FROM d),
        |tot AS (SELECT CAST((SUM(n_tokens) * 3) // 5 AS BIGINT) AS gb FROM t),
        |b AS (SELECT DISTINCT source,
        |    CAST((gb * (CAST(substr(source, 4) AS BIGINT) + 1)) // 210
        |      AS BIGINT) AS budget
        |  FROM t, tot),
        |c AS (SELECT doc_id, source, n_tokens, quality_ppm,
        |    CAST(SUM(n_tokens) OVER (PARTITION BY source
        |      ORDER BY quality_ppm DESC, doc_id
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
        |      AS cum
        |  FROM t),
        |v AS (SELECT c.source, c.n_tokens, c.quality_ppm,
        |    CASE WHEN c.cum <= b.budget THEN 1 ELSE 0 END AS adm, b.budget
        |  FROM c JOIN b ON b.source = c.source)
        |SELECT source,
        |  CAST(MIN(budget) AS BIGINT) AS budget,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(adm) AS BIGINT) AS n_admitted,
        |  CAST(SUM(adm * n_tokens) AS BIGINT) AS admitted_tokens,
        |  CAST((SUM(adm * n_tokens) * 1000000) // MIN(budget) AS BIGINT)
        |    AS fill_ppm,
        |  CAST(COALESCE(MIN(CASE WHEN adm = 1 THEN quality_ppm END), -1)
        |    AS BIGINT) AS cut_quality_ppm
        |FROM v GROUP BY source ORDER BY source""") { (s, dir) =>
      import s.implicits._
      val t = T(s, dir, "documents")
        .select($"doc_id", $"source", split($"text", " ").as("w"))
        .select($"doc_id", $"source",
          size($"w").cast("long").as("n_tokens"),
          expr("(CAST(size(array_distinct(w)) AS BIGINT) * 1000000) div " +
            "CAST(size(w) AS BIGINT)").as("quality_ppm"))
        .transform(graft.CacheScope.cached) // total + compaction + verdicts
      val tot = t.agg(expr("CAST((SUM(n_tokens) * 3) div 5 AS BIGINT)").as("gb"))
      val b = t.select($"source").distinct()
        .crossJoin(broadcast(tot))
        .select($"source", expr(
          "CAST((gb * (CAST(substr(source, 4) AS BIGINT) + 1)) div 210 " +
            "AS BIGINT)").as("budget"))
      val wQ = Window.partitionBy($"source").orderBy($"quality_ppm".desc)
      val comp = t.groupBy($"source", $"quality_ppm")
        .agg(sum($"n_tokens").as("qsum"))
        .withColumn("qcum_before", sum($"qsum").over(wQ) - $"qsum")
        .select($"source", $"quality_ppm", $"qcum_before")
      val wIn = Window.partitionBy($"source", $"quality_ppm").orderBy($"doc_id")
      t.join(broadcast(comp), Seq("source", "quality_ppm"))
        .withColumn("cum", $"qcum_before" + sum($"n_tokens").over(wIn))
        .join(broadcast(b), "source")
        .withColumn("adm", when($"cum" <= $"budget", 1L).otherwise(0L))
        .groupBy($"source")
        .agg(min($"budget").as("budget"), count(lit(1)).as("n_docs"),
          sum($"adm").as("n_admitted"),
          sum($"adm" * $"n_tokens").as("admitted_tokens"),
          expr("CAST((SUM(adm * n_tokens) * 1000000) div MIN(budget) " +
            "AS BIGINT)").as("fill_ppm"),
          coalesce(min(when($"adm" === 1L, $"quality_ppm")), lit(-1L))
            .as("cut_quality_ppm"))
        .orderBy($"source")
    },

    q("q461_mojibake_detect", {
      val p = mojiPlantExpr
      s"""WITH pl AS (SELECT doc_id, source, $p AS p FROM documents),
         |m AS (SELECT doc_id, source, p,
         |    (length(p) - length(replace(p, '$Moji1', ''))) // 2 AS n1,
         |    (length(p) - length(replace(p, '$Moji2', ''))) // 3 AS n2,
         |    replace(replace(p, '$Moji1', '$Fix1'), '$Moji2', '$Fix2') AS r
         |  FROM pl)
         |SELECT doc_id, source,
         |  CAST(n1 AS BIGINT) AS n_moji_latin1,
         |  CAST(n2 AS BIGINT) AS n_moji_cp1252,
         |  CAST(CASE WHEN n1 > 0 THEN 1 ELSE 0 END
         |    + CASE WHEN n2 > 0 THEN 2 ELSE 0 END AS BIGINT) AS kind_mask,
         |  n1 + n2 > 0 AS flagged,
         |  CAST(length(p) - length(r) AS BIGINT) AS len_delta,
         |  md5(r) AS repaired_digest
         |FROM m ORDER BY doc_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Mojibake (encoding-corruption) detection + repair — the ftfy
      // pass every web corpus needs: UTF-8 bytes re-decoded as Latin-1 /
      // cp1252 leave fingerprint digraphs ('Ã©' for e-acute,
      // 'â€™' for the curly apostrophe) that never occur
      // in clean text. The fixture plants both corruption kinds
      // closed-form (disjoint and OVERLAPPING docs exist: doc_id % 4 = 1
      // plants three Latin-1 artifacts, doc_id % 6 = 3 plants two cp1252
      // ones; both hold at doc_id % 12 = 9); detection counts artifact
      // occurrences by replace-length arithmetic, repair reverses the
      // mis-decode, and len_delta = n1 + 2*n2 cross-checks count against
      // repair (each repair collapses the digraph to one code point).
      // Entirely map-side string work — no shuffle at any scale; the
      // ORDER BY is presentation.
      T(s, dir, "documents")
        .withColumn("p", expr(mojiPlantExpr))
        .withColumn("n1",
          expr(s"(length(p) - length(replace(p, '$Moji1', ''))) div 2"))
        .withColumn("n2",
          expr(s"(length(p) - length(replace(p, '$Moji2', ''))) div 3"))
        .withColumn("r",
          expr(s"replace(replace(p, '$Moji1', '$Fix1'), '$Moji2', '$Fix2')"))
        .select($"doc_id", $"source",
          $"n1".cast("long").as("n_moji_latin1"),
          $"n2".cast("long").as("n_moji_cp1252"),
          (when($"n1" > 0, 1L).otherwise(0L) +
            when($"n2" > 0, 2L).otherwise(0L)).cast("long").as("kind_mask"),
          ($"n1" + $"n2" > 0).as("flagged"),
          (length($"p") - length($"r")).cast("long").as("len_delta"),
          md5($"r".cast("binary")).as("repaired_digest"))
        .orderBy($"doc_id")
    },

    q("q462_iban_pii", {
      // DuckDB rendering of the shared plant + the streaming mod-97 fold.
      val bban = "list_transform(range(1, 19), j -> (doc_id*3 + 5*j) % 10)"
      val mod97 = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_append(bban, CAST(1300 + 14 AS BIGINT))), (acc, d) -> " +
        "CASE WHEN d >= 100 THEN (acc * 10000 + d) % 97 " +
        "ELSE (acc * 10 + d) % 97 END)"
      val valid = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(1, length(rearr)+1), i -> CASE " +
        "WHEN substr(rearr, CAST(i AS INT), 1) BETWEEN '0' AND '9' " +
        "THEN CAST(substr(rearr, CAST(i AS INT), 1) AS BIGINT) " +
        "ELSE ascii(substr(rearr, CAST(i AS INT), 1)) - 55 + 100 END)), " +
        "(acc, d) -> CASE WHEN d >= 100 THEN (acc * 100 + d - 100) % 97 " +
        "ELSE (acc * 10 + d) % 97 END)"
      s"""WITH b AS (SELECT doc_id, source, $bban AS bban FROM documents),
         |c AS (SELECT doc_id, source, bban,
         |    98 - ($mod97 * 100) % 97 AS chk FROM b),
         |t AS (SELECT doc_id, source,
         |    concat('DE', lpad(CAST(CASE WHEN doc_id % 3 = 0 THEN chk
         |        WHEN chk >= 98 THEN chk - 1 ELSE chk + 1 END
         |      AS STRING), 2, '0'),
         |      array_to_string(list_transform(bban, d ->
         |        CAST(d AS VARCHAR)), '')) AS iban,
         |    concat('DE', array_to_string(list_transform(bban, d ->
         |      CAST(d AS VARCHAR)), '')) AS short_miss
         |  FROM c),
         |v AS (SELECT doc_id, source, iban,
         |    CASE WHEN regexp_matches(iban, '^DE[0-9]{20}$$') THEN 1 ELSE 0
         |      END AS is_cand,
         |    CASE WHEN regexp_matches(short_miss, '^DE[0-9]{18}$$') THEN 1
         |      ELSE 0 END AS miss_cand,
         |    concat(substr(iban, 5), substr(iban, 1, 4)) AS rearr
         |  FROM t),
         |z AS (SELECT doc_id, source, is_cand, miss_cand,
         |    CASE WHEN is_cand = 1 AND $valid = 1 THEN 1 ELSE 0 END AS ok
         |  FROM v)
         |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(is_cand) AS BIGINT) AS n_candidates,
         |  CAST(SUM(ok) AS BIGINT) AS n_valid,
         |  CAST((SUM(ok) * 1000000) // SUM(is_cand) AS BIGINT) AS valid_ppm,
         |  CAST(SUM(miss_cand) AS BIGINT) AS n_length_misses
         |FROM z GROUP BY source ORDER BY source"""
    }) { (s, dir) =>
      import s.implicits._
      // IBAN detection with mod-97 checksum validation (ISO 13616 /
      // ISO 7064) — the second checksum-backed PII screen beside q438's
      // Luhn: a DE-shaped token is only PII if moving the first four
      // chars to the end, mapping letters A=10..Z=35, and streaming the
      // digits through acc = (acc*10 + d) % 97 yields 1. The plant is
      // closed-form: check digits computed by the REAL recipe
      // (98 - mod97(BBAN || 'DE00')) and left correct iff doc_id % 3 = 0,
      // else shifted by one (never ≡ 1); a 20-char near-miss token pins
      // the length gate. The validator is generic char-by-char streaming
      // mod — no big-integer type needed, the same fold both engines run
      // (the fixture's 22-char IBAN keeps the per-row HOF bounded).
      // Map-side + one source rollup; 100 TB-trivial.
      val bbanSpark = "transform(sequence(1, 18), j -> (doc_id*3 + 5*j) % 10)"
      val mod97Spark = "aggregate(concat(bban, array(CAST(1300 + 14 AS BIGINT))), " +
        "CAST(0 AS BIGINT), (acc, d) -> CASE WHEN d >= 100 " +
        "THEN (acc * 10000 + d) % 97 ELSE (acc * 10 + d) % 97 END)"
      val validSpark = ibanMod97Spark("rearr")
      T(s, dir, "documents")
        .withColumn("bban", expr(bbanSpark))
        .withColumn("chk", expr(s"98 - ($mod97Spark * 100) % 97"))
        .withColumn("iban", expr(
          """concat('DE', lpad(CAST(CASE WHEN doc_id % 3 = 0 THEN chk
            |    WHEN chk >= 98 THEN chk - 1 ELSE chk + 1 END
            |  AS STRING), 2, '0'),
            |  array_join(transform(bban, d -> CAST(d AS STRING)), ''))"""
            .stripMargin))
        .withColumn("short_miss", expr(
          "concat('DE', array_join(transform(bban, d -> CAST(d AS STRING)), ''))"))
        .withColumn("is_cand",
          when(expr("iban RLIKE '^DE[0-9]{20}$'"), 1L).otherwise(0L))
        .withColumn("miss_cand",
          when(expr("short_miss RLIKE '^DE[0-9]{18}$'"), 1L).otherwise(0L))
        .withColumn("rearr", expr("concat(substring(iban, 5), substring(iban, 1, 4))"))
        .withColumn("ok",
          when($"is_cand" === 1L && expr(validSpark) === 1L, 1L).otherwise(0L))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_docs"),
          sum($"is_cand").as("n_candidates"),
          sum($"ok").as("n_valid"),
          expr("CAST((SUM(ok) * 1000000) div SUM(is_cand) AS BIGINT)")
            .as("valid_ppm"),
          sum($"miss_cand").as("n_length_misses"))
        .orderBy($"source")
    },
  )

  // ---- q461 fixture synthesis: the two classic mis-decode digraphs,
  // shared verbatim by both dialects (all BMP code points, so Spark and
  // DuckDB length() agree).

  /** UTF-8 e-acute (0xC3 0xA9) re-decoded as Latin-1. (defs, not vals:
    * the oracle SQL interpolates these while the `defs` val initializes,
    * which is BEFORE any val declared below it would be assigned.)
    */
  private def Moji1 = "Ã©"

  /** UTF-8 right single quote (0xE2 0x80 0x99) re-decoded as cp1252. */
  private def Moji2 = "â€™"

  private def Fix1 = "é"
  private def Fix2 = "’"

  /** q462's streaming mod-97 over an already-rearranged IBAN string expr
    * (first four chars moved to the end): digits feed acc = (acc*10+d)%97,
    * letters A..Z feed their two-digit 10..35 value. The result equals the
    * ISO 7064 big-integer remainder; a string is a valid IBAN iff this is
    * 1. Exposed for QueriesSpec's published-test-vector law.
    */
  private[graft] def ibanMod97Spark(rearr: String): String =
    s"aggregate(transform(sequence(1, length($rearr)), " +
      s"i -> CASE WHEN substring($rearr, i, 1) BETWEEN '0' AND '9' " +
      s"THEN CAST(substring($rearr, i, 1) AS BIGINT) " +
      s"ELSE CAST(ascii(substring($rearr, i, 1)) - 55 + 100 AS BIGINT) END), " +
      s"CAST(0 AS BIGINT), (acc, d) -> CASE WHEN d >= 100 " +
      s"THEN (acc * 100 + d - 100) % 97 ELSE (acc * 10 + d) % 97 END)"

  private def mojiPlantExpr: String =
    s"concat(text, CASE WHEN doc_id % 4 = 1 THEN " +
      s"concat(' caf', '$Moji1', ' r', '$Moji1', 'sum', '$Moji1') " +
      s"ELSE '' END, CASE WHEN doc_id % 6 = 3 THEN " +
      s"concat(' don', '$Moji2', 't say we didn', '$Moji2', 't') " +
      s"ELSE '' END)"

  /** q438/q445 shared oracle: per-source Luhn-validated identifier screen
    * over the closed-form plants. gj/gt/gd outer lambda vars; Luhn stated
    * over a generic token t. */
  private def luhnOracleSql: String = {
    val duckDigit = "ascii(substr(t, CAST(length(t) - gj + 1 AS INT), 1)) - 48"
    val duckLuhn =
      s"""list_sum(list_transform(range(1, length(t) + 1), gj ->
         |  CASE WHEN gj % 2 = 0
         |    THEN CASE WHEN 2 * ($duckDigit) > 9
         |      THEN 2 * ($duckDigit) - 9 ELSE 2 * ($duckDigit) END
         |    ELSE $duckDigit END)) % 10 = 0""".stripMargin
    s"""WITH p AS (SELECT doc_id, source, text,
       |    list_transform(range(1, 16), gj -> (doc_id + 7 * gj) % 10)
       |      AS d15
       |  FROM documents),
       |ck AS (SELECT doc_id, source, text, d15,
       |    list_sum(list_transform(range(1, 16), gj ->
       |      CASE WHEN gj % 2 = 1
       |        THEN CASE WHEN 2 * d15[CAST(gj AS INT)] > 9
       |          THEN 2 * d15[CAST(gj AS INT)] - 9
       |          ELSE 2 * d15[CAST(gj AS INT)] END
       |        ELSE d15[CAST(gj AS INT)] END)) AS s15
       |  FROM p),
       |pl AS (SELECT doc_id, source,
       |    string_split(text, ' ')
       |      || [array_to_string(list_transform(d15, gd ->
       |            CAST(gd AS VARCHAR)), '')
       |          || CAST(CASE WHEN doc_id % 3 = 0
       |              THEN (10 - s15 % 10) % 10
       |              ELSE ((10 - s15 % 10) % 10 + 5) % 10 END AS VARCHAR),
       |          array_to_string(list_transform(range(1, 9), gd ->
       |            CAST((doc_id + gd) % 10 AS VARCHAR)), '')] AS toks
       |  FROM ck),
       |sc AS (SELECT doc_id, source,
       |    CAST(len(list_filter(toks, gt ->
       |      regexp_matches(gt, '^[0-9]{12,19}$$'))) AS BIGINT) AS n_cand,
       |    CAST(len(list_filter(toks, gt ->
       |      regexp_matches(gt, '^[0-9]{6,11}$$'))) AS BIGINT) AS n_short,
       |    CAST(len(list_filter(list_filter(toks, gt ->
       |        regexp_matches(gt, '^[0-9]{12,19}$$')), t ->
       |      $duckLuhn)) AS BIGINT) AS n_valid
       |  FROM pl)
       |SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
       |  CAST(SUM(n_cand) AS BIGINT) AS n_candidates,
       |  CAST(SUM(n_valid) AS BIGINT) AS n_valid,
       |  CAST((SUM(n_valid) * 1000000) // SUM(n_cand) AS BIGINT)
       |    AS valid_ppm,
       |  CAST(SUM(n_short) AS BIGINT) AS n_short_ignored
       |FROM sc GROUP BY source ORDER BY source"""
    // NO .stripMargin here: QueryDef.q strips margins itself, and a
    // double strip eats the leading pipe of a line-initial `||` operator
  }

  /** q433/q434 shared oracle: per-source additive content roots with the
    * md5-half previous release. */
  private def manifestOracleSql: String = {
    val ph = duckPolyHash("text")
    s"""WITH d AS (SELECT source,
       |    CASE WHEN substring(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '80'
       |      THEN 1 ELSE 0 END AS is_old,
       |    $ph AS h
       |  FROM documents)
       |SELECT source,
       |  CAST(SUM(is_old) AS BIGINT) AS n_docs_prev,
       |  CAST(COUNT(*) AS BIGINT) AS n_docs_now,
       |  CAST(SUM(is_old * h) AS BIGINT) AS root_prev,
       |  CAST(SUM(h) AS BIGINT) AS root_now,
       |  CAST(SUM((1 - is_old) * h) AS BIGINT) AS delta_root
       |FROM d GROUP BY source ORDER BY source""".stripMargin
  }

}
