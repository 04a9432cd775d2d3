package graft.tools

import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Scaling-curve bench: runs ten headline BATCH operators at sf0.1 and at a
  * synthetic 10x row-count scale-up of the tables they touch, and reports
  * per-query scaling exponents (exp = log10(t10x / t1x); 1.0 = perfectly
  * linear, < 1 = fixed costs still amortizing, > 1.3 = something
  * super-linear hides in the plan). This is the direct measurement behind
  * the "survives 100x" claims PLANS.md argues structurally.
  *
  * The scale-up preserves each operator's semantic shape instead of naively
  * duplicating rows:
  *  - lineitem/orders: 10 copies with key offsets (order keys and customer
  *    keys shift per copy, so group sizes and join fan-outs stay constant);
  *  - documents: 10 copies with doc_id offsets AND a per-copy word prefix —
  *    duplicating text verbatim would hand the dedup family 10-member dup
  *    groups everywhere (a quadratic artifact of the synthesis, not of the
  *    plan); prefixing every word decorrelates copies while keeping the
  *    WITHIN-copy duplicate rate identical to the source corpus;
  *  - embeddings: 10 copies with vec_id offsets; the fixed probe/plane/seed
  *    vectors (vec_id < k, or 100..105) exist only in copy 0, so broadcast
  *    side sizes stay constant and only the corpus side grows.
  */
object ScaleCurve {

  /** Ten headline batch operators, chosen to cover the shuffle profiles:
    * full-scan agg, pushdown filter, window, top-k, hash-window dedup,
    * map-side scoring, ppjoin candidate generation, dictionary join,
    * map-side quantization, LSH-bucketed clustering.
    */
  val Queries: Seq[String] = Seq(
    "q01_pricing_summary", "q02_filter_project", "q18_window_topk",
    "q23_top20", "q40_dedup_exact", "q47_text_langid",
    "q92_dedup_jaccard_prefix", "q160_subword_tokens",
    "q97_embedding_quantize", "q141_semantic_dedup",
    // round-6 continuation: the two new data-dominated plans — BM25's
    // postings shuffle and containment's inverted-index self-join
    "q169_bm25_topk", "q181_containment",
    // round 7: chained funnel (user-keyed agg-join chain over scaled
    // events), k-core peeling (pair-gen + iterative rounds), LLR pairs
    // (basket-bounded expansion)
    "q227_funnel_conversion", "q229_kcore_decomposition",
    "q231_llr_copurchase",
    // round-7 continuation: trained-NB scoring (vocab-keyed likelihood
    // join over scaled documents) and the point-in-time SCD2 lookup
    // (user-keyed interval join over scaled events)
    "q238_naive_bayes", "q247_point_in_time_join",
    // round-7 session additions: coverage-expansion rolling distinct
    // (7x fan-out of the collapsed user-day table), basket-bounded CF
    // pair expansion + broadcast counts, and the pure map-side chunker
    // as the linear baseline every other exponent is read against
    "q267_rolling_wau", "q277_item_cf", "q274_doc_chunking",
    // round 8: the composed release DAG (LSH + materialized seam + BM25),
    // banded perceptual-hash image dedup, the capped wedge join (bounded
    // fan-out must show in the exponent), and the bigram-LM scorer
    // (bigram-keyed train/held join)
    "q323_release_pipeline", "q338_image_near_dup",
    "q322_capped_common_neighbors", "q330_bigram_perplexity",
    // round 9: Kneser-Ney scoring (three vocab-keyed count joins over
    // scaled documents), the dedup ROI rollup (banded candidates + yield
    // windows), span-corruption accounting (pure map-side linear
    // baseline), the conformal gate (compacted-domain rank + broadcast
    // threshold probe), and the count-min build (map-side sketch, 1 KB
    // across the shuffle)
    "q371_kneser_ney", "q372_dedup_roi_curve", "q368_span_corruption",
    "q369_conformal_threshold",
    // round-9 continuation: cross-split LSH decontamination (banded
    // candidates must stay subquadratic), incremental minhash dedup
    // (delta x index equi-join), IVF kNN-OOD (cell-mate candidates), and
    // the DoReMi reweighting (token-keyed frequency join — the q136
    // shape under a different readout)
    "q380_semantic_decontaminate", "q385_incremental_dedup",
    "q390_knn_ood", "q391_doremi_reweight",
    // round-9 session 3: the triple-walk vocabulary ablation (dictionary-
    // sized compute, corpus-sized word-count joins) and the cross-fold
    // leakage audit (banded LSH pairs + fold equi-joins — the candidate
    // volume must stay subquadratic under the decorrelated 10x corpus)
    "q401_vocab_ablation", "q407_fold_leakage",
    // round-10 additions: the two-phase-cumsum packing audit (explode of
    // per-doc window segments — must stay linear in tokens, never
    // windows x docs) and the repeated-bigram span audit (per-doc gram
    // positions + doc-keyed offsets join)
    "q412_packing_contamination", "q416_chunking_dependency_loss",
    // round 11: the one-pass integer Gram (d^2 map-side expansion must
    // stay linear in vectors), the unigram-LM tokenizer trainer (corpus
    // collapse + dictionary-sized EM — the 10x prefixed corpus grows the
    // dictionary 10x, so this measures the dictionary walk too), the
    // map-side period scan (pure linear baseline), and the LM-vs-gate
    // audit (token-keyed LM join + bounded decile machinery)
    "q421_pca_anisotropy", "q423_unigram_lm_tokenizer",
    "q425_period_detection", "q426_lm_gate_agreement",
    // driver round 10: CDC chunking (chunk-hash occurrence shuffle —
    // the storage-dedup plan must stay linear in chunk instances),
    // winnowing (fingerprint equi-join partner degree — must stay
    // subquadratic on the decorrelated 10x corpus), and the Luhn scan
    // as a pure map-side linear baseline
    "q437_cdc_chunking", "q439_winnowing", "q438_luhn_pii",
    // round 11: the PRODUCTION dedup path (banded MinHash LSH) measured
    // beside its q92 foil — on real closed-vocabulary 10x data the
    // prefix-filtered exact join goes super-linear (postings saturate,
    // candidates ~ sum df^2), while the banded join's candidate volume
    // tracks actual similarity; and the delta IVF-PQ maintenance pass,
    // which must stay O(delta)+index-broadcast
    "q42_dedup_minhash_lsh", "q448_ivfpq_delta_maintenance")

  private val KeyOffset = 1000000000000L // far above any fixture key

  private def copies(spark: SparkSession, base: DataFrame, factor: Int)
      (shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until factor).map(c => shift(base, c)).reduce(_ unionAll _)

  /** Materialize the scaled tables under `out` with the fixture layout
    * (`<name>.parquet`), so `graft.Tables.load(out, name)` serves them.
    */
  def buildScaled(spark: SparkSession, baseDir: String, out: String,
      factor: Int): Unit = {
    def read(name: String): DataFrame = graft.Tables.load(spark, baseDir, name)
    def write(df: DataFrame, name: String): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    write(copies(spark, read("lineitem"), factor) { (df, c) =>
      df.withColumn("l_orderkey", col("l_orderkey") + lit(c * KeyOffset))
    }, "lineitem")
    write(copies(spark, read("orders"), factor) { (df, c) =>
      df.withColumn("o_orderkey", col("o_orderkey") + lit(c * KeyOffset))
        .withColumn("o_custkey", col("o_custkey") + lit(c * KeyOffset))
    }, "orders")
    write(copies(spark, read("documents"), factor) { (df, c) =>
      val shifted = df.withColumn("doc_id", col("doc_id") + lit(c * KeyOffset))
      if (c == 0) shifted
      else shifted.withColumn("text",
        array_join(transform(split(col("text"), " "),
          w => concat(lit(s"c${c}_"), w)), " "))
    }, "documents")
    write(copies(spark, read("embeddings"), factor) { (df, c) =>
      df.withColumn("vec_id", col("vec_id") + lit(c * KeyOffset))
    }, "embeddings")
    // events: 10x USERS (user_id/event_id offsets), same time span — each
    // copy keeps every user's event chain intact, so funnel/retention
    // group sizes stay constant and only the population grows (the shape
    // those operators scale along in production). `ts` is written as the
    // canonical zoned TIMESTAMP; Tables.load passes it through unchanged.
    write(copies(spark, read("events"), factor) { (df, c) =>
      df.withColumn("user_id", col("user_id") + lit(c * KeyOffset))
        .withColumn("event_id", col("event_id") + lit(c * KeyOffset))
    }, "events")
  }

  /** Usage: ScaleCurve [baseDir] [factor] [realScaledDir]
    *
    * With a third argument, the 10x point is measured on that pre-built
    * directory (e.g. GenSf's REAL sf1.0 re-draw) instead of the synthetic
    * key-offset copy-up, and the JSON records `"mode":"real"`.
    */
  def main(args: Array[String]): Unit = {
    val baseDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val factor = if (args.length > 1) args(1).toInt else 10
    val realDir = if (args.length > 2) Some(args(2)) else None
    val spark = graft.GraftSession.builder(graft.GraftSession.envCpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    val scaledDir = realDir.getOrElse {
      val d = graft.TempDirs.scratch("graft-scalecurve")
      buildScaled(spark, baseDir, d, factor)
      d
    }

    graft.QueryTimer.warmUp(spark, "scalecurve", baseDir)
    def best2(name: String, dir: String): Option[Double] =
      graft.QueryTimer.times(spark, "scalecurve", name, dir, 2).minOption

    // a query that fails at either scale is left out of the curve
    val rows = Queries.flatMap { name =>
      for (t1 <- best2(name, baseDir); tN <- best2(name, scaledDir))
        yield (name, t1, tN, math.log(tN / t1) / math.log(factor.toDouble))
    }
    val mode = if (realDir.isDefined) "real" else "synthetic"
    val json = rows.map { case (n, t1, tN, e) =>
      f""""$n":{"t1":$t1%.3f,"t$factor":$tN%.3f,"exp":$e%.2f}"""
    }.mkString(s"""{"metric":"scale_curve","factor":$factor,"base":"$baseDir","mode":"$mode","queries":{""", ",", "}}")
    java.nio.file.Files.write(
      java.nio.file.Paths.get(sys.props("user.dir"), "SCALE_CURVE.json"),
      json.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    println(json)
    spark.stop()
  }
}
