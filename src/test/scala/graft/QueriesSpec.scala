package graft

import org.scalatest.funsuite.AnyFunSuite

/** One generated spec per operator query (SURVEY.md §2B): every
  * `SparkEntry.queries` entry must plan and execute on the sf0.001 fixtures.
  * Value-level correctness is the DuckDB oracle's job (driver gate +
  * tools/check_oracle.py); this guards against plan-time regressions
  * (unresolved columns, broken expressions) on every `sbt test`.
  */
class QueriesSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  // queries whose predicates legitimately select few/no rows at sf0.001
  private val mayBeEmpty = Set("q44_embedding_neardup", "q69_embedding_lsh",
    "q41_dedup_ngram_jaccard", "q92_dedup_jaccard_prefix",
    "q42_dedup_minhash_lsh", "q43_dedup_simhash",
    "q06_join_full", "q07_join_semi", "q08_join_anti", "q24_union",
    "q25_intersect", "q26_except")

  SparkEntry.all.foreach { d =>
    test(s"${d.name} executes at sf0.001") {
      val out = d.run(spark, dir)
      assert(out.schema.nonEmpty)
      val n = try out.count() finally CacheScope.release()
      if (!mayBeEmpty.contains(d.name)) assert(n > 0, s"${d.name} returned 0 rows")
    }
  }

  test("q156 composed IVF-PQ recall@10 clears the stated floor") {
    // The oracle pins the recall VALUES; this pins the CLAIM — the
    // assembled index (coarse quantizer -> residual PQ -> nprobe+ADC ->
    // shortlist refine) must actually recall, not just be internally
    // consistent. Floor: mean recall@10 >= 0.5 over the 10-query eval set
    // (measured 0.65 at sf0.01, 0.72 at sf0.001; the gap to 1.0 is the
    // nprobe=2-of-8 probe ceiling, the tunable an operator widens at scale).
    val q156 = SparkEntry.all.find(_.name == "q156_ivfpq_ann").get
    val rows = try q156.run(spark, dir).collect() finally CacheScope.release()
    assert(rows.length == 10)
    val mean = rows.map(_.getAs[Double]("recall_at_10")).sum / rows.length
    assert(mean >= 0.5, f"mean recall@10 $mean%.2f below the 0.5 floor")
  }

  test("q457 star contraction equals q106 label propagation row-for-row " +
    "(two algorithms, one answer)") {
    val a = try SparkEntry.queries("q457_cc_star_contraction")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet finally CacheScope.release()
    val b = try SparkEntry.queries("q106_dedup_clusters")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getBoolean(2)))
      .toSet finally CacheScope.release()
    assert(a == b)
  }

  test("q448 IVF-PQ delta maintenance: counts partition the corpus and " +
    "every derived column follows its stated integer formula") {
    // The oracle certifies the values against a from-scratch rebuild; this
    // pins the maintenance CONTRACT: (a) base+delta counts partition the
    // embeddings table along the 80/20 vec_id split, (b) growth/drift/flag
    // are exactly their stated integer formulas of the count and mean
    // columns (so a formula edit on one side cannot drift silently), and
    // (c) delta means stay within 2x of the training distribution on this
    // in-distribution fixture (the drift readout's sanity anchor).
    val rows = try SparkEntry.queries("q448_ivfpq_delta_maintenance")(spark, dir)
      .collect() finally CacheScope.release()
    assert(rows.length == 8, "one row per coarse cell")
    val nVec = try Tables.load(spark, dir, "embeddings").count()
    finally CacheScope.release()
    val maxId = nVec - 1 // vec_ids are dense 0..n-1
    val h = maxId * 4 / 5
    assert(rows.map(_.getAs[Long]("n_base")).sum == h)
    assert(rows.map(_.getAs[Long]("n_delta")).sum == nVec - h)
    rows.foreach { r =>
      val nb = r.getAs[Long]("n_base"); val nd = r.getAs[Long]("n_delta")
      val bm = r.getAs[Long]("base_mean_dist")
      val dm = r.getAs[Long]("delta_mean_dist")
      assert(r.getAs[Long]("growth_ppm") == nd * 1000000L / nb)
      val drift =
        if (nd > 0) math.abs(dm - bm) * 1000000L / bm else 0L
      assert(r.getAs[Long]("dist_drift_ppm") == drift)
      assert(r.getAs[Boolean]("retrain_flag") ==
        (nd * 1000000L / nb > 500000L || drift > 200000L))
      if (nd > 0) assert(dm > 0 && dm < 2 * bm,
        s"in-distribution delta drifted implausibly: $dm vs $bm")
      assert(r.getAs[Long]("base_mean_pqerr") >= 0)
    }
  }

  test("q453 budget selection admits exactly the highest-quality prefix " +
    "that fits the 60% token budget") {
    val rows = try SparkEntry.queries("q453_token_budget_selection")(spark, dir)
      .collect() finally CacheScope.release()
    assert(rows.nonEmpty)
    val total = rows.map(_.getAs[Long]("n_tokens")).sum
    val budget = total * 3 / 5
    rows.foreach { r =>
      assert(r.getAs[Boolean]("admitted") ==
        (r.getAs[Long]("cum_tokens") <= budget))
    }
    // prefix law: in (quality desc, doc_id) order the admitted flags are
    // a prefix — monotone cum_tokens makes any other shape a bug
    val ordered = rows.sortBy(r =>
      (-r.getAs[Long]("quality_ppm"), r.getAs[Long]("doc_id")))
    val firstRejected = ordered.indexWhere(!_.getAs[Boolean]("admitted"))
    if (firstRejected >= 0)
      assert(ordered.drop(firstRejected).forall(!_.getAs[Boolean]("admitted")))
    // the cut is tight: admitted mass fits, adding the first rejected doc
    // would overflow
    val admitted = ordered.takeWhile(_.getAs[Boolean]("admitted"))
    assert(admitted.map(_.getAs[Long]("n_tokens")).sum <= budget)
    if (firstRejected >= 0)
      assert(admitted.map(_.getAs[Long]("n_tokens")).sum +
        ordered(firstRejected).getAs[Long]("n_tokens") > budget)
  }

  test("q380 decontamination flags only train docs, against only test docs") {
    // Split-membership law the hash oracle can't state: every flagged vec
    // must be in the md5 train split, every cited collision in the test
    // split, and every reported worst-case cos^2 must clear the stated
    // 0.09 (cos >= 0.3) threshold.
    def split(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      if (hex < "cc") "train" else if (hex < "e6") "val" else "test"
    }
    val q380 = SparkEntry.all.find(_.name == "q380_semantic_decontaminate").get
    val rows = try q380.run(spark, dir).collect() finally CacheScope.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(split(r.getAs[Long]("vec_id")) == "train")
      assert(split(r.getAs[Long]("first_test_id")) == "test")
      assert(r.getAs[Long]("max_cos2_ppm") >= 90000L)
      assert(r.getAs[Long]("n_test_matches") >= 1L)
    }
  }

  test("q390 OOD flag is consistent and every query id is a test-split vector") {
    def split(id: Long): String = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(id.toString.getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.substring(0, 2)
      if (hex < "cc") "train" else if (hex < "e6") "val" else "test"
    }
    val rows = try SparkEntry.queries("q390_knn_ood")(spark, dir).collect()
    finally CacheScope.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(split(r.getAs[Long]("q_id")) == "test")
      val n = r.getAs[Long]("n_cand")
      val ood = r.getAs[Boolean]("is_ood")
      if (n < 3) assert(ood, "sparse-cell query must flag OOD by construction")
      else {
        val s3 = r.getAs[Double]("knn3_sim")
        assert(ood == (s3 < 0.1), s"flag must equal the threshold rule at sim $s3")
      }
    }
  }

  test("q392 dataset card internal consistency (shares bounded, majority is a plurality)") {
    val rows = try SparkEntry.queries("q392_dataset_card")(spark, dir).collect()
    finally CacheScope.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      Seq("top_lang_ppm", "keep_ppm", "dup_ppm").foreach { c =>
        val v = r.getAs[Long](c)
        assert(v >= 0 && v <= 1000000L, s"$c out of [0, 1e6]: $v")
      }
      assert(r.getAs[Long]("mean_tokens_micro") ==
        r.getAs[Long]("n_tokens") * 1000000L / r.getAs[Long]("n_docs"))
      // a plurality over k=5 fixture languages must hold at least 1/5
      assert(r.getAs[Long]("top_lang_ppm") * 5 >= 1000000L,
        "plurality share below 1/5 with 5 fixture languages is impossible")
    }
  }

  test("q395 gate firing and the keep rate are mutually consistent per length bin") {
    val rows = try SparkEntry.queries("q395_gate_length_bias")(spark, dir)
      .collect() finally CacheScope.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val bin = r.getAs[Long]("len_bin")
      // the too-short gate is n_words < 20 — it cannot fire at bin >= 2
      if (bin >= 2) assert(r.getAs[Long]("short_ppm") == 0L)
      // a fired gate kills keep, so keep + any single gate rate <= 1 (+1
      // ppm slack for the two independent floor divisions)
      Seq("short_ppm", "rep_ppm", "stop_ppm", "ttr_ppm").foreach { g =>
        assert(r.getAs[Long]("keep_ppm") + r.getAs[Long](g) <= 1000001L,
          s"bin $bin: keep + $g exceeds 1")
      }
    }
  }

  test("q396 merged document frequencies only grow and deltas equal their differences") {
    val rows = try SparkEntry.queries("q396_incremental_bm25_idf")(spark, dir)
      .collect() finally CacheScope.release()
    assert(rows.length <= 20 && rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("df_new") >= r.getAs[Long]("df_old"),
        "adding documents can only grow a term's df")
      assert(r.getAs[Long]("delta_micro") ==
        r.getAs[Long]("idf_new_micro") - r.getAs[Long]("idf_old_micro"))
      assert(r.getAs[Long]("n_new_terms") <= r.getAs[Long]("n_terms"))
    }
  }

  test("q94 streaming sessions are invariant to the JVM default timezone") {
    // Timestamp.toString renders in the JVM default TZ; interpolating it
    // into a SQL literal shifted the sentinel/flush events on non-UTC JVMs
    // (could merge or corrupt session windows). The epoch-based
    // timestamp_millis construction must give identical sessions anywhere.
    val q94 = SparkEntry.all.find(_.name == "q94_streaming_session").get
    val saved = java.util.TimeZone.getDefault
    def runUnder(tzId: String) = try {
      java.util.TimeZone.setDefault(java.util.TimeZone.getTimeZone(tzId))
      // the produce path is the TZ-sensitive part — force a fresh produce
      // under this TZ (the memoized log would otherwise make both runs
      // read one shared log and the guard would be vacuous)
      LogFixtures.invalidate(dir, "q94")
      try q94.run(spark, dir).collect().toSeq finally CacheScope.release()
    } finally java.util.TimeZone.setDefault(saved)
    assert(runUnder("America/New_York") == runUnder("UTC"))
  }

  test("q421 PCA loadings are unit-norm, sign-fixed, and the anisotropy " +
    "share dominates the uniform floor") {
    // Laws the hash oracle can't state: (a) the loadings form a ppm unit
    // vector — each truncated division loses < 1 ppm, so sum(l^2) lands
    // within 2*64e6 of 1e12; (b) the sign fix makes the first nonzero
    // loading positive; (c) the Rayleigh-quotient share of trace is a
    // valid fraction and clears the uniform 1/d floor (lambda_1 >= tr/d
    // for any symmetric PSD matrix — C is PSD by construction), i.e. the
    // diagnostic can't report a top component weaker than average.
    val q421 = SparkEntry.all.find(_.name == "q421_pca_anisotropy").get
    val rows = try q421.run(spark, dir).collect() finally CacheScope.release()
    val (shareRows, loadRows) = rows.partition(_.getAs[Long]("dim") == -1L)
    assert(shareRows.length == 1 && loadRows.length == 64)
    val ls = loadRows.sortBy(_.getAs[Long]("dim"))
      .map(_.getAs[Long]("loading_ppm"))
    val norm2 = ls.map(l => BigInt(l) * BigInt(l)).sum
    val target = BigInt("1000000000000")
    assert((norm2 - target).abs <= BigInt(2L * 64 * 1000000),
      s"loadings norm^2 $norm2 not within truncation slack of 1e12")
    assert(ls.find(_ != 0L).exists(_ > 0L), "first nonzero loading must be +")
    val share = shareRows.head.getAs[Long]("loading_ppm")
    assert(share > 1000000L / 64 - 2 && share <= 1000000L,
      s"anisotropy share $share outside (1/d, 1]")
  }

  test("q422 ABTT deflation: the deflated component is orthogonal to the " +
    "removed one, and removed + retained variance reconstructs the trace") {
    // Laws the hash oracle can't state: (a) the deflated loadings are a
    // ppm unit vector (same truncation slack as q421); (b) the deflation
    // really removed q421's direction — the two unit loading vectors must
    // be near-orthogonal (a silently no-op deflation would return the SAME
    // component, |cos| ~ 1); (c) trace accounting: retained-variance ppm
    // plus the removed share reconstructs 1e6 within floor slack; (d) the
    // residual share stays within convergence slack of the removed one —
    // NOT share2 <= share1 exactly: on this near-isotropic fixture
    // lambda_2 ~ lambda_1 and 8 power iterations leave Rayleigh quotients
    // a few hundred ppm apart in either direction.
    val q421 = SparkEntry.all.find(_.name == "q421_pca_anisotropy").get
    val l1 = try {
      q421.run(spark, dir).collect()
        .filter(_.getAs[Long]("dim") >= 0L)
        .sortBy(_.getAs[Long]("dim")).map(_.getAs[Long]("loading_ppm"))
    } finally CacheScope.release()
    val q422 = SparkEntry.all.find(_.name == "q422_abtt_whitening").get
    val rows = try q422.run(spark, dir).collect() finally CacheScope.release()
    assert(rows.length == 67)
    val byDim = rows.map(r =>
      r.getAs[Long]("dim") -> r.getAs[Long]("value_ppm")).toMap
    val ls = (0L to 63L).map(byDim)
    val norm2 = ls.map(l => BigInt(l) * BigInt(l)).sum
    assert((norm2 - BigInt("1000000000000")).abs <= BigInt(2L * 64 * 1000000),
      s"deflated loadings norm^2 $norm2 not within truncation slack of 1e12")
    val dot = l1.zip(ls).map { case (a, b) => BigInt(a) * BigInt(b) }.sum
    assert(dot.abs < BigInt(200000L) * 1000000L, // |cos| < 0.2 in ppm^2
      s"deflated component not orthogonal to the removed one: dot $dot")
    val (share1, share2, kept) = (byDim(-1L), byDim(-2L), byDim(-3L))
    assert(share2 >= 0L && share2 <= share1 + 5000L && share1 <= 1000000L,
      s"residual share $share2 outside [0, $share1 + slack]")
    assert((share1 + kept - 1000000L).abs <= 16L,
      s"trace accounting off: $share1 + $kept != ~1e6")
  }

  test("q424 streamed anisotropy agrees with the batch diagnostic across " +
    "quantization scales") {
    // The oracle pins q424's values under its OWN fixed 32767 scale; this
    // pins the cross-query claim — the streamed sufficient statistics must
    // find the SAME dominant direction the batch int8 program finds:
    // loading cosine >= 0.9 (sign-fixed on both sides) and the anisotropy
    // shares within quantization-resolution slack. Also exercises a real
    // multi-batch drain (trigger = n/3 -> >= 3 micro-batches).
    def run(name: String) = {
      val d = SparkEntry.all.find(_.name == name).get
      try d.run(spark, dir).collect() finally CacheScope.release()
    }
    val b = run("q421_pca_anisotropy")
    val st = run("q424_streaming_anisotropy")
    def parts(rows: Array[org.apache.spark.sql.Row]) = {
      val m = rows.map(r => r.getAs[Long]("dim") -> r.getAs[Long]("loading_ppm")).toMap
      ((0L to 63L).map(m), m(-1L))
    }
    val (lb, sb) = parts(b)
    val (ls, ss) = parts(st)
    val dot = lb.zip(ls).map { case (a, x) => BigInt(a) * BigInt(x) }.sum
    assert(dot > BigInt(900000L) * 1000000L,
      s"streamed component disagrees with batch: cos(ppm^2) = $dot")
    assert((ss - sb).abs <= 2000L, s"shares diverged: stream $ss vs batch $sb")
  }

  test("q426 LM-gate agreement: bands are exhaustive deciles with " +
    "monotone scores and sane gate accounting") {
    // Laws the hash oracle can't state: the bands partition the corpus
    // (doc counts sum to the documents row count), the per-band mean
    // neg-logprob is non-decreasing in band (deciles of that very score),
    // and no gate fires more often than there are docs.
    val out = try SparkEntry.queries("q426_lm_gate_agreement")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.length <= 10 && out.nonEmpty)
    val total = out.map(_.getAs[Long]("n_docs")).sum
    val docs = spark.read.parquet(s"$dir/documents.parquet").count()
    assert(total == docs, s"bands cover $total of $docs docs")
    val byBand = out.sortBy(_.getAs[Long]("band"))
    byBand.sliding(2).foreach {
      case Array(a, b) =>
        assert(a.getAs[Long]("avg_neg_logprob_micro") <=
          b.getAs[Long]("avg_neg_logprob_micro"),
          "band means must be monotone in band")
      case _ => ()
    }
    byBand.foreach { r =>
      val n = r.getAs[Long]("n_docs")
      assert(r.getAs[Long]("keep_ppm") <= 1000000L)
      Seq("n_short", "n_repetitive", "n_lowstop", "n_lowttr").foreach(c =>
        assert(r.getAs[Long](c) <= n, s"$c exceeds n_docs in band"))
    }
  }

  test("q431 scrub touches exactly q118's contaminated sources and " +
    "certifies a zero residual") {
    // Binding law across the detect/act pair: the sources whose train
    // docs q118 flags as contaminated must be exactly the sources q431
    // touches; every touched doc loses at least one full 13-token span;
    // and the self-certificate reads zero residual overlap on the
    // rebuilt text.
    import org.apache.spark.sql.functions._
    val pairs = try {
      SparkEntry.queries("q118_decontaminate_13gram")(spark, dir).collect()
    } finally CacheScope.release()
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("doc_id"), col("source")).collect()
      .map(r => r.getAs[Long]("doc_id") -> r.getAs[String]("source")).toMap
    val contaminatedSources =
      pairs.map(r => docs(r.getAs[Long]("train_doc"))).toSet
    val out = try SparkEntry.queries("q431_span_scrub")(spark, dir)
      .collect() finally CacheScope.release()
    val touched = out.filter(_.getAs[Long]("n_docs_touched") > 0)
      .map(_.getAs[String]("source")).toSet
    assert(touched == contaminatedSources,
      s"scrubbed $touched but q118 flags $contaminatedSources")
    out.foreach { r =>
      val (t, rm) = (r.getAs[Long]("n_docs_touched"), r.getAs[Long]("tokens_removed"))
      assert(rm >= 13L * t, "each touched doc must lose a full span")
      assert(rm <= r.getAs[Long]("tokens_before"))
      assert(r.getAs[Long]("residual_overlaps") == 0L,
        s"${r.getAs[String]("source")}: scrub left residual contamination")
      if (t == 0) assert(rm == 0L)
    }
  }

  test("q432 blind-spot accounting is self-consistent and l is bounded") {
    // The flag must equal its definition on every class, l must sit in
    // [1, n], and the corpus blind-spot ppm must equal the flagged
    // classes' population recomputed from the output itself.
    val out = try SparkEntry.queries("q432_l_diversity")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.nonEmpty)
    val total = out.map(_.getAs[Long]("n")).sum
    val blind = out.filter(_.getAs[Boolean]("k_blind_spot"))
      .map(_.getAs[Long]("n")).sum
    out.foreach { r =>
      val (n, l) = (r.getAs[Long]("n"), r.getAs[Long]("l_distinct"))
      assert(l >= 1L && l <= n, s"l $l out of [1, $n]")
      assert(r.getAs[Boolean]("k_blind_spot") == (n >= 5L && l < 3L))
      assert(r.getAs[Long]("blind_spot_ppm") == blind * 1000000L / total)
    }
  }

  test("q433 manifest roots are additive and order-independent") {
    // The operational contract: root_now - root_prev must equal
    // delta_root on every source (a consumer verifies the increment
    // without old docs), counts must nest, and the root must be invariant
    // to ingest order — recomputed here from a reshuffled doc sample.
    import org.apache.spark.sql.functions._
    val out = try SparkEntry.queries("q433_release_manifest")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("root_now") - r.getAs[Long]("root_prev") ==
        r.getAs[Long]("delta_root"))
      assert(r.getAs[Long]("n_docs_prev") <= r.getAs[Long]("n_docs_now"))
    }
    val reshuffled = spark.read.parquet(s"$dir/documents.parquet")
      .repartition(7, col("doc_id"))
      .select(col("source"), expr("graft_polyhash(text)").as("h"))
      .groupBy("source").agg(sum(col("h")).as("root"))
      .collect().map(r => r.getAs[String]("source") -> r.getAs[Long]("root"))
      .toMap
    out.foreach { r =>
      assert(reshuffled(r.getAs[String]("source")) == r.getAs[Long]("root_now"),
        "root must be partitioning/order independent")
    }
  }

  test("q434 streamed manifest equals the q433 batch manifest row for row") {
    def run(name: String) = try {
      SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq
    } finally CacheScope.release()
    assert(run("q434_streaming_manifest") == run("q433_release_manifest"))
  }

  test("q435 ablation: removing a gate never lowers keep, and marginals " +
    "never exceed the total kill mass") {
    val out = try SparkEntry.queries("q435_gate_ablation")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.nonEmpty && out.length % 4 == 0)
    out.groupBy(_.getAs[String]("source")).foreach { case (src, rs) =>
      val keepAll = rs.head.getAs[Long]("keep_all_ppm")
      assert(rs.forall(_.getAs[Long]("keep_all_ppm") == keepAll))
      var marginalSum = 0L
      rs.foreach { r =>
        val wo = r.getAs[Long]("keep_without_ppm")
        val m = r.getAs[Long]("marginal_ppm")
        assert(wo >= keepAll, s"$src: removing a gate cannot lower keep")
        assert(m == wo - keepAll)
        marginalSum += m
      }
      // docs uniquely killed by single gates can't exceed all killed docs
      assert(marginalSum <= 1000000L - keepAll + 4,
        s"$src: marginals $marginalSum exceed kill mass")
    }
  }

  test("q437 CDC chunking: boundaries re-align past an edit (the property " +
    "fixed-size chunking lacks)") {
    // Insert one token at the front of every fixture doc: all chunks whose
    // window context lies fully past the edit (start > 1 + 8 in original
    // coordinates) must reappear VERBATIM in the mutant's chunk set —
    // that re-alignment is why CDC dedups across snapshots. Also pin the
    // structural invariants: chunks concatenate back to the doc, and
    // every boundary's window hash satisfies the cut rule.
    import org.apache.spark.sql.functions._
    val docs = spark.read.parquet(s"$dir/documents.parquet")
      .limit(40).select(col("doc_id"), split(col("text"), " ").as("w"))
    val base = operators.Dedup.withCdcChunks(docs)
      .select(col("doc_id"), col("w"), col("bnd"), col("chunks")).collect()
    val mut = operators.Dedup.withCdcChunks(
        docs.select(col("doc_id"),
          expr("concat(array('zq'), w)").as("w")))
      .select(col("doc_id"), col("chunks")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        r.getSeq[String](1).toSet).toMap
    assert(base.nonEmpty)
    var realigned = 0
    base.foreach { r =>
      val w = r.getSeq[String](1)
      val bnd = r.getSeq[Long](2)
      val chunks = r.getSeq[String](3)
      assert(chunks.mkString(" ") == w.mkString(" "), "chunks repartition the doc")
      bnd.foreach { b =>
        // the two-level rolling hash: per-word char fold, then an integer
        // fold of the 8 word hashes (withCdcChunks' exact arithmetic)
        def wh(s: String) =
          s.foldLeft(0L)((a, c) => (a * 31 + c.toLong) % 1000000007L)
        val h = w.slice(b.toInt - 8, b.toInt)
          .foldLeft(0L)((a, word) => (a * 31 + wh(word)) % 1000000007L)
        assert(h % 32 == 0, s"boundary $b violates the cut rule")
      }
      val starts = 1L +: bnd.map(_ + 1)
      val stable = chunks.zip(starts).collect {
        case (c, s) if s > 9 => c // window fully past the front edit
      }
      stable.foreach { c =>
        assert(mut(r.getAs[Long]("doc_id")).contains(c),
          "post-edit chunk must re-align verbatim")
        realigned += 1
      }
    }
    assert(realigned > 0, "fixture must exercise the re-alignment path")
  }

  test("q439 winnowing: every window holds a selection, and each selection " +
    "is the rightmost minimum of its window") {
    import org.apache.spark.sql.functions._
    val rows = operators.Dedup.withWinnowFps(
        spark.read.parquet(s"$dir/documents.parquet").limit(40)
          .select(col("doc_id"), split(col("text"), " ").as("w"))
          .filter(size(col("w")) >= 8))
      .select(col("m"), col("gh"), col("ps")).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val m = r.getAs[Long]("m").toInt
      val gh = r.getSeq[Long](1)
      val ps = r.getSeq[Long](2).map(_.toInt).toSet
      (1 to m - 3).foreach { j =>
        val win = (j to j + 3)
        val sel = win.filter(ps.contains)
        assert(sel.nonEmpty, s"window $j has no fingerprint (coverage law)")
      }
      ps.foreach { p =>
        // p must be the rightmost minimum of SOME window containing it
        val isSel = (math.max(1, p - 3) to math.min(p, m - 3)).exists { j =>
          val win = (j to j + 3)
          val mn = win.map(i => gh(i - 1)).min
          gh(p - 1) == mn && win.filter(i => gh(i - 1) == mn).max == p
        }
        assert(isSel, s"position $p is not a rightmost window minimum")
      }
    }
  }

  test("q445 streamed Luhn screen equals the q438 batch screen row for row") {
    def run(name: String) = try {
      SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq
    } finally CacheScope.release()
    assert(run("q445_streaming_luhn") == run("q438_luhn_pii"))
  }

  test("q444 capping: kept <= min(raw, cap), and the capped max certifies " +
    "the sensitivity bound") {
    val out = try SparkEntry.queries("q444_contribution_capping")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.nonEmpty)
    out.foreach { r =>
      assert(r.getAs[Long]("n_kept") <= r.getAs[Long]("n_raw"))
      assert(r.getAs[Long]("max_contrib_capped") <= 5L,
        "a kept contribution above the cap voids the DP sensitivity bound")
      assert(r.getAs[Long]("max_contrib_capped") <=
        r.getAs[Long]("max_contrib_raw"))
      val clip = (r.getAs[Long]("n_raw") - r.getAs[Long]("n_kept")) *
        1000000L / r.getAs[Long]("n_raw")
      assert(r.getAs[Long]("clipped_ppm") == clip)
    }
  }

  test("q438 Luhn predicate passes/fails the published test vectors") {
    // 4111111111111111 and 79927398713 (the ISO worked example) are valid;
    // single-digit perturbations and the +5-shifted check digit are not.
    val cases = Seq(
      ("4111111111111111", true), ("4111111111111112", false),
      ("79927398713", true), ("79927398710", false),
      ("5555555555554444", true), ("378282246310005", true),
      ("1234567812345678", false))
    val got = spark.sql(
      s"""SELECT filter(array(${cases.map(c => s"'${c._1}'").mkString(",")}),
         |  t -> ${operators.Pipeline.luhnValidSparkSql}) AS ok""".stripMargin)
      .collect().head.getSeq[String](0).toSet
    cases.foreach { case (s, want) =>
      assert(got.contains(s) == want, s"Luhn($s) should be $want")
    }
  }

  test("q462 IBAN mod-97 validator passes/fails the published test vectors") {
    // DE89... is the canonical worked example; GB82WEST... exercises
    // letters INSIDE the BBAN (the two-digit 10..35 mapping mid-stream);
    // the last-digit perturbations must fail.
    val cases = Seq(
      ("DE89370400440532013000", true), ("DE89370400440532013001", false),
      ("GB82WEST12345698765432", true), ("GB82WEST12345698765433", false),
      ("FR1420041010050500013M02606", true))
    cases.foreach { case (iban, want) =>
      val ok = spark.sql(
        s"""SELECT ${operators.Pipeline.ibanMod97Spark("rearr")} = 1 AS ok
           |FROM (SELECT concat(substring('$iban', 5),
           |  substring('$iban', 1, 4)) AS rearr)""".stripMargin)
        .collect().head.getBoolean(0)
      assert(ok == want, s"mod97($iban) should be $want")
    }
  }

  test("q463 JL sign projection is exactly linear on integer-valued vectors") {
    // With integer components every double sum is exact, so the linearity
    // law P(x+y) = Px + Py must hold BIT-exactly (catches any per-j/per-d
    // drift in the sign-hash or fold order).
    val x = Array.tabulate(64)(d => (d % 5).toDouble)
    val y = Array.tabulate(64)(d => ((d * 3 + 1) % 7).toDouble)
    def lit(a: Array[Double]) = a.mkString("array(", ", ", ")")
    val sum = x.zip(y).map { case (a, b) => a + b }
    val row = spark.sql(
      s"""SELECT ${operators.Similarity.jlProjectSpark(lit(sum))} AS pxy,
         |  zip_with(${operators.Similarity.jlProjectSpark(lit(x))},
         |    ${operators.Similarity.jlProjectSpark(lit(y))},
         |    (a, b) -> a + b) AS pxpy""".stripMargin).collect().head
    assert(row.getSeq[Double](0) == row.getSeq[Double](1),
      "P(x+y) must equal Px + Py exactly")
  }

  test("q464 margin mining: one best match per probe, margins well-formed") {
    val out = try SparkEntry.queries("q464_margin_pair_mining")(spark, dir)
      .collect() finally CacheScope.release()
    val nProbes = Tables.load(spark, dir, "embeddings")
      .filter(org.apache.spark.sql.functions.col("vec_id") % 25 === 7).count()
    assert(out.length == nProbes, "exactly one mined pair per probe")
    assert(out.map(_.getAs[Long]("q_id")).distinct.length == out.length)
    out.foreach { r =>
      val cos = r.getAs[Long]("cos_micro")
      assert(cos >= -1000000L && cos <= 1000001L,
        "unit vectors bound cosine")
      val m = r.getAs[Long]("margin_ppm")
      assert(m > 0L, "shifted similarities make every margin positive")
      assert(r.getAs[Boolean]("accepted") == (m > 1150000L))
      assert(r.getAs[Long]("best_c") % 25 != 7L,
        "best match must come from the corpus side, never another probe")
    }
  }

  test("q465 rendezvous theorem: nothing moves laterally; mod-hash reshuffles") {
    val out = try SparkEntry.queries("q465_rendezvous_resharding")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.length == 9)
    val total = out.map(_.getAs[Long]("n_after")).sum
    out.filter(_.getAs[Long]("shard") < 8).foreach { r =>
      assert(r.getAs[Long]("moved_in") == 0L,
        s"HRW must never move a key between surviving shards: $r")
      assert(r.getAs[Long]("n_after") <= r.getAs[Long]("n_before"),
        "old shards can only shrink when a shard is added")
    }
    val moved = out.find(_.getAs[Long]("shard") == 8).get.getAs[Long]("moved_in")
    assert(moved > 0 && moved < total / 4,
      s"HRW moves ~1/9 of keys, got $moved of $total")
    val modStayed = out.map(_.getAs[Long]("mod_stayed")).sum
    assert(modStayed < total / 4,
      s"mod-hash must reshuffle the bulk (stayed $modStayed of $total)")
  }

  test("q468 JSON census: optional-path presence and array lengths follow the plant") {
    val out = try SparkEntry.queries("q468_json_schema_census")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.nonEmpty)
    out.foreach { r =>
      val n = r.getAs[Long]("n")
      val gp = r.getAs[Long]("geo_ppm")
      assert(gp > 150000 && gp < 350000,
        s"geo rides every 4th event, ppm $gp way off 250k")
      val st = r.getAs[Long]("sum_tags")
      assert(st >= 2 * n && st <= 3 * n,
        "tags arrays are length 2 or 3 by construction")
      assert(r.getAs[Long]("n_geo") <= n)
    }
  }

  test("q469 silhouette: random labels must read as geometrically structureless") {
    val out = try SparkEntry.queries("q469_silhouette")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.length == 10)
    out.foreach { r =>
      val m = r.getAs[Long]("mean_sil_ppm")
      assert(m > -1000000L && m < 1000000L, "silhouette is bounded in [-1,1]")
      assert(math.abs(m) < 200000L,
        s"labels are random: a mean silhouette of $m would claim real clusters")
      val neg = r.getAs[Long]("n_negative")
      val n = r.getAs[Long]("n")
      assert(neg * 5 >= n && neg * 5 <= 4 * n,
        "structureless labels put a balanced share of points nearer a foreign centroid")
    }
  }

  test("q470 sitemap coverage set identities hold per source") {
    val out = try SparkEntry.queries("q470_sitemap_coverage")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.length == 20)
    out.foreach { r =>
      assert(r.getAs[Long]("n_sitemap") ==
        r.getAs[Long]("n_both") + r.getAs[Long]("sitemap_only"))
      assert(r.getAs[Long]("n_crawled") ==
        r.getAs[Long]("n_both") + r.getAs[Long]("crawled_only"))
      assert(r.getAs[Long]("coverage_ppm") ==
        r.getAs[Long]("n_both") * 1000000L / r.getAs[Long]("n_sitemap"))
      assert(r.getAs[Long]("n_stale") <= r.getAs[Long]("n_both"))
    }
  }

  test("q471 streamed W1 drift equals the q467 batch readout row for row") {
    def run(n: String) = {
      val out = try SparkEntry.queries(n)(spark, dir)
        .collect().toSeq.map(_.toSeq) finally CacheScope.release()
      out
    }
    assert(run("q471_streaming_w1_drift") == run("q467_wasserstein_drift"))
  }

  test("q472 skew profile: bucket bounds hold; the hub signature is visible") {
    val out = try SparkEntry.queries("q472_key_skew_profile")(spark, dir)
      .collect() finally CacheScope.release()
    out.foreach { r =>
      val b = r.getAs[Long]("bucket")
      val (lo, hi) = (1L << b, 1L << (b + 1))
      assert(r.getAs[Long]("min_size") >= lo &&
        r.getAs[Long]("max_size") < hi,
        s"group sizes must tile [2^b, 2^(b+1)): $r")
      assert(r.getAs[Long]("n_keys") >= 1 && r.getAs[Long]("rows_ppm") >= 0)
    }
    val hubbedTop = out.filter(_.getAs[String]("key_kind") == "hubbed")
      .map(_.getAs[Long]("bucket")).max
    val naturalTop = out.filter(_.getAs[String]("key_kind") == "natural")
      .map(_.getAs[Long]("bucket")).max
    assert(hubbedTop > naturalTop,
      "the planted hub key must surface as a lone higher bucket")
    val hubRow = out.find(r => r.getAs[String]("key_kind") == "hubbed" &&
      r.getAs[Long]("bucket") == hubbedTop).get
    assert(hubRow.getAs[Long]("n_keys") == 1L,
      "the pathological bucket holds exactly the one hub key")
  }

  test("q463 measured distortion ratios concentrate around 1") {
    val out = try SparkEntry.queries("q463_jl_projection")(spark, dir)
      .collect() finally CacheScope.release()
    assert(out.length > 20, "probe pair set must be non-trivial")
    val ratios = out.map(_.getAs[Long]("ratio_ppm").toDouble / 1e6)
    val mean = ratios.sum / ratios.length
    assert(mean > 0.5 && mean < 2.0,
      s"JL expectation E[ratio] = 1; measured mean $mean is out of range")
    assert(ratios.count(r => r > 0.1 && r < 10.0) >= ratios.length * 8 / 10,
      "k=16 concentration: the bulk of pairs must land within 10x")
  }

  test("q437/q439 randomized laws: random docs (dups, short docs, repeated " +
    "tokens) chunk and fingerprint consistently") {
    // seeded random corpus, deliberately nastier than the fixture: tiny
    // docs below every threshold, docs made of ONE repeated token, and
    // exact duplicate docs (content-addressing must give identical
    // chunk lists / fingerprint sets for identical content)
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(11)
    val vocab = Vector("alpha", "b", "gamma7", "dd", "ee", "zz", "word")
    val docs = (0 until 120).map { i =>
      val n = rnd.nextInt(40)
      val w =
        if (i % 17 == 0) Seq.fill(math.max(n, 12))("loop")
        else Seq.fill(n)(vocab(rnd.nextInt(vocab.size)))
      (i.toLong, w)
    }
    val dup = docs.take(20).map { case (i, w) => (1000L + i, w) }
    val df = spark.createDataFrame((docs ++ dup)).toDF("doc_id", "w")
    val ch = operators.Dedup.withCdcChunks(df)
      .select(col("doc_id"), col("w"), col("chunks")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getSeq[String](1), r.getSeq[String](2))).toMap
    ch.values.foreach { case (w, chunks) =>
      assert(chunks.mkString(" ") == w.mkString(" "), "chunks partition the doc")
      assert(chunks.forall(_.nonEmpty) || w.isEmpty)
    }
    dup.foreach { case (id, _) =>
      assert(ch(id)._2 == ch(id - 1000L)._2,
        "identical content must chunk identically (content addressing)")
    }
    val fp = operators.Dedup.withWinnowFps(
        df.filter(size(col("w")) >= 8))
      .select(col("doc_id"), col("m"), col("ps"), col("fps")).collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("m").toInt, r.getSeq[Long](2).map(_.toInt).toSet,
          r.getSeq[Long](3).toSet)).toMap
    fp.values.foreach { case (m, ps, _) =>
      (1 to m - 3).foreach { j =>
        assert((j to j + 3).exists(ps.contains), s"window $j uncovered")
      }
      assert(ps.forall(p => p >= 1 && p <= m), "selected positions in range")
    }
    dup.filter(d => fp.contains(d._1)).foreach { case (id, _) =>
      assert(fp(id)._3 == fp(id - 1000L)._3,
        "identical content must fingerprint identically")
    }
  }

  test("q438 randomized law: per body, exactly one check digit passes Luhn " +
    "— the independently computed one") {
    // 200 seeded random digit bodies (len 11-18) x all 10 candidate check
    // digits = 2000 strings through the PRODUCTION predicate in one Spark
    // pass; an independent Scala reference computes the expected digit.
    // Luhn detects every single-digit substitution in the check position,
    // so exactly one candidate may pass per body.
    import org.apache.spark.sql.functions._
    val rnd = new scala.util.Random(7)
    val bodies = (0 until 200).map { _ =>
      val len = 11 + rnd.nextInt(8)
      (0 until len).map(_ => rnd.nextInt(10)).mkString
    }
    def refCheckDigit(body: String): Int = {
      // reference: rightmost body digit is doubled (it sits 2nd from the
      // right once the check digit is appended), alternating leftward
      val s = body.reverse.zipWithIndex.map { case (c, i) =>
        val d = c - '0'
        if (i % 2 == 0) { val dd = 2 * d; if (dd > 9) dd - 9 else dd } else d
      }.sum
      (10 - s % 10) % 10
    }
    val cands = bodies.flatMap(b => (0 to 9).map(d => (b, d, s"$b$d")))
    val passed = spark.createDataFrame(cands).toDF("body", "d", "t")
      .withColumn("ok", expr(operators.Pipeline.luhnValidSparkSql))
      .filter(col("ok")).select(col("body"), col("d")).collect()
      .map(r => r.getString(0) -> r.getInt(1)).toMap
    assert(passed.size == bodies.distinct.size,
      "exactly one passing check digit per distinct body")
    bodies.foreach { b =>
      assert(passed(b) == refCheckDigit(b),
        s"body $b: production predicate admits digit ${passed(b)}, " +
          s"reference says ${refCheckDigit(b)}")
    }
  }

  test("entry() returns rows (driver smoke contract)") {
    assert(SparkEntry.entry(spark).count() > 0)
  }

  test("every oracle query name exists in queries") {
    assert(SparkEntry.oracleSql.keySet.subsetOf(SparkEntry.queries.keySet))
  }
}
