package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Laws for the analytics batch (q173-q176) that the hash oracles can't
  * state directly: MAD's resistance to planted outliers, OHLC bar
  * invariants, DSIR's target-language enrichment, and the oriented
  * triangle-closure formulation checked against hand-counted graphs.
  */
class AnalyticsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val dir = "/root/testdata/sf0.001"

  test("q173 MAD flags a planted wild value that would drag a mean") {
    import spark.implicits._
    // 100 benign values around 50 plus one wild point: the wild point must
    // be the ONLY outlier, and the per-group median/MAD must sit in the
    // benign range (a mean/stddev would be dragged ~100x by the plant).
    val vals = ((1 to 100).map(i => (i.toLong, 5000L + (i % 7))) :+ (101L, 500000L))
    val v = vals.toDF("event_id", "vc")
    val med2 = v.agg(expr("CAST(percentile(vc, 0.5) * 2 AS BIGINT)").as("med2"))
    val d = v.crossJoin(med2).withColumn("dev2", abs(lit(2) * $"vc" - $"med2"))
    val mad4 = d.agg(expr("CAST(percentile(dev2, 0.5) * 2 AS BIGINT)").as("mad4"))
    val flagged = d.crossJoin(mad4)
      .filter(lit(2) * $"dev2" > lit(7) * $"mad4")
      .select($"event_id").as[Long].collect()
    assert(flagged.toSeq == Seq(101L), s"only the plant should flag, got ${flagged.toSeq}")
    val m2 = med2.as[Long].head()
    assert(m2 / 2 >= 5000L && m2 / 2 <= 5007L, "median must ignore the plant")
  }

  test("q174 OHLC bars satisfy low <= open/close <= high and cover all events") {
    import spark.implicits._
    val out = SparkEntry.queries("q174_ohlc_bars")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (o, h, l, c) = (r.getAs[Long]("open_c"), r.getAs[Long]("high_c"),
          r.getAs[Long]("low_c"), r.getAs[Long]("close_c"))
        assert(l <= o && o <= h, s"open outside [low, high] in $r")
        assert(l <= c && c <= h, s"close outside [low, high] in $r")
      }
      val total = rows.map(_.getAs[Long]("n_events")).sum
      val nEvents = Tables.load(spark, dir, "events").count()
      assert(total == nEvents, "bars must partition the event stream exactly")
    } finally CacheScope.release()
  }

  test("q175 DSIR top-100 is enriched in the target language") {
    import spark.implicits._
    val out = SparkEntry.queries("q175_dsir_resample")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.length == 100)
      val enTop = rows.count(_.getAs[String]("lang") == "en")
      val docs = Tables.load(spark, dir, "documents")
      val enAll = docs.filter($"lang" === "en").count().toDouble / docs.count()
      // the synthetic corpus shares most vocabulary across languages, so
      // the lift is moderate (measured ~54% vs a 38.6% base rate at
      // sf0.001) — assert a clear positive margin, not a fantasy one
      assert(enTop / 100.0 > enAll + 0.05,
        s"top-100 en fraction ${enTop / 100.0} must clearly exceed corpus rate $enAll")
    } finally CacheScope.release()
  }

  test("q177 merge application is left-to-right non-overlapping") {
    import spark.implicits._
    // The BPE apply step's correctness rests on replace() semantics both
    // engines share: scanning left to right, a consumed character cannot
    // start a second match. ' a a a ' must become ' aa a ', not ' aa aa '.
    val out = Seq(("a a a")).toDF("seq")
      .select(expr(
        "trim(replace(concat(' ', seq, ' '), ' a a ', ' aa '))").as("merged"))
      .as[String].head()
    assert(out == "aa a", s"greedy non-overlapping merge expected, got '$out'")
  }

  test("q177 learns the planted dominant pair first") {
    import spark.implicits._
    // Fixture where 'x y' dominates: BPE's first merge must be it.
    val wf = Seq(("xy", 50L), ("xz", 3L), ("zy", 2L)).toDF("word", "wf")
    val pairs = wf
      .withColumn("seq", expr(
        "array_join(transform(sequence(1, length(word)), i -> substring(word, i, 1)), ' ')"))
      .withColumn("sy", split($"seq", " "))
      .select($"wf", explode(expr(
        "transform(sequence(1, size(sy) - 1), i -> concat(sy[i-1], ' ', sy[i]))")).as("pair"))
      .groupBy($"pair").agg(sum($"wf").as("c"))
      .orderBy($"c".desc, $"pair".asc)
    val top = pairs.head()
    assert(top.getAs[String]("pair") == "x y" && top.getAs[Long]("c") == 50L)
  }

  test("q178 RRF: a candidate winning both rankers wins the fusion") {
    import spark.implicits._
    val out = SparkEntry.queries("q178_rank_fusion")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.length == 60, "6 queries x top-10")
      rows.foreach { r =>
        val (ra, rb, rrf) = (r.getAs[Long]("rank_a"), r.getAs[Long]("rank_b"),
          r.getAs[Long]("rrf_micro"))
        assert(rrf == 1000000L / (60 + ra) + 1000000L / (60 + rb),
          s"rrf must equal its formula in $r")
      }
      // double winners (rank_a = rank_b = 1) must be fused_rank 1
      rows.filter(r => r.getAs[Long]("rank_a") == 1 && r.getAs[Long]("rank_b") == 1)
        .foreach(r => assert(r.getAs[Long]("fused_rank") == 1L))
    } finally CacheScope.release()
  }

  test("q179 sketch bin always contains the discrete true quantile") {
    import spark.implicits._
    // This is a theorem of the construction (the cumulative rule and the
    // rank rule pick the same position), so any nonzero bin error is a
    // real arithmetic bug, not fixture luck.
    val out = SparkEntry.queries("q179_histogram_quantiles")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getAs[Long]("p50_bin_err") == 0L, s"p50 bin error in $r")
        assert(r.getAs[Long]("p90_bin_err") == 0L, s"p90 bin error in $r")
        assert(r.getAs[Long]("est50_lo") <= r.getAs[Long]("est50_hi"))
      }
    } finally CacheScope.release()
  }

  test("q180 fertility is bounded and consistent with word counts") {
    import spark.implicits._
    val out = SparkEntry.queries("q180_bpe_segment")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (nw, np, ppw) = (r.getAs[Long]("n_words"), r.getAs[Long]("n_pieces"),
          r.getAs[Long]("pieces_per_word_micro"))
        assert(np >= nw, "every word is at least one piece")
        assert(ppw >= 1000000L, "fertility >= 1 piece/word")
        assert(ppw == np * 1000000L / nw, "fertility must equal its formula")
        // three merges can't collapse typical words below ~2 pieces on
        // average; a fertility of exactly 1.0 would mean every word became
        // one token — impossible with 3 merges over multi-char words
        assert(ppw > 1500000L, s"implausibly low fertility $ppw")
      }
    } finally CacheScope.release()
  }

  test("q181 containment catches a short doc quoted in a long one") {
    import spark.implicits._
    import graft.functions.TextHash.{hashedSetSql, shinglesSql}
    // A is 12 words; B embeds A verbatim inside 40 words of padding.
    // Containment must be ~1.0 while Jaccard stays far below the 0.6
    // near-dup cut — the case this operator exists for.
    val a = "alpha beta gamma delta epsilon zeta eta theta iota kappa lambda mu"
    val pad1 = (1 to 20).map(i => s"pad$i").mkString(" ")
    val pad2 = (21 to 40).map(i => s"pad$i").mkString(" ")
    val docs = Seq((1L, a), (2L, s"$pad1 $a $pad2")).toDF("doc_id", "text")
    val hs = docs
      .withColumn("w", split($"text", " "))
      .withColumn("hh", expr(hashedSetSql(shinglesSql("w"))))
      .select($"doc_id", $"hh")
    val ex = hs.select($"doc_id", explode($"hh").as("h"))
    val sz = hs.select($"doc_id", size($"hh").cast("long").as("n"))
    val row = ex.as("a").join(ex.as("b"),
        $"a.h" === $"b.h" && $"a.doc_id" < $"b.doc_id")
      .groupBy($"a.doc_id".as("da"), $"b.doc_id".as("db"))
      .agg(count(lit(1)).as("inter"))
      .join(sz.as("sa"), $"da" === $"sa.doc_id")
      .join(sz.as("sb"), $"db" === $"sb.doc_id")
      .select($"inter", $"sa.n".as("na"), $"sb.n".as("nb"))
      .head()
    val (inter, na, nb) = (row.getAs[Long]("inter"), row.getAs[Long]("na"),
      row.getAs[Long]("nb"))
    assert(inter * 1000000L / math.min(na, nb) == 1000000L,
      "A's shingles must all appear in B (containment 1.0)")
    assert(inter.toDouble / (na + nb - inter) < 0.6,
      "Jaccard must miss this pair — that asymmetry is the operator's point")
  }

  test("q182 streaming sketch state is bounded and covers every event") {
    import spark.implicits._
    val out = SparkEntry.queries("q182_streaming_quantiles")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      // the whole point of the sketch: per-type state is <= 64 counters no
      // matter how long the stream runs, and nothing is lost on the way
      val total = rows.map(_.getAs[Long]("n")).sum
      val nEvents = Tables.load(spark, dir, "events").count()
      assert(total == nEvents, "histogram totals must cover every event")
      rows.foreach { r =>
        assert(r.getAs[Long]("b50") >= 0 && r.getAs[Long]("b50") < 64)
        assert(r.getAs[Long]("b90") >= r.getAs[Long]("b50"),
          "p90 bin cannot precede the p50 bin")
      }
    } finally CacheScope.release()
  }

  test("q183 weighted sample over-selects heavy documents") {
    import spark.implicits._
    val out = SparkEntry.queries("q183_weighted_sample")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.length == 50)
      val selMean = rows.map(_.getAs[Long]("n_chars")).sum.toDouble / rows.length
      val corpusMean = Tables.load(spark, dir, "documents")
        .agg(avg($"n_chars")).head().getDouble(0)
      assert(selMean > corpusMean,
        s"length-weighted sample mean $selMean must exceed corpus mean $corpusMean")
      // keys are negative (ln of a sub-1 uniform); ordering must be desc
      val keys = rows.map(_.getAs[Long]("key_pico"))
      assert(keys.zip(keys.tail).forall { case (a, b) => a >= b })
      assert(keys.forall(_ <= 0L))
    } finally CacheScope.release()
  }

  test("q185 attribution covers every purchase; singleton clicks self-attribute") {
    import spark.implicits._
    val out = SparkEntry.queries("q185_click_attribution")(spark, dir)
    try {
      val rows = out.collect()
      val nPurchases = Tables.load(spark, dir, "events")
        .filter($"event_type" === "purchase").count()
      assert(rows.length.toLong == nPurchases,
        "left join must keep purchases with no preceding clicks")
      rows.foreach { r =>
        val n = r.getAs[Long]("n_clicks")
        if (n == 0) assert(r.isNullAt(r.fieldIndex("first_click")))
        if (n == 1) assert(r.getAs[Long]("first_click") == r.getAs[Long]("last_click"),
          "a single attributed click is both first and last touch")
      }
    } finally CacheScope.release()
  }

  test("q186 TWAP is a true weighted mean of the interval values") {
    import spark.implicits._
    val out = SparkEntry.queries("q186_twap")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (sv, sd) = (r.getAs[Long]("sum_vdur"), r.getAs[Long]("sum_dur_ms"))
        assert(sd > 0L)
        val twap = r.getAs[Double]("twap_c")
        assert(math.abs(twap - sv.toDouble / sd) < 1e-6,
          "twap must equal its weighted-mean formula")
      }
    } finally CacheScope.release()
  }

  test("q187 novelty: the earliest document is fully novel, ratios bounded") {
    import spark.implicits._
    val out = SparkEntry.queries("q187_ngram_novelty")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val ppm = r.getAs[Long]("novelty_ppm")
        assert(ppm >= 0L && ppm <= 1000000L)
        assert(r.getAs[Long]("n_novel") <= r.getAs[Long]("n_grams"))
      }
      // the smallest doc_id can only be beaten by itself: novelty = 1.0
      val first = rows.minBy(_.getAs[Long]("doc_id"))
      assert(first.getAs[Long]("novelty_ppm") == 1000000L,
        "the earliest document's grams are first-seen by construction")
    } finally CacheScope.release()
  }

  test("q188 entropy is bounded by ln of the alphabet size") {
    import spark.implicits._
    val out = SparkEntry.queries("q188_char_entropy")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val h = r.getAs[Double]("entropy")
        val nd = r.getAs[Long]("n_distinct")
        assert(h >= -1e-6, s"entropy must be non-negative in $r")
        assert(h <= math.log(nd.toDouble) + 1e-6,
          s"entropy cannot exceed ln(alphabet) in $r")
      }
    } finally CacheScope.release()
  }

  test("q190 decay weights are bounded and favor recency") {
    import spark.implicits._
    val out = SparkEntry.queries("q190_decayed_counts")(spark, dir)
    try {
      val rows = out.collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        val (n, dm) = (r.getAs[Long]("n_total"), r.getAs[Long]("decayed_mega"))
        assert(dm <= n * 1048576L, "no event can weigh more than 2^20")
        // the fixture spans ~30 days (< 5 weeks), so the oldest weight is
        // >= 2^16 and the decayed score cannot collapse toward zero
        assert(dm >= n * 65536L, "a 30-day corpus keeps >= 1/16 weight")
      }
    } finally CacheScope.release()
  }

  test("q192 incremental novelty equals the full recompute on the delta") {
    import spark.implicits._
    // The same maintenance theorem the oracle certifies, pinned in-engine:
    // q187's from-scratch ranking, restricted to the delta docs, must be
    // row-identical to the index-based incremental computation.
    val full = SparkEntry.queries("q187_ngram_novelty")(spark, dir)
      .filter($"doc_id" >= 250)
    val inc = SparkEntry.queries("q192_incremental_novelty")(spark, dir)
    try {
      assert(full.exceptAll(inc).isEmpty && inc.exceptAll(full).isEmpty,
        "incremental-vs-index must equal full recompute on the delta")
    } finally CacheScope.release()
  }

  test("q176 oriented closure counts triangles exactly on known graphs") {
    import spark.implicits._
    // K4 (4 triangles) + a disjoint triangle (1) + a 3-path (0): expect 5.
    val k4 = for (i <- 0 to 3; j <- (i + 1) to 3) yield (i.toLong, j.toLong)
    val tri = Seq((10L, 11L), (11L, 12L), (10L, 12L))
    val path = Seq((20L, 21L), (21L, 22L), (22L, 23L))
    val e0 = (k4 ++ tri ++ path).toDF("s1", "s2")
    val deg = e0.select($"s1".as("s")).unionAll(e0.select($"s2".as("s")))
      .groupBy($"s").agg(count(lit(1)).as("d"))
    val fwd = $"da.d" < $"db.d" || ($"da.d" === $"db.d" && $"s1" < $"s2")
    val eo = e0
      .join(broadcast(deg.as("da")), $"da.s" === $"s1")
      .join(broadcast(deg.as("db")), $"db.s" === $"s2")
      .select(when(fwd, $"s1").otherwise($"s2").as("u"),
        when(fwd, $"s2").otherwise($"s1").as("v"))
    val n = eo.as("e1")
      .join(eo.as("e2"), $"e1.v" === $"e2.u")
      .join(eo.as("e3"), $"e3.u" === $"e1.u" && $"e3.v" === $"e2.v")
      .count()
    assert(n == 5L, s"K4 + triangle + path must have 5 triangles, got $n")
  }

  test("q227 funnel steps shrink monotonically and step 1 is the ppm baseline") {
    val rows = SparkEntry.queries("q227_funnel_conversion")(spark, dir)
      .collect().sortBy(_.getAs[Long]("step"))
    assert(rows.map(_.getAs[Long]("step")).toSeq == Seq(1L, 2L, 3L))
    val reached = rows.map(_.getAs[Long]("users_reached"))
    assert(reached(0) >= reached(1) && reached(1) >= reached(2),
      s"funnel must narrow: ${reached.toSeq}")
    assert(rows.head.getAs[Long]("conv_ppm") == 1000000L,
      "step 1 converts at exactly 1e6 ppm of itself")
    assert(rows.forall(r => r.getAs[Long]("conv_ppm") <= 1000000L))
  }

  test("q233 streaming funnel equals the q227 batch funnel row for row") {
    // engine/batch parity: the per-user transformWithState machine over the
    // event-time-ordered log must land on exactly the chained-min counts
    val batch = SparkEntry.queries("q227_funnel_conversion")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val stream = SparkEntry.queries("q233_streaming_funnel")(spark, dir)
      .collect().map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    try assert(stream.toSeq == batch.toSeq)
    finally CacheScope.release()
  }

  test("q228 retention matrix: day 0 is always the full cohort") {
    val rows = SparkEntry.queries("q228_retention_matrix")(spark, dir).collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (off, ppm) = (r.getAs[Long]("offset_days"), r.getAs[Long]("retention_ppm"))
      assert(off >= 0 && off <= 13)
      if (off == 0) assert(ppm == 1000000L, s"day-0 retention must be 1e6, got $ppm")
      assert(ppm <= 1000000L, "no offset can retain more users than the cohort")
    }
  }

  test("q229 k-core peels never grow and a pure 3-core is a fixed point") {
    import spark.implicits._
    val rows = SparkEntry.queries("q229_kcore_decomposition")(spark, dir)
      .collect().sortBy(_.getAs[Long]("peel"))
    val nodes = rows.map(_.getAs[Long]("n_nodes"))
    val edges = rows.map(_.getAs[Long]("n_edges"))
    assert(nodes.sliding(2).forall(p => p(0) >= p(1)), s"nodes grew: ${nodes.toSeq}")
    assert(edges.sliding(2).forall(p => p(0) >= p(1)), s"edges grew: ${edges.toSeq}")
    // hand graph: K4 (every node degree 3 — survives any number of peels)
    // plus a tail path that the first peel must fully strip
    val k4 = for (i <- 0 to 3; j <- (i + 1) to 3) yield (i.toLong, j.toLong)
    val tail = Seq((3L, 10L), (10L, 11L))
    val e0 = (k4 ++ tail).toDF("s1", "s2")
    def peel(e: org.apache.spark.sql.DataFrame) = {
      val deg = e.select($"s1".as("s")).unionAll(e.select($"s2".as("s")))
        .groupBy($"s").agg(count(lit(1)).as("d"))
      val v = deg.filter($"d" >= 3).select($"s")
      e.join(v.withColumnRenamed("s", "s1"), Seq("s1"), "left_semi")
        .join(v.withColumnRenamed("s", "s2"), Seq("s2"), "left_semi")
        .select($"s1", $"s2")
    }
    val e1 = peel(e0); val e2 = peel(e1)
    assert(e1.count() == 6L, "first peel must strip the tail, keeping K4's 6 edges")
    assert(e2.count() == 6L, "K4 is a 3-core fixed point")
  }

  test("q232 CUSUM alarms are coherent and fire on a planted level shift") {
    import spark.implicits._
    val rows = SparkEntry.queries("q232_cusum_changepoint")(spark, dir).collect()
    rows.foreach { r =>
      val alarms = r.getAs[Long]("n_alarm_days")
      val first = r.getAs[java.sql.Date]("first_alarm_day")
      assert((alarms == 0) == (first == null),
        "first_alarm_day must exist iff any alarm day exists")
      assert(r.getAs[Long]("max_s_micro") >= 0L)
    }
    // planted shift: 20 days at 10/day then 10 days at 30/day. The CUSUM
    // S_t over deviations from the global mean (≈16.7) must alarm inside
    // the shifted regime, never before it.
    val daily = (1 to 20).map(d => (d, 10L)) ++ (21 to 30).map(d => (d, 30L))
    val d = daily.toDF("day", "cnt")
    val k = d.agg(expr("(SUM(cnt) * 1000000) DIV COUNT(*)").as("k_micro"))
    val wCum = org.apache.spark.sql.expressions.Window.orderBy($"day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
        org.apache.spark.sql.expressions.Window.currentRow)
    val wMin = org.apache.spark.sql.expressions.Window.orderBy($"day")
      .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, -1)
    val sx = d.crossJoin(k)
      .withColumn("cum", sum($"cnt" * 1000000L - $"k_micro").over(wCum))
      .withColumn("s",
        $"cum" - least(coalesce(min($"cum").over(wMin), lit(0L)), lit(0L)))
      .filter($"s" > $"k_micro").select($"day").as[Int].collect()
    assert(sx.nonEmpty && sx.min > 20,
      s"alarm must fire only after the day-21 shift, got ${sx.toSeq.sorted.take(3)}")
  }

  test("q241 skyline is exactly the non-dominated set (brute-force check)") {
    import spark.implicits._
    // The window formulation must agree with the O(n²) dominance
    // definition it replaces: a part is dominated iff another part is >=
    // on both (price, size) and > on at least one. Brute-forced over the
    // sf0.001 part table (driver-side; the fixture is small).
    val parts = Tables.load(spark, dir, "part")
      .select($"p_partkey".as[Long],
        floor($"p_retailprice" * 100 + 0.5).cast("long").as[Long],
        $"p_size".cast("long").as[Long]).collect()
    val frontier = try {
      SparkEntry.queries("q241_pareto_frontier")(spark, dir)
        .select($"p_partkey").as[Long].collect().toSet
    } finally CacheScope.release()
    val expected = parts.filter { case (_, c, z) =>
      !parts.exists { case (_, c2, z2) =>
        c2 >= c && z2 >= z && (c2 > c || z2 > z) }
    }.map(_._1).toSet
    assert(frontier == expected,
      s"skyline mismatch: missing=${expected -- frontier} extra=${frontier -- expected}")
  }

  test("q323 release funnel only ever shrinks and stages stay consistent") {
    import spark.implicits._
    val rows = try {
      SparkEntry.queries("q323_release_pipeline")(spark, dir)
        .select($"stage".as[String], $"n_rows".as[Long], $"metric".as[Long])
        .collect().toSeq
    } finally CacheScope.release()
    val byStage = rows.map(r => r._1 -> r).toMap
    assert(rows.map(_._1) ==
      Seq("1_crawled", "2_url_unique", "3_quality_kept", "4_near_deduped",
        "5_index_terms", "6_bm25_smoke"))
    // doc counts can only shrink through crawl-dedup, gates, near-dedup
    val funnel = Seq("1_crawled", "2_url_unique", "3_quality_kept",
      "4_near_deduped").map(byStage(_)._2)
    assert(funnel.sliding(2).forall { case Seq(a, b) => b <= a },
      s"funnel must be non-increasing: $funnel")
    assert(funnel.last > 0, "release must not be empty")
    // token metric shrinks with the docs
    val toks = Seq("1_crawled", "2_url_unique", "3_quality_kept",
      "4_near_deduped").map(byStage(_)._3)
    assert(toks.sliding(2).forall { case Seq(a, b) => b <= a })
    // indexed mass is bounded by the released token mass; smoke top-k <= 10
    assert(byStage("5_index_terms")._3 <= byStage("4_near_deduped")._3)
    assert(byStage("6_bm25_smoke")._2 <= 10)
  }

  test("q239 Kaplan-Meier curve is non-increasing and inside (0, 1]") {
    import spark.implicits._
    val rows = try {
      SparkEntry.queries("q239_kaplan_meier")(spark, dir)
        .select($"t_hours".as[Long], $"survival_r4".as[Double],
          $"survival_mln_micro".as[Long]).collect()
    } finally CacheScope.release()
    assert(rows.nonEmpty)
    assert(rows.forall { case (_, s, _) => s > 0.0 && s <= 1.0 })
    // the exact column agrees with the readout: r4(exp(cum/1e6)) == s
    assert(rows.forall { case (_, s, c) =>
      math.abs(math.floor(math.exp(c / 1e6) * 10000 + 0.5) / 10000 - s) == 0.0
    })
    rows.map(_._3).sliding(2).foreach {
      case Array(a, b) => assert(b <= a, s"survival must not rise: $a -> $b")
      case _ =>
    }
  }

  test("q385 verdict ladder is consistent with its own agreement counts") {
    // dup_vs_index requires an index collision at >= 8/16; dup_in_batch
    // requires NO index dup but a smaller-id batch collision at >= 8/16;
    // admit requires neither. Candidate counts must support the maxima.
    val rows = try SparkEntry.queries("q385_incremental_dedup")(spark, dir)
      .collect() finally CacheScope.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val mi = r.getAs[Long]("max_match_index")
      val mb = r.getAs[Long]("max_match_batch")
      val v = r.getAs[String]("verdict")
      assert(mi <= 16 && mb <= 16)
      if (mi > 0) assert(r.getAs[Long]("n_index_cand") >= 1)
      if (mb > 0) assert(r.getAs[Long]("n_batch_cand") >= 1)
      val expect = if (mi >= 8) "dup_vs_index"
        else if (mb >= 8) "dup_in_batch" else "admit"
      assert(v == expect, s"doc ${r.getAs[Long]("doc_id")}: $v != $expect")
    }
  }

  test("q398 DP beats greedy on a planted pathological word; fixture reads a true zero") {
    import spark.implicits._
    // "tionating" greedy-segments tion|ati|n|g (4 pieces) while the
    // optimal split uses 3 — the canonical greedy-vs-Viterbi gap. The
    // fixture corpus happens to contain no such word (inflation_ppm = 0
    // everywhere), so this plant proves the DP actually searches.
    val row = Seq("tionating").toDF("word")
      .selectExpr("word",
        s"""aggregate(sequence(1, length(word)),
           |  named_struct('i', 1, 'n', CAST(0 AS BIGINT)),
           |  (acc, p) -> IF(p <> acc.i, acc, named_struct(
           |    'i', acc.i + CASE WHEN substring(word, acc.i, 4) IN ('tion','ment','ther','ight','ound','ough') THEN 4
           |      WHEN substring(word, acc.i, 3) IN ('ing','ion','ent','ati','ter','est','ers','and','the','for','ere','his','ith','ver') THEN 3
           |      WHEN substring(word, acc.i, 2) IN ('th','he','in','er','an','re','on','at','en','nd','ti','es','or','te','ed','is','it','al','ar','st','to','nt','ha','ou','le','se') THEN 2
           |      ELSE 1 END,
           |    'n', acc.n + CAST(1 AS BIGINT))),
           |  acc -> acc.n) AS greedy_n""".stripMargin)
      .head()
    assert(row.getAs[Long]("greedy_n") == 4L)
    val rows = try SparkEntry.queries("q398_segmentation_optimality")(spark, dir)
      .collect() finally CacheScope.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("opt_subwords") <= r.getAs[Long]("greedy_subwords"),
        "optimal segmentation can never use more pieces than greedy")
      assert(r.getAs[Long]("inflation_ppm") >= 0L)
    }
    // and the DP itself, run on the plant through the same operator
    // machinery, must find the 3-piece split
    val opt = Seq("tionating").toDF("word").selectExpr(
      s"""aggregate(sequence(1, length(word)),
         |  named_struct('b1', CAST(0 AS BIGINT), 'b2', CAST(9999999 AS BIGINT),
         |    'b3', CAST(9999999 AS BIGINT), 'b4', CAST(9999999 AS BIGINT)),
         |  (acc, i) -> named_struct(
         |    'b1', LEAST(acc.b1 + 1,
         |      CASE WHEN i >= 2 AND substring(word, i - 1, 2) IN ('th','he','in','er','an','re','on','at','en','nd','ti','es','or','te','ed','is','it','al','ar','st','to','nt','ha','ou','le','se') THEN acc.b2 + 1 ELSE 9999999 END,
         |      CASE WHEN i >= 3 AND substring(word, i - 2, 3) IN ('ing','ion','ent','ati','ter','est','ers','and','the','for','ere','his','ith','ver') THEN acc.b3 + 1 ELSE 9999999 END,
         |      CASE WHEN i >= 4 AND substring(word, i - 3, 4) IN ('tion','ment','ther','ight','ound','ough') THEN acc.b4 + 1 ELSE 9999999 END),
         |    'b2', acc.b1, 'b3', acc.b2, 'b4', acc.b3),
         |  acc -> acc.b1) AS opt_n""".stripMargin)
      .head().getAs[Long]("opt_n")
    assert(opt == 3L, s"DP must find the 3-piece split, got $opt")
  }

  test("q387 detector fires on a planted watermarked doc, stays silent on the fixture") {
    // Simulate the watermarked generator: at each step pick whichever of
    // two candidate words makes the (prev, next) bigram green under the
    // SAME hash rule the detector uses. 100% green at n=99 positions gives
    // (2g-n)^2 = n^2 >> 9n — the integer flag must fire. The fixture
    // (natural text) must keep all sources unflagged.
    def green(prev: String, next: String): Boolean =
      graft.functions.GraftExpressions.polyHashBytes(
        org.apache.spark.unsafe.types.UTF8String.fromString(
          prev + " " + next)) % 2 == 0
    val vocab = Seq("alpha", "beta", "gamma", "delta")
    val words = Iterator.iterate(List("alpha")) { acc =>
      val cand = vocab.find(green(acc.head, _)).getOrElse(vocab.head)
      cand :: acc
    }.drop(99).next().reverse
    val n = words.length - 1
    val g = words.sliding(2).count { case Seq(a, b) => green(a, b) }
    assert(g >= 80, s"greedy green generator only hit $g/$n") // ~1/16 dead-end rate per step
    val b = 2L * g - n
    assert(b >= 0 && b * b >= 9L * n, "planted doc must clear the z>=3 flag")
    val rows = try SparkEntry.queries("q387_watermark_screen")(spark, dir)
      .collect() finally CacheScope.release()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getAs[Long]("n_flagged") == 0L,
        s"natural-text source ${r.getAs[String]("source")} falsely flagged")
      val ppm = r.getAs[Long]("green_ppm")
      assert(ppm > 350000L && ppm < 650000L, s"natural green_ppm $ppm off 1/2")
    }
  }

  test("q423 unigram-LM tokenizer: learned pieces are corpus substrings, " +
    "usage orders costs, and subword counts sit between words and chars") {
    // Laws the hash oracle can't state: (a) every learned multi-char piece
    // actually occurs in some corpus word (the trainer can't hallucinate
    // vocabulary); (b) cost1 = ln(T1/f1) is strictly monotone in usage, so
    // the usage-DESC top-10 must be cost-ASC (ties in usage tie in cost);
    // (c) per-source subword totals are sandwiched between the source's
    // word count (>= 1 token per word) and its non-space char count
    // (<= 1 token per char) STRICTLY below chars — the learned multi-char
    // pieces must actually fire somewhere in every source.
    import org.apache.spark.sql.functions._
    val out = try SparkEntry.queries("q423_unigram_lm_tokenizer")(spark, dir)
      .collect() finally CacheScope.release()
    val (pieces, srcs) = out.partition(_.getAs[String]("item").startsWith("__piece:"))
    assert(pieces.length == 10 && srcs.nonEmpty)
    val words = spark.read.parquet(s"$dir/documents.parquet")
      .select(explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "").distinct()
      .collect().map(_.getString(0)).toSet
    val ranked = pieces.map(r => (r.getAs[String]("item").stripPrefix("__piece:"),
      r.getAs[Long]("n"), r.getAs[Long]("micro")))
      .sortBy { case (p, n, _) => (-n, p) }
    ranked.foreach { case (p, n, _) =>
      assert(p.length >= 2 && n > 0L, s"top piece $p unused")
      assert(words.exists(_.contains(p)), s"piece $p not a corpus substring")
    }
    ranked.sliding(2).foreach { case Array((pa, na, ca), (pb, nb, cb)) =>
      if (na > nb) assert(ca < cb, s"usage/cost order broken at $pa/$pb")
      else assert(ca == cb, s"tied usage must tie cost at $pa/$pb")
    case _ => ()
    }
    val stats = spark.read.parquet(s"$dir/documents.parquet")
      .select(col("source"), explode(split(col("text"), " ")).as("w"))
      .filter(col("w") =!= "")
      .groupBy("source")
      .agg(count(lit(1)).as("nw"), sum(length(col("w"))).as("nc"))
      .collect().map(r => r.getAs[String]("source") ->
        (r.getAs[Long]("nw"), r.getAs[Long]("nc"))).toMap
    srcs.foreach { r =>
      val (nw, nc) = stats(r.getAs[String]("item"))
      val n = r.getAs[Long]("n")
      assert(n >= nw && n < nc,
        s"source ${r.getAs[String]("item")}: $n subwords vs $nw words / $nc chars")
    }
  }

  test("q425 period detector: every planted doc fires with period <= 4, " +
    "and the plant changes nothing about natural sources") {
    // The planted docs are first-4-tokens x 5, so their smallest period
    // must divide 4 (1, 2, or 4 — smaller if the seed tokens repeat); the
    // natural rows just have to be well-formed (the fixture may or may not
    // contain real loops — the oracle pins whatever it reads).
    val out = try SparkEntry.queries("q425_period_detection")(spark, dir)
      .collect() finally CacheScope.release()
    val (planted, natural) = out.partition(
      _.getAs[String]("source").startsWith("__planted:"))
    assert(planted.nonEmpty, "plant produced no rows")
    planted.foreach { r =>
      assert(r.getAs[Long]("periodic_ppm") == 1000000L,
        s"planted source ${r.getAs[String]("source")} not fully periodic")
      val p = r.getAs[Long]("min_period")
      assert(p >= 1L && p <= 4L && 4L % p == 0L, s"planted period $p")
    }
    natural.foreach { r =>
      assert(r.getAs[Long]("n_periodic") <= r.getAs[Long]("n_docs"))
      assert(r.getAs[Long]("periodic_ppm") <= 1000000L)
    }
  }

  test("q427 streamed period screen equals the q425 batch scan row for row") {
    // The twin contract the shared oracle enforces per engine, asserted
    // directly across the two execution paths: produce-time plant +
    // complete-mode counters through the engine source must reproduce the
    // batch in-query plant exactly.
    def run(name: String) = try {
      SparkEntry.queries(name)(spark, dir).collect().map(_.toSeq).toSeq
    } finally CacheScope.release()
    assert(run("q427_streaming_periods") == run("q425_period_detection"))
  }

  test("q430 staleness monitor: halves partition each source, fertility " +
    "is sandwiched, and the shared-alphabet fixture has zero OOV") {
    // Laws the hash oracle can't state: every (source, half) pair is
    // present with words split across both halves; fertility sits in
    // (1e6, 4e6] (>= 1 subword per word strictly below the 4-char piece
    // cap's ceiling... pieces are 1..4 chars so fertility <= chars/word
    // but at least 1e6); and since the fixture's template corpus shares
    // one alphabet across halves, no word can be fully OOV.
    val out = try SparkEntry.queries("q430_tokenizer_staleness")(spark, dir)
      .collect() finally CacheScope.release()
    val bySource = out.groupBy(_.getAs[String]("source"))
    bySource.foreach { case (src, rs) =>
      assert(rs.map(_.getAs[String]("half")).sorted.toSeq == Seq("new", "old"),
        s"$src must have both halves")
      rs.foreach { r =>
        val f = r.getAs[Long]("fertility_ppm")
        assert(f >= 1000000L && f < 10000000L, s"$src fertility $f")
        assert(r.getAs[Long]("oov_words") == 0L,
          s"$src: shared-alphabet fixture cannot have OOV words")
        assert(r.getAs[Long]("n_subwords") >= r.getAs[Long]("n_words"))
      }
    }
  }

  test("q460 label spreading matches a from-scratch BFS over the planted topology") {
    val out = try SparkEntry.queries("q460_label_spreading")(spark, dir)
      .collect() finally CacheScope.release()
    val n = Tables.load(spark, dir, "documents").count()
    // Independent reference: BFS from each block's seed over the ring+chord
    // edges; a node labeled at round t iff its hop distance from the seed
    // is t <= 3 (single seed per block => majority voting degenerates to
    // frontier expansion, so BFS is exact here), class = block % 3.
    val nodes = (0L until n).toSet
    def block(v: Long) = v / 40
    def nbrs(v: Long): Seq[Long] =
      Seq(v + 1, v + 7, v - 1, v - 7)
        .filter(u => nodes.contains(u) && block(u) == block(v))
    val dist = scala.collection.mutable.Map[Long, Long]()
    nodes.filter(_ % 40 == 0).foreach(s => dist(s) = 0L)
    var frontier = dist.keySet.toSet
    for (t <- 1L to 3L) {
      frontier = frontier.flatMap(nbrs).filterNot(dist.contains)
      frontier.foreach(v => dist(v) = t)
    }
    assert(out.length == n)
    out.foreach { r =>
      val v = r.getAs[Long]("doc_id")
      val expectedAt = dist.getOrElse(v, -1L)
      assert(r.getAs[Long]("labeled_at") == expectedAt,
        s"node $v labeled_at ${r.getAs[Long]("labeled_at")} != BFS $expectedAt")
      val expectedLabel = if (expectedAt >= 0) block(v) % 3 else -1L
      assert(r.getAs[Long]("label") == expectedLabel,
        s"node $v label ${r.getAs[Long]("label")} != $expectedLabel")
    }
    assert(out.count(_.getAs[Long]("label") == -1L) > 0,
      "3 budgeted rounds must leave a visible unreached frontier")
  }

  test("q461 mojibake known vectors: counts, mask, len_delta cross-check") {
    val out = try SparkEntry.queries("q461_mojibake_detect")(spark, dir)
      .collect() finally CacheScope.release()
    out.foreach { r =>
      val id = r.getAs[Long]("doc_id")
      val (n1, n2) = (r.getAs[Long]("n_moji_latin1"), r.getAs[Long]("n_moji_cp1252"))
      assert(n1 == (if (id % 4 == 1) 3L else 0L), s"doc $id n1=$n1")
      assert(n2 == (if (id % 6 == 3) 2L else 0L), s"doc $id n2=$n2")
      assert(r.getAs[Long]("kind_mask") ==
        (if (n1 > 0) 1L else 0L) + (if (n2 > 0) 2L else 0L))
      assert(r.getAs[Long]("len_delta") == n1 + 2 * n2,
        s"doc $id: each Latin-1 repair drops 1 char, each cp1252 drops 2")
      assert(r.getAs[Boolean]("flagged") == (n1 + n2 > 0))
    }
    // overlap docs (both corruption kinds) must exist: doc_id % 12 = 9
    assert(out.exists(r => r.getAs[Long]("kind_mask") == 3L),
      "fixture must exercise docs carrying BOTH corruption kinds")
  }
}
