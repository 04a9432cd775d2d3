package graft.operators

import graft.QueryDef.q
import graft.functions.VectorFns._
import graft.{QueryDef, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Embedding similarity search over `embeddings` (ARRAY<FLOAT>, dim 64,
  * unit-normalized → dot == cosine).
  *
  * Three tiers, in increasing 100 TB readiness:
  *  - q44: exact threshold self-join (the correctness baseline; candidate
  *    space bounded by the a<b triangle, only viable at moderate n);
  *  - q45: brute-force top-k for a bounded query set — scales linearly in
  *    corpus size because the query side is broadcast;
  *  - q46: IVF (inverted-file) ANN — assign vectors to coarse centroids
  *    map-side, probe the top few centroids per query, search only those
  *    clusters. This is the scale path: the exact search space per query
  *    drops from n to n/|centroids| * probes.
  */
object Similarity {

  private def T(s: SparkSession, dir: String, name: String): DataFrame =
    Tables.load(s, dir, name)

  private val duckDotSql: (String, String) => String = duckDot

  val defs: Seq[QueryDef] = Seq(

    q("q69_embedding_lsh",
      s"""WITH h AS (SELECT vec_id - 100 AS hid, embedding he FROM embeddings
         |           WHERE vec_id BETWEEN 100 AND 115),
         |sig AS (SELECT v.vec_id, CAST(h.hid // 4 AS BIGINT) AS band,
         |    SUM(CASE WHEN ${duckDotSql("v.embedding", "h.he")} >= 0
         |        THEN (1::BIGINT << CAST(h.hid % 4 AS INT)) ELSE 0 END) AS bucket
         |  FROM embeddings v, h GROUP BY v.vec_id, h.hid // 4),
         |cand AS (SELECT DISTINCT a.vec_id ia, b.vec_id ib FROM sig a
         |         JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
         |                   AND a.vec_id < b.vec_id),
         |scored AS (SELECT ia, ib, ${duckDotSql("va.embedding", "vb.embedding")} AS sim
         |           FROM cand JOIN embeddings va ON va.vec_id = cand.ia
         |                     JOIN embeddings vb ON vb.vec_id = cand.ib)
         |SELECT ia AS id_a, ib AS id_b, sim FROM scored
         |WHERE sim >= 0.4 ORDER BY id_a, id_b""") { (s, dir) =>
      import s.implicits._
      // Random-hyperplane LSH, the scale path for embedding near-dup:
      // 16 sign bits from fixed hyperplanes (deterministic: vectors
      // 100..115 act as planes), banded 4x4; only bucket-mates are scored
      // exactly. Candidate generation is an equi-join on (band, bucket) —
      // per-band recall p^4 with p = 1 - theta/pi, union over 4 bands;
      // tune planes/bands to the target threshold. Compare q44: exact but
      // O(n^2); this is the one you run at 100 TB.
      val e = T(s, dir, "embeddings")
      val planes = broadcast(e.filter($"vec_id".between(100, 115))
        .select(($"vec_id" - 100).as("hid"), $"embedding".as("he")))
      val sig = e.select($"vec_id", $"embedding")
        .crossJoin(planes)
        .withColumn("bit",
          when(expr("graft_dot(embedding, he)") >= 0,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(hid % 4 AS INT))"))
            .otherwise(lit(0L)))
        .groupBy($"vec_id", ($"hid" / 4).cast("long").as("band"))
        .agg(sum($"bit").as("bucket"))
      val cand = sig.as("a").join(sig.as("b"),
          $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket" &&
            $"a.vec_id" < $"b.vec_id")
        .select($"a.vec_id".as("ia"), $"b.vec_id".as("ib"))
        .distinct()
      cand
        .join(e.select($"vec_id".as("ia"), $"embedding".as("va")), "ia")
        .join(e.select($"vec_id".as("ib"), $"embedding".as("vb")), "ib")
        .withColumn("sim", expr("graft_dot(va, vb)"))
        .filter($"sim" >= 0.4)
        .select($"ia".as("id_a"), $"ib".as("id_b"), $"sim")
        .orderBy($"id_a", $"id_b")
    },

    q("q44_embedding_neardup",
      s"""SELECT a.vec_id AS id_a, b.vec_id AS id_b,
         |  ${duckDot("a.embedding", "b.embedding")} AS sim
         |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         |WHERE ${duckDot("a.embedding", "b.embedding")} >= 0.45
         |ORDER BY id_a, id_b""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      // spread the STREAMED side of the nested-loop join: the single-task
      // scan otherwise runs all ~n^2/2 dot products serially (guide §2.5;
      // no-op on healthy multi-split layouts). The broadcast side stays
      // unspread.
      val a = graft.Tables.spread(e)
        .select($"vec_id".as("id_a"), $"embedding".as("ea"))
      val b = e.select($"vec_id".as("id_b"), $"embedding".as("eb"))
      a.join(b, $"id_a" < $"id_b")
        .withColumn("sim", expr("graft_dot(ea, eb)"))
        .filter($"sim" >= 0.45)
        .select($"id_a", $"id_b", $"sim")
        .orderBy($"id_a", $"id_b")
    },

    q("q45_sim_topk_brute",
      s"""SELECT q_id, cand_id, CAST(rn AS BIGINT) AS rk, sim FROM (
         |  SELECT q.vec_id q_id, c.vec_id cand_id,
         |    ${duckDot("q.embedding", "c.embedding")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${duckDot("q.embedding", "c.embedding")} DESC, c.vec_id) rn
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 20
         |) WHERE rn <= 5 ORDER BY q_id, rk""") { (s, dir) =>
      import s.implicits._
      // Bounded query set × full corpus: broadcast the queries so the scan
      // of the big side is shuffle-free; per-query top-k via window.
      val e = T(s, dir, "embeddings")
      val qs = broadcast(e.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"embedding".as("qe")))
      val cands = e.select($"vec_id".as("cand_id"), $"embedding".as("ce"))
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"cand_id")
      qs.join(cands, $"q_id" =!= $"cand_id")
        .withColumn("sim", expr("graft_dot(qe, ce)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 5)
        .select($"q_id", $"cand_id", $"rk", $"sim")
        .orderBy($"q_id", $"rk")
    },

    q("q124_hard_negatives",
      s"""SELECT q_id, cand_id, CAST(rn AS BIGINT) AS rk, sim FROM (
         |  SELECT q.vec_id q_id, c.vec_id cand_id,
         |    ${duckDotSql("q.embedding", "c.embedding")} AS sim,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${duckDotSql("q.embedding", "c.embedding")} DESC, c.vec_id) rn
         |  FROM embeddings q JOIN embeddings c ON q.label <> c.label
         |  WHERE q.vec_id < 20
         |) WHERE rn <= 5 ORDER BY q_id, rk""") { (s, dir) =>
      import s.implicits._
      // Hard-negative mining for contrastive training: for each anchor, the
      // most similar vectors with a DIFFERENT label — the negatives that
      // actually teach the model. Same plan shape as q45 (anchors broadcast,
      // corpus scanned shuffle-free, per-anchor top-k window); the label
      // mismatch rides the broadcast join condition so candidates are
      // filtered before scoring.
      val e = T(s, dir, "embeddings")
      val qs = broadcast(e.filter($"vec_id" < 20)
        .select($"vec_id".as("q_id"), $"label".as("q_label"), $"embedding".as("qe")))
      val cands = e.select($"vec_id".as("cand_id"), $"label".as("c_label"),
        $"embedding".as("ce"))
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"cand_id")
      qs.join(cands, $"q_label" =!= $"c_label")
        .withColumn("sim", expr("graft_dot(qe, ce)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter($"rk" <= 5)
        .select($"q_id", $"cand_id", $"rk", $"sim")
        .orderBy($"q_id", $"rk")
    },

    q("q46_sim_ann_ivf",
      s"""WITH c AS (SELECT vec_id cid, embedding ce FROM embeddings WHERE vec_id % 25 = 0),
         |v AS (SELECT vec_id, embedding FROM embeddings),
         |ad AS (SELECT v.vec_id, c.cid, ${duckDot("v.embedding", "c.ce")} AS d FROM v, c),
         |assign AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) rn
         |  FROM ad) WHERE rn = 1),
         |probes AS (SELECT vec_id q_id, cid FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) rn
         |  FROM ad WHERE vec_id < 10) WHERE rn <= 2),
         |cand AS (SELECT p.q_id, a.vec_id cand_id FROM probes p
         |         JOIN assign a ON a.cid = p.cid WHERE a.vec_id <> p.q_id),
         |scored AS (SELECT q_id, cand_id, ${duckDot("qv.embedding", "cv.embedding")} AS sim
         |  FROM cand JOIN v qv ON qv.vec_id = cand.q_id
         |            JOIN v cv ON cv.vec_id = cand.cand_id),
         |ranked AS (SELECT q_id, cand_id, sim,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY sim DESC, cand_id) rn
         |  FROM scored)
         |SELECT q_id, cand_id, CAST(rn AS BIGINT) AS rk, sim FROM ranked
         |WHERE rn <= 3 ORDER BY q_id, rk""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      // deterministic coarse centroids (every 25th vector); at scale these
      // would come from k-means — the plumbing below is identical.
      val cents = broadcast(e.filter($"vec_id" % 25 === 0)
        .select($"vec_id".as("cid"), $"embedding".as("ce")))
      val vecs = e.select($"vec_id", $"embedding")
      val ad = vecs.crossJoin(cents)
        .withColumn("d", expr("graft_dot(embedding, ce)"))
        .select($"vec_id", $"cid", $"d")
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d".desc, $"cid")
      val assign = ad.withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1).select($"vec_id", $"cid")
      val probes = ad.filter($"vec_id" < 10)
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" <= 2)
        .select($"vec_id".as("q_id"), $"cid")
      val cand = probes.join(assign.withColumnRenamed("vec_id", "cand_id"), "cid")
        .filter($"cand_id" =!= $"q_id")
        .select($"q_id", $"cand_id")
      val scored = cand
        .join(vecs.select($"vec_id".as("q_id"), $"embedding".as("qe")), "q_id")
        .join(vecs.select($"vec_id".as("cand_id"), $"embedding".as("cve")), "cand_id")
        .withColumn("sim", expr("graft_dot(qe, cve)"))
      val wRank = Window.partitionBy($"q_id").orderBy($"sim".desc, $"cand_id")
      scored.withColumn("rk", row_number().over(wRank).cast("long"))
        .filter($"rk" <= 3)
        .select($"q_id", $"cand_id", $"rk", $"sim")
        .orderBy($"q_id", $"rk")
    },

    q("q95_ann_recall",
      // ANN EVALUATION as a first-class operator: recall@10 of the IVF
      // index (2 probes) against the exact brute-force ground truth, per
      // query. Both rankings are deterministic (q45/q46 prove each engine
      // computes identical sets), so the recall fraction itself is
      // oracle-checkable — the eval loop a production ANN deployment runs
      // to tune nlist/nprobe before committing to an index layout.
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
         |brute AS (SELECT q_id, cand_id FROM (
         |  SELECT q.vec_id q_id, c.vec_id cand_id,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${duckDotSql("q.embedding", "c.embedding")} DESC, c.vec_id) rn
         |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
         |  WHERE q.vec_id < 10) WHERE rn <= 10),
         |c AS (SELECT vec_id cid, embedding ce FROM embeddings WHERE vec_id % 25 = 0),
         |ad AS (SELECT v.vec_id, c.cid, ${duckDotSql("v.embedding", "c.ce")} AS d FROM v, c),
         |assign AS (SELECT vec_id, cid FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) rn
         |  FROM ad) WHERE rn = 1),
         |probes AS (SELECT vec_id q_id, cid FROM (
         |  SELECT vec_id, cid, ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d DESC, cid) rn
         |  FROM ad WHERE vec_id < 10) WHERE rn <= 2),
         |cand AS (SELECT p.q_id, a.vec_id cand_id FROM probes p
         |         JOIN assign a ON a.cid = p.cid WHERE a.vec_id <> p.q_id),
         |ivf AS (SELECT q_id, cand_id FROM (
         |  SELECT cand.q_id, cand.cand_id,
         |    ROW_NUMBER() OVER (PARTITION BY cand.q_id
         |      ORDER BY ${duckDotSql("qv.embedding", "cv.embedding")} DESC, cand.cand_id) rn
         |  FROM cand JOIN v qv ON qv.vec_id = cand.q_id
         |            JOIN v cv ON cv.vec_id = cand.cand_id) WHERE rn <= 10),
         |hits AS (SELECT b.q_id, COUNT(*) n_hit FROM brute b
         |         JOIN ivf i ON i.q_id = b.q_id AND i.cand_id = b.cand_id GROUP BY 1)
         |SELECT b.q_id, CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 10.0 AS recall_at_10
         |FROM (SELECT DISTINCT q_id FROM brute) b LEFT JOIN hits h ON h.q_id = b.q_id
         |ORDER BY b.q_id""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val vecs = e.select($"vec_id", $"embedding")
      // ground truth: brute-force top-10 per query (queries broadcast)
      val qs = broadcast(e.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("qe")))
      val wQ = Window.partitionBy($"q_id").orderBy($"sim".desc, $"cand_id")
      val brute = qs
        .join(vecs.select($"vec_id".as("cand_id"), $"embedding".as("ce")),
          $"q_id" =!= $"cand_id")
        .withColumn("sim", expr("graft_dot(qe, ce)"))
        .withColumn("rn", row_number().over(wQ))
        .filter($"rn" <= 10)
        .select($"q_id", $"cand_id")
      // IVF top-10: same centroids/assignment/probes as q46
      val cents = broadcast(e.filter($"vec_id" % 25 === 0)
        .select($"vec_id".as("cid"), $"embedding".as("ce")))
      val ad = vecs.crossJoin(cents)
        .withColumn("d", expr("graft_dot(embedding, ce)"))
        .select($"vec_id", $"cid", $"d")
      val wAssign = Window.partitionBy($"vec_id").orderBy($"d".desc, $"cid")
      val assign = ad.withColumn("rn", row_number().over(wAssign))
        .filter($"rn" === 1).select($"vec_id", $"cid")
      val probes = ad.filter($"vec_id" < 10)
        .withColumn("rn", row_number().over(wAssign))
        .filter($"rn" <= 2)
        .select($"vec_id".as("q_id"), $"cid")
      val ivf = probes
        .join(assign.withColumnRenamed("vec_id", "cand_id"), "cid")
        .filter($"cand_id" =!= $"q_id")
        .join(vecs.select($"vec_id".as("q_id"), $"embedding".as("qe")), "q_id")
        .join(vecs.select($"vec_id".as("cand_id"), $"embedding".as("cve")), "cand_id")
        .withColumn("sim", expr("graft_dot(qe, cve)"))
        .withColumn("rn", row_number().over(wQ.orderBy($"sim".desc, $"cand_id")))
        .filter($"rn" <= 10)
        .select($"q_id", $"cand_id")
      val hits = brute.as("b")
        .join(ivf.as("i"), $"b.q_id" === $"i.q_id" && $"b.cand_id" === $"i.cand_id")
        .groupBy($"b.q_id".as("q_id"))
        .agg(count(lit(1)).as("n_hit"))
      brute.select($"q_id").distinct()
        .join(hits, Seq("q_id"), "left")
        .select($"q_id",
          (coalesce($"n_hit", lit(0L)).cast("double") / 10.0).as("recall_at_10"))
        .orderBy($"q_id")
    },

    q("q97_embedding_quantize",
      // Symmetric int8 quantization (max-abs scaling) — the standard 4x
      // shrink applied to embedding stores before ANN indexing at scale.
      // floor(x + 0.5) instead of round(): both engines floor identically,
      // while round() half-away vs half-even diverges. The digest pins the
      // whole quantized vector, so any drift in the arithmetic fails the
      // hash check.
      """WITH s AS (SELECT vec_id, embedding,
        |    list_aggregate(list_transform(embedding, x -> abs(CAST(x AS DOUBLE))), 'max') AS maxabs
        |  FROM embeddings),
        |qz AS (SELECT vec_id, maxabs,
        |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS BIGINT)) AS qv
        |  FROM s)
        |SELECT vec_id,
        |  md5(array_to_string(qv, ',')) AS q_digest,
        |  CAST(list_aggregate(qv, 'max') AS BIGINT) AS q_max,
        |  CAST(list_aggregate(qv, 'min') AS BIGINT) AS q_min
        |FROM qz ORDER BY vec_id""") { (s, dir) =>
      import s.implicits._
      T(s, dir, "embeddings")
        .withColumn("maxabs",
          expr("array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .withColumn("qv",
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / maxabs + 0.5) AS BIGINT))"))
        .select($"vec_id",
          md5(concat_ws(",", expr("transform(qv, x -> CAST(x AS STRING))"))
            .cast("binary")).as("q_digest"),
          expr("array_max(qv)").cast("long").as("q_max"),
          expr("array_min(qv)").cast("long").as("q_min"))
        .orderBy($"vec_id")
    },

    q("q141_semantic_dedup",
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |qz AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT)) AS qv
         |  FROM embeddings, m),
         |h AS (SELECT vec_id - 100 AS hid, embedding he FROM embeddings
         |      WHERE vec_id BETWEEN 100 AND 105),
         |sig AS (SELECT v.vec_id,
         |    CAST(SUM(CASE WHEN ${duckDotSql("v.embedding", "h.he")} >= 0
         |        THEN (1::BIGINT << CAST(h.hid AS INT)) ELSE 0 END) AS BIGINT) AS bucket
         |  FROM embeddings v, h GROUP BY v.vec_id),
         |ex AS (SELECT q.vec_id, s.bucket, unnest(range(len(q.qv))) AS pos, unnest(q.qv) AS x
         |       FROM qz q JOIN sig s ON q.vec_id = s.vec_id),
         |bs AS (SELECT bucket, pos, CAST(SUM(x) AS BIGINT) sx FROM ex GROUP BY bucket, pos),
         |bn AS (SELECT bucket, CAST(COUNT(*) AS BIGINT) n FROM sig GROUP BY bucket),
         |sc AS (SELECT ex.vec_id, ex.bucket,
         |    CAST(SUM(x*x) AS BIGINT) vv, CAST(SUM(x*sx) AS BIGINT) vs
         |  FROM ex JOIN bs ON ex.bucket = bs.bucket AND ex.pos = bs.pos
         |  GROUP BY ex.vec_id, ex.bucket),
         |scored AS (SELECT sc.vec_id, sc.bucket, bn.n AS n_bucket,
         |    n*n*vv - 2*n*vs AS score
         |  FROM sc JOIN bn ON sc.bucket = bn.bucket),
         |r AS (SELECT vec_id, bucket, n_bucket, score,
         |    row_number() OVER (PARTITION BY bucket ORDER BY score, vec_id) rn,
         |    first_value(vec_id) OVER (PARTITION BY bucket ORDER BY score, vec_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) rep_id
         |  FROM scored)
         |SELECT vec_id, bucket, n_bucket, score, (rn = 1) AS is_rep, rep_id
         |FROM r ORDER BY vec_id""") { (s, dir) =>
      import s.implicits._
      // Semantic deduplication (SemDeDup, Abbas et al. 2023): partition the
      // embedding space into clusters, keep ONE representative per cluster —
      // the member nearest the cluster centroid — and mark the rest as
      // semantic duplicates. Clusters here are hyperplane-LSH buckets (6
      // fixed planes -> 64 cells; at scale: k-means cells, same dataflow),
      // so clustering is map-side against broadcast planes. The centroid
      // argmin is INTEGER-exact: vectors are int8-quantized on a GLOBAL
      // max-abs scale (per-vector scales would distort cross-vector
      // geometry), and argmin_v ||v - S/n||^2 is rewritten as
      // argmin_v n^2*(v.v) - 2n*(v.S) over BIGINT sums — no float mean, no
      // order-dependence, identical in both engines WITHIN the documented
      // bucket-size bound: |score| <= 3*n^2*dim*127^2, which stays inside
      // BIGINT for n <= ~1.7M vectors per bucket (dim 64). Beyond that the
      // engines diverge loudly vs silently (DuckDB raises on overflow,
      // non-ANSI Spark wraps), so a deployment at that scale must split
      // buckets (finer LSH/k-means cells — which 1.7M-member clusters need
      // anyway for SemDeDup to be meaningful) or move the score to
      // DECIMAL(38,0). Shuffles are keyed on
      // (bucket, pos) and (vec_id) — fixed width; nothing is all-pairs.
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT))").as("qv"))
      val planes = broadcast(e.filter($"vec_id".between(100, 105))
        .select(($"vec_id" - 100).as("hid"), $"embedding".as("he")))
      val sig = e.select($"vec_id", $"embedding").crossJoin(planes)
        .withColumn("bit", when(expr("graft_dot(embedding, he)") >= 0,
          expr("shiftleft(CAST(1 AS BIGINT), CAST(hid AS INT))")).otherwise(lit(0L)))
        .groupBy($"vec_id").agg(sum($"bit").as("bucket"))
      val ex = qz.join(sig, "vec_id")
        .select($"vec_id", $"bucket", posexplode($"qv"))
        .withColumnRenamed("col", "x")
        .transform(graft.CacheScope.cached) // feeds both bucket sums and scores
      val bs = ex.groupBy($"bucket", $"pos").agg(sum($"x").as("sx"))
      val bn = sig.groupBy($"bucket").agg(count(lit(1)).as("n"))
      val sc = ex.join(bs, Seq("bucket", "pos"))
        .groupBy($"vec_id", $"bucket")
        .agg(sum($"x" * $"x").as("vv"), sum($"x" * $"sx").as("vs"))
      val w = Window.partitionBy($"bucket").orderBy($"score", $"vec_id")
      sc.join(bn, "bucket")
        .select($"vec_id", $"bucket", $"n".as("n_bucket"),
          ($"n" * $"n" * $"vv" - lit(2L) * $"n" * $"vs").as("score"))
        .withColumn("is_rep", row_number().over(w) === 1)
        .withColumn("rep_id", first($"vec_id").over(
          w.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .select($"vec_id", $"bucket", $"n_bucket", $"score", $"is_rep", $"rep_id")
        .orderBy($"vec_id")
    },

    q("q142_kmeans", {
      def duckIter(i: Int, p: Int): String =
        s"""d$i AS (SELECT e.vec_id, c.c, CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
           |  FROM ex e JOIN c$p c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
           |a$i AS (SELECT vec_id, c, dist,
           |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) rn FROM d$i),
           |asg$i AS (SELECT vec_id, c, dist FROM a$i WHERE rn = 1),
           |c$i AS (SELECT a.c, e.pos, CAST(SUM(e.x) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cm
           |  FROM ex e JOIN asg$i a ON e.vec_id = a.vec_id GROUP BY a.c, e.pos)"""
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |qz AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127) AS qv
         |  FROM embeddings, m),
         |ex AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS x FROM qz),
         |c0 AS (SELECT vec_id AS c, pos, x AS cm FROM ex WHERE vec_id < 8),
         |${duckIter(1, 0).stripMargin},
         |${duckIter(2, 1).stripMargin}
         |SELECT v.vec_id, a1.c AS c_iter1, a2.c AS c_iter2, a2.dist AS dist2
         |FROM qz v JOIN asg1 a1 ON v.vec_id = a1.vec_id
         |          JOIN asg2 a2 ON v.vec_id = a2.vec_id
         |ORDER BY v.vec_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Lloyd k-means over embeddings (k = 8, 2 iterations, seeds = the
      // first k vectors), the coarse-quantizer training step an IVF index
      // (q46) needs — and the fully deterministic variant: vectors are
      // int8-quantized on a global max-abs scale and SHIFTED to [0, 254]
      // (distances are translation-invariant, and non-negative values make
      // Spark's truncating DIV and DuckDB's floor // agree), and each new
      // centroid is the element-wise INTEGER mean, so every distance,
      // comparison, and centroid is exact BIGINT arithmetic — no float
      // mean, no cross-engine or run-to-run drift. Scale posture: the k×64
      // centroid table is broadcast (assignment never shuffles the vector
      // side); the shuffles are the argmin per vec_id and the (c, pos)
      // centroid recompute — both fixed-width keys. Iterations are driver
      // unrolled, the standard shape for iterative refinement on Spark
      // (compare q106's label propagation).
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127)").as("qv"))
        .transform(graft.CacheScope.cached) // feeds both assigns + recompute
      def assign(cents: org.apache.spark.sql.DataFrame) =
        qz.crossJoin(broadcast(cents))
          .withColumn("dist", expr(
            "graft_sqdisti(qv, cm)"))
          .groupBy($"vec_id").agg(min(struct($"dist", $"c")).as("mc"))
          .select($"vec_id", $"mc.c".as("c"), $"mc.dist".as("dist"))
      def recompute(asg: org.apache.spark.sql.DataFrame) =
        qz.join(asg.select($"vec_id", $"c"), "vec_id")
          .select($"c", posexplode($"qv"))
          .groupBy($"c", $"pos")
          .agg(expr("sum(col) DIV count(1)").as("cm"))
          .groupBy($"c")
          .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), s -> s.cm)").as("cm"))
      val c0 = qz.filter($"vec_id" < 8).select($"vec_id".as("c"), $"qv".as("cm"))
      val a1 = assign(c0).transform(graft.CacheScope.cached) // output + recompute
      val a2 = assign(recompute(a1))
      a1.select($"vec_id", $"c".as("c_iter1"))
        .join(a2.select($"vec_id", $"c".as("c_iter2"), $"dist".as("dist2")), "vec_id")
        .orderBy($"vec_id")
    },

    q("q147_product_quantization",
      // Product quantization (Jégou et al. 2011) — the memory-compression
      // half of IVF-PQ, the canonical 100 TB ANN layout (q46 is the IVF
      // half, q142 trains its coarse quantizer): each vector splits into 4
      // sub-vectors of 16 dims, each sub-vector is replaced by the id of
      // its nearest codeword (codebooks = the first 8 vectors' sub-vectors;
      // training them is q142's certified k-means), and query distance is
      // ASYMMETRIC DISTANCE COMPUTATION — a per-subspace lookup table built
      // once against the query (vec 42), summed over the stored codes, so
      // scoring touches 4 bytes per vector instead of 64 floats. All
      // arithmetic is the integer-exact shifted-int8 scheme of q141/q142.
      // Scale posture: codebooks (4x8 sub-vectors) and the ADC table (4x8
      // longs) broadcast; shuffles are per-(vec, subspace) argmins on
      // fixed-width keys; nothing is all-pairs.
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |qz AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127) AS qv
         |  FROM embeddings, m),
         |ex AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS x FROM qz),
         |sx AS (SELECT vec_id, pos // 16 AS s, pos % 16 AS p, x FROM ex),
         |cb AS (SELECT vec_id AS c, s, p, x AS cx FROM sx WHERE vec_id < 8),
         |d AS (SELECT v.vec_id, v.s, c.c,
         |    CAST(SUM((v.x - c.cx)*(v.x - c.cx)) AS BIGINT) AS dist
         |  FROM sx v JOIN cb c ON v.s = c.s AND v.p = c.p
         |  GROUP BY v.vec_id, v.s, c.c),
         |enc AS (SELECT vec_id, s, c,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, c) rn FROM d),
         |codes AS (SELECT vec_id, s, c FROM enc WHERE rn = 1),
         |qs AS (SELECT s, p, x AS qx FROM sx WHERE vec_id = 42),
         |dt AS (SELECT c.s, c.c, CAST(SUM((q.qx - c.cx)*(q.qx - c.cx)) AS BIGINT) AS qd
         |  FROM cb c JOIN qs q ON c.s = q.s AND c.p = q.p GROUP BY c.s, c.c)
         |SELECT k.vec_id,
         |  CAST(MAX(CASE WHEN k.s = 0 THEN k.c END) AS BIGINT) AS code0,
         |  CAST(MAX(CASE WHEN k.s = 1 THEN k.c END) AS BIGINT) AS code1,
         |  CAST(MAX(CASE WHEN k.s = 2 THEN k.c END) AS BIGINT) AS code2,
         |  CAST(MAX(CASE WHEN k.s = 3 THEN k.c END) AS BIGINT) AS code3,
         |  CAST(SUM(dt.qd) AS BIGINT) AS adc
         |FROM codes k JOIN dt ON k.s = dt.s AND k.c = dt.c
         |GROUP BY k.vec_id ORDER BY k.vec_id""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val sub = e.crossJoin(broadcast(gm))
        .select($"vec_id", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127)").as("qv"))
        .select($"vec_id", explode(sequence(lit(0), lit(3))).as("s"), $"qv")
        .select($"vec_id", $"s", expr("slice(qv, s*16 + 1, 16)").as("sv"))
        .transform(graft.CacheScope.cached) // encode + codebook + query reuse
      val cb = sub.filter($"vec_id" < 8).select($"vec_id".as("c"), $"s", $"sv".as("cw"))
      val sqd = "graft_sqdisti(%s, %s)"
      val codes = sub.join(broadcast(cb), "s")
        .withColumn("dist", expr(sqd.format("sv", "cw")))
        .groupBy($"vec_id", $"s").agg(min(struct($"dist", $"c")).as("mc"))
        .select($"vec_id", $"s", $"mc.c".as("c"))
      val dt = cb.join(broadcast(sub.filter($"vec_id" === 42)
          .select($"s", $"sv".as("qsv"))), "s")
        .withColumn("qd", expr(sqd.format("cw", "qsv")))
        .select($"s", $"c", $"qd")
      codes.join(broadcast(dt), Seq("s", "c"))
        .groupBy($"vec_id")
        .agg(max(when($"s" === 0, $"c")).as("code0"),
          max(when($"s" === 1, $"c")).as("code1"),
          max(when($"s" === 2, $"c")).as("code2"),
          max(when($"s" === 3, $"c")).as("code3"),
          sum($"qd").as("adc"))
        .orderBy($"vec_id")
    },

    q("q156_ivfpq_ann",
      // The COMPOSED IVF-PQ index (Jégou et al. 2011), end to end — the ANN
      // layout a 100 TB retrieval deployment actually runs, assembled from
      // the three separately-certified parts: q142's integer-exact Lloyd
      // k-means trains the coarse quantizer (k=8, 2 iterations, seeded by
      // the first k vectors); every vector is assigned to its nearest cell
      // and PQ-encoded on its RESIDUAL (vector minus own-cell centroid —
      // what distinguishes IVF-PQ from flat PQ, q147); queries probe their
      // nprobe=2 nearest cells, build one ADC lookup table per probed cell
      // against the QUERY residual (4 subspaces x 32 codewords), rank the
      // probed cells' members by summed table lookups — 4 small ints per
      // candidate instead of 64 floats — and exact-re-rank only the ADC
      // top-50 shortlist (the FAISS refine step: full vectors are touched
      // for 50 candidates per query, never the corpus). The output is the
      // index's end-to-end recall@10 per query
      // against the exact integer-L2 top-10 — the number that matters for
      // the composition (each stage being correct does not imply the
      // assembled index recalls well). All arithmetic is the shifted-int8
      // integer scheme of q141/q142/q147, so both engines agree bit-for-bit.
      // Scale posture: centroids (8x64) and codebooks (4x32x16) broadcast at
      // every use; shuffles key on fixed-width (vec_id), (c,pos),
      // (vec_id,s), (q_id,cand_id) — the corpus vectors never all-pairs
      // with anything; candidate scoring touches only the probed cells'
      // postings (n*nprobe/nlist of the corpus per query).
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |qz AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127) AS qv
         |  FROM embeddings, m),
         |ex AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS x FROM qz),
         |c0 AS (SELECT vec_id AS c, pos, x AS cm FROM ex WHERE vec_id < 8),
         |d1 AS (SELECT e.vec_id, c.c, CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c0 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |asg1 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) rn FROM d1) WHERE rn = 1),
         |c1 AS (SELECT a.c, e.pos, CAST(SUM(e.x) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cm
         |  FROM ex e JOIN asg1 a ON e.vec_id = a.vec_id GROUP BY a.c, e.pos),
         |d2 AS (SELECT e.vec_id, c.c, CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c1 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |asg2 AS (SELECT vec_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) rn FROM d2) WHERE rn = 1),
         |res AS (SELECT e.vec_id, a.c, e.pos // 16 AS s, e.pos % 16 AS p, e.x - c.cm AS r
         |  FROM ex e JOIN asg2 a ON e.vec_id = a.vec_id
         |            JOIN c1 c ON c.c = a.c AND c.pos = e.pos),
         |cb AS (SELECT vec_id AS cw, s, p, r AS cx FROM res WHERE vec_id < 32),
         |encd AS (SELECT v.vec_id, v.s, c.cw, CAST(SUM((v.r - c.cx)*(v.r - c.cx)) AS BIGINT) AS dist
         |  FROM res v JOIN cb c ON v.s = c.s AND v.p = c.p GROUP BY v.vec_id, v.s, c.cw),
         |codes AS (SELECT vec_id, s, cw FROM (SELECT vec_id, s, cw,
         |    row_number() OVER (PARTITION BY vec_id, s ORDER BY dist, cw) rn FROM encd) WHERE rn = 1),
         |pd AS (SELECT e.vec_id AS q_id, c.c, CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c1 c ON e.pos = c.pos WHERE e.vec_id < 10 GROUP BY e.vec_id, c.c),
         |probes AS (SELECT q_id, c FROM (SELECT q_id, c,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, c) rn FROM pd) WHERE rn <= 2),
         |qres AS (SELECT p.q_id, p.c, e.pos // 16 AS s, e.pos % 16 AS pp, e.x - c.cm AS r
         |  FROM probes p JOIN ex e ON e.vec_id = p.q_id
         |                JOIN c1 c ON c.c = p.c AND c.pos = e.pos),
         |dt AS (SELECT q.q_id, q.c, b.s, b.cw, CAST(SUM((q.r - b.cx)*(q.r - b.cx)) AS BIGINT) AS qd
         |  FROM qres q JOIN cb b ON b.s = q.s AND b.p = q.pp GROUP BY q.q_id, q.c, b.s, b.cw),
         |cand AS (SELECT p.q_id, p.c, a.vec_id AS cand_id FROM probes p
         |  JOIN asg2 a ON a.c = p.c WHERE a.vec_id <> p.q_id),
         |adc AS (SELECT cand.q_id, cand.cand_id, CAST(SUM(dt.qd) AS BIGINT) AS adist
         |  FROM cand JOIN codes k ON k.vec_id = cand.cand_id
         |            JOIN dt ON dt.q_id = cand.q_id AND dt.c = cand.c
         |                   AND dt.s = k.s AND dt.cw = k.cw
         |  GROUP BY cand.q_id, cand.cand_id),
         |short AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY adist, cand_id) rn FROM adc) WHERE rn <= 50),
         |rr AS (SELECT s.q_id, s.cand_id, CAST(SUM((a.x - b.x)*(a.x - b.x)) AS BIGINT) AS dist
         |  FROM short s JOIN ex a ON a.vec_id = s.q_id
         |               JOIN ex b ON b.vec_id = s.cand_id AND b.pos = a.pos
         |  GROUP BY s.q_id, s.cand_id),
         |itop AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, cand_id) rn FROM rr) WHERE rn <= 10),
         |bd AS (SELECT a.vec_id AS q_id, b.vec_id AS cand_id,
         |    CAST(SUM((a.x - b.x)*(a.x - b.x)) AS BIGINT) AS dist
         |  FROM ex a JOIN ex b ON a.pos = b.pos AND b.vec_id <> a.vec_id
         |  WHERE a.vec_id < 10 GROUP BY a.vec_id, b.vec_id),
         |btop AS (SELECT q_id, cand_id FROM (SELECT q_id, cand_id,
         |    row_number() OVER (PARTITION BY q_id ORDER BY dist, cand_id) rn FROM bd) WHERE rn <= 10),
         |hits AS (SELECT b.q_id, COUNT(*) AS n_hit FROM btop b
         |  JOIN itop i ON i.q_id = b.q_id AND i.cand_id = b.cand_id GROUP BY 1)
         |SELECT b.q_id, CAST(COALESCE(h.n_hit, 0) AS DOUBLE) / 10.0 AS recall_at_10
         |FROM (SELECT DISTINCT q_id FROM btop) b LEFT JOIN hits h ON h.q_id = b.q_id
         |ORDER BY b.q_id""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127)").as("qv"))
        .transform(graft.CacheScope.cached) // train + assign + encode + truth
      val sqd = "graft_sqdisti(%s, %s)"
      // --- coarse quantizer: q142's integer-exact Lloyd, 2 iterations ---
      def assign(cents: DataFrame): DataFrame =
        qz.crossJoin(broadcast(cents))
          .withColumn("dist", expr(sqd.format("qv", "cm")))
          .groupBy($"vec_id").agg(min(struct($"dist", $"c")).as("mc"))
          .select($"vec_id", $"mc.c".as("c"))
      val c0 = qz.filter($"vec_id" < 8).select($"vec_id".as("c"), $"qv".as("cm"))
      val c1 = qz.join(assign(c0), "vec_id")
        .select($"c", posexplode($"qv"))
        .groupBy($"c", $"pos").agg(expr("sum(col) DIV count(1)").as("cm"))
        .groupBy($"c")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), s -> s.cm)").as("cm"))
        .transform(graft.CacheScope.cached) // probes + residuals + assignment
      val cells = assign(c1).transform(graft.CacheScope.cached)
      // --- residual PQ encode (4 subspaces x 16 dims, codebook = first 8) ---
      val rsub = qz.join(cells, "vec_id").join(broadcast(c1), "c")
        .select($"vec_id", $"c", expr("zip_with(qv, cm, (x, m) -> x - m)").as("rv"))
        .select($"vec_id", $"c", explode(sequence(lit(0), lit(3))).as("s"), $"rv")
        .select($"vec_id", $"c", $"s", expr("slice(rv, s*16 + 1, 16)").as("sv"))
        .transform(graft.CacheScope.cached) // codebook + encode
      val cb = rsub.filter($"vec_id" < 32)
        .select($"vec_id".as("cw"), $"s", $"sv".as("cwv"))
      val codes = rsub.join(broadcast(cb), "s")
        .withColumn("dist", expr(sqd.format("sv", "cwv")))
        .groupBy($"vec_id", $"s").agg(min(struct($"dist", $"cw")).as("mc"))
        .select($"vec_id", $"s", $"mc.cw".as("cw"))
      // --- query: nprobe=2 cells, ADC table per (query, probed cell) ---
      val wP = Window.partitionBy($"q_id").orderBy($"dist", $"c")
      val probes = qz.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"qv".as("qqv"))
        .crossJoin(broadcast(c1))
        .withColumn("dist", expr(sqd.format("qqv", "cm")))
        .withColumn("rn", row_number().over(wP))
        .filter($"rn" <= 2)
        .select($"q_id", $"c", expr("zip_with(qqv, cm, (x, m) -> x - m)").as("qrv"))
        .transform(graft.CacheScope.cached) // ADC tables + candidate postings
      val dt = probes
        .select($"q_id", $"c", explode(sequence(lit(0), lit(3))).as("s"), $"qrv")
        .select($"q_id", $"c", $"s", expr("slice(qrv, s*16 + 1, 16)").as("qsv"))
        .join(broadcast(cb), "s")
        .withColumn("qd", expr(sqd.format("qsv", "cwv")))
        .select($"q_id", $"c", $"s", $"cw", $"qd")
      val cand = probes.select($"q_id", $"c")
        .join(cells.select($"vec_id".as("cand_id"), $"c"), "c")
        .filter($"cand_id" =!= $"q_id")
      val adc = cand
        .join(codes.withColumnRenamed("vec_id", "cand_id"), "cand_id")
        .join(broadcast(dt), Seq("q_id", "c", "s", "cw"))
        .groupBy($"q_id", $"cand_id").agg(sum($"qd").as("adist"))
      val wA = Window.partitionBy($"q_id").orderBy($"adist", $"cand_id")
      val short = adc.withColumn("rn", row_number().over(wA))
        .filter($"rn" <= 50).select($"q_id", $"cand_id")
      // exact re-rank of the ADC shortlist (FAISS-style refine): the index
      // answers from 4-int codes; only the top-50 shortlist ever touches
      // full vectors again — 50 exact distances per query, not the corpus
      val qs = broadcast(qz.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"qv".as("tqv")))
      val wR = Window.partitionBy($"q_id").orderBy($"dist", $"cand_id")
      val itop = short
        .join(qz.select($"vec_id".as("cand_id"), $"qv".as("cqv")), "cand_id")
        .join(qs, "q_id")
        .withColumn("dist", expr(sqd.format("tqv", "cqv")))
        .withColumn("rn", row_number().over(wR))
        .filter($"rn" <= 10).select($"q_id", $"cand_id")
      // --- exact integer-L2 truth and end-to-end recall@10 ---
      val wB = Window.partitionBy($"q_id").orderBy($"dist", $"cand_id")
      val btop = qs
        .join(qz.select($"vec_id".as("cand_id"), $"qv".as("cqv")), $"q_id" =!= $"cand_id")
        .withColumn("dist", expr(sqd.format("tqv", "cqv")))
        .withColumn("rn", row_number().over(wB))
        .filter($"rn" <= 10).select($"q_id", $"cand_id")
      val hits = btop.as("b")
        .join(itop.as("i"), $"b.q_id" === $"i.q_id" && $"b.cand_id" === $"i.cand_id")
        .groupBy($"b.q_id".as("q_id")).agg(count(lit(1)).as("n_hit"))
      btop.select($"q_id").distinct()
        .join(hits, Seq("q_id"), "left")
        .select($"q_id",
          (coalesce($"n_hit", lit(0L)).cast("double") / 10.0).as("recall_at_10"))
        .orderBy($"q_id")
    },

    q("q161_matryoshka_recall", {
      def duckTop(alias: String, scoreExpr: String): String =
        s"""$alias AS (SELECT q_id, cand_id FROM (
           |  SELECT q.vec_id q_id, c.vec_id cand_id,
           |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
           |      ORDER BY $scoreExpr DESC, c.vec_id) rn
           |  FROM v q JOIN v c ON q.vec_id <> c.vec_id
           |  WHERE q.vec_id < 10) WHERE rn <= 10)"""
      s"""WITH v AS (SELECT vec_id, embedding FROM embeddings),
         |${duckTop("brute", duckDotSql("q.embedding", "c.embedding")).stripMargin},
         |${duckTop("t16", duckDotSql("q.embedding[1:16]", "c.embedding[1:16]")).stripMargin},
         |${duckTop("t32", duckDotSql("q.embedding[1:32]", "c.embedding[1:32]")).stripMargin},
         |h16 AS (SELECT b.q_id, COUNT(*) n FROM brute b
         |  JOIN t16 t ON t.q_id = b.q_id AND t.cand_id = b.cand_id GROUP BY 1),
         |h32 AS (SELECT b.q_id, COUNT(*) n FROM brute b
         |  JOIN t32 t ON t.q_id = b.q_id AND t.cand_id = b.cand_id GROUP BY 1)
         |SELECT b.q_id,
         |  CAST(COALESCE(h16.n, 0) AS DOUBLE) / 10.0 AS recall_16d,
         |  CAST(COALESCE(h32.n, 0) AS DOUBLE) / 10.0 AS recall_32d
         |FROM (SELECT DISTINCT q_id FROM brute) b
         |LEFT JOIN h16 ON h16.q_id = b.q_id
         |LEFT JOIN h32 ON h32.q_id = b.q_id
         |ORDER BY b.q_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Matryoshka (MRL-style) truncation eval: how much retrieval quality
      // survives keeping only the first 16 / 32 of 64 dims — the dimension-
      // vs-recall curve that decides how small the serving index can be
      // (a 4x dim cut is a 4x memory/bandwidth cut at 100 TB). Same
      // broadcast-queries shape as q95: the corpus side scans shuffle-free,
      // one window ranks per truncation width, recall measured against the
      // full-width exact top-10.
      val e = T(s, dir, "embeddings")
      val vecs = e.select($"vec_id", $"embedding")
      val qs = broadcast(e.filter($"vec_id" < 10)
        .select($"vec_id".as("q_id"), $"embedding".as("qe")))
      val joined = qs
        .join(vecs.select($"vec_id".as("cand_id"), $"embedding".as("ce")),
          $"q_id" =!= $"cand_id")
        .transform(graft.CacheScope.cached) // three rankings over one scan
      val wQ = Window.partitionBy($"q_id").orderBy($"sim".desc, $"cand_id")
      def top(scoreExpr: String): DataFrame = joined
        .withColumn("sim", expr(scoreExpr))
        .withColumn("rn", row_number().over(wQ))
        .filter($"rn" <= 10).select($"q_id", $"cand_id")
      val brute = top("graft_dot(qe, ce)")
      def hits(t: DataFrame): DataFrame = brute.as("b")
        .join(t.as("t"), $"b.q_id" === $"t.q_id" && $"b.cand_id" === $"t.cand_id")
        .groupBy($"b.q_id".as("q_id")).agg(count(lit(1)).as("n"))
      val h16 = hits(top("graft_dot(slice(qe, 1, 16), slice(ce, 1, 16))"))
      val h32 = hits(top("graft_dot(slice(qe, 1, 32), slice(ce, 1, 32))"))
      brute.select($"q_id").distinct()
        .join(h16.withColumnRenamed("n", "n16"), Seq("q_id"), "left")
        .join(h32.withColumnRenamed("n", "n32"), Seq("q_id"), "left")
        .select($"q_id",
          (coalesce($"n16", lit(0L)).cast("double") / 10.0).as("recall_16d"),
          (coalesce($"n32", lit(0L)).cast("double") / 10.0).as("recall_32d"))
        .orderBy($"q_id")
    },

    q("q222_label_noise",
      // kNN label-disagreement audit (Confident-Learning-style signal):
      // an anchor whose 3 nearest neighbors mostly carry a DIFFERENT
      // label is a mislabel candidate. Anchors sampled; neighbors by the
      // exact fold-ordered dot product with (sim DESC, vec_id) ties.
      s"""WITH qv AS (SELECT vec_id, label, embedding FROM embeddings
         |  WHERE vec_id % 25 = 1),
         |d AS (SELECT qv.vec_id, qv.label, c.vec_id AS cid, c.label AS clabel,
         |    ${duckDotSql("qv.embedding", "c.embedding")} AS sim
         |  FROM qv, embeddings c WHERE c.vec_id <> qv.vec_id),
         |r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY vec_id
         |    ORDER BY sim DESC, cid) AS rn FROM d)
         |SELECT vec_id, CAST(label AS BIGINT) AS label,
         |  CAST(SUM(CASE WHEN clabel = label THEN 1 ELSE 0 END) AS BIGINT) AS votes,
         |  CASE WHEN SUM(CASE WHEN clabel = label THEN 1 ELSE 0 END) <= 1
         |    THEN 1 ELSE 0 END AS noisy
         |FROM r WHERE rn <= 3 GROUP BY vec_id, label ORDER BY vec_id""") { (s, dir) =>
      import s.implicits._
      // The label-QA pass run before training on weak labels: q124's plan
      // shape (anchors broadcast, corpus scanned shuffle-free, per-anchor
      // top-k window), but the readout is the neighbor VOTE — votes <= 1
      // of 3 means the local neighborhood outvotes the assigned label.
      // At scale the exact scan swaps for q156's ANN shortlist; the vote
      // logic is unchanged.
      val e = T(s, dir, "embeddings")
      val qv = broadcast(e.filter($"vec_id" % 25 === 1)
        .select($"vec_id".as("q_id"), $"label".as("q_label"),
          $"embedding".as("qe")))
      val cands = e.select($"vec_id".as("cid"), $"label".as("clabel"),
        $"embedding".as("ce"))
      val w = Window.partitionBy($"q_id").orderBy($"sim".desc, $"cid")
      qv.join(cands, $"cid" =!= $"q_id")
        .withColumn("sim", expr("graft_dot(qe, ce)"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 3)
        .groupBy($"q_id".as("vec_id"), $"q_label".cast("long").as("label"))
        .agg(sum(when($"clabel" === $"q_label", 1L).otherwise(0L)).as("votes"))
        .select($"vec_id", $"label", $"votes",
          when($"votes" <= 1, 1).otherwise(0).as("noisy"))
        .orderBy($"vec_id")
    },

    q("q288_embedding_drift",
      // Embedding-distribution drift monitor: per label, the squared
      // distance between the centroid of one half of the corpus (vec_id
      // parity) and the other — the did-the-embedding-space-move check run
      // before reusing a trained ANN index (q156) on refreshed vectors.
      // Integer-exact end to end: GLOBAL-scale int8 quantization (q141's
      // shared scale, so halves are comparable), per-(label, half, dim)
      // integer sums, and the centroid difference compared WITHOUT
      // division — per dim, d = sa*nb - sb*na, drift = (Σ d²) // (na·nb)²
      // with the square widened through DECIMAL(38,0)/HUGEINT. One explode
      // + one keyed aggregation; everything after runs on labels x 64 rows.
      """WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
        |qz AS (SELECT vec_id, label, vec_id % 2 AS half,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5)
        |        AS BIGINT)) AS qv
        |  FROM embeddings, m),
        |d AS (SELECT label, half, CAST(i AS BIGINT) AS dim,
        |    qv[CAST(i AS INT)] AS q
        |  FROM (SELECT label, half, qv,
        |      unnest(range(1, len(qv) + 1)) AS i FROM qz)),
        |agg AS (SELECT label, half, dim, CAST(SUM(q) AS BIGINT) AS sv,
        |    CAST(COUNT(*) AS BIGINT) AS n
        |  FROM d GROUP BY label, half, dim),
        |pair AS (SELECT a.label, a.dim, a.sv AS sa, a.n AS na,
        |    b.sv AS sb, b.n AS nb
        |  FROM agg a JOIN agg b ON a.label = b.label AND a.dim = b.dim
        |    AND a.half = 0 AND b.half = 1)
        |SELECT CAST(label AS BIGINT) AS label, CAST(MIN(na) AS BIGINT) AS n_a,
        |  CAST(MIN(nb) AS BIGINT) AS n_b,
        |  CAST(SUM(CAST(sa*nb - sb*na AS HUGEINT)
        |    * CAST(sa*nb - sb*na AS HUGEINT))
        |    // (CAST(MIN(na) AS HUGEINT) * MIN(na) * MIN(nb) * MIN(nb))
        |    AS BIGINT) AS drift_q2
        |FROM pair GROUP BY label ORDER BY label""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .as("gm"))
      val agg = e.crossJoin(broadcast(gm))
        .select($"label".cast("long").as("label"),
          ($"vec_id" % 2).as("half"),
          posexplode(expr(
            "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
              "* 127.0 / gm + 0.5) AS BIGINT))")))
        .select($"label", $"half", ($"pos" + 1).cast("long").as("dim"),
          $"col".as("q"))
        .groupBy($"label", $"half", $"dim")
        .agg(sum($"q").as("sv"), count(lit(1)).as("n"))
      val D = "DECIMAL(38,0)"
      agg.filter($"half" === 0)
        .select($"label", $"dim", $"sv".as("sa"), $"n".as("na"))
        .join(agg.filter($"half" === 1)
          .select($"label", $"dim", $"sv".as("sb"), $"n".as("nb")),
          Seq("label", "dim"))
        .groupBy($"label")
        .agg(min($"na").as("n_a"), min($"nb").as("n_b"),
          sum(expr(s"CAST(sa*nb - sb*na AS $D) * CAST(sa*nb - sb*na AS $D)"))
            .as("num"))
        .select($"label", $"n_a", $"n_b",
          expr(s"CAST(num div (CAST(n_a AS $D) * n_a * n_b * n_b) AS BIGINT)")
            .as("drift_q2"))
        .orderBy($"label")
    },

    q("q311_quantization_ladder", {
      val dot = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(range(len(qv)), i -> qv[CAST(i+1 AS INT)] " +
        "* cv[CAST(i+1 AS INT)])), (acc, x) -> acc + x)"
      // Quantization-ladder retrieval eval: per probe, the top-10 under
      // 4-bit codes vs the top-10 under 8-bit codes (both on the SAME
      // global scale) — overlap@10 says whether the 8x-smaller index
      // still retrieves the same neighbors, BEFORE committing the fleet
      // to int4. All-integer dots (graft_doti / list_reduce), brute-force
      // over the corpus as the eval (run on a sample at scale — the
      // metric, not the index, is the operator); deterministic
      // (dot, cand) tie-breaks.
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |q8 AS (SELECT vec_id, list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5)
         |        AS BIGINT)) AS v
         |  FROM embeddings, m),
         |q4 AS (SELECT vec_id, list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 7.0 / gm + 0.5)
         |        AS BIGINT)) AS v
         |  FROM embeddings, m),
         |pr AS (SELECT vec_id FROM embeddings WHERE vec_id % 25 = 2),
         |d8 AS (SELECT q_id, cand, $dot AS dot FROM (
         |  SELECT p.vec_id AS q_id, c.vec_id AS cand, pq.v AS qv, c.v AS cv
         |  FROM pr p JOIN q8 pq ON pq.vec_id = p.vec_id
         |    JOIN q8 c ON c.vec_id <> p.vec_id)),
         |t8 AS (SELECT q_id, cand FROM (
         |  SELECT q_id, cand, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY dot DESC, cand) AS rn FROM d8) WHERE rn <= 10),
         |d4 AS (SELECT q_id, cand, $dot AS dot FROM (
         |  SELECT p.vec_id AS q_id, c.vec_id AS cand, pq.v AS qv, c.v AS cv
         |  FROM pr p JOIN q4 pq ON pq.vec_id = p.vec_id
         |    JOIN q4 c ON c.vec_id <> p.vec_id)),
         |t4 AS (SELECT q_id, cand FROM (
         |  SELECT q_id, cand, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY dot DESC, cand) AS rn FROM d4) WHERE rn <= 10)
         |SELECT t8.q_id, CAST(COUNT(t4.cand) AS BIGINT) AS n_common,
         |  CAST((1000000 * COUNT(t4.cand)) // 10 AS BIGINT) AS overlap_ppm
         |FROM t8 LEFT JOIN t4 ON t4.q_id = t8.q_id AND t4.cand = t8.cand
         |GROUP BY t8.q_id ORDER BY t8.q_id"""
      }) { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .as("gm"))
      def quant(scale: String): DataFrame = e.crossJoin(broadcast(gm))
        .select($"vec_id", expr(
          s"transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
            s"* $scale / gm + 0.5) AS BIGINT))").as("v"))
      def topk(qz: DataFrame): DataFrame = {
        val cached = qz.transform(graft.CacheScope.cached)
        broadcast(cached.filter($"vec_id" % 25 === 2)
            .select($"vec_id".as("q_id"), $"v".as("qv")))
          .join(cached.select($"vec_id".as("cand"), $"v".as("cv")),
            $"q_id" =!= $"cand")
          .withColumn("dot", expr("graft_doti(qv, cv)"))
          .withColumn("rn", row_number().over(Window.partitionBy($"q_id")
            .orderBy($"dot".desc, $"cand")))
          .filter($"rn" <= 10)
          .select($"q_id", $"cand")
      }
      val t8 = topk(quant("127.0"))
      val t4 = topk(quant("7.0")).withColumnRenamed("cand", "cand4")
      t8.join(t4, t8("q_id") === t4("q_id") && $"cand" === $"cand4", "left")
        .groupBy(t8("q_id").as("q_id"))
        .agg(count($"cand4").as("n_common"),
          expr("(1000000 * COUNT(cand4)) div 10").as("overlap_ppm"))
        .orderBy($"q_id")
    },

    q("q312_class_separation",
      // Embedding class-separation diagnostic WITHOUT materializing any
      // pair: all mean pairwise squared distances come from per-label
      // sufficient statistics (n, per-dim sum vector S, Σ||x||²) via the
      // identities Σ_{i≠j}||xi−xj||² = 2(n·Q − ||S||²) (intra) and
      // Σ_{i∈A,j∈B} = n_B·Q_A + n_A·Q_B − 2⟨S_A,S_B⟩ (inter) — ONE
      // aggregation over the corpus however large it is, then label-pair
      // arithmetic on a 10-row table. Reported per label: intra average,
      // the NEAREST other label's inter average, and their ratio — the
      // are-my-labels-actually-clusters check run before trusting them
      // for training. Integer-exact on globally-scaled int8 codes.
      """WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
        |qz AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5)
        |        AS BIGINT)) AS v
        |  FROM embeddings, m),
        |d AS (SELECT label, CAST(i AS BIGINT) AS dim, qv AS q
        |  FROM (SELECT label, v, unnest(v) AS qv,
        |      generate_subscripts(v, 1) AS i FROM qz)),
        |sums AS (SELECT label, dim, CAST(SUM(q) AS BIGINT) AS sd
        |  FROM d GROUP BY label, dim),
        |st AS (SELECT label, CAST(SUM(sd * sd) AS BIGINT) AS s2
        |  FROM sums GROUP BY label),
        |nq AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n,
        |    CAST(SUM(q2) AS BIGINT) AS qq FROM
        |  (SELECT label, list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(v, x -> x * x)), (a, x) -> a + x) AS q2
        |    FROM qz) GROUP BY label),
        |lab AS (SELECT nq.label, nq.n, nq.qq, st.s2,
        |    (2 * (nq.n * nq.qq - st.s2)) // (nq.n * (nq.n - 1))
        |      AS intra_avg
        |  FROM nq JOIN st ON st.label = nq.label
        |  WHERE nq.n >= 2),
        |cross_ AS (SELECT a.label AS la, b.label AS lb,
        |    CAST(SUM(sa.sd * sb.sd) AS BIGINT) AS sab,
        |    MIN(a.n) AS na, MIN(b.n) AS nb,
        |    MIN(a.qq) AS qa, MIN(b.qq) AS qb
        |  FROM lab a JOIN lab b ON a.label <> b.label
        |    JOIN sums sa ON sa.label = a.label
        |    JOIN sums sb ON sb.label = b.label AND sb.dim = sa.dim
        |  GROUP BY la, lb),
        |inter AS (SELECT la, lb,
        |    (nb * qa + na * qb - 2 * sab) // (na * nb) AS inter_avg
        |  FROM cross_),
        |nearest AS (SELECT la AS label, lb AS nearest_label, inter_avg,
        |    ROW_NUMBER() OVER (PARTITION BY la ORDER BY inter_avg, lb)
        |      AS rn FROM inter)
        |SELECT l.label, l.n, CAST(l.intra_avg AS BIGINT) AS intra_avg_q2,
        |  ne.nearest_label, CAST(ne.inter_avg AS BIGINT) AS inter_avg_q2,
        |  CAST((1000000 * ne.inter_avg) // l.intra_avg AS BIGINT)
        |    AS separation_ppm
        |FROM lab l JOIN nearest ne ON ne.label = l.label AND ne.rn = 1
        |ORDER BY l.label""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", $"label".cast("long").as("label"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
            "* 127.0 / gm + 0.5) AS BIGINT))").as("v"))
        .transform(graft.CacheScope.cached) // per-dim sums + self-dots
      val sums = qz
        .select($"label", posexplode($"v"))
        .groupBy($"label", ($"pos" + 1).cast("long").as("dim"))
        .agg(sum($"col").as("sd"))
        .transform(graft.CacheScope.cached) // ||S||^2 + cross terms
      val st = sums.groupBy($"label").agg(sum($"sd" * $"sd").as("s2"))
      val nq = qz
        .select($"label",
          expr("aggregate(transform(v, x -> x * x), " +
            "CAST(0 AS BIGINT), (a, x) -> a + x)").as("q2"))
        .groupBy($"label").agg(count(lit(1)).as("n"), sum($"q2").as("qq"))
      val lab = nq.join(st, Seq("label"))
        .filter($"n" >= 2) // singleton labels have no intra pairs:
        // DuckDB would abort on the 0-denominator where Spark NULLs
        .withColumn("intra_avg",
          expr("(2 * (n * qq - s2)) div (n * (n - 1))"))
        .transform(graft.CacheScope.cached) // pair arithmetic both sides
      val cross = lab.as("a")
        .join(lab.as("b"), $"a.label" =!= $"b.label")
        .join(sums.as("sa"), $"sa.label" === $"a.label")
        .join(sums.as("sb"),
          $"sb.label" === $"b.label" && $"sb.dim" === $"sa.dim")
        .groupBy($"a.label".as("la"), $"b.label".as("lb"))
        .agg(sum($"sa.sd" * $"sb.sd").as("sab"),
          min($"a.n").as("na"), min($"b.n").as("nb"),
          min($"a.qq").as("qa"), min($"b.qq").as("qb"))
        .withColumn("inter_avg",
          expr("(nb * qa + na * qb - 2 * sab) div (na * nb)"))
      val nearest = cross
        .withColumn("rn", row_number().over(
          Window.partitionBy($"la").orderBy($"inter_avg", $"lb")))
        .filter($"rn" === 1)
        .select($"la".as("label"), $"lb".as("nearest_label"), $"inter_avg")
      lab.join(nearest, Seq("label"))
        .select($"label", $"n", $"intra_avg".cast("long").as("intra_avg_q2"),
          $"nearest_label", $"inter_avg".cast("long").as("inter_avg_q2"),
          expr("(1000000 * inter_avg) div intra_avg").as("separation_ppm"))
        .orderBy($"label")
    },

    q("q361_hard_negative_mining",
      // Hard-negative mining — the training-pair generator behind every
      // contrastive embedding fine-tune: for each probe, the most similar
      // SAME-label vector is the positive and the most similar
      // OTHER-label vector is the hard negative (the pair that actually
      // moves the loss); the margin pos_sim - neg_sim is the difficulty
      // readout, and margin <= 0 probes are ACTIVE VIOLATIONS (the
      // negative currently outranks the positive — the first pairs any
      // curriculum should schedule). Dots are exact integers on the
      // globally-scaled int8 codes (graft_doti — the q97/q312
      // discipline), probes broadcast so the corpus never shuffles;
      // per-label rollup: probes, mean margin (exact integer division),
      // violations.
      """WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
        |qz AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5)
        |        AS BIGINT)) AS v
        |  FROM embeddings, m),
        |pr AS (SELECT vec_id AS qid, label AS ql, v AS qv FROM qz
        |  WHERE vec_id % 25 = 2),
        |d AS (SELECT pr.qid, pr.ql, c.vec_id AS cid, c.label AS cl,
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(range(len(pr.qv)),
        |        i -> pr.qv[CAST(i+1 AS INT)] * c.v[CAST(i+1 AS INT)])),
        |      (a, x) -> a + x) AS dot
        |  FROM pr, qz c WHERE c.vec_id <> pr.qid),
        |pos AS (SELECT qid, ql, dot AS pos_dot FROM (SELECT qid, ql, dot,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, cid) rn
        |  FROM d WHERE cl = ql) WHERE rn = 1),
        |neg AS (SELECT qid, dot AS neg_dot FROM (SELECT qid, dot,
        |    ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, cid) rn
        |  FROM d WHERE cl <> ql) WHERE rn = 1),
        |mg AS (SELECT pos.qid, pos.ql AS label,
        |    pos.pos_dot - neg.neg_dot AS margin
        |  FROM pos JOIN neg ON neg.qid = pos.qid)
        |SELECT label, CAST(COUNT(*) AS BIGINT) AS n_probes,
        |  CAST((SUM(margin) + 10000000 * COUNT(*)) // COUNT(*) - 10000000
        |    AS BIGINT) AS mean_margin_q2,
        |  CAST(SUM(CASE WHEN margin <= 0 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_violations
        |FROM mg GROUP BY label ORDER BY label""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", $"label".cast("long").as("label"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
            "* 127.0 / gm + 0.5) AS BIGINT))").as("v"))
        .transform(graft.CacheScope.cached) // probes + candidates
      val pr = broadcast(qz.filter($"vec_id" % 25 === 2)
        .select($"vec_id".as("qid"), $"label".as("ql"), $"v".as("qv")))
      val d = pr.join(qz.select($"vec_id".as("cid"), $"label".as("cl"),
          $"v".as("cv")), $"qid" =!= $"cid")
        .withColumn("dot", expr("graft_doti(qv, cv)"))
        .transform(graft.CacheScope.cached) // positive + negative picks
      def pick(cond: org.apache.spark.sql.Column, out: String): DataFrame =
        d.filter(cond)
          .withColumn("rn", row_number().over(Window.partitionBy($"qid")
            .orderBy($"dot".desc, $"cid")))
          .filter($"rn" === 1)
          .select($"qid", $"ql", $"dot".as(out))
      val pos = pick($"cl" === $"ql", "pos_dot")
      val neg = pick($"cl" =!= $"ql", "neg_dot").drop("ql")
      pos.join(neg, Seq("qid"))
        .withColumn("margin", $"pos_dot" - $"neg_dot")
        .groupBy($"ql".as("label"))
        .agg(count(lit(1)).as("n_probes"),
          // sign-safe floor mean (q264 shift trick: Spark div truncates,
          // DuckDB // floors — the shift keeps the numerator positive)
          expr("(SUM(margin) + 10000000 * COUNT(*)) div COUNT(*) " +
            "- 10000000").as("mean_margin_q2"),
          sum(when($"margin" <= 0, 1L).otherwise(0L)).as("n_violations"))
        .orderBy($"label")
    },

    q("q358_index_freshness_audit",
      // Embedding-index freshness/coverage audit — the referential
      // integrity check between a corpus and its ANN index that decides
      // whether retrieval results can be trusted: a full-outer id join
      // classifies every id as fresh / STALE (indexed before the doc's
      // last edit — planted here as a version-fingerprint mismatch on
      // every 31st doc, the docs-updated-after-embedding case) /
      // missing_vector / orphan_vector, with ppm shares. The fingerprint
      // the index carries is md5 of what it actually embedded, so the
      // comparison needs no timestamps — content IS the version. One id
      // join; at 100 TB both sides are id-bucketed and the join is
      // shuffle-free.
      """WITH docs AS (SELECT doc_id, md5(text) AS fp FROM documents),
        |idx AS (SELECT vec_id, CASE WHEN vec_id % 31 = 0
        |    THEN md5(concat(text, 'v0')) ELSE md5(text) END AS embedded_fp
        |  FROM embeddings JOIN documents ON doc_id = vec_id),
        |j AS (SELECT docs.doc_id, idx.vec_id,
        |    CASE WHEN docs.doc_id IS NULL THEN 'orphan_vector'
        |         WHEN idx.vec_id IS NULL THEN 'missing_vector'
        |         WHEN docs.fp = idx.embedded_fp THEN 'fresh'
        |         ELSE 'stale' END AS cls
        |  FROM docs FULL OUTER JOIN idx ON idx.vec_id = docs.doc_id)
        |SELECT cls, CAST(COUNT(*) AS BIGINT) AS n_ids,
        |  CAST((COUNT(*) * 1000000) // SUM(COUNT(*)) OVER () AS BIGINT)
        |    AS share_ppm
        |FROM j GROUP BY cls ORDER BY cls""") { (s, dir) =>
      import s.implicits._
      val docs = T(s, dir, "documents")
        .select($"doc_id", md5($"text").as("fp"))
      // the index side: what the embedding job fingerprinted when it ran
      // (every 31st doc was edited afterwards — its stored fp no longer
      // matches the corpus)
      val idx = T(s, dir, "embeddings").select($"vec_id")
        .join(T(s, dir, "documents").select($"doc_id", $"text"),
          $"doc_id" === $"vec_id")
        .select($"vec_id",
          when($"vec_id" % 31 === 0, md5(concat($"text", lit("v0"))))
            .otherwise(md5($"text")).as("embedded_fp"))
      val all = Window.partitionBy()
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      docs.join(idx, $"vec_id" === $"doc_id", "full_outer")
        .select(when($"doc_id".isNull, "orphan_vector")
          .when($"vec_id".isNull, "missing_vector")
          .when($"fp" === $"embedded_fp", "fresh")
          .otherwise("stale").as("cls"))
        .groupBy($"cls").agg(count(lit(1)).as("n_ids"))
        .withColumn("share_ppm",
          expr("(n_ids * 1000000) div (SUM(n_ids) OVER ())"))
        .orderBy($"cls")
    },

    q("q345_embedding_drift",
      // MULTIVARIATE drift monitor for an embedding column — the
      // vector-space companion to q327's univariate PSI: per label, the
      // squared L2 shift of the centroid between two corpus halves
      // (vec_id parity as the stand-in for two time windows), computed
      // ENTIRELY from per-half sufficient statistics (n, per-dim sum
      // vector) — ||S1/n1 - S2/n2||² = Σ_d (S1_d·n2 - S2_d·n1)² /
      // (n1·n2)², exact on globally-scaled int8 codes with
      // HUGEINT/DECIMAL(38,0) widening (the q312 discipline: no pair,
      // no per-vector float, one aggregation over the corpus however
      // large). Reported in micro units of squared quantized distance,
      // with each label's share of the worst shift — the
      // which-slice-moved readout a retraining trigger reads.
      """WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
        |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
        |qz AS (SELECT vec_id, CAST(label AS BIGINT) AS label,
        |    vec_id % 2 AS half,
        |    list_transform(embedding,
        |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5)
        |        AS BIGINT)) AS v
        |  FROM embeddings, m),
        |d AS (SELECT label, half, CAST(i AS BIGINT) AS dim, qv AS q
        |  FROM (SELECT label, half, v, unnest(v) AS qv,
        |      generate_subscripts(v, 1) AS i FROM qz)),
        |sums AS (SELECT label, dim,
        |    CAST(SUM(CASE WHEN half = 0 THEN q ELSE 0 END) AS BIGINT) AS s1,
        |    CAST(SUM(CASE WHEN half = 1 THEN q ELSE 0 END) AS BIGINT) AS s2
        |  FROM d GROUP BY label, dim),
        |ns AS (SELECT label,
        |    CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
        |    CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n2
        |  FROM qz GROUP BY label),
        |sh AS (SELECT sums.label, ns.n1, ns.n2,
        |    CAST(SUM(CAST(s1 * ns.n2 - s2 * ns.n1 AS HUGEINT)
        |      * (s1 * ns.n2 - s2 * ns.n1)) AS HUGEINT) AS num
        |  FROM sums JOIN ns ON ns.label = sums.label
        |  WHERE ns.n1 > 0 AND ns.n2 > 0
        |  GROUP BY sums.label, ns.n1, ns.n2),
        |r AS (SELECT label, n1, n2,
        |    CAST((num * 1000000) // (CAST(n1 AS HUGEINT) * n1 * n2 * n2)
        |      AS BIGINT) AS shift_q2_micro
        |  FROM sh)
        |SELECT label, n1 AS n_first, n2 AS n_second, shift_q2_micro,
        |  CAST((1000000 * shift_q2_micro)
        |    // MAX(shift_q2_micro) OVER () AS BIGINT) AS share_of_worst_ppm
        |FROM r ORDER BY label""") { (s, dir) =>
      import s.implicits._
      val D = "DECIMAL(38,0)"
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", $"label".cast("long").as("label"),
          ($"vec_id" % 2).as("half"), expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
            "* 127.0 / gm + 0.5) AS BIGINT))").as("v"))
        .transform(graft.CacheScope.cached) // sums + half counts
      val sums = qz.select($"label", $"half", posexplode($"v"))
        .groupBy($"label", ($"pos" + 1).cast("long").as("dim"))
        .agg(sum(when($"half" === 0, $"col").otherwise(0L)).as("s1"),
          sum(when($"half" === 1, $"col").otherwise(0L)).as("s2"))
      val ns = qz.groupBy($"label")
        .agg(sum(when($"half" === 0, 1L).otherwise(0L)).as("n1"),
          sum(when($"half" === 1, 1L).otherwise(0L)).as("n2"))
      val r = sums.join(broadcast(ns), Seq("label"))
        .filter($"n1" > 0 && $"n2" > 0)
        .groupBy($"label", $"n1", $"n2")
        .agg(sum(expr(s"CAST(s1 * n2 - s2 * n1 AS $D) " +
          "* (s1 * n2 - s2 * n1)")).as("num"))
        .select($"label", $"n1", $"n2",
          expr(s"CAST((num * 1000000) div (CAST(n1 AS $D) * n1 * n2 * n2) " +
            "AS BIGINT)").as("shift_q2_micro"))
      r.withColumn("share_of_worst_ppm",
          expr("CAST((1000000 * shift_q2_micro) div " +
            "(MAX(shift_q2_micro) OVER ()) AS BIGINT)"))
        .select($"label".as("label"), $"n1".as("n_first"),
          $"n2".as("n_second"), $"shift_q2_micro", $"share_of_worst_ppm")
        .orderBy($"label")
    },

    q("q376_ivf_delta_assign",
      // IVF index MAINTENANCE — the decision an ANN deployment faces when
      // a delta batch of embeddings lands: assign the NEW vectors to the
      // PERSISTED coarse centroids (never retrain on every ingest) and
      // read the cell-balance drift to decide when a retrain is actually
      // due. The persisted index is modeled exactly as q142 trains it
      // (int8 shifted quantization on the BASE half's own max-abs scale,
      // one Lloyd round from the first-k seeds, integer-mean centroids —
      // every distance and centroid exact BIGINT); the delta half is
      // quantized on the SAME persisted scale (an index's scale is part
      // of its contract — q288's lesson) and assigned by broadcast
      // integer argmin. Per cell: base/delta counts, growth ppm, and the
      // the post-ingest share with a >25% imbalance retrain flag. The
      // corpus-sized work is two broadcast-argmin passes; everything
      // else is k-row arithmetic.
      s"""WITH half AS (SELECT CAST(MAX(vec_id) AS BIGINT) // 2 AS h
         |  FROM embeddings),
         |m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm
         |  FROM embeddings, half WHERE vec_id < h),
         |qz AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
         |      * 127.0 / gm + 0.5) AS BIGINT) + 127) AS qv
         |  FROM embeddings, m),
         |ex AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS x
         |  FROM qz, half WHERE vec_id < h),
         |c0 AS (SELECT vec_id AS c, pos, x AS cm FROM ex WHERE vec_id < 8),
         |d1 AS (SELECT e.vec_id, c.c,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c0 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |a1 AS (SELECT vec_id, c, row_number() OVER (PARTITION BY vec_id
         |    ORDER BY dist, c) rn FROM d1),
         |asg1 AS (SELECT vec_id, c FROM a1 WHERE rn = 1),
         |c1 AS (SELECT a.c, e.pos,
         |    CAST(SUM(e.x) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cm
         |  FROM ex e JOIN asg1 a ON e.vec_id = a.vec_id GROUP BY a.c, e.pos),
         |db AS (SELECT e.vec_id, c.c,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c1 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |ab AS (SELECT vec_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) rn
         |  FROM db) WHERE rn = 1),
         |exd AS (SELECT vec_id, unnest(range(len(qv))) AS pos,
         |    unnest(qv) AS x FROM qz, half WHERE vec_id >= h),
         |dd AS (SELECT e.vec_id, c.c,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM exd e JOIN c1 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |ad AS (SELECT vec_id, c FROM (SELECT vec_id, c,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) rn
         |  FROM dd) WHERE rn = 1),
         |cb AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS base_n FROM ab
         |  GROUP BY c),
         |cd AS (SELECT c, CAST(COUNT(*) AS BIGINT) AS delta_n FROM ad
         |  GROUP BY c),
         |tot AS (SELECT CAST(SUM(base_n) AS BIGINT) AS nb FROM cb),
         |totd AS (SELECT CAST(COALESCE(SUM(delta_n), 0) AS BIGINT) AS nd
         |  FROM cd)
         |SELECT cb.c AS cell, cb.base_n, COALESCE(cd.delta_n, 0) AS delta_n,
         |  (COALESCE(cd.delta_n, 0) * 1000000) // cb.base_n AS growth_ppm,
         |  ((cb.base_n + COALESCE(cd.delta_n, 0)) * 1000000)
         |    // (tot.nb + totd.nd) AS share_ppm,
         |  ((cb.base_n + COALESCE(cd.delta_n, 0)) * 1000000)
         |    // (tot.nb + totd.nd) > 250000 AS retrain_flag
         |FROM cb LEFT JOIN cd ON cd.c = cb.c, tot, totd
         |ORDER BY cell""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val half = e.agg(expr("CAST(MAX(vec_id) AS BIGINT) div 2").as("h"))
      val base = e.crossJoin(broadcast(half)).filter($"vec_id" < $"h")
        .select($"vec_id", $"embedding")
        .transform(graft.CacheScope.cached) // scale + quantize + train
      val gm = base.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      def quant(df: org.apache.spark.sql.DataFrame) =
        df.crossJoin(broadcast(gm)).select($"vec_id", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127)")
          .as("qv"))
      val qb = quant(base).transform(graft.CacheScope.cached)
      def assign(df: org.apache.spark.sql.DataFrame,
          cents: org.apache.spark.sql.DataFrame) =
        df.crossJoin(broadcast(cents))
          .withColumn("dist", expr("graft_sqdisti(qv, cm)"))
          .groupBy($"vec_id").agg(min(struct($"dist", $"c")).as("mc"))
          .select($"vec_id", $"mc.c".as("c"))
      val c0 = qb.filter($"vec_id" < 8).select($"vec_id".as("c"), $"qv".as("cm"))
      val c1 = qb.join(assign(qb, c0), "vec_id")
        .select($"c", posexplode($"qv"))
        .groupBy($"c", $"pos")
        .agg(expr("sum(col) DIV count(1)").as("cm"))
        .groupBy($"c")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), s -> s.cm)").as("cm"))
        .transform(graft.CacheScope.cached) // base re-assign + delta assign
      val cb = assign(qb, c1).groupBy($"c").agg(count(lit(1)).as("base_n"))
      val delta = quant(e.crossJoin(broadcast(half)).filter($"vec_id" >= $"h")
        .select($"vec_id", $"embedding"))
      val cd = assign(delta, c1).groupBy($"c").agg(count(lit(1)).as("delta_n"))
      val tot = cb.agg(sum($"base_n").as("nb"))
      val totd = cd.agg(coalesce(sum($"delta_n"), lit(0L)).as("nd"))
      cb.join(cd, Seq("c"), "left")
        .withColumn("delta_n", coalesce($"delta_n", lit(0L)))
        .crossJoin(broadcast(tot)).crossJoin(broadcast(totd))
        .select($"c".as("cell"), $"base_n", $"delta_n",
          expr("(delta_n * 1000000) div base_n").as("growth_ppm"),
          expr("((base_n + delta_n) * 1000000) div (nb + nd)").as("share_ppm"),
          (expr("((base_n + delta_n) * 1000000) div (nb + nd)") > 250000L)
            .as("retrain_flag"))
        .orderBy($"cell")
    },

    q("q448_ivfpq_delta_maintenance",
      // Incremental maintenance for the COMPOSED q156 IVF-PQ index — the
      // ANN member of the delta-update family (q385 bands, q396 idf, q443
      // chunks, q376 coarse cells): a delta batch of embeddings (the top
      // 20% of vec_ids standing in for today's ingest) is absorbed into
      // the persisted index WITHOUT retraining. The persisted artifacts
      // are exactly what q156 trains on the base slice: the int8 scale,
      // the 8x64 integer-mean coarse centroids (one Lloyd round from the
      // first-8 seeds), and the 4x32x16 residual codebooks (first 32 base
      // vectors' residual sub-vectors). Delta vectors quantize on the
      // PERSISTED scale (an index's scale is part of its contract —
      // q288's lesson), assign to the persisted cells by broadcast
      // integer argmin, and PQ-encode their residuals against the
      // persisted codebooks. Readout per cell: base/delta counts and
      // growth, mean coarse assignment distance and mean PQ quantization
      // error for base (the training distribution) vs delta, the drift
      // of the delta's assignment distance in ppm, and the retrain
      // trigger (>50% growth OR >20% distance drift — the thresholds a
      // deployment tunes). All arithmetic is the shifted-int8 BIGINT
      // scheme of q142/q147/q156, bit-identical across engines. Scale
      // posture: the delta pass touches ONLY delta rows plus broadcast
      // index artifacts (8x64 centroids, 128 codewords) — O(delta) per
      // ingest, never a corpus rescan; the base-side stats are computed
      // once at index-build time (modeled in-query, same contract as
      // q376/q385's in-query "persisted" index).
      s"""WITH half AS (SELECT (CAST(MAX(vec_id) AS BIGINT) * 4) // 5 AS h
         |  FROM embeddings),
         |m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm
         |  FROM embeddings, half WHERE vec_id < h),
         |qz AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
         |      * 127.0 / gm + 0.5) AS BIGINT) + 127) AS qv
         |  FROM embeddings, m),
         |ex AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS x
         |  FROM qz, half WHERE vec_id < h),
         |c0 AS (SELECT vec_id AS c, pos, x AS cm FROM ex WHERE vec_id < 8),
         |d1 AS (SELECT e.vec_id, c.c,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c0 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |asg1 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number()
         |    OVER (PARTITION BY vec_id ORDER BY dist, c) rn FROM d1) WHERE rn = 1),
         |c1 AS (SELECT a.c, e.pos,
         |    CAST(SUM(e.x) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cm
         |  FROM ex e JOIN asg1 a ON e.vec_id = a.vec_id GROUP BY a.c, e.pos),
         |db AS (SELECT e.vec_id, c.c,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c1 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |ab AS (SELECT vec_id, c, dist FROM (SELECT vec_id, c, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) rn
         |  FROM db) WHERE rn = 1),
         |res AS (SELECT e.vec_id, a.c, e.pos // 16 AS s, e.pos % 16 AS p,
         |    e.x - c.cm AS r
         |  FROM ex e JOIN ab a ON e.vec_id = a.vec_id
         |            JOIN c1 c ON c.c = a.c AND c.pos = e.pos),
         |cbk AS (SELECT vec_id AS cw, s, p, r AS cx FROM res WHERE vec_id < 32),
         |encb AS (SELECT v.vec_id, v.s, c.cw,
         |    CAST(SUM((v.r - c.cx)*(v.r - c.cx)) AS BIGINT) AS dist
         |  FROM res v JOIN cbk c ON v.s = c.s AND v.p = c.p
         |  GROUP BY v.vec_id, v.s, c.cw),
         |pqb AS (SELECT vec_id, CAST(SUM(md) AS BIGINT) AS pqerr FROM (
         |  SELECT vec_id, s, MIN(dist) AS md FROM encb GROUP BY vec_id, s)
         |  GROUP BY vec_id),
         |exd AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS x
         |  FROM qz, half WHERE vec_id >= h),
         |ddx AS (SELECT e.vec_id, c.c,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM exd e JOIN c1 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |ad AS (SELECT vec_id, c, dist FROM (SELECT vec_id, c, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) rn
         |  FROM ddx) WHERE rn = 1),
         |resd AS (SELECT e.vec_id, a.c, e.pos // 16 AS s, e.pos % 16 AS p,
         |    e.x - c.cm AS r
         |  FROM exd e JOIN ad a ON e.vec_id = a.vec_id
         |             JOIN c1 c ON c.c = a.c AND c.pos = e.pos),
         |encd AS (SELECT v.vec_id, v.s, c.cw,
         |    CAST(SUM((v.r - c.cx)*(v.r - c.cx)) AS BIGINT) AS dist
         |  FROM resd v JOIN cbk c ON v.s = c.s AND v.p = c.p
         |  GROUP BY v.vec_id, v.s, c.cw),
         |pqd AS (SELECT vec_id, CAST(SUM(md) AS BIGINT) AS pqerr FROM (
         |  SELECT vec_id, s, MIN(dist) AS md FROM encd GROUP BY vec_id, s)
         |  GROUP BY vec_id),
         |sb AS (SELECT a.c, CAST(COUNT(*) AS BIGINT) AS n_base,
         |    CAST(SUM(a.dist) AS BIGINT) AS sdb, CAST(SUM(p.pqerr) AS BIGINT) AS spb
         |  FROM ab a JOIN pqb p ON p.vec_id = a.vec_id GROUP BY a.c),
         |sd2 AS (SELECT a.c, CAST(COUNT(*) AS BIGINT) AS n_delta,
         |    CAST(SUM(a.dist) AS BIGINT) AS sdd, CAST(SUM(p.pqerr) AS BIGINT) AS spd
         |  FROM ad a JOIN pqd p ON p.vec_id = a.vec_id GROUP BY a.c)
         |SELECT sb.c AS cell, sb.n_base,
         |  COALESCE(sd2.n_delta, 0) AS n_delta,
         |  CAST((COALESCE(sd2.n_delta, 0) * 1000000) // sb.n_base AS BIGINT)
         |    AS growth_ppm,
         |  CAST(sb.sdb // sb.n_base AS BIGINT) AS base_mean_dist,
         |  CAST(CASE WHEN COALESCE(sd2.n_delta, 0) > 0
         |    THEN sd2.sdd // sd2.n_delta ELSE 0 END AS BIGINT) AS delta_mean_dist,
         |  CAST(sb.spb // sb.n_base AS BIGINT) AS base_mean_pqerr,
         |  CAST(CASE WHEN COALESCE(sd2.n_delta, 0) > 0
         |    THEN sd2.spd // sd2.n_delta ELSE 0 END AS BIGINT) AS delta_mean_pqerr,
         |  CAST(CASE WHEN COALESCE(sd2.n_delta, 0) > 0
         |    THEN (abs(sd2.sdd // sd2.n_delta - sb.sdb // sb.n_base) * 1000000)
         |      // (sb.sdb // sb.n_base) ELSE 0 END AS BIGINT) AS dist_drift_ppm,
         |  ((COALESCE(sd2.n_delta, 0) * 1000000) // sb.n_base > 500000
         |    OR CASE WHEN COALESCE(sd2.n_delta, 0) > 0
         |      THEN (abs(sd2.sdd // sd2.n_delta - sb.sdb // sb.n_base) * 1000000)
         |        // (sb.sdb // sb.n_base) ELSE 0 END > 200000) AS retrain_flag
         |FROM sb LEFT JOIN sd2 ON sd2.c = sb.c
         |ORDER BY cell""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val half = e.agg(expr("(CAST(MAX(vec_id) AS BIGINT) * 4) div 5").as("h"))
      val base = e.crossJoin(broadcast(half)).filter($"vec_id" < $"h")
        .select($"vec_id", $"embedding")
        .transform(graft.CacheScope.cached) // scale + quantize + train
      val gm = base.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      def quant(df: DataFrame) =
        df.crossJoin(broadcast(gm)).select($"vec_id", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127)")
          .as("qv"))
      val qb = quant(base).transform(graft.CacheScope.cached)
      def assign(df: DataFrame, cents: DataFrame) =
        df.crossJoin(broadcast(cents))
          .withColumn("dist", expr("graft_sqdisti(qv, cm)"))
          .groupBy($"vec_id").agg(min(struct($"dist", $"c")).as("mc"))
          .select($"vec_id", $"mc.c".as("c"), $"mc.dist".as("dist"))
      val c0 = qb.filter($"vec_id" < 8).select($"vec_id".as("c"), $"qv".as("cm"))
      val c1 = qb.join(assign(qb, c0).select($"vec_id", $"c"), "vec_id")
        .select($"c", posexplode($"qv"))
        .groupBy($"c", $"pos").agg(expr("sum(col) DIV count(1)").as("cm"))
        .groupBy($"c")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), s -> s.cm)").as("cm"))
        .transform(graft.CacheScope.cached) // base stats + delta assignment
      val ab = assign(qb, c1).transform(graft.CacheScope.cached)
      def rsub(q: DataFrame, asg: DataFrame) =
        q.join(asg.select($"vec_id", $"c"), "vec_id").join(broadcast(c1), "c")
          .select($"vec_id", $"c", expr("zip_with(qv, cm, (x, m) -> x - m)").as("rv"))
          .select($"vec_id", explode(sequence(lit(0), lit(3))).as("s"), $"rv")
          .select($"vec_id", $"s", expr("slice(rv, s*16 + 1, 16)").as("sv"))
      val rb = rsub(qb, ab).transform(graft.CacheScope.cached) // codebook + encode
      val cbk = rb.filter($"vec_id" < 32)
        .select($"vec_id".as("cw"), $"s", $"sv".as("cwv"))
      def pqerr(r: DataFrame) =
        r.join(broadcast(cbk), "s")
          .withColumn("d", expr("graft_sqdisti(sv, cwv)"))
          .groupBy($"vec_id", $"s").agg(min($"d").as("md"))
          .groupBy($"vec_id").agg(sum($"md").as("pqerr"))
      val sbs = ab.join(pqerr(rb), "vec_id").groupBy($"c")
        .agg(count(lit(1)).as("n_base"), sum($"dist").as("sdb"),
          sum($"pqerr").as("spb"))
      // --- delta ingest: ONLY delta rows + broadcast index artifacts ---
      val qd = quant(e.crossJoin(broadcast(half)).filter($"vec_id" >= $"h")
        .select($"vec_id", $"embedding")).transform(graft.CacheScope.cached)
      val ad = assign(qd, c1).transform(graft.CacheScope.cached)
      val sdl = ad.join(pqerr(rsub(qd, ad)), "vec_id").groupBy($"c")
        .agg(count(lit(1)).as("n_delta"), sum($"dist").as("sdd"),
          sum($"pqerr").as("spd"))
      val drift = "CASE WHEN n_delta > 0 THEN (abs(sdd div n_delta - " +
        "sdb div n_base) * 1000000) div (sdb div n_base) ELSE 0 END"
      sbs.join(sdl, Seq("c"), "left")
        .withColumn("n_delta", coalesce($"n_delta", lit(0L)))
        .select($"c".as("cell"), $"n_base", $"n_delta",
          expr("(n_delta * 1000000) div n_base").as("growth_ppm"),
          expr("sdb div n_base").as("base_mean_dist"),
          expr("CASE WHEN n_delta > 0 THEN sdd div n_delta ELSE 0 END")
            .as("delta_mean_dist"),
          expr("spb div n_base").as("base_mean_pqerr"),
          expr("CASE WHEN n_delta > 0 THEN spd div n_delta ELSE 0 END")
            .as("delta_mean_pqerr"),
          expr(drift).as("dist_drift_ppm"),
          (expr("(n_delta * 1000000) div n_base") > 500000L ||
            expr(drift) > 200000L).as("retrain_flag"))
        .orderBy($"cell")
    },

    q("q377_embedding_outlier_triage",
      // Embedding outlier triage — the mislabeled/OOD review queue in
      // EMBEDDING space (q373 ranks by classifier ambiguity; this ranks
      // by geometric atypicality): per label, the 3 members FARTHEST from
      // their own label centroid under the exact shifted-int8 metric
      // (q142's scheme: global scale, integer-mean centroids, BIGINT
      // distances). One corpus aggregation builds the centroids, one
      // broadcast join scores membership, and the per-label queue is a
      // bounded rank window over |label| partitions. The same readout at
      // 100 TB: centroids are |labels| x dims (broadcast), scoring is
      // map-side, the queue is per-label top-k.
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |qz AS (SELECT vec_id, label, list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5)
         |        AS BIGINT) + 127) AS qv
         |  FROM embeddings, m),
         |ex AS (SELECT vec_id, label, unnest(range(len(qv))) AS pos,
         |    unnest(qv) AS x FROM qz),
         |c AS (SELECT label, pos,
         |    CAST(SUM(x) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cm
         |  FROM ex GROUP BY label, pos),
         |d AS (SELECT e.vec_id, e.label,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c ON c.label = e.label AND c.pos = e.pos
         |  GROUP BY e.vec_id, e.label),
         |rk AS (SELECT vec_id, label, dist, row_number() OVER (
         |    PARTITION BY label ORDER BY dist DESC, vec_id) rn FROM d)
         |SELECT CAST(label AS BIGINT) AS label, CAST(rn AS BIGINT) AS rnk,
         |  vec_id, dist AS sq_dist
         |FROM rk WHERE rn <= 3 ORDER BY label, rnk""") { (s, dir) =>
      import s.implicits._
      val e = T(s, dir, "embeddings")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", $"label", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127)")
          .as("qv"))
        .transform(graft.CacheScope.cached) // centroid build + scoring
      val c = qz.select($"label", posexplode($"qv"))
        .groupBy($"label", $"pos")
        .agg(expr("sum(col) DIV count(1)").as("cm"))
        .groupBy($"label")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), s -> s.cm)").as("cm"))
      qz.join(broadcast(c), "label")
        .withColumn("dist", expr("graft_sqdisti(qv, cm)"))
        .withColumn("rn", row_number().over(
          org.apache.spark.sql.expressions.Window
            .partitionBy($"label").orderBy($"dist".desc, $"vec_id")))
        .filter($"rn" <= 3)
        .select($"label".cast("long").as("label"),
          $"rn".cast("long").as("rnk"), $"vec_id", $"dist".as("sq_dist"))
        .orderBy($"label", $"rnk")
    },

    q("q380_semantic_decontaminate", {
      val sp = graft.functions.TextHash.splitCaseDuck("vec_id")
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |qz AS (SELECT vec_id, $sp AS sp, embedding,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
         |      * 127.0 / gm + 0.5) AS BIGINT)) AS qv
         |  FROM embeddings, m WHERE $sp <> 'val'),
         |h AS (SELECT vec_id - 100 AS hid, embedding he FROM embeddings
         |      WHERE vec_id BETWEEN 100 AND 115),
         |sig AS (SELECT v.vec_id, v.sp, CAST(h.hid // 4 AS BIGINT) AS band,
         |    SUM(CASE WHEN ${duckDotSql("v.embedding", "h.he")} >= 0
         |        THEN (1::BIGINT << CAST(h.hid % 4 AS INT)) ELSE 0 END) AS bucket
         |  FROM qz v, h GROUP BY v.vec_id, v.sp, h.hid // 4),
         |cand AS (SELECT DISTINCT a.vec_id ta, b.vec_id tb
         |  FROM sig a JOIN sig b ON a.band = b.band AND a.bucket = b.bucket
         |  WHERE a.sp = 'train' AND b.sp = 'test'),
         |sc AS (SELECT ta, tb,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(list_zip(x.qv, y.qv),
         |        z -> CAST(z[1] AS BIGINT) * CAST(z[2] AS BIGINT))),
         |      (acc, v) -> acc + v) AS d,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(x.qv, v -> v*v)), (acc, v) -> acc + v) AS na,
         |    list_reduce(list_prepend(CAST(0 AS BIGINT),
         |      list_transform(y.qv, v -> v*v)), (acc, v) -> acc + v) AS nb
         |  FROM cand JOIN qz x ON x.vec_id = cand.ta
         |            JOIN qz y ON y.vec_id = cand.tb),
         |hit AS (SELECT ta, tb, (d*d*1000000) // (na*nb) AS cos2_ppm
         |  FROM sc WHERE d > 0 AND d*d*100 >= 9*na*nb)
         |SELECT ta AS vec_id, CAST(COUNT(*) AS BIGINT) AS n_test_matches,
         |  CAST(MAX(cos2_ppm) AS BIGINT) AS max_cos2_ppm,
         |  CAST(MIN(tb) AS BIGINT) AS first_test_id
         |FROM hit GROUP BY ta ORDER BY vec_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Semantic decontamination — the embedding-level complement of the
      // n-gram passes (q100 exact 32-gram, q118 13-gram): a TRAIN document
      // whose embedding lands within cos >= 0.3 of any TEST document is a
      // paraphrase-level leak the n-gram checks cannot see (GPT-3 appendix
      // C / SemDeDup both motivate this). Split is the md5-prefix trick
      // (leakage-safe, engine-identical); candidates come from the q69
      // banded hyperplane LSH (4 bands x 4 bits, planes broadcast) so the
      // train x test comparison is an equi-join on (band, bucket) — never
      // the cross product — and only candidates are scored exactly. The
      // score is INTEGER-exact on globally-scaled int8 vectors:
      // cos^2 * 1e6 = dot^2*1e6 DIV (|a|^2*|b|^2), threshold stated as the
      // cross-multiplication d^2*100 >= 9*na*nb (cos >= 0.3, d > 0) — no
      // float sqrt on either engine. Output: per contaminated train vec,
      // how many test docs it collides with and the worst (highest-cos^2)
      // collision. At 100 TB: test split is tiny — its signatures AND int8
      // vectors broadcast; the train side stays map-side until the final
      // per-train-doc aggregation over the (small) hit set.
      // SCALE NOTE (the round-9 curve lesson): candidate generation runs
      // on DISTINCT quantized vectors, not raw rows. Exact-duplicate
      // embeddings are abundant in real corpora (duplicated documents)
      // and each duplicate group shares one signature, so pairing raw
      // rows inside a bucket grows QUADRATICALLY with duplication (the
      // 10x synthetic curve measured exponent 1.13); collapsing to one
      // representative per (split, raw-embedding digest) before the LSH — and
      // expanding match counts/ids afterward through the digest — gives
      // the PROVABLY identical result (identical vectors have identical
      // signatures, candidates, and scores) at one candidate pair per
      // distinct-vector pair. The oracle states the uncollapsed form;
      // equality of results is the point.
      val e = T(s, dir, "embeddings")
      val sp = graft.functions.TextHash.splitCaseSpark("vec_id")
      val gm = e.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val qz = e.crossJoin(broadcast(gm))
        .select($"vec_id", expr(sp).as("sp"), $"embedding", expr(
          "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT))")
          .as("qv"))
        .filter($"sp" =!= "val")
        // duplicate-group key = the RAW embedding (not the int8 qv): two
        // near-identical vectors can quantize alike yet sign differently
        // against a plane, so only exact duplicates may share one
        // signature computation
        .withColumn("dg",
          md5(concat_ws(",", expr("transform(embedding, x -> CAST(x AS STRING))"))
            .cast("binary")))
        .transform(graft.CacheScope.cached) // reps + member expansion
      val reps = qz.groupBy($"sp", $"dg")
        .agg(min($"vec_id").as("rid"), count(lit(1)).as("members"),
          first($"embedding").as("embedding"), first($"qv").as("qv"))
        .transform(graft.CacheScope.cached) // signatures + exact scoring
      val planes = broadcast(e.filter($"vec_id".between(100, 115))
        .select(($"vec_id" - 100).as("hid"), $"embedding".as("he")))
      val sig = reps.select($"sp", $"dg", $"embedding")
        .crossJoin(planes)
        .withColumn("bit",
          when(expr("graft_dot(embedding, he)") >= 0,
            expr("shiftleft(CAST(1 AS BIGINT), CAST(hid % 4 AS INT))"))
            .otherwise(lit(0L)))
        .groupBy($"sp", $"dg", ($"hid" / 4).cast("long").as("band"))
        .agg(sum($"bit").as("bucket"))
      val cand = sig.filter($"sp" === "train").as("a")
        .join(sig.filter($"sp" === "test").as("b"),
          $"a.band" === $"b.band" && $"a.bucket" === $"b.bucket")
        .select($"a.dg".as("dga"), $"b.dg".as("dgb"))
        .distinct()
      val trainReps = reps.filter($"sp" === "train")
        .select($"dg".as("dga"), $"qv".as("qa"))
      val testReps = reps.filter($"sp" === "test")
        .select($"dg".as("dgb"), $"qv".as("qb"),
          $"rid".as("tb_min"), $"members".as("tb_members"))
      val hitsByDigest = cand
        .join(trainReps, "dga")
        .join(testReps, "dgb")
        .withColumn("d", expr("graft_doti(qa, qb)"))
        .withColumn("na", expr("graft_doti(qa, qa)"))
        .withColumn("nb", expr("graft_doti(qb, qb)"))
        .filter($"d" > 0 && $"d" * $"d" * 100 >= $"na" * $"nb" * 9)
        .withColumn("cos2_ppm", expr("(d*d*1000000) div (na*nb)"))
        .groupBy($"dga")
        .agg(sum($"tb_members").as("n_test_matches"),
          max($"cos2_ppm").as("max_cos2_ppm"),
          min($"tb_min").as("first_test_id"))
      qz.filter($"sp" === "train")
        .select($"vec_id", $"dg".as("dga"))
        .join(hitsByDigest, "dga")
        .select($"vec_id", $"n_test_matches", $"max_cos2_ppm",
          $"first_test_id")
        .orderBy($"vec_id")
    },

    q("q390_knn_ood", {
      val sp = graft.functions.TextHash.splitCaseDuck("vec_id")
      s"""WITH c AS (SELECT vec_id cid, embedding ce FROM embeddings
         |           WHERE vec_id % 25 = 0),
         |v AS (SELECT vec_id, embedding, $sp AS sp FROM embeddings),
         |ref AS (SELECT vec_id, embedding FROM v WHERE sp = 'train'),
         |qs AS (SELECT vec_id, embedding FROM v WHERE sp = 'test'),
         |ra AS (SELECT r.vec_id, cid FROM (SELECT r.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY r.vec_id
         |      ORDER BY ${duckDot("r.embedding", "c.ce")} DESC, c.cid) rn
         |  FROM ref r, c) r WHERE rn = 1),
         |qp AS (SELECT vec_id q_id, cid FROM (SELECT q.vec_id, c.cid,
         |    ROW_NUMBER() OVER (PARTITION BY q.vec_id
         |      ORDER BY ${duckDot("q.embedding", "c.ce")} DESC, c.cid) rn
         |  FROM qs q, c) q WHERE rn <= 2),
         |cand AS (SELECT p.q_id, a.vec_id cand_id FROM qp p
         |         JOIN ra a ON a.cid = p.cid),
         |sc AS (SELECT q_id, cand_id,
         |    ${duckDot("qv.embedding", "rv.embedding")} AS sim
         |  FROM cand JOIN qs qv ON qv.vec_id = cand.q_id
         |            JOIN ref rv ON rv.vec_id = cand.cand_id),
         |rk AS (SELECT q_id, sim, ROW_NUMBER() OVER (PARTITION BY q_id
         |    ORDER BY sim DESC, cand_id) rn FROM sc),
         |agg AS (SELECT q_id, CAST(COUNT(*) AS BIGINT) AS n_cand,
         |    MAX(CASE WHEN rn = 3 THEN sim END) AS s3 FROM rk GROUP BY q_id)
         |SELECT q.vec_id AS q_id,
         |  COALESCE(a.n_cand, 0) AS n_cand,
         |  ${graft.ColFns.r6Sql("a.s3")} AS knn3_sim,
         |  (a.n_cand IS NULL OR a.n_cand < 3
         |    OR a.s3 < CAST(0.1 AS DOUBLE)) AS is_ood
         |FROM qs q LEFT JOIN agg a ON a.q_id = q.vec_id
         |ORDER BY q_id"""
    }) { (s, dir) =>
      import s.implicits._
      // kNN-distance OOD scoring (Sun et al. 2022) — the non-parametric
      // complement of q377's centroid triage: a TEST vector whose 3rd-
      // nearest TRAIN neighbor is still far (or which has <3 candidates at
      // all) sits in a sparse region the reference distribution never
      // covered. The search reuses the IVF contract (q46): coarse cells
      // from the deterministic seed centroids, reference vectors assigned
      // to 1 cell, queries probing nprobe=2 — candidates are cell-mates
      // only, an equi-join on cid, never test x train. Sparse-cell
      // queries (n_cand < 3) are flagged OOD BY CONSTRUCTION — at scale
      // that is precisely the "no density nearby" signal, and the nprobe
      // widening knob is the recall dial. Exact sims via the codegen'd
      // graft_dot fold (bit-identical in both engines), r6'd once.
      val sp = graft.functions.TextHash.splitCaseSpark("vec_id")
      val e = T(s, dir, "embeddings")
      val cents = broadcast(e.filter($"vec_id" % 25 === 0)
        .select($"vec_id".as("cid"), $"embedding".as("ce")))
      val v = e.select($"vec_id", $"embedding", expr(sp).as("sp"))
        .filter($"sp" =!= "val")
        .transform(graft.CacheScope.cached)
      def nearCells(side: DataFrame, n: Int): DataFrame = {
        val w = Window.partitionBy($"vec_id").orderBy($"d".desc, $"cid")
        side.crossJoin(cents)
          .withColumn("d", expr("graft_dot(embedding, ce)"))
          .withColumn("rn", row_number().over(w))
          .filter($"rn" <= n)
          .select($"vec_id", $"cid")
      }
      val ref = v.filter($"sp" === "train").select($"vec_id", $"embedding")
      val qs = v.filter($"sp" === "test").select($"vec_id", $"embedding")
        .transform(graft.CacheScope.cached)
      val ra = nearCells(ref, 1)
      val qp = nearCells(qs, 2).withColumnRenamed("vec_id", "q_id")
      val rk = qp.join(ra.withColumnRenamed("vec_id", "cand_id"), "cid")
        .join(qs.select($"vec_id".as("q_id"), $"embedding".as("qe")), "q_id")
        .join(ref.select($"vec_id".as("cand_id"), $"embedding".as("re")), "cand_id")
        .withColumn("sim", expr("graft_dot(qe, re)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"q_id").orderBy($"sim".desc, $"cand_id")))
      val agg = rk.groupBy($"q_id")
        .agg(count(lit(1)).as("n_cand"),
          max(when($"rn" === 3, $"sim")).as("s3"))
      qs.select($"vec_id".as("q_id"))
        .join(agg, Seq("q_id"), "left")
        .select($"q_id", coalesce($"n_cand", lit(0L)).as("n_cand"),
          graft.ColFns.r6($"s3").as("knn3_sim"),
          ($"n_cand".isNull || $"n_cand" < 3 || $"s3" < 0.1d).as("is_ood"))
        .orderBy($"q_id")
    },

    q("q421_pca_anisotropy", {
      // The power-iteration oracle mirrors the Spark program operand for
      // operand: identical integer Gram, identical truncated divisions
      // (sign * (abs // m) on both sides — DuckDB's // floors, BigInt
      // truncates, so negatives go through the explicit abs form), and an
      // exact isqrt via the floor(sqrt(double)) +/-1 correction (norm2 <=
      // 64e12 < 2^53, so the double is exact and floor errs by at most 1).
      // Every CTE in the iteration chain is MATERIALIZED: v_t references
      // w_t twice (via m_t), so plain inlining doubles the expansion per
      // iteration — 2^8 copies of the gram scan blew DuckDB's fd limit.
      s"""WITH $pcaGramSql,
         |${powerChainSql("gram", "v")},
         |${loadingsSql("v8", "")},
         |num AS (SELECT SUM(g.c * a.val * b.val) AS vcv FROM gram g
         |  JOIN v8 a ON g.i = a.i JOIN v8 b ON g.j = b.i),
         |tr AS (SELECT SUM(c) AS trace FROM gram WHERE i = j),
         |sh AS (SELECT ((vcv // norm2) * 1000000) // trace AS share
         |  FROM num, n2, tr)
         |SELECT CAST(dim AS BIGINT) AS dim,
         |  CAST(loading_ppm AS BIGINT) AS loading_ppm FROM ld
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(share AS BIGINT) FROM sh
         |ORDER BY dim"""
    }) { (s, dir) =>
      import s.implicits._
      // Top principal component + anisotropy share of the embedding space —
      // the "is my embedding space collapsed" diagnostic (Ethayarajh 2019:
      // contextual embeddings are anisotropic; a dominant component eats
      // cosine-similarity resolution, and whitening/ABTT removes it). The
      // corpus-sized work is ONE pass: int8-quantize on the global max-abs
      // scale (q97's exact scheme), then the d x d Gram by double
      // posexplode — pure map-side expansion with partial aggregation into
      // d^2 = 4096 cells, NO self-join shuffle; per-dim sums and n ride the
      // same scan shape. The centered second-moment matrix
      // C = n*Gram - s*s^T (= n^2 * covariance, exact BIGINT) is bounded
      // (d^2 entries regardless of corpus size), so 8 power iterations run
      // driver-side in exact BigInt: w = C v, then max-abs rescale to ppm
      // with truncated-toward-zero division (sign * (abs // m), matching
      // the oracle operand for operand). Readout: loadings L2-normalized
      // to ppm via EXACT integer sqrt (floor(sqrt(double)) corrected by
      // +/-1 — norm2 < 2^53 so that's sufficient), sign-fixed so the first
      // nonzero component is positive, plus the dim=-1 row carrying the
      // Rayleigh-quotient eigenvalue's share of trace(C) in ppm — the
      // variance-explained anisotropy number. Cross-engine equality is by
      // construction: both engines execute the same integer program, so
      // convergence state is irrelevant to the hash.
      val c = centeredMoment(s, dir)
      val v = powerIterate(c, 8)
      val norm2 = v.map(x => x * x).sum
      val loadings = loadingsPpm(v, norm2)
      val vcv = rayleigh(c, v)
      val trace = c.indices.map(i => c(i)(i)).sum
      val share = (((vcv / norm2) * 1000000) / trace).toLong
      (c.indices.map(i => (i.toLong, loadings(i))) :+ (-1L, share))
        .toSeq.toDF("dim", "loading_ppm").orderBy($"dim")
    },

    q("q422_abtt_whitening", {
      // Same twin-integer-program contract as q421; the deflation divisor
      // chain is staged (lam = qd // norm2 first, then (lam*v_i*v_j) //
      // norm2) so every intermediate stays inside HUGEINT even at corpus
      // scale, and every division on a possibly-negative operand goes
      // through the explicit sign * (abs // m) form.
      s"""WITH $pcaGramSql,
         |${powerChainSql("gram", "v")},
         |n2 AS MATERIALIZED (SELECT SUM(val * val) AS norm2 FROM v8),
         |wv AS MATERIALIZED (SELECT g.i, SUM(g.c * v.val) AS w
         |  FROM gram g JOIN v8 v ON g.j = v.i GROUP BY g.i),
         |qd AS MATERIALIZED (SELECT GREATEST(SUM(w.w * v.val), 1) AS qd
         |  FROM wv w JOIN v8 v ON v.i = w.i),
         |tr AS (SELECT SUM(c) AS trace FROM gram WHERE i = j),
         |lam AS (SELECT qd // norm2 AS lam FROM qd, n2),
         |gram2 AS MATERIALIZED (SELECT g.i, g.j,
         |    g.c - (CASE WHEN a.val * b.val < 0
         |      THEN -((lam.lam * (-(a.val * b.val))) // n2.norm2)
         |      ELSE (lam.lam * a.val * b.val) // n2.norm2 END) AS c
         |  FROM gram g JOIN v8 a ON a.i = g.i JOIN v8 b ON b.i = g.j, lam, n2),
         |${powerChainSql("gram2", "u")},
         |${loadingsSql("u8", "b")},
         |num2 AS (SELECT SUM(g.c * a.val * b.val) AS ucu FROM gram2 g
         |  JOIN u8 a ON g.i = a.i JOIN u8 b ON g.j = b.i),
         |tr2 AS (SELECT SUM(c) AS trace2 FROM gram2 WHERE i = j),
         |sh1 AS (SELECT ((qd // norm2) * 1000000) // trace AS share
         |  FROM qd, n2, tr),
         |sh2 AS (SELECT ((GREATEST(ucu, 0) // bnorm2) * 1000000) // trace
         |    AS share
         |  FROM num2, bn2, tr),
         |ret AS (SELECT (trace2 * 1000000) // trace AS kept FROM tr2, tr)
         |SELECT CAST(dim AS BIGINT) AS dim,
         |  CAST(loading_ppm AS BIGINT) AS value_ppm FROM bld
         |UNION ALL SELECT CAST(-1 AS BIGINT), CAST(share AS BIGINT) FROM sh1
         |UNION ALL SELECT CAST(-2 AS BIGINT), CAST(share AS BIGINT) FROM sh2
         |UNION ALL SELECT CAST(-3 AS BIGINT), CAST(kept AS BIGINT) FROM ret
         |ORDER BY dim"""
    }) { (s, dir) =>
      import s.implicits._
      // All-but-the-top whitening (Mu & Viswanath 2018), measured: deflate
      // q421's dominant component out of the centered second-moment matrix
      // (Hotelling: C' = C - lam * v v^T / ||v||^2 with lam the integer
      // Rayleigh quotient) and re-run the power iteration on C' — the
      // readout is the before/after pair the ABTT decision actually needs:
      // share_top1 (dim=-1), share_top2_after_removal (dim=-2, how
      // anisotropic the space STILL is once the common direction is gone),
      // trace_retained_ppm (dim=-3, variance the correction keeps), plus
      // the deflated component's ppm loadings (the second PCA direction,
      // dims 0..63). Corpus work is the same ONE Gram pass as q421 — the
      // deflation and second iteration run on the bounded d x d matrix
      // driver-side in exact BigInt, mirrored operand for operand by the
      // oracle's staged floor divisions (lam = qd // norm2 first, so no
      // intermediate exceeds HUGEINT even with corpus-scale moments).
      val c = centeredMoment(s, dir)
      val v = powerIterate(c, 8)
      val norm2 = v.map(x => x * x).sum
      val w = c.indices.map(i => c.indices.map(j => c(i)(j) * v(j)).sum)
      val qd = c.indices.map(i => w(i) * v(i)).sum.max(BigInt(1))
      val trace = c.indices.map(i => c(i)(i)).sum
      val lam = qd / norm2
      val c2 = Array.tabulate(c.length, c.length)((i, j) =>
        c(i)(j) - signedDiv(lam * v(i) * v(j), norm2))
      val u = powerIterate(c2, 8)
      val bnorm2 = u.map(x => x * x).sum
      val loadings2 = loadingsPpm(u, bnorm2)
      val ucu = rayleigh(c2, u).max(BigInt(0))
      val trace2 = c2.indices.map(i => c2(i)(i)).sum
      val share1 = (((qd / norm2) * 1000000) / trace).toLong
      val share2 = (((ucu / bnorm2) * 1000000) / trace).toLong
      val kept = ((trace2 * 1000000) / trace).toLong
      (c.indices.map(i => (i.toLong, loadings2(i))) ++
        Seq((-1L, share1), (-2L, share2), (-3L, kept)))
        .toSeq.toDF("dim", "value_ppm").orderBy($"dim")
    },

    q("q452_streaming_ivfpq_delta",
      // STREAMING twin of q448's delta ingest — the live form of ANN index
      // maintenance: delta embeddings arrive as a stream THROUGH the
      // engine source; each vector is assigned to its nearest PERSISTED
      // coarse cell entirely MAP-SIDE (the 8x64 integer centroid table —
      // trained batch-side on the base slice exactly as q448 — is
      // embedded as a literal, the streaming analog of a broadcast
      // index), and the per-cell census is ONE complete-mode keyed
      // aggregation whose state is 8 cells x 2 longs FOREVER, regardless
      // of how many vectors ever stream in (q182's bounded-state
      // discipline; a per-vector argmin aggregation would grow state with
      // the corpus — the design this query exists to rule out). Readout:
      // streamed per-cell delta counts + mean assignment distance joined
      // with the batch base stats — the oracle is the SAME from-scratch
      // rebuild as q448's coarse layer, so the hash certifies the
      // streamed counters equal the batch twin exactly (no loss, no
      // dupes across micro-batches — the q115 invariant). Float->string
      // ->float via the log is exact (shortest round-trip repr, q424).
      s"""WITH half AS (SELECT (CAST(MAX(vec_id) AS BIGINT) * 4) // 5 AS h
         |  FROM embeddings),
         |m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm
         |  FROM embeddings, half WHERE vec_id < h),
         |qz AS (SELECT vec_id,
         |    list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE)
         |      * 127.0 / gm + 0.5) AS BIGINT) + 127) AS qv
         |  FROM embeddings, m),
         |ex AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS x
         |  FROM qz, half WHERE vec_id < h),
         |c0 AS (SELECT vec_id AS c, pos, x AS cm FROM ex WHERE vec_id < 8),
         |d1 AS (SELECT e.vec_id, c.c,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c0 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |asg1 AS (SELECT vec_id, c FROM (SELECT vec_id, c, row_number()
         |    OVER (PARTITION BY vec_id ORDER BY dist, c) rn FROM d1) WHERE rn = 1),
         |c1 AS (SELECT a.c, e.pos,
         |    CAST(SUM(e.x) AS BIGINT) // CAST(COUNT(*) AS BIGINT) AS cm
         |  FROM ex e JOIN asg1 a ON e.vec_id = a.vec_id GROUP BY a.c, e.pos),
         |db AS (SELECT e.vec_id, c.c,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM ex e JOIN c1 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |ab AS (SELECT vec_id FROM (SELECT vec_id, c, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) rn
         |  FROM db) WHERE rn = 1),
         |exd AS (SELECT vec_id, unnest(range(len(qv))) AS pos, unnest(qv) AS x
         |  FROM qz, half WHERE vec_id >= h),
         |dd AS (SELECT e.vec_id, c.c,
         |    CAST(SUM((e.x - c.cm)*(e.x - c.cm)) AS BIGINT) AS dist
         |  FROM exd e JOIN c1 c ON e.pos = c.pos GROUP BY e.vec_id, c.c),
         |ad AS (SELECT vec_id, c, dist FROM (SELECT vec_id, c, dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY dist, c) rn
         |  FROM dd) WHERE rn = 1),
         |nb AS (SELECT COUNT(*) AS n FROM ab)
         |SELECT ad.c AS cell,
         |  CAST(COUNT(*) AS BIGINT) AS n_delta,
         |  CAST(CAST(SUM(ad.dist) AS BIGINT)
         |    // CAST(COUNT(*) AS BIGINT) AS BIGINT) AS delta_mean_dist,
         |  CAST((COUNT(*) * 8000000) // nb.n AS BIGINT) AS growth_vs_even_ppm
         |FROM ad, nb GROUP BY ad.c, nb.n ORDER BY cell""") { (s, dir) =>
      import s.implicits._
      // --- batch-side: train the persisted index on the base slice (the
      // q448 coarse layer) and collect the tiny artifacts (scale + 8x64
      // centroids) the stream embeds map-side ---
      val e = T(s, dir, "embeddings")
      val half = e.agg(expr("(CAST(MAX(vec_id) AS BIGINT) * 4) div 5").as("h"))
      val base = e.crossJoin(broadcast(half)).filter($"vec_id" < $"h")
        .select($"vec_id", $"embedding")
        .transform(graft.CacheScope.cached)
      val gm = base.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))")).as("gm"))
      val qb = base.crossJoin(broadcast(gm)).select($"vec_id", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT) + 127)")
        .as("qv")).transform(graft.CacheScope.cached)
      def assign(df: DataFrame, cents: DataFrame) =
        df.crossJoin(broadcast(cents))
          .withColumn("dist", expr("graft_sqdisti(qv, cm)"))
          .groupBy($"vec_id").agg(min(struct($"dist", $"c")).as("mc"))
          .select($"vec_id", $"mc.c".as("c"))
      val c0 = qb.filter($"vec_id" < 8).select($"vec_id".as("c"), $"qv".as("cm"))
      val c1 = qb.join(assign(qb, c0), "vec_id")
        .select($"c", posexplode($"qv"))
        .groupBy($"c", $"pos").agg(expr("sum(col) DIV count(1)").as("cm"))
        .groupBy($"c")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cm))), s -> s.cm)").as("cm"))
      val nBase = assign(qb, c1).count()
      val gmV = gm.head().getDouble(0)
      val cents: Seq[(Long, Seq[Long])] = c1.collect()
        .map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq.sortBy(_._1)
      // --- the stream: delta vectors through the engine; assignment is a
      // pure map over the embedded literal index, census is the one
      // bounded keyed aggregation ---
      val root = graft.LogFixtures.producedLog(dir, "q452") { r =>
        graft.log.LogBulkProducer.produceAt(
          e.crossJoin(broadcast(half)).filter($"vec_id" >= $"h").select(
            (lit(1700000000000L) + $"vec_id").as("ms"), $"vec_id",
            expr("array_join(transform(embedding, x -> CAST(x AS STRING)), ',')")
              .as("emb")),
          "ms", r, "embeddings", orderCols = Seq("vec_id"))
      }
      val centArr = cents.map { case (c, cm) =>
        s"named_struct('c', CAST($c AS BIGINT), 'cm', array(${cm.mkString("L,") + "L"}))"
      }.mkString("array(", ", ", ")")
      val nDelta = e.count() - nBase
      val state = graft.streaming.StreamHarness.runToMemory(s, "q452", mode = "complete") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "embeddings")
          .option("valueSchema", "vec_id BIGINT, emb STRING")
          .option("startingOffsets", "earliest")
          // >= 3 micro-batches at every SF so the bounded state really
          // carries across batch boundaries (q424's trigger discipline)
          .option("maxEntriesPerTrigger", math.max(64L, nDelta / 3).toString)
          .load()
          .select(expr(
            s"""transform(split(emb, ','),
               |  x -> CAST(floor(CAST(CAST(x AS FLOAT) AS DOUBLE)
               |    * 127.0 / CAST('$gmV' AS DOUBLE) + 0.5) AS BIGINT) + 127)"""
              .stripMargin).as("qv"))
          .select(expr(
            s"""array_min(transform($centArr,
               |  s -> named_struct('dist', graft_sqdisti(qv, s.cm),
               |                    'c', s.c)))""".stripMargin).as("mc"))
          .groupBy($"mc.c".as("cell"))
          .agg(count(lit(1)).as("n_delta"), sum($"mc.dist").as("sd"))
      }
      state
        .select($"cell".cast("long").as("cell"),
          $"n_delta".cast("long").as("n_delta"), $"sd".cast("long").as("sd"))
        .select($"cell", $"n_delta",
          expr("sd div n_delta").as("delta_mean_dist"),
          expr(s"CAST((n_delta * 8000000) div ${nBase}L AS BIGINT)")
            .as("growth_vs_even_ppm"))
        .orderBy($"cell")
    },

    q("q424_streaming_anisotropy", {
      // Oracle = the q421 integer-PCA program on a FIXED 32767 scale (no
      // global-max CTE): the streamed counters must reproduce the batch
      // statistics exactly, and the readout is the identical driver-side
      // integer program, so the hash pins end-to-end equality.
      s"""WITH $pcaGramFixedSql,
         |${powerChainSql("gram", "v")},
         |${loadingsSql("v8", "")},
         |num AS (SELECT SUM(g.c * a.val * b.val) AS vcv FROM gram g
         |  JOIN v8 a ON g.i = a.i JOIN v8 b ON g.j = b.i),
         |tr AS (SELECT SUM(c) AS trace FROM gram WHERE i = j),
         |sh AS (SELECT ((vcv // norm2) * 1000000) // trace AS share
         |  FROM num, n2, tr)
         |SELECT CAST(dim AS BIGINT) AS dim,
         |  CAST(loading_ppm AS BIGINT) AS loading_ppm FROM ld
         |UNION ALL
         |SELECT CAST(-1 AS BIGINT), CAST(share AS BIGINT) FROM sh
         |ORDER BY dim"""
    }) { (s, dir) =>
      import s.implicits._
      // Streaming twin of the anisotropy monitor THROUGH the engine source
      // — the shape a live embedding-ingest pipeline takes. The insight
      // that makes it streamable: (n, per-dim sums, d x d Gram) is a
      // mergeable sufficient statistic, and prepending a constant-1
      // sentinel component folds ALL of it into ONE complete-mode keyed
      // aggregation — the extended Gram's (0,0) cell is n, its (0,j) row
      // is the sums, the rest is the Gram. Quantization uses a FIXED
      // 32767 scale (the vectors are unit-normalized), because a global
      // max-abs scale would not be incrementally maintainable — the one
      // honest design change vs q421, pinned by q424's own oracle. State
      // is 65 x 65 = 4225 BIGINT cells forever, regardless of corpus
      // size; per-cell sums stay under 2^60 even at 1e9 vectors. The
      // d^2-per-vector outer-product expansion runs map-side in-stream
      // (it is the same expansion q421's batch Gram pays). Readout:
      // q421's exact-BigInt power iteration over the drained snapshot.
      val root = graft.LogFixtures.producedLog(dir, "q424") { r =>
        graft.log.LogBulkProducer.produceAt(
          T(s, dir, "embeddings").select(
            (lit(1700000000000L) + $"vec_id").as("ms"), $"vec_id",
            expr("array_join(transform(embedding, x -> CAST(x AS STRING)), ',')")
              .as("emb")),
          "ms", r, "embeddings", orderCols = Seq("vec_id"))
      }
      val nIn = T(s, dir, "embeddings").count()
      val state = graft.streaming.StreamHarness.runToMemory(s, "q424", mode = "complete") {
        s.readStream.format("graftlog")
          .option("path", root).option("stream", "embeddings")
          .option("valueSchema", "vec_id BIGINT, emb STRING")
          .option("startingOffsets", "earliest")
          .option("maxEntriesPerTrigger", math.max(200L, nIn / 3).toString)
          .load()
          // float -> string -> float is exact (shortest round-trip repr),
          // so the fixed-scale quantization matches the parquet oracle
          .select(expr(
            """concat(array(CAST(1 AS BIGINT)),
              |  transform(split(emb, ','),
              |    x -> CAST(floor(CAST(CAST(x AS FLOAT) AS DOUBLE)
              |      * 32767.0 + 0.5) AS BIGINT)))""".stripMargin).as("qx"))
          .select($"qx", posexplode($"qx").as(Seq("i", "xi")))
          .select($"i", $"xi", posexplode($"qx").as(Seq("j", "xj")))
          .groupBy($"i", $"j").agg(sum($"xi" * $"xj").as("g"))
      }
      val cells = state.collect()
        .map(r => ((r.getInt(0), r.getInt(1)), BigInt(r.getLong(2)))).toMap
      val d = 64
      val n = cells((0, 0))
      val sums = (0 until d).map(i => cells((0, i + 1)))
      val c = Array.tabulate(d, d)((i, j) =>
        n * cells((i + 1, j + 1)) - sums(i) * sums(j))
      val v = powerIterate(c, 8)
      val norm2 = v.map(x => x * x).sum
      val loadings = loadingsPpm(v, norm2)
      val vcv = rayleigh(c, v)
      val trace = c.indices.map(i => c(i)(i)).sum
      val share = (((vcv / norm2) * 1000000) / trace).toLong
      (c.indices.map(i => (i.toLong, loadings(i))) :+ (-1L, share))
        .toSeq.toDF("dim", "loading_ppm").orderBy($"dim")
    },

    q("q463_jl_projection", {
      val proj = jlProjectDuck("embedding")
      s"""WITH pr AS (SELECT vec_id, embedding, $proj AS pv FROM embeddings),
         |pairs AS (SELECT a.vec_id AS a_id, b.vec_id AS b_id,
         |    ${jlSqDistDuck("a.embedding", "b.embedding")} AS d2o,
         |    ${jlSqDistDuck("a.pv", "b.pv")} AS d2p
         |  FROM pr a JOIN pr b ON b.vec_id = a.vec_id + 17
         |  WHERE a.vec_id % 10 = 0)
         |SELECT a_id, b_id,
         |  CAST(floor(1000000 * d2o + 0.5) AS BIGINT) AS d2_orig_micro,
         |  CAST(floor(1000000 * d2p / 16 + 0.5) AS BIGINT) AS d2_proj_micro,
         |  CAST(floor(1000000 * (d2p / 16) / d2o + 0.5) AS BIGINT)
         |    AS ratio_ppm
         |FROM pairs WHERE d2o > 0 ORDER BY a_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Johnson-Lindenstrauss sign random projection: every 64-d embedding
      // is projected onto 16 deterministic +/-1 hyperplanes (sign from the
      // same affine-mod-P hash family the minhash permutations use), and a
      // bounded probe-pair set reads out the realized distance distortion
      // ratio_ppm = (||Px-Py||^2 / k) / ||x-y||^2 — the certificate that
      // the 4x-cheaper sketch space preserves geometry before anything
      // downstream (clustering, ANN pre-filter) trusts it. Both engines
      // run the identical ascending-d fold, so the doubles are
      // bit-identical and the micro-rounded readout hashes exactly. The
      // projection is pure map-side (k x d integer-hash signs, no stored
      // matrix — the 100 TB win: nothing to broadcast, re-derived per
      // row); the probe pairs are ONE keyed equi self-join on vec_id.
      // SimilaritySpec pins linearity (P(x+y) = Px + Py) and the JL
      // concentration of the measured ratios.
      val pr = T(s, dir, "embeddings")
        .select($"vec_id", $"embedding",
          expr(jlProjectSpark("embedding")).as("pv"))
        .transform(graft.CacheScope.cached)
      pr.as("a").join(pr.as("b"), $"b.vec_id" === $"a.vec_id" + 17)
        .filter($"a.vec_id" % 10 === 0)
        .select($"a.vec_id".as("a_id"), $"b.vec_id".as("b_id"),
          expr(jlSqDistSpark("a.embedding", "b.embedding")).as("d2o"),
          expr(jlSqDistSpark("a.pv", "b.pv")).as("d2p"))
        .filter($"d2o" > 0)
        .select($"a_id", $"b_id",
          expr("CAST(floor(1000000 * d2o + 0.5) AS BIGINT)")
            .as("d2_orig_micro"),
          expr("CAST(floor(1000000 * d2p / 16 + 0.5) AS BIGINT)")
            .as("d2_proj_micro"),
          expr("CAST(floor(1000000 * (d2p / 16) / d2o + 0.5) AS BIGINT)")
            .as("ratio_ppm"))
        .orderBy($"a_id")
    },

    q("q464_margin_pair_mining", {
      val dot = duckDotSql("q.embedding", "c.embedding")
      s"""WITH qs AS (SELECT vec_id AS q_id, embedding FROM embeddings
         |  WHERE vec_id % 25 = 7),
         |cs AS (SELECT vec_id AS c_id, embedding FROM embeddings
         |  WHERE vec_id % 25 <> 7),
         |p AS (SELECT q.q_id, c.c_id,
         |    CAST(floor(1000000 * ($dot) + 0.5) AS BIGINT) + 1000000 AS s
         |  FROM qs q, cs c),
         |r AS (SELECT q_id, c_id, s,
         |    ROW_NUMBER() OVER (PARTITION BY q_id ORDER BY s DESC, c_id)
         |      AS rq,
         |    ROW_NUMBER() OVER (PARTITION BY c_id ORDER BY s DESC, q_id)
         |      AS rc
         |  FROM p),
         |kx AS (SELECT q_id, CAST(SUM(s) AS BIGINT) AS kx4 FROM r
         |  WHERE rq <= 4 GROUP BY q_id),
         |ky AS (SELECT c_id, CAST(SUM(s) AS BIGINT) AS ky4 FROM r
         |  WHERE rc <= 4 GROUP BY c_id),
         |m AS (SELECT r.q_id, r.c_id, r.s,
         |    CAST((8000000 * r.s) // (kx.kx4 + ky.ky4) AS BIGINT)
         |      AS margin_ppm
         |  FROM r JOIN kx ON kx.q_id = r.q_id JOIN ky ON ky.c_id = r.c_id),
         |best AS (SELECT q_id, c_id, s, margin_ppm,
         |    ROW_NUMBER() OVER (PARTITION BY q_id
         |      ORDER BY margin_ppm DESC, c_id) AS rn FROM m)
         |SELECT q_id, c_id AS best_c, CAST(s - 1000000 AS BIGINT)
         |    AS cos_micro,
         |  margin_ppm, margin_ppm > 1150000 AS accepted
         |FROM best WHERE rn = 1 ORDER BY q_id"""
    }) { (s, dir) =>
      import s.implicits._
      // Margin-based pair mining (the xsim / CCMatrix criterion that
      // mines parallel text and hard contrastive pairs): a candidate y is
      // a real match for probe x only if cos(x,y) stands OUT against
      // both sides' similarity neighborhoods — score = cos relative to
      // the mean of each side's top-4 cosines, which kills hub vectors
      // that are "close to everything" (a plain top-1-by-cosine keeps
      // them). Integer-safe form: cosines are micro-rounded THEN shifted
      // +1e6 (selection order is unchanged; all sums/divisions operate
      // on non-negative BIGINTs, so Spark's truncating div and DuckDB's
      // floor // agree). margin_ppm = 8e6*s/(kx4+ky4) is s over the mean
      // of the 8 neighborhood scores. The probe side is FIXED and
      // broadcast (at 100 TB the eval/mining probe set does not grow
      // with the corpus — q380's model); the corpus-side top-4 table and
      // the margin join are keyed on c_id; windows are keyed per probe /
      // per candidate. No global sort, no all-pairs among the corpus.
      val emb = T(s, dir, "embeddings")
      val qs = emb.filter($"vec_id" % 25 === 7)
        .select($"vec_id".as("q_id"), $"embedding".as("qe"))
      val cs = emb.filter($"vec_id" % 25 =!= 7)
        .select($"vec_id".as("c_id"), $"embedding".as("ce"))
      val p = cs.crossJoin(broadcast(qs))
        .select($"q_id", $"c_id",
          (expr(s"CAST(floor(1000000 * (${dotSql("qe", "ce")}) + 0.5) " +
            "AS BIGINT)") + 1000000L).as("s"))
        .transform(graft.CacheScope.cached)
      val r = p
        .withColumn("rq", row_number().over(
          Window.partitionBy($"q_id").orderBy($"s".desc, $"c_id")))
        .withColumn("rc", row_number().over(
          Window.partitionBy($"c_id").orderBy($"s".desc, $"q_id")))
        .transform(graft.CacheScope.cached)
      val kx = r.filter($"rq" <= 4).groupBy($"q_id")
        .agg(sum($"s").as("kx4"))
      val ky = r.filter($"rc" <= 4).groupBy($"c_id")
        .agg(sum($"s").as("ky4"))
      r.join(broadcast(kx), "q_id").join(ky, "c_id")
        .withColumn("margin_ppm",
          expr("CAST((8000000 * s) div (kx4 + ky4) AS BIGINT)"))
        .withColumn("rn", row_number().over(
          Window.partitionBy($"q_id").orderBy($"margin_ppm".desc, $"c_id")))
        .filter($"rn" === 1)
        .select($"q_id", $"c_id".as("best_c"),
          ($"s" - 1000000L).cast("long").as("cos_micro"),
          $"margin_ppm", ($"margin_ppm" > 1150000L).as("accepted"))
        .orderBy($"q_id")
    },

    q("q469_silhouette", {
      val d2 = "list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        "list_transform(list_zip(q.qv, c.ca), z -> " +
        "(z[1]*1000 - z[2]) * (z[1]*1000 - z[2]))), (acc, x) -> acc + x)"
      s"""WITH m AS (SELECT MAX(list_aggregate(list_transform(embedding,
         |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
         |qz AS (SELECT vec_id, label, list_transform(embedding,
         |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5)
         |        AS BIGINT)) AS qv
         |  FROM embeddings, m),
         |ex AS (SELECT label, unnest(range(len(qv))) AS pos, unnest(qv) AS x
         |  FROM qz),
         |bs AS (SELECT label, pos, CAST(SUM(x) AS BIGINT) AS sx
         |  FROM ex GROUP BY label, pos),
         |cnt AS (SELECT label, CAST(COUNT(*) AS BIGINT) AS n
         |  FROM qz GROUP BY label),
         |cent AS (SELECT bs.label, MIN(cnt.n) AS n,
         |    list(CASE WHEN sx >= 0 THEN (1000 * sx) // n
         |      ELSE -((-1000 * sx) // n) END ORDER BY pos) AS ca
         |  FROM bs JOIN cnt ON cnt.label = bs.label
         |  GROUP BY bs.label),
         |dd AS (SELECT q.vec_id, q.label AS plabel, c.label AS clabel,
         |    $d2 AS d2 FROM qz q, cent c),
         |ab AS (SELECT vec_id, plabel AS label,
         |    MIN(CASE WHEN plabel = clabel THEN d2 END) AS a,
         |    MIN(CASE WHEN plabel <> clabel THEN d2 END) AS b
         |  FROM dd GROUP BY vec_id, plabel),
         |sil AS (SELECT label,
         |    CASE WHEN b >= a THEN ((b - a) * 1000000)
         |        // GREATEST(GREATEST(a, b), 1)
         |      ELSE -(((a - b) * 1000000) // GREATEST(GREATEST(a, b), 1))
         |      END AS sp
         |  FROM ab)
         |SELECT CAST(label AS BIGINT) AS label,
         |  CAST(COUNT(*) AS BIGINT) AS n,
         |  CAST(CASE WHEN SUM(sp) >= 0 THEN SUM(sp) // COUNT(*)
         |    ELSE -((-SUM(sp)) // COUNT(*)) END AS BIGINT) AS mean_sil_ppm,
         |  CAST(SUM(CASE WHEN sp < 0 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_negative
         |FROM sil GROUP BY label ORDER BY label"""
    }) { (s, dir) =>
      import s.implicits._
      // Simplified silhouette over the label partition of the embedding
      // space — the clustering-quality readout (is this labeling
      // geometrically real?) every embedding-space curation step should
      // run before trusting cluster-level decisions: per point,
      // a = d^2 to own centroid, b = min d^2 to any other centroid,
      // sil = (b - a) / max(a, b). All integer: global-maxabs int8
      // quantization (q141's scheme) makes per-dim centroid SUMS exact
      // BIGINTs; centroids land on a milli grid by sign-safe truncating
      // division (floor vs truncate never disagree because the negative
      // branch is made explicit — the standing negative-div rule); every
      // d^2 is an exact fold. The centroid table is bounded (labels x
      // 64 dims), BROADCAST back over the points; per-point work is one
      // zip-fold per label — linear in corpus x labels, no pairwise
      // joins anywhere (full silhouette's all-pairs a/b is exactly what
      // does NOT survive 100 TB; the simplified form is the scale-safe
      // standard). The fixture's labels are random, so the readout
      // certifies ~zero structure — SimilarityShapeSpec's law.
      val emb = T(s, dir, "embeddings")
      val m = emb.agg(max(expr(
        "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
        .as("gm"))
      val qz = emb.crossJoin(broadcast(m))
        .select($"vec_id", $"label",
          expr("transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) " +
            "* 127.0 / gm + 0.5) AS BIGINT))").as("qv"))
        .transform(graft.CacheScope.cached)
      val ex = qz.select($"label", posexplode($"qv").as(Seq("pos", "x")))
      val cnt = qz.groupBy($"label").agg(count(lit(1)).as("n"))
      val cent = ex.groupBy($"label", $"pos")
        .agg(sum($"x").as("sx"))
        .join(broadcast(cnt), Seq("label"))
        .withColumn("cd", expr("CASE WHEN sx >= 0 THEN (1000 * sx) div n " +
          "ELSE -((-1000 * sx) div n) END"))
        .groupBy($"label")
        .agg(min($"n").as("n"),
          expr("transform(array_sort(collect_list(struct(pos, cd))), " +
            "s -> s.cd)").as("ca"))
      val dd = qz.crossJoin(broadcast(
          cent.select($"label".as("clabel"), $"ca")))
        .withColumn("d2", expr("aggregate(zip_with(qv, ca, (x, c) -> " +
          "(x*1000 - c) * (x*1000 - c)), CAST(0 AS BIGINT), " +
          "(acc, v) -> acc + v)"))
      val ab = dd.groupBy($"vec_id", $"label")
        .agg(min(when($"label" === $"clabel", $"d2")).as("a"),
          min(when($"label" =!= $"clabel", $"d2")).as("b"))
      ab.withColumn("sp", expr(
          "CASE WHEN b >= a THEN ((b - a) * 1000000) " +
            "div GREATEST(GREATEST(a, b), 1) " +
            "ELSE -(((a - b) * 1000000) div GREATEST(GREATEST(a, b), 1)) " +
            "END"))
        .groupBy($"label")
        .agg(count(lit(1)).as("n"),
          expr("CAST(CASE WHEN SUM(sp) >= 0 THEN SUM(sp) div COUNT(*) " +
            "ELSE -((-SUM(sp)) div COUNT(*)) END AS BIGINT)")
            .as("mean_sil_ppm"),
          sum(when($"sp" < 0, 1L).otherwise(0L)).as("n_negative"))
        .select($"label".cast("long").as("label"), $"n", $"mean_sil_ppm",
          $"n_negative")
        .orderBy($"label")
    },
  )

  // ---- q463: the deterministic sign matrix and the shared fold shapes.
  // sign(j, d) = +1 iff ((2j+1)*(d+13)*1000003 + 12345*j) mod P is even —
  // the same affine family as the minhash permutations, so no stored
  // projection matrix exists anywhere (re-derived inside the fold).

  private def jlSign(j: String, d: String): String =
    s"((2*CAST($j AS BIGINT) + 1) * (CAST($d AS BIGINT) + 13) * 1000003 " +
      s"+ 12345 * CAST($j AS BIGINT)) % ${graft.functions.TextHash.P} % 2 = 0"

  /** Spark: ARRAY<DOUBLE> of the 16 signed sums over a 64-d float array. */
  private[graft] def jlProjectSpark(v: String): String =
    s"transform(sequence(0, 15), j -> aggregate(sequence(0, 63), " +
      s"CAST(0 AS DOUBLE), (acc, d) -> acc + CASE WHEN ${jlSign("j", "d")} " +
      s"THEN CAST(element_at($v, CAST(d + 1 AS INT)) AS DOUBLE) " +
      s"ELSE -CAST(element_at($v, CAST(d + 1 AS INT)) AS DOUBLE) END))"

  private def jlProjectDuck(v: String): String =
    s"list_transform(range(16), j -> list_reduce(" +
      s"list_prepend(CAST(0 AS DOUBLE), list_transform(range(64), d -> " +
      s"CASE WHEN ${jlSign("j", "d")} " +
      s"THEN CAST($v[CAST(d + 1 AS INT)] AS DOUBLE) " +
      s"ELSE -CAST($v[CAST(d + 1 AS INT)] AS DOUBLE) END)), " +
      s"(acc, x) -> acc + x))"

  /** Squared L2 distance as the identical left-to-right fold. */
  private[graft] def jlSqDistSpark(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> " +
      s"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE)) * " +
      s"(CAST(x AS DOUBLE) - CAST(y AS DOUBLE))), " +
      s"CAST(0 AS DOUBLE), (acc, v2) -> acc + v2)"

  private def jlSqDistDuck(a: String, b: String): String =
    s"list_reduce(list_prepend(CAST(0 AS DOUBLE), " +
      s"list_transform(list_zip($a, $b), z -> " +
      s"(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)) * " +
      s"(CAST(z[1] AS DOUBLE) - CAST(z[2] AS DOUBLE)))), " +
      s"(acc, x) -> acc + x)"

  // ---- shared integer-PCA machinery (q421/q422) ----
  // Both engines execute the IDENTICAL integer program — quantize, Gram,
  // power-iterate, rescale — so convergence state can never split the
  // oracle hash. The corpus-sized work is one pass; everything after runs
  // on the bounded d x d matrix (4096 cells at d=64).

  /** Shared oracle prelude: int8 quantization on the global max-abs scale,
    * exploded (vec, dim, x) view, and the centered second-moment matrix
    * C = n*Gram - s*s^T as the MATERIALIZED `gram` CTE (HUGEINT cells). */
  private def pcaGramTailSql: String =
    """e AS MATERIALIZED (SELECT vec_id, unnest(range(len(qv))) AS i,
      |    unnest(qv) AS x
      |  FROM qz),
      |nn AS (SELECT CAST(COUNT(*) AS HUGEINT) AS n FROM qz),
      |sm AS (SELECT i, CAST(SUM(x) AS HUGEINT) AS s FROM e GROUP BY i),
      |gr AS (SELECT a.i AS i, b.i AS j, CAST(SUM(a.x * b.x) AS HUGEINT) AS g
      |  FROM e a JOIN e b ON a.vec_id = b.vec_id GROUP BY a.i, b.i),
      |gram AS MATERIALIZED (SELECT gr.i, gr.j, nn.n * gr.g - sa.s * sb.s AS c
      |  FROM gr JOIN sm sa ON sa.i = gr.i JOIN sm sb ON sb.i = gr.j, nn)"""
      .stripMargin

  private def pcaGramSql: String =
    """mx AS (SELECT MAX(list_aggregate(list_transform(embedding,
      |      x -> abs(CAST(x AS DOUBLE))), 'max')) AS gm FROM embeddings),
      |qz AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5)
      |        AS BIGINT)) AS qv
      |  FROM embeddings, mx),
      |""".stripMargin + pcaGramTailSql

  /** Fixed-point prelude (q424): the vectors are unit-normalized, so a
    * STATIC 32767 scale needs no global max — the property that makes the
    * Gram statistics incrementally maintainable by a stream. */
  private def pcaGramFixedSql: String =
    """qz AS MATERIALIZED (SELECT vec_id, list_transform(embedding,
      |      x -> CAST(floor(CAST(x AS DOUBLE) * 32767.0 + 0.5)
      |        AS BIGINT)) AS qv
      |  FROM embeddings),
      |""".stripMargin + pcaGramTailSql

  /** 8 power-iteration steps over `gramTbl`, tables `${p}1`..`${p}8`; every
    * CTE MATERIALIZED (each v_t is referenced twice via its max-abs
    * rescale — plain inlining doubles the gram-scan expansion per step). */
  private def powerChainSql(gramTbl: String, p: String): String = {
    val init =
      s"""${p}0 AS (SELECT DISTINCT i, CAST(1000000 AS HUGEINT) AS val
         |  FROM $gramTbl)""".stripMargin
    val iters = (1 to 8).map { t =>
      s"""${p}w$t AS MATERIALIZED (SELECT g.i, SUM(g.c * v.val) AS w
         |  FROM $gramTbl g JOIN $p${t - 1} v ON g.j = v.i GROUP BY g.i),
         |${p}m$t AS MATERIALIZED (SELECT GREATEST(MAX(ABS(w)), 1) AS m
         |  FROM ${p}w$t),
         |$p$t AS MATERIALIZED (SELECT i, CASE WHEN w < 0
         |      THEN -(((-w) * 1000000) // m) ELSE (w * 1000000) // m END
         |    AS val FROM ${p}w$t, ${p}m$t)""".stripMargin
    }.mkString(",\n")
    init + ",\n" + iters
  }

  /** ppm loadings of `vecTbl`: exact-isqrt L2 normalization + sign fix so
    * the first nonzero component is positive. Emits `${pfx}n2`, `${pfx}ld`. */
  private def loadingsSql(vecTbl: String, pfx: String): String =
    s"""${pfx}n2 AS MATERIALIZED (SELECT SUM(val * val) AS ${pfx}norm2
       |  FROM $vecTbl),
       |${pfx}isq AS (SELECT CASE
       |    WHEN s0 * s0 > ${pfx}norm2 THEN s0 - 1
       |    WHEN (s0 + 1) * (s0 + 1) <= ${pfx}norm2 THEN s0 + 1
       |    ELSE s0 END AS isr
       |  FROM (SELECT CAST(FLOOR(SQRT(CAST(${pfx}norm2 AS DOUBLE)))
       |      AS HUGEINT) AS s0, ${pfx}norm2 FROM ${pfx}n2)),
       |${pfx}sg AS (SELECT CASE WHEN (SELECT val FROM $vecTbl WHERE val != 0
       |      ORDER BY i LIMIT 1) < 0 THEN -1 ELSE 1 END AS s),
       |${pfx}ld AS (SELECT $vecTbl.i AS dim, ${pfx}sg.s * (CASE WHEN val < 0
       |      THEN -(((-val) * 1000000) // isr)
       |      ELSE (val * 1000000) // isr END) AS loading_ppm
       |  FROM $vecTbl, ${pfx}isq, ${pfx}sg)""".stripMargin

  /** One corpus pass: global max-abs int8 quantization, d x d Gram via
    * double posexplode (map-side expansion, partial aggregation into d^2
    * cells, no self-join shuffle), per-dim sums, n. Returns the exact
    * centered second-moment matrix C = n*Gram - s*s^T (bounded: d x d). */
  private def centeredMoment(s: SparkSession, dir: String): Array[Array[BigInt]] = {
    import s.implicits._
    val base = T(s, dir, "embeddings")
    val gmDf = base.agg(max(expr(
      "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"))
      .as("gm"))
    val qz = base.crossJoin(broadcast(gmDf))
      .withColumn("qv", expr(
        "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 127.0 / gm + 0.5) AS BIGINT))"))
      .select($"vec_id", $"qv")
    val e1 = qz.select($"qv", posexplode($"qv").as(Seq("i", "xi")))
    val gram = e1.select($"i", $"xi", posexplode($"qv").as(Seq("j", "xj")))
      .groupBy($"i", $"j").agg(sum($"xi" * $"xj").as("g"))
      .collect().map(r => ((r.getInt(0), r.getInt(1)), BigInt(r.getLong(2))))
      .toMap
    val sums = e1.groupBy($"i").agg(sum($"xi").as("s"))
      .collect().map(r => r.getInt(0) -> BigInt(r.getLong(1))).toMap
    val n = BigInt(qz.count())
    val dims = sums.keys.toArray.sorted
    dims.map(i => dims.map(j => n * gram((i, j)) - sums(i) * sums(j)))
  }

  /** Truncated-toward-zero division with a 1e6 rescale: DuckDB's // floors,
    * BigInt / truncates — the explicit abs form makes both truncate. */
  private def truncScale(a: BigInt, b: BigInt): BigInt =
    if (a < 0) -((-a * 1000000) / b) else (a * 1000000) / b

  /** Plain sign-explicit truncated division (mirror of the oracle's
    * CASE WHEN x < 0 THEN -((-x) // m) ELSE x // m END). */
  private def signedDiv(a: BigInt, b: BigInt): BigInt =
    if (a < 0) -((-a) / b) else a / b

  /** Exact integer sqrt: floor(sqrt(double)) corrected by +/-1 — exact for
    * operands < 2^53 (norm2 <= 64e12 here). */
  private def isqrt(n: BigInt): BigInt = {
    val s0 = BigInt(math.sqrt(n.toDouble).toLong)
    if (s0 * s0 > n) s0 - 1
    else if ((s0 + 1) * (s0 + 1) <= n) s0 + 1 else s0
  }

  private def powerIterate(c: Array[Array[BigInt]], iters: Int): Array[BigInt] = {
    var v: Array[BigInt] = Array.fill(c.length)(BigInt(1000000))
    (1 to iters).foreach { _ =>
      val w = c.indices.map(i =>
        c.indices.map(j => c(i)(j) * v(j)).sum).toArray
      val m = w.map(_.abs).max.max(BigInt(1))
      v = w.map(truncScale(_, m))
    }
    v
  }

  private def rayleigh(c: Array[Array[BigInt]], v: Array[BigInt]): BigInt =
    c.indices.flatMap(i => c.indices.map(j => c(i)(j) * v(i) * v(j))).sum

  private def loadingsPpm(v: Array[BigInt], norm2: BigInt): Array[Long] = {
    val isr = isqrt(norm2)
    val sgn = v.find(_ != 0).map(x => if (x < 0) BigInt(-1) else BigInt(1))
      .getOrElse(BigInt(1))
    v.map(x => (sgn * truncScale(x, isr)).toLong)
  }
}
