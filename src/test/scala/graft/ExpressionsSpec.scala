package graft

import graft.functions.TextHash
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** The native kernels must agree exactly with the SQL higher-order-function
  * formulations (which the DuckDB oracle mirrors) — checked over seeded
  * random ASCII inputs.
  */
class ExpressionsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  private val rnd = new Random(42)

  private def word(): String =
    (1 to (1 + rnd.nextInt(12))).map(_ => ('a' + rnd.nextInt(26)).toChar).mkString

  test("native graft_polyhash equals the HOF formulation on ASCII strings") {
    import spark.implicits._
    val words = Seq.fill(200)(word())
    val df = words.toDF("s")
      .selectExpr("graft_polyhash(s) AS native", s"${TextHash.polyHashSql("s")} AS hof")
    assert(df.filter("native <> hof").count() == 0)
  }

  test("native minhash/simhash equal the HOF formulations") {
    import spark.implicits._
    val texts = Seq.fill(20)(Seq.fill(30)(word()).mkString(" "))
    val df = texts.toDF("text")
      .selectExpr("array_distinct(transform(split(text, ' '), s -> graft_polyhash(s))) AS hh")
    val cmp = df.selectExpr(
      "graft_minhash(hh) AS mh_native",
      s"${TextHash.minhashSql("hh")} AS mh_hof",
      "graft_simhash32(hh) AS sh_native",
      s"${TextHash.simhashSql("hh")} AS sh_hof").collect()
    cmp.foreach { r =>
      assert(r.getSeq[Long](0) == r.getSeq[Long](1))
      assert(r.getLong(2) == r.getLong(3))
    }
  }

  test("minhash/simhash codegen compiles and agrees (CODEGEN_ONLY, no fallback)") {
    // force the generated-code path: with factoryMode=CODEGEN_ONLY a
    // broken doGenCode fails loudly instead of silently interpreting
    import spark.implicits._
    val prev = spark.conf.getOption("spark.sql.codegen.factoryMode")
    spark.conf.set("spark.sql.codegen.factoryMode", "CODEGEN_ONLY")
    try {
      val texts = Seq.fill(10)(Seq.fill(20)(word()).mkString(" "))
      val rows = texts.toDF("text")
        .selectExpr(
          "array_distinct(transform(split(text, ' '), s -> graft_polyhash(s))) AS hh")
        .selectExpr("graft_minhash(hh) AS mh", "graft_simhash32(hh) AS sh",
          s"${TextHash.minhashSql("hh")} AS mh_hof",
          s"${TextHash.simhashSql("hh")} AS sh_hof")
        .collect()
      rows.foreach { r =>
        assert(r.getSeq[Long](0) == r.getSeq[Long](2))
        assert(r.getLong(1) == r.getLong(3))
      }
    } finally prev match {
      case Some(v) => spark.conf.set("spark.sql.codegen.factoryMode", v)
      case None => spark.conf.unset("spark.sql.codegen.factoryMode")
    }
  }

  test("native graft_dot equals the zip_with/aggregate fold bit-for-bit") {
    import spark.implicits._
    val vecs = Seq.fill(50)((
      List.fill(64)(rnd.nextFloat() * 2 - 1),
      List.fill(64)(rnd.nextFloat() * 2 - 1)))
    val rows = vecs.toDF("a", "b")
      .selectExpr("graft_dot(a, b) AS native",
        s"${graft.functions.VectorFns.dotSql("a", "b")} AS hof")
      .collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)))
    }
  }

  test("native graft_doti / graft_sqdisti equal the integer HOF folds") {
    import spark.implicits._
    // int8-quantized range, the retrieval kernels' domain; exact equality is
    // required (integer arithmetic, no rounding anywhere)
    val vecs = Seq.fill(50)((
      List.fill(64)((rnd.nextInt(255) - 127).toLong),
      List.fill(64)((rnd.nextInt(255) - 127).toLong)))
    val rows = vecs.toDF("a", "b")
      .selectExpr(
        "graft_doti(a, b) AS ndot",
        "aggregate(zip_with(a, b, (x, y) -> x * y), CAST(0 AS BIGINT), (acc, v) -> acc + v) AS hdot",
        "graft_sqdisti(a, b) AS nsq",
        "aggregate(zip_with(a, b, (x, y) -> (x-y)*(x-y)), CAST(0 AS BIGINT), (acc, v) -> acc + v) AS hsq")
      .collect()
    rows.foreach { r =>
      assert(r.getLong(0) == r.getLong(1), "doti must equal the HOF fold")
      assert(r.getLong(2) == r.getLong(3), "sqdisti must equal the HOF fold")
    }
  }
}
