package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

import scala.util.Random

/** ColFns.detMln / detExpMicro are fixed IEEE-double programs (no libm in
  * the hashed path), so their value is pinned exactly: on a seeded sweep of
  * rationals up to 2^40 the micro-log must equal the libm-rounded ideal
  * floor(ln(p/q)*1e6+0.5) on EVERY point (the series' truncation error,
  * <1e-3 micro-units, cannot cross an integer boundary unless the ideal
  * itself sits within 1e-9 of x.5 — none of the seeded points do, making
  * this deterministic), and the software exp must sit within 4 ulp of
  * libm's. Cross-engine bit-identity of the SQL mirrors is gated
  * end-to-end by q239's oracle; the round-9 offline sweep (NOTES.md)
  * checked 40,100 mln points and 3,000 exp points in DuckDB: 0 bit
  * mismatches.
  */
class DetMathSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark

  test("detMln equals the libm-rounded micro-log across the (p,q) domain") {
    import spark.implicits._
    val small = for { q <- 1L to 150L; p <- 1L to 150L } yield (p, q)
    val rnd = new Random(42)
    val big = (1 to 5000).flatMap { _ =>
      val q = 1L + (rnd.nextLong().abs % (1L << 40))
      val p = 1L + (rnd.nextLong().abs % q)
      Seq((p, q), (q, p), (q, 1L)) // below 1, above 1, integer ln
    }
    val rows = (small ++ big).toDF("p", "q")
      .select($"p", $"q", ColFns.detMln($"p", $"q").as("mln"))
      .collect()
    rows.foreach { r =>
      val (p, q, mln) = (r.getLong(0), r.getLong(1), r.getLong(2))
      val ideal = math.floor(math.log(p.toDouble / q) * 1e6 + 0.5).toLong
      assert(mln == ideal, s"p=$p q=$q mln=$mln ideal=$ideal")
    }
  }

  test("detMln laws: zero at p=q, non-positive below, -ln2 at p=q/2") {
    import spark.implicits._
    val qs = Seq(2L, 8L, 360L, 999984L, 1L << 35)
    val df = qs.toDF("q").select($"q",
      ColFns.detMln($"q", $"q").as("self"),
      ColFns.detMln($"q" - 1, $"q").as("below"),
      ColFns.detMln($"q" / 2, $"q").as("half"))
    df.collect().foreach { r =>
      assert(r.getLong(1) == 0L)
      assert(r.getLong(2) <= 0L) // rounds to 0 once ln(1-1/q) > -0.5e-6
      assert(r.getLong(3) == -693147L) // round(1e6*ln(1/2)) exactly
    }
  }

  test("lnRat rejects out-of-domain operands instead of wrapping") {
    import functions.DetMath
    // ln(1) at the top of the legal domain: the p=q path runs the series
    // at its |z|=1/3 extreme, so ~1e-10 truncation (sub-micro) remains
    assert(math.abs(
      DetMath.lnRat(DetMath.LnRatMax - 1, DetMath.LnRatMax - 1)) < 1e-9)
    // the 63-bit case that used to wrap q1 << adj negative (p = q = 2^62
    // returned garbage instead of ln(1) = 0) now fails loudly, as do
    // zero/negative operands and anything >= 2^51 (doubles-exactness bound)
    for ((p, q) <- Seq((1L << 62, 1L << 62), (DetMath.LnRatMax, 3L),
        (3L, DetMath.LnRatMax), (0L, 5L), (5L, 0L), (-2L, 7L)))
      assertThrows[IllegalArgumentException](DetMath.lnRat(p, q))
  }

  test("detExpMicro tracks libm exp within 40 ulp and clamps the tail") {
    import spark.implicits._
    val ms = (-40000000L to 40000000L by 997003L) ++
      Seq(0L, -1L, 1L, -40000001L, -999999999L, 40000000L)
    val rows = ms.toDF("m")
      .select($"m", ColFns.detExpMicro($"m").as("e")).collect()
    rows.foreach { r =>
      val (m, e) = (r.getLong(0), r.getDouble(1))
      if (m < -40000000L) assert(e == 0.0d, s"m=$m not clamped")
      else {
        val ideal = math.exp(m.toDouble / 1e6)
        // the n*ln2 range reduction amplifies ln2's half-ulp representation
        // error by |n| <= 58, so up to ~30 ulp of drift vs libm is expected; what
        // matters is that the drift is IDENTICAL in both engines
        val ulp = math.ulp(ideal)
        assert(math.abs(e - ideal) <= 40 * ulp, s"m=$m e=$e ideal=$ideal")
      }
    }
  }
}
