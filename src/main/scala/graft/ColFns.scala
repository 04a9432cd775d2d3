package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DecimalType, DoubleType}

/** Cross-engine-deterministic numeric helpers.
  *
  * Summing doubles is order-dependent, and Spark's parallel partial aggregation
  * uses a different addition order than DuckDB (and than itself, run to run).
  * To make aggregate results bit-stable AND identical across engines, every
  * floating sum in an oracle-checked query is computed by casting each term to
  * DECIMAL(28,6) (exact, order-independent addition) and casting the exact
  * total back to DOUBLE. The matching SQL fragments are provided so the DuckDB
  * oracle performs the same exact arithmetic.
  */
object ColFns {
  val Dec: DecimalType = DecimalType(28, 6)

  /** Order-independent exact sum of a floating column, returned as DOUBLE. */
  def dsum(c: Column): Column = sum(c.cast(Dec)).cast(DoubleType)

  /** Exact-sum-based average (deterministic sum, then one IEEE division). */
  def davg(c: Column): Column = dsum(c) / count(c)

  /** SQL mirror of [[dsum]] for the DuckDB oracle. */
  def dsumSql(expr: String): String =
    s"CAST(SUM(CAST(($expr) AS DECIMAL(28,6))) AS DOUBLE)"

  /** SQL mirror of [[davg]]. */
  def davgSql(expr: String): String =
    s"(${dsumSql(expr)} / COUNT($expr))"

  /** Round-half-up to `scale` decimals via floor(x*s + 0.5)/s — unlike
    * round(), identical across engines at halfway points (both engines run
    * the same three IEEE ops).
    */
  def r6(c: Column): Column = floor(c * 1000000d + 0.5d) / 1000000d

  /** SQL mirror of [[r6]]. */
  def r6Sql(expr: String): String =
    s"FLOOR(($expr) * 1000000 + 0.5) / 1000000"

  /** Coarser round-half-up (4 decimals) for columns derived from a libm call
    * (exp/ln) where the two engines may differ by 1 ulp: at 1e-4 granularity a
    * 1-ulp input divergence cannot flip the floor except on an exact halfway
    * boundary ~1e-12 wide.
    */
  def r4(c: Column): Column = floor(c * 10000d + 0.5d) / 10000d

  /** SQL mirror of [[r4]]. */
  def r4Sql(expr: String): String =
    s"FLOOR(($expr) * 10000 + 0.5) / 10000"

  // ---------------------------------------------------------------------
  // Deterministic software transcendentals.
  //
  // floor(ln(x)*1e6 + 0.5) built on libm's ln carries a repo-wide accepted
  // hazard: the JVM's Math.log and DuckDB's std::log may differ by 1 ulp,
  // and an input landing exactly on a x.5 micro boundary then flips the
  // integer between engines (q239 flipped on fresh driver runs twice, in
  // rounds 7 and 8, despite the single-rational-ln mitigation). The fix is
  // to stop approximating a REAL number with two different libms and
  // instead have both engines evaluate the SAME finite IEEE-754 double
  // program: +,-,*,/ on doubles are correctly rounded per IEEE 754 in both
  // engines, so a fixed op sequence with identical constants is
  // bit-identical by construction — there is no boundary to disagree on.
  //
  // detMln(p, q) = the micro-log floor((ln(p/q))*1e6 + 0.5) for any
  // BIGINT p, q >= 1 (detMln(n, 1) is ln of an integer), computed as:
  //   1. range-reduce on INTEGERS: e = bitlen(q) - bitlen(p) (via
  //      length(bin(x)) — unpadded in both engines); left-shift the
  //      SHORTER side, sp = max(e,0) on p / sq = max(-e,0) on q, so
  //      P1/Q1 ∈ (1/2, 2), then one extra halving step so P1/Q2 ∈
  //      [1/2, 1): adj = [P1 >= Q1], Q2 = Q1 << adj, k = adj + sq - sp
  //      (so p/q = (P1/Q2)·2^k exactly);
  //   2. atanh series: z = (M-Q2)/(M+Q2) ∈ [-1/3, 0], w = z²,
  //      ln(M/Q2) = 2z·(1 + w/3 + w²/5 + … + w⁸/17) — |z| ≤ 1/3 makes the
  //      truncation error < 1e-9, i.e. < 1e-3 micro-units;
  //   3. ln(p/q) = ln(M/Q2) + k·ln2 with ln2 the double literal
  //      0.6931471805599453 in both programs.
  // All integer intermediates stay exact in doubles (|M±Q2| < 2^53 for any
  // q < 2^51 — document DECIMAL widening beyond that).
  //
  // detExpMicro(m) = exp(m/1e6) for BIGINT m by the mirror program:
  // x = m/1e6, n = floor(x/ln2 + 0.5), r = x - n·ln2 (|r| ≤ 0.347),
  // exp(r) by the 13-term Taylor Horner (truncation < 1e-16), result
  // exp(r)·2^n — an exact power-of-two scaling (multiply for n >= 0,
  // divide by 1<<(-n) for n < 0). Inputs below -40e6 clamp to 0.0
  // (exp < 1e-17, below any rounded readout) and above +40e6 saturate at
  // +40e6 (exp(40) ≈ 2.4e17 — any real perplexity/odds readout is far
  // below); both clamps bound the shift at 58 bits.
  // ---------------------------------------------------------------------

  /** ln2 as the exact double both programs share. */
  private val Ln2 = 0.6931471805599453d
  private val Ln2Sql = "CAST(0.6931471805599453 AS DOUBLE)"

  /** Odd reciprocals 1/3 … 1/17 for the atanh Horner (emitted as 1/d
    * divisions so both engines constant-fold the identical IEEE op). */
  private val AtanhDenoms = Seq(15, 13, 11, 9, 7, 5, 3)

  /** Factorials 1! … 13! for the exp Horner. */
  private val ExpFacts: Seq[Long] =
    (1 to 13).scanLeft(1L)((a, k) => a * k).tail // 1, 2, 6, …, 13!

  /** Deterministic micro-log of the rational p/q (BIGINT, p >= 1, q >= 1):
    * floor(ln(p/q)*1e6 + 0.5) with ln evaluated by the fixed IEEE program
    * documented above — bit-identical to [[detMlnSql]] in DuckDB.
    */
  /** The raw deterministic ln(p/q) double (the fixed IEEE program, no
    * micro rounding) — for call sites that scale or combine before their
    * own single rounding. Bit-identical to [[detLnSql]]. A single native
    * codegen'd plan node (functions.DetLnRat — the Column-composed form of
    * the same program built ~1.5k-node trees whose duplication through
    * downstream operators cost whole seconds of analysis/codegen);
    * the function resolves on sessions built through GraftSession and in
    * every QueryDef run.
    */
  def detLn(p0: Column, q0: Column): Column =
    call_function("graft_detln", p0.cast("long"), q0.cast("long"))

  def detMln(p0: Column, q0: Column): Column =
    floor(detLn(p0, q0) * lit(1000000.0d) + lit(0.5d)).cast("long")

  /** Micro-log of a positive BIGINT: floor(ln(n)*1e6 + 0.5), deterministic. */
  def detMlnInt(n: Column): Column = detMln(n, lit(1L))

  /** SQL mirror of [[detMln]] — the same op sequence, operand for
    * operand, so DuckDB produces the identical double at every step.
    */
  /** SQL mirror of [[detLn]]. */
  def detLnSql(p0: String, q0: String): String = {
    val p = s"CAST(($p0) AS BIGINT)"
    val q = s"CAST(($q0) AS BIGINT)"
    val e = s"(length(bin($q)) - length(bin($p)))"
    val sp = s"greatest($e, 0)"
    val sq = s"greatest(-$e, 0)"
    val p1 = s"($p << $sp)"
    val q1 = s"($q << $sq)"
    val adj = s"(CASE WHEN $p1 >= $q1 THEN 1 ELSE 0 END)"
    val q2 = s"($q1 << $adj)"
    val k = s"CAST($adj + $sq - $sp AS DOUBLE)"
    val z = s"(CAST($p1 - $q2 AS DOUBLE) / CAST($p1 + $q2 AS DOUBLE))"
    val w = s"($z * $z)"
    val horner = AtanhDenoms.foldLeft(
      "(CAST(1 AS DOUBLE) / CAST(17 AS DOUBLE))") { (acc, d) =>
      s"(CAST(1 AS DOUBLE) / CAST($d AS DOUBLE) + $w * $acc)"
    }
    val sS = s"(CAST(1 AS DOUBLE) + $w * $horner)"
    val lnm = s"(CAST(2 AS DOUBLE) * $z * $sS)"
    s"($lnm + $k * $Ln2Sql)"
  }

  def detMlnSql(p0: String, q0: String): String =
    s"CAST(FLOOR(${detLnSql(p0, q0)} * CAST(1000000 AS DOUBLE) " +
      "+ CAST(0.5 AS DOUBLE)) AS BIGINT)"

  /** SQL mirror of [[detMlnInt]]. */
  def detMlnIntSql(n: String): String = detMlnSql(n, "1")

  /** Deterministic exp(micro/1e6) for BIGINT micro — the survival /
    * probability / perplexity readout of an exact micro-log value,
    * computed by the fixed IEEE program documented above (clamps to 0.0
    * below -40e6, saturates at +40e6). Bit-identical to
    * [[detExpMicroSql]].
    */
  def detExpMicro(m0: Column): Column =
    call_function("graft_detexp", m0.cast("long"))

  /** SQL mirror of [[detExpMicro]]. */
  def detExpMicroSql(m0: String): String = {
    val m = s"least(CAST(($m0) AS BIGINT), 40000000)"
    val x = s"(CAST($m AS DOUBLE) / CAST(1000000 AS DOUBLE))"
    val n = s"CAST(FLOOR($x / $Ln2Sql + CAST(0.5 AS DOUBLE)) AS BIGINT)"
    val r = s"($x - CAST($n AS DOUBLE) * $Ln2Sql)"
    val horner = ExpFacts.reverse.tail.foldLeft(
      s"(CAST(1 AS DOUBLE) / CAST(${ExpFacts.last} AS DOUBLE))") { (acc, f) =>
      s"(CAST(1 AS DOUBLE) / CAST($f AS DOUBLE) + $r * $acc)"
    }
    val sS = s"(CAST(1 AS DOUBLE) + $r * $horner)"
    val pwUp = s"CAST((CAST(1 AS BIGINT) << CAST($n AS INTEGER)) AS DOUBLE)"
    val pwDn = s"CAST((CAST(1 AS BIGINT) << CAST(-$n AS INTEGER)) AS DOUBLE)"
    s"(CASE WHEN $m < -40000000 THEN CAST(0 AS DOUBLE) " +
      s"WHEN $n >= 0 THEN $sS * $pwUp ELSE $sS / $pwDn END)"
  }
}
