package graft.functions

/** JVM twin of the engine-shared IEEE-only transcendental series.
  *
  * [[graft.contract.ExactExp]] and [[graft.contract.ExactLn]] emit the
  * same operation tree as Spark SQL text and DuckDB SQL text so the two
  * engines agree bit-for-bit by construction (only `+ - * /`, `sqrt`,
  * `floor` and comparisons — all correctly rounded / exactly defined on
  * every IEEE 754 implementation). This object is the THIRD emission of
  * the identical trees, as plain JVM doubles, for
  *   (a) the codegen'd [[ExactExpExpr]]/[[ExactLnExpr]] hot path (the
  *       HOF text runs interpreted lambdas per row; a static call stays
  *       inside whole-stage codegen), and
  *   (b) JVM-side twins that must stay bit-identical to the SQL
  *       pipelines ([[graft.ccm.FusedKnn]], [[graft.ccm.CcmLocal]]).
  *
  * Every emission computes the same VALUE by the same tree: the range
  * reduction and the Taylor fold below mirror the SQL texts' operations
  * in order, and [[exp]] builds the 2^k scale from its bits, equal to
  * what the texts' square-and-multiply ladder yields for every k it can
  * reach (see [[exp]]). `ExactSeriesSpec` enforces bit-equality of all
  * three emissions on a dense grid and at the subnormal edge of 2^k.
  * Change one emission and you must change all three.
  */
object ExactMath {

  /** Shortest-decimal round-trip literal of Math.log(2) — parses to the
    * same bits everywhere (strtod is correctly rounded).
    */
  val Ln2 = 0.6931471805599453

  /** 1/j, j = 1..13 (index 0 unused) — same shortest-decimal literals
    * as `ExactExp.InvJ`; the Taylor fold MULTIPLIES by these instead of
    * dividing by j (divide latency sits on the fold's serial p-chain).
    */
  private val ExpInvJ: Array[Double] = Array(
    0.0, 1.0, 0.5, 0.3333333333333333, 0.25, 0.2,
    0.16666666666666666, 0.14285714285714285, 0.125,
    0.1111111111111111, 0.1, 0.09090909090909091,
    0.08333333333333333, 0.07692307692307693
  )

  /** 1/(2k+1), k = 0..13 — same literals as `ExactLn.InvOdd`. */
  private val LnInvOdd: Array[Double] = Array(
    1.0, 0.3333333333333333, 0.2, 0.14285714285714285,
    0.1111111111111111, 0.09090909090909091, 0.07692307692307693,
    0.06666666666666667, 0.058823529411764705, 0.05263157894736842,
    0.047619047619047616, 0.043478260869565216, 0.04,
    0.037037037037037035
  )

  /** exp(x) for x in [-745, 709]; below -745 returns 0.0 (true exp is
    * denormal there), above 709 +Infinity. Same value as
    * `ExactExp.spark`/`ExactExp.duck`:
    *   1. k = floor(x/ln2 + 0.5) (floor is exactly defined, not libm);
    *      r = x - k*ln2, |r| <= ln2/2 + eps.
    *   2. exp(r) by 13-term Taylor (truncation < 5e-18 at |r|=0.347),
    *      the texts' fold in order.
    *   3. s * 2^k, with 2^k built from its bits. The clamps bound k to
    *      [-1075, 1023]; for every such k the texts' square-and-multiply
    *      ladder yields exactly 2^k (each partial product is a power of
    *      two between 1 and 2^k, and 2^k is a normal or subnormal double
    *      for k >= -1074), and for k = -1075 it yields 0 (2^-1075 rounds
    *      half-even to zero). The bits below give those same values, so
    *      the one multiply `s * 2^k` sees the texts' operands.
    */
  def exp(x: Double): Double = {
    if (x < -745.0) return 0.0
    if (x > 709.0) return Double.PositiveInfinity
    val kk = math.floor(x / Ln2 + 0.5)
    val r = x - kk * Ln2
    var p = 1.0
    var s = 1.0
    var j = 1
    while (j <= 13) {
      val pj = (p * r) * ExpInvJ(j)
      s = s + pj
      p = pj
      j += 1
    }
    if (kk < -1074.0) 0.0
    else s * java.lang.Double.longBitsToDouble(
      if (kk >= -1022.0) (kk.toLong + 1023L) << 52 else 1L << (kk.toLong + 1074L)
    )
  }

  /** ln(y) for y in (2^-40, 2^40), y > 0 — the JVM emission of
    * `ExactLn.spark`/`ExactLn.duck`: 40 exact halvings then 40 exact
    * doublings to f in [1,2), atanh series of 14 terms, e*ln2 + 2s.
    */
  def ln(y: Double): Double = {
    var f = y
    var e = 0.0
    var i = 1
    while (i <= 40) { if (f >= 2.0) { f = f * 0.5; e = e + 1.0 }; i += 1 }
    i = 1
    while (i <= 40) { if (f < 1.0) { f = f * 2.0; e = e - 1.0 }; i += 1 }
    val z = (f - 1.0) / (f + 1.0)
    var p = z
    var s = 0.0
    var k = 0
    while (k <= 13) {
      s = s + (p * LnInvOdd(k))
      p = p * (z * z)
      k += 1
    }
    (e * Ln2) + (2.0 * s)
  }
}
