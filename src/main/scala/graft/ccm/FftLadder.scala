package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** O(n log n) phase-randomized (Ebisuzaki/FFT) surrogate bundle — the
  * LONG-SERIES scale path beside [[FftSurrogate]]'s exact-arbitrary-n
  * O(n²) join-aggregate (which is the right plan for the bounded
  * `ccm_boot` regime but quadratic in series LENGTH: composed with the
  * `ccm_wide` regime's ~10× longer series it does ~100× the DFT work —
  * VERDICT r9 item 3).
  *
  * Construction: an iterative radix-2 decimation-in-time butterfly
  * ladder, expressed as log₂(n) SELF-JOIN rounds over (series, slot)
  * rows — each round one keyed shuffle of n rows per series, O(1) state,
  * no per-row kernel:
  *
  *  1. each series is truncated to its largest power-of-two prefix
  *     n_pow = min(2^⌊log₂ n⌋, 2^MaxPow) (the standard production
  *     FFT-windowing choice; MaxPow bounds the ladder's fixed round
  *     count so the oracle can replay it as a generated CTE chain);
  *  2. bit-reversal permutation, computed per row as pure arithmetic
  *     (slot = Σ_b bit_b(t)·n_pow/2^(b+1) — an involution, so no join);
  *  3. MaxPow forward rounds: round s pairs slot j with j XOR 2^(s-1);
  *     rounds with 2^s > n_pow pass rows through (LEFT-join miss), so
  *     ONE fixed-depth plan serves every series length;
  *  4. phases of bins 1..n_pow/2−1 rotated by DetHash-uniform δ, the
  *     conjugate bin n_pow−f by −δ (conjugate symmetry keeps the
  *     reconstruction real); DC and Nyquist stay fixed (rotating the
  *     Nyquist bin of a real series RESCALES it — same contract as
  *     [[FftSurrogate]]);
  *  5. MaxPow inverse rounds (same ladder, positive twiddle sign,
  *     keyed additionally by surrogate k), scaled by 1/n_pow; the
  *     imaginary part is ~1e-16 by construction and is discarded.
  *
  * k = 0 bypasses reconstruction: the truth series is the bit-exact
  * original (as in [[FftSurrogate.bundle]]). Every round is
  * deterministic arithmetic on doubles, so the DuckDB oracle replays
  * the identical ladder as MATERIALIZED CTEs ([[forwardRoundsSql]] /
  * [[inverseRoundsSql]]); cross-engine cos/sin ulp deltas are absorbed
  * by the downstream 6-dp rho rounding exactly as in the O(n²) gate.
  *
  * Scale: per series the ladder does n·log n work in 2·MaxPow bounded
  * shuffles versus the direct form's n²/2·(K+1) join-aggregate rows —
  * at n = 512 and K = 7 that is ~50× less work, and the gap doubles
  * with every doubling of n.
  */
object FftLadder {
  val MaxPow = 9 // ladder depth: series capped at 2^9 = 512 points
  val TwoPi = 6.283185307179586
  val Pi = 3.141592653589793

  /** Largest power of two ≤ n, capped at 2^MaxPow — as a CASE ladder so
    * the identical logic replays in SQL.
    */
  private def npowOf(n: Column): Column = {
    val first = when(n >= (1L << MaxPow), lit(1L << MaxPow))
    val chained = (MaxPow - 1 to 1 by -1).foldLeft(first) { (acc, p) =>
      acc.when(n >= (1L << p), lit(1L << p))
    }
    chained.otherwise(lit(1L))
  }

  private[ccm] def npowSql(n: String): String = {
    val whens = (MaxPow to 1 by -1)
      .map(p => s"WHEN $n >= ${1L << p} THEN ${1L << p}")
      .mkString(" ")
    s"CASE $whens ELSE 1 END"
  }

  /** Bit-reversal slot within log₂(npow) bits: Σ_b bit_b(t) · npow/2^(b+1)
    * (npow/2^(b+1) IS 1 << (ms−1−b), and the b < ms guard IS
    * npow ≥ 2^(b+1)) — pure integer arithmetic, no variable shifts.
    */
  private def revCol(t: Column, npow: Column): Column =
    (0 until MaxPow)
      .map { b =>
        val div = 1L << (b + 1)
        // npow >> (b+1) IS npow / 2^(b+1) exactly (npow is a power of 2);
        // a `/` here would silently widen to DOUBLE on the Spark side
        when(npow >= div && shiftright(t, b).bitwiseAND(lit(1L)) === 1L, shiftright(npow, b + 1))
          .otherwise(lit(0L))
      }
      .reduce(_ + _)

  private[ccm] def revSql(t: String, npow: String): String =
    (0 until MaxPow)
      .map { b =>
        val div = 1L << (b + 1)
        s"(CASE WHEN $npow >= $div AND (($t >> $b) & 1) = 1 THEN ($npow >> ${b + 1}) ELSE 0 END)"
      }
      .mkString(" + ")

  /** One butterfly round: pairs slot j with j XOR h (h = 2^(s−1));
    * twiddle angle = sign·π·(j & (h−1))/h. Spark-side shape: a PAIR
    * AGGREGATION (group on the slot pair's base id, emit both outputs via
    * explode) rather than a self-join — single-reference, so nine rounds
    * chain in ONE lazy whole-stage-codegen plan with no checkpoints (a
    * self-join would double the plan subtree per round); one keyed
    * shuffle per round either way. Series with npow < 2^s form singleton
    * groups (slot bit h is always clear below npow ≤ h) and pass through.
    * Arithmetic is operand-for-operand the oracle's self-join text.
    */
  private def round(cur: DataFrame, s: Int, sign: Double, keys: Seq[String]): DataFrame = {
    val h = 1L << (s - 1)
    val twoS = 1L << s
    val paired = cur
      .groupBy((keys.map(col) :+ col("npow") :+
        col("j").bitwiseAND(lit(~h)).as("pid")): _*)
      .agg(
        max(when(col("j").bitwiseAND(lit(h)) === 0L, col("re"))).as("er"),
        max(when(col("j").bitwiseAND(lit(h)) === 0L, col("im"))).as("ei"),
        max(when(col("j").bitwiseAND(lit(h)) =!= 0L, col("re"))).as("o_re"),
        max(when(col("j").bitwiseAND(lit(h)) =!= 0L, col("im"))).as("o_im")
      )
    val ang = lit(sign * Pi) * col("pid").bitwiseAND(lit(h - 1)) / lit(h.toDouble)
    val wr = cos(ang)
    val wi = sin(ang)
    val cross_re = wr * col("o_re") - wi * col("o_im")
    val cross_im = wr * col("o_im") + wi * col("o_re")
    val out = when(
      col("npow") < twoS,
      array(struct(col("pid").as("j"), col("er").as("re"), col("ei").as("im")))
    ).otherwise(
      array(
        struct(col("pid").as("j"), (col("er") + cross_re).as("re"), (col("ei") + cross_im).as("im")),
        struct((col("pid") + h).as("j"), (col("er") - cross_re).as("re"), (col("ei") - cross_im).as("im"))
      )
    )
    paired
      .select((keys.map(col) :+ col("npow") :+ explode(out).as("o")): _*)
      .select((keys.map(col) :+ col("npow") :+ col("o.j").as("j") :+
        col("o.re").as("re") :+ col("o.im").as("im")): _*)
  }

  /** SQL twin of one round — same arithmetic text, DuckDB xor(). */
  private def roundSql(prev: String, name: String, s: Int, sign: String, keys: Seq[String]): String = {
    val h = 1L << (s - 1)
    val twoS = 1L << s
    val keyCols = keys.map(k => s"a.$k").mkString(", ")
    val keyJoin = keys.map(k => s"b.$k = a.$k").mkString(" AND ")
    val ang = s"$sign$Pi * (a.j & ${h - 1}) / $h.0"
    s"""$name AS MATERIALIZED (
       |  SELECT $keyCols, a.npow, a.j,
       |    CASE WHEN a.npow < $twoS THEN a.re
       |         WHEN (a.j & $h) = 0
       |           THEN a.re + (cos($ang) * b.re - sin($ang) * b.im)
       |         ELSE b.re - (cos($ang) * a.re - sin($ang) * a.im) END AS re,
       |    CASE WHEN a.npow < $twoS THEN a.im
       |         WHEN (a.j & $h) = 0
       |           THEN a.im + (cos($ang) * b.im + sin($ang) * b.re)
       |         ELSE b.im - (cos($ang) * a.im + sin($ang) * a.re) END AS im
       |  FROM $prev a LEFT JOIN $prev b
       |    ON $keyJoin AND b.j = xor(a.j, $h) AND a.npow >= $twoS
       |)""".stripMargin
  }

  /** Surrogate bundle with the same output contract as
    * [[FftSurrogate.bundle]]: (skey2 = skey·stride + k, ts, x, y) for
    * k ∈ 0..numK, k = 0 the bit-exact original — but over the
    * power-of-two-truncated series and the O(n log n) ladder.
    */
  def bundle(
      df: DataFrame,
      skey: Column,
      order: Seq[String],
      x: Column,
      y: Column,
      numK: Int,
      stride: Long,
      seed: Long
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = Ccm.wide(df, skey, order, x, y)
    val w = Window.partitionBy("skey").orderBy(order.map(col): _*)
    val pts = base
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("skey")))
      .withColumn("npow", npowOf(col("n")))
      .filter(col("i") <= col("npow"))
      .withColumn("t", col("i") - 1)
      .select("skey", "npow", "i", "t", "x", "y")
      .localCheckpoint()

    // forward ladder: bit-reversed input, natural-order spectrum out.
    // ONE explicit repartition on skey up front: every round's pair
    // aggregation clusters on (skey[, k], npow, pid), and HashPartitioning
    // on the SUBSET {skey} satisfies all of them — so the 2·MaxPow rounds
    // plan as a single exchange-free stage chain instead of 18 shuffles
    // (the checkpoint boundary above erases pts' window partitioning).
    var f: DataFrame = pts
      .select(
        col("skey"),
        col("npow"),
        revCol(col("t"), col("npow")).as("j"),
        col("x").as("re"),
        lit(0.0).as("im")
      )
      .repartition(col("skey"))
    for (s <- 1 to MaxPow) f = round(f, s, -1.0, Seq("skey"))

    // conjugate-symmetric phase rotation per surrogate k (f.j is the
    // natural-order frequency); j becomes the bit-reversed slot feeding
    // the inverse ladder
    val ks = (0 to numK).map(_.toLong).toDF("k")
    val fm = when(col("j") * 2 > col("npow"), col("npow") - col("j")).otherwise(col("j"))
    val sgn = when(col("j") * 2 > col("npow"), lit(-1.0)).otherwise(lit(1.0))
    val fixedBin = col("j") === 0 || col("j") * 2 === col("npow")
    val u = DetHash.rankHashCol(fm, col("k"), col("skey"), seed).cast("double") /
      lit(DetHash.P.toDouble)
    val delta = when(col("k") === 0 || fixedBin, lit(0.0)).otherwise(sgn * lit(TwoPi) * u)
    var g: DataFrame = f
      .crossJoin(broadcast(ks))
      .select(
        col("skey"),
        col("k"),
        col("npow"),
        revCol(col("j"), col("npow")).as("j"),
        (col("re") * cos(delta) - col("im") * sin(delta)).as("re"),
        (col("re") * sin(delta) + col("im") * cos(delta)).as("im")
      )
    for (s <- 1 to MaxPow) g = round(g, s, 1.0, Seq("skey", "k"))

    g.select(col("skey"), col("k"), col("j").as("t"), (col("re") / col("npow")).as("rx"))
      .join(pts, Seq("skey", "t"))
      .select(
        (col("skey") * stride + col("k")).as("skey2"),
        col("i").as("ts"),
        when(col("k") === 0, col("x")).otherwise(col("rx")).as("x"),
        col("y")
      )
  }

  /** The full oracle twin: given a base subquery yielding
    * (skey, ord-cols…, x, y) rows as CTE body `baseSql` (columns named
    * skey/x/y), emits the WITH-chain producing the bundle relation
    * (skey2, ts, value, y0) — generated with the SAME round builders.
    */
  def bundleSql(baseSql: String, ordSql: String, numK: Int, stride: Long, seed: Long): String = {
    val fwd = (1 to MaxPow)
      .map(s => roundSql(if (s == 1) "f0" else s"f${s - 1}", s"f$s", s, "-", Seq("skey")))
      .mkString(",\n")
    val inv = (1 to MaxPow)
      .map(s => roundSql(if (s == 1) "g0" else s"g${s - 1}", s"g$s", s, "", Seq("skey", "k")))
      .mkString(",\n")
    val h = DetHash.rankHashSql("fm.fm", "fm.k", "fm.skey", seed)
    s"""(WITH sb AS ($baseSql),
       |  sbi AS (
       |    SELECT skey, x, y,
       |           CAST(row_number() OVER (PARTITION BY skey ORDER BY $ordSql) AS BIGINT) AS i,
       |           CAST(count(*) OVER (PARTITION BY skey) AS BIGINT) AS n
       |    FROM sb
       |  ),
       |  pts AS MATERIALIZED (
       |    SELECT skey, ${npowSql("n")} AS npow, i, i - 1 AS t, x, y
       |    FROM sbi WHERE i <= ${npowSql("n")}
       |  ),
       |  f0 AS MATERIALIZED (
       |    SELECT skey, npow, ${revSql("t", "npow")} AS j,
       |           x AS re, CAST(0.0 AS DOUBLE) AS im
       |    FROM pts
       |  ),
       |$fwd,
       |  ks(k) AS (SELECT CAST(unnest(generate_series(0, $numK)) AS BIGINT)),
       |  fm AS (
       |    SELECT f.skey, kk.k, f.npow, f.j, f.re, f.im,
       |           CASE WHEN f.j * 2 > f.npow THEN f.npow - f.j ELSE f.j END AS fm,
       |           CASE WHEN f.j * 2 > f.npow THEN -1.0 ELSE 1.0 END AS sgn,
       |           (f.j = 0 OR f.j * 2 = f.npow) AS fixed
       |    FROM f$MaxPow f CROSS JOIN ks kk
       |  ),
       |  g0 AS MATERIALIZED (
       |    SELECT skey, k, npow, ${revSql("j", "npow")} AS j,
       |           re * cos(delta) - im * sin(delta) AS re,
       |           re * sin(delta) + im * cos(delta) AS im
       |    FROM (
       |      SELECT fm.*, CASE WHEN fm.k = 0 OR fm.fixed THEN 0.0
       |                        ELSE fm.sgn * $TwoPi * (CAST($h AS DOUBLE) / ${DetHash.P}.0)
       |                   END AS delta
       |      FROM fm)
       |  ),
       |$inv
       |  SELECT p.skey * $stride + r.k AS skey2, p.i AS ts,
       |         CASE WHEN r.k = 0 THEN p.x ELSE r.re / r.npow END AS value, p.y AS y0
       |  FROM g$MaxPow r JOIN pts p ON p.skey = r.skey AND p.t = r.j)""".stripMargin
  }
}
