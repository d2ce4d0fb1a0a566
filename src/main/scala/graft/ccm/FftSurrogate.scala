package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Phase-randomized (Ebisuzaki/FFT) surrogate series — the null model the
  * EDM significance-testing literature recommends for autocorrelated
  * series (Ebisuzaki 1997, "A method to estimate the statistical
  * significance of a correlation when the data are serially correlated"):
  * each surrogate preserves x's FULL power spectrum (hence its
  * autocorrelation at every lag, by Wiener–Khinchin) while drawing the
  * phases of all non-fixed bins uniformly from [0, 2π).
  *
  * Spark-first construction: the DFT of each (bounded-length) series is a
  * deterministic O(n²) join-aggregate of cos/sin sums, and the surrogate
  * is the direct real cosine-sum reconstruction — fully declarative (two
  * grouped aggregations, no per-row kernel), so it parallelizes freely
  * over series and replays verbatim in ANSI SQL for the oracle. DC and
  * Nyquist bins keep phase 0: randomizing the Nyquist bin of a real
  * cosine-sum would RESCALE it (sin(πt) = 0 at integer t), not rotate it.
  * k = 0 bypasses reconstruction entirely, so the truth series of a
  * surrogate bundle is the bit-exact original.
  *
  * The reference's toolkit stops at raw CCM rho (`lib/ccm.ex:20-262`,
  * no significance machinery); this operator supplies the null the rho
  * needs before anyone acts on it.
  */
object FftSurrogate {
  val TwoPi = 6.283185307179586

  /** Surrogate bundle: for each input series (skey) and k in 0..numK,
    * a series keyed `skey·stride + k` with x phase-randomized (k = 0 the
    * original) and y carried through at its original positions.
    *
    * @param df    input rows; must contain skey/order/x/y columns
    * @param order columns ordering rows within a series
    * @return (skey2: Long, ts: Long index, x, y)
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
    val bi = base
      .withColumn("i", row_number().over(w).cast("long"))
      .withColumn("n", count(lit(1)).over(Window.partitionBy("skey")))
    val pts = bi.select(col("skey"), col("i"), (col("i") - 1).as("t"), col("n"), col("x"), col("y"))
    val freqs = pts
      .select(col("skey"), col("t").as("f"), col("n"))
      .filter(col("f") * 2 <= col("n"))
    val angle = lit(TwoPi) * (col("f") * col("t")) / col("n")
    val coef = freqs
      .join(pts.select(col("skey"), col("t"), col("x")), Seq("skey"))
      .groupBy(col("skey"), col("f"), col("n"))
      .agg(
        sum(col("x") * cos(angle)).as("re"),
        sum(-col("x") * sin(angle)).as("im")
      )
      .select(
        col("skey"),
        col("f"),
        col("n"),
        sqrt(col("re") * col("re") + col("im") * col("im")).as("amp"),
        atan2(col("im"), col("re")).as("ph")
      )
    val ks = (0 to numK).map(_.toLong).toDF("k")
    val fixedBin = col("f") === 0 || col("f") * 2 === col("n")
    val u = DetHash
      .rankHashCol(col("f"), col("k"), col("skey"), seed)
      .cast("double") / lit(DetHash.P.toDouble)
    val delta = when(col("k") === 0 || fixedBin, lit(0.0)).otherwise(lit(TwoPi) * u)
    val cf = when(fixedBin, lit(1.0)).otherwise(lit(2.0)) / col("n")
    coef
      .join(pts.select(col("skey"), col("i"), col("t"), col("x"), col("y")), Seq("skey"))
      .crossJoin(broadcast(ks))
      .groupBy(col("skey"), col("k"), col("i"), col("x"), col("y"))
      .agg(sum(cf * col("amp") * cos(angle + col("ph") + delta)).as("rx"))
      .select(
        (col("skey") * stride + col("k")).as("skey2"),
        col("i").as("ts"),
        when(col("k") === 0, col("x")).otherwise(col("rx")).as("x"),
        col("y")
      )
  }
}
