package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mutual-information-based tau (embedding delay) estimation.
  *
  * The reference DOCUMENTS this ("first minimum of mutual information",
  * `README.md:60`) but never implements it — tau is a plain parameter
  * defaulting to 1 (`lib/ccm.ex:28`). This operator implements the
  * documented capability as a first-class extension (SURVEY.md §2c.1):
  *
  *  - for each candidate tau, take the pairs (x_t, x_{t+tau});
  *  - estimate MI with an equal-width B-bin 2-D histogram over the series
  *    range: MI = sum p_ij * ln(p_ij / (p_i * q_j));
  *  - pick the first local minimum of MI(tau) (fallback: tau = 1).
  *
  * Spark-first shape: ALL candidate taus are computed in one window pass
  * ([[Knn.embed]]'s leads 1..maxTau over a single window spec collapse
  * into one Window operator), then one hash aggregation per histogram
  * level — no self-joins, no per-tau scans. Scales as one shuffle keyed
  * on the series id regardless of maxTau.
  */
object MiTau {

  /** MI(tau) per series for tau = 1..maxTau.
    * Output: (keys..., tau: int, mi: double).
    */
  def miCurve(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      value: Column,
      maxTau: Int,
      bins: Int
  ): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession) // graft_ln MI series
    val k = keys.map(col)
    val wAll = Window.partitionBy(k: _*)

    // x ([[Knn.embed]]'s e0) and every lead from one window pass, then
    // x's min/max (the bin range); the unused idx is pruned
    val leads = (1 to maxTau).map(t => (s"y$t", value, t))
    val base = Knn
      .embed(df, keys, order, value, 1, 1, leads)
      .select(
        k ++ Seq(
          col("e0").as("x"),
          min(col("e0")).over(wAll).as("mn"),
          max(col("e0")).over(wAll).as("mx")
        ) ++ leads.map(l => col(l._1)): _*
      )

    // long form (keys, tau, x, y) via stack; null leads (series tail) drop
    val stackExpr =
      s"stack($maxTau, " + (1 to maxTau).map(t => s"$t, y$t").mkString(", ") + ") as (tau, y)"
    val pairs = base
      .select(k ++ Seq(col("x"), col("mn"), col("mx"), expr(stackExpr)): _*)
      .filter(col("y").isNotNull)

    def bin(c: Column): Column =
      when(col("mx") === col("mn"), lit(0))
        .otherwise(least(lit(bins - 1), floor((c - col("mn")) / ((col("mx") - col("mn")) / bins)).cast("int")))

    val binned = pairs.select(
      k ++ Seq(col("tau"), bin(col("x")).as("bx"), bin(col("y")).as("by")): _*
    )

    // joint counts + marginals via window sums over the joint table
    val cellKeys = keys :+ "tau"
    val joint = binned.groupBy((cellKeys.map(col) ++ Seq(col("bx"), col("by"))): _*).agg(count(lit(1)).as("c"))
    val wx = Window.partitionBy((cellKeys.map(col) :+ col("bx")): _*)
    val wy = Window.partitionBy((cellKeys.map(col) :+ col("by")): _*)
    val wn = Window.partitionBy(cellKeys.map(col): _*)
    val terms = joint
      .withColumn("cx", sum(col("c")).over(wx))
      .withColumn("cy", sum(col("c")).over(wy))
      .withColumn("n", sum(col("c")).over(wn))
      .withColumn(
        "term",
        (col("c") / col("n")) * expr("graft_ln((c * n) / (cx * cy))")
      )
    terms
      .groupBy(cellKeys.map(col): _*)
      .agg(sum(col("term")).as("mi"))
      .withColumn("tau", col("tau").cast("int"))
  }

  /** First local minimum of MI(tau) per series (interior point with
    * MI < both neighbors); fallback tau = 1 when none exists.
    * Output: (keys..., best_tau: int).
    */
  def bestTau(miDf: DataFrame, keys: Seq[String]): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(col("tau"))
    val flagged = miDf
      .withColumn("prev", lag(col("mi"), 1).over(w))
      .withColumn("next", lead(col("mi"), 1).over(w))
      .withColumn(
        "is_min",
        col("prev").isNotNull && col("next").isNotNull && col("mi") < col("prev") && col("mi") < col("next")
      )
    flagged
      .groupBy(keys.map(col): _*)
      .agg(
        coalesce(min(when(col("is_min"), col("tau"))), lit(1)).cast("int").as("best_tau")
      )
  }
}
