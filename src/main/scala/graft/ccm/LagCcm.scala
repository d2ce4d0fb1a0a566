package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Time-delayed CCM (Ye, Deyle, Gilarranz & Sugihara 2015,
  * "Distinguishing time-delayed causal interactions using convergent
  * cross mapping"): sweep the cross-map over a LAG ladder — predict the
  * target at `t + ℓ` from the source manifold's neighbors at `t` — and
  * read the causal structure off the skill-vs-lag curve (true causation
  * peaks at a small NEGATIVE lag: the cause precedes its effect; a peak
  * at ℓ ≥ 0 flags synchrony/confounding instead). The diagnostic the
  * plain convergence test (`convergent?/1`, `lib/ccm.ex:215-244`) cannot
  * express.
  *
  * The expensive part — embedding, pair distances, kNN selection,
  * weights — depends ONLY on the source manifold, so it is computed ONCE
  * and every lag reuses it: the lag ladder cross-joins onto the weighted
  * neighbor relation and two equi-joins on `(skey, idx ± ℓ)` fetch the
  * shifted library targets and actuals from the embedded relation itself
  * (embedding row i's `tgt` is the target at manifold time i+(E-1)τ, so
  * row i+ℓ holds the target at time +ℓ). Out-of-range shifts drop via
  * the inner joins: a neighbor whose shifted target does not exist drops
  * from the weighted sum (its weight leaves the denominator too), and a
  * prediction point without a shifted actual contributes no pair — the
  * same boundary contract both engines replay exactly.
  *
  * Library is leave-one-out (every other embedding row of the series);
  * k = E+1 neighbors by (distance, idx); weights are the reference's
  * exact-hit/stabilizer formula (`lib/ccm.ex:246-262`) — all three from
  * the shared [[Knn]] primitive. The input projection ([[Ccm.wide]]) and
  * the directions ([[Ccm.Directions]]: x_causes_y embeds Y, predicts X)
  * are the ones every bidirectional EDM operator shares.
  *
  * Scale: one pair join per series (the series-id partition axis), lag
  * fan-out multiplies only the k-row neighbor relation, never the pair
  * relation.
  */
object LagCcm {
  val DefaultLags: Seq[Int] = Seq(-3, -2, -1, 0, 1, 2, 3)

  /** Output: (skey, direction, lag, rho, best_lag) — rho 6-dp-rounded
    * BEFORE best_lag is derived (max-rho argmax, ties to the smallest
    * lag), so the argmax compares engine-identical doubles.
    */
  def bidirectional(
      df: DataFrame,
      skey: Column,
      order: Seq[String],
      x: Column,
      y: Column,
      e: Int = 2,
      tau: Int = 1,
      lags: Seq[Int] = DefaultLags
  ): DataFrame = {
    require(lags.nonEmpty, "lags must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val base = Ccm.wide(df, skey, order, x, y)
    val ord = order.map(col)
    val lagDf = broadcast(lags.toDF("lag").select(col("lag").cast("long").as("lag")))

    def oneDir(src: String, tgt: String, dir: String): DataFrame = {
      // rel = (skey, idx, e0..e{E-1}, tgt). localCheckpoint: rel feeds
      // FOUR join sides (pair q/l, shifted library targets, shifted
      // actuals) — without materialization each
      // reference re-runs the capped scan + index/embedding windows
      // (8 scans per query, visible as duplicated WindowGroupLimit
      // subtrees in CcmFanoutPlanSpec's plan); at cluster scale this is
      // the persisted embedding table every EDM stage shares
      val rel = CcmPipeline.embedded(base, Seq("skey"), ord, col(src), col(tgt), e, tau).localCheckpoint()
      val nn = Knn.weighted(rel, Seq("skey"), e, e + 1).select($"skey", $"q_idx", $"l_idx", $"w")
      // lag fan-out on the k-row neighbor relation; shifted targets come
      // from the embedded relation itself via (skey, idx + lag)
      val libT = rel.select($"skey".as("lskey"), $"idx".as("li"), $"tgt".as("lt"))
      val actT = rel.select($"skey".as("askey"), $"idx".as("ai"), $"tgt".as("act"))
      val fanned = nn.crossJoin(lagDf)
      val summed = fanned
        .join(libT, fanned("skey") === libT("lskey") && fanned("l_idx") + fanned("lag") === libT("li"))
        .groupBy($"skey", $"lag", $"q_idx")
        .agg(sum($"w").as("sw"), sum($"w" * $"lt").as("swt"))
      val preds = summed
        .join(actT, summed("skey") === actT("askey") && summed("q_idx") + summed("lag") === actT("ai"))
        .withColumn("pred", Knn.predicted($"sw", $"swt"))
      Knn
        .guardedRho(preds.groupBy($"skey", $"lag"), $"act", $"pred")
        .select($"skey", lit(dir).as("direction"), $"lag", $"rho")
    }

    val u = Ccm.bothDirections(oneDir)
    val wD = Window.partitionBy("skey", "direction")
    u.withColumn("rho_max", max($"rho").over(wD))
      .withColumn("best_lag", min(when($"rho" === $"rho_max", $"lag")).over(wD))
      .drop("rho_max")
  }
}
