package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Simplex projection — leave-one-out kNN forecasting (Sugihara & May 1990,
  * "Nonlinear forecasting as a way of distinguishing chaos from measurement
  * error in time series"). The reference implements exactly this forecaster
  * as CCM's cross-mapping core (`lib/ccm.ex:139-177`: top-(E+1) neighbors +
  * exponential weights) but only ever points it ACROSS series; the
  * univariate self-prediction form is the standard EDM diagnostic the
  * README's workflow presumes (E chosen "via FNN or simplex", README:77):
  *
  *  - embed the series at dimension E (forward lags, the [[FnnDim]]
  *    orientation: point i = (x_i, x_{i+tau}, .., x_{i+(E-1)tau}), so the
  *    point's "present" is time i+(E-1)tau);
  *  - for each point with a known future x_{i+(E-1)tau+tp}, find its E+1
  *    nearest neighbors among the OTHER points of the same series
  *    (leave-one-out: the self-pair idx==idx is excluded);
  *  - predict the future as the exponentially weighted neighbor average
  *    with the reference's exact weight contract (`lib/ccm.ex:246-262`,
  *    C8): w = exp(-d / (d_min + 1e-8)), exact hits (d < 1e-12) weigh 1;
  *  - skill(E) = guarded Pearson rho(actual, predicted); sweeping E gives
  *    the embedding-dimension selection curve (best E = argmax rho — the
  *    complement of [[FnnDim]]'s false-neighbor criterion), sweeping the
  *    horizon tp at fixed E gives the prediction-decay curve whose fall-off
  *    separates chaos (skill decays with tp) from measurement noise (flat).
  *
  * Embedding, leave-one-out top-(E+1), weights and the guarded rho are
  * the shared [[Knn]] primitive. Scale: pairs are generated per series
  * only (equi-join on the series key) — a million independent series
  * parallelize freely. The tp-sweep computes the kNN
  * ONCE: the library is pinned to rows carrying the full maxTp horizon, so
  * the neighbor set (and the weights) are tp-invariant and each extra
  * horizon only widens rows through one shared groupBy — no per-tp join.
  */
object Simplex {

  /** Per-(series, E) forecast skill for E = 1..maxE at horizon tp.
    * Output: (keys..., e: int, n_pred: long, rho: double) — rho rounded to
    * 6 dp (cross-engine aggregation-order ulp absorption, the family rule).
    */
  def curve(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      value: Column,
      maxE: Int,
      tau: Int = 1,
      tp: Int = 1
  ): DataFrame = {
    require(maxE >= 1 && tau >= 1 && tp >= 1, "maxE, tau, tp must be >= 1")
    val k = keys.map(col)
    // one pass materializes every coordinate any E needs: e0..e{maxE-1}
    // plus the per-E forecast target f{e} = lead((e-1)*tau + tp)
    // localCheckpoint: the embedded relation feeds BOTH sides of maxE
    // self-joins (the FnnDim/LagCcm lesson — without it the scan + windows
    // re-execute 2*maxE times)
    val emb = Knn
      .embed(df, keys, order, value, maxE, tau, (1 to maxE).map(e => (s"f$e", value, (e - 1) * tau + tp)))
      .localCheckpoint()

    val perE = (1 to maxE).map { e =>
      val rows = emb.filter(col(s"e${e - 1}").isNotNull && col(s"f$e").isNotNull)
      Knn
        .weighted(rows, keys, e, e + 1, Seq(col(s"q.f$e").as("actual"), col(s"l.f$e").as("lib_f")))
        .groupBy((k ++ Seq(col("q_idx"), col("actual"))): _*)
        .agg(sum(col("w")).as("sw"), sum(col("w") * col("lib_f")).as("swt"))
        .select((k :+ lit(e).as("e") :+ col("actual") :+ Knn.predicted(col("sw"), col("swt")).as("pred")): _*)
    }
    val byE = perE.reduce(_ unionByName _).groupBy((k :+ col("e")): _*)
    Knn
      .guardedRho(byE, col("actual"), col("pred"), count(lit(1)).as("n_pred"))
      .select((k :+ col("e") :+ col("n_pred") :+ col("rho")): _*)
  }

  /** Prediction-decay sweep: per-(series, tp) skill for tp = 1..maxTp at a
    * FIXED embedding dimension e. The library is every point carrying the
    * full horizon (f{maxTp} non-null), so the neighbor set and weights are
    * identical across tp — the kNN runs once and the horizons share one
    * groupBy (per-tp weighted sums as parallel aggregate columns, then an
    * in-stage unpivot). Output: (keys..., tp: int, n_pred: long, rho).
    */
  def tpSweep(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      value: Column,
      e: Int,
      maxTp: Int,
      tau: Int = 1
  ): DataFrame = {
    require(e >= 1 && tau >= 1 && maxTp >= 1, "e, tau, maxTp must be >= 1")
    val k = keys.map(col)
    val emb = Knn
      .embed(df, keys, order, value, e, tau, (1 to maxTp).map(t => (s"f$t", value, (e - 1) * tau + t)))
      // the full-horizon restriction that makes the neighbor set tp-invariant
      .filter(col(s"f$maxTp").isNotNull)
      .localCheckpoint()
    val horizons = (1 to maxTp).flatMap(t => Seq(col(s"q.f$t").as(s"tf$t"), col(s"l.f$t").as(s"if$t")))
    // ONE aggregation carries every horizon as a column pair (actual via
    // group key, weighted neighbor sum via agg) ...
    val sums = Knn
      .weighted(emb, keys, e, e + 1, horizons)
      .groupBy((k ++ Seq(col("q_idx")) ++ (1 to maxTp).map(t => col(s"tf$t"))): _*)
      .agg(
        sum(col("w")).as("sw"),
        (1 to maxTp).map(t => sum(col("w") * col(s"if$t")).as(s"swt$t")): _*
      )
    // ... then unpivots in-stage (stack generator — no shuffle, no per-tp
    // re-join) to (tp, actual, pred) rows
    val stackExpr = (1 to maxTp)
      .map(t => s"$t, tf$t, CASE WHEN sw = 0.0 THEN 0.0 ELSE swt$t / sw END")
      .mkString(", ")
    val byTp = sums
      .selectExpr(keys :+ s"stack($maxTp, $stackExpr) AS (tp, actual, pred)": _*)
      .groupBy((k :+ col("tp")): _*)
    Knn
      .guardedRho(byTp, col("actual"), col("pred"), count(lit(1)).as("n_pred"))
      .select((k :+ col("tp") :+ col("n_pred") :+ col("rho")): _*)
  }
}
