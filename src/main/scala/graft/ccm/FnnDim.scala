package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** False-Nearest-Neighbor (FNN) embedding-dimension estimation.
  *
  * The reference MENTIONS this ("E estimation via False Nearest Neighbors",
  * `README.md:77`) but never implements it — E is a plain parameter
  * defaulting to 3 (`lib/ccm.ex:27`). Implemented here as a first-class
  * extension (SURVEY.md §2c.2), Kennel et al. 1992 criterion:
  *
  *  - embed at dimension E and find each point's nearest neighbor in the
  *    E-dimensional manifold (the leave-one-out top-1 of
  *    [[Knn.neighbors]] — the same kNN primitive as cross-mapping);
  *  - the neighbor is FALSE if the extra coordinate revealed at dimension
  *    E+1 jumps relative to the E-dim distance:
  *    |x_{i+E*tau} − x_{j+E*tau}| / d_E(i,j) > rTol;
  *  - fnn_frac(E) = fraction of false neighbors; the suggested E is the
  *    first E whose fraction drops below `frac` (fallback: argmin).
  *
  * One embedding pass computes E_max+1 lead columns; each candidate E
  * reuses the same embedded relation (filtered to rows where dimension
  * E+1 exists), so the scan happens once and the per-E cost is the pair
  * join — keyed on the series id, distributing across series.
  */
object FnnDim {

  /** fnn_frac(E) per series for E = 1..maxE.
    * Output: (keys..., e: int, n_neighbors: long, n_false: long,
    * fnn_frac: double).
    */
  def fnnCurve(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      value: Column,
      maxE: Int,
      tau: Int = 1,
      rTol: Double = 15.0
  ): DataFrame = {
    val k = keys.map(col)
    // dims 0..maxE: embedding coordinates for E=maxE, plus the (E+1)-th
    // coordinate needed by the false-neighbor test of E=maxE
    // localCheckpoint: the embedded relation feeds BOTH sides of maxE
    // self-joins — without materialization Spark re-executes the scan +
    // window 2*maxE times (the same self-join trap the dedup signature
    // relations document); at cluster scale the equivalent is persisting
    // the embedding table once
    val emb = Knn.embed(df, keys, order, value, maxE + 1, tau).localCheckpoint()

    val perE = (1 to maxE).map { e =>
      // rows that have the e-dim point AND the extra coordinate e{e}
      val rows = emb.filter(col(s"e$e").isNotNull)
      Knn
        .neighbors(rows, keys, e, 1, Seq(abs(col(s"q.e$e") - col(s"l.e$e")).as("extra_gap")))
        .select(
          (k :+ lit(e).as("e") :+
            // zero-distance twins are never false; Kennel ratio otherwise
            when(col("dist") < 1e-12, lit(false))
              .otherwise(col("extra_gap") / col("dist") > rTol)
              .as("is_false")): _*
        )
    }
    perE
      .reduce(_ unionByName _)
      .groupBy((k :+ col("e")): _*)
      .agg(
        count(lit(1)).as("n_neighbors"),
        sum(when(col("is_false"), 1L).otherwise(0L)).as("n_false")
      )
      .withColumn("fnn_frac", col("n_false") / col("n_neighbors").cast("double"))
  }

  /** Suggested E per series: first E with fnn_frac < frac, else the argmin
    * (smallest E among ties). Output: (keys..., best_e: int).
    */
  def bestE(fnnDf: DataFrame, keys: Seq[String], frac: Double = 0.01): DataFrame = {
    val k = keys.map(col)
    fnnDf
      .groupBy(k: _*)
      .agg(
        coalesce(
          min(when(col("fnn_frac") < frac, col("e"))),
          min_by(col("e"), struct(col("fnn_frac"), col("e")))
        ).cast("int").as("best_e")
      )
  }
}
