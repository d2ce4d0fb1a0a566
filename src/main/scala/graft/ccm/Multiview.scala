package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Multiview embedding cross-mapping (Ye & Sugihara, *Science* 353:922,
  * 2016 — "Information leverage in interconnected ecosystems"): instead
  * of ONE contiguous-lag shadow manifold (reference `ccm.ex:99-107`),
  * build MANY candidate embeddings from combinations of lagged
  * coordinates, rank them by in-sample cross-map skill, and average the
  * predictions of the top-ranked views. On short/noisy series the
  * multiview average beats any single embedding — the paper's point —
  * and the per-view machinery is exactly the engine's kNN pipeline with
  * a `view` dimension added to the join keys.
  *
  * Shape per stage (all distributed, keyed on (series, view)):
  *  - lag columns: ONE window pass computes every lag 0..maxLag;
  *  - views: a |views|-way union of projections over the checkpointed
  *    lagged relation (each view picks its coordinate pair);
  *  - kNN + weights/prediction: the shared [[Knn]] primitive with
  *    `view` added to the keys — leave-one-out library (all points except
  *    the query row itself), deterministic (dist, idx) tie-break, C8
  *    weights (exp(-d/dmin), exact-hit override, zero-weight guard);
  *  - view ranking: per-series row_number over (rho DESC, view id) on
  *    6-dp-ROUNDED rhos (the ccm_lag_sweep precedent: raw-double
  *    ordering could flip a near-tie between engines);
  *  - multiview estimate: per-point average over the top-k views, scored
  *    by Pearson correlation against the actual series.
  *
  * Views multiply the SERIES dimension of the pair join — same shuffle
  * keys, |views|x rows, no new plan shape; at 100 TB the per-series
  * work is unchanged and views fan out across executors like series do.
  */
object Multiview {

  /** All size-2 lag combinations (l1 < l2) over `lags`. */
  def viewPairs(lags: Seq[Int]): Seq[(Int, Int, Int)] =
    (for {
      (l1, i) <- lags.zipWithIndex
      l2 <- lags.drop(i + 1)
    } yield (l1, l2)).zipWithIndex.map { case ((l1, l2), vid) => (vid, l1, l2) }

  /** Cross-map `x` from multiview embeddings of `y`.
    *
    * @param series input rows
    * @param skey   series key column
    * @param order  intra-series order columns
    * @param x      target series (cross-mapped / predicted)
    * @param y      source series (embedded)
    * @param lags   candidate lags (embedding dim is fixed at 2: all
    *               C(|lags|, 2) coordinate pairs become views)
    * @param k      neighbors per query point (paper: E+1 = 3)
    * @param topViews how many skill-ranked views the estimate averages
    * @return one row per series: (skey, n_pts, best_view, best_rho,
    *         top_views: comma-joined rank-ordered view ids, mv_rho)
    */
  def crossMap(
      series: DataFrame,
      skey: Column,
      order: Seq[String],
      x: Column,
      y: Column,
      lags: Seq[Int] = Seq(0, 1, 2, 3),
      k: Int = 3,
      topViews: Int = 3
  ): DataFrame = {
    val w = Window.partitionBy("skey").orderBy(order.map(col): _*)
    val maxLag = lags.max
    val lagged = series
      .select(skey.as("skey") +: order.map(col) :+ x.as("x") :+ y.as("y"): _*)
      .withColumn("idx", row_number().over(w).cast("long"))
      // lag 0 is the column itself — not lag(y, 0), which some engines
      // (and the DuckDB oracle) reject or treat differently
      .withColumns(
        lags.map(l => s"ly$l" -> (if (l == 0) col("y") else lag(col("y"), l).over(w))).toMap
      )
      .filter(col("idx") > maxLag)
      .localCheckpoint() // feeds |views| union branches + the self-join
    val emb = viewPairs(lags)
      .map { case (vid, l1, l2) =>
        lagged.select(
          col("skey"),
          lit(vid).as("view"),
          col("idx"),
          col(s"ly$l1").as("e0"),
          col(s"ly$l2").as("e1"),
          col("x")
        )
      }
      .reduce(_ unionByName _)
    val preds = Knn
      .weighted(emb, Seq("skey", "view"), 2, k, Seq(col("q.x").as("actual"), col("l.x").as("lib_x")))
      .groupBy("skey", "view", "q_idx")
      .agg(
        first(col("actual")).as("actual"),
        sum(col("w")).as("sw"),
        sum(col("w") * col("lib_x")).as("swx")
      )
      .withColumn("pred", Knn.predicted(col("sw"), col("swx")))
      .localCheckpoint() // consumed by the view ranking AND the mv average
    val viewSkill = Knn
      .guardedRho(preds.groupBy("skey", "view"), col("actual"), col("pred"))
      .select(col("skey"), col("view"), col("rho").as("rho6"))
      .withColumn(
        "vrk",
        row_number().over(Window.partitionBy("skey").orderBy(col("rho6").desc, col("view").asc))
      )
    val top = viewSkill.filter(col("vrk") <= topViews)
    val mvPreds = preds
      .join(top.select("skey", "view"), Seq("skey", "view"))
      .groupBy("skey", "q_idx")
      .agg(first(col("actual")).as("actual"), avg(col("pred")).as("mv_pred"))
    val mv = Knn
      .guardedRho(mvPreds.groupBy("skey"), col("actual"), col("mv_pred"), count(lit(1)).as("n_pts"))
      .withColumnRenamed("rho", "mv_rho")
    val summary = top
      .groupBy("skey")
      .agg(
        max(when(col("vrk") === 1, col("view"))).as("best_view"),
        max(when(col("vrk") === 1, col("rho6"))).as("best_rho"),
        array_join(
          transform(
            array_sort(collect_list(struct(col("vrk"), col("view")))),
            s => s.getField("view").cast("string")
          ),
          ","
        ).as("top_views")
      )
    mv.join(summary, "skey")
      .select("skey", "n_pts", "best_view", "best_rho", "top_views", "mv_rho")
  }
}
