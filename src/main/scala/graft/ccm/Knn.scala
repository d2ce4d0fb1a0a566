package graft.ccm

import org.apache.spark.sql.{Column, DataFrame, RelationalGroupedDataset}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Leave-one-out kNN — the simplex-projection forecaster of the reference
  * (`lib/ccm.ex:139-177`: top-(E+1) neighbors + exponential weights) as the
  * ONE set of Catalyst expressions the EDM family builds on ([[Simplex]],
  * [[FnnDim]], [[LagCcm]], [[Multiview]], and the embedding, distance and
  * weights of [[CcmPipeline]]):
  *
  *  - [[embed]]: dense per-series `idx` + forward-lag point
  *    (x_i, x_{i+tau}, .., x_{i+(E-1)tau}) from one window pass;
  *  - [[neighbors]]: per-series self-join excluding the self-pair,
  *    Euclidean distance, top-k by (dist, idx) with a LITERAL k so
  *    InferWindowGroupLimit turns the rank filter into a map-side TopK heap
  *    before the shuffle;
  *  - [[withWeights]]: the C8 weight contract (`lib/ccm.ex:246-262`);
  *  - [[guardedRho]]: Pearson rho with the C9 degenerate → 0.0 rule,
  *    6-dp rounded (the family's cross-engine ulp absorption).
  *
  * Every expression here is the exact tree the DuckDB oracle SQL replays,
  * so callers get bit-identical values whichever module they sit in. The
  * helpers take the relation the caller already materialized: where to
  * `localCheckpoint` stays the caller's (measured) decision.
  */
object Knn {

  /** Dense per-series time index + E-dim forward-lag embedding, one window
    * pass. Output: (keys..., idx, e0..e{E-1}, leads...) where each
    * `(name, column, offset)` in `leads` adds `column` shifted forward by
    * `offset` rows (offset 0 is the column itself, never `lead(c, 0)`).
    * No row is dropped: the tail rows carry nulls for the coordinates and
    * leads they lack, and the caller filters on what it needs.
    */
  def embed(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      value: Column,
      e: Int,
      tau: Int,
      leads: Seq[(String, Column, Int)] = Nil
  ): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    def shifted(c: Column, by: Int): Column = if (by == 0) c else lead(c, by).over(w)
    df.select(
      keys.map(col) ++ Seq((row_number().over(w) - 1).cast("long").as("idx")) ++
        (0 until e).map(j => shifted(value, j * tau).as(s"e$j")) ++
        leads.map { case (name, c, by) => shifted(c, by).as(name) }: _*
    )
  }

  /** Euclidean distance over coordinates e0..e{dims-1} of the relations
    * aliased `q` and `l`: sqrt of the left-folded sum of (q - l)² terms.
    */
  def distance(q: String, l: String, dims: Int): Column =
    sqrt(
      (0 until dims)
        .map(j => (col(s"$q.e$j") - col(s"$l.e$j")) * (col(s"$q.e$j") - col(s"$l.e$j")))
        .reduce(_ + _)
    )

  /** Leave-one-out top-k: every row of `rel` (keys..., idx, e0..) queries
    * the OTHER rows with the same keys; the k nearest by (dist asc, idx
    * asc) survive. Output: (keys..., q_idx, l_idx, dist, carry..., rn);
    * `carry` columns are expressions over the join aliases `q` (query row)
    * and `l` (library row).
    */
  def neighbors(
      rel: DataFrame,
      keys: Seq[String],
      dims: Int,
      k: Int,
      carry: Seq[Column] = Nil
  ): DataFrame = {
    val joinCond = keys.map(kn => col(s"q.$kn") === col(s"l.$kn")).reduce(_ && _) &&
      col("q.idx") =!= col("l.idx")
    val pairs = rel
      .as("q")
      .join(rel.as("l"), joinCond)
      .select(
        keys.map(kn => col(s"q.$kn").as(kn)) ++ Seq(
          col("q.idx").as("q_idx"),
          col("l.idx").as("l_idx"),
          distance("q", "l", dims).as("dist")
        ) ++ carry: _*
      )
    val wNN = Window
      .partitionBy((keys.map(col) :+ col("q_idx")): _*)
      .orderBy(col("dist").asc, col("l_idx").asc)
    pairs.withColumn("rn", row_number().over(wNN)).filter(col("rn") <= k)
  }

  /** Adds the query's `min_dist` (per `partition`, one query's neighbor
    * set) and the C8 weight `w` to a top-k neighbor relation: exact hits
    * (dist < 1e-12) weigh 1, otherwise exp(-dist / (min_dist + 1e-8))
    * through graft_exp, the codegen'd IEEE-only exp the oracle's ExactExp
    * replays bit for bit.
    */
  def withWeights(nn: DataFrame, partition: Seq[Column]): DataFrame = {
    graft.functions.GraftFunctions.register(nn.sparkSession) // graft_exp weight kernel
    nn.withColumn("min_dist", min(col("dist")).over(Window.partitionBy(partition: _*)))
      .withColumn(
        "w",
        when(col("dist") < 1e-12, 1.0).otherwise(expr("graft_exp((- dist) / (min_dist + 1e-8D))"))
      )
  }

  /** [[neighbors]] + [[withWeights]] per query row: adds `min_dist` and `w`. */
  def weighted(
      rel: DataFrame,
      keys: Seq[String],
      dims: Int,
      k: Int,
      carry: Seq[Column] = Nil
  ): DataFrame =
    withWeights(neighbors(rel, keys, dims, k, carry), keys.map(col) :+ col("q_idx"))

  /** Weighted neighbor average from its sums; an all-zero weight sum
    * predicts 0.0 (the reference's zero-weight guard).
    */
  def predicted(sw: Column, swt: Column): Column = when(sw === 0.0, 0.0).otherwise(swt / sw)

  /** Per-group Pearson rho of (actual, predicted) from guarded co-moments:
    * `corr()` THROWS on zero variance under ANSI mode, so degenerate groups
    * (fewer than two rows, NaN or zero variance) take the C9 convention
    * rho = 0.0 BEFORE the division; the result is rounded to 6 dp (+ 0.0
    * folds -0.0). Output: the grouping columns, `extra` aggregates, cv, s1,
    * s2 and rho.
    */
  def guardedRho(
      grouped: RelationalGroupedDataset,
      actual: Column,
      predicted: Column,
      extra: Column*
  ): DataFrame = {
    val moments = extra ++ Seq(
      covar_samp(actual, predicted).as("cv"),
      stddev_samp(actual).as("s1"),
      stddev_samp(predicted).as("s2")
    )
    val (cv, s1, s2) = (col("cv"), col("s1"), col("s2"))
    val rho = when(
      cv.isNull || s1.isNull || s2.isNull || isnan(cv) || isnan(s1) || isnan(s2) ||
        s1 === 0.0 || s2 === 0.0,
      0.0
    ).otherwise(cv / (s1 * s2))
    grouped
      .agg(moments.head, moments.tail: _*)
      .withColumn("rho", round(rho, 6) + lit(0.0))
  }
}
