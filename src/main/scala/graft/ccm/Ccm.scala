package graft.ccm

import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** User-facing CCM API mirroring the reference's three entry points
  * (`CCM.new/3`, `CCM.cross_map/2`, `CCM.bidirectional_ccm/1`,
  * `lib/ccm.ex:20-84`), lifted to many series at once.
  *
  * Two execution strategies, identical semantics:
  *
  *  - [[bidirectional]]: fully declarative [[CcmPipeline]] — one lazy DAG
  *    over all (series x direction x libSize x sample) cells; Catalyst
  *    plans the shuffles; oracle-checkable as SQL.
  *
  *  - [[perSeries]]: scale path for many independent series — ONE shuffle
  *    (groupByKey on the series id) then the [[CcmLocal]] kernel runs
  *    partition-local per series with zero further data movement. At 100 TB
  *    / millions of series this is embarrassingly parallel and avoids the
  *    pair-join materialization entirely.
  */
object Ccm {

  /** Per-(series, direction, libSize) skill row; `convergent`/`slope`
    * replicated per row for a flat, SQL-friendly result shape.
    */
  final case class SkillRow(
      skey: Long,
      direction: String,
      lib_size: Int,
      rho: Double,
      slope: Double,
      convergent: Boolean
  )

  private[ccm] final case class WidePoint(skey: Long, ord: Long, x: Double, y: Double)

  val DirXCausesY = "x_causes_y"
  val DirYCausesX = "y_causes_x"

  /** The direction convention (`lib/ccm.ex:13-14,49-53`) as (name,
    * source, target) over the [[wide]] columns: x_causes_y embeds Y and
    * predicts X, y_causes_x the reverse. x_causes_y comes first, so every
    * bidirectional result lists its rows in this order.
    */
  private[ccm] val Directions: Seq[(String, String, String)] =
    Seq((DirXCausesY, "y", "x"), (DirYCausesX, "x", "y"))

  /** One per-direction branch `oneDir(source, target, name)` per
    * [[Directions]] entry, unioned by name in table order.
    */
  private[ccm] def bothDirections(oneDir: (String, String, String) => DataFrame): DataFrame =
    Directions.map { case (dir, src, tgt) => oneDir(src, tgt, dir) }.reduce(_ unionByName _)

  /** The wide input every bidirectional EDM operator starts from:
    * (skey: long, x, y, order...), one row per time step.
    */
  private[ccm] def wide(df: DataFrame, skey: Column, order: Seq[String], x: Column, y: Column): DataFrame =
    df.select(Seq(skey.cast("long").as("skey"), x.as("x"), y.as("y")) ++ order.map(col): _*)

  /** Declarative bidirectional CCM over a wide DataFrame of many series.
    *
    * @param df     input with one row per time step
    * @param skey   numeric series key column
    * @param order  ordering columns (time)
    * @param x      X series values
    * @param y      Y series values
    * @return (skey, direction, lib_size, rho, slope, convergent)
    */
  def bidirectional(
      df: DataFrame,
      skey: Column,
      order: Seq[String],
      x: Column,
      y: Column,
      spec: CcmSpec,
      libSizes: Seq[Int]
  ): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = wide(df, skey, order, x, y)
    val ord = order.map(col)
    // Direction trap (`lib/ccm.ex:49-53`): x_causes_y embeds Y, targets X
    // — the [[Directions]] table, which [[CcmPipeline.embeddedBoth]]
    // turns into both directions' embeddings in a single window pass
    // (round 17; the former two-branch union sorted and windowed the
    // shared base twice).
    val emb = CcmPipeline.embeddedBoth(base, Seq("skey"), ord, $"x", $"y", spec.embeddingDim, spec.tau)
    val keys = Seq("skey", "direction")
    // localCheckpoint: the ranked relation feeds BOTH sides of the kNN
    // self-join (plus the n_pts guard subquery) — ReuseExchange dedupes
    // only the shuffle below the rank window, so without materialization
    // the hash-rank window itself runs once per consumer. At cluster
    // scale the equivalent is persisting the ranked table once.
    val rk = CcmPipeline
      .ranked(emb, keys, spec.numSamples, spec.seed, col("skey"), spec.consecutive)
      .localCheckpoint()
    val sk =
      CcmPipeline.skill(
        rk,
        keys,
        libSizes,
        spec.numSamples,
        spec.embeddingDim,
        spec.knnBuckets,
        spec.knnAutoFactor,
        spec.reuseDistances,
        spec.fusedTopK
      )
    // Convergence as a WINDOW aggregate over the skill rows (identical values
    // to the groupBy form in [[CcmPipeline.convergence]]) — a join against a
    // convergence subquery would make Spark execute the whole skill subtree
    // twice; the window keeps it a single pass.
    val wd = org.apache.spark.sql.expressions.Window.partitionBy(keys.map(col): _*)
    val perRow = sk
      .withColumn("slope_raw", regr_slope($"rho", $"lib_size".cast("double")).over(wd))
      .withColumn("n_sizes", count(lit(1)).over(wd))
    CcmPipeline.withConvergence(perRow, "slope_raw", "n_sizes").drop("slope_raw", "n_sizes")
  }

  /** Scale path: one shuffle to co-locate each series, then the local kernel.
    * Input columns: (skey: Long, ord: Long, x: Double, y: Double).
    *
    * `CcmSpec.knnBuckets > 0` enables the same approximate-kNN candidate
    * pruning as the declarative path, with BIT-IDENTICAL bucket semantics
    * ([[CcmLocal]] e0Buckets — `ccm_wide_approx_perseries` shares
    * `ccm_wide_approx`'s oracle verbatim): each prediction point scans
    * only library rows within ±1 e0 grid bucket instead of the whole
    * library, cutting the kernel's O(n·lib) distance work per sample.
    *
    * @param maxPoints each series is materialized in ONE task's heap
    *        (~32 bytes/point), so a runaway series would OOM the executor;
    *        series longer than this fail fast with a clear message instead.
    *        CCM cost is O(n^2) per series anyway — resample long series
    *        down rather than raising the cap.
    */
  def perSeries(
      df: DataFrame,
      spec: CcmSpec,
      libSizes: Option[Seq[Int]] = None,
      maxPoints: Int = 1 << 20
  ): Dataset[SkillRow] = {
    val spark = df.sparkSession
    import spark.implicits._
    df.select(
        col("skey").cast("long").as("skey"),
        col("ord").cast("long").as("ord"),
        col("x").cast("double").as("x"),
        col("y").cast("double").as("y")
      )
      .as[WidePoint]
      .groupByKey(_.skey)
      .flatMapGroups { (skey, it) =>
        val buf = scala.collection.mutable.ArrayBuffer.empty[WidePoint]
        var over = false
        while (it.hasNext && !over) {
          buf += it.next()
          if (buf.length > maxPoints) over = true
        }
        if (over)
          throw new IllegalArgumentException(
            s"series $skey exceeds maxPoints=$maxPoints; resample it or raise the cap (perSeries holds one series per task)"
          )
        val pts = buf.toArray.sortBy(_.ord)
        val xs = pts.map(_.x)
        val ys = pts.map(_.y)
        val ls = libSizes.getOrElse(spec.resolvedLibSizes(xs.length))
        val sp = spec.copy(libSizes = Some(ls))
        val res = CcmLocal.bidirectional(xs, ys, sp, skey)
        def rows(d: CcmLocal.DirectionResult, name: String) = {
          val slope = CcmLocal.olsSlope(d.results)
          d.results.map { case (l, rho) => SkillRow(skey, name, l, rho, slope, d.convergent) }
        }
        rows(res.xCausesY, DirXCausesY) ++ rows(res.yCausesX, DirYCausesX)
      }
  }

  /** Single-pair convenience mirroring `CCM.bidirectional_ccm/1` exactly:
    * two in-memory series -> local result (the reference's whole API).
    */
  def bidirectionalLocal(
      x: Seq[Double],
      y: Seq[Double],
      spec: CcmSpec = CcmSpec()
  ): CcmLocal.BidirectionalResult =
    CcmLocal.bidirectional(x.toArray, y.toArray, spec)

  /** Parse the reference's livemd custom-data format (`examples.livemd:
    * 203-218`): two newline-separated, comma-separated float rows, equal
    * length, >= 10 points.
    */
  def parseSeriesText(text: String): (Array[Double], Array[Double]) = {
    val rows = text.trim.split("\n").map(_.trim).filter(_.nonEmpty)
    require(rows.length == 2, "expected exactly two series lines")
    val parsed = rows.map(_.split(",").map(_.trim.toDouble))
    require(parsed(0).length == parsed(1).length, "series must have equal length")
    require(parsed(0).length >= 10, "series must have at least 10 points")
    (parsed(0), parsed(1))
  }

  /** Column form of one [[parseSeriesText]] row — identical split / trim /
    * cast-to-double semantics, but distributed: parses a comma-separated
    * series line per row without leaving the executor (`ingest_series`
    * contract query; ParseSeriesSpec pins equality with the driver path).
    */
  def parseCsvLine(line: Column): Column =
    transform(split(line, ","), x => trim(x).cast("double"))
}
