package graft.ccm

import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoder, Encoders}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** User-facing CCM API mirroring the reference's three entry points
  * (`CCM.new/3`, `CCM.cross_map/2`, `CCM.bidirectional_ccm/1`,
  * `lib/ccm.ex:20-84`), lifted to many series at once.
  *
  * One execution strategy serves both distributed entry points,
  * [[bidirectional]] and [[perSeries]]: ONE shuffle places each series in
  * one partition (repartition by series key), the task gathers its
  * partition's points into primitive buffers reserved from the task's
  * memory manager (about 68 bytes a point for one long order column, see
  * [[PartitionPoints]]), orders each series with Spark's own ordering of
  * the order columns, and hands each series to the [[CcmKernel]] — all
  * further work is partition-local, with no pair-join materialization.
  * The buffers cannot spill: a partition that does not fit in the task's
  * execution memory fails with an `IllegalStateException` naming the
  * remedy, more shuffle partitions. Within each sample the kernel grows one
  * library per query across the ascending lib sizes, so each distance is
  * computed once per sample rather than once per (lib size, sample) cell;
  * it returns [[CcmLocal]]'s brute-force answer bit for bit. The
  * declarative [[CcmPipeline]] stays the relational form of the same
  * operators (the oracle SQL mirrors it) and is reached through its own
  * functions.
  *
  * Input contract, checked by the scan and failing the job with an
  * `IllegalArgumentException` that names the series: the series key is
  * never null, x and y are never null or NaN, and the order columns are
  * unique within a series as Spark's ordering compares them, so two NaN
  * orders tie, as do -0.0 and 0.0 and two nulls (a tied order would make
  * the result depend on physical row order). A series with fewer than
  * (E-1)τ+1 points has no embedding point and yields no rows; a constant
  * series yields rho 0.0 (the zero-variance rule, `lib/ccm.ex:212`).
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

  private val DefaultMaxPoints = 1 << 20

  private val skillRowEncoder: Encoder[SkillRow] = Encoders.product[SkillRow]

  /** Bidirectional CCM over a wide DataFrame of many series.
    *
    * Each series is held in one task, at most 2^20 points (the
    * [[perSeries]] `maxPoints` default); a longer series fails the job.
    *
    * @param df     input with one row per time step
    * @param skey   numeric series key column
    * @param order  ordering columns (time), unique within a series
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
  ): DataFrame =
    bySeries(wide(df, skey, order, x.cast("double"), y.cast("double")), order, spec, Some(libSizes), DefaultMaxPoints)
      .toDF()

  /** [[bidirectional]] over fixed columns (skey, ord: Long, x, y), with an
    * optional ladder (default: each series' own auto-ladder,
    * `lib/ccm.ex:86-97`).
    *
    * @param maxPoints each series is held whole in ONE task: its points sit
    *        in the task's reserved buffers with the rest of the partition
    *        (68 bytes a point), and [[CcmKernel]] adds its embeddings and
    *        linear scratch on the heap, so series longer than this fail
    *        with a clear message. CCM cost is O(n^2) per series anyway —
    *        resample long series down rather than raising the cap.
    */
  def perSeries(
      df: DataFrame,
      spec: CcmSpec,
      libSizes: Option[Seq[Int]] = None,
      maxPoints: Int = DefaultMaxPoints
  ): Dataset[SkillRow] = {
    val in = wide(df, col("skey"), Seq("ord"), col("x").cast("double"), col("y").cast("double"))
    bySeries(in.withColumn("ord", col("ord").cast("long")), Seq("ord"), spec, libSizes, maxPoints)
  }

  /** The one runner, over [[wide]]'s shape with x, y double: repartition
    * by skey at the session's shuffle width (an explicit count, so AQE
    * does not coalesce it — the same knob [[CcmPipeline.predictions]]
    * pins) → gather the partition into [[PartitionPoints]] and order it by
    * (skey, order...) → check each series ([[checkSeries]], `maxPoints`)
    * and hand it to [[CcmKernel.bidirectional]], in ascending key order.
    * A task holds its whole partition, reserved from its memory manager
    * and reported as its peak execution memory; one that does not fit
    * fails (raise the shuffle width).
    */
  private[ccm] def bySeries(
      in: DataFrame, order: Seq[String], spec: CcmSpec, libSizes: Option[Seq[Int]], maxPoints: Int
  ): Dataset[SkillRow] = {
    val spark = in.sparkSession
    val orderSchema = StructType(in.schema.fields.drop(3))
    val sp = libSizes.fold(spec)(ls => spec.copy(libSizes = Some(ls)))
    in.repartition(spark.sessionState.conf.numShufflePartitions, col("skey"))
      .mapPartitions { rows =>
        val pts = new PartitionPoints(orderSchema)
        rows.foreach(pts.add)
        pts.series().flatMap { case (key, at) =>
          val n = at.length
          if (n > maxPoints)
            throw new IllegalArgumentException(
              s"series $key exceeds maxPoints=$maxPoints; resample it or raise the cap (each series is held in one task)"
            )
          val xs = at.map(pts.x)
          val ys = at.map(pts.y)
          checkSeries(key, xs, ys, j => if (pts.compareOrder(at(j - 1), at(j)) == 0) Some(pts.orderText(at(j))) else None)
          // no embedding point (fewer than (E-1)τ+1 points): no rows
          if (spec.maxLibSize(n) < 1) Nil
          else {
            val res = CcmKernel.bidirectional(xs, ys, sp, key)
            def rows(d: CcmLocal.DirectionResult, name: String) = {
              val slope = CcmLocal.olsSlope(d.results)
              d.results.map { case (l, rho) => SkillRow(key, name, l, rho, slope, d.convergent) }
            }
            rows(res.xCausesY, DirXCausesY) ++ rows(res.yCausesX, DirYCausesX)
          }
        }
      }(skillRowEncoder)
  }

  /** The per-series input contract over a series laid out in order, as
    * every CCM entry point checks it: x and y are never NaN (a null is
    * read as NaN), and no point repeats its predecessor's order value.
    * `repeats(i)`, asked for i ≥ 1, gives point i's order value as text
    * when it ties point i-1's. Fails with an `IllegalArgumentException`
    * that names the series.
    */
  private[graft] def checkSeries(
      key: Long, xs: Array[Double], ys: Array[Double], repeats: Int => Option[String]
  ): Unit = {
    require(xs.length == ys.length, "x_series and y_series must have the same length")
    var i = 0
    while (i < xs.length) {
      if (xs(i).isNaN) throw new IllegalArgumentException(s"series $key has a null or NaN x value")
      if (ys(i).isNaN) throw new IllegalArgumentException(s"series $key has a null or NaN y value")
      if (i > 0) repeats(i).foreach { v =>
        throw new IllegalArgumentException(
          s"series $key repeats the order value $v; the order columns must be unique within a series"
        )
      }
      i += 1
    }
  }

  /** Single-pair convenience mirroring `CCM.bidirectional_ccm/1` exactly:
    * two in-memory series -> local result (the reference's whole API).
    */
  def bidirectionalLocal(
      x: Seq[Double],
      y: Seq[Double],
      spec: CcmSpec = CcmSpec()
  ): CcmLocal.BidirectionalResult = {
    val (xs, ys) = (x.toArray, y.toArray)
    // the points are in order by position, so none repeats an order value
    checkSeries(0L, xs, ys, _ => None)
    CcmKernel.bidirectional(xs, ys, spec)
  }

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
