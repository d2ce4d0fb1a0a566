package graft.ccm

import org.apache.spark.sql.{Column, DataFrame, Dataset, Row}
import org.apache.spark.sql.functions._

/** User-facing CCM API mirroring the reference's three entry points
  * (`CCM.new/3`, `CCM.cross_map/2`, `CCM.bidirectional_ccm/1`,
  * `lib/ccm.ex:20-84`), lifted to many series at once.
  *
  * One execution strategy serves both distributed entry points,
  * [[bidirectional]] and [[perSeries]]: ONE shuffle places each series in
  * one partition (repartition by series key), a sort within the partition
  * lays every series out as one run in time order, and a scan hands each
  * run to the [[CcmKernel]] — all further work is partition-local, with
  * no pair-join materialization. Within each sample the kernel grows one
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
  * unique within a series (a tied
  * order would make the result depend on physical row order). A series
  * with fewer than (E-1)τ+1 points has no embedding point and yields no
  * rows; a constant series yields rho 0.0 (the zero-variance rule,
  * `lib/ccm.ex:212`).
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
    * @param maxPoints each series is materialized in ONE task's heap (two
    *        doubles per point, plus [[CcmKernel]]'s embeddings and
    *        linear scratch), so a runaway series would OOM the executor;
    *        series longer than this fail fast with a clear message instead.
    *        CCM cost is O(n^2) per series anyway — resample long series
    *        down rather than raising the cap.
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
    * pins) → sort within partitions by (skey, order...) → scan each run of
    * equal skey into two arrays → [[CcmKernel.bidirectional]].
    */
  private[ccm] def bySeries(
      in: DataFrame, order: Seq[String], spec: CcmSpec, libSizes: Option[Seq[Int]], maxPoints: Int
  ): Dataset[SkillRow] = {
    val spark = in.sparkSession
    import spark.implicits._
    val width = 3 + order.size
    val sp = libSizes.fold(spec)(ls => spec.copy(libSizes = Some(ls)))
    in.repartition(spark.sessionState.conf.numShufflePartitions, col("skey"))
      .sortWithinPartitions((col("skey") +: order.map(col)): _*)
      .mapPartitions { rows =>
        val it = rows.buffered
        Iterator.continually(it).takeWhile(_.hasNext).flatMap { _ =>
          // nulls sort first, so a null key always starts a run
          if (it.head.isNullAt(0)) throw new IllegalArgumentException("null series key")
          val key = it.head.getLong(0)
          val xs = new scala.collection.mutable.ArrayBuilder.ofDouble
          val ys = new scala.collection.mutable.ArrayBuilder.ofDouble
          var n = 0
          var prev: Row = null
          while (it.hasNext && it.head.getLong(0) == key) {
            val r = it.next()
            n += 1
            if (n > maxPoints)
              throw new IllegalArgumentException(
                s"series $key exceeds maxPoints=$maxPoints; resample it or raise the cap (each series is held in one task)"
              )
            xs += finite(r, 1, "x", key)
            ys += finite(r, 2, "y", key)
            if (prev != null && (3 until width).forall(i => prev.get(i) == r.get(i)))
              throw new IllegalArgumentException(
                s"series $key repeats the order value ${(3 until width).map(r.get).mkString("(", ", ", ")")}; " +
                  "the order columns must be unique within a series"
              )
            prev = r
          }
          // no embedding point (fewer than (E-1)τ+1 points): no rows
          if (spec.maxLibSize(n) < 1) Nil
          else {
            val res = CcmKernel.bidirectional(xs.result(), ys.result(), sp, key)
            def rows(d: CcmLocal.DirectionResult, name: String) = {
              val slope = CcmLocal.olsSlope(d.results)
              d.results.map { case (l, rho) => SkillRow(key, name, l, rho, slope, d.convergent) }
            }
            rows(res.xCausesY, DirXCausesY) ++ rows(res.yCausesX, DirYCausesX)
          }
        }
      }
  }

  private def finite(r: Row, i: Int, name: String, key: Long): Double = {
    val v = if (r.isNullAt(i)) Double.NaN else r.getDouble(i)
    if (v.isNaN) throw new IllegalArgumentException(s"series $key has a null or NaN $name value")
    v
  }

  /** Single-pair convenience mirroring `CCM.bidirectional_ccm/1` exactly:
    * two in-memory series -> local result (the reference's whole API).
    */
  def bidirectionalLocal(
      x: Seq[Double],
      y: Seq[Double],
      spec: CcmSpec = CcmSpec()
  ): CcmLocal.BidirectionalResult =
    CcmKernel.bidirectional(x.toArray, y.toArray, spec)

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
