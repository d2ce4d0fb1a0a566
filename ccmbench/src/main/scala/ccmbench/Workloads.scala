package ccmbench

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col

import graft.ccm.{Ccm, CcmSpec, Generators}

/** One coupled (x, y) pair, keyed as the engine sees it. */
final case class Series(skey: Long, x: Array[Double], y: Array[Double])

/** One time step of one series: the row shape every workload feeds Spark. */
final case class Point(skey: Long, ord: Long, x: Double, y: Double)

/** One skill row as the engine returns it, whichever API produced it. */
final case class Out(skey: Long, direction: String, libSize: Int, rho: Double, convergent: Boolean)

/** A benchmark workload: the input shape of one call, the spec it runs at,
  * and which public API the timed loop calls. See WORKLOADS.md for why each
  * exists and which layers it stresses or bypasses.
  *
  * @param seriesPerCall series in one call's input
  * @param points        points per series
  * @param perSeries     the timed loop calls `Ccm.perSeries` (else `Ccm.bidirectional`)
  * @param checked       series per call compared with the executable spec
  *                      (a fixed subset chosen from the run seed)
  */
final case class Workload(
    name: String,
    seriesPerCall: Int,
    points: Int,
    spec: CcmSpec,
    perSeries: Boolean,
    checked: Int
) {
  val ladder: Seq[Int] = spec.resolvedLibSizes(points)

  /** The spec with the ladder pinned, as both APIs and the kernel resolve it. */
  val pinned: CcmSpec = spec.copy(libSizes = Some(ladder))
}

object Workloads {

  val all: Seq[Workload] = Seq(
    // the reference's own use: one 100-point pair at CcmSpec() defaults
    Workload("pair_interactive", 1, 100, CcmSpec(), perSeries = false, checked = 1),
    // few long series, exact kNN, 1 sample: pair-join materialization dominates
    Workload(
      "panel_long",
      4,
      650,
      CcmSpec(numSamples = 1, libSizes = Some(Seq(150, 300, 600))),
      perSeries = false,
      checked = 4
    ),
    // many short series through the one-shuffle kernel path
    Workload("fleet_perseries", 24, 100, CcmSpec(numSamples = 10), perSeries = true, checked = 6)
  )

  def byName(name: String): Workload =
    all.find(_.name == name).getOrElse(
      throw new IllegalArgumentException(s"unknown workload $name; one of ${all.map(_.name).mkString(", ")}")
    )

  /** Couplings cycle through 0, 0.05, ..., 0.35 so both convergent and
    * non-convergent answers can occur.
    */
  val couplings: IndexedSeq[Double] = (0 until 8).map(_ * 0.05)

  private def mix(a: Long, b: Long): Long = {
    var h = a * 0x9e3779b97f4a7c15L + b * 0xbf58476d1ce4e5b9L
    h ^= h >>> 31; h *= 0x94d049bb133111ebL; h ^= h >>> 29
    h
  }

  /** Series `index` of a run, under key `skey`: its own generator seed and
    * initial state, derived from the run seed.
    */
  def series(runSeed: Long, index: Long, points: Int, skey: Long, coupling: Double): Series = {
    val h = mix(runSeed, index)
    val seed = java.lang.Math.floorMod(h, graft.ccm.DetHash.P)
    def unit(k: Int) = (java.lang.Math.floorMod(mix(h, k.toLong), 1000003L)).toDouble / 1000003.0
    val p = Generators.CoupledParams(
      coupling = coupling,
      x0 = 0.2 + 0.6 * unit(1),
      y0 = 0.2 + 0.6 * unit(2),
      seed = seed
    )
    val (x, y) = Generators.coupledSeries(points, p)
    Series(skey, x, y)
  }

  /** The series of input `slot`; slots < 0 are warm-up inputs. Every
    * input keys its series 0, 1, ..., as a caller would, so every call
    * has the same partition layout and only the values differ. The
    * coupling steps across the cycle within an input and by one between
    * inputs, so each input's mix of couplings is as even as its size allows
    * (the cost of a call depends on it).
    */
  def input(w: Workload, runSeed: Long, slot: Int): Seq[Series] = {
    val step = math.max(1, couplings.size / w.seriesPerCall)
    (0 until w.seriesPerCall).map { i =>
      val c = couplings(java.lang.Math.floorMod(slot + i * step, couplings.size))
      series(runSeed, (slot.toLong + 1000L) * w.seriesPerCall + i, w.points, i.toLong, c)
    }
  }

  /** The series of a call that the correctness gate compares with the spec. */
  def checkedSeries(w: Workload, runSeed: Long, in: Seq[Series]): Seq[Series] =
    if (w.checked >= in.size) in
    else in.sortBy(s => mix(runSeed ^ 0x5eedL, s.skey)).take(w.checked)

  def frame(spark: SparkSession, in: Seq[Series]): DataFrame = {
    val rows = in.flatMap(s => s.x.indices.map(t => Point(s.skey, t.toLong, s.x(t), s.y(t))))
    spark.createDataFrame(rows)
  }

  /** The declarative API as a user calls it, collected. */
  def bidirectional(w: Workload, df: DataFrame): Seq[Out] =
    collect(Ccm.bidirectional(df, col("skey"), Seq("ord"), col("x"), col("y"), w.spec, w.ladder))

  def collect(df: DataFrame): Seq[Out] =
    df.select("skey", "direction", "lib_size", "rho", "convergent").collect().toSeq.map { r =>
      Out(r.getLong(0), r.getString(1), r.getInt(2), r.getDouble(3), r.getBoolean(4))
    }

  /** The kernel path as a user calls it, collected. */
  def perSeries(w: Workload, df: DataFrame): Seq[Out] =
    Ccm.perSeries(df, w.spec).collect().toSeq.map(r => Out(r.skey, r.direction, r.lib_size, r.rho, r.convergent))

  /** One call of the workload's API. */
  def call(w: Workload, df: DataFrame): Seq[Out] = if (w.perSeries) perSeries(w, df) else bidirectional(w, df)
}
