package graft.ccm

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Multiview cross-mapping (graft.ccm.Multiview): the DuckDB gate
  * (ccm_multiview) pins the arithmetic; these pin the behavior the
  * operator exists for — on a genuinely coupled system the skill-ranked
  * view ensemble recovers the coupling, and view ranking/averaging is
  * deterministic.
  */
class MultiviewSpec extends SparkTestBase {

  private def run(x: Array[Double], y: Array[Double]) = {
    import spark.implicits._
    val rows = x.indices.map(i => (1L, i.toLong, x(i), y(i)))
    Multiview
      .crossMap(
        rows.toDF("skey", "ord", "x", "y"),
        skey = col("skey"),
        order = Seq("ord"),
        x = col("x"),
        y = col("y")
      )
      .collect()
      .map(r =>
        (r.getLong(0), (r.getLong(1), r.getInt(2), r.getDouble(3), r.getString(4), r.getDouble(5)))
      )
      .toMap
  }

  test("coupled logistic maps: multiview cross-map recovers the coupling with high skill") {
    // Y drives X in the reference generator: cross-mapping X from
    // embeddings of Y's DRIVEN partner tests the information flow.
    // Use the driven series as y (embedded) and the driver as x (target):
    // M_y encodes x, so skill should be high.
    val (xs, ys) = Generators.coupledLogisticMaps(220, coupling = 0.4)
    val got = run(ys, xs) // embed the driver-bearing series, map the other
    val (nPts, _, bestRho, topViews, mvRho) = got(1L)
    assert(nPts > 180, s"expected most points valid, got $nPts")
    assert(mvRho > 0.8, s"multiview rho on coupled logistic maps should be high, got $mvRho")
    assert(bestRho > 0.8, s"best single view should also be skilled, got $bestRho")
    assert(topViews.split(",").length == 3, s"three ranked views expected, got '$topViews'")
  }

  test("independent noise series yield near-zero multiview skill") {
    val rng = new scala.util.Random(7)
    val a = Array.fill(200)(rng.nextDouble())
    val b = Array.fill(200)(rng.nextDouble())
    val (_, _, _, _, mvRho) = run(a, b)(1L)
    assert(math.abs(mvRho) < 0.35, s"independent series should have low skill, got $mvRho")
  }

  test("a constant target series yields rho 0.0 instead of a divide-by-zero") {
    val (_, ys) = Generators.coupledLogisticMaps(100, coupling = 0.3)
    val (_, _, bestRho, _, mvRho) = run(Array.fill(100)(2.0), ys)(1L)
    assert(bestRho == 0.0 && mvRho == 0.0, s"best $bestRho, multiview $mvRho")
  }

  test("view ranking is deterministic across repeated runs") {
    val (xs, ys) = Generators.coupledLogisticMaps(120, coupling = 0.3)
    val r1 = run(ys, xs)(1L)
    val r2 = run(ys, xs)(1L)
    assert(r1 == r2, s"repeated runs disagree: $r1 vs $r2")
  }

  /** Sequential mirror of the whole multiview pipeline — independent of
    * both the Spark plan and the DuckDB oracle formulation.
    */
  private def localMultiview(
      x: Array[Double],
      y: Array[Double]
  ): (Long, Int, Double, String, Double) = {
    val lags = Seq(0, 1, 2, 3)
    val maxLag = lags.max
    // 1-based idx i over the series; valid rows have idx > maxLag
    val n = x.length
    val valid = (maxLag + 1) to n
    def r6(v: Double) = BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    def pearson(a: Seq[Double], b: Seq[Double]): Double = {
      val ma = a.sum / a.size; val mb = b.sum / b.size
      val cov = a.zip(b).map { case (p, q) => (p - ma) * (q - mb) }.sum
      val va = a.map(p => (p - ma) * (p - ma)).sum
      val vb = b.map(q => (q - mb) * (q - mb)).sum
      if (va == 0.0 || vb == 0.0) 0.0 else cov / math.sqrt(va * vb)
    }
    val views = Multiview.viewPairs(lags)
    val perView = views.map { case (vid, l1, l2) =>
      def coords(i: Int) = (y(i - 1 - l1), y(i - 1 - l2)) // idx is 1-based
      val preds = valid.map { qi =>
        val (qc0, qc1) = coords(qi)
        val neigh = valid
          .filter(_ != qi)
          .map { li =>
            val (c0, c1) = coords(li)
            val d = math.sqrt((qc0 - c0) * (qc0 - c0) + (qc1 - c1) * (qc1 - c1))
            (d, li)
          }
          .sortBy(identity)
          .take(3)
        val dmin = neigh.map(_._1).min
        val ws = neigh.map { case (d, li) =>
          val w = if (d < 1e-12) 1.0 else math.exp(-d / (dmin + 1e-8))
          (w, x(li - 1))
        }
        val sw = ws.map(_._1).sum
        val pred = if (sw == 0.0) 0.0 else ws.map { case (w, v) => w * v }.sum / sw
        (qi, x(qi - 1), pred)
      }
      val rho6 = r6(pearson(preds.map(_._2), preds.map(_._3)))
      (vid, rho6, preds.map(p => p._1 -> p._3).toMap)
    }
    val ranked = perView.sortBy { case (vid, rho6, _) => (-rho6, vid) }
    val top = ranked.take(3)
    val mvPred = valid.map(qi => (qi, top.map(_._3(qi)).sum / top.size))
    val mvRho = r6(pearson(valid.map(i => x(i - 1)), mvPred.map(_._2)))
    (
      valid.size.toLong,
      top.head._1,
      top.head._2,
      top.map(_._1).mkString(","),
      mvRho
    )
  }

  test("matches an independent sequential implementation on random series") {
    val random = (1 to 3).map { seed =>
      val rng = new scala.util.Random(seed)
      val n = 40 + rng.nextInt(20)
      (s"seed=$seed", Array.fill(n)(rng.nextDouble()), Array.fill(n)(rng.nextDouble()))
    }
    // values quantised to 0.1: many equal distances, so the (dist, idx)
    // tie-break decides the neighbor sets
    val tied = {
      val rng = new scala.util.Random(11)
      def q() = math.round(rng.nextDouble() * 10) / 10.0
      ("quantised", Array.fill(50)(q()), Array.fill(50)(q()))
    }
    for ((label, a, b) <- random :+ tied) {
      val got = run(a, b)(1L)
      val want = localMultiview(a, b)
      val close = got._1 == want._1 && got._2 == want._2 &&
        math.abs(got._3 - want._3) < 2e-6 && got._4 == want._4 &&
        math.abs(got._5 - want._5) < 2e-6
      assert(close, s"$label n=${a.length} spark=$got local=$want")
    }
  }
}
