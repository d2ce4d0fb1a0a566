package graft.ccm

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** S-map semantics (graft.ccm.Smap): the DuckDB gate (ccm_smap) pins the
  * arithmetic; these pin the DIAGNOSTIC the operator exists for —
  * θ-localization must help on genuinely nonlinear dynamics and must not
  * manufacture nonlinearity on a linear stochastic series.
  */
class SmapSpec extends SparkTestBase {

  private def runSmap(rows: Seq[(Long, Long, Double, Double)]) = {
    import spark.implicits._
    Smap
      .bidirectional(
        rows.toDF("skey", "ord", "x", "y"),
        skey = col("skey"),
        order = Seq("ord"),
        x = col("x"),
        y = col("y")
      )
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)) -> (r.getDouble(3), r.getBoolean(4)))
      .toMap
  }

  test("logistic-map dynamics show state-dependence; linear AR does not") {
    // nonlinear: the reference's own coupled logistic maps
    val (xs, ys) = Generators.coupledLogisticMaps(150, 0.2)
    val nonlinearRows = xs.indices.map(i => (1L, i.toLong, xs(i), ys(i)))
    // linear control: x is AR(1) with DetHash-uniform innovations and y is
    // LINEARLY coupled to it (y = 0.6x + noise) — cross-mapping between
    // independent series would be pure noise and θ-localization overfits
    // noise into spurious "gains"; a linearly coupled pair is the fair
    // "one global linear model suffices" baseline
    def u(i: Int, stream: Long): Double =
      DetHash.rankHash(i.toLong, stream, 0L, 9L).toDouble / DetHash.P
    val n = 150
    val ax = new Array[Double](n); val ay = new Array[Double](n)
    var vx = 0.3
    for (i <- 0 until n) {
      ax(i) = vx
      ay(i) = 0.6 * vx + 0.05 * (u(i, 2) - 0.5)
      vx = 0.8 * vx + 0.1 * (u(i, 1) - 0.5)
    }
    val linearRows = (0 until n).map(i => (2L, i.toLong, ax(i), ay(i)))

    val res = runSmap(nonlinearRows ++ linearRows)
    val thetas = Smap.DefaultThetas
    // nonlinear series: skill at the best θ must clearly beat θ=0 in at
    // least one direction, and the flag must say so
    val gains1 = Seq("x_causes_y", "y_causes_x").map { d =>
      val rhoByTheta = thetas.map(t => res((1L, d, t))._1)
      rhoByTheta.max - rhoByTheta.head
    }
    info(f"logistic θ-gains: ${gains1.map(g => f"$g%.3f").mkString(", ")}")
    assert(gains1.max > 0.01, s"no direction gained skill from θ-localization: $gains1")
    assert(
      Seq("x_causes_y", "y_causes_x").exists(d => res((1L, d, thetas.head))._2),
      "nonlinear flag not raised on logistic-map dynamics"
    )
    // linear series: θ-localization must NOT look strongly nonlinear —
    // the gain stays an order of magnitude below the logistic one
    val gains2 = Seq("x_causes_y", "y_causes_x").map { d =>
      val rhoByTheta = thetas.map(t => res((2L, d, t))._1)
      rhoByTheta.max - rhoByTheta.head
    }
    info(f"AR(1) θ-gains: ${gains2.map(g => f"$g%.3f").mkString(", ")}")
    assert(gains2.max < gains1.max / 2,
      s"linear series gained $gains2 from θ — comparable to nonlinear $gains1")
  }

  test("theta=0 reduces to the global linear regression in both directions") {
    import spark.implicits._
    // y = 2x + 1 exactly: a single global linear model predicts perfectly,
    // so rho at EVERY theta is 1 and the nonlinear flag stays false
    val rows = (0 until 60).map(i => (7L, i.toLong, i * 0.01, 2 * (i * 0.01) + 1))
    val res = runSmap(rows)
    res.foreach { case ((_, d, t), (rho, flag)) =>
      assert(rho >= 0.999999, s"$d θ=$t: rho $rho on an exactly linear map")
      assert(!flag, s"$d θ=$t: nonlinear flagged on an exactly linear map")
    }
  }

  private def runSmapE(rows: Seq[(Long, Long, Double, Double)], e: Int) = {
    import spark.implicits._
    Smap
      .bidirectionalE(
        rows.toDF("skey", "ord", "x", "y"),
        skey = col("skey"),
        order = Seq("ord"),
        x = col("x"),
        y = col("y"),
        e = e
      )
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getDouble(2)) -> (r.getDouble(3), r.getBoolean(4)))
      .toMap
  }

  test("general-E at E=1 equals the closed form exactly") {
    // the Cramer machinery at E=1 is a 2x2 solve — algebraically identical
    // to the five-sums closed form; both paths round to 6 dp, so the maps
    // must be EQUAL, not merely close (same input, same engine)
    val (xs, ys) = Generators.coupledLogisticMaps(80, 0.25)
    val rows = xs.indices.map(i => (1L, i.toLong, xs(i), ys(i)))
    val closed = runSmap(rows)
    val general = runSmapE(rows, 1)
    assert(general == closed, "bidirectionalE(e=1) diverged from the closed form")
  }

  test("E=3 nonlinear-gain pin: logistic dynamics gain skill, exact-linear stays flat") {
    // VERDICT r8 item 3 "done" criterion: the θ-diagnostic at the FNN-regime
    // embedding dimension. The 3-lag embedding unfolds the logistic
    // attractor, so θ-localization must still find state-dependence...
    val (xs, ys) = Generators.coupledLogisticMaps(150, 0.2)
    val res = runSmapE(xs.indices.map(i => (1L, i.toLong, xs(i), ys(i))), 3)
    val thetas = Smap.DefaultThetas
    val gains = Seq("x_causes_y", "y_causes_x").map { d =>
      val rhoByTheta = thetas.map(t => res((1L, d, t))._1)
      rhoByTheta.max - rhoByTheta.head
    }
    info(f"E=3 logistic θ-gains: ${gains.map(g => f"$g%.3f").mkString(", ")}")
    assert(gains.max > 0.01, s"E=3: no direction gained skill from θ-localization: $gains")
    assert(
      Seq("x_causes_y", "y_causes_x").exists(d => res((1L, d, thetas.head))._2),
      "E=3: nonlinear flag not raised on logistic-map dynamics"
    )
    // ...and an exactly linear map is predicted perfectly by the global
    // model at every θ — the 4x4 solve must not manufacture nonlinearity.
    // x is DetHash-uniform (NOT a ramp: a ramp's 3-lag embedding is exactly
    // collinear → singular normal matrix, which is the dbar-guard test's
    // job, not this one); y = 2x + 1 keeps a zero-residual linear fit whose
    // WLS solution is the true coefficients at every θ
    val lin = (0 until 60).map { i =>
      val xv = DetHash.rankHash(i.toLong, 5L, 0L, 9L).toDouble / DetHash.P
      (7L, i.toLong, xv, 2 * xv + 1)
    }
    val linRes = runSmapE(lin, 3)
    linRes.foreach { case ((_, d, t), (rho, flag)) =>
      assert(rho >= 0.999999, s"E=3 $d θ=$t: rho $rho on an exactly linear map")
      assert(!flag, s"E=3 $d θ=$t: nonlinear flagged on an exactly linear map")
    }
  }

  test("constant source series survives the dbar=0 guard") {
    val rows = (0 until 30).map(i => (3L, i.toLong, 0.5, i * 0.1))
    val res = runSmap(rows)
    res.values.foreach { case (rho, _) => assert(!rho.isNaN) }
    Smap.DefaultThetas.foreach { t =>
      // x_causes_y maps FROM y TO the constant x: zero target variance →
      // the 0.0 convention
      assert(res((3L, "x_causes_y", t))._1 == 0.0, "constant-target corr must follow the 0.0 convention")
      // y_causes_x maps FROM the constant x: dbar=0 → uniform weights,
      // singular normal matrix → prediction is the LEAVE-ONE-OUT mean
      // (S - y_t)/(n-1), which is exactly anti-correlated with y_t
      assert(res((3L, "y_causes_x", t))._1 == -1.0, "leave-one-out mean must be perfectly anti-correlated")
    }
  }

  /** Plain-Scala E=1 S-map at one θ, the contract of [[Smap.coeffs]]: per
    * direction and target t (1-based), leave-one-out pairs over the other
    * points, d̄ = mean |src_i - src_t|, w_i = exp(-θ·d_i/d̄) (1 when
    * d̄ = 0), the five weighted sums, slope 0 when |den| <= 1e-12, both
    * outputs rounded half-up to 6 dp.
    */
  private def coeffsBruteForce(xs: Array[Double], ys: Array[Double], theta: Double) = {
    def round6(v: Double): Double =
      BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble + 0.0
    def oneDir(src: Array[Double], tgt: Array[Double], dir: String) =
      src.indices.map { t =>
        val lib = src.indices.filter(_ != t)
        val d = lib.map(i => math.abs(src(i) - src(t)))
        val dbar = d.sum / d.size
        val w = d.map(di => if (dbar > 0.0) math.exp((-theta * di) / dbar) else 1.0)
        val sw = w.sum
        val swx = lib.indices.map(j => w(j) * src(lib(j))).sum
        val swy = lib.indices.map(j => w(j) * tgt(lib(j))).sum
        val swxx = lib.indices.map(j => w(j) * src(lib(j)) * src(lib(j))).sum
        val swxy = lib.indices.map(j => w(j) * src(lib(j)) * tgt(lib(j))).sum
        val den = sw * swxx - swx * swx
        val bc = if (math.abs(den) > 1e-12) (sw * swxy - swx * swy) / den else 0.0
        val pred = (swy - bc * swx) / sw + bc * src(t)
        (dir, t + 1L) -> (tgt(t), round6(bc), round6(pred))
      }
    (oneDir(ys, xs, Ccm.DirXCausesY) ++ oneDir(xs, ys, Ccm.DirYCausesX)).toMap
  }

  private def runCoeffs(xs: Array[Double], ys: Array[Double], theta: Double) = {
    import spark.implicits._
    val df = xs.indices.map(i => (5L, i.toLong, xs(i), ys(i))).toDF("skey", "ord", "x", "y")
    val rows = Smap.coeffs(df, col("skey"), Seq("ord"), col("x"), col("y"), theta).collect()
    assert(rows.forall(_.getLong(0) == 5L))
    rows
      .map(r => (r.getString(1), r.getLong(2)) -> (r.getDouble(3), r.getDouble(4), r.getDouble(5)))
      .toMap
  }

  test("coeffs equals a plain E=1 S-map on coupled logistic maps, after the 6-dp round") {
    val (xs, ys) = Generators.coupledLogisticMaps(40, 0.2)
    for (theta <- Seq(0.0, 2.0)) {
      val got = runCoeffs(xs, ys, theta)
      val want = coeffsBruteForce(xs, ys, theta)
      assert(got.size == 2 * xs.length)
      assert(got == want, s"θ=$theta: coeffs diverged from the brute force")
      assert(got.values.exists(_._2 != 0.0), s"θ=$theta: every slope is 0")
    }
  }

  test("coeffs on a constant source: uniform weights, singular matrix, slope 0") {
    // x constant: in y_causes_x (source x) every distance is 0, so d̄ = 0
    // selects uniform weights, and den = sw·swxx − swx² = 0 exactly, so
    // the slope drops and pred is the leave-one-out mean of y
    val xs = Array.fill(25)(0.5)
    val ys = Array.tabulate(25)(i => math.sin(0.7 * i))
    val got = runCoeffs(xs, ys, 2.0)
    assert(got == coeffsBruteForce(xs, ys, 2.0))
    val s = ys.sum
    for (t <- ys.indices) {
      val (tg, slope, pred) = got((Ccm.DirYCausesX, t + 1L))
      assert(tg == ys(t) && slope == 0.0)
      assert(math.abs(pred - (s - ys(t)) / (ys.length - 1)) < 1e-6, s"t=$t: pred $pred")
    }
  }
}
