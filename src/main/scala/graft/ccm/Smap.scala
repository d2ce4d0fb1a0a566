package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** S-map — sequential locally weighted global linear maps (Sugihara 1994,
  * "Nonlinear forecasting for the classification of natural time series").
  * The classic EDM companion to the reference's simplex-projection CCM
  * (`lib/ccm.ex:139-177` is the kNN/simplex half of the same toolkit; the
  * reference stops there): for each target point, fit a linear map over
  * the WHOLE library with distances-to-target exponentially weighted by
  * `w_i = exp(-θ·d_i / d̄)`, and sweep θ. θ=0 is one global linear model;
  * growing skill with θ ("state-dependence") is the standard EDM evidence
  * that the dynamics are nonlinear — the diagnostic that motivates using
  * CCM at all.
  *
  * This implementation is the E=1 closed form: per (target, θ) the
  * weighted least squares over library pairs `(src_i → tgt_i)` reduces to
  * five weighted sums (Sw, Swx, Swy, Swxx, Swxy), so the whole sweep is
  * pair-join → window mean → aggregate — fully declarative, one shuffle
  * per stage, and replayable in ANSI SQL (the ccm_smap oracle). Library
  * membership is leave-one-out (every other point of the same series).
  *
  * Every entry point is one chain: the wide input indexed once
  * ([[indexed]]), one branch per direction ([[Ccm.Directions]],
  * `lib/ccm.ex:49-53`: x_causes_y maps FROM Y (src) TO X (tgt)), a
  * leave-one-out pair join, the d̄ + θ-weight step ([[thetaWeighted]]),
  * then a solve — the E=1 five-sums closed form ([[closedForm]], shared
  * by [[coeffs]] and [[bidirectional]]) or the general-E Cramer solve
  * ([[bidirectionalE]]) — and, for the θ sweeps, one rho + `nonlinear`
  * tail ([[sweep]]).
  *
  * Scale: pairs are generated per series only (equi-join on the series
  * key), so a million independent series parallelize freely; per-series
  * cost is the same O(n²) the simplex pipeline already pays. Degenerate
  * guards: `d̄ = 0` (constant source series) falls back to uniform
  * weights; a singular normal matrix (|den| <= 1e-12) drops the slope and
  * predicts the weighted mean; corr over <2 points or zero variance → 0.0
  * (the C9 convention, [[Knn.guardedRho]]).
  */
object Smap {
  val DefaultThetas: Seq[Double] = Seq(0.0, 0.5, 1.0, 2.0, 4.0, 8.0)
  val DefaultNonlinearEps: Double = 0.01

  // ----- general-E machinery (VERDICT r8 item 3) --------------------------
  // For E > 1 the weighted least squares is an (E+1)-dim normal-equation
  // solve. Rather than a per-row linear-algebra kernel (which would leave
  // whole-stage codegen AND be unreplayable in the DuckDB oracle), the
  // Cramer's-rule solution is generated ONCE as an arithmetic string over
  // named weighted co-moment columns and handed verbatim to BOTH engines —
  // Spark via expr(), DuckDB via the oracle SQL. Parity is by construction:
  // the two engines parse the identical expression tree; the remaining
  // aggregation-order ulp noise is absorbed by the 6-dp round like every
  // other query in this family.

  /** Symmetric normal matrix A (size (e+1)²) over moment column names:
    * A[0][0]=sw, A[0][j]=a_j (Σ w·v_j), A[j][k]=a_{min}_{max} (Σ w·v_j·v_k).
    */
  private def normalMatrix(e: Int): Vector[Vector[String]] =
    Vector.tabulate(e + 1, e + 1) { (i, j) =>
      (i, j) match {
        case (0, 0)           => "sw"
        case (0, k)           => s"a$k"
        case (k, 0)           => s"a$k"
        case (i2, j2)         =>
          val (lo, hi) = (math.min(i2, j2), math.max(i2, j2)); s"a${lo}_$hi"
      }
    }

  /** Laplace-expansion determinant as a fully parenthesized arithmetic
    * string — parseable identically by Spark SQL and DuckDB.
    */
  private def detStr(m: Vector[Vector[String]]): String =
    if (m.size == 1) m(0)(0)
    else
      m(0).indices
        .map { j =>
          val minor = m.tail.map(row => row.patch(j, Nil, 1))
          val term = s"${m(0)(j)} * (${detStr(minor)})"
          if (j == 0) term else if (j % 2 == 0) s"+ $term" else s"- $term"
        }
        .mkString(" ")

  /** The S-map prediction for one (target, θ) group as a single arithmetic
    * expression over the group's moment columns (`sw`, `a*`, `b*`) and the
    * target's embedding (`tv1..tvE`): pred = Σ_m det(A|col m→b)·φ_t[m] /
    * det(A), with the singular-matrix guard falling back to the weighted
    * mean b0/sw (the E=1 convention: drop the slope, keep the intercept).
    */
  def cramerPredExpr(e: Int): String = {
    val a = normalMatrix(e)
    val bvec = Vector.tabulate(e + 1)(m => if (m == 0) "b0" else s"b$m")
    val detA = detStr(a)
    val phi = Vector.tabulate(e + 1)(m => if (m == 0) "1.0" else s"tv$m")
    // column m of A replaced by the RHS vector b (row r's m-th entry → bvec(r))
    val numStr = (0 to e)
      .map { m =>
        val am = Vector.tabulate(e + 1, e + 1) { (r, c) => if (c == m) bvec(r) else a(r)(c) }
        s"(${detStr(am)}) * ${phi(m)}"
      }
      .mkString(" + ")
    s"CASE WHEN abs($detA) > 1e-12 THEN ($numStr) / ($detA) ELSE b0 / sw END"
  }

  /** The wide input ([[Ccm.wide]]) with its dense per-series time index:
    * (skey, idx, x, y). `idx` is 1-based because [[coeffs]] publishes it
    * as `t_idx`. Registers the graft_exp weight kernel on the way.
    */
  private def indexed(df: DataFrame, skey: Column, order: Seq[String], x: Column, y: Column): DataFrame = {
    graft.functions.GraftFunctions.register(df.sparkSession) // graft_exp weight kernel
    val wIdx = Window.partitionBy("skey").orderBy(order.map(col): _*)
    Ccm
      .wide(df, skey, order, x, y)
      .withColumn("idx", row_number().over(wIdx).cast("long"))
      .select("skey", "idx", "x", "y")
  }

  /** Adds d̄ (the target's mean pair distance) and the S-map weight
    * w = exp(-θ·d/d̄) to a pair relation (skey, t_idx, ..., d); d̄ = 0 (a
    * constant source) falls back to uniform weights 1. θ is either one
    * literal folded into the expression (`Left`, [[coeffs]]) or the
    * `theta` column of a broadcast θ table (`Right`, the sweeps), crossed
    * in after d̄ so the window runs once per pair, not per (pair, θ).
    */
  private def thetaWeighted(pairs: DataFrame, theta: Either[Double, DataFrame]): DataFrame = {
    // mean distance to the target's library: window aggregate on the
    // pair relation (already partitioned by the join) — no extra shuffle
    val withBar = pairs.withColumn("dbar", avg(col("d")).over(Window.partitionBy("skey", "t_idx")))
    val (rel, operand) = theta.fold(v => (withBar, s"${v}D"), t => (withBar.crossJoin(t), "theta"))
    rel.withColumn("w", when(col("dbar") > 0.0, expr(s"graft_exp(((- $operand) * d) / dbar)")).otherwise(1.0))
  }

  /** The E=1 closed form for one direction of [[indexed]]: leave-one-out
    * pairs `(src_i → tgt_i)` per series at distance |Δsrc|, θ weights,
    * the five weighted sums per target, then the slope `bc` (0 when the
    * normal matrix is singular, |den| <= 1e-12) and the prediction
    * `pred`. Output: (skey, [theta,] t_idx, ts_, tg, sw, swx, swy, swxx,
    * swxy, bc, pred); `theta` is a key only for a θ table.
    */
  private def closedForm(
      indexed: DataFrame,
      src: String,
      tgt: String,
      theta: Either[Double, DataFrame]
  ): DataFrame = {
    import indexed.sparkSession.implicits._
    // localCheckpoint: rel feeds both pair-join sides (the LagCcm/
    // bidirectionalE lesson — measured wins in both)
    val rel = indexed.select($"skey", $"idx", col(src).as("s"), col(tgt).as("g")).localCheckpoint()
    val pairs = rel
      .as("t")
      .join(rel.as("i"), $"t.skey" === $"i.skey" && $"t.idx" =!= $"i.idx")
      .select(
        $"t.skey".as("skey"), $"t.idx".as("t_idx"), $"t.s".as("ts_"),
        $"t.g".as("tg"), $"i.s".as("is_"), $"i.g".as("ig")
      )
      .withColumn("d", abs($"is_" - $"ts_"))
    val thetaKey = theta.fold(_ => Nil, _ => Seq($"theta"))
    val sums = thetaWeighted(pairs, theta)
      .groupBy(($"skey" +: thetaKey) ++ Seq($"t_idx", $"ts_", $"tg"): _*)
      .agg(
        sum($"w").as("sw"),
        sum($"w" * $"is_").as("swx"),
        sum($"w" * $"ig").as("swy"),
        sum($"w" * $"is_" * $"is_").as("swxx"),
        sum($"w" * $"is_" * $"ig").as("swxy")
      )
    val den = $"sw" * $"swxx" - $"swx" * $"swx"
    sums
      .withColumn("bc", when(abs(den) > 1e-12, ($"sw" * $"swxy" - $"swx" * $"swy") / den).otherwise(0.0))
      .withColumn("pred", ($"swy" - $"bc" * $"swx") / $"sw" + $"bc" * $"ts_")
  }

  /** The θ-sweep tail of [[bidirectional]] and [[bidirectionalE]]: per
    * direction ([[Ccm.bothDirections]]), rho per (skey, θ) between `tg`
    * and `pred` of the relation `preds(src, tgt)` builds, then the
    * `nonlinear` flag. Pearson comes from guarded co-moments
    * ([[Knn.guardedRho]]) rather than corr() (ANSI corr throws on zero
    * variance); the engine delta vs DuckDB's corr is ulp-level and
    * absorbed by the 6-dp round, like every other aggregation-order delta
    * in this family.
    */
  private def sweep(thetas: Seq[Double], nonlinearEps: Double)(
      preds: (String, String) => DataFrame
  ): DataFrame = {
    val u = Ccm.bothDirections { (src, tgt, dir) =>
      Knn
        .guardedRho(preds(src, tgt).groupBy(col("skey"), col("theta")), col("tg"), col("pred"))
        .select(col("skey"), lit(dir).as("direction"), col("theta"), col("rho"))
    }
    val minTheta = thetas.min
    val wFlag = Window.partitionBy("skey", "direction")
    u.withColumn("rho0", max(when(col("theta") === minTheta, col("rho"))).over(wFlag))
      .withColumn("rho_max", max(col("rho")).over(wFlag))
      .withColumn("nonlinear", col("rho_max") - col("rho0") > nonlinearEps)
      .drop("rho0", "rho_max")
  }

  /** Time-varying LOCAL SLOPES (the Deyle et al. 2016 "interaction
    * strength" series): at ONE θ, the E=1 S-map's per-target regression
    * coefficient bc_t = ∂tgt/∂src evaluated at every library point — the
    * quantity ecology actually reads off S-maps once nonlinearity is
    * established (a time series of how strongly src forces tgt, not one
    * summary rho). The [[closedForm]] chain of [[bidirectional]] at a
    * single literal θ; emits the slope, the intercept-form prediction,
    * and the target value per (skey, direction, t_idx). Degenerate guards
    * identical (d̄=0 → uniform weights, singular matrix → slope 0).
    */
  def coeffs(
      df: DataFrame,
      skey: Column,
      order: Seq[String],
      x: Column,
      y: Column,
      theta: Double
  ): DataFrame = {
    val base = indexed(df, skey, order, x, y)
    Ccm.bothDirections { (src, tgt, dir) =>
      closedForm(base, src, tgt, Left(theta)).select(
        col("skey"),
        lit(dir).as("direction"),
        col("t_idx"),
        col("tg"),
        (round(col("bc"), 6) + lit(0.0)).as("slope"),
        (round(col("pred"), 6) + lit(0.0)).as("pred")
      )
    }
  }

  /** Output: (skey, direction, theta, rho, nonlinear) — rho rounded to
    * 6 dp BEFORE the nonlinear flag is derived, so the flag compares
    * engine-identical doubles (cross-engine ulp noise cannot flip it).
    * `nonlinear` = max_θ rho − rho(θ_min) > nonlinearEps, replicated per
    * (skey, direction) like the convergent flag.
    */
  def bidirectional(
      df: DataFrame,
      skey: Column,
      order: Seq[String],
      x: Column,
      y: Column,
      thetas: Seq[Double] = DefaultThetas,
      nonlinearEps: Double = DefaultNonlinearEps
  ): DataFrame = {
    require(thetas.nonEmpty, "thetas must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val base = indexed(df, skey, order, x, y)
    val thetaDf = broadcast(thetas.toDF("theta"))
    sweep(thetas, nonlinearEps)((src, tgt) => closedForm(base, src, tgt, Right(thetaDf)))
  }

  /** Moment aggregates for the general-E solve, over the pair relation's
    * (w, iv1..ivE, ig) columns; aliases are exactly the operand names
    * [[cramerPredExpr]] references.
    */
  def momentAggs(e: Int): Seq[Column] =
    Seq(sum(col("w")).as("sw"), sum(col("w") * col("ig")).as("b0")) ++
      (1 to e).flatMap { j =>
        Seq(
          sum(col("w") * col(s"iv$j")).as(s"a$j"),
          sum(col("w") * col(s"iv$j") * col("ig")).as(s"b$j")
        ) ++ (j to e).map(k =>
          sum(col("w") * col(s"iv$j") * col(s"iv$k")).as(s"a${j}_$k")
        )
      }

  /** The same moment aggregates as ANSI SQL select-list fragments (for the
    * DuckDB oracle) — kept in ONE place so the two engines can never
    * drift.
    */
  def momentAggsSql(e: Int): Seq[String] =
    Seq("sum(w) AS sw", "sum(w * ig) AS b0") ++
      (1 to e).flatMap { j =>
        Seq(s"sum(w * iv$j) AS a$j", s"sum(w * iv$j * ig) AS b$j") ++
          (j to e).map(k => s"sum(w * iv$j * iv$k) AS a${j}_$k")
      }

  /** General-E S-map θ-sweep (VERDICT r8 item 3): embeds the SOURCE series
    * with lags 0..E-1 (the same embedding the simplex pipeline uses,
    * `lib/ccm.ex:99-107`), Euclidean distance in embedding space, and per
    * (target, θ) the (E+1)-dim weighted normal-equation solve via
    * [[cramerPredExpr]]. E=1 degenerates to [[bidirectional]]'s closed
    * form. Output schema and the `nonlinear` flag contract are identical
    * to [[bidirectional]].
    *
    * Scale: identical shuffle skeleton to E=1 — per-series pair join, one
    * window for d̄, one aggregation for the (E+1)(E+4)/2 moments; the whole
    * Cramer solve is a single codegen'd projection over the grouped row,
    * so E only widens rows, never adds a shuffle.
    */
  def bidirectionalE(
      df: DataFrame,
      skey: Column,
      order: Seq[String],
      x: Column,
      y: Column,
      e: Int,
      thetas: Seq[Double] = DefaultThetas,
      nonlinearEps: Double = DefaultNonlinearEps
  ): DataFrame = {
    require(e >= 1, "embedding dimension must be >= 1")
    require(thetas.nonEmpty, "thetas must be non-empty")
    val spark = df.sparkSession
    import spark.implicits._
    val base = indexed(df, skey, order, x, y)
    val thetaDf = broadcast(thetas.toDF("theta"))
    val predExpr = cramerPredExpr(e)

    sweep(thetas, nonlinearEps) { (src, tgt) =>
      val rel = base.select(col("skey"), col("idx"), col(src).as("s"), col(tgt).as("g"))
      val wLag = Window.partitionBy("skey").orderBy("idx")
      // localCheckpoint: emb feeds BOTH pair-join sides — the LagCcm
      // lesson (measured 1.74 vs 2.11 s there); without it each side
      // re-runs the scan + index + lag windows
      val emb = (1 to e)
        .foldLeft(rel)((d, j) => d.withColumn(s"v$j", lag(col("s"), j - 1).over(wLag)))
        .filter(col(s"v$e").isNotNull)
        .drop("s")
        .localCheckpoint()
      val pairs = emb
        .as("t")
        .join(emb.as("i"), $"t.skey" === $"i.skey" && $"t.idx" =!= $"i.idx")
        .select(
          Seq($"t.skey".as("skey"), $"t.idx".as("t_idx"), $"t.g".as("tg"), $"i.g".as("ig")) ++
            (1 to e).map(j => col(s"t.v$j").as(s"tv$j")) ++
            (1 to e).map(j => col(s"i.v$j").as(s"iv$j")): _*
        )
        // (iv-tv)*(iv-tv), not pow(): the oracle replays the identical
        // multiply so the only cross-engine delta is aggregation order
        .withColumn(
          "d",
          sqrt(
            (1 to e)
              .map(j => (col(s"iv$j") - col(s"tv$j")) * (col(s"iv$j") - col(s"tv$j")))
              .reduce(_ + _)
          )
        )
      val groupCols =
        Seq($"skey", $"theta", $"t_idx", $"tg") ++ (1 to e).map(j => col(s"tv$j"))
      val aggs = momentAggs(e)
      thetaWeighted(pairs, Right(thetaDf))
        .groupBy(groupCols: _*)
        .agg(aggs.head, aggs.tail: _*)
        .withColumn("pred", expr(predExpr))
    }
  }
}
