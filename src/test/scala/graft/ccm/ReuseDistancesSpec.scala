package graft.ccm

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Distance-reuse across bootstrap samples (CcmSpec.reuseDistances,
  * SURVEY §4 item 2): the factored pair-distance relation must produce
  * the SAME rows as the per-sample exact join — same prediction set,
  * same predicted values (to aggregation-order ulps), same skill curve —
  * while evaluating each (q_idx, l_idx) distance once per series rather
  * than once per sample.
  */
class ReuseDistancesSpec extends SparkTestBase {

  // bootstrap-heavy regime: lib sizes near the series length so the 6
  // sample libraries overlap heavily — the case the flag exists for
  private val Libs = Seq(40, 100, 140)
  private val Samples = 6

  private def inputDf = {
    import spark.implicits._
    val rows = for {
      (sid, c) <- Seq((1L, 0.10), (2L, 0.15), (3L, 0.25))
      (xs, ys) = Generators.coupledLogisticMaps(150, c)
      i <- xs.indices
    } yield (sid, i.toLong, xs(i), ys(i))
    rows.toDF("skey", "ord", "x", "y")
  }

  private def run(reuse: Boolean) =
    Declarative
      .bidirectional(
        inputDf,
        skey = col("skey"),
        order = Seq("ord"),
        x = col("x"),
        y = col("y"),
        spec = CcmSpec(numSamples = Samples, reuseDistances = reuse),
        libSizes = Libs
      )
      .select("skey", "direction", "lib_size", "rho", "convergent")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)) -> (r.getDouble(3), r.getBoolean(4)))
      .toMap

  test("reuse path reproduces the exact skill curve to aggregation-order ulps") {
    val exact = run(reuse = false)
    val reused = run(reuse = true)
    assert(exact.keySet == reused.keySet, "skill grid must be identical")
    exact.foreach { case (k, (rho, conv)) =>
      assert(
        math.abs(reused(k)._1 - rho) <= 1e-9,
        s"$k: reuse rho ${reused(k)._1} != exact $rho"
      )
      assert(reused(k)._2 == conv, s"$k: convergent flag differs")
    }
  }

  test("prediction rows are set-identical between the two paths") {
    val emb = CcmPipeline.embedded(
      inputDf,
      Seq("skey"),
      Seq(col("ord")),
      col("x"),
      col("y"),
      e = 3,
      tau = 1
    )
    val rk = CcmPipeline
      .ranked(emb, Seq("skey"), Samples, seed = 42L, col("skey"))
      .localCheckpoint()
    def preds(reuse: Boolean) =
      CcmPipeline
        .predictions(rk, Seq("skey"), Libs, e = 3, reuseDistances = reuse)
        .select(col("skey"), col("sample_id"), col("lib_size"), col("pred_idx"),
          col("actual"), col("predicted"))
    val a = preds(reuse = false)
    val b = preds(reuse = true)
    val joined = a
      .withColumnRenamed("predicted", "p_exact")
      .join(b.withColumnRenamed("predicted", "p_reuse"),
        Seq("skey", "sample_id", "lib_size", "pred_idx", "actual"), "full_outer")
    val total = joined.count()
    assert(total == a.count() && total == b.count(), "prediction keys must align 1:1")
    val off = joined
      .filter(col("p_exact").isNull || col("p_reuse").isNull ||
        abs(col("p_exact") - col("p_reuse")) > 1e-9)
      .count()
    assert(off == 0, s"$off prediction rows differ beyond 1e-9")
  }
}
