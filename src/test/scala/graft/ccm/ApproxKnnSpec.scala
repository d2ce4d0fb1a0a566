package graft.ccm

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** Approximate-kNN flag (CcmSpec.knnBuckets, SURVEY §4.3): the grid-
  * bucketed candidate join must (a) reproduce the exact skill curve
  * within tolerance on coupled-dynamics data, (b) be exactly the brute
  * path when disabled — by the flag OR by the short-series auto-gate
  * (CcmSpec.knnAutoFactor, VERDICT r6 item 4) — and (c) genuinely prune
  * the candidate pair set, with the compound (e0, e{E-1}) key pruning
  * strictly more than e0 alone (VERDICT r6 item 2).
  */
class ApproxKnnSpec extends SparkTestBase {

  private val Libs = Seq(20, 40, 60)
  private val Samples = 2

  private def inputDf = {
    import spark.implicits._
    // three coupled series with different dynamics, 150 points each
    val rows = for {
      (sid, c) <- Seq((1L, 0.10), (2L, 0.15), (3L, 0.25))
      (xs, ys) = Generators.coupledLogisticMaps(150, c)
      i <- xs.indices
    } yield (sid, i.toLong, xs(i), ys(i))
    rows.toDF("skey", "ord", "x", "y")
  }

  private def run(knnBuckets: Int, knnAutoFactor: Int = 0) =
    Declarative
      .bidirectional(
        inputDf,
        skey = col("skey"),
        order = Seq("ord"),
        x = col("x"),
        y = col("y"),
        spec = CcmSpec(numSamples = Samples, knnBuckets = knnBuckets,
          knnAutoFactor = knnAutoFactor),
        libSizes = Libs
      )
      .select("skey", "direction", "lib_size", "rho", "convergent")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)) -> (r.getDouble(3), r.getBoolean(4)))
      .toMap

  test("knnBuckets=0 is the exact path; buckets approximate it within tolerance") {
    val exact = run(0)
    val approx = run(8)
    assert(exact.keySet == approx.keySet, "skill grid must be identical")
    val diffs = exact.map { case (k, (rho, _)) => math.abs(rho - approx(k)._1) }
    val mean = diffs.sum / diffs.size
    val worst = diffs.max
    assert(mean <= 0.05, s"mean |Δrho| $mean > 0.05")
    assert(worst <= 0.20, s"max |Δrho| $worst > 0.20")
  }

  test("all-short auto-gate prunes the bucket branch from the plan entirely") {
    // 148 embedding rows < 64 * 8: no series clears the gate, so
    // predictions() must pick the PLAIN exact join — no probe generators,
    // no bucket keys, no union — instead of unioning an empty bucket
    // branch (measured ~1.6x the exact twin in pure plan overhead).
    val emb = CcmPipeline.embedded(
      inputDf, Seq("skey"), Seq(col("ord")), col("x"), col("y"), e = 3, tau = 1)
    val rk = CcmPipeline.ranked(emb, Seq("skey"), Samples, seed = 42L, col("skey"))
      .localCheckpoint()
    val gated = CcmPipeline
      .predictions(rk, Seq("skey"), Libs, e = 3, knnBuckets = 8, knnAutoFactor = 64)
    val plan = gated.queryExecution.logical.toString
    assert(!plan.contains("probe"), "bucket probe generators must be pruned on all-short input")
    assert(!plan.contains("Union"), "the two-branch union must collapse to the exact join")
  }

  test("short-series auto-gate: default knnAutoFactor yields exact-path values") {
    // 148 embedding rows < 64 * 8, so the gate must route every series
    // through the exact path. The gated PLAN is still the two-branch
    // union (with an empty bucket branch), whose aggregation combine
    // layout differs from the single-join exact plan, so Spark's corr
    // co-moments agree to last ulps rather than bitwise — same 1e-9
    // rationale as the kernel-parity tests below; the shared DuckDB
    // oracle rounds to 6 decimals for exactly this reason.
    val exact = run(0)
    val gated = run(8, knnAutoFactor = 64)
    assert(exact.keySet == gated.keySet)
    exact.foreach { case (k, (rho, conv)) =>
      assert(
        math.abs(gated(k)._1 - rho) <= 1e-9,
        s"$k: gated rho ${gated(k)._1} != exact $rho"
      )
      assert(gated(k)._2 == conv, s"$k: convergent flag differs")
    }
  }

  test("kernel approx path equals declarative approx path (to corr-impl ulps)") {
    import spark.implicits._
    val declarative = run(8)
    val viaKernel = Ccm
      .perSeries(
        inputDf.select(col("skey"), col("ord"), col("x"), col("y")),
        CcmSpec(numSamples = Samples, knnBuckets = 8, knnAutoFactor = 0),
        Some(Libs)
      )
      .toDF()
      .select("skey", "direction", "lib_size", "rho", "convergent")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)) -> (r.getDouble(3), r.getBoolean(4)))
      .toMap
    assert(declarative.keySet == viaKernel.keySet)
    // Spark's corr (streaming co-moments) and CcmLocal.correlation
    // (two-pass) agree only to last ulps — same as the exact-path pair,
    // which is why the shared oracle rounds to 6 decimals. 1e-9 is far
    // below any semantic difference and far above ulp noise.
    declarative.foreach { case (k, (rho, conv)) =>
      assert(
        math.abs(viaKernel(k)._1 - rho) <= 1e-9,
        s"$k: kernel rho ${viaKernel(k)._1} != declarative $rho"
      )
      assert(viaKernel(k)._2 == conv, s"$k: convergent flag differs")
    }
  }

  test("kernel auto-gate equals declarative auto-gate at the default factor") {
    import spark.implicits._
    val declarative = run(8, knnAutoFactor = 64)
    val viaKernel = Ccm
      .perSeries(
        inputDf.select(col("skey"), col("ord"), col("x"), col("y")),
        CcmSpec(numSamples = Samples, knnBuckets = 8),
        Some(Libs)
      )
      .toDF()
      .select("skey", "direction", "lib_size", "rho")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getInt(2)) -> r.getDouble(3))
      .toMap
    declarative.foreach { case (k, (rho, _)) =>
      assert(math.abs(viaKernel(k) - rho) <= 1e-9, s"$k: kernel ${viaKernel(k)} != $rho")
    }
  }

  test("bucketed join prunes the candidate pair set; compound prunes more than e0 alone") {
    import spark.implicits._
    val base = inputDf
    // candidate relation: exact = every (l.rank < q.rank <= ...) pair in
    // the cell; approx adds the bucket constraint. Count both directly,
    // replicating the engine's per-axis bucket arithmetic.
    val emb = CcmPipeline
      .embedded(base, Seq("skey"), Seq(col("ord")), $"y", $"x", 3, 1)
      .withColumn("direction", lit("x_causes_y"))
    val rk = CcmPipeline
      .ranked(emb, Seq("skey", "direction"), Samples, 42L, col("skey"))
      .localCheckpoint()
    def pairCount(bucketAxes: Seq[String]): Long = {
      val b = 8
      val aggs = bucketAxes.flatMap(a =>
        Seq(min(col(a)).as(s"mn_$a"), max(col(a)).as(s"mx_$a")))
      val bucketed =
        if (bucketAxes.isEmpty) rk
        else {
          val stats = rk
            .filter($"sample_id" === 1)
            .groupBy("skey", "direction")
            .agg(aggs.head, aggs.tail: _*)
          bucketAxes.foldLeft(rk.join(stats, Seq("skey", "direction"))) { (df, a) =>
            val w = (col(s"mx_$a") - col(s"mn_$a")) / lit(b.toDouble)
            df.withColumn(
              s"bk_$a",
              when(w > 0.0, floor((col(a) - col(s"mn_$a")) / w)).otherwise(0.0).cast("long")
            )
          }
        }
      val bucketCond = bucketAxes
        .map(a => abs(col(s"q.bk_$a") - col(s"l.bk_$a")) <= 1)
        .foldLeft(lit(true))(_ && _)
      bucketed
        .as("q")
        .filter($"q.rank" > Libs.min)
        .join(
          bucketed.as("l"),
          $"q.skey" === $"l.skey" && $"q.direction" === $"l.direction" &&
            $"q.sample_id" === $"l.sample_id" && $"l.rank" < $"q.rank" &&
            $"l.rank" <= Libs.max && bucketCond
        )
        .count()
    }
    val exactPairs = pairCount(Seq.empty)
    val e0Pairs = pairCount(Seq("e0"))
    val compoundPairs = pairCount(Seq("e0", "e2"))
    assert(e0Pairs < exactPairs,
      s"bucketing must prune candidates (exact=$exactPairs e0=$e0Pairs)")
    assert(e0Pairs.toDouble / exactPairs <= 0.8,
      s"expected >=20% candidate reduction, got $e0Pairs/$exactPairs")
    assert(compoundPairs < e0Pairs,
      s"compound (e0, e2) must prune beyond e0 alone (e0=$e0Pairs compound=$compoundPairs)")
  }
}
