package graft.ccm

import org.apache.spark.sql.functions._

import graft.SparkTestBase

/** FusedKnn (CcmSpec.fusedTopK, SURVEY §4 item 1): the single-aggregate
  * tail must reproduce the window tail — same top-k selection under the
  * (dist, lib_idx) tie-break, same exact-hit/stabilizer weight arithmetic —
  * to aggregation-order ulps (downstream corr/avg see rows in a different
  * physical order, exactly as in ReuseDistancesSpec; the 6-decimal contract
  * rounding absorbs it) — plus buffer-level corner cases the end-to-end
  * run may not exercise on every partitioning.
  */
class FusedKnnSpec extends SparkTestBase {

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

  private def run(fused: Boolean) =
    Declarative
      .bidirectional(
        inputDf,
        skey = col("skey"),
        order = Seq("ord"),
        x = col("x"),
        y = col("y"),
        spec = CcmSpec(numSamples = Samples, fusedTopK = fused),
        libSizes = Libs
      )
      .select("skey", "direction", "lib_size", "rho", "slope", "convergent")
      .collect()
      .map(r =>
        (r.getLong(0), r.getString(1), r.getInt(2)) ->
          (r.getDouble(3), r.getDouble(4), r.getBoolean(5))
      )
      .toMap

  test("fused tail reproduces the window-tail skill curve to ulps") {
    val window = run(fused = false)
    val fused = run(fused = true)
    assert(window.keySet == fused.keySet, "skill grid must be identical")
    window.foreach { case (k, (rho, slope, conv)) =>
      val (fr, fs, fc) = fused(k)
      assert(math.abs(fr - rho) <= 1e-9, s"$k: fused rho $fr != window $rho")
      assert(math.abs(fs - slope) <= 1e-9, s"$k: fused slope $fs != window $slope")
      assert(fc == conv, s"$k: convergent flag differs")
    }
  }

  test("lib sizes below E+1 clamp k per cell (non-literal k path)") {
    // minLib(3) < E+1(4) forces the least(e+1, lib_size) k column in BOTH
    // tails; results must still agree bit-exactly.
    def runSmall(fused: Boolean) =
      Declarative
        .bidirectional(
          inputDf,
          skey = col("skey"),
          order = Seq("ord"),
          x = col("x"),
          y = col("y"),
          spec = CcmSpec(numSamples = 2, fusedTopK = fused),
          libSizes = Seq(3, 20)
        )
        .select("skey", "direction", "lib_size", "rho")
        .collect()
        .map(r => (r.getLong(0), r.getString(1), r.getInt(2)) -> r.getDouble(3))
        .toMap
    val w = runSmall(fused = false)
    val f = runSmall(fused = true)
    assert(w.keySet == f.keySet)
    w.foreach { case (k, rho) =>
      assert(math.abs(f(k) - rho) <= 1e-9, s"$k: fused ${f(k)} != window $rho")
    }
  }

  test("buffer reduce keeps the k best under the (dist, lib_idx) tie-break") {
    val a = FusedKnn.agg
    var b = a.zero
    // k=2; feed ties on dist where lib_idx must break the tie
    b = a.reduce(b, NNIn(1.0, 10L, 100.0, 2))
    b = a.reduce(b, NNIn(1.0, 5L, 50.0, 2)) // same dist, smaller idx -> wins front
    b = a.reduce(b, NNIn(1.0, 7L, 70.0, 2)) // evicts idx 10
    assert(b.n == 2 && b.idxs.take(2).toSeq == Seq(5L, 7L))
    b = a.reduce(b, NNIn(0.5, 99L, 9.0, 2)) // strictly closer -> front
    assert(b.idxs.take(2).toSeq == Seq(99L, 5L) && b.dists.take(2).toSeq == Seq(0.5, 1.0))
  }

  test("buffer merge is order-insensitive and respects k") {
    val a = FusedKnn.agg
    def buf(ins: Seq[NNIn]) = ins.foldLeft(a.zero)(a.reduce)
    val l = buf(Seq(NNIn(1.0, 1L, 1.0, 3), NNIn(3.0, 3L, 3.0, 3)))
    val r = buf(Seq(NNIn(2.0, 2L, 2.0, 3), NNIn(4.0, 4L, 4.0, 3)))
    val m1 = a.merge(l, r)
    val m2 = a.merge(r, l)
    assert(m1.n == 3 && m1.idxs.toSeq == Seq(1L, 2L, 3L))
    assert(m2.idxs.toSeq == m1.idxs.toSeq && m2.dists.toSeq == m1.dists.toSeq)
    // merging with the pristine zero buffer is identity (compare the
    // filled prefix — the backing array is k-sized)
    val mz1 = a.merge(a.zero, l)
    val mz2 = a.merge(l, a.zero)
    assert(mz1.idxs.take(mz1.n).toSeq == l.idxs.take(l.n).toSeq)
    assert(mz2.idxs.take(mz2.n).toSeq == l.idxs.take(l.n).toSeq)
  }

  test("a merged buffer stays a valid reduce target") {
    val a = FusedKnn.agg
    def buf(ins: Seq[NNIn]) = ins.foldLeft(a.zero)(a.reduce)
    // merge yields n=2 < k=3; a further reduce must grow it to n=3 in place
    val m = a.merge(buf(Seq(NNIn(1.0, 1L, 1.0, 3))), buf(Seq(NNIn(2.0, 2L, 2.0, 3))))
    val r = a.reduce(m, NNIn(3.0, 3L, 3.0, 3))
    assert(r.n == 3 && r.idxs.take(3).toSeq == Seq(1L, 2L, 3L))
  }

  test("finish replicates exact-hit and stabilizer weighting") {
    val a = FusedKnn.agg
    // exact hit (dist < 1e-12) gets weight 1.0; others exp(-d/(min+1e-8))
    val b = Seq(NNIn(0.0, 1L, 10.0, 3), NNIn(2.0, 2L, 20.0, 3), NNIn(4.0, 3L, 30.0, 3))
      .foldLeft(a.zero)(a.reduce)
    val minD = 0.0
    val w1 = 1.0
    val w2 = math.exp(-2.0 / (minD + 1e-8))
    val w3 = math.exp(-4.0 / (minD + 1e-8))
    val expected = (w1 * 10.0 + w2 * 20.0 + w3 * 30.0) / (w1 + w2 + w3)
    assert(a.finish(b) == expected)
  }
}
