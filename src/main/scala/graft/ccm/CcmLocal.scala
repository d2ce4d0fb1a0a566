package graft.ccm

/** Pure-Scala CCM kernel: a faithful re-implementation of the reference's
  * semantics (`lib/ccm.ex:48-262`) over arrays, with deterministic seeded
  * library sampling ([[DetHash.rankHash]]) in place of the reference's
  * unseeded `Enum.take_random` (`lib/ccm.ex:117`).
  *
  * The executable spec: brute force in every (lib size, sample) cell, as
  * the reference. The production kernel ([[CcmKernel]], behind
  * [[Ccm.bidirectional]], [[Ccm.perSeries]] and the other per-series
  * callers) must equal it bit for bit, and the DataFrame pipeline
  * ([[CcmPipeline]]), the DuckDB oracle SQL and the benchmark's result
  * gate and traced `kernel.*` baseline are checked against it. Its
  * primitive helpers (embedding, distance, weights, correlation, slope,
  * buckets) are the ones [[CcmKernel]] calls, so the two share every
  * formula and differ only in how they find the nearest neighbours.
  *
  * Degenerate paths all return 0.0/false, matching the reference exactly
  * (SURVEY.md §2d): lib_size >= n_points -> 0.0 (`ccm.ex:109-110`); < 2
  * prediction points -> 0.0 (`ccm.ex:123-124`); zero total weight -> 0.0
  * (`ccm.ex:165-166`); zero variance -> corr 0.0 (`ccm.ex:212`); < 3 lib
  * sizes or zero OLS denominator -> not convergent (`ccm.ex:215,240-243`).
  */
object CcmLocal {

  /** One direction's outcome: (libSize, avgCorrelation) pairs + convergence. */
  final case class DirectionResult(results: Seq[(Int, Double)], convergent: Boolean)

  final case class BidirectionalResult(xCausesY: DirectionResult, yCausesX: DirectionResult)

  /** Time-delay embedding (`lib/ccm.ex:99-107`): row i = [s(i), s(i+tau),
    * ..., s(i+(E-1)tau)], for i in 0 until n-(E-1)tau.
    */
  def embed(series: Array[Double], e: Int, tau: Int): Array[Array[Double]] = {
    val rows = series.length - (e - 1) * tau
    Array.tabulate(math.max(rows, 0)) { i =>
      Array.tabulate(e)(j => series(i + j * tau))
    }
  }

  /** Euclidean distance (`lib/ccm.ex:179-185`), summed in index order so the
    * result is bit-identical to the SQL engines' left-to-right fold.
    */
  def euclidean(p1: Array[Double], p2: Array[Double]): Double = {
    var acc = 0.0
    var i = 0
    while (i < p1.length) { val d = p1(i) - p2(i); acc += d * d; i += 1 }
    math.sqrt(acc)
  }

  /** Exponential distance weights (`lib/ccm.ex:246-262`): w_i =
    * exp(-d_i / (minDist + 1e-8)); exact hits (d < 1e-12) get weight 1.0.
    */
  def weights(dists: Array[Double]): Array[Double] = {
    val w = new Array[Double](dists.length)
    weights(dists, dists.length, w)
    w
  }

  /** [[weights]] of `dists(0 until k)` into `w`, allocation-free; the
    * minimum is taken in Double's total order, as `dists.min` does.
    */
  def weights(dists: Array[Double], k: Int, w: Array[Double]): Unit = {
    if (k == 0) return
    var minDist = dists(0)
    var i = 1
    while (i < k) { if (java.lang.Double.compare(dists(i), minDist) < 0) minDist = dists(i); i += 1 }
    i = 0
    while (i < k) {
      val d = dists(i)
      w(i) = if (d < 1.0e-12) 1.0 else graft.functions.ExactMath.exp(-d / (minDist + 1.0e-8))
      i += 1
    }
  }

  /** Simplex-projection prediction for one query point
    * (`lib/ccm.ex:142-177`): k = min(E+1, |library|) nearest neighbors by
    * Euclidean distance (ties broken by library row's embedding index, which
    * fixes the reference's arbitrary tie order deterministically), then
    * weighted average of neighbor targets; total weight 0 -> 0.0.
    */
  def predictPoint(
      query: Array[Double],
      libIdx: Array[Int],
      embedding: Array[Array[Double]],
      targets: Array[Double]
  ): Double = {
    if (libIdx.isEmpty || query.isEmpty) return 0.0
    val e = query.length
    val k = math.min(e + 1, libIdx.length)
    // distances to every library point (brute force, as the reference)
    val distIdx = libIdx.map(i => (euclidean(query, embedding(i)), i))
    java.util.Arrays.sort(
      distIdx,
      Ordering.Tuple2(Ordering.Double.TotalOrdering, Ordering.Int)
    )
    val nearest = distIdx.take(k)
    val w = weights(nearest.map(_._1))
    val totalW = w.sum
    if (totalW == 0.0) 0.0
    else {
      var num = 0.0
      var i = 0
      while (i < k) { num += targets(nearest(i)._2) * w(i); i += 1 }
      num / totalW
    }
  }

  /** Pearson correlation with the reference's degenerate paths
    * (`lib/ccm.ex:187-213`): < 2 pairs -> 0.0, zero variance -> 0.0.
    * Zero variance is decided on the values themselves (all actuals, or
    * all predictions, equal), not on the two-pass sums: the mean of n
    * equal doubles can be off by an ulp, which would leave a variance of
    * ~1e-34 and a rho of ~1e-17 instead of 0.0.
    */
  def correlation(pairs: Seq[(Double, Double)]): Double = {
    val actual = pairs.iterator.map(_._1).toArray
    val predicted = pairs.iterator.map(_._2).toArray
    correlation(actual, predicted, actual.length)
  }

  /** [[correlation]] of the pairs (actual(i), predicted(i)), i < n. */
  def correlation(actual: Array[Double], predicted: Array[Double], n: Int): Double = {
    if (n < 2) return 0.0
    var aSum = 0.0; var pSum = 0.0
    var i = 0
    while (i < n) { aSum += actual(i); pSum += predicted(i); i += 1 }
    val aMean = aSum / n
    val pMean = pSum / n
    val a0 = actual(0)
    val p0 = predicted(0)
    var num = 0.0; var aVar = 0.0; var pVar = 0.0
    var aVaries = false; var pVaries = false
    i = 0
    while (i < n) {
      val a = actual(i)
      val p = predicted(i)
      num += (a - aMean) * (p - pMean)
      aVar += (a - aMean) * (a - aMean)
      pVar += (p - pMean) * (p - pMean)
      aVaries |= a != a0
      pVaries |= p != p0
      i += 1
    }
    val denom = math.sqrt(aVar * pVar)
    if (aVaries && pVaries && denom != 0.0) num / denom else 0.0
  }

  /** Closed-form OLS slope of corr on libSize; 0.0 when degenerate
    * (< 2 points or zero denominator). Shared by the convergence test and
    * by the [[graft.ccm.Ccm]] API's reported slope so the two can never
    * drift apart.
    */
  def olsSlope(results: Seq[(Int, Double)]): Double = {
    if (results.length < 2) return 0.0
    val n = results.length.toDouble
    val sumX = results.iterator.map(_._1.toDouble).sum
    val sumY = results.iterator.map(_._2).sum
    val sumXY = results.iterator.map { case (x, y) => x * y }.sum
    val sumX2 = results.iterator.map { case (x, _) => x.toDouble * x }.sum
    val denom = n * sumX2 - sumX * sumX
    if (denom != 0.0) (n * sumXY - sumX * sumY) / denom else 0.0
  }

  /** OLS-slope convergence test (`lib/ccm.ex:215-244`): needs >= 3 points,
    * slope of corr on libSize strictly > 0.001.
    */
  def convergent(results: Seq[(Int, Double)]): Boolean =
    results.length >= 3 && olsSlope(results) > 0.001

  /** One bootstrap replicate (`lib/ccm.ex:109-140`): deterministic library =
    * the first `libSize` embedding rows ordered by (rankHash, idx); the
    * prediction set is the complement. Guards: libSize >= nPoints -> 0.0;
    * < 2 prediction points -> 0.0.
    */
  def crossMapSample(
      embedding: Array[Array[Double]],
      adjustedTarget: Array[Double],
      libSize: Int,
      sampleId: Long,
      seriesKey: Long,
      seed: Long,
      buckets: Buckets = null,
      consecutive: Boolean = false
  ): Double = {
    val n = embedding.length
    if (libSize >= n) return 0.0
    // consecutive = README-parity mode ([[CcmSpec.consecutive]]): library
    // = first libSize rows in time order, prediction = the series tail
    val order =
      if (consecutive) Array.range(0, n).map(i => (i.toLong, i))
      else
        Array.range(0, n).map { i =>
          (DetHash.rankHash(i.toLong, sampleId, seriesKey, seed), i)
        }
    if (!consecutive) java.util.Arrays.sort(order, Ordering.Tuple2(Ordering.Long, Ordering.Int))
    val libIdx = order.take(libSize).map(_._2)
    val predIdx = order.drop(libSize).map(_._2)
    if (predIdx.length < 2) return 0.0
    // Approximate-kNN parity with CcmPipeline.predictions(knnBuckets > 0):
    // candidates = library rows within ±1 grid bucket of the query on
    // BOTH axes (e0 and e{E-1}); a query with ZERO candidates contributes
    // NO (actual, predicted) pair (the declarative join simply produces
    // no rows for it), it does NOT contribute a 0.0 prediction.
    val preds = predIdx.iterator.flatMap { pi =>
      if (buckets == null)
        Iterator.single(
          (adjustedTarget(pi), predictPoint(embedding(pi), libIdx, embedding, adjustedTarget))
        )
      else {
        val qb = buckets.b1(pi)
        val qb2 = buckets.b2(pi)
        val cand = libIdx.filter(i =>
          buckets.b1(i) >= qb - 1 && buckets.b1(i) <= qb + 1 &&
            buckets.b2(i) >= qb2 - 1 && buckets.b2(i) <= qb2 + 1
        )
        if (cand.isEmpty) Iterator.empty
        else
          Iterator.single(
            (adjustedTarget(pi), predictPoint(embedding(pi), cand, embedding, adjustedTarget))
          )
      }
    }.toSeq
    correlation(preds)
  }

  /** Compound grid-bucket ids (axes e0 and e{E-1}) for every embedding row. */
  final case class Buckets(b1: Array[Long], b2: Array[Long])

  /** Per-axis grid-bucket ids — BIT-IDENTICAL to the declarative path's
    * bucketing (`CcmPipeline.predictions`): width (max-min)/knnBuckets,
    * bucket = floor((v-mn)/width), all single IEEE ops on raw values;
    * constant axis -> all bucket 0.
    */
  private def axisBuckets(
      embedding: Array[Array[Double]],
      dim: Int,
      knnBuckets: Int
  ): Array[Long] = {
    var mn = Double.PositiveInfinity
    var mx = Double.NegativeInfinity
    var i = 0
    while (i < embedding.length) {
      val v = embedding(i)(dim)
      if (v < mn) mn = v
      if (v > mx) mx = v
      i += 1
    }
    val width = (mx - mn) / knnBuckets.toDouble
    if (width > 0.0) embedding.map(r => math.floor((r(dim) - mn) / width).toLong)
    else Array.fill(embedding.length)(0L)
  }

  /** Compound (e0, e{E-1}) buckets, or null when disabled — either the
    * flag is off or the series is shorter than knnAutoFactor * knnBuckets
    * embedding rows (the safe-by-default gate, VERDICT r6 item 4; same
    * deterministic row-count test as the declarative path and the oracle).
    * E = 1 collapses the second axis to constant 0 (always-true match),
    * mirroring the declarative lit(0L) column.
    */
  private[ccm] def gridBuckets(embedding: Array[Array[Double]], spec: CcmSpec): Buckets =
    if (spec.knnBuckets <= 0 ||
        embedding.length < spec.knnAutoFactor.toLong * spec.knnBuckets) null
    else {
      val b1 = axisBuckets(embedding, 0, spec.knnBuckets)
      val b2 =
        if (spec.embeddingDim > 1) axisBuckets(embedding, spec.embeddingDim - 1, spec.knnBuckets)
        else Array.fill(embedding.length)(0L)
      Buckets(b1, b2)
    }

  /** Cross-map one direction (`lib/ccm.ex:48-74`). NOTE the direction trap
    * (`ccm.ex:49-53`): testing "X causes Y" embeds **Y** (the effect) and
    * cross-maps **X** from M_y.
    */
  def crossMap(
      source: Array[Double],
      target: Array[Double],
      spec: CcmSpec,
      seriesKey: Long = 0L
  ): DirectionResult = {
    val e = spec.embeddingDim
    val tau = spec.tau
    val embedding = embed(source, e, tau)
    val adjusted = target.drop((e - 1) * tau) // alignment, `ccm.ex:119`
    val buckets = gridBuckets(embedding, spec)
    val results = spec.resolvedLibSizes(source.length).map { l =>
      var sum = 0.0
      var s = 1
      while (s <= spec.numSamples) {
        sum += crossMapSample(embedding, adjusted, l, s.toLong, seriesKey, spec.seed, buckets, spec.consecutive)
        s += 1
      }
      (l, sum / spec.numSamples)
    }
    DirectionResult(results, convergent(results))
  }

  /** Bidirectional CCM (`lib/ccm.ex:79-84`). Validates equal length like
    * `CCM.new/3` (`ccm.ex:22-24`).
    */
  def bidirectional(
      x: Array[Double],
      y: Array[Double],
      spec: CcmSpec = CcmSpec(),
      seriesKey: Long = 0L
  ): BidirectionalResult = {
    require(x.length == y.length, "x_series and y_series must have the same length")
    BidirectionalResult(
      xCausesY = crossMap(y, x, spec, seriesKey),
      yCausesX = crossMap(x, y, spec, seriesKey)
    )
  }
}
