package graft.ccm

/** The production CCM kernel behind the [[Ccm]] API (and the other
  * callers of one series' bidirectional CCM): the same answer as
  * [[CcmLocal.bidirectional]], bit for bit, without its boxed per-cell
  * sort.
  *
  * Within one sample the libraries of the lib-size ladder are nested: the
  * library of size L is the L lowest ranks, and a query of rung L (rank
  * >= L) is a query of every smaller rung too. So the kernel walks each
  * sample's rungs by ascending L and keeps, per query, its nearest rows
  * of the library so far, sorted by (distance, index) — the order
  * [[CcmLocal.predictPoint]] sorts by. Moving from rung L' to rung L adds
  * only the rows of rank L' until L to each remaining query's nearest
  * rows (in bucketed mode, only those inside the query's ±1 box), so one
  * sample costs about n²/2 distances per direction instead of the
  * Σ L·(n-L) of a fresh scan per cell. Per series the kernel also builds
  * each sample's rank order once, shared by both directions and every
  * rung (the identity order in `consecutive` mode).
  *
  * A prediction depends only on the query's nearest rows and the fixed
  * aligned target, so the kernel keeps each query's last prediction and
  * recomputes it only when a merge has written into those rows since
  * (a closer row, or an equal-distance row of lower index): about half
  * the predictions of a default call reuse the previous rung's value.
  * Each sample and direction starts every query with no nearest rows, so
  * its first prediction there always follows a write and is computed
  * afresh.
  *
  * Weights, correlation, the per-rung mean over the samples (summed in
  * sample order), the slope and the convergence test are [[CcmLocal]]'s
  * own functions, so every double is produced by the same operations in
  * the same order. Memory is linear in the series: beside the two
  * embeddings, about (12·(E+1) + 29)·n bytes of scratch shared by both
  * directions.
  */
object CcmKernel {

  /** Same contract and result as [[CcmLocal.bidirectional]]. */
  def bidirectional(
      x: Array[Double],
      y: Array[Double],
      spec: CcmSpec = CcmSpec(),
      seriesKey: Long = 0L
  ): CcmLocal.BidirectionalResult = {
    require(x.length == y.length, "x_series and y_series must have the same length")
    val scratch = new Scratch(math.max(spec.maxLibSize(x.length), 0), spec.embeddingDim + 1)
    // x_causes_y embeds Y and predicts X (`lib/ccm.ex:49-53`)
    val dirs = Array(new Direction(y, x, spec, scratch), new Direction(x, y, spec, scratch))
    val ladder = spec.resolvedLibSizes(x.length)
    val libs = ladder.toArray
    val n = scratch.n
    // rungs with a cell to compute, by ascending lib size; lib_size >= n,
    // < 2 prediction points and an empty library (every prediction 0.0,
    // or no pair at all) all give 0.0
    val rungs = libs.indices.filter(li => libs(li) > 0 && n - libs(li) >= 2).sortBy(libs(_)).toArray
    val sums = Array.ofDim[Double](dirs.length, libs.length)
    val rho = new Array[Double](libs.length)
    val order = Array.range(0, n)
    val keys = new Array[Long](n)
    var s = 1
    while (s <= spec.numSamples) {
      if (!spec.consecutive) {
        // (rankHash, idx) packed into one long: both fit in 31 bits
        var i = 0
        while (i < n) { keys(i) = (DetHash.rankHash(i.toLong, s.toLong, seriesKey, spec.seed) << 32) | i; i += 1 }
        java.util.Arrays.sort(keys)
        i = 0
        while (i < n) { order(i) = keys(i).toInt; i += 1 }
      }
      var d = 0
      while (d < dirs.length) {
        dirs(d).sample(libs, rungs, order, rho)
        var li = 0
        while (li < libs.length) { sums(d)(li) += rho(li); li += 1 }
        d += 1
      }
      s += 1
    }
    def result(d: Int) = {
      val results = ladder.zipWithIndex.map { case (l, li) => (l, sums(d)(li) / spec.numSamples) }
      CcmLocal.DirectionResult(results, CcmLocal.convergent(results))
    }
    CcmLocal.BidirectionalResult(xCausesY = result(0), yCausesX = result(1))
  }

  /** Per-sample working arrays for `n` embedding rows, `k` = E+1 nearest
    * rows per query; both directions use them in turn.
    */
  private final class Scratch(val n: Int, val k: Int) {
    // query q's nearest library rows so far: kd/kp(q * k until q * k + found(q))
    val kd = new Array[Double](n * k)
    val kp = new Array[Int](n * k)
    val found = new Array[Int](n)
    // query q's last prediction, and whether its nearest rows changed since
    val pred = new Array[Double](n)
    val stale = new Array[Boolean](n)
    // one cell's (actual, predicted) pairs, one prediction's distances and weights
    val actual = new Array[Double](n)
    val predicted = new Array[Double](n)
    val dists = new Array[Double](k)
    val w = new Array[Double](k)
  }

  /** One direction of one series: the embedding of `source`, the aligned
    * `target` and the grid buckets.
    */
  private final class Direction(source: Array[Double], target: Array[Double], spec: CcmSpec, s: Scratch) {
    private val embedding = CcmLocal.embed(source, spec.embeddingDim, spec.tau)
    private val adjusted = target.drop((spec.embeddingDim - 1) * spec.tau) // alignment, `ccm.ex:119`
    private val buckets = CcmLocal.gridBuckets(embedding, spec)
    private val n = embedding.length

    /** [[CcmLocal.crossMapSample]] for every lib size of one sample's rank
      * `order` into `rho` (0.0 for the rungs outside `rungs`).
      */
    def sample(libs: Array[Int], rungs: Array[Int], order: Array[Int], rho: Array[Double]): Unit = {
      java.util.Arrays.fill(rho, 0.0)
      java.util.Arrays.fill(s.found, 0)
      var prev = 0
      var r = 0
      while (r < rungs.length) {
        val l = libs(rungs(r))
        var pairs = 0
        var j = l
        while (j < n) {
          val q = order(j)
          extend(q, order, prev, l)
          // exact: min(E+1, L) rows; bucketed: up to E+1 of the box's rows,
          // and a query with none contributes no pair
          val c = s.found(q)
          if (c > 0) {
            if (s.stale(q)) { s.pred(q) = predict(q, c); s.stale(q) = false }
            s.actual(pairs) = adjusted(q)
            s.predicted(pairs) = s.pred(q)
            pairs += 1
          }
          j += 1
        }
        rho(rungs(r)) = CcmLocal.correlation(s.actual, s.predicted, pairs)
        prev = l
        r += 1
      }
    }

    /** Merge the library rows `order(from until until)` into query q's
      * nearest rows, keeping the first k in (distance, index) order, and
      * mark q's prediction stale when they change.
      */
    private def extend(q: Int, order: Array[Int], from: Int, until: Int): Unit = {
      val k = s.k
      val base = q * k
      val eq = embedding(q)
      var found = s.found(q)
      var j = from
      while (j < until) {
        val p = order(j)
        if (inBox(q, p)) {
          val d = CcmLocal.euclidean(eq, embedding(p))
          var at = found
          while (at > 0 && {
                   val c = java.lang.Double.compare(d, s.kd(base + at - 1))
                   c < 0 || (c == 0 && p < s.kp(base + at - 1))
                 }) at -= 1
          if (at < k) {
            var t = math.min(found, k - 1)
            while (t > at) { s.kd(base + t) = s.kd(base + t - 1); s.kp(base + t) = s.kp(base + t - 1); t -= 1 }
            s.kd(base + at) = d
            s.kp(base + at) = p
            if (found < k) found += 1
            s.stale(q) = true
          }
        }
        j += 1
      }
      s.found(q) = found
    }

    /** Whether row p is in query q's ±1 box (always, unbucketed). */
    private def inBox(q: Int, p: Int): Boolean =
      buckets == null || {
        val b1 = buckets.b1(p)
        val b2 = buckets.b2(p)
        val qb1 = buckets.b1(q)
        val qb2 = buckets.b2(q)
        b1 >= qb1 - 1 && b1 <= qb1 + 1 && b2 >= qb2 - 1 && b2 <= qb2 + 1
      }

    /** [[CcmLocal.predictPoint]]'s weighted average over query q's first
      * `c` nearest rows.
      */
    private def predict(q: Int, c: Int): Double = {
      val base = q * s.k
      System.arraycopy(s.kd, base, s.dists, 0, c)
      CcmLocal.weights(s.dists, c, s.w)
      var totalW = s.w(0) // `w.sum` reduces from the first weight
      var i = 1
      while (i < c) { totalW += s.w(i); i += 1 }
      if (totalW == 0.0) 0.0
      else {
        var num = 0.0
        i = 0
        while (i < c) { num += adjusted(s.kp(base + i)) * s.w(i); i += 1 }
        num / totalW
      }
    }
  }
}
