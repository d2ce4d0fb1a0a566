package graft.ccm

import org.apache.spark.sql.{Column, Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions.udaf

/** Input row for the fused kNN-predict aggregate: one candidate (library
  * point) for one prediction point. `k` is constant within a group (the
  * group keys include `lib_size`, so `min(E+1, L)` is per-group fixed).
  */
final case class NNIn(dist: Double, lib_idx: Long, lib_tgt: Double, k: Int)

/** Aggregation buffer: the current top-`k` candidates as parallel arrays
  * sorted ascending by `(dist, lib_idx)` — exactly the window path's
  * `ORDER BY dist, lib_idx` tie-break, so both paths keep the same k rows
  * and accumulate the weighted sum in the same IEEE order. `n` is the
  * filled prefix length (`k = 0` marks the pristine zero buffer).
  *
  * k is tiny (E+1, single digits), so a sorted insert beats any heap.
  */
final case class NNBuf(k: Int, n: Int, dists: Array[Double], idxs: Array[Long], tgts: Array[Double])

/** SURVEY §4 item 1 — the one `Aggregator[IN, BUF, OUT]` the survey
  * licenses (§2 UDF row): fuse top-(E+1) selection + min-dist + exponential
  * weighting + weighted average (`lib/ccm.ex:147-175`, `:246-262`) into a
  * single aggregate, replacing the window path's
  * `row_number <= k` filter → `min over cell` window → groupBy-sum chain.
  *
  * Why this can pay: the window tail costs one exchange on
  * `(cell, pred_idx)` plus a per-partition SORT of the full pair relation,
  * then a SECOND exchange for the groupBy on `(cell, pred_idx, actual)`
  * (Catalyst cannot prove `actual` functionally dependent on `pred_idx`,
  * so the window's hash partitioning does not satisfy the aggregate's).
  * The fused aggregate is ONE exchange, no sort, with map-side partial
  * buffers capped at k entries (the same row reduction
  * `InferWindowGroupLimit` gives the window path, but before its shuffle
  * too — and without materializing rank columns).
  *
  * Why it can lose: a `ScalaAggregator` is a `TypedImperativeAggregate` —
  * the update path is an encoder boundary per row (no whole-stage codegen),
  * whereas the window tail is fully codegen'd end to end.
  *
  * Measured verdict (graft.tools.FusedProbe at commit bb7fe5f, local[32], sf0.1 events):
  * bootstrap-heavy (S=8, 66-pt series, libs 16/32/48) the fused tail is
  * 1.4-1.7x SLOWER — the relation is dominated by group COUNT, not group
  * size, so the saved sort is small while every row pays the encoder
  * boundary; long-series (1 260-pt series, S=4-8, libs to 800) it is
  * 10-25% FASTER — per-group pair counts in the hundreds of thousands
  * make the dropped sort + dropped second exchange the larger term.
  * Hence opt-in (`CcmSpec.fusedTopK`), recommended only for the
  * long-series regime. FusedKnnSpec is the equality proof against the
  * window tail.
  *
  * Determinism: candidates are totally ordered by `(dist, lib_idx)`; both
  * insert and merge respect that order and `finish` folds the kept
  * candidates ascending, so each PREDICTED value is independent of
  * partitioning and bit-equal to the window tail's. Downstream corr/avg
  * then consume rows in a different physical order, so the final skill
  * numbers agree to aggregation-order ulps (FusedKnnSpec pins 1e-9; the
  * contract's 6-decimal rounding and shared DuckDB oracle absorb it).
  */
object FusedKnn {

  private def lt(d1: Double, i1: Long, d2: Double, i2: Long): Boolean =
    d1 < d2 || (d1 == d2 && i1 < i2)

  val agg: Aggregator[NNIn, NNBuf, Double] = new Aggregator[NNIn, NNBuf, Double] {
    def zero: NNBuf = NNBuf(0, 0, Array.emptyDoubleArray, Array.emptyLongArray, Array.emptyDoubleArray)

    def reduce(b0: NNBuf, in: NNIn): NNBuf = {
      val b = if (b0.k == 0) NNBuf(in.k, 0, new Array[Double](in.k), new Array[Long](in.k), new Array[Double](in.k)) else b0
      val k = b.k
      if (b.n == k && !lt(in.dist, in.lib_idx, b.dists(k - 1), b.idxs(k - 1))) b
      else {
        // find insertion point in the sorted prefix, shift the tail right
        var pos = b.n
        while (pos > 0 && lt(in.dist, in.lib_idx, b.dists(pos - 1), b.idxs(pos - 1))) pos -= 1
        val last = math.min(b.n, k - 1) // index that receives the shift's end
        var i = last
        while (i > pos) {
          b.dists(i) = b.dists(i - 1); b.idxs(i) = b.idxs(i - 1); b.tgts(i) = b.tgts(i - 1)
          i -= 1
        }
        b.dists(pos) = in.dist; b.idxs(pos) = in.lib_idx; b.tgts(pos) = in.lib_tgt
        if (b.n < k) b.copy(n = b.n + 1) else b
      }
    }

    def merge(a: NNBuf, c: NNBuf): NNBuf = {
      if (a.k == 0) c
      else if (c.k == 0) a
      else {
        val k = a.k
        val n = math.min(k, a.n + c.n)
        // arrays sized k (not n): a merged buffer must stay a valid reduce
        // target — Spark's phasing never reduces after merge, but the
        // buffer contract shouldn't depend on that
        val out = NNBuf(k, n, new Array[Double](k), new Array[Long](k), new Array[Double](k))
        var i = 0; var j = 0; var o = 0
        while (o < n) {
          val takeA = j >= c.n || (i < a.n && lt(a.dists(i), a.idxs(i), c.dists(j), c.idxs(j)))
          if (takeA) { out.dists(o) = a.dists(i); out.idxs(o) = a.idxs(i); out.tgts(o) = a.tgts(i); i += 1 }
          else { out.dists(o) = c.dists(j); out.idxs(o) = c.idxs(j); out.tgts(o) = c.tgts(j); j += 1 }
          o += 1
        }
        out
      }
    }

    def finish(b: NNBuf): Double =
      if (b.n == 0) 0.0
      else {
        // identical arithmetic + order to the window tail: min over the kept
        // k, exact-hit weight 1.0, 1e-8 stabilizer, ascending accumulation
        val minDist = b.dists(0)
        var sw = 0.0; var swt = 0.0; var i = 0
        while (i < b.n) {
          val d = b.dists(i)
          val w = if (d < 1e-12) 1.0 else graft.functions.ExactMath.exp(-d / (minDist + 1e-8))
          sw += w; swt += w * b.tgts(i)
          i += 1
        }
        if (sw == 0.0) 0.0 else swt / sw
      }

    def bufferEncoder: Encoder[NNBuf] = Encoders.product[NNBuf]
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  private val fn = udaf(agg, Encoders.product[NNIn])

  /** `(dist, lib_idx, lib_tgt, k) -> predicted` as a DataFrame aggregate. */
  def predict(dist: Column, libIdx: Column, libTgt: Column, k: Column): Column =
    fn(dist, libIdx, libTgt, k)
}
