package graft.ccm

/** Analysis spec for Convergent Cross Mapping.
  *
  * Mirrors the reference's `%CCM{}` struct and `CCM.new/3` validation +
  * defaults (reference `lib/ccm.ex:7,20-42`): `embedding_dim: 3`, `tau: 1`,
  * `num_samples: 100`, lib-size ladder auto-generated from the series length.
  *
  * Unlike the reference (unseeded `Enum.take_random`, `lib/ccm.ex:117`) the
  * library sampling here is fully deterministic given `seed` — see
  * [[DetHash]] — so results are reproducible and oracle-checkable.
  *
  * `knnBuckets` (engine extension, SURVEY §4.3): 0 = exact brute-force
  * kNN (the reference's semantics, `lib/ccm.ex:151-160`); > 0 enables the
  * approximate candidate path — each embedding row is grid-bucketed along
  * `e0` AND `e{E-1}` (a compound two-axis key; one axis when E = 1) into
  * `knnBuckets` per-series buckets per axis and the kNN join probes only
  * the query's bucket ±1 on each axis. Every execution form honours it
  * with bit-identical buckets: the [[CcmKernel]] behind the [[Ccm]] API
  * (which skips the rows outside each query's box as it grows the
  * query's library), its brute-force spec [[CcmLocal]], and the declarative
  * [[CcmPipeline.predictions]].
  * Deterministic (bucket edges derive from per-series min/max, not RNG),
  * so still oracle-checkable; candidate count per query point drops from
  * the whole library to the ~(3/knnBuckets)² fraction within one bucket
  * width on both axes — the 100 TB escape hatch for very long series.
  *
  * `knnAutoFactor` (VERDICT r6 item 4): bucketing only pays once the
  * per-series candidate set dwarfs its fixed overhead (bucket-stats join
  * + per-axis probe explode), so series with fewer than
  * `knnAutoFactor * knnBuckets` embedding rows fall back to the EXACT
  * path per series (all rows in one bucket, single probe) even when
  * `knnBuckets > 0` — the flag is safe-by-default on short series. The
  * gate is a deterministic function of the embedding row count, so the
  * oracle replays it bit-exactly. 0 = always bucket (for tests and for
  * pinning the bucket path at small gate scale factors). Default 64:
  * measured crossover — 67-pt series lose (ccm_curve_approx was 2.2x its
  * exact twin), ~1 260-pt series win ~2x (ccm_wide_approx).
  *
  * `reuseDistances` (SURVEY §4 item 2): factor the exact kNN join's
  * pair-distance computation out of the per-sample loop — each
  * (q_idx, l_idx) distance is evaluated once per series, with
  * per-sample library membership expanded afterwards from per-point
  * rank arrays (zero extra shuffles). Value-identical to the default
  * path (same expression, same membership predicates). MEASURED
  * NEGATIVE on this engine and kept opt-in as documentation: the
  * reference's flop-count argument (Θ(S·B·n²) distance evaluations,
  * SURVEY §4) does not transfer to a columnar codegen engine — both paths enumerate
  * S·n-per-cell candidate rows through the join/generator, a 3-dim
  * distance is ~free inside whole-stage codegen, and the reuse path
  * additionally carries two S-element rank arrays through every
  * generated row (probed 1.1-1.5x SLOWER at S=8/32, libs both far
  * from and near n — graft.tools.BootProbe, at commit bb7fe5f). What
  * actually pays at scale is candidate-count reduction (`knnBuckets`),
  * not arithmetic reuse. Exact path only (ignored when knnBuckets > 0).
  *
  * `fusedTopK` (SURVEY §4 item 1): replace the kNN tail's
  * window-topk → window-min → groupBy chain with the single
  * [[FusedKnn]] `Aggregator` (one exchange, no sort, k-capped partial
  * buffers). Value-identical to the window tail. MEASURED MIXED
  * (graft.tools.FusedProbe, at commit bb7fe5f): LOSES 1.4-1.7x in the
  * bootstrap-heavy regime (S=8, 66-pt series — many tiny groups, where the
  * per-row encoder boundary of a TypedImperativeAggregate costs more
  * than the codegen'd sort it removes) and WINS ~10-25% on long
  * series with few samples (1 260-pt series — the pair relation per
  * group is large, so the saved sort + second exchange dominate).
  * Off by default; turn on for the long-series regime.
  *
  * `reuseDistances` and `fusedTopK` shape the declarative pair join
  * ([[CcmPipeline.predictions]] / [[CcmPipeline.skill]]) only; the
  * [[Ccm]] API's [[CcmKernel]] ignores them. ReuseDistancesSpec and FusedKnnSpec
  * are the standing proof that each reproduces the default path.
  *
  * `consecutive` (README-parity mode): the reference's README describes
  * libraries as "L consecutive slices of the training set … each slice
  * longer than the previous, increment constant"
  * (`/root/reference/README.md:103`) with "test sets extracted from the
  * end … we do not shuffle" (`README.md:89`), while the CODE samples
  * random subsets (`lib/ccm.ex:117`). `consecutive = false` (default)
  * is the code's behavior; `true` selects the README's: library for
  * size L = the FIRST L embedding rows in time order (the lib-size
  * ladder supplies the constant increment), prediction set = the
  * remaining rows at the END of the series, unshuffled. Ranking is then
  * sample-independent, so run it with `numSamples = 1`.
  */
final case class CcmSpec(
    embeddingDim: Int = 3,
    tau: Int = 1,
    libSizes: Option[Seq[Int]] = None,
    numSamples: Int = 100,
    seed: Long = 42L,
    knnBuckets: Int = 0,
    knnAutoFactor: Int = 64,
    reuseDistances: Boolean = false,
    fusedTopK: Boolean = false,
    consecutive: Boolean = false
) {
  require(embeddingDim >= 1, "embeddingDim must be >= 1")
  require(tau >= 1, "tau must be >= 1")
  require(numSamples >= 1, "numSamples must be >= 1")
  require(knnBuckets >= 0, "knnBuckets must be >= 0 (0 = exact kNN)")
  require(knnAutoFactor >= 0, "knnAutoFactor must be >= 0 (0 = always bucket)")
  libSizes.foreach(ls => require(ls.nonEmpty, "libSizes must be non-empty when given"))

  /** Number of embedding rows for a series of length n: n - (E-1)*tau. */
  def maxLibSize(n: Int): Int = n - (embeddingDim - 1) * tau

  /** Lib sizes to test for a series of length n (explicit or auto ladder). */
  def resolvedLibSizes(n: Int): Seq[Int] =
    libSizes.getOrElse(CcmSpec.libSizeLadder(maxLibSize(n)))
}

object CcmSpec {

  /** Library-size ladder, exactly the reference's `generate_lib_sizes/1`
    * (`lib/ccm.ex:86-97`): `max < 10 -> [max]`; else arithmetic sequence
    * starting at `max(max/10, 5)` with step `max(2, max/20)` while <= max.
    */
  def libSizeLadder(maxSize: Int): Seq[Int] =
    if (maxSize < 10) Seq(maxSize)
    else {
      val step = math.max(2, maxSize / 20)
      val start = math.max(maxSize / 10, 5)
      Iterator.iterate(start)(_ + step).takeWhile(_ <= maxSize).toSeq
    }
}
