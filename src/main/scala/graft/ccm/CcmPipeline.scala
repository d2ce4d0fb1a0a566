package graft.ccm

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Declarative DataFrame implementation of CCM.
  *
  * Every stage is a relational decomposition of a reference operator
  * (SURVEY.md §2a), expressed with built-in Catalyst expressions only —
  * no UDFs — so the whole plan stays inside whole-stage codegen and is
  * reproducible as ANSI SQL for the DuckDB oracle:
  *
  *  - time-delay embedding  (`lib/ccm.ex:99-107`)  = `lead` window
  *    ([[Knn.embed]])
  *  - library sampling      (`lib/ccm.ex:117,121`) = deterministic
  *    hash-rank split ([[DetHash]]); rank depends only on (series, sample,
  *    idx), so one ranking is **reused across the whole lib-size ladder**
  *    (the reference recomputes from scratch per (libSize, sample))
  *  - brute-force kNN       (`lib/ccm.ex:151-160`) = equi-join on the
  *    (series, sample) cell + top-k window (Spark >= 3.5 rewrites
  *    `row_number <= k` to a per-partition TopK via WindowGroupLimit);
  *    the distance is [[Knn.distance]]
  *  - weights + prediction  (`lib/ccm.ex:142-177,246-262`) = partition-min
  *    analytic + weighted-average aggregate ([[Knn.withWeights]]); the
  *    leave-one-out EDM modules share the same primitive ([[Knn]])
  *  - skill                 (`lib/ccm.ex:187-213`) = `corr` aggregate
  *  - convergence           (`lib/ccm.ex:215-244`) = `regr_slope` aggregate
  *
  * Scale notes (100 TB): all shuffles key on the series id, so work
  * distributes across series; the per-series pair fan-out is the algorithm's
  * intrinsic cost. The [[Ccm]] API does not run this pipeline: it places
  * each series once and runs the [[CcmLocal]] kernel partition-local.
  * This pipeline is the relational form of the same operators — the
  * oracle SQL mirrors it, and the layer-exposing queries call it.
  */
object CcmPipeline {

  /** Dense per-series time index + E-dimensional embedding + aligned target.
    *
    * Input: any DataFrame with a series key, ordering columns, a source
    * column (the embedded series) and a target column (the cross-mapped
    * series). Output: (keys..., idx, e0..e{E-1} flattened point, tgt) where
    * row idx is the embedding row [src(idx), src(idx+tau), ...] and tgt is
    * target(idx + (E-1)tau) — the alignment of `lib/ccm.ex:119`.
    */
  def embedded(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      source: Column,
      target: Column,
      e: Int,
      tau: Int
  ): DataFrame = {
    Knn
      .embed(df, keys, order, source, e, tau, Seq(("tgt", target, (e - 1) * tau)))
      .filter(col(s"e${e - 1}").isNotNull) // rows past n-(E-1)tau have no full point
  }

  /** BOTH directions' embeddings in ONE window pass (round 17, guide
    * §2.4 "remove shuffles outright"): the historical form unioned two
    * [[embedded]] branches — each with its own Sort + two Window passes
    * over the same shuffled base (AQE reuses the identical exchange, but
    * everything above it ran twice). Here ONE [[Knn.embed]] pass computes
    * Y's coordinates, X's leads and the shared idx, and an in-stage
    * `explode(array(...))` built from the [[Ccm.Directions]] table splits
    * rows per direction — exactly the union's row multiset (`x_causes_y`
    * embeds Y targets X, `lib/ccm.ex:49-53`), with one Sort and one
    * Window pass. Generator + top-level filter keep whole-stage codegen
    * (the reusePairs lesson: higher-order filter() is interpreted-only).
    */
  def embeddedBoth(
      df: DataFrame,
      keys: Seq[String],
      order: Seq[Column],
      x: Column,
      y: Column,
      e: Int,
      tau: Int
  ): DataFrame = {
    // window pass: Y's leads as e0..e{E-1}, X's as __x0..__x{E-1}, flat.
    // A direction's target is the OTHER column's last lead — the same
    // lead(col, (e-1)*tau) expression as that column's last coordinate,
    // so it is reused below instead of aliased twice (ADVICE r17 item 3).
    val flat = Knn.embed(df, keys, order, y, e, tau, (0 until e).map(j => (s"__x$j", x, j * tau)))
    val prefix = Map("y" -> "e", "x" -> "__x")
    def dirStruct(dir: String, src: String, tgt: String): Column =
      struct(
        (lit(dir).as("direction") +:
          (0 until e).map(j => col(s"${prefix(src)}$j").as(s"e$j"))) :+
          col(s"${prefix(tgt)}${e - 1}").as("tgt"): _*
      )
    flat
      .select(
        keys.map(col) ++ Seq(
          col("idx"),
          explode(array(Ccm.Directions.map { case (d, s, t) => dirStruct(d, s, t) }: _*)).as("__d")
        ): _*
      )
      .select(
        keys.map(col) ++ Seq(col("idx")) ++
          (0 until e).map(j => col(s"__d.e$j").as(s"e$j")) ++
          Seq(col("__d.tgt").as("tgt"), col("__d.direction").as("direction")): _*
      )
      .filter(col(s"e${e - 1}").isNotNull)
  }

  /** Hash-rank every embedding row within each (series, sample) cell.
    * Output adds (sample_id, rank): rows with rank <= L form the library for
    * lib size L; the complement is the prediction set.
    *
    * `consecutive = true` ranks by time index instead of hash — the
    * README-parity library mode (`/root/reference/README.md:89,103`,
    * [[CcmSpec.consecutive]]): library = first L rows, prediction set =
    * the unshuffled series tail.
    */
  def ranked(
      emb: DataFrame,
      keys: Seq[String],
      numSamples: Int,
      seed: Long,
      seriesKey: Column,
      consecutive: Boolean = false
  ): DataFrame = {
    val spark = emb.sparkSession
    val samples = spark.range(1, numSamples + 1).select(col("id").as("sample_id"))
    val h = DetHash.rankHashCol(col("idx"), col("sample_id"), seriesKey, seed)
    val ordering = if (consecutive) Seq(col("idx").asc) else Seq(h.asc, col("idx").asc)
    val w = Window
      .partitionBy((keys.map(col) :+ col("sample_id")): _*)
      .orderBy(ordering: _*)
    emb
      .crossJoin(broadcast(samples))
      .withColumn("rank", row_number().over(w).cast("long"))
  }

  /** Cross-map predictions for every (series, sample, lib_size, pred point):
    * the kNN join + exponential weighting + weighted average
    * (`lib/ccm.ex:142-177,246-262`), returning one row per prediction with
    * columns (keys..., sample_id, lib_size, pred_idx, actual, predicted).
    */
  def predictions(
      rankedDf: DataFrame,
      keys: Seq[String],
      libSizes: Seq[Int],
      e: Int,
      knnBuckets: Int = 0,
      knnAutoFactor: Int = 64,
      reuseDistances: Boolean = false,
      fusedTopK: Boolean = false,
      orderFreeFold: Boolean = false
  ): DataFrame = {
    val spark = rankedDf.sparkSession
    graft.functions.GraftFunctions.register(spark) // graft_exp weight kernel
    import spark.implicits._
    val k = keys.map(col)
    val libs = broadcast(libSizes.toDF("lib_size"))
    val cellKeys = k ++ Seq(col("sample_id"), col("lib_size"))
    val maxLib = libSizes.max
    val minLib = libSizes.min

    // AQE sizes post-shuffle parallelism from the PRE-join byte count, but
    // the pair join inflates the relation ~maxLib-fold (96k ranked rows ->
    // 11M pairs for the sf0.1 wide workload); the coalesced handful of
    // partitions then serializes the top-k sort downstream of the join
    // (measured 7.4 s -> 1.4 s at local[32] from this line alone). An
    // EXPLICIT-width repartition on the cell keys pins the join+window
    // stage at the configured shuffle width — REPARTITION_BY_NUM shuffles
    // are exempt from AQE coalescing — and `spark.sql.shuffle.partitions`
    // remains the operator's sizing knob for exactly this stage at cluster
    // scale. (Round 17 tried moving this pin BELOW the rank window inside
    // [[ranked]], betting that localCheckpoint's LogicalRDD preserves the
    // partitioning so the self-join would plan zero exchanges: it does
    // NOT — the checkpointed scan reports UnknownPartitioning(0), the
    // join fell back to ENSURE_REQUIREMENTS exchanges that AQE coalesced,
    // and ccm_wide went 3.4 s -> 9.4 s. Measured, reverted; the pin must
    // live here, ABOVE the checkpoint.)
    val rdf = rankedDf.repartition(
      spark.sessionState.conf.numShufflePartitions,
      (k :+ col("sample_id")): _*
    )

    // Approximate-kNN candidate pruning (CcmSpec.knnBuckets > 0): grid-
    // bucket every embedding row along e0 AND e{E-1} (compound two-axis
    // key; e0 alone when E = 1 — VERDICT r6 item 2: single-axis pruning
    // power decays as E grows because |Δe0| is a weak distance bound when
    // variance spreads across lags) with per-series per-axis bucket width
    // (max-min)/knnBuckets, and make both bucket ids part of the JOIN
    // KEY — the query side probes its own bucket ±1 per axis via nested
    // 3-row explodes, so the pair join enumerates only candidates within
    // one bucket width along BOTH axes (dist >= max(|Δe0|, |Δe{E-1}|), so
    // any true neighbor closer than one bucket width is guaranteed to be
    // probed). Putting the buckets in the equi-key matters at scale: a
    // `abs(q.b - l.b) <= 1` range predicate would still stream the full
    // per-series group through the sort-merge join; the equi-key bounds
    // the build side per (series, sample, bucket, bucket2). All bucket
    // arithmetic is single IEEE ops on raw inputs (min/max are
    // selections, not sums), so the bucketing is bit-reproducible and
    // oracle-expressible.
    //
    // Auto-disable gate (VERDICT r6 item 4): series with fewer than
    // knnAutoFactor * knnBuckets embedding rows take the EXACT join — the
    // plan SPLITS the series population on the gate and unions two joins,
    // so short series pay none of the bucket machinery (no probe
    // generators, no bucket join keys; a single when()-gated formulation
    // measured ~1.6x the exact twin on all-short workloads purely in plan
    // overhead). The gate is deterministic in the per-series row count
    // and replayed verbatim by the oracle SQL's CASE (all-zero buckets
    // for gated series there — value-identical to the exact join since
    // every pair matches).
    val useBuckets = knnBuckets > 0
    val lastDim = s"e${e - 1}"

    // kNN pairs, joined ONCE per (series, sample) cell. A (query, library)
    // pair participates in lib size L iff l.rank <= L < q.rank, so every
    // useful pair satisfies l.rank < q.rank, l.rank <= max(libSizes) and
    // q.rank > min(libSizes) — the join + distance are therefore computed a
    // single time per pair and the lib-size dimension is attached AFTERWARDS
    // with cheap range predicates (an |libSizes|-fold reduction in distance
    // evaluations and join output vs fanning out before the join).
    val joinCondBase = keys
      .map(kn => col(s"q.$kn") === col(s"l.$kn"))
      .reduce(_ && _) && $"q.sample_id" === $"l.sample_id" &&
      $"l.rank" < $"q.rank" && $"l.rank" <= lit(maxLib.toLong)
    val dims = 0 until e
    val distExpr = Knn.distance("q", "l", e)
    def pairSelect(joined: DataFrame): DataFrame =
      joined.select(
        (keys.map(kn => col(s"q.$kn").as(kn)) ++ Seq(
          $"q.sample_id".as("sample_id"),
          $"q.rank".as("q_rank"),
          $"l.rank".as("l_rank"),
          $"q.idx".as("pred_idx"),
          $"q.tgt".as("actual"),
          $"l.idx".as("lib_idx"),
          $"l.tgt".as("lib_tgt"),
          distExpr.as("dist")
        )): _*
      )
    def exactPairs(rel: DataFrame): DataFrame =
      pairSelect(
        rel.as("q").filter($"q.rank" > lit(minLib.toLong)).join(rel.as("l"), joinCondBase)
      )

    // Distance-reuse across bootstrap samples (SURVEY §4 item 2;
    // CcmSpec.reuseDistances). The exact join above evaluates each
    // (q_idx, l_idx) distance once per SAMPLE though it depends only on
    // the point pair. Here the join is keyed on (series, q_idx, l_idx)
    // alone — distance computed ONCE — and every point carries its
    // per-sample rank ARRAY (one groupBy over the ranked relation; the
    // embedding coordinates are sample-invariant so `first` is
    // value-deterministic). Per-sample membership is then expanded
    // IN-STAGE after the join — explode(sequence(1, S)) + element_at +
    // the same rank predicates — so reuse adds zero shuffles; a first
    // cut that joined two narrow per-sample rank relations back onto the
    // pair relation was 3x SLOWER than recomputing (two extra shuffles
    // of the inflated pair relation dwarf the saved arithmetic — in
    // Spark, row movement dominates a per-row sqrt). Across-sample rank
    // extremes pre-prune the sides (a point can be a library point in
    // SOME sample only if min_s rank <= maxLib; a query point only if
    // max_s rank > minLib). Output rows are identical to exactPairs —
    // same distance expression over the same doubles, same membership
    // predicates (ReuseDistancesSpec). Measured OUTCOME
    // (graft.tools.BootProbe at bb7fe5f, S=8/32, libs near/far n): 1.1-1.5x
    // slower than recomputing — candidate-row enumeration (S·n per cell
    // through join or generator, identical in both paths) dominates, the
    // E-dim distance is ~free inside whole-stage codegen, and this path
    // additionally carries two S-element rank arrays through every
    // generated row. Kept opt-in as the honest record of SURVEY §4 item
    // 2: in this engine candidate-count reduction (knnBuckets) pays;
    // arithmetic reuse does not (see CcmSpec.reuseDistances scaladoc).
    def reusePairs(rel: DataFrame): DataFrame = {
      val kCols = keys.map(col)
      val rankArr = transform(
        array_sort(collect_list(struct($"sample_id", $"rank"))),
        x => x.getField("rank")
      )
      // explicit-width repartition on the series keys: same AQE hazard as
      // the exact path above — the self-join + explode inflates this
      // relation n·S-fold, so post-shuffle coalescing by pre-join bytes
      // would serialize the distance/top-k stage
      val aggCols = dims.map(j => first(col(s"e$j")).as(s"e$j")) ++ Seq(
        first($"tgt").as("tgt"),
        rankArr.as("rank_arr")
      )
      val embR = rel
        .groupBy((kCols :+ col("idx")): _*)
        .agg(aggCols.head, aggCols.tail: _*)
        .repartition(spark.sessionState.conf.numShufflePartitions, kCols: _*)
      val qSide = embR.filter(array_max($"rank_arr") > lit(minLib.toLong))
      val lSide = embR.filter(array_min($"rank_arr") <= lit(maxLib.toLong))
      val pairCond = keys
        .map(kn => col(s"q.$kn") === col(s"l.$kn"))
        .reduce(_ && _) && $"q.idx" =!= $"l.idx"
      qSide
        .as("q")
        .join(lSide.as("l"), pairCond)
        .select(
          (keys.map(kn => col(s"q.$kn").as(kn)) ++ Seq(
            $"q.idx".as("pred_idx"),
            $"q.tgt".as("actual"),
            $"l.idx".as("lib_idx"),
            $"l.tgt".as("lib_tgt"),
            distExpr.as("dist"),
            $"q.rank_arr".as("__q_arr"),
            $"l.rank_arr".as("__l_arr")
          )): _*
        )
        // expand to (pair, sample) rows and filter membership right after
        // the generator. A higher-order filter() over the sequence BEFORE
        // exploding generated strictly fewer rows but measured ~30% slower
        // end-to-end: ArrayFilter's lambda is interpreted-only, which
        // ejects the whole join+generate stage from whole-stage codegen.
        // Explode + top-level element_at + Filter all stay codegen'd. The
        // per-point rank array has one entry per sample, so its size IS
        // numSamples — no driver action needed.
        .withColumn("sample_id", explode(sequence(lit(1L), size($"__q_arr").cast("long"))))
        .withColumn("q_rank", element_at($"__q_arr", $"sample_id".cast("int")))
        .withColumn("l_rank", element_at($"__l_arr", $"sample_id".cast("int")))
        .filter(
          $"l_rank" < $"q_rank" && $"l_rank" <= lit(maxLib.toLong) &&
            $"q_rank" > lit(minLib.toLong)
        )
        .drop("__q_arr", "__l_arr")
    }

    def buildBucketed(stats: DataFrame): DataFrame = {
      // series-count-proportional: AQE may broadcast
      val withStats = rdf.join(stats, keys)
      def bucketCol(v: Column, mn: Column, mx: Column): Column = {
        val width = (mx - mn) / lit(knnBuckets.toDouble)
        when(width > 0.0, floor((v - mn) / width)).otherwise(0.0).cast("long")
      }
      val en = withStats
        .filter($"__on")
        .withColumn("bucket", bucketCol($"e0", $"__mn0", $"__mx0"))
        .withColumn(
          "bucket2",
          if (e > 1) bucketCol(col(lastDim), $"__mnL", $"__mxL") else lit(0L)
        )
        .drop("__mn0", "__mx0", "__mnL", "__mxL", "__n", "__on")
      val enQ = {
        val p1 = en.withColumn("probe", explode(array($"bucket" - 1, $"bucket", $"bucket" + 1)))
        if (e > 1)
          p1.withColumn("probe2", explode(array($"bucket2" - 1, $"bucket2", $"bucket2" + 1)))
        else p1.withColumn("probe2", lit(0L))
      }
      val bucketJoin = joinCondBase &&
        $"l.bucket" === $"q.probe" && $"l.bucket2" === $"q.probe2"
      val enPairs = pairSelect(
        enQ.as("q").filter($"q.rank" > lit(minLib.toLong)).join(en.as("l"), bucketJoin)
      )
      val disPairs = exactPairs(
        withStats
          .filter(!$"__on")
          .drop("__mn0", "__mx0", "__mnL", "__mxL", "__n", "__on")
      )
      enPairs.unionByName(disPairs)
    }

    val pairsOnce =
      if (!useBuckets && reuseDistances) reusePairs(rankedDf)
      else if (!useBuckets) exactPairs(rdf)
      else {
        val stats = rdf
          .filter($"sample_id" === 1)
          .groupBy(k: _*)
          .agg(
            min($"e0").as("__mn0"),
            max($"e0").as("__mx0"),
            min(col(lastDim)).as("__mnL"),
            max(col(lastDim)).as("__mxL"),
            count(lit(1)).as("__n")
          )
          .withColumn("__on", $"__n" >= lit(knnAutoFactor.toLong * knnBuckets))
        // ALL-short pruning: when no series clears the auto-gate, the
        // two-branch union would be the exact join plus an EMPTY bucket
        // branch — still ~1.6x the exact twin in pure plan overhead
        // (bucket-stats join, probe generators, union). One tiny
        // series-count-proportional aggregate over the (checkpointed)
        // ranked relation decides the plan instead; values are identical
        // either way (gated series' buckets are all-zero, every pair
        // matches), so the shared oracle is untouched — this is a plan
        // decision, not a semantics change. Deterministic in the data.
        if (knnAutoFactor > 0 && stats.filter($"__on").isEmpty) exactPairs(rdf)
        else buildBucketed(stats)
      }

    val pairs = pairsOnce
      .crossJoin(libs)
      .filter($"l_rank" <= $"lib_size" && $"q_rank" > $"lib_size")
      .drop("q_rank", "l_rank")

    // Fused tail (SURVEY §4 item 1, see [[FusedKnn]]): one aggregate
    // replaces window-topk + window-min + groupBy — one exchange instead
    // of two, no sort. Values are bit-identical to the window tail below
    // (FusedKnnSpec is the standing proof).
    if (fusedTopK) {
      val kCol =
        if (minLib >= e + 1) lit(e + 1) else least(lit(e + 1), $"lib_size").cast("int")
      return pairs
        .groupBy((cellKeys ++ Seq(col("pred_idx"), col("actual"))): _*)
        .agg(FusedKnn.predict($"dist", $"lib_idx", $"lib_tgt", kCol).as("predicted"))
    }

    // top-k neighbors, k = min(E+1, L)  (`lib/ccm.ex:147-149`). When every
    // lib size is >= E+1 (the usual case) the limit is the LITERAL e+1,
    // which lets InferWindowGroupLimit rewrite the rank filter into a
    // partial+final per-partition TopK (map-side k-row heap BEFORE the
    // shuffle); a non-foldable `least(e+1, lib_size)` limit would keep the
    // full pair relation flowing through the exchange.
    val wNN = Window
      .partitionBy((cellKeys :+ col("pred_idx")): _*)
      .orderBy($"dist".asc, $"lib_idx".asc)
    val kLimit: Column =
      if (minLib >= e + 1) lit(e + 1) else least(lit(e + 1), $"lib_size")
    val nn = pairs
      .withColumn("nn_rank", row_number().over(wNN))
      .filter($"nn_rank" <= kLimit)

    // weights (`lib/ccm.ex:246-262`, [[Knn.withWeights]]) + weighted
    // prediction (`ccm.ex:168-175`).
    val weighted = Knn.withWeights(nn, cellKeys :+ $"pred_idx")
    if (!orderFreeFold)
      weighted
        .groupBy((cellKeys ++ Seq(col("pred_idx"), col("actual"))): _*)
        .agg(sum($"w").as("sw"), sum($"w" * $"lib_tgt").as("swt"))
        .withColumn("predicted", Knn.predicted($"sw", $"swt"))
        .drop("sw", "swt")
    else
      // ORDER-FREE publication fold (round 15, closing the float ledger
      // for ccm_knn_predict's raw `predicted` output): each of the k
      // weighted terms is nano-rounded with the literal floor/ceil
      // half-away expression (bit-identical on both engines — w comes
      // from graft_exp/ExactExp, the multiply is one IEEE op), the sums
      // are exact integers in ANY aggregation order, and the average is
      // ONE division of those integers (the nano scale cancels). Value
      // cost <= 0.5 nano per term. The float fold above stays the
      // pipeline-internal path (its consumers publish 6-dp aggregates
      // with measured boundary clearance); this variant is for gates
      // publishing the per-point prediction itself.
      weighted
        .groupBy((cellKeys ++ Seq(col("pred_idx"), col("actual"))): _*)
        .agg(
          // w in [0, 1]; the grid strings are single-sourced with the
          // oracle via graft.contract.GridRound
          sum(expr(graft.contract.GridRound.floorUnits("w", "1e9"))).as("sw_n"),
          sum(expr(graft.contract.GridRound.halfAwayUnits("w * lib_tgt", "1e9"))).as("swt_n")
        )
        .withColumn(
          "predicted",
          when($"sw_n" === 0L, 0.0).otherwise($"swt_n".cast("double") / $"sw_n".cast("double"))
        )
        .drop("sw_n", "swt_n")
  }

  /** Full skill curve: for each (keys..., lib_size) the average Pearson
    * correlation over samples, with all reference degenerate paths.
    */
  def skill(
      rankedDf: DataFrame,
      keys: Seq[String],
      libSizes: Seq[Int],
      numSamples: Int,
      e: Int,
      knnBuckets: Int = 0,
      knnAutoFactor: Int = 64,
      reuseDistances: Boolean = false,
      fusedTopK: Boolean = false
  ): DataFrame = {
    val spark = rankedDf.sparkSession
    graft.functions.GraftFunctions.register(spark) // graft_exp weight kernel
    import spark.implicits._
    val k = keys.map(col)
    skillCells(rankedDf, keys, libSizes, numSamples, e, knnBuckets, knnAutoFactor, reuseDistances, fusedTopK)
      .groupBy((k :+ col("lib_size")): _*)
      .agg(avg($"rho_cell").as("rho"))
  }

  /** Per-sample skill CELLS — the single definition of the relation
    * [[skill]] averages and ccm_boot_ci ranks (one rho_cell per
    * (keys, sample_id, lib_size), guard cells at 0.0 — the
    * `lib/ccm.ex:109-110` guard lives HERE and nowhere else, so the
    * reported mean and the reported CI can never come from different
    * cell definitions).
    */
  def skillCells(
      rankedDf: DataFrame,
      keys: Seq[String],
      libSizes: Seq[Int],
      numSamples: Int,
      e: Int,
      knnBuckets: Int = 0,
      knnAutoFactor: Int = 64,
      reuseDistances: Boolean = false,
      fusedTopK: Boolean = false
  ): DataFrame = {
    val spark = rankedDf.sparkSession
    graft.functions.GraftFunctions.register(spark) // graft_exp weight kernel
    import spark.implicits._
    val k = keys.map(col)
    val libs = broadcast(libSizes.toDF("lib_size"))
    val cellKeys = k ++ Seq(col("sample_id"), col("lib_size"))
    val preds =
      predictions(rankedDf, keys, libSizes, e, knnBuckets, knnAutoFactor, reuseDistances, fusedTopK)
    // Pearson per cell; NULL/NaN (corr of <2 rows or zero variance) -> 0.0
    val corrCell = preds
      .groupBy(cellKeys: _*)
      .agg(corr($"actual", $"predicted").as("c"))
      .withColumn("c", when($"c".isNull || isnan($"c"), 0.0).otherwise($"c"))
    // Complete cell grid so guard cells (libSize >= n, or empty prediction
    // set) contribute 0.0 instead of disappearing.
    val nPts = rankedDf
      .filter($"sample_id" === 1)
      .groupBy(k: _*)
      .agg(count(lit(1)).as("n_pts"))
    val samples = spark.range(1, numSamples + 1).select(col("id").as("sample_id"))
    val grid = nPts.crossJoin(broadcast(samples)).crossJoin(libs)
    val gridJoinKeys = keys ++ Seq("sample_id", "lib_size")
    grid
      .join(corrCell, gridJoinKeys, "left")
      .withColumn(
        "rho_cell",
        when($"lib_size" >= $"n_pts", 0.0) // guard `lib/ccm.ex:109-110`
          .otherwise(coalesce($"c", lit(0.0)))
      )
  }

  /** Convergence per series: OLS slope of rho on lib_size; `convergent` =
    * at least 3 lib sizes and a non-null, non-NaN slope strictly > 0.001,
    * `slope` = the raw slope with null → 0.0 (`lib/ccm.ex:215-244`).
    */
  def convergence(skillDf: DataFrame, keys: Seq[String]): DataFrame = {
    val spark = skillDf.sparkSession
    import spark.implicits._
    skillDf
      .groupBy(keys.map(col): _*)
      .agg(
        regr_slope($"rho", $"lib_size".cast("double")).as("slope"),
        count(lit(1)).as("n_sizes")
      )
      .withColumn("convergent", $"n_sizes" >= 3 && $"slope".isNotNull && !isnan($"slope") && $"slope" > 0.001)
      .withColumn("slope", coalesce($"slope", lit(0.0)))
  }
}
