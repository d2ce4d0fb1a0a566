package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** Benchmark main: times every SparkEntry.queries entry at
  * SPARK_GRAFT_SF_DIR and emits ONE machine-parseable JSON line.
  *
  * Robustness (VERDICT r1 item 7): sbt prefixes stdout with [info], so the
  * JSON is ALSO written to bench_out.json in the working directory; failed
  * queries are recorded by name in "failed" instead of being silently timed
  * as -1.
  *
  * Noise robustness (VERDICT r6 item 1): the host VM shows multi-x
  * run-to-run noise (identical code measured 45.9-109.9 s totals across
  * eleven round-6 invocations), which made the 2x-per-query regression bar
  * unfalsifiable from any single run. This bench therefore interleaves a
  * FIXED CANARY workload (constant cost, independent of SF) through the
  * run:
  *   - after warmup, the canary runs CanaryBaseRuns times; its min is the
  *     invocation's quiet-host reference (canary_base);
  *   - each query's timing window is bracketed by one canary before and
  *     one after; the window's inflation estimate is the QUIETER of the
  *     two adjacent canaries over canary_base (conservative: less
  *     normalization), clamped at >= 1;
  *   - "queries" reports the raw min (comparable to BASELINE.md merged
  *     mins); "queries_norm" reports min over windows of raw/inflation;
  *   - any query whose raw min exceeds 2x its embedded baseline
  *     (BenchBaseline, regenerated each round from BASELINE.md's latest
  *     merged-min table) is AUTO-RERUN with a fresh bracketed window, up to
  *     MaxRetryWindows times — stopping early if a QUIET window (both
  *     adjacent canaries < QuietFactor x base AND the run's base itself at
  *     the recorded quiet-host level, AbsQuietBaseSec — a uniformly
  *     degraded host must not certify its own inflated readings) still
  *     lands above the bar, which is evidence of a real regression rather
  *     than noise; such queries are listed in "above_bar_quiet";
  *   - END-OF-RUN REQUEUE (VERDICT r9 item 1, hardened r12 per VERDICT r11
  *     item 4): if the whole run saw canary drift > 2x, every query still
  *     above its bar RAW gets fresh bracketed min-of-3 windows at the end
  *     of the run, RETRIED until a window's own bracketing canaries are
  *     quiet or its raw reading lands under the bar (cap RequeueMaxTries);
  *     all tries join the query's verdict and the quietest ships verbatim
  *     under "requeue" with its try count and a settled flag, so a
  *     still-noisy requeue can never masquerade as a quiet defense.
  *   - a partial run (SPARK_GRAFT_ONLY) takes each query's min-of-3
  *     window only: no above-bar retries and no end-of-run requeue, as it
  *     skips the sf1 panel. Its bars come from the full-suite baselines,
  *     which a local A/B host reads above; its JSON records
  *     "retries":"skipped".
  */
object Bench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // SPARK_GRAFT_MASTER / SPARK_GRAFT_CPUS / SPARK_GRAFT_SPARK_CONF: the
    // same levers as Verify (baselines and bars only mean anything on the
    // default local master, but the multi-executor probe needs timed runs
    // too); documented once in [[ExtraConf.session]].
    val spark = ExtraConf.session(defaultCpus = 4)

    // Fixed canary: constant-cost scan + small shuffle, no data files, no
    // caching effects. Its drift measures HOST noise, not query cost.
    // (Workload body shared with the sf1 seeding tool via BenchCanary.)
    def canaryOnce(): Double = BenchCanary.scanShuffleOnce(spark)

    // Second, PAIR-JOIN-SHAPED canary (round 13): the scan+shuffle canary
    // above proved blind to the host dimension that inflates the CCM
    // family — the round-13 adjudication measured the r11 BINARY at 1.65x
    // its own recorded floors under a 0.068-quiet primary canary
    // (BASELINE.md "Adjudication of the residual 1.18x"). This canary has
    // that family's shape (a keyed self-join fanning ~30x into a
    // partial+final aggregate) so a host that slows pair joins shows up
    // as canary_pair drift in the run artifact instead of needing a
    // three-build forensic. Sampled only at run start and end (it costs
    // ~0.2 s; bracketing 278 windows with it would add minutes).
    def canaryPairOnce(): Double = BenchCanary.pairJoinOnce(spark)
    val canaryPairSamples = collection.mutable.ArrayBuffer.empty[Double]

    // Untimed JIT/codegen warmup on the smallest SF: the first heavy
    // window+join job otherwise pays ~20s of one-time compilation that
    // would be attributed to an arbitrary query. ccm_convergence is the
    // first heavy query in bench (alphabetical) order and has repeatedly
    // absorbed residual first-heavy-job costs, so warm it explicitly too.
    for (w <- Seq("ccm_curve", "ccm_convergence"))
      try SparkEntry.queries(w)(spark, "/root/testdata/sf0.001").queryExecution.toRdd.count()
      catch { case _: Throwable => () }
    canaryOnce() // warm the canary's codegen too before baselining it

    // Bar floor (VERDICT r8 item 6): a merged-min baseline below the host's
    // scheduling noise floor (e.g. ccm_gen_coupled at 0.030 s) turns a
    // ~40 ms absolute delta into a "2x regression". Clamp the baseline to
    // 0.15 s before doubling so millisecond entries can't trip the alarm;
    // entries above the floor are unaffected.
    val BarFloorSec = 0.15
    def barOf(baseline: Double): Double = math.max(baseline, BarFloorSec) * 2.0

    val CanaryBaseRuns = 5
    val QuietFactor = 1.3
    // Pair-canary quiet criterion (VERDICT r13 item 1, re-derived r15 per
    // ADVICE r14): the pair canary brackets the host dimension that
    // inflates the CCM family (keyed self-join fan-out into an
    // aggregate). r14 used a single ABSOLUTE ceiling (0.21 = the recorded
    // 0.153-0.161 quiet floor x 1.3), which was blind in both directions:
    // a FASTER host (pair floor, say, 0.12) could quiet-certify a 1.65x-
    // inflated window at 0.20, and the constant needed re-calibration per
    // host. The criterion now mirrors the primary canary exactly:
    // RELATIVE — at least one adjacent pair sample within QuietFactor of
    // the run's own pair base (min of all pair samples so far) — AND
    // ABSOLUTE — the pair base itself at the recorded quiet-host level,
    // so a uniformly degraded host still cannot certify its own inflated
    // readings (the AbsQuietBaseSec discipline).
    val PairAbsQuietBaseSec = 0.165
    def isPairFamily(name: String): Boolean =
      name.startsWith("ccm_") || name == "det_hash" || name == "poly_hash"
    // ABSOLUTE quiet ceiling (round 12): QuietFactor alone is RELATIVE to
    // this run's canary min, so a uniformly degraded host (measured: base
    // 0.135-0.153 vs the recorded quiet-gate 0.071-0.075) calls its own
    // windows "quiet" and flags 2x-inflated readings as real regressions.
    // A window may carry an above_bar_quiet verdict only when the run's
    // canary base itself is at the recorded quiet-host level — the same
    // absolute criterion merge_baseline.py applies to re-seeding (base
    // <= 0.12 s), so verdicts and baselines share one definition of quiet.
    val AbsQuietBaseSec = 0.12
    val MaxRetryWindows = 4
    val Runs = 3
    val ExtraRunAboveSec = 2.0
    val canarySamples = collection.mutable.ArrayBuffer.empty[Double]
    def canary(): Double = { val c = canaryOnce(); canarySamples += c; c }
    // the base is the RUNNING MIN of every canary sample so far: the
    // initial 5-sample min may itself be measured during a noise burst
    // (observed: 0.154 initial vs 0.088 run-wide min), and a too-high
    // base understates inflation. During the run the live min drives the
    // retry heuristic; final verdicts are recomputed against the run-wide
    // min below.
    (1 to CanaryBaseRuns).foreach(_ => canary())
    def canaryBase: Double = canarySamples.min
    canaryPairOnce() // warm its codegen before sampling
    (1 to CanaryBaseRuns).foreach(_ => canaryPairSamples += canaryPairOnce())

    var failed = List.empty[String]
    var aboveBarQuiet = List.empty[String]
    // only SUCCESSFUL runs may contribute a timing: a run that dies fast
    // must not win the min and masquerade as a fast query (it is still
    // recorded by name in "failed")
    def onceFor(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Option[Double] = {
      val t0 = System.nanoTime()
      try {
        fn(spark, sfDir).queryExecution.toRdd.count()
        Some((System.nanoTime() - t0) / 1e9)
      } catch {
        case e: Throwable =>
          if (!failed.contains(name)) failed ::= name
          System.err.println(s"[bench] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
          None
      }
    }
    // one bracketed window = canary, N query runs, canary. Keeps the
    // raw adjacent canaries so verdicts can be recomputed against the
    // run-wide canary min at the end. `samplePair` additionally brackets
    // the window with the pair-join canary (pB/pA; NaN when unsampled) —
    // requested only on the above-bar path of pair-family queries, so
    // the ~0.4 s cost lands on suspect windows, not all 280.
    final case class Win(t: Option[Double], cB: Double, cA: Double, pB: Double = Double.NaN, pA: Double = Double.NaN)
    def windowFor(
        name: String,
        fn: (SparkSession, String) => org.apache.spark.sql.DataFrame,
        runs: Int,
        samplePair: Boolean = false
    ): Win = {
      def pair(): Double = {
        val p = canaryPairOnce(); canaryPairSamples += p; p
      }
      val pB = if (samplePair) pair() else Double.NaN
      val cB = canary()
      val times = (1 to runs).flatMap(_ => onceFor(name, fn))
      val withExtra =
        if (times.nonEmpty && times.min >= ExtraRunAboveSec) times ++ onceFor(name, fn) else times
      val cA = canary()
      val pA = if (samplePair) pair() else Double.NaN
      Win(if (withExtra.nonEmpty) Some(withExtra.min) else None, cB, cA, pB, pA)
    }
    // QUIET verdict for one window: both adjacent primary canaries under
    // the relative factor, the run's base itself at the absolute
    // quiet-host level, AND — for pair-family queries — pair-canary
    // evidence at the quiet-host level. A pair-family window that never
    // sampled the pair canary CANNOT be quiet (NaN comparisons are
    // false): the initial min-of-3 windows don't sample it, so an
    // above-bar pair-family query is forced onto the retry path, which
    // does.
    def quietWin(name: String, w: Win, base: Double): Boolean = {
      val primary = math.max(w.cB, w.cA) < QuietFactor * base && base <= AbsQuietBaseSec
      val pb = canaryPairSamples.min
      val pairOk =
        !isPairFamily(name) ||
          (math.min(w.pB, w.pA) <= QuietFactor * pb && pb <= PairAbsQuietBaseSec)
      primary && pairOk
    }
    // optional comma-separated filter for local iteration (full run when unset)
    val only = sys.env.get("SPARK_GRAFT_ONLY").map(_.split(",").map(_.trim).toSet)
    val results = SparkEntry.queries.toSeq
      .filter(kv => only.forall(_.contains(kv._1)))
      .sortBy(_._1)
      .map { case (name, fn) =>
      var windows = List(windowFor(name, fn, Runs))
      val bar = BenchBaseline.mergedMinSec.get(name).map(barOf)
      def rawMin = windows.flatMap(_.t).minOption
      def sawQuietAboveBar =
        bar.exists(b => windows.exists(w => quietWin(name, w, canaryBase) && w.t.exists(_ > b)))
      var retries = 0
      while (only.isEmpty && bar.isDefined && rawMin.exists(m => m > bar.get) &&
             !sawQuietAboveBar && retries < MaxRetryWindows) {
        // above the 2x bar with only noisy windows so far: re-measure
        // (pair-family retries carry pair-canary brackets so their quiet
        // verdicts are pair-certified)
        windows ::= windowFor(name, fn, 1, samplePair = isPairFamily(name))
        retries += 1
      }
      // free any localCheckpoint blocks the query pinned so 110 queries
      // don't accumulate storage memory across the session
      spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
      (name, windows)
    }

    // ---- end-of-run requeue (VERDICT r9 item 1): the bench defends its
    // own artifact against host drift. If the run saw canary drift > 2x,
    // every query whose raw min is still above its floored 2x bar gets ONE
    // fresh canary-bracketed min-of-3 window now, at the end of the run —
    // three rounds running, per-query numbers measured mid-drift cleared in
    // a later quiet JVM; this embeds that re-measurement in the artifact
    // itself. Both readings ship: the requeue window joins the query's
    // window list (so raw/norm/quiet verdicts see it) AND is reported
    // verbatim under "requeue".
    val RequeueDriftFactor = 2.0
    // VERDICT r11 item 4: a single requeue window measured during the same
    // noise burst it is defending against proves nothing (the r11 requeue
    // windows were themselves noisy). Retry until the window's OWN
    // bracketing canaries are quiet (< QuietFactor x base) or the query's
    // raw reading lands under its bar (noise only inflates, so an
    // under-bar reading resolves the alarm even mid-burst), up to
    // RequeueMaxTries windows. Every try joins the verdict windows; the
    // artifact records the try count and whether quiet was reached, so a
    // still-noisy requeue can never silently pass as a quiet defense.
    val RequeueMaxTries = 4
    val preRequeueDrift = canarySamples.max / canaryBase
    val requeued =
      collection.mutable.LinkedHashMap.empty[String, (Win, Int, Boolean)]
    val resultsFinal =
      if (only.isDefined || preRequeueDrift <= RequeueDriftFactor) results
      else results.map { case (name, windows) =>
        val rawMin = windows.flatMap(_.t).minOption
        val bar = BenchBaseline.mergedMinSec.get(name).map(barOf)
        if (bar.exists(b => rawMin.exists(_ > b))) {
          var tries = List.empty[Win]
          var settled = false
          while (!settled && tries.size < RequeueMaxTries) {
            // pair-family requeues bracket with the pair canary too: a
            // window can only settle as quiet when the host's pair-join
            // capability reads quiet as well (VERDICT r13 item 1)
            val w = windowFor(name, SparkEntry.queries(name), 3, samplePair = isPairFamily(name))
            spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
            tries ::= w
            val underBar = w.t.exists(_ <= bar.get)
            settled = quietWin(name, w, canaryBase) || underBar
          }
          // Ship the try that EARNED the settle (the head — the loop exits
          // right after settling), so the recorded readings and the settled
          // flag always describe the same window; only an unsettled requeue
          // falls back to the quietest try as the least-noisy evidence.
          val shipped = if (settled) tries.head else tries.minBy(w => math.max(w.cB, w.cA))
          requeued(name) = (shipped, tries.size, settled)
          (name, tries ++ windows)
        } else (name, windows)
      }
    // All verdicts recomputed against the FINAL run-wide canary min:
    //  - raw min: best successful run, comparable to BASELINE.md merged mins
    //  - norm: best over windows of raw/inflation, where inflation = the
    //    QUIETER adjacent canary over the run-wide min, clamped >= 1
    //    (conservative: never normalizes below what the canary evidences)
    //  - above_bar_quiet: above the 2x bar in a window whose BOTH adjacent
    //    canaries were quiet — evidence of a real regression, not noise
    val finalBase = canaryBase
    val summary = resultsFinal.map { case (name, windows) =>
      val rawMin = windows.flatMap(_.t).minOption
      val norm = windows.collect { case Win(Some(t), cB, cA, _, _) =>
        t / math.max(1.0, math.min(cB, cA) / finalBase)
      }.minOption
      val bar = BenchBaseline.mergedMinSec.get(name).map(barOf)
      val quietAbove = bar.exists(b =>
        windows.exists(w => quietWin(name, w, finalBase) && w.t.exists(_ > b))
      ) && rawMin.exists(m => m > bar.get)
      if (quietAbove && !aboveBarQuiet.contains(name)) aboveBarQuiet ::= name
      (name, rawMin, norm)
    }
    val qs = summary.collect { case (k, Some(v), _) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val qsNorm = summary.collect { case (k, _, Some(v)) => "\"" + k + "\":" + f"$v%.3f" }
      .mkString("{", ",", "}")
    val failedJson = failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val aboveJson = aboveBarQuiet.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
    val total = summary.flatMap(_._2).sum
    // end-of-run pair-canary samples: bracketing the host's pair-join
    // capability across the whole run without per-window cost. The
    // canary JSON sections are assembled AFTER the sf1 gate below (they
    // are defs, rendered at final-json time): sf1 windows add primary
    // AND pair samples whose running min feeds sf1 quiet verdicts, and
    // an artifact whose canary record predates them would carry
    // verdicts an auditor cannot recompute from the shipped evidence.
    (1 to 3).foreach(_ => canaryPairSamples += canaryPairOnce())
    def canaryJson = f"""{"base":$canaryBase%.3f,"samples":${canarySamples.size},"min":${canarySamples.min}%.3f,"max":${canarySamples.max}%.3f}"""
    def canaryPairJson =
      f"""{"min":${canaryPairSamples.min}%.3f,"max":${canaryPairSamples.max}%.3f,"samples":${canaryPairSamples.size}}"""
    // a filtered run must be distinguishable from a full suite run (ADVICE
    // r7): record the filter and rename the metric so a partial bench_out
    // can never masquerade as the round artifact; it also skipped the
    // above-bar retries and the requeue
    val onlyJson = only
      .map(s => s.toSeq.sorted.map("\"" + _ + "\"").mkString(",\"only\":[", ",", "]") + ",\"retries\":\"skipped\"")
      .getOrElse("")
    val metricName = if (only.isDefined) "partial_total" else "total"
    val requeueJson = requeued.toSeq
      .map { case (k, (w, tries, settled)) =>
        val raw = w.t.map(v => f"$v%.3f").getOrElse("null")
        val pair =
          if (w.pB.isNaN) ""
          else f""","pair_before":${w.pB}%.3f,"pair_after":${w.pA}%.3f"""
        "\"" + k + "\":" + f"""{"raw":$raw,"canary_before":${w.cB}%.3f,"canary_after":${w.cA}%.3f$pair,"tries":$tries,"settled":$settled}"""
      }
      .mkString("{", ",", "}")
    // ---- sf1 mini-gate (VERDICT r13 item 6; made SELF-CERTIFYING r15
    // per VERDICT r14 item 1): a standing pass over the heaviest / most
    // scale-shaped queries on a deterministic 10x replica of the run's
    // SF dir, so per-round artifacts catch scale regressions (the
    // substring pair term, the FFT ladder, the streaming state term)
    // that sf0.1 cannot see. The r14 form was min-of-1 with no quiet
    // criterion and heaviest-LAST ordering, so one noise-inflated early
    // query starved the tail (4/15 measured) and the surviving ratios
    // were host noise, not verdicts. Now:
    //  - CHEAPEST-FIRST ordering (by sf1 baseline): noise cannot starve
    //    coverage — an exhausted budget drops the heaviest tail entries,
    //    loudly, under "skipped" (new panel entries without a baseline
    //    order last: they are first-seed measurements);
    //  - names not in SparkEntry.queries are reported under "unknown"
    //    (ADVICE r14: a rename must not silently shrink the panel);
    //  - every measurement window is BRACKETED by the primary canary and
    //    the pair canary; the sweep itself is COVERAGE-FIRST (one window
    //    per entry — round 16: inline retries burned the budget on early
    //    entries under host noise and starved the tail), and any reading
    //    > 2x its sf1 baseline is settled by the END-OF-RUN REQUEUE on
    //    its own budget — fresh windows until one is QUIET under the
    //    main run's own quietWin criterion (pair-certified for the CCM
    //    family) or the reading lands under the bar. Per-query verdicts
    //    ship with try counts and the quiet flag, so an above-bar sf1
    //    ratio is either quiet-certified evidence or explicitly
    //    unsettled noise.
    // The one-window sweep is UNBUDGETED (its cost is bounded by the
    // panel itself); only requeue settling is bounded, by
    // SPARK_GRAFT_SF1_REQUEUE_BUDGET_SEC (default 480 s). Disable with
    // SPARK_GRAFT_SF1=0; partial (SPARK_GRAFT_ONLY) runs skip it.
    val Sf1Queries = Vector(
      "dedup_substring_banded", "dedup_substring", // the twin comparison IS the signal
      "ccm_curve", "ccm_wide", "ccm_surrogate_fft", // CCM core + the FFT ladder
      "stream_sessionize", "stream_session_builtin", // per-key lever vs builtin state term
      "dedup_lsh_quality", "ann_recall_eval", "vec_mmr",
      "text_para_dedup", "pack_ffd", "evt_asof_native",
      "graph_hits", "graph_betweenness",
      // keyed-layout gates (VERDICT r15 item 6): the SPJ no-exchange and
      // COMPLETE-fold claims timed at 10x alongside the families they
      // serve — write the key-grouped store from the replica's events,
      // read it back shuffle-free
      "src_seriesv2_spj", "src_seriesv2_keygroup"
    )
    // full runs: on unless SPARK_GRAFT_SF1=0; partial (SPARK_GRAFT_ONLY)
    // runs: off unless SPARK_GRAFT_SF1=1 forces it (local iteration)
    val sf1Enabled =
      if (only.isEmpty) !sys.env.get("SPARK_GRAFT_SF1").contains("0")
      else sys.env.get("SPARK_GRAFT_SF1").contains("1")
    val (sf1Json, sf1Compact): (String, Either[String, BenchTail.Sf1Summary]) =
      if (!sf1Enabled) ("null", Left("null"))
      else try {
        val copies = 10
        val dst = "/tmp/graft_bench_sf1"
        val tGen0 = System.nanoTime()
        // generate-or-reuse with the content stamp (shared with Sf1Seed)
        graft.tools.ScaleGen.ensureReplica(spark, sfDir, dst, copies)
        val genSec = (System.nanoTime() - tGen0) / 1e9
        val (known, unknown) = Sf1Queries.partition(SparkEntry.queries.contains)
        val ordered = known.sortBy(n => BenchBaseline.sf1MinSec.getOrElse(n, Double.MaxValue))
        var sf1Failed = List.empty[String]
        var skipped = List.empty[String]
        // one bracketed sf1 window: pair canary, primary canary, ONE run,
        // canaries again (sf1 runs are seconds-scale; min-of-1 per window,
        // retries supply the extra samples only where suspicion exists)
        def sf1Window(name: String, fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Win = {
          val pB = { val p = canaryPairOnce(); canaryPairSamples += p; p }
          val cB = canary()
          val t = try {
            val tq = System.nanoTime()
            fn(spark, dst).queryExecution.toRdd.count()
            Some((System.nanoTime() - tq) / 1e9)
          } catch {
            case e: Throwable =>
              if (!sf1Failed.contains(name)) sf1Failed ::= name
              System.err.println(s"[bench sf1] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
              None
          } finally
            spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = false))
          val cA = canary()
          val pA = { val p = canaryPairOnce(); canaryPairSamples += p; p }
          Win(t, cB, cA, pB, pA)
        }
        // session-tail headroom: the gate follows a 282-query min-of-3
        // session; dropping cached blocks before the 10x replica queries
        // is the difference between a clean pass and a heap-edge OOM
        // (observed: graph_betweenness task OOM at the default local 8g
        // AFTER the full session, clean pass in a fresh JVM)
        spark.catalog.clearCache()
        final case class Sf1V(sec: Double, tries: Int, quiet: Boolean)
        // COVERAGE-FIRST sweep (round 16, the r14 lesson finished): ONE
        // bracketed window per entry, no inline retries — on a noisy host
        // the r16 closing gate's inline retry loop burned the budget on
        // early entries and starved 5 of 17 (the exact failure
        // cheapest-first was built to prevent). The sweep's worst case is
        // bounded (~one window each); ALL settling happens in the requeue
        // phase below on its own budget, after every entry has a reading.
        //
        // The sweep is EXEMPT from any time budget (VERDICT r16 item 1):
        // BENCH_r16 still skipped graph_betweenness because the 480 s
        // budget bounded the sweep itself and a drift-17 host consumed it
        // before the heaviest entry ran. The sweep's cost is bounded by
        // construction (one window per panel entry, ~the sf1 baseline sum
        // plus brackets), so the only thing a budget bought here was
        // exactly the artifact gap it was meant to prevent. The budget
        // env (SPARK_GRAFT_SF1_BUDGET_SEC) is retired; the requeue phase
        // keeps its own bound below. "skipped" remains only for a dead
        // SparkContext (a prior task OOM can take local mode down).
        val verdicts0 = ordered.flatMap { name =>
          // a prior query's task OOM can take the whole local context
          // down; ship the measured prefix instead of gate_failed
          if (spark.sparkContext.isStopped) { skipped ::= name; None }
          else
            try {
              val fn = SparkEntry.queries(name)
              val w = sf1Window(name, fn)
              val quiet = w.t.isDefined && quietWin(name, w, canaryBase)
              w.t.map(b => name -> Sf1V(b, 1, quiet))
            } catch {
              // canary/bracketing failures land here (the query body has
              // its own try in sf1Window): record, keep the gate alive
              case e: Throwable =>
                if (!sf1Failed.contains(name)) sf1Failed ::= name
                System.err.println(s"[bench sf1] $name window FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
                None
            }
        }
        // END-OF-RUN SF1 REQUEUE (VERDICT r15 item 1): the r15 gate could
        // ship above-bar readings flagged quiet:false — "explicitly
        // unsettled noise" whose settlement previously lived only in
        // builder-run closing gates, outside the driver artifact.
        // This is the main run's requeue discipline applied to the panel:
        // after the sweep completes (the burst has had the whole panel's
        // duration to pass), every above-bar non-quiet entry gets fresh
        // canary-bracketed windows until one is QUIET under the shared
        // quietWin criterion (pair-certified for the CCM family) or its
        // raw reading lands under the bar — on a DEDICATED budget, so a
        // consumed panel budget cannot starve the settlement. All requeue
        // windows join the entry's verdict (tries counts them); requeued
        // names ship under "requeued" so the artifact shows which
        // verdicts earned their settle at requeue time.
        val Sf1RequeueMaxTries = 4
        // sized for ~3 heavy requeued entries at ~40 s/window + brackets
        // (measured in the round-16 standalone gate: 3 requeued, the 300 s
        // default starved the last one's settle attempts)
        val requeueBudget =
          sys.env.get("SPARK_GRAFT_SF1_REQUEUE_BUDGET_SEC").map(_.toDouble).getOrElse(480.0)
        val tR0 = System.nanoTime()
        def rElapsed = (System.nanoTime() - tR0) / 1e9
        var sf1Requeued = List.empty[String]
        val verdicts = verdicts0.map { case (name, v0) =>
          val bar = BenchBaseline.sf1MinSec.get(name).map(barOf)
          val needsSettle = bar.exists(v0.sec > _) && !v0.quiet
          if (!needsSettle) name -> v0
          else {
            sf1Requeued ::= name
            var v = v0
            var tries = 0
            while (
              bar.exists(v.sec > _) && !v.quiet && tries < Sf1RequeueMaxTries &&
              rElapsed <= requeueBudget && !spark.sparkContext.isStopped
            ) {
              try {
                val w = sf1Window(name, SparkEntry.queries(name))
                tries += 1
                v = Sf1V(
                  w.t.fold(v.sec)(math.min(_, v.sec)),
                  v.tries + 1,
                  v.quiet || (w.t.isDefined && quietWin(name, w, canaryBase))
                )
              } catch {
                case e: Throwable =>
                  tries = Sf1RequeueMaxTries // bracketing failure: stop, keep the gate alive
                  System.err.println(
                    s"[bench sf1] $name requeue FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}"
                  )
              }
            }
            name -> v
          }
        }
        val qJson = verdicts.map { case (k, v) => "\"" + k + "\":" + f"${v.sec}%.3f" }.mkString("{", ",", "}")
        val ratioJson = verdicts
          .flatMap { case (k, v) => BenchBaseline.sf1MinSec.get(k).map(b => "\"" + k + "\":" + f"${v.sec / b}%.2f") }
          .mkString("{", ",", "}")
        val verdictJson = verdicts
          .map { case (k, v) => "\"" + k + "\":" + f"""{"sec":${v.sec}%.3f,"tries":${v.tries},"quiet":${v.quiet}}""" }
          .mkString("{", ",", "}")
        val skipJson = skipped.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        val failJson = sf1Failed.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        val unknownJson = unknown.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        val requeuedJson = sf1Requeued.sorted.map("\"" + _ + "\"").mkString("[", ",", "]")
        val full =
          f"""{"copies":$copies,"gen_sec":$genSec%.1f,"order":"cheapest_first","queries":$qJson,"vs_baseline":$ratioJson,"verdicts":$verdictJson,"requeued":$requeuedJson,"skipped":$skipJson,"failed":$failJson,"unknown":$unknownJson}"""
        // COMPACT sf1 summary for the tail line (VERDICT r16 item 2): the
        // full per-query maps above are ~2 KB — embedding them in the
        // final stdout line front-truncated the driver's 2000-char tail
        // capture and the "metric":"total" headline fell off BENCH_r16.
        // The compact form carries only the verdict-bearing facts: panel
        // size vs measured count, the loud lists (skipped/failed/
        // requeued/unknown), any entry above its 2x bar with its ratio
        // and quiet flag, and the panel's worst ratio. Per-query detail
        // stays in the full line and bench_out.json.
        val ratios = verdicts.flatMap { case (k, v) =>
          BenchBaseline.sf1MinSec.get(k).map(b => (k, v.sec / b, v.quiet))
        }
        val maxRatio = ratios.map(_._2).maxOption.getOrElse(0.0)
        (full, Right(BenchTail.Sf1Summary(known.size, verdicts.size, skipped.sorted, sf1Failed.sorted,
          unknown.sorted, sf1Requeued.sorted, ratios.filter(_._2 > 2.0), maxRatio)))
      } catch {
        // the sf1 gate must never take the round artifact down with it
        // (replica generation can hit disk limits a normal run never sees)
        case e: Throwable =>
          System.err.println(s"[bench sf1] gate failed: ${e.getClass.getSimpleName}: ${e.getMessage}")
          ("\"gate_failed\"", Left("\"gate_failed\""))
      }
    val json =
      s"""{"metric":"$metricName","value":$total,"unit":"sec","queries":$qs,"queries_norm":$qsNorm,"canary":$canaryJson,"canary_pair":$canaryPairJson,"drift":${f"$preRequeueDrift%.3f"},"requeue":$requeueJson,"above_bar_quiet":$aboveJson,"failed":$failedJson,"runs_per_query":$Runs,"agg":"min","sf":"$sfDir","sf1_subset":$sf1Json$onlyJson}"""
    println(json)
    Files.writeString(Paths.get("bench_out.json"), json)
    // ---- compact self-describing tail line (VERDICT r13 item 8; made
    // truncation-proof r17 per VERDICT r16 item 2): the driver's
    // artifact keeps only the LAST ~2000 chars of stdout and tries to
    // parse a JSON body from it; the full line above (~14 KB of
    // per-query maps) can never fit. The r16 form embedded the FULL sf1
    // gate maps (~2 KB) here too, so even this line front-truncated and
    // the "metric":"total" headline fell off the artifact. The compact
    // line now carries the compact sf1 summary instead (panel counts,
    // loud lists, above-bar ratios) and is printed LAST — total first in
    // the line, whole line well under the window; per-query detail stays
    // in the full line and in bench_out.json (committed with the repo).
    val requeueUnsettled = requeued.toSeq.collect { case (k, (_, _, false)) => k }.sorted
    // Per-FAMILY subtotals + the N heaviest per-query seconds in the FINAL
    // line (VERDICT r17 item 1): the driver keeps only a ~2000-char stdout
    // tail, so the full 283-entry "queries" map (~6 KB, in the full line
    // above and bench_out.json) has never been driver-visible — PERF
    // round-over-round came back empty two rounds running. 31 family
    // subtotals (~400 B) + top-10 heaviest queries (~280 B) localize any
    // regression to a family from the tail alone.
    def familyOf(name: String): String =
      if (name.matches("q\\d+_.*")) "tpch" else name.takeWhile(_ != '_')
    val perQuery = summary.collect { case (k, Some(v), _) => (k, v) }
    val famJson = perQuery
      .groupMapReduce { case (k, _) => familyOf(k) } { case (_, v) => v }(_ + _)
      .toSeq.sortBy(_._1)
      .map { case (fam, s) => "\"" + fam + "\":" + f"$s%.1f" }
      .mkString("{", ",", "}")
    val topJson = perQuery.sortBy(-_._2).take(10)
      .map { case (k, v) => "\"" + k + "\":" + f"$v%.2f" }
      .mkString("{", ",", "}")
    // variable-size lists are cut so the whole line stays under the
    // tail window: see BenchTail
    val compactHead =
      s""""metric":"$metricName","value":$total,"unit":"sec","n_queries":${summary.count(_._2.isDefined)},"canary":$canaryJson,"canary_pair":$canaryPairJson,"drift":${f"$preRequeueDrift%.3f"},"requeue_n":${requeued.size}"""
    println(BenchTail.line(compactHead, requeueUnsettled, aboveBarQuiet.sorted, failed.sorted, famJson, topJson,
      sfDir, sf1Compact))
    spark.stop()
  }
}
