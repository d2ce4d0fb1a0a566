package ccmbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.Files
import java.util.concurrent.Executors

import scala.collection.immutable.ListMap
import scala.collection.mutable.ArrayBuffer
import scala.concurrent.duration.Duration
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.{Failure, Success, Try}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.{FilterExec, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.joins.BaseJoinExec
import org.apache.spark.sql.functions.col

import graft.BenchCanary
import graft.ccm.{Ccm, CcmLocal, CcmPipeline}

/** CCM benchmark entry point.
  *
  * {{{
  * Main --workload <name> --seed <n> --seconds <s> --trace <0|1> --out <dir>
  * Main --self-test
  * Main --list-metrics
  * }}}
  *
  * `--trace 0` measures the end-to-end metrics with tracing off; `--trace 1`
  * runs every layer once more, traced, and reports the per-layer metrics.
  * Either way every output is compared with the executable spec, and the
  * last stdout line is the JSON result.
  */
object Main {

  /** End-to-end metrics (`--trace 0`), name -> unit. */
  val EndToEnd: Seq[(String, String)] = Seq(
    "setup_s" -> "s",
    "latency_p50_s" -> "s",
    "series_per_s" -> "1/s",
    "exec_mem_peak_mb" -> "MB"
  )

  /** Per-layer metrics (`--trace 1`), name -> unit. */
  val PerLayer: Seq[(String, String)] = Seq(
    "api.build_s" -> "s",
    "api.collect_s" -> "s",
    "sched.jobs" -> "count",
    "sched.stages" -> "count",
    "sched.tasks" -> "count",
    "sched.busy_frac" -> "frac",
    "embed.s" -> "s",
    "embed.rows" -> "count",
    "embed.jobs" -> "count",
    "embed.shuffle_bytes" -> "bytes",
    "rank.s" -> "s",
    "rank.rows" -> "count",
    "rank.jobs" -> "count",
    "rank.shuffle_bytes" -> "bytes",
    "predict.s" -> "s",
    "predict.task_s" -> "s",
    "predict.busy_frac" -> "frac",
    "predict.pair_rows" -> "count",
    "predict.pair_rows_computed" -> "count",
    "predict.topk_rows" -> "count",
    "predict.knn_yield" -> "frac",
    "predict.shuffle_bytes" -> "bytes",
    "predict.spill_bytes" -> "bytes",
    "predict.peak_exec_mem_mb" -> "MB",
    "skill.self_s" -> "s",
    "skill.rows" -> "count",
    "skill.jobs" -> "count",
    "perseries.shuffle_s" -> "s",
    "perseries.kernel_stage_s" -> "s",
    "perseries.kernel_tasks" -> "count",
    "perseries.busy_frac" -> "frac",
    "perseries.shuffle_bytes" -> "bytes",
    "kernel.s" -> "s",
    "kernel.dist_evals" -> "count",
    "kernel.ns_per_dist" -> "ns",
    "trace.overhead_frac" -> "frac"
  )

  /** Setups per run; the median is reported as `setup_s`. */
  val Setups = 5

  /** Untimed full-size calls that warm the JIT after the first set-up. */
  val WarmCalls = 2

  /** Distinct inputs per run; calls cycle through them. */
  val Pool = 16

  /** Traced calls of the workload's own API, each beside an untraced one. */
  val TracedReps = 2

  val cores: Int = Runtime.getRuntime.availableProcessors()

  final case class Opts(
      workload: String = "",
      seed: Long = 1L,
      seconds: Int = 10,
      trace: Boolean = false,
      out: String = "ccmbench-out",
      mode: String = "run"
  )

  def parse(args: List[String], o: Opts = Opts()): Opts = args match {
    case "--workload" :: v :: t => parse(t, o.copy(workload = v))
    case "--seed" :: v :: t => parse(t, o.copy(seed = v.toLong))
    case "--seconds" :: v :: t => parse(t, o.copy(seconds = v.toInt))
    case "--trace" :: v :: t => parse(t, o.copy(trace = v == "1"))
    case "--out" :: v :: t => parse(t, o.copy(out = v))
    case "--self-test" :: t => parse(t, o.copy(mode = "self-test"))
    case "--list-metrics" :: t => parse(t, o.copy(mode = "list-metrics"))
    case Nil => o
    case other => throw new IllegalArgumentException(s"unexpected arguments: ${other.mkString(" ")}")
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args.toList)
    o.mode match {
      case "list-metrics" =>
        println(Json.render(Map("end_to_end" -> EndToEnd.toMap, "per_layer" -> PerLayer.toMap)))
      case "self-test" => sys.exit(if (selfTest(o)) 0 else 1)
      case _ =>
        val problems = Gate.selfTest()
        if (problems.nonEmpty) {
          problems.foreach(p => System.err.println(s"gate self-test: $p"))
          sys.exit(1)
        }
        val w = Workloads.byName(o.workload)
        new File(o.out).mkdirs()
        if (o.trace) traced(w, o) else untraced(w, o)
    }
  }

  // ---- session and inputs ---------------------------------------------------

  def session(o: Opts): SparkSession = {
    val local = new File(o.out, "spark-local").getAbsolutePath
    val s = SparkSession
      .builder()
      .master(s"local[$cores]")
      .appName("ccmbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", local)
      .config("spark.sql.warehouse.dir", new File(local, "warehouse").getAbsolutePath)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Drops the blocks of the eager `localCheckpoint` a call leaves behind,
    * so every call starts from the same cache state.
    */
  def release(spark: SparkSession): Unit =
    spark.sparkContext.getPersistentRDDs.values.foreach(_.unpersist(blocking = true))

  final case class Setup(spark: SparkSession, probe: Probe, pool: IndexedSeq[(Seq[Series], DataFrame)])

  /** Session start, a warm-up call and input generation. The warm-up runs
    * the workload's API at the workload's spec and ladder on one series of
    * its own, a third as long: the same plan, so the same generated code,
    * for a fraction of a call's cost, which keeps repeated set-ups cheap.
    */
  def setup(w: Workload, o: Opts): Setup = {
    val spark = session(o)
    val probe = new Probe
    spark.sparkContext.addSparkListener(probe)
    val warm = w.copy(seriesPerCall = 1, points = w.points / 3, spec = w.pinned)
    Workloads.call(warm, Workloads.frame(spark, Workloads.input(warm, o.seed, -1)))
    release(spark)
    val pool = (0 until Pool).map { j =>
      val in = Workloads.input(w, o.seed, j)
      (in, Workloads.frame(spark, in))
    }
    Setup(spark, probe, pool)
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.size % 2 == 1) s(s.size / 2) else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  /** The spec's answers for the checked series of each input, computed on
    * all cores outside any timed interval.
    */
  def specFor(w: Workload, o: Opts, inputs: Map[Int, Seq[Series]]): Map[Int, Map[Long, CcmLocal.BidirectionalResult]] = {
    val pool = Executors.newFixedThreadPool(cores)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      val todo = inputs.toSeq.flatMap { case (slot, in) => Workloads.checkedSeries(w, o.seed, in).map(slot -> _) }
      val done = Future.traverse(todo) { case (slot, s) => Future((slot, s.skey, Gate.expected(w, s))) }
      Await.result(done, Duration.Inf).groupBy(_._1).map { case (slot, rs) => slot -> rs.map(r => r._2 -> r._3).toMap }
    } finally pool.shutdown()
  }

  /** Gate one call; prints why it failed and returns whether it passed. */
  def check(w: Workload, what: String, in: Seq[Series], out: Try[Seq[Out]], spec: Map[Long, CcmLocal.BidirectionalResult]): Boolean = {
    val problems = out match {
      case Failure(e) => Seq(s"threw ${e.getClass.getName}: ${e.getMessage}")
      case Success(rows) =>
        Gate.mismatches(w, rows, in.map(_.skey).toSet, spec)
    }
    problems.take(5).foreach(p => System.err.println(s"${w.name} $what: $p"))
    problems.isEmpty
  }

  def report(o: Opts, w: Workload, attempted: Int, failed: Int, metrics: Seq[(String, String, Double)], extra: Map[String, Any]): Unit = {
    metrics.foreach { case (n, u, v) => println(f"metric $n%-28s $v%.6g $u") }
    println(f"metric fail_frac                    ${failed.toDouble / attempted}%.6g frac ($failed of $attempted calls)")
    val result = Map(
      "correct" -> (failed == 0),
      "attempted" -> attempted,
      "failed" -> failed,
      "metrics" -> ListMap(metrics.map { case (n, u, v) => n -> ListMap("value" -> v, "unit" -> u) }: _*)
    )
    val artifact = extra ++ Map(
      "workload" -> w.name,
      "seed" -> o.seed,
      "seconds" -> o.seconds,
      "trace" -> o.trace,
      "cores" -> cores,
      "fail_frac" -> failed.toDouble / attempted,
      "result" -> result
    )
    val file = new File(o.out, s"result-${w.name}-seed${o.seed}-trace${if (o.trace) 1 else 0}.json")
    Files.write(file.toPath, Json.render(artifact).getBytes(StandardCharsets.UTF_8))
    println(Json.render(result))
  }

  // ---- untraced run: end-to-end metrics --------------------------------------

  def untraced(w: Workload, o: Opts): Unit = {
    val setups = ArrayBuffer.empty[Double]
    def timedSetup(): Setup = {
      val t0 = System.nanoTime()
      val st = setup(w, o)
      setups += (System.nanoTime() - t0) / 1e9
      st
    }
    // untimed full-size calls, on the inputs the timed loop reaches last
    val warmS = ArrayBuffer.empty[Double]
    def warm(st: Setup, calls: Int): Unit = (1 to calls).foreach { k =>
      val t0 = System.nanoTime()
      Try(Workloads.call(w, st.pool(Pool - k)._2))
      warmS += (System.nanoTime() - t0) / 1e9
      release(st.spark)
    }
    // The JIT is still compiling through the first calls of a JVM, which run
    // up to 40 % slower than later ones. Warm it on the first session, so
    // the later set-ups and every timed call run compiled code: with a
    // handful of timed calls per run, where that slow phase ends would
    // otherwise decide both medians. The first set-up (a cold JVM) is the
    // slowest, and the median of the others decides setup_s.
    var st = timedSetup()
    warm(st, WarmCalls)
    (2 to Setups).foreach { _ =>
      st.spark.stop()
      st = timedSetup()
    }
    // the first call of a fresh session
    warm(st, 1)
    val spark = st.spark
    val canaryBefore = BenchCanary.scanShuffleOnce(spark)
    org.apache.spark.CcmBenchBus.drain(spark.sparkContext)
    st.probe.peakExecMem = 0L

    val calls = ArrayBuffer.empty[(Int, Try[Seq[Out]], Double)]
    val deadline = System.nanoTime() + o.seconds * 1000000000L
    while (calls.isEmpty || System.nanoTime() < deadline) {
      val slot = calls.size % st.pool.size
      val t0 = System.nanoTime()
      val out = Try(Workloads.call(w, st.pool(slot)._2))
      calls += ((slot, out, (System.nanoTime() - t0) / 1e9))
      release(spark)
    }
    org.apache.spark.CcmBenchBus.drain(spark.sparkContext)
    val peakMem = st.probe.peakExecMem / 1e6
    val canaryAfter = BenchCanary.scanShuffleOnce(spark)

    val spec = specFor(w, o, calls.map(c => c._1 -> st.pool(c._1)._1).toMap)
    val passed = calls.map { case (slot, out, _) => check(w, s"call on input $slot", st.pool(slot)._1, out, spec(slot)) }
    spark.stop()

    // a failed call counts as slower than every call that passed
    val ranked = calls.zip(passed).map { case (c, ok) => (!ok, c._3) }.sortBy(identity).map(_._2)
    val n = ranked.size
    val tail =
      if (n >= 11) Map("latency_tail_s" -> ranked(n - 11), "percentile" -> 100.0 * (n - 10) / n, "calls" -> n)
      else Map("latency_tail_s" -> null, "percentile" -> null, "calls" -> n)
    tail("latency_tail_s") match {
      case v: Double => println(f"metric latency_tail_s               $v%.6g s (p${100.0 * (n - 10) / n}%.1f of $n calls)")
      case _ => println(s"metric latency_tail_s               n/a ($n calls; the tail needs at least 11)")
    }
    val seriesDone = passed.count(identity) * w.seriesPerCall
    val metrics = Seq(
      ("setup_s", "s", median(setups.toSeq)),
      ("latency_p50_s", "s", median(ranked.toSeq)),
      ("series_per_s", "1/s", seriesDone / calls.map(_._3).sum),
      ("exec_mem_peak_mb", "MB", peakMem)
    )
    report(
      o,
      w,
      calls.size,
      passed.count(!_),
      metrics,
      Map(
        "setups_s" -> setups,
        "warm_calls_s" -> warmS,
        "latencies_s" -> calls.map(_._3),
        "tail" -> tail,
        "canary_scan_shuffle_s" -> Map("before" -> canaryBefore, "after" -> canaryAfter)
      )
    )
  }

  // ---- traced run: per-layer metrics ------------------------------------------

  /** Plan-level row counts, read from the executed (final adaptive) plan. */
  object PlanRows extends AdaptiveSparkPlanHelper {
    private def rows(p: SparkPlan): Long = p.metrics.get("numOutputRows").map(_.value).getOrElse(-1L)

    /** Output rows of the kNN pair join (the only equi-join in `predictions`). */
    def pairJoin(plan: SparkPlan): Long =
      collect(plan) { case j: BaseJoinExec if j.leftKeys.nonEmpty => rows(j) }.sum

    /** Rows kept by the top-k filter on the neighbour rank. */
    def topK(plan: SparkPlan): Long =
      collect(plan) { case f: FilterExec if f.condition.references.exists(_.name == "nn_rank") => rows(f) }.sum
  }

  /** Kernel distance evaluations, computed: over series, directions, rungs
    * and samples, |pred| x |lib| for every rung the kernel does not guard
    * out (L >= n, or fewer than 2 prediction points).
    */
  def distEvals(w: Workload, in: Seq[Series]): Long =
    in.map { s =>
      val n = w.spec.maxLibSize(s.x.length)
      2L * w.spec.numSamples * w.ladder.filter(l => l < n && n - l >= 2).map(l => (n - l).toLong * l).sum
    }.sum

  /** Pair-join rows, computed: per (series, direction, sample) a query of
    * rank r > min(L) pairs with min(r - 1, max(L)) library rows.
    */
  def pairRows(w: Workload, in: Seq[Series]): Long =
    in.map { s =>
      val n = w.spec.maxLibSize(s.x.length)
      2L * w.spec.numSamples * (w.ladder.min + 1 to n).map(r => math.min(r - 1, w.ladder.max).toLong).sum
    }.sum

  def traced(w: Workload, o: Opts): Unit = {
    val st = setup(w, o)
    val spark = st.spark
    val sc = spark.sparkContext
    val canaryBefore = BenchCanary.scanShuffleOnce(spark)
    val tracer = new Tracer(sc, st.probe, cores)
    val (in, df) = st.pool(0)
    var attempted = 0
    var failed = 0

    // plain single-threaded baseline: the kernel on the calling thread; its
    // answers are the spec every traced output is checked against
    val (spec, kernel) = tracer.parent("kernel", "kernel") { _ =>
      in.map(s => s.skey -> Gate.expected(w, s)).toMap
    }
    def gate(what: String, out: Try[Seq[Out]]): Unit = {
      attempted += 1
      if (!check(w, what, in, out, spec)) failed += 1
    }

    def apiCall(rep: Int): (Span, Span, Span) = {
      val trace = s"api-$rep"
      val ((b, c), root) = tracer.parent(trace, "call") { pid =>
        val (res, b) = tracer.leaf(trace, pid, "api.build") {
          Try(Ccm.bidirectional(df, col("skey"), Seq("ord"), col("x"), col("y"), w.spec, w.ladder))
        }
        val (rows, c) = tracer.leaf(trace, pid, "api.collect")(res.map(Workloads.collect))
        gate(s"traced Ccm.bidirectional $rep", rows)
        (b, c)
      }
      release(spark)
      (root, b, c)
    }
    def perSeriesCall(rep: Int): (Span, Span) = {
      val trace = s"perseries-$rep"
      val (leaf, root) = tracer.parent(trace, "call") { pid =>
        val (rows, leaf) = tracer.leaf(trace, pid, "perseries")(Try(Workloads.perSeries(w, df)))
        gate(s"traced Ccm.perSeries $rep", rows)
        leaf
      }
      (root, leaf)
    }

    // the workload's own API, untraced beside traced, for the overhead;
    // one full-size call first, so neither side pays the first-call cost
    Try(Workloads.call(w, st.pool(1)._2))
    release(spark)
    val untracedS = ArrayBuffer.empty[Double]
    val tracedS = ArrayBuffer.empty[Double]
    val apis = ArrayBuffer.empty[(Span, Span, Span)]
    val pers = ArrayBuffer.empty[(Span, Span)]
    (1 to TracedReps).foreach { rep =>
      val t0 = System.nanoTime()
      val out = Try(Workloads.call(w, df))
      untracedS += (System.nanoTime() - t0) / 1e9
      release(spark)
      gate(s"untraced call $rep", out)
      if (w.perSeries) { pers += perSeriesCall(rep); tracedS += pers.last._1.seconds }
      else { apis += apiCall(rep); tracedS += apis.last._1.seconds }
    }
    if (w.perSeries) apis += apiCall(1) else pers += perSeriesCall(1)

    // every layer of Ccm.bidirectional in its order, each output materialized
    val keys = Seq("skey", "direction")
    val e = w.spec.embeddingDim
    val (layers, _) = tracer.parent("layers", "layers") { pid =>
      val base = df.select(col("skey").cast("long").as("skey"), col("x"), col("y"), col("ord"))
      val (emb, embed) = tracer.leaf("layers", pid, "embed") {
        CcmPipeline.embeddedBoth(base, Seq("skey"), Seq(col("ord")), col("x"), col("y"), e, w.spec.tau).localCheckpoint()
      }
      val (rk, rank) = tracer.leaf("layers", pid, "rank") {
        CcmPipeline
          .ranked(emb, keys, w.spec.numSamples, w.spec.seed, col("skey"), w.spec.consecutive)
          .localCheckpoint()
      }
      val (plan, predict) = tracer.leaf("layers", pid, "predict") {
        val p = CcmPipeline.predictions(
          rk, keys, w.ladder, e, w.spec.knnBuckets, w.spec.knnAutoFactor, w.spec.reuseDistances, w.spec.fusedTopK
        )
        p.queryExecution.toRdd.count()
        p.queryExecution.executedPlan
      }
      val (rows, skill) = tracer.leaf("layers", pid, "skill") {
        val sk = CcmPipeline
          .skill(rk, keys, w.ladder, w.spec.numSamples, e, w.spec.knnBuckets, w.spec.knnAutoFactor, w.spec.reuseDistances, w.spec.fusedTopK)
          .localCheckpoint()
        val conv = CcmPipeline.convergence(sk, keys).collect().map(r => (r.getAs[Long]("skey"), r.getAs[String]("direction")) -> r.getAs[Boolean]("convergent")).toMap
        sk.collect().toSeq.map { r =>
          val k = (r.getAs[Long]("skey"), r.getAs[String]("direction"))
          Out(k._1, k._2, r.getAs[Int]("lib_size"), r.getAs[Double]("rho"), conv(k))
        }
      }
      gate("layer by layer", Success(rows))
      val counted = (emb.count(), rk.count())
      release(spark)
      (embed, rank, predict, skill, plan, rows.size.toLong, counted)
    }
    val canaryAfter = BenchCanary.scanShuffleOnce(spark)
    val (embed, rank, predict, skill, plan, skillRows, (embRows, rankRows)) = layers
    spark.stop()

    val (_, b, c) = apis.last
    val sched = Seq(b, c)
    def sum(k: String) = sched.map(_.counts(k)).sum
    val (_, perLeaf) = pers.last
    val perStages = tracer.stagesOf(perLeaf)
    val kernelStage = perStages.filterNot(_.shuffleMap).maxBy(_.taskS)
    val pairJoinRows = PlanRows.pairJoin(plan)
    val topKRows = PlanRows.topK(plan)
    val evals = distEvals(w, in)
    val m = Seq(
      "api.build_s" -> median(apis.map(_._2.seconds).toSeq),
      "api.collect_s" -> median(apis.map(_._3.seconds).toSeq),
      "sched.jobs" -> sum("jobs"),
      "sched.stages" -> sum("stages"),
      "sched.tasks" -> sum("tasks"),
      "sched.busy_frac" -> sum("task_s") / (apis.last._1.seconds * cores),
      "embed.s" -> embed.seconds,
      "embed.rows" -> embRows.toDouble,
      "embed.jobs" -> embed.counts("jobs"),
      "embed.shuffle_bytes" -> embed.counts("shuffle_bytes"),
      "rank.s" -> rank.seconds,
      "rank.rows" -> rankRows.toDouble,
      "rank.jobs" -> rank.counts("jobs"),
      "rank.shuffle_bytes" -> rank.counts("shuffle_bytes"),
      "predict.s" -> predict.seconds,
      "predict.task_s" -> predict.counts("task_s"),
      "predict.busy_frac" -> predict.counts("busy_frac"),
      "predict.pair_rows" -> pairJoinRows.toDouble,
      "predict.pair_rows_computed" -> pairRows(w, in).toDouble,
      "predict.topk_rows" -> topKRows.toDouble,
      "predict.knn_yield" -> topKRows.toDouble / pairJoinRows,
      "predict.shuffle_bytes" -> predict.counts("shuffle_bytes"),
      "predict.spill_bytes" -> predict.counts("spill_bytes"),
      "predict.peak_exec_mem_mb" -> predict.counts("peak_exec_mem_mb"),
      // CcmPipeline.skill recomputes the predictions it aggregates
      "skill.self_s" -> (skill.seconds - predict.seconds),
      "skill.rows" -> skillRows.toDouble,
      "skill.jobs" -> skill.counts("jobs"),
      "perseries.shuffle_s" -> perStages.filter(_.shuffleMap).map(_.wallS).sum,
      "perseries.kernel_stage_s" -> kernelStage.wallS,
      "perseries.kernel_tasks" -> kernelStage.tasks.toDouble,
      "perseries.busy_frac" -> kernelStage.taskS / (kernelStage.wallS * cores),
      "perseries.shuffle_bytes" -> perLeaf.counts("shuffle_bytes"),
      "kernel.s" -> kernel.seconds,
      "kernel.dist_evals" -> evals.toDouble,
      "kernel.ns_per_dist" -> kernel.seconds * 1e9 / evals,
      "trace.overhead_frac" -> (median(tracedS.toSeq) / median(untracedS.toSeq) - 1)
    )
    val units = PerLayer.toMap
    val traceFile = new File(o.out, s"trace-${w.name}-seed${o.seed}.json")
    val extra = Map(
      "workload" -> w.name,
      "seed" -> o.seed,
      "cores" -> cores,
      "canary_scan_shuffle_s" -> Map("before" -> canaryBefore, "after" -> canaryAfter),
      "perseries_stages" -> perStages.map(s =>
        Map("stage" -> s.stageId, "shuffle_map" -> s.shuffleMap, "tasks" -> s.tasks, "wall_s" -> s.wallS, "task_s" -> s.taskS)
      )
    )
    Files.write(traceFile.toPath, tracer.toJson(extra).getBytes(StandardCharsets.UTF_8))
    println(s"trace written to ${traceFile.getPath} (${tracer.spans.size} spans)")
    report(o, w, attempted, failed, m.map { case (n, v) => (n, units(n), v) }, Map("trace_file" -> traceFile.getPath, "canary_scan_shuffle_s" -> extra("canary_scan_shuffle_s")))
  }

  // ---- self-test ----------------------------------------------------------------

  /** The gate on real engine output at tiny sizes: both APIs' rows pass,
    * and a perturbed rho and a dropped row are each counted as a failure.
    */
  def selfTest(o: Opts): Boolean = {
    val unit = Gate.selfTest()
    unit.foreach(p => System.err.println(s"self-test: $p"))
    val w = Workload("self_test", 3, 40, graft.ccm.CcmSpec(numSamples = 3), perSeries = false, checked = 3)
    new File(o.out).mkdirs()
    val spark = session(o)
    try {
      val in = Workloads.input(w, o.seed, 0)
      val df = Workloads.frame(spark, in)
      val spec = specFor(w, o, Map(0 -> in))(0)
      val keys = in.map(_.skey).toSet
      val engine = Seq("Ccm.bidirectional" -> Workloads.bidirectional(w, df), "Ccm.perSeries" -> Workloads.perSeries(w, df))
      val results = engine.flatMap { case (api, rows) =>
        val i = rows.indexWhere(_.libSize == w.ladder(1))
        val perturbed = rows.updated(i, rows(i).copy(rho = rows(i).rho + 1e-7))
        Seq(
          s"$api output passes" -> Gate.mismatches(w, rows, keys, spec).isEmpty,
          s"$api output with a rho perturbed by 1e-7 fails" -> Gate.mismatches(w, perturbed, keys, spec).nonEmpty,
          s"$api output with a dropped row fails" -> Gate.mismatches(w, rows.patch(i, Nil, 1), keys, spec).nonEmpty
        )
      }
      results.foreach { case (what, ok) => println(s"self-test ${if (ok) "ok  " else "FAIL"} $what") }
      unit.isEmpty && results.forall(_._2)
    } finally spark.stop()
  }
}
