package graft.ccm

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import graft.SparkTestBase
import org.apache.spark.TestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

/** The DataFrame pipeline must produce the same numbers as the pure-Scala
  * kernel (which is the executable spec ported from the reference). This is
  * the equivalence test that makes the distributed path trustworthy.
  */
class CcmPipelineSpec extends SparkTestBase {
  import spark.implicits._

  private val spec = CcmSpec(embeddingDim = 3, tau = 1, numSamples = 4, seed = 42)
  private val libSizes = Seq(20, 40, 60)

  private lazy val wide = {
    // three series with different coupling, as one DataFrame
    val rows = for {
      (c, k) <- Seq((0.4, 1L), (0.15, 2L), (0.0, 3L))
      (xy, t) = Generators.coupledLogisticMaps(80, c) match {
        case (xs, ys) => ((xs, ys), 0)
      }
      i <- 0 until 80
    } yield (k, i.toLong, xy._1(i), xy._2(i))
    rows.toDF("skey", "ord", "x", "y")
  }

  test("pipeline skill+convergence matches local kernel on all series and directions") {
    val df = Declarative
      .bidirectional(wide, $"skey", Seq("ord"), $"x", $"y", spec, libSizes)
      .collect()
      .map(r =>
        (r.getAs[Long]("skey"), r.getAs[String]("direction"), r.getAs[Int]("lib_size")) ->
          (r.getAs[Double]("rho"), r.getAs[Boolean]("convergent"))
      )
      .toMap

    for (k <- Seq(1L, 2L, 3L)) {
      val (xs, ys) = Generators.coupledLogisticMaps(80, Seq(0.4, 0.15, 0.0)(k.toInt - 1))
      val local = CcmLocal.bidirectional(xs, ys, spec.copy(libSizes = Some(libSizes)), k)
      for ((dirName, dirRes) <- Seq(
          Ccm.DirXCausesY -> local.xCausesY,
          Ccm.DirYCausesX -> local.yCausesX
        ); (l, rho) <- dirRes.results) {
        val (pRho, pConv) = df((k, dirName, l))
        assert(math.abs(pRho - rho) < 1e-9, s"skey=$k $dirName L=$l: pipeline $pRho vs local $rho")
        assert(pConv == dirRes.convergent, s"skey=$k $dirName convergent mismatch")
      }
    }
  }

  test("perSeries (mapGroups scale path) matches local kernel exactly") {
    val rows = Ccm.perSeries(wide, spec, Some(libSizes)).collect()
    val (xs, ys) = Generators.coupledLogisticMaps(80, 0.4)
    val local = CcmLocal.bidirectional(xs, ys, spec.copy(libSizes = Some(libSizes)), 1L)
    val got = rows.filter(r => r.skey == 1L && r.direction == Ccm.DirXCausesY)
    assert(got.map(r => (r.lib_size, r.rho)).sortBy(_._1).toSeq == local.xCausesY.results)
    assert(got.forall(_.convergent == local.xCausesY.convergent))
  }

  test("guard parity: lib_size >= n_points contributes rho 0.0") {
    val one = wide.filter($"skey" === 1L)
    // embedding rows n = 80 - 2 = 78; lib 78 triggers the guard, lib 77
    // leaves 1 prediction point -> corr over 1 pair -> 0.0 as well
    val df = Declarative
      .bidirectional(one, $"skey", Seq("ord"), $"x", $"y", spec, Seq(40, 77, 78))
      .filter($"direction" === Ccm.DirXCausesY)
      .select($"lib_size", $"rho")
      .collect()
      .map(r => r.getInt(0) -> r.getDouble(1))
      .toMap
    assert(df(78) == 0.0)
    assert(df(77) == 0.0)
    assert(df(40) != 0.0)
    val (xs, ys) = Generators.coupledLogisticMaps(80, 0.4)
    val local =
      CcmLocal.crossMap(ys, xs, spec.copy(libSizes = Some(Seq(40))), 1L).results.head._2
    assert(math.abs(df(40) - local) < 1e-9)
  }

  test("perSeries fails fast on a series longer than maxPoints") {
    val err = intercept[org.apache.spark.SparkException] {
      Ccm.perSeries(wide, spec, Some(Seq(20)), maxPoints = 50).collect()
    }
    val msgs = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).map(_.getMessage)
    assert(msgs.exists(m => m != null && m.contains("exceeds maxPoints=50")), err.getMessage)
  }

  /** A 200-point coupled pair as series `skey`. */
  private def pair(skey: Long): DataFrame = {
    val (xs, ys) = Generators.coupledLogisticMaps(200, 0.3)
    xs.indices.map(i => (skey, i.toLong, xs(i), ys(i))).toDF("skey", "ord", "x", "y")
  }

  /** Both APIs over the same (skey, ord, x, y) rows, each collected. */
  private def bothApis(df: DataFrame): Seq[() => Seq[Row]] = Seq(
    () => Ccm.bidirectional(df, $"skey", Seq("ord"), $"x", $"y", spec, libSizes).collect().toSeq,
    () => Ccm.perSeries(df, spec, Some(libSizes)).toDF().collect().toSeq
  )

  /** Each API fails with an IllegalArgumentException whose message holds `text`. */
  private def assertRejected(df: DataFrame, text: String): Unit =
    bothApis(df).foreach(assertFails(_, text))

  /** `run` fails with an IllegalArgumentException whose message holds `text`. */
  private def assertFails(run: () => Seq[Row], text: String): Unit = {
    val err = intercept[Exception](run())
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(
      chain.exists(t => t.isInstanceOf[IllegalArgumentException] && t.getMessage.contains(text)),
      err.getMessage
    )
  }

  test("a null or NaN x or y at t=100 fails both APIs, naming the series") {
    for (c <- Seq("x", "y"); bad <- Seq(lit(null).cast("double"), lit(Double.NaN)))
      assertRejected(pair(7L).withColumn(c, when($"ord" === 100L, bad).otherwise(col(c))), "series 7 ")
  }

  test("bidirectionalLocal rejects a NaN x or y") {
    val (xs, ys) = Generators.coupledLogisticMaps(60, 0.3)
    for ((x, y, c) <- Seq((xs.updated(30, Double.NaN), ys, "x"), (xs, ys.updated(30, Double.NaN), "y"))) {
      val err = intercept[IllegalArgumentException](Ccm.bidirectionalLocal(x.toSeq, y.toSeq, spec))
      assert(err.getMessage.contains(s"has a null or NaN $c value"), err.getMessage)
    }
  }

  test("a tied order value fails both APIs, naming the series") {
    assertRejected(pair(9L).withColumn("ord", when($"ord" === 101L, 100L).otherwise($"ord")), "series 9 ")
    // a double order with NaN at t = 10 and t = 20: the sort places the
    // two NaNs side by side as equal (perSeries casts ord to long)
    val nanTied = pair(9L).withColumn("ord", when($"ord".isin(10L, 20L), Double.NaN).otherwise($"ord".cast("double")))
    assertFails(bothApis(nanTied).head, "series 9 ")
  }

  test("a null series key fails both APIs") {
    assertRejected(pair(4L).withColumn("skey", when($"ord" === 100L, lit(null)).otherwise($"skey")), "null series key")
  }

  /** A 200-point coupled pair as series `skey`, ordered by (ts, user_id)
    * as ccm_wide folds users into one series: every ts is shared by two
    * rows, user 0 then user 1.
    */
  private def folded(skey: Long): DataFrame = {
    val (xs, ys) = Generators.coupledLogisticMaps(200, 0.3)
    xs.indices.map(i => (skey, (i / 2).toLong, (i % 2).toLong, xs(i), ys(i))).toDF("skey", "ts", "user_id", "x", "y")
  }

  private def foldedCcm(df: DataFrame): Seq[Row] =
    Ccm.bidirectional(df, $"skey", Seq("ts", "user_id"), $"x", $"y", spec, libSizes).collect().toSeq

  test("a composite order accepts rows that share ts but differ in user_id") {
    val got = foldedCcm(folded(8L))
      .map(r => (r.getAs[String]("direction"), r.getAs[Int]("lib_size")) -> r.getAs[Double]("rho"))
      .toMap
    val (xs, ys) = Generators.coupledLogisticMaps(200, 0.3)
    val local = CcmLocal.bidirectional(xs, ys, spec.copy(libSizes = Some(libSizes)), 8L)
    val want = Seq(Ccm.DirXCausesY -> local.xCausesY, Ccm.DirYCausesX -> local.yCausesX)
      .flatMap { case (d, res) => res.results.map { case (l, rho) => (d, l) -> rho } }
      .toMap
    assert(got == want)
  }

  test("a composite order rejects a repeated (ts, user_id) tuple, naming the series") {
    // row (ts 50, user 1) moved onto (ts 49, user 1)
    val dup = folded(9L).withColumn("ts", when($"ts" === 50L && $"user_id" === 1L, 49L).otherwise($"ts"))
    val err = intercept[Exception](foldedCcm(dup))
    val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
    assert(
      chain.exists(t => t.isInstanceOf[IllegalArgumentException] && t.getMessage.contains("series 9 repeats")),
      err.getMessage
    )
  }

  test("a constant series yields rho and slope exactly 0.0 in both directions from both APIs") {
    // x_causes_y predicts the constant; y_causes_x embeds it, so every
    // query gets the same prediction. The mean of n equal doubles is
    // inexact for 0.1 (and for most predictions), which leaves a tiny
    // two-pass variance; only a test on the values themselves gives 0.0
    for (c <- Seq(1.5, 0.1); run <- bothApis(pair(3L).withColumn("x", lit(c)))) {
      val rows = run()
      assert(rows.size == 2 * libSizes.size)
      assert(
        rows.forall(r => r.getAs[Double]("rho") == 0.0 && r.getAs[Double]("slope") == 0.0),
        s"x = $c:\n" + rows.mkString("\n")
      )
    }
  }

  test("a series shorter than (E-1)τ+1 points yields no rows from either API") {
    // E = 3, τ = 1: two points make no embedding point; the 200-point
    // series beside them still yields its rows
    val short = Seq((5L, 0L, 0.1, 0.2), (5L, 1L, 0.3, 0.4)).toDF("skey", "ord", "x", "y")
    bothApis(short.unionByName(pair(6L))).foreach { run =>
      assert(run().map(_.getAs[Long]("skey")).distinct == Seq(6L))
    }
    // perSeries' default ladder: the short series alone
    assert(Ccm.perSeries(short, spec).collect().isEmpty)
  }

  /** Raw double bits, so row equality is full precision. */
  private def bits(df: org.apache.spark.sql.DataFrame): Seq[Seq[Any]] =
    df.collect().toSeq.map(_.toSeq.map {
      case d: Double => java.lang.Double.doubleToRawLongBits(d)
      case v => v
    }).sortBy(_.mkString(","))

  test("embeddedBoth equals the two embedded directions, unioned, bit for bit") {
    val (xs, ys) = Generators.coupledLogisticMaps(30, 0.3)
    val logistic = xs.indices.map(i => (1L, i.toLong, xs(i), ys(i)))
    // 0.1-quantised: distance ties and repeated values
    val ties = logistic.map { case (_, i, x, y) => (2L, i, math.round(x * 10) / 10.0, math.round(y * 10) / 10.0) }
    // shorter than (E-1)τ+1 for every E = 3 case: no full point
    val short = Seq((3L, 0L, 0.1, 0.2), (3L, 1L, 0.3, 0.4))
    val df = (logistic ++ ties ++ short).toDF("skey", "ord", "x", "y")
    val keys = Seq("skey")
    val ord = Seq($"ord")
    for (e <- Seq(1, 3); tau <- Seq(1, 2)) {
      val got = CcmPipeline.embeddedBoth(df, keys, ord, $"x", $"y", e, tau)
      val want = CcmPipeline
        .embedded(df, keys, ord, $"y", $"x", e, tau)
        .withColumn("direction", lit(Ccm.DirXCausesY))
        .unionByName(
          CcmPipeline.embedded(df, keys, ord, $"x", $"y", e, tau).withColumn("direction", lit(Ccm.DirYCausesX))
        )
      assert(got.columns.toSeq == want.columns.toSeq)
      val (g, w) = (bits(got), bits(want))
      assert(g.nonEmpty && g == w, s"E=$e τ=$tau: embeddedBoth diverged from the two-branch union")
      val shortRows = g.count(_.head == 3L)
      assert(shortRows == (if (e == 1) 4 else 0), s"E=$e τ=$tau: short series gave $shortRows rows")
    }
  }

  test("one Ccm.bidirectional call on a 100-point pair runs at most 2 jobs and 2 stages") {
    // a ratchet on the one-shuffle plan: lower the bounds when a change
    // lowers the counts; raising them needs a stated reason. The memory
    // bound keeps a task from holding a sorter page (32 MiB) again: the
    // runner reserves only its points and reports them as its peak
    val (xs, ys) = Generators.coupledLogisticMaps(100, 0.3)
    val df = xs.indices.map(i => (1L, i.toLong, xs(i), ys(i))).toDF("skey", "ord", "x", "y")
    val sc = spark.sparkContext
    val group = "ccm-counter-ratchet"
    val jobs = new AtomicInteger
    val stageIds = ConcurrentHashMap.newKeySet[Int]()
    val stages = new AtomicInteger
    val peakMem = new AtomicLong
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group)) {
          jobs.incrementAndGet()
          e.stageIds.foreach(stageIds.add)
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        if (stageIds.contains(e.stageInfo.stageId)) stages.incrementAndGet()
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (stageIds.contains(e.stageId) && e.taskMetrics != null)
          peakMem.accumulateAndGet(e.taskMetrics.peakExecutionMemory, (a, b) => math.max(a, b))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "one Ccm.bidirectional call", interruptOnCancel = false)
      val rows =
        try Ccm.bidirectional(df, $"skey", Seq("ord"), $"x", $"y", CcmSpec(), CcmSpec.libSizeLadder(98)).collect()
        finally sc.clearJobGroup()
      TestBus.drain(sc)
      assert(rows.length == 2 * CcmSpec.libSizeLadder(98).size)
      assert(jobs.get >= 1 && jobs.get <= 2, s"${jobs.get} jobs")
      assert(stages.get >= 1 && stages.get <= 2, s"${stages.get} stages")
      assert(peakMem.get > 0 && peakMem.get <= 1000000L, s"max task peak execution memory ${peakMem.get} bytes")
    } finally sc.removeSparkListener(listener)
  }
}
