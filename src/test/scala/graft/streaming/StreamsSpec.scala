package graft.streaming

import java.sql.Timestamp

import graft.SparkTestBase
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

/** MemoryStream-driven specs for the streaming operators. */
class StreamsSpec extends SparkTestBase {
  import Streams._

  private def ts(s: Long) = new Timestamp(s * 1000L)

  test("enrichWithDim joins each micro-batch against the static dimension") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val dim = Seq(("click", 1.5), ("view", 2.0)).toDF("eventType", "weight")
    val q = enrichWithDim(input.toDF(), dim, "eventType")
      .writeStream.format("memory").queryName("enriched").outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(ts(1), 1L, "click", 2.0), Event(ts(2), 2L, "view", 3.0), Event(ts(3), 3L, "error", 4.0))
      q.processAllAvailable()
      val rows = spark.table("enriched").collect()
        .map(r => (r.getString(r.fieldIndex("eventType")), Option(r.get(r.fieldIndex("weight")))))
        .toSet
      assert(rows == Set(("click", Some(1.5)), ("view", Some(2.0)), ("error", None)))
    } finally q.stop()
  }

  test("attributedClicks matches across micro-batches and respects the lag window") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = attributedClicks(purchases.toDF(), clicks.toDF(), maxLag = "30 seconds", watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("attrib").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: clicks only — buffered in join state, nothing emitted
      clicks.addData(Event(ts(10), 1L, "click", 0.0), Event(ts(100), 1L, "click", 0.0))
      q.processAllAvailable()
      assert(spark.table("attrib").count() == 0L)
      // batch 2: a purchase 20s after the first click — the CROSS-BATCH
      // match must surface from the buffered state; the t=100 click is
      // in the purchase's future and must not match
      purchases.addData(Event(ts(30), 1L, "purchase", 9.99))
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
        .map(r => (r.getLong(r.fieldIndex("p_user")), r.getTimestamp(r.fieldIndex("c_ts")).getTime / 1000))
      assert(rows.toSeq == Seq((1L, 10L)))
      // batch 3: a purchase more than maxLag after the t=10 click matches
      // only the t=100 click
      purchases.addData(Event(ts(110), 1L, "purchase", 5.0))
      q.processAllAvailable()
      val all = spark.table("attrib").collect()
        .map(r => (r.getTimestamp(r.fieldIndex("p_ts")).getTime / 1000, r.getTimestamp(r.fieldIndex("c_ts")).getTime / 1000))
        .toSet
      assert(all == Set((30L, 10L), (110L, 100L)))
    } finally q.stop()
  }

  test("attributedClicks left-outer emits null rows only after the watermark passes") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val purchases = MemoryStream[Event]
    val clicks = MemoryStream[Event]
    val q = attributedClicks(
      purchases.toDF(), clicks.toDF(),
      maxLag = "30 seconds", watermarkDelay = "5 seconds", joinType = "left_outer"
    ).writeStream.format("memory").queryName("attrib_lo").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: an unmatched purchase — watermark (10-5=5) has not passed
      // its event time, so NOTHING may emit yet (the engine cannot yet
      // prove no click will arrive)
      purchases.addData(Event(ts(10), 1L, "purchase", 9.99))
      q.processAllAvailable()
      assert(spark.table("attrib_lo").count() == 0L)
      // batch 2: later events on BOTH inputs — the global watermark is
      // min over the inputs (min(120, 100) - 5 = 95), which is exactly
      // why the oracle's cutoff is min(max_p, max_c) - delay; a click on
      // one side alone would leave the purchase-side watermark at 5 and
      // nothing would evict. The u2 purchase matches the u2 click and
      // emits immediately; the watermark passing t=10 then emits u1's
      // null-padded row in the finalization batch.
      clicks.addData(Event(ts(100), 2L, "click", 0.0))
      purchases.addData(Event(ts(120), 2L, "purchase", 5.0))
      q.processAllAvailable()
      val all = spark.table("attrib_lo").collect()
        .map(r => (r.getLong(r.fieldIndex("p_user")), Option(r.get(r.fieldIndex("c_ts"))).isDefined))
        .toSet
      assert(all == Set((1L, false), (2L, true)), s"got $all")
    } finally q.stop()
  }

  test("windowedEventStats aggregates per window and drops late data past the watermark") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = windowedEventStats(input.toDF(), watermark = "10 seconds", windowLen = "10 seconds")
      .writeStream.format("memory").queryName("win_stats").outputMode(OutputMode.Append()).start()
    try {
      input.addData(Event(ts(5), 1L, "click", 1.0), Event(ts(7), 2L, "click", 3.0), Event(ts(12), 1L, "view", 10.0))
      q.processAllAvailable()
      // advance watermark far enough to close the first two windows
      input.addData(Event(ts(60), 3L, "click", 5.0))
      q.processAllAvailable()
      // a very late event for the long-closed first window must be dropped
      input.addData(Event(ts(6), 9L, "click", 100.0))
      q.processAllAvailable()
      input.addData(Event(ts(120), 3L, "click", 5.0))
      q.processAllAvailable()
      val rows = spark.table("win_stats").collect()
        .map(r => (r.getTimestamp(0).getTime / 1000, r.getString(1), r.getLong(2), r.getDouble(3)))
        .toSet
      assert(rows.contains((0L, "click", 2L, 2.0))) // [0,10) click: values 1,3
      assert(rows.contains((10L, "view", 1L, 10.0)))
      // the late 100.0 event did NOT reopen the [0,10) click window
      assert(!rows.exists(r => r._1 == 0L && r._2 == "click" && r._3 == 3L))
    } finally q.stop()
  }

  test("streamingDedup emits only the first doc per content hash across batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Doc]
    val q = streamingDedup(input.toDS())
      .writeStream.format("memory").queryName("dedup_stream").outputMode(OutputMode.Append()).start()
    try {
      input.addData(Doc(ts(1), 10L, "alpha beta"), Doc(ts(2), 11L, "gamma"), Doc(ts(3), 12L, "alpha beta"))
      q.processAllAvailable()
      input.addData(Doc(ts(4), 13L, "alpha beta"), Doc(ts(5), 14L, "delta"))
      q.processAllAvailable()
      val emitted = spark.table("dedup_stream").collect().map(r => r.getLong(1)).toSet
      assert(emitted == Set(10L, 11L, 14L)) // 12 and 13 are dupes of 10
    } finally q.stop()
  }

  test("typeTopK keeps exactly k entries across batches and displaces by (value, user, ts)") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf
      .set(provKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = Streams
      .typeTopK(input.toDS(), k = 3)
      .writeStream.format("memory").queryName("topk_stream").outputMode(OutputMode.Update()).start()
    try {
      input.addData(
        Event(ts(1), 10L, "t", 5.0),
        Event(ts(2), 11L, "t", 1.0),
        Event(ts(3), 12L, "t", 3.0),
        Event(ts(4), 13L, "t", 2.0) // 4 events -> state truncates to top-3
      )
      q.processAllAvailable()
      // batch 2: one value displaces the current 3rd (2.0 out), an equal
      // value with a SMALLER user id takes rank precedence, a tiny value
      // never enters state
      input.addData(
        Event(ts(5), 9L, "t", 5.0), // ties value 5.0, user 9 < 10 -> rank 1
        Event(ts(6), 14L, "t", 4.0), // displaces 3.0 to out-of-k
        Event(ts(7), 15L, "t", 0.5) // below the retained set, dropped
      )
      q.processAllAvailable()
      val rows = spark
        .table("topk_stream")
        .collect()
        .map(r => (r.getString(0), r.getInt(1), r.getDouble(2), r.getLong(3)))
      // batch-1 emission: exactly 3 rows (bounded even within one batch)
      val b1 = rows.filter(t => Set(10L, 11L, 12L, 13L).contains(t._4))
      assert(b1.count(_._2 == 1) >= 1)
      // final emission = last 3 rows appended: (5.0,u9), (5.0,u10), (4.0,u14)
      val fin = rows.takeRight(3).sortBy(_._2)
      assert(fin.map(t => (t._2, t._3, t._4)).toSeq ==
        Seq((1, 5.0, 9L), (2, 5.0, 10L), (3, 4.0, 14L)))
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }
  }

  test("rollingLagCorrelation keeps bounded state and matches the local Pearson") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    val q = rollingLagCorrelation(input.toDS(), window = 8)
      .writeStream.format("memory").queryName("roll_corr").outputMode(OutputMode.Update()).start()
    try {
      val xs = Seq(1.0, 2.0, 3.0, 4.0, 5.0, 4.0, 3.0, 2.0, 1.0, 2.0)
      input.addData(xs.zipWithIndex.map { case (v, i) => Event(ts(i.toLong), 7L, "t", v) }: _*)
      q.processAllAvailable()
      val rows = spark.table("roll_corr").collect().map(r => (r.getLong(0), r.getInt(1), r.getDouble(2)))
      val last = rows.last
      assert(last._1 == 7L)
      assert(last._2 == 8) // ring buffer truncated to window
      val expected = Streams.lagCorr(xs.takeRight(8))
      assert(math.abs(last._3 - expected) < 1e-12)
    } finally q.stop()
  }

  test("streamingCcm re-estimates bidirectional CCM over a sliding window") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    // X drives Y strongly: cross-map skill X->Y (from M_y) should beat Y->X
    val (xs, ys) = graft.ccm.Generators.coupledSeries(120, graft.ccm.Generators.CoupledParams(coupling = 0.4, noiseLevel = 0.02))
    val input = MemoryStream[Streams.SeriesPoint]
    val q = Streams
      .streamingCcm(input.toDS(), window = 120, minPoints = 80, spec = graft.ccm.CcmSpec(numSamples = 8))
      .writeStream.format("memory").queryName("ccm_stream").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: below minPoints -> no output
      input.addData((0 until 60).map(i => Streams.SeriesPoint(5L, i.toLong, xs(i), ys(i))): _*)
      q.processAllAvailable()
      assert(spark.table("ccm_stream").count() == 0L)
      // batch 2: enough points -> one re-estimation emitted
      input.addData((60 until 120).map(i => Streams.SeriesPoint(5L, i.toLong, xs(i), ys(i))): _*)
      q.processAllAvailable()
      val rows = spark.table("ccm_stream").collect()
      assert(rows.length == 1)
      val r = rows(0)
      assert(r.getLong(0) == 5L && r.getInt(1) == 120)
      val (rhoXY, rhoYX) = (r.getDouble(4), r.getDouble(5))
      assert(rhoXY > rhoYX, s"expected X->Y skill ($rhoXY) > Y->X ($rhoYX)")
      // determinism: matches a direct local-kernel run on the same window
      val direct = graft.ccm.CcmLocal.bidirectional(xs, ys, graft.ccm.CcmSpec(numSamples = 8), 5L)
      val directMean = direct.xCausesY.results.map(_._2).sum / direct.xCausesY.results.length
      assert(math.abs(rhoXY - directMean) < 1e-12)
    } finally q.stop()
  }

  test("streamingCcm re-sorts out-of-order arrivals across micro-batches") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val (xs, ys) = graft.ccm.Generators.coupledSeries(110, graft.ccm.Generators.CoupledParams(coupling = 0.4, noiseLevel = 0.02))
    val input = MemoryStream[Streams.SeriesPoint]
    val q = Streams
      .streamingCcm(input.toDS(), window = 110, minPoints = 100, spec = graft.ccm.CcmSpec(numSamples = 4))
      .writeStream.format("memory").queryName("ccm_ooo").outputMode(OutputMode.Append()).start()
    try {
      // batch 1 skips ords 20..29; batch 2 delivers them LATE
      val late = (20 until 30).toSet
      input.addData((0 until 110).filterNot(late).map(i => Streams.SeriesPoint(9L, i.toLong, xs(i), ys(i))): _*)
      q.processAllAvailable()
      input.addData(late.toSeq.sorted.map(i => Streams.SeriesPoint(9L, i.toLong, xs(i), ys(i))): _*)
      q.processAllAvailable()
      val last = spark.table("ccm_ooo").collect().last
      assert(last.getInt(1) == 110)
      // must equal the kernel on the CORRECTLY ORDERED full series
      val direct = graft.ccm.CcmLocal.bidirectional(xs, ys, graft.ccm.CcmSpec(numSamples = 4), 9L)
      val directMean = direct.xCausesY.results.map(_._2).sum / direct.xCausesY.results.length
      assert(math.abs(last.getDouble(4) - directMean) < 1e-12,
        "late arrivals must be re-sorted into temporal position")
    } finally q.stop()
  }

  /** Runs `batches` through streamingCcm; the query must fail with an
    * IllegalArgumentException whose message holds `text`.
    */
  private def assertCcmStreamFails(name: String, batches: Seq[Seq[Streams.SeriesPoint]], text: String): Unit = {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Streams.SeriesPoint]
    val q = Streams
      .streamingCcm(input.toDS(), window = 50, minPoints = 40, spec = graft.ccm.CcmSpec(numSamples = 2))
      .writeStream.format("memory").queryName(name).outputMode(OutputMode.Append()).start()
    try {
      val err = intercept[Exception] {
        batches.foreach { b => input.addData(b: _*); q.processAllAvailable() }
      }
      val chain = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null).toSeq
      assert(
        chain.exists(t => t.isInstanceOf[IllegalArgumentException] && t.getMessage.contains(text)),
        err.getMessage
      )
    } finally q.stop()
  }

  private def points(skey: Long, ords: Range): Seq[Streams.SeriesPoint] = {
    val (xs, ys) = graft.ccm.Generators.coupledLogisticMaps(60, 0.3)
    ords.map(i => Streams.SeriesPoint(skey, i.toLong, xs(i), ys(i)))
  }

  test("streamingCcm fails the query on an ord repeated across micro-batches, naming the series") {
    // ord 10 arrives again in the second batch, with other values
    val again = points(4L, 10 to 10).map(_.copy(x = 0.5))
    assertCcmStreamFails("ccm_dup", Seq(points(4L, 0 until 30), again ++ points(4L, 30 until 50)), "series 4 repeats")
  }

  test("streamingCcm fails the query on a NaN y, naming the series") {
    val batch = points(6L, 0 until 50).map(p => if (p.ord == 20L) p.copy(y = Double.NaN) else p)
    assertCcmStreamFails("ccm_nan", Seq(batch), "series 6 has a null or NaN y value")
  }

  test("streamingSessionize closes sessions on gap timeout and intra-batch gaps") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // gap 30s, watermark 60s (wide enough that the deliberately-late event
    // below is late-but-WITHIN-watermark instead of engine-dropped)
    val q = streamingSessionize(input.toDS(), gapMs = 30 * 1000L, watermarkDelay = "60 seconds")
      .writeStream.format("memory").queryName("sess_stream").outputMode(OutputMode.Append()).start()
    try {
      // base offset keeps ts(B) strictly above the initial watermark (0):
      // an event AT epoch 0 is dropped as late before reaching the state fn
      val B = 1000L
      // user 1: events at B,B+10 then a >30s gap then B+100
      input.addData(
        Event(ts(B), 1L, "t", 1.0), Event(ts(B + 10), 1L, "t", 1.0), Event(ts(B + 100), 1L, "t", 1.0)
      )
      q.processAllAvailable()
      // watermark is still 0 during batch 1 -> NOTHING is final yet (a
      // late event could still reshape any apparent session)
      assert(spark.table("sess_stream").count() == 0L)
      // batch 2: a LATE event at B+50 (above watermark 0) — more than the
      // gap after B+10 AND more than the gap before B+100, so it must
      // become its OWN session, not be absorbed into a neighbor
      input.addData(Event(ts(B + 50), 1L, "t", 1.0))
      q.processAllAvailable()
      // advance the watermark far past B+100 + gap via another key, then
      // one more batch so the EventTimeTimeout fires for quiet user 1
      input.addData(Event(ts(B + 400), 2L, "t", 1.0))
      q.processAllAvailable()
      input.addData(Event(ts(B + 500), 2L, "t", 1.0))
      q.processAllAvailable()
      val all = spark.table("sess_stream").as[Session].collect().toSet
      assert(all.contains(Session(1L, 2L, B * 1000L, (B + 10) * 1000L)))
      assert(all.contains(Session(1L, 1L, (B + 50) * 1000L, (B + 50) * 1000L)))
      assert(all.contains(Session(1L, 1L, (B + 100) * 1000L, (B + 100) * 1000L)))
    } finally q.stop()
  }

  test("streamingSessionize keeps exact counts across batches while compressing old times") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val input = MemoryStream[Event]
    // gap 30s, watermark 5s: by batch 3 the earliest times sit below
    // (watermark - gap) and get compressed into the prefix — the final
    // emitted session must still carry the full count and true start
    val q = streamingSessionize(input.toDS(), gapMs = 30 * 1000L, watermarkDelay = "5 seconds")
      .writeStream.format("memory").queryName("sess_comp").outputMode(OutputMode.Append()).start()
    try {
      val B = 2000L
      input.addData(Seq(B, B + 10, B + 20).map(t => Event(ts(t), 1L, "t", 1.0)): _*)
      q.processAllAvailable()
      input.addData(Seq(B + 30, B + 40, B + 50).map(t => Event(ts(t), 1L, "t", 1.0)): _*)
      q.processAllAvailable()
      input.addData(Seq(B + 60, B + 70, B + 80).map(t => Event(ts(t), 1L, "t", 1.0)): _*)
      q.processAllAvailable()
      // silence for user 1; advance the watermark past end + gap, then one
      // more batch so the timeout fires
      input.addData(Event(ts(B + 400), 2L, "t", 1.0))
      q.processAllAvailable()
      input.addData(Event(ts(B + 500), 2L, "t", 1.0))
      q.processAllAvailable()
      val all = spark.table("sess_comp").as[Session].collect().toSet
      assert(all.contains(Session(1L, 9L, B * 1000L, (B + 80) * 1000L)))
    } finally q.stop()
  }

  test("lagCorr degenerate paths return 0.0 like the reference") {
    assert(Streams.lagCorr(Seq(1.0, 2.0)) == 0.0) // < 2 pairs
    assert(Streams.lagCorr(Seq(5.0, 5.0, 5.0, 5.0)) == 0.0) // zero variance
  }

  test("asOfAttribution matches cross-batch, waits for the watermark, and picks the latest eligible click") {
    val spark2 = spark
    import spark2.implicits._
    implicit val sqlCtx = spark.sqlContext
    val provKey = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getOption(provKey)
    spark.conf
      .set(provKey, "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val input = MemoryStream[Event]
    val q = Streams
      .asOfAttribution(input.toDS(), maxLagUs = 30L * 1000000, watermarkDelay = "5 seconds")
      .toDF()
      .writeStream.format("memory").queryName("asof_stream").outputMode(OutputMode.Append()).start()
    try {
      // batch 1: two clicks — buffered, nothing emits
      input.addData(Event(ts(10), 1L, "click", 0.0), Event(ts(20), 1L, "click", 0.0))
      q.processAllAvailable()
      assert(spark.table("asof_stream").count() == 0L)
      // batch 2: the purchase (cross-batch vs the buffered clicks).
      // Watermark is still 20-5=15 < 25, so the as-of answer is NOT yet
      // provable and nothing may emit — this is the defining difference
      // from the interval join, which emits matches immediately.
      input.addData(Event(ts(25), 1L, "purchase", 9.99))
      q.processAllAvailable()
      assert(spark.table("asof_stream").count() == 0L)
      // batch 3: an out-of-order click at t=22 (after the purchase ROW,
      // before the purchase TIME — it must win the argmax over t=20),
      // plus a heartbeat on another user pushing the watermark past 25
      // so the purchase's timer fires.
      input.addData(Event(ts(22), 1L, "click", 0.0), Event(ts(60), 2L, "click", 0.0))
      q.processAllAvailable()
      val rows = spark.table("asof_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1) / 1000000L, Option(r.get(3)).map(_.asInstanceOf[Long] / 1000000L)))
        .toSeq
      assert(rows == Seq((1L, 25L, Some(22L))), s"got $rows")
      // batch 4: a purchase with NO click within the 30s window emits a
      // null-padded row once the watermark passes it
      input.addData(Event(ts(100), 3L, "purchase", 1.0))
      q.processAllAvailable()
      input.addData(Event(ts(200), 2L, "click", 0.0))
      q.processAllAvailable()
      val all = spark.table("asof_stream").collect()
        .map(r => (r.getLong(0), r.getLong(1) / 1000000L, Option(r.get(3)).map(_.asInstanceOf[Long] / 1000000L)))
        .toSet
      assert(all == Set((1L, 25L, Some(22L)), (3L, 100L, None)), s"got $all")
    } finally {
      q.stop()
      prev match {
        case Some(v) => spark.conf.set(provKey, v)
        case None    => spark.conf.unset(provKey)
      }
    }
  }
}
