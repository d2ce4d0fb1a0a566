package graft.streaming

import java.sql.Timestamp

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

import graft.ccm.DetHash

/** Structured Streaming operators (SURVEY.md §2b marks streaming absent in
  * the reference; these are the engine's forward-looking extensions, built
  * on `readStream` -> transform -> `writeStream` with watermarks and
  * `KeyValueGroupedDataset` state).
  *
  * Scale notes (100 TB / day firehose): every operator below keys its state
  * by a high-cardinality column (event window, content hash, series id), so
  * state partitions across executors. State-size bounds differ per operator:
  * the windowed aggregation is bounded by its watermark; `streamingDedup`
  * and `rollingLagCorrelation` carry explicit event-time state TTLs; and
  * `streamingCcm` (whose key is a logical ordinal with no event-time axis)
  * has NO timeout — it assumes a bounded series-key space (see its doc).
  */
object Streams {

  /** An event row as it arrives on the stream. */
  final case class Event(ts: Timestamp, userId: Long, eventType: String, value: Double)

  /** A document row on the stream (dedup input). */
  final case class Doc(ts: Timestamp, docId: Long, text: String)

  /** Watermarked sliding-window aggregation over an event stream:
    * counts + mean value per (10s window, event_type); late events beyond
    * the watermark are dropped by the engine.
    */
  /** `sum_value_4dp` is the EXACT integer sum of per-row 4-dp micro-units
    * (`round(value·10⁴)` per row is bit-identical on any engine — same
    * input bits, one correctly-rounded multiply — and a long sum is
    * order-free), published alongside the float `avg_value` whose
    * partition-order-dependent double sum can land within ulps of a
    * rounding boundary. Consumers that hash or diff results should derive
    * their mean from the micro sum (the contract gates do); `avg_value`
    * stays for ad-hoc use.
    */
  def windowedEventStats(
      events: DataFrame,
      watermark: String = "30 seconds",
      windowLen: String = "10 seconds"
  ): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("eventType"))
      .agg(
        count(lit(1)).as("n_events"),
        avg(col("value")).as("avg_value"),
        sum(round(col("value") * 10000.0).cast("long")).as("sum_value_4dp")
      )
      .select(
        col("window.start").as("win_start"),
        col("eventType"),
        col("n_events"),
        col("avg_value"),
        col("sum_value_4dp")
      )

  /** Stream-static enrichment: join the event stream against a static
    * (batch) dimension table on the grouping key. Spark replans the static
    * side per micro-batch, broadcasting it when its size estimate is under
    * the autoBroadcastJoinThreshold — no hint here, so a large dim table
    * degrades to a shuffled join instead of force-broadcasting itself into
    * an executor OOM. The canonical "enrich a firehose with reference
    * data" shape; no state, no watermark interaction, works in append
    * mode. At scale the static side is a broadcast (small dim) or a
    * bucketed table (big dim).
    */
  def enrichWithDim(events: DataFrame, dim: DataFrame, key: String): DataFrame =
    events.join(dim, Seq(key), "left")

  /** Stream-static TEMPORAL join against an SCD2 (type-2 slowly-changing)
    * dimension: each event is matched to the dimension VERSION whose
    * validity interval contains the event time
    * (`valid_from_us <= t < valid_to_us`). Dimension versions partition
    * each key's timeline (current version open-ended at Long.MaxValue),
    * so every event matches exactly one version and the inner join is
    * lossless.
    *
    * Scale/operational notes: a stream-static join keeps NO state — the
    * static side is re-planned every micro-batch, which is precisely the
    * behavior an SCD2 dim wants (a version row appended between batches
    * is visible to the next batch without restarting the query). The
    * non-equi validity predicate rides on the key equi-join, so the
    * dimension shuffles/broadcasts on the key exactly like
    * [[enrichWithDim]]; per-event work is the version-interval probe
    * within one key's versions.
    */
  def enrichWithScd2(
      events: DataFrame,
      dim: DataFrame,
      eventKey: String,
      dimKey: String,
      eventTimeUs: String
  ): DataFrame =
    events.join(
      dim,
      events(eventKey) === dim(dimKey) &&
        events(eventTimeUs) >= dim("valid_from_us") && events(eventTimeUs) < dim("valid_to_us"),
      "inner"
    )

  /** Stream-STREAM inner join: each purchase matched to the same user's
    * clicks in the `maxLag` window before it (click attribution — the
    * canonical two-firehose join). Both sides carry watermarks and the
    * join condition bounds event time in BOTH directions
    * (p_ts - maxLag <= c_ts <= p_ts), which is what lets the engine
    * evict buffered rows once the watermark passes their match horizon —
    * without the two-sided range the state store grows with the stream.
    * At 100 TB/day the state held per key is O(events in maxLag), not
    * O(stream), and the join shuffles both sides on the user key only.
    * Inner joins emit matches as they are found, so append mode's result
    * over a replay equals the batch join — the oracle states exactly
    * that.
    */
  def attributedClicks(
      purchases: DataFrame,
      clicks: DataFrame,
      maxLag: String = "30 minutes",
      watermarkDelay: String = "1 minute",
      joinType: String = "inner"
  ): DataFrame = {
    val p = purchases
      .select(col("userId").as("p_user"), col("ts").as("p_ts"), col("value").as("p_value"))
      .withWatermark("p_ts", watermarkDelay)
    val c = clicks
      .select(col("userId").as("c_user"), col("ts").as("c_ts"))
      .withWatermark("c_ts", watermarkDelay)
    p.join(
      c,
      col("p_user") === col("c_user") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $maxLag"),
      joinType
    )
  }

  /** First-seen document id per content hash. */
  final case class DedupEmit(textHash: Long, docId: Long, ts: Timestamp)

  /** Streaming exact dedup: key by content hash, emit only the first
    * document per hash; per-key state is one boolean with an EVENT-TIME
    * timeout tied to the stream's watermark, so abandoned hashes age out and
    * state size stays bounded. (A processing-time timeout would make the
    * engine busy-run empty trigger batches; event-time expiry only fires as
    * the watermark advances.)
    */
  /** Doc + content hash; `ts` stays a TOP-LEVEL column so the watermark
    * attribute survives into flatMapGroupsWithState (a `.map` to a tuple
    * would nest it and lose the watermark metadata).
    */
  final case class HashedDoc(hash: Long, ts: Timestamp, docId: Long)

  def streamingDedup(docs: Dataset[Doc], stateTtlMs: Long = 3600L * 1000): Dataset[DedupEmit] = {
    import docs.sparkSession.implicits._
    docs
      .withWatermark("ts", "10 seconds")
      .select(DetHash.polyHashCol(col("text")).as("hash"), col("ts"), col("docId"))
      .as[HashedDoc]
      .groupByKey(_.hash)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (hash: Long, rows: Iterator[HashedDoc], state: GroupState[Boolean]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else if (state.exists) {
            Iterator.empty // hash already seen -> drop duplicates
          } else {
            state.update(true)
            val first = rows.minBy(d => (d.ts.getTime, d.docId))
            state.setTimeoutTimestamp(first.ts.getTime + stateTtlMs)
            Iterator.single(DedupEmit(hash, first.docId, first.ts))
          }
      }
  }

  /** Rolling per-series Pearson correlation of (value, previous value) —
    * the streaming analogue of the CCM skill signal: each series keeps a
    * bounded ring buffer (last `window` points) in state and emits the
    * refreshed correlation on every batch.
    *
    * Per-key state carries an EVENT-TIME TTL (`stateTtlMs` past the key's
    * newest point), so series that go quiet age out as the watermark
    * advances and total state stays bounded even under unbounded key
    * cardinality. THE TTL CHANGES LATE-DATA SEMANTICS: rows later than
    * `watermarkDelay` behind the stream's max event time are dropped by
    * the engine before reaching the state function (pre-TTL versions
    * merged arbitrarily late rows). Arrivals INSIDE the delay are still
    * re-sorted into temporal position; size `watermarkDelay` to the
    * worst lateness the source can produce.
    */
  final case class SeriesState(ts: Vector[Long], values: Vector[Double])
  final case class RollingCorr(userId: Long, n: Int, corr: Double)

  def rollingLagCorrelation(
      events: Dataset[Event],
      window: Int = 64,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = 3600L * 1000
  ): Dataset[RollingCorr] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SeriesState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val incoming = rows.toSeq.map(e => (e.ts.getTime, e.value))
            val prev = state.getOption.map(s => s.ts.zip(s.values)).getOrElse(Vector.empty)
            // re-sort the WHOLE buffer: a late arrival (within the watermark
            // delay — anything later was dropped upstream) must land at its
            // temporal position, not be appended at the end
            val merged = (prev ++ incoming).sortBy(_._1).takeRight(window).toVector
            state.update(SeriesState(merged.map(_._1), merged.map(_._2)))
            // timeout must be strictly beyond the current watermark
            state.setTimeoutTimestamp(
              math.max(merged.last._1 + stateTtlMs, state.getCurrentWatermarkMs() + 1)
            )
            Iterator.single(RollingCorr(userId, merged.length, lagCorr(merged.map(_._2))))
          }
      }
  }

  // -------------------------------------------------------------------
  // Streaming self-starting CUSUM: the batch evt_changepoint detector's
  // streaming twin, with O(1) SCALAR state per key — no ring buffer at
  // all, the contrast to rollingLagCorrelation's O(window) state. The
  // standardizing moments are PRIOR-only (each point is scored against
  // the mean/stddev of everything before it — the self-starting CUSUM,
  // Hawkins 1987), accumulated as exact integer sums, so the oracle can
  // replay the identical arithmetic with prior-frame running windows.
  // Out-of-order events are sorted within each batch; across batches a
  // scalar state cannot reorder the past — that one-directionality is
  // the price of O(1) state and is the documented contract (the ring-
  // buffer ops pay O(window) state to buy re-sorting instead).
  // -------------------------------------------------------------------
  final case class CusumState(
      n: Long,
      sumC: Long,
      sumC2: Long,
      rPos: Double,
      rNeg: Double,
      minRPos: Double,
      minRNeg: Double,
      maxSPos: Double,
      maxSNeg: Double,
      alarms: Long
  )
  final case class CusumResult(userId: Long, n: Long, maxSPos: Double, maxSNeg: Double, alarms: Long)

  def streamingCusum(
      events: Dataset[Event],
      slack: Double = 0.5,
      threshold: Double = 4.0,
      watermarkDelay: String = "10 minutes",
      stateTtlMs: Long = 3600L * 1000
  ): Dataset[CusumResult] = {
    import events.sparkSession.implicits._
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Update(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[CusumState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            var st = state.getOption.getOrElse(
              CusumState(0L, 0L, 0L, 0.0, 0.0, 0.0, 0.0, 0.0, 0.0, 0L)
            )
            val sorted = rows.toSeq.sortBy(_.ts.getTime)
            var lastTs = 0L
            for (e <- sorted) {
              lastTs = math.max(lastTs, e.ts.getTime)
              val cents = math.round(e.value * 100.0)
              // prior-only standardization from exact integer moments —
              // operand-for-operand the oracle's arithmetic. varNum is
              // computed in BigInt: n*sumC2 overflows a Long once a hot key
              // accumulates ~3e5 dollar-scale events (sumC2 ~ n*1e8), and a
              // silently-negative varNum would pin z=0 and mute the detector
              // forever. In the non-overflow regime BigInt.toDouble rounds
              // identically to Long.toDouble, so oracle parity is unchanged;
              // past it the detector now keeps alarming instead of dying.
              // (sumC itself is safe to ~9e16 events at 100-cent magnitude.)
              val varNum =
                BigInt(st.n) * BigInt(st.sumC2) - BigInt(st.sumC) * BigInt(st.sumC)
              val z =
                if (st.n >= 2 && varNum.signum > 0) {
                  val m = st.sumC.toDouble / st.n
                  val sd = math.sqrt(varNum.toDouble / (st.n.toDouble * (st.n - 1).toDouble))
                  (cents - m) / sd
                } else 0.0
              val rPos = st.rPos + (z - slack)
              val rNeg = st.rNeg + (-z - slack)
              val minRPos = math.min(st.minRPos, rPos)
              val minRNeg = math.min(st.minRNeg, rNeg)
              val sPos = rPos - minRPos
              val sNeg = rNeg - minRNeg
              st = CusumState(
                st.n + 1,
                st.sumC + cents,
                st.sumC2 + cents * cents,
                rPos,
                rNeg,
                minRPos,
                minRNeg,
                math.max(st.maxSPos, sPos),
                math.max(st.maxSNeg, sNeg),
                st.alarms + (if (sPos > threshold || sNeg > threshold) 1L else 0L)
              )
            }
            state.update(st)
            state.setTimeoutTimestamp(
              math.max(lastTs + stateTtlMs, state.getCurrentWatermarkMs() + 1)
            )
            Iterator.single(CusumResult(userId, st.n, st.maxSPos, st.maxSNeg, st.alarms))
          }
      }
  }

  // -------------------------------------------------------------------
  // Streaming CCM (SURVEY §7 stretch): sliding-window re-estimation of the
  // full bidirectional CCM per series. Each series keeps the last `window`
  // (ord, x, y) points in state; once `minPoints` are buffered the local
  // kernel re-runs on every batch — the deterministic hash-rank sampling
  // makes re-estimation reproducible. PER-KEY state is bounded by `window`,
  // but there is NO state timeout: `ord` is a logical clock, so there is no
  // event-time axis to expire against. This operator therefore assumes a
  // BOUNDED series-key space (total state = |keys| x window points); for an
  // unbounded key universe, attach a real event-time column and expire
  // state the way `rollingLagCorrelation` does. Input contract as in the
  // batch API: an `ord` repeated within a series (in one micro-batch or
  // across them) or a NaN x or y fails the query, naming the series.
  // -------------------------------------------------------------------

  /** One series point on the stream. */
  final case class SeriesPoint(skey: Long, ord: Long, x: Double, y: Double)

  /** Re-estimated bidirectional CCM for one series at the current window. */
  final case class StreamCcmResult(
      skey: Long,
      n: Int,
      xCausesY: Boolean,
      yCausesX: Boolean,
      rhoXY: Double, // mean skill over the lib-size ladder (the ladder tail
      rhoYX: Double  // has too few prediction points to be stable on its own)
  )

  final case class CcmWindowState(ords: Vector[Long], xs: Vector[Double], ys: Vector[Double])

  def streamingCcm(
      points: Dataset[SeriesPoint],
      window: Int = 128,
      minPoints: Int = 60,
      spec: graft.ccm.CcmSpec = graft.ccm.CcmSpec(numSamples = 10)
  ): Dataset[StreamCcmResult] = {
    import points.sparkSession.implicits._
    points
      .groupByKey(_.skey)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.NoTimeout()) {
        (skey: Long, rows: Iterator[SeriesPoint], state: GroupState[CcmWindowState]) =>
          val incoming = rows.toSeq.map(p => (p.ord, p.x, p.y))
          val prev = state.getOption.getOrElse(CcmWindowState(Vector.empty, Vector.empty, Vector.empty))
          // re-sort the WHOLE buffer by ord: a late point arriving in a
          // later micro-batch must take its temporal position — the CCM
          // kernel treats array position as time
          val merged = (prev.ords.lazyZip(prev.xs).lazyZip(prev.ys).toVector ++ incoming).sortBy(_._1)
          // the batch API's contract, so a repeated ord or a NaN fails the
          // query naming the series rather than reaching the kernel
          graft.ccm.Ccm.checkSeries(skey, merged.map(_._2).toArray, merged.map(_._3).toArray,
            i => if (merged(i)._1 == merged(i - 1)._1) Some(s"(${merged(i)._1})") else None)
          val kept = merged.takeRight(window)
          val ords = kept.map(_._1)
          val xs = kept.map(_._2)
          val ys = kept.map(_._3)
          state.update(CcmWindowState(ords, xs, ys))
          if (xs.length < minPoints) Iterator.empty
          else {
            val res = graft.ccm.CcmKernel.bidirectional(xs.toArray, ys.toArray, spec, skey)
            def meanRho(d: graft.ccm.CcmLocal.DirectionResult) =
              if (d.results.isEmpty) 0.0 else d.results.map(_._2).sum / d.results.length
            Iterator.single(
              StreamCcmResult(
                skey,
                xs.length,
                res.xCausesY.convergent,
                res.yCausesX.convergent,
                meanRho(res.xCausesY),
                meanRho(res.yCausesX)
              )
            )
          }
      }
  }

  // -------------------------------------------------------------------
  // Streaming sessionization — the batch evt_sessionize operator's
  // streaming twin: per-user sessions close when the event-time gap
  // exceeds `gapMs`. A session is emitted ONLY once the watermark passes
  // its end + gap: until then a late-but-within-watermark event from a
  // later micro-batch could still extend it, merge it with a neighbor,
  // or start a new session inside an apparent gap — so pending event
  // times stay buffered in state (re-sorted on every batch, like the
  // other stateful operators here) and finalization is watermark-
  // governed, via EventTimeTimeout for keys that go quiet.
  //
  // State size is WATERMARK-BOUNDED even for a continuously-active key:
  // raw times older than (watermark - gap) cannot participate in any
  // future gap decision (new events arrive strictly above the watermark),
  // so they are COMPRESSED to a (count, start, end) prefix of the first
  // pending session; only times above (watermark - gap) stay raw.
  // Finalized sessions leave state entirely.
  // -------------------------------------------------------------------

  /** A closed session. */
  final case class Session(userId: Long, nEvents: Long, startMs: Long, endMs: Long) {
    def durationMs: Long = endMs - startMs
  }

  /** Compressed prefix of the first pending session (nPrefix == 0 -> none)
    * + the raw times still inside the watermark's reach.
    */
  final case class SessionBuf(nPrefix: Long, prefixStart: Long, prefixEnd: Long, ts: Vector[Long])

  def streamingSessionize(
      events: Dataset[Event],
      gapMs: Long = 30 * 1000L,
      watermarkDelay: String = "10 seconds"
  ): Dataset[Session] = {
    import events.sparkSession.implicits._

    // fold sorted times into gap-delimited (nEvents, start, end) sessions,
    // optionally seeded with the compressed head-session prefix
    def fold(seed: Option[(Long, Long, Long)], ts: Vector[Long]): Vector[(Long, Long, Long)] =
      ts.foldLeft(seed.toVector) {
        case (acc :+ ((n, s, e)), t) if t - e <= gapMs => acc :+ ((n + 1, s, t))
        case (acc, t) => acc :+ ((1L, t, t))
      }

    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .flatMapGroupsWithState(OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (userId: Long, rows: Iterator[Event], state: GroupState[SessionBuf]) =>
          val prev = state.getOption
          val seed = prev.filter(_.nPrefix > 0).map(b => (b.nPrefix, b.prefixStart, b.prefixEnd))
          // re-sort the raw buffer: a late arrival (within the watermark
          // delay) must land at its temporal position. All raw times are
          // above the compressed prefix by construction, so seeding the
          // fold keeps global order.
          val merged = (prev.map(_.ts).getOrElse(Vector.empty) ++ rows.map(_.ts.getTime)).sorted
          val wm = state.getCurrentWatermarkMs()
          val sessions = fold(seed, merged)
          // final iff the watermark passed end + gap: every future event
          // has t > wm >= end + gap, so it can neither extend this session
          // nor land between it and its successor
          val (fin, pending) = sessions.partition { case (_, _, e) => e + gapMs <= wm }
          if (pending.isEmpty) state.remove()
          else {
            // compress: only the FIRST pending session can contain times
            // <= wm - gap (any earlier session would already be final);
            // those times are immutable — fold them into the prefix
            val (n1, s1, e1) = pending.head
            val cutoff = wm - gapMs
            val pendingTimes = merged.filter(_ >= s1) // final sessions' times drop out
            val raw = pendingTimes.filter(_ > cutoff)
            val sess1RawKept = raw.count(_ <= e1)
            val comp = n1 - sess1RawKept // old prefix + newly-compressible session-1 times
            if (comp > 0) {
              val compEnd = (pendingTimes.filter(_ <= cutoff).lastOption.toSeq ++
                seed.map(_._3).toSeq).max
              state.update(SessionBuf(comp, s1, compEnd, raw))
            } else state.update(SessionBuf(0L, 0L, 0L, raw))
            state.setTimeoutTimestamp(math.max(pending.last._3 + gapMs + 1, wm + 1))
          }
          fin.iterator.map { case (n, s, e) => Session(userId, n, s, e) }
      }
  }

  /** Running totals per key. `cents` is the value sum in integer cents
    * (the q10/stream_enrich pattern): exact integer accumulation is
    * combine-order independent, so the emitted total is immune to the
    * shuffle-fetch order the state iterator sees — a raw double sum here
    * would be run-to-run nondeterministic in its last ulps.
    */
  final case class TypeTotals(eventType: String, n: Long, cents: Long)
  // NOT private: Janino-generated encoder code calls the accessors from
  // outside the companion scope; a private nested case class compiles but
  // makes every state (de)serialization fall back to the interpreted
  // encoder (ERROR CodeGenerator spam + slower hot path).
  final case class Tot(n: Long, cents: Long)

  /** Exact-binary-value HALF_UP at scale 0 — DuckDB `round(x)` semantics,
    * same construction as the PCA family's r6 (BigDecimal(double), NOT
    * valueOf's shortest-repr).
    */
  private def roundCents(v: Double): Long =
    new java.math.BigDecimal(v * 100.0)
      .setScale(0, java.math.RoundingMode.HALF_UP)
      .longValue()

  /** `transformWithState` processor (the Spark 4 arbitrary-state API that
    * supersedes `flatMapGroupsWithState`: named typed state cells, per-cell
    * TTL, timers — and a RocksDB-backed store REQUIRED by the operator):
    * running per-event-type count/sum in a single `ValueState`. Each
    * micro-batch emits the updated running totals for the keys it touched
    * (update semantics), so after an `AvailableNow` replay the sink holds
    * the full-stream aggregate per key.
    *
    * State is one (count, sum) pair per event type — O(key cardinality),
    * the smallest possible footprint; at firehose scale the same shape
    * holds any keyed online aggregate (sketches, model state) with TTL
    * where the key space is unbounded.
    */
  private class TypeTotalsProcessor
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, TypeTotals] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var totals: org.apache.spark.sql.streaming.ValueState[Tot] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      totals = getHandle.getValueState[Tot]("totals", E.product[Tot], TTLConfig.NONE)
    override def handleInputRows(
        key: String,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues
    ): Iterator[TypeTotals] = {
      val prev = if (totals.exists()) totals.get() else Tot(0L, 0L)
      var n = prev.n
      var c = prev.cents
      rows.foreach { e => n += 1; c += roundCents(e.value) }
      totals.update(Tot(n, c))
      Iterator.single(TypeTotals(key, n, c))
    }
  }

  /** One retained top-k entry; NOT private (the [[Tot]] encoder-codegen
    * lesson) — Janino-generated (de)serializers call the accessors.
    */
  final case class Ent(value: Double, userId: Long, tsUs: Long)
  final case class TopEntry(eventType: String, rank: Int, value: Double, userId: Long, tsUs: Long)

  /** `transformWithState` processor holding the top-`k` events per key in
    * a `ListState` — the BOUNDED-state streaming top-k ("top domains /
    * largest documents per category over a firehose"): state is exactly
    * min(k, seen) entries per key no matter how many events stream
    * through, the shape that survives an unbounded key×event volume at
    * 100 TB/day. Each batch re-emits the key's current top-k (update
    * semantics); ordering is (value DESC, userId ASC, tsUs ASC) — fully
    * deterministic, replayable as one window in the batch oracle.
    */
  private class TypeTopKProcessor(k: Int)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, TopEntry] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var top: org.apache.spark.sql.streaming.ListState[Ent] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      top = getHandle.getListState[Ent]("topk", E.product[Ent], TTLConfig.NONE)
    private val ord: Ordering[Ent] =
      Ordering.by(e => (-e.value, e.userId, e.tsUs))
    override def handleInputRows(
        key: String,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues
    ): Iterator[TopEntry] = {
      val cur = {
        val it = top.get(); val b = Seq.newBuilder[Ent]
        while (it.hasNext) b += it.next()
        b.result()
      }
      val merged =
        // exact epoch-micros from the JDBC Timestamp: getTime carries
        // floor-millis, getNanos the full fractional second
        (cur ++ rows.map(e =>
          Ent(e.value, e.userId, e.ts.getTime / 1000L * 1000000L + e.ts.getNanos / 1000L)
        ))
          .sorted(ord)
          .take(k)
      top.put(merged.toArray)
      merged.zipWithIndex.iterator.map { case (e, i) =>
        TopEntry(key, i + 1, e.value, e.userId, e.tsUs)
      }
    }
  }

  /** One retained minimum-hash entry; NOT private (the [[Tot]]
    * encoder-codegen lesson).
    */
  final case class KmvEnt(h: Long, key: Long)
  final case class KmvSketch(eventType: String, nsk: Long, hk: Long)

  /** `transformWithState` processor maintaining a K-MINIMUM-VALUES
    * distinct sketch per key — the STREAMING form of sketch_kmv_setops:
    * state is the k smallest DetHash values of the item ids seen for the
    * key (deduplicated — a re-seen item must not occupy a second slot),
    * so "distinct users per event type over a firehose" costs k·16 bytes
    * per key forever. Each batch re-emits the key's current (n_sketch,
    * k-th-minimum); both improve MONOTONICALLY (nsk grows to k and
    * freezes; hk only decreases), so the final sketch is selectable from
    * a multi-batch replay by (nsk DESC, hk ASC) — and the estimator
    * (k−1)·P/h_(k) replays as plain SQL over the same DetHash.
    */
  private class TypeKmvProcessor(k: Int, seed: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, KmvSketch] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var mins: org.apache.spark.sql.streaming.ListState[KmvEnt] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      mins = getHandle.getListState[KmvEnt]("kmv", E.product[KmvEnt], TTLConfig.NONE)
    override def handleInputRows(
        key: String,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues
    ): Iterator[KmvSketch] = {
      val cur = {
        val it = mins.get(); val b = Seq.newBuilder[KmvEnt]
        while (it.hasNext) b += it.next()
        b.result()
      }
      // classic KMV state is the k smallest DISTINCT hash values: dedupe
      // on h alone (min key as the deterministic representative), else two
      // userIds colliding to one DetHash value would occupy two slots with
      // equal h and bias the (k−1)·P/h_(k) estimator by collision count.
      val merged = (cur ++ rows.map(e => KmvEnt(graft.ccm.DetHash.rankHash(e.userId, 0L, 0L, seed), e.userId)))
        .groupBy(_.h)
        .map { case (h, es) => KmvEnt(h, es.map(_.key).min) }
        .toSeq
        .sortBy(_.h)
        .take(k)
      mins.put(merged.toArray)
      Iterator.single(KmvSketch(key, merged.length.toLong, merged.last.h))
    }
  }

  /** One emitted histogram cell; NOT private (the [[Tot]] encoder-codegen
    * lesson).
    */
  final case class TypeBucket(eventType: String, bucket: Long, n: Long)

  /** `transformWithState` processor maintaining a per-key VALUE HISTOGRAM
    * in a `MapState` — the fourth state-cell kind beside ValueState
    * (running totals), ListState (top-k / KMV) and the FMGWS gates: the
    * map's user-key is the $10 cent-bucket, its value the running count,
    * so inserting an observation touches ONE map entry instead of
    * rewriting a whole list (the point of MapState — RocksDB stores each
    * user-key as its own store key). This is the streaming
    * distribution-monitor shape ("value histogram per category over a
    * firehose", the input to drift alarms); state is O(buckets) per key.
    * Each batch re-emits the key's full current histogram (update
    * semantics); per-cell counts only grow, so a multi-batch replay
    * selects the final histogram by max(n) per (key, bucket).
    */
  private class TypeHistProcessor(bucketCents: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[String, Event, TypeBucket] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var hist: org.apache.spark.sql.streaming.MapState[Long, Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      hist = getHandle.getMapState[Long, Long]("hist", E.scalaLong, E.scalaLong, TTLConfig.NONE)
    override def handleInputRows(
        key: String,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues
    ): Iterator[TypeBucket] = {
      rows.foreach { e =>
        val b = roundCents(e.value) / bucketCents
        val cur = if (hist.containsKey(b)) hist.getValue(b) else 0L
        hist.updateValue(b, cur + 1L)
      }
      val cells = {
        val it = hist.iterator(); val buf = Seq.newBuilder[(Long, Long)]
        while (it.hasNext) { val kv = it.next(); buf += (kv._1 -> kv._2) }
        buf.result().sortBy(_._1)
      }
      cells.iterator.map { case (b, n) => TypeBucket(key, b, n) }
    }
  }

  /** Streaming per-type value histogram via [[TypeHistProcessor]]
    * (RocksDB store required, as for [[runningTypeTotals]]).
    */
  def typeHistogram(events: Dataset[Event], bucketCents: Long): Dataset[TypeBucket] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.eventType)
      .transformWithState(
        new TypeHistProcessor(bucketCents),
        TimeMode.None(),
        OutputMode.Update()
      )
  }

  /** Streaming KMV distinct sketch per event type via [[TypeKmvProcessor]]
    * (RocksDB store required, as for [[runningTypeTotals]]).
    */
  def typeKmv(events: Dataset[Event], k: Int, seed: Long): Dataset[KmvSketch] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.eventType)
      .transformWithState(
        new TypeKmvProcessor(k, seed),
        TimeMode.None(),
        OutputMode.Update()
      )
  }

  /** Top-`k` events per event type via [[TypeTopKProcessor]] (RocksDB
    * store required, as for [[runningTypeTotals]]).
    */
  def typeTopK(events: Dataset[Event], k: Int): Dataset[TopEntry] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.eventType)
      .transformWithState(
        new TypeTopKProcessor(k),
        TimeMode.None(),
        OutputMode.Update()
      )
  }

  /** Running per-type totals via [[TypeTotalsProcessor]]. Caller must have
    * the RocksDB state-store provider configured — transformWithState
    * refuses the default HDFS-backed store.
    */
  def runningTypeTotals(events: Dataset[Event]): Dataset[TypeTotals] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .groupByKey(_.eventType)
      .transformWithState(
        new TypeTotalsProcessor,
        TimeMode.None(),
        OutputMode.Update()
      )
  }

  /** A buffered click timestamp (epoch micros); NOT private (the [[Tot]]
    * encoder-codegen lesson).
    */
  final case class ClickStamp(tsUs: Long)

  /** A purchase awaiting its watermark-proof emission. */
  final case class PendingPurchase(tsUs: Long, value: Double)

  /** One as-of attribution: the LATEST click at-or-before the purchase
    * within the lag window, or null-padded when none exists.
    */
  final case class AsOfRow(userId: Long, purchaseUs: Long, purchaseValue: Double, clickUs: Option[Long])

  /** STREAM-STREAM AS-OF JOIN via `transformWithState` + EVENT-TIME
    * TIMERS — the temporal analog of [[attributedClicks]]: instead of
    * every click in the window (the interval-join contract), each
    * purchase is enriched with only the LATEST click at-or-before it
    * (the as-of contract, `plans/AsOfJoin.scala`'s batch semantics
    * carried onto two live streams).
    *
    * Why this cannot be the built-in stream-stream join: "latest per
    * purchase" is an argmax across ALL matching clicks — including ones
    * that arrive out-of-order AFTER the purchase row — so a correct
    * answer may only be emitted once the watermark PROVES the click set
    * below `p_ts` is complete. The processor therefore buffers both
    * sides per user and registers an event-time timer at each purchase's
    * timestamp: when the watermark passes it, every eligible click has
    * either arrived or is late-beyond-watermark by definition, the
    * argmax is final, and the row emits (append semantics). Purchases
    * above the stream's final watermark never emit — the eviction cutoff
    * an oracle must state explicitly.
    *
    * State is watermark-bounded on both cells: pending purchases drain
    * at their own timers, and buffered clicks below
    * `watermark − maxLag` can no longer win any future argmax (any
    * later-arriving purchase that survives the late filter has
    * `p_ts ≥ watermark`) and are pruned on every timer pass —
    * O(users · lag-window density) live state at 100 TB/day, the same
    * bound the symmetric-hash interval join carries.
    */
  private class AsOfClickProcessor(maxLagUs: Long)
      extends org.apache.spark.sql.streaming.StatefulProcessor[Long, Event, AsOfRow] {
    import org.apache.spark.sql.streaming.{TimeMode, TTLConfig}
    import org.apache.spark.sql.{Encoders => E}
    @transient private var clicks: org.apache.spark.sql.streaming.ListState[ClickStamp] = _
    @transient private var pending: org.apache.spark.sql.streaming.ListState[PendingPurchase] = _

    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      clicks = getHandle.getListState[ClickStamp]("clicks", E.product[ClickStamp], TTLConfig.NONE)
      pending = getHandle.getListState[PendingPurchase]("pending", E.product[PendingPurchase], TTLConfig.NONE)
    }

    private def tsUs(t: Timestamp): Long =
      t.getTime / 1000L * 1000000L + t.getNanos / 1000L

    override def handleInputRows(
        key: Long,
        rows: Iterator[Event],
        timerValues: org.apache.spark.sql.streaming.TimerValues
    ): Iterator[AsOfRow] = {
      var timers: Set[Long] = {
        val it = getHandle.listTimers(); val b = Set.newBuilder[Long]
        while (it.hasNext) b += it.next().asInstanceOf[Long]
        b.result()
      }
      rows.foreach { e =>
        val us = tsUs(e.ts)
        if (e.eventType == "purchase") {
          pending.appendValue(PendingPurchase(us, e.value))
          // fire strictly after the purchase's micros: wm(ms) >= expiry
          // implies wm(us) > p_us, so the drain below is complete
          val expiry = us / 1000L + 1L
          if (!timers.contains(expiry)) { getHandle.registerTimer(expiry); timers += expiry }
        } else {
          clicks.appendValue(ClickStamp(us))
        }
      }
      Iterator.empty
    }

    override def handleExpiredTimer(
        key: Long,
        timerValues: org.apache.spark.sql.streaming.TimerValues,
        expiredTimerInfo: org.apache.spark.sql.streaming.ExpiredTimerInfo
    ): Iterator[AsOfRow] = {
      val wmUs = timerValues.getCurrentWatermarkInMs() * 1000L
      val pend = {
        val it = pending.get(); val b = Vector.newBuilder[PendingPurchase]
        while (it.hasNext) b += it.next()
        b.result()
      }
      val (ripe, rest) = pend.partition(_.tsUs < wmUs)
      if (ripe.isEmpty) return Iterator.empty
      val cs = {
        val it = clicks.get(); val b = Vector.newBuilder[ClickStamp]
        while (it.hasNext) b += it.next()
        b.result()
      }
      if (rest.isEmpty) pending.clear() else pending.put(rest.toArray)
      // clicks below wm − lag can no longer win any argmax: prune
      val keep = cs.filter(_.tsUs >= wmUs - maxLagUs)
      if (keep.length != cs.length) {
        if (keep.isEmpty) clicks.clear() else clicks.put(keep.toArray)
      }
      ripe.sortBy(_.tsUs).iterator.map { p =>
        var best = Long.MinValue
        cs.foreach { c =>
          if (c.tsUs <= p.tsUs && p.tsUs - c.tsUs <= maxLagUs && c.tsUs > best) best = c.tsUs
        }
        AsOfRow(key, p.tsUs, p.value, if (best == Long.MinValue) None else Some(best))
      }
    }
  }

  /** As-of click attribution over a MIXED purchase+click event stream
    * (see [[AsOfClickProcessor]]): event-time watermark `watermarkDelay`,
    * RocksDB store required as for every `transformWithState` operator.
    */
  def asOfAttribution(
      events: Dataset[Event],
      maxLagUs: Long,
      watermarkDelay: String
  ): Dataset[AsOfRow] = {
    import events.sparkSession.implicits._
    import org.apache.spark.sql.streaming.TimeMode
    events
      .withWatermark("ts", watermarkDelay)
      .groupByKey(_.userId)
      .transformWithState(
        new AsOfClickProcessor(maxLagUs),
        TimeMode.EventTime(),
        OutputMode.Append()
      )
  }

  /** Pearson r of (x_t, x_{t-1}) with the reference's degenerate-path
    * contract: < 2 pairs or zero variance -> 0.0 (`lib/ccm.ex:187-213`).
    */
  private[streaming] def lagCorr(xs: Seq[Double]): Double = {
    if (xs.length < 3) return 0.0
    val a = xs.dropRight(1)
    val b = xs.drop(1)
    val n = a.length.toDouble
    val ma = a.sum / n
    val mb = b.sum / n
    var num = 0.0; var da = 0.0; var db = 0.0
    var i = 0
    while (i < a.length) {
      val x = a(i) - ma; val y = b(i) - mb
      num += x * y; da += x * x; db += y * y
      i += 1
    }
    val den = math.sqrt(da * db)
    if (den == 0.0) 0.0 else num / den
  }
}
