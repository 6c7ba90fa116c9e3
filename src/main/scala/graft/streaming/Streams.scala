package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, ListState,
  OutputMode, StatefulProcessor, TTLConfig, TimeMode, TimerValues, ValueState}
import graft.queries.U.D

/** SURVEY §2.9 — Structured Streaming implementations.
  *
  * Each transform takes any streaming (or batch — the plans are identical)
  * events DataFrame and returns the streaming query's output, shaped to
  * match its batch twin in `graft.queries.StreamTwins` (which is the
  * DuckDB-oracled, declared query). The test suite replays the events
  * table through MemoryStream micro-batches — including out-of-order
  * batches to synthesize late data — and asserts convergence to the twin.
  *
  * Scale notes: all state here is keyed (user or window bucket), so state
  * distributes across executors via the shuffle on the grouping key;
  * watermarks bound state size (30 min of event time) regardless of input
  * volume.
  */
object Streams {

  /** Runs `body` with the session's state store set to RocksDB, which the
    * transformWithState processors here require, then restores the
    * previous provider, or unsets the key if none was set. */
  def withRocksDb[T](spark: SparkSession)(body: => T): T = {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val prev = spark.conf.getAll.get(key) // explicitly set values only
    spark.conf.set(key,
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    try body finally prev match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  /** 10-min tumbling count+sum per event_type, 30-min watermark.
    * Output: (bucket epoch-s, event_type, cnt, total) = the twin's shape. */
  def tumbling(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"), sum(col("value").cast(D)).cast("double").as("total"))
      .select(col("window.start").cast("long").as("bucket"), col("event_type"),
        col("cnt"), col("total"))

  /** 30-min window sliding 10 min, count+avg of value. */
  def sliding(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "30 minutes", "10 minutes"))
      .agg(count(lit(1)).as("cnt"),
        (sum(col("value").cast(D)).cast("double") / count(lit(1))).as("avg_value"))
      .select(col("window.start").cast("long").as("win_start"), col("cnt"),
        col("avg_value"))

  /** Chained windowed aggregation — 10-min tumbling per-type counts
    * re-aggregated to hourly rollups in ONE streaming query (Spark 4
    * multiple stateful operators): the second `window()` consumes the
    * first's window struct, so the hourly state only ever sees
    * watermark-CLOSED 10-min buckets (append semantics between the two
    * operators). Both states are keyed (window, event_type) and
    * watermark-bounded. Output requires append mode — an hourly row
    * emits once its hour closes. */
  def chainedAgg(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(window(col("ts"), "10 minutes"), col("event_type"))
      .agg(count(lit(1)).as("cnt"),
        sum(col("value").cast(D)).cast("double").as("total"))
      .groupBy(window(col("window"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_buckets"), max(col("cnt")).as("max_bucket"),
        sum(col("cnt")).as("cnt"),
        sum(col("total").cast(D)).cast("double").as("total"))
      .select(col("window.start").cast("long").as("hour"), col("event_type"),
        col("n_buckets"), col("max_bucket"), col("cnt"), col("total"))

  /** Per-user session windows with a 15-minute gap. */
  def session(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .groupBy(session_window(col("ts"), "15 minutes"), col("user_id"))
      .agg(count(lit(1)).as("n_events"),
        min(col("ts").cast("long")).as("start_s"),
        max(col("ts").cast("long")).as("end_s"))
      .select(col("user_id"), col("n_events"), col("start_s"), col("end_s"))

  /** Stateful dedup: first event per (user_id, event_type) within the
    * watermark. `dropDuplicatesWithinWatermark` keeps state bounded. */
  def dedup(events: DataFrame): DataFrame =
    events.withWatermark("ts", "30 minutes")
      .dropDuplicatesWithinWatermark("user_id", "event_type")
      .select(col("user_id"), col("event_type"), col("event_id").as("first_event_id"))

  case class PurchaseEvent(user_id: Long, event_id: Long, event_type: String)
  case class PurchaseSeq(user_id: Long, event_id: Long, purchase_seq: Long)

  /** Running per-user purchase count on Spark 4's arbitrary-state API
    * (transformWithState). State is a named ValueState[Long] per user in
    * the RocksDB state store (the API requires the RocksDB provider — start
    * the stream inside `withRocksDb`), which brings incremental
    * checkpointing, TTL support and state-schema evolution at 100 TB
    * state sizes. Twin: q_stream_stateful_count. */
  class PurchaseSeqProcessor
    extends StatefulProcessor[Long, PurchaseEvent, PurchaseSeq] {
    @transient private var n: ValueState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      n = getHandle.getValueState[Long]("n", Encoders.scalaLong, TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[PurchaseEvent],
        timers: TimerValues): Iterator[PurchaseSeq] = {
      var c = if (n.exists()) n.get() else 0L
      val out = rows.toSeq.sortBy(_.event_id).map { e =>
        c += 1
        PurchaseSeq(user, e.event_id, c)
      }
      n.update(c)
      out.iterator
    }
  }

  def statefulCountTws(events: Dataset[PurchaseEvent]): Dataset[PurchaseSeq] = {
    import events.sparkSession.implicits._
    events.filter(_.event_type == "purchase")
      .groupByKey(_.user_id)
      .transformWithState(new PurchaseSeqProcessor, TimeMode.None(), OutputMode.Append())
  }

  case class HhEvent(user_id: Long, event_id: Long)
  /** One SpaceSaving ledger row: the counter this event updated (and the
    * key it displaced, −1 if none). `event_id` makes the ledger exactly
    * replayable — a consumer (or the spec) reconstructs the sketch state
    * at any point by applying rows in event order. */
  case class HhUpdate(bucket: Long, user_id: Long, cnt: Long, err: Long,
    evicted_user: Long, event_id: Long)
  case class HhCounter(cnt: Long, err: Long)

  /** Streaming heavy hitters — SpaceSaving (Metwally et al. 2005) over
    * the event stream's user activity, the STREAMING member the sketch
    * family (`q_agg_countmin`/`q_agg_heavy_hitters`/sketch_merge) ran
    * without. Unlike `statefulCountTws` (exact per-key counts, state ∝
    * distinct keys) this holds a BOUNDED `cap`-counter summary per hash
    * bucket in MapState: a tracked key increments; an untracked key
    * displaces the minimum counter and inherits its count as `err`
    * (est ∈ [true, true+err], err ≤ N_bucket/cap, and any key with true
    * frequency above that bound is guaranteed tracked — the SpaceSaving
    * invariants). Buckets parallelize the sketch across executors
    * (`user % buckets`; each key lives in exactly one bucket, so merged
    * counters never double-count) and total state is buckets·cap rows at
    * ANY stream length. Eviction scans the bucket's map for the minimum —
    * O(cap) but only on displacement; the classic stream-summary
    * linked-bucket structure is the constant-time production upgrade and
    * changes nothing about the emitted ledger. The map loads into a
    * local mirror once per (bucket, micro-batch) and writes back only
    * dirty keys, so the state store sees O(touched) I/O, not O(cap·rows).
    * The in-batch sort buffers ~1/buckets of the micro-batch in one
    * executor (the house in-batch-sort rule) — with only 8 bucket keys
    * that fan-in is the repo's most exposed instance, so for
    * production-sized batches raise `buckets`: it divides BOTH the sort
    * buffer and the per-displacement O(cap) eviction scan.
    * Rows sort by event_id inside a batch (house determinism rule), ties
    * in the minimum break by (cnt, user) — the ledger is bit-reproducible
    * on any in-order replay. */
  class HeavyHitterProcessor(cap: Int)
    extends StatefulProcessor[Long, HhEvent, HhUpdate] {
    @transient private var counters: org.apache.spark.sql.streaming.MapState[Long, HhCounter] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      counters = getHandle.getMapState[Long, HhCounter]("hh",
        Encoders.scalaLong, Encoders.product[HhCounter], TTLConfig.NONE)
    override def handleInputRows(bucket: Long, rows: Iterator[HhEvent],
        timers: TimerValues): Iterator[HhUpdate] = {
      val local = scala.collection.mutable.HashMap[Long, HhCounter]()
      counters.iterator().foreach { case (k, v) => local(k) = v }
      val dirty = scala.collection.mutable.Set[Long]()
      val removed = scala.collection.mutable.Set[Long]()
      val out = scala.collection.mutable.ArrayBuffer[HhUpdate]()
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        val u = e.user_id
        local.get(u) match {
          case Some(c) =>
            val nc = HhCounter(c.cnt + 1, c.err)
            local(u) = nc; dirty += u
            out += HhUpdate(bucket, u, nc.cnt, nc.err, -1L, e.event_id)
          case None if local.size < cap =>
            local(u) = HhCounter(1L, 0L); dirty += u
            out += HhUpdate(bucket, u, 1L, 0L, -1L, e.event_id)
          case None =>
            val (vu, vc) = local.minBy { case (k, c) => (c.cnt, k) }
            local.remove(vu); removed += vu; dirty -= vu
            val nc = HhCounter(vc.cnt + 1, vc.cnt)
            local(u) = nc; dirty += u
            out += HhUpdate(bucket, u, nc.cnt, nc.err, vu, e.event_id)
        }
      }
      removed.foreach { k => if (!local.contains(k)) counters.removeKey(k) }
      dirty.foreach { k => counters.updateValue(k, local(k)) }
      out.iterator
    }
  }

  /** SpaceSaving capacity-growth rule, IN CODE (round 12 — the
    * `Refine.cellsForCount` discipline: fixed-capacity structures derive
    * their size instead of defaulting it). The sketch guarantees every
    * counter's overestimation `err` ≤ the bucket's minimum counter ≤
    * N_bucket/cap, and any key with true frequency > N_bucket/cap is
    * guaranteed tracked (Metwally et al. 2005). So to bound error at
    * `targetErr` counts — equivalently, to guarantee tracking of every
    * key above targetErr — size cap = ⌈N_bucket/targetErr⌉: cap ∝
    * N_bucket/ε, exactly the BASELINE.md prose rule. Floor 16 keeps the
    * sketch non-degenerate on tiny buckets. StreamingSpec pins the
    * arithmetic, and its eviction-regime case checks the err bound under
    * real displacement pressure. */
  def capFor(nBucket: Long, targetErr: Long): Int =
    // clamped to Int.MaxValue (ADVICE r12): for a multi-billion-event
    // bucket at targetErr=1 the quotient exceeds Int range and a bare
    // .toInt would wrap NEGATIVE — an invalid capacity installed
    // silently. At the clamp the sketch degenerates to exact counting
    // (cap ≥ distinct keys), which is the correct limit behavior; a
    // cap that large is a sizing error the err column surfaces, not a
    // crash.
    math.min(Int.MaxValue.toLong,
      math.max(16L,
        (nBucket + math.max(1L, targetErr) - 1) / math.max(1L, targetErr)))
      .toInt

  /** SpaceSaving heavy-hitter ledger over `user_id % buckets` sharded
    * sketches of `cap` counters each. Defaults make the fixture regime
    * EXACT (distinct users per bucket < cap ⇒ no displacement ever, every
    * err = 0 — the regime the declared batch twin oracles); production
    * derives cap from the bucket volume and error target via [[capFor]]
    * and reads the err column. */
  def heavyHittersTws(events: Dataset[HhEvent], buckets: Int = 8,
      cap: Int = 512): Dataset[HhUpdate] = {
    import events.sparkSession.implicits._
    events.groupByKey(e => e.user_id % buckets)
      .transformWithState(new HeavyHitterProcessor(cap), TimeMode.None(),
        OutputMode.Append())
  }

  /** Enrich the stream with the static customer dim (stream-static join),
    * then aggregate per market segment. */
  def joinStatic(events: DataFrame, customer: DataFrame): DataFrame =
    events.join(customer, col("user_id") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("cnt"), sum(col("value").cast(D)).cast("double").as("total"))

  /** Purchases × the same user's clicks in the preceding 30 minutes, the
    * band all four stream-stream joins share, joined as `how`. Watermarks
    * on BOTH sides plus the two-sided time-range condition let Spark bound
    * the join state to the 30-minute band (clicks older than
    * purchase-watermark − 30 min are evicted) — without them
    * stream-stream join state grows forever. */
  private def clickBand(purchases: DataFrame, clicks: DataFrame,
      how: String): DataFrame = {
    val p = purchases.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("ts").as("pts"))
      .withWatermark("pts", "30 minutes")
    val c = clicks.where(col("event_type") === "click")
      .select(col("user_id").as("cuser"), col("event_id").as("click_id"),
        col("ts").as("cts"))
      .withWatermark("cts", "30 minutes")
    p.join(c, col("user_id") === col("cuser")
        && col("cts") >= col("pts") - expr("INTERVAL 30 MINUTES")
        && col("cts") <= col("pts"), how)
  }

  /** Stream-stream inner join: purchases matched to the same user's clicks
    * in the preceding 30 minutes (twin: q_stream_stream_join). */
  def streamJoin(purchases: DataFrame, clicks: DataFrame): DataFrame =
    clickBand(purchases, clicks, "inner")
      .select(col("user_id"), col("purchase_id"), col("click_id"),
        expr("(unix_micros(pts) - unix_micros(cts)) div 1000000").as("gap_s"))

  /** Stream-stream LEFT OUTER join: like [[streamJoin]], but purchases
    * with NO click in the preceding 30 minutes still emit (click_id −1).
    * Outer rows can only be decided once the watermark closes their time
    * band — Spark holds each unmatched purchase until (purchase watermark
    * − 30 min) passes it, then emits the null-padded row exactly once. The
    * same watermark+band bounds state; the only extra cost vs inner is
    * that eviction, not emission, drives the unmatched output. */
  def streamJoinOuter(purchases: DataFrame, clicks: DataFrame): DataFrame =
    clickBand(purchases, clicks, "left_outer")
      .select(col("user_id"), col("purchase_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(expr("(unix_micros(pts) - unix_micros(cts)) div 1000000"), lit(-1L))
          .as("gap_s"))

  /** Full-outer stream-stream join: both sides watermark, and eviction
    * emits each side's unmatched rows once the watermark clears its band —
    * purchase state can drop at watermark > pts (its candidate clicks are
    * all ≤ pts), click state at watermark > cts + 30 min (the last
    * purchase it could feed is cts + 30 min). Unmatched purchases emit
    * click_id −1; unmatched clicks emit purchase_id −1. Converges to the
    * q_stream_full_outer batch twin (StreamingSpec). */
  def streamJoinFullOuter(purchases: DataFrame, clicks: DataFrame): DataFrame =
    clickBand(purchases, clicks, "full_outer")
      .select(coalesce(col("user_id"), col("cuser")).as("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        coalesce(col("click_id"), lit(-1L)).as("click_id"),
        coalesce(expr("(unix_micros(pts) - unix_micros(cts)) div 1000000"), lit(-1L))
          .as("gap_s"))

  /** Right-outer stream-stream join — the mirror of [[streamJoinOuter]]
    * completing the outer matrix (left/right/full): the CLICK side is
    * preserved, so a click that fed no purchase in its following 30
    * minutes emits purchase_id −1 once the watermark clears
    * cts + 30 min (purchase state still drops at watermark > pts).
    * Converges to the q_stream_right_outer batch twin (StreamingSpec). */
  def streamJoinRightOuter(purchases: DataFrame, clicks: DataFrame): DataFrame =
    clickBand(purchases, clicks, "right_outer")
      .select(col("cuser").as("user_id"),
        coalesce(col("purchase_id"), lit(-1L)).as("purchase_id"),
        col("click_id"),
        coalesce(expr("(unix_micros(pts) - unix_micros(cts)) div 1000000"), lit(-1L))
          .as("gap_s"))

  case class TsEvent(user_id: Long, ts_us: Long)
  case class SessionOut(user_id: Long, n_events: Long, start_s: Long, end_s: Long)
  case class SessState(start_us: Long, last_us: Long, n: Long)
  case class SessStateList(sessions: List[SessState], timer_ms: Long)

  /** Event-time-timer sessionization on transformWithState — the
    * push-based alternative to session_window's relational form, and the
    * API shape real pipelines use for inactivity timeouts and delayed
    * emission. State is the per-user set of OPEN session intervals
    * (late-but-admissible events may open an older island or bridge two);
    * nothing is emitted eagerly — a session leaves the state only when
    * the WATERMARK passes its (last + gap) expiry, exactly the closure
    * rule Spark's own session_window state store applies, so out-of-order
    * input within the watermark converges to the batch twin. One live
    * timer per key, at the earliest open expiry (ceil-ms so it can never
    * fire inside the session's final sub-millisecond). */
  class SessionTimerProcessor(gapUs: Long)
    extends StatefulProcessor[Long, TsEvent, SessionOut] {
    @transient private var st: ValueState[SessStateList] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[SessStateList]("sess",
        Encoders.product[SessStateList], TTLConfig.NONE)

    private def emit(user: Long, c: SessState): SessionOut =
      SessionOut(user, c.n, c.start_us / 1000000L, c.last_us / 1000000L)

    /** register the earliest-expiry timer and persist the interval set. */
    private def park(sessions: List[SessState], oldTimer: Long): Unit = {
      if (oldTimer > 0L) getHandle.deleteTimer(oldTimer)
      if (sessions.isEmpty) st.clear()
      else {
        val expiry = (sessions.map(_.last_us).min + gapUs + 999L) / 1000L
        getHandle.registerTimer(expiry)
        st.update(SessStateList(sessions, expiry))
      }
    }

    override def handleInputRows(user: Long, rows: Iterator[TsEvent],
        timers: TimerValues): Iterator[SessionOut] = {
      val prev = if (st.exists()) st.get() else SessStateList(Nil, 0L)
      var sessions = prev.sessions
      rows.foreach { e =>
        val (near, far) = sessions.partition(s =>
          e.ts_us >= s.start_us - gapUs + 1 && e.ts_us <= s.last_us + gapUs - 1)
        // `near` is every island within gap of the event: none (new
        // island), one (extend), or two (the event bridges them)
        val merged = near.foldLeft(SessState(e.ts_us, e.ts_us, 1L)) { (a, s) =>
          SessState(math.min(a.start_us, s.start_us),
            math.max(a.last_us, s.last_us), a.n + s.n)
        }
        sessions = merged :: far
      }
      park(sessions, prev.timer_ms)
      Iterator.empty
    }

    override def handleExpiredTimer(user: Long, timers: TimerValues,
        expired: ExpiredTimerInfo): Iterator[SessionOut] = {
      if (!st.exists()) Iterator.empty
      else {
        val prev = st.get()
        val wmUs = timers.getCurrentWatermarkInMs() * 1000L
        val (closed, open) = prev.sessions.partition(_.last_us + gapUs <= wmUs)
        park(open, prev.timer_ms)
        closed.sortBy(_.start_us).map(emit(user, _)).iterator
      }
    }
  }

  /** 15-min-gap sessions via the timer processor (twin: q_stream_session). */
  def sessionTimers(events: DataFrame): Dataset[SessionOut] = {
    import events.sparkSession.implicits._
    events.withWatermark("ts", "30 minutes")
      .select(col("user_id"), unix_micros(col("ts")).as("ts_us"))
      .as[TsEvent]
      .groupByKey(_.user_id)
      .transformWithState(new SessionTimerProcessor(900000000L),
        TimeMode.EventTime(), OutputMode.Append())
  }

  case class ValObs(user_id: Long, event_id: Long, value: Double)
  case class KalmanOut(user_id: Long, event_id: Long, x_hat: Double, p_cov: Double)
  case class KalmanState(x: Double, p: Double, seeded: Boolean)

  /** Per-user running Kalman filter on transformWithState (twin:
    * q_stream_kalman): O(1) [x̂, P] state per user in the RocksDB store —
    * the streaming form of the twin's full-prefix fold, emitting the
    * filtered estimate per observation. The arithmetic is
    * Diag.kalmanScalaStep — operation-for-operation the SQL fold both
    * engines run — so in-order micro-batches converge to the twin
    * BITWISE, not approximately. */
  class KalmanProcessor
    extends StatefulProcessor[Long, ValObs, KalmanOut] {
    @transient private var st: ValueState[KalmanState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[KalmanState]("kalman",
        Encoders.product[KalmanState], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[ValObs],
        timers: TimerValues): Iterator[KalmanOut] = {
      var s = if (st.exists()) st.get()
        else KalmanState(0.0, graft.queries.Diag.KP0.toDouble, seeded = false)
      val out = rows.toSeq.sortBy(_.event_id).map { e =>
        s = if (!s.seeded) KalmanState(e.value, s.p, seeded = true)
        else {
          val (x, p) = graft.queries.Diag.kalmanScalaStep(s.x, s.p, e.value)
          KalmanState(x, p, seeded = true)
        }
        KalmanOut(user, e.event_id, s.x, s.p)
      }
      st.update(s)
      out.iterator
    }
  }

  def kalmanTws(events: Dataset[ValObs]): Dataset[KalmanOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new KalmanProcessor, TimeMode.None(), OutputMode.Append())
  }

  case class AttrEvent(user_id: Long, event_id: Long, event_type: String,
    es: Long)
  case class AttrOut(user_id: Long, event_id: Long, click_event_id: Long,
    lag_s: Long, attributed: Long)
  case class ClickState(click_id: Long, click_es: Long)

  /** Last-touch attribution on transformWithState (twin:
    * q_stream_attribution): O(1) per-user state — the most recent click
    * (id, epoch-s) — emitting one credited row per purchase, attributed
    * within the 7-day window. The −1 sentinel stands in for the batch
    * form's no-prior-click NULLs (streaming state emits concrete rows;
    * the twin uses the same sentinel so in-order equivalence is exact,
    * the streamJoinOuter convention). Clicks update state, purchases
    * read it; other event types pass through untouched. */
  class AttributionProcessor
    extends StatefulProcessor[Long, AttrEvent, AttrOut] {
    @transient private var st: ValueState[ClickState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getValueState[ClickState]("lastclick",
        Encoders.product[ClickState], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[AttrEvent],
        timers: TimerValues): Iterator[AttrOut] = {
      val out = rows.toSeq.sortBy(_.event_id).flatMap { e =>
        e.event_type match {
          case "purchase" =>
            val o = if (st.exists()) {
              val c = st.get()
              AttrOut(user, e.event_id, c.click_id, e.es - c.click_es,
                if (e.es - c.click_es <= 604800L) 1L else 0L)
            } else AttrOut(user, e.event_id, -1L, -1L, 0L)
            Some(o)
          case "click" =>
            st.update(ClickState(e.event_id, e.es)); None
          case _ => None
        }
      }
      out.iterator
    }
  }

  def attributionTws(events: Dataset[AttrEvent]): Dataset[AttrOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new AttributionProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  case class MtaOut(user_id: Long, purchase_event_id: Long,
    click_event_id: Long, k: Long, share: Double)

  /** Linear multi-touch attribution on transformWithState (twin:
    * q_stream_attribution_multi): per-user ListState of in-window
    * clicks — NOT the full click history: every incoming click first
    * evicts clicks older than the 7-day window (valid because per-user
    * events arrive in event order, the same in-order contract the
    * Kalman/last-touch processors state), so state is bounded by the
    * window's click density, not the stream's length. A purchase reads
    * the list, filters to strictly-prior in-window clicks, and emits
    * one share row per touch with the batch twin's exact rounding
    * (BigDecimal HALF_UP at 1e-6 ≡ Spark's round — the r6 convention
    * the specs pin). Purchases emit, clicks update, other types pass. */
  class MultiTouchProcessor
    extends StatefulProcessor[Long, AttrEvent, MtaOut] {
    @transient private var st: ListState[ClickState] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      st = getHandle.getListState[ClickState]("clicks",
        Encoders.product[ClickState], TTLConfig.NONE)
    override def handleInputRows(user: Long, rows: Iterator[AttrEvent],
        timers: TimerValues): Iterator[MtaOut] = {
      val out = scala.collection.mutable.ArrayBuffer.empty[MtaOut]
      rows.toSeq.sortBy(_.event_id).foreach { e =>
        e.event_type match {
          case "click" =>
            val kept = st.get().toArray
              .filter(c => e.es - c.click_es <= 604800L) :+
              ClickState(e.event_id, e.es)
            st.put(kept)
          case "purchase" =>
            val touched = st.get().toArray
              .filter(c => c.click_id < e.event_id &&
                e.es - c.click_es <= 604800L)
            val k = touched.length.toLong
            touched.foreach { c =>
              out += MtaOut(user, e.event_id, c.click_id, k,
                BigDecimal(1.0 / k)
                  .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
            }
          case _ => ()
        }
      }
      out.iterator
    }
  }

  def attributionMultiTws(events: Dataset[AttrEvent]): Dataset[MtaOut] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id)
      .transformWithState(new MultiTouchProcessor, TimeMode.None(),
        OutputMode.Append())
  }

  /** One banded MinHash signature key of one document — the row shape
    * `graft.queries.Llm.bandKeyFrame` produces (the ONE banding
    * definition q_llm_dedup_near's batch path and this stream share). */
  case class BandKeyRow(band_id: Int, bkey: String, doc_id: Long)
  case class CandPair(a: Long, b: Long)

  /** Streaming near-dup CANDIDATE emitter — the streaming twin of the
    * banding half of q_llm_dedup_near (the dedup family's one missing
    * streaming posture: an ingest pipeline that flags likely dups as
    * documents ARRIVE, instead of re-running the batch banding join).
    *
    * Keyed by band bucket (band_id + band key): per-bucket ListState of
    * the doc_ids seen in that bucket, so an arriving document emits one
    * candidate pair per prior occupant of each of its 4 band buckets —
    * exactly the pairs the batch band self-join produces, emitted
    * incrementally (the spec asserts set-equality vs the memoized batch
    * candidates on in-order replay; downstream dedups pairs across
    * bands, same as the batch `.distinct()`).
    *
    * 100 TB posture: state per bucket is that bucket's doc list, whose
    * size is a dup-group size — bounded by the banding geometry's
    * measured collision rates (noise < 4·j⁴ ≈ 3%), NOT by stream
    * length; bucket keys shard across the state store like the batch
    * join's shuffle keys, and per-arrival work is O(new × bucket
    * occupancy) — the same bucket-local fanout the batch join pays,
    * never all-pairs. The batch path's pathological-bucket caveat
    * carries over (one boilerplate text duplicated millions of times
    * piles one bucket); a bounded-window deployment passes `ttlMs`, so
    * the per-bucket doc list ages out `ttlMs` after its last WRITE
    * (Spark's value-level TTL is per-appended-entry, refreshed on put)
    * and the mega-dup bucket holds only its trailing window. What the TTL
    * loses, by construction: candidate pairs whose elder occupant aged
    * out before the newer doc arrived — cross-window pairs. With no TTL
    * the state is unbounded, the batch semantics the spec compares
    * against. */
  class BandCollideProcessor(ttlMs: Option[Long] = None)
    extends StatefulProcessor[String, BandKeyRow, CandPair] {
    @transient private var docs: ListState[Long] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit =
      docs = getHandle.getListState[Long]("docs", Encoders.scalaLong,
        ttlConfig(ttlMs))
    override def handleInputRows(bucket: String, rows: Iterator[BandKeyRow],
        timers: TimerValues): Iterator[CandPair] = {
      // in-batch doc_id order + a seen-guard: a replayed/duplicate band
      // row must not re-emit its pairs (at-least-once feeds), and pair
      // emission order is deterministic under any intra-batch shuffle
      val seen = scala.collection.mutable.LinkedHashSet(docs.get().toSeq: _*)
      val out = scala.collection.mutable.ArrayBuffer.empty[CandPair]
      rows.map(_.doc_id).toArray.distinct.sorted.foreach { dNew =>
        if (!seen.contains(dNew)) {
          seen.foreach { p =>
            out += (if (p < dNew) CandPair(p, dNew) else CandPair(dNew, p))
          }
          seen += dNew
          docs.appendValue(dNew)
        }
      }
      out.iterator
    }
  }

  /** State TTL of the TTL-able processors: none, or `ms` after the last
    * write. */
  private def ttlConfig(ttlMs: Option[Long]): TTLConfig =
    ttlMs.fold(TTLConfig.NONE)(ms => TTLConfig(java.time.Duration.ofMillis(ms)))

  /** A state TTL needs processing time; without one the stages keep
    * TimeMode.None. */
  private def timeModeFor(ttlMs: Option[Long]): TimeMode =
    if (ttlMs.isDefined) TimeMode.ProcessingTime() else TimeMode.None()

  def bandCollide(bands: Dataset[BandKeyRow],
      ttlMs: Option[Long] = None): Dataset[CandPair] = {
    import bands.sparkSession.implicits._
    bands.groupByKey(r => s"${r.band_id}|${r.bkey}")
      .transformWithState(new BandCollideProcessor(ttlMs), timeModeFor(ttlMs),
        OutputMode.Append())
  }

  /** One document arrival for the end-to-end streaming dedup pipeline:
    * its distinct trigram set plus its banded signature keys (the
    * `graft.queries.Llm.docArrivalFrame` row shape — ONE definition
    * with the batch path). */
  case class BandRef(band_id: Int, bkey: String)
  case class DocArrival(doc_id: Long, shingles: Seq[String], bands: Seq[BandRef])

  /** Row-wise [[DocArrival]] derivation from RAW text — the true ingest
    * head of the dedup pipeline (the replay specs feed precomputed
    * batch frames; a production stream maps each arriving document
    * through THIS function — stateless, per-row, no shuffle before the
    * band-collide stage). Bit-exact with the batch definitions by
    * construction: the same single-space tokenizer, the same
    * distinct-trigram shingle set, the same 16 `md5(gram|i)` draws
    * folded through the first-12-hex-digit integer fold, the same
    * 4-rows-per-band `md5(mh,mh,mh,mh)` keys — StreamingSpec asserts
    * corpus-wide equality against `Llm.docArrivalFrame`, so the two
    * heads cannot drift. Docs with fewer than 3 tokens have no trigram
    * set and no signature — None, matching the batch frames' inner
    * join. */
  /** UTF-8 binary string order — the collation Spark's `sort_array`
    * applies (UTF8String compares raw utf-8 bytes). Scala's default
    * String ordering compares UTF-16 code units, which diverges for
    * supplementary-plane characters (surrogates sort above U+E000..FFFF
    * in UTF-16 but below them in UTF-8), so the stream head sorts with
    * THIS ordering to keep the bit-exact-equality contract with the
    * batch `docArrivalFrame` on any corpus, not just ASCII. Dedup
    * semantics never depended on it (Jaccard/minhash are set/min based);
    * the ordering is the equality contract's, and StreamingSpec's. */
  private[graft] val utf8BinaryOrder: Ordering[String] =
    new Ordering[String] {
      def compare(a: String, b: String): Int = {
        val xa = a.getBytes("UTF-8"); val xb = b.getBytes("UTF-8")
        val n = math.min(xa.length, xb.length)
        var i = 0
        while (i < n) {
          val c = (xa(i) & 0xff) - (xb(i) & 0xff)
          if (c != 0) return c
          i += 1
        }
        xa.length - xb.length
      }
    }

  def docArrivalOf(docId: Long, text: String): Option[DocArrival] = {
    val tk = text.split(" ", -1)
    if (tk.length < 3) None
    else {
      val seen = scala.collection.mutable.LinkedHashSet.empty[String]
      var i = 0
      while (i + 2 < tk.length) {
        seen += s"${tk(i)} ${tk(i + 1)} ${tk(i + 2)}"
        i += 1
      }
      val grams = seen.toSeq
      def md5hex(s: String): String =
        java.security.MessageDigest.getInstance("MD5")
          .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
      val sig = (0 until 16).map { h =>
        grams.map(g =>
          java.lang.Long.parseLong(md5hex(s"$g|$h").substring(0, 12), 16)).min
      }
      val bands = (0 until 4).map { b =>
        BandRef(b, md5hex((0 until 4).map(j => sig(b * 4 + j)).mkString(",")))
      }
      Some(DocArrival(docId, grams.sorted(utf8BinaryOrder), bands))
    }
  }
  /** Internal message of the confirm stages: a doc's shingle set
    * (`is_set`) or a candidate pair in flight, `key` = the endpoint the
    * current hop routes by, `set` = the payload accumulated so far. */
  case class AttachMsg(key: Long, is_set: Boolean, a: Long, b: Long,
    set: Seq[String])
  case class ConfirmedPair(a: Long, b: Long)
  private[streaming] case class DocSet(set: Seq[String])

  /** Shared state shape of the two confirm hops: this doc's shingle set
    * (ValueState, written once — arrivals are deterministic) plus a
    * pending list for candidates that outran their set (cannot happen
    * on an in-order feed, where a candidate's endpoints arrived in
    * earlier-or-same batches; kept so the hop is correct under ANY
    * arrival order, e.g. a mid-batch crash replay). */
  private[streaming] abstract class SetHopProcessor[O](ttlMs: Option[Long])
    extends StatefulProcessor[Long, AttachMsg, O] {
    @transient protected var myset: ValueState[DocSet] = _
    @transient protected var pending: ListState[AttachMsg] = _
    override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
      myset = getHandle.getValueState[DocSet]("set",
        Encoders.product[DocSet], ttlConfig(ttlMs))
      pending = getHandle.getListState[AttachMsg]("pending",
        Encoders.product[AttachMsg], ttlConfig(ttlMs))
    }
    /** What the hop does with a candidate once the key's set is known. */
    protected def emit(m: AttachMsg, set: Seq[String]): Iterator[O]
    override def handleInputRows(key: Long, rows: Iterator[AttachMsg],
        timers: TimerValues): Iterator[O] = {
      // set rows apply BEFORE candidates: within a micro-batch the key
      // group's row order is not guaranteed, and a candidate emitted in
      // the same batch as its endpoint's arrival must see the set
      val (setsIn, cands) = rows.toSeq.partition(_.is_set)
      val out = scala.collection.mutable.ArrayBuffer.empty[O]
      if (setsIn.nonEmpty && !myset.exists()) {
        myset.update(DocSet(setsIn.head.set))
        val stashed = pending.get().toSeq
        if (stashed.nonEmpty) {
          stashed.foreach(m => out ++= emit(m, setsIn.head.set))
          pending.clear()
        }
      }
      if (myset.exists()) {
        val set = myset.get().set
        cands.foreach(m => out ++= emit(m, set))
      } else cands.foreach(pending.appendValue)
      out.iterator
    }
  }

  /** Hop 1 (keyed by the pair's LOWER endpoint `a`): attach a's shingle
    * set to the passing candidate and re-key it to `b`. */
  class SetAttachProcessor(ttlMs: Option[Long] = None)
    extends SetHopProcessor[AttachMsg](ttlMs) {
    protected def emit(m: AttachMsg, set: Seq[String]): Iterator[AttachMsg] =
      Iterator(m.copy(key = m.b, set = set))
  }

  /** Hop 2 (keyed by `b`): the candidate arrives carrying a's set; b's
    * set is in state — compute the EXACT trigram Jaccard and emit the
    * pair iff it clears the batch confirm threshold. */
  class SetConfirmProcessor(thresh: Double, ttlMs: Option[Long] = None)
    extends SetHopProcessor[ConfirmedPair](ttlMs) {
    protected def emit(m: AttachMsg, set: Seq[String]): Iterator[ConfirmedPair] = {
      val sa = m.set.toSet
      val sb = set.toSet
      val i = (sa & sb).size
      val j = i.toDouble / (sa.size + sb.size - i)
      if (j >= thresh) Iterator(ConfirmedPair(m.a, m.b)) else Iterator.empty
    }
  }

  /** End-to-end STREAMING near-dup dedup — the round-10 completion of
    * the r9 candidate emitter: documents arrive once (trigram set +
    * band keys), banding collides incrementally, and the exact-Jaccard
    * CONFIRM now runs online too, so the stream emits CONFIRMED dup
    * pairs (≥ `thresh`), not just candidates. Three chained
    * transformWithState stages in ONE append-mode query (Spark 4
    * multiple-stateful-operators over the RocksDB store):
    *
    *   1. band-collide keyed by (band, key) bucket — state: bucket doc
    *      list (the r9 processor, unchanged);
    *   2. set-attach keyed by the pair's lower endpoint — state: that
    *      doc's shingle set, attached to the candidate in flight;
    *   3. confirm keyed by the higher endpoint — state: its shingle
    *      set; computes exact trigram Jaccard and filters at `thresh`.
    *
    * Emission is deterministic on an in-order feed: a candidate (a, b)
    * is emitted by stage 1 in b's arrival batch, and both endpoints'
    * sets reached stages 2/3 in earlier-or-same batches (same
    * micro-batch traverses all three operators), so every confirmed
    * pair surfaces in the batch its later endpoint arrived — the
    * ingest-latency property a streaming dedup exists for. A pair
    * colliding in several bands confirms once per collision;
    * downstream dedups pairs exactly like the batch `.distinct()`
    * (at-least-once output, the r9 convention).
    *
    * 100 TB state posture: stages 2/3 each hold one shingle set per
    * document — 2× the corpus's distinct-gram payload total (a
    * deployment can fold both hops onto one shared doc-keyed store; the
    * two-hop form keeps each stage a pure keyed operator). That is the
    * honest price of EXACT online confirm; the cheap screen stays stage
    * 1, whose per-bucket lists are dup-group-sized, and the candidate
    * traffic the set stages see is O(n·dup-rate), never all-pairs.
    *
    * TTL'd DEPLOYMENT form: with `ttlMs`, every state ages out `ttlMs`
    * after its last write — stage 1's bucket doc lists and both set
    * hops' per-doc shingle sets + pending lists — and all three stages
    * run under TimeMode.ProcessingTime (a TTL's required time mode).
    * Semantics vs the unbounded form, by construction: a pair is
    * confirmed iff BOTH endpoints arrived within one `ttlMs` window of
    * each other — stage 1 loses cross-window band collisions (the elder
    * occupant aged out of the bucket), and a candidate that somehow
    * outlives its endpoints' sets is dropped when its pending stash ages
    * out rather than held forever. Within a window (e.g. an in-order
    * replay that drains faster than the TTL) the output is set-equal to
    * the unbounded form — StreamingSpec asserts both sides: equality to
    * the batch confirm under a generous TTL, and the constructed
    * cross-window pair loss under a tight one. This is the bounded-state
    * posture a 100 TB ingest actually deploys: state is the trailing
    * window's documents, not the corpus.
    *
    * Driving caveat (measured, BASELINE.md): a ProcessingTime-TimeMode
    * query never quiesces — TTL cleanup keeps scheduling micro-batches,
    * so `processAllAvailable`/`Trigger.AvailableNow` spin forever; drive
    * a TTL'd stream's drains with `Trigger.Once` over a checkpointed file
    * source. */
  def dedupConfirm(docs: Dataset[DocArrival], thresh: Double = 0.8,
      ttlMs: Option[Long] = None): Dataset[ConfirmedPair] = {
    import docs.sparkSession.implicits._
    val bands = docs.flatMap(d =>
      d.bands.map(b => BandKeyRow(b.band_id, b.bkey, d.doc_id)))
    val cands = bandCollide(bands, ttlMs)
    val sets = docs.map(d =>
      AttachMsg(d.doc_id, is_set = true, d.doc_id, -1L, d.shingles))
    val half = cands.map(c =>
      AttachMsg(c.a, is_set = false, c.a, c.b, Seq.empty))
    val hop1 = sets.union(half).groupByKey(_.key)
      .transformWithState(new SetAttachProcessor(ttlMs), timeModeFor(ttlMs),
        OutputMode.Append())
    sets.union(hop1).groupByKey(_.key)
      .transformWithState(new SetConfirmProcessor(thresh, ttlMs),
        timeModeFor(ttlMs), OutputMode.Append())
  }
}
