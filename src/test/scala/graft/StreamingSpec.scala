package graft

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.commons.io.FileUtils
import graft.streaming.Streams

/** Replayed event row — top-level so Spark can generate its Encoder
  * (inner classes lack the outer-scope instance Catalyst needs). */
case class Ev(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
  event_type: String, value: Double, props: String)

/** SURVEY §5.4 — streaming queries must converge to their batch twins.
  *
  * The events table is replayed through MemoryStream micro-batches; for
  * late-data semantics the batches are fed out of order. Each streaming
  * result (complete mode final state, or accumulated append output) must
  * equal the batch twin computed on the same rows — the twin being the
  * DuckDB-oracled declared query.
  */
class StreamingSpec extends SparkSpec {

  private lazy val eventsDf: DataFrame =
    Tables(spark, sf, "events").select("event_id", "ts", "user_id", "event_type", "value", "props")

  private lazy val allEvents: Seq[Ev] = {
    import spark.implicits._
    // Replay in event_id order (the generator co-orders event_id and ts;
    // perfbench's stream replays feed the same order). The explicit
    // orderBy pins the arrival order these convergence cases are
    // specified against; before r14 it was implicit in the parquet file's
    // natural time-sorted order, which any upstream repartition would
    // silently interleave.
    eventsDf.orderBy("event_id").as[Ev].collect().toSeq
  }

  /** Run a streaming transform over the events fed in `chunks`, collecting
    * the final result from a memory sink (complete mode). */
  private def runComplete(name: String, chunks: Seq[Seq[Ev]])(f: DataFrame => DataFrame): Seq[Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = f(mem.toDF()).writeStream.format("memory")
      .queryName(name).outputMode("complete").start()
    chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    q.stop()
    spark.table(name).collect().toSeq
  }

  private def runAppend(name: String, chunks: Seq[Seq[Ev]])(f: DataFrame => DataFrame): Seq[Row] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = f(mem.toDF()).writeStream.format("memory")
      .queryName(name).outputMode("append").start()
    chunks.foreach { c => mem.addData(c); q.processAllAvailable() }
    q.stop()
    spark.table(name).collect().toSeq
  }

  private def chunksInOrder: Seq[Seq[Ev]] = allEvents.grouped(200).toSeq

  /** Maximal disorder: micro-batches arrive newest-first. Complete-mode
    * aggregations keep all state (watermarks never evict in complete
    * mode), so they must still converge to the batch twin exactly. */
  private def chunksReversed: Seq[Seq[Ev]] = chunksInOrder.reverse

  /** Intra-batch disorder: chunks arrive in order but rows within each
    * chunk arrive newest-first. The watermark only advances at batch
    * boundaries, so this disorder never drops rows — even for session
    * windows, whose state operator filters late input in every output
    * mode (unlike plain aggregations). */
  private def chunksIntraReversed: Seq[Seq[Ev]] = chunksInOrder.map(_.reverse)

  private def sortedSet(rows: Seq[Row]): Seq[String] =
    rows.map(_.toString).sorted

  test("tumbling window stream converges to batch twin") {
    val got = runComplete("t_tumbling", chunksInOrder)(Streams.tumbling)
    val want = queries.StreamTwins.queries("q_stream_tumbling")(spark, sf).collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("sliding window stream converges to batch twin") {
    val got = runComplete("t_sliding", chunksInOrder)(Streams.sliding)
    val want = queries.StreamTwins.queries("q_stream_sliding")(spark, sf)
      .select("win_start", "cnt", "avg_value").collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("session windows (15-min gap) match the batch islands computation") {
    val got = runComplete("t_session", chunksInOrder)(Streams.session)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = queries.StreamTwins.queries("q_stream_session")(spark, sf)
      .select("user_id", "n_events", "start_s", "end_s").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.sorted == want.sorted)
  }

  test("stateful purchase count stream equals batch running count") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState requires the RocksDB state store provider
    Streams.withRocksDb(spark) {
      val mem = MemoryStream[Ev]
      val ds = mem.toDS().map(e => Streams.PurchaseEvent(e.user_id, e.event_id, e.event_type))
      val q = Streams.statefulCountTws(ds).toDF().writeStream.format("memory")
        .queryName("t_stateful").outputMode("append").start()
      chunksInOrder.foreach { c => mem.addData(c); q.processAllAvailable() }
      q.stop()
      val got = spark.table("t_stateful")
        .select("user_id", "event_id", "purchase_seq").collect().toSeq
      val want = queries.StreamTwins.queries("q_stream_stateful_count")(spark, sf)
        .select("user_id", "event_id", "purchase_seq").collect().toSeq
      assert(sortedSet(got) == sortedSet(want))
    }
  }

  test("stream-static join converges to batch twin") {
    val cust = Tables(spark, sf, "customer")
    val got = runComplete("t_joinstatic", chunksInOrder)(df => Streams.joinStatic(df, cust))
    val want = queries.StreamTwins.queries("q_stream_join_static")(spark, sf).collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("every complete-mode stream converges to its twin under out-of-order batches") {
    val cust = Tables(spark, sf, "customer")
    val cases: Seq[(String, DataFrame => DataFrame, () => Seq[Row])] = Seq(
      ("o_tumbling", Streams.tumbling,
        () => queries.StreamTwins.queries("q_stream_tumbling")(spark, sf).collect().toSeq),
      ("o_sliding", Streams.sliding,
        () => queries.StreamTwins.queries("q_stream_sliding")(spark, sf)
          .select("win_start", "cnt", "avg_value").collect().toSeq),
      ("o_joinstatic", df => Streams.joinStatic(df, cust),
        () => queries.StreamTwins.queries("q_stream_join_static")(spark, sf).collect().toSeq))
    cases.foreach { case (name, f, twin) =>
      val got = runComplete(name, chunksReversed)(f)
      assert(sortedSet(got) == sortedSet(twin()), s"$name diverged under disorder")
    }
    // session windows late-filter input in every output mode, so cross-batch
    // reversal legitimately drops rows; intra-batch disorder must converge.
    val gotSession = runComplete("o_session", chunksIntraReversed)(Streams.session)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val wantSession = queries.StreamTwins.queries("q_stream_session")(spark, sf)
      .select("user_id", "n_events", "start_s", "end_s").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(gotSession.sorted == wantSession.sorted, "o_session diverged under disorder")
  }

  test("session twin matches streaming at sf0.1 (sub-second gap boundaries)") {
    // sf0.1 contains a 900.95s gap whose floored-second diff is exactly
    // 900 — the case where a seconds-floored twin would merge sessions
    // that session_window splits. The µs-timeline twin must agree.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val big = Tables(spark, "/root/testdata/sf0.1", "events")
      .select("event_id", "ts", "user_id", "event_type", "value", "props")
      .orderBy("event_id") // arrival order — see allEvents
      .as[Ev].collect().toSeq
    val mem = MemoryStream[Ev]
    val q = Streams.session(mem.toDF()).writeStream.format("memory")
      .queryName("t_session_sf01").outputMode("complete").start()
    big.grouped(10000).foreach { c => mem.addData(c); q.processAllAvailable() }
    q.stop()
    val got = spark.table("t_session_sf01").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val want = queries.StreamTwins.queries("q_stream_session")(spark, "/root/testdata/sf0.1")
      .select("user_id", "n_events", "start_s", "end_s").collect().toSeq
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    assert(got.sorted == want.sorted)
  }

  test("withRocksDb sets RocksDB for its body and restores the previous provider") {
    val key = "spark.sql.streaming.stateStore.providerClass"
    val hdfs = "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider"
    // a value set before the call comes back after it
    spark.conf.set(key, hdfs)
    Streams.withRocksDb(spark)(assert(spark.conf.get(key).contains("RocksDB")))
    assert(spark.conf.get(key) === hdfs)
    // an unset key is unset again, also when the body throws
    spark.conf.unset(key)
    intercept[IllegalStateException] {
      Streams.withRocksDb(spark) {
        assert(spark.conf.get(key).contains("RocksDB"))
        throw new IllegalStateException("body failed")
      }
    }
    assert(spark.conf.getAll.get(key) === None)
  }

  test("heavy hitters (SpaceSaving) exact regime converges to the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      val mem = MemoryStream[Ev]
      val ds = mem.toDS().map(e => Streams.HhEvent(e.user_id, e.event_id))
      val q = Streams.heavyHittersTws(ds).toDF().writeStream.format("memory")
        .queryName("t_hh").outputMode("append").start()
      chunksInOrder.foreach { c => mem.addData(c); q.processAllAvailable() }
      q.stop()
      val ledger = spark.table("t_hh").collect()
      // fixture regime: distinct users per bucket < cap ⇒ no displacement
      assert(ledger.forall(_.getLong(4) == -1L), "unexpected eviction at fixture scale")
      assert(ledger.forall(_.getLong(3) == 0L), "nonzero err without eviction")
      // every event produced exactly one ledger row
      assert(ledger.length == allEvents.length)
      // final counter per user = its max cnt (per-user cnt strictly increases)
      val finalCnt = ledger.groupBy(_.getLong(1))
        .map { case (u, rs) => (u, rs.map(_.getLong(2)).max) }
      val got = finalCnt.toSeq.sortBy { case (u, c) => (-c, u) }.take(20)
        .map { case (u, c) => (u, c, 0L) }
      val want = queries.StreamTwins.queries("q_stream_heavy_hitters")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
      assert(got == want, "SpaceSaving exact-regime top-20 diverges from the twin")
    }
  }

  test("heavy hitters eviction regime: ledger replays to a reference SpaceSaving") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      // constructed skew: users 1..3 dominate, 4..20 are background noise —
      // with cap=4 per bucket the background keys churn through the
      // displaced slot while the heavy keys stay tracked (the guarantee)
      val evs = (1L to 400L).map { i =>
        val u = if (i % 4 != 0) 1L + (i % 3) else 4L + (i % 17)
        Ev(i, new java.sql.Timestamp(i * 1000), u, "click", 1.0, "")
      }
      val mem = MemoryStream[Ev]
      val ds = mem.toDS().map(e => Streams.HhEvent(e.user_id, e.event_id))
      val q = Streams.heavyHittersTws(ds, buckets = 2, cap = 4).toDF()
        .writeStream.format("memory")
        .queryName("t_hh_ev").outputMode("append").start()
      evs.grouped(37).foreach { c => mem.addData(c); q.processAllAvailable() }
      q.stop()
      val ledger = spark.table("t_hh_ev").collect()
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
          r.getLong(4), r.getLong(5))).sortBy(_._6)
      assert(ledger.exists(_._5 != -1L), "constructed skew produced no eviction")
      // reference SpaceSaving, replayed in plain Scala event order
      val ref = Seq(0L, 1L).map(b => b ->
        scala.collection.mutable.HashMap[Long, (Long, Long)]()).toMap
      evs.sortBy(_.event_id).foreach { e =>
        val m = ref(e.user_id % 2)
        m.get(e.user_id) match {
          case Some((c, er)) => m(e.user_id) = (c + 1, er)
          case None if m.size < 4 => m(e.user_id) = (1L, 0L)
          case None =>
            val (vu, (vc, _)) = m.minBy { case (k, (c, _)) => (c, k) }
            m.remove(vu); m(e.user_id) = (vc + 1, vc)
        }
      }
      // ledger replay reconstructs the reference state exactly
      val replayed = Seq(0L, 1L).map(b => b ->
        scala.collection.mutable.HashMap[Long, (Long, Long)]()).toMap
      ledger.foreach { case (b, u, c, er, ev, _) =>
        if (ev != -1L) replayed(b).remove(ev)
        replayed(b)(u) = (c, er)
      }
      assert(replayed(0L).toMap == ref(0L).toMap && replayed(1L).toMap == ref(1L).toMap,
        "ledger replay diverges from reference SpaceSaving")
      // SpaceSaving invariants vs true counts: est ∈ [true, true+err],
      // and every key with true count > N_bucket/cap is tracked
      val truth = evs.groupBy(_.user_id).map { case (u, g) => (u, g.size.toLong) }
      (0L to 1L).foreach { b =>
        val nb = evs.count(_.user_id % 2 == b).toLong
        replayed(b).foreach { case (u, (est, err)) =>
          val t = truth.getOrElse(u, 0L)
          assert(est >= t && est - t <= err, s"est $est outside [t, t+err] for $u")
        }
        truth.filter { case (u, t) => u % 2 == b && t > nb / 4 }.keys.foreach { u =>
          assert(replayed(b).contains(u), s"guaranteed heavy key $u not tracked")
        }
      }
    }
  }

  test("capFor derives SpaceSaving capacity from bucket volume and error target") {
    // cap = ceil(nBucket/targetErr) — the err ≤ targetErr guarantee
    assert(Streams.capFor(75000, 1600) == 47)
    assert(Streams.capFor(1000000, 1000) == 1000)
    // ceiling, not floor: one extra counter rather than a broken bound
    assert(Streams.capFor(1001, 10) == 101)
    // floor 16 keeps tiny buckets non-degenerate; zero targets clamp
    assert(Streams.capFor(100, 1000) == 16)
    assert(Streams.capFor(0, 0) == 16)
    // the bound the rule exists for: nBucket/capFor(nBucket, t) ≤ t
    for ((nb, te) <- Seq((75000L, 1600L), (123457L, 77L), (999L, 1L)))
      assert(nb / Streams.capFor(nb, te) <= te,
        s"bound broken for nBucket=$nb targetErr=$te")
  }

  test("heavy hitters survives a checkpointed restart: MapState carries") {
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    Streams.withRocksDb(spark) {
      val base = scratchDir("hhrestart")
      import spark.implicits._
      val src = eventsDf.select(col("user_id"), col("event_id"))
      val med = src.agg(expr("percentile_approx(event_id, 0.5)")).first().getLong(0)
      src.where(col("event_id") <= med).coalesce(1).write.parquet(s"$base/src")
      def drain(): Unit = {
        val stream = spark.readStream.schema(src.schema).parquet(s"$base/src")
          .as[Streams.HhEvent]
        val q = Streams.heavyHittersTws(stream).toDF().writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ck")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(180000), "heavy-hitter drain did not terminate")
      }
      drain()
      src.where(col("event_id") > med).coalesce(1).write.mode("append")
        .parquet(s"$base/src")
      drain()
      val ledger = spark.read.parquet(s"$base/out")
      // MapState carried: a user counted before the restart keeps
      // accumulating after it, so its max cnt equals its full event count
      val got = ledger.groupBy("user_id").agg(max("cnt").as("cnt"))
        .orderBy(col("cnt").desc, col("user_id")).limit(20)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      val want = queries.StreamTwins.queries("q_stream_heavy_hitters")(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got == want, "restarted sketch diverges from the batch twin")
      // replayed drain with no new input: nothing re-emitted
      val before = ledger.count()
      drain()
      assert(spark.read.parquet(s"$base/out").count() === before,
        "empty restart re-emitted ledger rows")
    }
  }

  test("transformWithState last-touch attribution converges to the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState needs the multi-column-family store (RocksDB)
    Streams.withRocksDb(spark) {
      val mem = MemoryStream[Ev]
      // epochS ≡ floor-seconds: getTime is epoch ms, / 1000 floors for
      // the positive timestamps the generator emits
      val ds = mem.toDS().map(e =>
        Streams.AttrEvent(e.user_id, e.event_id, e.event_type, e.ts.getTime / 1000))
      val q = Streams.attributionTws(ds).toDF().writeStream.format("memory")
        .queryName("t_attr").outputMode("append").start()
      // in-order arrival: the carry-forward is order-sensitive by
      // definition (the same reason the Kalman twin feeds in order)
      chunksInOrder.foreach { c => mem.addData(c); q.processAllAvailable() }
      q.stop()
      val cols = Seq("user_id", "event_id", "click_event_id", "lag_s", "attributed")
      val got = spark.table("t_attr").select(cols.head, cols.tail: _*).collect().toSeq
      val want = queries.StreamTwins.queries("q_stream_attribution")(spark, sf)
        .select(cols.head, cols.tail: _*).collect().toSeq
      assert(got.nonEmpty && sortedSet(got) == sortedSet(want))
    }
  }

  test("transformWithState multi-touch attribution converges to the batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      val mem = MemoryStream[Ev]
      val ds = mem.toDS().map(e =>
        Streams.AttrEvent(e.user_id, e.event_id, e.event_type, e.ts.getTime / 1000))
      val q = Streams.attributionMultiTws(ds).toDF().writeStream
        .format("memory").queryName("t_mta").outputMode("append").start()
      chunksInOrder.foreach { c => mem.addData(c); q.processAllAvailable() }
      q.stop()
      val cols = Seq("user_id", "purchase_event_id", "click_event_id", "k", "share")
      val got = spark.table("t_mta").select(cols.head, cols.tail: _*).collect().toSeq
      val want = queries.StreamTwins.queries("q_stream_attribution_multi")(spark, sf)
        .select(cols.head, cols.tail: _*).collect().toSeq
      assert(got.nonEmpty && sortedSet(got) == sortedSet(want))
      // the share rows must actually split credit somewhere (k > 1)
      assert(got.exists(_.getLong(3) > 1L))
    }
  }

  test("transformWithState Kalman filter converges to the batch twin bitwise") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      val mem = MemoryStream[Ev]
      val ds = mem.toDS().map(e => Streams.ValObs(e.user_id, e.event_id, e.value))
      val q = Streams.kalmanTws(ds).toDF().writeStream.format("memory")
        .queryName("t_kalman").outputMode("append").start()
      chunksInOrder.foreach { c => mem.addData(c); q.processAllAvailable() }
      q.stop()
      val got = spark.table("t_kalman")
        .select("user_id", "event_id", "x_hat", "p_cov").collect().toSeq
      // in-order arrival ⇒ the O(1)-state stream must reproduce the
      // twin's full-prefix fold EXACTLY (same IEEE ops in the same
      // order), not within a tolerance
      val want = queries.StreamTwins.queries("q_stream_kalman")(spark, sf)
        .select("user_id", "event_id", "x_hat", "p_cov").collect().toSeq
      assert(sortedSet(got) == sortedSet(want))
    }
  }

  test("stream-stream join (purchases × clicks, 30-min band) converges to batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[Ev]
    val cMem = MemoryStream[Ev]
    val q = Streams.streamJoin(pMem.toDF(), cMem.toDF())
      .writeStream.format("memory").queryName("t_ssjoin").outputMode("append").start()
    chunksInOrder.foreach { ch =>
      pMem.addData(ch); cMem.addData(ch); q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_ssjoin")
      .select("user_id", "purchase_id", "click_id", "gap_s").collect().toSeq
    val want = queries.StreamTwins.queries("q_stream_stream_join")(spark, sf)
      .select("user_id", "purchase_id", "click_id", "gap_s").collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("chained windowed aggregation (two stateful ops) converges to batch twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = Streams.chainedAgg(mem.toDF()).writeStream.format("memory")
      .queryName("t_chained").outputMode("append").start()
    chunksInOrder.foreach { c => mem.addData(c); q.processAllAvailable() }
    // append mode: an hourly row emits only when the watermark clears its
    // hour END. Far-future sentinels (distinct event_type, excluded from
    // the comparison) push the watermark past every real hour; each
    // sentinel's own windows stay open forever, so no sentinel row leaks.
    val far = allEvents.map(_.ts.getTime).max
    Seq(3600000L, 7200000L, 10800000L).foreach { off =>
      mem.addData(Seq(Ev(-1L - off, new java.sql.Timestamp(far + off),
        -1L, "zz_flush", 0.0, "{}")))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_chained")
      .where(col("event_type") =!= "zz_flush").collect().toSeq
    val want = queries.StreamTwins.queries("q_stream_chained_agg")(spark, sf)
      .collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("stream-stream LEFT OUTER join emits unmatched purchases after watermark eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[Ev]
    val cMem = MemoryStream[Ev]
    val q = Streams.streamJoinOuter(pMem.toDF(), cMem.toDF())
      .writeStream.format("memory").queryName("t_ssouter").outputMode("append").start()
    chunksInOrder.foreach { ch =>
      pMem.addData(ch); cMem.addData(ch); q.processAllAvailable()
    }
    // outer rows emit only when the watermark closes their band: push it
    // past the data with far-future sentinels on BOTH sides (user −1 is
    // excluded from the comparison; an unmatched-purchase sentinel row is
    // itself withheld until an even later watermark, hence two pushes)
    val far = allEvents.map(_.ts.getTime).max
    def sentinel(id: Long, tp: String, off: Long) =
      Ev(id, new java.sql.Timestamp(far + off), -1L, tp, 0.0, "{}")
    Seq(3600000L, 7200000L).foreach { off =>
      pMem.addData(Seq(sentinel(-1L - off, "purchase", off)))
      cMem.addData(Seq(sentinel(-2L - off, "click", off)))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_ssouter").where(col("user_id") =!= -1L)
      .select("user_id", "purchase_id", "click_id", "gap_s").collect().toSeq
    val want = queries.StreamTwins.queries("q_stream_outer_join")(spark, sf)
      .select("user_id", "purchase_id", "click_id", "gap_s").collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("stream-stream RIGHT OUTER join emits unmatched clicks after watermark eviction") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[Ev]
    val cMem = MemoryStream[Ev]
    val q = Streams.streamJoinRightOuter(pMem.toDF(), cMem.toDF())
      .writeStream.format("memory").queryName("t_ssrouter").outputMode("append").start()
    chunksInOrder.foreach { ch =>
      pMem.addData(ch); cMem.addData(ch); q.processAllAvailable()
    }
    // same two-push watermark flush as the left-outer test: an
    // unmatched-click row is withheld until the watermark clears
    // cts + 30 min, one band later than the matched rows
    val far = allEvents.map(_.ts.getTime).max
    def sentinel(id: Long, tp: String, off: Long) =
      Ev(id, new java.sql.Timestamp(far + off), -1L, tp, 0.0, "{}")
    Seq(3600000L, 7200000L).foreach { off =>
      pMem.addData(Seq(sentinel(-1L - off, "purchase", off)))
      cMem.addData(Seq(sentinel(-2L - off, "click", off)))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_ssrouter").where(col("user_id") =!= -1L)
      .select("user_id", "purchase_id", "click_id", "gap_s").collect().toSeq
    val want = queries.StreamTwins.queries("q_stream_right_outer")(spark, sf)
      .select("user_id", "purchase_id", "click_id", "gap_s").collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("stream-stream FULL OUTER join evicts unmatched rows from both sides") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[Ev]
    val cMem = MemoryStream[Ev]
    val q = Streams.streamJoinFullOuter(pMem.toDF(), cMem.toDF())
      .writeStream.format("memory").queryName("t_ssfull").outputMode("append").start()
    chunksInOrder.foreach { ch =>
      pMem.addData(ch); cMem.addData(ch); q.processAllAvailable()
    }
    // both sides' unmatched rows wait on watermark eviction — the click
    // side holds longest (cts + 30 min) — so push the watermark well past
    // the data with far-future sentinels (user −1, excluded below)
    val far = allEvents.map(_.ts.getTime).max
    def sentinel(id: Long, tp: String, off: Long) =
      Ev(id, new java.sql.Timestamp(far + off), -1L, tp, 0.0, "{}")
    Seq(3600000L, 7200000L, 10800000L).foreach { off =>
      pMem.addData(Seq(sentinel(-1L - off, "purchase", off)))
      cMem.addData(Seq(sentinel(-2L - off, "click", off)))
      q.processAllAvailable()
    }
    q.stop()
    val got = spark.table("t_ssfull").where(col("user_id") =!= -1L)
      .select("user_id", "purchase_id", "click_id", "gap_s").collect().toSeq
    val want = queries.StreamTwins.queries("q_stream_full_outer")(spark, sf)
      .select("user_id", "purchase_id", "click_id", "gap_s").collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
    // the full-outer result must contain unmatched rows from BOTH sides
    assert(want.exists(_.getLong(2) == -1L), "no unmatched purchases in twin")
    assert(want.exists(_.getLong(1) == -1L), "no unmatched clicks in twin")
  }

  test("event-time-timer sessionization (transformWithState) matches the session twin") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      val mem = MemoryStream[Ev]
      val q = Streams.sessionTimers(mem.toDF()).toDF().writeStream.format("memory")
        .queryName("t_sesstimer").outputMode("append").start()
      chunksInOrder.foreach { c => mem.addData(c); q.processAllAvailable() }
      // close the tail sessions: sentinel events (user −1) advance the
      // watermark past every live timer; two pushes because the watermark
      // computed from batch N applies to batch N+1's timer sweep
      val far = allEvents.map(_.ts.getTime).max
      Seq(3600000L, 7200000L).foreach { off =>
        mem.addData(Seq(Ev(-1L - off, new java.sql.Timestamp(far + off), -1L, "click", 0.0, "{}")))
        q.processAllAvailable()
      }
      q.stop()
      val got = spark.table("t_sesstimer").where(col("user_id") =!= -1L)
        .select("user_id", "n_events", "start_s", "end_s").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      val want = queries.StreamTwins.queries("q_stream_session")(spark, sf)
        .select("user_id", "n_events", "start_s", "end_s").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)))
      assert(got.sorted == want.sorted)
    }
  }

  test("timer sessionization: late-but-admissible event merges without moving boundaries back") {
    // watermark 30 min > gap 15 min, so an event 0-30 min old is ADMITTED
    // late: t=0,14m arrive, then t=10m late, then t=26m. 26m−14m < gap ⇒
    // all ONE session; a processor that assigned last_us=10m on the late
    // row would wrongly split at 26m (26−10 ≥ gap).
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      def ev(id: Long, user: Long, minute: Long): Ev =
        Ev(id, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"), user, "click", 1.0, "{}")
      val mem = MemoryStream[Ev]
      val q = Streams.sessionTimers(mem.toDF()).toDF().writeStream.format("memory")
        .queryName("t_sesslate").outputMode("append").start()
      mem.addData(Seq(ev(1, 1, 0), ev(2, 1, 14))); q.processAllAvailable()
      mem.addData(Seq(ev(3, 1, 10))); q.processAllAvailable()   // late, admissible
      mem.addData(Seq(ev(4, 1, 26))); q.processAllAvailable()   // must MERGE
      // flush: sentinel user advances the watermark past the live timer
      Seq(2000L, 4000L).foreach { m =>
        mem.addData(Seq(ev(-m, -1L, m))); q.processAllAvailable()
      }
      q.stop()
      val got = spark.table("t_sesslate").where(col("user_id") === 1L)
        .select("n_events", "start_s", "end_s").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
      assert(got === Seq((4L, t0, t0 + 26 * 60)), s"expected one merged session, got $got")
    }
  }

  test("timer sessionization: a late event bridges into an OLDER island, not the open one") {
    // t=0 and t=20m arrive first (two islands once the gap is 15m); the
    // late t=4m must extend the [0,0] island to [0,4m] — an eager
    // processor that merged every admissible late event into the newest
    // session would emit overlapping sessions [0,0] and [4m,20m].
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      def ev(id: Long, user: Long, minute: Long): Ev =
        Ev(id, java.sql.Timestamp.valueOf(
          f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"), user, "click", 1.0, "{}")
      val mem = MemoryStream[Ev]
      val q = Streams.sessionTimers(mem.toDF()).toDF().writeStream.format("memory")
        .queryName("t_sessisland").outputMode("append").start()
      mem.addData(Seq(ev(1, 1, 0), ev(2, 1, 20))); q.processAllAvailable()
      mem.addData(Seq(ev(3, 1, 4))); q.processAllAvailable() // late, older island
      Seq(2000L, 4000L).foreach { m =>
        mem.addData(Seq(ev(-m, -1L, m))); q.processAllAvailable()
      }
      q.stop()
      val got = spark.table("t_sessisland").where(col("user_id") === 1L)
        .select("n_events", "start_s", "end_s").collect().toSeq
        .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
      val t0 = java.sql.Timestamp.valueOf("2024-01-01 00:00:00").getTime / 1000
      assert(got === Seq((1L, t0 + 20 * 60, t0 + 20 * 60), (2L, t0, t0 + 4 * 60)).sorted,
        s"expected islands [0,4m](2) and [20m](1), got $got")
    }
  }

  test("dedup covers every (user, type) pair; re-emission only past the watermark") {
    // dropDuplicatesWithinWatermark guarantees dedup *within* the 30-min
    // watermark and may re-emit a key once its state expires (events span
    // 30 days), so the streaming output is a multiset whose distinct pairs
    // equal the global batch dedup exactly.
    val got = runAppend("t_dedup_o", chunksInOrder)(Streams.dedup)
    val pairs = got.map(r => (r.getLong(0), r.getString(1)))
    val wantPairs = queries.StreamTwins.queries("q_stream_dedup")(spark, sf)
      .select("user_id", "event_type").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pairs.toSet == wantPairs)
  }

  test("dedup with shuffled batches drops late data: distinct pairs still a subset") {
    val shuffled = {
      val cs = chunksInOrder
      // feed out of order to synthesize disorder (raw feed is ascending);
      // the head chunk arrives past the watermark and may be dropped.
      if (cs.length > 2) cs.tail :+ cs.head else cs
    }
    val got = runAppend("t_dedup_s", shuffled)(Streams.dedup)
    val pairs = got.map(r => (r.getLong(0), r.getString(1)))
    val wantPairs = queries.StreamTwins.queries("q_stream_dedup")(spark, sf)
      .select("user_id", "event_type").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(pairs.toSet.subsetOf(wantPairs))
    assert(pairs.nonEmpty)
  }

  test("file-source stream (readStream over parquet) converges to batch twin") {
    // SURVEY §3.4 entry point: replay events through the file source with
    // maxFilesPerTrigger. The source dir carries the ns-normalized events
    // split into multiple parquet files so several micro-batches fire.
    val dir = scratchDir("src")
    // range-partition by ts so part-file order ≈ time order (file source
    // lists files in name order; a 30-min watermark then never drops)
    eventsDf.repartitionByRange(5, col("ts")).write.mode("overwrite").parquet(dir)
    val schema = eventsDf.schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = Streams.tumbling(stream).writeStream.format("memory")
      .queryName("t_filesrc").outputMode("complete").start()
    q.processAllAvailable()
    q.stop()
    val got = spark.table("t_filesrc").collect().toSeq
    val want = queries.StreamTwins.queries("q_stream_tumbling")(spark, sf).collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("Trigger.AvailableNow drains the file source in bounded batches then stops") {
    // the batch-job-over-streaming-API shape: process everything
    // currently available (respecting maxFilesPerTrigger bounds), then
    // terminate — the incremental-backfill trigger a scheduled 100 TB
    // ingest would run instead of a long-lived query.
    import org.apache.spark.sql.streaming.Trigger
    val dir = scratchDir("src_an")
    eventsDf.repartitionByRange(5, col("ts")).write.mode("overwrite").parquet(dir)
    val stream = spark.readStream.schema(eventsDf.schema)
      .option("maxFilesPerTrigger", "1").parquet(dir)
    val q = Streams.tumbling(stream).writeStream.format("memory")
      .queryName("t_availnow").outputMode("complete")
      .trigger(Trigger.AvailableNow()).start()
    assert(q.awaitTermination(120000), "AvailableNow query did not self-terminate")
    val got = spark.table("t_availnow").collect().toSeq
    val want = queries.StreamTwins.queries("q_stream_tumbling")(spark, sf).collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("checkpointed restart resumes exactly: no reprocessing, no gaps") {
    // fault-tolerance contract: stop a checkpointed query, add input,
    // restart from the SAME checkpoint — the offset log must skip
    // everything already committed (no duplicate output) and pick up the
    // new files, with keyed state carried across the restart.
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    Streams.withRocksDb(spark) {
      val base = scratchDir("restart")
      val ev = eventsDf.select(col("user_id"), col("event_id"), col("event_type"))
      val med = allEvents.map(_.event_id).sorted.apply(allEvents.size / 2)
      ev.where(col("event_id") <= med).coalesce(1).write.parquet(s"$base/src")
      def drain(): Unit = {
        val stream = spark.readStream.schema(ev.schema).parquet(s"$base/src")
          .as[Streams.PurchaseEvent]
        val q = Streams.statefulCountTws(stream).toDF().writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ck")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(120000), "restart query did not terminate")
      }
      drain()
      val afterFirst = spark.read.parquet(s"$base/out").count()
      ev.where(col("event_id") > med).coalesce(1).write.mode("append").parquet(s"$base/src")
      drain()
      val got = spark.read.parquet(s"$base/out")
        .select("user_id", "event_id", "purchase_seq").collect().toSeq
      val want = queries.StreamTwins.queries("q_stream_stateful_count")(spark, sf)
        .select("user_id", "event_id", "purchase_seq").collect().toSeq
      assert(sortedSet(got) == sortedSet(want), "restart output diverges from batch twin")
      // every row written after the restart is NEW — nothing reprocessed
      assert(got.size > afterFirst, "second half produced no output")
      assert(got.size.toLong == got.map(r => (r.getLong(0), r.getLong(1))).distinct.size,
        "restart duplicated committed output")
    }
  }

  test("band-collide survives a checkpointed restart: bucket state carries, no re-emission") {
    // the newest state shape under the house restart discipline: stop a
    // checkpointed run after half the corpus, restart from the SAME
    // checkpoint with the rest — cross-half candidate pairs can only
    // exist if the first half's bucket lists survived the restart, and
    // a third drain with NO new input must emit nothing (the replay
    // guard across the checkpoint boundary, not just within a batch)
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    Streams.withRocksDb(spark) {
      val base = scratchDir("bandrestart")
      val bands = queries.Llm.bandKeyFrame(spark, sf)
        .selectExpr("CAST(band_id AS INT) AS band_id", "bkey", "doc_id")
      val med = bands.agg(expr("percentile_approx(doc_id, 0.5)")).first().getLong(0)
      bands.where(col("doc_id") <= med).coalesce(1).write.parquet(s"$base/src")
      def drain(): Unit = {
        val stream = spark.readStream.schema(bands.schema).parquet(s"$base/src")
          .as[Streams.BandKeyRow]
        val q = Streams.bandCollide(stream).toDF().writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ck")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(180000), "band-collide drain did not terminate")
      }
      drain()
      bands.where(col("doc_id") > med).coalesce(1).write.mode("append")
        .parquet(s"$base/src")
      drain()
      val got = spark.read.parquet(s"$base/out").select("a", "b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = queries.Llm.bandCandidates(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got === want, "restarted stream diverges from batch candidates")
      // cross-restart pairs prove the bucket lists carried
      assert(got.exists { case (a, b) => a <= med && b > med },
        "no cross-restart candidate pairs — state did not carry")
      // replayed drain with no new input: nothing re-emitted
      val before = spark.read.parquet(s"$base/out").count()
      drain()
      assert(spark.read.parquet(s"$base/out").count() === before,
        "empty restart re-emitted candidate pairs")
    }
  }

  test("file-sink stream (writeStream parquet + checkpoint) persists the append output") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      val base = scratchDir("sink")
      val mem = MemoryStream[Ev]
      val ds = mem.toDS().map(e => Streams.PurchaseEvent(e.user_id, e.event_id, e.event_type))
      val q = Streams.statefulCountTws(ds).toDF().writeStream.format("parquet")
        .option("path", s"$base/out")
        .option("checkpointLocation", s"$base/ck")
        .outputMode("append").start()
      chunksInOrder.foreach { c => mem.addData(c); q.processAllAvailable() }
      q.stop()
      val got = spark.read.parquet(s"$base/out")
        .select("user_id", "event_id", "purchase_seq").collect().toSeq
      val want = queries.StreamTwins.queries("q_stream_stateful_count")(spark, sf)
        .select("user_id", "event_id", "purchase_seq").collect().toSeq
      assert(sortedSet(got) == sortedSet(want))
    }
  }

  test("foreachBatch upsert sink maintains a serving table equal to the batch twin") {
    // The production streaming-sink pattern: update-mode windowed agg →
    // foreachBatch merges each micro-batch's changed windows into a
    // keyed serving table (stage + atomic swap). After the replay the
    // serving table must equal the oracled batch twin — proving the
    // upsert loses no window and final values win over intermediates.
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val base = scratchDir("febatch")
    val serving = s"$base/serving"
    val mem = MemoryStream[Ev]
    val q = Streams.tumbling(mem.toDF()).writeStream
      .outputMode("update")
      .option("checkpointLocation", s"$base/ck")
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val merged =
          if (!new java.io.File(serving).exists()) batch
          else batch.unionByName(
            s.read.parquet(serving).join(batch.select("bucket", "event_type"),
              Seq("bucket", "event_type"), "left_anti"))
        val staged = new java.io.File(s"$base/staged")
        merged.coalesce(1).write.mode("overwrite").parquet(staged.toString)
        FileUtils.deleteQuietly(new java.io.File(serving))
        assert(staged.renameTo(new java.io.File(serving)))
        ()
      }
      .start()
    chunksInOrder.foreach { c => mem.addData(c); q.processAllAvailable() }
    q.stop()
    val got = spark.read.parquet(serving)
      .select("bucket", "event_type", "cnt", "total").collect().toSeq
    val want = queries.StreamTwins.queries("q_stream_tumbling")(spark, sf)
      .select("bucket", "event_type", "cnt", "total").collect().toSeq
    assert(sortedSet(got) == sortedSet(want))
  }

  test("late data beyond the watermark is dropped in append mode") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def ev(id: Long, minute: Long): Ev =
      Ev(id, java.sql.Timestamp.valueOf(f"2024-01-01 ${minute / 60}%02d:${minute % 60}%02d:00"),
        1L, "click", 1.0, "{}")
    val mem = MemoryStream[Ev]
    val q = Streams.tumbling(mem.toDF()).writeStream.format("memory")
      .queryName("t_late").outputMode("append").start()
    mem.addData(Seq(ev(1, 0), ev(2, 5)))     // window [00:00,00:10)
    q.processAllAvailable()
    mem.addData(Seq(ev(3, 120)))             // advances watermark to 01:30
    q.processAllAvailable()
    mem.addData(Seq(ev(4, 2)))               // late: before watermark → dropped
    q.processAllAvailable()
    mem.addData(Seq(ev(5, 240)))             // flush closable windows
    q.processAllAvailable()
    q.stop()
    val bucket0 = spark.table("t_late").where(col("bucket") === 1704067200L).collect()
    // the late event (id 4) must not be counted: bucket 0 has cnt=2, not 3
    assert(bucket0.length == 1 && bucket0.head.getAs[Long]("cnt") == 2L)
  }

  /** The q_stream_late_data accounting rule, computed in plain Scala
    * over an arbitrary micro-batch partition of the events: watermark
    * entering batch b = max event time over batches < b minus 600 s; a
    * row is dropped when its 1-min window end ≤ watermark. The rule is
    * PARAMETRIC in the batch partition — the declared twin instantiates
    * it at arrival minutes, the replay test at coarser super-batches
    * (a MemoryStream round-trip per arrival minute would be ~10³
    * batches). */
  private def lateMirror(batches: Seq[Seq[Ev]]): Long = {
    var wm = Long.MinValue
    var late = 0L
    batches.foreach { b =>
      late += b.count { e =>
        val es = e.ts.getTime / 1000
        wm != Long.MinValue && (es - es % 60 + 60) <= wm
      }
      wm = math.max(wm, b.map(_.ts.getTime / 1000).max - 600)
    }
    late
  }

  private def md5Jit(id: Long): Long = {
    val h = java.security.MessageDigest.getInstance("MD5")
      .digest(s"late$id".getBytes("UTF-8")).map("%02x".format(_)).mkString
    java.lang.Long.parseLong(h.substring(0, 13), 16) % 1800
  }

  test("watermark drop accounting: twin == mirror == real streaming metric") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (1) the declared per-minute twin equals the mirror instantiated
    // at the same arrival-minute partition, over the full fixture
    val byMinute = allEvents
      .groupBy(e => (e.ts.getTime / 1000 + md5Jit(e.event_id)) / 60)
      .toSeq.sortBy(_._1).map(_._2)
    val twinLate = queries.StreamTwins
      .queries("q_stream_late_data")(spark, sf)
      .agg(sum(col("n_late"))).collect()(0).getLong(0)
    assert(twinLate === lateMirror(byMinute), "declared twin vs mirror")
    assert(twinLate > 0, "late accounting is vacuous on the fixture")
    // (2) the same rule at super-batch granularity equals Spark's own
    // numRowsDroppedByWatermark over a real windowed-count replay —
    // proving the twin's watermark-advance + drop rule IS the engine's
    val superBatches = byMinute.grouped(25).map(_.flatten).toSeq
    val mem = MemoryStream[Ev]
    val q = mem.toDF().withWatermark("ts", "10 minutes")
      .groupBy(window(col("ts"), "1 minute")).count()
      .writeStream.format("memory").queryName("t_wm_acct")
      .outputMode("append").start()
    var dropped = 0L
    var seen = Set.empty[Long]
    superBatches.foreach { c =>
      mem.addData(c); q.processAllAvailable()
      q.recentProgress.filterNot(p => seen(p.batchId)).foreach { p =>
        seen += p.batchId
        dropped += p.stateOperators.map(_.numRowsDroppedByWatermark).sum
      }
    }
    q.stop()
    val mirrorSuper = lateMirror(superBatches)
    assert(dropped === mirrorSuper,
      s"streaming metric $dropped != rule $mirrorSuper")
    assert(mirrorSuper > 0, "super-batch replay dropped nothing")
  }

  test("streaming band-collide candidates equal the batch banding candidates") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // transformWithState needs the RocksDB (multi-column-family) store
    Streams.withRocksDb(spark) {
      // the ONE banding definition: the stream replays exactly the frame
      // the batch candidate join consumes, in doc_id (arrival) order
      val bands = queries.Llm.bandKeyFrame(spark, sf)
        .select(col("band_id").cast("int"), col("bkey"), col("doc_id"))
        .as[Streams.BandKeyRow].collect().toSeq.sortBy(_.doc_id)
      val mem = MemoryStream[Streams.BandKeyRow]
      val q = Streams.bandCollide(mem.toDS()).toDF()
        .writeStream.format("memory").queryName("t_bandcollide")
        .outputMode("append").start()
      bands.grouped(300).foreach { c => mem.addData(c); q.processAllAvailable() }
      // a REPLAYED chunk (at-least-once delivery) into the SAME query
      // must emit nothing new: every doc in it is already in its
      // buckets' lists, so the seen-guard swallows it
      val before = spark.table("t_bandcollide").count()
      mem.addData(bands.take(300)); q.processAllAvailable()
      val after = spark.table("t_bandcollide").count()
      q.stop()
      assert(before === after,
        s"replayed band rows re-emitted ${after - before} candidate pairs")
      // pairs dedup across bands downstream — the batch frame's .distinct()
      val got = spark.table("t_bandcollide").select("a", "b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = queries.Llm.bandCandidates(spark, sf)
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.nonEmpty, "band-collide emitted no candidates on the fixture")
      assert(got === want,
        s"stream candidates diverge from batch banding: " +
          s"stream-only=${(got -- want).take(5)}, batch-only=${(want -- got).take(5)}")
    }
  }

  private def docArrivals: Seq[Streams.DocArrival] = {
    import spark.implicits._
    queries.Llm.docArrivalFrame(spark, sf)
      .select(col("doc_id"), col("shingles"), col("bands"))
      .as[Streams.DocArrival].collect().toSeq.sortBy(_.doc_id)
  }

  private def batchConfirmed: Set[(Long, Long)] =
    queries.Llm.confirmedPairs(spark, sf)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet

  test("end-to-end streaming dedup: confirmed pairs equal the batch exact-Jaccard confirm") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      val mem = MemoryStream[Streams.DocArrival]
      val q = Streams.dedupConfirm(mem.toDS()).toDF()
        .writeStream.format("memory").queryName("t_dedupconfirm")
        .outputMode("append").start()
      val docs = docArrivals
      docs.grouped(60).foreach { c => mem.addData(c); q.processAllAvailable() }
      // at-least-once replay of a chunk: stage 1's seen-guard swallows
      // the band rows (no new candidates) and the set hops ignore a
      // re-arriving set, so NOTHING new may confirm
      val before = spark.table("t_dedupconfirm").count()
      mem.addData(docs.take(60)); q.processAllAvailable()
      val after = spark.table("t_dedupconfirm").count()
      q.stop()
      assert(before === after,
        s"replayed doc arrivals re-confirmed ${after - before} pairs")
      // a pair confirms once per colliding band — downstream dedups,
      // exactly like the batch candidate frame's .distinct()
      val got = spark.table("t_dedupconfirm").select("a", "b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = batchConfirmed
      assert(got.nonEmpty, "streaming confirm emitted nothing on the fixture")
      assert(got === want,
        s"stream confirm diverges from batch: stream-only=${(got -- want).take(5)}, " +
          s"batch-only=${(want -- got).take(5)}")
    }
  }

  test("streaming dedup confirm survives a checkpointed restart") {
    import org.apache.spark.sql.streaming.Trigger
    Streams.withRocksDb(spark) {
      val base = scratchDir("confirmrestart")
      val arrivals = queries.Llm.docArrivalFrame(spark, sf)
        .select(col("doc_id"), col("shingles"), col("bands"))
      val med = arrivals.agg(expr("percentile_approx(doc_id, 0.5)")).first().getLong(0)
      arrivals.where(col("doc_id") <= med).coalesce(1).write.parquet(s"$base/src")
      def drain(): Unit = {
        import spark.implicits._
        val stream = spark.readStream.schema(arrivals.schema).parquet(s"$base/src")
          .as[Streams.DocArrival]
        val q = Streams.dedupConfirm(stream).toDF().writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ck")
          .outputMode("append").trigger(Trigger.AvailableNow()).start()
        assert(q.awaitTermination(240000), "confirm drain did not terminate")
      }
      drain()
      arrivals.where(col("doc_id") > med).coalesce(1).write.mode("append")
        .parquet(s"$base/src")
      drain()
      val got = spark.read.parquet(s"$base/out").select("a", "b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = batchConfirmed
      assert(got === want, "restarted confirm stream diverges from batch: " +
        s"stream-only=${(got -- want).take(5)}, batch-only=${(want -- got).take(5)}")
      // cross-restart confirmed pairs prove ALL THREE states carried
      // (bucket lists + both hops' shingle sets)
      assert(got.exists { case (a, b) => a <= med && b > med },
        "no cross-restart confirmed pairs — state did not carry")
      val before = spark.read.parquet(s"$base/out").count()
      drain()
      assert(spark.read.parquet(s"$base/out").count() === before,
        "empty restart re-emitted confirmed pairs")
    }
  }

  test("TTL'd dedup confirm: equals batch under a generous window, survives restart") {
    // the DEPLOYMENT form (every state TTL'd, TimeMode.ProcessingTime):
    // with a window that outlives the replay nothing ages out, so the
    // confirmed set must equal the batch exact-Jaccard confirm — and the
    // two-drain shape doubles as the checkpoint-restart case (drain 2
    // resumes from drain 1's RocksDB state across a fresh query)
    import org.apache.spark.sql.streaming.Trigger
    Streams.withRocksDb(spark) {
      val base = scratchDir("confirmttl")
      val arrivals = queries.Llm.docArrivalFrame(spark, sf)
        .select(col("doc_id"), col("shingles"), col("bands"))
      val med = arrivals.agg(expr("percentile_approx(doc_id, 0.5)")).first().getLong(0)
      arrivals.where(col("doc_id") <= med).coalesce(1).write.parquet(s"$base/src")
      def drain(): Unit = {
        import spark.implicits._
        val stream = spark.readStream.schema(arrivals.schema).parquet(s"$base/src")
          .as[Streams.DocArrival]
        // ProcessingTime TimeMode never quiesces (TTL cleanup keeps
        // scheduling batches) — Trigger.Once is the drain protocol
        val q = Streams.dedupConfirm(stream, ttlMs = Some(3600L * 1000)).toDF()
          .writeStream.format("parquet")
          .option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ck")
          .outputMode("append").trigger(Trigger.Once()).start()
        assert(q.awaitTermination(240000), "ttl confirm drain did not terminate")
      }
      drain()
      arrivals.where(col("doc_id") > med).coalesce(1).write.mode("append")
        .parquet(s"$base/src")
      drain()
      val got = spark.read.parquet(s"$base/out").select("a", "b").distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      val want = batchConfirmed
      assert(got === want, "TTL'd confirm (generous window) diverges from batch: " +
        s"stream-only=${(got -- want).take(5)}, batch-only=${(want -- got).take(5)}")
      assert(got.exists { case (a, b) => a <= med && b > med },
        "no cross-restart confirmed pairs — TTL'd state did not carry")
    }
  }

  test("TTL'd dedup confirm: a cross-window pair is lost, the same pair in-window confirms") {
    // what the TTL loses, pinned on a constructed pair: two near-dup docs
    // (trigram Jaccard ≥ 0.8 by construction) fed TTL-apart must NOT
    // confirm (the elder aged out of every state before the newer
    // arrived); the same two docs inside one window MUST confirm — so the
    // miss is provably the window, not a banding accident
    import org.apache.spark.sql.streaming.Trigger
    Streams.withRocksDb(spark) {
      val toks = (1 to 40).map(i => s"tok$i")
      val textA = toks.mkString(" ")
      val textB = (toks.dropRight(1) :+ "changed").mkString(" ")
      val docA = Streams.docArrivalOf(1L, textA).get
      val docB = Streams.docArrivalOf(2L, textB).get
      val sa = docA.shingles.toSet; val sb = docB.shingles.toSet
      val jac = (sa & sb).size.toDouble / (sa | sb).size
      assert(jac >= 0.8, f"constructed pair's true Jaccard $jac%.3f below threshold")
      val schema = org.apache.spark.sql.Encoders.product[Streams.DocArrival].schema
      def run(tag: String, together: Boolean, ttlMs: Long): Set[(Long, Long)] = {
        import spark.implicits._
        val base = scratchDir(s"ttlloss_$tag")
        def drain(): Unit = {
          val stream = spark.readStream.schema(schema).parquet(s"$base/src")
            .as[Streams.DocArrival]
          val q = Streams.dedupConfirm(stream, ttlMs = Some(ttlMs)).toDF()
            .writeStream.format("parquet").option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ck")
            .outputMode("append").trigger(Trigger.Once()).start()
          assert(q.awaitTermination(240000), s"$tag drain did not terminate")
        }
        if (together) {
          Seq(docA, docB).toDS().coalesce(1).write.parquet(s"$base/src")
          drain()
        } else {
          Seq(docA).toDS().coalesce(1).write.parquet(s"$base/src")
          drain()
          Thread.sleep(ttlMs + 1500)
          Seq(docB).toDS().coalesce(1).write.mode("append").parquet(s"$base/src")
          drain()
        }
        spark.read.parquet(s"$base/out").select("a", "b").distinct()
          .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      }
      val inWindow = run("inwin", together = true, ttlMs = 3600L * 1000)
      assert(inWindow === Set((1L, 2L)),
        s"in-window constructed pair did not confirm: $inWindow")
      val crossWindow = run("crosswin", together = false, ttlMs = 2000L)
      assert(crossWindow.isEmpty,
        s"cross-window pair survived a 2 s TTL: $crossWindow")
    }
  }

  test("TTL'd band-collide: a cross-drain collision is lost, an in-drain one emits") {
    // stage 1's TTL on its own, without the set hops (whose TTLs would
    // also lose a cross-drain pair): docs 1 and 2 share a bucket in the
    // first drain and must collide; doc 3 lands in the same bucket one
    // TTL later, after both entries aged out, and must collide with
    // neither
    import spark.implicits._
    import org.apache.spark.sql.streaming.Trigger
    Streams.withRocksDb(spark) {
      val base = scratchDir("bandttl")
      val ttlMs = 2000L
      def drain(): Unit = {
        val stream = spark.readStream
          .schema(org.apache.spark.sql.Encoders.product[Streams.BandKeyRow].schema)
          .parquet(s"$base/src").as[Streams.BandKeyRow]
        val q = Streams.bandCollide(stream, ttlMs = Some(ttlMs)).toDF()
          .writeStream.format("parquet").option("path", s"$base/out")
          .option("checkpointLocation", s"$base/ck")
          .outputMode("append").trigger(Trigger.Once()).start()
        assert(q.awaitTermination(240000), "ttl band-collide drain did not terminate")
      }
      def add(docs: Long*): Unit =
        docs.map(Streams.BandKeyRow(0, "bucket", _)).toDS().coalesce(1)
          .write.mode("append").parquet(s"$base/src")
      add(1L, 2L)
      drain()
      Thread.sleep(ttlMs + 1500)
      add(3L)
      drain()
      val got = spark.read.parquet(s"$base/out").select("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
      assert(got.contains((1L, 2L)), s"in-drain collision not emitted: $got")
      assert(got === Set((1L, 2L)),
        s"cross-drain collisions survived a ${ttlMs} ms TTL: ${got - ((1L, 2L))}")
    }
  }

  test("docArrivalOf derives the batch frames bit-exactly from raw text") {
    // the true ingest head: the row-wise Scala derivation must equal
    // the batch SQL derivation (tokenizer, distinct trigrams, 16-hash
    // md5 minhash signature, 4-row band keys) on every corpus doc —
    // one definition, two heads, zero drift
    val want = docArrivals
      .map(d => d.doc_id ->
        ((d.shingles.toList, d.bands.map(b => (b.band_id, b.bkey)).toList)))
      .toMap
    val texts = Tables(spark, sf, "documents")
      .select("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    val got = texts.flatMap { case (id, t) =>
      Streams.docArrivalOf(id, t).map(d => d.doc_id ->
        ((d.shingles.toList, d.bands.map(b => (b.band_id, b.bkey)).toList)))
    }.toMap
    assert(got.keySet == want.keySet,
      s"doc set diverges: only-scala=${(got.keySet -- want.keySet).take(5)}, " +
        s"only-batch=${(want.keySet -- got.keySet).take(5)}")
    val bad = want.keys.filter(k => got(k) != want(k))
    assert(bad.isEmpty,
      s"${bad.size} docs diverge, first: ${bad.headOption.map(k => (k, got(k), want(k)))}")
  }

  test("docArrivalOf shingle order matches sort_array beyond the basic plane") {
    // the bit-exact contract with the batch head must hold for
    // supplementary-plane text too: UTF-16 code-unit order puts a
    // surrogate-pair char (U+1F600, utf-8 f0 9f 98 80) BELOW U+FFFD
    // (utf-8 ef bf bd) while UTF-8 binary order — sort_array's — puts it
    // above; the stream head must sort like the batch side
    val emoji = new String(Character.toChars(0x1F600))
    val high = "�"
    assert(Ordering.String.compare(emoji, high) < 0, "UTF-16 premise")
    assert(Streams.utf8BinaryOrder.compare(emoji, high) > 0, "UTF-8 order")
    val text = s"$emoji $high zz $emoji $high zz aa"
    val got = Streams.docArrivalOf(7L, text).get.shingles
    import spark.implicits._
    val want = Seq(Tuple1(text)).toDF("text")
      .selectExpr(
        """sort_array(array_distinct(transform(
             sequence(1, size(split(text, ' ', -1)) - 2),
             i -> concat_ws(' ', slice(split(text, ' ', -1), i, 3))))) AS s""")
      .first().getSeq[String](0)
    assert(got.toList === want.toList,
      s"stream-head shingle order diverges from sort_array: $got vs $want")
  }

  test("confirm hop stashes a candidate that outruns its set, drains on arrival") {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    Streams.withRocksDb(spark) {
      val mem = MemoryStream[Streams.AttachMsg]
      val q = mem.toDS().groupByKey(_.key)
        .transformWithState(new Streams.SetConfirmProcessor(0.8),
          org.apache.spark.sql.streaming.TimeMode.None(),
          org.apache.spark.sql.streaming.OutputMode.Append()).toDF()
        .writeStream.format("memory").queryName("t_confirmpending")
        .outputMode("append").start()
      // candidates arrive BEFORE the key's set (a replay/out-of-order
      // shape the in-order contract never produces): must stash, not drop
      mem.addData(
        Streams.AttachMsg(2L, is_set = false, 1L, 2L, Seq("x a b", "x b c", "x c d", "x d e")),
        Streams.AttachMsg(2L, is_set = false, 3L, 2L, Seq("q q q", "r r r")))
      q.processAllAvailable()
      assert(spark.table("t_confirmpending").count() === 0,
        "candidate confirmed before its endpoint's set arrived")
      // the set arrives: pair (1,2) is jaccard 4/5 >= 0.8 vs the stored
      // set, pair (3,2) is far below — exactly one confirm drains out
      mem.addData(Streams.AttachMsg(2L, is_set = true, 2L, -1L,
        Seq("x a b", "x b c", "x c d", "x d e", "x e f")))
      q.processAllAvailable()
      q.stop()
      val got = spark.table("t_confirmpending").select("a", "b")
        .collect().map(r => (r.getLong(0), r.getLong(1))).toSeq
      assert(got === Seq((1L, 2L)),
        s"pending drain wrong: $got (want exactly (1,2))")
    }
  }

  test("commit-sink streaming write: one generation per epoch, exactly-once across restart and re-delivery") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.streaming.Trigger
    val base = scratchDir("commitsink")
    val src = s"$base/src"; val out = s"$base/out"; val ck = s"$base/ck"
    def addFile(lo: Long, n: Long): Unit =
      spark.range(lo, lo + n).select(col("id").as("k"),
        concat(lit("v"), col("id")).as("s"))
        .coalesce(1).write.mode("append").parquet(src)
    def drain(): Unit = {
      val q = spark.readStream.schema("k BIGINT, s STRING")
        .option("maxFilesPerTrigger", "1").parquet(src)
        .writeStream.format("graft.sources.GraftCommitSink")
        .option("path", out).option("checkpointLocation", ck)
        .outputMode("append").trigger(Trigger.AvailableNow()).start()
      assert(q.awaitTermination(180000), "stream drain did not terminate")
    }
    def gens(): Seq[String] = Option(new java.io.File(out).listFiles())
      .getOrElse(Array.empty).map(_.getName)
      .filter(_.matches("_GRAFT_COMMIT\\.g\\d+")).sorted.toSeq
    def readOut() = spark.read.format("graft.sources.GraftManifestSource")
      .schema("k BIGINT, s STRING").option("path", out).load()
    // two files -> two epochs -> two generations
    addFile(0, 10); addFile(100, 10)
    drain()
    assert(gens() === Seq("_GRAFT_COMMIT.g0000", "_GRAFT_COMMIT.g0001"), gens())
    assert(readOut().count() === 20L)
    // RESTART with the same checkpoint + one new file: exactly one more
    // epoch commits (the recovered epochs publish nothing)
    addFile(200, 10)
    drain()
    assert(gens() === Seq("_GRAFT_COMMIT.g0000", "_GRAFT_COMMIT.g0001",
      "_GRAFT_COMMIT.g0002"), gens())
    assert(readOut().count() === 30L)
    // empty restart: no duplicate generation, no duplicate rows
    drain()
    assert(gens().size === 3, gens())
    assert(readOut().count() === 30L)
    // forced RE-DELIVERY of an already-committed epoch at the protocol
    // level: the sink's marker makes it a visible-state no-op and the
    // attempt temp is swept
    val fsPath = new org.apache.hadoop.fs.Path(out)
    val fs = fsPath.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val marker = graft.sources.GraftCommitMeta.readManifestFile(
      fs, new org.apache.hadoop.fs.Path(out, "_GRAFT_COMMIT")).epoch
    assert(marker.isDefined, "streaming manifest must carry the epoch marker")
    val (qid, lastEpoch) = marker.get
    val schema2 = new org.apache.spark.sql.types.StructType()
      .add("k", org.apache.spark.sql.types.LongType)
      .add("s", org.apache.spark.sql.types.StringType)
    val sw = new graft.sources.GraftCommitStreamingWrite(out, schema2, qid)
    val fac = sw.createStreamingWriterFactory(null)
    val w = fac.createWriter(0, 777L, lastEpoch)
    w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](999L, org.apache.spark.unsafe.types.UTF8String.fromString("dup"))))
    sw.commit(lastEpoch, Array(w.commit()))
    assert(gens().size === 3, "re-delivered epoch published a generation")
    assert(readOut().count() === 30L)
    assert(readOut().where(col("k") === 999L).count() === 0L)
    assert(Option(new java.io.File(out, "_temp").listFiles())
      .getOrElse(Array.empty).isEmpty, "re-delivered attempt temp not swept")
    // a DIFFERENT queryId is a fresh lineage: its epoch 0 legitimately
    // commits a new generation
    val sw2 = new graft.sources.GraftCommitStreamingWrite(out, schema2, "other-query")
    val w2 = sw2.createStreamingWriterFactory(null).createWriter(0, 778L, 0L)
    w2.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
      Array[Any](1000L, org.apache.spark.unsafe.types.UTF8String.fromString("fresh"))))
    sw2.commit(0L, Array(w2.commit()))
    assert(gens().size === 4, "fresh lineage epoch must commit")
    assert(readOut().count() === 31L)
  }

  test("commit-sink streaming write: a compaction keeps the epoch marker, so a re-delivered epoch stays a no-op") {
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val out = scratchDir("commitcompact")
    val ddl = "k BIGINT, s STRING"
    val schema = new StructType().add("k", LongType).add("s", StringType)
    val sw = new graft.sources.GraftCommitStreamingWrite(out, schema, "q-compact")
    def deliver(epoch: Long, taskId: Long): Unit = {
      val w = sw.createStreamingWriterFactory(null).createWriter(0, taskId, epoch)
      w.write(new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
        Array[Any](epoch, org.apache.spark.unsafe.types.UTF8String.fromString(s"e$epoch"))))
      sw.commit(epoch, Array(w.commit()))
    }
    def gens(): Int = new java.io.File(out).listFiles()
      .count(_.getName.matches("_GRAFT_COMMIT\\.g\\d+"))
    def rows(): Long = graft.sources.GraftTable.read(spark, out, ddl).count()
    deliver(0L, 1L); deliver(1L, 2L)
    assert(gens() === 2 && rows() === 2L)
    // two one-row parts rewritten as one: a new generation, same rows
    graft.sources.GraftCommitCompact.compact(spark, out, ddl, 1)
    assert(gens() === 3 && rows() === 2L)
    val dir = new org.apache.hadoop.fs.Path(out)
    val fs = dir.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(graft.sources.GraftCommitMeta.readManifestFile(fs,
      graft.sources.GraftCommitMeta.manifestPath(dir)).epoch === Some("q-compact" -> 1L),
      "the compacted manifest must carry the stream's epoch marker")
    // checkpoint recovery re-delivers epoch 1 after the compaction
    deliver(1L, 3L)
    assert(gens() === 3, "re-delivered epoch published a generation after compaction")
    assert(rows() === 2L)
  }
}
