package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery

/** Replayed event row (top-level so Catalyst can derive its Encoder). */
case class BenchEv(event_id: Long, ts: java.sql.Timestamp, user_id: Long,
  event_type: String, value: Double)

/** Bench-scale RocksDB state-store runs (BASELINE.md "Streaming state").
  *
  * StreamingSpec proves the processors CORRECT on micro-fixtures; this
  * main produces the SCALE evidence: the full events table of an sf dir
  * (SPARK_GRAFT_SF_DIR, default sf0.1) replayed through each bench
  * scenario with the RocksDB provider, then one JSON line per scenario:
  * wall time, rows/sec, and the state operators' reported metrics (rows
  * in state, memory used, and the rocksdb* custom metrics a capacity
  * plan needs).
  *
  * Scenarios (args; default = all):
  *  - session: `Streams.sessionTimers` — per-user open-interval state +
  *    one event-time timer per key, the heaviest state shape in the repo
  *  - kalman:  `Streams.kalmanTws` — the O(1)-state [x̂, P] processor
  *    (q_stream_kalman's engine), one ValueState[Array[Double]] per user
  *  - chained: `Streams.chainedAgg` — Spark 4 multiple stateful
  *    operators in ONE query (10-min tumbling → hourly rollup), TWO
  *    watermark-bounded window states back to back
  *  - multitouch: `Streams.attributionMultiTws` — the ListState
  *    processor (per-user in-window click LISTS with self-eviction):
  *    its per-key state size tracks the window's click density
  *  - bandcollide: `Streams.bandCollide` — the streaming near-dup
  *    candidate emitter over the documents band-key frame: the
  *    many-small-keys state shape (one short doc list per MinHash band
  *    bucket; key cardinality ∝ distinct band keys ∝ corpus size)
  *
  * Run: sbt -batch "runMain graft.StreamBench [scenario ...]"
  */
object StreamBench {

  private def stateJson(q: StreamingQuery): String = {
    val ops = Option(q.lastProgress).map(_.stateOperators.toSeq)
      .getOrElse(Seq.empty)
    if (ops.isEmpty) "\"state_rows\":-1"
    else {
      val rows = ops.map(_.numRowsTotal).sum
      val bytes = ops.map(_.memoryUsedBytes).sum
      val keys = Seq("rocksdbSstFileSize", "rocksdbTotalBytesRead",
        "rocksdbTotalBytesWritten", "rocksdbPinnedBlocksMemoryUsage")
      val custom = keys.flatMap { k =>
        val vs = ops.flatMap(o => Option(o.customMetrics.get(k)))
        if (vs.isEmpty) None else Some(s""""$k":${vs.map(_.longValue).sum}""")
      }.mkString(",")
      s""""n_state_ops":${ops.size},"state_rows":$rows,"state_bytes":$bytes,$custom"""
    }
  }

  /** Shared replay harness of the two band-collide variants: the
    * documents band-key frame in doc_id order through `mk`, memory sink
    * so emitted/distinct pair counts land in the JSON row. */
  private def runBands(name: String, spark: SparkSession, sfDir: String,
      batchRows: Int)(
      mk: org.apache.spark.sql.Dataset[graft.streaming.Streams.BandKeyRow]
        => DataFrame): Unit = {
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val bandRows = graft.queries.Llm.bandKeyFrame(spark, sfDir)
      .selectExpr("CAST(band_id AS INT) AS band_id", "bkey", "doc_id")
      .orderBy("doc_id")
      .as[graft.streaming.Streams.BandKeyRow].collect()
    val mem = MemoryStream[graft.streaming.Streams.BandKeyRow]
    val q = mk(mem.toDS()).writeStream.format("memory")
      .queryName(s"sb_$name").outputMode("append").start()
    val t0 = System.nanoTime()
    bandRows.grouped(batchRows).foreach { c =>
      mem.addData(c.toSeq); q.processAllAvailable()
    }
    val dt = (System.nanoTime() - t0) / 1e9
    val st = stateJson(q)
    val emitted = spark.table(s"sb_$name").count()
    val pairs = spark.table(s"sb_$name").select("a", "b").distinct().count()
    q.stop()
    val rps = if (dt > 0) bandRows.length / dt else 0.0
    println(f"""{"metric":"stream_${name}_rocksdb","rows":${bandRows.length},"batches":${(bandRows.length + batchRows - 1) / batchRows},"sec":$dt%.2f,"rows_per_sec":$rps%.0f,"emitted":$emitted,"cand_pairs":$pairs,$st,"sf":"$sfDir"}""")
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val batchRows = sys.env.getOrElse("SPARK_GRAFT_STREAM_BATCH", "5000").toInt
    val scenarios =
      if (args.nonEmpty) args.toSeq
      else Seq("session", "kalman", "chained", "multitouch", "bandcollide")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import spark.implicits._
    implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext

    // replay in event_id order (the generator co-orders event_id and ts,
    // so this is arrival order with bounded disorder — the realistic feed)
    val rows = Tables(spark, sfDir, "events")
      .select("event_id", "ts", "user_id", "event_type", "value")
      .orderBy("event_id")
      .as[BenchEv].collect()

    def run(name: String)(mk: DataFrame => DataFrame): Unit = {
      val mem = MemoryStream[BenchEv]
      val q = mk(mem.toDF()).writeStream.format("noop")
        .outputMode("append").start()
      val t0 = System.nanoTime()
      rows.grouped(batchRows).foreach { c =>
        mem.addData(c.toSeq); q.processAllAvailable()
      }
      val dt = (System.nanoTime() - t0) / 1e9
      val st = stateJson(q)
      q.stop()
      val rps = if (dt > 0) rows.length / dt else 0.0
      println(f"""{"metric":"stream_${name}_rocksdb","rows":${rows.length},"batches":${(rows.length + batchRows - 1) / batchRows},"sec":$dt%.2f,"rows_per_sec":$rps%.0f,$st,"sf":"$sfDir"}""")
    }

    val scenario: String => Unit = {
      case "session" => run("session")(df =>
        graft.streaming.Streams.sessionTimers(
          df.select("event_id", "ts", "user_id")).toDF())
      case "kalman" => run("kalman")(df =>
        graft.streaming.Streams.kalmanTws(
          df.select("user_id", "event_id", "value")
            .as[graft.streaming.Streams.ValObs]).toDF())
      case "chained" => run("chained")(df =>
        graft.streaming.Streams.chainedAgg(
          df.select("ts", "event_type", "value")))
      case "multitouch" => run("multitouch")(df =>
        graft.streaming.Streams.attributionMultiTws(
          df.selectExpr("user_id", "event_id", "event_type",
            "CAST(unix_micros(ts) div 1000000 AS BIGINT) AS es")
            .as[graft.streaming.Streams.AttrEvent]).toDF())
      // SpaceSaving heavy hitters: the bounded-state counter sketch —
      // numStateRows here is min(users, buckets·cap) by construction,
      // the contrast row to multitouch/kalman's per-key state growth
      case "heavyhitters" => run("heavyhitters")(df =>
        graft.streaming.Streams.heavyHittersTws(
          df.select("user_id", "event_id")
            .as[graft.streaming.Streams.HhEvent]).toDF())
      // the sketch where it WINS (round 12): the fixture's per-user
      // counts are near-uniform (66–99 at every sf — BASELINE.md), so
      // the heavyhitters row never exercises displacement. This regime
      // replays a CONSTRUCTED zipf(≈1) stream of the same length —
      // rank = ⌊exp(u·ln K)⌋ over K=10,000 ranks, u a deterministic
      // md5 micro-draw per event (p(r) ∝ 1/r) — at three caps: 16
      // (displacement-crushed), the 512 default, and capFor(N_bucket,
      // c₂₀/2) — the derived cap sized so every key at or above half
      // the 20th-heaviest true count is GUARANTEED tracked (the
      // index-build-phase corpus statistic, the cellsFor discipline).
      // Each row reports est-top-20 precision/recall vs exact and the
      // worst observed err against the published N_bucket/cap bound —
      // the bound is ASSERTED, not just printed.
      case "heavyhitters_zipf" =>
        import graft.streaming.Streams
        val buckets = 8
        val keySpace = 10000
        val md = java.security.MessageDigest.getInstance("MD5")
        def draw(i: Long): Double = {
          val h = md.digest(s"zipf$i".getBytes("UTF-8"))
            .map("%02x".format(_)).mkString
          (java.lang.Long.parseLong(h.take(13), 16) % 1000000L) / 1000000.0
        }
        val evs = (1L to rows.length.toLong).map { i =>
          Streams.HhEvent(math.max(1L,
            math.floor(math.exp(draw(i) * math.log(keySpace.toDouble)))
              .toLong), i)
        }
        val truth = evs.groupBy(_.user_id)
          .map { case (u, g) => (u, g.size.toLong) }
        val nbMax = (0L until buckets.toLong)
          .map(b => evs.count(_.user_id % buckets == b).toLong).max
        val exactTop = truth.toSeq.sortBy { case (u, c) => (-c, u) }.take(20)
        val c20 = exactTop.last._2
        val derived = Streams.capFor(nbMax, math.max(1L, c20 / 2))
        Seq(16, 512, derived).distinct.foreach { cap =>
          val mem = MemoryStream[graft.streaming.Streams.HhEvent]
          val sink = s"sb_hh_zipf_$cap"
          val q = Streams.heavyHittersTws(mem.toDS(), buckets, cap).toDF()
            .writeStream.format("memory").queryName(sink)
            .outputMode("append").start()
          val t0 = System.nanoTime()
          evs.grouped(batchRows).foreach { c =>
            mem.addData(c.toSeq); q.processAllAvailable()
          }
          val dt = (System.nanoTime() - t0) / 1e9
          val st = stateJson(q)
          // reconstruct the final sketch from the exactly-replayable
          // ledger (the StreamingSpec replay): apply each row's eviction
          // then its counter write, in event order
          val ledger = spark.table(sink).collect()
            .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
              r.getLong(3), r.getLong(4), r.getLong(5))).sortBy(_._6)
          q.stop()
          val state = scala.collection.mutable.HashMap[(Long, Long), (Long, Long)]()
          ledger.foreach { case (b, u, c, er, ev, _) =>
            if (ev != -1L) state.remove((b, ev))
            state((b, u)) = (c, er)
          }
          val estTop = state.toSeq
            .map { case ((_, u), (c, _)) => (u, c) }
            .sortBy { case (u, c) => (-c, u) }.take(20)
          val hits = estTop.map(_._1).toSet
            .intersect(exactTop.map(_._1).toSet).size
          val maxErr = if (state.isEmpty) 0L else state.valuesIterator.map(_._2).max
          val bound = nbMax / cap
          assert(maxErr <= bound,
            s"SpaceSaving err bound violated: $maxErr > $bound at cap=$cap")
          val rps = if (dt > 0) evs.length / dt else 0.0
          println(f"""{"metric":"stream_hh_zipf_cap${cap}_rocksdb","rows":${evs.length},"buckets":$buckets,"cap":$cap,"derived_cap":$derived,"c20":$c20,"sec":$dt%.2f,"rows_per_sec":$rps%.0f,"top20_hits":$hits,"precision":${hits / 20.0},"recall":${hits / 20.0},"max_err":$maxErr,"err_bound":$bound,$st,"sf":"$sfDir"}""")
        }
      // streaming near-dup candidate emitter: replays the DOCUMENTS
      // band-key frame (not events) in doc_id order — state = one doc
      // list per band bucket (key count tracks distinct band keys, the
      // dedup family's shuffle-key cardinality), the newest state shape
      // in the kit: many tiny lists instead of multitouch's few dense
      // ones. Round 10: memory sink (candidate volume is n·dup-rate —
      // tiny) so emitted-pair counts land in the artifact; the TTL'd
      // variant's pair DELTA vs this row is the window's honest loss.
      case "bandcollide" =>
        runBands("bandcollide", spark, sfDir, batchRows)(
          ds => graft.streaming.Streams.bandCollide(ds).toDF())
      // the TTL'd deployment variant: bucket lists age out
      // SPARK_GRAFT_BAND_TTL_MS (default 2000) after their last write.
      // A ProcessingTime-TimeMode query never quiesces on its own — TTL
      // cleanup keeps reporting work, so BOTH processAllAvailable and
      // Trigger.AvailableNow spin empty micro-batches forever (measured:
      // 1,501 committed offsets before the harness killed it). The
      // scenario therefore drives checkpointed Trigger.Once DRAINS over
      // a file source — exactly ONE micro-batch per drain, then stop —
      // 4 chunk drains, sleeping ttl+1s between them, so every prior
      // drain's bucket entries are expired when the next chunk arrives.
      // The row prices BOTH sides of the trade: trailing-window state
      // instead of full history, and emitted pairs missing exactly the
      // cross-window collisions whose elder fell out first (A/B against
      // the unbounded bandcollide row's cand_pairs).
      case "bandcollide_ttl" =>
        val ttlMs = sys.env.getOrElse("SPARK_GRAFT_BAND_TTL_MS", "2000").toLong
        import org.apache.spark.sql.streaming.Trigger
        val bandRows = graft.queries.Llm.bandKeyFrame(spark, sfDir)
          .selectExpr("CAST(band_id AS INT) AS band_id", "bkey", "doc_id")
          .orderBy("doc_id")
          .as[graft.streaming.Streams.BandKeyRow].collect()
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_sb_bandttl"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
        val schema = graft.queries.Llm.bandKeyFrame(spark, sfDir)
          .selectExpr("CAST(band_id AS INT) AS band_id", "bkey", "doc_id").schema
        val nChunks = 4
        val chunkSz = (bandRows.length + nChunks - 1) / nChunks
        val t0 = System.nanoTime()
        var lastState = "\"state_rows\":-1"
        bandRows.grouped(chunkSz).zipWithIndex.foreach { case (chunk, i) =>
          if (i > 0) Thread.sleep(ttlMs + 1000)
          chunk.toSeq.toDF("band_id", "bkey", "doc_id")
            .coalesce(1).write.mode("append").parquet(s"$base/src")
          val stream = spark.readStream.schema(schema).parquet(s"$base/src")
            .as[graft.streaming.Streams.BandKeyRow]
          val q = graft.streaming.Streams.bandCollideTtl(stream, ttlMs).toDF()
            .writeStream.format("parquet").option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ck")
            .outputMode("append").trigger(Trigger.Once()).start()
          // a drain that outruns the timeout was stopped MID-BATCH — its
          // emitted/state numbers would silently under-report in the
          // artifact; fail loudly instead (the StreamingSpec discipline)
          if (!q.awaitTermination(180000))
            sys.error("bandcollide_ttl drain did not terminate in 180 s")
          lastState = stateJson(q)
          q.stop()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val outDf = spark.read.parquet(s"$base/out")
        val emitted = outDf.count()
        val pairs = outDf.select("a", "b").distinct().count()
        println(f"""{"metric":"stream_bandcollide_ttl${ttlMs}_rocksdb","rows":${bandRows.length},"batches":$nChunks,"sec":$dt%.2f,"emitted":$emitted,"cand_pairs":$pairs,$lastState,"sf":"$sfDir"}""")
      // end-to-end online dedup: one doc-arrival row per document
      // (trigram set + band keys) through the three chained stateful
      // stages — the state total spans the bucket lists PLUS both hops'
      // per-doc shingle sets (the 2× set payload the scaladoc names as
      // the price of exact online confirm)
      case "dedupconfirm" =>
        val docRows = graft.queries.Llm.docArrivalFrame(spark, sfDir)
          .select("doc_id", "shingles", "bands")
          .orderBy("doc_id")
          .as[graft.streaming.Streams.DocArrival].collect()
        val mem = MemoryStream[graft.streaming.Streams.DocArrival]
        val q = graft.streaming.Streams.dedupConfirm(mem.toDS()).toDF()
          .writeStream.format("memory").queryName("sb_dedupconfirm")
          .outputMode("append").start()
        val t0 = System.nanoTime()
        docRows.grouped(batchRows).foreach { c =>
          mem.addData(c.toSeq); q.processAllAvailable()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val st = stateJson(q)
        val emitted = spark.table("sb_dedupconfirm").count()
        val pairs = spark.table("sb_dedupconfirm")
          .select("a", "b").distinct().count()
        q.stop()
        val rps = if (dt > 0) docRows.length / dt else 0.0
        println(f"""{"metric":"stream_dedupconfirm_rocksdb","rows":${docRows.length},"batches":${(docRows.length + batchRows - 1) / batchRows},"sec":$dt%.2f,"rows_per_sec":$rps%.0f,"emitted":$emitted,"confirmed_pairs":$pairs,$st,"sf":"$sfDir"}""")
      // TTL'd END-TO-END dedup (round 11 — the deployment form of the
      // dedupconfirm scenario): all three stages' states age out
      // SPARK_GRAFT_BAND_TTL_MS after their last write. Driven like
      // bandcollide_ttl (checkpointed Trigger.Once drains, ttl+1s sleeps
      // between chunks so every prior drain's entries are expired). The
      // row prices the trade end-to-end: bounded trailing-window state
      // vs the unbounded dedupconfirm row, and confirmed_pairs missing
      // exactly the cross-window dups (delta vs that row's
      // confirmed_pairs — and vs the batch confirm, printed alongside).
      case "dedupconfirm_ttl" =>
        val ttlMs = sys.env.getOrElse("SPARK_GRAFT_BAND_TTL_MS", "2000").toLong
        import org.apache.spark.sql.streaming.Trigger
        val arrivals = graft.queries.Llm.docArrivalFrame(spark, sfDir)
          .select("doc_id", "shingles", "bands")
        val docRows = arrivals.orderBy("doc_id")
          .as[graft.streaming.Streams.DocArrival].collect()
        val batchPairs = graft.queries.Llm.confirmedPairs(spark, sfDir).count()
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_sb_confirmttl"
        org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(base))
        val nChunks = 4
        val chunkSz = (docRows.length + nChunks - 1) / nChunks
        val t0 = System.nanoTime()
        var lastState = "\"state_rows\":-1"
        docRows.grouped(chunkSz).zipWithIndex.foreach { case (chunk, i) =>
          if (i > 0) Thread.sleep(ttlMs + 1000)
          chunk.toSeq.toDS().coalesce(1)
            .write.mode("append").parquet(s"$base/src")
          val stream = spark.readStream.schema(arrivals.schema)
            .parquet(s"$base/src")
            .as[graft.streaming.Streams.DocArrival]
          val q = graft.streaming.Streams.dedupConfirmTtl(stream, ttlMs).toDF()
            .writeStream.format("parquet").option("path", s"$base/out")
            .option("checkpointLocation", s"$base/ck")
            .outputMode("append").trigger(Trigger.Once()).start()
          if (!q.awaitTermination(180000))
            sys.error("dedupconfirm_ttl drain did not terminate in 180 s")
          lastState = stateJson(q)
          q.stop()
        }
        val dt = (System.nanoTime() - t0) / 1e9
        val outDf = spark.read.parquet(s"$base/out")
        val emitted = outDf.count()
        val pairs = outDf.select("a", "b").distinct().count()
        println(f"""{"metric":"stream_dedupconfirm_ttl${ttlMs}_rocksdb","rows":${docRows.length},"batches":$nChunks,"sec":$dt%.2f,"emitted":$emitted,"confirmed_pairs":$pairs,"batch_confirm_pairs":$batchPairs,$lastState,"sf":"$sfDir"}""")
      case other =>
        sys.error(s"unknown scenario $other (session|kalman|chained|" +
          "multitouch|heavyhitters|heavyhitters_zipf|bandcollide|" +
          "bandcollide_ttl|dedupconfirm|dedupconfirm_ttl)")
    }
    // the transformWithState processors need the RocksDB state store
    graft.streaming.Streams.withRocksDb(spark)(scenarios.foreach(scenario))
    spark.stop()
  }
}
