package graft.perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.StreamingQuery
import graft.{BenchEv, SparkEntry, Tables}
import graft.streaming.Streams

/** One item's outcome: its timed requests and its result check. */
final case class Rec(timed: Seq[Map[String, Any]], check: Option[Map[String, Any]])

/** A workload's items: names of `SparkEntry.queries`, and
  * `stream:<scenario>` for a streaming replay. */
final class Workload(spark: SparkSession, data: String, names: Seq[String],
    dump: Option[String], passes: Int) {
  private val queries = new Queries(spark, data, names.filterNot(_.startsWith("stream:")), dump)
  private val replays = new Replays(spark, data, passes)

  def run(pass: Int, name: String, trace: Option[Trace], parent: Int): Rec =
    if (name.startsWith("stream:")) replays.run(pass, name, trace, parent)
    else queries.run(pass, name, trace, parent)

  /** Writes the oracle SQL of the dumped queries (record mode). */
  def dumpOracles(): Unit = queries.dumpOracles()

  /** Stops the streaming queries. */
  def close(): Unit = replays.close()
}

object Workload {
  def ms(t0: Long, nanos: Long): Long = t0 + nanos / 1000000L
  def error(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
}

/** Queries of `SparkEntry.queries`, each built and then fully collected. */
final class Queries(spark: SparkSession, data: String, names: Seq[String],
    dump: Option[String]) {
  private val sc = spark.sparkContext
  private val unknown = names.filterNot(SparkEntry.queries.contains)
  require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")

  def run(pass: Int, name: String, trace: Option[Trace], parent: Int): Rec = {
    val group = s"p$pass/$name"
    val fn = SparkEntry.queries(name)
    val e0 = System.currentTimeMillis()
    val c0 = Main.cpuNs()
    val t0 = System.nanoTime()
    var t1 = t0
    var t2 = t0
    var c2 = c0
    var check = Map[String, Any]("name" -> name, "ok" -> false)
    var plan = Map.empty[String, Any]
    if (trace.isDefined) sc.setJobGroup(s"$group/build", name, interruptOnCancel = false)
    try {
      val df = fn(spark, data)
      t1 = System.nanoTime()
      if (trace.isDefined) sc.setJobGroup(s"$group/action", name, interruptOnCancel = false)
      val rows = df.collect()
      t2 = System.nanoTime()
      c2 = Main.cpuNs()
      sc.clearJobGroup()
      check = Map("name" -> name, "ok" -> true, "rows" -> rows.length,
        "fp" -> Fingerprint.of(df.schema, rows))
      dump.foreach { d =>
        spark.createDataFrame(rows.toSeq.asJava, df.schema).coalesce(1)
          .write.mode("overwrite").parquet(s"$d/$name")
      }
      trace.foreach { t =>
        val exec = df.queryExecution.executedPlan
        val (nodes, exchanges, topk) = Main.PlanWalk.stats(exec)
        org.apache.spark.PerfbenchBus.drain(sc)
        val text = t.takePlans() :+ exec.toString
        plan = Map("plans.nodes" -> nodes, "plans.exchanges" -> exchanges,
          "plans.grouped_topk" -> topk,
          "functions" -> text.exists(p => p.contains("graft_dot(") || p.contains("graft_l2sq(")))
      }
    } catch {
      case e: Throwable =>
        if (t1 == t0) t1 = System.nanoTime()
        if (t2 == t0) { t2 = System.nanoTime(); c2 = Main.cpuNs() }
        check = check + ("error" -> Workload.error(e))
    } finally sc.clearJobGroup()
    val (b, a, q) = (Workload.ms(e0, t1 - t0), Workload.ms(e0, t2 - t0), Workload.ms(e0, 0))
    trace.foreach { t =>
      val qs = t.span(parent, "query", name, q, a)
      t.bindGroup(s"$group/build", t.span(qs, "build", name, q, b))
      t.bindGroup(s"$group/action", t.span(qs, "action", name, b, a))
    }
    Rec(Seq(Map("name" -> name, "build_s" -> (t1 - t0) / 1e9,
      "action_s" -> (t2 - t1) / 1e9, "latency_s" -> (t2 - t0) / 1e9,
      "cpu_s" -> (c2 - c0) / 1e9,
      "start_ms" -> q, "end_ms" -> a, "ok" -> check("ok")) ++ plan), Some(check))
  }

  def dumpOracles(): Unit = dump.foreach { d =>
    val oracles = SparkEntry.oracleSql.filter { case (k, _) => names.contains(k) }
    java.nio.file.Files.writeString(new java.io.File(d, "oracle_sql.json").toPath,
      Main.json(oracles))
  }
}

/** Scenarios of `graft.streaming.Streams` as long-running streaming
  * queries on the RocksDB state store, writing to a memory sink. Each
  * scenario's query starts on its first item and lives for the rest of the
  * run, as a streaming query does; every item feeds it the next `batches`
  * micro-batches of `batchRows` input rows (events in `event_id` order, or
  * the documents' band keys) and waits for each to be processed. The
  * item's check fingerprints the sink's whole output so far, so it is named
  * after the pass (`stream:<scenario>#<pass>`). A micro-batch costs half a
  * second to a second, most of it state-store commit work, so one per pass
  * is what the run's time allows. */
final class Replays(spark: SparkSession, data: String, passes: Int) {
  import spark.implicits._
  private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
  private val batchRows = 1000
  private val batches = 1
  /** Input rows the run's passes will feed each scenario. */
  private val needed = batchRows * batches * passes

  private lazy val events: Array[BenchEv] = Tables(spark, data, "events")
    .select("event_id", "ts", "user_id", "event_type", "value")
    .orderBy("event_id").limit(needed).as[BenchEv].collect()
  private lazy val bands: Array[Streams.BandKeyRow] =
    graft.queries.Llm.bandKeyFrame(spark, data)
      .selectExpr("CAST(band_id AS INT) AS band_id", "bkey", "doc_id")
      .orderBy("doc_id", "band_id").limit(needed).as[Streams.BandKeyRow].collect()

  /** Confs of the streaming queries only: the batch queries keep the
    * session's default state store. */
  private val streamConf = Seq(
    "spark.sql.streaming.stateStore.providerClass" ->
      "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider",
    "spark.sql.streaming.stateStore.rocksdb.trackTotalNumberOfRows" -> "true",
    "spark.sql.streaming.forceDeleteTempCheckpointLocation" -> "true")

  /** A running scenario: its query, its input, and how much it has read. */
  private final class Live[T](val name: String, val q: StreamingQuery,
      val feed: Seq[T] => Unit, val rows: Array[T]) {
    var next = 0
    var lastBatch = -1L
  }
  private val live = mutable.Map.empty[String, Live[_]]

  private def start[T: Encoder](name: String, rows: Array[T])(
      mk: Dataset[T] => DataFrame): Live[T] = {
    val saved = streamConf.map { case (k, _) => k -> spark.conf.getOption(k) }
    streamConf.foreach { case (k, v) => spark.conf.set(k, v) }
    val mem = MemoryStream[T]
    val q = try mk(mem.toDS()).writeStream.format("memory").queryName(s"pb_$name")
      .outputMode("append").start()
    finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
    new Live[T](name, q, (c: Seq[T]) => { mem.addData(c); () }, rows)
  }

  private def scenario(name: String): Live[_] = live.getOrElseUpdate(name, name match {
    case "session" => start(name, events)(ds =>
      Streams.sessionTimers(ds.toDF().select("event_id", "ts", "user_id")).toDF())
    case "kalman" => start(name, events)(ds =>
      Streams.kalmanTws(ds.toDF().select("user_id", "event_id", "value")
        .as[Streams.ValObs]).toDF())
    case "multitouch" => start(name, events)(ds =>
      Streams.attributionMultiTws(ds.toDF().selectExpr("user_id", "event_id",
        "event_type", "CAST(unix_micros(ts) div 1000000 AS BIGINT) AS es")
        .as[Streams.AttrEvent]).toDF())
    case "bandcollide" => start(name, bands)(ds => Streams.bandCollide(ds).toDF())
    case other => sys.error(s"unknown scenario $other")
  })

  def run(pass: Int, item: String, trace: Option[Trace], parent: Int): Rec = {
    val s = scenario(item.stripPrefix("stream:"))
    feed(pass, item, s, trace, parent)
  }

  private def feed[T](pass: Int, item: String, s: Live[T], trace: Option[Trace],
      parent: Int): Rec = {
    val chunks = (0 until batches).map { _ =>
      val c = s.rows.slice(s.next, s.next + batchRows)
      s.next += c.length
      c.toSeq
    }.filter(_.nonEmpty)
    val s0 = System.currentTimeMillis()
    val c0 = Main.cpuNs()
    val n0 = System.nanoTime()
    val timed = chunks.map { c =>
      val e0 = System.currentTimeMillis()
      val t0 = System.nanoTime()
      s.feed(c)
      s.q.processAllAvailable()
      (e0, System.nanoTime() - t0)
    }
    val dt = System.nanoTime() - n0
    val cpu = Main.cpuNs() - c0
    val s1 = Workload.ms(s0, dt)
    trace.foreach { t =>
      val id = t.span(parent, "query", item, s0, s1)
      timed.zipWithIndex.foreach { case ((e0, d), i) =>
        val e1 = Workload.ms(e0, d)
        t.bindWindow(e0, e1, t.span(id, "batch", s"${s.name}#$i", e0, e1))
      }
    }
    val progress = s.q.recentProgress.toSeq.filter(_.batchId > s.lastBatch).map { p =>
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }
      val ops = p.stateOperators.toSeq
      def custom(k: String) = ops.flatMap(o => Option(o.customMetrics.get(k)))
        .map(_.longValue).sum
      Map[String, Any](
        "trigger_ms" -> d.getOrElse("triggerExecution", 0L),
        "add_batch_ms" -> d.getOrElse("addBatch", 0L),
        "planning_ms" -> d.getOrElse("queryPlanning", 0L),
        "wal_commit_ms" -> d.getOrElse("walCommit", 0L),
        "commit_offsets_ms" -> d.getOrElse("commitOffsets", 0L),
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mb" -> ops.map(_.memoryUsedBytes).sum / 1e6,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "state_update_ms" -> ops.map(_.allUpdatesTimeMs).sum,
        "rocksdb_sst_mb" -> custom("rocksdbSstFileSize") / 1e6,
        "rocksdb_written_mb" -> custom("rocksdbTotalBytesWritten") / 1e6)
    }
    s.q.recentProgress.lastOption.foreach(p => s.lastBatch = p.batchId)
    val name = s"$item#$pass"
    val check =
      try {
        val out = spark.table(s"pb_${s.name}")
        val res = out.collect()
        Map[String, Any]("name" -> name, "ok" -> s.q.exception.isEmpty,
          "rows" -> res.length, "fp" -> Fingerprint.of(out.schema, res),
          "progress" -> progress)
      } catch {
        case e: Throwable => Map[String, Any]("name" -> name, "ok" -> false,
          "error" -> Workload.error(e))
      }
    Rec(Seq(Map[String, Any]("name" -> item, "latency_s" -> dt / 1e9, "cpu_s" -> cpu / 1e9,
      "rows" -> chunks.map(_.length).sum, "batches_s" -> timed.map(_._2 / 1e9),
      "start_ms" -> s0, "end_ms" -> s1, "ok" -> true)), Some(check))
  }

  def close(): Unit = live.values.foreach(_.q.stop())
}
