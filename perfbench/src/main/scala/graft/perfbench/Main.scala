package graft.perfbench

import java.io.File
import java.lang.management.{ManagementFactory, MemoryType}
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import org.apache.spark.PerfbenchBus
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import graft.Tables

/** One benchmark run, in a fresh JVM started by `perfbench/run.py`.
  *
  * Sets the session up once from JVM start and then `--setups` more times
  * from a stopped session (each set-up makes a new SparkContext and loads
  * the base tables the workload reads, `--tables`, into the `Tables`
  * cache), then
  * runs passes over the workload's items in a closed loop with one client:
  * pass 0 is the cold pass and the rest are the `--warm` timed warm passes.
  * The cold pass visits the items in their listed order; each warm pass in
  * an order drawn from `--seed`.
  *
  * An item is a query of `SparkEntry.queries` (timed from the call of the
  * query function, which includes its eager checkpoints and sink writes, to
  * the end of an action that collects every row and column of the result,
  * final sort included), or `stream:<scenario>`, a long-running streaming
  * query fed a few micro-batches per pass (see [[Replays]]). Every result
  * is fingerprinted outside the timed interval.
  *
  * The run writes a JSON report (`--report`) that `run.py` turns into
  * metrics. With `--trace 1` it attaches a [[Trace]] to the cold pass and to
  * half of the warm passes, so the tracing overhead is measured in the same
  * JVM, and writes the spans to `--spans`. With `--dump <dir>` it also
  * writes each query result as parquet, with the queries' oracle SQL, for
  * `record.py`.
  */
object Main {
  final case class Opts(kv: Map[String, String]) {
    def apply(k: String): String = kv.getOrElse(k, sys.error(s"missing --$k"))
    def items: Seq[String] = list("items")
    def tables: Seq[String] = list("tables")
    private def list(k: String): Seq[String] = this(k).split(",").toSeq.filter(_.nonEmpty)
    def trace: Boolean = kv.get("trace").contains("1")
  }

  def parse(args: Array[String]): Opts = Opts(
    args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap)

  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt)
    .getOrElse(Runtime.getRuntime.availableProcessors)

  def session(): SparkSession = {
    val b = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
    val s = b.getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  private def now(): Long = System.currentTimeMillis()

  def json(v: Any): String = org.json4s.jackson.Serialization.write(v.asInstanceOf[AnyRef])(
    org.json4s.DefaultFormats)

  def storageMb(spark: SparkSession): Double =
    spark.sparkContext.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6

  /** Heap occupancy right after the last collection of each pool. */
  def heapAfterGcMb(): Double = ManagementFactory.getMemoryPoolMXBeans.asScala
    .filter(p => p.getType == MemoryType.HEAP && p.getCollectionUsage != null)
    .map(_.getCollectionUsage.getUsed).sum / 1e6

  def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** CPU time of the whole JVM, all threads. */
  def cpuNs(): Long = ManagementFactory.getOperatingSystemMXBean match {
    case os: com.sun.management.OperatingSystemMXBean => os.getProcessCpuTime
    case _ => 0L
  }

  def codegen(): (Long, Double) = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getCount * h.getSnapshot.getMean / 1000.0)
  }

  /** (steal ticks, all ticks) of the aggregate cpu line of /proc/stat. */
  def procStat(): (Long, Long) =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val v = try src.getLines().next().trim.split("\\s+").drop(1).map(_.toLong)
      finally src.close()
      (if (v.length > 7) v(7) else 0L, v.sum)
    } catch { case _: Throwable => (0L, 0L) }

  def load1(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.getLines().next().split("\\s+")(0).toDouble finally src.close()
    } catch { case _: Throwable => -1.0 }

  /** (bytes, files modified since `since`, their bytes) of a directory tree. */
  def du(f: File, since: Long): (Long, Int, Long) =
    if (f.isDirectory) Option(f.listFiles).toSeq.flatten.map(du(_, since))
      .foldLeft((0L, 0, 0L))((a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3))
    else if (f.isFile) {
      val fresh = f.lastModified >= since
      (f.length, if (fresh) 1 else 0, if (fresh) f.length else 0L)
    } else (0L, 0, 0L)

  /** Loads base tables into the `Tables` cache, concurrently (one Spark
    * job each, sharing the session's cores). */
  def loadTables(spark: SparkSession, data: String, tables: Seq[String]): Unit = {
    val unknown = tables.filterNot(Tables.names.contains)
    require(unknown.isEmpty, s"unknown tables: ${unknown.mkString(", ")}")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(tables.size)
    try tables
      .map(t => pool.submit(new java.util.concurrent.Callable[Long] {
        def call(): Long = Tables(spark, data, t).count()
      }))
      .foreach(_.get())
    finally pool.shutdown()
  }

  object PlanWalk extends AdaptiveSparkPlanHelper {
    /** Every node of a final executed plan, with its subqueries and the
      * plans of the cached relations it reads. */
    def nodes(p: SparkPlan): Seq[SparkPlan] =
      collectWithSubqueries(p) { case n => n }.flatMap {
        case i: InMemoryTableScanExec => i +: nodes(i.relation.cachedPlan)
        case n => Seq(n)
      }

    /** (nodes, exchanges, GroupedTopK nodes) of a final executed plan. */
    def stats(p: SparkPlan): (Int, Int, Int) = {
      val all = nodes(p)
      (all.size,
        all.count(n => n.isInstanceOf[ShuffleExchangeLike] ||
          n.isInstanceOf[BroadcastExchangeLike]),
        all.count(_.getClass.getSimpleName == "GroupedTopKExec"))
    }
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val data = o("data")
    val jvmStart = ManagementFactory.getRuntimeMXBean.getStartTime

    // ---- set-up: once from JVM start, then repeated from a stopped session
    val setups = mutable.ArrayBuffer.empty[Double]
    val tableLoads = mutable.ArrayBuffer.empty[Double]
    var spark: SparkSession = null
    (0 to o("setups").toInt).foreach { i =>
      if (spark != null) {
        graft.Memo.clear(spark)
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
      }
      val t0 = if (i == 0) jvmStart else now()
      spark = session()
      val l0 = now()
      loadTables(spark, data, o.tables)
      tableLoads += (now() - l0) / 1e3
      setups += (now() - t0) / 1e3
    }
    val tablesMb = storageMb(spark)
    val sc = spark.sparkContext
    val trace = if (o.trace) Some(new Trace) else None
    val runStart = now()
    val runSpan = trace.map(_.span(0, "run", o("workload"), runStart, runStart)).getOrElse(0)

    val items = o.items
    val rtDir = new File(System.getProperty("java.io.tmpdir"), "graft_rt")
    // pass 0 is the cold pass; a traced run makes twice the warm passes,
    // half of them traced
    val nPasses = 1 + o("warm").toInt * (if (trace.isDefined) 2 else 1)
    val workload = new Workload(spark, data, items, o.kv.get("dump"), nPasses)
    val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
    // warm passes go untraced, traced, traced, untraced, ...: the pairs
    // cancel most of a drift of pass times over the run
    def traced(p: Int): Boolean = trace.isDefined && (p == 0 || Set(2, 3)(p % 4))
    (0 until nPasses).foreach { pass =>
      val on = traced(pass)
      trace.foreach(t => if (on) sc.addSparkListener(t) else sc.removeSparkListener(t))
      // the cold pass keeps the listed order, so what a one-shot job pays
      // does not depend on the seed; each warm pass has its own order
      val order =
        if (pass == 0) items
        else new scala.util.Random(o("seed").toLong * 1000003L + pass).shuffle(items)
      val gc0 = gcMs()
      val cpu0 = cpuNs()
      val (cg0, cgs0) = codegen()
      val (st0, tot0) = procStat()
      ManagementFactory.getMemoryPoolMXBeans.asScala.foreach(_.resetPeakUsage())
      val p0 = now()
      var loadMax = load1()
      val passSpan = trace.filter(_ => on).map(_.span(runSpan, "pass", s"pass $pass", p0, p0))
      val recs = order.map { name =>
        val r = workload.run(pass, name, if (on) trace else None, passSpan.getOrElse(0))
        loadMax = math.max(loadMax, load1())
        r
      }
      val timed = recs.flatMap(_.timed)
      passSpan.foreach(id => trace.get.end(id, now()))
      def total(k: String) = timed.map(_(k).asInstanceOf[Double]).sum
      val wall = total("latency_s")
      val (cg1, cgs1) = codegen()
      val (st1, tot1) = procStat()
      val layer = mutable.LinkedHashMap[String, Any](
        "memo.persisted_rdds" -> sc.getPersistentRDDs.size,
        "memo.storage_mb" -> math.max(0.0, storageMb(spark) - tablesMb),
        "codegen.compiles" -> (cg1 - cg0),
        "codegen.compile_s" -> math.max(0.0, cgs1 - cgs0),
        "jvm.gc_s" -> (gcMs() - gc0) / 1e3,
        "jvm.cpu_s" -> (cpuNs() - cpu0) / 1e9,
        "jvm.heap_peak_mb" -> ManagementFactory.getMemoryPoolMXBeans.asScala
          .filter(_.getType == MemoryType.HEAP).map(_.getPeakUsage.getUsed).sum / 1e6,
        "host.steal_pct" -> (if (tot1 > tot0) 100.0 * (st1 - st0) / (tot1 - tot0) else 0.0),
        "host.load1_max" -> loadMax)
      // the sink tables' directory: what is on disk after the pass, and
      // what the pass wrote there
      val (diskB, files, freshB) = du(rtDir, p0)
      layer ++= Seq("sources.disk_mb" -> diskB / 1e6, "sources.files_written" -> files,
        "sources.bytes_written_mb" -> freshB / 1e6)
      if (on) trace.foreach { t =>
        PerfbenchBus.drain(sc)
        layer ++= Exec.passLayer(t, s"p$pass/", timed, wall, cpus)
      }
      passes += Map("pass" -> pass, "traced" -> on, "wall_s" -> wall, "cpu_s" -> total("cpu_s"),
        "items" -> timed, "checks" -> recs.flatMap(_.check), "layer" -> layer)
    }
    workload.close()

    trace.foreach { t => sc.removeSparkListener(t); t.end(runSpan, now()) }
    // full collections until the heap left after one stops shrinking: the
    // first frees the results of the last passes, and Spark's
    // ContextCleaner then drops the broadcast and shuffle blocks they
    // owned, asynchronously, so later collections find more garbage
    def collect(): Double = { System.gc(); Thread.sleep(300); heapAfterGcMb() }
    val retained = Iterator.iterate(collect())(_ => collect()).sliding(2)
      .take(10).find { case Seq(a, b) => a - b < 1.0 }.map(_(1)).getOrElse(collect())
    val report = Map(
      "jvm_setup_s" -> setups.head, "setup_s" -> setups.tail,
      "jvm_tables_load_s" -> tableLoads.head, "tables.load_s" -> tableLoads.tail,
      "tables.cached_mb" -> tablesMb,
      "retained_heap_mb" -> retained, "cpus" -> cpus, "passes" -> passes)
    java.nio.file.Files.writeString(new File(o("report")).toPath, json(report))
    trace.foreach { t =>
      PerfbenchBus.drain(sc)
      val spans = t.allSpans().map(s => Map("id" -> s.id, "parent" -> s.parent,
        "kind" -> s.kind, "name" -> s.name, "start_ms" -> s.start, "end_ms" -> s.end))
      java.nio.file.Files.writeString(new File(o("spans")).toPath, json(spans))
    }
    workload.dumpOracles()
    spark.stop()
  }
}
