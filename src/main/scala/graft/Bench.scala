package graft

object Bench {
  /** Host steal meter: (steal ticks, total ticks) from `/proc/stat`'s
    * aggregate cpu line. On a multi-tenant host, hypervisor CPU steal is
    * the documented cause of the 0.5 s ↔ 240 s same-code bench swings
    * (BASELINE.md variance note): Janino codegen compiles stall when the
    * vCPU is held. Sampling the counter per query makes an inflated
    * artifact self-diagnosing — a slow query with a large steal delta is
    * the environment, not the plan. */
  private def procSteal(): (Long, Long) = {
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      val line = try src.getLines().next() finally src.close()
      val v = line.trim.split("\\s+").drop(1).map(_.toLong)
      (if (v.length > 7) v(7) else 0L, v.sum)
    } catch { case _: Throwable => (0L, 0L) }
  }

  /** Host load meter (round 14): (1-min load average, runnable tasks)
    * from `/proc/loadavg`. The r13 close showed wall inflating 18–60 %
    * at near-zero REPORTED steal — ambient host load (CPU contention
    * without hypervisor steal) is invisible to the steal counter but
    * shows directly in the load average and the runqueue. Sampled per
    * query and summarized, so the artifact is self-diagnosing: a slow
    * draw with load1 ≫ cores-used is the environment, not the plans. */
  private def procLoad(): (Double, Long) = {
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      val line = try src.getLines().next() finally src.close()
      val f = line.trim.split("\\s+")
      (f(0).toDouble, f(3).split("/")(0).toLong)
    } catch { case _: Throwable => (-1.0, -1L) }
  }

  /** Whole-stage-codegen compile telemetry: (compile count, approx total
    * compile ms) from Spark's public `CodegenMetrics` source. The count
    * is exact; the total is count×reservoir-mean (dropwizard histograms
    * don't expose a sum). A warm query whose compile count still moves is
    * re-compiling; a large ms total alongside a steal delta is the
    * codegen-stall-under-steal signature. */
  private def codegenStats(): (Long, Double) = {
    try {
      val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
      val n = h.getCount
      (n, n * h.getSnapshot.getMean)
    } catch { case _: Throwable => (0L, 0.0) }
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.builder().getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (steal0, total0) = procSteal()
    // Warm-up pass: materializes the table caches and triggers
    // whole-stage-codegen compilation + JIT so the timed pass below
    // measures steady-state query throughput rather than one-time
    // session costs. The protocol is unchanged — the
    // printed totals are still the per-query wall time of count() on the
    // WARM pass — but the cold pass is now timed too and recorded in
    // bench_full.json, so a cold/warm split (first-run codegen + cache
    // build vs steady state) is visible per query in the artifact.
    val cold = scala.collection.mutable.Map.empty[String, Double]
    SparkEntry.queries.foreach { case (name, fn) =>
      val t0 = System.nanoTime()
      try fn(spark, sfDir).count() catch { case _: Throwable => () }
      cold(name) = (System.nanoTime() - t0) / 1e9
    }
    // Shuffle diagnostics: a listener tallies shuffle bytes per stage;
    // sequential execution attributes each window to its query. Purely
    // advisory (bench_full.json only — stdout format unchanged); the
    // short drain sleep bounds listener-bus lag, and any listener failure
    // leaves the timing loop untouched.
    val shuffleBytes = new java.util.concurrent.atomic.AtomicLong(0L)
    try spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onStageCompleted(
            sc: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          val m = sc.stageInfo.taskMetrics
          if (m != null) shuffleBytes.addAndGet(
            m.shuffleReadMetrics.totalBytesRead + m.shuffleWriteMetrics.bytesWritten)
          ()
        }
      })
    catch { case _: Throwable => () }
    val failed = scala.collection.mutable.ListBuffer.empty[String]
    val shuffles = scala.collection.mutable.Map.empty[String, Long]
    val stealTicks = scala.collection.mutable.Map.empty[String, Long]
    val codegenN = scala.collection.mutable.Map.empty[String, Long]
    val codegenMs = scala.collection.mutable.Map.empty[String, Double]
    val load1 = scala.collection.mutable.Map.empty[String, Double]
    val (loadStart, _) = procLoad()
    var loadMax = loadStart
    var runqMax = -1L
    val results = SparkEntry.queries.map { case (name, fn) =>
      val s0 = shuffleBytes.get()
      val (st0, _) = procSteal()
      val (cg0, cgms0) = codegenStats()
      val t0 = System.nanoTime()
      try { fn(spark, sfDir).count() }
      catch { case _: Throwable => failed += name }
      val dt = (System.nanoTime() - t0) / 1e9
      stealTicks(name) = procSteal()._1 - st0
      val (l1, rq) = procLoad()
      load1(name) = l1
      if (l1 > loadMax) loadMax = l1
      if (rq > runqMax) runqMax = rq
      val (cg1, cgms1) = codegenStats()
      codegenN(name) = cg1 - cg0
      codegenMs(name) = math.max(0.0, cgms1 - cgms0)
      try { Thread.sleep(30) } catch { case _: Throwable => () }
      shuffles(name) = shuffleBytes.get() - s0
      name -> dt
    }
    val (loadEnd, _) = procLoad()
    val total = if (results.nonEmpty) results.values.sum else 0.0
    val (steal1, total1) = procSteal()
    val stealDelta = steal1 - steal0
    val stealPct =
      if (total1 > total0) 100.0 * stealDelta / (total1 - total0) else 0.0
    val (cgCount, cgMs) = codegenStats()
    // Locale.ROOT: a comma decimal separator from a non-English default
    // locale would make the JSON line unparseable.
    def r3(v: Double): String =
      String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))
    val bySlow = results.toSeq.sortBy(-_._2)
    val full = bySlow.map { case (k, v) => s"\"$k\":${r3(v)}" }
    val failedJson = failed.map("\"" + _ + "\"").mkString("[", ",", "]")
    // The harness that scrapes this output keeps only a bounded tail of
    // stdout (2000 chars observed), and 100+ per-query entries overflow it,
    // leaving the line unparseable. So: the FULL per-query map goes to
    // bench_full.json next to the repo, and the single stdout JSON line
    // reports the total plus the longest slowest-first PREFIX of per-query
    // entries that fits a 1500-char budget (a prefix, so n_shown/rest_sum
    // partition the suite exactly).
    // Compile-normalized total (round 11): warm-pass Janino compile time
    // summed from the per-query histogram deltas and subtracted from the
    // wall total — the per-query constant that dominates at sf0.1 and
    // vanishes into noise at scale, separated so round-over-round
    // comparisons read data cost, not JIT constants.
    val warmCgSec = codegenMs.values.sum / 1000.0
    val totalMinusCodegen = math.max(0.0, total - warmCgSec)
    try {
      def m(f: String => String) = bySlow.map { case (k, _) => s""""$k":${f(k)}""" }
      val shufMb = m(k => r3(shuffles.getOrElse(k, 0L) / 1e6))
      val coldJ = m(k => r3(cold.getOrElse(k, -1.0)))
      val stealJ = m(k => stealTicks.getOrElse(k, 0L).toString)
      val cgJ = m(k => codegenN.getOrElse(k, 0L).toString)
      val cgMsJ = m(k => r3(codegenMs.getOrElse(k, 0.0)))
      val loadJ = m(k => r3(load1.getOrElse(k, -1.0)))
      val fw = new java.io.FileWriter("bench_full.json")
      fw.write(s"""{"metric":"total","value":${r3(total)},"unit":"sec","total_minus_codegen":${r3(totalMinusCodegen)},"queries":${full.mkString("{", ",", "}")},"cold":${coldJ.mkString("{", ",", "}")},"shuffle_mb":${shufMb.mkString("{", ",", "}")},"steal_ticks":${stealJ.mkString("{", ",", "}")},"load1":${loadJ.mkString("{", ",", "}")},"codegen_compiles":${cgJ.mkString("{", ",", "}")},"codegen_ms":${cgMsJ.mkString("{", ",", "}")},"steal_ticks_total":$stealDelta,"steal_pct":${r3(stealPct)},"load1_start":${r3(loadStart)},"load1_end":${r3(loadEnd)},"load1_max":${r3(loadMax)},"runq_max":$runqMax,"codegen_compile_count":$cgCount,"codegen_compile_ms":${r3(cgMs)},"codegen_compile_ms_warm":${r3(warmCgSec * 1000)},"codegen_cache_max_entries":${spark.conf.get("spark.sql.codegen.cache.maxEntries")},"failed":$failedJson,"sf":"$sfDir"}""")
      fw.close()
    } catch { case _: Throwable => () }
    val budget = 1500
    var len = 0
    val shown = full.takeWhile { entry =>
      val fits = len + entry.length + 1 < budget
      if (fits) len += entry.length + 1
      fits
    }
    val restSum = bySlow.drop(shown.size).map(_._2).sum
    // stop FIRST, print LAST: the session's shutdown logging lands on
    // stderr before the println runs, so the JSON line is the process's
    // literal final output — the driver parses the tail of this run
    // (with build.sbt's unprefixed output strategy + suppressed
    // [success] banner; "parsed": null in every BENCH_r*.json was the
    // line drowning in wrapped log noise).
    spark.stop()
    // load1_* / runq_max (round 14): the steal counter under-reports
    // pure CPU contention (the r13 close's 18–60 % wall inflation at
    // ~0 % steal) — the load average and peak runqueue make a loaded
    // draw self-diagnosing from this one line.
    println(s"""{"metric":"total","value":${r3(total)},"unit":"sec","total_minus_codegen":${r3(totalMinusCodegen)},"queries":${shown.mkString("{", ",", "}")},"n_queries":${results.size},"n_shown":${shown.size},"rest_sum":${r3(restSum)},"steal_ticks":$stealDelta,"steal_pct":${r3(stealPct)},"load1_start":${r3(loadStart)},"load1_end":${r3(loadEnd)},"load1_max":${r3(loadMax)},"runq_max":$runqMax,"codegen_ms":${r3(cgMs)},"failed":$failedJson,"sf":"$sfDir"}""")
    System.out.flush()
  }
}
