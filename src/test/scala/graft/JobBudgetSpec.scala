package graft

import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.GraftTestBus
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** Spark jobs per query, counted from the query call through `collect`.
  * On report-sized results a job's fixed cost (scheduling, per-stage
  * code generation, JIT warm-up) outweighs its rows, so the job count is
  * the cost unit these budgets pin. The base tables are loaded into the
  * cache first, as a warm pass finds them. */
class JobBudgetSpec extends SparkSpec {
  /** Jobs that `body` runs, counted through the job group of `query`. */
  private def counted(query: String)(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"job-budget/$query"
    val n = new AtomicInteger
    val counter = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        if (Option(e.properties).exists(_.getProperty("spark.jobGroup.id") == group))
          n.incrementAndGet()
    }
    GraftTestBus.drain(sc)
    sc.addSparkListener(counter)
    sc.setJobGroup(group, query, interruptOnCancel = false)
    try {
      body
      GraftTestBus.drain(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  private def jobs(query: String, tables: Seq[String], dir: String = sf,
      session: org.apache.spark.sql.SparkSession = spark): Int = {
    tables.foreach(t => Tables(session, dir, t).count())
    counted(query)(assert(SparkEntry.queries(query)(session, dir).collect().nonEmpty))
  }

  /** Jobs that run while `query`'s DataFrame is built, with no action, in
    * a fresh session (nothing memoized) whose base tables and co-purchase
    * edges are already cached: the operator's own eager work. */
  private def buildJobs(query: String): Int = {
    val ns = spark.newSession()
    try {
      Seq("orders", "lineitem").foreach(t => Tables(ns, sf, t).count())
      queries.U.coPurchaseEdges(ns, sf).count()
      counted(query)(SparkEntry.queries(query)(ns, sf))
    } finally Memo.clear(ns)
  }

  test("q_llm_chi2_terms: one corpus pass and an unsampled final sort in <= 5 jobs") {
    val n = jobs("q_llm_chi2_terms", Seq("documents"))
    assert(n <= 5, s"$n jobs")
  }

  test("q_sink_custom_dsv2: write, partial and final rollup in <= 3 jobs") {
    val n = jobs("q_sink_custom_dsv2", Seq("orders"))
    assert(n <= 3, s"$n jobs")
  }

  test("q_wl_shipping_priority: segment semi join and top-10 in <= 4 jobs") {
    val n = jobs("q_wl_shipping_priority", Seq("customer", "orders", "lineitem"))
    assert(n <= 4, s"$n jobs")
  }

  // at sf0.001 the report is one row and adaptive execution drops any
  // sort of it, so the budget is taken where it has five
  test("q_wl_local_volume: five joins and an unsampled final sort in <= 7 jobs at sf0.01") {
    val n = jobs("q_wl_local_volume",
      Seq("region", "nation", "customer", "supplier", "orders", "lineitem"),
      "/root/testdata/sf0.01")
    assert(n <= 7, s"$n jobs")
  }

  // a fresh session has no memoized quantizer, so the count covers the
  // cold first call: the coarse model, the residuals, the M codebooks
  // trained as one chain keyed by subspace, the ADC frame and the action
  test("q_llm_simsearch_pq: cold first call, build and action, in <= 47 jobs") {
    val n = jobs("q_llm_simsearch_pq", Seq("embeddings"), session = spark.newSession())
    assert(n <= 47, s"$n jobs")
  }

  // the community operators cut their round loops with localCheckpoints,
  // which run the shuffle stages beneath them at build under adaptive
  // execution. Label propagation and modularity build in 18 jobs every
  // time. The Louvain builds do not repeat exactly: over 10-19 identical
  // runs each, louvain took 89-91 jobs, louvain_coarse 92-96,
  // louvain_full 256-265 and conductance 93-96, every job running one
  // stage, so timing decides how many stages run. Their budget is the
  // largest count seen plus that spread; a rise smaller than the spread
  // cannot be told from timing.
  for ((q, budget) <- Seq("q_graph_label_prop" -> 18, "q_graph_modularity" -> 18,
      "q_graph_louvain" -> 93, "q_graph_louvain_coarse" -> 100,
      "q_graph_louvain_full" -> 274, "q_graph_conductance" -> 99))
    test(s"$q: built in a fresh session in <= $budget jobs") {
      val n = buildJobs(q)
      assert(n <= budget, s"$n jobs")
    }
}
