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
  private def jobs(query: String, tables: Seq[String], dir: String = sf,
      session: org.apache.spark.sql.SparkSession = spark): Int = {
    tables.foreach(t => Tables(session, dir, t).count())
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
      assert(SparkEntry.queries(query)(session, dir).collect().nonEmpty)
      GraftTestBus.drain(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
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
}
