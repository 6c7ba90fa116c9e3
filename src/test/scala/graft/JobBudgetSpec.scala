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
  private def jobs(query: String, tables: String*): Int = {
    tables.foreach(t => Tables(spark, sf, t).count())
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
      assert(SparkEntry.queries(query)(spark, sf).collect().nonEmpty)
      GraftTestBus.drain(sc)
      n.get
    } finally {
      sc.clearJobGroup()
      sc.removeSparkListener(counter)
    }
  }

  test("q_llm_chi2_terms: one corpus pass and an unsampled final sort in <= 5 jobs") {
    val n = jobs("q_llm_chi2_terms", "documents")
    assert(n <= 5, s"$n jobs")
  }

  test("q_sink_custom_dsv2: write, partial and final rollup in <= 3 jobs") {
    val n = jobs("q_sink_custom_dsv2", "orders")
    assert(n <= 3, s"$n jobs")
  }
}
