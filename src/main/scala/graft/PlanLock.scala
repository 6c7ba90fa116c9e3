package graft

import org.apache.spark.sql.SparkSession

/** Physical-plan SHAPE lock for the whole declared surface.
  *
  * PlanSpec's targeted guards pin the plans that were HAND-audited;
  * this locks everything else: each query's executed-plan operator
  * histogram (operator name → count, ids/sizes/exprs stripped) is
  * committed to `PLANS.lock`, and PlanLockSpec fails when any query's
  * shape drifts — the silent regressions a 317-query library can't
  * re-audit by hand each round (a broadcast join decaying to
  * sort-merge, an extra Exchange, a lost pushdown collapsing into a
  * post-scan Filter, a window appearing where a heap used to be).
  *
  * The fingerprint is deliberately COARSE: operator node names and
  * counts only, collected by WALKING the physical tree (argument
  * lists, expression ids, statistics, partition counts and file paths
  * never enter), so it changes exactly when the plan's OPERATOR
  * structure changes. Two descent rules keep it STATE-INDEPENDENT
  * (round 10 — the r9 string parse descended into whatever the plan
  * happened to print, so a cached frame's materialization state leaked
  * QueryStage nodes into the fingerprint and made it depend on which
  * queries ran first in the session):
  *  - AdaptiveSparkPlan descends into its INPUT plan — the shape
  *    Catalyst chose before AQE's runtime replanning, the same plan
  *    whether or not the query (or any shared cached frame) has run;
  *  - InMemoryTableScan is a LEAF — a memoized frame's internal
  *    lineage is not this query's shape (its own consumers pin it),
  *    and its printed form flips between logical lineage and executed
  *    stages depending on materialization state.
  * Plans are built (never executed) at the spec's sf0.001 fixture
  * under the shared test session.
  *
  * Maintenance contract: an INTENDED plan change regenerates the lock
  * (`runMain graft.PlanLock` — writes PLANS.lock in place) in the same
  * commit, which makes plan changes reviewable as diffs. If the driver
  * regenerates the testdata, borderline size-based join strategies may
  * legitimately flip: re-gate and regenerate (the SURVEY §2 re-gate
  * rule).
  */
object PlanLock {

  /** "Name×count" histogram of plan-tree operator names, sorted — the
    * shape fingerprint (tree walk; see the descent rules above). */
  def fingerprint(plan: org.apache.spark.sql.execution.SparkPlan): String = {
    import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    def walk(p: org.apache.spark.sql.execution.SparkPlan): Iterator[String] = {
      val kids: Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
        case a: AdaptiveSparkPlanExec => Seq(a.inputPlan)
        case q: QueryStageExec => Seq(q.plan)
        case _: InMemoryTableScanExec => Nil
        case o => o.children
      }
      Iterator(p.nodeName) ++ kids.iterator.flatMap(walk)
    }
    walk(plan).toSeq.groupBy(identity).toSeq.sortBy(_._1)
      .map { case (n, v) => s"$n x${v.size}" }.mkString(", ")
  }

  def fingerprintOf(spark: SparkSession, sfDir: String,
      name: String): String =
    fingerprint(SparkEntry.queries(name)(spark, sfDir)
      .queryExecution.executedPlan)

  def main(args: Array[String]): Unit = {
    val sfDir = if (args.nonEmpty) args(0) else "/root/testdata/sf0.001"
    // the TEST session (SparkSpec) comes from the same builder with the
    // same 4 cores, so the lock regenerated here is the one compared
    // there, whatever core count the caller's environment asks for
    val spark = GraftSession.builder(4).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val out = SparkEntry.queries.keys.toSeq.sorted.map { name =>
      val fp =
        try fingerprintOf(spark, sfDir, name)
        catch { case e: Throwable => s"ERROR ${e.getClass.getSimpleName}" }
      s"$name\t$fp"
    }
    java.nio.file.Files.write(java.nio.file.Paths.get("PLANS.lock"),
      (out.mkString("", "\n", "\n")).getBytes("UTF-8"))
    println(s"""{"plans_locked":${out.size},"file":"PLANS.lock"}""")
    spark.stop()
  }
}
