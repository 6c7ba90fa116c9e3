package graft

/** SURVEY §5.2 — every declared query must be non-empty, schema-stable and
  * run-to-run deterministic (catches unordered output before the driver's
  * DuckDB hash compare does). */
class DeterminismSpec extends SparkSpec {

  SparkEntry.queries.foreach { case (name, fn) =>
    test(s"$name is non-empty and deterministic at sf0.001") {
      val r1 = fn(spark, sf)
      val schema1 = r1.schema
      val rows1 = r1.collect()
      assert(rows1.nonEmpty, s"$name returned 0 rows")
      val r2 = fn(spark, sf)
      assert(r2.schema == schema1, s"$name schema changed between runs")
      val rows2 = r2.collect()
      assert(rows1.length == rows2.length, s"$name row count changed")
      rows1.zip(rows2).zipWithIndex.foreach { case ((a, b), i) =>
        assert(a == b, s"$name row $i differs between runs: $a vs $b")
      }
    }
  }

  test("results are invariant to the shuffle partition count") {
    // the cluster-reality check: 4 shuffle partitions here, 11 in an
    // isolated sibling session — a query whose output depends on the
    // partitioning (float merge order, unordered collect, partition-local
    // ids) diverges. Representative slice: aggregation, window, dedup,
    // top-k, iterative graph, selection, time-series.
    val s2 = spark.newSession()
    s2.conf.set("spark.sql.shuffle.partitions", "11")
    val names = Seq("q_agg_groupby", "q_win_rank", "q_topk_per_group",
      "q_llm_dedup_near", "q_llm_dedup_simhash", "q_graph_pagerank",
      "q_agg_median_mode", "q_dq_outlier_exact", "q_ts_simsearch",
      "q_agg_regression", "q_llm_ppl_proxy", "q_wl_local_volume",
      "q_llm_cluster_kmeans", "q_ts_ewma", "q_llm_substring_dedup",
      // round-7 close additions: the CWS packed-argmin aggregate and
      // the grid-rounded-decimal z-distance sum are both order-free by
      // construction — prove it under a different partition count
      "q_llm_dedup_wjaccard", "q_ts_simsearch_znorm")
    names.foreach { name =>
      val a = SparkEntry.queries(name)(spark, sf).collect().toSeq
      val b = SparkEntry.queries(name)(s2, sf).collect().toSeq
      assert(a == b, s"$name changes under a different partition count")
    }
    // at sf0.001 q_wl_local_volume returns one row, which cannot show an
    // ordering or merge-order dependence; the sf0.01 fixture gives it 5
    val sf01 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    val lv = SparkEntry.queries("q_wl_local_volume")
    val a = lv(spark, sf01).collect().toSeq
    assert(a.length > 1, s"q_wl_local_volume returned ${a.length} rows at sf0.01")
    assert(a == lv(s2, sf01).collect().toSeq,
      "q_wl_local_volume changes under a different partition count at sf0.01")
  }

  test("oracleSql keys are a subset of queries keys") {
    val missing = SparkEntry.oracleSql.keySet -- SparkEntry.queries.keySet
    assert(missing.isEmpty, s"oracle without query: $missing")
  }

  test("entry returns rows") {
    assert(SparkEntry.entry(spark).count() > 0)
  }
}
