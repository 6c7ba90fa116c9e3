package graft

/** Plan-shape regression guards: the physical plans the 100 TB posture
  * depends on (SURVEY §4). If a refactor silently turns a broadcast join
  * into a shuffle or un-pins a pushdown, these fail before the bench does. */
class PlanSpec extends SparkSpec {

  private def plan(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  test("q_scan_pruned pushes the predicate and prunes columns at the scan") {
    val p = plan("q_scan_pruned")
    if (p.contains("InMemoryTableScan")) {
      // another spec already persisted lineitem; Spark's CacheManager
      // rewrites even direct parquet reads of the same path to the cached
      // relation. Pruning/pushdown then happens at the in-memory scan:
      // it must request only the 4 needed columns plus the filters.
      val scanLine = p.linesIterator.find(_.contains("InMemoryTableScan")).get
      assert(scanLine.contains("l_shipdate") && scanLine.contains("isnotnull"),
        s"filters not pushed to InMemoryTableScan:\n$p")
      assert(!scanLine.contains("l_extendedprice"),
        s"in-memory scan not column-pruned:\n$p")
    } else {
      assert(p.contains("PushedFilters: [IsNotNull(l_shipdate), GreaterThanOrEqual(l_shipdate"),
        s"no pushed filter in:\n$p")
      assert(p.contains("ReadSchema: struct<l_orderkey:bigint,l_linenumber:int,l_quantity:double,l_shipdate"),
        s"scan not pruned to 4 columns in:\n$p")
    }
  }

  test("q_join_broadcast plans two broadcast hash joins (no fact shuffle)") {
    val p = plan("q_join_broadcast")
    assert("BroadcastHashJoin".r.findAllIn(p).length == 2, p)
    assert(!p.contains("SortMergeJoin"), p)
  }

  test("q_join_sortmerge honors the merge hint") {
    assert(plan("q_join_sortmerge").contains("SortMergeJoin"))
  }

  test("q_join_inner_hash honors the shuffle_hash hint") {
    assert(plan("q_join_inner_hash").contains("ShuffledHashJoin"))
  }

  test("q_topk_global plans TakeOrderedAndProject (per-partition heaps, no global sort)") {
    assert(plan("q_topk_global").contains("TakeOrderedAndProject"))
  }

  test("q_agg_groupby plans partial+final aggregation (map-side combine)") {
    val p = plan("q_agg_groupby")
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q_llm_simsearch_topk broadcasts the query side") {
    assert(plan("q_llm_simsearch_topk").contains("BroadcastNestedLoopJoin"))
  }

  test("q_join_theta_range joins equi on (custkey, time bin) — no BNLJ, no cartesian") {
    val p = plan("q_join_theta_range")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    // the 32-day bin must be IN the equi-key, not a residual: the hash
    // join's left key list carries bin alongside ck1
    assert("""Join \[ck1#\d+L, bin#\d+L\]""".r.findFirstIn(p).isDefined,
      s"bin not in the equi-key:\n$p")
  }

  test("q_win_ntile_pct ranks via per-bucket windows — no global window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries("q_win_ntile_pct")(spark, sf)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.nonEmpty, "expected the per-bucket row_number window")
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"single-partition window in:\n$lp")
  }

  test("no declared batch query plans a global window (tiny-dim allowlist aside)") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    // no allowlist: the two bounded-tiny-input windows are gone or
    // spec-pinned — bpe_pairs ranks its 30-row heap WINDOWLESSLY (a
    // broadcast triangle join; for row_number the optimizer strips ANY
    // constant partition key, foldable or not, so no spec survives),
    // and llm_mix's 20-row aggregate window pins the non-foldable
    // length(source)*0 key, which DOES survive for aggregate windows
    // (a plain lit(1) folds away for both kinds and re-warns).
    // Streaming twins are excluded (memory-sink read-back plans,
    // windows covered by StreamingSpec).
    val allow = Set.empty[String]
    val offenders = SparkEntry.queries.keys.toSeq.sorted
      .filterNot(_.startsWith("q_stream_")).filterNot(allow)
      .filter { n =>
        SparkEntry.queries(n)(spark, sf).queryExecution.optimizedPlan
          .collect { case w: LWindow if w.partitionSpec.isEmpty => w }.nonEmpty
      }
    assert(offenders.isEmpty, s"global single-partition windows in: $offenders")
  }

  test("q_win_rank_salted ranks in two stages: (priority, salt) below the final merge") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries("q_win_rank_salted")(spark, sf)
      .queryExecution.optimizedPlan
    val wins = lp.collect { case w: LWindow => w }
    assert(wins.size == 2, s"expected two window stages:\n$lp")
    // the heavy stage partitions by (priority, salt) — 8× the priority
    // cardinality — so the sort parallelism scales with nsalt, not 5
    assert(wins.exists(_.partitionSpec.size == 2), s"no salted stage:\n$lp")
    assert(wins.exists(_.partitionSpec.size == 1), s"no final merge stage:\n$lp")
  }

  test("q_llm_vocab_prune takes top-5 via heap and never windows the vocabulary") {
    val p = plan("q_llm_vocab_prune")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Window"), s"global window over the vocabulary:\n$p")
    assert(p.contains("BroadcastHashJoin"), p)
  }

  test("q_graph_triangles: wedge and closing joins are equi (no cartesian)") {
    // the co-occurrence and degree joins sit below lazy localCheckpoint
    // barriers (multi-consumer reuse), so the visible plan is the wedge
    // self-join + the closing semi-join + the support aggregate — exactly
    // the stages whose shape decides the 100 TB posture
    val p = plan("q_graph_triangles")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("LeftSemi"), s"closing edge check not a semi-join:\n$p")
  }

  test("q_ts_interpolate: per-user framed windows over the broadcast spine") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q_ts_interpolate")(spark, sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    // the only nested loop is the 1-row date-bounds spine broadcast
    assert("BroadcastNestedLoopJoin".r
      .findAllIn(qe.executedPlan.toString).length <= 1, qe.executedPlan.toString)
  }

  test("q_ts_anomaly_zscore is one partitioned window pass — no join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_ts_anomaly_zscore")(spark, sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
  }

  test("q_agg_incremental_merge: pure aggregate merge — no join, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_agg_incremental_merge")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    // state + delta each aggregate partially before the tiny final merge
    assert("HashAggregate".r.findAllIn(qe.executedPlan.toString).length >= 4,
      qe.executedPlan.toString)
  }

  test("q_ts_seasonal_decompose is one aggregate pass — no join, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_ts_seasonal_decompose")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
  }

  test("q_llm_tokenize_apply: windowless, broadcast vocab apply, one corpus shuffle path") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q_llm_tokenize_apply")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"global window in:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    // corpus → vocab id lookup must be a broadcast hash join (KB-sized dim)
    assert(p.contains("BroadcastHashJoin"), p)
    // the only nested loop is the 100×100 broadcast triangle count for ids
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).length <= 1, p)
    assert(!p.contains("CartesianProduct"), p)
    // top-100 vocab comes from per-partition heaps, not a global sort
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_ts_changepoint: both frames share one partitioned window pass — no join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_ts_changepoint")(spark, sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
    // trailing + leading frames must not cost two shuffles
    assert("Exchange hashpartitioning".r
      .findAllIn(qe.executedPlan.toString).length <= 1, qe.executedPlan.toString)
  }

  test("q_ts_streaks: per-user windows only, no self-join formulation") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_ts_streaks")(spark, sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"gaps-and-islands must not self-join:\n${qe.optimizedPlan}")
  }

  test("q_mm_dedup_phash: probe join is equi (bucket-local), no cartesian") {
    val p = plan("q_mm_dedup_phash")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_mm_dedup_phash64: band join is equi (bucket-local), no cartesian") {
    val p = plan("q_mm_dedup_phash64")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_llm_source_overlap_triage: flagged-source semi-join below the gram self-join") {
    val p = plan("q_llm_source_overlap_triage")
    // the expensive leg must be restricted to flagged sources BEFORE the
    // gram self-join (broadcast LeftSemi), and the self-join must stay
    // the bucketed shuffle_hash equi-join — never a cartesian
    assert(p.contains("LeftSemi"), p)
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_llm_decontaminate_fuzzy: bench side broadcasts, candidate join is equi") {
    val p = plan("q_llm_decontaminate_fuzzy")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"bench bands not broadcast:\n$p")
  }

  test("q_join_interval_overlap joins on the (cust, bin) equi-key — never BNLJ") {
    val p = plan("q_join_interval_overlap")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join in:\n$p")
  }

  test("q_agg_heavy_hitters: sharded window, broadcast semi-join, heap top-10") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q_agg_heavy_hitters")(spark, sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), s"candidate dim not broadcast:\n$p")
  }

  test("q_llm_dedup_lsh_cosine: band join is equi; only the 32-row hyperplane dim nests") {
    val p = plan("q_llm_dedup_lsh_cosine")
    assert(!p.contains("CartesianProduct"), p)
    // nested loops exist only for the broadcast 32-row hyperplane dim
    // (printed once per consumer of the shared bands/pairs lineage);
    // every instance must be a broadcast build, never a shuffled NLJ
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin"),
      s"band-bucket join not equi:\n$p")
  }

  test("q_sample_reservoir samples via a TakeOrdered heap, not a global sort") {
    val p = plan("q_sample_reservoir")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), s"global sort in:\n$p")
  }

  test("q_ts_downsample: both windows ride one hash partitioning") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q_ts_downsample")(spark, sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    assert("Exchange hashpartitioning".r
      .findAllIn(qe.executedPlan.toString).length <= 1, qe.executedPlan.toString)
  }

  test("q_join_fuzzy_block joins on the block equi-key with levenshtein residual") {
    val p = plan("q_join_fuzzy_block")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("SortMergeJoin") || p.contains("ShuffledHashJoin") ||
      p.contains("BroadcastHashJoin"), s"no equi join in:\n$p")
    assert(p.contains("levenshtein"), s"residual not in the join:\n$p")
  }

  test("q_ts_autocorr: one partitioned window pass feeding one aggregate") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_ts_autocorr")(spark, sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
  }

  test("q_llm_pmi_cooccur: vocab and marginals broadcast, heap top-50") {
    val p = plan("q_llm_pmi_cooccur")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("BroadcastHashJoin"), s"vocab not broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(!p.contains("Exchange rangepartitioning"), s"global sort in:\n$p")
  }

  test("q_join_bucketed joins bucket-local: no Exchange beneath the SortMergeJoin") {
    val p = SparkEntry.queries("q_join_bucketed")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("SortMergeJoin"), p)
    // the only exchanges allowed are AFTER the join (agg + output sort);
    // the join inputs read pre-bucketed files directly. An unbucketed
    // equi-join would add two more hash exchanges beneath the join.
    val joinIdx = p.indexOf("SortMergeJoin")
    assert(!p.substring(joinIdx).contains("Exchange hashpartitioning"),
      s"join inputs were shuffled despite bucketing:\n$p")
  }

  test("q_topk_grouped_plan uses the custom heap operator — no Window, no partition sort") {
    val df = SparkEntry.queries("q_topk_grouped_plan")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(p.contains("GroupedTopK ["), p)
    assert(!p.contains("Window"), s"window operator crept back in:\n$p")
    // the only sort allowed is the final presentation orderBy — nothing
    // below the custom node may sort
    val idx = p.indexOf("GroupedTopK [")
    assert(!p.substring(idx).contains("Sort "), s"partition sort beneath the heap operator:\n$p")
    assert(p.substring(idx).contains("Exchange hashpartitioning"),
      s"expected the single group-key shuffle beneath the heap operator:\n$p")
  }

  test("custom DSv2 source prunes columns: bucket-only projection drops the payload") {
    val df = spark.read.format("graft.sources.GraftGenSource")
      .option("rows", "100").load().select("bucket")
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BatchScan"), p)
    val scanLine = p.linesIterator.find(_.contains("BatchScan")).get
    assert(scanLine.contains("bucket") && !scanLine.contains("payload"),
      s"payload not pruned from the scan:\n$p")
  }

  test("q_llm_dedup_near joins only on equi-keys (band buckets), never all-pairs") {
    val p = plan("q_llm_dedup_near")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_llm_decontaminate broadcasts the benchmark gram set") {
    val p = plan("q_llm_decontaminate")
    // the corpus-side gram stream must probe a broadcast hash table —
    // shuffling 100 TB of corpus grams against a KB-scale eval suite
    // would be the classic avoidable-shuffle mistake.
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_llm_pack windows per source shard — no single-partition exchange") {
    val p = plan("q_llm_pack")
    assert(!p.contains("Exchange SinglePartition"),
      s"packing fell into a global window:\n$p")
    assert(p.contains("hashpartitioning(source"), p)
  }

  test("q_llm_chunk stays in whole-stage codegen (generator + hash only)") {
    val p = plan("q_llm_chunk")
    assert(p.contains("Generate posexplode"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("RowNumberTopKRewrite turns the idiomatic window top-k into the heap operator") {
    val df = SparkEntry.queries("q_topk_window_rewrite")(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    // SparkPlan.nodeName strips the Exec suffix in plan strings
    assert(p.contains("GroupedTopK ["), s"rule did not fire:\n$p")
    assert(!p.contains("Window"), s"window survived the rewrite:\n$p")
    // bit-for-bit equal to the un-rewritten window formulation
    val win = queries.Windows.queries("q_topk_grouped_plan")(spark, sf).collect()
    assert(df.collect().toSeq == win.toSeq)
  }

  test("AQE re-plans at runtime: shuffle partitions coalesce after execution") {
    // adaptive execution is default-on; after the job runs, the final
    // plan must show the runtime-rewritten exchange (AQEShuffleRead),
    // proving the 100 TB posture's runtime re-planning path is live —
    // the same mechanism that coalesces thousands of tiny post-shuffle
    // partitions or splits skewed ones on a real cluster.
    val df = Tables(spark, sf, "lineitem")
      .groupBy("l_returnflag", "l_linestatus").count()
    df.collect()
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("AdaptiveSparkPlan isFinalPlan=true"), p)
    assert(p.contains("AQEShuffleRead"), p)
  }

  test("q_dq_referential audits every FK edge as a broadcast anti-join (no fact shuffle)") {
    val p = plan("q_dq_referential")
    assert("BroadcastHashJoin .*LeftAnti".r.findAllIn(p).length == 4, p)
    assert(!p.contains("SortMergeJoin") && !p.contains("Exchange hashpartitioning"), p)
  }

  test("q_sql_lateral decorrelates: ranked join, no per-row subquery execution") {
    val p = plan("q_sql_lateral")
    assert(!p.contains("CartesianProduct"), p)
    // the LIMIT 2 inside the lateral subquery must become a windowed
    // rank/filter on the orders side, joined back — a single join pass
    assert(p.contains("Window") || p.contains("GroupedTopK"), p)
  }

  test("q_llm_decontaminate_bloom probes the sketch below the semi-join") {
    val p = plan("q_llm_decontaminate_bloom")
    assert(p.contains("BroadcastHashJoin") && p.contains("LeftSemi"), p)
    val joinIdx = p.indexOf("BroadcastHashJoin")
    // the might_contain probe must appear in the plan AFTER (i.e.
    // beneath) the join node — pruning rows before the join ever sees
    // them — and it must be the codegen'd Catalyst expression, not a
    // black-box Scala-closure UDF
    assert(p.indexOf("might_contain", joinIdx) > joinIdx,
      s"bloom probe not below the join:\n$p")
    assert(!p.contains("UDF"), s"closure UDF crept back into the bloom path:\n$p")
  }

  test("q_join_range_binned stays on the equi-join path (bin key, no nested loop)") {
    val p = plan("q_join_range_binned")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_llm_knn_graph joins candidates on the cell key via shuffled hash") {
    val p = plan("q_llm_knn_graph")
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_join_null_safe plans a hash join (null bucket is just another key)") {
    val p = plan("q_join_null_safe")
    assert(p.contains("HashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_wl_shipping_priority: broadcast dim, top-10 via per-partition heaps") {
    val p = plan("q_wl_shipping_priority")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_wl_local_volume: five-way join keeps every dim broadcast") {
    val p = plan("q_wl_local_volume")
    assert("BroadcastHashJoin".r.findAllIn(p).length >= 3, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_wl_promo_share: partial+final aggregate above one broadcast join") {
    val p = plan("q_wl_promo_share")
    assert(p.contains("BroadcastHashJoin"), p)
    assert("HashAggregate".r.findAllIn(p).length >= 2, p)
  }

  test("q_llm_dedup_url is one partial+final aggregate — no join, no window") {
    val p = plan("q_llm_dedup_url")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join") && !p.contains("Window"),
      s"URL dedup must stay a pure hash-groupBy:\n$p")
  }

  test("q_join_asof_nearest runs as framed windows over ONE user shuffle — no join") {
    val p = plan("q_join_asof_nearest")
    assert(!p.contains("Join"), s"nearest-asof must not join:\n$p")
    assert(p.contains("hashpartitioning(user_id"), p)
    // both window directions ride the same user shuffle: exactly one
    // user_id exchange in the plan (the output sort is a range exchange)
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1, p)
  }

  test("q_llm_substring_dedup joins gram positions on equi-keys only") {
    val p = plan("q_llm_substring_dedup")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_ts_ohlc is one partial+final aggregate (min_by/max_by are mergeable)") {
    val p = plan("q_ts_ohlc")
    assert(p.contains("HashAggregate") || p.contains("ObjectHashAggregate"), p)
    assert(!p.contains("Window") && !p.contains("Join"), p)
  }

  test("q_llm_cluster_kmeans broadcasts centroids — vectors never shuffle for scoring") {
    val p = plan("q_llm_cluster_kmeans")
    // the k-row centroid side rides a broadcast nested loop (k=8 rows);
    // a CartesianProduct or a sort-merge join would mean the vector table
    // itself is being moved to meet the model — the anti-pattern at scale
    assert(p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("CartesianProduct") && !p.contains("SortMergeJoin"), p)
  }

  test("q_wl_large_orders reduces the fact table first, broadcasts the dim, heap top-20") {
    val p = plan("q_wl_large_orders")
    assert(p.contains("TakeOrderedAndProject"), p)
    assert(p.contains("BroadcastHashJoin"), p)
    // the HAVING aggregate must be partial+final (fact reduced pre-join)
    assert(p.contains("partial_sum") || p.contains("partial"), p)
  }

  test("q_graph_jaccard_neighbors pairs on the customer equi-key; degrees broadcast") {
    val p = plan("q_graph_jaccard_neighbors")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(p.contains("BroadcastHashJoin"), s"degree dims must broadcast:\n$p")
    assert(p.contains("TakeOrderedAndProject"), p)
  }

  test("q_llm_entropy is two partial+final aggregates — no join, no window") {
    val p = plan("q_llm_entropy")
    assert(p.contains("HashAggregate"), p)
    assert(!p.contains("Join") && !p.contains("Window"), p)
  }

  test("q_wl_curation_pipeline: gram probe broadcasts; no cartesian; corpus flows ONCE") {
    val p = plan("q_wl_curation_pipeline")
    assert(p.contains("BroadcastHashJoin"), s"bench grams must broadcast:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert(!p.contains("Exchange SinglePartition"),
      s"packing fell into a global window:\n$p")
    // the corpus subtree must not be duplicated: exactly ONE text-hash
    // dedup shuffle, and a bounded total exchange count — the six are
    // dedup window (_w0), contamination re-group, pack window (source),
    // output sort (range), plus the KB-scale bench side's gram distinct
    // and its broadcast; a doubled corpus lineage would add a second _w0
    val dedupShuffles = "hashpartitioning\\(_w".r.findAllIn(p).size
    assert(dedupShuffles == 1, s"dedup shuffle duplicated ($dedupShuffles):\n$p")
    // every exchange counts: the curation plan contains no
    // RoundRobinPartitioning (the r14 cache-level repartition that once
    // justified an exclusion here was A/B'd and rejected), so the budget
    // deliberately covers any future fanOut round-robin shuffle too
    val exchanges = "Exchange ".r.findAllIn(p).size
    assert(exchanges <= 6, s"exchange count grew to $exchanges — lineage doubled?\n$p")
  }

  test("q_wl_volume_shipping / market_share / product_profit: dims broadcast, one fact join") {
    Seq("q_wl_volume_shipping", "q_wl_market_share", "q_wl_product_profit")
      .foreach { n =>
        val p = plan(n)
        assert(!p.contains("CartesianProduct") &&
          !p.contains("BroadcastNestedLoopJoin"), s"$n:\n$p")
        assert(p.contains("BroadcastHashJoin"),
          s"$n: dims must broadcast:\n$p")
        // only the orders×lineitem fact join may shuffle both sides
        assert("SortMergeJoin".r.findAllIn(p).size +
          "ShuffledHashJoin".r.findAllIn(p).size <= 1,
          s"$n: more than one shuffled join:\n$p")
      }
  }

  test("q_wl_bracket_revenue: the OR-of-brackets stays ONE broadcast join pass") {
    val p = plan("q_wl_bracket_revenue")
    assert("BroadcastHashJoin".r.findAllIn(p).size == 1, p)
    assert(!p.contains("Union"), s"disjunction forked the scan:\n$p")
  }

  test("q_llm_zipf_fit: heap top-k, triangle rank, no global window") {
    val p = plan("q_llm_zipf_fit")
    assert(p.contains("TakeOrderedAndProject"),
      s"vocabulary must reach top-1000 via heap:\n$p")
    assert(!p.contains("Window"), s"global window over the vocabulary:\n$p")
  }

  test("q_graph_kcore_peel and q_llm_gram_novelty never go all-pairs") {
    Seq("q_graph_kcore_peel", "q_llm_gram_novelty").foreach { n =>
      val p = plan(n)
      assert(!p.contains("CartesianProduct") &&
        !p.contains("BroadcastNestedLoopJoin"), s"$n:\n$p")
    }
  }

  test("q_llm_pca_power: the Gram product is aggregated, never materialized as a join") {
    val p = plan("q_llm_pca_power")
    assert(!p.contains("CartesianProduct"), p)
    // 64-group aggregates must combine map-side
    assert("HashAggregate".r.findAllIn(p).size >= 2, p)
  }

  // ---- round-6 batch (§2.28/§2.29) per-operator plan-shape guards ----

  test("q_llm_embed_standardize: broadcast stats join over partial+final 64-group aggs") {
    val p = plan("q_llm_embed_standardize")
    assert(p.contains("BroadcastHashJoin"), s"per-dim stats not broadcast:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_llm_contamination_report: gram probe is an equi-join, never nested-loop") {
    // at fixture scale the optimizer may broadcast the train gram set
    // (size-estimate call — at 100 TB stats push it to SMJ); what the
    // posture forbids is a non-equi/nested-loop formulation
    val p = plan("q_llm_contamination_report")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_ts_kalman: one per-user framed window, no join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_ts_kalman")(spark, sf).queryExecution
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
  }

  test("kcore peel round: one degree aggregate + two left-semi endpoint joins") {
    // the declared query localCheckpoints each round (lineage barrier),
    // so the per-round shape is pinned on the exposed builder
    val p = queries.Basis.kcoreRound(
      queries.U.coPurchaseEdges(spark, sf), 8)
      .queryExecution.executedPlan.toString
    // two endpoint semi-joins — Catalyst may push the pair below the
    // both-directions edge Union (2 per branch), which is the same shape
    val semis = "LeftSemi".r.findAllIn(p).size
    assert(semis == 2 || semis == 4, s"expected the two endpoint semi-joins:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"degree agg not partial+final:\n$p")
  }

  test("q_llm_mmr_rerank candidate pull: bucketed cell equi-join, no full-table NLJ") {
    // the round-7 routing: candidates come from the trained quantizer's
    // probe⋈assignment equi-join (the hard_negatives shape), NOT the
    // round-6 broadcast nested loop over the whole embedding table
    val df = queries.Basis.mmrCandidatePull(spark, sf)
    val p = df.queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin"), s"cell equi-join missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested loop allowed is the KB-scale centroid broadcast
    // (cells×N scoring); the candidate join itself must be hash-keyed
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")), p)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val wins = df.queryExecution.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"top-20 rank must stay per-query:\n${df.queryExecution.optimizedPlan}")
  }

  test("q_graph_hits: keyed propagation aggs, 1-row norm broadcasts, heap top-20") {
    val p = plan("q_graph_hits")
    assert(p.contains("TakeOrderedAndProject"), s"top-20 must be a heap:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // every nested loop is a 1-row L2-norm broadcast (BuildRight), never
    // a shuffled NLJ over the node frames
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_llm_dup_cluster_hist: two bounded aggs over the memoized labels, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q_llm_dup_cluster_hist")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_llm_preference_pairs is ONE partial+final keyed aggregate — no join, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_llm_preference_pairs")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    // struct arg-extremes plan as partial+final sort aggregates
    val p = qe.executedPlan.toString
    assert("Aggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_dq_ab_test: per-user pass rides one shuffle; arm frames cross only as 1-row broadcasts") {
    val p = plan("q_dq_ab_test")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")), p)
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"per-user and per-arm aggs must both combine map-side:\n$p")
  }

  test("q_dq_dp_release / q_llm_filter_cascade: one corpus pass, no join, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    Seq("q_dq_dp_release", "q_llm_filter_cascade").foreach { n =>
      val qe = SparkEntry.queries(n)(spark, sf).queryExecution
      assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
        s"$n: unexpected join in:\n${qe.optimizedPlan}")
      assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
        s"$n: unexpected window in:\n${qe.optimizedPlan}")
      assert("HashAggregate".r.findAllIn(qe.executedPlan.toString).size >= 2,
        s"$n: no map-side combine")
    }
  }

  test("q_dq_ks_drift: distributed-rank construction — per-bin windows only, no global sort") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q_dq_ks_drift")(spark, sf).queryExecution
    // the global running CDFs must come from gridBin + prefixOffsets +
    // per-bin windows (the curriculum/ntile construction), never a
    // single-partition window over the distinct values
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Exchange rangepartitioning"), s"global sort in:\n$p")
    // triangle joins and scalar totals are broadcast builds only
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")), p)
  }

  test("q_ts_xcorr: bounded lag equi-join over the hourly frame — no window, no cartesian") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q_ts_xcorr")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"hourly agg not partial+final:\n$p")
  }

  // ---- round-7 batch (§2.30) plan-shape guards ----

  test("q_llm_embed_project is a pure per-row expression — no join, no window, no agg shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_llm_embed_project")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    // the projection explodes in place; the only exchange is the output sort
    assert(!p.contains("Exchange hashpartitioning"), s"unexpected shuffle:\n$p")
  }

  test("nnTop3 (label_noise/kappa's shared frame): bucketed cell equi-join, per-query rank") {
    // the labeled top-3-neighbor frame is memoized+persisted; its two
    // consumers reduce the cache, so the join/window shape is pinned on
    // the builder itself (the mmrCandidatePull convention)
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val df = queries.Assay.nnTop3(spark, sf, 16)
    val inner = df.queryExecution.optimizedPlan
      .collect { case r: org.apache.spark.sql.execution.columnar.InMemoryRelation =>
        r.cachedPlan.toString }
      .headOption.getOrElse(df.queryExecution.executedPlan.toString)
    assert(inner.contains("ShuffledHashJoin"), s"cell join lost its hint:\n$inner")
    assert(!inner.contains("CartesianProduct"), inner)
    assert(inner.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")), inner)
    // the rank window rides the qid shuffle (the training lineage's
    // 1-row scalar aggregates legitimately use SinglePartition)
    assert(inner.contains("windowspecdefinition(qid"),
      s"per-query rank shape lost:\n$inner")
  }

  test("q_llm_label_noise reduces the shared cached neighbor frame — no fresh join") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_llm_label_noise")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"label_noise must reduce the cache, not re-join:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window above the cache:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.toString.contains("InMemoryRelation"),
      s"shared neighbor frame not reused:\n${qe.optimizedPlan}")
  }

  test("q_ts_attribution: one per-user window pass — no join, one user shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_ts_attribution")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"attribution must not join:\n${qe.optimizedPlan}")
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    assert("hashpartitioning\\(user_id".r.findAllIn(p).size == 1,
      s"both carry-forwards must ride ONE user shuffle:\n$p")
  }

  test("q_dq_psi: one binned aggregate over broadcast bounds — no window, no rank") {
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val qe = SparkEntry.queries("q_dq_psi")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // bounds and totals meet the stream as 1-row broadcasts only
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_dq_cohens_kappa reduces the shared cached neighbor frame; scalars broadcast") {
    val qe = SparkEntry.queries("q_dq_cohens_kappa")(spark, sf).queryExecution
    val p = qe.executedPlan.toString
    assert(!p.contains("CartesianProduct"), p)
    // the only joins above the cache are the label-bounded pe join and
    // the 1-row scalar cross — every nested loop a broadcast build
    assert(p.linesIterator.filter(_.contains("BroadcastNestedLoopJoin"))
      .forall(_.contains("BuildRight")), p)
    assert(qe.optimizedPlan.toString.contains("InMemoryRelation"),
      s"shared neighbor frame not reused:\n${qe.optimizedPlan}")
  }

  test("q_stream_attribution twin: per-user window pass, no join, one user shuffle") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_stream_attribution")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"attribution twin must not join:\n${qe.optimizedPlan}")
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"global window in:\n${qe.optimizedPlan}")
    assert("hashpartitioning\\(user_id".r
      .findAllIn(qe.executedPlan.toString).size == 1, qe.executedPlan.toString)
  }

  test("q_llm_cluster_terms: top-5 per cluster via the GroupedTopK heap — no window") {
    val p = plan("q_llm_cluster_terms")
    assert(p.contains("GroupedTopK ["), s"heap operator missing:\n$p")
    // the assignment lineage's per-VECTOR rank windows are fine; the
    // trap is ranking the vocabulary over 8 cid partitions
    assert(!p.contains("windowspecdefinition(cid"),
      s"8-partition vocabulary window crept in:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_llm_chi2_terms: heap top-k, term-partition df window, broadcast margins") {
    val p = plan("q_llm_chi2_terms")
    assert(p.contains("GroupedTopK ["), s"heap operator missing:\n$p")
    // per-term df is a high-cardinality window; the trap is ranking the
    // vocabulary over 20 source partitions
    assert(p.contains("windowspecdefinition(term"),
      s"term-partition df window missing:\n$p")
    assert(!p.contains("windowspecdefinition(source"),
      s"20-partition vocabulary window crept in:\n$p")
    // both margins broadcast (20-row source counts, 1-row total)
    assert("BroadcastExchange".r.findAllIn(p).size >= 2, p)
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_llm_dedup_wjaccard: band-key equi-joins only — never all-pairs") {
    val p = plan("q_llm_dedup_wjaccard")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), s"all-pairs crept in:\n$p")
    // the candidate join rides (band_id, bkey); the confirm joins the
    // candidate frame back to the tf incidence on equi keys
    assert(p.contains("bkey"), p)
  }

  test("q_dq_l_diversity: aggregate cascade only — no join, no window") {
    val p = plan("q_dq_l_diversity")
    // QI cells (with a distinct-sensitive expansion) then the nation
    // rollup — same joinless shape as the k-anonymity sibling
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no cascade:\n$p")
    assert(!p.contains("Join"), s"QI audit must not join:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("q_llm_rouge_pairs: banding candidates only — never all-pairs") {
    val p = plan("q_llm_rouge_pairs")
    assert(!p.contains("CartesianProduct") &&
      !p.contains("BroadcastNestedLoop"), s"all-pairs crept in:\n$p")
    // candidates come from the memoized banding frame (a checkpointed
    // ExistingRDD once another family member built it, the raw bkey
    // bucket join otherwise) — either way, never an all-pairs scan
    assert(p.contains("bkey") || p.contains("ExistingRDD"), p)
  }

  test("q_dq_k_anonymity: two keyed aggregates, no join, no window") {
    val p = plan("q_dq_k_anonymity")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no cascade:\n$p")
    assert(!p.contains("Join"), s"QI audit must not join:\n$p")
    assert(!p.contains("Window"), p)
  }

  test("q_llm_unigram_lm: heap limits, broadcast vocab map, no vocabulary window") {
    val p = plan("q_llm_unigram_lm")
    // the final report is heap top-k (the multi-piece seed's heap sits
    // below the vocab localCheckpoint barrier, invisible here)
    assert(p.contains("TakeOrderedAndProject"), p)
    // the Viterbi map rides a 1-row broadcast; the per-word DP is a
    // codegen'd HOF — no window anywhere (a vocabulary or word window
    // would single-partition at web scale)
    assert(p.contains("BroadcastNestedLoopJoin") ||
      p.contains("BroadcastExchange"), p)
    assert(!p.contains("Window"), s"window crept into the DP:\n$p")
    assert(!p.contains("CartesianProduct"), p)
  }

  test("q_sink_custom_dsv2 read-back: partial+final rollup over the published parts") {
    val p = plan("q_sink_custom_dsv2")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
    assert(!p.contains("Join"), s"read-back must not join:\n$p")
  }

  // ---- round-7 §2.32 readiness-assay batch: per-operator guards ----

  test("q_llm_cluster_silhouette: broadcast centroid scoring, partitioned rank, keyed agg") {
    val p = plan("q_llm_cluster_silhouette")
    // the 8-row centroid frame rides a broadcast (the assign() scoring
    // shape) — a shuffled or cartesian formulation would move the big side
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"centroids not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the 2-nearest rank is per-vector, never a global sort of all pairs
    assert(p.contains("windowspecdefinition(vec_id"),
      s"per-vector rank window missing:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_dq_embed_drift: one scan, two keyed aggs, no join, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_dq_embed_drift")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collectLeaves().size == 1,
      s"embeddings scanned more than once:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_dq_calibration: both halves in ONE events pass — no join, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_dq_calibration")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"split must be conditional sums, not a self-join:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collectLeaves().size == 1,
      s"events scanned more than once:\n${qe.optimizedPlan}")
    val p = qe.executedPlan.toString
    assert("HashAggregate".r.findAllIn(p).size >= 4,
      s"user agg + bin agg must both combine map-side:\n$p")
  }

  test("q_llm_shard_balance: keyed agg + 1-row broadcast total, no cartesian blowup") {
    val p = plan("q_llm_shard_balance")
    assert(p.contains("BroadcastNestedLoopJoin") || p.contains("BroadcastHashJoin"),
      s"the 1-row total must broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_wl_market_basket: one basket shuffle, map-side pair explode, marginals broadcast") {
    val p = plan("q_wl_market_basket")
    assert(p.contains("BroadcastHashJoin"), s"dim/marginal joins not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // pairs explode from the per-order array (Generate), never via a
    // second shuffle of the incidence; the only nested-loop allowed is
    // the 1-row n_orders broadcast
    assert(p.contains("Generate explode"), s"pair explode missing:\n$p")
    assert(!p.contains("SortMergeJoin"),
      s"a big-side shuffle join crept in:\n$p")
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"pair generation fell off the map-side path:\n$p")
  }

  test("q_ts_attribution_linear: user equi-join with band residual, per-purchase window") {
    val p = plan("q_ts_attribution_linear")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"touch join fell off the equi path:\n$p")
    assert(p.contains("windowspecdefinition(p_eid"),
      s"per-purchase share count must be a partitioned window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_stream_attribution_multi twin: user equi-join, per-purchase window") {
    val p = plan("q_stream_attribution_multi")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"touch join fell off the equi path:\n$p")
    assert(p.contains("windowspecdefinition(purchase_event_id"),
      s"per-purchase share count must be a partitioned window:\n$p")
  }

  test("q_stream_dedup_cand twin: bucket-local equi-join, no window, no cartesian") {
    // guard the PRE-checkpoint lineage (the declared query reads the
    // memoized frame, whose localCheckpoint truncates to an ExistingRDD
    // scan at plan time and would hide the join shape)
    val p = queries.Llm.bandCandidatesRaw(spark, sf)
      .queryExecution.executedPlan.toString
    // the band self-join must ride the (band_id, bkey) equi keys — a
    // cartesian/BNLJ here would be the all-pairs blowup banding exists
    // to avoid, and a Window would mean a global candidate ranking
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"band candidate join fell off the equi path:\n$p")
    assert(!p.contains("Window"), s"unexpected window over candidates:\n$p")
    assert(p.contains("HashAggregate"),
      s"signature mins must stay hash-aggregable:\n$p")
  }

  test("q_dq_bootstrap_ci: map-side replica explode, bounded rank window, no cartesian") {
    val p = plan("q_dq_bootstrap_ci")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"bootstrap fan-out must be a Generate, not a join:\n$p")
    assert(p.contains("Generate"),
      s"the 64-way replica fan-out should be an explode:\n$p")
    // the rank window runs over the 64-row-per-arm replica frame — it
    // must be arm-partitioned (bounded), never a global window
    assert(p.contains("windowspecdefinition(arm"),
      s"replica ranking must partition by arm:\n$p")
  }

  test("q_llm_context_fit: one documents scan, bounded explode, no join/window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_llm_context_fit")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collectLeaves().size == 1,
      s"documents scanned more than once:\n${qe.optimizedPlan}")
  }

  test("q_llm_dedup_minhash_calib: equi-joins only, no window, domain broadcast") {
    val p = plan("q_llm_dedup_minhash_calib")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"),
      s"calibration joins fell off the equi path:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert(p.contains("BroadcastHashJoin"),
      s"17-row domain must broadcast onto the bins:\n$p")
  }

  test("q_ts_holt_winters: one events scan, bounded-series fold — no join, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_ts_holt_winters")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collectLeaves().size == 1,
      s"events scanned more than once:\n${qe.optimizedPlan}")
  }

  test("q_ts_dtw: one events scan, bounded-series folds — no join, no window") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_ts_dtw")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"unexpected join in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collect { case w: LWindow => w }.isEmpty,
      s"unexpected window in:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collectLeaves().size == 1,
      s"events scanned more than once:\n${qe.optimizedPlan}")
  }

  test("q_agg_gini ranks via the bucketed construction — per-bin windows only") {
    val p = plan("q_agg_gini")
    assert(p.contains("windowspecdefinition(b"),
      s"per-bin rank window missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_wl_rfm: three bucketed quintile chains, no global window, no cartesian") {
    val p = plan("q_wl_rfm")
    assert(p.contains("windowspecdefinition(b"),
      s"per-bin rank windows missing:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_llm_cluster_coherence: label-term broadcast filters the corpus scan") {
    val p = plan("q_llm_cluster_coherence")
    assert(p.contains("BroadcastHashJoin"),
      s"label-term filter / marginals not broadcast:\n$p")
    assert(!p.contains("CartesianProduct"), p)
    // the only nested-loop allowed is the 1-row doc-count broadcast
    assert("BroadcastNestedLoopJoin".r.findAllIn(p).size <= 1,
      s"co-occurrence fell off the equi path:\n$p")
  }

  test("q_dq_ab_welch: per-user pass into ONE conditional arm aggregate — no join at all") {
    val p = plan("q_dq_ab_welch")
    assert(!p.contains("CartesianProduct"), p)
    assert(!p.contains("Join"), s"arm moments must ride one aggregate, not a join:\n$p")
    assert(!p.contains("Window"), s"unexpected window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_wl_cohort_ltv: user-keyed cohort join, per-cohort bounded cumsum window") {
    val p = plan("q_wl_cohort_ltv")
    assert(!p.contains("CartesianProduct"), p)
    assert(p.contains("windowspecdefinition(cm"),
      s"per-cohort cumsum must be a partitioned window:\n$p")
    assert("HashAggregate".r.findAllIn(p).size >= 2, s"no map-side combine:\n$p")
  }

  test("q_graph_shortest_path: heap top-20, checkpointed rounds, no cartesian") {
    val p = plan("q_graph_shortest_path")
    assert(p.contains("TakeOrderedAndProject"),
      s"top-20 must be a heap, not a global sort:\n$p")
    assert(!p.contains("CartesianProduct") && !p.contains("BroadcastNestedLoopJoin"), p)
  }

  test("q_wl_growth_mart fuses attribution + cohorting into ONE events pass") {
    import org.apache.spark.sql.catalyst.plans.logical.{Join, Window => LWindow}
    val qe = SparkEntry.queries("q_wl_growth_mart")(spark, sf).queryExecution
    assert(qe.optimizedPlan.collect { case j: Join => j }.isEmpty,
      s"the mart must fuse, not join:\n${qe.optimizedPlan}")
    assert(qe.optimizedPlan.collectLeaves().size == 1,
      s"events scanned more than once:\n${qe.optimizedPlan}")
    val wins = qe.optimizedPlan.collect { case w: LWindow => w }
    assert(wins.nonEmpty && wins.forall(_.partitionSpec.nonEmpty),
      s"carry-forward window must be user-partitioned:\n${qe.optimizedPlan}")
  }

  test("q_scan_dpp plants a dynamic-partition-pruning filter on the scan") {
    val p = plan("q_scan_dpp")
    assert(p.toLowerCase.contains("dynamicpruning"),
      s"no DPP subquery on the partitioned scan:\n$p")
    assert(p.contains("BroadcastHashJoin"), s"dim not broadcast:\n$p")
  }

  test("base tables and co-purchase edges are persisted; edges keep src partitioning") {
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
    import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeLike
    import org.apache.spark.storage.StorageLevel
    assert(Tables(spark, sf, "orders").storageLevel == StorageLevel.MEMORY_AND_DISK)
    val e = queries.U.coPurchaseEdges(spark, sf)
    assert(e.storageLevel == StorageLevel.MEMORY_AND_DISK)
    // a src-keyed aggregate (every iterative graph round's shape) reads
    // the cached hash partitioning: no Exchange between the aggregate and
    // the in-memory scan. collect walks children only, not the cached
    // plan inside the scan, which holds the one materializing shuffle.
    val p = e.groupBy("src").count().queryExecution.executedPlan match {
      case a: AdaptiveSparkPlanExec => a.executedPlan
      case other => other
    }
    assert(p.collect { case s: InMemoryTableScanExec => s }.nonEmpty,
      s"edge list not read from the cache:\n$p")
    assert(p.collect { case x: ShuffleExchangeLike => x }.isEmpty,
      s"src-keyed aggregate re-shuffles the cached edge list:\n$p")
  }

  test("shared derived frames are memoized per session — one instance each") {
    // the whole-graph-family incidence, the trained-quantizer probe
    // frames, and the labeled neighbor frame must be the SAME DataFrame
    // object on every call: the DAGScheduler can only share stages (and
    // the cache manager its blocks) across consumers that reference one
    // instance — a fresh plan per call would silently re-derive
    assert(queries.U.coPurchase(spark, sf) eq queries.U.coPurchase(spark, sf))
    assert(queries.U.coPurchaseEdges(spark, sf) eq
      queries.U.coPurchaseEdges(spark, sf))
    val (q1, c1) = queries.Learn.trainedProbeFrames(spark, sf, 16, 5)
    val (q2, c2) = queries.Learn.trainedProbeFrames(spark, sf, 16, 5)
    assert((q1 eq q2) && (c1 eq c2))
    assert(queries.Assay.nnTop3(spark, sf, 16) eq
      queries.Assay.nnTop3(spark, sf, 16))
    assert(queries.Assay.clusterTerms(spark, sf) eq
      queries.Assay.clusterTerms(spark, sf))
  }

  test("§2.36 audit batch: no cartesian products; bucketed joins where both sides scale") {
    val batch = Seq("q_llm_source_overlap", "q_llm_js_divergence",
      "q_dq_t_closeness", "q_dq_cramers_v", "q_ts_pacf", "q_ts_hurst",
      "q_graph_assortativity", "q_agg_frequency_profile",
      "q_llm_ngram_coverage", "q_graph_clustering_coeff",
      "q_llm_heldout_ppl", "q_ts_periodogram", "q_wl_disjunctive_revenue",
      "q_dq_simpson", "q_llm_class_rebalance")
    batch.foreach { q =>
      assert(!plan(q).contains("CartesianProduct"), s"$q fell off the equi path")
    }
    // the two joins whose BOTH sides grow with N must be shuffle-hash
    // bucketed (a broadcast would ship an N-sized gram frame at 100 TB)
    assert(plan("q_llm_source_overlap").contains("ShuffledHashJoin"),
      "source overlap's gram self-join must bucket")
    assert(plan("q_llm_ngram_coverage").contains("ShuffledHashJoin"),
      "coverage's (lang, gram) semi-join must bucket")
    assert(plan("q_llm_heldout_ppl").contains("ShuffledHashJoin"),
      "the LM scoring joins must bucket — both sides grow with N")
    // t-closeness: per-class cumsum windows are partitioned, never global
    import org.apache.spark.sql.catalyst.plans.logical.{Window => LWindow}
    val lp = SparkEntry.queries("q_dq_t_closeness")(spark, sf)
      .queryExecution.optimizedPlan
    assert(lp.collect { case w: LWindow if w.partitionSpec.isEmpty => w }
      .isEmpty, "global window in t-closeness")
  }

  test("Sql.run drives the engine through pure SQL over registered views") {
    val r = Sql.run(spark, sf,
      """SELECT l_returnflag, CAST(SUM(l_quantity) AS DOUBLE) s
         FROM lineitem GROUP BY 1 ORDER BY 1""")
    assert(r.count() > 0)
    val dot = Sql.run(spark, sf,
      """SELECT a.vec_id, graft_dot(a.embedding, b.embedding) AS d
         FROM embeddings a JOIN embeddings b ON b.vec_id = a.vec_id + 1
         WHERE a.vec_id < 5 ORDER BY a.vec_id""")
    assert(dot.collect().forall(x => !x.isNullAt(1)))
  }
}
