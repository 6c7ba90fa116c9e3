package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import U._

/** Composite analytical workloads (SURVEY §2.17): end-to-end multi-join
  * pipelines in the classic decision-support shapes (TPC-H Q3/Q5/Q10/Q14
  * analogues over this schema). The single-operator inventory proves each
  * primitive; these prove the primitives COMPOSE — broadcast dims under
  * shuffled facts, partial aggregation above multi-way joins, top-k
  * without a global sort — the plans a 100 TB warehouse actually runs.
  *
  * Scale notes: every dim (region/nation/customer/supplier) broadcasts;
  * the fact tables join on their natural keys with no residual shuffles;
  * revenue aggregates go through the exact-decimal dsum discipline so
  * hash compares hold; top-k terminates in TakeOrderedAndProject.
  */
object Workloads {

  private val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))

  // Single definition shared by the Spark plan and the DuckDB oracle for
  // q_wl_idle_customers: a customer is "idle" with no orders on/after
  // this date. Chosen so the query is non-empty at every gate scale.
  private val IdleCutoff = "2000-01-01"

  val queries: Map[String, Q] = Map(

    // Dataset-card composite — the one-row corpus summary every dataset
    // release ships (docs, tokens, language mix/entropy, source spread,
    // exact duplicate rate). One shared per-doc projection feeds three
    // narrow aggregates (the wide count/sum/distinct pass, the ≤5-row
    // language frame, its 1-row total); the two exact countDistincts
    // each cost their own hash shuffle — the deliberate release-audit
    // choice, with the declared q_agg_approx_distinct /
    // q_agg_sketch_merge pair as the one-pass sketch alternative when
    // approximate is acceptable. Entropy terms fold on the 1e-9 grid
    // (libm log2 pinned per LANGUAGE, then an exact decimal sum), and
    // the 1-row frames meet in broadcast cross joins.
    "q_wl_dataset_card" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"), col("source"),
          size(textTokens).as("nt"), md5(col("text")).as("h"))
      val base = docs.agg(count(lit(1)).as("n_docs"),
        sum("nt").as("total_tokens"),
        countDistinct(col("source")).as("n_sources"),
        countDistinct(col("h")).as("n_uniq"),
        sum((col("lang") === "en").cast("long")).as("n_en"))
      val ent = docs.groupBy("lang").agg(count(lit(1)).as("c"))
        .crossJoin(broadcast(docs.agg(count(lit(1)).as("nn"))))
        .agg(sum(expr(
          """CAST(round(-(CAST(c AS DOUBLE) / nn) * log2(CAST(c AS DOUBLE) / nn), 9)
             AS DECIMAL(18,9))""")).cast("double").as("lang_entropy"))
      base.crossJoin(broadcast(ent))
        .select(col("n_docs"), col("total_tokens"),
          round(col("total_tokens").cast("double") / col("n_docs"), 9)
            .as("mean_tokens"),
          round(col("n_en").cast("double") / col("n_docs"), 9).as("pct_en"),
          col("n_sources"),
          round(lit(1.0) - col("n_uniq").cast("double") / col("n_docs"), 9)
            .as("dup_rate"),
          col("lang_entropy"))
    }),

    // Q3 shape — shipping priority: unshipped-as-of-pivot revenue for one
    // market segment, top 10 orders. The segment is semi-joined into
    // orders BEFORE orders meets lineitem, so only that segment's orders
    // are broadcast or shuffled (exact: c_custkey is customer's key). A
    // semi join keeps orders' size estimate, so the orders×lineitem join
    // plans as the orders side alone would: broadcast at small scale,
    // sort-merge on orderkey at scale (an inner join's estimate is the
    // product of both sides). The groups key on the raw o_orderdate
    // (l_orderkey determines it); the date is formatted on the 10 output
    // rows only, inside the TakeOrderedAndProject that ends the plan.
    "q_wl_shipping_priority" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
        .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
      val ord = Tables(s, d, "orders")
        .where(col("o_orderdate") < ts("1998-06-15"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"), "left_semi")
      val li = Tables(s, d, "lineitem")
        .where(col("l_shipdate") > ts("1998-06-15"))
      li.join(ord, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
        .agg(dsum(revenue).as("rev"))
        .orderBy(col("rev").desc, col("l_orderkey"))
        .limit(10)
        .select(col("l_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          col("o_orderpriority"), col("rev"))
    }),

    // Q5 shape — local-supplier volume: revenue per nation in one region
    // where the supplying and buying nations coincide. Five joins, four
    // of them broadcast dims; the one fact-fact join (orders×lineitem)
    // rides the orderkey. The nation-match predicate collapses the
    // supplier side to a broadcast as well.
    "q_wl_local_volume" -> ((s, d) => {
      val nat = Tables(s, d, "nation")
        .join(broadcast(Tables(s, d, "region").where(col("r_name") === "ASIA")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("n_nationkey"), col("n_name"))
      val cust = Tables(s, d, "customer")
        .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
      val sup = Tables(s, d, "supplier").select("s_suppkey", "s_nationkey")
      Tables(s, d, "orders")
        .where(col("o_orderdate") >= ts("1997-01-01") &&
          col("o_orderdate") < ts("1998-01-01"))
        .join(Tables(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
          col("c_nationkey") === col("s_nationkey"))
        .groupBy(col("n_name"))
        .agg(dsum(revenue).as("rev"))
        // the final aggregate's input is already partial-aggregated and
        // holds at most one row per nation (25), so its rows are merged
        // and ordered in one task — no sampled range shuffle for a report
        .coalesce(1).sortWithinPartitions(col("rev").desc, col("n_name"))
    }),

    // Q10 shape — returned-item ranking: the 20 customers losing the most
    // revenue to returns in one quarter. Fact join on orderkey, customer
    // + nation broadcast back onto the aggregate.
    "q_wl_returned_value" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
        .join(broadcast(Tables(s, d, "nation")),
          col("c_nationkey") === col("n_nationkey"))
        .select(col("c_custkey"), col("c_name"), col("n_name"))
      Tables(s, d, "orders")
        .where(col("o_orderdate") >= ts("1999-10-01") &&
          col("o_orderdate") < ts("2000-01-01"))
        .join(Tables(s, d, "lineitem").where(col("l_returnflag") === "R"),
          col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
        .groupBy(col("c_custkey"), col("c_name"), col("n_name"))
        .agg(dsum(revenue).as("rev"))
        .orderBy(col("rev").desc, col("c_custkey"))
        .limit(20)
    }),

    // The curation-pipeline composite (the LLM counterpart of the
    // warehouse composites above): quality-filter → exact-dedup →
    // benchmark-decontaminate → pack, all four §2 stages fused into ONE
    // declared query, emitting a per-(source, training-sequence) pack
    // manifest. The corpus flows through ONCE: scoring is a codegen'd
    // map, dedup is one window shuffle on the text hash, contamination
    // is a per-doc FLAG (explode → broadcast gram probe → re-group) so
    // no second corpus branch re-executes the scoring/dedup subtree, and
    // packing is one window shuffle per source shard. PlanSpec pins the
    // exchange count so a refactor can't silently double the lineage.
    "q_wl_curation_pipeline" -> ((s, d) => {
      import org.apache.spark.sql.expressions.Window
      val docs = Tables(s, d, "documents").withColumn("tk", textTokens)
      // stage 1 — quality filter: the SHARED logit (U.qualityLogit), so
      // the composite and q_llm_quality_classifier can never drift
      val quality = docs
        .withColumn("n_tok", size(col("tk")))
        .where(qualityLogit > 0.0)
      // stage 2 — exact dedup, keep the smallest id per normalized text
      val wDup = Window.partitionBy(md5(trim(lower(col("text"))))).orderBy("doc_id")
      val deduped = quality.withColumn("rk", row_number().over(wDup))
        .where(col("rk") === 1)
      // stage 3 — decontaminate vs the benchmark split (5-gram overlap,
      // KB-scale bench grams broadcast; bench docs leave the corpus).
      // Emitted as a flag in ONE pass over the corpus — a separate
      // contaminated-id frame would reference the corpus twice and
      // re-execute the whole score+dedup lineage for each branch.
      val bench = docs.where(col("doc_id") % 97 === 0)
        .select(explode(array_distinct(gramsN(5))).as("g")).distinct()
        .withColumn("hit", lit(1))
      val clean = deduped.where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), col("source"), col("n_tok"),
          explode_outer(array_distinct(gramsN(5))).as("g"))
        .join(broadcast(bench), Seq("g"), "left")
        .groupBy("doc_id", "source", "n_tok")
        .agg(max(coalesce(col("hit"), lit(0))).as("contaminated"))
        .where(col("contaminated") === 0)
      // stage 4 — pack per source shard into 512-token training sequences
      val wOff = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      clean
        .withColumn("start_off", coalesce(sum(col("n_tok")).over(wOff), lit(0L)))
        .withColumn("seq", expr("start_off div 512"))
        .groupBy("source", "seq")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("tok"),
          min(col("doc_id")).as("first_doc"))
        .orderBy("source", "seq")
    }),

    // Q18 shape — large-volume customers: the classic agg-driven
    // semi-join. The HAVING aggregate over lineitem produces the hot-order
    // set FIRST (one partial-aggregated shuffle on l_orderkey), and only
    // those orders join customers — the fact table is reduced before any
    // dimension touches it, the shape that matters when lineitem is the
    // 100 TB table. Top-20 via TakeOrderedAndProject.
    "q_wl_large_orders" -> ((s, d) => {
      val hot = Tables(s, d, "lineitem")
        .groupBy(col("l_orderkey"))
        .agg(dsum(col("l_quantity")).as("total_qty"))
        .where(col("total_qty") > 300.0)
      Tables(s, d, "orders")
        .join(hot, col("o_orderkey") === col("l_orderkey"))
        .join(broadcast(Tables(s, d, "customer")),
          col("o_custkey") === col("c_custkey"))
        .orderBy(col("total_qty").desc, col("o_orderkey"))
        .limit(20)
        // report columns are formatted after the top-k, on 20 rows
        .select(col("c_custkey"), col("c_name"), col("o_orderkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
          col("total_qty"))
    }),

    // Q21 shape — suppliers who kept orders waiting: on multi-supplier
    // orders where EXACTLY ONE supplier shipped late (> 45 days after
    // the order date), count such orders per offending supplier, top 20.
    // The classic correlated EXISTS / NOT EXISTS pair is algebrized into
    // a single aggregate CASCADE — per-(order, supplier) any-late, then
    // per-order supplier/late counts — with the offending supplier
    // captured INSIDE the per-order aggregate (max over the late-only
    // suppkeys, exact when n_late = 1), so the fact-side lineage has ONE
    // consumer: the first formulation joined the per-(order,supplier)
    // frame back to its own per-order rollup, and Catalyst planned the
    // orders⋈lineitem + first aggregate subtree TWICE plus a SortMerge
    // recombine (5 shuffles, double fact pass — measured 1.9 s in-bench);
    // the fused form is 3 natural-key shuffles (orderkey+suppkey →
    // orderkey → suppkey), one fact pass, no self-join. Supplier dim
    // broadcasts for the name; all day arithmetic in integer datediff.
    "q_wl_late_supplier" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
        .join(Tables(s, d, "orders").select("o_orderkey", "o_orderdate"),
          col("l_orderkey") === col("o_orderkey"))
        .select(col("l_orderkey"), col("l_suppkey"),
          (datediff(to_date(col("l_shipdate")), to_date(col("o_orderdate"))) > 45)
            .cast("int").as("late"))
      val perSup = li.groupBy("l_orderkey", "l_suppkey")
        .agg(max(col("late")).as("late"))
      perSup.groupBy("l_orderkey")
        .agg(count(lit(1)).as("n_supp"), sum(col("late")).as("n_late"),
          max(when(col("late") === 1, col("l_suppkey"))).as("late_supp"))
        .where(col("n_supp") >= 2 && col("n_late") === 1)
        .groupBy("late_supp").agg(count(lit(1)).as("numwait"))
        .join(broadcast(Tables(s, d, "supplier").select("s_suppkey", "s_name")),
          col("late_supp") === col("s_suppkey"))
        .select(col("s_suppkey"), col("s_name"), col("numwait"))
        .orderBy(col("numwait").desc, col("s_suppkey"))
        .limit(20)
    }),

    // Q2 shape — min-cost supplier per part within a region: the
    // correlated "cost = (SELECT min(cost) …)" subquery algebrized into
    // one keyed aggregate + an argmin, with every dimension broadcast and
    // BOTH reductions applied before the fact-side shuffle (region
    // filter on the supplier dim, part-type filter as a broadcast
    // key-join on the fact). Unit cost is an exact integer:
    // extendedprice is exact cents via the DECIMAL(18,2) cast, scaled
    // and floor-divided by the integral quantity — no float min, no
    // rounding divergence. The argmin is the house min(struct) —
    // lexicographic (cost, suppkey), so ties break to the smallest
    // supplier in both engines.
    "q_wl_min_cost_supplier" -> ((s, d) => {
      val eurSupp = Tables(s, d, "supplier")
        .join(broadcast(Tables(s, d, "nation")),
          col("s_nationkey") === col("n_nationkey"))
        .join(broadcast(Tables(s, d, "region").where(col("r_name") === "EUROPE")),
          col("n_regionkey") === col("r_regionkey"))
        .select(col("s_suppkey"))
      val largeParts = Tables(s, d, "part")
        .where(col("p_type") === "LARGE").select("p_partkey", "p_name")
      Tables(s, d, "lineitem")
        .join(broadcast(eurSupp), col("l_suppkey") === col("s_suppkey"))
        .join(broadcast(largeParts), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("p_name"), col("l_suppkey"),
          expr("""(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   * 100) div CAST(l_quantity AS BIGINT)""").as("cost_e4"))
        .groupBy("l_partkey")
        .agg(first(col("p_name")).as("p_name"),
          min(struct(col("cost_e4"), col("l_suppkey"))).as("m"))
        .select(col("l_partkey").as("p_partkey"), col("p_name"),
          col("m.cost_e4").as("min_cost_e4"),
          col("m.l_suppkey").as("best_suppkey"))
        .orderBy("p_partkey")
    }),

    // Q4 shape — order-priority checking: orders placed in one quarter
    // that had at least one slow line (shipped > 60 days after the order
    // date; this schema carries no commit/receipt dates, so lateness is
    // ship-vs-order — the q_wl_late_supplier convention), counted per
    // priority. The quarter predicate prunes the orders scan BEFORE the
    // join, and the existence test is a LEFT SEMI join — one probe per
    // order, no duplicate counting, no distinct — with the date band as
    // the join residual. One keyed shuffle on orderkey; the aggregate
    // output is dim-bounded (5 priorities).
    "q_wl_order_priority" -> ((s, d) => {
      val ords = Tables(s, d, "orders")
        .where(col("o_orderdate") >= ts("1997-01-01") &&
          col("o_orderdate") < ts("1997-04-01"))
        .select("o_orderkey", "o_orderpriority", "o_orderdate")
      val lines = Tables(s, d, "lineitem").select("l_orderkey", "l_shipdate")
      ords.join(lines,
          col("o_orderkey") === col("l_orderkey") &&
            col("l_shipdate") > col("o_orderdate") + expr("INTERVAL 60 DAYS"),
          "left_semi")
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("order_count"))
        .orderBy("o_orderpriority")
    }),

    // Q17 shape — small-quantity-order revenue: lines whose quantity is
    // under 20% of their part's average, for one brand of small parts.
    // The correlated avg subquery algebrizes to one keyed aggregate over
    // the SAME brand-filtered line set, and the 20% test is exact
    // integer cross-multiplication (5·qty·cnt < Σqty — quantities are
    // integral, the Q2 cast discipline) so no float average ever enters
    // a predicate. The brand filter broadcasts onto both lineitem
    // passes; the per-part stats frame is bounded by the filtered part
    // count, so it broadcasts too — the fact rows never shuffle.
    "q_wl_small_qty_revenue" -> ((s, d) => {
      val pr = Tables(s, d, "part")
        .where(col("p_brand") === "Brand#4" && col("p_size") < 6)
        .select("p_partkey")
      val li = Tables(s, d, "lineitem")
        .join(broadcast(pr), col("l_partkey") === col("p_partkey"))
        .select(col("l_partkey"), col("l_quantity").cast("long").as("qty"),
          col("l_extendedprice"))
      val st = li.groupBy("l_partkey")
        .agg(sum(col("qty")).as("sq"), count(lit(1)).as("cq"))
      li.join(broadcast(st), "l_partkey")
        .where(col("qty") * lit(5L) * col("cq") < col("sq"))
        .agg((dsum(col("l_extendedprice")) / 7.0).as("avg_yearly"))
    }),

    // Q22 shape — idle high-balance customers: in three market segments,
    // customers whose balance beats the segment-set's positive-balance
    // average and who have placed NO orders since IdleCutoff (every
    // customer in this corpus has SOME order, so "no orders ever" is
    // vacuous at every gate scale — recency-idleness is the predicate
    // the data actually exhibits: 5/32/395 rows at sf0.001/0.01/0.1).
    // The scalar avg subquery is a 1-row broadcast (exact decimal sum /
    // count, so both engines derive the identical double threshold);
    // the NOT EXISTS is a LEFT ANTI join on custkey against the
    // date-filtered orders — the filter pushes to the parquet scan, then
    // one keyed shuffle. Output is dim-bounded (3 segments).
    "q_wl_idle_customers" -> ((s, d) => {
      val segs = Seq("BUILDING", "MACHINERY", "AUTOMOBILE")
      val cust = Tables(s, d, "customer")
        .where(col("c_mktsegment").isin(segs: _*))
        .select("c_custkey", "c_mktsegment", "c_acctbal")
      val avgBal = cust.where(col("c_acctbal") > 0)
        .agg((dsum(col("c_acctbal")) / count(lit(1))).as("ab"))
      cust.crossJoin(broadcast(avgBal))
        .where(col("c_acctbal") > col("ab"))
        .join(Tables(s, d, "orders")
            .where(col("o_orderdate") >= ts(IdleCutoff))
            .select("o_custkey"),
          col("c_custkey") === col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("n_cust"), dsum(col("c_acctbal")).as("total_bal"))
        .orderBy("c_mktsegment")
    }),

    // Q14 shape — promo revenue share per month: conditional aggregation
    // over one broadcast-dim join, the numerator/denominator both exact
    // decimal sums so the final double division hash-matches.
    "q_wl_promo_share" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .where(col("l_shipdate") >= ts("1998-01-01") &&
          col("l_shipdate") < ts("1999-01-01"))
        .join(broadcast(Tables(s, d, "part")), col("l_partkey") === col("p_partkey"))
        .groupBy(date_format(col("l_shipdate"), "yyyy-MM").as("ym"))
        .agg(
          dsum(when(col("p_type").startsWith("PROMO"), revenue).otherwise(lit(0.0)))
            .as("promo_rev"),
          dsum(revenue).as("total_rev"))
        .select(col("ym"), col("promo_rev"), col("total_rev"),
          (lit(100.0) * col("promo_rev") / col("total_rev")).as("promo_pct"))
        .orderBy("ym"))
  )

  private val oRev = "l_extendedprice * (1 - l_discount)"

  val oracle: Map[String, String] = Map(
    "q_wl_min_cost_supplier" ->
      """WITH es AS (SELECT s_suppkey FROM supplier
             JOIN nation ON s_nationkey = n_nationkey
             JOIN region ON n_regionkey = r_regionkey
           WHERE r_name = 'EUROPE'),
         o AS (SELECT l_partkey, l_suppkey,
                 (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
                   * 100) // CAST(l_quantity AS BIGINT) AS cost_e4
               FROM lineitem
                 JOIN es ON l_suppkey = s_suppkey
                 JOIN part ON l_partkey = p_partkey
               WHERE p_type = 'LARGE'),
         b AS (SELECT l_partkey, MIN(cost_e4) AS min_cost_e4
               FROM o GROUP BY l_partkey),
         bs AS (SELECT o.l_partkey, b.min_cost_e4,
                  MIN(o.l_suppkey) AS best_suppkey
                FROM o JOIN b ON o.l_partkey = b.l_partkey
                  AND o.cost_e4 = b.min_cost_e4
                GROUP BY o.l_partkey, b.min_cost_e4)
         SELECT p_partkey, p_name, min_cost_e4, best_suppkey
         FROM bs JOIN part ON l_partkey = p_partkey
         ORDER BY p_partkey""",

    "q_wl_dataset_card" ->
      """WITH d AS (SELECT doc_id, lang, source,
             len(string_split(text, ' ')) AS nt, md5(text) AS h
           FROM documents),
         b AS (SELECT COUNT(*) AS n_docs,
             CAST(SUM(nt) AS BIGINT) AS total_tokens,
             COUNT(DISTINCT source) AS n_sources,
             COUNT(DISTINCT h) AS n_uniq,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS n_en FROM d),
         lc AS (SELECT lang, COUNT(*) AS c FROM d GROUP BY lang),
         nn AS (SELECT COUNT(*) AS nn FROM d),
         e AS (SELECT CAST(SUM(CAST(round(-(CAST(c AS DOUBLE) / nn)
             * log2(CAST(c AS DOUBLE) / nn), 9) AS DECIMAL(18,9)))
             AS DOUBLE) AS lang_entropy FROM lc, nn)
         SELECT n_docs, total_tokens,
           round(CAST(total_tokens AS DOUBLE) / n_docs, 9) AS mean_tokens,
           round(CAST(n_en AS DOUBLE) / n_docs, 9) AS pct_en,
           n_sources,
           round(1.0 - CAST(n_uniq AS DOUBLE) / n_docs, 9) AS dup_rate,
           lang_entropy
         FROM b, e""",

    "q_wl_shipping_priority" ->
      s"""SELECT l_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS odate,
           o_orderpriority, ${oDsum(oRev)} AS rev
         FROM lineitem
         JOIN orders ON l_orderkey = o_orderkey
         JOIN customer ON o_custkey = c_custkey
         WHERE c_mktsegment = 'BUILDING'
           AND o_orderdate < TIMESTAMP '1998-06-15'
           AND l_shipdate > TIMESTAMP '1998-06-15'
         GROUP BY l_orderkey, odate, o_orderpriority
         ORDER BY rev DESC, l_orderkey LIMIT 10""",

    "q_wl_late_supplier" ->
      """WITH j AS (
           SELECT l_orderkey, l_suppkey,
             CAST(CAST(l_shipdate AS DATE) - CAST(o_orderdate AS DATE) > 45
               AS INT) AS late
           FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
         ps AS (SELECT l_orderkey, l_suppkey, MAX(late) AS late
                FROM j GROUP BY l_orderkey, l_suppkey),
         po AS (SELECT l_orderkey, COUNT(*) AS n_supp,
                  CAST(SUM(late) AS BIGINT) AS n_late,
                  MAX(CASE WHEN late = 1 THEN l_suppkey END) AS late_supp
                FROM ps GROUP BY l_orderkey),
         w AS (SELECT late_supp, COUNT(*) AS numwait
               FROM po WHERE n_supp >= 2 AND n_late = 1
               GROUP BY late_supp)
         SELECT s_suppkey, s_name, numwait
         FROM w JOIN supplier ON late_supp = s_suppkey
         ORDER BY numwait DESC, s_suppkey LIMIT 20""",

    "q_wl_local_volume" ->
      s"""SELECT n_name, ${oDsum(oRev)} AS rev
         FROM orders
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
         JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         WHERE r_name = 'ASIA'
           AND o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1998-01-01'
         GROUP BY n_name
         ORDER BY rev DESC, n_name""",

    "q_wl_returned_value" ->
      s"""SELECT c_custkey, c_name, n_name, ${oDsum(oRev)} AS rev
         FROM orders
         JOIN lineitem ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         JOIN nation ON c_nationkey = n_nationkey
         WHERE l_returnflag = 'R'
           AND o_orderdate >= TIMESTAMP '1999-10-01'
           AND o_orderdate < TIMESTAMP '2000-01-01'
         GROUP BY c_custkey, c_name, n_name
         ORDER BY rev DESC, c_custkey LIMIT 20""",

    "q_wl_curation_pipeline" ->
      s"""WITH d AS (SELECT doc_id, text, source, string_split(text, ' ') AS tk
             FROM documents),
         f AS (SELECT *, len(tk) AS n_tok, $oQualityLogit AS logit FROM d),
         q AS (SELECT * FROM f WHERE logit > 0.0),
         dd AS (SELECT * FROM (SELECT *, row_number() OVER (
                  PARTITION BY md5(trim(lower(text))) ORDER BY doc_id) AS rk FROM q)
                WHERE rk = 1),
         bench AS (SELECT DISTINCT unnest(list_distinct(${oGramsN(5)})) AS g
                   FROM d WHERE doc_id % 97 = 0),
         cg AS (SELECT doc_id, unnest(list_distinct(${oGramsN(5)})) AS g
                FROM dd WHERE doc_id % 97 <> 0),
         cont AS (SELECT DISTINCT doc_id FROM cg JOIN bench USING (g)),
         clean AS (SELECT * FROM dd WHERE doc_id % 97 <> 0
                   AND doc_id NOT IN (SELECT doc_id FROM cont)),
         p AS (SELECT source, doc_id, n_tok,
                 COALESCE(SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
               FROM clean)
         SELECT source, CAST(start_off // 512 AS BIGINT) AS seq,
           COUNT(*) AS n_docs, CAST(SUM(n_tok) AS BIGINT) AS tok,
           MIN(doc_id) AS first_doc
         FROM p GROUP BY source, seq ORDER BY source, seq""",

    "q_wl_large_orders" ->
      s"""WITH hot AS (SELECT l_orderkey, ${oDsum("l_quantity")} AS total_qty
             FROM lineitem GROUP BY l_orderkey
             HAVING ${oDsum("l_quantity")} > 300.0)
         SELECT c_custkey, c_name, o_orderkey,
           strftime(o_orderdate, '%Y-%m-%d') AS odate, total_qty
         FROM orders
         JOIN hot ON o_orderkey = l_orderkey
         JOIN customer ON o_custkey = c_custkey
         ORDER BY total_qty DESC, o_orderkey LIMIT 20""",

    "q_wl_order_priority" ->
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem
             WHERE l_orderkey = o_orderkey
               AND l_shipdate > o_orderdate + INTERVAL 60 DAY)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_wl_small_qty_revenue" ->
      s"""WITH pr AS (SELECT p_partkey FROM part
             WHERE p_brand = 'Brand#4' AND p_size < 6),
         li AS (SELECT l_partkey, CAST(l_quantity AS BIGINT) AS qty,
                  l_extendedprice
                FROM lineitem JOIN pr ON l_partkey = p_partkey),
         st AS (SELECT l_partkey, SUM(qty) AS sq, COUNT(*) AS cq
                FROM li GROUP BY l_partkey)
         SELECT ${oDsum("l_extendedprice")} / 7.0 AS avg_yearly
         FROM li JOIN st USING (l_partkey)
         WHERE qty * 5 * cq < sq""",

    "q_wl_idle_customers" ->
      s"""WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
             WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')),
         ab AS (SELECT ${oDavg("c_acctbal")} AS ab FROM c
                WHERE c_acctbal > 0)
         SELECT c_mktsegment, COUNT(*) AS n_cust,
           ${oDsum("c_acctbal")} AS total_bal
         FROM c, ab
         WHERE c_acctbal > ab
           AND NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey
                             AND o_orderdate >= TIMESTAMP '$IdleCutoff')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_wl_promo_share" ->
      s"""WITH t AS (SELECT strftime(l_shipdate, '%Y-%m') AS ym,
             ${oDsum(s"CASE WHEN p_type LIKE 'PROMO%' THEN $oRev ELSE 0.0 END")} AS promo_rev,
             ${oDsum(oRev)} AS total_rev
           FROM lineitem JOIN part ON l_partkey = p_partkey
           WHERE l_shipdate >= TIMESTAMP '1998-01-01'
             AND l_shipdate < TIMESTAMP '1999-01-01'
           GROUP BY ym)
         SELECT ym, promo_rev, total_rev,
           100.0 * promo_rev / total_rev AS promo_pct
         FROM t ORDER BY ym"""
  )
}
