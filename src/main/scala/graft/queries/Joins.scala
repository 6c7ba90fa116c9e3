package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** SURVEY §2.3 joins.
  *
  * Scale notes: physical join shapes are pinned with hints where the query
  * name promises one (shuffle-hash, sort-merge) and dimension tables are
  * explicitly `broadcast()` so the 100 TB plan never shuffles the fact side
  * against a KB-scale dim. The theta/range self-join folds a 32-day time
  * bin into the equi-key (custkey, bin) so the range residual is evaluated
  * per bucket, never over a customer's whole history, and never as a
  * cartesian BNLJ. The as-of join deliberately avoids
  * the quadratic pair-then-filter shape: it is a single window pass
  * (shuffle once by user), which survives arbitrarily long histories.
  */
object Joins {

  val queries: Map[String, Q] = Map(
    "q_join_inner_hash" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val c = Tables(s, d, "customer")
      o.join(c.hint("shuffle_hash"), o("o_custkey") === c("c_custkey"))
        .select(o("o_orderkey"), c("c_custkey"), c("c_name"), o("o_totalprice"))
        .orderBy("o_orderkey")
    }),

    "q_join_broadcast" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val n = Tables(s, d, "nation")
      val r = Tables(s, d, "region")
      c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
        .join(broadcast(r), n("n_regionkey") === r("r_regionkey"))
        .select(c("c_custkey"), n("n_name"), r("r_name"))
        .orderBy("c_custkey")
    }),

    "q_join_sortmerge" -> ((s, d) => {
      val l = Tables(s, d, "lineitem")
      val o = Tables(s, d, "orders")
      l.join(o.hint("merge"), l("l_orderkey") === o("o_orderkey"))
        .groupBy(o("o_orderpriority"))
        .agg(count(lit(1)).as("cnt"),
          dsum(l("l_extendedprice") * (lit(1.0) - l("l_discount"))).as("revenue"))
        .orderBy("o_orderpriority")
    }),

    // Co-located join via bucketing: both sides pre-bucketed (and
    // sort-ordered) on the join key with the SAME bucket count, so the
    // join is bucket-local — no Exchange under the SortMergeJoin
    // (PlanSpec asserts it). At 100 TB this is THE pattern for a fact
    // table joined repeatedly on one key: pay the bucketed write once,
    // skip the shuffle on every subsequent join. The bucketed copies are
    // written once per (session, sfDir) through Memo, mirroring how a
    // warehouse would maintain them.
    "q_join_bucketed" -> ((s, d) => {
      // full sanitized sfDir as the tag: digit-only tags would collide
      // across dirs like sf1.0 / sf10 (table names forbid dots)
      val tag = d.replaceAll("[^A-Za-z0-9]", "_")
      graft.Memo(s, s"bucketed:$d") {
        val base = s"${System.getProperty("java.io.tmpdir")}/graft_rt/bucketed_$tag"
        Tables(s, d, "orders").write.mode("overwrite")
          .option("path", s"$base/orders")
          .bucketBy(8, "o_custkey").sortBy("o_custkey")
          .saveAsTable(s"b_orders_$tag")
        Tables(s, d, "customer").write.mode("overwrite")
          .option("path", s"$base/customer")
          .bucketBy(8, "c_custkey").sortBy("c_custkey")
          .saveAsTable(s"b_customer_$tag")
        true
      }
      // pin sort-merge: at test scale Spark would broadcast the dim and
      // mask the point; SMJ over two same-bucketed scans is the shape a
      // 100 TB fact-fact join takes, and here it needs zero exchanges.
      s.table(s"b_orders_$tag")
        .join(s.table(s"b_customer_$tag").hint("merge"),
          col("o_custkey") === col("c_custkey"))
        .groupBy("c_mktsegment")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
        .orderBy("c_mktsegment")
    }),

    "q_join_left_outer" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val o = Tables(s, d, "orders")
      c.join(o, c("c_custkey") === o("o_custkey"), "left")
        .select(c("c_custkey"), o("o_orderkey"))
        .orderBy(col("c_custkey").asc, col("o_orderkey").asc_nulls_first)
    }),

    "q_join_full_outer" -> ((s, d) => {
      val sup = Tables(s, d, "supplier")
        .groupBy(col("s_nationkey").as("sk")).agg(count(lit(1)).as("s_cnt"))
      val cus = Tables(s, d, "customer")
        .groupBy(col("c_nationkey").as("ck")).agg(count(lit(1)).as("c_cnt"))
      sup.join(cus, sup("sk") === cus("ck"), "full")
        .select(
          coalesce(col("sk"), lit(-1)).as("snk"),
          coalesce(col("ck"), lit(-1)).as("cnk"),
          coalesce(col("s_cnt"), lit(0L)).as("s_cnt"),
          coalesce(col("c_cnt"), lit(0L)).as("c_cnt"))
        .orderBy("snk", "cnk")
    }),

    "q_join_left_semi" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val o = Tables(s, d, "orders").where(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_semi")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    "q_join_left_anti" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      // anti against urgent orders (every customer has *some* order in this
      // data, so a bare no-orders anti-join would be empty at small sf)
      val o = Tables(s, d, "orders").where(col("o_orderpriority") === "1-URGENT")
      c.join(o, c("c_custkey") === o("o_custkey"), "left_anti")
        .select("c_custkey", "c_name").orderBy("c_custkey")
    }),

    "q_join_cross" -> ((s, d) =>
      Tables(s, d, "region").crossJoin(Tables(s, d, "nation"))
        .select("r_name", "n_name").orderBy("r_name", "n_name")),

    // Range self-join, binned: the equi-key is (custkey, 32-day time bin),
    // not custkey alone. With a 30-day band, d2 ∈ (d1, d1+30d] lands in
    // d1's bin or the next one, so the left side explodes to exactly two
    // (custkey, bin) probes and the band is a residual INSIDE each hash
    // bucket. The custkey-only form scans every pair a customer ever
    // made per probe — measured 177× at ×100 input vs 9.6× isolated /
    // 15.9× in-suite for this construction (BASELINE.md "And at ×100";
    // output rows themselves grow ~×100 there, so ~10× runtime on ×100
    // input+output is at-linear).
    "q_join_theta_range" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val o1 = o.select(col("o_custkey").as("ck1"), col("o_orderkey").as("k1"),
          col("o_orderdate").as("d1"))
        .withColumn("bin1", expr("unix_date(CAST(d1 AS DATE)) div 32"))
        .withColumn("bin", explode(array(col("bin1"), col("bin1") + 1)))
      val o2 = o.select(col("o_custkey").as("ck2"), col("o_orderkey").as("k2"),
          col("o_orderdate").as("d2"))
        .withColumn("bin2", expr("unix_date(CAST(d2 AS DATE)) div 32"))
      o1.join(o2, col("ck1") === col("ck2") && col("bin") === col("bin2")
          && col("d2") > col("d1")
          && col("d2") <= col("d1") + expr("INTERVAL 30 DAYS"))
        .select(col("k1").as("o1_key"), col("k2").as("o2_key"))
        .orderBy("o1_key", "o2_key")
    }),

    // Null-safe equi join (<=>): NULL keys MATCH each other instead of
    // vanishing — the semantics dirty dimension data needs when "key
    // unknown" is itself a join class. Keys are synthesized nullable
    // (the corpus has none); Spark still plans this as a hash join (the
    // null bucket is just another key), asserted by the oracle equality.
    "q_join_null_safe" -> ((s, d) => {
      val c = Tables(s, d, "customer")
        .select(col("c_custkey"), expr("nullif(c_nationkey % 5, 4)").as("grp"))
      val n = Tables(s, d, "nation")
        .select(expr("nullif(n_nationkey % 5, 4)").as("grp2"), col("n_nationkey"))
      c.join(n, col("grp") <=> col("grp2"))
        .groupBy("grp")
        .agg(count(lit(1)).as("n_pairs"), sum(col("n_nationkey")).as("nk_sum"))
        .orderBy(asc_nulls_first("grp"))
    }),

    // Fuzzy (edit-distance) self-join with BLOCKING KEYS — the standard
    // entity-resolution shape: candidate pairs form only inside a
    // (brand, type) block, so the quadratic term is per-block (≤ a few
    // hundred names), block count grows with the data, and the
    // levenshtein residual is evaluated on block-local pairs — never
    // all-pairs. A skewed block is one hash bucket: AQE skew-join or a
    // salt on the block key splits it, same playbook as q_join_skew_
    // salted. Both engines' levenshtein is the unweighted
    // insert/delete/substitute distance — integer, bit-agreeing. The
    // ||len(a)−len(b)|| ≤ k conjunct SITS BEFORE the levenshtein in the
    // residual: it is a free lower bound on edit distance, and codegen's
    // short-circuit And skips the O(len²) DP for every block pair it
    // rejects — the DP then runs only on length-compatible pairs (and
    // once more in the projection, only on the few confirmed matches).
    "q_join_fuzzy_block" -> ((s, d) => {
      // fanOut (r14): the levenshtein DP residual runs on the broadcast
      // join's PROBE side, which inherits the scan's 1-partition layout
      // at fixture scale — single-core DP over every block pair
      // (measured 1.34 s; 0.21 s with a parallel probe side).
      val p = fanOut(Tables(s, d, "part")
        .select(col("p_partkey").as("k"), col("p_name").as("n"),
          col("p_brand").as("b"), col("p_type").as("t")))
      p.as("x").join(p.as("y"),
          col("x.b") === col("y.b") && col("x.t") === col("y.t") &&
            col("x.k") < col("y.k") &&
            abs(length(col("x.n")) - length(col("y.n"))) <= 4 &&
            levenshtein(col("x.n"), col("y.n")) <= 4)
        .select(col("x.b").as("p_brand"), col("x.t").as("p_type"),
          col("x.k").as("key_a"), col("y.k").as("key_b"),
          levenshtein(col("x.n"), col("y.n")).cast("long").as("dist"))
        .orderBy("p_brand", "p_type", "key_a", "key_b")
    }),

    // Nearest-event as-of join (the bidirectional variant): for each
    // purchase, the click of the same user closest in time, EITHER
    // direction, ties to the earlier (prior) click. Same single-shuffle
    // window shape as q_join_asof — prev = max-over-prefix, next =
    // min-over-suffix — so it needs no join at all: event_id is strictly
    // ascending with ts, so the prefix-max click id and prefix-max click
    // timestamp belong to the same row and can ride in separate window
    // columns. O(n) state per user, linear at any scale.
    "q_join_asof_nearest" -> ((s, d) => {
      val wPrev = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val isClick = col("event_type") === "click"
      Tables(s, d, "events")
        .withColumn("us", unix_micros(col("ts")))
        .withColumn("prev_id", max(when(isClick, col("event_id"))).over(wPrev))
        .withColumn("prev_us", max(when(isClick, col("us"))).over(wPrev))
        .withColumn("next_id", min(when(isClick, col("event_id"))).over(wNext))
        .withColumn("next_us", min(when(isClick, col("us"))).over(wNext))
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          when(col("prev_id").isNull && col("next_id").isNull, lit(-1L))
            .when(col("next_id").isNull, col("prev_id"))
            .when(col("prev_id").isNull, col("next_id"))
            .when(col("us") - col("prev_us") <= col("next_us") - col("us"),
              col("prev_id"))
            .otherwise(col("next_id")).as("click_id"),
          when(col("prev_id").isNull && col("next_id").isNull, lit(-1L))
            .otherwise(least(
              coalesce(col("us") - col("prev_us"), lit(Long.MaxValue)),
              coalesce(col("next_us") - col("us"), lit(Long.MaxValue))))
            .as("dist_us"))
        .orderBy("purchase_id")
    }),

    // Bloom-pruned join — the semi-join reduction every engine's
    // runtime filters chase, made explicit: when the dim side is
    // selective but too large to broadcast (forced here with a pinned
    // shuffle-hash join), a Bloom filter of its JOIN KEYS is small
    // enough to broadcast at any dim size, and probing it BEFORE the
    // fact side's exchange drops ~4/5 of the fact rows pre-shuffle
    // (BUILDING is one of 5 segments) — the shuffle_mb telemetry in
    // bench_full.json is the receipt. False positives (1%) survive the
    // probe and die in the real join, so the result is exactly the
    // plain join's (the oracle proves it); the probe UDF sits below
    // the Exchange, the same placement PlanSpec pins for the Bloom
    // decontamination pass. The filter memoizes per (session, dir)
    // like every other sketch build.
    "q_join_bloom_prune" -> ((s, d) => {
      val dim = Tables(s, d, "customer")
        .where(col("c_mktsegment") === "BUILDING")
        .select(col("c_custkey"))
      val bloom = graft.Memo(s, s"bloomjoin:$d") {
        // sized from the dim's ACTUAL key count (one memoized count job)
        // — a fixed expectedNumItems silently saturates once the dim
        // outgrows it and the false-positive rate drifts toward 1,
        // dissolving the pre-shuffle pruning this operator exists for
        val n = math.max(dim.count(), 1L)
        s.sparkContext.broadcast(dim.stat.bloomFilter("c_custkey", n, 0.01))
      }
      val probe = udf((k: Long) => bloom.value.mightContainLong(k))
      Tables(s, d, "orders")
        .where(probe(col("o_custkey")))
        .join(dim.hint("shuffle_hash"), col("o_custkey") === col("c_custkey"))
        .groupBy("c_custkey")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total"))
        .orderBy(col("total").desc, col("c_custkey")).limit(20)
    }),

    "q_join_asof" -> ((s, d) => {
      // Most recent prior click for each purchase of the same user.
      // events.ts is strictly ascending with event_id, so event_id is a
      // faithful (and µs/ns-truncation-proof) time axis; max-over-prefix of
      // click ids IS the as-of match. One shuffle by user_id, O(n) state.
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "events")
        .withColumn("last_click_id",
          max(when(col("event_type") === "click", col("event_id"))).over(w))
        .where(col("event_type") === "purchase")
        .select(col("user_id"), col("event_id").as("purchase_id"),
          coalesce(col("last_click_id"), lit(-1L)).as("last_click_id"))
        .orderBy("purchase_id")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_join_null_safe" ->
      """WITH c AS (SELECT c_custkey, nullif(c_nationkey % 5, 4) AS grp FROM customer),
         n AS (SELECT nullif(n_nationkey % 5, 4) AS grp2, n_nationkey FROM nation)
         SELECT grp, COUNT(*) AS n_pairs, CAST(SUM(n_nationkey) AS BIGINT) AS nk_sum
         FROM c JOIN n ON grp IS NOT DISTINCT FROM grp2
         GROUP BY grp ORDER BY grp NULLS FIRST""",

    "q_join_fuzzy_block" ->
      """WITH p AS (SELECT p_partkey AS k, p_name AS n, p_brand AS b,
             p_type AS t FROM part)
         SELECT x.b AS p_brand, x.t AS p_type, x.k AS key_a, y.k AS key_b,
           CAST(levenshtein(x.n, y.n) AS BIGINT) AS dist
         FROM p x JOIN p y ON x.b = y.b AND x.t = y.t AND x.k < y.k
           AND levenshtein(x.n, y.n) <= 4
         ORDER BY p_brand, p_type, key_a, key_b""",

    "q_join_bucketed" ->
      s"""SELECT c_mktsegment, COUNT(*) AS cnt, ${oDsum("o_totalprice")} AS total
          FROM orders JOIN customer ON o_custkey = c_custkey
          GROUP BY c_mktsegment ORDER BY c_mktsegment""",

    "q_join_inner_hash" ->
      """SELECT o_orderkey, c_custkey, c_name, o_totalprice
         FROM orders JOIN customer ON o_custkey = c_custkey
         ORDER BY o_orderkey""",

    "q_join_broadcast" ->
      """SELECT c_custkey, n_name, r_name
         FROM customer JOIN nation ON c_nationkey = n_nationkey
         JOIN region ON n_regionkey = r_regionkey
         ORDER BY c_custkey""",

    "q_join_sortmerge" ->
      s"""SELECT o_orderpriority, COUNT(*) AS cnt,
            ${oDsum("l_extendedprice * (CAST(1.0 AS DOUBLE) - l_discount)")} AS revenue
          FROM lineitem JOIN orders ON l_orderkey = o_orderkey
          GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_join_left_outer" ->
      """SELECT c_custkey, o_orderkey
         FROM customer LEFT JOIN orders ON c_custkey = o_custkey
         ORDER BY c_custkey, o_orderkey NULLS FIRST""",

    "q_join_full_outer" ->
      """SELECT COALESCE(sk, -1) AS snk, COALESCE(ck, -1) AS cnk,
           COALESCE(s_cnt, 0) AS s_cnt, COALESCE(c_cnt, 0) AS c_cnt
         FROM (SELECT s_nationkey AS sk, COUNT(*) AS s_cnt FROM supplier GROUP BY 1) s
         FULL JOIN (SELECT c_nationkey AS ck, COUNT(*) AS c_cnt FROM customer GROUP BY 1) c
           ON s.sk = c.ck
         ORDER BY snk, cnk""",

    "q_join_left_semi" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",

    "q_join_left_anti" ->
      """SELECT c_custkey, c_name FROM customer
         WHERE NOT EXISTS (SELECT 1 FROM orders
           WHERE o_custkey = c_custkey AND o_orderpriority = '1-URGENT')
         ORDER BY c_custkey""",

    "q_join_cross" ->
      """SELECT r_name, n_name FROM region CROSS JOIN nation
         ORDER BY r_name, n_name""",

    "q_join_theta_range" ->
      """SELECT o1.o_orderkey AS o1_key, o2.o_orderkey AS o2_key
         FROM orders o1 JOIN orders o2
           ON o1.o_custkey = o2.o_custkey
          AND o2.o_orderdate > o1.o_orderdate
          AND o2.o_orderdate <= o1.o_orderdate + INTERVAL 30 DAY
         ORDER BY o1_key, o2_key""",

    "q_join_asof_nearest" ->
      """WITH e AS (SELECT user_id, event_id, event_type, epoch_us(ts) AS us,
             MAX(CASE WHEN event_type = 'click' THEN event_id END)
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_id,
             MAX(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS prev_us,
             MIN(CASE WHEN event_type = 'click' THEN event_id END)
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_id,
             MIN(CASE WHEN event_type = 'click' THEN epoch_us(ts) END)
               OVER (PARTITION BY user_id ORDER BY event_id
                     ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS next_us
           FROM events)
         SELECT user_id, event_id AS purchase_id,
           CASE WHEN prev_id IS NULL AND next_id IS NULL THEN -1
                WHEN next_id IS NULL THEN prev_id
                WHEN prev_id IS NULL THEN next_id
                WHEN us - prev_us <= next_us - us THEN prev_id
                ELSE next_id END AS click_id,
           CASE WHEN prev_id IS NULL AND next_id IS NULL THEN -1
                ELSE least(COALESCE(us - prev_us, 9223372036854775807),
                           COALESCE(next_us - us, 9223372036854775807)) END AS dist_us
         FROM e WHERE event_type = 'purchase' ORDER BY purchase_id""",

    "q_join_bloom_prune" ->
      s"""SELECT c_custkey, COUNT(*) AS n_orders,
            ${oDsum("o_totalprice")} AS total
          FROM orders JOIN customer ON o_custkey = c_custkey
          WHERE c_mktsegment = 'BUILDING'
          GROUP BY c_custkey
          ORDER BY total DESC, c_custkey LIMIT 20""",

    "q_join_asof" ->
      """SELECT user_id, purchase_id, COALESCE(last_click_id, -1) AS last_click_id
         FROM (SELECT user_id, event_id AS purchase_id, event_type,
                 MAX(CASE WHEN event_type = 'click' THEN event_id END)
                   OVER (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS last_click_id
               FROM events)
         WHERE event_type = 'purchase'
         ORDER BY purchase_id"""
  )
}
