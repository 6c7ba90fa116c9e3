package graft.queries

import graft.{Memo, Tables}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Round-3 additions (SURVEY §2.15): distribution windows, LATERAL SQL,
  * rank-selected median/mode, time-series resample + gap-fill, SCD2
  * history build, data-quality profiling / referential checks, and a
  * Bloom-prefiltered decontamination variant.
  *
  * Scale notes: everything here is linear and shuffle-parallel. The
  * calendar spine in the resample is |users|×|days| (linear in users);
  * the SCD2 build is one window pass over events; the DQ checks are
  * broadcast anti-joins against dims; the Bloom variant's sketch is
  * KB-sized no matter how large the corpus, and pruning happens BEFORE
  * the shuffle join. Median/mode avoid interpolation entirely — pure
  * rank selection, so both engines agree bitwise (SURVEY §7.4).
  */
object Analytics {

  val queries: Map[String, Q] = Map(
    // Benford first-digit audit — the classic fabricated-data / unit-mix
    // screen over a money column: observed first-significant-digit share
    // vs the Benford expectation log10(1 + 1/d). The digit is extracted
    // in EXACT integer space (cents → decimal string → first char; both
    // engines print integers identically, and cents > 0 here) — never
    // via floor(log10(v)) float gymnastics that can misbin at powers of
    // ten. One partial+final aggregate over the scan + a broadcast
    // 1-row total; the only libm call (log10 of 9 constants) is pinned
    // to the 1e-9 grid. Output is 9 rows at any corpus size.
    "q_dq_benford" -> ((s, d) => {
      val o = Tables(s, d, "orders")
        .select(substring(round(col("o_totalprice") * 100).cast("long")
          .cast("string"), 1, 1).cast("int").as("digit"))
      val tot = o.agg(count(lit(1)).as("n"))
      o.groupBy("digit").agg(count(lit(1)).as("cnt"))
        .crossJoin(broadcast(tot))
        .select(col("digit"), col("cnt"),
          round(col("cnt").cast("double") / col("n"), 9).as("share"),
          round(log(10.0, lit(1.0) + lit(1.0) / col("digit")), 9)
            .as("benford_p"))
        .orderBy("digit")
    }),


    // Distribution windows: percent_rank / cume_dist per market segment.
    // custkey tiebreak makes every rank (hence every ratio) unique and
    // deterministic; the ratios are exact small-integer divisions, so the
    // doubles match DuckDB bit-for-bit.
    "q_win_cume_dist" -> ((s, d) => {
      val w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
      Tables(s, d, "customer")
        .select(col("c_custkey"), col("c_mktsegment").as("seg"), col("c_acctbal"),
          percent_rank().over(w).as("pr"),
          cume_dist().over(w).as("cd"))
        .orderBy("seg", "c_acctbal", "c_custkey")
    }),

    // Correlated LATERAL subquery: top-2 orders per customer — the SQL
    // surface for "for each row, run this dependent subquery". Catalyst
    // decorrelates it into a ranked join, so no per-row execution at
    // scale. Bounded to custkey<100 only to keep the demo output small.
    "q_sql_lateral" -> ((s, d) => {
      U.sqlOver(s,
        """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
           FROM {customer} c, LATERAL (
             SELECT o_orderkey, o_totalprice FROM {orders}
             WHERE o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
           WHERE c.c_custkey < 100
           ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""",
        "customer" -> Tables(s, d, "customer"), "orders" -> Tables(s, d, "orders"))
    }),

    // Exact median + mode per segment WITHOUT interpolation: lower median
    // = the value at rank ⌈n/2⌉ (pure selection, no float arithmetic);
    // mode = smallest value among the most frequent (count desc, value
    // asc, rank 1) — deterministic under ties. Two partial-aggregated
    // shuffles; no global sort.
    "q_agg_median_mode" -> ((s, d) => {
      val c = Tables(s, d, "customer")
      val wMed = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
      val med = c
        .withColumn("rn", row_number().over(wMed))
        .withColumn("n", count(lit(1)).over(Window.partitionBy("c_mktsegment")))
        .where(col("rn") === expr("(n + 1) div 2"))
        .select(col("c_mktsegment").as("seg"), col("c_acctbal").as("median_bal"),
          col("n").as("n_rows"))
      val wMode = Window.partitionBy("c_mktsegment")
        .orderBy(col("cnt").desc, col("c_nationkey").asc)
      val mode = c.groupBy("c_mktsegment", "c_nationkey")
        .agg(count(lit(1)).as("cnt"))
        .withColumn("mrn", row_number().over(wMode))
        .where(col("mrn") === 1)
        .select(col("c_mktsegment").as("seg"), col("c_nationkey").as("mode_nation"))
      med.join(mode, "seg").orderBy("seg")
    }),

    // Time-series resample to a daily grid + LOCF gap-fill: the calendar
    // spine is sequence()×users (linear in users, no cross join against
    // the fact table); daily totals come from one partial-aggregated
    // groupBy; the fill is last(ignoreNulls) over an explicit ROWS frame.
    "q_ts_resample_gapfill" -> ((s, d) => {
      val daily = Tables(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
        .groupBy("user_id", "day")
        .agg(dsum(col("value")).as("day_total"), count(lit(1)).as("n_ev"))
      // spine bounds come from the data (global min/max day, broadcast
      // 1-row) — a hardcoded window would silently drop out-of-range days
      val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val cal = daily.select("user_id").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
      val w = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      cal.join(daily, Seq("user_id", "day"), "left")
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day_s"),
          coalesce(col("n_ev"), lit(0L)).as("n_ev"), col("day_total"),
          last(col("day_total"), ignoreNulls = true).over(w).as("total_locf"))
        .orderBy("user_id", "day_s")
    }),

    // SCD type-2 history build: collapse the per-user event_type stream
    // into change intervals [valid_from_s, valid_to_s) with an is_current
    // flag — one window pass (lag to find change points, lead to close
    // intervals), ordered by the unique ascending event_id.
    "q_ts_scd2" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"), col("event_type"),
          epochS(col("ts")).as("from_s"))
        .withColumn("prev_type", lag(col("event_type"), 1).over(w))
        .where(col("prev_type").isNull || col("prev_type") =!= col("event_type"))
        .withColumn("version", row_number().over(w))
        .withColumn("valid_to_s", lead(col("from_s"), 1).over(w))
        .select(col("user_id"), col("version"), col("event_type"),
          col("from_s").as("valid_from_s"), col("valid_to_s"),
          col("valid_to_s").isNull.as("is_current"))
        .orderBy("user_id", "version")
    }),

    // Data-quality profile (Deequ-style): one aggregate pass computes
    // rows/nulls/distincts/min/max for each audited column, then stack()
    // pivots the single row into one row per column. String-typed values
    // only — numeric→string formatting is engine-specific (SURVEY §7.4).
    "q_dq_profile" -> ((s, d) => {
      val c = Tables(s, d, "customer")
        .withColumn("nat_s", col("c_nationkey").cast("string"))
      val cols = Seq("c_name", "c_mktsegment", "nat_s")
      val aggs = count(lit(1)).as("n") +: cols.flatMap(cn => Seq(
        count(col(cn)).as(s"nn_$cn"),
        countDistinct(col(cn)).as(s"nd_$cn"),
        min(col(cn)).as(s"mn_$cn"),
        max(col(cn)).as(s"mx_$cn")))
      val stackArgs = cols.map(cn =>
        s"'$cn', n, n - nn_$cn, nd_$cn, mn_$cn, mx_$cn").mkString(", ")
      c.agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"stack(${cols.size}, $stackArgs) AS " +
          "(col_name, n_rows, n_null, n_distinct, min_v, max_v)")
        .orderBy("col_name")
    }),

    // Referential-integrity audit: orphan counts for each FK edge of the
    // star schema via anti-joins — the dim side broadcasts, so each check
    // is one scan of the fact with no fact-side shuffle.
    "q_dq_referential" -> ((s, d) => {
      def orphans(rel: String, fact: String, fk: String, dim: String, pk: String) = {
        val f = Tables(s, d, fact)
        val dm = broadcast(Tables(s, d, dim).select(col(pk)))
        f.join(dm, f(fk) === dm(pk), "left_anti")
          .agg(count(lit(1)).as("n_orphans"))
          .select(lit(rel).as("relation"), col("n_orphans"))
      }
      orphans("lineitem.l_partkey->part", "lineitem", "l_partkey", "part", "p_partkey")
        .unionAll(orphans("lineitem.l_suppkey->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"))
        .unionAll(orphans("orders.o_custkey->customer", "orders", "o_custkey", "customer", "c_custkey"))
        .unionAll(orphans("events.user_id->customer", "events", "user_id", "customer", "c_custkey"))
        .orderBy("relation")
    }),

    // Ordered funnel (signup → later click → later purchase) per user:
    // each stage is a filtered partial-aggregated min over the previous
    // stage's timestamp — three linear shuffles on user_id, no window
    // over the full stream, no per-user state. The classic product-
    // analytics query at event-log scale.
    "q_ts_funnel" -> ((s, d) =>
      funnel(Tables(s, d, "events")
        .select(col("user_id"), col("event_type"), unix_micros(col("ts")).as("us")))),

    // Canonical-document selection: within each exact-dup group (text
    // digest), keep the "best" doc — longest n_chars, lowest doc_id on
    // ties — and flag the rest as drops. One window over the digest
    // partition; the output is one row per doc (linear), the shape a
    // curation pipeline feeds to its delete step.
    "q_llm_canonical" -> ((s, d) => {
      val w = Window.partitionBy("grp")
      val wBest = w.orderBy(col("n_chars").desc, col("doc_id").asc)
      Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars"), md5(col("text")).as("grp"))
        .withColumn("keep_id", first(col("doc_id")).over(wBest))
        .withColumn("grp_size", count(lit(1)).over(w))
        .select(col("doc_id"), col("grp").as("grp_digest"), col("grp_size"),
          col("keep_id"), (col("doc_id") === col("keep_id")).as("is_canonical"))
        .orderBy("doc_id")
    }),

    // Boolean + bitwise aggregates: the ALL/ANY predicate rollups and
    // bit-mask folds (bit_and/or/xor) — associative, so partial
    // aggregation applies and the shuffle carries one value per group.
    "q_agg_bool_bitmap" -> ((s, d) =>
      Tables(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(
          bool_and(col("l_quantity") > 1).as("all_multi"),
          bool_or(col("l_discount") > 0.05).as("any_disc"),
          bit_and(col("l_orderkey") % 256).as("band"),
          bit_or(col("l_orderkey") % 256).as("bor"),
          bit_xor(col("l_orderkey") % 256).as("bxor"))
        .orderBy("l_returnflag")),

    // ANSI-safe scalar surface: try_cast / try_divide / try_add return
    // NULL instead of throwing on malformed input, division by zero, or
    // overflow — the error-tolerant path a 100 TB ingest of dirty data
    // needs (one bad row must not kill a 10k-task stage).
    "q_fn_trycast" -> ((s, d) =>
      Tables(s, d, "part").select(
        col("p_partkey"),
        expr("try_cast(CASE WHEN p_size % 2 = 0 THEN CAST(p_size AS STRING) ELSE p_name END AS INT)").as("even_size"),
        coalesce(date_format(
          expr("try_cast(concat('1990-', CAST(p_size % 15 AS STRING), '-01') AS DATE)"),
          "yyyy-MM-dd"), lit("invalid")).as("dt_s"),
        expr("try_divide(p_retailprice, p_size % 3)").as("safe_div"),
        expr("try_add(9223372036854775807, p_partkey)").as("ovf"))
        .orderBy("p_partkey")),

    // Recursive CTE (Spark 4 WITH RECURSIVE): sessionization by walking
    // each event to its immediate predecessor while the gap stays under
    // 900 s. Depth = max session length (4 at sf0.1 — far under the 100
    // recursion-level limit), each level one join; semantics identical
    // to the session_window twin (asserted in AnalyticsSpec). Exercises
    // the iterative-fixpoint surface SQL users expect from an engine.
    "q_sql_recursive" -> ((s, d) => {
      // r15: the lagged event frame is LOOP-INVARIANT but was a plain
      // CTE, so every UnionLoop iteration re-ran the per-user window
      // sort over the full events table (depth = the longest session's
      // event count). Materialize it once behind a lazy checkpoint and
      // let the recursion join against the frozen frame — same rows,
      // same recursion, one window pass per invocation.
      val lagged = U.sqlOver(s,
        """SELECT user_id, event_id, unix_micros(ts) AS us,
             lag(unix_micros(ts)) OVER w AS pus,
             lag(event_id) OVER w AS prev_id
           FROM {events}
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id)""",
        "events" -> Tables(s, d, "events"))
        .localCheckpoint(false)
      U.sqlOver(s,
        """WITH RECURSIVE
           sess(user_id, session_id, event_id, us) AS (
             SELECT user_id, event_id, event_id, us FROM {sess_lagged}
             WHERE pus IS NULL OR us - pus >= 900000000
             UNION ALL
             SELECT s.user_id, s.session_id, e.event_id, e.us
             FROM sess s JOIN {sess_lagged} e ON e.user_id = s.user_id
               AND e.prev_id = s.event_id AND e.us - s.us < 900000000)
           SELECT user_id, session_id, COUNT(*) AS n_events,
             MIN(us) div 1000000 AS start_s, MAX(us) div 1000000 AS end_s
           FROM sess GROUP BY user_id, session_id
           ORDER BY user_id, session_id""",
        "sess_lagged" -> lagged)
    }),

    // Salted skew join: spread a hot build key over 8 sub-keys — probe
    // rows pick a salt from their own content, the dim side replicates
    // once per salt, and the join key becomes (suppkey, salt). Hinted
    // shuffle_hash (the scenario where the dim outgrew broadcast); the
    // oracle is the UNSALTED join, proving the decomposition exact.
    "q_join_skew_salted" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
        .withColumn("salt", pmod(hash(col("l_orderkey"), col("l_linenumber")), lit(8)))
      val sup = Tables(s, d, "supplier")
        .withColumn("salt", explode(expr("sequence(0, 7)")))
      li.join(sup.hint("shuffle_hash"),
          li("l_suppkey") === sup("s_suppkey") && li("salt") === sup("salt"))
        .groupBy("s_name")
        .agg(count(lit(1)).as("n_items"), dsum(col("l_quantity")).as("sum_qty"))
        .orderBy("s_name")
    }),

    // Bloom-prefiltered decontamination: build a KB-sized Bloom sketch of
    // the benchmark 5-grams once (memoized per sfDir), prune corpus grams
    // against it BEFORE the shuffle, then confirm survivors with an exact
    // broadcast semi-join — false positives die there, so the output is
    // exactly the contaminated-doc set. This is the runtime-filter shape
    // Spark itself injects for large joins (runtime.bloomFilter.*): at
    // 100 TB the sketch probe drops ~99% of gram rows at the scan.
    // Round 10: the sketch is built IN-PLAN by bloom_filter_agg (the
    // same BloomFilterAggregate Spark's injected runtime filters use —
    // one 1-row binary frame, broadcast) and probed by the codegen'd
    // might_contain expression over xxhash64(g), replacing the r5
    // driver-built `stat.bloomFilter` + black-box Scala-UDF closure:
    // the probe now lives inside WholeStageCodegen and the sketch build
    // is an executor-side aggregate, not a driver collect.
    "q_llm_decontaminate_bloom" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      // tokenizer/grams shared with q_llm_decontaminate via U — the
      // equivalence test requires the two paths to tokenize identically
      val docs = Tables(s, d, "documents").withColumn("tk", textTokens)
      val grams = U.gramsN(5)
      val bench = docs.where(col("doc_id") % 97 === 0)
        .select(explode(array_distinct(grams)).as("g")).distinct()
      // 4096 expected items × 10 bits/item ≈ the old 1% fpp geometry.
      // might_contain requires its sketch CONSTANT (or scalar subquery),
      // so the 1-row aggregate lands driver-side as a literal — the same
      // KB-scale plan-build job the old stat.bloomFilter ran, but the
      // build is now an executor-side partial aggregate and the probe a
      // codegen'd expression instead of a Scala-closure UDF.
      val bloomBytes = Memo(s, s"bloom:$d") {
        bench.agg(expr(
          "bloom_filter_agg(xxhash64(g), CAST(4096 AS BIGINT), CAST(40960 AS BIGINT))")
          .as("bf")).head.getAs[Array[Byte]](0)
      }
      docs.where(col("doc_id") % 97 =!= 0)
        .select(col("doc_id"), explode(array_distinct(grams)).as("g"))
        .where(call_function("might_contain", lit(bloomBytes), xxhash64(col("g"))))
        .join(broadcast(bench), Seq("g"), "left_semi")
        .groupBy("doc_id").agg(count(lit(1)).as("n_contaminated"))
        .orderBy("doc_id")
    }),

    // Linear-interpolation gap fill — the companion to the LOCF resample:
    // a missing day gets prev + (next−prev)·k/n between its surrounding
    // observations (NULL outside them). Same |users|×|days| broadcast
    // spine as q_ts_resample_gapfill; two framed per-user window passes
    // (trailing last-observed, leading first-observed) — no global
    // window, no join beyond the spine's. The interpolation arithmetic
    // is same-order IEEE double (+,−,·,/) over exact decimal day totals,
    // so both engines agree bitwise (SURVEY §7.4); the observed-day
    // branch short-circuits before the k/n division can hit the 0/0 a
    // same-day prev=next would produce.
    "q_ts_interpolate" -> ((s, d) => {
      val daily = Tables(s, d, "events")
        .select(col("user_id"), to_date(col("ts")).as("day"), col("value"))
        .groupBy("user_id", "day")
        .agg(dsum(col("value")).as("day_total"))
      val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
      val cal = daily.select("user_id").distinct()
        .crossJoin(broadcast(bounds))
        .select(col("user_id"), explode(expr("sequence(d0, d1)")).as("day"))
      val wPrev = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wNext = Window.partitionBy("user_id").orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
      val obsDay = when(col("day_total").isNotNull, col("day"))
      cal.join(daily, Seq("user_id", "day"), "left")
        .withColumn("pv", last(col("day_total"), ignoreNulls = true).over(wPrev))
        .withColumn("pd", last(obsDay, ignoreNulls = true).over(wPrev))
        .withColumn("nv", first(col("day_total"), ignoreNulls = true).over(wNext))
        .withColumn("nd", first(obsDay, ignoreNulls = true).over(wNext))
        .select(col("user_id"), date_format(col("day"), "yyyy-MM-dd").as("day_s"),
          col("day_total"),
          when(col("day_total").isNotNull, col("day_total"))
            .otherwise(col("pv") + (col("nv") - col("pv"))
              * datediff(col("day"), col("pd"))
              / datediff(col("nd"), col("pd"))).as("interp"))
        .orderBy("user_id", "day_s")
    }),

    // Rolling z-score anomaly detection: each event vs the trailing-20
    // window of the SAME user's series. The anomaly predicate is decided
    // in EXACT integer arithmetic over cents (the fixture's values carry
    // exactly 2 decimals — PropertySpec pins that invariant):
    // (v·n − s)²·(n−1) > 9·n·(n·ss − s²)  ⟺  |z| > 3 with sample σ —
    // no float compare can flip on a boundary row, and a constant-history
    // window (σ = 0) still flags any deviation. z itself is emitted on
    // the 1e-9 grid (NULL when σ = 0). One framed window pass per user —
    // the same shuffle shape at 100 TB regardless of history length.
    "q_ts_anomaly_zscore" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(-20, -1)
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"),
          epochS(col("ts")).as("ts_s"), col("value"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("n", count(col("cents")).over(w))
        .withColumn("sc", sum(col("cents")).over(w))
        .withColumn("ss", sum(col("cents") * col("cents")).over(w))
        .where(col("n") >= 8)
        .withColumn("dev", col("cents") * col("n") - col("sc"))
        .withColumn("varn", col("n") * col("ss") - col("sc") * col("sc"))
        .where(col("dev") * col("dev") * (col("n") - 1) >
          col("varn") * col("n") * lit(9L))
        .select(col("user_id"), col("event_id"), col("ts_s"), col("value"),
          col("n"),
          when(col("varn") > 0,
            round(col("dev").cast("double") /
              sqrt((col("n") * col("varn")).cast("double") / (col("n") - 1)),
              9)).as("z"))
        .orderBy("user_id", "event_id")
    }),

    // Day-of-week seasonal profile in EXACT integer cents — ONE
    // partial+final aggregate, no join, no window (the two-pass
    // "baseline then residuals" formulation is unnecessary: the max
    // absolute deviation is attained at an extreme value, so
    // max(n·mx − s, s − n·mn) gives it from the same single pass, and
    // cross-multiplying by n avoids ever dividing inside the group).
    // dow_mean is one correctly-rounded division of exact integers —
    // bit-identical cross-engine. Linear at any N.
    "q_ts_seasonal_decompose" -> ((s, d) =>
      Tables(s, d, "events")
        .select(col("user_id"), dayofweek(col("ts")).as("dow"),
          round(col("value") * 100).cast("long").as("cents"))
        .groupBy("user_id", "dow")
        .agg(count(lit(1)).as("n"), sum(col("cents")).as("sc"),
          min(col("cents")).as("mn"), max(col("cents")).as("mx"))
        .select(col("user_id"), col("dow"), col("n"),
          round(col("sc") / (col("n") * 100.0), 9).as("dow_mean"),
          greatest(col("mx") * col("n") - col("sc"),
            col("sc") - col("mn") * col("n")).as("max_dev_nc"))
        .orderBy("user_id", "dow")),

    // Mean-shift changepoint scan: trailing-8 vs leading-8 EXACT cent
    // sums around each event, flagged when the regime mean moves by more
    // than $50 — the compare is pure integer (|sr−sl| > 8·5000 cents), so
    // no float boundary row can flip; the reported shift is one
    // correctly-rounded division. Both frames share one partition+order
    // spec ⇒ a single per-user sort under one WindowExec — the same
    // one-shuffle shape at 100 TB regardless of history length.
    "q_ts_changepoint" -> ((s, d) => {
      val base = Window.partitionBy("user_id").orderBy("event_id")
      val wl = base.rowsBetween(-8, -1)
      val wr = base.rowsBetween(0, 7)
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"), epochS(col("ts")).as("ts_s"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("nl", count(col("cents")).over(wl))
        .withColumn("sl", sum(col("cents")).over(wl))
        .withColumn("nr", count(col("cents")).over(wr))
        .withColumn("sr", sum(col("cents")).over(wr))
        .where(col("nl") === 8 && col("nr") === 8 &&
          abs(col("sr") - col("sl")) > lit(40000L))
        .select(col("user_id"), col("event_id"), col("ts_s"),
          round((col("sr") - col("sl")) / 800.0, 9).as("mean_shift"))
        .orderBy("user_id", "event_id")
    }),

    // Lag-1 autocorrelation of each user's value series (the "is this
    // series momentum- or mean-reverting?" diagnostic): Pearson r over
    // the (x_t, x_{t+1}) pairs, computed mean-free as
    // (n·Sxy − Sx·Sy) / √((n·Sxx − Sx²)(n·Syy − Sy²)) — every sum an
    // EXACT integer in cents (one window lead + one aggregate pass, the
    // same one-shuffle shape as the z-score scan); only the final
    // √/divide is float, pinned to the 1e-9 grid (the agg_regression
    // precedent). Users with fewer than 3 pairs are DROPPED (no row);
    // a zero-variance series keeps its row with NULL r1.
    "q_ts_autocorr" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"),
          round(col("value") * 100).cast("long").as("x"))
        .withColumn("y", lead(col("x"), 1).over(w))
        .where(col("y").isNotNull)
        .groupBy("user_id")
        .agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
          sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
          sum(col("y") * col("y")).as("syy"),
          sum(col("x") * col("y")).as("sxy"))
        .where(col("n") >= 3)
        // each variance factor is an exact long (~1e12); their PRODUCT
        // can pass 2^63, so cast each to double first and multiply in
        // IEEE (same order in the oracle). Zero variance → NULL
        // explicitly — Spark's x/0 is Infinity while DuckDB's is NULL.
        .withColumn("vx", col("n") * col("sxx") - col("sx") * col("sx"))
        .withColumn("vy", col("n") * col("syy") - col("sy") * col("sy"))
        .select(col("user_id"), col("n").as("n_pairs"),
          when(col("vx") > 0 && col("vy") > 0,
            round((col("n") * col("sxy") - col("sx") * col("sy")).cast("double") /
              sqrt(col("vx").cast("double") * col("vy").cast("double")), 9))
            .as("r1"))
        .orderBy("user_id")
    }),

    // Gaps-and-islands: per-user consecutive-day activity streaks via the
    // classic dayn − row_number() island key — per-user windows and one
    // aggregate, never the quadratic self-join formulation. The longest
    // streak per user is picked by a deterministic (length desc, start)
    // rank. Dates flow as day numbers from a fixed epoch; all integer.
    "q_ts_streaks" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("dayn")
      val top = Window.partitionBy("user_id")
        .orderBy(col("cnt").desc, col("s"))
      Tables(s, d, "events")
        .select(col("user_id"),
          datediff(to_date(col("ts")), lit("1995-01-01").cast("date"))
            .cast("long").as("dayn"))
        .distinct()
        .withColumn("isl", col("dayn") - row_number().over(w))
        .groupBy("user_id", "isl")
        .agg(count(lit(1)).as("cnt"), min("dayn").as("s"), max("dayn").as("e"))
        .withColumn("rk", row_number().over(top)).where(col("rk") === 1)
        .select(col("user_id"), col("cnt").as("streak_days"),
          date_format(expr("date_add(DATE '1995-01-01', CAST(s AS INT))"),
            "yyyy-MM-dd").as("start_d"),
          date_format(expr("date_add(DATE '1995-01-01', CAST(e AS INT))"),
            "yyyy-MM-dd").as("end_d"))
        .orderBy("user_id")
    })
  )

  /** Funnel core over (user_id, event_type, us): staged mins, each stage
    * conditioned on strictly following the previous one. Exposed so the
    * spec can drive the SAME logic over synthetic order-sensitive
    * timelines (AnalyticsSpec). */
  def funnel(ev: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame = {
    val s1 = ev.where(col("event_type") === "signup")
      .groupBy("user_id").agg(min(col("us")).as("t1"))
    val s2 = ev.where(col("event_type") === "click")
      .join(s1, "user_id").where(col("us") > col("t1"))
      .groupBy("user_id").agg(min(col("us")).as("t2"))
    val s3 = ev.where(col("event_type") === "purchase")
      .join(s2, "user_id").where(col("us") > col("t2"))
      .groupBy("user_id").agg(min(col("us")).as("t3"))
    s1.join(s2.select("user_id", "t2"), Seq("user_id"), "left")
      .join(s3.select("user_id", "t3"), Seq("user_id"), "left")
      .select(col("user_id"),
        expr("t1 div 1000000").as("t1_s"),
        expr("t2 div 1000000").as("t2_s"),
        expr("t3 div 1000000").as("t3_s"),
        (lit(1) + when(col("t2").isNotNull, 1).otherwise(0)
          + when(col("t3").isNotNull, 1).otherwise(0)).as("stage"))
      .orderBy("user_id")
  }

  val oracle: Map[String, String] = Map(
    "q_dq_benford" ->
      """WITH d AS (SELECT CAST(substring(CAST(CAST(round(o_totalprice * 100)
             AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS digit FROM orders),
         t AS (SELECT COUNT(*) AS n FROM d)
         SELECT digit, COUNT(*) AS cnt,
           round(CAST(COUNT(*) AS DOUBLE) / n, 9) AS share,
           round(log10(1.0 + 1.0 / digit), 9) AS benford_p
         FROM d, t GROUP BY digit, n ORDER BY digit""",

    "q_win_cume_dist" ->
      """SELECT c_custkey, c_mktsegment AS seg, c_acctbal,
           percent_rank() OVER w AS pr, cume_dist() OVER w AS cd
         FROM customer
         WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
         ORDER BY seg, c_acctbal, c_custkey""",

    "q_sql_lateral" ->
      """SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
         FROM customer c, LATERAL (
           SELECT o_orderkey, o_totalprice FROM orders
           WHERE o_custkey = c.c_custkey
           ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
         WHERE c.c_custkey < 100
         ORDER BY c.c_custkey, t.o_totalprice DESC, t.o_orderkey""",

    "q_agg_median_mode" ->
      """WITH ranked AS (
           SELECT c_mktsegment AS seg, c_acctbal,
             row_number() OVER (PARTITION BY c_mktsegment
                                ORDER BY c_acctbal, c_custkey) AS rn,
             COUNT(*) OVER (PARTITION BY c_mktsegment) AS n
           FROM customer),
         med AS (SELECT seg, c_acctbal AS median_bal, n AS n_rows
                 FROM ranked WHERE rn = (n + 1) // 2),
         freq AS (SELECT c_mktsegment AS seg, c_nationkey, COUNT(*) AS cnt
                  FROM customer GROUP BY 1, 2),
         md AS (SELECT seg, c_nationkey AS mode_nation,
                  row_number() OVER (PARTITION BY seg
                                     ORDER BY cnt DESC, c_nationkey) AS mrn
                FROM freq)
         SELECT m.seg, m.median_bal, m.n_rows, d.mode_nation
         FROM med m JOIN md d ON m.seg = d.seg AND d.mrn = 1
         ORDER BY m.seg""",

    "q_ts_resample_gapfill" ->
      s"""WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
             ${oDsum("value")} AS day_total, COUNT(*) AS n_ev
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
         cal AS (
           SELECT u.user_id,
             CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE) AS day
           FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN bounds b)
         SELECT c.user_id, strftime(c.day, '%Y-%m-%d') AS day_s,
           COALESCE(d.n_ev, 0) AS n_ev, d.day_total,
           last_value(d.day_total IGNORE NULLS)
             OVER (PARTITION BY c.user_id ORDER BY c.day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS total_locf
         FROM cal c LEFT JOIN daily d ON c.user_id = d.user_id AND c.day = d.day
         ORDER BY c.user_id, day_s""",

    "q_ts_scd2" ->
      """WITH e AS (
           SELECT user_id, event_id, event_type, epoch_ms(ts) // 1000 AS from_s,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY event_id) AS prev_type
           FROM events),
         chg AS (SELECT * FROM e
                 WHERE prev_type IS NULL OR prev_type <> event_type)
         SELECT user_id,
           CAST(row_number() OVER w AS INT) AS version, event_type,
           from_s AS valid_from_s,
           lead(from_s) OVER w AS valid_to_s,
           lead(from_s) OVER w IS NULL AS is_current
         FROM chg
         WINDOW w AS (PARTITION BY user_id ORDER BY event_id)
         ORDER BY user_id, version""",

    "q_dq_profile" ->
      """WITH c AS (SELECT c_name, c_mktsegment,
                      CAST(c_nationkey AS VARCHAR) AS nat_s FROM customer)
         SELECT 'c_name' AS col_name, COUNT(*) AS n_rows,
           COUNT(*) - COUNT(c_name) AS n_null, COUNT(DISTINCT c_name) AS n_distinct,
           MIN(c_name) AS min_v, MAX(c_name) AS max_v FROM c
         UNION ALL
         SELECT 'c_mktsegment', COUNT(*), COUNT(*) - COUNT(c_mktsegment),
           COUNT(DISTINCT c_mktsegment), MIN(c_mktsegment), MAX(c_mktsegment) FROM c
         UNION ALL
         SELECT 'nat_s', COUNT(*), COUNT(*) - COUNT(nat_s),
           COUNT(DISTINCT nat_s), MIN(nat_s), MAX(nat_s) FROM c
         ORDER BY col_name""",

    "q_dq_referential" ->
      """SELECT * FROM (
           SELECT 'lineitem.l_partkey->part' AS relation, COUNT(*) AS n_orphans
           FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM part p WHERE p.p_partkey = l.l_partkey)
           UNION ALL
           SELECT 'lineitem.l_suppkey->supplier', COUNT(*)
           FROM lineitem l WHERE NOT EXISTS
             (SELECT 1 FROM supplier s WHERE s.s_suppkey = l.l_suppkey)
           UNION ALL
           SELECT 'orders.o_custkey->customer', COUNT(*)
           FROM orders o WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
           UNION ALL
           SELECT 'events.user_id->customer', COUNT(*)
           FROM events e WHERE NOT EXISTS
             (SELECT 1 FROM customer c WHERE c.c_custkey = e.user_id))
         ORDER BY relation""",

    "q_ts_funnel" ->
      """WITH ev AS (SELECT user_id, event_type, epoch_us(ts) AS us FROM events),
         s1 AS (SELECT user_id, MIN(us) AS t1 FROM ev
                WHERE event_type = 'signup' GROUP BY user_id),
         s2 AS (SELECT e.user_id, MIN(e.us) AS t2
                FROM ev e JOIN s1 ON e.user_id = s1.user_id
                WHERE e.event_type = 'click' AND e.us > s1.t1
                GROUP BY e.user_id),
         s3 AS (SELECT e.user_id, MIN(e.us) AS t3
                FROM ev e JOIN s2 ON e.user_id = s2.user_id
                WHERE e.event_type = 'purchase' AND e.us > s2.t2
                GROUP BY e.user_id)
         SELECT s1.user_id, s1.t1 // 1000000 AS t1_s,
           s2.t2 // 1000000 AS t2_s, s3.t3 // 1000000 AS t3_s,
           CAST(1 + CASE WHEN s2.t2 IS NOT NULL THEN 1 ELSE 0 END
                  + CASE WHEN s3.t3 IS NOT NULL THEN 1 ELSE 0 END AS INT) AS stage
         FROM s1 LEFT JOIN s2 ON s1.user_id = s2.user_id
                 LEFT JOIN s3 ON s1.user_id = s3.user_id
         ORDER BY s1.user_id""",

    "q_llm_canonical" ->
      """WITH g AS (SELECT doc_id, n_chars, md5(text) AS grp FROM documents)
         SELECT doc_id, grp AS grp_digest,
           COUNT(*) OVER (PARTITION BY grp) AS grp_size,
           first_value(doc_id) OVER (PARTITION BY grp
             ORDER BY n_chars DESC, doc_id) AS keep_id,
           doc_id = first_value(doc_id) OVER (PARTITION BY grp
             ORDER BY n_chars DESC, doc_id) AS is_canonical
         FROM g ORDER BY doc_id""",

    "q_agg_bool_bitmap" ->
      """SELECT l_returnflag,
           bool_and(l_quantity > 1) AS all_multi,
           bool_or(l_discount > 0.05) AS any_disc,
           bit_and(l_orderkey % 256) AS band,
           bit_or(l_orderkey % 256) AS bor,
           bit_xor(l_orderkey % 256) AS bxor
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_fn_trycast" ->
      """SELECT p_partkey,
           TRY_CAST(CASE WHEN p_size % 2 = 0 THEN CAST(p_size AS VARCHAR)
                         ELSE p_name END AS INT) AS even_size,
           COALESCE(strftime(TRY_CAST(concat('1990-', CAST(p_size % 15 AS VARCHAR), '-01')
                                      AS DATE), '%Y-%m-%d'), 'invalid') AS dt_s,
           p_retailprice / NULLIF(p_size % 3, 0) AS safe_div,
           CASE WHEN p_partkey > 0 THEN NULL
                ELSE 9223372036854775807 END AS ovf
         FROM part ORDER BY p_partkey""",

    "q_sql_recursive" ->
      """WITH RECURSIVE
         e AS (SELECT user_id, event_id, epoch_us(ts) AS us,
                 lag(epoch_us(ts)) OVER w AS pus,
                 lag(event_id) OVER w AS prev_id
               FROM events
               WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         sess(user_id, session_id, event_id, us) AS (
           SELECT user_id, event_id, event_id, us FROM e
           WHERE pus IS NULL OR us - pus >= 900000000
           UNION ALL
           SELECT s.user_id, s.session_id, e.event_id, e.us
           FROM sess s JOIN e ON e.user_id = s.user_id
             AND e.prev_id = s.event_id AND e.us - s.us < 900000000)
         SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(us) // 1000000 AS start_s, MAX(us) // 1000000 AS end_s
         FROM sess GROUP BY user_id, session_id
         ORDER BY user_id, session_id""",

    "q_join_skew_salted" ->
      s"""SELECT s_name, COUNT(*) AS n_items, ${oDsum("l_quantity")} AS sum_qty
         FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
         GROUP BY s_name ORDER BY s_name""",

    "q_llm_decontaminate_bloom" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         bench AS (SELECT DISTINCT unnest(list_distinct(${oGramsN(5)})) AS g
                   FROM d WHERE doc_id % 97 = 0),
         cg AS (SELECT doc_id, unnest(list_distinct(${oGramsN(5)})) AS g
                FROM d WHERE doc_id % 97 <> 0)
         SELECT doc_id, COUNT(*) AS n_contaminated
         FROM cg WHERE g IN (SELECT g FROM bench)
         GROUP BY doc_id ORDER BY doc_id""",

    "q_ts_interpolate" ->
      s"""WITH daily AS (
           SELECT user_id, CAST(ts AS DATE) AS day,
             ${oDsum("value")} AS day_total
           FROM events GROUP BY 1, 2),
         bounds AS (SELECT MIN(day) AS d0, MAX(day) AS d1 FROM daily),
         cal AS (
           SELECT u.user_id,
             CAST(unnest(generate_series(b.d0, b.d1, INTERVAL 1 DAY)) AS DATE) AS day
           FROM (SELECT DISTINCT user_id FROM daily) u CROSS JOIN bounds b),
         j AS (
           SELECT c.user_id, c.day, d.day_total,
             last_value(d.day_total IGNORE NULLS) OVER wp AS pv,
             last_value(CASE WHEN d.day_total IS NOT NULL THEN c.day END
                        IGNORE NULLS) OVER wp AS pd,
             first_value(d.day_total IGNORE NULLS) OVER wn AS nv,
             first_value(CASE WHEN d.day_total IS NOT NULL THEN c.day END
                         IGNORE NULLS) OVER wn AS nd
           FROM cal c LEFT JOIN daily d
             ON c.user_id = d.user_id AND c.day = d.day
           WINDOW
             wp AS (PARTITION BY c.user_id ORDER BY c.day
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
             wn AS (PARTITION BY c.user_id ORDER BY c.day
                    ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
         SELECT user_id, strftime(day, '%Y-%m-%d') AS day_s, day_total,
           CASE WHEN day_total IS NOT NULL THEN day_total
                ELSE pv + (nv - pv) * (day - pd) / (nd - pd) END AS interp
         FROM j ORDER BY user_id, day_s""",

    "q_ts_anomaly_zscore" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ts_s, value,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         r AS (
           SELECT user_id, event_id, ts_s, value, cents,
             CAST(COUNT(cents) OVER w AS BIGINT) AS n,
             CAST(SUM(cents) OVER w AS BIGINT) AS sc,
             CAST(SUM(cents * cents) OVER w AS BIGINT) AS ss
           FROM e
           WINDOW w AS (PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING))
         SELECT user_id, event_id, ts_s, value, n,
           CASE WHEN n * ss - sc * sc > 0
                THEN round((cents * n - sc) /
                  sqrt(CAST(n * (n * ss - sc * sc) AS DOUBLE) / (n - 1)), 9)
                END AS z
         FROM r
         WHERE n >= 8
           AND (cents * n - sc) * (cents * n - sc) * (n - 1) >
               (n * ss - sc * sc) * n * 9
         ORDER BY user_id, event_id""",

    // DuckDB dayofweek is 0=Sunday..6; Spark's is 1=Sunday..7 — shift
    "q_ts_seasonal_decompose" ->
      """WITH e AS (
           SELECT user_id, CAST(dayofweek(ts) + 1 AS INT) AS dow,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         g AS (SELECT user_id, dow, COUNT(*) AS n,
                 CAST(SUM(cents) AS BIGINT) AS sc,
                 MIN(cents) AS mn, MAX(cents) AS mx
               FROM e GROUP BY user_id, dow)
         SELECT user_id, dow, n,
           round(sc / (n * 100.0), 9) AS dow_mean,
           GREATEST(mx * n - sc, sc - mn * n) AS max_dev_nc
         FROM g ORDER BY user_id, dow""",

    "q_ts_changepoint" ->
      """WITH e AS (
           SELECT user_id, event_id, epoch_ms(ts) // 1000 AS ts_s,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         w AS (
           SELECT user_id, event_id, ts_s,
             CAST(COUNT(cents) OVER wl AS BIGINT) AS nl,
             CAST(SUM(cents) OVER wl AS BIGINT) AS sl,
             CAST(COUNT(cents) OVER wr AS BIGINT) AS nr,
             CAST(SUM(cents) OVER wr AS BIGINT) AS sr
           FROM e
           WINDOW wl AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN 8 PRECEDING AND 1 PRECEDING),
                  wr AS (PARTITION BY user_id ORDER BY event_id
                         ROWS BETWEEN CURRENT ROW AND 7 FOLLOWING))
         SELECT user_id, event_id, ts_s,
           round((sr - sl) / 800.0, 9) AS mean_shift
         FROM w
         WHERE nl = 8 AND nr = 8 AND abs(sr - sl) > 40000
         ORDER BY user_id, event_id""",

    "q_ts_autocorr" ->
      """WITH e AS (
           SELECT user_id, event_id,
             CAST(round(value * 100) AS BIGINT) AS x
           FROM events),
         p AS (SELECT user_id, x,
             lead(x) OVER (PARTITION BY user_id ORDER BY event_id) AS y
           FROM e),
         g AS (SELECT user_id, COUNT(*) AS n,
             CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
             CAST(SUM(x * x) AS BIGINT) AS sxx,
             CAST(SUM(y * y) AS BIGINT) AS syy,
             CAST(SUM(x * y) AS BIGINT) AS sxy
           FROM p WHERE y IS NOT NULL GROUP BY user_id),
         v AS (SELECT *, n * sxx - sx * sx AS vx, n * syy - sy * sy AS vy
           FROM g WHERE n >= 3)
         SELECT user_id, n AS n_pairs,
           CASE WHEN vx > 0 AND vy > 0 THEN
             round(CAST(n * sxy - sx * sy AS DOUBLE) /
               sqrt(CAST(vx AS DOUBLE) * CAST(vy AS DOUBLE)), 9)
           END AS r1
         FROM v ORDER BY user_id""",

    "q_ts_streaks" ->
      """WITH dd AS (
           SELECT DISTINCT user_id,
             CAST(CAST(ts AS DATE) - DATE '1995-01-01' AS BIGINT) AS dayn
           FROM events),
         i AS (SELECT user_id, dayn,
                 dayn - ROW_NUMBER() OVER (PARTITION BY user_id
                                           ORDER BY dayn) AS isl
               FROM dd),
         g AS (SELECT user_id, isl, COUNT(*) AS cnt,
                 MIN(dayn) AS s, MAX(dayn) AS e
               FROM i GROUP BY user_id, isl),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY user_id
                 ORDER BY cnt DESC, s) AS rk FROM g)
         SELECT user_id, cnt AS streak_days,
           strftime(DATE '1995-01-01' + CAST(s AS INT), '%Y-%m-%d') AS start_d,
           strftime(DATE '1995-01-01' + CAST(e AS INT), '%Y-%m-%d') AS end_d
         FROM r WHERE rk = 1 ORDER BY user_id"""
  )
}
