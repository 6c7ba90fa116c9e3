package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** SURVEY §2 round-4 frontier batch: interval-overlap join, multi-source
  * BFS, two-pass heavy hitters, SRP-LSH cosine dedup, weighted reservoir
  * sampling, and series downsampling.
  *
  * Shared discipline with the rest of the inventory: every plan is the
  * one you would run at 100 TB (binned equi-joins instead of theta scans,
  * per-shard heaps instead of global windows, broadcast dims for
  * KB-scale state), and every emitted number is either integer-exact or
  * pinned to a rounding grid both engines agree on.
  */
object Frontier {

  val queries: Map[String, Q] = Map(
    // Interval-overlap join (ranges × ranges — distinct from the
    // point-in-band q_join_theta_range): per-customer order intervals
    // [start, start + 1 + key%14 days] that OVERLAP. Scale-safe
    // construction: each interval is exploded to the ≤2 32-day bins it
    // touches (bin width ≥ max interval length, so overlapping intervals
    // always share a bin), the join runs on the (custkey, bin) EQUI key
    // with the overlap predicate as residual, and the ≤2× bin collision
    // is deduped. All day arithmetic in integer day numbers.
    "q_join_interval_overlap" -> ((s, d) => {
      val iv = Tables(s, d, "orders")
        .select(col("o_custkey").as("cust"), col("o_orderkey").as("k"),
          datediff(to_date(col("o_orderdate")), lit("1992-01-01").cast("date"))
            .cast("long").as("st"))
        .withColumn("en", col("st") + 1L + pmod(col("k"), lit(14L)))
      val binned = iv.withColumn("bin",
        explode(array_distinct(array(expr("st div 32"), expr("en div 32")))))
      binned.as("x").join(binned.as("y"),
          col("x.cust") === col("y.cust") && col("x.bin") === col("y.bin") &&
            col("x.k") < col("y.k") &&
            col("x.st") <= col("y.en") && col("y.st") <= col("x.en"))
        .select(col("x.cust").as("o_custkey"), col("x.k").as("key_a"),
          col("y.k").as("key_b"),
          (least(col("x.en"), col("y.en")) -
            greatest(col("x.st"), col("y.st")) + 1L).as("overlap_days"))
        .distinct()
        .orderBy("o_custkey", "key_a", "key_b")
    }),

    // Multi-source BFS over the co-purchase graph (seeds = customers
    // 0-4), distances 0..4 by LEVEL-SYNCHRONOUS frontier expansion: each
    // round joins the reached set to the edge list and re-distincts, so
    // per-round state is ≤|V| ids and the work is one equi-join shuffle —
    // the Pregel shape, like q_llm_dedup_cc. LAZY localCheckpoints (the
    // round count is fixed; nothing inspects data mid-loop) keep each
    // round's lineage flat. They are not job-free at build: under
    // adaptive execution each one finalizes its adaptive plan, so
    // building the query (PlanSpec sweeps, PlanLock) already runs the
    // shuffle stages beneath every round. The edge list is a cached
    // frame, so the orders⋈lineitem build runs once, not once per
    // round. dist = first level an id appears in.
    "q_graph_bfs" -> ((s, d) => {
      val e = U.coPurchaseEdges(s, d) // src-partitioned cache; no ckpt (see U)
      val seeds = Tables(s, d, "customer").where(col("c_custkey") < 5)
        .select(col("c_custkey").as("id"))
      var reach = seeds
      var levels = seeds.select(col("id"), lit(0).as("lvl"))
      for (k <- 1 to 4) {
        reach = reach.join(e, col("id") === col("src"))
          .select(col("dst").as("id"))
          .union(reach).distinct().localCheckpoint(false)
        levels = levels.union(reach.select(col("id"), lit(k).as("lvl")))
      }
      levels.groupBy("id").agg(min(col("lvl")).cast("int").as("dist"))
        .orderBy("id")
    }),

    // Weighted shortest path (bounded Bellman–Ford, 4 relaxation
    // rounds) from the BFS seed set over the MEMOIZED weighted
    // co-purchase incidence (U.coPurchaseWeighted — one derivation +
    // persist per (session, sfDir), the U.coPurchase discipline; the
    // inline orders⋈lineitem rebuild was the round-7 bench's top
    // shuffle writer at 146.9 MB): "how cheaply can this customer
    // reach that supplier through the purchase network" — the weighted
    // sibling of q_graph_bfs (same bipartite incidence SUPPORT, same
    // seed convention, same fixed-round unrolled-oracle discipline; 4
    // rounds cover the probed diameter, and a production run loops
    // the same round to a fixpoint under the kcore checkpoint rule).
    // Per round: one keyed edge join + a node-keyed min — never
    // all-pairs; distances are exact BIGINT cent sums (≤ 4 edges ×
    // max cents, nowhere near overflow); lazy localCheckpoint per
    // round keeps the lineage linear (the BFS/kcore lesson). Output:
    // the 20 nearest nodes via a TakeOrdered heap under a total
    // (dist, id) order.
    "q_graph_shortest_path" -> ((s, d) => {
      val e = U.coPurchaseWeightedEdges(s, d) // src-partitioned cache; no ckpt
      val seeds = Tables(s, d, "customer").where(col("c_custkey") < 5)
        .select(col("c_custkey").as("id"), lit(0L).as("dcents"))
      var dist = seeds
      for (_ <- 1 to 4) {
        val relax = dist.join(e, col("id") === col("src"))
          .select(col("dst").as("id"), (col("dcents") + col("w")).as("dcents"))
        dist = dist.unionAll(relax)
          .groupBy("id").agg(min(col("dcents")).as("dcents"))
          .localCheckpoint(false)
      }
      dist.select(col("id"), col("dcents").as("dist_cents"))
        .orderBy(col("dist_cents"), col("id")).limit(20)
    }),

    // Two-pass distributed heavy hitters (the TPUT/threshold-algorithm
    // shape): pass 1 ranks terms within each of 16 deterministic shards
    // (doc_id mod 16) and keeps each shard's top-256 as CANDIDATES;
    // pass 2 recounts candidates exactly and takes the global top-10 via
    // a TakeOrdered heap. The guarantee is a THRESHOLD bound, not
    // unconditional: a non-candidate term's global count is ≤ Σ_s
    // cutoff_s (each shard's 256th-largest count), so the answer is
    // provably exact whenever the 10th recounted candidate exceeds that
    // bound — FrontierSpec asserts exactly this margin on the fixture
    // (where it holds by a wide gap), and a production run would emit
    // the same Σ-cutoff check alongside the result. Per-shard state is
    // bounded (256 rows), the shard window parallelizes across shards
    // (shard count scales with the cluster, not N), no global sort runs.
    "q_agg_heavy_hitters" -> ((s, d) => {
      val tok = Tables(s, d, "documents")
        .select(pmod(col("doc_id"), lit(16L)).as("shard"),
          explode(textTokens).as("term"))
      val wnd = Window.partitionBy("shard")
        .orderBy(col("c").desc, col("term"))
      val cand = tok.groupBy("shard", "term").agg(count(lit(1)).as("c"))
        .withColumn("rk", row_number().over(wnd))
        .where(col("rk") <= 256)
        .select("term").distinct()
      tok.join(broadcast(cand), Seq("term"), "left_semi")
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(10)
    }),

    // Distribution-drift audit (the train/serve skew check every
    // ML-data pipeline runs): order totals binned on one global 32-bin
    // grid (broadcast bounds), per-period bin shares add-one smoothed
    // (no ln(0)), drift = the per-bin PSI term (share₁−share₂)·ln(p₁/p₂).
    // Counts and shares derive from exact longs; only the final ln is
    // libm, pinned to the 1e-9 grid per bin BEFORE any reader sums
    // terms (the ppl_proxy rule). Two aggregate passes over one scan —
    // no window, no join beyond the broadcast bounds/totals dims.
    "q_dq_drift" -> ((s, d) => {
      val split = lit("1998-01-01").cast("timestamp")
      val o = Tables(s, d, "orders")
        .select(col("o_totalprice").as("v"),
          (col("o_orderdate") < split).cast("int").as("p1"))
      val bounds = o.agg(min("v").as("lo"), max("v").as("hi"))
      val binned = o.crossJoin(broadcast(bounds))
        .select(U.gridBin(col("v"), col("lo"), col("hi"), 32).as("bin"), col("p1"))
      val counts = binned.groupBy("bin")
        .agg(sum(col("p1")).cast("long").as("c1"),
          sum(lit(1) - col("p1")).cast("long").as("c2"))
      val totals = counts.agg(sum("c1").as("n1"), sum("c2").as("n2"))
      counts.crossJoin(broadcast(totals))
        .select(col("bin"), col("c1"), col("c2"),
          round(((col("c1") + 1).cast("double") / (col("n1") + 32) -
            (col("c2") + 1).cast("double") / (col("n2") + 32)) *
            log((col("c1") + 1).cast("double") * (col("n2") + 32) /
              ((col("c2") + 1).cast("double") * (col("n1") + 32))), 9)
            .as("psi_term"))
        .orderBy("bin")
    }),

    // Pointwise mutual information over token co-occurrence (the classic
    // collocation/phrase-mining signal): doc-level presence pairs among
    // the top-100 document-frequency vocab only — the pair-counter state
    // is vocab-bounded (≤100² counters under partial aggregation) and
    // the per-doc self-join is capped at |doc ∩ vocab|², so the whole
    // query is linear in N with a constant vocab factor; the vocab and
    // both marginal joins broadcast. PMI's log2 is libm ⇒ computed over
    // an EXACT long ratio and pinned to the 1e-9 grid (the ppl_proxy
    // rule); ties in the rounded score break on the pair itself.
    "q_llm_pmi_cooccur" -> ((s, d) => {
      val dt = Tables(s, d, "documents")
        .select(col("doc_id"), explode(array_distinct(textTokens)).as("w"))
      val nd = Tables(s, d, "documents").agg(count(lit(1)).as("nd"))
      // top feeds THREE consumers (the vocab filter + both marginal
      // joins): a lazy localCheckpoint (the k-means rule, Learn.scala)
      // pins the ≤100-row vocab after ONE corpus tokenize+count pass
      // instead of re-running the full-scan aggregation per consumer.
      val top = dt.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(100)
        .localCheckpoint(eager = false)
      val t = dt.join(broadcast(top.select("w")), Seq("w"))
      val pairs = t.as("x").join(t.as("y"),
          col("x.doc_id") === col("y.doc_id") && col("x.w") < col("y.w"))
        .groupBy(col("x.w").as("wa"), col("y.w").as("wb"))
        .agg(count(lit(1)).as("cab"))
        .where(col("cab") >= 5)
      pairs
        .join(broadcast(top.select(col("w").as("wa"), col("c").as("ca"))), "wa")
        .join(broadcast(top.select(col("w").as("wb"), col("c").as("cb"))), "wb")
        .crossJoin(broadcast(nd))
        .select(col("wa"), col("wb"), col("cab"),
          round(log2((col("cab") * col("nd")).cast("double") /
            (col("ca") * col("cb")).cast("double")), 9).as("pmi"))
        .orderBy(col("pmi").desc, col("wa"), col("wb")).limit(50)
    }),

    // Near-dup grouping over embeddings via SIGNED RANDOM PROJECTIONS
    // (the LSH family member for cosine, joining SimHash/MinHash/IVF in
    // the dedup kit): 32 deterministic ±1 hyperplanes from md5 parities
    // (a 32×64 dim that BROADCASTS at any corpus size), sign bits banded
    // 8×4, candidates from band-bucket equi-joins only — never all-pairs
    // — then an exact-cosine ≥ 0.42 confirm on candidates (the same
    // threshold as q_llm_dedup_semantic; vectors are unit-norm so dot =
    // cosine). Products are ±float in double and the sum order is the
    // array order in both engines ⇒ the sign bits are bit-identical
    // cross-engine. Band key width must grow with N (same rule as the
    // IVF quantizer — 4-bit bands are sized to the 10³-scale fixtures,
    // 500 vectors at sf0.01 / 2000 at sf0.1).
    "q_llm_dedup_lsh_cosine" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val hyp = s.range(32).select(col("id").cast("int").as("j"),
        expr(s"""transform(sequence(1, 64), i -> CAST(IF(
            ${hexFold("md5(concat('srp', CAST(id AS STRING), '|', CAST(i AS STRING)))", 1)}
            % 2 = 0, 1.0D, -1.0D) AS FLOAT))""").as("sgn"))
      val e = Tables(s, d, "embeddings")
        .select(col("vec_id").as("doc_id"), col("embedding"))
      val bands = e.crossJoin(broadcast(hyp))
        .select(col("doc_id"), expr("j div 4").as("band_id"),
          when(expr("graft_dot(embedding, sgn)") > 0,
            expr("shiftleft(1, j % 4)")).otherwise(0).as("bit"))
        .groupBy("doc_id", "band_id").agg(sum(col("bit")).as("bkey"))
      val cand = bands.as("x").join(bands.as("y"),
          col("x.band_id") === col("y.band_id") &&
            col("x.bkey") === col("y.bkey") &&
            col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      val pairs = cand
        .join(e.select(col("doc_id").as("a"), col("embedding").as("ea")), Seq("a"))
        .join(e.select(col("doc_id").as("b"), col("embedding").as("eb")), Seq("b"))
        .where(expr("round(graft_dot(ea, eb), 6)") >= 0.42)
        .select("a", "b")
      U.dupGroups(e, pairs)
    }),

    // Weighted reservoir sampling without replacement (Efraimidis-
    // Spirakis A-ES): key = −ln(u)/w with u a deterministic md5-derived
    // uniform and w = n_chars; the global sample is the 20 SMALLEST keys
    // via a TakeOrdered heap — per-partition heaps merge at the driver,
    // no global sort, and the same keys merge identically on any
    // partitioning. ln is libm ⇒ the key is pinned to the 1e-9 grid
    // before the rank compare (doc_id breaks residual ties).
    "q_sample_reservoir" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), col("n_chars"),
          round(expr(
            s"""-ln((${hexFold("md5(CAST(doc_id AS STRING))", 12)} + 1)
                / 281474976710656.0)""") / col("n_chars"), 9).as("rkey"))
        .orderBy("rkey", "doc_id").limit(20)),

    // Deterministic corpus shuffle for training order (the "global
    // shuffle" every epoch pipeline needs WITHOUT a global sort): each
    // doc gets an md5-derived 48-bit key, shard = key mod 64 (one hash
    // shuffle), position-within-shard from a PER-SHARD window — shards
    // are the parallel unit, so sort work scales with the cluster while
    // the (shard, pos) pair is a total, reproducible training order.
    // Seed the salt ('shuf') to re-shuffle between epochs.
    "q_llm_shuffle_shards" -> ((s, d) => {
      val w = Window.partitionBy("shard").orderBy("skey", "doc_id")
      Tables(s, d, "documents")
        .select(col("doc_id"), U.shardKey.as("skey"))
        .withColumn("shard", pmod(col("skey"), lit(U.shardCount)))
        .withColumn("pos", (row_number().over(w) - 1).cast("long"))
        .select(col("doc_id"), col("shard"), col("pos"))
        .orderBy("shard", "pos")
    }),

    // Series downsampling: one representative event per (user, day) — the
    // point FARTHEST from the day's mean (the parallel one-pass cousin of
    // LTTB's per-bucket representative). The deviation compare is exact
    // integer cross-multiplication (|cents·n − s| — never a float mean),
    // the day aggregate and the pick ride ONE hash partitioning (two
    // WindowExecs, one Exchange — PlanSpec-guarded), ties break by
    // event_id. Linear at any N; no cross-day data moves.
    "q_ts_downsample" -> ((s, d) => {
      val wd = Window.partitionBy("user_id", "day")
      val wr = wd.orderBy(col("dev").desc, col("event_id"))
      Tables(s, d, "events")
        .select(col("user_id"), col("event_id"),
          date_format(col("ts"), "yyyy-MM-dd").as("day"),
          round(col("value") * 100).cast("long").as("cents"))
        .withColumn("n", count(lit(1)).over(wd))
        .withColumn("sc", sum(col("cents")).over(wd))
        .withColumn("dev", abs(col("cents") * col("n") - col("sc")))
        .withColumn("rk", row_number().over(wr)).where(col("rk") === 1)
        .select(col("user_id"), col("day"), col("n").as("n_pts"),
          col("event_id").as("rep_event_id"), col("cents").as("rep_cents"))
        .orderBy("user_id", "day")
    })
  )

  val oracle: Map[String, String] = Map(
    "q_join_interval_overlap" ->
      """WITH iv AS (
           SELECT o_custkey AS cust, o_orderkey AS k,
             CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT) AS st,
             CAST(CAST(o_orderdate AS DATE) - DATE '1992-01-01' AS BIGINT)
               + 1 + o_orderkey % 14 AS en
           FROM orders)
         SELECT x.cust AS o_custkey, x.k AS key_a, y.k AS key_b,
           least(x.en, y.en) - greatest(x.st, y.st) + 1 AS overlap_days
         FROM iv x JOIN iv y ON x.cust = y.cust AND x.k < y.k
           AND x.st <= y.en AND y.st <= x.en
         ORDER BY o_custkey, key_a, key_b""",

    "q_graph_bfs" ->
      s"""WITH ${U.oCoPurchase},
         e AS (SELECT cust AS src, supp AS dst FROM oi
               UNION ALL SELECT supp AS src, cust AS dst FROM oi),
         r0 AS (SELECT c_custkey AS id FROM customer WHERE c_custkey < 5),
         r1 AS (SELECT DISTINCT id FROM (SELECT id FROM r0
                UNION ALL SELECT e.dst FROM e JOIN r0 ON e.src = r0.id)),
         r2 AS (SELECT DISTINCT id FROM (SELECT id FROM r1
                UNION ALL SELECT e.dst FROM e JOIN r1 ON e.src = r1.id)),
         r3 AS (SELECT DISTINCT id FROM (SELECT id FROM r2
                UNION ALL SELECT e.dst FROM e JOIN r2 ON e.src = r2.id)),
         r4 AS (SELECT DISTINCT id FROM (SELECT id FROM r3
                UNION ALL SELECT e.dst FROM e JOIN r3 ON e.src = r3.id)),
         lv AS (SELECT id, 0 AS lvl FROM r0
                UNION ALL SELECT id, 1 FROM r1
                UNION ALL SELECT id, 2 FROM r2
                UNION ALL SELECT id, 3 FROM r3
                UNION ALL SELECT id, 4 FROM r4)
         SELECT id, CAST(MIN(lvl) AS INT) AS dist
         FROM lv GROUP BY id ORDER BY id""",

    "q_graph_shortest_path" ->
      s"""WITH ${U.oCoPurchaseWeighted},
         e AS (SELECT cust AS src, supp AS dst, w FROM oi
               UNION ALL SELECT supp AS src, cust AS dst, w FROM oi),
         d0 AS (SELECT c_custkey AS id, CAST(0 AS BIGINT) AS dc
                FROM customer WHERE c_custkey < 5),
         d1 AS (SELECT id, CAST(MIN(dc) AS BIGINT) AS dc FROM (
                SELECT id, dc FROM d0
                UNION ALL SELECT e.dst, d0.dc + e.w FROM e
                  JOIN d0 ON e.src = d0.id) GROUP BY id),
         d2 AS (SELECT id, CAST(MIN(dc) AS BIGINT) AS dc FROM (
                SELECT id, dc FROM d1
                UNION ALL SELECT e.dst, d1.dc + e.w FROM e
                  JOIN d1 ON e.src = d1.id) GROUP BY id),
         d3 AS (SELECT id, CAST(MIN(dc) AS BIGINT) AS dc FROM (
                SELECT id, dc FROM d2
                UNION ALL SELECT e.dst, d2.dc + e.w FROM e
                  JOIN d2 ON e.src = d2.id) GROUP BY id),
         d4 AS (SELECT id, CAST(MIN(dc) AS BIGINT) AS dc FROM (
                SELECT id, dc FROM d3
                UNION ALL SELECT e.dst, d3.dc + e.w FROM e
                  JOIN d3 ON e.src = d3.id) GROUP BY id)
         SELECT id, dc AS dist_cents FROM d4
         ORDER BY dist_cents, id LIMIT 20""",

    "q_agg_heavy_hitters" ->
      """WITH tok AS (
           SELECT doc_id % 16 AS shard, unnest(string_split(text, ' ')) AS term
           FROM documents),
         sc AS (SELECT shard, term, COUNT(*) AS c
                FROM tok GROUP BY shard, term),
         cand AS (SELECT DISTINCT term FROM (
           SELECT term, ROW_NUMBER() OVER (PARTITION BY shard
             ORDER BY c DESC, term) AS rk FROM sc) WHERE rk <= 256)
         SELECT term, COUNT(*) AS cnt
         FROM tok WHERE term IN (SELECT term FROM cand)
         GROUP BY term ORDER BY cnt DESC, term LIMIT 10""",

    "q_dq_drift" ->
      """WITH o AS (SELECT o_totalprice AS v,
             CAST(o_orderdate < TIMESTAMP '1998-01-01' AS INT) AS p1
           FROM orders),
         b AS (SELECT min(v) AS lo, max(v) AS hi FROM o),
         x AS (SELECT CASE WHEN hi <= lo THEN 31 ELSE
                 LEAST(31, CAST(FLOOR((v - lo) / ((hi - lo) / 32)) AS INT))
               END AS bin, p1 FROM o, b),
         c AS (SELECT bin, CAST(SUM(p1) AS BIGINT) AS c1,
                 CAST(SUM(1 - p1) AS BIGINT) AS c2
               FROM x GROUP BY bin),
         t AS (SELECT CAST(SUM(c1) AS BIGINT) AS n1,
                 CAST(SUM(c2) AS BIGINT) AS n2 FROM c)
         SELECT CAST(bin AS INT) AS bin, c1, c2,
           round((CAST(c1 + 1 AS DOUBLE) / (n1 + 32) -
                  CAST(c2 + 1 AS DOUBLE) / (n2 + 32)) *
             ln(CAST(c1 + 1 AS DOUBLE) * (n2 + 32) /
                (CAST(c2 + 1 AS DOUBLE) * (n1 + 32))), 9) AS psi_term
         FROM c, t ORDER BY bin""",

    "q_llm_pmi_cooccur" ->
      """WITH dt AS (SELECT doc_id,
             unnest(list_distinct(string_split(text, ' '))) AS w
           FROM documents),
         nd AS (SELECT COUNT(*) AS nd FROM documents),
         top AS (SELECT w, COUNT(*) AS c FROM dt GROUP BY w
                 ORDER BY c DESC, w LIMIT 100),
         t AS (SELECT dt.doc_id, dt.w FROM dt JOIN top USING (w)),
         pairs AS (SELECT x.w AS wa, y.w AS wb, COUNT(*) AS cab
           FROM t x JOIN t y ON x.doc_id = y.doc_id AND x.w < y.w
           GROUP BY x.w, y.w HAVING COUNT(*) >= 5)
         SELECT wa, wb, cab,
           round(log2(CAST(cab * nd.nd AS DOUBLE) /
             CAST(ca.c * cb.c AS DOUBLE)), 9) AS pmi
         FROM pairs
         JOIN top ca ON ca.w = wa JOIN top cb ON cb.w = wb, nd
         ORDER BY pmi DESC, wa, wb LIMIT 50""",

    "q_llm_dedup_lsh_cosine" ->
      s"""WITH h AS (SELECT j,
             list_transform(range(1, 65), i -> CASE WHEN
               ${oHexFold("md5('srp' || j::VARCHAR || '|' || i::VARCHAR)", 1)}
               % 2 = 0 THEN CAST(1.0 AS DOUBLE) ELSE CAST(-1.0 AS DOUBLE) END) AS sgn
           FROM (SELECT unnest(range(0, 32)) AS j)),
         bits AS (SELECT e.vec_id AS doc_id, h.j,
             CASE WHEN list_sum(list_transform(range(1, 65),
               i -> CAST(e.embedding[i] AS DOUBLE) * h.sgn[i])) > 0
               THEN 1 ELSE 0 END AS bit
           FROM embeddings e CROSS JOIN h),
         bands AS (SELECT doc_id, j // 4 AS band_id,
             CAST(SUM(bit << (j % 4)) AS BIGINT) AS bkey
           FROM bits GROUP BY doc_id, j // 4),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM bands x JOIN bands y ON x.band_id = y.band_id
             AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         pairs AS (SELECT c.a, c.b FROM cand c
           JOIN embeddings ea ON ea.vec_id = c.a
           JOIN embeddings eb ON eb.vec_id = c.b
           WHERE round(list_sum(list_transform(range(1, 65),
             i -> CAST(ea.embedding[i] AS DOUBLE)
                  * CAST(eb.embedding[i] AS DOUBLE))), 6) >= 0.42),
         base AS (SELECT vec_id AS doc_id FROM embeddings),
         ${U.oDupGroups("pairs", "base")}""",

    "q_llm_shuffle_shards" ->
      s"""WITH k AS (SELECT doc_id, ${U.oShardKey} AS skey
           FROM documents),
         s AS (SELECT doc_id, skey, skey % ${U.shardCount} AS shard FROM k)
         SELECT doc_id, shard,
           CAST(ROW_NUMBER() OVER (PARTITION BY shard ORDER BY skey, doc_id)
             - 1 AS BIGINT) AS pos
         FROM s ORDER BY shard, pos""",

    "q_sample_reservoir" ->
      s"""SELECT doc_id, n_chars,
           round(-ln((${oHexFold("md5(doc_id::VARCHAR)", 12)} + 1)
             / 281474976710656.0) / n_chars, 9) AS rkey
         FROM documents ORDER BY rkey, doc_id LIMIT 20""",

    "q_ts_downsample" ->
      """WITH e AS (
           SELECT user_id, event_id, strftime(ts, '%Y-%m-%d') AS day,
             CAST(round(value * 100) AS BIGINT) AS cents
           FROM events),
         w AS (SELECT user_id, event_id, day, cents,
             CAST(COUNT(*) OVER wd AS BIGINT) AS n,
             CAST(SUM(cents) OVER wd AS BIGINT) AS sc
           FROM e WINDOW wd AS (PARTITION BY user_id, day)),
         r AS (SELECT *, abs(cents * n - sc) AS dev,
             ROW_NUMBER() OVER (PARTITION BY user_id, day
               ORDER BY abs(cents * n - sc) DESC, event_id) AS rk
           FROM w)
         SELECT user_id, day, n AS n_pts, event_id AS rep_event_id,
           cents AS rep_cents
         FROM r WHERE rk = 1 ORDER BY user_id, day"""
  )
}
