package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Scaling-evidence harness (SURVEY §6, BASELINE.md "Scaling evidence").
  *
  * `gen` materializes a ×F replica of an sf-dir with keys offset and time
  * axes shifted per copy, so every per-key/per-window working set keeps
  * its ORIGINAL density — the honest way to scale a benchmark input: a
  * naive row copy would square the per-bucket pair counts (identical
  * docs collide in every dedup bucket, same-window orders explode the
  * range join) and measure an artifact, not the operator. Document text
  * gets a per-copy suffix token for the same reason (shingle sets must
  * differ across copies), and events keep their strict event_id ↔ ts
  * co-ordering (both offset monotonically per copy).
  *
  * `probe` times a fixed set of scale-critical queries across sf-dirs and
  * prints one JSON line per (dir, query) — the data behind the
  * linear-scaling table in BASELINE.md.
  *
  * Usage:
  *   runMain graft.Scale gen    <srcDir> <outDir> [factor]
  *   runMain graft.Scale probe  <dir> [dir ...]
  *   runMain graft.Scale recall <dir> [dir ...]
  */
object Scale {

  /** Non-declared geometry probes, probe-able by name alongside the
    * declared inventory: the declared IVF/kNN queries at the cell counts
    * the cells ∝ N rule prescribes for ×10/×100 replicas (the measured
    * A/B numbers of the retired control plans are in BASELINE.md). */
  val extraProbes: Map[String, graft.queries.U.Q] = Map(
    // IVF quantizer-growth probes: bits chosen so 2^bits tracks N
    // (base 4 bits / 16 cells at sf0.1's 2k vectors → 7 bits at ×10,
    // 11 bits at ×100), holding per-cell population ~constant — the
    // scale rule the declared queries' notes prescribe
    "x_knn_graph_b7" -> ((s, d) => graft.queries.Insights.knnGraphWithBits(s, d, 7)),
    "x_knn_graph_b11" -> ((s, d) => graft.queries.Insights.knnGraphWithBits(s, d, 11)),
    // label-noise at the quantizer-growth cell counts (declared = 16
    // cells at fixture N; total candidate work is N·probes·(N/cells),
    // so a fixed cell count goes quadratic at ×100 — measured 28 s at
    // ×10/16c; these are the cells ∝ N geometry the IVF rule prescribes)
    "x_label_noise_c128" -> ((s, d) => graft.queries.Assay.labelNoiseWith(s, d, 128)),
    "x_label_noise_c2048" -> ((s, d) => graft.queries.Assay.labelNoiseWith(s, d, 2048)),
    // hierarchical (two-level) assignment at the same cells ∝ N
    // geometry: the engineered fix for the residual cells×N law the
    // flat c2048 probe measures — √cells super-cells cut the
    // assignment pass from N·cells to ~N·3√cells (w=2)
    "x_label_noise_c128_2l" -> ((s, d) =>
      graft.queries.Assay.labelNoiseWith(s, d, 128, twoLevel = true)),
    "x_label_noise_c2048_2l" -> ((s, d) =>
      graft.queries.Assay.labelNoiseWith(s, d, 2048, twoLevel = true)),
    // round-9 serving-geometry cost probes (pair with the recall grid's
    // w×probes rows): end-to-end kNN graph at the ×100 cell count, flat
    // vs the two constant-recall two-level geometries the grid named —
    // w8/p10 matches flat's 0.199 recall (0.202), w4/p20 beats it (0.240).
    // Probe these against the ×100 replica only (2048 cells is that
    // scale's cells ∝ N geometry).
    "x_knn_flat_c2048" -> ((s, d) =>
      graft.queries.Learn.knnGraphTrained(s, d, 2048)),
    "x_knn_2l_c2048_w8_p10" -> ((s, d) =>
      graft.queries.Learn.knnGraphTrained2L(s, d, 2048, 8, 10)),
    "x_knn_2l_c2048_w4_p20" -> ((s, d) =>
      graft.queries.Learn.knnGraphTrained2L(s, d, 2048, 4, 20)),
    "x_dedup_semantic_b7" -> ((s, d) => graft.queries.Insights.dedupSemanticWithBits(s, d, 7)),
    "x_dedup_semantic_b11" -> ((s, d) => graft.queries.Insights.dedupSemanticWithBits(s, d, 11)))

  val probeSet: Seq[String] = Seq(
    "q_agg_groupby", "q_win_rank", "q_join_theta_range", "q_join_asof",
    "q_llm_dedup_exact", "q_llm_dedup_near", "q_llm_dedup_simhash",
    "q_llm_substring_dedup", "q_llm_cluster_kmeans", "q_mr_inverted_index",
    "q_llm_bpe_pairs", "q_ts_ewma", "q_stream_session", "q_llm_tfidf")

  private def session(): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val s = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      // sized codegen cache: the Spark-default 100-entry LRU thrashes on a
      // 320-query surface (measured round 11: 4,341 warm recompiles, bench
      // 139.4 -> 92.3 s at 8192 — BASELINE.md "codegen cache")
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // stable codegen class names: AQE assigns codegen stage ids in
      // nondeterministic order, so the id-in-class-name default makes
      // byte-identical generated code miss the Janino cache and
      // recompile per invocation (r15, measured in Bench.scala)
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** union of F copies of `df`, each transformed by `shift(df, k)`. */
  private def replicate(df: DataFrame, f: Int)(shift: (DataFrame, Int) => DataFrame): DataFrame =
    (0 until f).map(k => shift(df, k)).reduce(_ unionAll _)

  def gen(spark: SparkSession, src: String, out: String, f: Int): Unit = {
    def write(name: String, df: DataFrame): Unit =
      df.write.mode("overwrite").parquet(s"$out/$name.parquet")

    // per-copy key strides derived from the SOURCE's actual maxima — a
    // fixed constant would silently collide on a large-enough input and
    // reintroduce exactly the cross-copy key overlap gen exists to avoid
    def stride(df: DataFrame, key: String): Long =
      df.agg(max(col(key))).first().getLong(0) + 1L

    // dims pass through — scaling facts against fixed dims is the TPC-H
    // convention and keeps broadcast-ability invariant
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      write(t, spark.read.parquet(s"$src/$t.parquet"))
    }
    val dayShift = 3650 // > the data's date span: copies never co-window
    val orders = spark.read.parquet(s"$src/orders.parquet")
    val okStride = stride(orders, "o_orderkey")
    write("orders", replicate(orders, f) {
      (df, k) => df
        .withColumn("o_orderkey", col("o_orderkey") + lit(k * okStride))
        .withColumn("o_orderdate", col("o_orderdate") + expr(s"INTERVAL ${k * dayShift} DAYS"))
    })
    write("lineitem", replicate(spark.read.parquet(s"$src/lineitem.parquet"), f) {
      (df, k) => df
        .withColumn("l_orderkey", col("l_orderkey") + lit(k * okStride))
        .withColumn("l_shipdate", col("l_shipdate") + expr(s"INTERVAL ${k * dayShift} DAYS"))
    })
    // events: read through Tables (ns→µs normalization), write ts as
    // BIGINT nanos so the scaled dir round-trips through Tables exactly
    // like the driver-generated one. user_id strides per copy too —
    // without it, per-USER event volume would grow ×F and unbounded
    // per-user windows (asof, ewma, session) would measure the pile-up,
    // not the operator. Accepted trade: copies ≥ 1 have user_ids outside
    // the fixed customer dim, so an events→customer join loses matches on
    // them. None of the DEFAULT probeSet queries joins events to a dim,
    // but SPARK_GRAFT_PROBE_ONLY accepts ANY query name — probing
    // q_stream_join_static or q_dq_referential against a scaled dir
    // measures a join whose match volume stops growing with F (copy ≥ 1
    // users are deliberate orphans); their timings are not scaling
    // evidence for those two.
    val events = Tables(spark, src, "events")
    val evStride = stride(events, "event_id")
    val userStride = stride(events, "user_id")
    write("events", replicate(events, f) { (df, k) =>
      df.withColumn("event_id", col("event_id") + lit(k * evStride))
        .withColumn("user_id", col("user_id") + lit(k * userStride))
        .withColumn("ts", (unix_micros(col("ts") + expr(s"INTERVAL ${k * 400} DAYS")) * 1000L))
    })
    val docs = spark.read.parquet(s"$src/documents.parquet")
    val docStride = stride(docs, "doc_id")
    write("documents", replicate(docs, f) {
      (df, k) =>
        // EVERY token carries the copy tag, not just a trailing one: a
        // single appended token leaves trigram Jaccard ≈ T/(T+1) across
        // copies — far above any near-dup threshold — so minhash bands
        // would still collide cross-copy and the pair volume would grow
        // ~F². Per-token suffixing makes cross-copy shingle sets DISJOINT
        // while keeping every within-copy similarity identical to copy 0.
        val txt = if (k == 0) col("text")
        else expr(s"array_join(transform(split(text, ' '), t -> concat(t, 'z$k')), ' ')")
        df.withColumn("doc_id", col("doc_id") + lit(k * docStride))
          .withColumn("text", txt)
          .withColumn("n_chars", length(txt).cast("long"))
    })
    val embs = spark.read.parquet(s"$src/embeddings.parquet")
    val vecStride = stride(embs, "vec_id")
    write("embeddings", replicate(embs, f) {
      (df, k) =>
        // Per-copy deterministic SIGN FLIP of each dimension (s ∈ ±1 from
        // md5 parity of (copy, dim)): intra-copy geometry is EXACT —
        // dot(s∘v, s∘w) = dot(v, w) since s_i² = 1 — so every within-copy
        // neighbor/cell/cosine structure matches copy 0, while cross-copy
        // dots decorrelate (Σ s_i s'_i v_i w_i ≈ random-sign sum). A
        // verbatim copy (the pre-fix state) left F byte-identical twins
        // of every vector colliding in the SAME quantizer cell at any bit
        // count — pair volume ∝F², the exact collision artifact this
        // generator exists to avoid (see the documents per-token suffix).
        val flipped = if (k == 0) col("embedding")
        else expr(
          s"""transform(embedding, (x, i) -> CAST(IF(
               CAST(conv(substring(md5(concat('emb$k|', CAST(i AS STRING))), 1, 1), 16, 10)
                 AS BIGINT) % 2 = 0, x, -x) AS FLOAT))""")
        df.withColumn("vec_id", col("vec_id") + lit(k * vecStride))
          .withColumn("embedding", flipped)
    })
    println(s"""{"gen":"$out","factor":$f}""")
  }

  /** Measured ANN recall vs GLOBAL brute force — the number the declared
    * queries' property tests (equivalence over probed cells only) cannot
    * show: how much the fixed 5-probe budget gives up against an exact
    * scan, at each scale with the quantizer-growth rule applied.
    *
    * Per dir: bits = round(log2(N/125)) (the cells ∝ N rule anchored at
    * the fixture's 2k vectors → 4 bits), queries = a ~128-vector
    * deterministic stride sample, truth = exact top-k over ALL other
    * vectors with the SAME rounded-dot ordering the ANN path ranks by.
    * recall@k = |ann ∩ truth| / (k·|queries|). Also reports the fixed
    * 16-cell `q_llm_simsearch_ivf` surface (its own label-0 query set,
    * k=5). One JSON line per (dir, probe) → BASELINE.md. */
  def recall(spark: SparkSession, dirs: Seq[String]): Unit = {
    import org.apache.spark.sql.expressions.Window
    graft.functions.GraftFunctions.register(spark)
    // SPARK_GRAFT_RECALL_ONLY=substr,substr: compute only matching probes
    // (every frame here is lazy, so skipped probes cost nothing)
    val only = sys.env.get("SPARK_GRAFT_RECALL_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
    def want(p: String): Boolean = only.forall(_.exists(p.contains))
    def bruteTopK(emb: DataFrame, qs: DataFrame, k: Int): DataFrame = {
      val cand = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("cid"))
      // broadcast the capped query set against the full candidate scan —
      // the one place a crossJoin is the honest plan: exact truth needs
      // every (q, cand) dot, and |qs| is bounded (~128) by construction
      cand.crossJoin(broadcast(qs)).where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"),
          expr("round(graft_dot(qe, ce), 6)").as("dot"))
        .withColumn("rnk", row_number().over(w)).where(col("rnk") <= k)
        .select("qid", "cid")
    }
    def report(dir: String, probe: String, k: Int,
        ann: DataFrame, qs: DataFrame, emb: DataFrame,
        truth0: Option[DataFrame] = None): Unit = {
      if (!want(probe)) return
      val truth = truth0.getOrElse(bruteTopK(emb, qs, k))
      val annK = ann.join(qs.select("qid"), Seq("qid"), "left_semi")
        .select("qid", "cid")
      val hits = annK.join(truth, Seq("qid", "cid"), "left_semi").count()
      val nq = qs.count()
      val r = hits.toDouble / (k * nq)
      println(f"""{"dir":"$dir","probe":"$probe","k":$k,"n_queries":$nq,"recall":$r%.4f}""")
    }
    dirs.foreach { d =>
      val emb = Tables(spark, d, "embeddings")
      val n = emb.count()
      val bits = math.max(4,
        math.round(math.log(n / 125.0) / math.log(2.0)).toInt)
      val step = math.max(1L, n / 128L)
      val sample = emb.where(col("vec_id") % step === 0)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      // two probe budgets per scale: the declared fixed-5 rule, and the
      // budget grown with the quantizer (all single-bit flips) — the
      // recall/cost tradeoff a deployment tunes
      report(d, s"knn_graph_b${bits}_p5", 3,
        graft.queries.Insights.knnGraphWithBits(spark, d, bits), sample, emb)
      if (bits > 4) {
        report(d, s"knn_graph_b${bits}_p${bits + 1}", 3,
          graft.queries.Insights.knnGraphWithBits(spark, d, bits, bits),
          sample, emb)
        val h2 = bits + bits * (bits - 1) / 2 // full Hamming-≤2 ball
        report(d, s"knn_graph_b${bits}_p${h2 + 1}", 3,
          graft.queries.Insights.knnGraphWithBits(spark, d, bits, h2),
          sample, emb)
      }
      // the trained coarse quantizer at the SAME cell count and the
      // sign-bit rule's FIXED 5-probe budget — data-adaptive cells vs
      // fixed hyperplanes, cost law identical
      report(d, s"knn_trained_c${1 << bits}_p5", 3,
        graft.queries.Learn.knnGraphTrained(spark, d, 1 << bits), sample, emb)
      // the TWO-LEVEL (hierarchically trained) codebook at the same
      // geometry, w ∈ {2, 4} super-cells probed: what the
      // 32·cells² → 32·cells^1.5 training and N·cells → N·(1+w)·√cells
      // assignment cuts cost in end-to-end recall — w is the dial that
      // buys it back (at w = √cells serving is exact over the codebook)
      report(d, s"knn_trained2l_c${1 << bits}_p5_w2", 3,
        graft.queries.Learn.knnGraphTrained2L(spark, d, 1 << bits, 2),
        sample, emb)
      report(d, s"knn_trained2l_c${1 << bits}_p5_w4", 3,
        graft.queries.Learn.knnGraphTrained2L(spark, d, 1 << bits, 4),
        sample, emb)
      // Serving-geometry grid (round 9): the BASELINE tradeoff note names
      // "w=4-8 with a probe budget grown past 5" as the honest 2048-cell
      // deployment but measured only w≤4 at p=5 — this grid prices the
      // full (super-cell width × probe budget) surface at the scaled cell
      // counts so ONE constant-recall geometry can be named with numbers.
      // Cost model per row: assignment N·(1+w)·√cells, serving N·p·(N/cells).
      // One persisted brute-force truth is shared across all grid rows
      // (same queries, same k) instead of recomputed per row.
      if (bits > 4) {
        val grid = for {
          w <- Seq(4, 8); p <- Seq(5, 10, 20)
          if !(w == 4 && p == 5) // already reported above
        } yield (w, p)
        val wanted = grid.filter { case (w, p) =>
          want(s"knn_trained2l_c${1 << bits}_p${p}_w$w") }
        if (wanted.nonEmpty) {
          val truth3 = bruteTopK(emb, sample, 3).persist()
          wanted.foreach { case (w, p) =>
            report(d, s"knn_trained2l_c${1 << bits}_p${p}_w$w", 3,
              graft.queries.Learn.knnGraphTrained2L(spark, d, 1 << bits, w, p),
              sample, emb, Some(truth3))
          }
          truth3.unpersist()
          ()
        }
      }
      val ivfQs = emb.where(col("label") === 0 && col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      report(d, "simsearch_ivf_16cell", 5,
        SparkEntry.queries("q_llm_simsearch_ivf")(spark, d), ivfQs, emb)
      // q_llm_mmr_rerank's candidate pull (round 7: routed through the
      // trained quantizer instead of a full-table broadcast-NLJ) —
      // recall@20 of the probed pull vs the brute-force top-20 it
      // replaced, on the declared 8-query set. Reported at the declared
      // 16 cells AND at the quantizer-growth cell count, pricing the
      // fixed-cell recall decay the growth rule exists to stop.
      def mmrPull(cells: Int): DataFrame = {
        val (pf, cf) = graft.queries.Learn.trainedProbeFrames(spark, d, cells, 5)
        cf.join(broadcast(pf.where(col("qid") < 8)
            .select(col("qid"), col("qe"), col("probe"))),
            col("probe") === col("ccell") && col("qid") =!= col("cid2"))
          .select(col("qid"), col("cid2").as("cid"),
            expr("round(graft_dot(qe, ce), 6)").as("dot"))
          .withColumn("rnk", row_number().over(
            Window.partitionBy("qid").orderBy(col("dot").desc, col("cid"))))
          .where(col("rnk") <= 20).select("qid", "cid")
      }
      val mmrQs = emb.where(col("vec_id") < 8)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      report(d, "mmr_cand_pull_c16_p5", 20, mmrPull(16), mmrQs, emb)
      if (bits > 4)
        report(d, s"mmr_cand_pull_c${1 << bits}_p5", 20, mmrPull(1 << bits),
          mmrQs, emb)
      // PQ ADC recall: the declared q_llm_simsearch_pq ranks by
      // asymmetric L2² over 4×8 codebooks (64× compression) — report
      // what that compression costs against the EXACT integer-grid L2
      // top-3 over all candidates, on the query set the declared query
      // caps (vec_id < 32). Truth uses L2 ordering (not dot): that is
      // the metric PQ approximates. Since round 11 the DECLARED entry
      // derives coarse cells from N (Refine.cellsFor — same bits rule as
      // this probe), so these rows read the growth-rule recall at every
      // scale; the explicit c16 rows below are the fixed-geometry
      // CONTROL (what the pre-round-11 declared form served).
      val grid = emb.select(col("vec_id"), expr(
        "transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))")
        .as("g"))
      val pqQs = grid.where(col("vec_id") < 32)
        .select(col("vec_id").as("qid"), col("g").as("qg"))
      val wL2 = Window.partitionBy("qid").orderBy(col("d2"), col("cid"))
      val truthL2 = grid.select(col("vec_id").as("cid"), col("g").as("cg"))
        .crossJoin(broadcast(pqQs)).where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), expr("graft_l2sq(qg, cg)").as("d2"))
        .withColumn("rnk", row_number().over(wL2)).where(col("rnk") <= 3)
        .select("qid", "cid")
      // the DECLARED entry (since round 12: 8×16 shortlist-200 rerank) —
      // what a user of q_llm_simsearch_pq actually gets at this scale
      val pq = SparkEntry.queries("q_llm_simsearch_pq")(spark, d)
        .select("qid", "cid")
      if (want("simsearch_pq_declared")) {
        val pqHits = pq.join(truthL2, Seq("qid", "cid"), "left_semi").count()
        val nPq = pqQs.count()
        println(f"""{"dir":"$d","probe":"simsearch_pq_declared","k":3,"n_queries":$nPq,"recall":${pqHits.toDouble / (3 * nPq)}%.4f}""")
      }
      // PQ as DESIGNED — an ADC shortlist feeding an exact re-rank
      // (IVF-PQ's serving architecture): recall@3 of the 50-deep
      // shortlist re-ranked by exact L2, against the same truth. The
      // gap between this row and the pure-ADC row is the honest answer
      // to "what does 64× compression cost": ADC alone cannot order
      // top-3, but it concentrates the true neighbors into a 50-row
      // candidate set the exact pass then ranks for free (50 ≪ N raw
      // vectors touched per query).
      if (want("simsearch_pq_rerank50")) {
        val rr = graft.queries.Refine.pqRerank(spark, d, 50)
        val rrHits = rr.join(truthL2, Seq("qid", "cid"), "left_semi").count()
        val nPq2 = pqQs.count()
        println(f"""{"dir":"$d","probe":"simsearch_pq_rerank50","k":3,"n_queries":$nPq2,"recall":${rrHits.toDouble / (3 * nPq2)}%.4f}""")
      }
      // Round-12 geometry frontier: recall-vs-(M×K code budget,
      // shortlist depth) THROUGH the declared pqAdcScores/pqRerank
      // pipeline at growth-rule cells. M·log₂K is bits per vector
      // (4×8 = 12 bits/64× compression … 8×16 = 32 bits/16×); the grid
      // is what names the declared default with a number instead of a
      // guess. One persisted truth shared across all grid rows.
      locally {
        val geoms = Seq((4, 8), (8, 8), (4, 16), (8, 16))
        // 400/800 joined the ladder in round 13 (want-filtered, so the
        // default grid is unchanged): with the two-level coarse build
        // the codebook itself caps ADC ordering quality, and shortlist
        // depth — whose cost is CONSTANT in N — is the cheapest
        // recall-back knob left
        val rows = for {
          (m, kq) <- geoms; sl <- Seq(0, 50, 200, 400, 800)
        } yield (m, kq, sl)
        val wanted = rows.filter { case (m, kq, sl) =>
          want(if (sl == 0) s"simsearch_pq_m${m}k${kq}_adc"
               else s"simsearch_pq_m${m}k${kq}_rerank$sl") }
        if (wanted.nonEmpty) {
          val truthP = truthL2.persist()
          val nPq = pqQs.count()
          val wA = Window.partitionBy("qid").orderBy(col("adc"), col("cid"))
          wanted.foreach { case (m, kq, sl) =>
            val probe = if (sl == 0) s"simsearch_pq_m${m}k${kq}_adc"
              else s"simsearch_pq_m${m}k${kq}_rerank$sl"
            val ann =
              if (sl == 0) graft.queries.Refine.pqAdcScores(spark, d, -1, m, kq)
                .withColumn("rnk", row_number().over(wA))
                .where(col("rnk") <= 3).select("qid", "cid")
              else graft.queries.Refine.pqRerank(spark, d, sl, -1, m, kq)
            val hits = ann.join(truthP, Seq("qid", "cid"), "left_semi").count()
            println(f"""{"dir":"$d","probe":"$probe","k":3,"n_queries":$nPq,"recall":${hits.toDouble / (3 * nPq)}%.4f}""")
          }
          truthP.unpersist()
          ()
        }
      }
      // Round-12 PROBED serving rows: recall of the sub-linear form
      // (ADC restricted to each query's `probes` nearest coarse cells —
      // per-query candidates = probes·(N/cells), CONSTANT under cells ∝
      // N) at a ladder of probe budgets, declared geometry + shortlist
      // 200. The gap to the exhaustive rerank-200 row above is what
      // bounded serving costs at each scale — the number that names the
      // declared probe budget. Round 13 widens the ladder to the
      // c·√cells points for c ∈ {1.25, 2, 3} at the ×10/×100 cell
      // counts (23/34 at 128 cells, 91/136 at 2048) — the r12 verdict's
      // probe-rule A/B for pushing ×100 recall toward the exhaustive
      // form's.
      locally {
        val wanted = Seq(5, 14, 16, 23, 34, 57, 64, 91, 136).filter(pb =>
          want(s"simsearch_pq_probe${pb}_rerank200"))
        if (wanted.nonEmpty) {
          val truthP = truthL2.persist()
          val nPq = pqQs.count()
          wanted.foreach { pb =>
            val ann = graft.queries.Refine.pqRerank(spark, d, 200, -1,
              graft.queries.Refine.M, graft.queries.Refine.KPQ, pb)
            val hits = ann.join(truthP, Seq("qid", "cid"), "left_semi").count()
            println(f"""{"dir":"$d","probe":"simsearch_pq_probe${pb}_rerank200","k":3,"n_queries":$nPq,"recall":${hits.toDouble / (3 * nPq)}%.4f}""")
          }
          truthP.unpersist()
          ()
        }
      }
      // Round-13 assignment-width A/B for the PQ family's two-level
      // coarse model: the r13 dispatch swapped the flat coarse build
      // for the hierarchical one and exhaustive ×100 recall moved
      // 0.60 → 0.49 — this isolates WHERE the loss lives. w = 16
      // widens the two-stage assignment (more super-cells probed per
      // vector → fewer mis-assigned residuals); w = 45 ≈ √cells makes
      // assignment EXACT over the two-level codebook (LearnSpec's
      // identity), so any residual gap at w=45 is the hierarchical
      // TRAINING itself, not the assignment.
      locally {
        val wanted = Seq(16, 45).filter(w =>
          bits > 4 && want(s"simsearch_pq_w${w}_rerank200"))
        if (wanted.nonEmpty) {
          val truthP = truthL2.persist()
          val nPq = pqQs.count()
          wanted.foreach { w =>
            val ann = graft.queries.Refine.pqRerank(spark, d, 200, -1,
              graft.queries.Refine.M, graft.queries.Refine.KPQ, -1, w)
            val hits = ann.join(truthP, Seq("qid", "cid"), "left_semi").count()
            println(f"""{"dir":"$d","probe":"simsearch_pq_w${w}_rerank200","k":3,"n_queries":$nPq,"recall":${hits.toDouble / (3 * nPq)}%.4f}""")
          }
          truthP.unpersist()
          ()
        }
      }
      // Round-13 SHORTLIST-GROWTH rows — the engineered recall-back for
      // the two-level coarse build: the w A/B proved the 2L codebook
      // itself caps ADC ordering quality (w=45 exact assignment reads
      // the same 0.4896 as w=8), and the 400/800 ladder showed shortlist
      // depth buys it back (0.49 → 0.58 → 0.74 at ×100). Candidate rule:
      // shortlist = max(200, round(50·√cells)) — 200 at every gate scale
      // (50·√16 exactly, oracle-exact), 566/2263 at ×10/×100 — so the
      // exact re-rank prices ∝ √N per query, the same sub-linear class
      // as the probe rule. Measured exhaustive, at the declared probe
      // rule, and at the 2·√cells−3 alternative.
      if (bits > 4) {
        val cells2 = 1 << bits
        val sl = math.max(200, math.round(50.0 * math.sqrt(cells2.toDouble)).toInt)
        val pRule = graft.queries.Refine.probesForCells(cells2)
        val pAlt = math.max(5, math.round(2.0 * math.sqrt(cells2.toDouble)).toInt - 3)
        val variants = Seq("ex" -> -1, s"p$pRule" -> pRule, s"p$pAlt" -> pAlt)
        val wanted = variants.filter { case (tag, _) =>
          want(s"simsearch_pq_slgrow_${tag}_") }
        if (wanted.nonEmpty) {
          val truthP = truthL2.persist()
          val nPq = pqQs.count()
          wanted.foreach { case (tag, pb) =>
            val ann = graft.queries.Refine.pqRerank(spark, d, sl, -1,
              graft.queries.Refine.M, graft.queries.Refine.KPQ, pb)
            val hits = ann.join(truthP, Seq("qid", "cid"), "left_semi").count()
            println(f"""{"dir":"$d","probe":"simsearch_pq_slgrow_${tag}_rerank$sl","k":3,"n_queries":$nPq,"recall":${hits.toDouble / (3 * nPq)}%.4f}""")
          }
          truthP.unpersist()
          ()
        }
      }
      // Fixed-geometry CONTROL: coarse cells pinned at 16 regardless of
      // N — the pre-round-11 declared form. At scale per-cell population
      // grows ∝ N/16, residual spread widens with it, and the fixed
      // 12-bit code budget saturates (measured 0.00 ADC recall at
      // ×10/×100) — the decay the declared growth rule exists to stop.
      if (bits > 4) {
        val wA = Window.partitionBy("qid").orderBy(col("adc"), col("cid"))
        if (want("simsearch_pq_res_c16fixed")) {
          val adcF = graft.queries.Refine.pqAdcScores(spark, d, 16)
            .withColumn("rnk", row_number().over(wA))
            .where(col("rnk") <= 3).select("qid", "cid")
          val fHits = adcF.join(truthL2, Seq("qid", "cid"), "left_semi").count()
          val nF = pqQs.count()
          println(f"""{"dir":"$d","probe":"simsearch_pq_res_c16fixed","k":3,"n_queries":$nF,"recall":${fHits.toDouble / (3 * nF)}%.4f}""")
        }
        if (want("simsearch_pq_res_c16fixed_rerank50")) {
          val rrF = graft.queries.Refine.pqRerank(spark, d, 50, 16)
          val fHits = rrF.join(truthL2, Seq("qid", "cid"), "left_semi").count()
          val nF = pqQs.count()
          println(f"""{"dir":"$d","probe":"simsearch_pq_res_c16fixed_rerank50","k":3,"n_queries":$nF,"recall":${fHits.toDouble / (3 * nF)}%.4f}""")
        }
      }
    }
  }

  /** The sketch-family error bracket the property test asserts only at
    * fixture scale: q_agg_hll_intersect's inclusion–exclusion estimate
    * vs the EXACT |purchasers ∩ clickers| (distinct semi-join — the
    * shuffle the sketch path exists to avoid), per dir. One JSON line
    * each → the BASELINE.md sketch table. */
  def hll(spark: SparkSession, dirs: Seq[String]): Unit = dirs.foreach { d =>
    val r = SparkEntry.queries("q_agg_hll_intersect")(spark, d).first()
    // hll_sketch_estimate returns BIGINT; inclusion–exclusion stays long
    val est = r.getLong(r.fieldIndex("est_intersect")).toDouble
    val ev = Tables(spark, d, "events")
    def side(t: String) = ev.where(col("event_type") === t)
      .select("user_id").distinct()
    val exact = side("purchase")
      .join(side("click"), Seq("user_id"), "left_semi").count()
    val err = math.abs(est - exact) / math.max(exact, 1L).toDouble
    println(f"""{"dir":"$d","probe":"hll_intersect","est":$est%.1f,"exact":$exact,"rel_err":$err%.4f}""")
    // source-overlap sketch bracket: the q_llm_source_overlap_sketch matrix
    // (per-source gram HLLs + inclusion–exclusion) against the exact
    // declared containment matrix, per pair. Containment error is
    // reported in ABSOLUTE points (the honest unit for an
    // inclusion–exclusion sketch: per-sketch σ is relative to set SIZE,
    // so a near-zero intersection has unbounded relative error by
    // construction), shared-count error relative to the true count.
    val exactM = SparkEntry.queries("q_llm_source_overlap")(spark, d)
      .select(col("source_a"), col("source_b"), col("n_shared"),
        col("containment"))
    val estM = graft.queries.Audit.sourceOverlapSketch(spark, d)
      .select(col("source_a"), col("source_b"), col("est_shared"),
        col("containment_est"))
    val j = exactM.join(estM, Seq("source_a", "source_b"))
      .select(
        (abs(col("est_shared") - col("n_shared")).cast("double") /
          greatest(col("n_shared"), lit(1L))).as("rel"),
        abs(col("containment_est") - col("containment")).as("cabs"))
    val rr = j.agg(count(lit(1)).as("n"), avg("rel").as("mean_rel"),
      max("rel").as("max_rel"), avg("cabs").as("mean_cabs"),
      max("cabs").as("max_cabs")).first()
    println(f"""{"dir":"$d","probe":"source_overlap_sketch","pairs":${rr.getLong(0)},"mean_rel_shared":${rr.getDouble(1)}%.4f,"max_rel_shared":${rr.getDouble(2)}%.4f,"mean_abs_containment":${rr.getDouble(3)}%.4f,"max_abs_containment":${rr.getDouble(4)}%.4f}""")
  }

  /** Evaluate EVERY output column (noop sink). A bare count() would let
    * ColumnPruning drop unreferenced window/projection expressions and
    * the final sort — timing a scan, not the operator. */
  private def materialize(df: DataFrame): Unit =
    df.write.mode("overwrite").format("noop").save()

  def probe(spark: SparkSession, dirs: Seq[String]): Unit = {
    // SPARK_GRAFT_PROBE_ONLY=a,b,c probes just those queries (they need
    // not be in probeSet — any SparkEntry query name works)
    val names = sys.env.get("SPARK_GRAFT_PROBE_ONLY")
      .map(_.split(",").toSeq.map(_.trim).filter(_.nonEmpty))
      .getOrElse(probeSet)
    // fail fast with a useful message: a typo'd name would otherwise
    // throw a bare key-not-found mid-run, losing the partial probe
    require(names.nonEmpty, "SPARK_GRAFT_PROBE_ONLY parsed to an empty query list")
    val all = SparkEntry.queries ++ extraProbes
    val unknown = names.filterNot(all.contains)
    require(unknown.isEmpty, s"unknown probe queries: ${unknown.mkString(", ")}")
    dirs.foreach { d =>
      names.foreach { name =>
        val fn = all(name)
        // the first materialize is reported too: for memoized/persisted
        // lineages (quantizer families) it is the COLD number that
        // carries the cost law — the warm number alone would just time
        // a cache read and hide the pass being probed
        val c0 = System.nanoTime()
        materialize(fn(spark, d)) // cold: builds caches + codegen
        val cold = (System.nanoTime() - c0) / 1e9
        val t0 = System.nanoTime()
        materialize(fn(spark, d))
        val dt = (System.nanoTime() - t0) / 1e9
        val rows = fn(spark, d).count()
        println(f"""{"dir":"$d","query":"$name","sec":$dt%.3f,"cold_sec":$cold%.3f,"rows":$rows}""")
      }
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    args(0) match {
      case "gen" => gen(spark, args(1), args(2),
        if (args.length > 3) args(3).toInt else 10)
      case "probe" => probe(spark, args.drop(1).toSeq)
      case "recall" => recall(spark, args.drop(1).toSeq)
      case "hll" => hll(spark, args.drop(1).toSeq)
      case other => sys.error(s"unknown mode $other (gen|probe|recall|hll)")
    }
    spark.stop()
  }
}
