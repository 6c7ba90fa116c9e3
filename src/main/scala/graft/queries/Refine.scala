package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Round-5 batch 3 (SURVEY §2.27): product-quantized ANN, corpus
  * reweighting, CUSUM drift, and tokenizer fertility — the remaining
  * steps a 100 TB curation pipeline runs between "deduped corpus" and
  * "training mixture".
  *
  * Scale notes, per operator:
  *  - simsearch_pq: the IVF-PQ memory story, RESIDUAL-encoded (round
  *    10), coarse cells ∝ N (round 11 — [[Refine.cellsFor]]; 16 at the
  *    gate scales), served AS DESIGNED since round 12, and since round
  *    13 BUILT at scale by the two-level trainer with the shortlist
  *    growing ∝ √cells: the declared entry is the
  *    ADC-[[shortlistFor]] → exact-re-rank form at the measured-best
  *    8×16 geometry (recall@3 0.86/0.76/0.85 at ×1/×10/×100 vs global
  *    brute force — the grids that chose every knob are in
  *    BASELINE.md). Vectors first assign to the memoized trained coarse
  *    quantizer (shared with q_llm_knn_graph_trained — zero extra
  *    training), then PQ quantizes x − centroid(x): codebooks are M×K
  *    tiny tables trained on a stride SAMPLE of residuals (cost
  *    independent of N), encoding is one broadcast map pass (each
  *    vector → cell id + M one-byte codes — a 64-float vector
  *    compresses 16× to ~8 bytes + id), ADC scoring reads the
  *    per-(query, cell) M·K distance table instead of the raw vectors,
  *    and only the ≤200-deep shortlist ever touches a raw vector again.
  *    Everything stays on the 1e-6 integer grid — squared-distance sums
  *    are exact BIGINTs, no float order sensitivity anywhere. The
  *    round-9 raw-vector form measured ADC recall 0.00–0.05 at
  *    ×10/×100; residual encoding is the published IVF-PQ fix and the
  *    full geometry/shortlist frontier is measured in BASELINE.md. At
  *    100 TB the query side prices only its probed cells' tables
  *    (Q·probes·M·K rows) plus shortlist raw reads through the same
  *    cell equi-join the knn_graph_trained composition demonstrates.
  *  - importance_resample: DoReMi-style domain reweighting — acceptance
  *    probability per language = target share / actual share, normalized
  *    so the most under-represented language keeps everything. Shares,
  *    ratios and the md5 acceptance draw are all integer micro-units
  *    (exact div, no float), the per-lang table is dim-bounded and
  *    broadcasts, and the corpus makes ONE pass: u < p(lang) is a
  *    map-side predicate. Linear at any N.
  *  - ts_cusum: two-sided CUSUM drift detector over the q_ts_ewma
  *    trailing-50 window shape (keyed window + HOF fold — constant
  *    state per row); the [s+, s−, crossings] fold state rides a
  *    DOUBLE[] accumulator (the q_ts_holt lesson: DuckDB list_reduce
  *    corrupts STRUCT accumulators; LIST state folds correctly).
  *  - tokenizer_fertility: per-language tokenizer cost report (subword
  *    estimate / whitespace tokens — the fertility number multilingual
  *    tokenizer evals report): one partial-agg shuffle over 5 language
  *    keys; ratios exact integer micro-units.
  */
object Refine {

  /** The PQ geometry: 64 dims → M subspaces × (64/M) dims, K codes
    * each, 2 Lloyd rounds on a ~32·K stride sample. M·log₂K is the code
    * budget in BITS per vector: 8×16 = 32 bits (16× compression, 8 code
    * bytes + id per vector). A round-12 grid of 4 geometries × 3
    * shortlist depths × 3 scales chose it: shortlist-200 rerank recall@3
    * 0.865/0.677/0.604 at ×1/×10/×100, where the round-11 4×8 pure-ADC
    * form read 0.073/0.042/0.031 (BASELINE.md ANN table; that grid is
    * a record of a deleted probe). */
  private[graft] val M = 8
  private[graft] val KPQ = 16
  private val SUBDIM = 64 / M
  /** Capped ADC query set (the q_llm_simsearch_topk convention). */
  private val QCAP = 32
  /** Gate-scale shortlist depth for the ADC → exact-re-rank serving
    * form — the anchor of the round-13 [[shortlistFor]] growth rule
    * (50·√16 = 200 exactly, so every gate scale pins this value and the
    * DuckDB mirrors stay exact). */
  private[graft] val SHORTLIST = 200

  /** CUSUM slack (k) and decision threshold (h) — single definitions
    * interpolated into BOTH the Spark fold and the DuckDB oracle so the
    * two sides cannot desynchronize. */
  private[graft] val SLACK = "12.5"
  private[graft] val THRESH = "100.0"

  /** The two-sided CUSUM fold over a DOUBLE array column `vs` around mean
    * column `mu` → [s⁺, s⁻, crossings]. Exposed so RefineSpec can drive
    * it over constructed drift fixtures (the declared query binds it to
    * the per-user trailing-50 window over `events`). */
  private[graft] def cusumFold(vs: String, mu: String): String =
    s"""aggregate($vs,
         array(CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE), CAST(0.0 AS DOUBLE)),
         (acc, v) -> array(
           greatest(0.0, acc[0] + (v - $mu) - $SLACK),
           greatest(0.0, acc[1] + ($mu - v) - $SLACK),
           acc[2] + CASE WHEN greatest(0.0, acc[0] + (v - $mu) - $SLACK) > $THRESH
               OR greatest(0.0, acc[1] + ($mu - v) - $SLACK) > $THRESH
             THEN 1.0 ELSE 0.0 END))"""

  /** Per-language target mix in micro-units (Σ = 1e6): the re-balance a
    * multilingual pretraining run wants against this corpus's ~44% en
    * skew. Kept as (lang, target) pairs so Spark and DuckDB literal
    * tables are generated from ONE definition. */
  private val targetMix: Seq[(String, Long)] = Seq(
    "en" -> 250000L, "es" -> 250000L, "de" -> 200000L,
    "fr" -> 150000L, "zh" -> 150000L)

  private val targetCase: String =
    targetMix.map { case (l, t) => s"WHEN '$l' THEN CAST($t AS BIGINT)" }
      .mkString("CASE lang ", " ", " END")

  /** The 1e-6-grid BIGINT view of the embedding table — shared by the
    * PQ training/encode passes and the re-rank probe. */
  private def gridVecs(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "embeddings").select(col("vec_id"), gridE6("embedding").as("q"))

  /** One row per subspace of grid-vector column `v`: explode this into
    * (m, sq) — `sq` is the `m`-th [[SUBDIM]]-dim slice. */
  private def subspaces(v: String): Column = explode(expr(
    s"""transform(sequence(0, ${M - 1}), m -> named_struct(
         'm', CAST(m AS INT), 'sq', slice($v, m * $SUBDIM + 1, $SUBDIM)))"""))

  /** Quantizer-growth rule, DECLARED (round 11): coarse cells =
    * 2^max(4, round(log₂(N/125))) — cells ∝ N, anchored at the
    * fixture's ~2k vectors → 16 cells (so every
    * gate scale ≤ sf0.1 resolves to 16 and the fixed-16 DuckDB mirror
    * stays exact), 128 at ×10, 2048 at ×100. Growing cells with N keeps
    * per-cell population — hence residual spread — CONSTANT, which is
    * what lets the fixed M=4×K=8 code budget hold its per-cell precision
    * at any N: the round-10 fixed-16 A/B measured pure-ADC recall
    * collapsing to 0.00 at ×10/×100 while cells ∝ N held 0.04/0.03
    * (ADC) and 0.29/0.27 (shortlist-rerank) — BASELINE.md ANN table.
    * One memoized count job per (session, corpus): sizing a quantizer
    * from corpus statistics is the index-build phase every IVF system
    * runs before serving; the declared plan itself stays fully lazy. */
  private[graft] def cellsForCount(n: Long): Int =
    1 << math.max(4,
      math.round(math.log(n / 125.0) / math.log(2.0)).toInt)

  private[graft] def cellsFor(s: org.apache.spark.sql.SparkSession,
      d: String): Int =
    graft.Memo(s, s"pq-cells:$d") {
      cellsForCount(Tables(s, d, "embeddings").count())
    }

  /** Probe-budget growth rule for the SUB-LINEAR serving form
    * (q_llm_simsearch_pq_probe), anchored at the gate geometry:
    * probes = max(5, round(2·√cells) − 3) — 5 at the 16-cell gate
    * scales (2·√16 − 3 exactly, so the DuckDB mirror pins probes = 5),
    * 20 at ×10's 128 cells, 88 at ×100's 2048. With cells ∝ N this
    * prices per-query candidates at probes·(N/cells) ∝ √N, same class
    * as the round-12 1.25·√cells rule it replaces. Round 13 widened
    * the constant off the measured c·√cells ladder UNDER THE TWO-LEVEL
    * BUILD (shortlist-200: c = 1.25 read 0.4375/0.4271 at ×10/×100
    * where c = 2 read 0.5625/0.4375 and c = 3 saturated at
    * 0.5938/0.4479 against the 2L-exhaustive ceiling 0.6458/0.4896);
    * at the DECLARED shortlist-growth rule the adopted geometry reads
    * 0.79 / 0.61 / 0.57 at ×1/×10/×100 — past the ≥0.55 bar at every
    * scale — vs 0.51/0.54 for the old 1.25 constant and the FIXED-5
    * control's collapse to 0.30/0.20 (BASELINE.md ANN table). */
  private[graft] def probesForCells(cells: Int): Int =
    math.max(5, math.round(2.0 * math.sqrt(cells.toDouble)).toInt - 3)

  /** Shortlist-growth rule (round 13): shortlist =
    * max(200, round(50·√cells)) — 200 at the 16-cell gate scales
    * (50·√16 exactly: the DuckDB mirrors pin shortlist = 200), 566 at
    * ×10's 128 cells, 2263 at ×100's 2048. The engineered recall-back
    * for the two-level coarse build: the round-13 w A/B proved the 2L
    * codebook itself caps ADC ordering (w = 45 ≈ √cells — assignment
    * EXACT over the codebook — reads the same 0.4896 as the declared
    * w = 8), and the shortlist ladder showed depth buys it back
    * (×100 exhaustive: 200 → 0.4896, 400 → 0.5833, 800 → 0.7396,
    * rule's 2263 → 0.8542 — ABOVE the flat build's 0.6042 at 2.9×
    * less cold cost). Under cells ∝ N the exact re-rank prices
    * ∝ √N raw-vector reads per query — the same sub-linear class as
    * the probe rule, and still shortlist ≪ N (≈1.1% of the corpus at
    * ×100). */
  private[graft] def shortlistFor(cells: Int): Int =
    math.max(SHORTLIST, math.round(50.0 * math.sqrt(cells.toDouble)).toInt)

  /** Shortlist-then-re-rank PQ retrieval (IVF-PQ's actual serving
    * architecture, and — since round 12 — the DECLARED q_llm_simsearch_pq
    * form): ADC ranks a `shortlist`-deep candidate set per query
    * (compressed codes only), then ONLY those ≤shortlist rows join back
    * their raw grid vectors for an exact L2² re-rank to top-3. The
    * shortlist is what buys answer quality at scale: ADC alone cannot
    * order top-3 (the compression noise swamps neighbor gaps — measured
    * 0.03–0.13 recall at every geometry), but it CONCENTRATES the true
    * neighbors into a bounded candidate set the exact pass ranks for
    * free (shortlist ≪ N raw vectors touched per query). Emits
    * (qid, cid, d2x, rnk) — exact BIGINT distances, hash-stable. */
  private[graft] def pqRerank(s: org.apache.spark.sql.SparkSession, d: String,
      shortlist: Int, cells: Int, probes: Int = -1)
    : org.apache.spark.sql.DataFrame = {
    val wA = Window.partitionBy("qid").orderBy(col("adc"), col("cid"))
    val short = pqAdcScores(s, d, cells, probes)
      .withColumn("rk", row_number().over(wA)).where(col("rk") <= shortlist)
      .select("qid", "cid")
    val grid = gridVecs(s, d)
    val wE = Window.partitionBy("qid").orderBy(col("d2x"), col("cid"))
    short
      .join(grid.select(col("vec_id").as("cid"), col("q").as("cg")), "cid")
      .join(broadcast(grid.where(col("vec_id") < QCAP)
        .select(col("vec_id").as("qid"), col("q").as("qg"))), "qid")
      .select(col("qid"), col("cid"), expr("graft_l2sq(qg, cg)").as("d2x"))
      .withColumn("rnk", row_number().over(wE)).where(col("rnk") <= 3)
      .select("qid", "cid", "d2x", "rnk")
  }

  /** The full IVF-PQ pipeline up to the per-(query, candidate) ADC
    * score — RESIDUAL encoding (round 10): vectors are first assigned
    * to the memoized `cells`-cell coarse model
    * ([[Learn.coarseModelAuto]] — the SAME frames
    * q_llm_knn_graph_trained & co already share, zero extra training),
    * and PQ quantizes the residual x − centroid(x), not the raw
    * vector. This is IVF-PQ proper (Jégou et al.'s "encode the
    * residual" recipe): residuals are concentrated around 0 with far
    * smaller spread than raw vectors, so the [[M]]×[[KPQ]] integer-grid
    * codebooks capture them with materially less quantization error —
    * the round-9 raw-vector ADC measured recall 0.00–0.05 at ×10/×100
    * (BASELINE "ANN recall"). Serving reads per-(query, coarse-cell)
    * distance tables: ‖q − c − r̂‖² decomposes exactly over the disjoint
    * dim slices as Σₘ‖(q−c)ₘ − cbₘ[code]‖², so ADC stays an exact BIGINT
    * given the codes — the table is Q·cells·M·K rows (32·16·8·16 = 64 k
    * at the gate scales' 16 cells, broadcast). The candidate side never
    * touches a raw vector after encoding: one byte-scale code row per
    * vector per subspace.
    *
    * Both declared entries pass `cells` = [[cellsFor]] (the
    * quantizer-growth rule, cells ∝ N — the round-10 fixed-16 form
    * measured pure-ADC recall 0.00 at ×10/×100). `probes` > 0 restricts
    * the query side to each query's `probes` nearest coarse cells by
    * EXACT grid ‖q − c‖² (the IVF probe list — Q·cells tiny rows,
    * rank-windowed per query) BEFORE the codes join, so per-query
    * candidate volume is probes·(N/cells): CONSTANT under the cells ∝ N
    * growth rule — the sub-linear serving form. −1 = exhaustive ADC
    * over all cells (the q_llm_simsearch_pq form). */
  private[graft] def pqAdcScores(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int, probes: Int = -1)
    : org.apache.spark.sql.DataFrame = {
    graft.functions.GraftFunctions.register(s)
    // coarse assignment: the memoized frames every trained-quantizer
    // consumer shares, under the round-13 DECLARED dispatch
    // (Learn.coarseModelAuto): flat cells/5-probes at gate-scale cell
    // counts (≤64 — bit-identical to the r12 declaration, oracle
    // unchanged), the two-level w=8/p10 trainer above — the r12
    // verdict's fix for the flat 32·cells² + N·cells build (both ∝ N²
    // under cells ∝ N; measured flat 450.4 vs two-level 200.5 s cold
    // end-to-end at ×100). cand = (cid2, ce, clabel, ccell) — each
    // vector's argmin cell, tie-broken (d2, cid) exactly like the
    // oracle's rank-1 window; centG = that quantizer's (cell, centroid).
    val (cand, centG) = Learn.coarseModelAuto(s, d, cells)
    // residuals on the 1e-6 grid: r = grid(x) − centroid(cell(x)) — one
    // broadcast map pass over the assignment frame, no extra shuffle.
    // Memoized + LAZY localCheckpoint (not persist): the coarse
    // trainer's logical lineage rides in through `cand`, and the
    // codebook sample + encode below reference `res` again — with
    // persist the ANALYZER re-walked the multiplied tree on every
    // invocation (measured when the codebooks were 8 unrolled chains:
    // the declared query's warm bench time went 1.6 → 20.4 s, pure
    // driver-side analysis + the GC smear it threw over neighboring
    // bench queries). localCheckpoint truncates the LOGICAL plan to a
    // LogicalRDD immediately, but it is NOT execution-free: under
    // adaptive execution it finalizes the adaptive plan, so the shuffle
    // stages beneath it (the coarse trainer's Lloyd rounds and
    // assignment) run when the query is BUILT — plan-only consumers
    // (PlanLock, explain) run them too.
    val res = graft.Memo(s, s"pq-res:$d:$cells") {
      cand.select(col("cid2").as("vec_id"), col("ccell").as("gcell"),
          gridE6("ce").as("q"))
        .join(broadcast(centG), "gcell")
        .select(col("vec_id"), col("gcell"),
          expr("zip_with(q, gc, (x, y) -> x - y)").as("r"))
        .localCheckpoint(false)
    }
    // the M subspace codebooks, trained on RESIDUAL slices as ONE Lloyd
    // chain keyed by subspace `m`: the stride sample explodes into its
    // M slices, seeds are indexed arithmetically per slice (no window),
    // and every round trains all M codebooks in one pass — constant
    // work at any N. The M·K-row codebook frame is memoized per
    // (session, sfDir) and lazily persist()ed (the
    // q_llm_knn_graph_trained quantizer discipline), so its two
    // consumers below — the encode pass and the query-side distance
    // tables — share ONE training materialization instead of each
    // re-running the sampled Lloyd subplan.
    val cbs = graft.Memo(s, s"pq-res-codebooks:$d:$cells") {
      val sample = Learn.strideSample(res.select(col("vec_id"), col("r").as("q")),
          32L * KPQ)
        .select(col("vec_id"), col("st"), subspaces("q").as("e"))
        .select(col("vec_id"), col("st"), col("e.m").as("m"), col("e.sq").as("q"))
      Learn.lloyd(sample, Learn.strideSeeds(sample, KPQ, Seq("m")), Seq("m"))
        .persist()
    }
    // every vector's M residual subvectors (tagged with its coarse cell)
    val subs = res.select(col("vec_id"), col("gcell"), subspaces("r").as("e"))
      .select(col("vec_id"), col("gcell"), col("e.m").as("m"), col("e.sq").as("sq"))
    // encode: argmin code per (vector, subspace) — a broadcast map pass
    val codes = subs.join(broadcast(cbs), "m")
      .select(col("vec_id"), col("gcell"), col("m"), col("cid"),
        expr("graft_l2sq(sq, c)").as("d2"))
      .groupBy("vec_id", "gcell", "m")
      .agg(min(struct(col("d2"), col("cid"))).getField("cid").as("code"))
    // ADC tables: per (query, coarse cell) the query residual q − c_cell
    // sliced per subspace, scored against the codebook (Q·cells·M·K rows)
    val qres = gridVecs(s, d).where(col("vec_id") < QCAP)
      .crossJoin(broadcast(centG))
      .select(col("vec_id").as("qid"), col("gcell"),
        expr("zip_with(q, gc, (x, y) -> x - y)").as("qr"))
      .select(col("qid"), col("gcell"), subspaces("qr").as("e"))
      .select(col("qid"), col("gcell"), col("e.m").as("m"), col("e.sq").as("sq"))
    val dtab0 = qres.join(broadcast(cbs), "m")
      .select(col("qid"), col("gcell"), col("m"), col("cid").as("code"),
        expr("graft_l2sq(sq, c)").as("d2"))
    // probed serving: keep only each query's `probes` nearest coarse
    // cells (exact grid distance, ties to the smaller cell — the
    // trainedProbeFrames convention); the codes join below then pulls
    // only probed cells' code rows per query
    val dtab = if (probes <= 0) dtab0 else {
      val pcell = gridVecs(s, d).where(col("vec_id") < QCAP)
        .crossJoin(broadcast(centG))
        .select(col("vec_id").as("qid"), col("gcell"),
          expr("graft_l2sq(q, gc)").as("d2qc"))
        .withColumn("rk", row_number().over(
          Window.partitionBy("qid").orderBy(col("d2qc"), col("gcell"))))
        .where(col("rk") <= probes)
        .select("qid", "gcell")
      dtab0.join(broadcast(pcell), Seq("qid", "gcell"), "left_semi")
    }
    // the table is Q·cells·M·K rows: KB-scale at the declared 16 cells
    // (broadcast — pins the declared plan), tens of MB under the probe's
    // growth-rule cell counts where a shuffled hash join is the honest
    // strategy (the code side is the big side either way)
    val dtabSide = if (cells <= 64) broadcast(dtab) else dtab
    // final ADC frame memoized + lazily checkpoint-truncated like `res`:
    // the declared query and the re-rank probe each window over it, and
    // the query-side tables still carry the coarse trainer's lineage —
    // per-invocation analysis must stop at a LogicalRDD leaf
    graft.Memo(s, s"pq-adc:$d:$cells:$probes") {
      codes.join(dtabSide, Seq("gcell", "m", "code"))
        .where(col("qid") =!= col("vec_id"))
        .select(col("qid"), col("vec_id").as("cid"), col("d2"))
        .groupBy("qid", "cid")
        .agg(sum(col("d2")).as("adc"))
        .localCheckpoint(false)
    }
  }

  val queries: Map[String, Q] = Map(

    // Product-quantization similarity search — since round 12 the
    // declared entry IS the serving architecture ([[pqRerank]]): ADC
    // shortlist over 8×16 codebooks (32-bit codes, 16× compression),
    // exact integer-grid L2² re-rank to top-3. Round 13 re-derived both
    // growth knobs through the declared entry AFTER swapping the coarse
    // BUILD to the two-level trainer past 64 cells
    // (Learn.coarseModelAuto — the r12-verdict fix, 2.9× less ×100
    // cold): coarse cells DERIVE from corpus size ([[cellsFor]] — 16 at
    // every gate scale, where the DuckDB mirror below is exact;
    // 128/2048 at ×10/×100), and the shortlist now GROWS too
    // ([[shortlistFor]] = max(200, 50·√cells) — 200 at every gate
    // scale): the 2L codebook caps pure-ADC ordering (w A/B,
    // BASELINE.md), and the deeper exact re-rank — whose cost is ∝ √N
    // raw reads per query, never ∝ N — buys recall PAST the old flat
    // build: 0.86 / 0.76 / 0.85 recall@3 at ×1/×10/×100 vs the r12
    // declared form's 0.86 / 0.68 / 0.60 (BASELINE.md ANN table;
    // `graft.Scale recall` re-measures this entry against brute force).
    "q_llm_simsearch_pq" -> ((s, d) => {
      val cells = cellsFor(s, d)
      pqRerank(s, d, shortlistFor(cells), cells).orderBy("qid", "rnk")
    }),

    // The SUB-LINEAR serving twin (round 12): same pipeline, but ADC
    // scores only each query's [[probesForCells]] nearest coarse cells
    // (exact grid ‖q − c‖² ranking — the IVF probe list) instead of all
    // of them, so per-query candidate volume is probes·(N/cells) ∝ √N
    // under the cells ∝ N growth rule where the exhaustive declared
    // form touches every code row. Round 13 re-anchored both knobs off
    // the measured ladders under the two-level build (probes =
    // max(5, round(2·√cells) − 3) = 5/20/88, shortlist = shortlistFor):
    // recall@3 0.79 / 0.61 / 0.57 at ×1/×10/×100 — ≥0.55 at every
    // scale, vs the r12 declared 0.79/0.54/0.49 and the fixed-5
    // control's collapse to 0.30/0.20 (BASELINE.md ANN table). Gate
    // scales resolve to 16 cells → probes = 5, shortlist = 200, where
    // the DuckDB mirror pins the same restriction.
    "q_llm_simsearch_pq_probe" -> ((s, d) => {
      val cells = cellsFor(s, d)
      pqRerank(s, d, shortlistFor(cells), cells,
        probesForCells(cells)).orderBy("qid", "rnk")
    }),

    // Language-mix importance resampling: p(lang) ∝ target/actual,
    // normalized to keep the most under-represented language whole;
    // accept iff the doc's deterministic md5 micro-draw clears p.
    "q_llm_importance_resample" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
      val tot = docs.agg(count(lit(1)).as("n"))
      // restrict to the targetMix languages (mirrors the oracle's inner
      // join on tm): a language absent from the mix must drop out here,
      // not flow through with a NULL target
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
        .where(col("lang").isin(targetMix.map(_._1): _*))
        .withColumn("t_e6", expr(targetCase))
        .crossJoin(broadcast(tot))
        .withColumn("ratio_e6", expr("(t_e6 * n) div cnt"))
      val maxR = byLang.agg(max(col("ratio_e6")).as("mr"))
      val pl = byLang.crossJoin(broadcast(maxR))
        .select(col("lang"), col("cnt").as("n_docs"), col("t_e6"),
          expr("(ratio_e6 * 1000000) div mr").as("p_e6"))
      val kept = docs
        .withColumn("u_e6", expr(
          s"${hexFold("md5(concat('ir', CAST(doc_id AS STRING)))", 13)} % 1000000"))
        .join(broadcast(pl.select("lang", "p_e6")), "lang")
        .where(col("u_e6") < col("p_e6"))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      pl.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("t_e6"), col("p_e6"),
          coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    }),

    // Temperature-based language mixing (the mT5/XLM-R sampling rule,
    // α = 0.5) — the smooth sibling of the target-driven DoReMi
    // resampler above: sampled share q(l) ∝ p(l)^α upweights tails
    // WITHOUT a hand-written target table. α = 0.5 is chosen from the
    // published range deliberately: the per-language keep probability
    // algebraically collapses to p_l = sqrt(cnt_min / cnt_l) (the
    // N and Σ√ normalizers cancel against the keep-the-rarest-whole
    // normalization), and sqrt is IEEE-correctly-rounded in BOTH
    // engines — the one libm-free power, so the whole mix is
    // bit-identical cross-engine with no grid gymnastics beyond the
    // reported q column (rounded √cnt summed as decimals — the 5-row
    // dim frame rule). Accept iff the doc's deterministic md5
    // micro-draw clears p_e6 (the importance_resample convention).
    // Per-lang table is dim-bounded and broadcast; the corpus makes ONE
    // map-side pass. Output: per-language card (share, sampled share q,
    // keep probability, kept count).
    "q_llm_temperature_mix" -> ((s, d) => {
      val docs = Tables(s, d, "documents").select(col("doc_id"), col("lang"))
      val tot = docs.agg(count(lit(1)).as("n"))
      val byLang = docs.groupBy("lang").agg(count(lit(1)).as("cnt"))
      val mn = byLang.agg(min("cnt").as("mn"))
      val ssum = byLang.agg(
        sum(round(sqrt(col("cnt").cast("double")), 9).cast("decimal(18,9)"))
          .cast("double").as("ssum"))
      val pl = byLang.crossJoin(broadcast(tot)).crossJoin(broadcast(mn))
        .crossJoin(broadcast(ssum))
        .select(col("lang"), col("cnt").as("n_docs"),
          expr("(cnt * 1000000) div n").as("share_e6"),
          round(round(sqrt(col("cnt").cast("double")), 9) / col("ssum")
            * 1e6).cast("long").as("q_e6"),
          round(sqrt(col("mn").cast("double") / col("cnt").cast("double"))
            * 1e6).cast("long").as("p_e6"))
      val kept = docs
        .withColumn("u_e6", expr(
          s"${hexFold("md5(concat('tm', CAST(doc_id AS STRING)))", 13)} % 1000000"))
        .join(broadcast(pl.select("lang", "p_e6")), "lang")
        .where(col("u_e6") < col("p_e6"))
        .groupBy("lang").agg(count(lit(1)).as("n_kept"))
      pl.join(kept, Seq("lang"), "left")
        .select(col("lang"), col("n_docs"), col("share_e6"), col("q_e6"),
          col("p_e6"), coalesce(col("n_kept"), lit(0L)).as("n_kept"))
        .orderBy("lang")
    }),

    // Two-sided CUSUM over the trailing-50 per-user window: s+ and s−
    // accumulate deviations beyond the slack k around the grid-exact
    // global mean; `crossings` counts threshold exceedances (no reset —
    // the monitoring-report variant). One keyed window + one 1-row
    // broadcast; fold order = frame order, deterministic.
    "q_ts_cusum" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(-49, Window.currentRow)
      val mu = Tables(s, d, "events")
        .agg(round(davg(col("value")), 6).as("mu"))
      Tables(s, d, "events")
        .withColumn("vs", collect_list(col("value")).over(w))
        .crossJoin(broadcast(mu))
        .withColumn("st", expr(cusumFold("vs", "mu")))
        .select(col("user_id"), col("event_id"),
          round(col("st")(0), 6).as("cusum_hi"),
          round(col("st")(1), 6).as("cusum_lo"),
          col("st")(2).cast("long").as("crossings"))
        .orderBy("event_id")
    }),

    // Tokenizer fertility per language: subword-estimate tokens per
    // whitespace token (the q_llm_token_count estimator aggregated to
    // the report a multilingual tokenizer eval publishes), plus mean
    // token length — exact integer micro-unit ratios.
    "q_llm_tokenizer_fertility" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("lang"),
          size(textTokens).cast("long").as("ws"),
          ceil(length(regexp_replace(col("text"), " ", "")) / lit(4.0))
            .cast("long").as("sw"),
          length(regexp_replace(col("text"), " ", "")).cast("long").as("ch"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("ws")).as("ws_tokens"),
          sum(col("sw")).as("subword_tokens"),
          expr("(sum(sw) * 1000000) div sum(ws)").as("fertility_e6"),
          expr("(sum(ch) * 1000000) div sum(ws)").as("token_chars_e6"))
        .orderBy("lang"))
  )

  /** DuckDB mirror of one subspace assignment round over (64/M)-dim
    * slices: `a(vec_id, sq, cid)` from sample CTE `src` and centroids
    * `c`. */
  private def oAssignSub(a: String, c: String, src: String): String =
    s"""$a AS (SELECT vec_id, sq, cid FROM (
           SELECT $src.vec_id, $src.sq, $c.cid,
             row_number() OVER (PARTITION BY $src.vec_id ORDER BY
               list_sum(list_transform(range(1, ${SUBDIM + 1}),
                 i -> ($src.sq[i] - $c.c[i]) * ($src.sq[i] - $c.c[i]))), $c.cid) AS rk
           FROM $src CROSS JOIN $c) WHERE rk = 1)"""

  /** DuckDB mirror of the (64/M)-dim centroid recompute from `a`. */
  private def oRecomputeSub(c: String, a: String): String =
    s"""$c AS (SELECT cid, list(cv ORDER BY pos) AS c FROM (
           SELECT cid, pos,
             (sv - (((sv % n) + n) % n)) // n AS cv
           FROM (SELECT cid, i AS pos, CAST(SUM(sq[i]) AS BIGINT) AS sv,
                   COUNT(*) AS n
                 FROM $a, unnest(range(1, ${SUBDIM + 1})) AS t(i)
                 GROUP BY cid, i))
         GROUP BY cid)"""

  /** One subspace's full training chain (sample slice → seeds → 2 Lloyd
    * rounds), CTE names suffixed `_m`; `rsamp` is the residual training
    * sample (vec_id, q = residual array, s = stride). */
  private def oSubspace(m: Int): String = {
    val lo = m * SUBDIM + 1
    val hi = (m + 1) * SUBDIM
    s"""s_$m AS (SELECT vec_id, q[$lo:$hi] AS sq, s FROM rsamp),
       c0_$m AS (SELECT CAST(vec_id // s AS INT) AS cid, sq AS c
                 FROM s_$m WHERE vec_id < $KPQ * s),
       ${oAssignSub(s"a1_$m", s"c0_$m", s"s_$m")},
       ${oRecomputeSub(s"c1_$m", s"a1_$m")},
       ${oAssignSub(s"a2_$m", s"c1_$m", s"s_$m")},
       ${oRecomputeSub(s"c2_$m", s"a2_$m")}"""
  }

  private val oTargetTable: String =
    targetMix.map { case (l, t) => s"('$l', CAST($t AS BIGINT))" }
      .mkString("(VALUES ", ", ", ") AS tm(lang, t_e6)")

  /** The full IVF-PQ serving oracle (coarse trainer → residual PQ →
    * ADC → shortlist → exact re-rank), shared by the exhaustive
    * declared form and the probed one: `probes` = Some(p) inserts the
    * pcell CTE (each query's p nearest coarse cells by exact grid
    * ‖q − c‖², ties to the smaller cell — [[pqAdcScores]]' probed
    * restriction) and scores codes in probed cells only. */
  private def oPqServe(probes: Option[Int]): String = {
    val pcell = probes.map(p => s"""
         pcell AS (SELECT qid, gcell FROM (
             SELECT v.vec_id AS qid, c2.cid AS gcell,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(range(1, 65),
                   i -> (v.q[i] - c2.c[i]) * (v.q[i] - c2.c[i]))), c2.cid)
                 AS rk
             FROM v CROSS JOIN c2 WHERE v.vec_id < $QCAP) WHERE rk <= $p),""")
      .getOrElse("")
    val dtabJoin = probes.map(_ =>
      "JOIN pcell p ON p.qid = dtab.qid AND p.gcell = dtab.gcell ")
      .getOrElse("")
    s"""WITH ${Learn.oTrainedCtes},
         res AS (SELECT cand.vec_id, cand.ccell AS gcell,
             list_transform(range(1, 65), i ->
               CAST(round(CAST(cand.ce[i] AS DOUBLE) * 1000000.0) AS BIGINT)
                 - c2.c[i]) AS q
           FROM cand JOIN c2 ON cand.ccell = c2.cid),
         rst AS (SELECT greatest(1, COUNT(*) // ${32 * KPQ}) AS s FROM res),
         rsamp AS (SELECT vec_id, q, rst.s FROM res, rst WHERE vec_id % rst.s = 0),
         ${(0 until M).map(oSubspace).mkString(",\n         ")},
         cb AS (${(0 until M).map(m =>
             s"SELECT $m AS m, cid, c FROM c2_$m").mkString(" UNION ALL ")}),
         sub AS (SELECT res.vec_id, res.gcell, CAST(t.m AS INT) AS m,
             list_transform(range(t.m * $SUBDIM + 1, (t.m + 1) * $SUBDIM + 1),
               i -> q[i]) AS sq
           FROM res, unnest(range(0, $M)) AS t(m)),
         codes AS (SELECT vec_id, gcell, m, cid AS code FROM (
             SELECT sub.vec_id, sub.gcell, sub.m, cb.cid,
               row_number() OVER (PARTITION BY sub.vec_id, sub.m ORDER BY
                 list_sum(list_transform(range(1, ${SUBDIM + 1}),
                   i -> (sub.sq[i] - cb.c[i]) * (sub.sq[i] - cb.c[i]))), cb.cid) AS rk
             FROM sub JOIN cb ON sub.m = cb.m) WHERE rk = 1),
         qres AS (SELECT v.vec_id AS qid, c2.cid AS gcell, CAST(t.m AS INT) AS m,
             list_transform(range(t.m * $SUBDIM + 1, (t.m + 1) * $SUBDIM + 1),
               i -> v.q[i] - c2.c[i]) AS sq
           FROM v, c2, unnest(range(0, $M)) AS t(m) WHERE v.vec_id < $QCAP),$pcell
         dtab AS (SELECT qres.qid, qres.gcell, qres.m, cb.cid AS code,
             list_sum(list_transform(range(1, ${SUBDIM + 1}),
               i -> (qres.sq[i] - cb.c[i]) * (qres.sq[i] - cb.c[i]))) AS d2
           FROM qres JOIN cb ON qres.m = cb.m),
         adc AS (SELECT dtab.qid, codes.vec_id AS cid,
             CAST(SUM(d2) AS BIGINT) AS adc
           FROM codes JOIN dtab ON codes.gcell = dtab.gcell
             AND codes.m = dtab.m AND codes.code = dtab.code
           ${dtabJoin}WHERE dtab.qid <> codes.vec_id
           GROUP BY dtab.qid, codes.vec_id),
         r AS (SELECT qid, cid,
             row_number() OVER (PARTITION BY qid ORDER BY adc, cid) AS rk
           FROM adc),
         short AS (SELECT qid, cid FROM r WHERE rk <= $SHORTLIST),
         rr AS (SELECT s.qid, s.cid,
             CAST(list_sum(list_transform(range(1, 65),
               i -> (vq.q[i] - vc.q[i]) * (vq.q[i] - vc.q[i]))) AS BIGINT)
               AS d2x
           FROM short s JOIN v vq ON vq.vec_id = s.qid
             JOIN v vc ON vc.vec_id = s.cid),
         fin AS (SELECT qid, cid, d2x,
             CAST(row_number() OVER (PARTITION BY qid ORDER BY d2x, cid)
               AS INT) AS rnk
           FROM rr)
         SELECT qid, cid, d2x, rnk FROM fin WHERE rnk <= 3
         ORDER BY qid, rnk"""
  }

  val oracle: Map[String, String] = Map(

    // Residual IVF-PQ mirror: Learn.oTrainedCtes is the SAME coarse
    // trainer chain q_llm_knn_graph_trained's oracle runs (v, samp, 2
    // Lloyd rounds → c2 centroids, cand = every vector's argmin cell) —
    // one definition, the mirrors cannot drift. PQ then trains/encodes
    // the residual grid(ce) − c2.c per vector, and ADC reads the
    // per-(query, coarse cell) subspace distance tables.
    "q_llm_simsearch_pq" -> oPqServe(None),

    // probed twin: the gate scales resolve to 16 cells, where the
    // probesForCells rule pins probes = 5 — the mirror restricts ADC to
    // each query's 5 nearest coarse cells exactly like the Spark plan
    "q_llm_simsearch_pq_probe" -> oPqServe(Some(5)),

    "q_llm_importance_resample" ->
      s"""WITH tot AS (SELECT COUNT(*) AS n FROM documents),
         bl AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
         tm AS (SELECT * FROM $oTargetTable),
         rl AS (SELECT bl.lang, bl.cnt AS n_docs, tm.t_e6,
                  (tm.t_e6 * tot.n) // bl.cnt AS ratio_e6
                FROM bl JOIN tm ON bl.lang = tm.lang, tot),
         mr AS (SELECT MAX(ratio_e6) AS mr FROM rl),
         pl AS (SELECT lang, n_docs, t_e6,
                  (ratio_e6 * 1000000) // mr.mr AS p_e6
                FROM rl, mr),
         kept AS (SELECT d.lang, COUNT(*) AS n_kept
                  FROM documents d JOIN pl ON d.lang = pl.lang
                  WHERE ${oHexFold("md5('ir' || CAST(doc_id AS VARCHAR))", 13)}
                    % 1000000 < pl.p_e6
                  GROUP BY d.lang)
         SELECT pl.lang, pl.n_docs, pl.t_e6, pl.p_e6,
           CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
         FROM pl LEFT JOIN kept ON pl.lang = kept.lang
         ORDER BY pl.lang""",

    "q_llm_temperature_mix" ->
      s"""WITH tot AS (SELECT COUNT(*) AS n FROM documents),
         bl AS (SELECT lang, COUNT(*) AS cnt FROM documents GROUP BY lang),
         mn AS (SELECT MIN(cnt) AS mn FROM bl),
         ss AS (SELECT CAST(SUM(CAST(round(sqrt(CAST(cnt AS DOUBLE)), 9)
             AS DECIMAL(18,9))) AS DOUBLE) AS ssum FROM bl),
         pl AS (SELECT lang, cnt AS n_docs,
             (cnt * 1000000) // n AS share_e6,
             CAST(round(round(sqrt(CAST(cnt AS DOUBLE)), 9) / ssum
               * 1000000) AS BIGINT) AS q_e6,
             CAST(round(sqrt(CAST(mn AS DOUBLE) / CAST(cnt AS DOUBLE))
               * 1000000) AS BIGINT) AS p_e6
           FROM bl, tot, mn, ss),
         kept AS (SELECT d.lang, COUNT(*) AS n_kept
                  FROM documents d JOIN pl ON d.lang = pl.lang
                  WHERE ${oHexFold("md5('tm' || CAST(doc_id AS VARCHAR))", 13)}
                    % 1000000 < pl.p_e6
                  GROUP BY d.lang)
         SELECT pl.lang, pl.n_docs, pl.share_e6, pl.q_e6, pl.p_e6,
           CAST(COALESCE(kept.n_kept, 0) AS BIGINT) AS n_kept
         FROM pl LEFT JOIN kept ON pl.lang = kept.lang
         ORDER BY pl.lang""",

    "q_ts_cusum" ->
      s"""WITH mu AS (SELECT round(${oDavg("value")}, 6) AS mu FROM events),
         w AS (SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS vs
           FROM events),
         f AS (SELECT user_id, event_id,
             list_reduce(
               list_prepend([0.0, 0.0, 0.0],
                 list_transform(vs, x -> [x])),
               (acc, e) -> [greatest(0.0, acc[1] + (e[1] - mu.mu) - $SLACK),
                 greatest(0.0, acc[2] + (mu.mu - e[1]) - $SLACK),
                 acc[3] + CASE WHEN greatest(0.0, acc[1] + (e[1] - mu.mu) - $SLACK) > $THRESH
                     OR greatest(0.0, acc[2] + (mu.mu - e[1]) - $SLACK) > $THRESH
                   THEN 1.0 ELSE 0.0 END]) AS st
           FROM w, mu)
         SELECT user_id, event_id,
           round(st[1], 6) AS cusum_hi, round(st[2], 6) AS cusum_lo,
           CAST(st[3] AS BIGINT) AS crossings
         FROM f ORDER BY event_id""",

    "q_llm_tokenizer_fertility" ->
      """WITH t AS (SELECT lang,
             CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
             CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT) AS sw,
             CAST(length(replace(text, ' ', '')) AS BIGINT) AS ch
           FROM documents)
         SELECT lang, COUNT(*) AS n_docs,
           CAST(SUM(ws) AS BIGINT) AS ws_tokens,
           CAST(SUM(sw) AS BIGINT) AS subword_tokens,
           CAST((SUM(sw) * 1000000) // SUM(ws) AS BIGINT) AS fertility_e6,
           CAST((SUM(ch) * 1000000) // SUM(ws) AS BIGINT) AS token_chars_e6
         FROM t GROUP BY lang ORDER BY lang"""
  )
}
