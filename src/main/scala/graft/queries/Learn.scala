package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Round-3 batch 5 (SURVEY §2.20): model-adjacent pipeline steps —
  * distributed k-means clustering and BPE pair counting.
  *
  * Scale notes: k-means is the canonical broadcast-model iteration — the
  * k×64 centroid table broadcasts (KBs), assignment is a map over the
  * vectors (no vector ever shuffles for scoring), and the centroid
  * recompute is ONE partial-aggregated shuffle of (cluster, pos) partial
  * sums per iteration. Everything runs on the 1e-6 integer grid: float
  * centroid averages would drift with partition merge order, BIGINT sums
  * cannot. Component sums stay exact while n·2.5e6 < 2^63 (n ≈ 4e12
  * vectors per cluster); the floor division is made exact by subtracting
  * the positive remainder first, so truncating (Spark `div`) and flooring
  * (DuckDB `//`) engines agree on negative sums. BPE pair counting is the
  * selection step of tokenizer training: distinct-word frequencies (one
  * shuffle over words — the corpus compresses to its vocabulary before
  * any character work), then char-bigram explode weighted by frequency
  * (one shuffle over pairs), global top via per-partition heaps. */
object Learn {

  private val K = 8
  private val ITERS = 2

  /** exact BIGINT floor division (numerator adjusted to divisibility). */
  private def fdiv(s: String, n: String): String =
    s"($s - ((($s % $n) + $n) % $n)) div $n"

  /** squared L2 distance between two BIGINT grid vectors — the codegen'd
    * native expression (graft.functions.L2SquaredLong); the equivalent
    * HOF `aggregate(zip_with(...))` is a codegen barrier in the n·k-hot
    * scoring loop. Integer arithmetic ⇒ bit-identical either way. */
  private val d2: Column = expr("graft_l2sq(q, c)")

  private def assign(vecs: DataFrame, cent: DataFrame): DataFrame =
    // argmin as a MIN(struct(d2, cid)) aggregate, NOT a rank window: the
    // aggregate partial-combines map-side (each input partition collapses
    // its |partition|·k scored rows to |partition| before any exchange),
    // while the window form SORTS the full |vecs|·k scored frame — with
    // the 64-long grid array on every row, that sort was the measured
    // bulk of the ×100/2048-cell training pass (the scored frame is
    // 134M rows there). Same result bit-for-bit: lexicographic struct
    // min ≡ rank 1 under orderBy(d2, cid). first(q) is deterministic —
    // q is functionally dependent on the group key.
    vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("q"), col("cid"), d2.as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).getField("cid").as("cid"),
        first(col("q")).as("q"))
      .select(col("vec_id"), col("q"), col("cid"))

  /** The two frames every trained-quantizer consumer joins: the probe
    * list (one row per (vector, probed cell), ranks 1..`probes` of the
    * cells×N scoring pass — a keyed window) and the cell assignment (one
    * row per vector with its argmin cell — a partial-agg groupBy; min
    * over struct(d2, cid) ≡ the window's rank 1 with the same
    * tie-break). Both read the memoized centroid cache after its single
    * materialization. Shared by q_llm_knn_graph_trained,
    * q_llm_hard_negatives, and q_llm_mmr_rerank's candidate pull — the
    * candidate stage is ALWAYS the bucketed probe⋈assignment equi-join,
    * never a full-table scan.
    *
    * The trained centroid frame (KB-sized, fully deterministic) is
    * memoized per (session, sfDir, cells) and lazily persist()ed: every
    * consumer references the SAME DataFrame instance, so the
    * DAGScheduler shares its stages and the cache manager's per-block
    * locks guarantee the sample-bounded Lloyd lineage materializes once
    * per JVM. persist() is lazy, so plan-only consumers (PlanSpec,
    * Explain) remain execution-free — unlike an eager checkpoint
    * (trains at plan-build) or a lazy localCheckpoint (two racing
    * broadcast builds each ran the full lineage — the measured r4/r5
    * lesson). This is the in-plan analogue of a production pipeline
    * training the frozen quantizer once and broadcasting the model. */
  private[graft] def trainedProbeFrames(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int, probes: Int): (DataFrame, DataFrame) =
    // the probe/assignment frames themselves are memoized + lazily
    // persisted one level ABOVE the centroid memo: FOUR consumers
    // (knn_graph_trained, hard_negatives, mmr_rerank's pull,
    // label_noise) each used to re-run the cells×N scoring, the
    // per-vector rank window, and the assignment aggregate (~9 MB of
    // identical shuffle each in the r7 bench). Node-frame-sized
    // caches; persist() stays lazy so plan-only consumers remain
    // execution-free.
    graft.Memo(s, s"probeframes:$d:$cells:$probes") {
      val (qs, cand) = buildProbeFrames(s, d, cells, probes)
      (qs.persist(), cand.persist())
    }

  /** The (vec_id, embedding, label, 1e-6-grid q) view every quantizer
    * pass scores — one definition for the flat and two-level paths. */
  private def probeVecs(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables(s, d, "embeddings")
      .select(col("vec_id"), col("embedding"), col("label"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("q"))
  }

  /** The memoized sampled-Lloyd centroid frame (cid, c) — trained once
    * per (session, sfDir, cells) on a ~32·cells stride sample, shared by
    * the flat AND two-level scoring passes (the hierarchy reorganizes
    * assignment, it never retrains the cells). */
  private def trainedCent(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int, vecs: DataFrame): DataFrame =
    // integer `div` (not double-divide-then-cast) so the DuckDB twin's
    // `//` agrees exactly at any N
    graft.Memo(s, s"quantizer:$d:$cells") {
      val sampleStep = vecs.agg(
        expr(s"greatest(CAST(1 AS BIGINT), count(1) div ${32L * cells})").as("st"))
      val sample = vecs.crossJoin(broadcast(sampleStep))
        .where(col("vec_id") % col("st") === 0)
        .select(col("vec_id"), col("q"), col("st"))
      // seeds: the `cells` lowest sample members, indexed ARITHMETICALLY
      // (cid = vec_id div stride — the stride construction makes the rank
      // a closed form, so no window at all, global or otherwise; vec_ids
      // are dense from 0, which LearnSpec guards)
      var c0 = sample.where(col("vec_id") < lit(cells.toLong) * col("st"))
        .select(expr("CAST(vec_id div st AS INT)").as("cid"), col("q").as("c"))
      for (_ <- 1 to ITERS) {
        c0 = assign(sample, c0)
          .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
          .groupBy("cid", "pos")
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
          .withColumn("cv", expr(fdiv("sv", "n")))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("c"))
      }
      c0.persist()
    }

  /** The shared tail of every scoring pass: scored (vec_id, embedding,
    * label, cid, d2) → the probe list (ranks 1..probes) and the argmin
    * cell assignment. */
  private def probeFramesFrom(scored: DataFrame,
      probes: Int): (DataFrame, DataFrame) = {
    val qs = scored
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))))
      .where(col("rk") <= probes)
      .select(col("vec_id").as("qid"), col("embedding").as("qe"),
        col("label").as("qlabel"), col("cid").as("probe"))
    val cand = scored.groupBy(col("vec_id"))
      .agg(min(struct(col("d2"), col("cid"))).getField("cid").as("ccell"),
        first(col("embedding")).as("ce"), first(col("label")).as("clabel"))
      .select(col("vec_id").as("cid2"), col("ce"), col("clabel"), col("ccell"))
    (qs, cand)
  }

  /** The memoized flat trained centroid frame (cid, c) — exposed for
    * the residual-PQ encoder (q_llm_simsearch_pq quantizes
    * x − centroid(x) against exactly these coarse cells, the IVF-PQ
    * composition; same memo key as every other consumer, so the
    * quantizer still trains once per (session, sfDir, cells)). */
  private[graft] def trainedCentFrame(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int): DataFrame =
    trainedCent(s, d, cells, probeVecs(s, d))

  /** The DECLARED trained-quantizer geometry (round 13 — the r12
    * verdict's "make the declared plans the ones BASELINE.md proves"):
    * cells derive from corpus size via [[Refine.cellsFor]] (cells ∝ N —
    * the growth rule that holds per-cell population, hence candidate
    * volume, constant; a FIXED cell count makes every all-queries IVF
    * consumer N·probes·(N/cells) ∝ N², measured as 28.4 s at ×10 vs
    * 3.74 s under the rule), and past [[FLAT_MAX_CELLS]] the build
    * dispatches to the TWO-LEVEL trainer at the named serving geometry
    * w=8 / probes=10 (BASELINE "round 9 serving grid": recall 0.202 vs
    * flat's 0.199 at ×100/2048c for the kNN graph — equal — at 4.6×
    * less end-to-end cold cost; the flat 32·cells² training +
    * N·cells assignment are both ∝ N² under cells ∝ N, the two terms
    * the hierarchy cuts to 32·cells^1.5 and N·(1+w)·√cells). Below the
    * threshold flat IS the right plan — at ≤64 cells the quadratic
    * terms are trivial (32·64² distance pairs), the 5-probe budget
    * already covers ≥5/16 of the space, and the measured crossover sits
    * at ×10's 128 cells (flat 41.8 s vs 2L 30.4 s cold) — so every gate
    * scale (≤2k vectors → 16 cells) keeps the bit-exact flat form the
    * DuckDB mirrors pin, and the SAME declared entry serves the 2L plan
    * at production cell counts. */
  private[graft] val FLAT_MAX_CELLS = 64
  private[graft] val W2L = 8
  private[graft] val PROBES2L = 10

  /** The declared probe/assignment frames: flat (cells, 5 probes) at
    * gate-scale cell counts, two-level (w=8, probes=10) above — ONE
    * dispatch shared by q_llm_knn_graph_trained, q_llm_hard_negatives,
    * and (via Assay.nnTop3Auto) q_llm_label_noise / q_dq_cohens_kappa,
    * so the four entries cannot drift geometries. */
  private[graft] def probeFramesAuto(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val cells = Refine.cellsFor(s, d)
    if (cells <= FLAT_MAX_CELLS) trainedProbeFrames(s, d, cells, 5)
    else trainedProbeFrames2L(s, d, cells, PROBES2L, W2L)
  }

  /** The coarse model the residual-PQ family encodes against, under the
    * SAME dispatch as [[probeFramesAuto]]: (assignment frame `cand`,
    * centroid frame (gcell, gc)). Flat ≤ [[FLAT_MAX_CELLS]] (the
    * bit-exact gate form), two-level above — the r12 verdict's flat
    * 32·cells² BUILD is what this swaps out at production cell counts
    * (measured on the PQ family's shared build: the ×100/2048c cold
    * trainer decomposition at BASELINE "q_llm_label_noise scaling"). */
  private[graft] def coarseModelAuto(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int, w2l: Int = W2L): (DataFrame, DataFrame) =
    if (cells <= FLAT_MAX_CELLS) {
      val (_, cand) = trainedProbeFrames(s, d, cells, 5)
      (cand, trainedCentFrame(s, d, cells)
        .select(col("cid").as("gcell"), col("c").as("gc")))
    } else {
      val (_, cand) = trainedProbeFrames2L(s, d, cells, PROBES2L, w2l)
      (cand, twoLevelModel(s, d, cells)._2
        .select(col("ccid").as("gcell"), col("c").as("gc")))
    }

  private def buildProbeFrames(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int, probes: Int): (DataFrame, DataFrame) = {
    val vecs = probeVecs(s, d)
    val cent = trainedCent(s, d, cells, vecs)
    val scored = vecs.crossJoin(broadcast(cent))
      .select(col("vec_id"), col("embedding"), col("label"), col("cid"),
        d2.as("d2"))
    probeFramesFrom(scored, probes)
  }

  /** HIERARCHICAL (two-level) centroid assignment — the engineered fix
    * for the measured cells×N law (BASELINE "q_llm_label_noise
    * scaling"): when cells grows ∝ N (the quantizer-growth rule that
    * keeps per-cell population constant), the flat pass's N·cells
    * distance computations go quadratic — ×100/2048 cells measured
    * 88.6 s, nearly all of it centroid assignment.
    *
    * Standard two-level IVF recipe: cluster the `cells` TRAINED
    * centroids into ⌈√cells⌉ super-centroids (a Lloyd over cells rows —
    * KB-scale, independent of N), remember each centroid's super-cell,
    * then score every vector in two stages: N·√cells against the
    * super-centroids (keep the top-`w` super-cells per vector), then
    * only against those super-cells' member centroids —
    * N·(√cells + w·cells/√cells) ≈ N·(1+w)·√cells distance computations
    * instead of N·cells (2048 cells, w=2: ~136 vs 2048 per vector, 15×
    * fewer). Both stages are broadcast maps over the vectors — no
    * vector ever shuffles for scoring, exactly like the flat pass.
    *
    * With w = #super-cells the probed set is ALL centroids and the
    * result is bit-identical to the flat pass (the hierarchy is then
    * just a partition of the centroid table) — LearnSpec pins that
    * identity; the scale probes run w=2 and the recall harness prices
    * what the skipped super-cells cost. The same grid arithmetic and
    * (d2, id) tie-breaks keep both levels deterministic. */
  /** (super-centroids, sub-centroids-with-super-cell) — the two-level
    * model frames, memoized per (session, sfDir, cells).
    *
    * The model is trained HIERARCHICALLY, not carved out of a flat
    * codebook: the flat sampled Lloyd costs 32·cells² pair distances
    * (sample = 32·cells rows, each scored against all `cells`
    * centroids) — QUADRATIC in cells, and under the quantizer-growth
    * rule (cells ∝ N) that made TRAINING the dominant ×100 cost
    * (measured 413 s of the 493 s cold at ×100/2048; serving was
    * already two-level and cost seconds). Hierarchical training is the
    * standard IVF-tree recipe:
    *   1. Lloyd √cells super-centroids on a 32·√cells sub-sample
    *      (32·cells pairs — trivial);
    *   2. tag the full 32·cells training sample with its super-cell
    *      (one 32·cells·√cells pass);
    *   3. Lloyd √cells sub-centroids WITHIN each super-cell — all
    *      super-cells in one data-parallel pass per iteration (an
    *      equi-join on the super-cell id: 32·cells·√cells pairs).
    * Total 32·cells^1.5 instead of 32·cells², and the codebook comes
    * out ALREADY organized as a tree (global cid = sid·sub + local),
    * so the centroid→super map costs nothing. Cell count is
    * √cells·⌈cells/√cells⌉ ≈ cells (2048 → 45·46 = 2070).
    *
    * EAGER materialization of both frames — measured, not stylistic:
    * they appear as SIBLING broadcast subtrees in every two-level
    * scoring plan, and with lazy persist those broadcast builds race
    * and each re-executes the whole training chain (the r4/r5
    * racing-broadcast lesson; measured as 352 s for an 18M-row count
    * that takes ~2 s once the model is frozen). Eager is safe on this
    * path even now that the DECLARED entries dispatch here past
    * [[FLAT_MAX_CELLS]] (round 13): every plan-only consumer (PlanSpec,
    * Explain, PlanLock) runs at gate scales, where cellsFor resolves to
    * 16 and the dispatch stays on the lazy flat path — the eager train
    * only ever fires where the query will execute anyway — and the
    * frames are KB-scale, so this is literally "train the model once,
    * then serve it", the production shape. */
  private[graft] def twoLevelModel(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int): (DataFrame, DataFrame) = {
    val vecs = probeVecs(s, d)
    val scells = math.max(2, math.round(math.sqrt(cells.toDouble)).toInt)
    val sub = (cells + scells - 1) / scells
    graft.Memo(s, s"quantizer2l:$d:$cells") {
      // the full training sample (32·cells rows, arithmetic stride)
      val sampleStep = vecs.agg(
        expr(s"greatest(CAST(1 AS BIGINT), count(1) div ${32L * cells})").as("st"))
      val sample = vecs.crossJoin(broadcast(sampleStep))
        .where(col("vec_id") % col("st") === 0)
        .select(col("vec_id"), col("q"), col("st"))
      // 1. super codebook on a 32·√cells sub-sample (stride widened by
      //    `sub`; seeds indexed arithmetically like the flat trainer)
      val sample2 = sample.where(col("vec_id") % (col("st") * sub) === 0)
        .select(col("vec_id"), col("q"), (col("st") * sub).as("st"))
      var sup = sample2
        .where(col("vec_id") < lit(scells.toLong) * col("st"))
        .select(expr("CAST(vec_id div st AS INT)").as("cid"), col("q").as("c"))
      for (_ <- 1 to ITERS) {
        sup = assign(sample2, sup)
          .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
          .groupBy("cid", "pos")
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
          .withColumn("cv", expr(fdiv("sv", "n")))
          .groupBy("cid")
          .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("c"))
      }
      val supM = sup.persist(); supM.count()
      // 2. tag the full sample with its super-cell
      val tagged = assign(sample, supM)
        .select(col("vec_id"), col("q"), col("cid").as("sid"))
      // 3. per-super-cell sub-Lloyd, all cells in one pass per round:
      //    seeds = each super-cell's `sub` lowest sample ids (a rank
      //    window over the BOUNDED 32·cells-row sample, one-time)
      var cw = tagged
        .withColumn("rk", row_number().over(
          Window.partitionBy("sid").orderBy(col("vec_id"))))
        .where(col("rk") <= sub)
        .select(col("sid"), (col("rk") - 1).as("lcid"), col("q").as("c"))
      for (_ <- 1 to ITERS) {
        cw = assignBy(tagged, cw)
          .select(col("sid"), col("lcid"), posexplode(col("q")).as(Seq("pos", "v")))
          .groupBy("sid", "lcid", "pos")
          .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
          .withColumn("cv", expr(fdiv("sv", "n")))
          .groupBy("sid", "lcid")
          .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("c"))
      }
      // global cid = sid·sub + local — the tree IS the centroid→super map
      val cs = cw.select((col("sid") * sub + col("lcid")).cast("int").as("ccid"),
        col("c"), col("sid"))
      val csm = cs.persist(); csm.count()
      (supM, csm)
    }
  }

  /** [[assign]] with an extra equi-key: vecs (vec_id, q, sid) score only
    * the cents (sid, lcid, c) of THEIR sid — the data-parallel
    * per-super-cell Lloyd step (a broadcast hash join, never a cross). */
  private def assignBy(vecs: DataFrame, cents: DataFrame): DataFrame =
    vecs.join(broadcast(cents), "sid")
      .select(col("vec_id"), col("q"), col("sid"), col("lcid"),
        d2.as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("sid"), col("lcid"))).as("m"),
        first(col("q")).as("q"))
      .select(col("vec_id"), col("q"), col("m.sid").as("sid"),
        col("m.lcid").as("lcid"))

  private[graft] def twoLevelScored(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int, w: Int): DataFrame = {
    val vecs = probeVecs(s, d)
    val (sup, centS) = twoLevelModel(s, d, cells)
    // stage 1: N·√cells — each vector's top-w super-cells
    val vSup = vecs.crossJoin(broadcast(sup.select(col("cid").as("sid"),
        col("c"))))
      .select(col("vec_id"), col("embedding"), col("label"), col("q"),
        col("sid"), d2.as("sd2"))
      .withColumn("srk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("sd2"), col("sid"))))
      .where(col("srk") <= w)
      .select(col("vec_id"), col("embedding"), col("label"), col("q"),
        col("sid"))
    // stage 2: only the probed super-cells' member centroids
    vSup.join(broadcast(centS), "sid")
      .select(col("vec_id"), col("embedding"), col("label"),
        col("ccid").as("cid"), expr("graft_l2sq(q, c)").as("d2"))
  }

  /** Two-level probe/assignment frames — memoized like
    * [[trainedProbeFrames]]. Since round 13 this is the DECLARED build
    * past [[FLAT_MAX_CELLS]] (via [[probeFramesAuto]] /
    * [[coarseModelAuto]]); the explicit-geometry form stays for the A/B
    * probes (`x_label_noise_*_2l`, `x_knn_2l_*`, the recall harness). */
  private[graft] def trainedProbeFrames2L(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int, probes: Int, w: Int): (DataFrame, DataFrame) =
    graft.Memo(s, s"probeframes2l:$d:$cells:$probes:$w") {
      val (qs, cand) = probeFramesFrom(twoLevelScored(s, d, cells, w), probes)
      (qs.persist(), cand.persist())
    }

  /** Doc-to-doc kNN graph over a TRAINED coarse quantizer — the
    * documented scale path where the sign-bit IVF's recall decays
    * (BASELINE "ANN recall"): `cells` k-means centroids trained by 2
    * Lloyd rounds on a ~32·cells deterministic stride sample of the 1e-6
    * grid vectors (training on a sample is the standard IVF recipe —
    * cost cells·|sample|, independent of N), then ONE cells×N scoring
    * pass ranks every vector's nearest centroids: rank 1 is its cell
    * assignment, ranks 1..probes are its probe list — so probe selection
    * costs nothing beyond the assignment pass every IVF build already
    * pays. Candidates then come from a bucketed equi-join exactly like
    * the sign-bit variant: same join shape, same budget knob, but cells
    * that track the data distribution instead of fixed hyperplanes.
    * Per-query work: `probes` cells × (N/cells avg population) — linear
    * in N at cells ∝ N with a FIXED budget, the same cost law whose
    * recall the sign-bit quantizer could not hold (measured side by side
    * in BASELINE's recall table). */
  private[graft] def knnGraphTrained(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int, probes: Int = 5,
      negatives: Boolean = false): DataFrame = {
    val (qs, cand) = trainedProbeFrames(s, d, cells, probes)
    knnFromFrames(qs, cand, negatives)
  }

  /** The DECLARED kNN-graph form (round 13): the [[probeFramesAuto]]
    * dispatch — cells ∝ N, flat at gate scales (bit-identical to the
    * previous fixed-16 declaration there, so the DuckDB mirror is
    * unchanged), two-level w=8/p10 at production cell counts. */
  private[graft] def knnGraphTrainedAuto(s: org.apache.spark.sql.SparkSession,
      d: String, negatives: Boolean): DataFrame = {
    val (qs, cand) = probeFramesAuto(s, d)
    knnFromFrames(qs, cand, negatives)
  }

  /** kNN graph over the TWO-LEVEL quantizer — same bucketed equi-join
    * as [[knnGraphTrained]], candidates drawn through the hierarchical
    * assignment; the recall harness prices it against the flat pass. */
  private[graft] def knnGraphTrained2L(s: org.apache.spark.sql.SparkSession,
      d: String, cells: Int, wSup: Int, probes: Int = 5): DataFrame = {
    val (qs, cand) = trainedProbeFrames2L(s, d, cells, probes, wSup)
    knnFromFrames(qs, cand, negatives = false)
  }

  private def knnFromFrames(qs: DataFrame, cand: DataFrame,
      negatives: Boolean): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("cid"))
    // negatives mode adds ONE map-side predicate to the same bucketed
    // equi-join: candidates must carry a DIFFERENT class label than the
    // query (hard-negative mining — the nearest wrong-class neighbors are
    // the contrastive pairs a retrieval trainer wants). Same probe
    // budget, same cost law; the filter only thins the candidate stream.
    val scoredJoin = qs.join(cand.hint("shuffle_hash"),
        col("probe") === col("ccell") && col("qid") =!= col("cid2") &&
          (if (negatives) col("qlabel") =!= col("clabel") else lit(true)))
      .select(col("qid"), col("cid2").as("cid"), col("qlabel"),
        col("clabel"), expr("round(graft_dot(qe, ce), 6)").as("dot"))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= 3)
    if (negatives)
      scoredJoin.select(col("qid"), col("cid"), col("qlabel"),
        col("clabel").as("neg_label"), col("dot"), col("rnk"))
        .orderBy("qid", "rnk")
    else
      scoredJoin.select(col("qid"), col("cid"), col("dot"), col("rnk"))
        .orderBy("qid", "rnk")
  }

  /** The 1e-6-grid vector view the k-means family scores on. */
  private def kmeansVecs(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    graft.functions.GraftFunctions.register(s)
    Tables(s, d, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("q"))
  }

  /** The converged (ITERS-round) centroid frame — one definition for the
    * declared report, the silhouette score, and the cluster-labeling
    * assignment (a divergent loop would silently decouple the labels
    * from the declared clustering). */
  private def kmeansCent(vecs: DataFrame): DataFrame = {
    var cent = vecs.where(col("vec_id") < K)
      .select(col("vec_id").cast("int").as("cid"), col("q").as("c"))
    for (_ <- 1 to ITERS) {
      cent = assign(vecs, cent)
        .select(col("cid"), posexplode(col("q")).as(Seq("pos", "v")))
        .groupBy("cid", "pos")
        .agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .withColumn("cv", expr(fdiv("sv", "n")))
        .groupBy("cid")
        .agg(expr("transform(array_sort(collect_list(struct(pos, cv))), s -> s.cv)").as("c"))
    }
    cent
  }

  /** (vec_id, cid): every vector's converged cluster assignment —
    * q_llm_cluster_terms' join side. */
  private[graft] def kmeansAssignments(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val vecs = kmeansVecs(s, d)
    assign(vecs, kmeansCent(vecs)).select("vec_id", "cid")
  }

  /** (grid vectors, converged centroids) — the raw frames
    * q_llm_cluster_silhouette scores on. Same single Lloyd lineage as
    * the declared clustering (kmeansCent), so the quality score provably
    * describes the clustering it claims to measure. */
  private[graft] def kmeansVecCent(s: org.apache.spark.sql.SparkSession,
      d: String): (DataFrame, DataFrame) = {
    val vecs = kmeansVecs(s, d)
    (vecs, kmeansCent(vecs))
  }

  /** Distributed Lloyd k-means (k=8, 2 iterations, deterministic seeds =
    * the first k vectors) over the 64-dim embeddings, entirely in 1e-6
    * fixed point. Per iteration: broadcast centroids → argmin assignment
    * (ties to the lower cluster id) → component-wise partial-sum
    * recompute. Output: one row per cluster with population, smallest
    * member id, and the centroid's exact L1 norm.
    *
    * The L1 norm is computed INSIDE the final centroid projection and
    * rides the scoring broadcast, so the centroid table has exactly ONE
    * consumer — no materialization needed, nothing executes at
    * plan-build time, and the lineage runs once. The two-consumer
    * checkpointed forms this replaced measured up to 2× slower
    * (BASELINE.md, "BENCH total" row). */
  private def kmeans(s: org.apache.spark.sql.SparkSession,
      d: String): DataFrame = {
    val (vecs, cent) = kmeansVecCent(s, d)
    // one broadcast carries both the scoring vector and its L1 (the L1
    // is evaluated once per centroid in the broadcast relation build,
    // not per (vec, cid) pair); first() is deterministic — every row
    // of a cid group carries the same broadcast value
    val centL1 = cent.select(col("cid"), col("c"),
      expr("aggregate(c, 0L, (acc, v) -> acc + abs(v))").as("centroid_l1"))
    vecs.crossJoin(broadcast(centL1))
      .select(col("vec_id"), col("cid"), col("centroid_l1"), d2.as("d2"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("vec_id").orderBy(col("d2"), col("cid"))))
      .where(col("rk") === 1)
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"),
        first(col("centroid_l1")).as("centroid_l1"))
      .orderBy("cid")
  }

  /** q_llm_entropy's body over a (doc_id, term) frame. The declared
    * query feeds it an inline explode, which beat a corpus-wide
    * memoized token frame (BASELINE.md "shared token frame"). */
  private[graft] def entropyFrom(tok: DataFrame): DataFrame =
    tok.groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
      .groupBy("doc_id")
      .agg(sum(col("c")).as("n_tok"),
        count(lit(1)).as("n_types"),
        // DECIMAL(28,9), not (18,9): c·log2(c) for a term repeated
        // ~3.5e7 times would overflow the (18,9) integral range — Spark
        // (non-ANSI) would NULL-and-skip while DuckDB errors, an
        // asymmetric failure; (28,9) holds to c ≈ 2e17
        sum(expr("CAST(round(c * log2(c), 9) AS DECIMAL(28,9))")).as("sclog"))
      .select(col("doc_id"), col("n_tok"), col("n_types"),
        round(expr("CAST(round(log2(n_tok), 9) AS DECIMAL(18,9))").cast("double")
          - col("sclog").cast("double") / col("n_tok"), 6).as("entropy"))
      .orderBy("doc_id")

  val queries: Map[String, Q] = Map(

    "q_llm_cluster_kmeans" -> kmeans _,

    // Doc-to-doc kNN graph over a TRAINED coarse quantizer — since
    // round 13 the declared entry IS the scale-dispatching form
    // ([[knnGraphTrainedAuto]]): cells derive from corpus size
    // (Refine.cellsFor — 16 at every gate scale, where the plan is
    // bit-identical to the previous fixed-16 declaration and the DuckDB
    // mirror below stays exact; 128/2048 at ×10/×100), and past 64
    // cells the build runs the two-level trainer at the named
    // w=8/probes=10 geometry (equal recall to flat — 0.202 vs 0.199 at
    // ×100 — at 4.6× less cold cost; the r12-verdict fix). At the same
    // 5-probe budget on the fixture, trained cells beat the sign-bit
    // quantizer's recall 0.65 vs 0.49. Fully DuckDB-oracled at the gate
    // geometry: integer-grid training is bit-identical cross-engine,
    // the dot is the established rounded-float mirror.
    "q_llm_knn_graph_trained" -> ((s, d) =>
      knnGraphTrainedAuto(s, d, negatives = false)),

    // Hard-negative mining for contrastive retrieval training: for each
    // embedding, the top-3 most-similar vectors whose class label
    // DIFFERS — the same trained-quantizer ANN machinery (and the same
    // round-13 cells ∝ N / two-level dispatch) as
    // q_llm_knn_graph_trained with one extra label predicate on the
    // bucketed candidate join (near-but-wrong neighbors are exactly what
    // a bi-encoder trainer pairs against each anchor).
    "q_llm_hard_negatives" -> ((s, d) =>
      knnGraphTrainedAuto(s, d, negatives = true)),

    // BPE pair counting — the selection step of byte-pair-encoding
    // tokenizer training: corpus → vocabulary with frequencies (the
    // corpus compresses to distinct words BEFORE any character work, the
    // classic optimization) → adjacent character-pair counts weighted by
    // word frequency → top 30 merge candidates. A real trainer loops
    // merge→recount; one round is the declared operator, the loop is the
    // pagerank-style driver iteration.
    "q_llm_bpe_pairs" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(explode(split(col("text"), " ")).as("word"))
        .groupBy("word").agg(count(lit(1)).as("freq"))
        .select(col("freq"), explode(expr(
          """CASE WHEN length(word) < 2 THEN array()
             ELSE transform(sequence(1, length(word) - 1), i -> substring(word, i, 2))
             END""")).as("pair"))
        .groupBy("pair").agg(sum(col("freq")).as("cnt"))
        // top-30 via orderBy+limit (TakeOrderedAndProject: per-partition
        // heaps, no global sort). The rank over the surviving 30 rows is
        // WINDOWLESS — a broadcast triangle join counting predecessors
        // (the prefixOffsets construction): rank(p) = #rows sorting at
        // or before p. A bare row_number() window here was the one
        // remaining WindowExec move-all-data warning in the bench/verify
        // stderr; for ROW_NUMBER windows the optimizer strips any
        // constant partition key — foldable or not (tested: llm_mix's
        // length()*0 trick survives only on AGGREGATE windows) — so no
        // spec trick silences it, and 30² comparisons are free.
        .orderBy(col("cnt").desc, col("pair")).limit(30)
        .localCheckpoint(false)
        .transform { top =>
          top.join(broadcast(top.select(col("cnt").as("c2"), col("pair").as("p2"))),
              col("c2") > col("cnt") ||
                (col("c2") === col("cnt") && col("p2") <= col("pair")))
            .groupBy("pair", "cnt").agg(count(lit(1)).cast("int").as("rank"))
        }
        .select(col("rank"), col("pair"), col("cnt"))
        .orderBy("rank")),

    // EWMA (α = 1/2) per user: fold acc/2 + v/2 over the ordered trailing
    // window. α = 1/2 makes every step EXACT IEEE (divide-by-two is an
    // exponent decrement, the add is exactly rounded, same order both
    // engines ⇒ bit-identical, no decimal grid needed). The fold runs
    // over the trailing 50 events — terms older than 50 steps weigh
    // < 2^-50 (≈1e-15 relative) and a real pipeline truncates exactly
    // like this to keep the per-row state CONSTANT; the collected frame
    // is 50 rows per output row, so the window is linear, not quadratic.
    "q_ts_ewma" -> ((s, d) => {
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(-49, Window.currentRow)
      Tables(s, d, "events")
        .withColumn("vs", collect_list(col("value")).over(w))
        .select(col("user_id"), col("event_id"),
          expr("aggregate(vs, 0.0D, (acc, v) -> acc / 2 + v / 2)").as("ewma"))
        .orderBy("event_id")
    }),

    // Per-doc token Shannon entropy — the token-diversity quality signal
    // (low entropy = repetitive/boilerplate, the Gopher-style cut).
    // H = log2(n) − (Σ c·log2 c)/n over the doc's own term counts; each
    // log2 term is rounded to the 1e-9 grid BEFORE the exact decimal sum
    // (libm ulps differ across engines — the ppl_proxy discipline), and
    // the final arithmetic is same-order IEEE. Two partial-agg shuffles
    // on (doc, term) then doc — linear, no broadcast needed.
    "q_llm_entropy" -> ((s, d) =>
      entropyFrom(Tables(s, d, "documents")
        .select(col("doc_id"), explode(textTokens).as("term")))),

    // Neighbor-overlap similarity (link prediction / collaborative
    // filtering): supplier pairs scored by Jaccard over their shared
    // customer sets. Pair generation is the co-occurrence self-join on
    // the customer key, capped to a supplier segment — the bounded
    // neighbor-list discipline: uncapped, Σ fan² pairs is the classic
    // co-occurrence blowup (12.5M at sf0.1), and a real pipeline bounds
    // per-node lists before pairing. Degrees ride back as broadcast
    // dims; the Jaccard is ONE correctly-rounded IEEE division of exact
    // integer operands — bit-identical cross-engine, but NOT an exact
    // rational (never sum these; rank/compare only).
    "q_graph_jaccard_neighbors" -> ((s, d) => {
      val e = Tables(s, d, "orders")
        .join(Tables(s, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
        .where(col("l_suppkey") < 100)
        .select(col("o_custkey").as("c"), col("l_suppkey").as("sp")).distinct()
      val deg = e.groupBy("sp").agg(count(lit(1)).as("deg"))
      val pairs = e.as("x").join(e.as("y"),
          col("x.c") === col("y.c") && col("x.sp") < col("y.sp"))
        .groupBy(col("x.sp").as("a"), col("y.sp").as("b"))
        .agg(count(lit(1)).as("shared"))
      pairs
        .join(broadcast(deg.select(col("sp").as("a"), col("deg").as("da"))), "a")
        .join(broadcast(deg.select(col("sp").as("b"), col("deg").as("db"))), "b")
        .select(col("a"), col("b"), col("shared"),
          (col("shared").cast("double") / (col("da") + col("db") - col("shared")))
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("a"), col("b"))
        .limit(20)
    }),

    // Running distinct count per user (how many distinct event types has
    // this user produced so far) — NOT via a per-row collect_set (which
    // carries a set per row): mark each (user, type)'s FIRST occurrence
    // with row_number, then running-sum the 0/1 markers. Two windows over
    // the same user shuffle, constant state per row, linear at any scale.
    "q_win_distinct_running" -> ((s, d) => {
      val wFirst = Window.partitionBy("user_id", "event_type").orderBy("event_id")
      val wRun = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      Tables(s, d, "events")
        .withColumn("is_new",
          when(row_number().over(wFirst) === 1, 1L).otherwise(0L))
        .select(col("user_id"), col("event_id"),
          sum(col("is_new")).over(wRun).as("n_types"))
        .orderBy("event_id")
    })
  )

  /** DuckDB mirror of one assignment round against centroid CTE `cN`,
    * producing `aM(vec_id, q, cid)`. */
  private def oAssign(a: String, c: String, src: String = "v"): String =
    s"""$a AS (SELECT vec_id, q, cid FROM (
           SELECT $src.vec_id, $src.q, $c.cid,
             row_number() OVER (PARTITION BY $src.vec_id ORDER BY
               list_sum(list_transform(range(1, 65),
                 i -> ($src.q[i] - $c.c[i]) * ($src.q[i] - $c.c[i]))), $c.cid) AS rk
           FROM $src CROSS JOIN $c) WHERE rk = 1)"""

  /** DuckDB mirror of the centroid recompute from assignment `a` → `c`. */
  private def oRecompute(c: String, a: String): String =
    s"""$c AS (SELECT cid, list(cv ORDER BY pos) AS c FROM (
           SELECT cid, pos,
             (sv - (((sv % n) + n) % n)) // n AS cv
           FROM (SELECT cid, i AS pos, CAST(SUM(q[i]) AS BIGINT) AS sv,
                   COUNT(*) AS n
                 FROM $a, unnest(range(1, 65)) AS t(i)
                 GROUP BY cid, i))
         GROUP BY cid)"""

  /** The shared trained-quantizer oracle CTE chain (16 cells, 5 probes):
    * grid vectors → stride sample → 2 Lloyd rounds → `ranked` (every
    * vector's 5 nearest cells) → `cand` (rank-1 assignment + embedding).
    * One builder for q_llm_knn_graph_trained, q_llm_hard_negatives, and
    * q_llm_mmr_rerank's candidate pull — the mirrors cannot drift. */
  private[graft] val oTrainedCtes: String =
    s"""v AS (SELECT vec_id, embedding, label,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
           FROM embeddings),
         st AS (SELECT greatest(1, COUNT(*) // 512) AS s FROM v),
         samp AS (SELECT vec_id, q, st.s FROM v, st WHERE vec_id % st.s = 0),
         c0 AS (SELECT CAST(vec_id // s AS INT) AS cid, q AS c
                FROM samp WHERE vec_id < 16 * s),
         ${oAssign("a1", "c0", "samp")},
         ${oRecompute("c1", "a1")},
         ${oAssign("a2", "c1", "samp")},
         ${oRecompute("c2", "a2")},
         ranked AS (SELECT vec_id, embedding, label, cid, rk FROM (
             SELECT v.vec_id, v.embedding, v.label, c2.cid,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 list_sum(list_transform(range(1, 65),
                   i -> (v.q[i] - c2.c[i]) * (v.q[i] - c2.c[i]))), c2.cid) AS rk
             FROM v CROSS JOIN c2) WHERE rk <= 5),
         cand AS (SELECT vec_id, embedding AS ce, label AS clabel,
                    cid AS ccell
                  FROM ranked WHERE rk = 1)"""

  /** DuckDB mirror of the trained-quantizer kNN (sampled Lloyd training,
    * cells×N ranking pass, rounded-float dot scoring). `negatives = true`
    * adds the hard-negative label predicate + label output columns. */
  private def oKnnTrained(negatives: Boolean): String = {
    val negPred = if (negatives) " AND qr.label <> cand.clabel" else ""
    val negCols = if (negatives) ", qlabel, neg_label" else ""
    val negSel =
      if (negatives) ", qr.label AS qlabel, cand.clabel AS neg_label" else ""
    s"""WITH $oTrainedCtes,
         scored AS (SELECT qr.vec_id AS qid, cand.vec_id AS cid$negSel,
                 round(list_sum(list_transform(range(1, 65),
                   i -> CAST(qr.embedding[i] AS DOUBLE) * CAST(cand.ce[i] AS DOUBLE))), 6) AS dot
               FROM ranked qr JOIN cand
                 ON qr.cid = cand.ccell AND qr.vec_id <> cand.vec_id$negPred),
         r AS (SELECT qid, cid$negCols, dot,
                 CAST(row_number() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS INT) AS rnk
               FROM scored)
         SELECT qid, cid$negCols, dot, rnk FROM r WHERE rnk <= 3
         ORDER BY qid, rnk"""
  }

  /** The shared k-means oracle CTE chain: grid vectors → seeds → 2 Lloyd
    * rounds → `a3` (every vector's converged assignment, with `c2` the
    * converged centroids). One builder for q_llm_cluster_kmeans and
    * q_llm_cluster_terms — the mirrors cannot drift. */
  private[graft] val oKmeansAssignCtes: String =
    s"""v AS (SELECT vec_id,
             list_transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)) AS q
           FROM embeddings),
         c0 AS (SELECT CAST(vec_id AS INT) AS cid, q AS c FROM v WHERE vec_id < $K),
         ${oAssign("a1", "c0")},
         ${oRecompute("c1", "a1")},
         ${oAssign("a2", "c1")},
         ${oRecompute("c2", "a2")},
         ${oAssign("a3", "c2")}"""

  val oracle: Map[String, String] = Map(
    "q_llm_cluster_kmeans" ->
      s"""WITH $oKmeansAssignCtes
         SELECT a3.cid, COUNT(*) AS n, MIN(vec_id) AS min_vec,
           CAST(list_sum(list_transform(c2.c, x -> abs(x))) AS BIGINT) AS centroid_l1
         FROM a3 JOIN c2 ON a3.cid = c2.cid
         GROUP BY a3.cid, c2.c ORDER BY a3.cid""",

    // the trained-IVF mirror: same Lloyd CTEs as the kmeans oracle but
    // trained on the stride SAMPLE (st = greatest(1, n // (32*cells)),
    // `//` floor ≡ Spark's `div` for positive operands), then one
    // cells×N ranking pass (rank 1 = assignment, ranks 1..5 = probes)
    // and the established rounded-float dot for scoring
    "q_llm_knn_graph_trained" -> oKnnTrained(negatives = false),

    // the same CTE chain with the label predicate and label output
    // columns — one builder, no drift between the two mirrors
    "q_llm_hard_negatives" -> oKnnTrained(negatives = true),

    "q_llm_bpe_pairs" ->
      """WITH w AS (SELECT word, COUNT(*) AS freq
             FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
             GROUP BY word),
         p AS (SELECT substring(word, i, 2) AS pair, freq
               FROM w, unnest(range(1, greatest(length(word), 1))) AS t(i)),
         c AS (SELECT pair, CAST(SUM(freq) AS BIGINT) AS cnt FROM p GROUP BY pair),
         r AS (SELECT row_number() OVER (ORDER BY cnt DESC, pair) AS rank, pair, cnt
               FROM c)
         SELECT CAST(rank AS INT) AS rank, pair, cnt
         FROM r WHERE rank <= 30 ORDER BY rank""",

    // list() over a ROWS frame collects in frame order; prepending the
    // 0.0 init makes list_reduce ≡ Spark's aggregate(…, 0.0, fold)
    "q_ts_ewma" ->
      """WITH w AS (SELECT user_id, event_id,
             list(value) OVER (PARTITION BY user_id ORDER BY event_id
               ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS vs
           FROM events)
         SELECT user_id, event_id,
           list_reduce(list_prepend(CAST(0.0 AS DOUBLE), vs),
             (acc, v) -> acc / 2 + v / 2) AS ewma
         FROM w ORDER BY event_id""",

    "q_llm_entropy" ->
      """WITH t AS (SELECT doc_id, term, COUNT(*) AS c FROM
             (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
           GROUP BY doc_id, term),
         a AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n_tok,
             COUNT(*) AS n_types,
             SUM(CAST(round(c * log2(c), 9) AS DECIMAL(28,9))) AS sclog
           FROM t GROUP BY doc_id)
         SELECT doc_id, n_tok, n_types,
           round(CAST(CAST(round(log2(n_tok), 9) AS DECIMAL(18,9)) AS DOUBLE)
             - CAST(sclog AS DOUBLE) / n_tok, 6) AS entropy
         FROM a ORDER BY doc_id""",

    "q_graph_jaccard_neighbors" ->
      """WITH e AS (SELECT DISTINCT o_custkey AS c, l_suppkey AS sp
             FROM orders JOIN lineitem ON o_orderkey = l_orderkey
             WHERE l_suppkey < 100),
         deg AS (SELECT sp, COUNT(*) AS deg FROM e GROUP BY sp),
         p AS (SELECT x.sp AS a, y.sp AS b, COUNT(*) AS shared
               FROM e x JOIN e y ON x.c = y.c AND x.sp < y.sp
               GROUP BY x.sp, y.sp)
         SELECT a, b, shared,
           CAST(shared AS DOUBLE) / (da.deg + db.deg - shared) AS jaccard
         FROM p JOIN deg da ON p.a = da.sp JOIN deg db ON p.b = db.sp
         ORDER BY jaccard DESC, a, b LIMIT 20""",

    "q_win_distinct_running" ->
      """WITH m AS (SELECT user_id, event_id,
             CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                    ORDER BY event_id) = 1 THEN 1 ELSE 0 END AS is_new
           FROM events)
         SELECT user_id, event_id,
           CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS n_types
         FROM m ORDER BY event_id"""
  )
}
