package graft.queries

import graft.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Round-7 additions (SURVEY §2.30/§2.31/§2.32): dataset-assay
  * operators — the checks a training-data pipeline runs on its OWN
  * artifacts before shipping them. Johnson–Lindenstrauss random-sign
  * projection (the cheap dimensionality reduction in front of
  * clustering/ANN at 100 TB), kNN label-noise detection (neighborhood
  * label agreement over the memoized trained quantizer — the
  * mislabeled-example sweep every classifier-training pipeline wants),
  * Cohen's kappa over the same neighborhoods (the chance-corrected
  * label-quality scalar), k-means cluster labeling (top TF-IDF terms
  * per cluster through the custom GroupedTopK heap node), last-touch
  * attribution (the click→purchase credit assignment every events
  * pipeline reports), and the §2.32 readiness batch: squared-distance
  * silhouette (cluster quality over the SAME Lloyd lineage), per-dim
  * embedding drift, score calibration (reliability bins), and the
  * shard-balance skew report over the declared shard layout.
  *
  * Exactness posture: house rules throughout — deterministic md5-keyed
  * signs, in-order HOF folds rounded to the 1e-6 grid, integer
  * agreement counts with exact ratio output, window carry-forwards on
  * exact epoch seconds.
  */
object Assay {

  val queries: Map[String, Q] = Map(

    // Johnson–Lindenstrauss random-sign projection 64 → 16 dims:
    // y_j = (Σ_i x_i · s_ij) / √16 with deterministic ±1 signs from md5
    // parity of (i, j) — the Achlioptas database-friendly JL variant
    // (signs instead of Gaussians; the distance-preservation guarantee
    // is the same up to constants). The projection is a pure per-row
    // expression — no shuffle, no state, embarrassingly parallel at any
    // N — and the report caps output to the first 20 vectors exploded
    // to scalars (the embed_standardize shape; filter pushdown means
    // only those rows compute here, while the operator itself maps the
    // full table in a pipeline). The in-lambda md5 keeps the sign
    // matrix oracle-exact and code-free; a production run hoists the
    // 64×16 sign matrix into a broadcast literal once — same output,
    // one md5 per MATRIX cell instead of per (row, cell). In-order
    // fold + round-to-1e-6 before the division keeps both engines
    // bit-identical (the graft_dot convention).
    "q_llm_embed_project" -> ((s, d) =>
      Tables(s, d, "embeddings")
        .where(col("vec_id") < 20)
        .select(col("vec_id"), posexplode(expr(
          s"""transform(sequence(0, 15), j ->
                round(aggregate(zip_with(embedding, sequence(0, 63), (e, i) ->
                    CAST(e AS DOUBLE) * IF(${hexFold(
                      "md5(concat('jl|', CAST(i AS STRING), '|', CAST(j AS STRING)))", 1)}
                      % 2 = 0, 1.0D, -1.0D)),
                  0D, (a, p) -> a + p) / 4.0D, 6))"""))
          .as(Seq("j", "y")))
        .orderBy("vec_id", "j")),

    // kNN label-noise detection: for every vector, how many of its 3
    // nearest (trained-quantizer ANN) neighbors carry the SAME class
    // label — per-label agreement rates and suspect counts (agreement
    // 0 ⇒ the vector sits in a wrong-label neighborhood: either
    // mislabeled or boundary — the confident-learning style sweep a
    // classifier-training pipeline runs before fitting). Rides the SAME
    // memoized quantizer as knn_graph_trained/hard_negatives/mmr — the
    // bucketed probe⋈assignment equi-join, probes×N/cells cost per
    // query — with two integer aggregates on top; the agreement ratio
    // is an exact integer division rounded on the 1e-6 grid. Like every
    // all-queries IVF shape, TOTAL work is N·probes·(N/cells) — so since
    // round 13 the DECLARED entry derives cells from corpus size and
    // dispatches the build past 64 cells to the two-level trainer
    // ([[nnTop3Auto]] → Learn.probeFramesAuto: the r12-verdict fix —
    // fixed 16 cells measured 28.4 s at ×10 vs 3.74 s under the growth
    // rule, and the flat build itself is 32·cells² ∝ N²); every gate
    // scale still resolves to the bit-exact flat 16-cell form the
    // DuckDB mirror pins. `labelNoiseWith` is the flat form at an
    // explicit cell count, the reference LearnSpec compares this against.
    "q_llm_label_noise" -> ((s, d) => labelNoiseFrom(nnTop3Auto(s, d))),

    // Cluster labeling — "what is each k-means cluster ABOUT": the top-5
    // TF-IDF terms per cluster, treating each cluster as one
    // mega-document (tf = term count in the cluster's docs, idf over the
    // 8 clusters) — the human-readable summary every embedding-clustering
    // pipeline ships next to the assignment table. Assignments come from
    // the SAME converged Lloyd lineage as q_llm_cluster_kmeans
    // (Learn.kmeansAssignments — one loop definition, one oracle CTE
    // chain, so the labels provably describe the declared clustering).
    // Shapes: one linear (cid, term) shuffle, a vocab-bounded df join,
    // and the top-5 via graft's OWN GroupedTopK plan node — bounded
    // per-group heaps, never an 8-partition window sort (the
    // low-cardinality-partition trap q_win_rank_salted documents).
    // Scores exact: integer tf × ln(8/df) on the 1e-9 grid.
    "q_llm_cluster_terms" -> ((s, d) =>
      clusterTerms(s, d).orderBy("cid", "rn")),

    // NPMI topic coherence of the cluster labels — the grade on
    // q_llm_cluster_terms' OWN output (do this cluster's top terms
    // actually co-occur in documents, or did TF-IDF pick 5 unrelated
    // words?): per label pair, normalized pointwise mutual information
    // ln(p(a,b)/(p(a)p(b))) / −ln p(a,b) over document co-occurrence
    // (+1 = always together, 0 = independent, −1 floor for never
    // observed); per cluster the mean/min over its C(5,2)=10 pairs —
    // the standard topic-model coherence report. Scale shape: the
    // corpus-scale work is ONE incidence pass filtered by a ≤40-term
    // broadcast (only label-term rows survive the scan), the
    // co-occurrence self-join fans ≤40² per doc, everything after is
    // ≤780 rows; labels come from the SAME GroupedTopK builder as the
    // declared report (grading labels nobody ships would be vacuous).
    // ln on the 1e-9 grid (the zipf/entropy libm rule), one rounded
    // division, decimal-sum means.
    "q_llm_cluster_coherence" -> ((s, d) => {
      // lazy localCheckpoint: the ≤40-row label frame has FOUR
      // consumers (pair sides, term filter, and the pair build) — left
      // as lineage each would re-run the whole Lloyd chain (measured as
      // 37 nested-loop joins in the raw plan, one per re-derived
      // centroid broadcast)
      val labels = clusterTerms(s, d).select(col("cid"), col("term"))
        .localCheckpoint(false)
      // broadcast-filter BEFORE distinct: the dedup shuffle then carries
      // only label-term rows, not the full-vocabulary incidence
      // (measured 9.7 → 5.0 s at ×10; Catalyst does not push a join
      // below a Distinct on its own). Selectivity tracks how common the
      // label terms are — the win grows as the vocabulary does.
      val dinc = Tables(s, d, "documents")
        .select(col("doc_id"), explode(textTokens).as("term"))
        .join(broadcast(labels.select("term").distinct()), "term")
        .distinct()
      val nDocs = Tables(s, d, "documents").agg(count(lit(1)).as("nd"))
      val marg = dinc.groupBy("term").agg(count(lit(1)).as("n_t"))
      val pairs = labels.select(col("cid"), col("term").as("ta"))
        .join(labels.select(col("cid").as("cidb"), col("term").as("tb")),
          col("cid") === col("cidb") && col("ta") < col("tb"))
        .select("cid", "ta", "tb")
      val co = dinc.select(col("doc_id"), col("term").as("ta"))
        .join(dinc.select(col("doc_id").as("db"), col("term").as("tb")),
          col("doc_id") === col("db") && col("ta") < col("tb"))
        .groupBy("ta", "tb").agg(count(lit(1)).as("n_ab"))
      pairs.join(co, Seq("ta", "tb"), "left")
        .join(broadcast(marg.select(col("term").as("ta"),
          col("n_t").as("n_a"))), "ta")
        .join(broadcast(marg.select(col("term").as("tb"),
          col("n_t").as("n_b"))), "tb")
        .crossJoin(broadcast(nDocs))
        .select(col("cid"), (col("n_ab").isNotNull).cast("long").as("obs"),
          when(col("n_ab").isNull, lit(-1.0))
            .when(col("n_ab") === col("nd"), lit(1.0))
            .otherwise(round(
              expr("round(ln((CAST(n_ab AS DOUBLE) * nd) / (CAST(n_a AS DOUBLE) * n_b)), 9)") /
              expr("round(-ln(CAST(n_ab AS DOUBLE) / nd), 9)"), 6))
            .as("npmi"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n_pairs"), sum(col("obs")).as("n_observed"),
          round(dsum(col("npmi")) / count(lit(1)), 6).as("mean_npmi"),
          min(col("npmi")).as("min_npmi"))
        .orderBy("cid")
    }),

    // Cohen's kappa between the declared label and its NEIGHBORHOOD
    // prediction (majority label of the 3 trained-quantizer ANN
    // neighbors, ties to the smallest label) — the chance-corrected
    // agreement score that turns q_llm_label_noise's per-label rates
    // into one comparable scalar (kappa ≈ 0 ⇒ labels are independent of
    // embedding geometry; the label-quality red flag). Same memoized
    // probe frames — the round-13 [[nnTop3Auto]] dispatch, shared with
    // q_llm_label_noise, so the scalar provably grades the same
    // neighborhoods at every scale; majority via the house
    // count+struct-argmax (no per-qid sort), and kappa is a PURE
    // INTEGER ratio:
    // (diag·n − Σ row_k·col_k) / (n² − Σ row_k·col_k) — observed and
    // expected agreement never pass through intermediate doubles.
    "q_dq_cohens_kappa" -> ((s, d) => {
      val nn = nnTop3Auto(s, d)
      val pred = nn.groupBy("qid", "qlabel", "clabel")
        .agg(count(lit(1)).as("c"))
        .groupBy("qid", "qlabel")
        .agg(max(struct(col("c"), (-col("clabel")).cast("long").as("nl")))
          .as("m"))
        .select(col("qid"), col("qlabel").as("a"), (-col("m.nl")).as("p"))
      val agg = pred.agg(count(lit(1)).as("n"),
        sum((col("a") === col("p")).cast("long")).as("n_agree"))
      val ra = pred.groupBy(col("a").as("k")).agg(count(lit(1)).as("ra"))
      val cp = pred.groupBy(col("p").as("k")).agg(count(lit(1)).as("cp"))
      // cp holds one row per label at any scale: broadcast it, so the
      // join does not follow whether nnTop3Auto has been materialized
      val pe = ra.join(broadcast(cp), "k")
        .agg(coalesce(sum(col("ra") * col("cp")), lit(0L)).as("penum"))
      agg.crossJoin(broadcast(pe))
        .select(col("n"), col("n_agree"),
          round(col("n_agree").cast("double") / col("n"), 9).as("p_o"),
          round(col("penum").cast("double") / (col("n") * col("n")), 9)
            .as("p_e"),
          round((col("n_agree") * col("n") - col("penum")).cast("double") /
            (col("n") * col("n") - col("penum")).cast("double"), 6)
            .as("kappa"))
    }),

    // Last-touch attribution: for every purchase, the user's most recent
    // PRIOR click (the credit-assignment primitive behind every
    // marketing/referral report), attributed only within a 7-day
    // window. ONE per-user window pass — the conditional carry-forward
    // (max of CASE over the unbounded-preceding frame) rides the same
    // user_id shuffle the asof_nearest family uses; no join, no second
    // scan. event_id and ts are strictly co-ordered per the generator
    // (PropertySpec pins it), so the max click event_id and max click
    // epoch both name the same latest click. Output ∝ purchases; lag
    // and attribution flag are exact integer seconds.
    "q_ts_attribution" -> ((s, d) => {
      val wPrev = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, d, "events")
        .withColumn("click_event_id",
          max(when(col("event_type") === "click", col("event_id"))).over(wPrev))
        .withColumn("ck_ts",
          max(when(col("event_type") === "click", epochS(col("ts")))).over(wPrev))
        .where(col("event_type") === "purchase")
        .select(col("event_id"), col("user_id"), col("click_event_id"),
          (epochS(col("ts")) - col("ck_ts")).as("lag_s"),
          (col("click_event_id").isNotNull &&
            (epochS(col("ts")) - col("ck_ts")) <= 604800L)
            .cast("long").as("attributed"))
        .orderBy("event_id")
    }),

    // Squared-distance simplified silhouette per k-means cluster — the
    // "is this clustering any good" scalar every embedding-clustering
    // pipeline ships next to its assignment table. Per vector: a = d²
    // to the ASSIGNED (nearest) centroid, b = d² to the second-nearest;
    // sil = (b − a) / max(a, b) ∈ [0, 1) (centroid-based, so never
    // negative — the classic member-distance silhouette is O(N²); this
    // is the linear form, on SQUARED distances to stay libm-free: a
    // monotone quality score with the same extremes). Centroids come
    // from the SAME converged Lloyd lineage as q_llm_cluster_kmeans
    // (Learn.kmeansVecCent) so the score provably measures the declared
    // clustering. Shapes: one crossJoin against the broadcast 8-row
    // centroid frame (the assign() scoring shape), a per-vector rank
    // over 8 rows riding the vec_id shuffle, one keyed aggregate; a and
    // b are EXACT BIGINTs (graft_l2sq on the 1e-6 grid), the per-vector
    // ratio is one rounded IEEE division, and the cluster mean is an
    // exact decimal sum (dsum) — order-independent cross-engine.
    // n_boundary counts sil < 0.05 (near-tie vectors: candidates to
    // re-assign next retrain — the actionable number in the report; the
    // threshold sits at the observed corpus mean, where it splits the
    // population — 0.2 classified ~99% boundary at every probed scale,
    // an uninformative flag).
    "q_llm_cluster_silhouette" -> ((s, d) => {
      val (vecs, cent) = Learn.kmeansVecCent(s, d)
      val w = Window.partitionBy("vec_id").orderBy(col("dist"), col("cid"))
      val ab = vecs.crossJoin(broadcast(cent))
        .select(col("vec_id"), col("cid"), expr("graft_l2sq(q, c)").as("dist"))
        .withColumn("rk", row_number().over(w)).where(col("rk") <= 2)
        .groupBy("vec_id")
        .agg(max(when(col("rk") === 1, col("cid"))).as("cid"),
          max(when(col("rk") === 1, col("dist"))).as("a"),
          max(when(col("rk") === 2, col("dist"))).as("b"))
      ab.select(col("cid"),
          when(greatest(col("a"), col("b")) === 0, lit(0.0))
            .otherwise(round((col("b") - col("a")).cast("double") /
              greatest(col("a"), col("b")), 6)).as("sil"))
        .groupBy("cid")
        .agg(count(lit(1)).as("n"),
          round(dsum(col("sil")) / count(lit(1)), 6).as("mean_sil"),
          min(col("sil")).as("min_sil"),
          sum((col("sil") < 0.05).cast("long")).as("n_boundary"))
        .orderBy("cid")
    }),

    // Per-dimension embedding drift between two deterministic halves of
    // the corpus (vec_id parity — in production: two crawls, two dates):
    // the embedding-space monitor that catches encoder regressions and
    // upstream distribution shift BEFORE a retrain consumes the table.
    // Per (half, dim): exact BIGINT sums on the 1e-6 grid (the
    // embed_standardize moment discipline — pure map-side combine over
    // a 2×64-group agg), then per-dim means as single IEEE divisions
    // and the shift as the |difference| of the rounded means — every
    // reported number is bit-identical cross-engine by construction.
    // Output: 64 rows, one keyed aggregate, no window, no join wider
    // than the 128-row pivot.
    "q_dq_embed_drift" -> ((s, d) =>
      Tables(s, d, "embeddings")
        .select((col("vec_id") % 2).cast("int").as("half"), posexplode(
          gridE6("embedding")).as(Seq("dim", "g")))
        .groupBy("half", "dim")
        .agg(sum("g").as("sg"), count(lit(1)).as("n"))
        .groupBy("dim")
        .agg(max(when(col("half") === 0, col("sg"))).as("sga"),
          max(when(col("half") === 0, col("n"))).as("na"),
          max(when(col("half") === 1, col("sg"))).as("sgb"),
          max(when(col("half") === 1, col("n"))).as("nb"))
        .select(col("dim"), col("na"), col("nb"),
          round(col("sga").cast("double") / col("na") / 1e6, 6).as("mu_a"),
          round(col("sgb").cast("double") / col("nb") / 1e6, 6).as("mu_b"))
        .withColumn("shift",
          round(abs(col("mu_a") - col("mu_b")), 6))
        .orderBy("dim")),

    // Score calibration (the reliability diagram): does a score computed
    // on HELD-OUT behavior predict the outcome at its stated rate? Users
    // are scored on their EVEN events (purchase share, exact integer
    // micro-units via floor division), the outcome is measured on their
    // ODD events (disjoint by construction — the held-out split is what
    // makes this calibration rather than a tautology), and each decile
    // bin reports predicted vs observed. A well-calibrated score tracks
    // the diagonal; the gap column is what a monitoring system alerts
    // on. ONE events scan feeding a per-user conditional aggregate
    // (both halves in the same pass, riding one user_id shuffle), then
    // a ≤10-row bin aggregate; every ratio is exact-integer-over-
    // exact-integer through one rounded IEEE division.
    "q_dq_calibration" -> ((s, d) =>
      Tables(s, d, "events")
        .groupBy("user_id")
        .agg(
          sum((col("event_id") % 2 === 0).cast("long")).as("ne"),
          sum((col("event_id") % 2 === 0 &&
            col("event_type") === "purchase").cast("long")).as("pe"),
          sum((col("event_id") % 2 === 1).cast("long")).as("no"),
          sum((col("event_id") % 2 === 1 &&
            col("event_type") === "purchase").cast("long")).as("po"))
        .where(col("ne") > 0 && col("no") > 0)
        .select(expr("least(9, ((1000000 * pe) div ne) div 100000)")
            .as("bin"),
          expr("(1000000 * pe) div ne").as("score_e6"),
          col("no"), col("po"))
        .groupBy("bin")
        .agg(count(lit(1)).as("n_users"),
          round(sum(col("score_e6")).cast("double") / count(lit(1)) / 1e6, 6)
            .as("mean_score"),
          round(sum(col("po")).cast("double") / sum(col("no")), 6)
            .as("outcome_rate"))
        .withColumn("gap",
          round(abs(col("mean_score") - col("outcome_rate")), 6))
        .orderBy("bin")),

    // Shard-balance report over the DECLARED shard layout (U.shardKey —
    // the same 64-way md5 assignment q_llm_shuffle_shards writes; one
    // definition, so this report provably describes the layout that
    // ships): per-shard doc count and byte load, and each shard's load
    // relative to a perfectly even spread (load_x = bytes·64 / total —
    // the straggler multiplier; max(load_x) IS the tail-task slowdown a
    // 1000-executor read of this layout pays). One linear pass + a
    // 64-group aggregate + a 1-row broadcast total; exact integers into
    // one rounded IEEE division each.
    "q_llm_shard_balance" -> ((s, d) => {
      val perShard = Tables(s, d, "documents")
        .select(pmod(U.shardKey, lit(U.shardCount)).as("shard"),
          length(col("text")).cast("long").as("bytes"))
        .groupBy("shard")
        .agg(count(lit(1)).as("n_docs"), sum("bytes").as("bytes"))
      val tot = perShard.agg(sum("bytes").as("tb"))
      perShard.crossJoin(broadcast(tot))
        .select(col("shard"), col("n_docs"), col("bytes"),
          round(col("bytes").cast("double") * U.shardCount / col("tb"), 6)
            .as("load_x"))
        .orderBy("shard")
    }),

    // χ² term–label association (SURVEY §2.34) — the classic text
    // feature-selection sweep: per source, the 10 terms whose document
    // presence is most dependent on that source, by the 2×2 contingency
    // χ² = N(ad−bc)² / ((a+b)(c+d)(a+c)(b+d)) where a = docs of the
    // source containing the term, b/c/d the complements. This is what
    // picks discriminative vocabulary for a quality/domain classifier
    // (and, run against a held-out split, flags distribution leaks).
    // Scale shape: ONE pass over documents. Each row explodes its
    // distinct tokens (doc_id is the documents key, so per-row
    // array_distinct IS the presence incidence — no DISTINCT shuffle of
    // it) plus one NULL term standing for the document itself, so a
    // NULL-text document still counts. The (term, source) aggregate is
    // the only corpus-scale shuffle and carries partial-aggregated
    // cells; its df window is partitioned by term, and the NULL-term
    // cells are the margins: per source, nd = that cell's a and N = its
    // df (every document, any source), read by one window over source.
    // NULL terms and NULL sources are dropped only then (a NULL-source
    // document counts in df and N but ranks in no source). The top-10
    // runs through the house GroupedTopK heap on the source window's
    // partitioning — never a vocabulary-wide sort — and the ≤ 10 rows
    // per source are ordered in one partition, not by a sampled range
    // shuffle.
    // Exactness: all four cells exact BIGINTs; the χ² numerator/
    // denominator products ride DECIMAL(38,0) (N⁵ < 10³⁸ holds through
    // ~3·10⁷ docs — beyond that switch the statistic to the G-test's
    // log form, same selection order; documented bound, the
    // embed_standardize rule), one rounded IEEE division at the end.
    // Universal terms (df = N ⇒ c+d = 0) carry no signal and are
    // excluded before the division.
    "q_llm_chi2_terms" -> ((s, d) => {
      val terms = concat(
        coalesce(array_distinct(textTokens), array().cast("array<string>")),
        array(lit(null).cast("string")))
      val margin = (c: String) =>
        max(when(col("term").isNull, col(c))).over(Window.partitionBy("source"))
      val cells = Tables(s, d, "documents")
        .select(col("source"), explode(terms).as("term"))
        .groupBy("term", "source").agg(count(lit(1)).as("a"))
        .withColumn("df", sum(col("a")).over(Window.partitionBy("term")))
        .select(col("*"), margin("a").as("nd"), margin("df").as("n"))
      val dec = "DECIMAL(38,0)"
      val scored = cells
        .where(col("term").isNotNull && col("source").isNotNull &&
          col("df") < col("n"))
        .select(col("source"), col("term"), col("a"), col("df"),
          expr(s"""round(
              CAST(CAST(n AS $dec) *
                   ((a * (n - df - nd + a)) - ((df - a) * (nd - a))) *
                   ((a * (n - df - nd + a)) - ((df - a) * (nd - a)))
                 AS DOUBLE) /
              CAST(CAST(df AS $dec) * (n - df) * nd * (n - nd) AS DOUBLE),
              6)""").as("chi2"))
      graft.plans.GraftPlans.groupedTopK(scored, "source", "chi2", "term", 10)
        .select(col("source"), col("rn"), col("term"), col("a").as("n_in"),
          col("df"), col("chi2"))
        .repartition(1).sortWithinPartitions("source", "rn")
    })
  )

  /** The top-5-terms-per-cluster label frame (cid, term, tf, score,
    * rn) through the GroupedTopK heap node — ONE builder for the
    * declared q_llm_cluster_terms report and the coherence score that
    * grades it (a divergent label derivation would let coherence grade
    * labels nobody ships).
    *
    * Scoring is c-TF-IDF-with-lift: score = tf_c · ln(8·tf_c/tf_total)
    * — how much the cluster OVER-represents the term vs a uniform
    * spread. The first formulation used cluster-level IDF
    * (tf·ln(8/df_clusters)) and was measurably vacuous on this corpus:
    * with a shared vocabulary every common term sits in all 8 clusters
    * (df = 8 ⇒ score ≡ 0), so the "top 5" degenerated to alphabetical
    * ties — 0/40 nonzero scores at sf0.1, and the coherence assay
    * reported the SAME labels for every cluster (which is how the
    * defect surfaced). The lift form discriminates regardless of
    * vocabulary overlap; ln rides the 1e-9 grid as before.
    *
    * Memoized + lazily persisted per (session, sfDir) — the nnTop3
    * discipline: the declared report and the coherence grader both
    * consume THIS frame, and without the memo each ran its own
    * corpus-scale (cid, term) tf pass + GroupedTopK (the 40-row output
    * is cheap; its derivation is the whole token incidence). */
  private[graft] def clusterTerms(s: SparkSession, d: String): DataFrame =
    graft.Memo(s, s"clusterterms:$d") {
      val asg = Learn.kmeansAssignments(s, d)
        .select(col("vec_id").as("doc_id"), col("cid"))
      val tf = Tables(s, d, "documents")
        .select(col("doc_id"), explode(textTokens).as("term"))
        .join(asg, "doc_id")
        .groupBy("cid", "term").agg(count(lit(1)).as("tf"))
      val tot = tf.groupBy("term").agg(sum(col("tf")).as("tfall"))
      val scored = tf.join(tot, "term")
        .select(col("cid"), col("term"), col("tf"),
          round(col("tf") *
            expr("round(ln(CAST(8 * tf AS DOUBLE) / tfall), 9)"), 9)
            .as("score"))
      graft.plans.GraftPlans.groupedTopK(scored, "cid", "score", "term", 5)
        .persist()
    }

  /** The labeled top-3-neighbor frame (qid, qlabel, clabel, cid, dot)
    * over the trained quantizer — memoized + lazily persisted per
    * (session, sfDir, cells): q_llm_label_noise and q_dq_cohens_kappa
    * both reduce THIS frame (agreement rates vs the kappa scalar), so
    * the probe join + per-query rank run once per JVM, not per query. */
  private def nnTop3From(qs: DataFrame, cand: DataFrame): DataFrame = {
    val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("cid"))
    qs.join(cand.hint("shuffle_hash"),
        col("probe") === col("ccell") && col("qid") =!= col("cid2"))
      .select(col("qid"), col("qlabel"), col("clabel"),
        col("cid2").as("cid"), expr("round(graft_dot(qe, ce), 6)").as("dot"))
      .withColumn("rnk", row_number().over(w)).where(col("rnk") <= 3)
  }

  private[graft] def nnTop3(s: SparkSession, d: String,
      cells: Int): DataFrame =
    graft.Memo(s, s"nn3:$d:$cells") {
      val (qs, cand) = Learn.trainedProbeFrames(s, d, cells, 5)
      nnTop3From(qs, cand).persist()
    }

  /** The DECLARED neighbor frame (round 13): Learn.probeFramesAuto's
    * cells ∝ N / two-level dispatch — flat 16 cells at every gate scale
    * (bit-identical to the previous fixed-16 declaration, so both
    * consumers' DuckDB mirrors are unchanged), the named w=8/probes=10
    * two-level geometry at production cell counts. One memo, two
    * consumers (q_llm_label_noise, q_dq_cohens_kappa). */
  private[graft] def nnTop3Auto(s: SparkSession, d: String): DataFrame =
    graft.Memo(s, s"nn3:$d:auto") {
      val (qs, cand) = Learn.probeFramesAuto(s, d)
      nnTop3From(qs, cand).persist()
    }

  /** Label-noise sweep over the flat quantizer at an explicit cell
    * count — the reference the declared [[nnTop3Auto]] dispatch must
    * reproduce at gate scales (LearnSpec). */
  private[graft] def labelNoiseWith(s: SparkSession, d: String,
      cells: Int): DataFrame =
    labelNoiseFrom(nnTop3(s, d, cells))

  private[graft] def labelNoiseFrom(nn: DataFrame): DataFrame = {
    nn.groupBy("qid", "qlabel")
      .agg(count(lit(1)).as("n_nbrs"),
        sum((col("clabel") === col("qlabel")).cast("long")).as("n_agree"))
      .groupBy(col("qlabel").as("label"))
      .agg(count(lit(1)).as("n_vecs"),
        sum(col("n_nbrs")).as("n_nbrs"),
        sum(col("n_agree")).as("n_agree"),
        round(sum(col("n_agree")) * lit(100.0) / sum(col("n_nbrs")), 6)
          .as("agree_pct"),
        sum((col("n_agree") === 0).cast("long")).as("n_suspect"))
      .orderBy("label")
  }

  /** The shared cluster-labeling oracle CTE chain (Lloyd assignment →
    * per-cluster tf → df → TF-IDF rank `r`) — one definition for the
    * q_llm_cluster_terms mirror and the coherence mirror that grades
    * the same labels. */
  private[graft] val oClusterTermsCtes: String =
    s"""${Learn.oKmeansAssignCtes},
       tok AS (SELECT d.doc_id, a3.cid,
             unnest(string_split(d.text, ' ')) AS term
           FROM documents d JOIN a3 ON a3.vec_id = d.doc_id),
       tf AS (SELECT cid, term, COUNT(*) AS tf
              FROM tok GROUP BY cid, term),
       tot AS (SELECT term, CAST(SUM(tf) AS BIGINT) AS tfall
               FROM tf GROUP BY term),
       sc AS (SELECT cid, term, tf,
                round(tf * round(ln(CAST(8 * tf AS DOUBLE) / tfall), 9), 9)
                  AS score
              FROM tf JOIN tot USING (term)),
       r AS (SELECT cid, term, CAST(tf AS BIGINT) AS tf, score,
               CAST(row_number() OVER (PARTITION BY cid
                 ORDER BY score DESC, term) AS INT) AS rn
             FROM sc)"""

  val oracle: Map[String, String] = Map(
    "q_llm_embed_project" ->
      s"""WITH p AS (SELECT vec_id,
             list_transform(range(0, 16), j ->
               round(list_reduce(list_prepend(CAST(0 AS DOUBLE),
                 list_transform(range(0, 64), i ->
                   CAST(embedding[i + 1] AS DOUBLE) * CASE WHEN ${oHexFold(
                     "md5('jl|' || CAST(i AS VARCHAR) || '|' || CAST(j AS VARCHAR))", 1)}
                     % 2 = 0 THEN 1.0 ELSE -1.0 END)),
                 (a, x) -> a + x) / 4.0, 6)) AS ys
           FROM embeddings WHERE vec_id < 20)
         SELECT vec_id, CAST(j AS INT) AS j, ys[j + 1] AS y
         FROM p, unnest(range(0, 16)) AS t(j)
         ORDER BY vec_id, j""",

    "q_llm_label_noise" ->
      s"""WITH ${Learn.oTrainedCtes},
         scored AS (SELECT qr.vec_id AS qid, qr.label AS qlabel,
               cand.clabel, cand.vec_id AS cid,
               round(list_sum(list_transform(range(1, 65),
                 i -> CAST(qr.embedding[i] AS DOUBLE) * CAST(cand.ce[i] AS DOUBLE))), 6) AS dot
             FROM ranked qr JOIN cand
               ON qr.cid = cand.ccell AND qr.vec_id <> cand.vec_id),
         nn AS (SELECT qid, qlabel, clabel FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY dot DESC, cid) AS rnk FROM scored) WHERE rnk <= 3),
         per AS (SELECT qid, qlabel, COUNT(*) AS n_nbrs,
               CAST(SUM(CASE WHEN clabel = qlabel THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_agree
             FROM nn GROUP BY qid, qlabel)
         SELECT qlabel AS label, COUNT(*) AS n_vecs,
           CAST(SUM(n_nbrs) AS BIGINT) AS n_nbrs,
           CAST(SUM(n_agree) AS BIGINT) AS n_agree,
           round(CAST(SUM(n_agree) AS BIGINT) * 100.0
             / CAST(SUM(n_nbrs) AS BIGINT), 6) AS agree_pct,
           CAST(SUM(CASE WHEN n_agree = 0 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_suspect
         FROM per GROUP BY qlabel ORDER BY qlabel""",

    "q_llm_cluster_terms" ->
      s"""WITH $oClusterTermsCtes
         SELECT cid, term, tf, score, rn FROM r WHERE rn <= 5
         ORDER BY cid, rn""",

    "q_llm_cluster_coherence" ->
      s"""WITH $oClusterTermsCtes,
         lab AS (SELECT cid, term FROM r WHERE rn <= 5),
         labt AS (SELECT DISTINCT term FROM lab),
         dinc AS (SELECT DISTINCT doc_id, term
             FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS term
                   FROM documents) x
             JOIN labt USING (term)),
         nd AS (SELECT COUNT(*) AS nd FROM documents),
         marg AS (SELECT term, COUNT(*) AS n_t FROM dinc GROUP BY term),
         pr2 AS (SELECT a.cid, a.term AS ta, b.term AS tb
             FROM lab a JOIN lab b ON a.cid = b.cid AND a.term < b.term),
         co AS (SELECT x.term AS ta, y.term AS tb, COUNT(*) AS n_ab
             FROM dinc x JOIN dinc y
               ON x.doc_id = y.doc_id AND x.term < y.term
             GROUP BY x.term, y.term),
         sc2 AS (SELECT pr2.cid, co.n_ab, ma.n_t AS n_a, mb.n_t AS n_b,
               nd.nd
             FROM pr2 LEFT JOIN co ON pr2.ta = co.ta AND pr2.tb = co.tb
             JOIN marg ma ON pr2.ta = ma.term
             JOIN marg mb ON pr2.tb = mb.term, nd),
         np AS (SELECT cid,
               CASE WHEN n_ab IS NULL THEN 0 ELSE 1 END AS obs,
               CASE WHEN n_ab IS NULL THEN CAST(-1.0 AS DOUBLE)
                 WHEN n_ab = nd THEN CAST(1.0 AS DOUBLE)
                 ELSE round(
                   round(ln((CAST(n_ab AS DOUBLE) * nd)
                     / (CAST(n_a AS DOUBLE) * n_b)), 9)
                   / round(-ln(CAST(n_ab AS DOUBLE) / nd), 9), 6) END
                 AS npmi
             FROM sc2)
         SELECT cid, COUNT(*) AS n_pairs,
           CAST(SUM(obs) AS BIGINT) AS n_observed,
           round(${oDsum("npmi")} / COUNT(*), 6) AS mean_npmi,
           min(npmi) AS min_npmi
         FROM np GROUP BY cid ORDER BY cid""",

    "q_dq_cohens_kappa" ->
      s"""WITH ${Learn.oTrainedCtes},
         scored AS (SELECT qr.vec_id AS qid, qr.label AS qlabel,
               cand.clabel, cand.vec_id AS cid,
               round(list_sum(list_transform(range(1, 65),
                 i -> CAST(qr.embedding[i] AS DOUBLE) * CAST(cand.ce[i] AS DOUBLE))), 6) AS dot
             FROM ranked qr JOIN cand
               ON qr.cid = cand.ccell AND qr.vec_id <> cand.vec_id),
         nn AS (SELECT qid, qlabel, clabel FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY dot DESC, cid) AS rnk FROM scored) WHERE rnk <= 3),
         cnt AS (SELECT qid, qlabel, clabel, COUNT(*) AS c
                 FROM nn GROUP BY qid, qlabel, clabel),
         pred AS (SELECT qid, qlabel AS a, clabel AS p FROM (
             SELECT *, row_number() OVER (PARTITION BY qid
               ORDER BY c DESC, clabel) AS rk FROM cnt) WHERE rk = 1),
         agg AS (SELECT COUNT(*) AS n,
               CAST(SUM(CASE WHEN a = p THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_agree
             FROM pred),
         ra AS (SELECT a AS k, COUNT(*) AS ra FROM pred GROUP BY a),
         cp AS (SELECT p AS k, COUNT(*) AS cp FROM pred GROUP BY p),
         pe AS (SELECT CAST(coalesce(SUM(ra * cp), 0) AS BIGINT) AS penum
                FROM ra JOIN cp USING (k))
         SELECT n, n_agree,
           round(CAST(n_agree AS DOUBLE) / n, 9) AS p_o,
           round(CAST(penum AS DOUBLE) / (n * n), 9) AS p_e,
           round(CAST(n_agree * n - penum AS DOUBLE)
             / CAST(n * n - penum AS DOUBLE), 6) AS kappa
         FROM agg, pe""",

    "q_ts_attribution" ->
      """WITH w AS (SELECT event_id, user_id, event_type,
             epoch_ms(ts) // 1000 AS es,
             max(CASE WHEN event_type = 'click' THEN event_id END)
               OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS click_event_id,
             max(CASE WHEN event_type = 'click'
                   THEN epoch_ms(ts) // 1000 END)
               OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS ck_ts
           FROM events)
         SELECT event_id, user_id, click_event_id,
           es - ck_ts AS lag_s,
           CAST(coalesce(click_event_id IS NOT NULL
             AND es - ck_ts <= 604800, FALSE) AS BIGINT) AS attributed
         FROM w WHERE event_type = 'purchase' ORDER BY event_id""",

    // rides the SAME Lloyd CTE chain as the kmeans/cluster_terms mirrors
    // (v = grid vectors, c2 = converged centroids; the unreferenced
    // assignment CTEs are dead code DuckDB never runs)
    "q_llm_cluster_silhouette" ->
      s"""WITH ${Learn.oKmeansAssignCtes},
         dist AS (SELECT v.vec_id, c2.cid,
               CAST(list_sum(list_transform(range(1, 65),
                 i -> (v.q[i] - c2.c[i]) * (v.q[i] - c2.c[i]))) AS BIGINT)
                 AS dist
             FROM v CROSS JOIN c2),
         r AS (SELECT *, row_number() OVER (PARTITION BY vec_id
                 ORDER BY dist, cid) AS rk FROM dist),
         ab AS (SELECT vec_id,
               max(CASE WHEN rk = 1 THEN cid END) AS cid,
               max(CASE WHEN rk = 1 THEN dist END) AS a,
               max(CASE WHEN rk = 2 THEN dist END) AS b
             FROM r WHERE rk <= 2 GROUP BY vec_id),
         sil AS (SELECT cid, CASE WHEN greatest(a, b) = 0 THEN 0.0
               ELSE round(CAST(b - a AS DOUBLE) / greatest(a, b), 6) END
                 AS sil
             FROM ab)
         SELECT cid, COUNT(*) AS n,
           round(${oDsum("sil")} / COUNT(*), 6) AS mean_sil,
           min(sil) AS min_sil,
           CAST(SUM(CASE WHEN sil < 0.05 THEN 1 ELSE 0 END) AS BIGINT)
             AS n_boundary
         FROM sil GROUP BY cid ORDER BY cid""",

    "q_dq_embed_drift" ->
      """WITH g AS (SELECT CAST(vec_id % 2 AS INT) AS half, i - 1 AS dim,
             CAST(round(CAST(embedding[i] AS DOUBLE) * 1000000.0) AS BIGINT)
               AS gv
           FROM embeddings, unnest(range(1, 65)) AS t(i)),
         m AS (SELECT half, dim, CAST(SUM(gv) AS BIGINT) AS sg,
               COUNT(*) AS n
             FROM g GROUP BY half, dim),
         p AS (SELECT dim,
               max(CASE WHEN half = 0 THEN sg END) AS sga,
               max(CASE WHEN half = 0 THEN n END) AS na,
               max(CASE WHEN half = 1 THEN sg END) AS sgb,
               max(CASE WHEN half = 1 THEN n END) AS nb
             FROM m GROUP BY dim)
         SELECT CAST(dim AS INT) AS dim, na, nb,
           round(CAST(sga AS DOUBLE) / na / 1000000.0, 6) AS mu_a,
           round(CAST(sgb AS DOUBLE) / nb / 1000000.0, 6) AS mu_b,
           round(abs(round(CAST(sga AS DOUBLE) / na / 1000000.0, 6)
             - round(CAST(sgb AS DOUBLE) / nb / 1000000.0, 6)), 6) AS shift
         FROM p ORDER BY dim""",

    "q_dq_calibration" ->
      """WITH u AS (SELECT user_id,
             CAST(SUM(CASE WHEN event_id % 2 = 0 THEN 1 ELSE 0 END)
               AS BIGINT) AS ne,
             CAST(SUM(CASE WHEN event_id % 2 = 0
                 AND event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS pe,
             CAST(SUM(CASE WHEN event_id % 2 = 1 THEN 1 ELSE 0 END)
               AS BIGINT) AS no,
             CAST(SUM(CASE WHEN event_id % 2 = 1
                 AND event_type = 'purchase' THEN 1 ELSE 0 END)
               AS BIGINT) AS po
           FROM events GROUP BY user_id),
         sc AS (SELECT least(9, ((1000000 * pe) // ne) // 100000) AS bin,
               (1000000 * pe) // ne AS score_e6, no, po
             FROM u WHERE ne > 0 AND no > 0)
         SELECT bin, COUNT(*) AS n_users,
           round(CAST(SUM(score_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
             AS mean_score,
           round(CAST(SUM(po) AS DOUBLE) / SUM(no), 6) AS outcome_rate,
           round(abs(
             round(CAST(SUM(score_e6) AS DOUBLE) / COUNT(*) / 1000000.0, 6)
             - round(CAST(SUM(po) AS DOUBLE) / SUM(no), 6)), 6) AS gap
         FROM sc GROUP BY bin ORDER BY bin""",

    "q_llm_shard_balance" ->
      s"""WITH s AS (SELECT ${U.oShardKey} % ${U.shardCount} AS shard,
             CAST(length(text) AS BIGINT) AS bytes
           FROM documents),
         p AS (SELECT shard, COUNT(*) AS n_docs,
               CAST(SUM(bytes) AS BIGINT) AS bytes
             FROM s GROUP BY shard),
         t AS (SELECT CAST(SUM(bytes) AS BIGINT) AS tb FROM p)
         SELECT shard, n_docs, bytes,
           round(CAST(bytes AS DOUBLE) * ${U.shardCount} / tb, 6) AS load_x
         FROM p, t ORDER BY shard""",

    // the independent DISTINCT formulation, not the declared plan's
    // shape: a DISTINCT (doc_id, source, term) incidence → (term, source)
    // cells with a window df → margins counted straight off documents →
    // DECIMAL(38,0) χ² products → per-source rank (the GroupedTopK
    // semantics as a window row_number)
    "q_llm_chi2_terms" ->
      """WITH dtk AS (SELECT doc_id, source, string_split(text, ' ') AS tk
             FROM documents),
         inc AS (SELECT DISTINCT doc_id, source, term
             FROM (SELECT doc_id, source, unnest(tk) AS term FROM dtk)),
         bysrc AS (SELECT term, source, COUNT(*) AS a
             FROM inc GROUP BY term, source),
         wdf AS (SELECT term, source, a,
               CAST(SUM(a) OVER (PARTITION BY term) AS BIGINT) AS df
             FROM bysrc),
         srcn AS (SELECT source, COUNT(*) AS nd FROM documents
             GROUP BY source),
         tot AS (SELECT COUNT(*) AS n FROM documents),
         sc AS (SELECT source, term, a, df,
               round(CAST(CAST(n AS DECIMAL(38,0)) *
                   ((a * (n - df - nd + a)) - ((df - a) * (nd - a))) *
                   ((a * (n - df - nd + a)) - ((df - a) * (nd - a)))
                 AS DOUBLE) /
               CAST(CAST(df AS DECIMAL(38,0)) * (n - df) * nd * (n - nd)
                 AS DOUBLE), 6) AS chi2
             FROM wdf JOIN srcn USING (source) CROSS JOIN tot
             WHERE df < n),
         rk AS (SELECT source, term, a, df, chi2,
               CAST(row_number() OVER (PARTITION BY source
                 ORDER BY chi2 DESC, term) AS INT) AS rn
             FROM sc)
         SELECT source, rn, term, a AS n_in, df, chi2
         FROM rk WHERE rn <= 10 ORDER BY source, rn"""
  )
}
