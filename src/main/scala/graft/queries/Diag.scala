package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Round-6 additions, batch 2 (SURVEY §2.29): corpus and signal
  * diagnostics — the gram-novelty curve (is the crawl saturating?), a
  * per-key scalar Kalman filter (the trailing-window state-fold family:
  * EWMA → Holt → CUSUM → Kalman), and a Zipf-law fit over the term
  * frequencies (the one-row corpus health number every scaling-law
  * paper quotes).
  */
object Diag {

  // Kalman constants, single-defined and interpolated into BOTH engines
  // (the CUSUM convention): random-walk process noise Q, observation
  // noise R, prior variance P0.
  private[graft] val KQ = "4.0"
  private[graft] val KR = "25.0"
  private[graft] val KP0 = "100.0"

  /** The same predict/gain/correct step as plain JVM arithmetic —
    * operation-for-operation the fold template above, so the streaming
    * processor (Streams.KalmanProcessor) and the SQL folds are bitwise
    * comparable. */
  private[graft] def kalmanScalaStep(x: Double, p: Double, z: Double): (Double, Double) = {
    val pp = p + KQ.toDouble
    val k = pp / (pp + KR.toDouble)
    (x + k * (z - x), (1.0 - k) * pp)
  }

  /** One Kalman step over accumulator [x, P]: predict P+Q, gain
    * K=(P+Q)/(P+Q+R), correct toward observation `z`. Spark HOF lambda
    * body and DuckDB list_reduce body are generated from THIS template so
    * the two engines provably fold the same arithmetic. `acc(i)`/`e`
    * spellings differ per engine, hence the two parameter slots. */
  private[graft] def kalmanStep(acc: Int => String, z: String): (String, String) = {
    val pp = s"(${acc(1)} + $KQ)"
    val k = s"($pp / ($pp + $KR))"
    (s"${acc(0)} + $k * ($z - ${acc(0)})", s"(1.0 - $k) * $pp")
  }

  val queries: Map[String, Q] = Map(

    // Gram-novelty curve: per (source, 100-doc bucket), the share of
    // distinct 5-grams whose FIRST corpus occurrence falls in that
    // bucket — the saturation diagnostic a crawl pipeline watches (new
    // data stops contributing novel n-grams ⇒ stop crawling that
    // source). First-occurrence is a window-min over the gram
    // partition, NOT an aggregate + join-back: the agg/join form gave
    // the corpus-scale explode two consumers and shuffled gram keys
    // three times (agg + both SMJ sides with their sorts — measured
    // 1.6 s in-bench); the window folds it to ONE explode and ONE gram
    // shuffle. No broadcast of corpus-scale state, output ∝ N/100.
    "q_llm_gram_novelty" -> ((s, d) => {
      val g = Tables(s, d, "documents").withColumn("tk", textTokens)
        .select(col("doc_id"), col("source"),
          explode(array_distinct(gramsN(5))).as("g"))
      g.withColumn("first_doc",
          min(col("doc_id")).over(Window.partitionBy("g")))
        .groupBy(col("source"), expr("doc_id div 100").as("bucket"))
        .agg(count(lit(1)).as("n_grams"),
          sum((col("doc_id") === col("first_doc")).cast("long")).as("n_novel"))
        .select(col("source"), col("bucket"), col("n_grams"), col("n_novel"),
          round(col("n_novel") * lit(100.0) / col("n_grams"), 6)
            .as("novelty_pct"))
        .orderBy("source", "bucket")
    }),

    // Scalar Kalman filter per user over the trailing-50 window
    // (random-walk state, noisy observation): the [x̂, P] fold seeded at
    // [first value, P0], every step the same predict/gain/correct
    // arithmetic in BOTH engines via the shared step template. Keyed
    // window + in-order HOF fold — constant state per row, the
    // EWMA/Holt/CUSUM scaling story.
    "q_ts_kalman" -> ((s, d) => {
      val (xs, ps) = kalmanStep(i => s"acc[$i]", "v")
      val w = Window.partitionBy("user_id").orderBy("event_id")
        .rowsBetween(-49, Window.currentRow)
      Tables(s, d, "events")
        .withColumn("vs", collect_list(col("value")).over(w))
        .withColumn("st", expr(
          s"""aggregate(
               CASE WHEN size(vs) < 2 THEN CAST(array() AS ARRAY<DOUBLE>)
                    ELSE slice(vs, 2, size(vs) - 1) END,
               array(vs[0], CAST($KP0 AS DOUBLE)),
               (acc, v) -> array($xs, $ps))"""))
        .select(col("user_id"), col("event_id"),
          col("st")(0).as("x_hat"), col("st")(1).as("p_cov"),
          ((col("st")(1) + lit(KQ.toDouble)) /
            (col("st")(1) + lit(KQ.toDouble) + lit(KR.toDouble))).as("gain"))
        .orderBy("event_id")
    }),

    // Preference-pair construction — the DPO/RLHF data-prep step: per
    // prompt group (source), pair the highest- and lowest-quality
    // documents as (chosen, rejected) with their score margin. Quality
    // is the shared integer-micro-unit U.qualityE6 (no float ordering
    // anywhere), the per-group arg-extremes are house min/max(struct)
    // with doc_id tiebreaks, and the whole thing is one keyed aggregate
    // over the corpus — dim-bounded output, margin > 0 guaranteed by
    // construction unless a group is single-valued (none at gate
    // scales; DiagSpec asserts).
    "q_llm_preference_pairs" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("source"), col("doc_id"), qualityE6.as("q"))
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"),
          max(struct(col("q").as("q"), (-col("doc_id")).as("nid"))).as("b"),
          min(struct(col("q").as("q"), col("doc_id").as("did"))).as("w"))
        .select(col("source"), col("n_docs"),
          (-col("b.nid")).as("chosen_doc"), col("b.q").as("chosen_q"),
          col("w.did").as("rejected_doc"), col("w.q").as("rejected_q"),
          (col("b.q") - col("w.q")).as("margin_e6"))
        .orderBy("source")),

    // Two-proportion z-test over a deterministic A/B split: users hash
    // into arms by md5 parity (the house keyed-draw discipline), a
    // "conversion" is ≥14 purchase events (the corpus's median purchase
    // count — every user here has SOME purchase, so "any purchase"
    // would put both rates at 1.0 and the pooled variance at 0: the
    // idle-customers vacuity lesson applied to a test statistic), and
    // the readout
    // is the pooled two-proportion z — the experiment-readout primitive
    // next to the KS drift test. One pass over events (per-user
    // any-purchase aggregate rides the user_id shuffle), then a 2-row
    // arm aggregate and a 1-row closed form off exact integers;
    // divisions/sqrt are IEEE-identical cross-engine.
    "q_dq_ab_test" -> ((s, d) => {
      val users = Tables(s, d, "events")
        .groupBy("user_id")
        .agg((sum((col("event_type") === "purchase").cast("long")) >= 14)
          .cast("long").as("conv"))
        .withColumn("arm", U.abArm)
      val arms = users.groupBy("arm")
        .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
      val a = arms.where(col("arm") === 0)
        .select(col("n").as("n_a"), col("c").as("conv_a"))
      val b = arms.where(col("arm") === 1)
        .select(col("n").as("n_b"), col("c").as("conv_b"))
      a.crossJoin(broadcast(b))
        .withColumn("p_a", round(col("conv_a").cast("double") / col("n_a"), 6))
        .withColumn("p_b", round(col("conv_b").cast("double") / col("n_b"), 6))
        .withColumn("pp",
          (col("conv_a") + col("conv_b")).cast("double") /
            (col("n_a") + col("n_b")).cast("double"))
        .select(col("n_a"), col("conv_a"), col("n_b"), col("conv_b"),
          col("p_a"), col("p_b"),
          round((col("p_a") - col("p_b")) /
            sqrt(col("pp") * (lit(1.0) - col("pp")) *
              (lit(1.0) / col("n_a") + lit(1.0) / col("n_b"))), 6).as("z"))
    }),

    // Welch's unequal-variance t-test on a CONTINUOUS metric (per-user
    // total purchase cents) between the SAME md5 arms as q_dq_ab_test
    // (U.abArm — one split definition, so the dashboard's rate and
    // mean describe one experiment): the standard A/B companion when
    // the metric is revenue rather than conversion. Per-arm moments
    // are EXACT (Σv as BIGINT, Σv² in DECIMAL(38,0) — v² alone reaches
    // 1e14, so a BIGINT sum wraps within the claimed scale posture);
    // every downstream double (means, variances, t, Welch–Satterthwaite
    // df) is derived from those exact operands with ONE pinned
    // operation order mirrored literally in the oracle, then rounded.
    // One user-keyed pass + a 1-row conditional arm aggregate (both
    // arms' moments in ONE global agg — an empty arm yields n=0, never
    // a silently-empty join of filtered singletons) + a 1-row closed
    // form. Degenerate splits fail LOUDLY as nulls, not NaN/Infinity:
    // a variance needs n > 1 (when() guards va/vb) and the t/df
    // divisions are guarded on qa + qb > 0, so an arm with 0/1
    // purchasing users — or a zero-variance metric — reports null
    // t/df on a still-present row with its n_a/n_b visible.
    "q_dq_ab_welch" -> ((s, d) => {
      val users = Tables(s, d, "events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("v"))
        .withColumn("arm", U.abArm)
      def inArm(a: Int, c: org.apache.spark.sql.Column) =
        when(col("arm") === a, c)
      users.agg(
          sum(inArm(0, lit(1L)).otherwise(0L)).as("n_a"),
          sum(inArm(0, col("v"))).as("s1a"),
          sum(inArm(0, col("v").cast(DEC38) * col("v"))).as("s2a"),
          sum(inArm(1, lit(1L)).otherwise(0L)).as("n_b"),
          sum(inArm(1, col("v"))).as("s1b"),
          sum(inArm(1, col("v").cast(DEC38) * col("v"))).as("s2b"))
        .withColumn("ma", col("s1a").cast("double") / col("n_a"))
        .withColumn("mb", col("s1b").cast("double") / col("n_b"))
        .withColumn("va", when(col("n_a") > 1, (col("s2a").cast("double") -
          col("s1a").cast("double") * col("s1a") / col("n_a")) /
          (col("n_a") - 1)))
        .withColumn("vb", when(col("n_b") > 1, (col("s2b").cast("double") -
          col("s1b").cast("double") * col("s1b") / col("n_b")) /
          (col("n_b") - 1)))
        .withColumn("qa", col("va") / col("n_a"))
        .withColumn("qb", col("vb") / col("n_b"))
        .select(col("n_a"), col("n_b"),
          round(col("ma") / 100.0, 6).as("mean_a"),
          round(col("mb") / 100.0, 6).as("mean_b"),
          when(col("qa") + col("qb") > 0,
            round((col("ma") - col("mb")) / sqrt(col("qa") + col("qb")), 6))
            .as("t"),
          when(col("qa") + col("qb") > 0,
            round((col("qa") + col("qb")) * (col("qa") + col("qb")) /
              (col("qa") * col("qa") / (col("n_a") - 1) +
                col("qb") * col("qb") / (col("n_b") - 1)), 6)).as("df"))
    }),

    // Poisson-bootstrap confidence intervals per A/B arm (round 9) —
    // the nonparametric companion to q_dq_ab_test/q_dq_ab_welch on the
    // SAME U.abArm split (one experiment, three readings — the
    // dashboard-consistency discipline). The distributed bootstrap as
    // published (Poisson(1) resample weights instead of multinomial
    // draws — the streaming/massive-data form): each of B=64 replicas
    // assigns every user a deterministic md5-uniform Poisson(1) weight,
    // the replica's weighted mean re-estimates the arm mean, and the
    // CI is the nearest-rank 2.5/97.5 percentile band over replica
    // means. Why a pipeline wants it next to Welch: the t-interval
    // assumes near-normal means; per-user revenue is heavy-tailed, and
    // the bootstrap band prices the actual sampling spread.
    //
    // Determinism without libm: the Poisson(1) inverse CDF is SEVEN
    // HARDCODED integer thresholds on an md5-uniform in [0, 1e6)
    // (367879 = ⌈e⁻¹·1e6⌉-ish cumulative grid, k capped at 7 — tail
    // mass 8.3e-5 documented), identical in both engines by
    // construction; percentile indices are integer ceil divisions
    // ((25·n_b+999) div 1000), never a float quantile.
    //
    // Scale shape: ONE user-keyed pass (∝N events → ∝users frame),
    // then the 64-way replica explode fans out the AGGREGATED per-user
    // frame (64·users rows, map-side weights, partial-agg combine into
    // 128 (arm, b) cells) — the bootstrap never touches raw events
    // twice; the rank window runs over a 64-row-per-arm bounded frame.
    "q_dq_bootstrap_ci" -> ((s, d) => {
      val users = Tables(s, d, "events")
        .where(col("event_type") === "purchase")
        .groupBy("user_id")
        .agg(sum(round(col("value") * 100).cast("long")).as("v"))
        .withColumn("arm", U.abArm)
      val u = expr(s"${hexFold(
        "md5(concat('boot', CAST(b AS STRING), '|', CAST(user_id AS STRING)))",
        12)} % 1000000")
      val w = when(u < 367879, 0L).when(u < 735759, 1L)
        .when(u < 919699, 2L).when(u < 981012, 3L).when(u < 996340, 4L)
        .when(u < 999406, 5L).when(u < 999917, 6L).otherwise(7L)
      val reps = users
        .select(col("arm"), col("user_id"), col("v"),
          explode(expr("sequence(0L, 63L)")).as("b"))
        .select(col("arm"), col("b"), (w * col("v")).as("wv"), w.as("w"))
        .groupBy("arm", "b")
        .agg(sum(col("wv")).as("sw"), sum(col("w")).as("ww"))
        .where(col("ww") > 0)
        .select(col("arm"), col("b"),
          round(col("sw").cast("double") / (col("ww") * 100.0), 6).as("m"))
      val wnd = Window.partitionBy("arm").orderBy(col("m"), col("b"))
      val nb = reps.groupBy("arm").agg(count(lit(1)).as("n_replicas"))
      val ci = reps.withColumn("rn", row_number().over(wnd))
        .join(broadcast(nb), "arm")
        .groupBy("arm")
        .agg(min(when(col("rn") === expr("(n_replicas * 25 + 999) div 1000"),
            col("m"))).as("ci_lo"),
          min(when(col("rn") === expr("(n_replicas * 975 + 999) div 1000"),
            col("m"))).as("ci_hi"))
      users.groupBy("arm")
        .agg(count(lit(1)).as("n_users"), sum(col("v")).as("sv"))
        .select(col("arm"), col("n_users"),
          round(col("sv").cast("double") / (col("n_users") * 100.0), 6)
            .as("mean_value"))
        .join(broadcast(ci), "arm")
        .join(broadcast(nb), "arm")
        .orderBy("arm")
    }),

    // k-anonymity audit (SURVEY §2.34) — the re-identification check a
    // governance pipeline runs before releasing a table: group rows by
    // a quasi-identifier tuple (here segment × nation × $2500 balance
    // bracket — the QI choice is the operator's parameter, not its
    // semantics) and report, per segment, how many equivalence classes
    // fall below k = 5 and how many rows they expose. The companion to
    // q_dq_dp_release (DP protects aggregates; k-anonymity measures the
    // raw release). Two keyed aggregates — QI cells then the ≤5-row
    // segment rollup — nothing else; the QI cell count is bounded by
    // the QI domain, not N. Balance rides the exact-cents cast
    // (round·100 → BIGINT, the ks_drift convention) and the bracket is
    // floor over an IEEE division both engines compute identically
    // (div/`//` would disagree on negative balances: Spark truncates
    // toward zero, DuckDB floors). At the 150-row sf0.001 fixture every
    // class is small — the honest k-anonymity answer for tiny data; the
    // mixed regime (2 risky classes of 625 at sf0.1) is asserted by the
    // spec at gate scale.
    "q_dq_k_anonymity" -> ((s, d) => {
      val cls = Tables(s, d, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_nationkey"),
          expr("""CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                  / 250000.0) AS BIGINT)""").as("br"))
        .groupBy("seg", "c_nationkey", "br").agg(count(lit(1)).as("n"))
      cls.groupBy("seg").agg(
          sum(col("n")).as("n_rows"),
          count(lit(1)).as("n_classes"),
          sum(when(col("n") < 5, 1L).otherwise(0L)).as("n_small"),
          sum(when(col("n") < 5, col("n")).otherwise(0L)).as("rows_at_risk"),
          min(col("n")).as("min_class"), max(col("n")).as("max_class"))
        .select(col("seg"), col("n_rows"), col("n_classes"), col("n_small"),
          col("rows_at_risk"),
          round(col("rows_at_risk") * lit(100.0) / col("n_rows"), 6)
            .as("risk_pct"),
          col("min_class"), col("max_class"))
        .orderBy("seg")
    }),

    // l-diversity audit (SURVEY §2.35) — the homogeneity-attack check
    // k-anonymity misses: a class of 5 rows that all share one segment
    // is k-safe yet leaks the sensitive value outright. QI here is
    // nation × $250 balance bracket (finer than k_anonymity's $2500 —
    // measured: the coarse bracket saturates to l=5 everywhere at
    // sf0.1, which would make the risk predicate vacuous at bench
    // scale; $250 keeps a mixed regime at every probed scale) and the
    // SENSITIVE attribute is the segment. Per nation: classes,
    // homogeneous classes (l=1), classes below l=3, the rows they
    // expose, and the l range. Same two-aggregate shape as
    // q_dq_k_anonymity — QI-domain-bounded cells, ≤25-row rollup, the
    // exact-cents floor-bracket convention.
    "q_dq_l_diversity" -> ((s, d) => {
      val cls = Tables(s, d, "customer")
        .select(col("c_nationkey"),
          expr("""CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                  / 25000.0) AS BIGINT)""").as("br"),
          col("c_mktsegment"))
        .groupBy("c_nationkey", "br")
        .agg(count(lit(1)).as("n"),
          countDistinct(col("c_mktsegment")).as("l"))
      cls.groupBy("c_nationkey").agg(
          sum(col("n")).as("n_rows"),
          count(lit(1)).as("n_classes"),
          sum(when(col("l") === 1, 1L).otherwise(0L)).as("n_homog"),
          sum(when(col("l") < 3, 1L).otherwise(0L)).as("n_below"),
          sum(when(col("l") < 3, col("n")).otherwise(0L)).as("rows_exposed"),
          min(col("l")).as("min_l"), max(col("l")).as("max_l"))
        .select(col("c_nationkey"), col("n_rows"), col("n_classes"),
          col("n_homog"), col("n_below"), col("rows_exposed"),
          round(col("rows_exposed") * lit(100.0) / col("n_rows"), 6)
            .as("exposure_pct"),
          col("min_l"), col("max_l"))
        .orderBy("c_nationkey")
    }),

    // Differential-privacy release mechanism over the per-language
    // counts: the Laplace mechanism (ε=1, sensitivity 1 — one document
    // changes one count by one) applied through the inverse-CDF
    // transform of a keyed md5 micro-draw. The DRAW is deterministic
    // here — the house testability discipline for anything
    // "random" (the weighted-sampling / shard-shuffle convention); a
    // production release swaps the keyed hash for a fresh RNG per
    // release and nothing else changes. Dim-bounded aggregate, one
    // corpus pass, noise on the 1e-6 grid via the entropy round-then-sum
    // libm rule.
    "q_dq_dp_release" -> ((s, d) =>
      Tables(s, d, "documents")
        .groupBy("lang").agg(count(lit(1)).as("n_true"))
        .withColumn("u", expr(
          s"CAST((${hexFold("md5(concat('dp', lang))", 13)} % 999999) + 1 AS DOUBLE) / 1000000.0"))
        .withColumn("noise", expr(
          "round(-(1.0 / 1.0) * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)), 6)"))
        .select(col("lang"), col("n_true"), col("noise"),
          round(col("n_true") + col("noise"), 6).as("released"))
        .orderBy("lang")),

    // Filter-cascade attrition funnel: the per-stage survival card every
    // curation pipeline logs (token-length band → target language →
    // quality logit). The THREE stages are counted in ONE corpus pass as
    // nested conditional sums (a doc survives stage k iff it survives
    // all previous), then the 1-row aggregate reshapes to one row per
    // stage via a bounded inline explode — the corpus is never scanned
    // per stage. Quality scoring is the shared U.qualityLogit, so the
    // funnel can never drift from the declared classifier.
    "q_llm_filter_cascade" -> ((s, d) => {
      val docs = Tables(s, d, "documents").withColumn("tk", textTokens)
        .select(size(col("tk")).as("ntok"), col("lang"),
          qualityLogit.as("logit"))
      val c1 = col("ntok").between(5, 500)
      val c2 = c1 && col("lang").isin("en", "es", "de", "fr", "zh")
      val c3 = c2 && col("logit") > 0.0
      docs.agg(count(lit(1)).as("n0"),
          sum(c1.cast("long")).as("n1"),
          sum(c2.cast("long")).as("n2"),
          sum(c3.cast("long")).as("n3"))
        .select(explode(expr(
          """array(named_struct('stage', 1, 'stage_name', 'length_band',
                     'n_in', n0, 'n_kept', n1),
                   named_struct('stage', 2, 'stage_name', 'target_lang',
                     'n_in', n1, 'n_kept', n2),
                   named_struct('stage', 3, 'stage_name', 'quality_logit',
                     'n_in', n2, 'n_kept', n3))""")).as("e"))
        .select(col("e.stage").as("stage"), col("e.stage_name").as("stage_name"),
          col("e.n_in").as("n_in"), col("e.n_kept").as("n_kept"),
          round(col("e.n_kept") * lit(100.0) / col("e.n_in"), 6).as("pct_kept"))
        .orderBy("stage")
    }),

    // Exact two-sample Kolmogorov–Smirnov drift statistic between the
    // purchase-value and click-value distributions — the distribution-
    // shift test a pipeline runs between two crawls/snapshots before
    // mixing them. ENTIRELY integer-exact: values on the 1e-6 grid,
    // D = max |F̂x − F̂y| evaluated at every distinct value as the cross-
    // multiplied numerator |cumx·ny − cumy·nx| (no float CDFs compared
    // anywhere). Global running counts WITHOUT a global window: the
    // curriculum/ntile distributed-rank construction — gridBin equi-width
    // buckets over broadcast bounds, prefixOffsets triangle join for the
    // per-bin starting counts of EACH sample, then per-bin windows. The
    // argmax is a 1-row struct-min aggregate. Output: one row with both
    // sample sizes, the exact numerator, the attaining grid value, and
    // the derived double D. BIGINT bound (the embed_standardize
    // discipline): the cross-multiplied numerator is ≤ nx·ny, which
    // overflows 2^63 once BOTH samples exceed ~3e9 rows — far past every
    // probed scale, and ~100× past the 100 TB events table's row count
    // per event_type. Past that bound the same query runs with the
    // products in DECIMAL(38,0) (nx·ny ≤ 8.5e37 < 10^38) on both
    // engines; BIGINT keeps the argmax in codegen'd long arithmetic at
    // every realistic scale, exactly as the Σg² note on
    // q_llm_embed_standardize prescribes.
    "q_dq_ks_drift" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .where(col("event_type").isin("purchase", "click"))
        .select((col("event_type") === "purchase").cast("long").as("g"),
          expr("CAST(round(value * 1000000.0) AS BIGINT)").as("v"))
      val dv = ev.groupBy("v").agg(sum(col("g")).as("cx"),
        (count(lit(1)) - sum(col("g"))).as("cy"))
      val tot = dv.agg(sum("cx").as("nx"), sum("cy").as("ny"))
      val bounds = dv.agg(min("v").as("lo"), max("v").as("hi"))
      val binned = dv.crossJoin(broadcast(bounds))
        .withColumn("b", gridBin(col("v"), col("lo"), col("hi"), 32))
      val counts = binned.groupBy("b")
        .agg(sum("cx").as("sx"), sum("cy").as("sy"))
      val offx = prefixOffsets(counts.select(col("b"), col("sx").as("cnt")),
        "b", "cnt").select(col("b"), col("off").as("offx"))
      val offy = prefixOffsets(counts.select(col("b"), col("sy").as("cnt")),
        "b", "cnt").select(col("b"), col("off").as("offy"))
      val wb = Window.partitionBy("b").orderBy("v")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      binned.join(broadcast(offx), "b").join(broadcast(offy), "b")
        .withColumn("cumx", col("offx") + sum(col("cx")).over(wb))
        .withColumn("cumy", col("offy") + sum(col("cy")).over(wb))
        .crossJoin(broadcast(tot))
        .withColumn("dnum",
          abs(col("cumx") * col("ny") - col("cumy") * col("nx")))
        .groupBy("nx", "ny")
        .agg(min(struct((-col("dnum")).as("nd"), col("v").as("v"))).as("m"))
        .select(col("nx").as("n_x"), col("ny").as("n_y"),
          (-col("m.nd")).as("d_num"), col("m.v").as("at_v"),
          ((-col("m.nd")).cast("double") /
            (col("nx") * col("ny")).cast("double")).as("d_stat"))
    }),

    // Population stability index — the bin-based drift metric next to
    // the exact KS statistic (PSI is what a feature-monitoring system
    // actually alerts on; KS is the hypothesis test): the purchase and
    // click value distributions over the SAME 1e-6-grid values and the
    // SAME gridBin equi-width construction as q_dq_ks_drift (10 bins,
    // broadcast min/max bounds), Laplace-smoothed proportions
    // (p = (n+1)/(N+nbins) — the standard guard against empty-bin
    // log-of-zero), per-bin term (pa − pb)·ln(pa/pb) on the 1e-9 grid
    // (the zipf/dp_release libm round rule). One keyed aggregate over
    // the events scan + a 10-row report; the consumer sums psi_term.
    // The report covers ALL 10 bins — the declared bin domain (a
    // 10-row range) left-joins the counts with coalesce-to-0, so a bin
    // empty in BOTH samples still contributes its (nonzero, when
    // ta ≠ tb) smoothed psi_term instead of silently vanishing from
    // the consumer's summed PSI. Output per bin — the report a drift
    // dashboard renders — never a global window anywhere (bins come
    // from the broadcast-bounds formula, not a rank).
    "q_dq_psi" -> ((s, d) => {
      val ev = Tables(s, d, "events")
        .where(col("event_type").isin("purchase", "click"))
        .select((col("event_type") === "purchase").cast("long").as("g"),
          expr("CAST(round(value * 1000000.0) AS BIGINT)").as("v"))
      val bounds = ev.agg(min("v").as("lo"), max("v").as("hi"))
      val counts = ev.crossJoin(broadcast(bounds))
        .withColumn("bin",
          gridBin(col("v"), col("lo"), col("hi"), 10).cast("long"))
        .groupBy("bin")
        .agg(sum(col("g")).as("n_a"),
          (count(lit(1)) - sum(col("g"))).as("n_b"))
      val full = s.range(10).select(col("id").as("bin"))
        .join(broadcast(counts), Seq("bin"), "left")
        .select(col("bin"), coalesce(col("n_a"), lit(0L)).as("n_a"),
          coalesce(col("n_b"), lit(0L)).as("n_b"))
      val tot = counts.agg(sum("n_a").as("ta"), sum("n_b").as("tb"))
      full.crossJoin(broadcast(tot))
        .withColumn("pa", (col("n_a") + 1).cast("double") / (col("ta") + 10))
        .withColumn("pb", (col("n_b") + 1).cast("double") / (col("tb") + 10))
        .select(col("bin"), col("n_a"), col("n_b"),
          round(col("pa"), 9).as("p_a"), round(col("pb"), 9).as("p_b"),
          round((col("pa") - col("pb")) * log(col("pa") / col("pb")), 9)
            .as("psi_term"))
        .orderBy("bin")
    }),

    // Lagged cross-correlation between the hourly purchase-value and
    // click-value series: Pearson r at lags 0..5 hours — the "does
    // clicking lead buying" diagnostic. Hourly sums are exact decimal
    // (one keyed agg over events), the lag alignment is an equi-join on
    // the shifted hour (lag explodes 6× on the BOUNDED hourly frame,
    // never on raw events), and r comes off the zipf_fit discipline:
    // products rounded to the 1e-6 grid, exact decimal sums, one
    // closed-form double per lag.
    "q_ts_xcorr" -> ((s, d) => {
      val hourly = Tables(s, d, "events")
        .groupBy((epochS(col("ts")) - pmod(epochS(col("ts")), lit(3600L)))
          .as("hr"), col("event_type"))
        .agg(dsum(col("value")).as("v"))
      val p = hourly.where(col("event_type") === "purchase")
        .select(col("hr"), round(col("v"), 6).as("x"))
      val c = hourly.where(col("event_type") === "click")
        .select(col("hr").as("chr"), round(col("v"), 6).as("y"))
      def s6(cc: org.apache.spark.sql.Column) =
        sum(cc.cast(org.apache.spark.sql.types.DecimalType(28, 6))).cast("double")
      p.select(col("hr"), col("x"),
          explode(sequence(lit(0), lit(5))).as("lag"))
        .join(c, col("chr") === col("hr") - col("lag") * 3600L)
        .groupBy("lag")
        .agg(count(lit(1)).as("n_hours"), s6(col("x")).as("sx"),
          s6(col("y")).as("sy"), s6(round(col("x") * col("y"), 6)).as("sxy"),
          s6(round(col("x") * col("x"), 6)).as("sxx"),
          s6(round(col("y") * col("y"), 6)).as("syy"))
        .select(col("lag"), col("n_hours"),
          round((col("n_hours") * col("sxy") - col("sx") * col("sy")) /
            sqrt((col("n_hours") * col("sxx") - col("sx") * col("sx")) *
              (col("n_hours") * col("syy") - col("sy") * col("sy"))), 6)
            .as("r"))
        .orderBy("lag")
    }),

    // Zipf-law fit: least-squares slope/intercept of log(freq) against
    // log(rank) over the top-1000 terms — the corpus-health scalar
    // (natural text ⇒ slope ≈ −1). Top-1000 via TakeOrdered heap (never
    // a vocabulary sort), rank WINDOWLESSLY via the 1000×1000 broadcast
    // triangle count (the bpe_pairs rule — no single-partition window),
    // log terms rounded to the 1e-9 grid and summed exactly so the
    // closed-form slope is the same double in both engines.
    "q_llm_zipf_fit" -> ((s, d) => {
      val top = Tables(s, d, "documents")
        .select(explode(textTokens).as("term"))
        .groupBy("term").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("term")).limit(1000)
      val ranked = top.join(
          broadcast(top.select(col("term").as("t2"), col("cnt").as("c2"))),
          col("c2") > col("cnt") ||
            (col("c2") === col("cnt") && col("t2") < col("term")), "left")
        .groupBy("term", "cnt")
        .agg((count(col("t2")) + 1).as("rnk"))
        .select(
          expr("round(ln(CAST(rnk AS DOUBLE)), 9)").as("lx"),
          expr("round(ln(CAST(cnt AS DOUBLE)), 9)").as("ly"))
      def s9(c: org.apache.spark.sql.Column) =
        sum(c.cast(org.apache.spark.sql.types.DecimalType(28, 9))).cast("double")
      ranked.agg(count(lit(1)).as("n"), s9(col("lx")).as("sx"),
          s9(col("ly")).as("sy"),
          s9(round(col("lx") * col("ly"), 9)).as("sxy"),
          s9(round(col("lx") * col("lx"), 9)).as("sxx"))
        .select(col("n").as("n_terms"),
          round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6).as("slope"),
          round((col("sy") - (col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")) * col("sx")) /
            col("n"), 6).as("intercept"))
    })
  )

  val oracle: Map[String, String] = {
    // DuckDB lists are 1-based — shift the accumulator accessor
    val (xs, ps) = kalmanStep(i => s"acc[${i + 1}]", "e[1]")
    Map(
      "q_dq_k_anonymity" ->
        """WITH cls AS (SELECT c_mktsegment AS seg, c_nationkey,
               CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                 / 250000.0) AS BIGINT) AS br,
               COUNT(*) AS n
             FROM customer GROUP BY seg, c_nationkey, br)
           SELECT seg, CAST(SUM(n) AS BIGINT) AS n_rows,
             COUNT(*) AS n_classes,
             CAST(SUM(CASE WHEN n < 5 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_small,
             CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               AS rows_at_risk,
             round(CAST(SUM(CASE WHEN n < 5 THEN n ELSE 0 END) AS BIGINT)
               * 100.0 / CAST(SUM(n) AS BIGINT), 6) AS risk_pct,
             min(n) AS min_class, max(n) AS max_class
           FROM cls GROUP BY seg ORDER BY seg""",

      "q_dq_l_diversity" ->
        """WITH cls AS (SELECT c_nationkey,
               CAST(floor(CAST(round(c_acctbal * 100) AS BIGINT)
                 / 25000.0) AS BIGINT) AS br,
               COUNT(*) AS n, COUNT(DISTINCT c_mktsegment) AS l
             FROM customer GROUP BY c_nationkey, br)
           SELECT c_nationkey, CAST(SUM(n) AS BIGINT) AS n_rows,
             COUNT(*) AS n_classes,
             CAST(SUM(CASE WHEN l = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_homog,
             CAST(SUM(CASE WHEN l < 3 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_below,
             CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
               AS rows_exposed,
             round(CAST(SUM(CASE WHEN l < 3 THEN n ELSE 0 END) AS BIGINT)
               * 100.0 / CAST(SUM(n) AS BIGINT), 6) AS exposure_pct,
             min(l) AS min_l, max(l) AS max_l
           FROM cls GROUP BY c_nationkey ORDER BY c_nationkey""",

      "q_llm_gram_novelty" ->
        s"""WITH dtk AS (SELECT doc_id, source, string_split(text, ' ') AS tk
               FROM documents),
           gr AS (SELECT doc_id, source,
               unnest(list_distinct(${oGramsN(5)})) AS g FROM dtk),
           fm AS (SELECT doc_id, source,
               MIN(doc_id) OVER (PARTITION BY g) AS first_doc FROM gr)
           SELECT source, CAST(doc_id // 100 AS BIGINT) AS bucket,
             COUNT(*) AS n_grams,
             CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
               AS BIGINT) AS n_novel,
             round(CAST(SUM(CASE WHEN doc_id = first_doc THEN 1 ELSE 0 END)
               AS BIGINT) * 100.0 / COUNT(*), 6) AS novelty_pct
           FROM fm
           GROUP BY source, bucket ORDER BY source, bucket""",

      "q_ts_kalman" ->
        s"""WITH w AS (SELECT user_id, event_id,
               list(value) OVER (PARTITION BY user_id ORDER BY event_id
                 ROWS BETWEEN 49 PRECEDING AND CURRENT ROW) AS vs
             FROM events),
           f AS (SELECT user_id, event_id,
               list_reduce(
                 list_prepend([vs[1], $KP0],
                   list_transform(vs[2:], x -> [x])),
                 (acc, e) -> [$xs, $ps]) AS st
             FROM w)
           SELECT user_id, event_id, st[1] AS x_hat, st[2] AS p_cov,
             (st[2] + $KQ) / (st[2] + $KQ + $KR) AS gain
           FROM f ORDER BY event_id""",

      "q_llm_preference_pairs" ->
        s"""WITH k AS (SELECT source, doc_id, $oQualityE6 AS q FROM documents),
           b AS (SELECT source, doc_id AS chosen_doc, q AS chosen_q
                 FROM (SELECT *, row_number() OVER (PARTITION BY source
                   ORDER BY q DESC, doc_id) AS rk FROM k) WHERE rk = 1),
           w AS (SELECT source, doc_id AS rejected_doc, q AS rejected_q
                 FROM (SELECT *, row_number() OVER (PARTITION BY source
                   ORDER BY q, doc_id) AS rk FROM k) WHERE rk = 1),
           n AS (SELECT source, COUNT(*) AS n_docs FROM k GROUP BY source)
           SELECT source, n_docs, chosen_doc, chosen_q,
             rejected_doc, rejected_q,
             chosen_q - rejected_q AS margin_e6
           FROM n JOIN b USING (source) JOIN w USING (source)
           ORDER BY source""",

      "q_dq_ab_test" ->
        s"""WITH u AS (SELECT user_id,
               CASE WHEN SUM(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
                 >= 14 THEN 1 ELSE 0 END AS conv,
               ${U.oAbArm} AS arm
             FROM events GROUP BY user_id),
           arms AS (SELECT arm, COUNT(*) AS n, CAST(SUM(conv) AS BIGINT) AS c
                    FROM u GROUP BY arm),
           ab AS (SELECT
               (SELECT n FROM arms WHERE arm = 0) AS n_a,
               (SELECT c FROM arms WHERE arm = 0) AS conv_a,
               (SELECT n FROM arms WHERE arm = 1) AS n_b,
               (SELECT c FROM arms WHERE arm = 1) AS conv_b),
           p AS (SELECT *, round(CAST(conv_a AS DOUBLE) / n_a, 6) AS p_a,
                   round(CAST(conv_b AS DOUBLE) / n_b, 6) AS p_b,
                   CAST(conv_a + conv_b AS DOUBLE)
                     / CAST(n_a + n_b AS DOUBLE) AS pp
                 FROM ab)
           SELECT n_a, conv_a, n_b, conv_b, p_a, p_b,
             round((p_a - p_b) / sqrt(pp * (1.0 - pp)
               * (1.0 / n_a + 1.0 / n_b)), 6) AS z
           FROM p""",

      // the double chain (means, variances, t, df) mirrors the Spark
      // operation order LITERALLY — exact integer moments in, one
      // pinned IEEE sequence out
      "q_dq_bootstrap_ci" ->
        s"""WITH u AS (SELECT user_id,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v,
               ${U.oAbArm} AS arm
             FROM events WHERE event_type = 'purchase' GROUP BY user_id),
           wts AS (SELECT u.arm, u.v, bb.b,
               (${U.oHexFold(
                 "md5('boot' || CAST(bb.b AS VARCHAR) || '|' || CAST(u.user_id AS VARCHAR))",
                 12)}) % 1000000 AS h
             FROM u CROSS JOIN (SELECT unnest(range(0, 64)) AS b) bb),
           wc AS (SELECT arm, b, v,
               CASE WHEN h < 367879 THEN 0 WHEN h < 735759 THEN 1
                    WHEN h < 919699 THEN 2 WHEN h < 981012 THEN 3
                    WHEN h < 996340 THEN 4 WHEN h < 999406 THEN 5
                    WHEN h < 999917 THEN 6 ELSE 7 END AS w
             FROM wts),
           rep AS (SELECT arm, b,
               round(CAST(SUM(w * v) AS DOUBLE) / (SUM(w) * 100.0), 6) AS m
             FROM wc GROUP BY arm, b HAVING SUM(w) > 0),
           nb AS (SELECT arm, COUNT(*) AS n_replicas FROM rep GROUP BY arm),
           rk AS (SELECT arm, b, m,
               row_number() OVER (PARTITION BY arm ORDER BY m, b) AS rn
             FROM rep),
           ci AS (SELECT rk.arm,
               MIN(CASE WHEN rn = (n_replicas * 25 + 999) // 1000
                   THEN m END) AS ci_lo,
               MIN(CASE WHEN rn = (n_replicas * 975 + 999) // 1000
                   THEN m END) AS ci_hi
             FROM rk JOIN nb ON nb.arm = rk.arm GROUP BY rk.arm),
           pt AS (SELECT arm, COUNT(*) AS n_users,
               round(CAST(SUM(v) AS DOUBLE) / (COUNT(*) * 100.0), 6)
                 AS mean_value
             FROM u GROUP BY arm)
           SELECT pt.arm, pt.n_users, pt.mean_value, ci.ci_lo, ci.ci_hi,
             nb.n_replicas
           FROM pt JOIN ci ON ci.arm = pt.arm JOIN nb ON nb.arm = pt.arm
           ORDER BY pt.arm""",

      "q_dq_ab_welch" ->
        s"""WITH u AS (SELECT user_id,
               CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v,
               ${U.oAbArm} AS arm
             FROM events WHERE event_type = 'purchase' GROUP BY user_id),
           ab AS (SELECT
               CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
               CAST(SUM(CASE WHEN arm = 0 THEN v END) AS BIGINT) AS s1a,
               SUM(CASE WHEN arm = 0
                 THEN CAST(v AS DECIMAL(38,0)) * v END) AS s2a,
               CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
               CAST(SUM(CASE WHEN arm = 1 THEN v END) AS BIGINT) AS s1b,
               SUM(CASE WHEN arm = 1
                 THEN CAST(v AS DECIMAL(38,0)) * v END) AS s2b
             FROM u),
           m AS (SELECT n_a, n_b,
               CAST(s1a AS DOUBLE) / n_a AS ma,
               CAST(s1b AS DOUBLE) / n_b AS mb,
               CASE WHEN n_a > 1 THEN
                 (CAST(s2a AS DOUBLE) - CAST(s1a AS DOUBLE) * s1a / n_a)
                   / (n_a - 1) END AS va,
               CASE WHEN n_b > 1 THEN
                 (CAST(s2b AS DOUBLE) - CAST(s1b AS DOUBLE) * s1b / n_b)
                   / (n_b - 1) END AS vb
             FROM ab),
           q AS (SELECT n_a, n_b, ma, mb, va / n_a AS qa, vb / n_b AS qb
                 FROM m)
           SELECT n_a, n_b,
             round(ma / 100.0, 6) AS mean_a, round(mb / 100.0, 6) AS mean_b,
             CASE WHEN qa + qb > 0 THEN
               round((ma - mb) / sqrt(qa + qb), 6) END AS t,
             CASE WHEN qa + qb > 0 THEN
               round((qa + qb) * (qa + qb)
                 / (qa * qa / (n_a - 1) + qb * qb / (n_b - 1)), 6) END AS df
           FROM q""",

      "q_dq_dp_release" ->
        s"""WITH c AS (SELECT lang, COUNT(*) AS n_true FROM documents
               GROUP BY lang),
           u AS (SELECT lang, n_true,
               CAST((${oHexFold("md5('dp' || lang)", 13)} % 999999) + 1
                 AS DOUBLE) / 1000000.0 AS u
             FROM c),
           n AS (SELECT lang, n_true,
               round(-(1.0 / 1.0) * sign(u - 0.5)
                 * ln(1.0 - 2.0 * abs(u - 0.5)), 6) AS noise
             FROM u)
           SELECT lang, n_true, noise, round(n_true + noise, 6) AS released
           FROM n ORDER BY lang""",

      "q_llm_filter_cascade" ->
        s"""WITH d AS (SELECT len(string_split(text, ' ')) AS ntok, lang,
               text, string_split(text, ' ') AS tk FROM documents),
           q AS (SELECT ntok, lang, $oQualityLogit AS logit FROM d),
           agg AS (SELECT COUNT(*) AS n0,
               CAST(SUM(CASE WHEN ntok BETWEEN 5 AND 500 THEN 1 ELSE 0 END)
                 AS BIGINT) AS n1,
               CAST(SUM(CASE WHEN ntok BETWEEN 5 AND 500
                   AND lang IN ('en','es','de','fr','zh')
                 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
               CAST(SUM(CASE WHEN ntok BETWEEN 5 AND 500
                   AND lang IN ('en','es','de','fr','zh') AND logit > 0.0
                 THEN 1 ELSE 0 END) AS BIGINT) AS n3
             FROM q)
           SELECT stage, stage_name, n_in, n_kept,
             round(n_kept * 100.0 / n_in, 6) AS pct_kept
           FROM (
             SELECT 1 AS stage, 'length_band' AS stage_name,
               n0 AS n_in, n1 AS n_kept FROM agg
             UNION ALL SELECT 2, 'target_lang', n1, n2 FROM agg
             UNION ALL SELECT 3, 'quality_logit', n2, n3 FROM agg)
           ORDER BY stage""",

      "q_dq_psi" ->
        """WITH ev AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                 AS g,
               CAST(round(value * 1000000.0) AS BIGINT) AS v
             FROM events WHERE event_type IN ('purchase', 'click')),
           bounds AS (SELECT MIN(v) AS lo, MAX(v) AS hi FROM ev),
           counts AS (SELECT
                 CAST(CASE WHEN hi <= lo THEN 9
                      ELSE least(9, CAST(floor((v - lo) / ((hi - lo) / 10))
                        AS INT)) END AS BIGINT) AS bin,
                 CAST(SUM(g) AS BIGINT) AS n_a,
                 CAST(COUNT(*) - SUM(g) AS BIGINT) AS n_b
               FROM ev, bounds GROUP BY 1),
           dom AS (SELECT CAST(range AS BIGINT) AS bin FROM range(10)),
           fullc AS (SELECT dom.bin,
                 CAST(coalesce(counts.n_a, 0) AS BIGINT) AS n_a,
                 CAST(coalesce(counts.n_b, 0) AS BIGINT) AS n_b
               FROM dom LEFT JOIN counts ON counts.bin = dom.bin),
           tot AS (SELECT CAST(SUM(n_a) AS BIGINT) AS ta,
                     CAST(SUM(n_b) AS BIGINT) AS tb FROM counts),
           p AS (SELECT bin, n_a, n_b,
                   CAST(n_a + 1 AS DOUBLE) / (ta + 10) AS pa,
                   CAST(n_b + 1 AS DOUBLE) / (tb + 10) AS pb
                 FROM fullc, tot)
           SELECT bin, n_a, n_b, round(pa, 9) AS p_a, round(pb, 9) AS p_b,
             round((pa - pb) * ln(pa / pb), 9) AS psi_term
           FROM p ORDER BY bin""",

      "q_dq_ks_drift" ->
        """WITH ev AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END
                 AS g,
               CAST(round(value * 1000000.0) AS BIGINT) AS v
             FROM events WHERE event_type IN ('purchase', 'click')),
           dv AS (SELECT v, CAST(SUM(g) AS BIGINT) AS cx,
                    CAST(COUNT(*) - SUM(g) AS BIGINT) AS cy
                  FROM ev GROUP BY v),
           tt AS (SELECT CAST(SUM(cx) AS BIGINT) AS nx,
                    CAST(SUM(cy) AS BIGINT) AS ny FROM dv),
           cum AS (SELECT v,
                    CAST(SUM(cx) OVER (ORDER BY v) AS BIGINT) AS cumx,
                    CAST(SUM(cy) OVER (ORDER BY v) AS BIGINT) AS cumy
                  FROM dv),
           dd AS (SELECT v, abs(cumx * ny - cumy * nx) AS dnum, nx, ny
                  FROM cum, tt),
           mx AS (SELECT nx, ny, dnum, v FROM dd
                  ORDER BY dnum DESC, v LIMIT 1)
           SELECT nx AS n_x, ny AS n_y, CAST(dnum AS BIGINT) AS d_num,
             v AS at_v,
             CAST(dnum AS DOUBLE) / CAST(nx * ny AS DOUBLE) AS d_stat
           FROM mx""",

      "q_ts_xcorr" ->
        """WITH es AS (SELECT (epoch_ms(ts) // 1000) AS s, event_type, value
             FROM events),
           hourly AS (SELECT s - (s % 3600) AS hr, event_type,
               round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS v
             FROM es GROUP BY hr, event_type),
           p AS (SELECT hr, v AS x FROM hourly WHERE event_type = 'purchase'),
           c AS (SELECT hr AS chr, v AS y FROM hourly WHERE event_type = 'click'),
           px AS (SELECT hr, x, lag FROM p, range(0, 6) t(lag)),
           j AS (SELECT lag, hr, x, y
                 FROM px JOIN c ON chr = hr - lag * 3600),
           sm AS (SELECT lag, COUNT(*) AS n_hours,
               CAST(SUM(CAST(x AS DECIMAL(28,6))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(y AS DECIMAL(28,6))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(x * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(round(x * x, 6) AS DECIMAL(28,6))) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(round(y * y, 6) AS DECIMAL(28,6))) AS DOUBLE) AS syy
             FROM j GROUP BY lag)
           SELECT CAST(lag AS INT) AS lag, n_hours,
             round((n_hours * sxy - sx * sy) /
               sqrt((n_hours * sxx - sx * sx) * (n_hours * syy - sy * sy)), 6)
               AS r
           FROM sm ORDER BY lag""",

      "q_llm_zipf_fit" ->
        """WITH tf AS (SELECT term, COUNT(*) AS cnt
             FROM (SELECT unnest(string_split(text, ' ')) AS term
                   FROM documents)
             GROUP BY term ORDER BY cnt DESC, term LIMIT 1000),
           rk AS (SELECT a.term, a.cnt, 1 + COUNT(b.term) AS rnk
                  FROM tf a LEFT JOIN tf b
                    ON b.cnt > a.cnt OR (b.cnt = a.cnt AND b.term < a.term)
                  GROUP BY a.term, a.cnt),
           xy AS (SELECT round(ln(CAST(rnk AS DOUBLE)), 9) AS lx,
                    round(ln(CAST(cnt AS DOUBLE)), 9) AS ly FROM rk),
           sm AS (SELECT COUNT(*) AS n,
               CAST(SUM(CAST(lx AS DECIMAL(28,9))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(ly AS DECIMAL(28,9))) AS DOUBLE) AS sy,
               CAST(SUM(CAST(round(lx * ly, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxy,
               CAST(SUM(CAST(round(lx * lx, 9) AS DECIMAL(28,9))) AS DOUBLE) AS sxx
             FROM xy)
           SELECT n AS n_terms,
             round((n * sxy - sx * sy) / (n * sxx - sx * sx), 6) AS slope,
             round((sy - (n * sxy - sx * sy) / (n * sxx - sx * sx) * sx) / n, 6)
               AS intercept
           FROM sm"""
    )
  }
}
