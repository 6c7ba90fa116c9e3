package graft.queries

import graft.Tables
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import U._

/** Round-8 batch (SURVEY §2.36): dataset-audit operators — the
  * cross-source governance, independence/closeness tests, and series
  * diagnostics a pipeline runs BEFORE it trusts its own corpus.
  *
  * Shared discipline (the house rules): exact integer/decimal moments in,
  * one pinned IEEE sequence out, libm outputs rounded to the 1e-9 grid
  * before any exact sum; every report covers its FULL declared domain
  * (bins/pairs empty of data still report 0 — the q_dq_psi lesson: a
  * consumer summing a report must never silently miss a term); every
  * output carries a deterministic total order.
  *
  * Scale notes per query inline; none of these adds an unbounded
  * intermediate — the expensive passes are single keyed aggregates over
  * the fact scans, and everything downstream is domain-bounded
  * (source pairs, vocab × sources, QI classes, bins, lags).
  */
object Audit {

  private def s9(c: Column): Column =
    sum(c.cast(DecimalType(28, 9))).cast("double")

  /** The deterministic 80/20 document split (keyed md5 draw) — ONE
    * definition (and one DuckDB twin) shared by q_llm_ngram_coverage and
    * q_llm_heldout_ppl: the coverage number and the perplexity number
    * must describe the SAME split or the eval-readiness dashboard pairs
    * a coverage from one experiment with a perplexity from another. */
  private val covSide: Column =
    expr(s"${hexFold("md5(concat('cov', CAST(doc_id AS STRING)))", 13)} % 5")
  private val oCovSide: String =
    s"${oHexFold("md5('cov' || CAST(doc_id AS VARCHAR))", 13)} % 5"

  /** The exact hourly purchase-value series (hr, x), ZERO-FILLED over
    * the observed span — one definition for the PACF and Hurst
    * diagnostics (the xcorr hourly discipline: exact decimal sums
    * rounded once to the 1e-6 grid). Zero-fill is the honest VALUE
    * semantics (an hour with no purchases took zero revenue, it is not
    * missing data) and what makes the diagnostics well-defined on a
    * sparse fixture: without it the lag pairs and R/S chunks silently
    * thin out with the gap pattern. The filled frame is bounded by the
    * TIME SPAN (720 hours here), never by N. */
  private def hourlyPurchase(s: SparkSession, d: String): DataFrame = {
    val raw = Tables(s, d, "events").where(col("event_type") === "purchase")
      .groupBy((epochS(col("ts")) - pmod(epochS(col("ts")), lit(3600L)))
        .as("hr"))
      .agg(dsum(col("value")).as("v"))
      .select(col("hr"), round(col("v"), 6).as("x"))
    raw.agg(min("hr").as("lo"), max("hr").as("hi"))
      .select(explode(expr("sequence(lo, hi, 3600)")).as("hr"))
      .join(raw, Seq("hr"), "left")
      .select(col("hr"), coalesce(col("x"), lit(0.0)).as("x"))
  }

  private val oHourlyPurchase: String =
    """es AS (SELECT (epoch_ms(ts) // 1000) AS sec, value FROM events
              WHERE event_type = 'purchase'),
       hraw AS (SELECT sec - (sec % 3600) AS hr,
           round(CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE), 6) AS x
         FROM es GROUP BY 1),
       span AS (SELECT MIN(hr) AS lo, MAX(hr) AS hi FROM hraw),
       hours AS (SELECT unnest(range(lo, hi + 1, 3600)) AS hr FROM span),
       hourly AS (SELECT hours.hr, coalesce(hraw.x, 0.0) AS x
         FROM hours LEFT JOIN hraw ON hraw.hr = hours.hr)"""

  /** SKETCH twin of q_llm_source_overlap (declared as
    * `q_llm_source_overlap_sketch`) —
    * the 100 TB dashboard answer to the exact matrix's honest floor (the
    * ×100 cost is the 24M-row two-side bucketed gram self-join; round-8
    * verdict). Per-source HLL sketches over the SAME 60-bit folded gram
    * identity, containment estimated by inclusion–exclusion per pair
    * (the q_agg_hll_intersect recipe applied source-pairwise).
    *
    * The structural win is bigger than "skip the self-join": HLL
    * absorbs duplicates, so the global `(source, gram)` DISTINCT — the
    * exact path's other ∝N shuffle — disappears too. The whole plan is
    * one corpus scan into a map-side partial sketch aggregate (KB per
    * source crossing the wire), then a sources²-bounded broadcast pair
    * matrix. Denominators are sketch estimates as well (at 100 TB the
    * exact per-source distinct is itself a job you didn't run).
    * Accuracy bracket vs the exact matrix: `graft.Scale hll` runs the
    * declared q_llm_source_overlap_sketch entry against
    * q_llm_source_overlap per scale (BASELINE.md) — the estimate
    * inherits ~1.6%σ per sketch and the subtraction compounds it, so
    * LOW-containment pairs carry large relative error (an absolute-
    * error instrument, like every inclusion–exclusion sketch). */
  private[graft] def sourceOverlapSketch(s: SparkSession,
      d: String): DataFrame = {
    val raw = Tables(s, d, "documents")
      .withColumn("tk", textTokens)
      .select(col("source"), explode(array_distinct(gramsN(5))).as("g"))
      .select(col("source"), expr(hexFold("md5(g)", 15)).as("h"))
    val sk = raw.groupBy("source").agg(hll_sketch_agg(col("h")).as("sk"))
    sk.select(col("source").as("source_a"), col("sk").as("ska"))
      .join(broadcast(sk.select(col("source").as("source_b"), col("sk").as("skb"))),
        col("source_a") < col("source_b"))
      .select(col("source_a"), col("source_b"),
        hll_sketch_estimate(col("ska")).as("n_a_est"),
        hll_sketch_estimate(col("skb")).as("n_b_est"),
        hll_sketch_estimate(hll_union(col("ska"), col("skb"))).as("est_union"))
      .select(col("source_a"), col("source_b"), col("n_a_est"), col("n_b_est"),
        greatest(col("n_a_est") + col("n_b_est") - col("est_union"), lit(0L))
          .as("est_shared"))
      .withColumn("containment_est",
        round(col("est_shared").cast("double") /
          least(col("n_a_est"), col("n_b_est")), 6))
      .orderBy("source_a", "source_b")
  }

  /** The distinct (source, 60-bit-folded gram) frame both overlap legs
    * join on — memoized per (session, sfDir) + lazy localCheckpoint
    * (the mh-cand discipline): the tokenize→shingle→fold pass — the
    * family's dominant cost, ~60 s at ×100 — runs once per JVM. */
  private def srcGrams(s: SparkSession, d: String): DataFrame =
    graft.Memo(s, s"srcgrams:$d") {
      Tables(s, d, "documents")
        .withColumn("tk", textTokens)
        .select(col("source"), explode(array_distinct(gramsN(5))).as("g"))
        .select(col("source"),
          expr(hexFold("md5(g)", 15)).as("h"))
        .distinct()
        .localCheckpoint(eager = false)
    }

  /** Triage screen calibration (round 11 — the previous bare 0.05
    * estimate cutoff sat at the EDGE of the instrument's own error
    * bracket, so a true ~0.05-containment pair could estimate 0 and be
    * silently missed, and at sf0.1 the single flagged pair was
    * indistinguishable from bracket noise — measured this round).
    *
    * The screen is a GUARANTEED-RECALL instrument, calibrated from two
    * declared constants:
    *  - [[sketchBracket]]: the sketch containment estimate's worst
    *    measured absolute error (±0.05–0.08 across the three BASELINE.md
    *    scales; the declared constant holds the worst end);
    *  - [[triageTarget]]: the true-containment level the triage
    *    GUARANTEES to surface — set ABOVE the bracket, because a target
    *    the instrument cannot resolve against its own noise is not a
    *    guarantee (the round-10 flaw in one number).
    * The estimate cutoff is derived, not chosen:
    * [[triageThreshold]] = target − bracket. Any pair with true
    * containment ≥ target estimates ≥ threshold wherever the bracket
    * holds, so it CANNOT be silently missed at any scale — false
    * negatives were the failure mode; a false positive costs one
    * bounded, sources²-capped exact join and is adjudicated by the
    * exact columns in the output (a flag is a CANDIDATE, the exact leg
    * is the verdict). PropertySpec proves the guarantee on a
    * constructed corpus with a pair at exactly the target; ScaleSpec
    * proves the flag is scale-stable (the same true-target pair flags
    * at ×1 and ×8). ONE definition interpolated into the query and its
    * specs. */
  private[graft] val sketchBracket = 0.08
  private[graft] val triageTarget = 0.12
  private[graft] val triageThreshold = triageTarget - sketchBracket

  val queries: Map[String, Q] = Map(

    // Sketch→exact overlap TRIAGE (round 10) — the deployment flow the
    // sketch matrix exists for, wired as one declared composite: the KB
    // per-source HLL matrix SCREENS every pair (sources²-bounded, zero
    // ∝N shuffles), pairs with containment_est ≥ the threshold get the
    // EXACT bucketed gram join — restricted BEFORE the join to the
    // flagged sources' grams (broadcast semi-join), so the expensive
    // leg's cost tracks the flagged set, never sources². Output: the
    // flagged pairs with both the estimate that flagged them and their
    // exact n_shared/containment. Self-checked like its sketch parent
    // (the flag leg has no DuckDB twin): PropertySpec asserts the exact
    // columns equal the oracled full matrix's rows for exactly the
    // sketch-flagged pair set.
    "q_llm_source_overlap_triage" -> ((s, d) => {
      // flagged pair set memoized + persisted: its lineage is the whole
      // sketch pipeline (a corpus scan), and it feeds FIVE consumers
      // below (the pair frame, the source set, and through dhF the
      // tot/shared legs) — without the memo each consumer re-ran the
      // sketch build (measured ×100 warm 332 s; the full exact matrix
      // is 41 s). Same discipline for the restricted gram frame.
      val flagged = graft.Memo(s, s"overlap-flagged:$d") {
        sourceOverlapSketch(s, d)
          .where(col("containment_est") >= triageThreshold)
          .select(col("source_a"), col("source_b"), col("containment_est"))
          .persist()
      }
      val flaggedSrcs = flagged.select(col("source_a").as("source"))
        .union(flagged.select(col("source_b").as("source"))).distinct()
      val dhF = graft.Memo(s, s"overlap-dhf:$d") {
        srcGrams(s, d)
          .join(broadcast(flaggedSrcs), Seq("source"), "left_semi")
          .persist()
      }
      val tot = dhF.groupBy("source").agg(count(lit(1)).as("nd"))
      val shared = dhF.as("x")
        .join(dhF.as("y").hint("shuffle_hash"),
          col("x.h") === col("y.h") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(count(lit(1)).as("ns"))
      flagged
        .join(broadcast(tot.select(col("source").as("source_a"), col("nd").as("n_a"))),
          Seq("source_a"))
        .join(broadcast(tot.select(col("source").as("source_b"), col("nd").as("n_b"))),
          Seq("source_b"))
        .join(broadcast(shared),
          col("source_a") === col("sa") && col("source_b") === col("sb"), "left")
        .select(col("source_a"), col("source_b"), col("containment_est"),
          col("n_a"), col("n_b"),
          coalesce(col("ns"), lit(0L)).as("n_shared"),
          round(coalesce(col("ns"), lit(0L)).cast("double") /
            least(col("n_a"), col("n_b")), 6).as("containment"))
        .orderBy("source_a", "source_b")
    }),

    // Declared sketch form of the containment matrix (round 9) — the
    // SCREENING instrument a 100 TB corpus dashboard actually runs (the
    // exact matrix below is the on-demand confirm for flagged pairs).
    // No DuckDB oracle by design (DataSketches HLL state has no DuckDB
    // twin — the q_agg_hll_intersect/sketch_merge convention, SURVEY
    // Oracle "—"); PropertySpec brackets every pair's containment
    // estimate against the exact matrix at fixture scale, and the
    // measured three-scale bracket lives in BASELINE.md (±0.05–0.08
    // absolute). See [[sourceOverlapSketch]] for the plan shape: one
    // corpus scan → map-side per-source sketches (KB/source) →
    // sources²-bounded broadcast pair matrix; zero ∝N shuffles.
    "q_llm_source_overlap_sketch" -> sourceOverlapSketch _,

    // Cross-source 5-gram containment matrix — the FIRST question a
    // multi-source corpus audit asks ("how much of source B's content
    // is already in source A?"), on the SAME 5-gram shingle identity
    // the decontamination family uses (exact-text identity is the
    // wrong grain here: the generator's exact copies never cross
    // sources, so that matrix is identically zero — the
    // idle-customers vacuity lesson; shingle containment is what
    // contamination/overlap audits actually measure). One distinct
    // (source, gram) aggregate over the corpus scan, one
    // gram-bucketed self-equi-join (both sides ∝ N ⇒ shuffle_hash,
    // never broadcast; per-gram fan-out ≤ source-pair count), then
    // everything is source-pair bounded. The FULL pair matrix reports
    // (totals crossJoin totals, a < b): a pair with zero overlap says
    // so explicitly.
    "q_llm_source_overlap" -> ((s, d) => {
      // The join identity is a 60-bit md5 FOLD of the gram, not the raw
      // gram string: the distinct + self-join shuffle a ~70-byte
      // 5-gram text otherwise, and the folded key cuts the shuffle
      // width to 8 bytes — measured at ×100 (23.8M distinct grams)
      // 403 s cold / 79.6 s warm with string keys (BASELINE.md
      // "q_llm_source_overlap" row). Collisions collapse
      // two grams into one identity: expected ≈ G²/2⁶¹ ≈ 2.5e-4 at the
      // ×100 gram count — negligible, and the DuckDB twin folds the
      // SAME md5, so any collision is shared and the compare stays
      // exact. dh feeds THREE consumers (totals + both self-join
      // sides) and every invocation: memoized per (session, sfDir) +
      // lazy localCheckpoint (the mh-cand discipline), so the
      // tokenize→shingle→fold pass — the dominant cost, ~60 s at ×100
      // — runs once per JVM instead of once per call per side.
      val dh = srcGrams(s, d)
      val tot = dh.groupBy("source").agg(count(lit(1)).as("nd"))
      val shared = dh.as("x")
        .join(dh.as("y").hint("shuffle_hash"),
          col("x.h") === col("y.h") && col("x.source") < col("y.source"))
        .groupBy(col("x.source").as("sa"), col("y.source").as("sb"))
        .agg(count(lit(1)).as("ns"))
      tot.select(col("source").as("source_a"), col("nd").as("n_a"))
        .crossJoin(broadcast(
          tot.select(col("source").as("source_b"), col("nd").as("n_b"))))
        .where(col("source_a") < col("source_b"))
        .join(broadcast(shared),
          col("source_a") === col("sa") && col("source_b") === col("sb"),
          "left")
        .select(col("source_a"), col("source_b"), col("n_a"), col("n_b"),
          coalesce(col("ns"), lit(0L)).as("n_shared"),
          round(coalesce(col("ns"), lit(0L)).cast("double") /
            least(col("n_a"), col("n_b")), 6).as("containment"))
        .orderBy("source_a", "source_b")
    }),

    // Pairwise Jensen–Shannon divergence between the sources' unigram
    // term distributions over the global top-200 vocabulary — the
    // corpus-drift companion to q_dq_psi, at the vocabulary level
    // ("which sources speak the same language?"; a mixture designer
    // reads this before q_llm_mix). One token shuffle builds the
    // (source, term) counts; the vocabulary is a TakeOrdered heap (200
    // rows, never a vocabulary sort); every later frame is
    // (sources × 200)-bounded. Laplace smoothing over the FULL
    // source × vocab domain — an absent term still contributes its
    // smoothed mass, so JS is exactly comparable across pairs. ln on
    // the 1e-9 grid, terms summed exactly, JS in nats.
    "q_llm_js_divergence" -> ((s, d) => {
      val cnt = Tables(s, d, "documents")
        .select(col("source"), explode(textTokens).as("term"))
        .groupBy("source", "term").agg(count(lit(1)).as("n"))
      val top = cnt.groupBy("term").agg(sum("n").as("tn"))
        .orderBy(col("tn").desc, col("term")).limit(200).select("term")
      val v = cnt.join(broadcast(top), "term")
      val stot = v.groupBy("source").agg(sum("n").as("tot"))
      val p = stot.crossJoin(broadcast(top))
        .join(v, Seq("source", "term"), "left")
        .select(col("source"), col("term"),
          ((coalesce(col("n"), lit(0L)) + 1).cast("double") /
            (col("tot") + 200)).as("p"))
      p.as("x")
        .join(broadcast(p.as("y")),
          col("x.term") === col("y.term") && col("x.source") < col("y.source"))
        .select(col("x.source").as("source_a"), col("y.source").as("source_b"),
          round(lit(0.5) * col("x.p") *
              expr("round(ln(2.0 * x.p / (x.p + y.p)), 9)") +
            lit(0.5) * col("y.p") *
              expr("round(ln(2.0 * y.p / (x.p + y.p)), 9)"), 9).as("t"))
        .groupBy("source_a", "source_b")
        .agg(s9(col("t")).as("js"))
        .select(col("source_a"), col("source_b"), round(col("js"), 9).as("js_nats"))
        .orderBy("source_a", "source_b")
    }),

    // t-closeness audit (Li et al. 2007) — the third leg of the release
    // trilogy (k-anonymity counts small classes, l-diversity counts
    // homogeneous ones; t-closeness asks whether a class's SENSITIVE
    // distribution leaks by deviating from the global one). QI =
    // (segment, nation); sensitive = account-balance decile (the shared
    // gridBin construction). Per class: the ordered-bin earth-mover's
    // distance EMD = Σ|cumclass/n − cumglobal/N| / (nb−1), computed
    // EXACTLY as |cumC·N − cumG·n| over a common denominator — integer
    // until the single final division. Class×bin frames ride the FULL
    // 10-bin domain; cumsums are per-class windows over ≤10 rows
    // (bounded partitions, never global) and the global cumsum is the
    // windowless prefixOffsets triangle. QI-domain-bounded output.
    "q_dq_t_closeness" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
        .select(col("c_mktsegment").as("seg"), col("c_nationkey").as("nat"),
          expr("CAST(round(c_acctbal * 100) AS BIGINT)").as("bal"))
      val bounds = cust.agg(min("bal").as("lo"), max("bal").as("hi"))
      val binned = cust.crossJoin(broadcast(bounds))
        .select(col("seg"), col("nat"),
          gridBin(col("bal"), col("lo"), col("hi"), 10).cast("long").as("bin"))
      val cls = binned.groupBy("seg", "nat", "bin").agg(count(lit(1)).as("n"))
      // the global cumsum ALSO rides the full 10-bin domain (a bin empty
      // globally still carries its predecessors' cum diff — an inner
      // join would silently drop that term from every class's EMD)
      val glob = s.range(10).select(col("id").as("bin"))
        .join(broadcast(binned.groupBy("bin").agg(count(lit(1)).as("g0"))),
          Seq("bin"), "left")
        .select(col("bin"), coalesce(col("g0"), lit(0L)).as("gn"))
      val gcum = prefixOffsets(glob, "bin", "gn")
        .select(col("bin"), (col("off") + col("gn")).as("cumg"))
      val ctot = cls.groupBy("seg", "nat").agg(sum("n").as("nc"))
      val tot = binned.agg(count(lit(1)).as("ng"))
      val wc = Window.partitionBy("seg", "nat").orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      ctot.crossJoin(broadcast(s.range(10).select(col("id").as("bin"))))
        .join(cls, Seq("seg", "nat", "bin"), "left")
        .select(col("seg"), col("nat"), col("nc"), col("bin"),
          coalesce(col("n"), lit(0L)).as("n"))
        .withColumn("cumc", sum("n").over(wc))
        .join(broadcast(gcum), "bin")
        .crossJoin(broadcast(tot))
        .groupBy("seg", "nat", "nc", "ng")
        .agg(sum(abs(col("cumc") * col("ng") - col("cumg") * col("nc")))
          .as("num"))
        .select(col("seg"), col("nat"), col("nc").as("n_rows"),
          round(col("num").cast("double") /
            (col("nc").cast("double") * col("ng") * 9), 9).as("emd"))
        .orderBy("seg", "nat")
    }),

    // χ² independence test + Cramér's V between customer segment and
    // order priority — "is the label correlated with the slice?", the
    // categorical companion to the Welch/KS numeric tests. One fact
    // join (orders⋈customer on the key — co-partitioned at scale),
    // one 5×5 contingency aggregate; expected counts come from the
    // FULL marginal crossJoin (an empty cell still contributes
    // r·c/N to χ² — omitting it understates the statistic, the psi
    // completeness rule applied to a test). (o·N − r·c)² is exact
    // DECIMAL(38,0) (it passes 2^63 at bench scale), one IEEE division
    // per cell, terms summed exactly. 1-row report.
    "q_dq_cramers_v" -> ((s, d) => {
      val oc = Tables(s, d, "orders")
        .join(Tables(s, d, "customer").hint("shuffle_hash"),
          col("o_custkey") === col("c_custkey"))
        .select(col("c_mktsegment").as("seg"), col("o_orderpriority").as("pri"))
      val cells = oc.groupBy("seg", "pri").agg(count(lit(1)).as("n"))
      val rs = cells.groupBy("seg").agg(sum("n").as("r"))
      val csx = cells.groupBy("pri").agg(sum("n").as("c"))
      val tot = cells.agg(sum("n").as("nn"), count(lit(1)).as("n_cells"))
      val dims = rs.agg(count(lit(1)).as("nr"))
        .crossJoin(broadcast(csx.agg(count(lit(1)).as("npr"))))
      rs.crossJoin(broadcast(csx))
        .join(cells, Seq("seg", "pri"), "left")
        .crossJoin(broadcast(tot))
        .select(col("seg"), col("pri"), col("r"), col("c"), col("nn"),
          coalesce(col("n"), lit(0L)).as("o"))
        .select(round(
          expr("""CAST(CAST(o * nn - r * c AS DECIMAL(38,0))
                  * CAST(o * nn - r * c AS DECIMAL(38,0)) AS DOUBLE)""") /
          (col("nn").cast("double") * col("r") * col("c")), 9).as("t"),
          col("nn"))
        .groupBy("nn").agg(round(s9(col("t")), 6).as("chi2"))
        .crossJoin(broadcast(dims))
        .select(col("nn").as("n_total"), col("nr").as("n_rows_dim"),
          col("npr").as("n_cols_dim"), col("chi2"),
          ((col("nr") - 1) * (col("npr") - 1)).as("dof"),
          round(sqrt(col("chi2") /
            (col("nn") * least(col("nr") - 1, col("npr") - 1))), 6)
            .as("cramers_v"))
    }),

    // Partial autocorrelation of the hourly purchase series at lags
    // 1..3 — the AR-order diagnostic next to q_ts_autocorr (ACF says
    // "correlated at lag k"; PACF says "correlated AFTER removing the
    // shorter lags" — the plot an AR modeler actually reads). Biased
    // autocovariances c_k over the exact hourly frame via the xcorr
    // lag-join (lag explodes on the HOUR-bounded frame, never raw
    // events), ρ_k = c_k/c_0 rounded once to the 1e-9 grid, then the
    // Durbin–Levinson closed forms for φ11/φ22/φ33 off those SAME
    // rounded ρ's (what a consumer of the ACF report would compute),
    // with explicit zero-denominator guards → null, never NaN. 1 row.
    "q_ts_pacf" -> ((s, d) => {
      val hourly = hourlyPurchase(s, d)
      val tot = hourly.agg(count(lit(1)).as("n"),
        sum(col("x").cast(DecimalType(28, 6))).as("sx"))
      val cks = hourly.select(col("hr"), col("x"),
          explode(sequence(lit(0), lit(3))).as("lag"))
        .join(hourly.select(col("hr").as("hr2"), col("x").as("y")),
          col("hr2") === col("hr") + col("lag") * 3600L)
        .crossJoin(broadcast(tot))
        .withColumn("mu", col("sx").cast("double") / col("n"))
        .select(col("lag"), col("n"),
          round((col("x") - col("mu")) * (col("y") - col("mu")), 6).as("p"))
        .groupBy("lag", "n")
        .agg(sum(col("p").cast(DecimalType(38, 6))).as("sp"))
        .select(col("lag"), col("n"),
          (col("sp").cast("double") / col("n")).as("c"))
      def ck(k: Int) = max(when(col("lag") === k, col("c")))
      cks.groupBy("n").agg(ck(0).as("c0"), ck(1).as("c1"),
          ck(2).as("c2"), ck(3).as("c3"))
        .withColumn("rho1", when(col("c0") > 0, round(col("c1") / col("c0"), 9)))
        .withColumn("rho2", when(col("c0") > 0, round(col("c2") / col("c0"), 9)))
        .withColumn("rho3", when(col("c0") > 0, round(col("c3") / col("c0"), 9)))
        .withColumn("p22", when(lit(1.0) - col("rho1") * col("rho1") =!= 0.0,
          (col("rho2") - col("rho1") * col("rho1")) /
            (lit(1.0) - col("rho1") * col("rho1"))))
        .withColumn("p21", col("rho1") * (lit(1.0) - col("p22")))
        .withColumn("den3", lit(1.0) - col("p21") * col("rho1") -
          col("p22") * col("rho2"))
        .select(col("n").as("n_hours"),
          col("rho1"), col("rho2"), col("rho3"),
          round(col("rho1"), 9).as("pacf1"),
          round(col("p22"), 9).as("pacf2"),
          when(col("den3") =!= 0.0,
            round((col("rho3") - col("p21") * col("rho2") -
              col("p22") * col("rho1")) / col("den3"), 9)).as("pacf3"))
    }),

    // Rescaled-range (R/S) Hurst exponent of the hourly purchase series
    // — the long-memory diagnostic (H ≈ 0.5 random walk, > 0.5
    // trending, < 0.5 mean-reverting). Chunks of m ∈ {8,16,32,64} FULL
    // consecutive hours (time-indexed — a gapped chunk is dropped, so
    // the statistic never mixes window lengths); per chunk the
    // cumulative-deviation range R over the population std S, both off
    // exact micro-unit integer cumsums (the windowed Σ is an integer —
    // immune to either engine's windowed-double accumulation order);
    // per m the exact-summed mean R/S; H = the log–log slope over the
    // ≥2 surviving sizes (the zipf closed form). Per-chunk windows are
    // ≤m rows — bounded, never global. 4-row report + the H constant.
    "q_ts_hurst" -> ((s, d) => {
      val hourly = hourlyPurchase(s, d)
      val lo = hourly.agg(min("hr").as("h0"))
      val sized = hourly.crossJoin(broadcast(lo))
        .select(col("hr"), col("x"),
          expr("(hr - h0) div 3600").as("idx"))
        .select(col("hr"), col("x"), col("idx"),
          explode(expr("array(8, 16, 32, 64)")).as("m"))
        .withColumn("chunk", expr("idx div m"))
      val st = sized.groupBy("m", "chunk").agg(count(lit(1)).as("nc"),
          sum(col("x").cast(DecimalType(28, 6))).as("sxd"),
          sum(round(col("x") * col("x"), 6).cast(DecimalType(38, 6))).as("sxx"))
        .where(col("nc") === col("m"))
        .withColumn("muc", col("sxd").cast("double") / col("nc"))
        .withColumn("sdev", sqrt(col("sxx").cast("double") / col("nc") -
          col("muc") * col("muc")))
        .select("m", "chunk", "muc", "sdev")
      val wc = Window.partitionBy("m", "chunk").orderBy("idx")
      val rs = sized
        .withColumn("xe", expr("CAST(round(x * 1000000.0) AS BIGINT)"))
        .withColumn("cumx", sum("xe").over(
          wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
        .withColumn("rk", row_number().over(wc))
        .join(st, Seq("m", "chunk"))
        .withColumn("cdev",
          col("cumx").cast("double") / 1000000.0 - col("rk") * col("muc"))
        .groupBy("m", "chunk", "sdev")
        .agg(max("cdev").as("mx"), min("cdev").as("mn"))
        .where(col("sdev") > 0)
        .select(col("m"),
          round((col("mx") - col("mn")) / col("sdev"), 9).as("rs"))
      val perM0 = rs.groupBy("m").agg(count(lit(1)).as("n_chunks"),
          s9(col("rs")).as("srs"))
        .select(col("m"), col("n_chunks"),
          round(col("srs") / col("n_chunks"), 9).as("avg_rs"))
      // FULL m domain (the psi rule): a size with zero full chunks —
      // m = 64 at the sf0.01 fixture — reports n_chunks = 0 explicitly
      // instead of silently vanishing from the table
      val perM = s.range(1)
        .select(explode(expr("array(8, 16, 32, 64)")).as("m"))
        .join(broadcast(perM0), Seq("m"), "left")
        .select(col("m"), coalesce(col("n_chunks"), lit(0L)).as("n_chunks"),
          col("avg_rs"))
        .withColumn("log_m", expr("round(ln(CAST(m AS DOUBLE)), 9)"))
        .withColumn("log_rs",
          when(col("avg_rs") > 0, expr("round(ln(avg_rs), 9)")))
      val fit = perM.where(col("log_rs").isNotNull)
        .agg(count(lit(1)).as("k"), s9(col("log_m")).as("fx"),
          s9(col("log_rs")).as("fy"),
          s9(round(col("log_m") * col("log_rs"), 9)).as("fxy"),
          s9(round(col("log_m") * col("log_m"), 9)).as("fxx"))
        .select(when(col("k") >= 2,
          round((col("k") * col("fxy") - col("fx") * col("fy")) /
            (col("k") * col("fxx") - col("fx") * col("fx")), 6)).as("hurst"))
      perM.crossJoin(broadcast(fit))
        .select(col("m"), col("n_chunks"), col("avg_rs"),
          col("log_m"), col("log_rs"), col("hurst"))
        .orderBy("m")
    }),

    // Degree assortativity of the co-purchase graph — the one-scalar
    // topology health check ("do high-degree nodes attach to each
    // other?"; disassortative r < 0 is the hub-and-spoke shape
    // bipartite commerce graphs show). Pearson r of (deg(src),
    // deg(dst)) over the memoized both-direction edge list (each
    // undirected edge counted once per direction — the standard
    // estimator): one node-sized degree aggregate, two edge⋈degree
    // equi-joins (node-keyed — co-partitioned at scale), exact
    // BIGINT/DECIMAL(38,0) moments, one closed-form row with the
    // autocorr double discipline (variance factors to double BEFORE
    // the product; zero variance → null, never NaN).
    "q_graph_assortativity" -> ((s, d) => {
      val e = U.coPurchaseEdges(s, d)
      // deg feeds BOTH endpoint joins — lazy checkpoint the node-sized
      // frame so the degree aggregate runs once, not per join side
      val deg = e.groupBy("src").agg(count(lit(1)).as("deg"))
        .localCheckpoint(eager = false)
      e.join(deg.select(col("src").as("s1"), col("deg").as("dx")),
          col("src") === col("s1"))
        .join(deg.select(col("src").as("s2"), col("deg").as("dy")),
          col("dst") === col("s2"))
        .agg(count(lit(1)).as("n"), sum(col("dx")).as("sx"),
          sum(col("dy")).as("sy"),
          sum(col("dx").cast(DEC38) * col("dx")).as("sxx"),
          sum(col("dy").cast(DEC38) * col("dy")).as("syy"),
          sum(col("dx").cast(DEC38) * col("dy")).as("sxy"))
        .withColumn("vx", col("n") * col("sxx").cast("double") -
          col("sx").cast("double") * col("sx"))
        .withColumn("vy", col("n") * col("syy").cast("double") -
          col("sy").cast("double") * col("sy"))
        .select(col("n").as("n_edges_directed"),
          when(col("vx") > 0 && col("vy") > 0,
            round((col("n") * col("sxy").cast("double") -
              col("sx").cast("double") * col("sy")) /
              sqrt(col("vx") * col("vy")), 9)).as("assortativity"))
    }),

    // Frequency-moment profile of the event stream per event type —
    // the stream-shape card (F0 distinct users, F1 events, F2 second
    // moment, Good's "surprise index" F2·F0/F1², Shannon entropy of
    // the per-user frequency distribution): what a capacity planner
    // reads to size skew-sensitive operators before running them.
    // F2 is EXACT (the self-join-free Σf² — what the AMS sketch
    // estimates at 100 TB; its exact form is one keyed aggregate
    // here); entropy via H = ln(F1) − Σ f·ln(f) / F1 with f·ln(f) on
    // the rounding grid. Two keyed aggregates, 5-row output.
    "q_agg_frequency_profile" -> ((s, d) =>
      Tables(s, d, "events")
        .groupBy("event_type", "user_id").agg(count(lit(1)).as("f"))
        .groupBy("event_type")
        .agg(count(lit(1)).as("f0_users"),
          sum(col("f")).as("f1_events"),
          sum(col("f") * col("f")).as("f2_moment"),
          sum(round(col("f") *
            expr("round(ln(CAST(f AS DOUBLE)), 9)"), 6)
            .cast(DecimalType(28, 6))).as("sfl"))
        .select(col("event_type"), col("f0_users"), col("f1_events"),
          col("f2_moment"),
          round(col("f2_moment").cast("double") * col("f0_users") /
            col("f1_events") / col("f1_events"), 6).as("surprise_index"),
          round(expr("round(ln(CAST(f1_events AS DOUBLE)), 9)") -
            col("sfl").cast("double") / col("f1_events"), 9).as("entropy_nats"))
        .orderBy("event_type")),

    // What did dedup actually remove? The composition audit every
    // production dedup pass publishes next to its cluster histogram:
    // per (source, length-quintile), how many documents the transitive
    // near-dup closure would drop (doc ≠ its component's keeper) and
    // the removal rate. Rides the SAME memoized CC labels as
    // q_llm_dedup_cc/keep_best (zero extra propagation); length bins
    // are the shared gridBin over broadcast n_chars bounds; the FULL
    // source × 5-bin domain reports. A removal rate that skews by
    // length or source is how silent boilerplate families and
    // over-aggressive banding get caught.
    "q_llm_dedup_audit" -> ((s, d) => {
      val comp = Llm.ccLabels(s, d)
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), col("n_chars"))
      val bounds = docs.agg(min("n_chars").as("lo"), max("n_chars").as("hi"))
      val binned = docs.crossJoin(broadcast(bounds))
        .select(col("doc_id"), col("source"),
          gridBin(col("n_chars"), col("lo"), col("hi"), 5).cast("long")
            .as("len_bin"))
        .join(comp, "doc_id")
        .groupBy("source", "len_bin")
        .agg(count(lit(1)).as("n_docs"),
          sum((col("doc_id") =!= col("component_id")).cast("long"))
            .as("n_removed"))
      val srcs = docs.select("source").distinct()
      srcs.crossJoin(broadcast(s.range(5).select(col("id").as("len_bin"))))
        .join(binned, Seq("source", "len_bin"), "left")
        .select(col("source"), col("len_bin"),
          coalesce(col("n_docs"), lit(0L)).as("n_docs"),
          coalesce(col("n_removed"), lit(0L)).as("n_removed"),
          when(col("n_docs") > 0,
            round(col("n_removed") * lit(100.0) / col("n_docs"), 6))
            .as("pct_removed"))
        .orderBy("source", "len_bin")
    }),

    // Held-out n-gram coverage per language — the LM-eval readiness
    // check ("how much of unseen text does the training split's bigram
    // inventory cover?"): docs split 80/20 by keyed md5 draw (the
    // house deterministic split), DISTINCT bigrams per side per lang,
    // coverage = |held ∩ train| / |held| via one (lang, gram)-bucketed
    // semi-join — both sides ∝ N, co-partitioned on the gram key,
    // never broadcast. Languages with no held-out grams report 0/null
    // explicitly (full lang domain). Low coverage = the split leaks
    // novelty the perplexity eval will misread as model error.
    "q_llm_ngram_coverage" -> ((s, d) => {
      val g = Tables(s, d, "documents")
        .withColumn("tk", textTokens)
        .select(col("doc_id"), col("lang"),
          explode(array_distinct(gramsN(2))).as("g"))
        .withColumn("side", covSide)
      val train = g.where(col("side") < 4).select("lang", "g").distinct()
      val held = g.where(col("side") === 4).select("lang", "g").distinct()
      val cov = held.join(train.hint("shuffle_hash"), Seq("lang", "g"),
          "left_semi")
        .groupBy("lang").agg(count(lit(1)).as("n_covered"))
      val htot = held.groupBy("lang").agg(count(lit(1)).as("n_held"))
      Tables(s, d, "documents").select("lang").distinct()
        .join(broadcast(htot), Seq("lang"), "left")
        .join(broadcast(cov), Seq("lang"), "left")
        .select(col("lang"),
          coalesce(col("n_held"), lit(0L)).as("n_held_grams"),
          coalesce(col("n_covered"), lit(0L)).as("n_covered"),
          when(coalesce(col("n_held"), lit(0L)) > 0,
            round(coalesce(col("n_covered"), lit(0L)) * lit(100.0) /
              col("n_held"), 6)).as("coverage_pct"))
        .orderBy("lang")
    }),

    // Held-out bigram-LM perplexity per language — the eval
    // q_llm_ngram_coverage is the precondition for: an add-1-smoothed
    // bigram LM trained on the SAME 80% split (one covSide definition),
    // scored on the held-out 20% as cross-entropy in nats and
    // perplexity. p(w2|w1) = (c12+1)/(c1+V) with c1 = the bigram-prefix
    // total (Σ_w2 c12, derived from the c12 frame — never a second
    // corpus pass) and V = the train-side unigram vocabulary. Held
    // bigram TOKENS (multiset — perplexity weights by occurrence)
    // left-join the model on (lang, w1, w2) then (lang, w1) — both
    // bucketed equi-joins, both sides ∝ N, never broadcast; V rides a
    // 5-row broadcast. ln on the 1e-9 grid, exact-summed; unseen
    // histories fall back to p = 1/V via the coalesce-to-0 counts.
    "q_llm_heldout_ppl" -> ((s, d) => {
      // tok feeds both the train counts and the held scoring stream:
      // lazy checkpoint or the tokenize→bigram pass runs once per
      // consumer (the corpus-frame discipline)
      val tok = Tables(s, d, "documents")
        .withColumn("tk", textTokens)
        .withColumn("side", covSide)
        .select(col("lang"), col("side"), explode(gramsN(2)).as("g"))
        .select(col("lang"), col("side"),
          split(col("g"), " ").getItem(0).as("w1"),
          split(col("g"), " ").getItem(1).as("w2"))
        .localCheckpoint(eager = false)
      val c12 = tok.where(col("side") < 4)
        .groupBy("lang", "w1", "w2").agg(count(lit(1)).as("c12"))
      val c1 = c12.groupBy("lang", "w1").agg(sum(col("c12")).as("c1"))
      val vocab = Tables(s, d, "documents")
        .withColumn("side", covSide).where(col("side") < 4)
        .select(col("lang"), explode(textTokens).as("w")).distinct()
        .groupBy("lang").agg(count(lit(1)).as("v"))
      val held = tok.where(col("side") === 4)
      val scored = held
        .join(c12.hint("shuffle_hash"), Seq("lang", "w1", "w2"), "left")
        .join(c1.hint("shuffle_hash"), Seq("lang", "w1"), "left")
        .join(broadcast(vocab), "lang")
        .select(col("lang"),
          expr("""round(ln(CAST(coalesce(c12, 0) + 1 AS DOUBLE)
                  / (coalesce(c1, 0) + v)), 9)""").as("lp"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_bigrams"), s9(col("lp")).as("slp"))
        .select(col("lang"), col("n_bigrams"),
          round(-col("slp") / col("n_bigrams"), 9).as("h_nats"))
        .withColumn("ppl", round(exp(col("h_nats")), 6))
      Tables(s, d, "documents").select("lang").distinct()
        .join(broadcast(scored), Seq("lang"), "left")
        .select(col("lang"), coalesce(col("n_bigrams"), lit(0L))
          .as("n_bigrams"), col("h_nats"), col("ppl"))
        .orderBy("lang")
    }),

    // Fixed-frequency periodogram of the hourly purchase series — the
    // seasonality detector ("is there a daily/weekly cycle?"): Goertzel
    // power at the candidate periods {6, 12, 24, 168} hours over the
    // SAME zero-filled exact series as PACF/Hurst. P(p) = ((Σx·cos)² +
    // (Σx·sin)²)/n² with the trig factors on the 1e-9 grid (the libm
    // round rule — cos/sin like ln), products on the 1e-6 grid, exact
    // decimal sums; the peak flag compares against a broadcast 4-row
    // max. Span-bounded frame, 4 rows out.
    "q_ts_periodogram" -> ((s, d) => {
      val hourly = hourlyPurchase(s, d)
      val lo = hourly.agg(min("hr").as("h0"))
      val terms = hourly.crossJoin(broadcast(lo))
        .select(col("x"), expr("(hr - h0) div 3600").as("idx"))
        .select(col("x"), col("idx"),
          explode(expr("array(6, 12, 24, 168)")).as("p"))
        .select(col("p"),
          round(col("x") * expr(
            "round(cos(6.283185307179586 * (idx % p) / p), 9)"), 6).as("xc"),
          round(col("x") * expr(
            "round(sin(6.283185307179586 * (idx % p) / p), 9)"), 6).as("xs"))
      val pw = terms.groupBy("p")
        .agg(count(lit(1)).as("n"),
          sum(col("xc").cast(DecimalType(38, 6))).as("sc"),
          sum(col("xs").cast(DecimalType(38, 6))).as("ss"))
        .select(col("p").as("period_h"), col("n").as("n_hours"),
          round((col("sc").cast("double") * col("sc") +
            col("ss").cast("double") * col("ss")) /
            (col("n").cast("double") * col("n")), 9).as("power"))
      pw.crossJoin(broadcast(pw.agg(max("power").as("mx"))))
        .select(col("period_h"), col("n_hours"), col("power"),
          (col("power") === col("mx")).as("is_peak"))
        .orderBy("period_h")
    }),

    // Disjunctive-predicate revenue (the TPC-H Q19 shape): revenue from
    // lineitems matching an OR of three brand/size/quantity conjunction
    // bands — the query shape that exercises complex-predicate
    // pushdown: the part-side conjuncts (brand, size) prune the dim
    // scan, the lineitem-side quantity bands prune the fact scan, and
    // only the equi-join key ships. Brand sets are disjoint, so the
    // band tag is a CASE, and the FULL 3-band domain reports (an empty
    // band is a 0-row, not a missing row). One fact join + a 3-row agg.
    "q_wl_disjunctive_revenue" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
        .select(col("l_partkey"), col("l_quantity"),
          col("l_extendedprice"), col("l_discount"))
      // the part-side half of each conjunction PRE-FILTERS the build
      // side (only ~9/25 brands can ever match — a third of the dim
      // never needs to meet the fact); the quantity halves stay in the
      // post-join CASE because their union spans [1, 50] — no fact
      // pruning exists for this predicate, which is the Q19 point
      val pt = Tables(s, d, "part")
        .select(col("p_partkey"), col("p_brand"), col("p_size"))
        .where(
          (col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
            col("p_size").between(1, 15)) ||
          (col("p_brand").isin("Brand#11", "Brand#12", "Brand#13") &&
            col("p_size").between(1, 25)) ||
          (col("p_brand").isin("Brand#21", "Brand#22", "Brand#23") &&
            col("p_size").between(1, 35)))
      val banded = li.join(pt.hint("shuffle_hash"),
          col("l_partkey") === col("p_partkey"))
        .withColumn("band",
          when(col("p_brand").isin("Brand#1", "Brand#2", "Brand#3") &&
            col("p_size").between(1, 15) &&
            col("l_quantity").between(1, 15), 1)
          .when(col("p_brand").isin("Brand#11", "Brand#12", "Brand#13") &&
            col("p_size").between(1, 25) &&
            col("l_quantity").between(10, 30), 2)
          .when(col("p_brand").isin("Brand#21", "Brand#22", "Brand#23") &&
            col("p_size").between(1, 35) &&
            col("l_quantity").between(25, 50), 3))
        .where(col("band").isNotNull)
        .groupBy("band")
        .agg(count(lit(1)).as("n_items"),
          dsum(col("l_extendedprice") * (lit(1.0) - col("l_discount")))
            .as("revenue"))
      s.range(1, 4).select(col("id").cast("int").as("band"))
        .join(broadcast(banded), Seq("band"), "left")
        .select(col("band"), coalesce(col("n_items"), lit(0L)).as("n_items"),
          coalesce(col("revenue"), lit(0.0)).as("revenue"))
        .orderBy("band")
    }),

    // Simpson's-paradox audit — does the pooled price~quantity slope
    // contradict every per-group slope? The aggregation-bias check a
    // metrics platform runs before publishing a pooled trend. Exact
    // per-group moments (quantity as BIGINT, price in cents; Σq·p in
    // DECIMAL(38,0) — n·Σqp passes 2⁶³, so the closed form casts each
    // factor to double FIRST, the autocorr overflow rule), OLS slope
    // per return flag plus the pooled 'ALL' row (one extra global
    // aggregate over the same scan), sign_flip = the per-group slope
    // disagreeing with the pooled sign. Two aggregates, 4 rows out.
    "q_dq_simpson" -> ((s, d) => {
      val li = Tables(s, d, "lineitem")
        .select(col("l_returnflag").as("grp"),
          expr("CAST(round(l_quantity) AS BIGINT)").as("qn"),
          expr("CAST(round(l_extendedprice * 100) AS BIGINT)").as("pc"))
      def moments(df: DataFrame, keyed: Boolean): DataFrame = {
        val g = if (keyed) df.groupBy("grp") else df.groupBy()
        val m = g.agg(count(lit(1)).as("n"), sum(col("qn")).as("sq"),
          sum(col("pc")).as("sp"),
          sum(col("qn") * col("qn")).as("sqq"),
          sum(col("qn").cast(DEC38) * col("pc")).as("spq"))
        if (keyed) m else m.withColumn("grp", lit("ALL"))
      }
      val slope = round(
        (col("n") * col("spq").cast("double") -
          col("sq").cast("double") * col("sp")) /
        (col("n") * col("sqq").cast("double") -
          col("sq").cast("double") * col("sq")), 9)
      val all = moments(li, keyed = false)
        .select(col("grp"), col("n"), slope.as("slope"))
      val pooled = all.select(col("slope").as("pooled_slope"))
      moments(li, keyed = true)
        .select(col("grp"), col("n"), slope.as("slope"))
        .unionAll(all)
        .crossJoin(broadcast(pooled))
        .select(col("grp"), col("n"), col("slope"), col("pooled_slope"),
          (signum(col("slope")) =!= signum(col("pooled_slope")))
            .as("sign_flip"))
        .orderBy("grp")
    }),

    // Class rebalancing — downsample every language to the smallest
    // class's size by a deterministic keyed draw (the training-data
    // rebalance step before a classifier ingests the corpus): per-lang
    // EXACT rank of the md5 key via the house distributed-rank chain
    // (gridBin over broadcast hash bounds → per-(lang, bin) offsets via
    // the bounded triangle join → per-bin windows — partitions are
    // N/(langs·32)-sized, never a global or whole-class sort), keep
    // rank ≤ min-class size. Output: the per-lang composition card
    // (before/kept + the kept-set identity as an exact id sum, so the
    // oracle pins WHICH docs survive, not just how many).
    "q_llm_class_rebalance" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"),
          expr(s"${hexFold("md5(concat('bal', CAST(doc_id AS STRING)))", 13)}")
            .as("hk"))
      val m = docs.groupBy("lang").agg(count(lit(1)).as("cl"))
        .agg(min("cl").as("m"))
      val bounds = docs.agg(min("hk").as("lo"), max("hk").as("hi"))
      val binned = docs.crossJoin(broadcast(bounds))
        .withColumn("b", gridBin(col("hk"), col("lo"), col("hi"), 32))
      val bc = binned.groupBy("lang", "b").agg(count(lit(1)).as("cnt"))
      val offs = bc.join(
          broadcast(bc.select(col("lang").as("l2"), col("b").as("b2"),
            col("cnt").as("c2"))),
          col("l2") === col("lang") && col("b2") < col("b"), "left")
        .groupBy("lang", "b")
        .agg(coalesce(sum("c2"), lit(0L)).as("off"))
      val wb = Window.partitionBy("lang", "b").orderBy("hk", "doc_id")
      binned.join(broadcast(offs), Seq("lang", "b"))
        .withColumn("pos", col("off") + row_number().over(wb))
        .crossJoin(broadcast(m))
        .withColumn("kept", col("pos") <= col("m"))
        .groupBy("lang")
        .agg(count(lit(1)).as("n_before"),
          sum(col("kept").cast("long")).as("n_kept"),
          sum(when(col("kept"), col("doc_id"))).as("kept_id_sum"))
        .orderBy("lang")
    })
  )

  /** DuckDB twin of [[U.gridBin]] over [lo, hi] in `nb` bins. */
  private def oGridBin(v: String, nb: Int): String =
    s"""CAST(CASE WHEN hi <= lo THEN ${nb - 1}
         ELSE least(${nb - 1}, CAST(floor(($v - lo) / ((hi - lo) / $nb))
           AS INT)) END AS BIGINT)"""

  val oracle: Map[String, String] = Map(
    "q_llm_source_overlap" ->
      s"""WITH dtk AS (SELECT source, string_split(text, ' ') AS tk
               FROM documents),
         gr AS (SELECT source, unnest(list_distinct(${oGramsN(5)})) AS g
                FROM dtk),
         dh AS (SELECT DISTINCT source, ${oHexFold("md5(g)", 15)} AS h
                FROM gr),
         tot AS (SELECT source, COUNT(*) AS nd FROM dh GROUP BY source),
         shared AS (SELECT x.source AS sa, y.source AS sb, COUNT(*) AS ns
                    FROM dh x JOIN dh y
                      ON x.h = y.h AND x.source < y.source
                    GROUP BY sa, sb)
         SELECT a.source AS source_a, b.source AS source_b,
           a.nd AS n_a, b.nd AS n_b,
           CAST(coalesce(s.ns, 0) AS BIGINT) AS n_shared,
           round(CAST(coalesce(s.ns, 0) AS DOUBLE) / least(a.nd, b.nd), 6)
             AS containment
         FROM tot a JOIN tot b ON a.source < b.source
         LEFT JOIN shared s ON s.sa = a.source AND s.sb = b.source
         ORDER BY source_a, source_b""",

    "q_llm_js_divergence" ->
      """WITH cnt AS (SELECT source, unnest(string_split(text, ' ')) AS term
                      FROM documents),
         sc AS (SELECT source, term, COUNT(*) AS n FROM cnt
                GROUP BY source, term),
         top AS (SELECT term FROM (
                   SELECT term, CAST(SUM(n) AS BIGINT) AS tn FROM sc
                   GROUP BY term)
                 ORDER BY tn DESC, term LIMIT 200),
         v AS (SELECT sc.* FROM sc JOIN top USING (term)),
         stot AS (SELECT source, CAST(SUM(n) AS BIGINT) AS tot FROM v
                  GROUP BY source),
         p AS (SELECT stot.source, top.term,
                 CAST(coalesce(v.n, 0) + 1 AS DOUBLE) / (stot.tot + 200) AS p
               FROM stot CROSS JOIN top
               LEFT JOIN v ON v.source = stot.source AND v.term = top.term),
         t AS (SELECT x.source AS source_a, y.source AS source_b,
                 round(0.5 * x.p * round(ln(2.0 * x.p / (x.p + y.p)), 9)
                   + 0.5 * y.p * round(ln(2.0 * y.p / (x.p + y.p)), 9), 9)
                   AS t
               FROM p x JOIN p y
                 ON x.term = y.term AND x.source < y.source)
         SELECT source_a, source_b,
           round(CAST(SUM(CAST(t AS DECIMAL(28,9))) AS DOUBLE), 9) AS js_nats
         FROM t GROUP BY source_a, source_b
         ORDER BY source_a, source_b""",

    "q_dq_t_closeness" ->
      s"""WITH cust AS (SELECT c_mktsegment AS seg, c_nationkey AS nat,
               CAST(round(c_acctbal * 100) AS BIGINT) AS bal
             FROM customer),
         bounds AS (SELECT MIN(bal) AS lo, MAX(bal) AS hi FROM cust),
         binned AS (SELECT seg, nat, ${oGridBin("bal", 10)} AS bin
                    FROM cust, bounds),
         cls AS (SELECT seg, nat, bin, COUNT(*) AS n FROM binned
                 GROUP BY seg, nat, bin),
         gfull AS (SELECT dom10.bin,
               CAST(coalesce(g0.gn, 0) AS BIGINT) AS gn
             FROM (SELECT CAST(range AS BIGINT) AS bin FROM range(10)) dom10
             LEFT JOIN (SELECT bin, COUNT(*) AS gn FROM binned
                        GROUP BY bin) g0 ON g0.bin = dom10.bin),
         gcum AS (SELECT bin,
               CAST(SUM(gn) OVER (ORDER BY bin) AS BIGINT) AS cumg
             FROM gfull),
         ctot AS (SELECT seg, nat, CAST(SUM(n) AS BIGINT) AS nc FROM cls
                  GROUP BY seg, nat),
         tot AS (SELECT COUNT(*) AS ng FROM binned),
         dom AS (SELECT seg, nat, nc, CAST(range AS BIGINT) AS bin
                 FROM ctot, range(10)),
         fullc AS (SELECT dom.seg, dom.nat, dom.nc, dom.bin,
               CAST(coalesce(cls.n, 0) AS BIGINT) AS n
             FROM dom LEFT JOIN cls ON cls.seg = dom.seg
               AND cls.nat = dom.nat AND cls.bin = dom.bin),
         cum AS (SELECT seg, nat, nc, bin,
               CAST(SUM(n) OVER (PARTITION BY seg, nat ORDER BY bin)
                 AS BIGINT) AS cumc
             FROM fullc)
         SELECT cum.seg, cum.nat, cum.nc AS n_rows,
           round(CAST(SUM(abs(cum.cumc * tot.ng - gcum.cumg * cum.nc))
               AS DOUBLE)
             / (CAST(cum.nc AS DOUBLE) * tot.ng * 9), 9) AS emd
         FROM cum JOIN gcum USING (bin), tot
         GROUP BY cum.seg, cum.nat, cum.nc, tot.ng
         ORDER BY cum.seg, cum.nat""",

    "q_dq_cramers_v" ->
      """WITH oc AS (SELECT c_mktsegment AS seg, o_orderpriority AS pri
                     FROM orders JOIN customer ON o_custkey = c_custkey),
         cells AS (SELECT seg, pri, COUNT(*) AS n FROM oc GROUP BY seg, pri),
         rs AS (SELECT seg, CAST(SUM(n) AS BIGINT) AS r FROM cells
                GROUP BY seg),
         cs AS (SELECT pri, CAST(SUM(n) AS BIGINT) AS c FROM cells
                GROUP BY pri),
         tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nn FROM cells),
         dims AS (SELECT (SELECT COUNT(*) FROM rs) AS nr,
                    (SELECT COUNT(*) FROM cs) AS npr),
         t AS (SELECT round(
                 CAST(CAST(coalesce(cells.n, 0) * tot.nn - rs.r * cs.c
                     AS DECIMAL(38,0))
                   * CAST(coalesce(cells.n, 0) * tot.nn - rs.r * cs.c
                     AS DECIMAL(38,0)) AS DOUBLE)
                 / (CAST(tot.nn AS DOUBLE) * rs.r * cs.c), 9) AS t,
                 tot.nn AS nn
               FROM rs CROSS JOIN cs
               LEFT JOIN cells ON cells.seg = rs.seg AND cells.pri = cs.pri,
               tot),
         x AS (SELECT nn,
                 round(CAST(SUM(CAST(t AS DECIMAL(28,9))) AS DOUBLE), 6)
                   AS chi2
               FROM t GROUP BY nn)
         SELECT x.nn AS n_total, dims.nr AS n_rows_dim,
           dims.npr AS n_cols_dim, x.chi2,
           CAST((dims.nr - 1) * (dims.npr - 1) AS BIGINT) AS dof,
           round(sqrt(x.chi2 / (x.nn * least(dims.nr - 1, dims.npr - 1))), 6)
             AS cramers_v
         FROM x, dims""",

    "q_ts_pacf" ->
      s"""WITH $oHourlyPurchase,
         tot AS (SELECT COUNT(*) AS n, SUM(CAST(x AS DECIMAL(28,6))) AS sx
                 FROM hourly),
         hx AS (SELECT hr, x, lag FROM hourly, range(0, 4) t(lag)),
         lagged AS (SELECT hx.lag, tot.n,
               round((hx.x - CAST(tot.sx AS DOUBLE) / tot.n)
                 * (h2.x - CAST(tot.sx AS DOUBLE) / tot.n), 6) AS p
             FROM hx JOIN hourly h2 ON h2.hr = hx.hr + hx.lag * 3600, tot),
         cks AS (SELECT lag, n,
               CAST(SUM(CAST(p AS DECIMAL(38,6))) AS DOUBLE) / n AS c
             FROM lagged GROUP BY lag, n),
         w AS (SELECT n,
               MAX(CASE WHEN lag = 0 THEN c END) AS c0,
               MAX(CASE WHEN lag = 1 THEN c END) AS c1,
               MAX(CASE WHEN lag = 2 THEN c END) AS c2,
               MAX(CASE WHEN lag = 3 THEN c END) AS c3
             FROM cks GROUP BY n),
         r AS (SELECT n,
               CASE WHEN c0 > 0 THEN round(c1 / c0, 9) END AS rho1,
               CASE WHEN c0 > 0 THEN round(c2 / c0, 9) END AS rho2,
               CASE WHEN c0 > 0 THEN round(c3 / c0, 9) END AS rho3
             FROM w),
         f2 AS (SELECT *, CASE WHEN 1.0 - rho1 * rho1 <> 0.0 THEN
                 (rho2 - rho1 * rho1) / (1.0 - rho1 * rho1) END AS p22
               FROM r),
         f3 AS (SELECT *, rho1 * (1.0 - p22) AS p21,
                 1.0 - rho1 * (rho1 * (1.0 - p22)) - p22 * rho2 AS den3
               FROM f2)
         SELECT n AS n_hours, rho1, rho2, rho3,
           round(rho1, 9) AS pacf1,
           round(p22, 9) AS pacf2,
           CASE WHEN den3 <> 0.0 THEN
             round((rho3 - p21 * rho2 - p22 * rho1) / den3, 9) END AS pacf3
         FROM f3""",

    "q_ts_hurst" ->
      s"""WITH $oHourlyPurchase,
         lo AS (SELECT MIN(hr) AS h0 FROM hourly),
         sized AS (SELECT hr, x, (hr - h0) // 3600 AS idx,
               ms.m, ((hr - h0) // 3600) // ms.m AS chunk
             FROM hourly, lo,
               (SELECT unnest([8, 16, 32, 64]) AS m) ms),
         st AS (SELECT m, chunk, COUNT(*) AS nc,
               SUM(CAST(x AS DECIMAL(28,6))) AS sxd,
               SUM(CAST(round(x * x, 6) AS DECIMAL(38,6))) AS sxx
             FROM sized GROUP BY m, chunk),
         stf AS (SELECT m, chunk,
               CAST(sxd AS DOUBLE) / nc AS muc,
               sqrt(CAST(sxx AS DOUBLE) / nc
                 - (CAST(sxd AS DOUBLE) / nc) * (CAST(sxd AS DOUBLE) / nc))
                 AS sdev
             FROM st WHERE nc = m),
         cum AS (SELECT sized.m, sized.chunk, stf.sdev,
               CAST(SUM(CAST(round(x * 1000000.0) AS BIGINT))
                 OVER (PARTITION BY sized.m, sized.chunk ORDER BY idx)
                 AS DOUBLE) / 1000000.0
               - (row_number()
                 OVER (PARTITION BY sized.m, sized.chunk ORDER BY idx))
                 * stf.muc AS cdev
             FROM sized JOIN stf
               ON stf.m = sized.m AND stf.chunk = sized.chunk),
         rsx AS (SELECT m, chunk, sdev,
                   MAX(cdev) AS mx, MIN(cdev) AS mn
                 FROM cum GROUP BY m, chunk, sdev),
         rs AS (SELECT m, round((mx - mn) / sdev, 9) AS rs
                FROM rsx WHERE sdev > 0),
         perm0 AS (SELECT m, COUNT(*) AS n_chunks,
               round(CAST(SUM(CAST(rs AS DECIMAL(28,9))) AS DOUBLE)
                 / COUNT(*), 9) AS avg_rs
             FROM rs GROUP BY m),
         perm AS (SELECT md.m,
               CAST(coalesce(perm0.n_chunks, 0) AS BIGINT) AS n_chunks,
               perm0.avg_rs
             FROM (SELECT unnest([8, 16, 32, 64]) AS m) md
             LEFT JOIN perm0 ON perm0.m = md.m),
         pts AS (SELECT m, n_chunks, avg_rs,
               round(ln(CAST(m AS DOUBLE)), 9) AS log_m,
               CASE WHEN avg_rs > 0 THEN round(ln(avg_rs), 9) END AS log_rs
             FROM perm),
         fit AS (SELECT COUNT(*) AS k,
               CAST(SUM(CAST(log_m AS DECIMAL(28,9))) AS DOUBLE) AS fx,
               CAST(SUM(CAST(log_rs AS DECIMAL(28,9))) AS DOUBLE) AS fy,
               CAST(SUM(CAST(round(log_m * log_rs, 9) AS DECIMAL(28,9)))
                 AS DOUBLE) AS fxy,
               CAST(SUM(CAST(round(log_m * log_m, 9) AS DECIMAL(28,9)))
                 AS DOUBLE) AS fxx
             FROM pts WHERE log_rs IS NOT NULL),
         h AS (SELECT CASE WHEN k >= 2 THEN
                 round((k * fxy - fx * fy) / (k * fxx - fx * fx), 6) END
                 AS hurst
               FROM fit)
         SELECT pts.m, pts.n_chunks, pts.avg_rs, pts.log_m, pts.log_rs,
           h.hurst
         FROM pts, h ORDER BY pts.m""",

    "q_graph_assortativity" ->
      s"""WITH ${U.oCoPurchase},
         e AS (SELECT cust AS src, supp AS dst FROM oi
               UNION ALL SELECT supp AS src, cust AS dst FROM oi),
         deg AS (SELECT src, COUNT(*) AS deg FROM e GROUP BY src),
         j AS (SELECT d1.deg AS dx, d2.deg AS dy
               FROM e JOIN deg d1 ON e.src = d1.src
                 JOIN deg d2 ON e.dst = d2.src),
         m AS (SELECT COUNT(*) AS n,
               CAST(SUM(dx) AS BIGINT) AS sx, CAST(SUM(dy) AS BIGINT) AS sy,
               SUM(CAST(dx AS DECIMAL(38,0)) * dx) AS sxx,
               SUM(CAST(dy AS DECIMAL(38,0)) * dy) AS syy,
               SUM(CAST(dx AS DECIMAL(38,0)) * dy) AS sxy
             FROM j),
         v AS (SELECT n,
               n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx AS vx,
               n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy AS vy,
               n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy AS cov
             FROM m)
         SELECT n AS n_edges_directed,
           CASE WHEN vx > 0 AND vy > 0 THEN
             round(cov / sqrt(vx * vy), 9) END AS assortativity
         FROM v""",

    "q_agg_frequency_profile" ->
      """WITH f AS (SELECT event_type, user_id, COUNT(*) AS f FROM events
                    GROUP BY event_type, user_id),
         p AS (SELECT event_type, COUNT(*) AS f0,
               CAST(SUM(f) AS BIGINT) AS f1,
               CAST(SUM(f * f) AS BIGINT) AS f2,
               SUM(CAST(round(f * round(ln(CAST(f AS DOUBLE)), 9), 6)
                 AS DECIMAL(28,6))) AS sfl
             FROM f GROUP BY event_type)
         SELECT event_type, f0 AS f0_users, f1 AS f1_events,
           f2 AS f2_moment,
           round(CAST(f2 AS DOUBLE) * f0 / f1 / f1, 6) AS surprise_index,
           round(round(ln(CAST(f1 AS DOUBLE)), 9)
             - CAST(sfl AS DOUBLE) / f1, 9) AS entropy_nats
         FROM p ORDER BY event_type""",

    "q_llm_dedup_audit" ->
      s"""WITH RECURSIVE ${Llm.oConfCte},
         edges AS (SELECT a AS src, b AS dst FROM conf
                   UNION ALL SELECT b AS src, a AS dst FROM conf),
         reach(doc_id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst AS doc_id, r.lbl
           FROM reach r JOIN edges e ON e.src = r.doc_id),
         comp AS (SELECT doc_id, MIN(lbl) AS component_id FROM reach
                  GROUP BY doc_id),
         bounds AS (SELECT MIN(n_chars) AS lo, MAX(n_chars) AS hi
                    FROM documents),
         binned AS (SELECT d.source, ${oGridBin("d.n_chars", 5)} AS len_bin,
               COUNT(*) AS n_docs,
               CAST(SUM(CASE WHEN d.doc_id <> comp.component_id
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_removed
             FROM documents d JOIN comp ON comp.doc_id = d.doc_id, bounds
             GROUP BY 1, 2),
         dom AS (SELECT DISTINCT source, CAST(range AS BIGINT) AS len_bin
                 FROM documents, range(5))
         SELECT dom.source, dom.len_bin,
           CAST(coalesce(b.n_docs, 0) AS BIGINT) AS n_docs,
           CAST(coalesce(b.n_removed, 0) AS BIGINT) AS n_removed,
           CASE WHEN b.n_docs > 0 THEN
             round(b.n_removed * 100.0 / b.n_docs, 6) END AS pct_removed
         FROM dom LEFT JOIN binned b
           ON b.source = dom.source AND b.len_bin = dom.len_bin
         ORDER BY dom.source, dom.len_bin""",

    "q_llm_ngram_coverage" ->
      s"""WITH dtk AS (SELECT doc_id, lang, string_split(text, ' ') AS tk
               FROM documents),
         g AS (SELECT doc_id, lang, unnest(list_distinct(${U.oGramsN(2)})) AS g
               FROM dtk),
         sided AS (SELECT lang, g,
               $oCovSide
                 AS side
             FROM g),
         train AS (SELECT DISTINCT lang, g FROM sided WHERE side < 4),
         held AS (SELECT DISTINCT lang, g FROM sided WHERE side = 4),
         cov AS (SELECT lang, COUNT(*) AS n_covered FROM held
                 WHERE EXISTS (SELECT 1 FROM train
                               WHERE train.lang = held.lang
                                 AND train.g = held.g)
                 GROUP BY lang),
         htot AS (SELECT lang, COUNT(*) AS n_held FROM held GROUP BY lang)
         SELECT d.lang,
           CAST(coalesce(htot.n_held, 0) AS BIGINT) AS n_held_grams,
           CAST(coalesce(cov.n_covered, 0) AS BIGINT) AS n_covered,
           CASE WHEN coalesce(htot.n_held, 0) > 0 THEN
             round(coalesce(cov.n_covered, 0) * 100.0 / htot.n_held, 6) END
             AS coverage_pct
         FROM (SELECT DISTINCT lang FROM documents) d
         LEFT JOIN htot ON htot.lang = d.lang
         LEFT JOIN cov ON cov.lang = d.lang
         ORDER BY d.lang""",

    "q_llm_heldout_ppl" ->
      s"""WITH dtk AS (SELECT doc_id, lang, string_split(text, ' ') AS tk,
               $oCovSide AS side
             FROM documents),
         g AS (SELECT lang, side, unnest(${U.oGramsN(2)}) AS g FROM dtk),
         bi AS (SELECT lang, side, string_split(g, ' ')[1] AS w1,
                  string_split(g, ' ')[2] AS w2 FROM g),
         c12 AS (SELECT lang, w1, w2, COUNT(*) AS c12 FROM bi
                 WHERE side < 4 GROUP BY lang, w1, w2),
         c1 AS (SELECT lang, w1, CAST(SUM(c12) AS BIGINT) AS c1 FROM c12
                GROUP BY lang, w1),
         vocab AS (SELECT lang, COUNT(*) AS v FROM (
                     SELECT DISTINCT lang, unnest(tk) AS w FROM dtk
                     WHERE side < 4)
                   GROUP BY lang),
         held AS (SELECT lang, w1, w2 FROM bi WHERE side = 4),
         sc AS (SELECT held.lang,
               round(ln(CAST(coalesce(c12.c12, 0) + 1 AS DOUBLE)
                 / (coalesce(c1.c1, 0) + vocab.v)), 9) AS lp
             FROM held
             LEFT JOIN c12 ON c12.lang = held.lang AND c12.w1 = held.w1
               AND c12.w2 = held.w2
             LEFT JOIN c1 ON c1.lang = held.lang AND c1.w1 = held.w1
             JOIN vocab ON vocab.lang = held.lang),
         agg AS (SELECT lang, COUNT(*) AS n_bigrams,
               CAST(SUM(CAST(lp AS DECIMAL(28,9))) AS DOUBLE) AS slp
             FROM sc GROUP BY lang),
         p AS (SELECT lang, n_bigrams,
                 round(-slp / n_bigrams, 9) AS h_nats FROM agg)
         SELECT d.lang,
           CAST(coalesce(p.n_bigrams, 0) AS BIGINT) AS n_bigrams,
           p.h_nats, round(exp(p.h_nats), 6) AS ppl
         FROM (SELECT DISTINCT lang FROM documents) d
         LEFT JOIN p ON p.lang = d.lang
         ORDER BY d.lang""",

    "q_ts_periodogram" ->
      s"""WITH $oHourlyPurchase,
         lo AS (SELECT MIN(hr) AS h0 FROM hourly),
         terms AS (SELECT ps.p,
               round(x * round(cos(6.283185307179586
                 * (((hr - h0) // 3600) % ps.p) / ps.p), 9), 6) AS xc,
               round(x * round(sin(6.283185307179586
                 * (((hr - h0) // 3600) % ps.p) / ps.p), 9), 6) AS xs
             FROM hourly, lo, (SELECT unnest([6, 12, 24, 168]) AS p) ps),
         pw AS (SELECT p AS period_h, COUNT(*) AS n_hours,
               CAST(SUM(CAST(xc AS DECIMAL(38,6))) AS DOUBLE) AS sc,
               CAST(SUM(CAST(xs AS DECIMAL(38,6))) AS DOUBLE) AS ss
             FROM terms GROUP BY p),
         r AS (SELECT period_h, n_hours,
                 round((sc * sc + ss * ss)
                   / (CAST(n_hours AS DOUBLE) * n_hours), 9) AS power
               FROM pw),
         mx AS (SELECT MAX(power) AS mx FROM r)
         SELECT period_h, n_hours, power, power = mx AS is_peak
         FROM r, mx ORDER BY period_h""",

    "q_wl_disjunctive_revenue" ->
      s"""WITH j AS (SELECT p_brand, p_size, l_quantity,
               l_extendedprice * (1.0 - l_discount) AS rev
             FROM lineitem JOIN part ON l_partkey = p_partkey),
         b AS (SELECT CASE
               WHEN p_brand IN ('Brand#1', 'Brand#2', 'Brand#3')
                 AND p_size BETWEEN 1 AND 15
                 AND l_quantity BETWEEN 1 AND 15 THEN 1
               WHEN p_brand IN ('Brand#11', 'Brand#12', 'Brand#13')
                 AND p_size BETWEEN 1 AND 25
                 AND l_quantity BETWEEN 10 AND 30 THEN 2
               WHEN p_brand IN ('Brand#21', 'Brand#22', 'Brand#23')
                 AND p_size BETWEEN 1 AND 35
                 AND l_quantity BETWEEN 25 AND 50 THEN 3 END AS band,
               rev
             FROM j),
         agg AS (SELECT band, COUNT(*) AS n_items,
               ${U.oDsum("rev")} AS revenue
             FROM b WHERE band IS NOT NULL GROUP BY band),
         dom AS (SELECT CAST(range AS INT) AS band FROM range(1, 4))
         SELECT dom.band,
           CAST(coalesce(agg.n_items, 0) AS BIGINT) AS n_items,
           coalesce(agg.revenue, 0.0) AS revenue
         FROM dom LEFT JOIN agg ON agg.band = dom.band
         ORDER BY dom.band""",

    "q_dq_simpson" ->
      """WITH li AS (SELECT l_returnflag AS grp,
               CAST(round(l_quantity) AS BIGINT) AS qn,
               CAST(round(l_extendedprice * 100) AS BIGINT) AS pc
             FROM lineitem),
         g AS (SELECT grp, COUNT(*) AS n, CAST(SUM(qn) AS BIGINT) AS sq,
               CAST(SUM(pc) AS BIGINT) AS sp,
               CAST(SUM(qn * qn) AS BIGINT) AS sqq,
               SUM(CAST(qn AS DECIMAL(38,0)) * pc) AS spq
             FROM li GROUP BY grp),
         a AS (SELECT 'ALL' AS grp, COUNT(*) AS n,
               CAST(SUM(qn) AS BIGINT) AS sq, CAST(SUM(pc) AS BIGINT) AS sp,
               CAST(SUM(qn * qn) AS BIGINT) AS sqq,
               SUM(CAST(qn AS DECIMAL(38,0)) * pc) AS spq
             FROM li),
         u AS (SELECT * FROM g UNION ALL SELECT * FROM a),
         sl AS (SELECT grp, n,
               round((n * CAST(spq AS DOUBLE) - CAST(sq AS DOUBLE) * sp)
                 / (n * CAST(sqq AS DOUBLE) - CAST(sq AS DOUBLE) * sq), 9)
                 AS slope
             FROM u),
         p AS (SELECT slope AS pooled_slope FROM sl WHERE grp = 'ALL')
         SELECT grp, n, slope, pooled_slope,
           sign(slope) <> sign(pooled_slope) AS sign_flip
         FROM sl, p ORDER BY grp""",

    "q_llm_class_rebalance" ->
      s"""WITH docs AS (SELECT doc_id, lang,
               ${oHexFold("md5('bal' || CAST(doc_id AS VARCHAR))", 13)} AS hk
             FROM documents),
         m AS (SELECT MIN(cl) AS m FROM (
                 SELECT lang, COUNT(*) AS cl FROM docs GROUP BY lang)),
         r AS (SELECT lang, doc_id,
                 row_number() OVER (PARTITION BY lang
                   ORDER BY hk, doc_id) AS pos
               FROM docs)
         SELECT r.lang, COUNT(*) AS n_before,
           CAST(SUM(CASE WHEN pos <= m.m THEN 1 ELSE 0 END) AS BIGINT)
             AS n_kept,
           CAST(SUM(CASE WHEN pos <= m.m THEN doc_id END) AS BIGINT)
             AS kept_id_sum
         FROM r, m GROUP BY r.lang ORDER BY r.lang"""
  )
}
