package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** SURVEY §2.11 — LLM-data-pipeline operators (the north star).
  *
  * Scale posture: every operator is shuffle-parallel relational code — no
  * collect(), no driver loops, no fitted models. The similarity search
  * uses an exact broadcast-cross-join over a capped query set for oracle
  * correctness; the at-scale paths are the relational MinHash-band dedup
  * below and the IVF bucketed ANN in Extras, which turn all-pairs scans
  * into bucket-local joins.
  */
object Llm {

  /** MinHash-LSH geometry for q_llm_dedup_near: 16 signature hashes in 4
    * bands of 4 rows. At the confirm threshold j=0.8 a true pair collides
    * in ≥1 band with prob 1−(1−j⁴)⁴ ≈ 97% (99.6% measured at sf0.1: 255 of
    * 256 ground-truth pairs); noise pairs (this corpus is bimodal — every
    * non-dup pair sits below j=0.3) collide with prob < 4·j⁴ ≈ 3 %. */
  private val mhHashes = 16
  private val mhRowsPerBand = 4

  /** Confirmed near-dup pairs (a < b, exact trigram-Jaccard ≥ 0.8), found
    * via relational MinHash banding — the shared front half of
    * q_llm_dedup_near and q_llm_dedup_cc. See q_llm_dedup_near's scale
    * notes: inline hashes, columnar min-aggregates, band-key bucket join,
    * candidate volume O(n·dup-rate).
    *
    * 48-bit integer minhash inputs fold the first 12 hex digits of
    * md5(shingle|i) — the same fold DuckDB runs via list_reduce. */
  /** Distinct trigram shingles (doc_id, g, tf = 1) — the MinHash
    * family's input, and a gram SET as a tf frame: through
    * [[clippedOverlap]] its Σ min and Σ tf are the intersection and set
    * sizes of the Jaccard and containment confirms. */
  private def shingles(s: org.apache.spark.sql.SparkSession, d: String)
    : org.apache.spark.sql.DataFrame = {
    Tables(s, d, "documents").withColumn("tk", textTokens)
      .select(col("doc_id"), explode(array_distinct(gramsN(3))).as("g"), lit(1L).as("tf"))
  }

  /** Per-doc MinHash signature (doc_id, mh0..mh15) over gram frame `g`
    * — 16 columnar min-aggregates on ONE doc-keyed shuffle. Factored
    * from [[bandKeys]] so the round-9 estimator-calibration audit
    * (q_llm_dedup_minhash_calib) reads the same signature definition. */
  private def mhSig(g: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
    val h = (i: Int) =>
      expr(hexFold(s"md5(concat(g, '|', '$i'))", 12)).as(s"h$i")
    val mins = (0 until mhHashes).map(i => min(col(s"h$i")).as(s"mh$i"))
    g.select(col("doc_id") +: (0 until mhHashes).map(h): _*)
      .groupBy("doc_id").agg(mins.head, mins.tail: _*)
  }

  /** (doc_id, band_id, bkey): banded MinHash signature keys over `g`. */
  private def bandKeys(g: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
    val sig = mhSig(g)
    val bandCols = (0 until mhHashes / mhRowsPerBand).map { b =>
      val ms = (0 until mhRowsPerBand).map(j => col(s"mh${b * mhRowsPerBand + j}"))
      struct(lit(b).as("band_id"), md5(concat_ws(",", ms: _*)).as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id"), col("bb.bkey"))
  }

  /** The banded signature frame for dir `d` — the ONE banding
    * definition, exposed for the streaming collide processor
    * (graft.streaming.Streams.bandCollide replays exactly this frame;
    * StreamingSpec asserts its emitted candidates equal
    * [[bandCandidates]] on in-order replay, and perfbench's
    * `stream:bandcollide` item replays it for the state-store metrics). */
  private[graft] def bandKeyFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    bandKeys(shingles(s, d))

  /** The candidate documents of `cand(a, b)`: distinct (doc_id). */
  private def candDocs(cand: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame =
    cand.select(col("a").as("doc_id"))
      .unionByName(cand.select(col("b").as("doc_id"))).distinct()

  /** The ONE clipped-overlap join of the pair operators. For candidate
    * pairs `cand(a, b)` and a tf frame `tf(doc_id, by…, g, tf)` keyed by
    * (doc_id, by…, g) it returns (a, b, by…, sza, szb, i) per `by` key:
    * i = Σ_g min(tf_a, tf_b) and sz = Σ tf over the doc's grams. A gram
    * SET (tf = 1, [[shingles]]) makes i and sz the intersection and set
    * sizes of the Jaccard and containment confirms; counts make i the
    * multiset (clipped) overlap of the CWS weighted-Jaccard confirm,
    * ROUGE-2, BLEU and chrF. Each pair lays both docs' grams along
    * itself (side 0 = a, 1 = b) and two aggregates give all three sums,
    * so `cand` and `tf` are each read once.
    * Pairs sharing no gram drop out. A fix here fixes every pair
    * operator at once. */
  private def clippedOverlap(cand: org.apache.spark.sql.DataFrame,
      tf: org.apache.spark.sql.DataFrame, by: String*)
    : org.apache.spark.sql.DataFrame = {
    def on(side: Int) = sum(when(col("side") === side, col("tf")).otherwise(0L))
    cand.select(col("a"), col("b"),
        posexplode(array(col("a"), col("b"))).as(Seq("side", "doc_id")))
      .join(tf, "doc_id")
      .groupBy("a", "b" +: by :+ "g": _*)
      .agg(on(0).as("tfa"), on(1).as("tfb"))
      .groupBy("a", "b" +: by: _*)
      .agg(sum(col("tfa")).as("sza"), sum(col("tfb")).as("szb"),
        sum(least(col("tfa"), col("tfb"))).as("i"))
      .where(col("i") > 0)
  }

  /** Term frequencies (doc_id, by…, g, tf) of the grams `grams` emits
    * from the CANDIDATE documents of `cand` only. The pair grades join
    * nothing but candidate docs' grams, so the documents are
    * semi-joined to the candidate doc set BEFORE the explode's shuffle
    * (measured: a corpus-wide tf ran 37 s warm at ×10; restricted, the
    * frame is candidate-bound like the pairs). The doc set is
    * dup-rate-bounded ⇒ broadcast here; at a 100 TB dup rate the same
    * restriction rides a keyed semi-join instead. */
  private def candTf(s: org.apache.spark.sql.SparkSession, d: String,
      cand: org.apache.spark.sql.DataFrame, by: String*)(
      grams: org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame =
    grams(Tables(s, d, "documents")
        .join(broadcast(candDocs(cand)), Seq("doc_id"), "left_semi"))
      .groupBy("doc_id", by :+ "g": _*).agg(count(lit(1)).as("tf"))

  /** Jaccard confirm of candidates `cand(a, b)` over tf frame `tf`:
    * Σ min / Σ max ≥ 0.8, with Σ max = sza + szb − i from exact BIGINT
    * sums and one float division at the compare — the set Jaccard over
    * [[shingles]], the weighted Jaccard over [[termTf]]. */
  private def jaccardConfirm(tf: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    clippedOverlap(cand, tf)
      .where(col("i").cast("double") / (col("sza") + col("szb") - col("i")) >= 0.8)
      .select("a", "b")

  /** Containment confirm: the smaller gram set is ≥90% inside the larger. */
  private def containConfirm(g: org.apache.spark.sql.DataFrame,
      cand: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    clippedOverlap(cand, g)
      .where(col("i").cast("double") / least(col("sza"), col("szb")) >= 0.9)
      .select("a", "b")

  /** 0-bit consistent weighted sampling (CWS) geometry for
    * q_llm_dedup_wjaccard: 24 samples in 6 bands of 4, over weighted
    * BIGRAM shingles. For weighted Jaccard w the per-sample collision
    * probability IS w (the CWS guarantee), so a band collides with w⁴
    * and a true pair survives ≥1 of 6 bands with 1−(1−w⁴)⁶ — 99.8% at
    * the corpus's true-pair floor w = 0.9, 95.8% at the declared 0.8
    * threshold.
    *
    * Feature and geometry are MEASURED choices, not defaults. The
    * first cut sampled unigram tf with 4 bands of 2 — correct output,
    * quadratic cost: this corpus's unigram-weighted similarity has a
    * high noise floor (median pair w = 0.36, p99 = 0.59 — every doc
    * draws the same 31-word vocabulary), so bands collided on ~42% of
    * ALL pairs (4w² at the median) and the ×10 probe measured 72 s —
    * the candidate join WAS all-pairs in disguise. Weighted-bigram
    * similarity on the same fixture is bimodal (noise ≤ 0.1, signal
    * ≥ 0.9, the SAME 28 ground-truth pairs): noise collides at ≤ 6w⁴
    * ≈ 0.06%, so candidates stay O(n·dup-rate). The general 100 TB
    * rule this encodes: banding geometry must be derived from the
    * measured pair-similarity distribution — a threshold sitting near
    * the noise mode makes ANY banding quadratic. */
  private val cwsHashes = 24
  private val cwsRowsPerBand = 4

  /** Per-doc CWS signature: for each of the 24 hashes, the argmin over
    * the doc's bigram SHINGLES of round(−ln(u(term, h)), 9) / tf — the
    * 0-bit CWS
    * draw ("Improved Consistent Sampling", Ioffe 2010, reduced to the
    * exponential-race form): u is a deterministic md5 uniform in
    * (0, 1], identical in both engines by construction; dividing the
    * exponential draw by the term's tf makes heavier terms win
    * proportionally more often, which is exactly what makes
    * E[collision] = weighted Jaccard.
    *
    * COST SHAPE, measured twice: (1) hashing per (doc, term, h) row
    * with an 8× explode was 40 s at bench scale — the md5 draw depends
    * only on (term, h), so it is computed once per distinct term on
    * the vocab frame and joined back; (2) min(struct(score, term)) is
    * NOT hash-aggregable (struct buffers force SortAggregate — 144 s:
    * two full sorts of the joined incidence), so each argmin is packed
    * into ONE BIGINT, score-nanos · 2²⁸ + a 28-bit term hash — min
    * over longs keeps the single doc-keyed shuffle inside
    * HashAggregate. The band key then drops the score and hashes only
    * the winner's 28-bit term id (m % 2²⁸) — the 0-bit CWS rule; see
    * the band construction note in [[wjaccard]]. Ties break by
    * (score, term-hash), mirrored verbatim in the oracle. */
  private def cwsSig(tf: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
    val uh = tf.select("g").distinct().select(
      col("g") +:
        expr(s"${hexFold("md5(g)", 7)}").as("tid") +:
        (0 until cwsHashes).map { h =>
          expr(s"""round(-ln((${hexFold(s"md5(concat(g, '#', '$h'))", 12)}
              % 1000000 + 1) / 1000000.0), 9)""").as(s"u$h")
        }: _*)
    // uh is the KB-scale vocab artifact — always broadcast; the sig
    // frame (one row per doc) is lazily checkpointed so the band
    // self-join reads it instead of deriving the aggregate twice
    tf.join(broadcast(uh), "g")
      .groupBy("doc_id")
      .agg(
        min(expr(packedMin(0))).as("m0"),
        (1 until cwsHashes).map(h => min(expr(packedMin(h))).as(s"m$h")): _*)
      .localCheckpoint(false)
  }

  /** The packed CWS argmin atom for hash h: score nanos · 2²⁸ + tid.
    * Overflow bound (the ks_drift documentation rule): u ≤
    * −ln(1/10⁶) ≈ 13.816 and tf ≥ 1, so score-nanos ≤ 1.382·10¹⁰ and
    * the packed atom ≤ 1.382·10¹⁰ · 2²⁸ + 2²⁸ ≈ 3.71·10¹⁸ < 2⁶³
    * (9.22·10¹⁸) — a 2.5× margin that is INPUT-INDEPENDENT (the draw
    * grid, not the data, bounds u). */
  private def packedMin(h: Int): String =
    s"CAST(round(round(u$h / tf, 9) * 1e9) AS BIGINT) * 268435456 + tid"

  /** Per-doc bigram-shingle frequencies (doc_id, g, tf) — the weighted
    * shingle frame.
    * Lazily localCheckpointed (the orderBrandSets discipline): THREE
    * consumers (vocab distinct, the signature join, the confirm) would
    * otherwise each re-run the tokenize + (doc, term) shuffle.
    *
    * The repartition BEFORE the checkpoint is load-bearing, measured:
    * AQE coalesces this small aggregate's shuffle to ~1 partition, and
    * a localCheckpoint FREEZES that layout — every downstream stage
    * (the 24-min CWS aggregate above all) then ran single-threaded
    * (one 9.3 s task at sf0.1; 12.6 s full query). An explicit
    * doc_id-keyed repartition at defaultParallelism restores
    * parallelism through the checkpoint AND pre-partitions the frame
    * for the doc-keyed signature/size aggregates (no further shuffle):
    * full query 12.6 → 2.1 s fresh-materialized at sf0.1. No
    * checkpoint and a per-session memoized eager one were measured
    * against this form at ×100 (BASELINE.md "q_llm_dedup_wjaccard"
    * row). */
  private def termTf(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame =
    Tables(s, d, "documents").withColumn("tk", textTokens)
      .select(col("doc_id"), explode(gramsN(2)).as("g"))
      .groupBy("doc_id", "g").agg(count(lit(1)).as("tf"))
      .repartition(s.sparkContext.defaultParallelism, col("doc_id"))
      .localCheckpoint(false)

  /** The weighted-Jaccard (CWS) dedup pipeline of q_llm_dedup_wjaccard. */
  private def wjaccard(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val tf = termTf(s, d)
    // Band keys hash the sample IDENTITY ONLY (the 28-bit term id,
    // m % 2²⁸) — the 0-bit CWS semantics. Hashing the full packed atom
    // would additionally require the argmin term's tf to match in both
    // docs, silently degrading recall exactly for the
    // boilerplate-repetition pairs this operator exists to catch (two
    // docs sharing argmin term t with tf 10 vs 16 are w = 0.89
    // near-dups, yet their atoms differ whenever t wins the race). The
    // packed score stays in the aggregate only to make the argmin
    // deterministic; the band drops it.
    val bandCols = (0 until cwsHashes / cwsRowsPerBand).map { b =>
      val ms = (0 until cwsRowsPerBand).map(j =>
        (col(s"m${b * cwsRowsPerBand + j}") % lit(268435456L)).cast("string"))
      struct(lit(b).as("band_id"),
        md5(concat_ws(",", ms: _*)).as("bkey"))
    }
    val bands = cwsSig(tf)
      .select(col("doc_id"), explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("bb.band_id").as("band_id"),
        col("bb.bkey").as("bkey"))
    val cand = bands.as("x").join(bands.as("y"),
        col("x.band_id") === col("y.band_id") &&
          col("x.bkey") === col("y.bkey") &&
          col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    U.dupGroups(Tables(s, d, "documents"), jaccardConfirm(tf, cand))
  }

  /** MinHash banding candidates (a < b), memoized per (session, sfDir)
    * — the one frame the whole set-MinHash family starts from. FOUR
    * queries derive it (near via confirmedPairs, cc/keep_best via the
    * edge memo, containment, rouge_pairs), and its lineage carries the
    * family's dominant cost: 16 md5 draws per (doc, shingle) row.
    * Before the memo, q_llm_rouge_pairs re-derived it alone at 6.0 s
    * in-suite while its siblings shared lineage at ~0.2 s; tiny frame
    * (≈ n·dup-rate rows), lazy checkpoint — first consumer
    * materializes, the rest read it back. */
  /** The candidate join's full lineage, pre-checkpoint — split out so
    * PlanSpec can guard the banding join's shape (the memoized form
    * below truncates to an ExistingRDD scan at plan time). */
  private[graft] def bandCandidatesRaw(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val band = bandKeys(shingles(s, d))
    band.as("x").join(band.as("y"),
        col("x.band_id") === col("y.band_id") && col("x.bkey") === col("y.bkey")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
  }

  private[graft] def bandCandidates(s: org.apache.spark.sql.SparkSession, d: String)
    : org.apache.spark.sql.DataFrame =
    graft.Memo(s, s"mh-cand:$d") {
      bandCandidatesRaw(s, d).localCheckpoint(false)
    }

  /** Exposed (round 10) as the equivalence target of the streaming
    * confirm pipeline (graft.streaming.Streams.dedupConfirm):
    * StreamingSpec asserts the stream's confirmed set equals exactly
    * this frame on in-order replay. */
  private[graft] def confirmedPairs(s: org.apache.spark.sql.SparkSession, d: String)
    : org.apache.spark.sql.DataFrame =
    jaccardConfirm(shingles(s, d), bandCandidates(s, d))

  /** Per-doc arrival frame for the streaming dedup pipeline: each doc's
    * distinct trigram set plus its banded signature keys — the ONE row
    * per document an ingest stream delivers (Streams.DocArrival's
    * schema). Derived from the same [[shingles]]/[[bandKeys]] frames the
    * batch path uses, so the streaming twin cannot drift. */
  private[graft] def docArrivalFrame(s: org.apache.spark.sql.SparkSession,
      d: String): org.apache.spark.sql.DataFrame = {
    val g = shingles(s, d)
    val sets = g.groupBy("doc_id")
      .agg(expr("sort_array(collect_set(g))").as("shingles"))
    val bands = bandKeys(g).groupBy("doc_id")
      .agg(expr("sort_array(collect_list(struct(band_id, bkey)))").as("bands"))
    sets.join(bands, "doc_id")
  }

  /** (doc_id, component_id) for EVERY document: iterative min-label
    * propagation over the confirmed near-dup pairs (the standard Spark
    * shape for CC — one shuffle join per round, localCheckpoint'ed
    * lineage, rounds = component diameter ⇒ 2-3 for near-clique dup
    * clusters), restricted to edge endpoints (every other doc is a
    * singleton by construction, merged back at the end). Both the edge
    * set and the converged labels are memoized per (session, sfDir):
    * q_llm_dedup_cc and q_llm_dedup_keep_best share one propagation. */
  private[graft] def ccLabels(s: org.apache.spark.sql.SparkSession, d: String)
    : org.apache.spark.sql.DataFrame = {
    val lbls = graft.Memo(s, s"cc-labels:$d") {
      val edges = graft.Memo(s, s"cc-edges:$d") {
        val conf = confirmedPairs(s, d)
        conf.select(col("a").as("src"), col("b").as("dst"))
          .union(conf.select(col("b").as("src"), col("a").as("dst")))
          .localCheckpoint(true)
      }
      var labels = edges.select(col("src").as("doc_id")).distinct()
        .select(col("doc_id"), col("doc_id").as("lbl")).localCheckpoint(true)
      var changed = 1L
      while (changed > 0) {
        val prop = labels.join(edges, col("doc_id") === col("src"))
          .select(col("dst").as("doc_id"), col("lbl"))
        val next = labels.union(prop)
          .groupBy("doc_id").agg(min(col("lbl")).as("lbl")).localCheckpoint(true)
        changed = next.as("n")
          .join(labels.as("o"), "doc_id")
          .where(col("n.lbl") =!= col("o.lbl")).count()
        labels = next
      }
      labels
    }
    Tables(s, d, "documents").select("doc_id")
      .join(lbls.withColumnRenamed("lbl", "cid"), Seq("doc_id"), "left")
      .select(col("doc_id"), coalesce(col("cid"), col("doc_id")).as("component_id"))
  }

  val queries: Map[String, Q] = Map(
    // The heritage MapReduce query (Dean & Ghemawat §1): word count.
    "q_llm_wordcount" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(explode(textTokens).as("word"))
        .groupBy("word").agg(count(lit(1)).as("cnt"))
        .orderBy(col("cnt").desc, col("word"))
        .limit(50)),

    "q_llm_dedup_exact" -> ((s, d) =>
      Tables(s, d, "documents")
        .groupBy(md5(trim(lower(col("text")))).as("text_hash"))
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_copies"))
        .orderBy("keep_id")),

    // Relational MinHash-band near-dup dedup over trigram shingles:
    // shingle → 16 minhashes → 4 banded keys → bucket-join candidates →
    // exact-Jaccard confirm → one dup-group row PER DOC (keep_id = lowest
    // confirmed neighbor, n_dups = confirmed-neighbor count). Everything is
    // integer/md5 arithmetic identical in DuckDB, so the query is fully
    // oracled — no ml UDFs, no fitted model, nothing outside codegen.
    //
    // Scale: hashes are computed inline per (doc, shingle) row (no shingle
    // dimension to broadcast — at 100 TB shingles are mostly unique), the
    // signature is 16 columnar min-aggregates on a single shuffle by
    // doc_id, and the candidate join shuffles on the 4 band keys, whose
    // bucket sizes are dup-group sizes — candidate volume is O(n·dup-rate)
    // (measured: 255 candidates from 5 000 docs at sf0.1), never all-pairs.
    // A pathological boilerplate cluster (one text duplicated millions of
    // times) would skew one bucket; AQE skew-join splits it, and the
    // exact-dedup pass (q_llm_dedup_exact) is the cheaper upstream filter
    // for that shape anyway.
    "q_llm_dedup_near" -> ((s, d) =>
      U.dupGroups(Tables(s, d, "documents"), confirmedPairs(s, d))),

    // MinHash ESTIMATOR CALIBRATION (round 9) — the instrumentation the
    // dedup family ran without: per candidate pair, the signature
    // estimate ĵ = (# equal hashes)/16 against the exact trigram
    // Jaccard, bucketed into the 17-point eq16 domain (the calibration
    // curve a threshold choice reads: "at what estimate does true
    // similarity clear 0.8?"). E[ĵ] = j is the MinHash guarantee; this
    // measures it on the corpus's own candidates. Banding algebra gives
    // a sharp testable edge: a candidate collides in ≥1 band of 4 rows,
    // so eq16 < 4 bins are provably empty (PropertySpec pins it).
    // Cost shape: rides the memoized mh-cand frame + ONE signature
    // aggregate + the family's shared clippedOverlap on candidates
    // only (O(n·dup-rate), never all-pairs); output is the fixed 17-row
    // domain (full-domain report, the q_dq_psi lesson). Exact-decimal
    // mean of the 1e-6-rounded per-pair Jaccards, one division rounded
    // once; ĵ = eq16/16 is exact in binary (power-of-two divisor).
    "q_llm_dedup_minhash_calib" -> ((s, d) => {
      val cand = bandCandidates(s, d)
      // everything downstream touches only CANDIDATE docs (~n·dup-rate
      // of the corpus), so the gram frame is endpoint-pruned BEFORE the
      // 16-md5-draw signature aggregate and the intersection join — the
      // full-corpus mhSig re-derivation was the first cut's cost
      // (measured ×100 warm 48.0 → 10.6 s and ×10 8.6 → 5.2 s with this
      // semi-join; the candidate-doc list is n·dup-rate rows, bucketed
      // semi-join, and clippedOverlap's per-pair work is unchanged — it
      // was already candidate-bounded)
      val g = shingles(s, d)
        .join(candDocs(cand).hint("shuffle_hash"), Seq("doc_id"), "left_semi")
      val sig = mhSig(g)
      val sa = sig.toDF(sig.columns.map(c =>
        if (c == "doc_id") "a" else s"a_$c"): _*)
      val sb = sig.toDF(sig.columns.map(c =>
        if (c == "doc_id") "b" else s"b_$c"): _*)
      val eq = (0 until mhHashes)
        .map(i => (col(s"a_mh$i") === col(s"b_mh$i")).cast("long"))
        .reduce(_ + _)
      val withEst = cand.join(sa, "a").join(sb, "b")
        .select(col("a"), col("b"), eq.as("eq16"))
      val exact = clippedOverlap(cand, g).select(col("a"), col("b"),
        round(col("i").cast("double") / (col("sza") + col("szb") - col("i")), 6)
          .as("j"))
      val pairs = withEst.join(exact, Seq("a", "b"), "left")
        .select(col("eq16"), coalesce(col("j"), lit(0.0)).as("j"))
      val bins = pairs.groupBy("eq16").agg(count(lit(1)).as("n_pairs"),
        sum(expr("CAST(j AS DECIMAL(18,6))")).as("sj"))
      s.range(0, 17).select(col("id").as("eq16"))
        .join(broadcast(bins), Seq("eq16"), "left")
        .select(col("eq16"),
          coalesce(col("n_pairs"), lit(0L)).as("n_pairs"),
          round(col("eq16") / lit(16.0), 6).as("est_jaccard"),
          when(col("n_pairs") > 0,
            round(col("sj").cast("double") / col("n_pairs"), 6))
            .as("mean_jaccard"))
        .orderBy("eq16")
    }),

    // WEIGHTED-Jaccard dedup (SURVEY §2.34) via 0-bit consistent
    // weighted sampling — the tf-aware sibling of q_llm_dedup_near:
    // set-based MinHash treats "the the the cat" ≡ "the cat", CWS
    // weighs terms by their counts, which is the right metric when
    // near-dups differ by boilerplate REPETITION rather than token
    // set. Same 100 TB shape as the whole dedup family: banding keys
    // from per-doc samples (one keyed aggregate), bucket-local
    // candidate join (never all-pairs), exact confirm on candidates
    // only — weighted Jaccard Σmin(tf)/Σmax(tf) ≥ 0.8 computed from
    // the identity Σmax = sza + szb − Σmin with exact BIGINT tf sums,
    // one float division at the compare.
    "q_llm_dedup_wjaccard" -> wjaccard _,

    // ROUGE-2 overlap grading (SURVEY §2.35) — the eval-metric view of
    // the dedup family: for every banding CANDIDATE pair, the
    // clipped-bigram precision/recall/F1 that summarization eval
    // reports. The dedup confirms yield a DECISION (keep/drop); this
    // yields the GRADE — which side is the subset (P≫R: b quotes a),
    // how much survives, the number a curation review ranks pairs by.
    // Candidates ride the SAME MinHash banding as q_llm_dedup_near
    // (bucket-local join, never all-pairs); the overlap is the clipped
    // count Σ min(tf_a, tf_b) over bigram MULTISETS (ROUGE's clipping
    // rule — multiset, unlike the trigram-SET confirms). P/R/F1 each
    // come from exact BIGINTs in ONE rounded division — F1 as
    // 2·ov/(sza+szb), never from rounded P and R (double-rounding
    // would drift cross-engine). Pairs sharing zero bigrams drop out
    // (inner join): a banding candidate with no bigram overlap has no
    // ROUGE row to report.
    "q_llm_rouge_pairs" -> ((s, d) => {
      val cand = bandCandidates(s, d)
      // the same bigram-tf frame as the CWS dedup (termTf), via the
      // shared U.gramsN(2) — here over the candidate docs only, because
      // its consumers join per candidate pair, not per doc partition
      val bg = candTf(s, d, cand)(_.withColumn("tk", textTokens)
        .select(col("doc_id"), explode(gramsN(2)).as("g")))
      clippedOverlap(cand, bg)
        .select(col("a"), col("b"), col("i").as("ov"),
          round(col("i") * lit(1.0) / col("szb"), 6).as("rouge_p"),
          round(col("i") * lit(1.0) / col("sza"), 6).as("rouge_r"),
          round(col("i") * lit(2.0) / (col("sza") + col("szb")), 6)
            .as("rouge_f1"))
        .orderBy("a", "b")
    }),

    // Per-pair (sentence-level) BLEU grading (hypothesis = b,
    // reference = a) — the machine-translation sibling of the ROUGE-2
    // grade, over the SAME banding candidates (bucket-local join, never
    // all-pairs). Each pair is graded as a one-segment corpus: n-gram
    // statistics are NEVER pooled across pairs (a pooled corpus-BLEU
    // over a doc set would be a different operator). Clipped n-gram
    // precision p_n = Σmin(tf_b, tf_a)/|b|_n for n = 1..4 from ONE
    // (doc, n, gram, tf) frame — a single branch with the order n as a
    // column (U.gramsAt, the U.gramsN strings at every order), BLEU =
    // BP·exp(Σ ln p_n / 4) with the
    // standard no-smoothing rule: any order with zero overlap ⇒ BLEU 0
    // (the n_orders column says which). EVERY banding candidate emits a
    // row — pairs disjoint at all four orders left-join back onto the
    // candidate frame as (n_orders = 0, bleu = 0.0) instead of silently
    // vanishing from the grade. Grid discipline: each ln p_n
    // rounds to 1e-9 BEFORE the DECIMAL(18,9) sum (the ppl_proxy
    // rule), exp rounds to 1e-9, the brevity penalty
    // min(1, e^(1−len_a/len_b)) rounds to 1e-9, and the product to
    // 1e-6 — identical op order in the DuckDB twin, so the doubles
    // match bit-for-bit. Candidate-bounded like every pair grade.
    "q_llm_bleu_pairs" -> ((s, d) => {
      val cand = bandCandidates(s, d)
      val tf = candTf(s, d, cand, "n")(_.select(col("doc_id"),
          textTokens.as("tk"), explode(sequence(lit(1), lit(4))).as("n"))
        .select(col("doc_id"), col("n"), explode(gramsAt(col("n"))).as("g")))
      val perN = clippedOverlap(cand, tf, "n").withColumn("lnp",
        round(log(col("i").cast("double") / col("szb")), 9))
      val lens = tf.where(col("n") === 1).groupBy("doc_id")
        .agg(sum(col("tf")).as("sz"))
      val agg = perN.groupBy("a", "b")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("lnp").cast("decimal(18,9)")).cast("double").as("slnp"))
      // left join back onto cand: a pair with zero overlap at EVERY
      // order (no perN row at all) still grades, as (0 orders, bleu 0);
      // agg is candidate-bounded like cand itself → broadcast, not SMJ
      cand.join(broadcast(agg), Seq("a", "b"), "left")
        .join(lens.select(col("doc_id").as("a"), col("sz").as("len_a")), "a")
        .join(lens.select(col("doc_id").as("b"), col("sz").as("len_b")), "b")
        .withColumn("n_orders", coalesce(col("n_orders"), lit(0L)))
        .withColumn("bp", when(col("len_b") >= col("len_a"), lit(1.0))
          .otherwise(round(
            exp(lit(1.0) - col("len_a").cast("double") / col("len_b")), 9)))
        .select(col("a"), col("b"), col("len_a"), col("len_b"),
          col("n_orders"), col("bp"),
          when(col("n_orders") < 4, lit(0.0)).otherwise(
            round(col("bp") * round(exp(col("slnp") / 4.0), 9), 6))
            .as("bleu"))
        .orderBy("a", "b")
    }),

    // chrF pair grading (round 12 — the character-level member that
    // completes the MT-grade family: BLEU prices word n-gram precision,
    // ROUGE-2 recall/F over bigrams, chrF character n-gram F-score —
    // the tokenization-free grade that survives morphology/compounding,
    // Popović 2015). Per banding candidate (hyp = b, ref = a): clipped
    // multiset matches m_n = Σ min(tf_a, tf_b) over character n-grams
    // of the whitespace-stripped text for n = 2..4 (three orders bound
    // the frame at ~3× the char stream; the standard 1..6 changes the
    // constant, not the shape), P_n = m/|hyp|_n, R_n = m/|ref|_n,
    // F2_n = 5PR/(4P+R) (β = 2, recall-weighted — the published chrF2),
    // chrf = Σ F2_n / 3 with zero-match orders contributing 0. EVERY
    // candidate emits (the BLEU left-join rule): disjoint pairs read
    // (n_orders = 0, chrf = 0). Grid discipline: P/R/F2 each round to
    // 1e-9 off exact BIGINT counts, the F2 sum rides DECIMAL(18,9),
    // chrf rounds to 1e-6 — identical op order in the twin. The char
    // n-gram frame is one branch with the order n as a column, over the
    // candidate docs only (char grams are ~3× the char stream, heavier
    // than word grams). Candidate-bounded.
    "q_llm_chrf_pairs" -> ((s, d) => {
      val cand = bandCandidates(s, d)
      val tf = candTf(s, d, cand, "n")(_.select(col("doc_id"),
          regexp_replace(col("text"), " ", "").as("t"),
          explode(sequence(lit(2), lit(4))).as("n"))
        .select(col("doc_id"), col("n"), explode(expr(
          """CASE WHEN length(t) < n THEN array()
             ELSE transform(sequence(1, length(t) - (n - 1)),
               i -> substring(t, i, n)) END""")).as("g")))
      val perN = clippedOverlap(cand, tf, "n")
        .withColumn("p", round(col("i").cast("double") / col("szb"), 9))
        .withColumn("r", round(col("i").cast("double") / col("sza"), 9))
        .withColumn("f2", round(lit(5.0) * col("p") * col("r") /
          (lit(4.0) * col("p") + col("r")), 9))
      val agg = perN.groupBy("a", "b")
        .agg(count(lit(1)).as("n_orders"),
          sum(col("f2").cast("decimal(18,9)")).cast("double").as("sf2"))
      cand.join(broadcast(agg), Seq("a", "b"), "left")
        .select(col("a"), col("b"),
          coalesce(col("n_orders"), lit(0L)).as("n_orders"),
          round(coalesce(col("sf2"), lit(0.0)) / 3.0, 6).as("chrf"))
        .orderBy("a", "b")
    }),

    // CONTAINMENT dedup — the asymmetric cousin of the Jaccard confirm:
    // flags pairs where the SMALLER trigram set is ≥90% inside the larger
    // (quotes, re-posts with boilerplate, doc-in-doc). Candidates come
    // from the same MinHash banding as q_llm_dedup_near — so recall is
    // the symmetric-Jaccard one and honest about its blind spot: a tiny
    // doc buried in a huge one won't band-collide (the substring-span
    // pass q_llm_substring_dedup is the tool for that shape); what this
    // catches is near-equal-size containment, at banding cost, never
    // all-pairs. Confirm arithmetic is one integer division compare.
    "q_llm_dedup_containment" -> ((s, d) =>
      U.dupGroups(Tables(s, d, "documents"),
        containConfirm(shingles(s, d), bandCandidates(s, d)))),

    // Transitive dup groups: connected components over the confirmed
    // near-dup pairs (a kept b, b kept c ⇒ {a,b,c} are one group — the
    // closure q_llm_dedup_near's direct-neighbor view doesn't take).
    // Iterative min-label propagation, the standard Spark shape for CC /
    // PageRank-class algorithms: each round is one shuffle join; the label
    // frame is localCheckpoint'ed so lineage stays flat; rounds = graph
    // diameter (dup clusters are near-cliques ⇒ 2-3 rounds). Oracled via
    // a DuckDB recursive CTE computing the exact closure.
    "q_llm_dedup_cc" -> ((s, d) => {
      val comp = ccLabels(s, d)
      val compSize = comp.groupBy("component_id")
        .agg(count(lit(1)).as("component_size"))
      comp.join(compSize, "component_id")
        .select("doc_id", "component_id", "component_size")
        .orderBy("doc_id")
    }),

    // Cluster-size distribution of the transitive near-dup components —
    // the one-line dedup health report (how much of the corpus sits in
    // clusters of 2, 3, …; a heavy tail means a boilerplate family the
    // banding thresholds are missing). Rides the SAME memoized
    // propagation as q_llm_dedup_cc / keep_best: two dim-bounded
    // aggregates on top, zero extra corpus passes.
    "q_llm_dup_cluster_hist" -> ((s, d) =>
      ccLabels(s, d)
        .groupBy("component_id").agg(count(lit(1)).as("csize"))
        .groupBy("csize").agg(count(lit(1)).as("n_clusters"))
        .orderBy("csize")),

    // The production endgame of every dedup pass: per transitive dup
    // group keep the HIGHEST-QUALITY member (U.qualityE6 — the same
    // integer score q_llm_quality declares, ties to the smaller doc_id)
    // instead of the arbitrary smallest id. Composes the memoized CC
    // labels with a per-component argmax window — partitions are
    // dup-cluster sized (bounded), so no global sort appears, and the
    // quality join is doc-aligned (one shuffle on doc_id at worst;
    // here it folds into the label join).
    "q_llm_dedup_keep_best" -> ((s, d) => {
      val q = Tables(s, d, "documents")
        .select(col("doc_id"), U.qualityE6.as("quality_e6"))
      val w = Window.partitionBy("component_id")
        .orderBy(col("quality_e6").desc, col("doc_id"))
      ccLabels(s, d).join(q, "doc_id")
        .withColumn("keep_id", first(col("doc_id")).over(w))
        .select(col("doc_id"), col("component_id"), col("quality_e6"),
          col("keep_id"), (col("doc_id") === col("keep_id")).as("kept"))
        .orderBy("doc_id")
    }),

    // Exact cosine top-k (cosine ≡ dot: embeddings are L2-normalized).
    // Query set is broadcast; graft_dot is the codegen'd Catalyst
    // expression (same left-to-right accumulation as the HOF fold), and
    // round(·,6) absorbs the engines' summation-order ulp drift.
    "q_llm_simsearch_topk" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings")
      val qs = emb.where(col("label") === 0 && col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"))
      val cand = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"))
      val dot = expr("round(graft_dot(qe, ce), 6)")
      val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("cid"))
      broadcast(qs).crossJoin(cand)
        .where(col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), dot.as("dot"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .orderBy("qid", "rnk")
    }),

    "q_llm_text_stats" -> ((s, d) =>
      Tables(s, d, "documents")
        .groupBy("lang", "source")
        .agg(
          count(lit(1)).as("n_docs"),
          sum(col("n_chars")).as("sum_chars"),
          (sum(col("n_chars")).cast("double") / count(lit(1))).as("avg_chars"),
          sum(size(textTokens).cast("long")).as("sum_tokens"),
          sum(size(array_distinct(textTokens)).cast("long")).as("sum_distinct"),
          (sum(size(array_distinct(textTokens)).cast("long")).cast("double")
            / sum(size(textTokens).cast("long"))).as("ttr"))
        .orderBy("lang", "source")),

    "q_llm_tfidf" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      val tok = docs.select(col("lang"), col("doc_id"), explode(textTokens).as("term"))
      val tf = tok.groupBy("lang", "term").agg(count(lit(1)).as("tf"))
      val dfT = tok.groupBy("term").agg(countDistinct(col("doc_id")).as("df"))
      val n = docs.agg(count(lit(1)).as("n"))
      val w = Window.partitionBy("lang").orderBy(col("tfidf").desc, col("term"))
      tf.join(dfT, "term").crossJoin(broadcast(n))
        .select(col("lang"), col("term"),
          round(col("tf") * log(col("n").cast("double") / col("df").cast("double")), 6)
            .as("tfidf"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 10)
        .orderBy("lang", "rnk")
    }),

    "q_llm_ngrams" -> ((s, d) => {
      val w = Window.partitionBy("lang").orderBy(col("cnt").desc, col("trigram"))
      Tables(s, d, "documents")
        // materialize the token array once; indexing a lambda-bound column
        // is O(1), whereas calling split() inside the lambda re-tokenizes
        // the document per n-gram (O(len²) — measured 85 s at sf0.1).
        .withColumn("tk", textTokens)
        .select(col("lang"), explode(gramsN(3)).as("trigram"))
        .groupBy("lang", "trigram").agg(count(lit(1)).as("cnt"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 20)
        .orderBy("lang", "rnk")
    }),

    // FUZZY benchmark decontamination — the MinHash companion to the
    // exact 5-gram q_llm_decontaminate: a corpus doc is flagged when its
    // trigram-set Jaccard with ANY benchmark doc (doc_id % 97 == 0, the
    // same eval stand-in) reaches 0.8 — the lightly-edited eval copy
    // whose shared-gram COUNT can look unremarkable. Bipartite banding:
    // the benchmark's band keys and gram set BROADCAST (an eval suite
    // stays KB–MB at any corpus size), so candidate discovery is a
    // map-side bucket lookup, the exact-Jaccard confirm touches only
    // candidate docs, and the corpus never shuffles — never all-pairs.
    "q_llm_decontaminate_fuzzy" -> ((s, d) => {
      val isBench = col("doc_id") % 97 === 0
      val g = shingles(s, d)
      val band = bandKeys(g)
      val cand = band.where(!isBench).as("x")
        .join(broadcast(band.where(isBench)).as("y"),
          col("x.band_id") === col("y.band_id") && col("x.bkey") === col("y.bkey"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      val hits = jaccardConfirm(g, cand)
        .groupBy(col("a").as("doc_id")).agg(count(lit(1)).as("n_bench_neardup"))
      Tables(s, d, "documents").where(!isBench).select("doc_id")
        .join(hits, Seq("doc_id"), "left")
        .select(col("doc_id"),
          coalesce(col("n_bench_neardup"), lit(0L)).as("n_bench_neardup"))
        .withColumn("fuzzy_contaminated", col("n_bench_neardup") > 0)
        .orderBy("doc_id")
    }),

    // Vocabulary APPLY — the downstream step of the BPE/vocab family:
    // word → id through the top-100 frequency vocab, OOV → −1, ids
    // re-packed in document order as a comma string. The vocab is a
    // TakeOrdered(100) heap (no corpus-wide sort); ids come from a
    // 100×100 broadcast triangle count (windowless — same discipline as
    // U.prefixOffsets); the corpus then broadcast-joins the KB-sized dim
    // and re-packs per doc_id. At 100 TB only the per-doc group-by
    // shuffles the corpus — exactly once.
    "q_llm_tokenize_apply" -> ((s, d) => {
      val toks = Tables(s, d, "documents")
        .select(col("doc_id"), posexplode(textTokens).as(Seq("pos", "w")))
      val top = toks.groupBy("w").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("w")).limit(100)
      val ahead = col("c2") > col("c") ||
        (col("c2") === col("c") && col("w2") < col("w"))
      val vocab = top.join(
          broadcast(top.select(col("w").as("w2"), col("c").as("c2"))), ahead, "left")
        .groupBy("w").agg(count(col("w2")).as("id"))
      toks.join(broadcast(vocab), Seq("w"), "left")
        .select(col("doc_id"), col("pos"), coalesce(col("id"), lit(-1L)).as("id"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tokens"),
          expr("""array_join(transform(array_sort(collect_list(struct(pos, id))),
                  x -> cast(x.id as string)), ',')""").as("ids_s"))
        .orderBy("doc_id")
    })
  )

  /** DuckDB CTE chain building the banded MinHash signatures — ends at
    * `band(doc_id, band_id, bkey)` (with `g` in scope). Shared with
    * StreamTwins' q_stream_dedup_cand oracle (the candidate-ledger twin
    * of the streaming band-collide emitter). */
  private[graft] val oSigCte =
    s"""tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         g AS (SELECT doc_id, unnest(list_distinct(list_transform(range(1, len(tk) - 1),
                 i -> tk[i] || ' ' || tk[i + 1] || ' ' || tk[i + 2]))) AS g
               FROM tk),
         h AS (SELECT doc_id, i,
                 ${U.oHexFold("md5(g || '|' || i)", 12)} AS h
               FROM g CROSS JOIN (SELECT unnest(range(0, 16)) AS i) ii),
         sig AS (SELECT doc_id, i, MIN(h) AS mh FROM h GROUP BY doc_id, i),
         band AS (SELECT doc_id, i // 4 AS band_id,
                    md5(string_agg(mh::VARCHAR, ',' ORDER BY i)) AS bkey
                  FROM sig GROUP BY doc_id, i // 4)"""

  /** DuckDB twin of `clippedOverlap` over a gram set — expects
    * `cand(a, b)` and `g`; ends at `inter(a, b, i)` with `sz` in scope
    * (shared by every set confirm). */
  private val oInterCte =
    """sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
         inter AS (SELECT c.a, c.b, COUNT(*) AS i
                   FROM cand c JOIN g x ON x.doc_id = c.a
                     JOIN g y ON y.doc_id = c.b AND y.g = x.g
                   GROUP BY c.a, c.b)"""

  /** DuckDB twin of `jaccardConfirm` — expects `cand(a, b)` and `g`,
    * ends at `conf(a, b)`. */
  private val oJaccardCte =
    s"""$oInterCte,
         conf AS (SELECT a, b FROM inter
                  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
                  WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8)"""

  /** DuckDB twin of `containConfirm` — same shape, containment ≥ 0.9. */
  private val oContainCte =
    s"""$oInterCte,
         conf AS (SELECT a, b FROM inter
                  JOIN sz sa ON sa.doc_id = a JOIN sz sb ON sb.doc_id = b
                  WHERE CAST(i AS DOUBLE) / least(sa.sz, sb.sz) >= 0.9)"""

  /** DuckDB CTE chain mirroring `confirmedPairs` — ends at `conf(a, b)`. */
  private[graft] val oConfCte =
    s"""$oSigCte,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM band x JOIN band y ON x.band_id = y.band_id
                    AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         $oJaccardCte"""

  val oracle: Map[String, String] = Map(
    "q_llm_wordcount" ->
      """SELECT word, COUNT(*) AS cnt
         FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
         GROUP BY word ORDER BY cnt DESC, word LIMIT 50""",

    "q_llm_dedup_exact" ->
      """SELECT md5(trim(lower(text))) AS text_hash,
           MIN(doc_id) AS keep_id, COUNT(*) AS n_copies
         FROM documents GROUP BY text_hash ORDER BY keep_id""",

    "q_llm_dedup_near" ->
      s"""WITH $oConfCte,
         ${U.oDupGroups("conf", "documents")}""",

    "q_llm_dedup_minhash_calib" ->
      s"""WITH $oSigCte,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM band x JOIN band y ON x.band_id = y.band_id
                    AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         $oInterCte,
         eq AS (SELECT c.a, c.b,
                  CAST(SUM(CASE WHEN sa.mh = sb.mh THEN 1 ELSE 0 END)
                    AS BIGINT) AS eq16
                FROM cand c
                  JOIN sig sa ON sa.doc_id = c.a
                  JOIN sig sb ON sb.doc_id = c.b AND sb.i = sa.i
                GROUP BY c.a, c.b),
         jx AS (SELECT e.eq16,
                  coalesce(round(CAST(i.i AS DOUBLE)
                    / (sa2.sz + sb2.sz - i.i), 6), 0.0) AS j
                FROM eq e
                  LEFT JOIN inter i ON i.a = e.a AND i.b = e.b
                  JOIN sz sa2 ON sa2.doc_id = e.a
                  JOIN sz sb2 ON sb2.doc_id = e.b),
         bins AS (SELECT eq16, COUNT(*) AS n_pairs,
                    round(CAST(SUM(CAST(j AS DECIMAL(18,6))) AS DOUBLE)
                      / COUNT(*), 6) AS mean_jaccard
                  FROM jx GROUP BY eq16)
         SELECT d.eq16, coalesce(b.n_pairs, 0) AS n_pairs,
           round(d.eq16 / 16.0, 6) AS est_jaccard, b.mean_jaccard
         FROM (SELECT CAST(unnest(range(0, 17)) AS BIGINT) AS eq16) d
           LEFT JOIN bins b USING (eq16)
         ORDER BY d.eq16""",

    "q_llm_dedup_wjaccard" ->
      s"""WITH dtk AS (SELECT doc_id, string_split(text, ' ') AS tk
             FROM documents),
         tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM (
             SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                 i -> tk[i] || ' ' || tk[i + 1])) AS term
             FROM dtk)
           GROUP BY doc_id, term),
         uh AS (SELECT term, ${U.oHexFold("md5(term)", 7)} AS tid,
               i AS h,
               round(-ln((
                 ${U.oHexFold("md5(term || '#' || CAST(i AS VARCHAR))", 12)}
                 % 1000000 + 1) / 1000000.0), 9) AS u
             FROM (SELECT DISTINCT term FROM tf)
             CROSS JOIN (SELECT unnest(range(0, $cwsHashes)) AS i) ii),
         smp AS (SELECT doc_id, h,
               MIN(CAST(round(round(u / tf, 9) * 1e9) AS BIGINT)
                 * 268435456 + tid) AS m
             FROM tf JOIN uh USING (term) GROUP BY doc_id, h),
         band AS (SELECT doc_id, h // $cwsRowsPerBand AS band_id,
               md5(string_agg((m % 268435456)::VARCHAR, ',' ORDER BY h))
               AS bkey
             FROM smp GROUP BY doc_id, h // $cwsRowsPerBand),
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
             FROM band x JOIN band y ON x.band_id = y.band_id
               AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         wsz AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS sz FROM tf
             GROUP BY doc_id),
         conf AS (SELECT a, b FROM (
             SELECT c.a, c.b, CAST(SUM(least(x.tf, y.tf)) AS BIGINT) AS i
             FROM cand c JOIN tf x ON x.doc_id = c.a
               JOIN tf y ON y.doc_id = c.b AND y.term = x.term
             GROUP BY c.a, c.b) j
           JOIN wsz sa ON sa.doc_id = a JOIN wsz sb ON sb.doc_id = b
           WHERE CAST(i AS DOUBLE) / (sa.sz + sb.sz - i) >= 0.8),
         ${U.oDupGroups("conf", "documents")}""",

    "q_llm_rouge_pairs" ->
      s"""WITH $oSigCte,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM band x JOIN band y ON x.band_id = y.band_id
                    AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         bg AS (SELECT doc_id, g2 AS g, COUNT(*) AS tf FROM (
               SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                   i -> tk[i] || ' ' || tk[i + 1])) AS g2 FROM tk)
             GROUP BY doc_id, g2),
         bsz AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS sz FROM bg
             GROUP BY doc_id),
         ovl AS (SELECT c.a, c.b,
               CAST(SUM(least(x.tf, y.tf)) AS BIGINT) AS ov
             FROM cand c JOIN bg x ON x.doc_id = c.a
               JOIN bg y ON y.doc_id = c.b AND y.g = x.g
             GROUP BY c.a, c.b)
         SELECT a, b, ov,
           round(ov * 1.0 / sb.sz, 6) AS rouge_p,
           round(ov * 1.0 / sa.sz, 6) AS rouge_r,
           round(ov * 2.0 / (sa.sz + sb.sz), 6) AS rouge_f1
         FROM ovl JOIN bsz sa ON sa.doc_id = a JOIN bsz sb ON sb.doc_id = b
         ORDER BY a, b""",

    "q_llm_bleu_pairs" -> {
      val tfUnion = (1 to 4).map { n =>
        s"""SELECT doc_id, $n AS n, unnest(${U.oGramsN(n)}) AS g FROM tk"""
      }.mkString(" UNION ALL ")
      s"""WITH $oSigCte,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM band x JOIN band y ON x.band_id = y.band_id
                    AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         gtf AS MATERIALIZED (SELECT doc_id, n, g, COUNT(*) AS tf
             FROM ($tfUnion) GROUP BY doc_id, n, g),
         gsz AS MATERIALIZED (SELECT doc_id, n, CAST(SUM(tf) AS BIGINT)
             AS sz FROM gtf GROUP BY doc_id, n),
         ovl AS (SELECT c.a, c.b, x.n,
               CAST(SUM(least(x.tf, y.tf)) AS BIGINT) AS ov
             FROM cand c JOIN gtf x ON x.doc_id = c.a
               JOIN gtf y ON y.doc_id = c.b AND y.g = x.g AND y.n = x.n
             GROUP BY c.a, c.b, x.n),
         pn AS (SELECT o.a, o.b, o.n,
               round(ln(CAST(o.ov AS DOUBLE) / sb.sz), 9) AS lnp
             FROM ovl o JOIN gsz sb ON sb.doc_id = o.b AND sb.n = o.n),
         agg AS (SELECT a, b, COUNT(*) AS n_orders,
               CAST(SUM(CAST(lnp AS DECIMAL(18,9))) AS DOUBLE) AS slnp
             FROM pn GROUP BY a, b)
         SELECT c.a, c.b, la.sz AS len_a, lb.sz AS len_b,
           CAST(COALESCE(g.n_orders, 0) AS BIGINT) AS n_orders,
           CASE WHEN lb.sz >= la.sz THEN 1.0 ELSE
             round(exp(1.0 - CAST(la.sz AS DOUBLE) / lb.sz), 9) END AS bp,
           CASE WHEN COALESCE(g.n_orders, 0) < 4 THEN 0.0 ELSE
             round((CASE WHEN lb.sz >= la.sz THEN 1.0 ELSE
               round(exp(1.0 - CAST(la.sz AS DOUBLE) / lb.sz), 9) END)
               * round(exp(slnp / 4.0), 9), 6) END AS bleu
         FROM cand c
           LEFT JOIN agg g ON g.a = c.a AND g.b = c.b
           JOIN gsz la ON la.doc_id = c.a AND la.n = 1
           JOIN gsz lb ON lb.doc_id = c.b AND lb.n = 1
         ORDER BY c.a, c.b"""
    },

    "q_llm_chrf_pairs" -> {
      val tfUnion = (2 to 4).map { n =>
        s"""SELECT doc_id, $n AS n, unnest(list_transform(
             range(1, greatest(length(t) - ${n - 2}, 1)),
             i -> substr(t, i, $n))) AS g FROM tt"""
      }.mkString(" UNION ALL ")
      s"""WITH $oSigCte,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM band x JOIN band y ON x.band_id = y.band_id
                    AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         cdocs AS (SELECT DISTINCT a AS doc_id FROM cand
                   UNION SELECT DISTINCT b FROM cand),
         tt AS MATERIALIZED (SELECT d.doc_id, replace(d.text, ' ', '') AS t
             FROM documents d JOIN cdocs c ON d.doc_id = c.doc_id),
         ctf AS MATERIALIZED (SELECT doc_id, n, g, COUNT(*) AS tf
             FROM ($tfUnion) GROUP BY doc_id, n, g),
         csz AS MATERIALIZED (SELECT doc_id, n, CAST(SUM(tf) AS BIGINT)
             AS sz FROM ctf GROUP BY doc_id, n),
         ovl AS (SELECT c.a, c.b, x.n,
               CAST(SUM(least(x.tf, y.tf)) AS BIGINT) AS m
             FROM cand c JOIN ctf x ON x.doc_id = c.a
               JOIN ctf y ON y.doc_id = c.b AND y.g = x.g AND y.n = x.n
             GROUP BY c.a, c.b, x.n),
         pn AS (SELECT o.a, o.b, o.n,
               round(5.0 * round(CAST(o.m AS DOUBLE) / sb.sz, 9)
                         * round(CAST(o.m AS DOUBLE) / sa.sz, 9)
                 / (4.0 * round(CAST(o.m AS DOUBLE) / sb.sz, 9)
                    + round(CAST(o.m AS DOUBLE) / sa.sz, 9)), 9) AS f2
             FROM ovl o JOIN csz sa ON sa.doc_id = o.a AND sa.n = o.n
               JOIN csz sb ON sb.doc_id = o.b AND sb.n = o.n),
         agg AS (SELECT a, b, COUNT(*) AS n_orders,
               CAST(SUM(CAST(f2 AS DECIMAL(18,9))) AS DOUBLE) AS sf2
             FROM pn GROUP BY a, b)
         SELECT c.a, c.b,
           CAST(COALESCE(g.n_orders, 0) AS BIGINT) AS n_orders,
           round(COALESCE(g.sf2, 0.0) / 3.0, 6) AS chrf
         FROM cand c LEFT JOIN agg g ON g.a = c.a AND g.b = c.b
         ORDER BY c.a, c.b"""
    },

    "q_llm_dedup_containment" ->
      s"""WITH $oSigCte,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM band x JOIN band y ON x.band_id = y.band_id
                    AND x.bkey = y.bkey AND x.doc_id < y.doc_id),
         $oContainCte,
         ${U.oDupGroups("conf", "documents")}""",

    "q_llm_decontaminate_fuzzy" ->
      s"""WITH $oSigCte,
         cand AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
                  FROM band x JOIN band y ON x.band_id = y.band_id
                    AND x.bkey = y.bkey
                  WHERE x.doc_id % 97 <> 0 AND y.doc_id % 97 = 0),
         $oJaccardCte,
         hits AS (SELECT a AS doc_id, COUNT(*) AS n_bench_neardup
                  FROM conf GROUP BY a)
         SELECT c.doc_id,
           CAST(COALESCE(h.n_bench_neardup, 0) AS BIGINT) AS n_bench_neardup,
           COALESCE(h.n_bench_neardup, 0) > 0 AS fuzzy_contaminated
         FROM (SELECT doc_id FROM documents WHERE doc_id % 97 <> 0) c
         LEFT JOIN hits h ON c.doc_id = h.doc_id
         ORDER BY c.doc_id""",

    // exact transitive closure via recursive CTE: the propagation UNION is
    // set-distinct, so the iteration terminates at the fixpoint the Spark
    // loop converges to.
    "q_llm_dedup_cc" ->
      s"""WITH RECURSIVE $oConfCte,
         edges AS (SELECT a AS src, b AS dst FROM conf
                   UNION ALL SELECT b AS src, a AS dst FROM conf),
         reach(doc_id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst AS doc_id, r.lbl
           FROM reach r JOIN edges e ON e.src = r.doc_id),
         comp AS (SELECT doc_id, MIN(lbl) AS component_id FROM reach GROUP BY doc_id),
         csz AS (SELECT component_id, COUNT(*) AS component_size
                 FROM comp GROUP BY component_id)
         SELECT doc_id, component_id, component_size
         FROM comp JOIN csz USING (component_id)
         ORDER BY doc_id""",

    "q_llm_dup_cluster_hist" ->
      s"""WITH RECURSIVE $oConfCte,
         edges AS (SELECT a AS src, b AS dst FROM conf
                   UNION ALL SELECT b AS src, a AS dst FROM conf),
         reach(doc_id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst AS doc_id, r.lbl
           FROM reach r JOIN edges e ON e.src = r.doc_id),
         comp AS (SELECT doc_id, MIN(lbl) AS component_id FROM reach GROUP BY doc_id),
         csz AS (SELECT component_id, COUNT(*) AS csize
                 FROM comp GROUP BY component_id)
         SELECT csize, COUNT(*) AS n_clusters
         FROM csz GROUP BY csize ORDER BY csize""",

    // same exact closure as q_llm_dedup_cc, then the per-component
    // quality argmax via FIRST_VALUE over (quality DESC, doc_id)
    "q_llm_dedup_keep_best" ->
      s"""WITH RECURSIVE $oConfCte,
         edges AS (SELECT a AS src, b AS dst FROM conf
                   UNION ALL SELECT b AS src, a AS dst FROM conf),
         reach(doc_id, lbl) AS (
           SELECT doc_id, doc_id FROM documents
           UNION
           SELECT e.dst AS doc_id, r.lbl
           FROM reach r JOIN edges e ON e.src = r.doc_id),
         comp AS (SELECT doc_id, MIN(lbl) AS component_id FROM reach GROUP BY doc_id),
         q AS (SELECT doc_id, ${U.oQualityE6} AS quality_e6 FROM documents),
         k AS (SELECT c.doc_id, c.component_id, q.quality_e6,
                 FIRST_VALUE(c.doc_id) OVER (PARTITION BY c.component_id
                   ORDER BY q.quality_e6 DESC, c.doc_id) AS keep_id
               FROM comp c JOIN q ON c.doc_id = q.doc_id)
         SELECT doc_id, component_id, quality_e6, keep_id,
           doc_id = keep_id AS kept
         FROM k ORDER BY doc_id""",

    "q_llm_simsearch_topk" ->
      """WITH scored AS (
           SELECT q.vec_id AS qid, c.vec_id AS cid,
             round(list_sum(list_transform(range(1, 65),
               i -> CAST(q.embedding[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), 6) AS dot
           FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
           WHERE q.label = 0 AND q.vec_id < 100),
         r AS (SELECT qid, cid, dot,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS INT) AS rnk
               FROM scored)
         SELECT qid, cid, dot, rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",

    "q_llm_text_stats" ->
      """SELECT lang, source, COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           CAST(SUM(n_chars) AS DOUBLE) / COUNT(*) AS avg_chars,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS sum_tokens,
           CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS BIGINT) AS sum_distinct,
           CAST(SUM(len(list_distinct(string_split(text, ' ')))) AS DOUBLE)
             / CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ttr
         FROM documents GROUP BY lang, source ORDER BY lang, source""",

    "q_llm_tfidf" ->
      """WITH tok AS (SELECT lang, doc_id, unnest(string_split(text, ' ')) AS term
                      FROM documents),
         tf AS (SELECT lang, term, COUNT(*) AS tf FROM tok GROUP BY lang, term),
         df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
         n AS (SELECT COUNT(*) AS n FROM documents),
         s AS (SELECT lang, term,
                 round(tf * ln(CAST(n AS DOUBLE) / CAST(df AS DOUBLE)), 6) AS tfidf
               FROM tf JOIN df USING (term) CROSS JOIN n),
         r AS (SELECT lang, term, tfidf,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY tfidf DESC, term) AS INT) AS rnk
               FROM s)
         SELECT lang, term, tfidf, rnk FROM r WHERE rnk <= 10 ORDER BY lang, rnk""",

    "q_llm_ngrams" ->
      """WITH tg AS (SELECT lang,
             unnest(list_transform(range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
                    || ' ' || string_split(text, ' ')[i + 2])) AS trigram
           FROM documents),
         c AS (SELECT lang, trigram, COUNT(*) AS cnt FROM tg GROUP BY lang, trigram),
         r AS (SELECT lang, trigram, cnt,
                 CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY cnt DESC, trigram) AS INT) AS rnk
               FROM c)
         SELECT lang, trigram, cnt, rnk FROM r WHERE rnk <= 20 ORDER BY lang, rnk""",

    "q_llm_tokenize_apply" ->
      """WITH tk AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         toks AS (SELECT doc_id, unnest(range(1, len(tk) + 1)) - 1 AS pos,
                    unnest(tk) AS w FROM tk),
         top AS (SELECT w, COUNT(*) AS c FROM toks GROUP BY w
                 ORDER BY c DESC, w LIMIT 100),
         vocab AS (SELECT t.w, CAST(COUNT(t2.w) AS BIGINT) AS id
                   FROM top t LEFT JOIN top t2
                     ON t2.c > t.c OR (t2.c = t.c AND t2.w < t.w)
                   GROUP BY t.w)
         SELECT o.doc_id, COUNT(*) AS n_tokens,
           string_agg(CAST(COALESCE(v.id, -1) AS VARCHAR), ','
                      ORDER BY o.pos) AS ids_s
         FROM toks o LEFT JOIN vocab v ON o.w = v.w
         GROUP BY o.doc_id ORDER BY o.doc_id"""
  )
}
