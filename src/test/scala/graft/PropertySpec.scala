package graft

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions._
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** SURVEY §5.3 — algebraic invariants on generated micro-tables.
  * (scalacheck drives generation directly; the scalatest bridge artifact
  * is not in the offline cache.) */
class PropertySpec extends SparkSpec {

  import queries.U._

  private def df(rows: Seq[(String, Double)]) = {
    import spark.implicits._
    rows.toDF("k", "v")
  }

  test("MR-style counters: accumulator tallies during a pass match the declarative count") {
    // the MapReduce counter idiom — side-channel tallies collected while
    // the main pass runs — expressed with Spark's longAccumulator; the
    // declarative WHERE count is the ground truth it must agree with
    // (exact here: local mode runs each task once, no speculative retries)
    import spark.implicits._
    val acc = spark.sparkContext.longAccumulator("shortDocs")
    val passed = Tables(spark, sf, "documents").select("text").as[String].rdd
      .map { t => if (t.split(" ").length < 30) acc.add(1); t }
      .count()
    val want = Tables(spark, sf, "documents")
      .where(size(split(col("text"), " ")) < 30).count()
    assert(acc.value == want, s"counter ${acc.value} != declarative $want")
    assert(passed == Tables(spark, sf, "documents").count())
  }

  test("observe() collects metrics during the pass — the declarative counter API") {
    // the modern form of MR counters: named metrics ride the main pass as
    // an Observation (no RDD side-channel, no second scan), exactly what
    // a 100 TB job uses to audit rows-seen/rows-dropped without re-reading
    import org.apache.spark.sql.Observation
    val obs = Observation("graft_obs")
    val lineitem = Tables(spark, sf, "lineitem")
    val kept = lineitem
      .observe(obs, count(lit(1)).as("n_seen"),
        sum(col("l_quantity").cast(queries.U.D)).cast("double").as("qty_seen"))
      .where(col("l_returnflag") === "R")
      .count()
    val m = obs.get
    assert(m("n_seen").asInstanceOf[Long] === lineitem.count())
    val wantQty = lineitem
      .agg(sum(col("l_quantity").cast(queries.U.D)).cast("double")).first().getDouble(0)
    assert(m("qty_seen").asInstanceOf[Double] === wantQty)
    assert(kept < m("n_seen").asInstanceOf[Long])
  }

  test("aggregation is a homomorphism over union (combiner correctness)") {
    val gen = Gen.listOfN(40, Gen.zip(Gen.oneOf("a", "b", "c"), Gen.choose(-100.0, 100.0)))
    (1 to 5).foreach { i =>
      val xs = gen.apply(Gen.Parameters.default, Seed(i.toLong)).get
      val ys = gen.apply(Gen.Parameters.default, Seed(i.toLong + 100)).get
      val whole = df(xs ++ ys).groupBy("k").agg(dsum(col("v")).as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      val partsDf = df(xs).groupBy("k").agg(sum(col("v").cast(D)).as("p"))
        .union(df(ys).groupBy("k").agg(sum(col("v").cast(D)).as("p")))
      val merged = partsDf.groupBy("k").agg(sum(col("p")).cast("double").as("s"))
        .collect().map(r => r.getString(0) -> r.getDouble(1)).toMap
      assert(whole == merged, s"seed $i")
    }
  }

  test("exact dedup is idempotent") {
    val d1 = queries.Llm.queries("q_llm_dedup_exact")(spark, sf)
    val once = d1.collect()
    // dedup of the survivors keeps every survivor (all hashes distinct)
    assert(once.map(_.getString(0)).distinct.length == once.length)
  }

  test("top-k is a prefix of the full sort") {
    val topk = queries.Windows.queries("q_topk_global")(spark, sf)
      .collect().map(_.getLong(0)).toSeq
    val full = Tables(spark, sf, "orders")
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
      .select("o_orderkey").collect().map(_.getLong(0)).take(100).toSeq
    assert(topk == full)
  }

  test("approx_count_distinct within 5% of exact") {
    val approx = queries.Aggs.queries("q_agg_approx_distinct")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val exact = Tables(spark, sf, "events")
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      val a = approx(k)
      assert(math.abs(a - e) <= math.max(1L, (e * 0.05).toLong),
        s"$k: approx $a vs exact $e")
    }
  }

  test("sketch source-overlap: full pair domain, containment bracketed vs exact") {
    val est = queries.Audit.queries("q_llm_source_overlap_sketch")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(r.fieldIndex("containment_est"))).toMap
    val exact = queries.Audit.queries("q_llm_source_overlap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        r.getDouble(r.fieldIndex("containment"))).toMap
    assert(est.keySet == exact.keySet, "sketch matrix must cover every pair")
    assert(est.nonEmpty)
    // the absolute-points bracket BASELINE.md records at three scales
    // (±0.05–0.08); fixture scale gets the loose end of the envelope
    val worst = exact.map { case (k, j) => math.abs(est(k) - j) }.max
    assert(worst < 0.10, s"containment estimate off by $worst absolute")
  }

  test("triage composite: flag set = sketch >= threshold; exact leg equals the oracled matrix") {
    val triage = queries.Audit.queries("q_llm_source_overlap_triage")(spark, sf)
      .collect()
    assert(triage.nonEmpty, "no flagged pairs at fixture scale — vacuous")
    // flag leg: exactly the sketch pairs at/above the one threshold
    val wantFlags = queries.Audit.queries("q_llm_source_overlap_sketch")(spark, sf)
      .collect()
      .filter(_.getDouble(5) >= queries.Audit.triageThreshold)
      .map(r => (r.getString(0), r.getString(1))).toSet
    val gotFlags = triage.map(r => (r.getString(0), r.getString(1))).toSet
    assert(gotFlags == wantFlags,
      s"flag set diverges from sketch>=T: only-triage=${gotFlags -- wantFlags}, " +
        s"only-sketch=${wantFlags -- gotFlags}")
    // exact leg: per flagged pair, n_shared/containment (and the n_a/n_b
    // totals) must equal the ORACLED full matrix's row — the composite's
    // flagged-source gram restriction changes cost, never values
    val exactRows = queries.Audit.queries("q_llm_source_overlap")(spark, sf)
      .collect().map(r => (r.getString(0), r.getString(1)) ->
        ((r.getLong(2), r.getLong(3), r.getLong(4), r.getDouble(5)))).toMap
    triage.foreach { r =>
      val k = (r.getString(0), r.getString(1))
      val (na, nb, ns, c) = exactRows(k)
      assert(r.getLong(3) == na && r.getLong(4) == nb &&
        r.getLong(5) == ns && r.getDouble(6) == c,
        s"exact leg diverges for $k: $r vs ${exactRows(k)}")
    }
  }

  test("triage guarantee: a pair at the target containment is flagged and adjudicated exactly") {
    // the screen's calibration identity — the estimate cutoff is DERIVED
    // (target − bracket), never hand-picked below the instrument's noise
    assert(queries.Audit.triageThreshold ===
      queries.Audit.triageTarget - queries.Audit.sketchBracket)
    assert(queries.Audit.triageTarget > queries.Audit.sketchBracket,
      "a target the instrument cannot resolve against its own bracket is not a guarantee")
    // constructed corpus: containment(srcA, srcB) = 0.12 = target exactly
    // (the real corpus has no pair near the target — this is the only
    // non-vacuous probe of the guarantee); srcC is gram-disjoint
    val dir = TriageFixture.write(spark, 1, scratchDir("triage_x1"))
    val triage = queries.Audit.queries("q_llm_source_overlap_triage")(spark, dir)
      .collect()
    val ab = triage.find(r => r.getString(0) == "srcA" && r.getString(1) == "srcB")
    assert(ab.nonEmpty,
      s"true-target pair MISSED by the screen — the guarantee is broken: " +
        s"flagged=${triage.map(r => (r.getString(0), r.getString(1))).toSeq}")
    // exact leg adjudicates: n_shared and containment are the constructed
    // truth, and the estimate that flagged it sits inside the bracket
    assert(ab.get.getLong(5) === 12L, s"n_shared: ${ab.get}")
    assert(ab.get.getDouble(6) === 0.12, s"exact containment: ${ab.get}")
    assert(math.abs(ab.get.getDouble(2) - 0.12) <= queries.Audit.sketchBracket,
      s"estimate ${ab.get.getDouble(2)} outside the declared bracket at truth 0.12")
    // the disjoint pairs must not flag (nothing to adjudicate): on a
    // corpus this small the sketch is near-exact, so an A-C/B-C flag
    // would be a real screen defect, not bracket noise
    assert(!triage.exists(r => r.getString(1) == "srcC"),
      s"gram-disjoint source flagged: ${triage.toSeq}")
  }

  test("MinHash calibration: eq16<4 bins empty, pairs conserved, curve monotone-sane") {
    val rows = queries.Llm.queries("q_llm_dedup_minhash_calib")(spark, sf)
      .collect()
    assert(rows.length == 17, "full eq16 domain must report")
    // banding algebra: a candidate collides in ≥1 band of 4 rows ⇒ at
    // least 4 signature hashes equal — bins 0..3 are provably empty
    rows.filter(_.getLong(0) < 4).foreach { r =>
      assert(r.getLong(1) == 0L, s"eq16=${r.getLong(0)} has pairs: $r")
    }
    // pair conservation: Σ n_pairs over bins = |banding candidates|
    val nCand = queries.Llm.bandCandidates(spark, sf).count()
    assert(rows.map(_.getLong(1)).sum == nCand,
      s"calibration lost pairs: ${rows.map(_.getLong(1)).sum} vs $nCand")
    // E[ĵ] = j (the MinHash guarantee): the pair-weighted mean estimate
    // must bracket the pair-weighted mean exact Jaccard. (A bin-order
    // monotonicity assert would be fixture-hostage — this corpus's
    // candidates are bimodal near-exact dups, so the curve is flat at
    // the top and single-pair bins reorder by noise.)
    val populated = rows.filter(_.getLong(1) > 0)
    assert(populated.nonEmpty)
    val n = populated.map(_.getLong(1)).sum.toDouble
    val meanEst = populated.map(r => r.getLong(1) * r.getDouble(2)).sum / n
    val meanJ = populated.map(r => r.getLong(1) * r.getDouble(3)).sum / n
    assert(math.abs(meanEst - meanJ) < 0.1,
      s"estimator bias out of bracket: mean est $meanEst vs mean j $meanJ")
  }

  test("MinHash-band dedup: every keep assignment is a confirmed near-dup") {
    val out = queries.Llm.queries("q_llm_dedup_near")(spark, sf).collect()
    val shingles = Tables(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .collect().map { r =>
        val t = r.getSeq[String](1)
        r.getLong(0) -> t.sliding(3).filter(_.length == 3).map(_.mkString(" ")).toSet
      }.toMap
    // one row per doc — the dedup output is linear by construction
    assert(out.length == shingles.size)
    val withDup = out.filter(_.getLong(2) > 0)
    assert(withDup.nonEmpty, "corpus is built with near-duplicates; none found")
    withDup.filter(r => r.getLong(1) != r.getLong(0)).foreach { r =>
      val (id, keep) = (r.getLong(0), r.getLong(1))
      val (sa, sb) = (shingles(id), shingles(keep))
      val j = sa.intersect(sb).size.toDouble / sa.union(sb).size
      assert(j >= 0.8, s"doc $id keeps $keep but exact shingle Jaccard $j < 0.8")
    }
  }

  test("CWS weighted dedup: keeps are true weighted-Jaccard ≥ 0.8 pairs") {
    val out = queries.Llm.queries("q_llm_dedup_wjaccard")(spark, sf).collect()
    // weighted BIGRAM-shingle multisets — the declared feature
    val tfs = Tables(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[String](1).sliding(2).filter(_.length == 2)
          .map(_.mkString(" ")).toSeq
          .groupBy(identity).map { case (t, v) => t -> v.length }
      }.toMap
    assert(out.length == tfs.size)
    def wj(a: Map[String, Int], b: Map[String, Int]): Double = {
      val keys = a.keySet ++ b.keySet
      val mins = keys.toSeq.map(k =>
        math.min(a.getOrElse(k, 0), b.getOrElse(k, 0))).sum
      val maxs = keys.toSeq.map(k =>
        math.max(a.getOrElse(k, 0), b.getOrElse(k, 0))).sum
      mins.toDouble / maxs
    }
    val withDup = out.filter(_.getLong(2) > 0)
    assert(withDup.nonEmpty, "corpus has near-duplicates; CWS found none")
    withDup.filter(r => r.getLong(1) != r.getLong(0)).foreach { r =>
      val j = wj(tfs(r.getLong(0)), tfs(r.getLong(1)))
      assert(j >= 0.8,
        s"doc ${r.getLong(0)} keeps ${r.getLong(1)} but weighted J $j < 0.8")
    }
    // RECALL, not just precision: brute-force ALL C(500,2) ground-truth
    // pairs and assert each doc's confirmed-neighbor count equals its
    // true w ≥ 0.8 degree — banding missed nothing. Deterministic (md5
    // draws), so this is a pinned measurement, not a flaky bound: the
    // 6-bands-of-4 geometry collides a true pair with 1−(1−w⁴)⁶ —
    // 99.8% at the fixture's true-pair floor w = 0.9 — and the
    // measured result is 28/28 (the set-MinHash sibling: 255/256 at
    // sf0.1).
    val ids = tfs.keys.toSeq.sorted
    val trueDeg = collection.mutable.Map.empty[Long, Long].withDefaultValue(0L)
    for (i <- ids.indices; j <- (i + 1) until ids.length) {
      if (wj(tfs(ids(i)), tfs(ids(j))) >= 0.8) {
        trueDeg(ids(i)) += 1; trueDeg(ids(j)) += 1
      }
    }
    out.foreach { r =>
      assert(r.getLong(2) === trueDeg(r.getLong(0)),
        s"doc ${r.getLong(0)}: found ${r.getLong(2)} neighbors, " +
          s"ground truth ${trueDeg(r.getLong(0))}")
    }
  }

  test("ROUGE pairs report exact clipped-bigram P/R/F1 with real asymmetry") {
    val out = queries.Llm.queries("q_llm_rouge_pairs")(spark, sf).collect()
    assert(out.nonEmpty, "banding found no candidate pairs to grade")
    val bg = Tables(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .collect().map { r =>
        r.getLong(0) -> r.getSeq[String](1).sliding(2).filter(_.length == 2)
          .map(_.mkString(" ")).toSeq.groupBy(identity)
          .map { case (g, v) => g -> v.length }
      }.toMap
    out.foreach { r =>
      val (ba, bb) = (bg(r.getLong(0)), bg(r.getLong(1)))
      val ov = (ba.keySet ++ bb.keySet).toSeq
        .map(k => math.min(ba.getOrElse(k, 0), bb.getOrElse(k, 0))).sum
      val (sza, szb) = (ba.values.sum, bb.values.sum)
      assert(r.getLong(2) === ov.toLong)
      assert(math.abs(r.getDouble(3) - ov.toDouble / szb) < 1e-6)
      assert(math.abs(r.getDouble(4) - ov.toDouble / sza) < 1e-6)
      assert(math.abs(r.getDouble(5) - 2.0 * ov / (sza + szb)) < 1e-6)
    }
    // the metric's point is asymmetry (which side is the subset):
    // a vacuous fixture would report P = R on every pair
    assert(out.exists(r => r.getDouble(3) != r.getDouble(4)))
  }

  test("BLEU pairs equal a brute-force 4-order recompute with brevity penalty") {
    val out = queries.Llm.queries("q_llm_bleu_pairs")(spark, sf).collect()
    assert(out.nonEmpty, "banding found no candidate pairs to grade")
    val toks = Tables(spark, sf, "documents")
      .select(col("doc_id"), split(col("text"), " ").as("t"))
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    def tf(id: Long, n: Int): Map[String, Int] =
      toks(id).sliding(n).filter(_.length == n).map(_.mkString(" "))
        .toSeq.groupBy(identity).map { case (g, v) => g -> v.length }
    val r9 = (x: Double) =>
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      assert(r.getLong(2) == toks(a).length && r.getLong(3) == toks(b).length)
      val ps = (1 to 4).map { n =>
        val (ta, tb) = (tf(a, n), tf(b, n))
        val ov = tb.map { case (g, c) => math.min(c, ta.getOrElse(g, 0)) }.sum
        (ov, tb.values.sum)
      }
      val nOrders = ps.count(_._1 > 0)
      assert(r.getLong(4) == nOrders)
      val bp = if (toks(b).length >= toks(a).length) 1.0
        else r9(math.exp(1.0 - toks(a).length.toDouble / toks(b).length))
      assert(math.abs(r.getDouble(5) - bp) < 1e-9)
      val want = if (nOrders < 4) 0.0 else {
        val slnp = ps.map { case (ov, sz) =>
          BigDecimal(r9(math.log(ov.toDouble / sz))) }.sum.toDouble
        BigDecimal(bp * r9(math.exp(slnp / 4.0)))
          .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      }
      assert(math.abs(r.getDouble(6) - want) < 1e-6, s"bleu drift for ($a,$b)")
      assert(r.getDouble(6) >= 0.0 && r.getDouble(6) <= 1.0)
    }
    // identical-doc-shape pairs would all score bp = 1; the corpus's
    // length-shifted near-dups must exercise the brevity penalty
    assert(out.exists(_.getDouble(5) < 1.0), "brevity penalty never fired")
  }

  test("q_llm_chrf_pairs: brute per-pair chrF2 recompute; every candidate emits; bounds") {
    val out = queries.Llm.queries("q_llm_chrf_pairs")(spark, sf).collect()
    assert(out.nonEmpty, "banding found no candidate pairs to grade")
    // every banding candidate must appear exactly once (the left-join
    // contract), including zero-overlap pairs as (0, 0.0)
    val cand = queries.Llm.bandCandidates(spark, sf).collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(out.map(r => (r.getLong(0), r.getLong(1))).toSet === cand)
    val txt = Tables(spark, sf, "documents")
      .select(col("doc_id"), regexp_replace(col("text"), " ", "").as("t"))
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    def ctf(id: Long, n: Int): Map[String, Int] =
      txt(id).sliding(n).filter(_.length == n)
        .toSeq.groupBy(identity).map { case (g, v) => g -> v.length }
    val r9 = (x: Double) =>
      BigDecimal(x).setScale(9, BigDecimal.RoundingMode.HALF_UP).toDouble
    out.foreach { r =>
      val (a, b) = (r.getLong(0), r.getLong(1))
      val f2s = (2 to 4).map { n =>
        val (ta, tb) = (ctf(a, n), ctf(b, n))
        val m = tb.map { case (g, c) => math.min(c, ta.getOrElse(g, 0)) }.sum
        if (m == 0) None
        else {
          val p = r9(m.toDouble / tb.values.sum)
          val rr = r9(m.toDouble / ta.values.sum)
          Some(r9(5.0 * p * rr / (4.0 * p + rr)))
        }
      }
      assert(r.getLong(2) == f2s.count(_.isDefined).toLong,
        s"n_orders drift for ($a,$b)")
      val want = BigDecimal(f2s.flatten.map(BigDecimal(_)).sum.toDouble / 3.0)
        .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
      assert(math.abs(r.getDouble(3) - want) < 1e-6, s"chrf drift for ($a,$b)")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 1.0)
    }
    // near-dup candidates share most character n-grams: the grade must
    // actually separate (not saturate at 0 or a constant)
    assert(out.map(_.getDouble(3)).distinct.length > 1 ||
      out.length == 1, "chrf degenerate: one value for every pair")
  }

  test("gramsN emits every window of n space-split tokens, joined by one space") {
    import spark.implicits._
    // the fixture plus the edge cases: empty text, empty tokens from
    // double, leading and trailing spaces, docs shorter than the order,
    // NULL text (no grams)
    val edge = Seq(Some(""), Some("a"), Some("a  b"), Some(" x y z w v"),
      Some("p q r s t "), None).toDF("text")
    val docs = Tables(spark, sf, "documents").select("text")
      .unionByName(edge).withColumn("tk", textTokens)
    val texts = docs.select("text").as[Option[String]].collect()
    for (n <- 1 to 5) {
      val want = texts.flatten.flatMap(t =>
        t.split(" ", -1).sliding(n).filter(_.length == n).map(_.mkString(" "))).sorted
      val got = docs.select(explode(gramsN(n))).as[String].collect().sorted
      assert(want.nonEmpty && got.toSeq === want.toSeq, s"order $n")
    }
  }

  test("two-pass approx quartiles agree with exact ntile within one rank") {
    val exact = queries.Windows.queries("q_win_ntile_pct")(spark, sf)
      .select("c_custkey", "quartile")
      .collect().map(r => r.getLong(0) -> r.getInt(1)).toMap
    val approx = queries.Windows.quartileApprox(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getInt(2)).toMap
    assert(approx.keySet == exact.keySet)
    val off = approx.count { case (k, q) => math.abs(q - exact(k)) > 1 }
    assert(off == 0, s"$off rows disagree by more than one quartile")
    // and the bulk must agree exactly (sketch error affects boundaries only)
    val same = approx.count { case (k, q) => q == exact(k) }
    assert(same.toDouble / exact.size >= 0.99,
      s"only $same of ${exact.size} rows agree exactly")
  }

  test("graft_l2sq matches the HOF on clean, ragged, and null-holed input") {
    graft.functions.GraftFunctions.register(spark)
    val rows = spark.sql(
      """SELECT graft_l2sq(a, b) AS fast,
           aggregate(zip_with(a, b, (x, y) -> (x - y) * (x - y)), 0L,
                     (acc, v) -> acc + v) AS hof
         FROM VALUES
           (array(1L, 2L, 3L), array(3L, 1L, 5L)),
           (array(1L, 2L), array(1L, 2L, 3L)),
           (array(1L, CAST(NULL AS BIGINT), 3L), array(1L, 2L, 3L)),
           (array(1L, 2L, 3L), array(1L, CAST(NULL AS BIGINT), 3L))
           AS t(a, b)""").collect()
    rows.foreach { r =>
      assert(r.isNullAt(0) == r.isNullAt(1),
        s"null-propagation diverges from HOF: $r")
      if (!r.isNullAt(0)) assert(r.getLong(0) == r.getLong(1), s"value diverges: $r")
    }
    assert(rows.count(_.isNullAt(0)) == 3, "ragged + two null-holed rows must be NULL")
  }

  test("events.props holds exactly one integer key k — the shape q_fn_variant's oracle hard-codes") {
    import org.apache.spark.sql.functions._
    // q_fn_variant's DuckDB oracle derives vschema/vjson by string
    // arithmetic, valid ONLY while every props row is {"k": <int>}. A
    // fixture change must fail HERE, loudly, not as a confusing oracle
    // hash mismatch.
    val bad = Tables(spark, sf, "events")
      .where(col("props").isNull
        || !col("props").rlike("""^\{"k": ?-?[0-9]+\}$""")).count()
    assert(bad == 0L, s"$bad props rows break the {\"k\": <int>} invariant")
  }

  test("embeddings carry no null elements — the invariant the list_sum oracles lean on") {
    import org.apache.spark.sql.functions._
    // graft_dot/graft_l2sq propagate NULL on a null element (matching the
    // Spark HOF) while DuckDB's list_sum IGNORES null elements, so every
    // embedding oracle mirror silently diverges on null-holed vectors. A
    // fixture regeneration that introduces them must fail HERE, loudly.
    val bad = Tables(spark, sf, "embeddings")
      .where(col("embedding").isNull
        || exists(col("embedding"), _.isNull)).count()
    assert(bad == 0L, s"$bad embeddings carry null elements/arrays")
  }

  test("customer keys stay below the bipartite supplier-id offset") {
    import org.apache.spark.sql.functions._
    // U.coPurchase shifts supplier ids by U.supplierIdOffset into the
    // shared node-id space, and labelProp classifies sides by comparing
    // against the same constant. A regenerated fixture whose custkeys
    // reach the offset would silently corrupt every q_graph_* result —
    // fail HERE instead.
    val maxCust = Tables(spark, sf, "customer")
      .agg(max(col("c_custkey"))).collect()(0).getLong(0)
    assert(maxCust < queries.U.supplierIdOffset,
      s"max c_custkey $maxCust collides with supplier offset " +
        s"${queries.U.supplierIdOffset}")
  }

  test("quantile merge is shard-invariant (merge associativity) and within one bin of exact") {
    import org.apache.spark.sql.functions._
    val declared = SparkEntry.queries("q_agg_quantile_merge")(spark, sf).collect()
    // ANY level-1 sharding must produce identical cutpoints: the merge is
    // an elementwise count sum, so partial grouping cannot matter
    val resharded = queries.Aggs
      .quantileMergeWith(spark, sf, pmod(col("c_custkey"), lit(13))).collect()
    assert(declared.map(_.toString).toSeq == resharded.map(_.toString).toSeq,
      "cutpoints changed under a different level-1 sharding")
    // accuracy: each cutpoint within one bin width of the ceil(p·n)-rank
    // ORDER STATISTIC — that is the value the construction provably bins
    // (it lies in qbin, whose upper edge is the cutpoint). Spark's
    // percentile() INTERPOLATES between adjacent order stats, and on a
    // gappy distribution the interpolated value can sit bins away from
    // the rank-stat's bin, so the one-bin bound is not implied vs it.
    val Array(lo, hi) = spark.read.parquet(s"$sf/customer.parquet")
      .agg(min("c_acctbal"), max("c_acctbal")).collect()(0)
      .toSeq.map(_.asInstanceOf[Double]).toArray
    val width = (hi - lo) / 256
    val vals = spark.read.parquet(s"$sf/customer.parquet")
      .select("c_acctbal").orderBy("c_acctbal")
      .collect().map(_.getDouble(0))
    declared.foreach { row =>
      val p = row.getDouble(0)
      val cut = row.getDouble(1)
      val rankStat = vals(math.ceil(p * vals.length).toInt - 1)
      assert(math.abs(cut - rankStat) <= width + 1e-9,
        s"p=$p: cutpoint $cut vs rank-stat $rankStat exceeds bin width $width")
    }
  }

  test("DSv2 source output is invariant to the split count") {
    def agg(parts: Int) = spark.read.format("graft.sources.GraftGenSource")
      .option("rows", "5000").option("partitions", parts.toString).load()
      .groupBy("bucket").agg(count(lit(1)).as("c"), sum(col("id")).as("s"))
      .collect().map(_.toString).sorted.toSeq
    assert(agg(1) == agg(8))
    assert(agg(8) == agg(31)) // non-divisor split count: ragged last split
  }

  test("custom GroupedTopK plan node equals the window row_number formulation") {
    val custom = queries.Windows.queries("q_topk_grouped_plan")(spark, sf)
      .collect().map(_.toString).toSeq
    val window = queries.Windows.queries("q_topk_per_group")(spark, sf)
      .collect().map(_.toString).toSeq
    assert(custom == window)
  }

  test("connected components refine the direct-neighbor dedup view") {
    val near = queries.Llm.queries("q_llm_dedup_near")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap   // doc -> keep
    val cc = queries.Llm.queries("q_llm_dedup_cc")(spark, sf)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(cc.keySet == near.keySet)
    cc.foreach { case (doc, (comp, size)) =>
      assert(comp <= doc, s"component id $comp exceeds member $doc")
      assert(size >= 1)
      // the component label can only be <= the direct-neighbor keep: the
      // closure can merge groups, never split them
      assert(comp <= near(doc), s"doc $doc: component $comp > keep ${near(doc)}")
    }
    // every direct keep edge is honored: doc and its keep share a component
    near.filter { case (doc, keep) => keep != doc }.foreach { case (doc, keep) =>
      assert(cc(doc)._1 == cc(keep)._1, s"doc $doc and keep $keep in different components")
    }
  }

  test("HLL intersection estimate brackets the exact audience overlap") {
    val r = queries.Aggs.queries("q_agg_hll_intersect")(spark, sf).collect()
    assert(r.length === 1)
    val (ea, eb, eu, ei) = (r(0).getLong(0), r(0).getLong(1),
      r(0).getLong(2), r(0).getLong(3))
    val ev = Tables(spark, sf, "events")
      .select("event_type", "user_id").collect()
      .map(x => (x.getString(0), x.getLong(1)))
    val xa = ev.filter(_._1 == "purchase").map(_._2).toSet
    val xb = ev.filter(_._1 == "click").map(_._2).toSet
    val exact = (xa intersect xb).size
    assert(exact > 0, "overlap must be non-vacuous on this corpus")
    // inclusion-exclusion compounds three ±~2% HLL estimates; 15% of the
    // exact overlap (min 5 absolute) is the conservative bracket at this
    // cardinality
    val tol = math.max(5.0, 0.15 * exact)
    assert(math.abs(ei - exact) <= tol, s"est $ei vs exact $exact")
    assert(math.abs(ea - xa.size) <= math.max(3.0, 0.05 * xa.size))
    assert(math.abs(eb - xb.size) <= math.max(3.0, 0.05 * xb.size))
    assert(eu <= ea + eb && ei <= math.min(ea, eb) + tol)
  }

  test("dup-cluster histogram partitions the corpus and matches the CC labels") {
    val cc = queries.Llm.queries("q_llm_dedup_cc")(spark, sf)
      .collect().map(r => (r.getLong(1), r.getLong(2)))
    val hist = queries.Llm.queries("q_llm_dup_cluster_hist")(spark, sf)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    // Σ csize · n_clusters = corpus size: the histogram is a partition
    assert(hist.map { case (sz, n) => sz * n }.sum === cc.length.toLong)
    // and it must agree exactly with the per-doc component sizes
    val expect = cc.groupBy(_._1).map { case (_, v) => v.head._2 }
      .groupBy(identity).map { case (sz, v) => sz -> v.size.toLong }
    assert(hist === expect)
    // non-vacuous on this corpus: real near-dup clusters exist (size ≥ 2)
    assert(hist.keySet.exists(_ >= 2L), "no non-singleton cluster found")
  }

  test("hash split assignment is invariant under repartitioning") {
    // the point of content-hash splitting vs rand(seed): the assignment is
    // a pure function of the key, so physical layout cannot change it
    val base = queries.Reshape.queries("q_sample_split")(spark, sf)
      .collect().map(r => r.getString(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val reparted = Tables(spark, sf, "orders").repartition(7)
      .withColumn("bucket",
        expr(s"${hexFold("md5(CAST(o_orderkey AS STRING))", 6)} % 100"))
      .withColumn("split",
        when(col("bucket") < 80, "train").when(col("bucket") < 90, "val").otherwise("test"))
      .groupBy("split").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(base.keySet == Set("train", "val", "test"))
    base.foreach { case (k, (n, _)) => assert(reparted(k) == n, s"split $k changed") }
  }

  test("window rank equals self-join count equivalence on a micro table") {
    val rows = Seq(("p", 10.0, 1L), ("p", 20.0, 2L), ("p", 20.0, 3L), ("q", 5.0, 4L))
    import spark.implicits._
    val t = rows.toDF("g", "x", "id")
    val viaWindow = t.select(col("g"), col("id"),
      rank().over(org.apache.spark.sql.expressions.Window
        .partitionBy("g").orderBy(col("x").desc)).as("r"))
      .collect().map(r => (r.getString(0), r.getLong(1)) -> r.getInt(2)).toMap
    // rank(x) = 1 + #{y in same group : y.x > x.x}
    val viaJoin = rows.map { case (g, x, id) =>
      (g, id) -> (1 + rows.count(o => o._1 == g && o._2 > x))
    }.toMap
    assert(viaWindow == viaJoin)
  }
}
