package graft

import org.apache.spark.sql.functions._

/** The ×F replica must preserve per-key/per-window DENSITY — the property
  * that makes the scaling probe measure operators, not collision
  * artifacts. Sharp check: at factor 2, every linear query's output grows
  * exactly ×2 and no cross-copy pair exists anywhere. */
class ScaleSpec extends SparkSpec {

  private lazy val dir: String = {
    val out = scratchDir("scale_x2")
    Scale.gen(spark, sf, out, 2)
    out
  }

  test("gen preserves schemas and multiplies fact row counts exactly") {
    Seq("orders", "lineitem", "events", "documents", "embeddings").foreach { t =>
      val a = Tables(spark, sf, t)
      val b = Tables(spark, dir, t)
      assert(b.schema === a.schema, s"$t schema drifted")
      assert(b.count() === 2 * a.count(), s"$t not exactly doubled")
    }
    Seq("region", "nation", "customer", "supplier", "part").foreach { t =>
      assert(Tables(spark, dir, t).count() === Tables(spark, sf, t).count())
    }
  }

  test("louvain_full keeps modularity >= the fixed two-level pair at x2") {
    // the quality claim re-proven off the gate corpora: on the x2
    // replica the converged loop must still never score below
    // louvain_coarse (guarded acceptance makes Q monotone from the
    // shared 4-round base, so a violation means the loops diverged)
    def modOf(name: String): Double =
      queries.Insights.modularityOf(spark, dir,
        SparkEntry.queries(name)(spark, dir).select(col("id"), col("lbl")))
    val qFull = modOf("q_graph_louvain_full")
    val qCoarse = modOf("q_graph_louvain_coarse")
    assert(qFull >= qCoarse - 1e-12,
      f"x2 replica: louvain_full Q $qFull%.6f < two-level $qCoarse%.6f")
    assert(qFull >= 0.0)
  }

  test("per-window density is invariant: range join and dedup outputs scale exactly x2") {
    Seq("q_join_theta_range", "q_llm_dedup_exact", "q_llm_dedup_simhash",
        "q_mr_inverted_index").foreach { name =>
      val a = SparkEntry.queries(name)(spark, sf).count()
      val b = SparkEntry.queries(name)(spark, dir).count()
      // per-token copy suffixing doubles the vocabulary exactly
      assert(b === 2 * a, s"$name: $a -> $b")
    }
    // row counts alone can't see cross-copy PAIRS (dup-group outputs are
    // one row per doc regardless of neighbor count) — the pair-sensitive
    // measure is the neighbor total: within-copy structure is identical
    // to copy 0 and cross-copy shingle sets are disjoint, so sum(n_dups)
    // must double EXACTLY; any cross-copy minhash collision inflates it
    val nd = (d: String) => queries.Llm.queries("q_llm_dedup_near")(spark, d)
      .agg(sum("n_dups")).first().getLong(0)
    val (na, nb) = (nd(sf), nd(dir))
    // small slack, not exact ×2: per-token copy suffixing changes shingle
    // hashes, so a BORDERLINE j≥0.8 pair can band-collide in one copy and
    // not the other (≈3% banding miss per pair). Cross-copy collisions
    // would inflate nb far beyond the band — the invariant still bites.
    val slack = math.max(2L, na / 20)
    assert(nb >= 2 * na - slack && nb <= 2 * na + slack,
      s"near-dup neighbor mass not ~x2: $na -> $nb (cross-copy pairs?)")
    // same pair-sensitive invariant for the WEIGHTED (CWS bigram) path:
    // per-token suffixing makes cross-copy bigram multisets disjoint, so
    // weighted neighbor mass must ~double; a cross-copy CWS band
    // collision would inflate it quadratically (the exact artifact the
    // round-7 unigram geometry produced WITHIN copies — this guard
    // would catch its cross-copy cousin)
    val wd = (d: String) =>
      queries.Llm.queries("q_llm_dedup_wjaccard")(spark, d)
        .agg(sum("n_dups")).first().getLong(0)
    val (wa, wb) = (wd(sf), wd(dir))
    val wslack = math.max(2L, wa / 20)
    assert(wb >= 2 * wa - wslack && wb <= 2 * wa + wslack,
      s"weighted neighbor mass not ~x2: $wa -> $wb (cross-copy pairs?)")
  }

  test("events replication preserves per-user density (user_id strides per copy)") {
    val perUser = (d: String) =>
      Tables(spark, d, "events").groupBy("user_id").count()
    val aMax = perUser(sf).agg(max("count")).first().getLong(0)
    val bMax = perUser(dir).agg(max("count")).first().getLong(0)
    assert(bMax === aMax,
      s"per-user event pile-up: max $aMax -> $bMax (user_id not strided?)")
    val aUsers = perUser(sf).count()
    val bUsers = perUser(dir).count()
    assert(bUsers === 2 * aUsers, s"user population not x2: $aUsers -> $bUsers")
  }

  test("embedding replicas keep intra-copy geometry exact, cross-copy decorrelated") {
    graft.functions.GraftFunctions.register(spark)
    val base = Tables(spark, sf, "embeddings").count()
    val e = Tables(spark, dir, "embeddings")
      .select(col("vec_id"), col("embedding"))
    // no cross-copy identical twin may survive the sign flip: a verbatim
    // copy would put cosine exactly 1.0 at (v, v + stride)
    val twins = e.as("a").join(e.as("b"),
        col("b.vec_id") === col("a.vec_id") + lit(base) &&
          expr("graft_dot(a.embedding, b.embedding)") > 0.999)
      .count()
    assert(twins === 0, s"$twins byte-identical cross-copy vectors")
    // intra-copy dots are EXACT: sign flips cancel ((s·x)(s·y) = x·y
    // exactly in IEEE), so every copy-1 pair (v+n, w+n) must reproduce
    // copy-0's pairwise dot bit-for-bit
    def vecs(lo: Long): Array[Array[Float]] = e
      .where(col("vec_id") >= lo && col("vec_id") < lo + 5)
      .orderBy("vec_id").collect()
      .map(_.getSeq[Float](1).toArray)
    def dot(x: Array[Float], y: Array[Float]): Double =
      x.zip(y).foldLeft(0.0) { case (a, (p, q)) => a + p.toDouble * q.toDouble }
    val (c0, c1) = (vecs(0L), vecs(base))
    for (i <- c0.indices; j <- i + 1 until c0.length)
      assert(dot(c0(i), c0(j)) == dot(c1(i), c1(j)),
        s"intra-copy dot drifted for pair ($i, $j)")
  }

  test("triage target-band flag is scale-stable: the same true-target pair flags at x1 and x8") {
    // the guarantee the derived threshold buys (target − bracket, see
    // Audit): a pair whose TRUE containment sits at the target must be
    // flagged at EVERY corpus size — provably not sketch noise, which
    // flips pairs scale to scale (measured round 11: the old 0.05 cutoff
    // flagged 20/16/1 entirely different pairs at the three gate scales).
    // The constructed corpus replicates with disjoint per-copy grams, so
    // containment(A, B) = 0.12 = target at any size while totals scale.
    Seq(1, 8).foreach { k =>
      val d = TriageFixture.write(spark, k, scratchDir(s"triage_x$k"))
      val triage = queries.Audit.queries("q_llm_source_overlap_triage")(spark, d)
        .collect()
      val ab = triage.find(r =>
        r.getString(0) == "srcA" && r.getString(1) == "srcB")
      assert(ab.nonEmpty, s"x$k: true-target pair not flagged — scale-unstable")
      assert(ab.get.getLong(5) === 12L * k && ab.get.getDouble(6) === 0.12,
        s"x$k: exact leg drifted: ${ab.get}")
      assert(!triage.exists(r => r.getString(1) == "srcC"),
        s"x$k: gram-disjoint source flagged: ${triage.toSeq}")
    }
  }

  test("events keep strict event_id <-> ts co-ordering after replication") {
    val ev = Tables(spark, dir, "events")
      .select(col("event_id"), unix_micros(col("ts")).as("us"))
    val w = org.apache.spark.sql.expressions.Window.orderBy("event_id")
    val inversions = ev
      .withColumn("prev_us", lag("us", 1).over(w))
      .where(col("prev_us").isNotNull && col("us") < col("prev_us"))
      .count()
    assert(inversions === 0L)
  }
}
