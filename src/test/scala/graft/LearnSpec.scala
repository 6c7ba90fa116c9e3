package graft

import org.apache.spark.sql.functions._
import graft.queries.Learn

class LearnSpec extends SparkSpec {

  test("q_llm_cluster_kmeans: clusters partition the vectors; deterministic") {
    val out = Learn.queries("q_llm_cluster_kmeans")(spark, sf).cache()
    val total = Tables(spark, sf, "embeddings").count()
    assert(out.agg(sum("n")).first().getLong(0) === total)
    assert(out.count() <= 8 && out.count() > 1)
    assert(out.where(col("n") <= 0 || col("centroid_l1") <= 0).count() === 0)
    // fixed seeds + integer arithmetic: a second run is bit-identical
    val again = Learn.queries("q_llm_cluster_kmeans")(spark, sf)
    assert(out.collect().toSeq === again.collect().toSeq)
    // drop the cache entry: the shared CacheManager would otherwise
    // substitute the WHOLE declared plan with one InMemoryTableScan in
    // every later identical build (PlanLockSpec's fingerprint would see
    // a 1-node plan instead of the query's shape)
    out.unpersist()
    ()
  }

  test("q_llm_cluster_kmeans: fused report equals the unfused reference") {
    // the declared plan folds the centroid L1 into the scoring broadcast;
    // the reference assigns, counts and joins the L1 back as separate
    // steps over the same converged centroids — the fusion is a plan
    // change only
    val (vecs, cent) = Learn.kmeansVecCent(spark, sf)
    val ref = vecs.crossJoin(cent)
      .select(col("vec_id"), col("cid"), expr("graft_l2sq(q, c)").as("d2"))
      .groupBy("vec_id")
      .agg(min(struct(col("d2"), col("cid"))).getField("cid").as("cid"))
      .groupBy("cid")
      .agg(count(lit(1)).as("n"), min(col("vec_id")).as("min_vec"))
      .join(cent.select(col("cid"),
        expr("aggregate(c, 0L, (acc, v) -> acc + abs(v))").as("centroid_l1")), "cid")
      .orderBy("cid")
    val fused = Learn.queries("q_llm_cluster_kmeans")(spark, sf)
    assert(fused.collect().toSeq === ref.collect().toSeq)
  }

  test("trained-IVF kNN: neighbors come from probed cells, dots ranked, ≤3 per query") {
    // the arithmetic seed indexing (cid = vec_id div stride) assumes
    // dense vec_ids from 0 — a regenerated fixture that breaks density
    // must fail HERE, not as a shrunken quantizer
    val mm = Tables(spark, sf, "embeddings")
      .agg(min("vec_id"), max("vec_id"), count(lit(1))).first()
    assert(mm.getLong(0) == 0L && mm.getLong(1) == mm.getLong(2) - 1,
      s"embeddings vec_ids not dense from 0: $mm")
    val out = Learn.knnGraphTrained(spark, sf, 8, probes = 3).collect()
    assert(out.nonEmpty)
    val byQ = out.groupBy(_.getLong(0))
    byQ.values.foreach { rs =>
      assert(rs.length <= 3)
      val sorted = rs.sortBy(_.getInt(3))
      val dots = sorted.map(_.getDouble(2))
      assert(dots.zip(dots.tail).forall { case (a, b) => a >= b },
        "dot must be non-increasing in rank")
      assert(sorted.map(_.getInt(3)).toSeq === (1 to rs.length),
        "ranks must be dense from 1")
    }
    // no self-edges; neighbor ids are real vectors
    assert(out.forall(r => r.getLong(0) != r.getLong(1)))
    val ids = Tables(spark, sf, "embeddings")
      .select("vec_id").collect().map(_.getLong(0)).toSet
    assert(out.forall(r => ids(r.getLong(1))))
    // deterministic: sampled training + integer grid + tie-broken ranks
    val again = Learn.knnGraphTrained(spark, sf, 8, probes = 3).collect()
    assert(out.map(_.toString).toSeq === again.map(_.toString).toSeq)
    // plan shape: the candidate join must be the bucketed equi-join on
    // the cell id (shuffle_hash) — the only cross joins allowed are the
    // bounded cells×sample / cells×N scoring passes against the
    // broadcast centroid table
    val plan = Learn.knnGraphTrained(spark, sf, 8, probes = 3)
      .queryExecution.executedPlan.toString
    assert(plan.contains("ShuffledHashJoin"),
      s"candidate generation must be the cell equi-join:\n$plan")
    assert(!plan.contains("CartesianProduct"),
      s"only broadcast-bounded scoring crossJoins are allowed:\n$plan")
  }

  test("two-level quantizer: w = √cells serving is exact over the tree codebook; w = 2 agrees") {
    // serving consistency: probing ALL super-cells must reproduce the
    // brute-force argmin over the full hierarchical codebook — the
    // hierarchy may only ever SKIP candidates, never re-rank them
    val (_, centS) = Learn.twoLevelModel(spark, sf, 16)
    val cents = centS.collect()
      .map(r => (r.getInt(0), r.getSeq[Long](1).toArray))
    assert(cents.length >= 8, s"degenerate codebook: ${cents.length} cells")
    val grid = Tables(spark, sf, "embeddings")
      .select(col("vec_id"),
        expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("q"))
      .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toArray))
    def d2(a: Array[Long], b: Array[Long]): BigInt =
      a.zip(b).map { case (x, y) => BigInt(x - y) * BigInt(x - y) }.sum
    val brute = grid.map { case (vid, q) =>
      vid -> cents.map { case (cid, c) => (d2(q, c), cid) }.min._2
    }.toMap
    val scells = 4 // round(sqrt(16))
    val full = Learn.trainedProbeFrames2L(spark, sf, 16, 5, scells)._2
      .select("cid2", "ccell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    assert(full.size === grid.length, "w = √cells must assign every vector")
    assert(grid.forall { case (vid, _) => full(vid) === brute(vid) },
      "w = √cells assignment diverged from brute force over the codebook")
    // w = 2 probes half the super-cells: assignment must still agree on
    // nearly every vector — the measured honesty behind the
    // 32·cells² → 32·cells^1.5 training and N·cells → N·(1+w)·√cells
    // assignment cuts
    val two = Learn.trainedProbeFrames2L(spark, sf, 16, 5, 2)._2
      .select("cid2", "ccell").collect()
      .map(r => (r.getLong(0), r.getInt(1))).toMap
    val agree = grid.count { case (vid, _) =>
      two.get(vid).contains(brute(vid)) }
    assert(agree.toDouble / grid.length >= 0.90,
      s"two-level w=2 assignment agreement too low: $agree/${grid.length}")
    // and the w=2 graph keeps the kNN contract: ranked, ≤3, no self-edges
    val t2 = Learn.knnGraphTrained2L(spark, sf, 16, wSup = 2).collect()
    assert(t2.nonEmpty && t2.forall(r => r.getLong(0) != r.getLong(1)))
    t2.groupBy(_.getLong(0)).values.foreach { rs =>
      assert(rs.length <= 3)
      assert(rs.sortBy(_.getInt(3)).map(_.getInt(3)).toSeq === (1 to rs.length))
    }
    // determinism across a fresh derivation
    val again = Learn.knnGraphTrained2L(spark, sf, 16, wSup = 2).collect()
    assert(t2.map(_.toString).toSeq === again.map(_.toString).toSeq)
  }

  test("round-13 declared dispatch: gate scales are the bit-exact flat form; the growth rule crosses to two-level at ×10") {
    import graft.queries.{Assay, Refine}
    // the growth rule at the fixture and replica embedding counts:
    // 16 cells (flat side of the dispatch) at every gate N, 128/2048
    // (two-level side) at ×10/×100
    assert(Refine.cellsForCount(500) === 16)
    assert(Refine.cellsForCount(2000) === 16)
    assert(Refine.cellsForCount(20000) === 128)
    assert(Refine.cellsForCount(200000) === 2048)
    assert(Refine.cellsForCount(2000) <= Learn.FLAT_MAX_CELLS)
    assert(Refine.cellsForCount(20000) > Learn.FLAT_MAX_CELLS,
      "×10 must cross the flat→two-level threshold")
    // at the gate scale every dispatching declared entry must be
    // BIT-IDENTICAL to the pinned flat-16 form (the oracle-survival
    // mechanism: cellsFor resolves to 16 here, so the dispatch IS the
    // previous declaration)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).toSeq
    assert(rows(Learn.queries("q_llm_knn_graph_trained")(spark, sf))
      === rows(Learn.knnGraphTrained(spark, sf, 16)))
    assert(rows(Learn.queries("q_llm_hard_negatives")(spark, sf))
      === rows(Learn.knnGraphTrained(spark, sf, 16, negatives = true)))
    assert(rows(Assay.queries("q_llm_label_noise")(spark, sf))
      === rows(Assay.labelNoiseWith(spark, sf, 16)))
  }

  test("Lloyd step: a key partitions the work (keyed by m or sid ≡ one unkeyed run per key)") {
    import graft.queries.Refine
    graft.functions.GraftFunctions.register(spark)
    def rows(df: org.apache.spark.sql.DataFrame): Seq[String] =
      df.collect().map(_.toString).sorted.toSeq
    val grid = Tables(spark, sf, "embeddings").select(col("vec_id"),
      expr("transform(embedding, x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT))").as("g"))
    // the PQ codebook shape: every vector's M slices keyed by subspace m,
    // seeded per slice by the KPQ lowest ids
    val dim = 64 / Refine.M
    val bySub = grid.select(col("vec_id"), explode(expr(
        s"""transform(sequence(0, ${Refine.M - 1}), m -> named_struct(
             'm', m, 'q', slice(g, m * $dim + 1, $dim)))""")).as("e"))
      .select(col("vec_id"), col("e.m").as("m"), col("e.q").as("q"))
    val subSeeds = bySub.where(col("vec_id") < Refine.KPQ)
      .select(col("m"), col("vec_id").cast("int").as("cid"), col("q").as("c"))
    // the two-level sub-cell shape: each vector in one super-cell sid,
    // seeded per super-cell by its 4 lowest ids
    val bySid = grid.select(col("vec_id"), (col("vec_id") % 4).cast("int").as("sid"),
      col("g").as("q"))
    val sidSeeds = bySid.where(col("vec_id") < 16).select(col("sid"),
      expr("CAST(vec_id div 4 AS INT)").as("cid"), col("q").as("c"))
    for ((vecs, seeds, key, n) <- Seq((bySub, subSeeds, "m", Refine.M),
        (bySid, sidSeeds, "sid", 4))) {
      val keyed = Learn.lloyd(vecs, seeds, Seq(key)).cache()
      assert(keyed.select(key).distinct().count() === n)
      for (k <- 0 until n) {
        val alone = Learn.lloyd(vecs.where(col(key) === k).drop(key),
          seeds.where(col(key) === k).drop(key), Nil)
        assert(rows(keyed.where(col(key) === k).drop(key)) === rows(alone),
          s"keyed run differs from the unkeyed run of $key = $k")
      }
      keyed.unpersist()
    }
  }

  test("q_llm_bpe_pairs: ranked top-30 with a verifiable champion count") {
    val out = Learn.queries("q_llm_bpe_pairs")(spark, sf).collect()
    assert(out.length === 30)
    assert(out.map(_.getInt(0)).toSeq === (1 to 30))
    val cnts = out.map(_.getLong(2))
    assert(cnts.zip(cnts.tail).forall { case (a, b) => a >= b })
    assert(out.forall(_.getString(1).length === 2))
    // independent recount of the champion pair, no vocabulary
    // compression; bound as a Column (not interpolated into SQL text) so
    // a pair containing a quote can't break the expression
    val champ = out.head.getString(1)
    val direct = Tables(spark, sf, "documents")
      .select(explode(split(col("text"), " ")).as("w"))
      .where(length(col("w")) >= 2)
      .select(explode(expr(
        "transform(sequence(1, length(w) - 1), i -> substring(w, i, 2))")).as("p"))
      .where(col("p") === lit(champ))
      .count()
    assert(direct === out.head.getLong(2))
  }
}
