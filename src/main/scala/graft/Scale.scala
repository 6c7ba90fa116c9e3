package graft

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Scaling-evidence harness (SURVEY §6, BASELINE.md "Scaling evidence").
  * Every mode runs declared `SparkEntry.queries` entries only.
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
  * `probe` times the named queries (default `probeSet`) on one sf-dir
  * and prints one JSON line per query — the data behind the
  * linear-scaling table in BASELINE.md.
  *
  * `recall` prints recall@k of each declared ANN entry against exact
  * brute force, and `hll` the sketch queries' error against their exact
  * twins, one JSON line per (dir, query).
  *
  * Usage:
  *   runMain graft.Scale gen    <srcDir> <outDir> [factor]
  *   runMain graft.Scale probe  <dir> [query ...]
  *   runMain graft.Scale recall <dir> [dir ...]
  *   runMain graft.Scale hll    <dir> [dir ...]
  */
object Scale {

  val probeSet: Seq[String] = Seq(
    "q_agg_groupby", "q_win_rank", "q_join_theta_range", "q_join_asof",
    "q_llm_dedup_exact", "q_llm_dedup_near", "q_llm_dedup_simhash",
    "q_llm_substring_dedup", "q_llm_cluster_kmeans", "q_mr_inverted_index",
    "q_llm_bpe_pairs", "q_ts_ewma", "q_stream_session", "q_llm_tfidf")

  private def session(): SparkSession = {
    val s = GraftSession.builder().getOrCreate()
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
    // events: read through Tables (TimestampType under the UTC session),
    // write ts back as TIMESTAMP_NTZ, i.e. the fixtures' parquet
    // TIMESTAMP(MICROS, isAdjustedToUTC=false), so the scaled dir
    // round-trips through Tables exactly like the driver-generated one
    // (the UTC session keeps the wall clock). user_id strides per copy too —
    // without it, per-USER event volume would grow ×F and unbounded
    // per-user windows (asof, ewma, session) would measure the pile-up,
    // not the operator. Accepted trade: copies ≥ 1 have user_ids outside
    // the fixed customer dim, so an events→customer join loses matches on
    // them. None of the DEFAULT probeSet queries joins events to a dim,
    // but `probe` accepts any declared query name — probing
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
        .withColumn("ts", (col("ts") + expr(s"INTERVAL ${k * 400} DAYS")).cast("timestamp_ntz"))
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

  /** How `recall` scores one declared ANN entry: k, the exact ordering
    * the entry approximates (dot product, or L2² on the 1e-6 integer
    * grid), and its query set as a predicate over embeddings given N. */
  private case class Ann(k: Int, l2: Boolean, queries: Long => Column)

  private val strideSample: Long => Column = n =>
    col("vec_id") % math.max(1L, n / 128L) === 0

  private val ann: Seq[(String, Ann)] = Seq(
    "q_llm_knn_graph" -> Ann(3, l2 = false, strideSample),
    "q_llm_knn_graph_trained" -> Ann(3, l2 = false, strideSample),
    "q_llm_simsearch_ivf" ->
      Ann(5, l2 = false, _ => col("label") === 0 && col("vec_id") < 100),
    "q_llm_simsearch_pq" -> Ann(3, l2 = true, _ => col("vec_id") < 32),
    "q_llm_simsearch_pq_probe" -> Ann(3, l2 = true, _ => col("vec_id") < 32))

  /** (queries, recall@k) of declared ANN entry `name` against GLOBAL
    * brute force: truth is the exact top-k over ALL other vectors under
    * the entry's own rounding and (score, cid) tie-break, and
    * recall@k = |ann ∩ truth| / (k·|queries|). */
  private[graft] def recallOf(spark: SparkSession, d: String,
      name: String): (Long, Double) = {
    val a = ann.toMap.apply(name)
    graft.functions.GraftFunctions.register(spark)
    val emb = Tables(spark, d, "embeddings")
    val v = if (a.l2) graft.queries.U.gridE6("embedding") else col("embedding")
    val vecs = emb.select(col("vec_id"), col("label"), v.as("v"))
    val qs = vecs.where(a.queries(emb.count()))
      .select(col("vec_id").as("qid"), col("v").as("qv"))
    val (score, order) =
      if (a.l2) (expr("graft_l2sq(qv, cv)"), col("s").asc)
      else (expr("round(graft_dot(qv, cv), 6)"), col("s").desc)
    // the capped query set broadcast against the full candidate scan:
    // exact truth needs every (q, cand) score, and |qs| ≤ ~128
    val truth = vecs.select(col("vec_id").as("cid"), col("v").as("cv"))
      .crossJoin(broadcast(qs)).where(col("qid") =!= col("cid"))
      .select(col("qid"), col("cid"), score.as("s"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy("qid").orderBy(order, col("cid"))))
      .where(col("rnk") <= a.k)
    val hits = SparkEntry.queries(name)(spark, d).select("qid", "cid")
      .join(qs.select("qid"), Seq("qid"), "left_semi")
      .join(truth, Seq("qid", "cid"), "left_semi").count()
    val nq = qs.count()
    (nq, hits.toDouble / (a.k * nq))
  }

  def recall(spark: SparkSession, dirs: Seq[String]): Unit =
    for (d <- dirs; (name, a) <- ann) {
      val (nq, r) = recallOf(spark, d, name)
      println(f"""{"dir":"$d","query":"$name","k":${a.k},"n_queries":$nq,"recall":$r%.4f}""")
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
    val estM = SparkEntry.queries("q_llm_source_overlap_sketch")(spark, d)
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

  def probe(spark: SparkSession, dir: String, queries: Seq[String]): Unit = {
    val names = if (queries.isEmpty) probeSet else queries
    // fail fast with a useful message: a typo'd name would otherwise
    // throw a bare key-not-found mid-run, losing the partial probe
    val unknown = names.filterNot(SparkEntry.queries.contains)
    require(unknown.isEmpty, s"unknown probe queries: ${unknown.mkString(", ")}")
    names.foreach { name =>
      val fn = SparkEntry.queries(name)
      // the first materialize is reported too: for memoized/persisted
      // lineages (quantizer families) it is the COLD number that
      // carries the cost law — the warm number alone would just time
      // a cache read and hide the pass being probed
      val c0 = System.nanoTime()
      materialize(fn(spark, dir)) // cold: builds caches + codegen
      val cold = (System.nanoTime() - c0) / 1e9
      val t0 = System.nanoTime()
      materialize(fn(spark, dir))
      val dt = (System.nanoTime() - t0) / 1e9
      val rows = fn(spark, dir).count()
      println(f"""{"dir":"$dir","query":"$name","sec":$dt%.3f,"cold_sec":$cold%.3f,"rows":$rows}""")
    }
  }

  def main(args: Array[String]): Unit = {
    val spark = session()
    args(0) match {
      case "gen" => gen(spark, args(1), args(2),
        if (args.length > 3) args(3).toInt else 10)
      case "probe" => probe(spark, args(1), args.drop(2).toSeq)
      case "recall" => recall(spark, args.drop(1).toSeq)
      case "hll" => hll(spark, args.drop(1).toSeq)
      case other => sys.error(s"unknown mode $other (gen|probe|recall|hll)")
    }
    spark.stop()
  }
}
