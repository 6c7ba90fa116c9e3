package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Training-data-pipeline operators beyond SURVEY §2.11: more dedup
  * families (SimHash, n-gram Jaccard, embedding cosine), text analysis
  * (language-ID, quality scoring, token counting, fingerprinting).
  *
  * Scale notes: all shapes are linear or candidate-bounded. SimHash emits
  * one row per document (bucket size joined in) rather than the quadratic
  * equal-hash pair list — on a near-duplicate-heavy corpus the pair list
  * is O(n²). Pairwise exact scans (n-gram Jaccard, cosine) are capped to
  * a fixed window of ids: they are the correctness oracles for the
  * LSH/IVF scale paths (q_llm_dedup_near, q_llm_simsearch_ivf), not the
  * at-scale algorithms themselves.
  */
object Extras {

  /** 24-bit portable SimHash: per-term md5 hex digits supply the bit
    * pattern, term frequency the weight — identical integer arithmetic in
    * Spark and DuckDB. 24 bits keeps the space sparse enough (16.7M) that
    * equal or Hamming-1 signatures mean genuinely similar term-weight
    * profiles, not birthday collisions (measured at 12 bits: 94% of docs
    * had a spurious Hamming-1 neighbor). */
  private val simhashBits = 24

  /** (doc_id, simhash) — the shared signature computation of
    * q_llm_dedup_simhash and q_llm_dedup_simhash_near. Vectorized: the
    * per-term ±1 bit signature is a tiny dimension (one row per distinct
    * term), broadcast-joined; per-doc weighted sums run as 12 columnar
    * aggregates. The naive shape (explode 12 bits per (doc,term) → two
    * aggs over 12× the rows) measured ~6 s at sf0.1. */
  private def simhashOf(s: org.apache.spark.sql.SparkSession, d: String)
    : org.apache.spark.sql.DataFrame = {
    val tok = Tables(s, d, "documents")
      .select(col("doc_id"), explode(textTokens).as("term"))
      .groupBy("doc_id", "term").agg(count(lit(1)).as("c"))
    val sign = (b: Int) =>
      expr(s"""(((instr('0123456789abcdef', substr(h, ${b / 4 + 1}, 1)) - 1)
                 div ${1 << (b % 4)}) % 2) * 2 - 1""").as(s"s$b")
    val termSig = tok.select("term").distinct()
      .withColumn("h", md5(col("term")))
      .select(col("term") +: (0 until simhashBits).map(sign): _*)
    val aggs = (0 until simhashBits)
      .map(b => sum(col(s"s$b") * col("c")).as(s"t$b"))
    val simhash = (0 until simhashBits)
      .map(b => expr(s"CASE WHEN t$b > 0 THEN ${1L << b}L ELSE 0L END"))
      .reduce(_ + _)
    tok.join(broadcast(termSig), "term")
      .groupBy("doc_id").agg(aggs.head, aggs.tail: _*)
      .select(col("doc_id"), simhash.as("simhash"))
  }

  val queries: Map[String, Q] = Map(
    // ---- text analysis -------------------------------------------------
    "q_llm_langid" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
      // tok feeds two consumers (profile + vote join). Round-9 finding,
      // measured both ways and NOT changed: a lazy localCheckpoint here
      // does NOT help (×10 warm 2.76 s vs 2.71 s inline — the RDD-row
      // checkpoint re-read costs what the second codegen'd explode
      // costs), and the cross-query token memo that DID cut it to
      // 1.05 s lost suite-wide (BASELINE.md "shared token frame").
      val tok = docs.select(col("doc_id"), col("lang"), explode(textTokens).as("term"))
      val wTok = Window.partitionBy("term").orderBy(col("c").desc, col("lang"))
      val profile = tok.groupBy("term", "lang").agg(count(lit(1)).as("c"))
        .withColumn("rn", row_number().over(wTok)).where(col("rn") === 1)
        .select(col("term"), col("lang").as("tok_lang"))
      val wDoc = Window.partitionBy("doc_id").orderBy(col("v").desc, col("tok_lang"))
      val pred = tok.join(profile, "term")
        .groupBy("doc_id", "tok_lang").agg(count(lit(1)).as("v"))
        .withColumn("rn", row_number().over(wDoc)).where(col("rn") === 1)
        .select(col("doc_id"), col("tok_lang").as("pred_lang"))
      docs.select("doc_id", "lang").join(pred, "doc_id")
        .select(col("doc_id"), col("lang"), col("pred_lang"),
          (col("lang") === col("pred_lang")).as("correct"))
        .orderBy("doc_id")
    }),

    // Quality score in integer micro-units (0..1_000_000), floor division
    // throughout: 0.4·len-score + 0.3·(1−stopword ratio) + 0.3·avg-token-
    // length score. Exact integers sidestep double rounding entirely —
    // Spark's round() goes through BigDecimal.valueOf (shortest decimal
    // repr), DuckDB rounds the actual value; near a half boundary they
    // disagree (observed at sf0.001).
    "q_llm_quality" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(textTokens).as("n_tokens"),
        expr("""CAST(size(filter(split(text, ' '),
             x -> x IN ('the', 'a', 'and', 'of', 'to', 'is'))) AS INT)""")
          .as("n_stop"),
        U.qualityE6.as("quality_e6"))
        .orderBy("doc_id")),

    "q_llm_token_count" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(textTokens).as("n_ws"),
        ceil(length(regexp_replace(col("text"), " ", "")) / lit(4.0)).as("n_subword_est"),
        size(split(col("text"), "[aeiou]+")).as("n_vowel_pieces"))
        .orderBy("doc_id")),

    "q_llm_fingerprint" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        md5(array_join(array_sort(array_distinct(textTokens)), " ")).as("bow_fp"),
        expr("""aggregate(transform(sequence(1, length(text)),
                   i -> CAST(ascii(substr(text, i, 1)) AS BIGINT)),
                 CAST(0 AS BIGINT),
                 (a, c) -> (a * 31 + c) % 1000000007)""").as("rolling_fp"))
        .orderBy("doc_id")),

    // ---- dedup families ------------------------------------------------
    "q_llm_dedup_simhash" -> ((s, d) =>
      // bucket size as an un-ordered window count: one shuffle on simhash
      // instead of the groupBy + re-join shape (which shuffles twice and
      // materializes the bucket dim) — same rows, same determinism.
      simhashOf(s, d)
        .select(col("doc_id"), col("simhash"),
          count(lit(1)).over(Window.partitionBy("simhash")).as("bucket_size"))
        .orderBy("doc_id")),

    // Hamming-≤1 SimHash dedup: exact-equal buckets only catch identical
    // signatures; one flipped bit (one drifted term weight) escapes them.
    // Multi-probe: each doc emits its hash plus the 24 one-bit flips, and
    // neighbors are found by an equi-join of probes against hashes — 25
    // bucket-local lookups per doc, never all-pairs. Same keep_id/n_dups
    // dup-group shape as q_llm_dedup_near; fully integer ⇒ oracled.
    // Semantics caveat (measured): SimHash compares unigram WEIGHT
    // PROFILES, so on this 31-word-vocabulary corpus many non-duplicate
    // docs legitimately collide — the shingle-MinHash path
    // (q_llm_dedup_near) is the precision tool; this is the cheap
    // profile-level pre-filter.
    "q_llm_dedup_simhash_near" -> ((s, d) => {
      val sh = simhashOf(s, d)
      val masks = "simhash" +: (0 until simhashBits).map(b => s"simhash ^ ${1L << b}L")
      val probes = sh.select(col("doc_id"),
        explode(expr(masks.mkString("array(", ", ", ")"))).as("probe"))
      val pairs = probes.as("x").join(sh.as("y"),
          col("x.probe") === col("y.simhash") && col("x.doc_id") < col("y.doc_id"))
        .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
      U.dupGroups(sh, pairs)
    }),

    "q_llm_dedup_ngram_jaccard" -> ((s, d) => {
      val g = Tables(s, d, "documents").where(col("doc_id") < 150)
        .withColumn("tk", textTokens)
        .select(col("doc_id"), explode(array_distinct(gramsN(3))).as("g"))
      val sizes = g.groupBy("doc_id").agg(count(lit(1)).as("sz"))
      val inter = g.as("x").join(g.as("y"),
          col("x.g") === col("y.g") && col("x.doc_id") < col("y.doc_id"))
        .groupBy(col("x.doc_id").as("id_a"), col("y.doc_id").as("id_b"))
        .agg(count(lit(1)).as("i"))
      inter
        .join(sizes.select(col("doc_id").as("id_a"), col("sz").as("sza")), "id_a")
        .join(sizes.select(col("doc_id").as("id_b"), col("sz").as("szb")), "id_b")
        .select(col("id_a"), col("id_b"),
          round(col("i").cast("double") / (col("sza") + col("szb") - col("i")), 6)
            .as("jaccard"))
        .orderBy(col("jaccard").desc, col("id_a"), col("id_b"))
        .limit(20)
    }),

    "q_llm_dedup_embed_cosine" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val emb = Tables(s, d, "embeddings").where(col("vec_id") < 300)
      val a = emb.select(col("vec_id").as("id_a"), col("embedding").as("ea"))
      val b = emb.select(col("vec_id").as("id_b"), col("embedding").as("eb"))
      val dot = expr("round(graft_dot(ea, eb), 6)")
      a.join(b, col("id_a") < col("id_b"))
        .select(col("id_a"), col("id_b"), dot.as("cosine"))
        .orderBy(col("cosine").desc, col("id_a"), col("id_b"))
        .limit(20)
    }),

    // ---- ANN scale path (deterministic arithmetic — DuckDB-oracled) ----
    // IVF-style multi-probe over a sign-bit coarse quantizer: cell = sign
    // pattern of dims 1..4 (16 cells); probe the query's cell plus its 4
    // Hamming-1 neighbors. Fully deterministic, no fitted model, and the
    // probed fraction (5/16) bounds the scan at any N.
    "q_llm_simsearch_ivf" -> ((s, d) => {
      graft.functions.GraftFunctions.register(s)
      val cellOf = expr(
        """CAST(element_at(embedding, 1) > 0 AS INT)
           + 2 * CAST(element_at(embedding, 2) > 0 AS INT)
           + 4 * CAST(element_at(embedding, 3) > 0 AS INT)
           + 8 * CAST(element_at(embedding, 4) > 0 AS INT)""")
      val emb = Tables(s, d, "embeddings").withColumn("cell", cellOf)
      val qs = emb.where(col("label") === 0 && col("vec_id") < 100)
        .select(col("vec_id").as("qid"), col("embedding").as("qe"), col("cell"))
        .select(col("qid"), col("qe"),
          explode(expr("array(cell, cell ^ 1, cell ^ 2, cell ^ 4, cell ^ 8)"))
            .as("probe"))
      val cand = emb.select(col("vec_id").as("cid"), col("embedding").as("ce"),
        col("cell").as("ccell"))
      val dot = expr("round(graft_dot(qe, ce), 6)")
      val w = Window.partitionBy("qid").orderBy(col("dot").desc, col("cid"))
      broadcast(qs).join(cand, col("probe") === col("ccell") && col("qid") =!= col("cid"))
        .select(col("qid"), col("cid"), dot.as("dot"))
        .withColumn("rnk", row_number().over(w))
        .where(col("rnk") <= 5)
        .orderBy("qid", "rnk")
    }),

    // ---- multimodal plumbing -------------------------------------------
    "q_mm_meta" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        length(encode(col("text"), "utf-8")).as("byte_len"),
        md5(col("text")).as("digest"),
        (col("n_chars") % 640 + 32).as("width"),
        (col("n_chars") % 480 + 32).as("height"),
        when(col("doc_id") % 3 === 0, "png")
          .when(col("doc_id") % 3 === 1, "jpg")
          .otherwise("webp").as("fmt"))
        .orderBy("doc_id"))
  )

  private val oStop = "['the', 'a', 'and', 'of', 'to', 'is']"

  /** DuckDB CTE chain mirroring `simhashOf` — ends at `sh(doc_id, simhash)`. */
  private val oSimhashCte =
    s"""tok AS (SELECT doc_id, term, COUNT(*) AS c FROM
             (SELECT doc_id, unnest(string_split(text, ' ')) AS term FROM documents)
           GROUP BY doc_id, term),
         bits AS (SELECT doc_id, b,
             SUM(c * (2 * (CAST(floor((strpos('0123456789abcdef',
                 substring(md5(term), (b // 4) + 1, 1)) - 1) / pow(2, b % 4)) AS INT) % 2) - 1)) AS sgn
           FROM tok CROSS JOIN (SELECT unnest(range(0, $simhashBits)) AS b) bt
           GROUP BY doc_id, b),
         sh AS (SELECT doc_id,
             CAST(SUM(CASE WHEN sgn > 0 THEN CAST(pow(2, b) AS BIGINT) ELSE 0 END) AS BIGINT) AS simhash
           FROM bits GROUP BY doc_id)"""

  val oracle: Map[String, String] = Map(
    "q_llm_langid" ->
      """WITH tok AS (SELECT doc_id, lang, unnest(string_split(text, ' ')) AS term
                      FROM documents),
         tl AS (SELECT term, lang, COUNT(*) AS c FROM tok GROUP BY term, lang),
         profile AS (SELECT term, lang AS tok_lang FROM (
             SELECT term, lang, ROW_NUMBER() OVER (PARTITION BY term
               ORDER BY c DESC, lang) AS rn FROM tl) WHERE rn = 1),
         votes AS (SELECT doc_id, tok_lang, COUNT(*) AS v
                   FROM tok JOIN profile USING (term) GROUP BY doc_id, tok_lang),
         pred AS (SELECT doc_id, tok_lang AS pred_lang FROM (
             SELECT doc_id, tok_lang, ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY v DESC, tok_lang) AS rn FROM votes) WHERE rn = 1)
         SELECT d.doc_id, d.lang, p.pred_lang, d.lang = p.pred_lang AS correct
         FROM documents d JOIN pred p ON d.doc_id = p.doc_id
         ORDER BY d.doc_id""",

    "q_llm_quality" ->
      s"""SELECT doc_id,
            CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
            CAST(len(list_filter(string_split(text, ' '),
              x -> list_contains($oStop, x))) AS INT) AS n_stop,
            ${U.oQualityE6} AS quality_e6
          FROM documents ORDER BY doc_id""",

    "q_llm_token_count" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS n_ws,
           CAST(ceil(length(replace(text, ' ', '')) / 4.0) AS BIGINT) AS n_subword_est,
           CAST(len(string_split_regex(text, '[aeiou]+')) AS INT) AS n_vowel_pieces
         FROM documents ORDER BY doc_id""",

    "q_llm_fingerprint" ->
      """SELECT doc_id,
           md5(array_to_string(list_sort(list_distinct(string_split(text, ' '))), ' ')) AS bow_fp,
           list_reduce(
             list_concat([CAST(0 AS BIGINT)],
               list_transform(string_split(text, ''), c -> CAST(ascii(c) AS BIGINT))),
             (a, c) -> (a * 31 + c) % 1000000007) AS rolling_fp
         FROM documents ORDER BY doc_id""",

    "q_llm_dedup_simhash" ->
      s"""WITH $oSimhashCte,
         bk AS (SELECT simhash, COUNT(*) AS bucket_size FROM sh GROUP BY simhash)
         SELECT doc_id, simhash, bucket_size FROM sh JOIN bk USING (simhash)
         ORDER BY doc_id""",

    "q_llm_dedup_simhash_near" ->
      s"""WITH $oSimhashCte,
         probes AS (SELECT doc_id,
             unnest(list_concat([simhash],
               list_transform(range(0, $simhashBits), b -> xor(simhash, 1 << b)))) AS probe
           FROM sh),
         pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM probes x JOIN sh y ON x.probe = y.simhash AND x.doc_id < y.doc_id),
         ${U.oDupGroups("pairs", "sh")}""",

    "q_llm_dedup_ngram_jaccard" ->
      """WITH g AS (SELECT doc_id,
             unnest(list_distinct(list_transform(range(1, len(string_split(text, ' ')) - 1),
               i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]
                    || ' ' || string_split(text, ' ')[i + 2]))) AS g
           FROM documents WHERE doc_id < 150),
         sz AS (SELECT doc_id, COUNT(*) AS sz FROM g GROUP BY doc_id),
         inter AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, COUNT(*) AS i
                   FROM g x JOIN g y ON x.g = y.g AND x.doc_id < y.doc_id
                   GROUP BY x.doc_id, y.doc_id)
         SELECT id_a, id_b,
           round(CAST(i AS DOUBLE) / (a.sz + b.sz - i), 6) AS jaccard
         FROM inter JOIN sz a ON a.doc_id = id_a JOIN sz b ON b.doc_id = id_b
         ORDER BY jaccard DESC, id_a, id_b LIMIT 20""",

    "q_llm_simsearch_ivf" ->
      """WITH e AS (SELECT vec_id, embedding, label,
             CAST(embedding[1] > 0 AS INT) + 2 * CAST(embedding[2] > 0 AS INT)
             + 4 * CAST(embedding[3] > 0 AS INT) + 8 * CAST(embedding[4] > 0 AS INT) AS cell
           FROM embeddings),
         q AS (SELECT vec_id AS qid, embedding AS qe,
                 unnest([cell, xor(cell, 1), xor(cell, 2), xor(cell, 4), xor(cell, 8)]) AS probe
               FROM e WHERE label = 0 AND vec_id < 100),
         scored AS (SELECT q.qid, c.vec_id AS cid,
                 round(list_sum(list_transform(range(1, 65),
                   i -> CAST(q.qe[i] AS DOUBLE) * CAST(c.embedding[i] AS DOUBLE))), 6) AS dot
               FROM q JOIN e c ON q.probe = c.cell AND q.qid <> c.vec_id),
         r AS (SELECT qid, cid, dot,
                 CAST(ROW_NUMBER() OVER (PARTITION BY qid ORDER BY dot DESC, cid) AS INT) AS rnk
               FROM scored)
         SELECT qid, cid, dot, rnk FROM r WHERE rnk <= 5 ORDER BY qid, rnk""",

    "q_llm_dedup_embed_cosine" ->
      """SELECT a.vec_id AS id_a, b.vec_id AS id_b,
           round(list_sum(list_transform(range(1, 65),
             i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))), 6) AS cosine
         FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
         WHERE a.vec_id < 300 AND b.vec_id < 300
         ORDER BY cosine DESC, id_a, id_b LIMIT 20""",

    "q_mm_meta" ->
      """SELECT doc_id,
           CAST(octet_length(encode(text)) AS INT) AS byte_len,
           md5(text) AS digest,
           n_chars % 640 + 32 AS width,
           n_chars % 480 + 32 AS height,
           CASE WHEN doc_id % 3 = 0 THEN 'png'
                WHEN doc_id % 3 = 1 THEN 'jpg'
                ELSE 'webp' END AS fmt
         FROM documents ORDER BY doc_id"""
  )
}
