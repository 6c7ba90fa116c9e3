package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Training-data curation operators, round-2 batch 2 (SURVEY §2.14):
  * repetition-quality filtering, benchmark decontamination, sequence
  * chunking and packing, corpus-statistics vocabulary pruning, PII
  * scrubbing, and an ORC source/sink roundtrip.
  *
  * Scale notes: every shape here is linear in the corpus. The n-gram
  * joins (decontamination) broadcast the benchmark side — benchmark
  * suites are KB–MB even when the corpus is 100 TB. Packing runs
  * per-source-shard windows (the way a real pipeline packs per input
  * shard), never a global single-partition sort. All floats are avoided
  * entirely: metrics are integer micro-units, so the DuckDB hash compare
  * is exact (SURVEY §7.4).
  */
object Pipeline {

  // tokenizer + 5-gram machinery shared with the Bloom decontamination
  // path — single definition in U (U.textTokens / U.gramsN(5) / U.oGramsN(5))
  private def tk = textTokens

  private val chunkSize = 32
  private val chunkStride = 24
  private val packCapacity = 2048

  val queries: Map[String, Q] = Map(

    // Gopher-style repetition filters: duplicate-token fraction and the
    // share of bigram mass taken by the single most frequent bigram —
    // high values mean boilerplate/looping text. Integer micro-units;
    // max(count) (not argmax) keeps ties irrelevant. Linear: one explode
    // + two partial-aggregated groupBys, no pairwise anything.
    "q_llm_repetition" -> ((s, d) => {
      val docs = Tables(s, d, "documents").withColumn("tk", tk)
      val top = docs.select(col("doc_id"), explode(gramsN(2)).as("bg"))
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("c"))
        .groupBy("doc_id").agg(max(col("c")).as("m"), sum(col("c")).as("nbg"))
      docs.select(col("doc_id"), size(col("tk")).as("n"),
          size(array_distinct(col("tk"))).as("nd"))
        .join(top, "doc_id")
        .select(col("doc_id"),
          expr("(1000000L * (n - nd)) div n").as("dup_tok_e6"),
          expr("(1000000L * m) div nbg").as("top_bigram_e6"))
        .withColumn("keep",
          col("dup_tok_e6") < 990000 && col("top_bigram_e6") < 180000)
        .orderBy("doc_id")
    }),

    // Benchmark decontamination: flag corpus documents sharing any 5-gram
    // with the held-out benchmark set (doc_id % 97 == 0 stands in for an
    // eval suite). The benchmark's distinct grams are broadcast — the
    // eval side stays small no matter how large the corpus — and each
    // corpus doc reports how many of its distinct grams are contaminated.
    "q_llm_decontaminate" -> ((s, d) => {
      val docs = Tables(s, d, "documents").withColumn("tk", tk)
      val bench = docs.where(col("doc_id") % 97 === 0)
        .select(explode(array_distinct(gramsN(5))).as("g")).distinct()
      val corp = docs.where(col("doc_id") % 97 =!= 0)
      val shared = corp.select(col("doc_id"), explode(array_distinct(gramsN(5))).as("g"))
        .join(broadcast(bench), "g")
        .groupBy("doc_id").agg(count(lit(1)).as("ns"))
      corp.select("doc_id").join(shared, Seq("doc_id"), "left")
        .select(col("doc_id"), coalesce(col("ns"), lit(0L)).as("n_shared"))
        .withColumn("contaminated", col("n_shared") > 0)
        .orderBy("doc_id")
    }),

    // Fixed-window chunking with overlap (size 32, stride 24): the
    // pre-tokenization shape for long-document training. One output row
    // per chunk via posexplode over a computed start sequence — slice
    // truncates at the tail, so the last chunk is short, never padded.
    "q_llm_chunk" -> ((s, d) =>
      Tables(s, d, "documents").withColumn("tk", tk)
        .select(col("doc_id"), col("tk"),
          posexplode(expr(s"sequence(0, (size(tk) - 1) div $chunkStride)")))
        .withColumn("start_tok", col("pos") * chunkStride + 1)
        .withColumn("chunk", expr(s"slice(tk, start_tok, $chunkSize)"))
        .select(col("doc_id"), col("pos").as("chunk_id"), col("start_tok"),
          size(col("chunk")).as("n_tok"),
          md5(concat_ws(" ", col("chunk"))).as("digest"))
        .orderBy("doc_id", "chunk_id")),

    // Content-defined chunking: boundaries fall where a token's hash
    // lands in 1/8 of the hash space (expected chunk ≈ 8 tokens), so an
    // insertion perturbs only the chunk containing it — every downstream
    // chunk digest is unchanged, which is what makes chunk-level dedup
    // robust to edits (fixed windows shift EVERY later chunk; the spec
    // proves the difference on a prepended document). Pure HOF + one
    // generator; linear.
    "q_llm_chunk_cdc" -> ((s, d) => cdcChunks(Tables(s, d, "documents"))),

    // GPT-style sequence packing: concatenate documents in id order and
    // chop into 2048-token training sequences. Packing runs PER SOURCE
    // SHARD (partitioned window), the way a distributed pipeline packs
    // each input shard independently — no global single-partition sort.
    // start_off is the exclusive running token offset within the shard;
    // first/last_seq are the training sequences this doc lands in.
    "q_llm_pack" -> ((s, d) => {
      val w = Window.partitionBy("source").orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables(s, d, "documents")
        .select(col("doc_id"), col("source"), size(tk).as("n_tokens"))
        .withColumn("start_off",
          coalesce(sum(col("n_tokens")).over(w), lit(0L)))
        .withColumn("first_seq", expr(s"start_off div $packCapacity"))
        .withColumn("last_seq",
          expr(s"(start_off + n_tokens - 1) div $packCapacity"))
        .orderBy("doc_id")
    }),

    // Context-length fit audit (round 9) — q_llm_pack's DESIGN-TIME
    // companion: before packing, an SFT/eval pipeline picks a context
    // length by pricing the one-doc-per-sequence shape (truncate at L,
    // pad to L) at the candidate lengths. Per L ∈ {256, 512, 1024,
    // 2048}: tokens kept, tokens truncated away, padding burned, and
    // utilization = kept / (docs·L) — the number that says "1024 wastes
    // 61% of FLOPs on this corpus, pack instead" (pretraining packs —
    // q_llm_pack; SFT with per-example loss masks pads, hence this
    // report). ONE documents pass with a 4-way map-side explode of the
    // bounded L domain, a 4-group aggregate, exact BIGINT token sums,
    // one rounded division. Scales as a single corpus scan at any N.
    "q_llm_context_fit" -> ((s, d) => {
      val kept = least(col("n"), col("ctx_len"))
      Tables(s, d, "documents")
        .select(size(tk).cast("long").as("n"))
        .select(col("n"), explode(array(
          lit(256L), lit(512L), lit(1024L), lit(2048L))).as("ctx_len"))
        .groupBy("ctx_len").agg(
          count(lit(1)).as("n_docs"),
          sum(kept).as("kept_tokens"),
          sum(greatest(col("n") - col("ctx_len"), lit(0L)))
            .as("truncated_tokens"),
          sum(col("ctx_len") - kept).as("padding_tokens"))
        .select(col("ctx_len"), col("n_docs"), col("kept_tokens"),
          col("truncated_tokens"), col("padding_tokens"),
          round(col("kept_tokens").cast("double")
            / (col("n_docs") * col("ctx_len")), 6).as("utilization"))
        .orderBy("ctx_len")
    }),

    // Corpus-statistics vocabulary pruning: the top-5 terms by global
    // frequency are corpus-derived stopwords; strip them from every
    // document, preserving original token order (positions ride through
    // the aggregation, array_sort restores order). The top-5 is a
    // TakeOrderedAndProject (per-partition 5-row heaps merged once) —
    // never a global window over the vocabulary, which at web scale is
    // 10⁸⁺ terms on one task — and only the 5-row stopword dim
    // broadcasts back onto the token stream (left join; a miss means
    // "keep the token").
    "q_llm_vocab_prune" -> ((s, d) => {
      val tok = Tables(s, d, "documents")
        .select(col("doc_id"), posexplode(tk).as(Seq("pos", "term")))
      val stop = tok.groupBy("term").agg(count(lit(1)).as("c"))
        .orderBy(col("c").desc, col("term")).limit(5)
        .select(col("term"), lit(true).as("stop_hit"))
      tok.join(broadcast(stop), Seq("term"), "left")
        .withColumn("is_stop", coalesce(col("stop_hit"), lit(false)))
        .groupBy("doc_id")
        .agg(
          count(when(!col("is_stop"), 1)).as("n_kept"),
          count(when(col("is_stop"), 1)).as("n_dropped"),
          md5(concat_ws(" ",
            expr("""transform(array_sort(collect_list(
                      CASE WHEN NOT is_stop THEN struct(pos, term) END)),
                    s -> s.term)"""))).as("kept_digest"))
        .orderBy("doc_id")
    }),

    // PII scrubbing: regex redaction of email/phone patterns with
    // redaction counts. The corpus is synthetic words only, so each doc
    // gets one deterministic email + phone appended first — the operator
    // under test is the scrub itself (patterns kept to the Java∩RE2
    // common subset so both engines see identical semantics).
    "q_llm_pii_scrub" -> ((s, d) =>
      Tables(s, d, "documents")
        .withColumn("ftext", concat(col("text"), lit(" contact u"), col("doc_id"),
          lit("@ex.org call 555-"), lpad(col("doc_id").cast("string"), 4, "0")))
        .select(col("doc_id"),
          regexp_count(col("ftext"), lit("[a-z0-9]+@[a-z]+\\.[a-z]+"))
            .cast("int").as("n_emails"),
          regexp_count(col("ftext"), lit("555-[0-9]{4}")).cast("int").as("n_phones"),
          md5(regexp_replace(
            regexp_replace(col("ftext"), "[a-z0-9]+@[a-z]+\\.[a-z]+", "<EMAIL>"),
            "555-[0-9]{4}", "<PHONE>")).as("scrubbed_digest"))
        .orderBy("doc_id")),

    // ORC roundtrip: Spark's built-in columnar alternative to parquet —
    // write the supplier dim to ORC, read it back with the original
    // schema. The output IS the source table, so the oracle reads the
    // table directly; any ORC type mangling breaks the hash compare.
    "q_source_orc_roundtrip" -> ((s, d) => {
      val sup = Tables(s, d, "supplier")
      val out = tmpDir("orc", d)
      sup.write.mode("overwrite").orc(out)
      s.read.schema(sup.schema).orc(out).orderBy("s_suppkey")
    }),

    // Avro roundtrip: the row-oriented interchange format every
    // Kafka/ingest boundary speaks — write the customer dim to Avro,
    // read it back with the original schema (avro's long/int/double/
    // string map 1:1 onto the dim's catalyst types). The output IS the
    // source table (the ORC-roundtrip convention), so the oracle reads
    // the table directly and any Avro type mangling breaks the hash
    // compare. Addressed by the FileFormat class name: this Spark 4.1
    // distribution bundles the complete avro FileFormat (reader, writer,
    // schema converters) inside spark-sql but without the shortname
    // service registration the standalone spark-avro module carries, so
    // format("avro") throws failed-to-find while the class-name form is
    // the same code end-to-end.
    "q_source_avro_roundtrip" -> ((s, d) => {
      val cust = Tables(s, d, "customer")
      val fmt = "org.apache.spark.sql.avro.AvroFileFormat"
      val out = tmpDir("avro", d)
      cust.write.mode("overwrite").format(fmt).save(out)
      s.read.schema(cust.schema).format(fmt).load(out).orderBy("c_custkey")
    }),

    // Small-files compaction: streaming ingests and over-parallel writes
    // leave thousands of KB-scale files; compaction rewrites them at a
    // target file count. Here: fragment orders into 64 files, compact
    // with coalesce (a repartition-free narrow rewrite — each output
    // task concatenates a file subset), verify by aggregating the
    // compacted copy. The file-count collapse is asserted in the spec.
    "q_sink_compaction" -> ((s, d) => {
      val o = Tables(s, d, "orders")
      val frag = tmpDir("frag", d)
      val compact = tmpDir("compact", d)
      o.repartition(64).write.mode("overwrite").parquet(frag)
      s.read.parquet(frag).coalesce(2).write.mode("overwrite").parquet(compact)
      s.read.parquet(compact)
        .groupBy("o_orderpriority")
        .agg(count(lit(1)).as("cnt"), dsum(col("o_totalprice")).as("total"))
        .orderBy("o_orderpriority")
    }),

    // Z-order clustering: interleave the low 16 bits of partkey/suppkey
    // into one curve position so that range-partitioning by zval
    // co-locates rows that are close in BOTH keys — the layout that lets
    // parquet row-group min/max stats skip data for filters on either
    // key. The curve arithmetic is pure integer bit math (oracled); the
    // disjoint-range + bijectivity layout properties are in the spec.
    "q_sort_zorder" -> ((s, d) =>
      Tables(s, d, "lineitem").where(col("l_orderkey") < 200)
        .select(col("l_orderkey"), col("l_linenumber"),
          col("l_partkey"), col("l_suppkey"),
          expr(zInterleave("l_partkey", "l_suppkey")).as("zval"))
        .orderBy("zval", "l_orderkey", "l_linenumber")),

    // Stratified sampling: a deterministic 20% per language stratum —
    // rank docs inside each stratum by a content hash (reproducible
    // across runs, partitionings and engines, unlike rand(seed)) and
    // keep the ceil-quota prefix. One window per stratum, fully
    // shuffle-parallel across strata.
    "q_llm_sample_stratified" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"), col("lang"))
        .withColumn("rn", row_number().over(Window.partitionBy("lang")
          .orderBy(md5(col("doc_id").cast("string")), col("doc_id"))))
        .withColumn("quota",
          expr("(count(*) OVER (PARTITION BY lang) + 4) div 5"))
        .where(col("rn") <= col("quota"))
        .select("doc_id", "lang")
        .orderBy("doc_id")),

    // Dataset mixing: allocate a global token budget (20% of the corpus)
    // across sources proportionally to a per-source weight, then take
    // each source's docs in content-hash order until its budget fills.
    // The budget table is a 20-row dim (global window over it is fine at
    // any corpus size); the doc-side work is one partitioned window.
    "q_llm_mix" -> ((s, d) => {
      val docs = Tables(s, d, "documents")
        .select(col("doc_id"), col("source"),
          size(textTokens).as("n"),
          md5(col("doc_id").cast("string")).as("h"))
      // Constant-but-not-foldable key (0·length): same single partition
      // over the 20-row budget dim, but a non-empty partition spec
      // keeps WindowExec's move-all-data warning out of every
      // bench/verify stderr. This survives ONLY because these are
      // aggregate windows — a plain lit folds away and re-warns, and
      // for row_number windows the optimizer strips even this
      // (bpe_pairs went windowless for exactly that reason)
      val gw = Window.partitionBy(length(col("source")) * lit(0))
      val budget = docs.groupBy("source").agg(sum(col("n")).as("toks"))
        .withColumn("w", expr("CAST(substring(source, 4) AS INT) + 1"))
        .withColumn("grand", sum(col("toks")).over(gw))
        .withColumn("sumw", sum(col("w")).over(gw))
        .select(col("source"), expr("((grand div 5) * w) div sumw").as("budget"))
      val wcum = Window.partitionBy("source").orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      docs.join(broadcast(budget), "source")
        .withColumn("cum", sum(col("n")).over(wcum))
        .where(col("cum") <= col("budget"))
        .select(col("doc_id"), col("source"), col("n").as("n_tokens"))
        .orderBy("doc_id")
    })
  )

  /** Content-defined chunker over any (doc_id, text) frame — factored out
    * so the spec can run it on an edited copy of the corpus and assert
    * boundary stability. A position i is a boundary iff the md5-fold of
    * its token is ≡ 0 (mod 8); chunk edges are 0 ++ boundaries ++ n. */
  def cdcChunks(docs: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
    val gear = U.hexFold("md5(element_at(tk, CAST(i AS INT)))", 8)
    // array_distinct instead of a start≤end row filter (r14 optimization,
    // guide §4.4's duplicated-expression trap in expression form): edges =
    // 0 ++ sorted boundaries(⊆1..n) ++ n is strictly increasing EXCEPT when
    // the last boundary equals n, so dedup removes exactly the one
    // degenerate (start>end) segment the filter used to drop — same chunk
    // set. The filter version made Catalyst infer `isnotnull(edges)` and
    // push it below the Generate with the alias INLINED, evaluating the
    // md5-per-token boundary scan TWICE per document (see
    // plans/r14/q_llm_chunk_cdc_before.txt operators (5)+(7)); with no
    // filter on edges the expensive expression is computed once.
    U.fanOut(docs).withColumn("tk", textTokens)
      .withColumn("edges", expr(
        s"""array_distinct(concat(array(0),
              filter(sequence(1, size(tk)), i -> $gear % 8 = 0),
              array(size(tk))))"""))
      .select(col("doc_id"), col("tk"), col("edges"),
        posexplode(expr("sequence(0, size(edges) - 2)")))
      .withColumn("start_tok", expr("element_at(edges, pos + 1) + 1"))
      .withColumn("end_tok", expr("element_at(edges, pos + 2)"))
      .select(col("doc_id"), col("start_tok"), col("end_tok"),
        (col("end_tok") - col("start_tok") + 1).as("n_tok"),
        md5(concat_ws(" ",
          expr("slice(tk, start_tok, end_tok - start_tok + 1)"))).as("digest"))
      .orderBy("doc_id", "start_tok")
  }

  /** Bit-interleave of the low 16 bits of two BIGINT columns (Spark SQL;
    * identical operator set exists in DuckDB — see oracle). */
  def zInterleave(a: String, b: String): String =
    (0 until 16).map(x =>
      s"(shiftleft(shiftright($a, $x) & 1, ${2 * x}) + " +
        s"shiftleft(shiftright($b, $x) & 1, ${2 * x + 1}))")
      .mkString(" + ")

  val oracle: Map[String, String] = Map(
    "q_llm_context_fit" ->
      """WITH n AS (SELECT CAST(len(string_split(text, ' ')) AS BIGINT) AS n
               FROM documents),
         x AS (SELECT n, CAST(unnest([256, 512, 1024, 2048]) AS BIGINT)
                 AS ctx_len FROM n)
         SELECT ctx_len, COUNT(*) AS n_docs,
           CAST(SUM(least(n, ctx_len)) AS BIGINT) AS kept_tokens,
           CAST(SUM(greatest(n - ctx_len, 0)) AS BIGINT) AS truncated_tokens,
           CAST(SUM(ctx_len - least(n, ctx_len)) AS BIGINT) AS padding_tokens,
           round(CAST(SUM(least(n, ctx_len)) AS DOUBLE)
             / (COUNT(*) * ctx_len), 6) AS utilization
         FROM x GROUP BY ctx_len ORDER BY ctx_len""",

    "q_llm_repetition" ->
      """WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         bg AS (SELECT doc_id, unnest(list_transform(range(1, len(tk)),
                  i -> tk[i] || ' ' || tk[i+1])) AS bg FROM d),
         bc AS (SELECT doc_id, bg, COUNT(*) AS c FROM bg GROUP BY doc_id, bg),
         top AS (SELECT doc_id, MAX(c) AS m, CAST(SUM(c) AS BIGINT) AS nbg
                 FROM bc GROUP BY doc_id),
         base AS (SELECT doc_id, len(tk) AS n, len(list_distinct(tk)) AS nd FROM d)
         SELECT b.doc_id,
           (1000000 * (b.n - b.nd)) // b.n AS dup_tok_e6,
           (1000000 * t.m) // t.nbg AS top_bigram_e6,
           (1000000 * (b.n - b.nd)) // b.n < 990000
             AND (1000000 * t.m) // t.nbg < 180000 AS keep
         FROM base b JOIN top t USING (doc_id) ORDER BY b.doc_id""",

    "q_llm_decontaminate" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         bench AS (SELECT DISTINCT unnest(list_distinct(${oGramsN(5)})) AS g
                   FROM d WHERE doc_id % 97 = 0),
         cg AS (SELECT doc_id, unnest(list_distinct(${oGramsN(5)})) AS g
                FROM d WHERE doc_id % 97 <> 0),
         shared AS (SELECT doc_id, COUNT(*) AS ns
                    FROM cg JOIN bench USING (g) GROUP BY doc_id)
         SELECT d.doc_id, COALESCE(s.ns, 0) AS n_shared,
                COALESCE(s.ns, 0) > 0 AS contaminated
         FROM d LEFT JOIN shared s USING (doc_id)
         WHERE d.doc_id % 97 <> 0 ORDER BY d.doc_id""",

    "q_llm_chunk" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         c AS (SELECT doc_id, tk,
                 unnest(range(0, (len(tk) - 1) // $chunkStride + 1)) AS chunk_id
               FROM d)
         SELECT doc_id, CAST(chunk_id AS INT) AS chunk_id,
           CAST(chunk_id * $chunkStride + 1 AS INT) AS start_tok,
           CAST(len(list_slice(tk, chunk_id * $chunkStride + 1,
             chunk_id * $chunkStride + $chunkSize)) AS INT) AS n_tok,
           md5(array_to_string(list_slice(tk, chunk_id * $chunkStride + 1,
             chunk_id * $chunkStride + $chunkSize), ' ')) AS digest
         FROM c ORDER BY doc_id, chunk_id""",

    "q_llm_pack" ->
      s"""SELECT doc_id, source, CAST(len(string_split(text, ' ')) AS INT) AS n_tokens,
           CAST(COALESCE(SUM(len(string_split(text, ' '))) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             AS start_off,
           CAST(COALESCE(SUM(len(string_split(text, ' '))) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             // $packCapacity AS first_seq,
           (CAST(COALESCE(SUM(len(string_split(text, ' '))) OVER (
             PARTITION BY source ORDER BY doc_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT)
             + len(string_split(text, ' ')) - 1) // $packCapacity AS last_seq
         FROM documents ORDER BY doc_id""",

    "q_llm_vocab_prune" ->
      """WITH tok AS (SELECT doc_id,
                 unnest(range(1, len(string_split(text, ' ')) + 1)) AS pos,
                 unnest(string_split(text, ' ')) AS term
               FROM documents),
         vocab AS (SELECT term,
                 ROW_NUMBER() OVER (ORDER BY COUNT(*) DESC, term) <= 5 AS is_stop
               FROM tok GROUP BY term)
         SELECT doc_id,
           COUNT(*) FILTER (WHERE NOT is_stop) AS n_kept,
           COUNT(*) FILTER (WHERE is_stop) AS n_dropped,
           md5(COALESCE(string_agg(term, ' ' ORDER BY pos)
             FILTER (WHERE NOT is_stop), '')) AS kept_digest
         FROM tok JOIN vocab USING (term)
         GROUP BY doc_id ORDER BY doc_id""",

    "q_llm_pii_scrub" ->
      """WITH f AS (SELECT doc_id,
             text || ' contact u' || doc_id || '@ex.org call 555-'
                  || lpad(CAST(doc_id AS VARCHAR), 4, '0') AS ftext
           FROM documents)
         SELECT doc_id,
           CAST(len(regexp_extract_all(ftext, '[a-z0-9]+@[a-z]+\.[a-z]+')) AS INT)
             AS n_emails,
           CAST(len(regexp_extract_all(ftext, '555-[0-9]{4}')) AS INT) AS n_phones,
           md5(regexp_replace(
             regexp_replace(ftext, '[a-z0-9]+@[a-z]+\.[a-z]+', '<EMAIL>', 'g'),
             '555-[0-9]{4}', '<PHONE>', 'g')) AS scrubbed_digest
         FROM f ORDER BY doc_id""",

    "q_source_orc_roundtrip" ->
      "SELECT * FROM supplier ORDER BY s_suppkey",

    "q_source_avro_roundtrip" ->
      "SELECT * FROM customer ORDER BY c_custkey",

    "q_sink_compaction" ->
      s"""SELECT o_orderpriority, COUNT(*) AS cnt,
            ${oDsum("o_totalprice")} AS total
          FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority""",

    "q_sort_zorder" ->
      s"""SELECT l_orderkey, l_linenumber, l_partkey, l_suppkey,
            ${(0 until 16).map(x =>
              s"((((l_partkey >> $x) & 1) << ${2 * x}) + (((l_suppkey >> $x) & 1) << ${2 * x + 1}))")
              .mkString(" + ")} AS zval
          FROM lineitem WHERE l_orderkey < 200
          ORDER BY zval, l_orderkey, l_linenumber""",

    "q_llm_chunk_cdc" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         e AS (SELECT doc_id, tk,
             list_concat(list_concat([CAST(0 AS BIGINT)],
               list_filter(range(1, len(tk) + 1),
                 i -> ${U.oHexFold("md5(tk[i])", 8)} % 8 = 0)),
               [len(tk)]) AS edges
           FROM d),
         c AS (SELECT doc_id, tk, edges,
             unnest(range(1, len(edges))) AS k FROM e)
         SELECT doc_id,
           CAST(edges[k] + 1 AS INT) AS start_tok,
           CAST(edges[k + 1] AS INT) AS end_tok,
           CAST(edges[k + 1] - edges[k] AS INT) AS n_tok,
           md5(array_to_string(list_slice(tk, edges[k] + 1, edges[k + 1]), ' '))
             AS digest
         FROM c WHERE edges[k] + 1 <= edges[k + 1]
         ORDER BY doc_id, start_tok""",

    "q_llm_sample_stratified" ->
      """WITH t AS (SELECT doc_id, lang,
             ROW_NUMBER() OVER (PARTITION BY lang
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rn,
             (COUNT(*) OVER (PARTITION BY lang) + 4) // 5 AS quota
           FROM documents)
         SELECT doc_id, lang FROM t WHERE rn <= quota ORDER BY doc_id""",

    "q_llm_mix" ->
      """WITH docs AS (SELECT doc_id, source,
             CAST(len(string_split(text, ' ')) AS INT) AS n,
             md5(CAST(doc_id AS VARCHAR)) AS h FROM documents),
         dim AS (SELECT source, CAST(SUM(n) AS BIGINT) AS toks,
             CAST(substring(source, 4) AS INT) + 1 AS w
           FROM docs GROUP BY source),
         b AS (SELECT source,
             CAST(((CAST(SUM(toks) OVER () AS BIGINT) // 5) * w)
               // CAST(SUM(w) OVER () AS BIGINT) AS BIGINT) AS budget
           FROM dim),
         c AS (SELECT d.doc_id, d.source, d.n,
             SUM(d.n) OVER (PARTITION BY d.source ORDER BY d.h, d.doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum,
             b.budget
           FROM docs d JOIN b USING (source))
         SELECT doc_id, source, n AS n_tokens FROM c
         WHERE cum <= budget ORDER BY doc_id"""
  )
}
