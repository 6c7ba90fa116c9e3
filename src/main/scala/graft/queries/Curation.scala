package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Round-3 batch 4 (SURVEY §2.19): web-curation operators — URL
  * canonicalization dedup, exact-substring span dedup, and a linear
  * quality-classifier filter.
  *
  * Scale notes: all three are linear, shuffle-on-one-key shapes. URL
  * dedup is a hash-groupBy on the canonical URL (the exact-dedup shape
  * over a derived key — one shuffle, output one row per group).
  * Substring dedup is the relational form of the "dedup repeated spans"
  * pass of training-data curation: gram df is one partial-aggregated
  * shuffle on the gram, the join back is on the same key, and the
  * per-doc run/aggregate is a window inside the doc_id partition — no
  * pair lists, no suffix array, output one row per doc. Hot grams
  * (boilerplate) are the skew risk at 100 TB; the df column is the
  * salting signal, and a df cap (drop grams with df above a boilerplate
  * threshold from the JOIN, not the count) keeps the probe bounded.
  * The classifier is a pure map — fixed weights are literals, every
  * feature is same-order IEEE arithmetic (no libm), so scoring runs at
  * scan bandwidth inside whole-stage codegen and the logit is
  * bit-identical in the DuckDB mirror.
  */
object Curation {

  /** Synthetic noisy URL per doc (corpus has no URL column — cf.
    * q_llm_domain_mix, Insights.scala): deterministic case noise, www
    * prefix, trailing slash, utm query and fragment variants, with real
    * collisions by construction (source × page bucket). */
  private val noisyUrl = concat(
    when(col("doc_id") % 5 === 0, lit("https://WWW.")).otherwise(lit("https://")),
    when(col("doc_id") % 3 === 0, upper(col("source"))).otherwise(col("source")),
    lit(".Example.com/docs/page-"), col("doc_id") % 10,
    when(col("doc_id") % 2 === 0, lit("/")).otherwise(lit("")),
    when(col("doc_id") % 4 === 0, lit("?utm_source=rss&utm_campaign=x")).otherwise(lit("")),
    when(col("doc_id") % 7 === 0, lit("#frag")).otherwise(lit("")))

  /** Canonicalize: drop fragment, strip utm_* params (and a then-empty
    * query), lowercase the host, drop a leading www., trim trailing
    * slashes. Pure regex/string ops — identical in the DuckDB mirror. */
  private def canonUrl(u: org.apache.spark.sql.Column) = {
    val noFrag = regexp_replace(u, "#.*$", "")
    val noUtm = regexp_replace(regexp_replace(noFrag, "utm_[^&#]*(&|$)", ""), "[?&]+$", "")
    val host = regexp_replace(lower(regexp_extract(noUtm, "^https://([^/]+)", 1)), "^www\\.", "")
    val rest = regexp_extract(noUtm, "^https://[^/]+(.*)$", 1)
    concat(lit("https://"), host, rtrim(rest, "/"))
  }

  val queries: Map[String, Q] = Map(

    // T5/UL2-style span corruption — the pre-training objective's data
    // prep: deterministic ~25% of each doc's aligned 2-token spans are
    // replaced by a single sentinel token (span members drop, the span
    // head becomes '_MASK_'), selection keyed on md5(doc, span index) so
    // the mask pattern is reproducible across runs, partitions, and
    // engines. Pure map-side HOF work — no shuffle at all before the
    // output sort. The per-SPAN mask bits are materialized once into a
    // boolean array (`mk`, one md5 per 2-token span) and the position
    // lambdas index into it — the naive per-position formulation hashed
    // 3× per token (n_masked + filter + transform) and was md5-bound at
    // ×100. The corrupted text is emitted as a digest plus mask counts
    // so the row stays flat-hashable at any doc length.
    "q_llm_span_corruption" -> ((s, d) =>
      Tables(s, d, "documents")
        .withColumn("tk", textTokens)
        .withColumn("mk", expr(
          s"""transform(sequence(0, (size(tk) + 1) div 2 - 1),
                b -> ${hexFold("md5(concat('sc', CAST(doc_id AS STRING), '|', CAST(b AS STRING)))", 12)} % 4 = 0)"""))
        .select(col("doc_id"), size(col("tk")).as("n_tok"),
          expr("size(filter(sequence(0, size(tk) - 1), i -> mk[i div 2]))")
            .as("n_masked"),
          md5(expr(
            """array_join(transform(
                  filter(sequence(0, size(tk) - 1),
                    i -> NOT mk[i div 2] OR i % 2 = 0),
                  i -> IF(mk[i div 2], '_MASK_', tk[i])), ' ')"""))
            .as("digest"))
        .orderBy("doc_id")),

    // URL-canonicalization dedup — the first dedup pass of every web
    // crawl (same page fetched as http/https, with/without www, with
    // tracking params, trailing slash, fragment). Canonicalize, then
    // exact-dedup on the canonical key: one hash shuffle, one row per
    // canonical page (keep = smallest doc_id), linear at any scale.
    "q_llm_dedup_url" -> ((s, d) =>
      Tables(s, d, "documents")
        .withColumn("url", noisyUrl)
        .withColumn("canon", canonUrl(col("url")))
        .groupBy("canon")
        .agg(min(col("doc_id")).as("keep_id"), count(lit(1)).as("n_variants"))
        .orderBy("keep_id")),

    // Exact-substring span dedup (the "dedup repeated 50-token spans"
    // pass of LLM curation, at 5-token demo width): every 5-gram
    // position whose gram occurs >1 time anywhere in the corpus is a
    // duplicated span; per doc report span totals, duplicated-span
    // count, and the LONGEST CONSECUTIVE duplicated run — the region an
    // actual pipeline would trim. Runs come from the classic
    // islands trick (pos − row_number is constant within a run).
    "q_llm_substring_dedup" -> ((s, d) => {
      val docs = Tables(s, d, "documents").withColumn("tk", textTokens)
      val spans = docs.select(col("doc_id"), posexplode(gramsN(5)).as(Seq("pos", "gram")))
      val df = spans.groupBy("gram").agg(count(lit(1)).as("gcnt"))
      val w = Window.partitionBy("doc_id").orderBy("pos")
      val runs = spans.join(df.where(col("gcnt") > 1), "gram")
        .withColumn("grp", col("pos") - row_number().over(w))
        .groupBy("doc_id", "grp").agg(count(lit(1)).as("run"))
        .groupBy("doc_id")
        .agg(sum(col("run")).as("nd"), max(col("run")).as("mr"))
      docs.select(col("doc_id"), greatest(size(col("tk")) - 4, lit(0)).as("n_spans"))
        .join(runs, Seq("doc_id"), "left")
        .select(col("doc_id"), col("n_spans"),
          coalesce(col("nd"), lit(0L)).as("n_dup_spans"),
          coalesce(col("mr"), lit(0L)).as("max_dup_run"),
          (coalesce(col("mr"), lit(0L)) >= 5).as("trim"))
        .orderBy("doc_id")
    }),

    // Linear quality classifier (the fastText-style keep/drop filter,
    // relationally): four exact rational features — capped length,
    // stopword ratio, type-token ratio, mean word length — scored by a
    // fixed linear model. No libm (no log/exp): every op is exactly
    // rounded IEEE arithmetic evaluated in the same order in DuckDB, so
    // the logit double is bit-identical and the keep flag needs no
    // epsilon. The sigmoid is monotone, so thresholding the logit at 0
    // IS thresholding the probability at 0.5.
    "q_llm_quality_classifier" -> ((s, d) =>
      Tables(s, d, "documents")
        .withColumn("tk", textTokens)
        // the logit is the SHARED definition (U.qualityLogit) — the
        // curation-pipeline composite scores with the same Column, so the
        // two can never drift apart (CurationSpec pins the equality)
        .withColumn("logit", qualityLogit)
        .select(col("doc_id"),
          size(col("tk")).as("n_tok"),
          (least(size(col("tk")), lit(120)).cast("double") / 120.0).as("f_len"),
          (size(expr("filter(tk, t -> t IN ('the', 'a'))")).cast("double")
            / size(col("tk"))).as("f_stop"),
          (size(array_distinct(col("tk"))).cast("double") / size(col("tk"))).as("f_ttr"),
          (length(regexp_replace(col("text"), " ", "")).cast("double")
            / size(col("tk"))).as("f_wlen"),
          col("logit"))
        .withColumn("keep", col("logit") > 0.0)
        .orderBy("doc_id")),

    // session_window in BATCH mode — the same expression that drives the
    // streaming sessionization (Streams.session) runs unchanged in a batch
    // aggregate: one shuffle on user_id, gap-merge inside the partition.
    // This is Spark's batch/stream unification made concrete: one
    // operator definition, two execution modes, identical results (the
    // oracle is the same lag/islands SQL the streaming twin uses).
    "q_win_session_batch" -> ((s, d) =>
      Tables(s, d, "events")
        .groupBy(session_window(col("ts"), "15 minutes"), col("user_id"))
        .agg(count(lit(1)).as("n_events"),
          min(col("ts").cast("long")).as("start_s"),
          max(col("ts").cast("long")).as("end_s"))
        .select(col("user_id"), col("n_events"), col("start_s"), col("end_s"))
        .orderBy("user_id", "start_s")),

    // OHLC downsample (the time-series bar-chart aggregation): per
    // event_type per day — open/close via min_by/max_by on event_id (the
    // strictly-ascending time axis, so ties are impossible and the pick
    // is deterministic), high/low exact min/max. All five aggregates are
    // associative ⇒ partial aggregation applies; one shuffle, no window,
    // no sort until the output. The values pass through raw (no float
    // summation), so the doubles are bit-identical cross-engine.
    "q_ts_ohlc" -> ((s, d) =>
      Tables(s, d, "events")
        .groupBy(col("event_type"), date_format(col("ts"), "yyyy-MM-dd").as("day"))
        .agg(
          expr("min_by(value, event_id)").as("open"),
          max(col("value")).as("high"),
          min(col("value")).as("low"),
          expr("max_by(value, event_id)").as("close"),
          count(lit(1)).as("n"))
        .orderBy("event_type", "day"))
  )

  val oracle: Map[String, String] = Map(
    "q_llm_span_corruption" -> {
      def mask(i: String) =
        s"${U.oHexFold(s"md5('sc' || doc_id::VARCHAR || '|' || (($i) // 2)::VARCHAR)", 12)} % 4 = 0"
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk
             FROM documents)
         SELECT doc_id, CAST(len(tk) AS INT) AS n_tok,
           CAST(len(list_filter(range(0, len(tk)), i -> ${mask("i")}))
             AS INT) AS n_masked,
           md5(array_to_string(list_transform(
             list_filter(range(0, len(tk)),
               i -> NOT (${mask("i")}) OR i % 2 = 0),
             i -> CASE WHEN ${mask("i")} THEN '_MASK_'
                  ELSE tk[i + 1] END), ' ')) AS digest
         FROM d ORDER BY doc_id"""
    },

    "q_llm_dedup_url" ->
      """WITH d AS (SELECT doc_id,
             (CASE WHEN doc_id % 5 = 0 THEN 'https://WWW.' ELSE 'https://' END)
             || (CASE WHEN doc_id % 3 = 0 THEN upper(source) ELSE source END)
             || '.Example.com/docs/page-' || CAST(doc_id % 10 AS VARCHAR)
             || (CASE WHEN doc_id % 2 = 0 THEN '/' ELSE '' END)
             || (CASE WHEN doc_id % 4 = 0 THEN '?utm_source=rss&utm_campaign=x' ELSE '' END)
             || (CASE WHEN doc_id % 7 = 0 THEN '#frag' ELSE '' END) AS url
           FROM documents),
         c AS (SELECT doc_id,
             'https://' || regexp_replace(lower(regexp_extract(q, '^https://([^/]+)', 1)), '^www\.', '')
               || rtrim(regexp_extract(q, '^https://[^/]+(.*)$', 1), '/') AS canon
           FROM (SELECT doc_id,
                   regexp_replace(regexp_replace(regexp_replace(url, '#.*$', ''),
                     'utm_[^&#]*(&|$)', '', 'g'), '[?&]+$', '') AS q
                 FROM d))
         SELECT canon, MIN(doc_id) AS keep_id, COUNT(*) AS n_variants
         FROM c GROUP BY canon ORDER BY keep_id""",

    "q_llm_substring_dedup" ->
      s"""WITH d AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents),
         s AS (SELECT doc_id, i - 1 AS pos,
                 tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2] || ' ' || tk[i+3] || ' ' || tk[i+4] AS gram
               FROM (SELECT doc_id, unnest(range(1, greatest(len(tk) - 3, 1))) AS i, tk FROM d)),
         c AS (SELECT gram, COUNT(*) AS gcnt FROM s GROUP BY gram),
         dup AS (SELECT doc_id, pos,
                   pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS grp
                 FROM s JOIN c USING (gram) WHERE gcnt > 1),
         runs AS (SELECT doc_id, grp, COUNT(*) AS run FROM dup GROUP BY doc_id, grp),
         agg AS (SELECT doc_id, SUM(run) AS nd, MAX(run) AS mr FROM runs GROUP BY doc_id)
         SELECT d.doc_id, CAST(greatest(len(tk) - 4, 0) AS INT) AS n_spans,
           CAST(COALESCE(nd, 0) AS BIGINT) AS n_dup_spans,
           CAST(COALESCE(mr, 0) AS BIGINT) AS max_dup_run,
           COALESCE(mr, 0) >= 5 AS trim
         FROM d LEFT JOIN agg USING (doc_id) ORDER BY d.doc_id""",

    "q_llm_quality_classifier" ->
      s"""WITH b AS (SELECT doc_id, text, string_split(text, ' ') AS tk FROM documents),
         f AS (SELECT doc_id, CAST(len(tk) AS INT) AS n_tok,
             CAST(least(len(tk), 120) AS DOUBLE) / 120.0 AS f_len,
             CAST(len(list_filter(tk, t -> t IN ('the', 'a'))) AS DOUBLE) / len(tk) AS f_stop,
             CAST(len(list_distinct(tk)) AS DOUBLE) / len(tk) AS f_ttr,
             CAST(length(replace(text, ' ', '')) AS DOUBLE) / len(tk) AS f_wlen,
             $oQualityLogit AS logit
           FROM b)
         SELECT doc_id, n_tok, f_len, f_stop, f_ttr, f_wlen, logit,
           logit > 0.0 AS keep
         FROM f ORDER BY doc_id""",

    // same lag/islands sessionization the streaming twin oracles —
    // session_window's [start, last+gap) semantics on the µs timeline
    "q_win_session_batch" ->
      """WITH e AS (SELECT user_id, event_id, (epoch_ms(ts) // 1000) AS es,
                      epoch_us(ts) AS us FROM events),
         f AS (SELECT user_id, event_id, es,
                 CASE WHEN lag(us) OVER w IS NULL
                        OR us - lag(us) OVER w >= 900000000 THEN 1 ELSE 0 END AS new_sess
               FROM e WINDOW w AS (PARTITION BY user_id ORDER BY event_id)),
         g AS (SELECT user_id, es,
                 SUM(new_sess) OVER (PARTITION BY user_id ORDER BY event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess_id
               FROM f)
         SELECT user_id, COUNT(*) AS n_events,
           MIN(es) AS start_s, MAX(es) AS end_s
         FROM g GROUP BY user_id, sess_id ORDER BY user_id, start_s""",

    "q_ts_ohlc" ->
      """SELECT event_type, strftime(ts, '%Y-%m-%d') AS day,
           arg_min(value, event_id) AS open, MAX(value) AS high,
           MIN(value) AS low, arg_max(value, event_id) AS close,
           COUNT(*) AS n
         FROM events GROUP BY event_type, day ORDER BY event_type, day"""
  )
}
