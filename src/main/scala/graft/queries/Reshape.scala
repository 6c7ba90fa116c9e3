package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import U._

/** Round-2 additions beyond the original SURVEY §2 inventory (§2.13):
  * reshape operators (pivot/unpivot), the SQL entry point with a
  * correlated subquery, and deterministic hash-based dataset splitting —
  * the reproducible train/val/test assignment a training-data pipeline
  * needs (sampleBy/rand are seed-stable but engine-specific; a content
  * hash is portable, stable under repartitioning, and oracle-checkable).
  *
  * Scale notes: pivot with an explicit value list is one partial+final
  * aggregate (no extra shuffle per column); unpivot is a zero-shuffle
  * generator; the hash split is embarrassingly parallel scalar arithmetic
  * feeding one aggregation.
  */
object Reshape {

  private val langs = Seq("de", "en", "es", "fr", "zh")

  /** Wide per-source doc counts by language; explicit pivot values keep
    * the schema static (no value-discovery pre-pass at scale). */
  private def pivotWide(s: org.apache.spark.sql.SparkSession, d: String) =
    Tables(s, d, "documents")
      .groupBy("source").pivot("lang", langs).agg(count(lit(1)))
      .select(col("source") +: langs.map(l => coalesce(col(l), lit(0L)).as(l)): _*)

  val queries: Map[String, Q] = Map(
    "q_pivot_wide" -> ((s, d) => pivotWide(s, d).orderBy("source")),

    // melt the wide frame back to (source, lang, cnt) — zeros included
    // (the pivot coalesces empty combos to 0, so unpivot is total).
    // Dataset.transpose (Spark 4): rows ⇄ columns over a SMALL aggregate
    // — the report-shaping step after the heavy reduction. The transpose
    // itself collects the (tiny, already-aggregated) frame's index column
    // to name the output columns, so it belongs strictly ABOVE the
    // aggregation, never on raw data.
    "q_reshape_transpose" -> ((s, d) =>
      Tables(s, d, "region")
        .join(Tables(s, d, "nation"), col("r_regionkey") === col("n_regionkey"))
        .groupBy(col("r_name"))
        .agg(count(lit(1)).cast("string").as("n_nations"),
          min(col("n_name")).as("first_nation"))
        .orderBy("r_name")
        .transpose(col("r_name"))
        .orderBy("key")),

    "q_unpivot_long" -> ((s, d) =>
      pivotWide(s, d)
        .unpivot(Array(col("source")), langs.map(col(_)).toArray, "lang", "cnt")
        .orderBy("source", "lang")),

    // SQL entry point: correlated EXISTS subquery planned by Catalyst as a
    // left-semi join (shuffle on the correlation key — no per-row probe).
    "q_sql_exists" -> ((s, d) => {
      U.sqlOver(s,
        """SELECT c_custkey, c_name
           FROM {customer} c
           WHERE EXISTS (SELECT 1 FROM {orders} o
                         WHERE o.o_custkey = c.c_custkey
                           AND o.o_totalprice > 300000)
           ORDER BY c_custkey""",
        "customer" -> Tables(s, d, "customer"), "orders" -> Tables(s, d, "orders"))
    }),

    // Skew-safe exact distinct count: the classic salted two-stage shape.
    // Stage 1 groups by (key, salt) where the salt derives from the
    // DISTINCT column (user_id % 16), so each user lands in exactly one
    // sub-bucket and per-bucket distinct counts are additive; stage 2 sums
    // them per key. A skewed key ('purchase' at 100 TB) spreads across 16
    // tasks instead of hot-spotting one reducer. Oracle = the plain
    // countDistinct, proving the decomposition exact.
    "q_agg_salted_skew" -> ((s, d) =>
      Tables(s, d, "events")
        .groupBy(col("event_type"), pmod(col("user_id"), lit(16)).as("salt"))
        .agg(countDistinct(col("user_id")).as("du"))
        .groupBy("event_type")
        .agg(sum(col("du")).as("n_users"))
        .orderBy("event_type")),

    // Corpus cleaning: stopword-strip + minimum-length filter — the
    // normalize/filter pass a training-data pipeline runs before dedup.
    // Emits a digest of the cleaned text, not the text itself.
    "q_llm_clean" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"),
          expr("""filter(split(text, ' '),
                    x -> NOT x IN ('the', 'a', 'and', 'of', 'to', 'is'))""")
            .as("kept"))
        .select(col("doc_id"), size(col("kept")).as("n_kept"),
          md5(array_join(col("kept"), " ")).as("clean_fp"))
        .where(col("n_kept") >= 20)
        .orderBy("doc_id")),

    // Deterministic train/val/test split on a content hash of the key:
    // stable across runs, partitionings and engines (md5 arithmetic is the
    // oracle's too), unlike rand(seed) which is engine-specific. 80/10/10.
    "q_sample_split" -> ((s, d) =>
      Tables(s, d, "orders")
        .withColumn("bucket",
          expr(s"${hexFold("md5(CAST(o_orderkey AS STRING))", 6)} % 100"))
        .withColumn("split",
          when(col("bucket") < 80, "train")
            .when(col("bucket") < 90, "val")
            .otherwise("test"))
        .groupBy("split")
        .agg(count(lit(1)).as("n_orders"), dsum(col("o_totalprice")).as("total_price"))
        .orderBy("split"))
  )

  private def oPivotCol(l: String) =
    s"COUNT(*) FILTER (lang = '$l') AS $l"

  val oracle: Map[String, String] = Map(
    // DuckDB PIVOT produces the same columns-from-values shape transpose
    // does (one column per region, metric names in `key`)
    "q_reshape_transpose" ->
      """WITH a AS (SELECT r_name, CAST(COUNT(*) AS VARCHAR) AS n_nations,
             MIN(n_name) AS first_nation
           FROM region JOIN nation ON r_regionkey = n_regionkey
           GROUP BY r_name),
         m AS (SELECT 'n_nations' AS key, r_name, n_nations AS v FROM a
               UNION ALL SELECT 'first_nation' AS key, r_name, first_nation AS v FROM a)
         PIVOT m ON r_name USING first(v) GROUP BY key ORDER BY key""",

    "q_pivot_wide" ->
      s"""SELECT source, ${langs.map(oPivotCol).mkString(", ")}
          FROM documents GROUP BY source ORDER BY source""",

    "q_unpivot_long" ->
      s"""WITH wide AS (SELECT source, ${langs.map(oPivotCol).mkString(", ")}
                        FROM documents GROUP BY source)
          ${langs.map(l => s"SELECT source, '$l' AS lang, $l AS cnt FROM wide")
            .mkString(" UNION ALL ")}
          ORDER BY source, lang""",

    "q_agg_salted_skew" ->
      """SELECT event_type, COUNT(DISTINCT user_id) AS n_users
         FROM events GROUP BY event_type ORDER BY event_type""",

    "q_llm_clean" ->
      """SELECT doc_id,
           CAST(len(kept) AS INT) AS n_kept,
           md5(array_to_string(kept, ' ')) AS clean_fp
         FROM (SELECT doc_id,
                 list_filter(string_split(text, ' '),
                   x -> NOT list_contains(['the', 'a', 'and', 'of', 'to', 'is'], x)) AS kept
               FROM documents)
         WHERE len(kept) >= 20 ORDER BY doc_id""",

    "q_sql_exists" ->
      """SELECT c_custkey, c_name
         FROM customer c
         WHERE EXISTS (SELECT 1 FROM orders o
                       WHERE o.o_custkey = c.c_custkey
                         AND o.o_totalprice > 300000)
         ORDER BY c_custkey""",

    "q_sample_split" ->
      s"""SELECT CASE WHEN bucket < 80 THEN 'train'
                      WHEN bucket < 90 THEN 'val'
                      ELSE 'test' END AS split,
            COUNT(*) AS n_orders, ${oDsum("o_totalprice")} AS total_price
          FROM (SELECT o_totalprice,
                  ${oHexFold("md5(o_orderkey::VARCHAR)", 6)} % 100 AS bucket
                FROM orders)
          GROUP BY split ORDER BY split"""
  )
}
