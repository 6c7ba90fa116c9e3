package graft.queries

import graft.Tables
import org.apache.spark.sql.functions._
import U._

/** SURVEY §2.8 scalar functions: string/date/math/array/map/json.
  *
  * Everything here is `org.apache.spark.sql.functions` — codegen'd, no
  * UDFs, so the whole projection stays inside one WholeStageCodegen span.
  * Dialect traps handled per §7.4: DuckDB length/year/... return BIGINT
  * (oracle casts to INT to match Spark), dayofweek differs by one
  * (Spark Sunday=1, DuckDB Sunday=0), round() on money is avoided
  * (HALF_UP-vs-scaled-double drift) and only applied after transcendentals
  * where a 1-ulp boundary hit is measure-zero.
  */
object Scalars {

  val queries: Map[String, Q] = Map(
    "q_fn_string" -> ((s, d) =>
      Tables(s, d, "part").select(
        col("p_partkey"),
        upper(col("p_name")).as("uname"),
        lower(substring(col("p_name"), 1, 5)).as("pre5"),
        concat_ws("|", col("p_brand"), col("p_type")).as("bt"),
        length(trim(col("p_name"))).as("nlen"),
        regexp_extract(col("p_type"), "^(\\w+)", 1).as("tclass"),
        regexp_replace(col("p_brand"), "Brand#", "B").as("bshort"))
        .orderBy("p_partkey")),

    "q_fn_date" -> ((s, d) =>
      Tables(s, d, "orders").select(
        col("o_orderkey"),
        year(col("o_orderdate")).as("yr"),
        month(col("o_orderdate")).as("mo"),
        (dayofweek(col("o_orderdate")) - 1).as("dow"),
        date_format(date_trunc("month", col("o_orderdate")), "yyyy-MM-dd").as("mstart"),
        datediff(lit("2002-01-01").cast("date"), col("o_orderdate").cast("date")).as("days_to"),
        date_format(add_months(col("o_orderdate").cast("date"), 3), "yyyy-MM-dd").as("plus3m"),
        date_format(col("o_orderdate"), "yyyy-MM").as("ym"))
        .orderBy("o_orderkey")),

    "q_fn_math" -> ((s, d) =>
      Tables(s, d, "orders").select(
        col("o_orderkey"),
        abs(col("o_totalprice") - lit(100000.0)).as("adev"),
        round(sqrt(col("o_totalprice")), 6).as("sq"),
        round(log(col("o_totalprice")), 6).as("lg"),
        floor(col("o_totalprice")).as("fl"),
        ceil(col("o_totalprice")).as("ce"),
        pmod(col("o_orderkey"), lit(7L)).as("md"))
        .orderBy("o_orderkey")),

    "q_fn_conditional" -> ((s, d) =>
      Tables(s, d, "customer").select(
        col("c_custkey"),
        when(col("c_acctbal") < 0, "neg")
          .when(col("c_acctbal") < 5000, "low")
          .otherwise("high").as("band"),
        coalesce(nullif(col("c_mktsegment"), lit("BUILDING")), lit("B")).as("seg"),
        greatest(col("c_acctbal"), lit(0.0)).as("gz"),
        least(col("c_acctbal"), lit(1000.0)).as("lz"))
        .orderBy("c_custkey")),

    "q_fn_array" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        size(textTokens).as("ntok"),
        array_contains(textTokens, "spark").as("has_spark"),
        array_join(slice(textTokens, 1, 5), ",").as("first5"),
        size(array_distinct(textTokens)).as("ndistinct"),
        element_at(array_sort(textTokens), 1).as("first_sorted"),
        aggregate(transform(textTokens, x => length(x)), lit(0), (a, x) => a + x)
          .as("tok_chars"))
        .orderBy("doc_id")),

    "q_fn_explode" -> ((s, d) =>
      Tables(s, d, "documents")
        .where(col("doc_id") < 200)
        .select(col("doc_id"), explode(textTokens).as("token"))
        .orderBy("doc_id", "token")),

    // Map functions exercised internally; output exploded to (source, lang,
    // cnt) rows because map-typed columns are not hash-stable across
    // engines (§7.4).
    "q_fn_map" -> ((s, d) =>
      Tables(s, d, "documents")
        .groupBy("source", "lang").agg(count(lit(1)).as("cnt"))
        .groupBy("source")
        .agg(map_from_entries(array_sort(collect_list(struct(col("lang"), col("cnt")))))
          .as("m"))
        .select(col("source"), explode(col("m")).as(Seq("lang", "cnt")))
        .orderBy("source", "lang")),

    "q_fn_bitwise" -> ((s, d) =>
      Tables(s, d, "orders").select(
        col("o_orderkey"),
        expr("o_orderkey & 255").as("band"),
        expr("o_orderkey | 4096").as("bor"),
        expr("o_orderkey ^ 1337").as("bxor"),
        shiftleft(col("o_orderkey"), 3).as("shl"),
        shiftright(col("o_orderkey"), 2).as("shr"))
        .orderBy("o_orderkey")),

    // VARIANT (Spark 4's semi-structured type): parse once into the
    // binary variant encoding, then typed path access — unlike repeated
    // get_json_object calls the JSON is parsed ONCE per row and every
    // extraction is a cheap binary probe, the schema-on-read shape a
    // 100 TB semi-structured ingest runs. try_variant_get on an absent
    // path yields NULL (no stage kill); to_json round-trips canonically.
    "q_fn_variant" -> ((s, d) =>
      Tables(s, d, "events")
        .select(col("event_id"), expr("parse_json(props)").as("v"))
        .select(col("event_id"),
          expr("variant_get(v, '$.k', 'int')").as("k"),
          expr("try_variant_get(v, '$.missing', 'string')").as("absent"),
          expr("schema_of_variant(v)").as("vschema"),
          expr("to_json(v)").as("vjson"))
        .orderBy("event_id")),

    "q_fn_json" -> ((s, d) =>
      Tables(s, d, "events")
        .select(get_json_object(col("props"), "$.k").cast("int").as("k"), col("value"))
        .groupBy("k")
        .agg(count(lit(1)).as("cnt"), dsum(col("value")).as("total"))
        // explicit NULLS FIRST on both engines: a props row without $.k
        // would otherwise sort first in Spark but last in DuckDB (§7.4)
        .orderBy(asc_nulls_first("k"))),

    // Nested/complex-type surface: build structs, collect them into a
    // field-sorted array, access fields through element + dot path, fold
    // over a struct-array slice — the typed-record manipulation every
    // nested-schema pipeline (logs, protobuf-style events) leans on.
    // The struct sort order IS the field order (v desc, e desc, t desc),
    // so every access below is deterministic; the top-3 fold adds ≤ 3
    // doubles in a fixed order, reproduced term-by-term in the oracle.
    "q_fn_struct" -> ((s, d) =>
      Tables(s, d, "events")
        .select(col("user_id"), struct(col("value").as("v"),
          col("event_id").as("e"), col("event_type").as("t")).as("rec"))
        .groupBy("user_id")
        .agg(sort_array(collect_list(col("rec")), asc = false).as("recs"))
        .select(col("user_id"),
          size(col("recs")).as("n_ev"),
          col("recs")(0).getField("e").as("top_event"),
          col("recs")(0).getField("v").as("top_value"),
          col("recs")(0).getField("t").as("top_type"),
          expr("aggregate(slice(recs, 1, 3), CAST(0.0 AS DOUBLE), (a, r) -> a + r.v)")
            .as("top3_sum"))
        .orderBy("user_id")),

    // Multi-match regex family (the *_all cousins of q_fn_string's
    // single-match extract/replace): per-doc match COUNT, the first
    // three matches re-joined, and the match-stripped remainder length.
    // Patterns stay in the char-class subset Java regex and RE2 agree
    // on; everything is one codegen'd projection — no UDFs.
    "q_fn_regex_all" -> ((s, d) =>
      Tables(s, d, "documents")
        .select(col("doc_id"),
          regexp_count(col("text"), lit("ta[a-z]+")).cast("long").as("n_ta"),
          array_join(slice(regexp_extract_all(col("text"), lit("ta[a-z]+"), lit(0)),
            1, 3), ",").as("first3"),
          length(regexp_replace(col("text"), "ta[a-z]+", "")).cast("long")
            .as("stripped_len"))
        .orderBy("doc_id"))
  )

  val oracle: Map[String, String] = Map(
    // props is always {"k": <int>}; the variant schema and the canonical
    // to_json render are therefore derivable without a variant type
    "q_fn_variant" ->
      """SELECT event_id,
           CAST(props->>'$.k' AS INT) AS k,
           CAST(NULL AS VARCHAR) AS absent,
           'OBJECT<k: BIGINT>' AS vschema,
           '{"k":' || (props->>'$.k') || '}' AS vjson
         FROM events ORDER BY event_id""",

    "q_fn_string" ->
      """SELECT p_partkey, upper(p_name) AS uname,
           lower(substring(p_name, 1, 5)) AS pre5,
           concat_ws('|', p_brand, p_type) AS bt,
           CAST(length(trim(p_name)) AS INT) AS nlen,
           regexp_extract(p_type, '^(\w+)', 1) AS tclass,
           replace(p_brand, 'Brand#', 'B') AS bshort
         FROM part ORDER BY p_partkey""",

    "q_fn_date" ->
      """SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS yr,
           CAST(month(o_orderdate) AS INT) AS mo,
           CAST(dayofweek(o_orderdate) AS INT) AS dow,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS mstart,
           CAST(datediff('day', CAST(o_orderdate AS DATE), DATE '2002-01-01') AS INT) AS days_to,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d') AS plus3m,
           strftime(o_orderdate, '%Y-%m') AS ym
         FROM orders ORDER BY o_orderkey""",

    "q_fn_math" ->
      """SELECT o_orderkey,
           abs(o_totalprice - CAST(100000.0 AS DOUBLE)) AS adev,
           round(sqrt(o_totalprice), 6) AS sq,
           round(ln(o_totalprice), 6) AS lg,
           CAST(floor(o_totalprice) AS BIGINT) AS fl,
           CAST(ceil(o_totalprice) AS BIGINT) AS ce,
           o_orderkey % 7 AS md
         FROM orders ORDER BY o_orderkey""",

    "q_fn_conditional" ->
      """SELECT c_custkey,
           CASE WHEN c_acctbal < 0 THEN 'neg'
                WHEN c_acctbal < 5000 THEN 'low'
                ELSE 'high' END AS band,
           COALESCE(NULLIF(c_mktsegment, 'BUILDING'), 'B') AS seg,
           greatest(c_acctbal, CAST(0 AS DOUBLE)) AS gz,
           least(c_acctbal, CAST(1000 AS DOUBLE)) AS lz
         FROM customer ORDER BY c_custkey""",

    "q_fn_array" ->
      """SELECT doc_id,
           CAST(len(string_split(text, ' ')) AS INT) AS ntok,
           list_contains(string_split(text, ' '), 'spark') AS has_spark,
           array_to_string(list_slice(string_split(text, ' '), 1, 5), ',') AS first5,
           CAST(len(list_distinct(string_split(text, ' '))) AS INT) AS ndistinct,
           list_sort(string_split(text, ' '))[1] AS first_sorted,
           CAST(length(replace(text, ' ', '')) AS INT) AS tok_chars
         FROM documents ORDER BY doc_id""",

    "q_fn_explode" ->
      """SELECT doc_id, unnest(string_split(text, ' ')) AS token
         FROM documents WHERE doc_id < 200 ORDER BY doc_id, token""",

    "q_fn_map" ->
      """SELECT source, lang, COUNT(*) AS cnt FROM documents
         GROUP BY source, lang ORDER BY source, lang""",

    "q_fn_bitwise" ->
      """SELECT o_orderkey,
           o_orderkey & 255 AS band,
           o_orderkey | 4096 AS bor,
           xor(o_orderkey, 1337) AS bxor,
           o_orderkey << 3 AS shl,
           o_orderkey >> 2 AS shr
         FROM orders ORDER BY o_orderkey""",

    "q_fn_json" ->
      s"""SELECT CAST(json_extract_string(props, '$$.k') AS INT) AS k,
            COUNT(*) AS cnt, ${oDsum("value")} AS total
          FROM events GROUP BY k ORDER BY k NULLS FIRST""",

    // same result via ranked window SQL: rn orders by the struct's field
    // order; the top-3 sum is v1+v2+v3 in rank order (adding a trailing
    // COALESCE 0 is IEEE-exact), matching the array fold term-by-term
    "q_fn_struct" ->
      """WITH r AS (SELECT user_id, event_id, value, event_type,
             row_number() OVER (PARTITION BY user_id
               ORDER BY value DESC, event_id DESC, event_type DESC) AS rn
           FROM events)
         SELECT user_id, CAST(COUNT(*) AS INT) AS n_ev,
           MAX(CASE WHEN rn = 1 THEN event_id END) AS top_event,
           MAX(CASE WHEN rn = 1 THEN value END) AS top_value,
           MAX(CASE WHEN rn = 1 THEN event_type END) AS top_type,
           COALESCE(MAX(CASE WHEN rn = 1 THEN value END), 0)
             + COALESCE(MAX(CASE WHEN rn = 2 THEN value END), 0)
             + COALESCE(MAX(CASE WHEN rn = 3 THEN value END), 0) AS top3_sum
         FROM r GROUP BY user_id ORDER BY user_id""",

    "q_fn_regex_all" ->
      """SELECT doc_id,
           CAST(len(regexp_extract_all(text, 'ta[a-z]+')) AS BIGINT) AS n_ta,
           COALESCE(array_to_string(regexp_extract_all(text, 'ta[a-z]+')[1:3], ','),
             '') AS first3,
           CAST(length(regexp_replace(text, 'ta[a-z]+', '', 'g')) AS BIGINT)
             AS stripped_len
         FROM documents ORDER BY doc_id"""
  )
}
