package graft.queries

import graft.Tables
import org.apache.spark.sql.{Encoder, Encoders}
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._
import U._

/** SURVEY §2.10 — UDF / UDAF / UDTF surface.
  *
  * The scalar UDF and typed Aggregator prove the extension surface (MR:
  * arbitrary user map/reduce code); everywhere else we prefer built-ins
  * because UDFs are codegen black boxes. The UDAF accumulates in scaled
  * longs (fixed-point) so partition merge order cannot perturb the result
  * — the same order-independence discipline as U.dsum.
  */
object Udx {

  /** Exact weighted mean via fixed-point (1e4-scaled) long sums. */
  object WeightedMean extends Aggregator[(Double, Double), (Long, Long), Double] {
    def zero: (Long, Long) = (0L, 0L)
    def reduce(b: (Long, Long), a: (Double, Double)): (Long, Long) =
      (b._1 + math.round(a._1 * a._2 * 10000.0), b._2 + math.round(a._2 * 10000.0))
    def merge(b1: (Long, Long), b2: (Long, Long)): (Long, Long) =
      (b1._1 + b2._1, b1._2 + b2._2)
    def finish(b: (Long, Long)): Double =
      BigDecimal(b._1.toDouble / b._2.toDouble)
        .setScale(4, BigDecimal.RoundingMode.HALF_UP).toDouble
    def bufferEncoder: Encoder[(Long, Long)] =
      Encoders.tuple(Encoders.scalaLong, Encoders.scalaLong)
    def outputEncoder: Encoder[Double] = Encoders.scalaDouble
  }

  val queries: Map[String, Q] = Map(
    "q_udf_scalar" -> ((s, d) => {
      val band = udf((p: Double) =>
        if (p < 100000) "LOW" else if (p < 300000) "MID" else "HIGH")
      Tables(s, d, "orders")
        .select(band(col("o_totalprice")).as("band"))
        .groupBy("band").agg(count(lit(1)).as("cnt"))
        .orderBy("band")
    }),

    "q_udaf_aggregator" -> ((s, d) => {
      val wm = udaf(WeightedMean,
        Encoders.tuple(Encoders.scalaDouble, Encoders.scalaDouble))
      Tables(s, d, "lineitem")
        .groupBy("l_returnflag")
        .agg(wm(col("l_extendedprice"), col("l_quantity")).as("wmean_price"))
        .orderBy("l_returnflag")
    }),

    // SQL-defined UDF (Spark 4 `CREATE FUNCTION ... RETURN expr`): the
    // declarative user function. Unlike the Scala closure above it is
    // INLINED into the plan by Catalyst — it optimizes, prunes and
    // codegens like a built-in instead of being a black box, which is
    // why it's the preferred UDF form at 100 TB. The oracle inlines the
    // same expression by hand.
    "q_udf_sql" -> ((s, d) => {
      s.sql(
        """CREATE OR REPLACE TEMPORARY FUNCTION graft_disc_price(p DOUBLE, disc DOUBLE)
           RETURNS DOUBLE RETURN p * (1.0 - disc)""")
      U.sqlOver(s,
        """SELECT l_returnflag,
             CAST(SUM(CAST(graft_disc_price(l_extendedprice, l_discount)
               AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
             COUNT(*) AS cnt
           FROM {lineitem}
           GROUP BY l_returnflag ORDER BY l_returnflag""",
        "lineitem" -> Tables(s, d, "lineitem"))
    }),

    // UDTF shape: one row in, many rows out — explode over an HOF-built
    // bigram array (a true Catalyst Generator is unnecessary; explode IS
    // the Generator and stays codegen-friendly).
    "q_udtf_generator" -> ((s, d) =>
      Tables(s, d, "documents")
        .withColumn("tk", textTokens)
        .select(col("lang"), explode(expr(
          """transform(slice(tk, 1, greatest(size(tk) - 1, 0)),
               (x, i) -> concat(x, ' ', tk[i + 1]))"""))
          .as("bigram"))
        .groupBy("lang", "bigram").agg(count(lit(1)).as("cnt"))
        .orderBy("lang", "bigram"))
  )

  val oracle: Map[String, String] = Map(
    "q_udf_sql" ->
      """SELECT l_returnflag,
           CAST(SUM(CAST(l_extendedprice * (1.0 - l_discount)
             AS DECIMAL(18,6))) AS DOUBLE) AS revenue,
           COUNT(*) AS cnt
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_udf_scalar" ->
      """SELECT CASE WHEN o_totalprice < 100000 THEN 'LOW'
                     WHEN o_totalprice < 300000 THEN 'MID'
                     ELSE 'HIGH' END AS band, COUNT(*) AS cnt
         FROM orders GROUP BY band ORDER BY band""",

    "q_udaf_aggregator" ->
      """SELECT l_returnflag,
           round(CAST(SUM(CAST(l_extendedprice * l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 / CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE), 4) AS wmean_price
         FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""",

    "q_udtf_generator" ->
      """SELECT lang, bigram, COUNT(*) AS cnt
         FROM (SELECT lang,
                 unnest(list_transform(range(1, len(string_split(text, ' '))),
                   i -> string_split(text, ' ')[i] || ' ' || string_split(text, ' ')[i + 1]))
                   AS bigram
               FROM documents)
         GROUP BY lang, bigram ORDER BY lang, bigram"""
  )
}
