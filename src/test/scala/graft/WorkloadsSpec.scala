package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import graft.queries.Workloads
import graft.queries.U.{dsum, ts}

/** Second-formulation checks for the round-5 TPC-H workload shapes: each
  * declared plan (semi-join / algebrized correlated agg / broadcast
  * scalar + anti-join) is compared against the straightforward SQL a
  * reference implementation would write (EXISTS / correlated scalar
  * subqueries / NOT EXISTS), run by Spark's own subquery machinery — an
  * in-engine oracle independent of the plan shape under test. */
class WorkloadsSpec extends SparkSpec {

  private def views(): Unit =
    Seq("customer", "orders", "lineitem", "part").foreach(t =>
      Tables(spark, sf, t).createOrReplaceTempView(t))

  test("q_wl_order_priority ≡ the EXISTS formulation") {
    views()
    val declared = Workloads.queries("q_wl_order_priority")(spark, sf).collect()
    assert(declared.nonEmpty)
    val sql = spark.sql(
      """SELECT o_orderpriority, COUNT(*) AS order_count
         FROM orders o
         WHERE o_orderdate >= TIMESTAMP '1997-01-01'
           AND o_orderdate < TIMESTAMP '1997-04-01'
           AND EXISTS (SELECT 1 FROM lineitem l
                       WHERE l.l_orderkey = o.o_orderkey
                         AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAYS)
         GROUP BY o_orderpriority ORDER BY o_orderpriority""").collect()
    assert(declared.toSeq === sql.toSeq)
  }

  test("q_wl_small_qty_revenue ≡ the correlated-subquery formulation") {
    views()
    val declared = Workloads.queries("q_wl_small_qty_revenue")(spark, sf).collect()
    assert(declared.length === 1)
    // the classic Q17 text, kept on exact integers: qty < avg/5 written
    // as qty·5·cnt < sum so no float average enters the predicate
    val sql = spark.sql(
      """SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,6))) AS DOUBLE) / 7.0
             AS avg_yearly
         FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
         WHERE p.p_brand = 'Brand#4' AND p.p_size < 6
           AND CAST(l.l_quantity AS BIGINT) * 5
               * (SELECT COUNT(*) FROM lineitem l2
                  WHERE l2.l_partkey = l.l_partkey)
             < (SELECT SUM(CAST(l2.l_quantity AS BIGINT)) FROM lineitem l2
                WHERE l2.l_partkey = l.l_partkey)""").collect()
    assert(declared.toSeq === sql.toSeq)
  }

  test("q_wl_idle_customers ≡ the NOT EXISTS formulation, and is non-empty") {
    views()
    val declared = Workloads.queries("q_wl_idle_customers")(spark, sf).collect()
    assert(declared.nonEmpty, "idle-customers must be non-vacuous at sf0.001")
    assert(declared.map(_.getLong(1)).sum > 0)
    val sql = spark.sql(
      """WITH c AS (SELECT c_custkey, c_mktsegment, c_acctbal FROM customer
           WHERE c_mktsegment IN ('BUILDING', 'MACHINERY', 'AUTOMOBILE')),
         ab AS (SELECT CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE)
                  / COUNT(*) AS ab FROM c WHERE c_acctbal > 0)
         SELECT c_mktsegment, COUNT(*) AS n_cust,
           CAST(SUM(CAST(c_acctbal AS DECIMAL(18,6))) AS DOUBLE) AS total_bal
         FROM c, ab
         WHERE c_acctbal > ab
           AND NOT EXISTS (SELECT 1 FROM orders o
                           WHERE o.o_custkey = c.c_custkey
                             AND o.o_orderdate >= TIMESTAMP '2000-01-01')
         GROUP BY c_mktsegment ORDER BY c_mktsegment""").collect()
    assert(declared.toSeq === sql.toSeq)
  }

  private val revenue = col("l_extendedprice") * (lit(1) - col("l_discount"))

  /** q_wl_shipping_priority before the segment semi join: orders ×
    * lineitem first, the customer probe after, the date formatted per
    * joined row as a group key. */
  private def q3Mirror(d: String): DataFrame = {
    val cust = Tables(spark, d, "customer")
      .where(col("c_mktsegment") === "BUILDING").select("c_custkey")
    val ord = Tables(spark, d, "orders")
      .where(col("o_orderdate") < ts("1998-06-15"))
    val li = Tables(spark, d, "lineitem")
      .where(col("l_shipdate") > ts("1998-06-15"))
    li.join(ord, col("l_orderkey") === col("o_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .groupBy(col("l_orderkey"),
        date_format(col("o_orderdate"), "yyyy-MM-dd").as("odate"),
        col("o_orderpriority"))
      .agg(dsum(revenue).as("rev"))
      .orderBy(col("rev").desc, col("l_orderkey"))
      .limit(10)
  }

  /** q_wl_local_volume before the unsampled final sort: a global
    * orderBy of the per-nation report. */
  private def q5Mirror(d: String): DataFrame = {
    val nat = Tables(spark, d, "nation")
      .join(broadcast(Tables(spark, d, "region").where(col("r_name") === "ASIA")),
        col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val cust = Tables(spark, d, "customer")
      .join(broadcast(nat), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"), col("n_name"))
    val sup = Tables(spark, d, "supplier").select("s_suppkey", "s_nationkey")
    Tables(spark, d, "orders")
      .where(col("o_orderdate") >= ts("1997-01-01") &&
        col("o_orderdate") < ts("1998-01-01"))
      .join(Tables(spark, d, "lineitem"), col("o_orderkey") === col("l_orderkey"))
      .join(broadcast(cust), col("o_custkey") === col("c_custkey"))
      .join(broadcast(sup), col("l_suppkey") === col("s_suppkey") &&
        col("c_nationkey") === col("s_nationkey"))
      .groupBy(col("n_name"))
      .agg(dsum(revenue).as("rev"))
      .orderBy(col("rev").desc, col("n_name"))
  }

  /** A temp directory of the six Q3/Q5 tables. The main fixture holds an
    * order with lineitems before, at and after the ship pivot, a NULL
    * o_custkey, a NULL l_shipdate, rev ties across the top-10 cut (broken
    * by l_orderkey) and between CHINA and INDIA (broken by n_name), and a
    * region (AFRICA) with no nations. With `empty`, no customer is in the
    * BUILDING segment and ASIA has no nations, so both queries are empty. */
  private def fixture(empty: Boolean): String = {
    import spark.implicits._
    val dir = scratchDir("wl_edge")
    def write(df: DataFrame, t: String): Unit = df.write.parquet(s"$dir/$t.parquet")
    val asia = if (empty) 2 else 0
    val building = if (empty) "AUTOMOBILE" else "BUILDING"
    write(Seq((0, "ASIA"), (1, "AFRICA"), (2, "EUROPE"))
      .toDF("r_regionkey", "r_name"), "region")
    write(Seq((0, "CHINA", asia), (1, "INDIA", asia), (2, "JAPAN", asia), (3, "FRANCE", 2))
      .toDF("n_nationkey", "n_name", "n_regionkey"), "nation")
    write(Seq((1L, 0, building), (2L, 1, building), (3L, 2, "AUTOMOBILE"),
        (4L, 3, building), (5L, 2, building))
      .toDF("c_custkey", "c_nationkey", "c_mktsegment"), "customer")
    write(Seq((10L, 0), (11L, 1), (12L, 2), (13L, 3))
      .toDF("s_suppkey", "s_nationkey"), "supplier")
    // 110..121 are Q3-only (FRANCE's supplier), with revs tied to 100-103
    val extra = (0 until 12).map(i =>
      (110L + i, Some(Seq(1L, 2L, 4L, 5L)(i % 4)), f"1997-01-${i + 1}%02d", "5-LOW"))
    write((Seq[(Long, Option[Long], String, String)](
        (100L, Some(1L), "1997-03-01", "1-URGENT"),
        (101L, Some(2L), "1997-04-01", "2-HIGH"),
        (102L, Some(1L), "1997-05-01", "3-MEDIUM"),
        (103L, Some(5L), "1997-06-01", "1-URGENT"),
        (104L, None, "1997-07-01", "2-HIGH"),         // NULL o_custkey
        (105L, Some(3L), "1997-08-01", "4-NOT SPECIFIED"),
        (106L, Some(4L), "1998-02-01", "3-MEDIUM"),
        (107L, Some(2L), "1998-06-20", "1-URGENT"),   // ordered after the pivot
        (108L, Some(2L), "1997-09-01", "2-HIGH")) ++ extra)
      .toDF("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
      .withColumn("o_orderdate", col("o_orderdate").cast("timestamp")), "orders")
    val extraLi = (0 until 12).map(i =>
      (110L + i, 13L, Seq(1900.0, 900.0, 800.0)(i % 3), 0.0, Option("1998-07-02")))
    write((Seq[(Long, Long, Double, Double, Option[String])](
        (100L, 10L, 1000.0, 0.1, Some("1998-06-10")),  // before the pivot
        (100L, 11L, 300.0, 0.0, Some("1998-06-15")),   // at it (not after)
        (100L, 10L, 2000.0, 0.05, Some("1998-07-01")), // after it
        (101L, 11L, 1500.0, 0.0, None),                // NULL l_shipdate
        (101L, 11L, 800.0, 0.0, Some("1998-08-01")),
        (102L, 10L, 1000.0, 0.1, Some("1998-09-01")),
        (103L, 12L, 900.0, 0.0, Some("1998-09-01")),
        (104L, 10L, 5000.0, 0.0, Some("1998-09-01")),
        (105L, 12L, 4000.0, 0.0, Some("1998-09-01")),
        (106L, 13L, 700.0, 0.0, Some("1998-09-01")),
        (107L, 11L, 600.0, 0.0, Some("1998-07-01")),
        (108L, 11L, 1400.0, 0.0, Some("1997-10-01"))) ++ extraLi)
      .toDF("l_orderkey", "l_suppkey", "l_extendedprice", "l_discount", "l_shipdate")
      .withColumn("l_shipdate", col("l_shipdate").cast("timestamp")), "lineitem")
    dir
  }

  test("q_wl_shipping_priority and q_wl_local_volume ≡ their pre-rewrite formulations on edge fixtures") {
    val edge = fixture(empty = false)
    val none = fixture(empty = true)
    Seq(sf, edge, none).foreach { d =>
      Seq("q_wl_shipping_priority" -> q3Mirror _, "q_wl_local_volume" -> q5Mirror _)
        .foreach { case (name, mirror) =>
          val declared = Workloads.queries(name)(spark, d)
          val expected = mirror(d)
          assert(declared.schema === expected.schema, s"$name at $d")
          assert(declared.collect().toSeq === expected.collect().toSeq, s"$name at $d")
        }
    }
    // every edge case reaches the compare: the top-10 cuts inside a rev
    // tie, CHINA and INDIA tie, and the empty fixture yields no rows
    val q3 = Workloads.queries("q_wl_shipping_priority")(spark, edge).collect()
    assert(q3.length == 10 && q3.map(_.getDouble(3)).distinct.length < 10, q3.toSeq)
    assert(!q3.exists(r => Set(104L, 105L, 107L).contains(r.getLong(0))), q3.toSeq)
    assert(q3.find(_.getLong(0) == 100L).map(_.getDouble(3)) === Some(1900.0))
    val q5 = Workloads.queries("q_wl_local_volume")(spark, edge).collect()
      .map(r => r.getString(0) -> r.getDouble(1)).toSeq
    assert(q5 === Seq("JAPAN" -> 4900.0, "CHINA" -> 3700.0, "INDIA" -> 3700.0))
    Seq("q_wl_shipping_priority", "q_wl_local_volume").foreach(name =>
      assert(Workloads.queries(name)(spark, none).collect().isEmpty, name))
  }
}
