package graft

import org.apache.spark.sql.functions._
import org.scalatest.funsuite.AnyFunSuite

/** Cluster-reality guard: task failures + retries. A 1000-executor run
  * WILL lose tasks; results must survive re-execution. `local[4, 2]`
  * enables per-task retries in local mode; a fault injector fails every
  * partition's FIRST attempt, so the job can only succeed through retry
  * — and the retried output must equal the failure-free run exactly
  * (which is why the repo bans side-effecting state in query paths: a
  * retried task must be a pure replay).
  *
  * This suite must OWN the SparkContext (retry config is context-level,
  * and getOrCreate ignores a new master while a context is alive), so it
  * stops whatever is active and stops its own on exit; suites run
  * sequentially in the forked test JVM and TestSession.spark rebuilds on
  * next use. */
class ResilienceSpec extends AnyFunSuite {

  test("every partition's first task attempt fails; retries reproduce the exact result") {
    val sf = TestSession.sf
    // ground truth from the shared session — computed BEFORE the takeover
    val shared = TestSession.spark
    val want = shared.read.parquet(s"$sf/lineitem.parquet")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).as("cnt"),
        sum(col("l_quantity").cast(queries.U.D)).cast("double").as("qty"))
      .orderBy("l_returnflag").collect().toSeq.map(_.toString)
    shared.stop()

    val spark = GraftSession.builder(4)
      .master("local[4, 2]") // second field: task attempts allowed
      .appName("graft-resilience")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val base = spark.read.parquet(s"$sf/lineitem.parquet")
        .select("l_returnflag", "l_quantity")
      val flaky = base.rdd.mapPartitionsWithIndex { (pid, it) =>
        val ctx = org.apache.spark.TaskContext.get()
        if (ctx.attemptNumber() == 0)
          throw new RuntimeException(s"injected failure: partition $pid attempt 0")
        it
      }
      val got = spark.createDataFrame(flaky, base.schema)
        .groupBy("l_returnflag")
        .agg(count(lit(1)).as("cnt"),
          sum(col("l_quantity").cast(queries.U.D)).cast("double").as("qty"))
        .orderBy("l_returnflag").collect().toSeq.map(_.toString)
      assert(got === want, "retried run diverged from the failure-free result")
    } finally spark.stop()
  }

  test("DSv2 sink under mid-write task failures: retries publish exactly once") {
    val sf = TestSession.sf
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_rt/resilience_sink"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
    val spark = GraftSession.builder(4)
      .master("local[4, 2]") // second field: task attempts allowed
      .appName("graft-resilience-sink")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try {
      val base = spark.read.parquet(s"$sf/orders.parquet")
        .select("o_orderkey", "o_orderstatus")
      val wantRows = base.count()
      val wantKeySum = base.agg(sum("o_orderkey")).head.getLong(0)
      // every partition's FIRST attempt dies 10 rows into the stream —
      // AFTER its DataWriter has buffered output — so the job can only
      // succeed if the writer's abort() + the attempt-unique temp naming
      // keep the failed attempt invisible and the retry publishes clean
      val flaky = base.rdd.mapPartitionsWithIndex { (pid, it) =>
        val ctx = org.apache.spark.TaskContext.get()
        if (ctx.attemptNumber() == 0)
          new Iterator[org.apache.spark.sql.Row] {
            private var n = 0
            override def hasNext: Boolean = it.hasNext
            override def next(): org.apache.spark.sql.Row = {
              n += 1
              if (n > 10) throw new RuntimeException(
                s"injected mid-write failure: partition $pid attempt 0")
              it.next()
            }
          }
        else it
      }
      spark.createDataFrame(flaky, base.schema)
        .write.format("graft.sources.GraftCommitSink")
        .option("path", dir).mode("append").save()
      // exactly-once: row count AND content sum match the input — a
      // leaked first-attempt temp would inflate both
      val back = spark.read.text(s"$dir/part-*.tsv")
        .select(split(col("value"), "\t").getItem(0).cast("long").as("k"))
      assert(back.count() === wantRows, "published row count diverged")
      assert(back.agg(sum("k")).head.getLong(0) === wantKeySum,
        "published content diverged")
      assert(!new java.io.File(dir, "_temp").exists(), "temps not swept")
      val manifest = new String(java.nio.file.Files.readAllBytes(
        java.nio.file.Paths.get(dir, "_GRAFT_COMMIT")), "UTF-8")
        .split("\n").filter(_.nonEmpty).filterNot(_.startsWith("#"))
      val parts = new java.io.File(dir).listFiles()
        .map(_.getName).filter(_.startsWith("part-"))
      assert(manifest.length === parts.length,
        "manifest out of sync with published parts")
      assert(manifest.map(_.split("\t")(1).toLong).sum === wantRows,
        "manifest row counts diverged")
    } finally spark.stop()
  }
}
