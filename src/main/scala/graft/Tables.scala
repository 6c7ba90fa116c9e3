package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{expr, timestamp_micros}
import org.apache.spark.storage.StorageLevel

/** Cached base-table loads, one per (session, sfDir, table).
  *
  * Every SURVEY §2 query reads through here so that `Bench`'s 55+
  * sequential query executions scan each parquet file once, not once per
  * query (SURVEY §7.4.6). At 100 TB the same pattern holds: the cache is a
  * per-application `persist`, and Catalyst still prunes columns/predicates
  * beneath it because persist keeps the analyzed plan, with the in-memory
  * columnar batches serving as the scan source.
  *
  * Every table is always persisted `MEMORY_AND_DISK`, so plans depend only
  * on (session, sfDir): a table larger than the cache spills to local disk
  * instead of re-reading parquet per query.
  */
object Tables {
  val names: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  def apply(spark: SparkSession, sfDir: String, name: String): DataFrame =
    // keyed by the session OBJECT: a cached DataFrame is bound to the
    // SparkSession that analyzed it, so a second session in the same
    // application must get its own entry, not a foreign session's plan.
    Memo(spark, s"table:$sfDir/$name") {
      // Timestamp normalization, once and centrally, so every query sees a
      // µs TimestampType regardless of how the driver generated the file:
      //  * parquet TIMESTAMP(NANOS) — Spark 4.1 rejects it outright
      //    ([PARQUET_TYPE_ILLEGAL]); the nanosAsLong legacy conf reads it
      //    as a long we divide down to µs (the same truncation DuckDB
      //    applies, SURVEY §7.4.5). No per-read option exists, so the
      //    session conf is the only switch; inert for non-NANOS columns.
      //  * parquet TIMESTAMP(MICROS, isAdjustedToUTC=false) — Spark 4.1
      //    infers TIMESTAMP_NTZ. The sessions here all pin
      //    spark.sql.session.timeZone=UTC, so casting NTZ→TimestampType
      //    keeps the wall-clock value bit-for-bit and restores the type
      //    the long/µs arithmetic (unix_micros, epochS) expects — and
      //    matches DuckDB's naive read of the same file.
      spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
      val raw = spark.read.parquet(s"$sfDir/$name.parquet")
      val df0 =
        if (name == "events" &&
            raw.schema("ts").dataType == org.apache.spark.sql.types.LongType)
          raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
        else raw
      val df = df0.schema.fields
        .filter(_.dataType == org.apache.spark.sql.types.TimestampNTZType)
        .foldLeft(df0)((acc, f) =>
          acc.withColumn(f.name, acc(f.name).cast("timestamp")))
      // r14 optimization note: a cache-level scan-parallelism floor
      // (repartition every base table to defaultParallelism before persist)
      // was measured and REJECTED — it parallelized the dozen scan-bound
      // operators (q_llm_chunk_cdc 1.57→0.12 s) but taxed every stage of
      // all 345 queries with 32-task dispatch (~30–150 ms/stage in
      // local[32]): suite 120→167 s, regressions smeared +0.2–1.8 s across
      // ~300 cheap queries (OPTIMIZATION_r14.md "cache-level floor A/B").
      // The adopted form is U.fanOut — the same scale-gated branch applied
      // per-operator exactly where the scan stage is CPU-bound.
      df.persist(StorageLevel.MEMORY_AND_DISK)
    }
}
