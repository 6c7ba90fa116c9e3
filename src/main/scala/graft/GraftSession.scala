package graft

import org.apache.spark.sql.SparkSession

/** The one local session builder: Bench, Verify, Scale, PlanLock and
  * the test session all start here, so their confs cannot drift apart.
  * Callers add only their own app name, master override or log level. */
object GraftSession {

  /** Local cores and shuffle partitions: `SPARK_GRAFT_CPUS`, default 4. */
  val cpus: Int = sys.env.get("SPARK_GRAFT_CPUS").map(_.toInt).getOrElse(4)

  def builder(cpus: Int = GraftSession.cpus): SparkSession.Builder =
    SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      // Tables' TIMESTAMP_NTZ normalization assumes a UTC session; on a
      // non-UTC host the cast would read shifted instants.
      .config("spark.sql.session.timeZone", "UTC")
      // Janino's codegen cache holds 100 generated-source entries by
      // default (a STATIC conf). Measured round 11: a 320-query bench
      // thrashed it so badly that the WARM pass still recompiled 4,341
      // stages (the shared memoized base frames generate identical
      // scan/filter sources across queries, but the LRU evicted them
      // between uses); at 8192 the bench went 139.4 -> 92.3 s
      // (BASELINE.md "codegen cache").
      .config("spark.sql.codegen.cache.maxEntries", "8192")
      // The generated class name embeds the per-query codegen stage id
      // (GeneratedIteratorForCodegenStage<N>); under AQE the ids are
      // assigned in nondeterministic order, so byte-identical generated
      // code missed the Janino cache and RE-COMPILED. Measured r15:
      // q_ts_survival_km compiled 22/18/16 new sources on iterations
      // 2/3/4 of an identical plan, and 9–19 queries re-compiled on the
      // bench's warm pass (~15 s of a 125 s draw). Without the id: 0
      // compiles after iteration 1, and iteration 1 itself drops ~2×.
      // The id only labels stack traces; plans and results are unchanged.
      .config("spark.sql.codegen.useIdInClassName", "false")
      .config("spark.ui.enabled", "false")
}
