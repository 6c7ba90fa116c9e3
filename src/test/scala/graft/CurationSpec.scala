package graft

import org.apache.spark.sql.functions._
import graft.queries.{Curation, Joins, Scans}

/** Property checks for the round-3 batch-4 curation operators (the DuckDB
  * hash compare is the primary gate; these assert the algebraic claims the
  * oracle can't see). */
class CurationSpec extends SparkSpec {

  test("q_llm_dedup_url: canonicalization is idempotent and partitions the corpus") {
    val out = Curation.queries("q_llm_dedup_url")(spark, sf).cache()
    val docs = Tables(spark, sf, "documents").count()
    // every doc lands in exactly one canonical group
    assert(out.agg(sum("n_variants")).first().getLong(0) === docs)
    // groups genuinely merge noisy variants (collisions by construction)
    assert(out.where(col("n_variants") > 1).count() > 0)
    // canonical keys carry no tracking noise and a lowercase host
    val canons = out.select("canon").collect().map(_.getString(0))
    assert(canons.forall(c => !c.contains("utm_") && !c.contains("#") &&
      !c.endsWith("/") && !c.contains("WWW") && !c.contains("Example")))
    // keep_id is a member of its own group: minimal id implies distinct keeps
    assert(out.select("keep_id").distinct().count() === out.count())
    out.unpersist()  // shared CacheManager: don't leak the declared plan
    ()
  }

  test("q_llm_substring_dedup: span accounting is internally consistent") {
    val out = Curation.queries("q_llm_substring_dedup")(spark, sf).cache()
    import spark.implicits._
    val bad = out.where(col("n_dup_spans") > col("n_spans") ||
      col("max_dup_run") > col("n_dup_spans") ||
      (col("trim") =!= (col("max_dup_run") >= 5))).count()
    assert(bad === 0)
    // dup spans must come in symmetric pairs at minimum: every duplicated
    // gram has >= 2 positions flagged corpus-wide
    val totalDup = out.agg(sum("n_dup_spans")).first().getLong(0)
    assert(totalDup === 0 || totalDup >= 2)
    // independent recount of duplicated positions, no window machinery
    val docs = Tables(spark, sf, "documents").withColumn("tk", split(col("text"), " "))
    val spans = docs.select(col("doc_id"), explode(queries.U.gramsN(5)).as("gram"))
    val expected = spans.groupBy("gram").count().where(col("count") > 1)
      .join(spans, "gram").count()
    assert(totalDup === expected)
    out.unpersist()  // shared CacheManager: don't leak the declared plan
    ()
  }

  test("classifier and curation composite score with the SAME logit (shared U.qualityLogit)") {
    // the composite's >0 filter is only meaningful if its logit is
    // bit-identical to the declared classifier's — both now reference
    // U.qualityLogit, and this pins the equality against future drift
    val fromClassifier = Curation.queries("q_llm_quality_classifier")(spark, sf)
      .select(col("doc_id"), col("logit"))
    val direct = Tables(spark, sf, "documents")
      .withColumn("tk", split(col("text"), " "))
      .select(col("doc_id"), queries.U.qualityLogit.as("logit2"))
    val diff = fromClassifier.join(direct, "doc_id")
      .where(col("logit") =!= col("logit2")).count()
    assert(diff === 0)
  }

  test("q_llm_quality_classifier: keep is exactly the sign of the logit; features bounded") {
    val out = Curation.queries("q_llm_quality_classifier")(spark, sf).cache()
    val bad = out.where(
      col("keep") =!= (col("logit") > 0.0) ||
        col("f_len") < 0 || col("f_len") > 1 ||
        col("f_stop") < 0 || col("f_stop") > 1 ||
        col("f_ttr") <= 0 || col("f_ttr") > 1 ||
        col("f_wlen") <= 0).count()
    assert(bad === 0)
    // the split is meaningful on this corpus (not all-keep / all-drop)
    val n = out.count()
    val kept = out.where(col("keep")).count()
    assert(kept > 0 && kept < n)
    out.unpersist()  // shared CacheManager: don't leak the declared plan
    ()
  }

  test("q_join_asof_nearest: matches brute-force nearest click per purchase") {
    val out = Curation.queries.get("q_join_asof_nearest")
      .orElse(Joins.queries.get("q_join_asof_nearest")).get(spark, sf)
    val ev = Tables(spark, sf, "events")
      .select(col("user_id"), col("event_id"), col("event_type"),
        unix_micros(col("ts")).as("us"))
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("user_id"), col("event_id").as("purchase_id"), col("us").as("pus"))
    val clicks = ev.where(col("event_type") === "click")
      .select(col("user_id"), col("event_id").as("cid"), col("us").as("cus"))
    // brute force: all purchase×click pairs per user, rank by (|dt|, ts)
    val brute = purchases.join(clicks, Seq("user_id"), "left")
      .withColumn("dist", abs(col("cus") - col("pus")))
      // tie to the earlier click = prefer cus <= pus, then smaller cid
      .withColumn("rk", row_number().over(
        org.apache.spark.sql.expressions.Window.partitionBy("purchase_id")
          .orderBy(col("dist").asc_nulls_last,
            when(col("cus") <= col("pus"), 0).otherwise(1), col("cid"))))
      .where(col("rk") === 1)
      .select(col("purchase_id"),
        coalesce(col("cid"), lit(-1L)).as("bclick"),
        coalesce(col("dist"), lit(-1L)).as("bdist"))
    val joined = out.join(brute, "purchase_id")
    assert(joined.where(col("dist_us") =!= col("bdist")).count() === 0)
    assert(joined.where(col("click_id") =!= col("bclick")).count() === 0)
  }

  test("q_source_xml_roundtrip: lossless through the XML format") {
    val out = Scans.queries("q_source_xml_roundtrip")(spark, sf)
    val src = Tables(spark, sf, "nation").orderBy("n_nationkey")
    assert(out.schema === src.schema)
    assert(out.collect().toSeq === src.collect().toSeq)
  }
}
