package graft

import org.apache.spark.sql.functions._

/** Semantic properties of the round-3 batch (SURVEY §2.15 + §2 multimodal)
  * that the DuckDB hash compare can't express directly: cross-query
  * equivalences and structural invariants.
  */
class AnalyticsSpec extends SparkSpec {

  test("bloom-prefiltered decontamination ≡ exact decontamination (contaminated set)") {
    // The Bloom sketch may admit false positives; the exact semi-join
    // confirm must kill every one, so the output equals the plain
    // broadcast-join path restricted to contaminated docs.
    val plain = SparkEntry.queries("q_llm_decontaminate")(spark, sf)
      .where(col("contaminated"))
      .select(col("doc_id"), col("n_shared").as("n_contaminated"))
      .collect().toSet
    val bloom = SparkEntry.queries("q_llm_decontaminate_bloom")(spark, sf)
      .collect().toSet
    assert(bloom == plain,
      s"bloom path diverges: only-bloom=${bloom -- plain}, only-plain=${plain -- bloom}")
  }

  test("resample gap-fill tiles the full calendar and conserves event counts") {
    val out = SparkEntry.queries("q_ts_resample_gapfill")(spark, sf)
    val perUser = out.groupBy("user_id").count().collect()
    assert(perUser.nonEmpty && perUser.forall(_.getLong(1) == 30),
      "every user must get exactly the 30-day calendar")
    val totalEv = out.agg(sum("n_ev")).head.getLong(0)
    val rawEv = Tables(spark, sf, "events").count()
    assert(totalEv == rawEv, s"gap-fill lost events: $totalEv != $rawEv")
  }

  test("SCD2 intervals are contiguous per user with exactly one open interval") {
    val rows = SparkEntry.queries("q_ts_scd2")(spark, sf)
      .orderBy("user_id", "version").collect()
    val byUser = rows.groupBy(_.getLong(0))
    byUser.foreach { case (u, rs) =>
      assert(rs.count(_.getBoolean(5)) == 1, s"user $u: open intervals != 1")
      rs.sliding(2).filter(_.length == 2).foreach { case Array(a, b) =>
        assert(a.get(4) == b.get(3),
          s"user $u: interval gap between v${a.getInt(1)} and v${b.getInt(1)}")
        assert(a.getString(2) != b.getString(2),
          s"user $u: adjacent intervals share event_type (not a change point)")
      }
    }
  }

  test("median is a real group member at rank ceil(n/2); mode is the smallest argmax") {
    val med = SparkEntry.queries("q_agg_median_mode")(spark, sf).collect()
    val cust = Tables(spark, sf, "customer")
      .select("c_mktsegment", "c_acctbal", "c_nationkey").collect()
      .groupBy(_.getString(0))
    med.foreach { r =>
      val seg = r.getString(0)
      val vals = cust(seg).map(_.getDouble(1)).sorted
      assert(r.getDouble(1) == vals((vals.length + 1) / 2 - 1),
        s"$seg: median not the rank-⌈n/2⌉ member")
      val freq = cust(seg).groupBy(_.getInt(2)).view.mapValues(_.length)
      val best = freq.toSeq.sortBy { case (v, c) => (-c, v) }.head._1
      assert(r.getInt(3) == best, s"$seg: mode not the smallest argmax")
    }
  }

  test("recursive-CTE sessionization ≡ the session-window twin") {
    // Same 900 s µs-timeline gap rule, two very different mechanisms:
    // running-sum window vs iterative fixpoint. Per user, the ordered
    // (n_events, start_s, end_s) session lists must be identical.
    def sessions(name: String) = SparkEntry.queries(name)(spark, sf)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(2), r.getLong(3), r.getLong(4))))
      .groupBy(_._1).view.mapValues(_.map(_._2).sorted.toSeq).toMap
    assert(sessions("q_sql_recursive") == sessions("q_stream_session"))
  }

  test("salted join spreads every build key over all 8 salt buckets") {
    // structural: the salted dim has exactly 8 rows per supplier, and the
    // physical plan honors the shuffle_hash hint (no broadcast — the
    // scenario is a dim too big to broadcast)
    val p = SparkEntry.queries("q_join_skew_salted")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(p.contains("ShuffledHashJoin"), p)
    assert(!p.contains("BroadcastHashJoin"), p)
  }

  test("funnel stages respect event ORDER, not just presence") {
    // Synthetic timelines: u1 completes in order (stage 3); u2 has the
    // click BEFORE signup (stage 1 — presence alone would say 2); u3 has
    // click after signup but purchase before the click (stage 2); u4
    // never signs up (absent from the funnel).
    import spark.implicits._
    import java.sql.Timestamp
    def ev(id: Long, u: Long, t: String, s: Long) =
      (id, new Timestamp(s * 1000), u, t, 1.0, "{}")
    val rows = Seq(
      ev(1, 1, "signup", 100), ev(2, 1, "click", 200), ev(3, 1, "purchase", 300),
      ev(4, 2, "click", 100), ev(5, 2, "signup", 200),
      ev(6, 3, "purchase", 100), ev(7, 3, "signup", 200), ev(8, 3, "click", 300),
      ev(9, 4, "click", 100), ev(10, 4, "purchase", 200))
      .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
    val stages = queries.Analytics.funnel(
      rows.select(col("user_id"), col("event_type"),
        unix_micros(col("ts")).as("us")))
      .collect().map(r => r.getLong(0) -> r.getInt(4)).toMap
    assert(stages == Map(1L -> 3, 2L -> 1, 3L -> 2))
  }

  test("canonical selection keeps exactly one doc per dup group, the longest") {
    val out = SparkEntry.queries("q_llm_canonical")(spark, sf)
    val perGroup = out.groupBy("grp_digest").agg(
      sum(when(col("is_canonical"), 1).otherwise(0)).as("n_canon"),
      countDistinct("keep_id").as("n_keep"))
    assert(perGroup.where(col("n_canon") =!= 1 || col("n_keep") =!= 1).count() == 0)
    // the keeper dominates every member on (n_chars, -doc_id)
    val docs = Tables(spark, sf, "documents").select("doc_id", "n_chars")
    val viol = out.join(docs, "doc_id")
      .join(docs.select(col("doc_id").as("keep_id"), col("n_chars").as("keep_chars")), "keep_id")
      .where(col("n_chars") > col("keep_chars") ||
        (col("n_chars") === col("keep_chars") && col("doc_id") < col("keep_id")))
      .count()
    assert(viol == 0)
  }

  test("dynamic partition overwrite rewrites ONLY the touched partition") {
    import org.apache.spark.sql.functions.year
    val dir = new java.io.File(
      System.getProperty("java.io.tmpdir"), "graft_rt/dynow_spec")
    def wipe(f: java.io.File): Unit = {
      if (f.isDirectory) f.listFiles.foreach(wipe); f.delete()
    }
    wipe(dir)
    val o = Tables(spark, sf, "orders")
      .select(col("o_orderkey"), col("o_totalprice"),
        year(col("o_orderdate")).cast("int").as("yr"))
    o.write.mode("overwrite").partitionBy("yr").parquet(dir.toString)
    def files(yr: Int): Set[String] = {
      val p = new java.io.File(dir, s"yr=$yr")
      Option(p.listFiles).map(_.map(_.getName).toSet).getOrElse(Set.empty)
    }
    val before97 = files(1997)
    val before98 = files(1998)
    assert(before97.nonEmpty && before98.nonEmpty)
    o.where(col("yr") === 1998)
      .withColumn("o_totalprice", col("o_totalprice") + 500.0)
      .write.mode("overwrite")
      .option("partitionOverwriteMode", "dynamic")
      .partitionBy("yr").parquet(dir.toString)
    assert(files(1997) == before97, "untouched partition was rewritten")
    assert(files(1998) != before98, "restated partition kept stale files")
  }

  test("resize fits the 224 grid exactly on the long edge") {
    val bad = SparkEntry.queries("q_mm_resize")(spark, sf)
      .where(greatest(col("out_w"), col("out_h")) =!= 224 ||
        col("out_w") > 224 || col("out_h") > 224 || col("sig_len") =!= 64)
      .count()
    assert(bad == 0)
  }

  test("phash dedup groups byte-aligned corruptions, not distinct payloads") {
    import spark.implicits._
    // a payload, a copy with ONE corrupted byte (same length — the
    // pixel-aligned re-encode/corruption shape aHash exists for), and an
    // unrelated payload: the corrupted pair must land in one dup group
    // (Hamming ≤ 1 by construction), the unrelated doc in its own.
    val base = ("the quick brown fox jumps over the lazy dog " * 8).trim
    val corrupt = base.updated(5, 'Z').toString
    val other = ("zzzz aaaa " + "m" * 300 + " qqqq").trim
    val df = Seq((1L, base), (2L, corrupt), (3L, other))
      .toDF("doc_id", "text")
    val out = queries.Multimodal.phashDedup(df)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 1L) && out(2L) == (1L, 1L),
      s"corrupted copy not grouped with original: $out")
    assert(out(3L) == (3L, 0L), s"unrelated payload grouped: $out")
  }

  test("q_mm_dedup_phash64: 16-bit bands equal brute-force Hamming<=2; corruptions group") {
    import spark.implicits._
    // the DECLARED 64-bit geometry (4×16-bit bands — band width tracks
    // log2 N, the multi-index-hashing law 8-bit bands violate —
    // BASELINE.md "banded aHash"): corpus-wide output equality against brute-force
    // all-pairs Hamming<=2 over the 64-block hash
    val docs = Tables(spark, sf, "documents")
    val base = docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))
    val hashes = queries.Multimodal.phashFrame(base, nBlk = 64)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).sortBy(_._1)
    val brute = for {
      i <- hashes.indices; j <- (i + 1) until hashes.length
      if java.lang.Long.bitCount(hashes(i)._2 ^ hashes(j)._2) <= 2
    } yield (hashes(i)._1, hashes(j)._1)
    val want = queries.U.dupGroups(base, brute.toDF("a", "b")).collect()
      .map(_.toString).sorted
    val got = queries.Multimodal.phash64Dedup(docs)
      .collect().map(_.toString).sorted
    assert(got.toSeq == want.toSeq,
      "64-bit banded grouping diverges from brute-force Hamming<=2")
    // non-vacuous grouping THROUGH THE DECLARED ENTRY (round 11 — the
    // fixture corpus has no byte-aligned near-dups, so every gate-scale
    // run legitimately returns all-zero n_dups and only this constructed
    // corpus exercises the operator's grouping logic end-to-end): a
    // byte-aligned corruption corpus written as a documents table, read
    // back via SparkEntry.queries — two same-length payloads differing
    // in two bytes (two blocks touched → Hamming <=2 plus at-most-
    // negligible global-mean drift) must land in one group with
    // n_dups > 0; unrelated payloads stay singletons.
    val payload = ("the quick brown fox jumps over the lazy dog " * 16).trim
    val corrupt = payload.updated(5, 'Z').updated(400, '!').toString
    val pay2 = ("sphinx of black quartz judge my vow again and " * 14).trim
    val corrupt2 = pay2.updated(30, '#').toString
    val other = ("zzzz aaaa " + "m" * 600 + " qqqq").trim
    val dir = java.nio.file.Files.createTempDirectory("phash64corpus").toString
    Seq((1L, payload), (2L, corrupt), (3L, other), (4L, pay2), (5L, corrupt2))
      .toDF("doc_id", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = SparkEntry.queries("q_mm_dedup_phash64")(spark, dir)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getLong(2))).toMap
    assert(out(1L) == (1L, 1L) && out(2L) == (1L, 1L),
      s"two-byte corruption not grouped at 64 bits: $out")
    assert(out(4L) == (4L, 1L) && out(5L) == (4L, 1L),
      s"one-byte corruption not grouped at 64 bits: $out")
    assert(out(3L) == (3L, 0L), s"unrelated payload grouped: $out")
    assert(out.values.map(_._2).sum > 0, "declared query returned all-zero n_dups")
  }

  test("frame sampling keeps every 4th frame and tiles the payload") {
    val out = SparkEntry.queries("q_mm_frame_sample")(spark, sf)
    assert(out.where(col("frame_id") % 4 =!= 0).count() == 0)
    assert(out.where(col("frame_bytes") > 256 || col("frame_bytes") < 1).count() == 0)
    val counts = out.groupBy("doc_id").agg(
      count(lit(1)).as("n"), first("n_frames").as("nf"))
      .where(col("n") =!= expr("(nf - 1) div 4 + 1")).count()
    assert(counts == 0, "sampled frame count != ceil(n_frames/4)")
  }
}
