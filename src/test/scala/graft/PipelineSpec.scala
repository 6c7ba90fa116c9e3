package graft

import org.apache.spark.sql.functions._

/** Semantic invariants for the §2.14 training-data curation operators —
  * properties the DuckDB hash compare can't express (coverage,
  * reconstruction, conservation laws). */
class PipelineSpec extends SparkSpec {

  private def q(name: String) = queries.Pipeline.queries(name)(spark, sf)

  test("chunking covers every token: last chunk ends exactly at n_tokens") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    val last = q("q_llm_chunk")
      .groupBy("doc_id")
      .agg(max(col("start_tok") + col("n_tok") - 1).as("covered"),
        min(col("start_tok")).as("first_start"))
    val bad = last.join(docs, "doc_id")
      .where(col("covered") =!= col("n") || col("first_start") =!= 1)
      .count()
    assert(bad == 0)
  }

  test("chunk stride: consecutive chunks overlap by size - stride tokens") {
    val rows = q("q_llm_chunk")
      .where(col("doc_id") === 0).orderBy("chunk_id")
      .select("start_tok").collect().map(_.getInt(0))
    assert(rows.zip(rows.drop(1)).forall { case (a, b) => b - a == 24 })
  }

  test("cdc chunk boundaries resist shifts: prepending tokens preserves later digests") {
    val docs = Tables(spark, sf, "documents").where(col("doc_id") < 50)
    val orig = queries.Pipeline.cdcChunks(docs)
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(4)).toSet).toMap
    val shifted = queries.Pipeline.cdcChunks(
        docs.withColumn("text", concat(lit("prepended shim tokens "), col("text"))))
      .collect().groupBy(_.getLong(0))
      .view.mapValues(_.map(_.getString(4)).toSet).toMap
    // for every doc, all original chunk digests except (at most) the first
    // chunk survive the edit — the CDC selling point. A fixed-window
    // chunker would invalidate every digest.
    orig.foreach { case (id, digests) =>
      val surviving = digests.intersect(shifted(id))
      assert(digests.size - surviving.size <= 1,
        s"doc $id: ${digests.size - surviving.size} chunks changed after a prepend")
    }
    // chunks tile each doc exactly: sum of n_tok == n_tokens, no overlap
    val cover = queries.Pipeline.cdcChunks(docs)
      .groupBy("doc_id").agg(sum("n_tok").as("s"), max("end_tok").as("e"))
    val n = docs.select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    assert(cover.join(n, "doc_id")
      .where(col("s") =!= col("n") || col("e") =!= col("n")).count() == 0)
  }

  test("context-fit audit: exact recompute at L=512, token conservation, monotonicity") {
    val rows = q("q_llm_context_fit").collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).toSeq == Seq(256L, 512L, 1024L, 2048L))
    // exact recompute from raw doc lengths at one L
    val ns = Tables(spark, sf, "documents")
      .select(size(split(col("text"), " ")).cast("long")).collect()
      .map(_.getLong(0))
    val L = 512L
    val r = rows.find(_.getLong(0) == L).get
    assert(r.getLong(1) == ns.length)
    assert(r.getLong(2) == ns.map(n => math.min(n, L)).sum, "kept")
    assert(r.getLong(3) == ns.map(n => math.max(n - L, 0L)).sum, "truncated")
    assert(r.getLong(4) == ns.map(n => L - math.min(n, L)).sum, "padding")
    rows.foreach { x =>
      // conservation: kept + truncated = corpus tokens; kept + padding = docs·L
      assert(x.getLong(2) + x.getLong(3) == ns.sum, s"token leak at $x")
      assert(x.getLong(2) + x.getLong(4) == x.getLong(1) * x.getLong(0), x.toString)
    }
    // growing L never truncates more, never pads less
    rows.sliding(2).foreach { case Array(a, b) =>
      assert(b.getLong(3) <= a.getLong(3) && b.getLong(4) >= a.getLong(4))
    }
  }

  test("packing conserves offsets: start_off is the running sum per source") {
    val p = q("q_llm_pack").collect()
    p.groupBy(_.getString(1)).foreach { case (_, rows) =>
      val sorted = rows.sortBy(_.getLong(0))
      var off = 0L
      sorted.foreach { r =>
        assert(r.getLong(3) == off, s"doc ${r.getLong(0)}")
        off += r.getInt(2)
      }
    }
    // seq ids: a doc spans [first_seq, last_seq] and never goes backwards
    assert(p.forall(r => r.getLong(5) >= r.getLong(4)))
  }

  test("repetition metrics are valid micro-fractions") {
    val r = q("q_llm_repetition").collect()
    assert(r.nonEmpty)
    assert(r.forall { x =>
      val d = x.getLong(1); val t = x.getLong(2)
      d >= 0 && d <= 1000000 && t > 0 && t <= 1000000
    })
  }

  test("decontamination excludes the benchmark set and flags = (n_shared > 0)") {
    val r = q("q_llm_decontaminate").collect()
    assert(r.forall(_.getLong(0) % 97 != 0))
    assert(r.forall(x => x.getBoolean(2) == (x.getLong(1) > 0)))
  }

  test("vocab pruning conserves tokens: kept + dropped = n_tokens") {
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), size(split(col("text"), " ")).as("n"))
    val bad = q("q_llm_vocab_prune").join(docs, "doc_id")
      .where(col("n_kept") + col("n_dropped") =!= col("n")).count()
    assert(bad == 0)
  }

  test("pii scrub redacts exactly the synthesized email and phone") {
    val r = q("q_llm_pii_scrub").collect()
    assert(r.forall(x => x.getInt(1) == 1 && x.getInt(2) == 1))
    // digest differs from the unscrubbed text's digest (redaction happened)
    val clean = Tables(spark, sf, "documents")
      .select(col("doc_id"), md5(col("text")).as("m")).collect()
      .map(x => x.getLong(0) -> x.getString(1)).toMap
    assert(r.forall(x => x.getString(3) != clean(x.getLong(0))))
  }

  test("orc roundtrip preserves the supplier table exactly") {
    val rt = q("q_source_orc_roundtrip").collect()
    val src = Tables(spark, sf, "supplier").orderBy("s_suppkey").collect()
    assert(rt.toSeq == src.toSeq)
  }

  test("avro roundtrip preserves the customer table exactly") {
    val rt = q("q_source_avro_roundtrip").collect()
    val src = Tables(spark, sf, "customer").orderBy("c_custkey").collect()
    assert(rt.toSeq == src.toSeq)
  }

  test("compaction collapses the file count and conserves the data") {
    q("q_sink_compaction").collect() // runs the fragment → compact pipeline
    def parts(dir: String): Int = {
      val f = new java.io.File(dir)
      f.listFiles().count(_.getName.startsWith("part-"))
    }
    val base = s"${System.getProperty("java.io.tmpdir")}/graft_rt"
    val sfTag = sf.replaceAll("[^0-9.]", "")
    assert(parts(s"$base/frag_$sfTag") > 32, "fragmented layout missing")
    assert(parts(s"$base/compact_$sfTag") <= 2, "compaction did not collapse files")
    val rows = spark.read.parquet(s"$base/compact_$sfTag").count()
    assert(rows == Tables(spark, sf, "orders").count())
  }

  test("z-order curve is bijective on the 16-bit grid and range-splits disjointly") {
    val z = q("q_sort_zorder")
    // de-interleave reconstructs both keys' low 16 bits exactly, on
    // every row (checked on the driver: the 32-term predicate as one
    // expression overflows the 64 KB generated-method limit)
    def bits(z: Long, from: Int): Long =
      (0 until 16).map(x => ((z >>> (2 * x + from)) & 1L) << x).sum
    val rows = z.select("zval", "l_partkey", "l_suppkey").collect()
    assert(rows.nonEmpty)
    val bad = rows.count(r =>
      bits(r.getLong(0), 0) != (r.getLong(1) & 65535L) ||
        bits(r.getLong(0), 1) != (r.getLong(2) & 65535L))
    assert(bad == 0, s"z-curve not bijective on $bad of ${rows.length} rows")
    // the layout recipe: range-partition by zval → per-partition z-ranges
    // are disjoint, so each output file covers a compact curve segment
    val ranges = z.repartitionByRange(4, col("zval"))
      .select(spark_partition_id().as("pid"), col("zval"))
      .groupBy("pid").agg(min("zval").as("mn"), max("zval").as("mx"))
      .orderBy("pid").collect()
    ranges.sliding(2).foreach {
      case Array(a, b) => assert(a.getLong(2) <= b.getLong(1), "overlapping z-ranges")
      case _ =>
    }
  }

  test("stratified sample keeps exactly the ceil-20% quota per language") {
    val kept = q("q_llm_sample_stratified").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val strata = Tables(spark, sf, "documents").groupBy("lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    strata.foreach { case (lang, n) =>
      assert(kept(lang) == (n + 4) / 5, s"$lang: ${kept(lang)} of $n")
    }
  }

  test("mix equals the greedy hash-order prefix under the proportional budget") {
    val md = java.security.MessageDigest.getInstance("MD5")
    def h(id: Long): String =
      md.digest(id.toString.getBytes).map("%02x".format(_)).mkString
    val docs = Tables(spark, sf, "documents")
      .select(col("doc_id"), col("source"), size(split(col("text"), " ")).as("n"))
      .collect().map(r => (r.getLong(0), r.getString(1), r.getInt(2)))
    val bySrc = docs.groupBy(_._2)
    val grand = docs.map(_._3.toLong).sum
    val sumw = bySrc.keys.map(s => s.drop(3).toInt + 1L).sum
    val expected = bySrc.toSeq.flatMap { case (src, rows) =>
      val budget = (grand / 5) * (src.drop(3).toInt + 1) / sumw
      var cum = 0L
      rows.sortBy(r => (h(r._1), r._1)).takeWhile { r =>
        cum += r._3; cum <= budget
      }.map(_._1).toSeq
    }.toSet
    val got = q("q_llm_mix").collect().map(_.getLong(0)).toSet
    assert(got == expected)
  }

  test("sketch merge: two-level HLL rollup equals the single-pass sketch, ±5% of exact") {
    import org.apache.spark.sql.functions.{hll_sketch_agg, hll_sketch_estimate, countDistinct}
    val merged = queries.Aggs.queries("q_agg_sketch_merge")(spark, sf)
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val single = Tables(spark, sf, "events")
      .groupBy("event_type")
      .agg(hll_sketch_estimate(hll_sketch_agg(col("user_id"))).as("e"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(merged == single, "two-level rollup changed the sketch state")
    val exact = Tables(spark, sf, "events")
      .groupBy("event_type").agg(countDistinct(col("user_id")).as("u"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    exact.foreach { case (k, e) =>
      assert(math.abs(merged(k) - e) <= math.max(1L, (e * 0.05).toLong),
        s"$k: sketch ${merged(k)} vs exact $e")
    }
  }
}
