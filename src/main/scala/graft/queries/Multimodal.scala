package graft.queries

import graft.Tables
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import U._

/** Opaque binary payload + typed metadata, as a 100 TB multimodal table
  * would carry (image/audio/video bytes next to width/height/format). */
case class MMRecord(doc_id: Long, payload: Array[Byte], width: Int, height: Int)

/** Output of the decode/feature-extract stage: integer micro-unit image
  * statistics (exact arithmetic — no float drift between engines). */
case class MMFeature(doc_id: Long, byte_len: Int, mean_e6: Long,
  var_e6: Long, edge_e6: Long, width: Int, height: Int)

/** Multimodal decode/feature plumbing (builder brief): binary columns are
  * processed in partition-sized batches through a typed `mapPartitions` —
  * the Scala analogue of `mapInPandas` — so a real decoder (libjpeg,
  * ffmpeg, ...) would amortize per-batch setup and never materialize the
  * whole column on one node. The codec step is stubbed (image libs are
  * not in this container): the utf-8 payload bytes stand in for decoded
  * pixel rows. The feature math on those bytes is REAL — mean / variance
  * / horizontal edge energy, the first statistics an image-quality filter
  * computes — done in exact integer micro-units (floor division) so the
  * DuckDB oracle reproduces it bit-for-bit.
  */
object Multimodal {

  val queries: Map[String, Q] = Map(
    // fanOut (r14) on the three CPU-dense members only (features,
    // audio_silence, scene_cuts — per-byte integer transforms measured
    // 0.60–0.67 s single-core, 0.14–0.39 s fanned out); the cheap members
    // (resize, audio_energy, frame_sample, phash) REGRESSED under the
    // extra exchange (0.07→0.13 s) and stay on the raw scan.
    "q_mm_features" -> ((s, d) => {
      import s.implicits._
      val recs = fanOut(Tables(s, d, "documents")).select(
        col("doc_id"),
        encode(col("text"), "utf-8").as("payload"),
        (col("n_chars") % 640 + 32).cast("int").as("width"),
        (col("n_chars") % 480 + 32).cast("int").as("height"))
        .as[MMRecord]
      recs.mapPartitions { it =>
        it.map { r =>
          val p = r.payload.map(b => (b & 0xff).toLong)
          val n = p.length.toLong
          val sumP = p.sum
          val sumSq = p.map(x => x * x).sum
          val edge = p.iterator.sliding(2).withPartial(false)
            .map { w => math.abs(w(1) - w(0)) }.sum
          // BigInt intermediates: the variance numerator 1e6·(n·Σp² − (Σp)²)
          // overflows Long past ~760 KB payloads, while DuckDB's list_sum
          // promotes to HUGEINT — BigInt keeps the two engines bit-equal at
          // any payload size. Guards mirror the oracle's CASE WHEN.
          val meanE6 =
            if (n > 0) (BigInt(1000000) * sumP / (BigInt(255) * n)).toLong else 0L
          val varE6 =
            if (n > 0)
              (BigInt(1000000) * (BigInt(n) * sumSq - BigInt(sumP) * sumP)
                / (BigInt(65025) * n * n)).toLong
            else 0L
          val edgeE6 =
            if (n > 1) (BigInt(1000000) * edge / (BigInt(255) * (n - 1))).toLong
            else 0L
          MMFeature(r.doc_id, p.length, meanE6, varE6, edgeE6, r.width, r.height)
        }
      }.toDF()
        .select("doc_id", "byte_len", "mean_e6", "var_e6", "edge_e6",
          "width", "height")
        .orderBy("doc_id")
    }),

    // Resize plumbing: fit (width, height) into a 224×224 training grid
    // preserving aspect ratio, then nearest-neighbor-resample the payload
    // to a fixed 64-byte signature via the SAME index mapping a real
    // resampler uses (src_i = ⌊dst_i · n / 64⌋). The index math, target
    // dims and digest are the real pipeline; only pixel decode is the
    // documented stub (payload bytes stand in for pixels). Pure codegen'd
    // integer/string ops — no UDF, linear, shuffle-free until the sort.
    "q_mm_resize" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"),
        col("text").as("payload"),
        (col("n_chars") % 640 + 32).cast("int").as("in_w"),
        (col("n_chars") % 480 + 32).cast("int").as("in_h"))
        .withColumn("out_w",
          expr("greatest(1, (in_w * 224) div greatest(in_w, in_h))"))
        .withColumn("out_h",
          expr("greatest(1, (in_h * 224) div greatest(in_w, in_h))"))
        .withColumn("n", length(col("payload")))
        .withColumn("sig", expr(
          """concat_ws('', transform(sequence(0, 63),
               i -> substring(payload, CAST(i * n div 64 AS INT) + 1, 1)))"""))
        .select(col("doc_id"), col("in_w"), col("in_h"),
          col("out_w"), col("out_h"),
          length(col("sig")).cast("int").as("sig_len"),
          md5(col("sig")).as("sig_digest"))
        .orderBy("doc_id")),

    // Audio-energy / VAD plumbing: the payload as a PCM stream at 64
    // samples per frame (codec stubbed like the rest of §2.12: char
    // codes stand in for samples, space ≈ silence at amplitude 0). Per
    // doc: frame count, active frames (energy above the corpus-median
    // threshold), peak frame energy, and the first active frame index —
    // the trim-leading-silence signal an audio-curation pass emits. All
    // integer arithmetic inside one codegen'd projection; linear,
    // shuffle-free until the output sort.
    "q_mm_audio_energy" -> ((s, d) =>
      Tables(s, d, "documents")
        .withColumn("ch", split(col("text"), ""))
        .withColumn("fe", expr(
          """CASE WHEN size(ch) < 64 THEN CAST(array() AS ARRAY<BIGINT>)
             ELSE transform(sequence(0, CAST(size(ch) div 64 AS INT) - 1),
               k -> aggregate(slice(ch, k * 64 + 1, 64), 0L,
                      (acc, c) -> acc + CAST((ascii(c) - 32) * (ascii(c) - 32) AS BIGINT)))
             END"""))
        .select(col("doc_id"),
          size(col("fe")).as("n_frames"),
          expr("size(filter(fe, e -> e > 307000))").as("n_active"),
          coalesce(expr("array_max(fe)"), lit(0L)).as("peak_energy"),
          coalesce(expr("array_position(transform(fe, e -> e > 307000), true)"), lit(0L))
            .as("first_active"))
        .orderBy("doc_id")),

    // Frame-sampling plumbing: treat the payload as a fixed-frame video
    // (256 bytes/frame), keep every 4th frame — the stride-sampling shape
    // a video-curation pipeline uses before per-frame featurization. One
    // output row per sampled frame via a generator over the frame index
    // sequence; slicing + digest are exact string ops on the payload.
    "q_mm_frame_sample" -> ((s, d) =>
      Tables(s, d, "documents").select(
        col("doc_id"), col("text").as("payload"))
        .withColumn("n_frames",
          expr("CAST((length(payload) + 255) div 256 AS BIGINT)"))
        .select(col("doc_id"), col("payload"), col("n_frames"),
          explode(expr("sequence(0, CAST((n_frames - 1) div 4 AS INT))"))
            .as("k"))
        .withColumn("frame_id", col("k") * 4)
        .withColumn("frame", expr("substring(payload, CAST(frame_id * 256 AS INT) + 1, 256)"))
        .select(col("doc_id"), col("frame_id").cast("long").as("frame_id"),
          col("n_frames"),
          length(col("frame")).cast("int").as("frame_bytes"),
          md5(col("frame")).as("frame_digest"))
        .orderBy("doc_id", "frame_id")),

    // Longest-silence detection (the trim/segment signal of an audio
    // pipeline, composing the audio_energy framing with the
    // gaps-and-islands run finder): frames whose energy is at or below
    // the active threshold form islands via fid − row_number(); the
    // longest run per doc wins (ties to the earliest). Both windows ride
    // the doc_id partitioning; all integer arithmetic.
    "q_mm_audio_silence" -> ((s, d) => {
      val w = Window.partitionBy("doc_id").orderBy("fid")
      val top = Window.partitionBy("doc_id")
        .orderBy(col("run").desc, col("sfid"))
      fanOut(Tables(s, d, "documents"))
        .withColumn("ch", split(col("text"), ""))
        .where(size(col("ch")) >= 64)
        .select(col("doc_id"), posexplode(expr(
          """transform(sequence(0, CAST(size(ch) div 64 AS INT) - 1),
               k -> aggregate(slice(ch, k * 64 + 1, 64), 0L,
                      (acc, c) -> acc + CAST((ascii(c) - 32) * (ascii(c) - 32) AS BIGINT)))"""))
          .as(Seq("fid", "e")))
        .where(col("e") <= 307000)
        .withColumn("isl", col("fid") - row_number().over(w))
        .groupBy("doc_id", "isl")
        .agg(count(lit(1)).as("run"), min("fid").as("sfid"))
        .withColumn("rk", row_number().over(top)).where(col("rk") === 1)
        .select(col("doc_id"), col("run").as("silent_frames"),
          col("sfid").cast("long").as("start_frame"))
        .orderBy("doc_id")
    }),

    // Scene-change detection plumbing: per-doc, find the MOST different
    // consecutive-frame boundary (256-byte frames, full frames only so a
    // short tail frame can't fake a cut) by byte-sum delta — the argmax
    // formulation stays non-degenerate on any payload distribution where
    // a fixed threshold would (this ASCII stand-in corpus has near-flat
    // frame sums). Per-doc lag + rank windows share one (doc_id)
    // partitioning; the byte sums are exact integers. A real video
    // pipeline swaps the byte-sum for a decoded-histogram distance at
    // the same shape (codec stubbed like the rest of §2.12).
    "q_mm_scene_cuts" -> ((s, d) => {
      val wd = Window.partitionBy("doc_id").orderBy("frame_id")
      val wr = Window.partitionBy("doc_id")
        .orderBy(col("delta").desc, col("frame_id"))
      fanOut(Tables(s, d, "documents")).select(
        col("doc_id"), col("text").as("payload"))
        .withColumn("n_full",
          expr("CAST(length(payload) div 256 AS BIGINT)"))
        .where(col("n_full") >= 2)
        .select(col("doc_id"), col("payload"),
          explode(expr("sequence(0, CAST(n_full - 1 AS INT))")).as("frame_id"))
        .withColumn("bsum", expr(
          """aggregate(transform(sequence(1, 256),
               i -> CAST(ascii(substr(substring(payload,
                 CAST(frame_id * 256 AS INT) + 1, 256), i, 1)) AS BIGINT)),
               0L, (a, x) -> a + x)"""))
        .withColumn("delta", abs(col("bsum") - lag(col("bsum"), 1).over(wd)))
        .where(col("delta").isNotNull)
        .withColumn("rk", row_number().over(wr)).where(col("rk") === 1)
        .select(col("doc_id"), col("frame_id").cast("long").as("cut_frame"),
          col("delta").as("cut_delta"))
        .orderBy("doc_id")
    }),

    // Perceptual near-dup over the binary payload (the aHash family a
    // real image-dedup pass runs on decoded pixels — codec stubbed like
    // the rest of §2.12). Semantics caveat (measured): aHash assumes
    // PIXEL-ALIGNED payloads — re-encodes, small corruptions, watermark
    // strips — and on those a ≤1-block change moves ≤1 bit (proved on
    // constructed corruptions in AnalyticsSpec). The text stand-in corpus
    // has no byte-aligned near-dups (its trigram near-dups are token
    // EDITS, whose byte shifts scramble positional block means — measured
    // Hamming 4-18 on true pairs, indistinguishable from random), so on
    // this fixture every n_dups is legitimately 0 while both engines
    // agree bit-for-bit on the hashes themselves. The shingle/embedding
    // paths (q_llm_dedup_near, q_llm_dedup_semantic) are the
    // edit-tolerant tools; this is the byte-geometry one.
    "q_mm_dedup_phash" -> ((s, d) =>
      phashDedup(Tables(s, d, "documents"))),

    // 64-bit banded aHash near-dup — the scale-safe Hamming-≤2 geometry
    // (4×16-bit bands, exact recall by pigeonhole); see [[phash64Dedup]].
    "q_mm_dedup_phash64" -> ((s, d) =>
      phash64Dedup(Tables(s, d, "documents")))
  )

  /** aHash dedup pipeline over (doc_id, text-as-payload): 32 positional
    * blocks, bit b set iff block mean exceeds payload mean — decided by
    * the exact integer cross-multiply sb·n > st·nb, never a float
    * compare — then Hamming-≤1 grouping by the same multi-probe
    * equi-join discipline as q_llm_dedup_simhash_near: 33 bucket-local
    * probes per doc, never all-pairs. Scale: the byte explode is linear,
    * block and hash aggregates share the doc_id shuffle key, the window
    * total rides that same partitioning, and the probe join moves 33
    * (doc_id, probe) longs per doc — payloads never shuffle twice. */
  private def phashBase(docs: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame =
    docs.where(length(col("text")) > 0)
      .select(col("doc_id"), col("text"), length(col("text")).as("n"))

  /** (doc_id, phash): the nBlk-bit aHash over a phashBase frame — ONE
    * hash definition shared by the Hamming-≤1 multi-probe dedup (32
    * blocks) and the round-10 64-bit banded operator (64 blocks: bit 63
    * rides the long's sign bit — harmless, XOR/bit_count/band-mask
    * arithmetic is bit-pattern arithmetic in both engines). */
  private[graft] def phashFrame(base: org.apache.spark.sql.DataFrame,
      nBlk: Int = 32): org.apache.spark.sql.DataFrame = {
    val codes = base.select(col("doc_id"), col("n"),
      posexplode(expr(
        "transform(sequence(1, length(text)), i -> CAST(ascii(substr(text, i, 1)) AS BIGINT))"))
        .as(Seq("pos", "code")))
    codes
      .withColumn("blk", expr(s"(pos * $nBlk) div n"))
      .groupBy("doc_id", "n", "blk")
      .agg(sum(col("code")).as("sb"), count(lit(1)).as("nb"))
      .withColumn("st",
        sum(col("sb")).over(Window.partitionBy("doc_id")))
      .groupBy("doc_id")
      .agg(sum(when(col("sb") * col("n") > col("st") * col("nb"),
          expr("shiftleft(CAST(1 AS BIGINT), CAST(blk AS INT))"))
        .otherwise(0L)).as("phash"))
  }

  private[graft] def phashDedup(docs: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
    val base = phashBase(docs)
    val hashes = phashFrame(base)
    val masks = "phash" +: (0 until 32).map(b => s"phash ^ ${1L << b}L")
    val probes = hashes.select(col("doc_id"),
      explode(expr(masks.mkString("array(", ", ", ")"))).as("probe"))
    val pairs = probes.as("x").join(hashes.as("y"),
        col("x.probe") === col("y.phash") && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("y.doc_id").as("b")).distinct()
    U.dupGroups(base, pairs)
  }

  /** 64-bit banded aHash dedup — the deployment geometry the measured
    * and rejected 32-bit banded form names (BASELINE "banded aHash":
    * band width must track log₂N — the multi-index-hashing law — and
    * ≥16-bit bands need a 64-bit hash). 64 positional block means → a
    * 64-bit hash, 4×16-bit bands as join keys, exact-Hamming ≤2
    * confirm: by pigeonhole any two hashes within Hamming ≤3 share an
    * intact band, so recall at the ≤2 confirm is EXACT (a provable
    * property MinHash banding lacks; MultimodalSpec asserts grouping ≡
    * brute-force Hamming-≤2 on constructed block corruptions). Cost
    * law vs multi-probe at the same radius: 4 keys/doc vs the 2,081
    * probes/doc a Hamming-≤2 ball enumeration needs on 64 bits, and a
    * 16-bit fragment carries 65k buckets, so ×100's 500k docs average
    * ~8 per bucket — the bucket-local join stays linear where the
    * 8-bit fragment measured 217 s (×100 probe row in BASELINE.md).
    * Same n_dups=0 caveat as q_mm_dedup_phash on this byte-shifting
    * text stand-in corpus: the hashes and grouping machinery are the
    * oracled substance. */
  private[graft] def phash64Dedup(docs: org.apache.spark.sql.DataFrame)
    : org.apache.spark.sql.DataFrame = {
    val base = phashBase(docs)
    val hashes = phashFrame(base, nBlk = 64)
    val bandCols = (0 until 4).map { b =>
      struct(lit(b).as("band"),
        expr(s"shiftright(phash, ${b * 16}) & 65535").as("bits"))
    }
    val bk = hashes.select(col("doc_id"), col("phash"),
      explode(array(bandCols: _*)).as("bb"))
      .select(col("doc_id"), col("phash"),
        col("bb.band").as("band"), col("bb.bits").as("bits"))
    val pairs = bk.as("x").join(bk.as("y"),
        col("x.band") === col("y.band") && col("x.bits") === col("y.bits")
          && col("x.doc_id") < col("y.doc_id"))
      .select(col("x.doc_id").as("a"), col("x.phash").as("ha"),
        col("y.doc_id").as("b"), col("y.phash").as("hb"))
      .distinct()
      .where(expr("bit_count(ha ^ hb) <= 2"))
      .select("a", "b")
    U.dupGroups(base, pairs)
  }

  // The corpus is pure ASCII (verified: octet_length == length at every
  // sf), so DuckDB's per-character ascii() sees exactly the utf-8 bytes
  // the Scala side consumes.
  /** Shared DuckDB aHash chain — ends at `h(doc_id, phash)` with `base`
    * in scope; the ONE mirror of [[phashFrame]] both dedup oracles
    * build on. Declared BEFORE the oracle map (a forward val reference
    * would interpolate null into the SQL). */
  private def oPhashCteN(nBlk: Int) =
    s"""base AS (SELECT doc_id, text, length(text) AS n
           FROM documents WHERE length(text) > 0),
         c AS (SELECT doc_id, n, text, unnest(range(0, n)) AS pos FROM base),
         d AS (SELECT doc_id, n, (pos * $nBlk) // n AS blk,
                 CAST(ascii(substring(text, CAST(pos + 1 AS INT), 1)) AS BIGINT) AS code
               FROM c),
         g AS (SELECT doc_id, n, blk, CAST(SUM(code) AS BIGINT) AS sb,
                 COUNT(*) AS nb
               FROM d GROUP BY doc_id, n, blk),
         t AS (SELECT *, CAST(SUM(sb) OVER (PARTITION BY doc_id) AS BIGINT) AS st
               FROM g),
         h AS (SELECT doc_id,
                 CAST(SUM(CASE WHEN sb * n <= st * nb THEN 0
                   WHEN blk = 63 THEN CAST(-9223372036854775807 - 1 AS BIGINT)
                   ELSE (CAST(1 AS BIGINT) << CAST(blk AS INT))
                   END) AS BIGINT) AS phash
               FROM t GROUP BY doc_id)"""
  // blk=63 is the long's sign bit: DuckDB's << checks overflow where
  // Spark's shiftleft wraps, so the mirror names MinValue directly —
  // the same two's-complement bit pattern both engines then SUM into
  // the hash (distinct powers: no carry, MinValue + positives in range)

  private val oPhashCte = oPhashCteN(32)

  val oracle: Map[String, String] = Map(
    "q_mm_features" ->
      """WITH b AS (SELECT doc_id, n_chars,
             list_transform(string_split(text, ''),
               c -> CAST(ascii(c) AS BIGINT)) AS p
           FROM documents),
         s AS (SELECT doc_id, n_chars, len(p) AS n,
                 list_sum(p) AS sum_p,
                 list_sum(list_transform(p, x -> x * x)) AS sum_sq,
                 list_sum(list_transform(range(1, len(p)),
                   i -> abs(p[i] - p[i + 1]))) AS edge
               FROM b)
         SELECT doc_id,
           CAST(n AS INT) AS byte_len,
           CAST(CASE WHEN n > 0 THEN (1000000 * sum_p) // (255 * n)
                     ELSE 0 END AS BIGINT) AS mean_e6,
           CAST(CASE WHEN n > 0 THEN (1000000 * (n * sum_sq - sum_p * sum_p))
                                     // (65025 * n * n)
                     ELSE 0 END AS BIGINT) AS var_e6,
           CAST(CASE WHEN n > 1 THEN (1000000 * edge) // (255 * (n - 1))
                     ELSE 0 END AS BIGINT) AS edge_e6,
           CAST(n_chars % 640 + 32 AS INT) AS width,
           CAST(n_chars % 480 + 32 AS INT) AS height
         FROM s ORDER BY doc_id""",

    "q_mm_audio_energy" ->
      """WITH d AS (SELECT doc_id, string_split(text, '') AS ch FROM documents),
         f AS (SELECT doc_id,
             CASE WHEN len(ch) < 64 THEN CAST([] AS BIGINT[])
             ELSE list_transform(range(0, len(ch) // 64),
               k -> CAST(list_sum(list_transform(ch[k*64+1 : k*64+64],
                      c -> (ord(c) - 32) * (ord(c) - 32))) AS BIGINT))
             END AS fe
           FROM d)
         SELECT doc_id,
           CAST(len(fe) AS INT) AS n_frames,
           CAST(len(list_filter(fe, e -> e > 307000)) AS INT) AS n_active,
           COALESCE(list_max(fe), 0) AS peak_energy,
           CAST(COALESCE(list_position(list_transform(fe, e -> e > 307000), true), 0)
             AS BIGINT) AS first_active
         FROM f ORDER BY doc_id""",

    "q_mm_resize" ->
      """WITH m AS (SELECT doc_id, text AS payload,
             CAST(n_chars % 640 + 32 AS INT) AS in_w,
             CAST(n_chars % 480 + 32 AS INT) AS in_h,
             length(text) AS n
           FROM documents)
         SELECT doc_id, in_w, in_h,
           CAST(greatest(1, (in_w * 224) // greatest(in_w, in_h)) AS BIGINT) AS out_w,
           CAST(greatest(1, (in_h * 224) // greatest(in_w, in_h)) AS BIGINT) AS out_h,
           CAST(length(sig) AS INT) AS sig_len,
           md5(sig) AS sig_digest
         FROM (SELECT *, list_aggregate(list_transform(range(0, 64),
                 i -> substring(payload, CAST(i * n // 64 AS INT) + 1, 1)),
                 'string_agg', '') AS sig
               FROM m)
         ORDER BY doc_id""",

    "q_mm_frame_sample" ->
      """WITH m AS (SELECT doc_id, text AS payload,
             (length(text) + 255) // 256 AS n_frames
           FROM documents),
         f AS (SELECT doc_id, payload, n_frames,
                 unnest(range(0, (n_frames - 1) // 4 + 1)) * 4 AS frame_id
               FROM m)
         SELECT doc_id, frame_id, n_frames,
           CAST(length(substring(payload, CAST(frame_id * 256 AS INT) + 1, 256)) AS INT)
             AS frame_bytes,
           md5(substring(payload, CAST(frame_id * 256 AS INT) + 1, 256)) AS frame_digest
         FROM f ORDER BY doc_id, frame_id""",

    "q_mm_audio_silence" ->
      """WITH d AS (SELECT doc_id, string_split(text, '') AS ch FROM documents
           WHERE len(string_split(text, '')) >= 64),
         u AS (SELECT doc_id, ch, unnest(range(0, len(ch) // 64)) AS k FROM d),
         f AS (SELECT doc_id, CAST(k AS INT) AS fid,
             CAST(list_sum(list_transform(ch[k*64+1 : k*64+64],
               c -> (ascii(c) - 32) * (ascii(c) - 32))) AS BIGINT) AS e
           FROM u),
         s AS (SELECT doc_id, fid FROM f WHERE e <= 307000),
         i AS (SELECT doc_id, fid, fid - ROW_NUMBER() OVER (
             PARTITION BY doc_id ORDER BY fid) AS isl FROM s),
         g AS (SELECT doc_id, isl, COUNT(*) AS run, MIN(fid) AS sfid
           FROM i GROUP BY doc_id, isl),
         r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
             ORDER BY run DESC, sfid) AS rk FROM g)
         SELECT doc_id, run AS silent_frames, CAST(sfid AS BIGINT) AS start_frame
         FROM r WHERE rk = 1 ORDER BY doc_id""",

    "q_mm_scene_cuts" ->
      """WITH d AS (SELECT doc_id, text AS payload,
             CAST(length(text) // 256 AS BIGINT) AS n_full
           FROM documents WHERE length(text) // 256 >= 2),
         f AS (SELECT doc_id, payload,
             unnest(range(0, n_full)) AS frame_id FROM d),
         s AS (SELECT doc_id, frame_id,
             list_sum(list_transform(range(1, 257),
               i -> CAST(ascii(substring(substring(payload,
                 CAST(frame_id * 256 AS INT) + 1, 256),
                 CAST(i AS INT), 1)) AS BIGINT))) AS bsum
           FROM f),
         l AS (SELECT doc_id, frame_id, abs(bsum -
             lag(bsum) OVER (PARTITION BY doc_id ORDER BY frame_id)) AS delta
           FROM s),
         r AS (SELECT doc_id, frame_id, delta,
             ROW_NUMBER() OVER (PARTITION BY doc_id
               ORDER BY delta DESC, frame_id) AS rk
           FROM l WHERE delta IS NOT NULL)
         SELECT doc_id, frame_id AS cut_frame, CAST(delta AS BIGINT) AS cut_delta
         FROM r WHERE rk = 1 ORDER BY doc_id""",

    "q_mm_dedup_phash" ->
      s"""WITH $oPhashCte,
         probes AS (SELECT doc_id,
             unnest(list_concat([phash],
               list_transform(range(0, 32),
                 b -> xor(phash, CAST(1 AS BIGINT) << CAST(b AS INT))))) AS probe
           FROM h),
         pairs AS (SELECT DISTINCT x.doc_id AS a, y.doc_id AS b
           FROM probes x JOIN h y ON x.probe = y.phash AND x.doc_id < y.doc_id),
         ${U.oDupGroups("pairs", "base")}""",

    // The 64-block mirror: band extraction is shift-then-mask, so the
    // engines' arithmetic-vs-logical shift fill never reaches the low
    // 16 bits, and xor/bit_count are two's-complement bit-pattern ops —
    // the sign bit (block 63) costs nothing.
    "q_mm_dedup_phash64" ->
      s"""WITH ${oPhashCteN(64)},
         bk AS (SELECT doc_id, phash, CAST(t.b AS INT) AS band,
             (phash >> CAST(t.b * 16 AS INT)) & 65535 AS bits
           FROM h, unnest(range(0, 4)) AS t(b)),
         pairs AS (SELECT DISTINCT a, b FROM (
             SELECT x.doc_id AS a, y.doc_id AS b, x.phash AS ha, y.phash AS hb
             FROM bk x JOIN bk y ON x.band = y.band AND x.bits = y.bits
               AND x.doc_id < y.doc_id)
           WHERE bit_count(xor(ha, hb)) <= 2),
         ${U.oDupGroups("pairs", "base")}"""
  )
}
