package graft

import org.apache.spark.sql.SparkSession

/** Constructed corpus with EXACTLY known cross-source 5-gram containment,
  * for the triage screen's guarantee specs (PropertySpec fixture-scale,
  * ScaleSpec scale-stability): the real corpus has no pair anywhere near
  * `Audit.triageTarget`, so only a constructed pair can exercise the
  * guarantee non-vacuously.
  *
  * Geometry: srcA = one doc of 104 unique tokens (100 distinct 5-grams);
  * srcB copies srcA's 16-token prefix then diverges (its grams at offsets
  * 0..11 equal srcA's — 12 shared of 100, the seam grams mix tokens of
  * both and match neither side) → containment(A, B) = 12/100 = 0.12 =
  * `Audit.triageTarget` exactly; srcC is token-disjoint → containment 0
  * against both.
  *
  * `copies` replicates with per-copy token suffixes (the `Scale.gen`
  * replica discipline): cross-copy gram sets are disjoint, so per-source
  * totals and the shared count scale ×copies and the containment ratio is
  * scale-INVARIANT — the property that lets ScaleSpec assert the same
  * true-target pair flags at every size.
  */
object TriageFixture {

  /** Writes the corpus (`copies` replicas) under `dir`; returns `dir`. */
  def write(spark: SparkSession, copies: Int, dir: String): String = {
    import spark.implicits._
    val rows = (0 until copies).flatMap { c =>
      val aTok = (0 until 104).map(i => s"a${i}_c$c")
      val bTok = aTok.take(16) ++ (16 until 104).map(i => s"b${i}_c$c")
      val cTok = (0 until 104).map(i => s"x${i}_c$c")
      Seq((c * 3 + 1L, "srcA", aTok.mkString(" ")),
        (c * 3 + 2L, "srcB", bTok.mkString(" ")),
        (c * 3 + 3L, "srcC", cTok.mkString(" ")))
    }
    rows.toDF("doc_id", "source", "text")
      .write.mode("overwrite").parquet(s"$dir/documents.parquet")
    dir
  }
}
