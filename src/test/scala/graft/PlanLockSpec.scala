package graft

/** The whole-surface plan-shape gate (see graft.PlanLock): every
  * declared query's executed-plan operator histogram must match the
  * committed PLANS.lock. PlanSpec pins the ~50 hand-audited plans in
  * detail; this catches structural drift in the other ~270 — a
  * broadcast decaying to sort-merge, an extra Exchange, a window
  * appearing where a heap was — without executing anything the plans
  * don't already execute at construction.
  *
  * On an INTENDED plan change: regenerate in place
  * (`sbt "runMain graft.PlanLock"`) and commit the lock diff alongside
  * the code — the lock turns plan changes into reviewable diffs. */
class PlanLockSpec extends SparkSpec {

  private lazy val lock: Map[String, String] = {
    val src = scala.io.Source.fromFile("PLANS.lock")
    try src.getLines().filter(_.nonEmpty).map { l =>
      val Array(n, fp) = l.split("\t", 2); n -> fp
    }.toMap
    finally src.close()
  }

  test("every declared query's physical plan shape matches PLANS.lock") {
    val names = SparkEntry.queries.keys.toSeq.sorted
    val missing = names.filterNot(lock.contains)
    val stale = lock.keySet -- names
    assert(missing.isEmpty && stale.isEmpty,
      s"lock out of date — missing: $missing, stale: $stale " +
        "(regenerate: sbt \"runMain graft.PlanLock\")")
    val drift = names.flatMap { n =>
      val actual =
        try PlanLock.fingerprintOf(spark, sf, n)
        catch { case e: Throwable => s"ERROR ${e.getClass.getSimpleName}" }
      if (actual == lock(n)) None
      else Some(s"$n\n  locked: ${lock(n)}\n  actual: $actual")
    }
    assert(drift.isEmpty,
      s"${drift.size} plan shapes drifted from PLANS.lock " +
        s"(intended? regenerate + commit the diff):\n${drift.mkString("\n")}")
  }

  private def scalaFiles(dir: String): Seq[java.nio.file.Path] = {
    import scala.jdk.CollectionConverters._
    val walk = java.nio.file.Files.walk(java.nio.file.Paths.get(dir))
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
    finally walk.close()
  }

  private def mainFiles = scalaFiles("src/main/scala/graft")

  /** `file:line: text` of every line of `files` that `hit` accepts;
    * `hit` sees the file, the 0-based line index and the line. */
  private def lineHits(files: Seq[java.nio.file.Path])(
      hit: (java.nio.file.Path, Int, String) => Boolean): Seq[String] = {
    import scala.jdk.CollectionConverters._
    assert(files.nonEmpty, "no sources found")
    for {
      f <- files
      (line, i) <- java.nio.file.Files.readAllLines(f).asScala.zipWithIndex
      if hit(f, i, line)
    } yield s"$f:${i + 1}: ${line.trim}"
  }

  test("plans depend only on (session, sfDir): no env reads in queries/ or Tables") {
    // PLANS.lock and the benchmark's expected results assume one plan per
    // query; an environment switch would fork it. java.io.tmpdir sink
    // paths are deployment paths, not plan switches, and stay allowed.
    val files = scalaFiles("src/main/scala/graft/queries") :+
      java.nio.file.Paths.get("src/main/scala/graft/Tables.scala")
    val hits = lineHits(files)((_, _, l) =>
      l.contains("sys.env") || l.contains("System.getenv"))
    assert(hits.isEmpty, s"environment reads in plan code:\n${hits.mkString("\n")}")
  }

  test("src/main reads the environment only in GraftSession and Bench") {
    // the env knobs are read in the session builder and the bench main;
    // a read anywhere else would add a knob outside those owners
    val allowed = Seq("GraftSession", "Bench")
      .map(n => java.nio.file.Paths.get(s"src/main/scala/graft/$n.scala")).toSet
    val hits = lineHits(mainFiles.filterNot(allowed))((_, _, l) =>
      l.contains("sys.env") || l.contains("System.getenv"))
    assert(hits.isEmpty,
      s"environment reads outside GraftSession and Bench:\n${hits.mkString("\n")}")
  }

  test("only graft.sources names the commit table's formats (GraftTable owns the address)") {
    // outside the connectors, every commit-table write and read goes
    // through GraftTable.write/read (or GraftTable.sinkFormat), so the
    // format names and their options are spelled out in one place
    val sources = java.nio.file.Paths.get("src/main/scala/graft/sources")
    val formats = Seq("\"graft.sources.GraftCommitSink\"",
      "\"graft.sources.GraftManifestSource\"")
    val hits = lineHits(mainFiles.filterNot(_.startsWith(sources)))((_, _, l) =>
      formats.exists(l.contains))
    assert(hits.isEmpty,
      s"commit-table format names outside graft.sources:\n${hits.mkString("\n")}")
  }

  test("only GraftCommitMeta spells the commit log's manifest names in src/main") {
    // the manifest names, their parse and the publish order have one
    // owner; everything else asks it (manifestPath, histGen, tmpGen), so
    // a string literal starting "_GRAFT_COMMIT may appear only in the
    // body of GraftCommitMeta
    import scala.jdk.CollectionConverters._
    val owner = java.nio.file.Paths.get("src/main/scala/graft/sources/GraftCommitSink.scala")
    val files = mainFiles
    assert(files.contains(owner), s"$owner not found")
    val body = {
      val lines = java.nio.file.Files.readAllLines(owner).asScala.toSeq
      val start = lines.indexWhere(_.startsWith("private[graft] object GraftCommitMeta {"))
      if (start < 0) 0 until 0 else start until lines.indexOf("}", start)
    }
    assert(body.nonEmpty, s"GraftCommitMeta not found in $owner")
    val hits = lineHits(files)((f, i, l) =>
      l.contains("\"_GRAFT_COMMIT") && !(f == owner && body.contains(i)))
    assert(hits.isEmpty,
      s"manifest names outside GraftCommitMeta:\n${hits.mkString("\n")}")
  }

  test("only GraftSession builds sessions in src/main") {
    // one builder owns master, partitions, UTC and the codegen confs, so
    // the mains and the test session cannot drift apart again
    val files = mainFiles.filterNot(_.getFileName.toString == "GraftSession.scala")
    val hits = lineHits(files)((_, _, l) => l.contains("SparkSession.builder"))
    assert(hits.isEmpty,
      s"session builders outside GraftSession:\n${hits.mkString("\n")}")
  }

  test("no session conf is set in src/main outside Streams.withRocksDb") {
    // GraftSession.builder sets the session confs once; a load or a query
    // that sets one would change the session under every later query.
    // withRocksDb swaps the state-store provider for its body only.
    val streams = java.nio.file.Paths.get("src/main/scala/graft/streaming/Streams.scala")
    val hits = lineHits(mainFiles.filterNot(_ == streams))((_, _, l) =>
      l.contains("conf.set("))
    assert(hits.isEmpty,
      s"session confs set outside Streams.withRocksDb:\n${hits.mkString("\n")}")
  }

  test("one Lloyd update in src/main: struct(pos, cv) and def fdiv appear once each") {
    // every trained quantizer (flat, two-level, k-means, PQ) runs
    // Learn.lloyd; a second copy of its centroid recompute or of its
    // floor division would let the trainers drift apart again
    for (needle <- Seq("struct(pos, cv)", "def fdiv")) {
      val hits = lineHits(mainFiles)((_, _, l) => l.contains(needle))
      assert(hits.size === 1, s"`$needle` must appear exactly once:\n${hits.mkString("\n")}")
    }
  }

  test("one Louvain move round and one edge tagging in src/main") {
    // louvain, louvainFull's continuation rounds and its levels all run
    // Insights.wRound (the DuckDB twins spell the gain with HUGEINT), and
    // every community operator tags edge endpoints through tagEnds
    val gain = lineHits(mainFiles)((_, _, l) => l.contains("DECIMAL(38,0)) * kic"))
    assert(gain.size === 1, s"the move-round gain must appear once:\n${gain.mkString("\n")}")
    val insights = mainFiles.filter(_.getFileName.toString == "Insights.scala")
    val tag = lineHits(insights)((_, _, l) => l.contains("""col("dst") === col("id")"""))
    assert(tag.size === 1, s"the endpoint tag join must appear once:\n${tag.mkString("\n")}")
  }

  test("temp views are created only in U and Sql") {
    // U.sqlOver binds a query's frames to per-call view names and drops
    // them; Sql.register registers the base tables on purpose. A fixed
    // name anywhere else would overwrite a user's view of that name.
    val allowed = Seq("queries/U", "Sql")
      .map(n => java.nio.file.Paths.get(s"src/main/scala/graft/$n.scala")).toSet
    val view = """create\w*TempView\(""".r
    val hits = lineHits(mainFiles.filterNot(allowed))((_, _, l) =>
      view.findFirstIn(l).nonEmpty)
    assert(hits.isEmpty, s"temp views created outside U and Sql:\n${hits.mkString("\n")}")
  }

  private val uScala = "src/main/scala/graft/queries/U.scala:"

  test("one clipped-overlap join in src/main: sum(least( appears once") {
    // the set confirms, the CWS confirm, ROUGE-2, BLEU and chrF all run
    // Llm.clippedOverlap; a second Σ min(tf_a, tf_b) would let the pair
    // operators drift apart again
    val hits = lineHits(mainFiles)((_, _, l) => l.contains("sum(least("))
    assert(hits.size === 1, s"`sum(least(` must appear exactly once:\n${hits.mkString("\n")}")
  }

  test("one tokenizer: only U spells split(col(\"text\"), \" \")") {
    // every text operator tokenizes through U.textTokens
    val hits = lineHits(mainFiles)((_, _, l) => l.contains("""split(col("text"), " ")"""))
    assert(hits.size === 1 && hits.head.startsWith(uScala),
      s"the tokenizer must be spelled once, in U.textTokens:\n${hits.mkString("\n")}")
  }

  test("one 1e-6 embedding grid: only U spells the Spark transform") {
    // U.gridE6 is the Spark side; the DuckDB twins' list_transform
    // spells the same lambda and stays as the independent reference
    val grid = "x -> CAST(round(CAST(x AS DOUBLE) * 1000000.0) AS BIGINT)"
    val hits = lineHits(mainFiles)((_, _, l) =>
      l.contains(grid) && !l.contains("list_transform("))
    assert(hits.size === 1 && hits.head.startsWith(uScala),
      s"the grid must be spelled once, in U.gridE6:\n${hits.mkString("\n")}")
  }

  test("q_dq_cohens_kappa's plan does not follow its shared frame's materialization") {
    // q_llm_label_noise materializes the memoized nnTop3Auto frame that
    // kappa reduces; its cached relation then reports its real size, and
    // a size-chosen join above it would flip strategy
    SparkEntry.queries("q_llm_label_noise")(spark, sf).collect()
    assert(PlanLock.fingerprintOf(spark, sf, "q_dq_cohens_kappa") ===
      lock("q_dq_cohens_kappa"))
  }
}
