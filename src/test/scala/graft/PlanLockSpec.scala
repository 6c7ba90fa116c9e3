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

  test("every declared query's physical plan shape matches PLANS.lock") {
    val lock = {
      val src = scala.io.Source.fromFile("PLANS.lock")
      try src.getLines().filter(_.nonEmpty).map { l =>
        val Array(n, fp) = l.split("\t", 2); n -> fp
      }.toMap
      finally src.close()
    }
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

  test("plans depend only on (session, sfDir): no env reads in queries/ or Tables") {
    // PLANS.lock and the benchmark's expected results assume one plan per
    // query; an environment switch would fork it. java.io.tmpdir sink
    // paths are deployment paths, not plan switches, and stay allowed.
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val files = scalaFiles("src/main/scala/graft/queries")
    assert(files.nonEmpty, "no query sources found")
    val hits = for {
      f <- files :+ Paths.get("src/main/scala/graft/Tables.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("sys.env") || line.contains("System.getenv")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"environment reads in plan code:\n${hits.mkString("\n")}")
  }

  test("src/main reads the environment only in GraftSession and Bench") {
    // the env knobs are read in the session builder and the bench main;
    // a read anywhere else would add a knob outside those owners
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val allowed = Seq("GraftSession", "Bench")
      .map(n => Paths.get(s"src/main/scala/graft/$n.scala")).toSet
    val files = scalaFiles("src/main/scala/graft").filterNot(allowed)
    assert(files.nonEmpty, "no main sources found")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("sys.env") || line.contains("System.getenv")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"environment reads outside GraftSession and Bench:\n${hits.mkString("\n")}")
  }

  test("only graft.sources names the commit table's formats (GraftTable owns the address)") {
    // outside the connectors, every commit-table write and read goes
    // through GraftTable.write/read (or GraftTable.sinkFormat), so the
    // format names and their options are spelled out in one place
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val sources = Paths.get("src/main/scala/graft/sources")
    val files = scalaFiles("src/main/scala/graft").filterNot(_.startsWith(sources))
    assert(files.nonEmpty, "no main sources found")
    val formats = Seq("\"graft.sources.GraftCommitSink\"",
      "\"graft.sources.GraftManifestSource\"")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if formats.exists(line.contains)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"commit-table format names outside graft.sources:\n${hits.mkString("\n")}")
  }

  test("only GraftCommitMeta spells the commit log's manifest names in src/main") {
    // the manifest names, their parse and the publish order have one
    // owner; everything else asks it (manifestPath, histGen, tmpGen), so
    // a string literal starting "_GRAFT_COMMIT may appear only in the
    // body of GraftCommitMeta
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    val owner = Paths.get("src/main/scala/graft/sources/GraftCommitSink.scala")
    def metaBody(lines: Seq[String]): Range = {
      val start = lines.indexWhere(_.startsWith("private[graft] object GraftCommitMeta {"))
      if (start < 0) 0 until 0 else start until lines.indexOf("}", start)
    }
    val files = scalaFiles("src/main/scala/graft")
    assert(files.contains(owner), s"$owner not found")
    assert(metaBody(Files.readAllLines(owner).asScala.toSeq).nonEmpty,
      s"GraftCommitMeta not found in $owner")
    val hits = for {
      f <- files
      lines = Files.readAllLines(f).asScala.toSeq
      allowed = if (f == owner) metaBody(lines) else 0 until 0
      (line, i) <- lines.zipWithIndex
      if line.contains("\"_GRAFT_COMMIT") && !allowed.contains(i)
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"manifest names outside GraftCommitMeta:\n${hits.mkString("\n")}")
  }

  test("only GraftSession builds sessions in src/main") {
    // one builder owns master, partitions, UTC and the codegen confs, so
    // the mains and the test session cannot drift apart again
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val files = scalaFiles("src/main/scala/graft")
      .filterNot(_.getFileName.toString == "GraftSession.scala")
    assert(files.nonEmpty, "no main sources found")
    val hits = for {
      f <- files
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("SparkSession.builder")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty,
      s"session builders outside GraftSession:\n${hits.mkString("\n")}")
  }

  test("one Lloyd update in src/main: struct(pos, cv) and def fdiv appear once each") {
    // every trained quantizer (flat, two-level, k-means, PQ) runs
    // Learn.lloyd; a second copy of its centroid recompute or of its
    // floor division would let the trainers drift apart again
    import java.nio.file.Files
    import scala.jdk.CollectionConverters._
    val files = scalaFiles("src/main/scala/graft")
    assert(files.nonEmpty, "no main sources found")
    for (needle <- Seq("struct(pos, cv)", "def fdiv")) {
      val hits = for {
        f <- files
        (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
        if line.contains(needle)
      } yield s"$f:${i + 1}: ${line.trim}"
      assert(hits.size === 1, s"`$needle` must appear exactly once:\n${hits.mkString("\n")}")
    }
  }
}
