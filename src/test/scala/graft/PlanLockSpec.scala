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

  test("plans depend only on (session, sfDir): no env reads in queries/ or Tables") {
    // PLANS.lock and the benchmark's expected results assume one plan per
    // query; an environment switch would fork it. java.io.tmpdir sink
    // paths are deployment paths, not plan switches, and stay allowed.
    import java.nio.file.{Files, Path, Paths}
    import scala.jdk.CollectionConverters._
    val walk = Files.walk(Paths.get("src/main/scala/graft/queries"))
    val files: Seq[Path] =
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    assert(files.nonEmpty, "no query sources found")
    val hits = for {
      f <- files :+ Paths.get("src/main/scala/graft/Tables.scala")
      (line, i) <- Files.readAllLines(f).asScala.zipWithIndex
      if line.contains("sys.env") || line.contains("System.getenv")
    } yield s"$f:${i + 1}: ${line.trim}"
    assert(hits.isEmpty, s"environment reads in plan code:\n${hits.mkString("\n")}")
  }
}
