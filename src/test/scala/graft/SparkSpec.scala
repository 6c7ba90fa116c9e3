package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

/** Shared local session for all specs (one JVM-wide session keeps total
  * suite time down; Spark sessions are designed to be shared). `spark` is
  * a def through getOrCreate — cheap when the context is alive, and it
  * transparently rebuilds after a suite that must own the SparkContext
  * (ResilienceSpec's retry-enabled master) stops it. */
object TestSession {
  def spark: SparkSession =
    // reuse the live session untouched (getOrCreate would RE-APPLY the
    // builder configs on every access, silently reverting any conf a
    // test tuned on the shared session); run the builder only when no
    // usable context exists — i.e. right after ResilienceSpec's takeover
    SparkSession.getActiveSession
      .orElse(SparkSession.getDefaultSession)
      .filter(s => !s.sparkContext.isStopped)
      .getOrElse {
        val s = GraftSession.builder(4).appName("graft-tests").getOrCreate()
        s.sparkContext.setLogLevel("ERROR")
        s
      }
  val sf: String = "/root/testdata/sf0.001"
}

abstract class SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  // lazy val (not def): `import spark.implicits._` needs a stable
  // identifier; evaluated at the suite's first test, and suites run
  // sequentially, so a post-ResilienceSpec suite binds the rebuilt session
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf

  private val scratchDirs =
    scala.collection.mutable.ArrayBuffer.empty[java.nio.file.Path]

  /** A fresh, empty directory for one test's tables, sources, sinks or
    * checkpoints. `createTempDirectory` names it uniquely, so two test
    * JVMs on one host never share or wipe each other's directories. The
    * suite removes them when it ends. */
  def scratchDir(tag: String): String = {
    val d = java.nio.file.Files.createTempDirectory(s"graft_${tag}_")
    scratchDirs += d
    d.toString
  }

  override def afterAll(): Unit =
    try scratchDirs.foreach(d =>
      org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}
