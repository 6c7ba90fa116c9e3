package graft

import org.apache.spark.sql.SparkSession
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

abstract class SparkSpec extends AnyFunSuite {
  // lazy val (not def): `import spark.implicits._` needs a stable
  // identifier; evaluated at the suite's first test, and suites run
  // sequentially, so a post-ResilienceSpec suite binds the rebuilt session
  lazy val spark: SparkSession = TestSession.spark
  val sf: String = TestSession.sf
}
