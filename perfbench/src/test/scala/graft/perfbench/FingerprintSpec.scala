package graft.perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class FingerprintSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("k", LongType), StructField("v", DoubleType),
    StructField("tags", ArrayType(StringType))))
  private val rows = Seq(
    Row(1L, 0.5, Seq("a", "b")), Row(2L, 1.25, Seq.empty[String]),
    Row(3L, null, Seq("c")), Row(2L, 1.25, Seq.empty[String]))

  test("the fingerprint does not depend on row order") {
    val fp = Fingerprint.of(schema, rows)
    rows.permutations.foreach(p => assert(Fingerprint.of(schema, p) == fp))
  }

  test("a changed, missing or extra row changes the fingerprint") {
    val fp = Fingerprint.of(schema, rows)
    assert(Fingerprint.of(schema, rows.updated(0, Row(1L, 0.75, Seq("a", "b")))) != fp)
    assert(Fingerprint.of(schema, rows.updated(0, Row(1L, 0.5, Seq("b", "a")))) != fp)
    assert(Fingerprint.of(schema, rows.init) != fp)
    assert(Fingerprint.of(schema, rows :+ rows.head) != fp)
  }

  test("moving a value between rows changes the fingerprint") {
    val a = Seq(Row(1L, 1.0, Seq("x")), Row(2L, 2.0, Seq("y")))
    val b = Seq(Row(1L, 2.0, Seq("x")), Row(2L, 1.0, Seq("y")))
    assert(Fingerprint.of(schema, a) != Fingerprint.of(schema, b))
  }

  test("last-bit drift of a floating sum is the same result") {
    val a = Seq(Row(1L, 0.1 + 0.2 + 0.3, Seq()))
    val b = Seq(Row(1L, 0.3 + 0.2 + 0.1, Seq()))
    assert((0.1 + 0.2 + 0.3) != (0.3 + 0.2 + 0.1))
    assert(Fingerprint.of(schema, a) == Fingerprint.of(schema, b))
  }

  test("the column names and types are part of the fingerprint") {
    val renamed = StructType(schema.fields.updated(0, StructField("key", LongType)))
    assert(Fingerprint.of(renamed, rows) != Fingerprint.of(schema, rows))
  }

  test("timestamps render the same in every JVM time zone") {
    val t = java.sql.Timestamp.from(java.time.Instant.parse("2024-01-01T00:00:11.172425Z"))
    assert(Fingerprint.render(t) == "2024-01-01T00:00:11.172425Z")
  }
}
