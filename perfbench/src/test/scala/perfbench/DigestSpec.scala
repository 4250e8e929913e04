package perfbench

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._
import org.scalatest.funsuite.AnyFunSuite

class DigestSpec extends AnyFunSuite {
  private val schema = StructType(Seq(
    StructField("id", LongType), StructField("score", DoubleType),
    StructField("tags", ArrayType(StringType))))
  private val rows = Seq(
    Row(1L, 0.5, Seq("a", "b")), Row(2L, 0.25, Seq.empty[String]),
    Row(3L, null, Seq("c")), Row(3L, null, Seq("c")))

  test("the digest ignores row order") {
    val d = Digest.of(schema, rows)
    assert(Digest.of(schema, rows.reverse) == d)
    assert(Digest.of(schema, scala.util.Random.shuffle(rows)) == d)
  }

  test("a changed, lost or duplicated row changes the digest") {
    val d = Digest.of(schema, rows)
    assert(Digest.of(schema, rows.updated(0, Row(1L, 0.5000001, Seq("a", "b")))) != d)
    assert(Digest.of(schema, rows.dropRight(1)) != d)
    assert(Digest.of(schema, rows :+ rows.head) != d)
    assert(Digest.of(schema, rows.updated(0, Row(1L, 0.5, Seq("b", "a")))) != d)
  }

  test("the schema is part of the digest") {
    val renamed = StructType(schema.fields.updated(0, StructField("key", LongType)))
    assert(Digest.of(renamed, rows) != Digest.of(schema, rows))
  }
}
