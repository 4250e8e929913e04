package perfbench

import java.nio.charset.StandardCharsets.UTF_8
import java.security.MessageDigest

import org.apache.spark.sql.Row
import org.apache.spark.sql.types.StructType

/** Order-insensitive digest of a query result: the schema plus the
  * multiset of rows. Each row is rendered canonically and hashed with
  * SHA-256; the digest is the row count and the two 64-bit lane sums
  * of those hashes, so any permutation of the rows gives the same
  * digest while a changed, lost or duplicated row does not. */
object Digest {

  def of(schema: StructType, rows: Iterable[Row]): String = {
    var a = 0L
    var b = 0L
    var n = 0L
    rows.foreach { r =>
      val h = sha256(render(r))
      a += java.nio.ByteBuffer.wrap(h, 0, 8).getLong
      b += java.nio.ByteBuffer.wrap(h, 8, 8).getLong
      n += 1
    }
    val s = java.lang.Long.toHexString(java.nio.ByteBuffer.wrap(sha256(schema.catalogString)).getLong)
    f"$s-$n-$a%016x$b%016x"
  }

  private def sha256(s: String): Array[Byte] =
    MessageDigest.getInstance("SHA-256").digest(s.getBytes(UTF_8))

  /** Exact text of a value: doubles by their shortest round-trip form,
    * nested arrays, maps and structs element by element, map entries
    * sorted so the map's own iteration order does not leak in. */
  def render(v: Any): String = v match {
    case null => "␀"
    case r: Row => r.toSeq.map(render).mkString("(", "\u001f", ")")
    case bs: Array[Byte] => bs.map(x => f"$x%02x").mkString("0x", "", "")
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => render(k) + "->" + render(x) }.sorted.mkString("{", "\u001f", "}")
    case s: scala.collection.Seq[_] => s.map(render).mkString("[", "\u001f", "]")
    case d: java.lang.Double => java.lang.Double.toString(d)
    case f: java.lang.Float => java.lang.Float.toString(f)
    case bd: java.math.BigDecimal => bd.toPlainString
    case other => other.toString
  }
}
