package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, GenericInternalRow, Literal, Lower, RegExpReplace, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.TextOps

/** The reference tokenizer (map_reduce.cpp:152-236) as ONE pass over a
  * document's UTF-8 bytes: split on [[TextOps.TokenSepRe]]'s bytes
  * `[ \t\n\f\r]`, drop the bytes of [[TextOps.IspunctClass]], lowercase
  * `A`–`Z`, never yield an empty token. It yields exactly
  * `filter(transform(TextOps.tokens(text), TextOps.cleanWord), length > 0)`,
  * in order, without the regex split, the regex strip, `lower` and their
  * UTF-8 ↔ `String` round trips.
  *
  * Why it is exact:
  *  - The separators and the `ispunct` bytes are ASCII, and no byte of
  *    a multi-byte UTF-8 sequence is ASCII, so splitting and stripping
  *    bytes is splitting and stripping characters.
  *  - A token with a byte ≥ 0x80 is cleaned by [[TextOps.cleanWord]]'s
  *    own expression (`lower(regexp_replace(tok, IspunctClass, ""))`),
  *    evaluated on that token alone. Per-token lowering equals
  *    per-document lowering because no case context crosses a token:
  *    the separators are neither cased nor case-ignorable (Greek final
  *    sigma, say, looks only at letters and case-ignorable marks next
  *    to it), and the strip runs before `lower` either way. Invalid
  *    UTF-8 decodes to the same U+FFFD run either way, since a decoder
  *    never swallows an ASCII byte into a malformed sequence.
  *  - Such a token never cleans to empty: it holds a character that is
  *    not ASCII punctuation (at worst a U+FFFD).
  *
  * `TextOpsSpec` compares it with the composed Spark formula. */
object CleanTokenizer {
  private final val Keep: Byte = 0
  private final val Upper: Byte = 1
  private final val Punct: Byte = 2
  private final val Sep: Byte = 3
  private final val High: Byte = 4

  /** Byte class of each byte value, derived from the two regexes so the
    * kernel cannot drift from [[TextOps.cleanWord]] and [[TextOps.tokens]]. */
  private val byteClass: Array[Byte] = Array.tabulate(256) { b =>
    val s = b.toChar.toString
    if (b >= 0x80) High
    else if (s.matches(TextOps.TokenSepRe)) Sep
    else if (s.matches(TextOps.IspunctClass)) Punct
    else if (b >= 'A' && b <= 'Z') Upper
    else Keep
  }

  /** Every cleaned token of `doc`, in order. The tokens are written
    * back to back into one buffer and share its bytes: the buffer is
    * new per document and never written again once it is returned. */
  def tokens(doc: UTF8String, cleaner: NonAsciiCleaner): GenericArrayData = {
    val base = doc.getBaseObject
    val off = doc.getBaseOffset
    val n = doc.numBytes
    var buf = new Array[Byte](math.max(n, 16))
    var starts = new Array[Int](16)
    var k = 0   // tokens kept
    var pos = 0 // end of the kept tokens in buf
    var i = 0   // read position in doc
    while (i < n) {
      while (i < n && byteClass(Platform.getByte(base, off + i) & 0xff) == Sep) i += 1
      val start = i
      // the ASCII bytes a token writes are bounded by the bytes left
      if (pos + n - i > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(pos + n - i, 2 * buf.length))
      var w = pos
      var high = false
      var inToken = true
      while (inToken && i < n) {
        val b = Platform.getByte(base, off + i)
        val c = byteClass(b & 0xff)
        if (c == Sep) inToken = false
        else {
          if (c == Keep) { buf(w) = b; w += 1 }
          else if (c == Upper) { buf(w) = (b + 32).toByte; w += 1 }
          else if (c == High) high = true
          i += 1
        }
      }
      if (high) {
        val cleaned = cleaner(UTF8String.fromAddress(base, off + start, i - start))
        val m = cleaned.numBytes
        if (pos + m + n - i > buf.length) buf = java.util.Arrays.copyOf(buf, math.max(pos + m + n - i, 2 * buf.length))
        Platform.copyMemory(cleaned.getBaseObject, cleaned.getBaseOffset,
          buf, Platform.BYTE_ARRAY_OFFSET + pos, m)
        w = pos + m
      }
      if (w > pos) {
        if (k == starts.length) starts = java.util.Arrays.copyOf(starts, 2 * k)
        starts(k) = pos
        k += 1
        pos = w
      }
    }
    val out = new Array[Any](k)
    var j = 0
    while (j < k) {
      val end = if (j + 1 < k) starts(j + 1) else pos
      out(j) = UTF8String.fromAddress(buf, Platform.BYTE_ARRAY_OFFSET + starts(j), end - starts(j))
      j += 1
    }
    new GenericArrayData(out)
  }
}

/** [[TextOps.cleanWord]] as a bound Catalyst expression over one token,
  * for the tokens [[CleanTokenizer]] does not clean byte by byte.
  * Stateful (the regex cache, the input row): one per task. */
final class NonAsciiCleaner {
  private[this] val row = new GenericInternalRow(1)
  private[this] val expr = Lower(RegExpReplace(
    BoundReference(0, StringType, nullable = false),
    Literal(TextOps.IspunctClass), Literal("")))
  def apply(token: UTF8String): UTF8String = {
    row.update(0, token)
    expr.eval(row).asInstanceOf[UTF8String]
  }
}

/** `clean_tokens(text)`: the cleaned, non-empty tokens of `text` in
  * order, as `array<string>` (see [[CleanTokenizer]]). Null → null.
  * Column API: [[TextOps.cleanTokens]]. */
case class CleanTokens(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case _: StringType => TypeCheckResult.TypeCheckSuccess
    case t => TypeCheckResult.TypeCheckFailure(s"clean_tokens requires string, got $t")
  }

  override def dataType: DataType = ArrayType(StringType, containsNull = false)

  override def prettyName: String = "clean_tokens"

  @transient private lazy val cleaner = new NonAsciiCleaner

  override def nullSafeEval(input: Any): Any =
    CleanTokenizer.tokens(input.asInstanceOf[UTF8String], cleaner)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val cleanerTerm = ctx.addMutableState(classOf[NonAsciiCleaner].getName,
      "cleaner", v => s"$v = new ${classOf[NonAsciiCleaner].getName}();")
    nullSafeCodeGen(ctx, ev, c =>
      s"${ev.value} = graft.functions.CleanTokenizer.tokens($c, $cleanerTerm);")
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}
