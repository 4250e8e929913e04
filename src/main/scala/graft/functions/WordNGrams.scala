package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, Generator}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import graft.operators.TextOps

/** Native table-valued generator: word n-grams of a text column, one
  * output row per n-gram — the 2.10 taxonomy's missing species (scalar
  * Expression, Aggregator, TypedImperativeAggregate and planner
  * strategy all exist; this is the GENERATOR form, Spark's UDTF).
  *
  * `word_ngrams(text, n)` ≡ the composed pipeline
  * `posexplode(split(text)) → self-join n−1 times → concat_ws`, but as
  * ONE pass over the tokens with no intermediate array-of-structs
  * blowup: the n-token window slides in place and emits each gram as
  * it goes. Used by the shingling path (Dedup) where the composed form
  * is the dominant map-side cost at corpus scale.
  *
  * Whitespace-run tokenization matches TextOps.words / the reference
  * tokenizer (SURVEY.md §7.4): split on whitespace runs, drop empties.
  * The separator class is the EXPLICIT [ \t\n\f\r] — not the regex \s —
  * because Java's \s includes vertical tab (\x0B) while RE2's (the
  * DuckDB twin's engine) does not; the explicit class makes both
  * tokenizers identical by construction. Null or
  * too-short text yields no rows (SQL generator contract — LATERAL
  * VIEW OUTER resurrects the row if needed). `n` must be a foldable
  * positive integer: per-row n would make the output schema
  * data-dependent, which Generate cannot bind.
  */
case class WordNGrams(child: Expression, n: Expression)
    extends Expression with Generator with CodegenFallback {

  override def children: Seq[Expression] = Seq(child, n)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(s"word_ngrams needs a string column, got ${child.dataType}")
    else if (n.dataType != IntegerType || !n.foldable)
      TypeCheckResult.TypeCheckFailure("word_ngrams needs a literal integer n")
    else {
      val k = n.eval(null)
      if (k == null || k.asInstanceOf[Int] < 1)
        TypeCheckResult.TypeCheckFailure(s"word_ngrams n must be >= 1, got $k")
      else TypeCheckResult.TypeCheckSuccess
    }

  override def elementSchema: StructType =
    StructType(StructField("ngram", StringType, nullable = false) :: Nil)

  private lazy val k: Int = n.eval(null).asInstanceOf[Int]

  override def eval(input: InternalRow): IterableOnce[InternalRow] = {
    val t = child.eval(input)
    if (t == null) Iterator.empty
    else {
      val words = t.asInstanceOf[UTF8String].toString
        .split(TextOps.TokenSepRe).iterator.filter(_.nonEmpty).toArray
      if (words.length < k) Iterator.empty
      else new Iterator[InternalRow] {
        private[this] var i = 0
        private[this] val sb = new java.lang.StringBuilder
        override def hasNext: Boolean = i <= words.length - k
        override def next(): InternalRow = {
          sb.setLength(0)
          var j = 0
          while (j < k) {
            if (j > 0) sb.append(' ')
            sb.append(words(i + j))
            j += 1
          }
          i += 1
          InternalRow(UTF8String.fromString(sb.toString))
        }
      }
    }
  }

  override def prettyName: String = "word_ngrams"

  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0), n = newChildren(1))
}
