package graft

import org.apache.spark.sql.SparkSessionExtensions
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo}
import graft.functions.{CleanTokens, DamerauLevenshtein, DeflateSize, JaroWinkler, NfcNormalize, UrlResolve, VecDot, VecSelfDotRule, WordNGrams}

/** SparkSessionExtensions entry point: registers the engine's native
  * Catalyst expressions as SQL functions, so `spark.sql("... vec_dot
  * (a, b) ...")` works next to the Column API, and injects the
  * engine's optimizer rules (VecSelfDotRule: self-dot-product →
  * squared-norm specialization). [[GraftSession]] attaches it; outside
  * graft attach with `--conf spark.sql.extensions=graft.GraftExtensions`.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    ext.injectFunction((
      FunctionIdentifier("vec_dot"),
      new ExpressionInfo(classOf[VecDot].getName, "vec_dot"),
      (exprs: Seq[Expression]) => VecDot(exprs(0), exprs(1))))
    // Spark ships bloom_filter_agg / might_contain as optimizer-internal
    // expressions without registering them; surface them in SQL (the
    // filter operand of might_contain must be a constant or an
    // uncorrelated scalar subquery — Spark's own constraint)
    ext.injectFunction((
      FunctionIdentifier("bloom_filter_agg"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate].getName,
        "bloom_filter_agg"),
      (exprs: Seq[Expression]) => exprs match {
        case Seq(c) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c)
        case Seq(c, n) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n)
        case Seq(c, n, b) => new org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate(c, n, b)
        case _ => throw new IllegalArgumentException("bloom_filter_agg(col[, items[, bits]])")
      }))
    ext.injectFunction((
      FunctionIdentifier("might_contain"),
      new ExpressionInfo(
        classOf[org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain].getName,
        "might_contain"),
      (exprs: Seq[Expression]) =>
        org.apache.spark.sql.catalyst.expressions.BloomFilterMightContain(exprs(0), exprs(1))))
    // deflate length (the compression-ratio quality gate's kernel)
    ext.injectFunction((
      FunctionIdentifier("deflate_size"),
      new ExpressionInfo(classOf[DeflateSize].getName, "deflate_size"),
      (exprs: Seq[Expression]) => DeflateSize(exprs(0))))
    // Unicode NFC normalization (no Spark built-in); same SQL name as
    // DuckDB's, so the oracle twin is the literal same call
    ext.injectFunction((
      FunctionIdentifier("nfc_normalize"),
      new ExpressionInfo(classOf[NfcNormalize].getName, "nfc_normalize"),
      (exprs: Seq[Expression]) => NfcNormalize(exprs(0))))
    // table-valued generator (UDTF): word n-grams, one row per gram
    ext.injectFunction((
      FunctionIdentifier("word_ngrams"),
      new ExpressionInfo(classOf[WordNGrams].getName, "word_ngrams"),
      (exprs: Seq[Expression]) => WordNGrams(exprs(0), exprs(1))))
    // the reference tokenizer in one byte pass: cleaned, non-empty
    // tokens in order (TextOps.cleanTokens)
    ext.injectFunction((
      FunctionIdentifier("clean_tokens"),
      new ExpressionInfo(classOf[CleanTokens].getName, "clean_tokens"),
      (exprs: Seq[Expression]) => CleanTokens(exprs(0))))
    // true (unrestricted) Damerau-Levenshtein — Spark ships plain
    // levenshtein only; DuckDB's SQL name, exact-integer oracle
    ext.injectFunction((
      FunctionIdentifier("damerau_levenshtein"),
      new ExpressionInfo(classOf[DamerauLevenshtein].getName, "damerau_levenshtein"),
      (exprs: Seq[Expression]) => DamerauLevenshtein(exprs(0), exprs(1))))
    // Jaro-Winkler similarity (no Spark built-in); same SQL name and
    // RapidFuzz semantics as DuckDB's, so oracle twins are the
    // literal same call comparing raw doubles
    ext.injectFunction((
      FunctionIdentifier("jaro_winkler_similarity"),
      new ExpressionInfo(classOf[JaroWinkler].getName, "jaro_winkler_similarity"),
      (exprs: Seq[Expression]) => JaroWinkler(exprs(0), exprs(1))))
    // crawl URL reference resolution + canonicalization (no Spark
    // built-in; parse_url only dissects absolute URLs and is
    // CodegenFallback) — oracle twins are closed-form, no DuckDB replay
    ext.injectFunction((
      FunctionIdentifier("url_resolve"),
      new ExpressionInfo(classOf[UrlResolve].getName, "url_resolve"),
      (exprs: Seq[Expression]) => UrlResolve(exprs(0), exprs(1))))
    ext.injectOptimizerRule(_ => VecSelfDotRule)
    ext.injectPlannerStrategy(_ => graft.plans.GroupedTopKStrategy)
  }
}
