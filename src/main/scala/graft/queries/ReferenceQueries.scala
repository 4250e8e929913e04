package graft
package queries

import org.apache.spark.sql.functions._
import graft.operators._
import graft.QuerySpec.Q
import graft.SparkEntry._
import graft.queries.Twins._

/** The reference surface: the paper's word count and its vocabulary
  * statistics (SURVEY.md §2 [REF] rows). */
object ReferenceQueries {
  val specs: Seq[QuerySpec] = Seq(
    Q("wordcount", (s, d) => TextOps.wordCount(t(s, d).documents).orderBy("word"))(
      s"$W SELECT word, count(*) AS cnt FROM w WHERE length(word) > 0 GROUP BY word ORDER BY word"),
    // tokenizer/embedding-table sizing: token-occurrence mass covered
    // by the N most frequent words, per candidate cutoff — integer-
    // exact ppm; rank + cumulative mass through the adaptive
    // TotalOrder devices (a 100 TB vocabulary never takes a global
    // ORDER BY window). Fixture cutoffs sized to the synthetic vocab
    // (31 words) so the curve has real shape, saturation included
    Q("vocab_coverage_curve", (s, d) =>
      graft.operators.TextQuality.vocabCoverageCurve(t(s, d).documents,
        cutoffs = Seq(4L, 8L, 16L, 32L, 64L)).orderBy("vocab_size"))(
      // rank by (cnt desc, word), cumulative occurrence mass, per-cutoff
      // max — the whole curve in exact integers; the ppm scale-up runs
      // in HUGEINT (Spark: DECIMAL(38,0)) so a 100 TB token total
      // cannot wrap the 64-bit multiply on either engine
      s"""$WDoc,
         | c AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
         | tot AS (SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c),
         | r AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS rk FROM c),
         | cum AS (SELECT rk, CAST(sum(cnt) OVER (ORDER BY rk) AS BIGINT) AS cum FROM r),
         | cuts(vocab_size) AS (VALUES (4),(8),(16),(32),(64))
         |SELECT CAST(vocab_size AS BIGINT) AS vocab_size, max(cum) AS covered,
         | (SELECT total FROM tot) AS total,
         | CAST((CAST(max(cum) AS HUGEINT) * 1000000) // (SELECT total FROM tot) AS BIGINT) AS covered_ppm
         |FROM cum JOIN cuts ON rk <= vocab_size
         |GROUP BY 1 ORDER BY 1""".stripMargin),
    // Zipf's-law fit: OLS slope of ln(freq) on ln(rank) over the
    // rank-frequency curve — the one-number corpus-health check
    // (natural text ≈ −1; template spam and synthetic padding bend
    // it). Rank comes from TotalOrder.globalRank — the vocabulary
    // relation is unbounded at corpus scale, so no ORDER BY window —
    // and every log term is rounded(12) and DECIMAL-summed with one
    // fixed-association double finish (the trend_slopes discipline)
    Q("zipf_fit", (s, d) => {
      val dec = org.apache.spark.sql.types.DecimalType(28, 12)
      val wc = TextOps.wordCount(t(s, d).documents)
      val ranked = TotalOrder.globalRankAuto(wc,
        Seq(col("cnt").desc, col("word").asc), rankCol = "r")
      val terms = ranked.select(
        round(log(col("r").cast("double")), 12).cast(dec).as("x"),
        round(log(col("cnt").cast("double")), 12).cast(dec).as("y"),
        round(log(col("r").cast("double")) * log(col("cnt").cast("double")), 12).cast(dec).as("xy"),
        round(log(col("r").cast("double")) * log(col("r").cast("double")), 12).cast(dec).as("xx"))
      val m = terms.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("xy")).as("sxy"), sum(col("xx")).as("sxx"))
      val slope = (col("n").cast("double") * col("sxy").cast("double")
        - col("sx").cast("double") * col("sy").cast("double")) /
        (col("n").cast("double") * col("sxx").cast("double")
          - col("sx").cast("double") * col("sx").cast("double"))
      m.select(col("n").as("n_words"), round(slope, 6).as("slope"),
        round((col("sy").cast("double") - slope * col("sx").cast("double"))
          / col("n").cast("double"), 6).as("intercept"))
    })(
      // identical rounded-log terms DECIMAL-summed; slope/intercept the
      // same fixed-association double ops (the trend_slopes device);
      // the twin's row_number window is the single-task sort globalRank
      // replaces
      s"""$WDoc,
         | wc AS (SELECT word, count(*) AS cnt FROM w GROUP BY 1),
         | rk AS (SELECT cnt, row_number() OVER (ORDER BY cnt DESC, word) AS r FROM wc),
         | t AS (SELECT
         |   CAST(round(ln(CAST(r AS DOUBLE)), 12) AS DECIMAL(28,12)) AS x,
         |   CAST(round(ln(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(28,12)) AS y,
         |   CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(cnt AS DOUBLE)), 12) AS DECIMAL(28,12)) AS xy,
         |   CAST(round(ln(CAST(r AS DOUBLE)) * ln(CAST(r AS DOUBLE)), 12) AS DECIMAL(28,12)) AS xx
         |   FROM rk),
         | m AS (SELECT count(*) AS n, sum(x) AS sx, sum(y) AS sy, sum(xy) AS sxy, sum(xx) AS sxx FROM t),
         | f AS (SELECT n, sx, sy,
         |   (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         |     / (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) AS slope
         |   FROM m)
         |SELECT CAST(n AS BIGINT) AS n_words, round(slope, 6) AS slope,
         | round((CAST(sy AS DOUBLE) - slope * CAST(sx AS DOUBLE)) / CAST(n AS DOUBLE), 6) AS intercept
         |FROM f""".stripMargin),
    Q("wordcount_top100", (s, d) => TextOps.wordCountTopK(t(s, d).documents, 100))(
      wordcountTop100TwinSql),
    Q("wordcount_x8", (s, d) => TextOps.wordCountX8(t(s, d).documents).orderBy("word"))(
      s"$W SELECT word, count(*) * 8 AS cnt FROM w WHERE length(word) > 0 GROUP BY word ORDER BY word"),
    Q("distinct_words", (s, d) => TextOps.distinctWords(t(s, d).documents).orderBy("word"))(
      s"$W SELECT DISTINCT word FROM w WHERE length(word) > 0 ORDER BY word"),
    Q("word_lengths_hist", (s, d) => TextOps.wordLengthHist(t(s, d).documents).orderBy("len"))(
      s"""$W SELECT CAST(length(word) AS INTEGER) AS len, count(*) AS cnt
         | FROM w WHERE length(word) > 0 GROUP BY len ORDER BY len""".stripMargin))
}
