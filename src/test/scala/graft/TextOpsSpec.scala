package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.operators.TextOps

/** Tokenizer + wordcount semantics vs the reference
  * (map_reduce.cpp:152-236): ispunct stripping, lowercasing,
  * empty-token drop — plus the monoid law its shuffle+merge relies on. */
class TextOpsSpec extends AnyFunSuite {
  private lazy val spark = TestSpark.spark
  import spark.implicits._

  private def docs(texts: String*) =
    texts.zipWithIndex.map { case (t, i) => (i.toLong, t) }.toDF("doc_id", "text")

  private def counts(texts: String*): Map[String, Long] =
    TextOps.wordCount(docs(texts: _*)).collect().map(r => r.getString(0) -> r.getLong(1)).toMap

  /** Independent Scala reimplementation — the test oracle. */
  private def oracle(texts: Seq[String]): Map[String, Long] =
    texts
      .flatMap(_.split("\\s+"))
      .map(_.replaceAll("[!-/:-@\\[-`{-~]", "").toLowerCase)
      .filter(_.nonEmpty)
      .groupBy(identity).map { case (w, g) => w -> g.size.toLong }

  test("ispunct semantics: don't→dont, end.→end, co-op→coop, digits kept") {
    // fixture punct.txt of FIXTURES.md §1
    val m = counts("""don't end. co-op (a) [b] "c" 1,000 --""")
    assert(m === Map("dont" -> 1, "end" -> 1, "coop" -> 1, "a" -> 1, "b" -> 1, "c" -> 1, "1000" -> 1))
  }

  test("lowercase folding: The THE the → the:3") {
    assert(counts("The THE the") === Map("the" -> 3))
  }

  test("no 40-char truncation (reference bug deliberately not replicated)") {
    val w39 = "a" * 39; val w41 = "a" * 41
    assert(counts(s"$w39 $w41") === Map(w39 -> 1, w41 -> 1))
  }

  test("empty and whitespace-only docs contribute nothing") {
    assert(counts("", "   ", "\t\n") === Map.empty)
  }

  test("x8 replay = 8x counts (LOOP_OVER_DIRECTORY parity, map_reduce.cpp:36)") {
    val base = TextOps.wordCount(docs("x y x")).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    val x8 = TextOps.wordCountX8(docs("x y x")).collect().map(r => (r.getString(0), r.getLong(1))).toMap
    assert(x8 === base.map { case (k, v) => k -> v * 8 })
  }

  private val vocab = Vector("the", "Cat!", "dog", "1,000", "--", "co-op", "END.", "a", "Ünïcødé")
  private def randomText(rnd: scala.util.Random): String =
    Seq.fill(rnd.nextInt(12))(vocab(rnd.nextInt(vocab.size))).mkString(" ")

  test("property: wordcount equals independent oracle (seeded corpora)") {
    val rnd = new scala.util.Random(42)
    for (_ <- 1 to 10) {
      val texts = Seq.fill(1 + rnd.nextInt(5))(randomText(rnd))
      assert(counts(texts: _*) === oracle(texts))
    }
  }

  test("property: monoid law — count(a++b) == merge(count(a), count(b))") {
    val rnd = new scala.util.Random(7)
    for (_ <- 1 to 10) {
      val (a, b) = (randomText(rnd), randomText(rnd))
      val whole = oracle(Seq(a, b))
      val merged = (oracle(Seq(a)).toSeq ++ oracle(Seq(b)).toSeq)
        .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).sum }
      assert(whole === merged)
    }
  }

  /** The per-token formula `words` had before it cleaned each document
    * once: split, clean every token, drop the empty ones; keyed by
    * `doc_id`, the formula `docWords` replaced. */
  private def perTokenWords(df: org.apache.spark.sql.DataFrame) = {
    import org.apache.spark.sql.functions.{col, explode, length}
    df.select(col("doc_id"), explode(TextOps.tokens(col("text"))).as("tok"))
      .select(col("doc_id"), TextOps.cleanWord(col("tok")).as("word"))
      .where(length(col("word")) > 0)
  }

  // Every ispunct char, the 5 separators and \x0B (not a separator),
  // punctuation-only tokens, digits, and case mappings that are not
  // 1:1 or depend on context: Greek final sigma, dotted capital I
  // (one char lowercases to two), sharp s, a combining mark.
  private val pieces: Vector[String] =
    (('!' to '/') ++ (':' to '@') ++ ('[' to '`') ++ ('{' to '~')).map(_.toString).toVector ++
      Vector(" ", "\t", "\n", "\f", "\r", "\u000B") ++
      Vector("--", "...", "'\"", "(-)") ++
      Vector("0", "42", "1,000", "3.14") ++
      Vector("a", "Word", "END", "ΟΔΟΣ", "ΛΟΓΟΣ", "Σ", "σ", "İ", "İSTANBUL", "ß", "STRAẞE",
        "e\u0301", "\u0301", "É")

  private def randomDoc(rnd: scala.util.Random): String = {
    val ws = Vector("", " ", "\t", "\n ", "\r\n")
    val body = Seq.fill(rnd.nextInt(25))(pieces(rnd.nextInt(pieces.size))).mkString
    ws(rnd.nextInt(ws.size)) + body + ws(rnd.nextInt(ws.size))
  }

  test("property: words (clean each document, then split) == per-token clean, as multisets") {
    assert(pieces.count(_.matches(TextOps.IspunctClass)) === 32)
    for (seed <- Seq(1, 2, 3)) {
      val rnd = new scala.util.Random(seed)
      val texts = Seq("", " \t\n\f\r", "ΟΔΟΣ. ΛΟΓΟΣ\u000BΣ") ++ Seq.fill(300)(randomDoc(rnd))
      val df = docs(texts: _*)
      val perToken = perTokenWords(df)
      val keyed = perToken.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq
      val got = TextOps.words(df).collect().map(_.getString(0)).sorted.toSeq
      val want = keyed.map(_._2).sorted
      assert(got === want, s"seed $seed")
      val byDoc = TextOps.docWords(df)
      assert(byDoc.schema === perToken.schema, s"seed $seed")
      assert(byDoc.collect().map(r => (r.getLong(0), r.getString(1))).sorted.toSeq === keyed, s"seed $seed")
      // the generator reached the context-sensitive and growing mappings
      assert(want.exists(_.endsWith("ς")) && want.exists(_.contains("i\u0307")), s"seed $seed")
    }
  }

  // Byte-level pieces for the kernel: the string pieces above plus NBSP
  // and U+2019 (neither ASCII, so neither splits nor strips), a final
  // sigma before punctuation, and invalid UTF-8 (a lone continuation, a
  // truncated 2-, 3- and 4-byte lead, an overlong form, 0xFF) that the
  // random documents put next to punctuation and separators.
  private val bytePieces: Vector[Array[Byte]] =
    (pieces ++ Vector("\u00A0", "\u2019", "don\u2019t", "ΟΔΟΣ.", "ΟΔΟΣ,ΟΔΟΣ", "ΣΑΣ'", "a\u0308"))
      .map(_.getBytes("UTF-8")) ++
      Vector(Array(0x80), Array(0xC3), Array(0xE2, 0x82), Array(0xF0, 0x9F, 0x98), Array(0xC0, 0xAF),
        Array(0xFF), Array(0xE2, 0x82, '.'), Array('.', 0xC3), Array(0xC3, ' ', 'A'), Array('!', 0x80, '\t'))
        .map(_.map(_.toByte))

  private def randomBytes(rnd: scala.util.Random): Array[Byte] =
    Array.fill(rnd.nextInt(30))(bytePieces(rnd.nextInt(bytePieces.size))).flatten

  /** Documents as raw bytes cast to string, so invalid UTF-8 reaches the
    * kernel as it would from a file: null, empty, whitespace-only and
    * punctuation-only documents first, then seeded random ones. */
  private def byteDocs(seed: Int) = {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(seed)
    val fixed: Seq[Array[Byte]] = Seq(null, Array.emptyByteArray, " \t\n\f\r".getBytes("UTF-8"),
      "!-/:-@[-`{-~ ... --".getBytes("UTF-8"), "ΟΔΟΣ. ΛΟΓΟΣ\u000BΣ ΟΔΟΣ".getBytes("UTF-8"))
    (fixed ++ Seq.fill(300)(randomBytes(rnd))).zipWithIndex
      .map { case (b, i) => (i.toLong, b) }.toDF("doc_id", "raw")
      .select(col("doc_id"), col("raw").cast("string").as("text"))
  }

  /** The composed formula the kernel replaces. */
  private def composedClean(text: org.apache.spark.sql.Column) = {
    import org.apache.spark.sql.functions.{filter, length, transform}
    filter(transform(TextOps.tokens(text), t => TextOps.cleanWord(t)), w => length(w) > 0)
  }

  test("property: cleanTokens == filter(transform(tokens, cleanWord), non-empty), element by element") {
    import org.apache.spark.sql.functions.{col, filter, length, lower, split, transform}
    for (seed <- Seq(1, 2, 3)) {
      val text = col("text")
      val rows = byteDocs(seed)
        .select(col("doc_id"), TextOps.cleanTokens(text).as("got"), composedClean(text).as("want"),
          TextOps.rawTokens(text), filter(split(text, TextOps.TokenSepRe), t => length(t) > 0),
          // the BPE word shape: lower after the empty drop == lower, then drop
          transform(TextOps.rawTokens(text), t => lower(t)),
          filter(transform(TextOps.tokens(text), t => lower(t)), w => length(w) > 0))
        .collect()
      rows.foreach { r =>
        val Seq(got, want, raw, rawWant, low, lowWant) = (1 to 6).map(i => Option(r.getSeq[String](i)))
        assert(got === want, s"seed $seed doc ${r.getLong(0)}")
        assert(raw === rawWant, s"rawTokens, seed $seed doc ${r.getLong(0)}")
        assert(low === lowWant, s"lowered rawTokens, seed $seed doc ${r.getLong(0)}")
      }
      val all = rows.flatMap(r => Option(r.getSeq[String](2)).getOrElse(Nil))
      // the documents reached the context-sensitive, growing and invalid cases
      assert(all.exists(_.endsWith("ς")) && all.exists(_.contains("i\u0307")) &&
        all.exists(_.contains("\uFFFD")) && all.exists(_.contains("\u2019")), s"seed $seed")
      assert(rows.exists(_.isNullAt(1)))
    }
  }

  test("wordCount: rows and schema (nullability included) equal the explode + count formula") {
    import org.apache.spark.sql.functions.{col, count, explode, length, lit}
    for (seed <- Seq(1, 2)) {
      val df = byteDocs(seed)
      val got = TextOps.wordCount(df)
      // wordCount before the kernel: clean each document, split, count
      val want = df.select(explode(TextOps.tokens(TextOps.cleanWord(col("text")))).as("word"))
        .where(length(col("word")) > 0)
        .groupBy("word").agg(count(lit(1)).as("cnt"))
      assert(got.schema === want.schema)
      assert(got.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq ===
        want.collect().map(r => (r.getString(0), r.getLong(1))).sorted.toSeq, s"seed $seed")
    }
  }

  test("\\x0B is not a separator: c4LineFilter and anchorPageFromDocs split like the RE2 twin") {
    import graft.operators.{Html, TextQuality}
    // DuckDB: string_split_regex('a' || chr(11) || 'b c', '\s+') = ['a\x0bb', 'c'];
    // Java's \s would split at the \x0B as well
    val vt = "a\u000Bb"
    val lines = Seq((0L, 0, s"$vt c d e.")).toDF("doc_id", "pos", "line")
    val r = TextQuality.c4LineFilter(lines, minWords = 5).head()
    assert((r.getAs[Long]("n_lines"), r.getAs[Long]("n_kept")) === ((1L, 0L)), "4 words, not 5")
    val html = Html.anchorPageFromDocs(docs(s"$vt c")).head().getAs[String]("html")
    assert(html.contains(s">$vt 3</a>"), html)
    // whitespace collapse too: RE2's regexp_replace(x, '\s+', ' ') keeps the \x0B
    val anchor = Html.anchorTexts(Html.anchorPageFromDocs(docs(s"$vt c")))
      .where("dst = 3").head().getAs[String]("top_anchor")
    assert(anchor === s"$vt 3")
    val main = Html.extractMain(Seq((0L, s"<html><body><p> $vt\t c </p></body></html>"))
      .toDF("doc_id", "html")).head().getAs[String]("main_text")
    assert(main === s"$vt c")
  }

  test("clean_tokens resolves in SQL") {
    val r = spark.sql("SELECT clean_tokens('Don\\'t  STOP, me-now!') AS t").head()
    assert(r.getSeq[String](0) === Seq("dont", "stop", "menow"))
  }

  test("top-k is count-desc with word tie-break") {
    val rows = TextOps.wordCountTopK(docs("b b a a c"), 2).collect()
    assert(rows.map(_.getString(0)).toSeq === Seq("a", "b"))
  }

  test("vocabStats: counts and ratios match a hand computation") {
    // tokens: a a a b b c -> 6 tokens, 3 types, 1 hapax (c), max 3 (a)
    val r = TextOps.vocabStats(docs("a a a b b c")).head()
    assert((r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3)) === ((6L, 3L, 1L, 3L)))
    assert(r.getDouble(4) === 0.5)      // 3/6
    assert(r.getDouble(5) === 0.333333) // 1/3 rounded(6)
    assert(r.getDouble(6) === 0.5)      // 3/6
  }

  test("wordBurstiness: bursty word VMR > 1, flat word VMR < 1, floor applied") {
    // "hot" concentrates: counts (8, 1, 1) over 3 docs; "flat" appears
    // ~uniformly: (3, 3, 4); "rare" total 3 — under the floor of 10
    val fx = Seq(
      (1L, ("hot " * 8) + ("flat " * 3) + "rare"),
      (2L, "hot " + ("flat " * 3) + "rare"),
      (3L, "hot " + ("flat " * 4) + "rare")
    ).toDF("doc_id", "text")
    val got = TextOps.wordBurstiness(fx, minCf = 10).collect()
      .map(r => r.getString(0) -> ((r.getLong(1), r.getLong(2), r.getDouble(3), r.getDouble(4)))).toMap
    assert(got.keySet === Set("hot", "flat"))
    val (dfH, cfH, meanH, vmrH) = got("hot")
    // mean 10/3; var = (66 - 10·10/3)/3 = 32.666667/3; vmr = var/mean = 3.266667
    assert(dfH === 3L && cfH === 10L && meanH === 3.333333)
    assert(vmrH === 3.266667)
    val (_, _, _, vmrF) = got("flat")
    assert(vmrF < 0.2, s"flat word VMR $vmrF")   // (9+9+16-100/3)/3 / (10/3) = 0.0666…
  }
}
