package graft.tools

import org.apache.spark.sql.functions._

import graft.GraftSession
import graft.operators.{Bpe, TextOps}

/** Artifact regeneration tool: learn the frozen BPE merge table +
  * alphabet from a corpus and write the classpath resource
  * [[graft.operators.Bpe.DefaultMerges]] loads. Run when the corpus
  * generation changes:
  *
  *   sbt "runMain graft.tools.LearnBpe /root/testdata/sf0.01 src/main/resources/graft/bpe_merges.txt 2048"
  *
  * Training corpus: the documents table UNIONED with every other
  * text-bearing testdata column — part names/types/brands, customer
  * and supplier names (digit-heavy `customer#000000123` strings, so
  * the learner meets real numeric subword structure), nation/region
  * names, and event type+props JSON fragments. The documents corpus
  * alone is a CLOSED 31-word vocabulary that saturates at 89 merges —
  * the composite makes the merge budget BINDING, the way a production
  * tokenizer's vocab size is a budget, not a saturation point.
  *
  * The merge budget is still a cap — the learner stops early if no
  * pair is left to merge. The alphabet line records every codepoint
  * of the composite lowercased token stream; codepoints outside it
  * take the applier's `<0xHH>` byte fallback. */
object LearnBpe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.lift(0).getOrElse("/root/testdata/sf0.01")
    val out = args.lift(1).getOrElse("src/main/resources/graft/bpe_merges.txt")
    val numMerges = args.lift(2).map(_.toInt).getOrElse(2048)
    val spark = GraftSession(GraftSession.cores(16))
    val tb = graft.sources.Tables(spark, sfDir)
    val corpus = tb.documents.select(col("text"))
      .unionByName(tb.part.select(
        concat_ws(" ", col("p_name"), col("p_type"), col("p_brand")).as("text")))
      .unionByName(tb.customer.select(col("c_name").as("text")))
      .unionByName(tb.supplier.select(col("s_name").as("text")))
      .unionByName(tb.nation.select(col("n_name").as("text")))
      .unionByName(tb.region.select(col("r_name").as("text")))
      .unionByName(tb.events.select(
        concat_ws(" ", col("event_type"), col("props")).as("text")))
    val merges = Bpe.learnMerges(corpus, numMerges)
    val alphabet = corpus
      .select(explode(TextOps.rawTokens(col("text"))).as("tok"))
      .select(explode(split(lower(col("tok")), "")).as("ch"))
      .where(length(col("ch")) > 0)
      .distinct().orderBy("ch")
      .collect().map(_.getString(0))
    spark.stop()
    val w = new java.io.PrintWriter(out, "UTF-8")
    try {
      w.println(s"# graft BPE artifact: learned from the $sfDir composite text corpus by graft.tools.LearnBpe")
      w.println(s"# merge budget $numMerges, learned ${merges.length} (budget-bound; saturation caps early only on a closed vocab)")
      w.println(s"alphabet\t${alphabet.mkString}")
      merges.foreach { case (l, r) => w.println(s"$l\t$r") }
    } finally w.close()
    println(s"wrote ${merges.length} merges + ${alphabet.length}-char alphabet to $out")
  }
}
