package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Above-the-cutover measurement harness (VERDICT r15 task 2): every
  * adaptive TeraSort/hashed branch in the engine is VALUE-proven by
  * branch-equality specs but, at fixture scale (sf0.1 tops out ~15k
  * documents), only ever perf-measured on its fused side —
  * [[graft.operators.TotalOrder.WindowCutover]] (4M rows) is never
  * crossed. This main synthesizes a >cutover scored relation from
  * sf0.1 documents (the ×N replay device: crossJoin(range) +
  * xxhash64-derived continuous scores, written to parquet so both
  * arms read identical bytes and footer row bounds work), then times
  * BOTH arms of each adaptive operator on it, plus the AQE skew-join
  * path on a 90%-one-key relation. Results print as one JSON line per
  * measurement; the round's BENCH_NOTES records them. Not part of the
  * bench suite — run on demand:
  * `runMain graft.CutoverBench [rows] [belowRows]`. */
object CutoverBench {

  private def fmt(v: Double): String =
    String.format(java.util.Locale.ROOT, "%.3f", Double.box(v))

  /** Times the FULL computation: a bare count() lets ColumnPruning
    * drop an unused window/rank column and the "measurement" degrades
    * to a footer count (observed: 0.29s for the 8M-row window arm
    * while the checkpointed TeraSort arm paid its real cost), so the
    * forced aggregate consumes `forceCol` — the computed column — and
    * no arm can be optimized away. */
  private def time(label: String, forceCol: String, df: => DataFrame): Double = {
    def once: Double = {
      val t0 = System.nanoTime()
      df.agg(count(lit(1)), sum(col(forceCol).cast("double"))).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val (a, b) = (once, once)
    val best = math.min(a, b)
    println(s"""{"cutover_bench":"$label","best_sec":${fmt(best)},"reps":[${fmt(a)},${fmt(b)}]}""")
    System.out.flush()
    best
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val nums = args.filterNot(_.startsWith("--"))
    val rowsAbove = nums.lift(0).map(_.toLong).getOrElse(8000000L)
    val rowsBelow = nums.lift(1).map(_.toLong).getOrElse(1000000L)
    val spark = GraftSession(GraftSession.cores(32))
    import graft.operators.{Corpus, TotalOrder}

    /** ×N replay: a continuous-score relation of ~`rows` rows grounded
      * in the sf0.1 documents ids, one parquet write so every arm
      * reads the same files (and statRowBound resolves from footers). */
    def synth(rows: Long, path: String): DataFrame = {
      val docs = spark.read.parquet(s"$sfDir/documents.parquet").select("doc_id")
      val nDocs = docs.count()
      val mult = math.max(1L, rows / math.max(1L, nDocs))
      docs.crossJoin(spark.range(mult))
        .select((col("doc_id") * mult + col("id")).as("id"))
        .withColumn("score",
          pmod(xxhash64(col("id")), lit(1000000007L)).cast("double") / 1e9)
        .withColumn("lang", pmod(xxhash64(col("id"), lit(7)), lit(7L)).cast("string"))
        .withColumn("one", lit(1L))
        .write.mode("overwrite").parquet(path)
      spark.read.parquet(path)
    }

    val skewOnly = args.contains("--skew")
    for ((rows, tag) <- Seq((rowsAbove, "above"), (rowsBelow, "below"))
         if !skewOnly) {
      val rel = synth(rows, s"/tmp/graft_cutover_$tag")
      val n = rel.count()
      println(s"""{"cutover_bench":"synth_$tag","rows":$n}""")
      val sort = Seq(col("score"), col("id"))
      // forcing: cutover=MaxValue pins the fused/window arm,
      // cutover=1 pins the TeraSort arm — same input either way
      time(s"global_rank_window_$tag", "global_rank",
        TotalOrder.globalRankAuto(rel, sort, cutover = Long.MaxValue))
      time(s"global_rank_terasort_$tag", "global_rank",
        TotalOrder.globalRankAuto(rel, sort, cutover = 1L))
      time(s"prefix_sum_window_$tag", "cum",
        TotalOrder.prefixSumAuto(rel, sort, Seq(("one", "cum")), cutover = Long.MaxValue))
      time(s"prefix_sum_terasort_$tag", "cum",
        TotalOrder.prefixSumAuto(rel, sort, Seq(("one", "cum")), cutover = 1L))
      // the quantile filter's two plan shapes: the broadcast join-back
      // (fused) vs the threshold-cut + distributed join-back (large);
      // sizeHint pins the branch without a count job
      time(s"quantile_filter_fused_$tag", "pr",
        Corpus.quantileFilterByScore(rel.drop("one"), keep = 0.5,
          strataCol = "lang", sizeHint = Some(n), cutover = Long.MaxValue))
      time(s"quantile_filter_terasort_$tag", "pr",
        Corpus.quantileFilterByScore(rel.drop("one"), keep = 0.5,
          strataCol = "lang", sizeHint = Some(n), cutover = 1L))
    }

    // AQE skew path: 90% of the big side lands on one key; broadcast
    // is disabled so the join stays sort-merge and OptimizeSkewedJoin
    // must split the hot partition. The probe carries one row per key
    // (join output stays big-side-sized). Executed through its OWN
    // QueryExecution so the final adaptive plan is inspectable.
    // AQE splits a skewed REDUCE partition at MAP boundaries only: the
    // synth fixture lands as ONE parquet file (one row group — one
    // effective map), which makes the hot partition unsplittable
    // (createSkewPartitionSpecs = None, "left 0" despite a 229MB max).
    // Real inputs arrive as thousands of files/maps — model that by
    // materializing the skewed side as 64 files; the payload columns
    // keep the shuffled rows incompressible like real content (the
    // first attempt's constant-key + sequential-id rows lz4-compressed
    // under the skew threshold)
    spark.read.parquet("/tmp/graft_cutover_above")
      .withColumn("k", when(pmod(xxhash64(col("id"), lit(13)), lit(10)) < 9, lit(0L))
        .otherwise(pmod(xxhash64(col("id"), lit(17)), lit(100L))))
      .withColumn("p1", xxhash64(col("id"), lit(101)))
      .withColumn("p2", xxhash64(col("id"), lit(103)))
      .withColumn("p3", xxhash64(col("id"), lit(107)))
      .repartition(64, col("id"))
      .write.mode("overwrite").parquet("/tmp/graft_cutover_skew")
    val big = spark.read.parquet("/tmp/graft_cutover_skew")
    val probe = spark.range(100L).select(col("id").as("k"), (col("id") * 3).as("pid"))
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    // AQE has its OWN broadcast threshold that silently converts the
    // SMJ to a broadcast join at runtime (making the skew question
    // moot) — disable it too, or the split logic never sees the join
    spark.conf.set("spark.sql.adaptive.autoBroadcastJoinThreshold", "-1")
    // the hot partition is ~230MB — under no circumstances tiny, but
    // scale the 256MB default thresholds to the fixture so the split
    // logic engages at this size (a real cluster hits the defaults at
    // real sizes)
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "16MB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8MB")
    def skewRun(label: String): String = {
      val qe = big.join(probe, Seq("k"))
        .select(col("id"), col("pid"), col("p1"), col("p2"), col("p3"))
        .queryExecution
      val t0 = System.nanoTime()
      val n = qe.toRdd.count()
      val sec = (System.nanoTime() - t0) / 1e9
      println(s"""{"cutover_bench":"$label","best_sec":${fmt(sec)},"rows":$n}""")
      System.out.flush()
      qe.executedPlan.toString
    }
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "false")
    skewRun("skew_join_aqe_off")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    org.apache.logging.log4j.core.config.Configurator.setLevel(
      "org.apache.spark.sql.execution", org.apache.logging.log4j.Level.DEBUG)
    val plan = skewRun("skew_join_aqe_on")
    println(s"""{"cutover_bench":"skew_plan","skew_split":${plan.contains("skew=true") || plan.toLowerCase.contains("skewed")}}""")
    plan.linesIterator.filter(l => l.contains("Join") || l.contains("ShuffleRead"))
      .foreach(l => println("[skewplan] " + l.trim.take(160)))
    val w = new java.io.PrintWriter("/tmp/graft_skew_plan.txt", "UTF-8")
    try w.println(plan) finally w.close()
    spark.stop()
  }
}
