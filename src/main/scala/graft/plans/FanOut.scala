package graft.plans

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.catalyst.plans.logical.{Filter, Generate, LeafNode, LogicalPlan, Project, Union}

/** Gated scan fan-out — the single seam through which every
  * "one unsplittable scan task" repartition flows (Html.pageFromDocs,
  * Multimodal.fanDocs, Dedup.rawShingles, IngestPipeline.fanOut, the
  * TextQuality n-gram tokenize passes).
  *
  * The r17 device repartitioned UNCONDITIONALLY to defaultParallelism,
  * which is wrong at both ends of the scale:
  *  - a SMALL relation on a many-core session pays a full exchange +
  *    per-task scheduling across dozens of near-empty partitions for
  *    narrow work that a handful of tasks finish sooner — the r18 A/B
  *    at local[32]/sf0.1 measured the 32-way fan LOSING to narrower
  *    fans or to no fan at all on every consumer (anchor-normalized:
  *    audio_features 1626ms at 32-way vs 544 unfanned,
  *    video_frame_features 4361 at 32-way vs 831 at 8-way,
  *    crawl_diff 774 at 32-way vs 371 at 2-way);
  *  - a LARGE relation whose scan already carries core-count splits
  *    would eat a full-corpus shuffle before a narrow regex chain —
  *    pure waste at 100 TB, where the scan is always wide.
  *
  * So the exchange is gated on the source's ACTUAL parallelism and
  * sized by its bytes:
  *  - if the planned source already has >= half the session's cores in
  *    partitions, the fan-out is a no-op (the 100 TB arm: wide scans
  *    never shuffle here);
  *  - otherwise the target is ceil(sourceBytes / bytesPerTask) clamped
  *    to [sourceParts + 1 .. defaultParallelism]. `bytesPerTask` is
  *    the call site's measured statement of how much downstream CPU a
  *    source byte buys: 1 MiB (default) for regex/hash chains, 64 KiB
  *    ([[CodecBytesPerTask]]) for javax.imageio encode/decode chains
  *    whose per-row cost dwarfs the row. Sites whose downstream work
  *    measured cheaper than ANY exchange (WAV PCM synthesis, byte
  *    histograms) simply do not call this device.
  *
  * Source bytes come from the optimized plan's size estimate (file
  * scans report their real byte size; in-memory relations report row
  * width × count), never a job. At real SFs every input crosses the
  * byte threshold and the target saturates at defaultParallelism, so
  * the only behavior change at scale is the wide-scan skip. */
object FanOut {

  /** Bytes of source data one fan-out task should own — regex/hash
    * grade downstream work. */
  val DefaultBytesPerTask: Long = 1L << 20

  /** Per-task source bytes for real-codec (javax.imageio) chains:
    * encode+decode per row costs ~100x the row's bytes, so tasks are
    * sized ~16x smaller (8-10 tasks for the sub-MB doc fixture — the
    * measured sweet spot; 32 tasks measured 2-5x SLOWER than 8 on the
    * same input, the GC/scheduling tax of near-empty codec tasks). */
  val CodecBytesPerTask: Long = 64L << 10

  /** Per-task source bytes for row-multiplying generator chains (the
    * 9-size gram explode, trigram struct explode): each source byte
    * becomes ~3-9 downstream rows, so tasks are sized like the codec
    * chains (measured: gopher_repetition 2.4s at 2-way vs 1.2s
    * anchor-normalized at 8-way on the sub-MB fixture, trigram_logprob
    * 2.5 → 2.1; the distinct name records the distinct reason). */
  val ExplodeBytesPerTask: Long = 64L << 10

  /** True iff every operator in the plan is a narrow map-side node
    * over leaves — the ONLY shape the fan-out exists for. Anything
    * that already crossed (or will introduce) a shuffle — aggregates,
    * joins, windows, sorts, repartitions — arrives with post-shuffle
    * parallelism, so fanning it is waste; worse, even PROBING such a
    * plan's RDD partition count finalizes its adaptive plan, which
    * EXECUTES the upstream stages once for the probe and again for
    * the real query (measured: sft_prompt_decontamination 265ms →
    * ~1000ms from exactly that double execution when decontaminate's
    * aggregated prompts hit the probe). */
  private def narrowOverScan(plan: LogicalPlan): Boolean =
    plan.collectFirst {
      case p if !(p.isInstanceOf[Project] || p.isInstanceOf[Filter] ||
        p.isInstanceOf[Generate] || p.isInstanceOf[Union] ||
        p.isInstanceOf[LeafNode]) => p
    }.isEmpty

  def fanOutIfNarrow(df: DataFrame, key: Column,
                     bytesPerTask: Long = DefaultBytesPerTask): DataFrame = {
    val cores = math.max(1, df.sparkSession.sparkContext.defaultParallelism)
    if (!narrowOverScan(df.queryExecution.optimizedPlan)) return df
    // narrow plans have no shuffle stages, so the RDD probe below is
    // plan-only — it cannot run jobs
    val srcParts = math.max(1, df.rdd.getNumPartitions)
    if (2 * srcParts >= cores) df
    else {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val byBytes =
        if (!bytes.isValidLong) cores
        else math.min(cores.toLong, (bytes.toLong + bytesPerTask - 1) / bytesPerTask).toInt
      val target = math.max(srcParts + 1, byBytes)
      df.repartition(target, key)
    }
  }
}
