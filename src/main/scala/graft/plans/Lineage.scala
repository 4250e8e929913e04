package graft.plans

import org.apache.spark.sql.DataFrame

/** Lineage truncation — the single seam through which EVERY relation
  * pin in the engine flows: the per-round state of iterative operators
  * (PageRank, HITS, LPA, k-core, star components, k-means, MMR) and
  * the one-shot pins that materialize a relation consumed by two+
  * downstream plans (shingle tables, term frequencies, LakeTable merge
  * bases, ...): 120 `truncateLineage` / `Lineage.truncate` call sites
  * under src/main. Each pinned result must cut its plan lineage or the
  * optimizer re-analyzes a plan that doubles per iteration (loops) or
  * recomputes the shared subplan per consumer (one-shots).
  *
  * `localCheckpoint` (non-replicated executor blocks) is the right
  * local[32] default — zero I/O — but on a real cluster one lost
  * executor kills the job with no recomputation path, because the
  * truncated lineage IS the recovery story: a 20-round loop loses 20
  * rounds, and a one-shot pin feeding a long downstream stage re-runs
  * nothing and dies the same way. The operability seam: when
  * `spark.graft.checkpointDir` is set, pins persist via RELIABLE
  * `checkpoint()` to that directory instead, so the job survives
  * executor loss at the cost of one write per pin (pinned state is
  * |V|-sized or vocab-sized for every operator here, never the
  * corpus). Both paths are value-identical — LineageSpec proves it by
  * toggling the conf.
  *
  * Checkpoint hygiene under the reliable path: Spark does NOT delete
  * reliable checkpoint data by default, so a long session's pins
  * accumulate in the shared directory. Set
  * `spark.cleaner.referenceTracking.cleanCheckpoints=true` when
  * building the session (it is a SparkContext-creation-time conf, so
  * this seam cannot retrofit it) — the ContextCleaner then removes
  * each checkpoint's files once its RDD is garbage-collected. The
  * first reliable truncate in a session warns on stderr if the conf is
  * unset, so the accumulation is a documented choice, never a silent
  * disk leak.
  */
object Lineage {

  @volatile private var warnedCheckpointHygiene = false

  /** Truncate `df`'s lineage: reliable `checkpoint()` when
    * `spark.graft.checkpointDir` is set (the first call pins the
    * SparkContext's checkpoint dir), eager `localCheckpoint()`
    * otherwise. */
  def truncate(df: DataFrame): DataFrame = {
    val ss = df.sparkSession
    ss.conf.getOption("spark.graft.checkpointDir").filter(_.nonEmpty) match {
      case Some(dir) =>
        val sc = ss.sparkContext
        if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
        if (!warnedCheckpointHygiene && !sc.getConf.getBoolean(
            "spark.cleaner.referenceTracking.cleanCheckpoints", defaultValue = false)) {
          warnedCheckpointHygiene = true
          System.err.println("[graft] spark.graft.checkpointDir is set but " +
            "spark.cleaner.referenceTracking.cleanCheckpoints is not: reliable " +
            s"checkpoints will accumulate in $dir for the session's lifetime. " +
            "Set the cleaner conf at session build time (it cannot be set " +
            "after SparkContext creation) or clean the directory between jobs.")
        }
        // Dataset.checkpoint(eager) runs a count job and THEN a second
        // job that recomputes every partition to write the reliable
        // checkpoint files — unpersisted, the pin's upstream subplan
        // would run TWICE, defeating the pin. Cache across the two
        // jobs (persist before the plan is first materialized, so the
        // write job reads the blocks the count populated) and release
        // the blocks once the checkpoint files own the data — the
        // returned Dataset reads the files, never the cache.
        val cached = df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
        try cached.checkpoint(eager = true)
        finally cached.unpersist(blocking = false)
      case None => df.localCheckpoint(eager = true)
    }
  }

  /** Postfix form, so call sites keep the `.localCheckpoint(true)`
    * shape: `edges.truncateLineage`. */
  implicit class TruncateOps(private val df: DataFrame) extends AnyVal {
    def truncateLineage: DataFrame = truncate(df)
  }
}
