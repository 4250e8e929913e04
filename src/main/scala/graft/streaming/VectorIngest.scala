package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import graft.operators.Similarity

/** The CONTINUOUS twin of the ANN index append path: embedding batches
  * arriving as a file stream, each micro-batch folded into the
  * PERSISTED IVF×PQ index under frozen geometry, with the drift
  * decision recorded per batch — the three shipped pieces
  * (Similarity.ivfPqEncodeBatch / appendDrift / the persisted index
  * layout) run as one streaming lifecycle.
  *
  * Exactly-once discipline, the IngestPipeline devices:
  *  - a batch's cells and codes land in batch-keyed subdirs
  *    (`cells/b<id>/`, `codes/b<id>/`) and OVERWRITE them on replay —
  *    a re-delivered batch reproduces its commit instead of doubling
  *    the index; [[Similarity.ivfPqReadGrown]] reads seed + batches as
  *    one relation;
  *  - the drift decision is computed against the BUILD-TIME baseline
  *    (persisted next to the index) and appended batch-keyed too, so
  *    the rebuild trigger's history is replay-stable.
  *
  * Scale shape per micro-batch: one broadcast coarse assignment + one
  * residual encode over the BATCH (index-size-independent — the
  * index's own cells/codes are never read by the append), plus one
  * more broadcast assignment for the drift energies. The expensive
  * path — the retrain [[Similarity.ivfPqMaintain]] runs inline in
  * batch mode — is deliberately NOT taken inside a micro-batch: the
  * decision table tells the offline maintainer when to rebuild, which
  * is how a streaming ingest must treat a corpus-sized operation.
  */
object VectorIngest {

  val vecSchema: StructType = StructType(Seq(
    StructField("vec_id", LongType),
    StructField("embedding", ArrayType(FloatType))))

  /** One micro-batch: encode under frozen geometry, land batch-keyed,
    * record the drift decision. Exposed so the spec can replay a batch
    * verbatim and prove idempotence. Reads the geometry + baseline
    * fresh per call — the STREAM loop pins them once instead
    * ([[runAnnIngest]]). */
  def annIngestBatch(batch: DataFrame, batchId: Long, indexDir: String,
                     m: Int = 16, dim: Int = 64, threshold: Double = 1.5,
                     minBatchPerCell: Long = 4L): Unit = {
    val ss = batch.sparkSession
    ingestBatchFrozen(batch, batchId, indexDir,
      ss.read.parquet(s"$indexDir/coarse_cents"), ss.read.parquet(s"$indexDir/books"),
      ss.read.parquet(s"$indexDir/baseline"), m, dim, threshold, minBatchPerCell)
  }

  /** The batch transaction under caller-held geometry (optimization
    * r18): the old loop called [[Similarity.ivfPqReadGrown]] +
    * appendDrift per micro-batch — re-listing the GROWING cells/codes
    * dirs (whose rows the append never reads), re-reading centroids /
    * books / baseline from parquet each batch, and coarse-assigning
    * the batch twice (encode + drift). Geometry is frozen by the
    * append contract, so the stream pins those three relations once;
    * one pinned assignment feeds encode AND drift. */
  private def ingestBatchFrozen(batch: DataFrame, batchId: Long, indexDir: String,
                                cents: DataFrame, books: DataFrame, baseline: DataFrame,
                                m: Int, dim: Int, threshold: Double,
                                minBatchPerCell: Long): Unit = {
    // one-file micro-batch = one scan task: fan out before the
    // broadcast assignment + residual encode (IngestPipeline.fanOut)
    val batchP = IngestPipeline.fanOut(batch, "vec_id")
    val (cellsNew, codesNew, drift) = Similarity.ivfPqEncodeBatchWithDrift(
      batchP, cents, books, baseline, m, dim, threshold, minBatchPerCell)
    cellsNew.write.mode("overwrite").parquet(s"$indexDir/cells/b$batchId")
    codesNew.write.mode("overwrite").parquet(s"$indexDir/codes/b$batchId")
    drift.withColumn("batch_id", lit(batchId))
      .write.mode("overwrite").parquet(s"$indexDir/drift/b$batchId")
  }

  /** Drain a bounded vector-drop dir into the index; returns the drift
    * decision history (batch_id, cell, n_batch, drift_ratio, rebuild). */
  def runAnnIngest(spark: SparkSession, srcDir: String, indexDir: String,
                   m: Int = 16, dim: Int = 64, threshold: Double = 1.5,
                   minBatchPerCell: Long = 4L): DataFrame = {
    import graft.plans.Lineage.TruncateOps
    // loop-invariant geometry + baseline pinned once per stream — the
    // rates/langDim device (r17) applied to the index relations
    val cents = spark.read.parquet(s"$indexDir/coarse_cents").truncateLineage
    val books = spark.read.parquet(s"$indexDir/books").truncateLineage
    val baseline = spark.read.parquet(s"$indexDir/baseline").truncateLineage
    EventStreams.drainEach(EventStreams.fileStream(spark, srcDir, vecSchema)) { (batch, batchId) =>
      ingestBatchFrozen(batch, batchId, indexDir, cents, books, baseline,
        m, dim, threshold, minBatchPerCell)
    }
    // a drain that found nothing to drain is a no-op, not an error:
    // with zero micro-batches the drift dir was never created
    if (new java.io.File(s"$indexDir/drift").exists())
      spark.read.option("recursiveFileLookup", "true").parquet(s"$indexDir/drift")
    else spark.createDataFrame(
      java.util.Collections.emptyList[org.apache.spark.sql.Row](),
      StructType(Seq(StructField("cell", LongType), StructField("n_batch", LongType),
        StructField("drift_ratio", DoubleType), StructField("rebuild", BooleanType),
        StructField("batch_id", LongType))))
  }
}
