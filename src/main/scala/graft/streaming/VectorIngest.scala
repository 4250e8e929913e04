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
  * Exactly-once discipline: the index grows in its [[grown]]
  * [[BatchStore]] beside the flat seed relations. A batch's cells,
  * codes and drift decision (against the BUILD-TIME baseline persisted
  * next to the index) publish as one batch by one rename, so a batch cut
  * between its writes leaves the index as it was and a replay replaces
  * its commit; [[Similarity.ivfPqReadGrown]] reads seed + batches.
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

  /** The batches a stream folded into the index under `indexDir` (its
    * seed is the flat relations); [[Similarity.ivfPqWrite]] drops them. */
  def grown(indexDir: String): BatchStore = BatchStore(s"$indexDir/grown")

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
    grown(indexDir).write(batchId) { stage =>
      cellsNew.write.parquet(s"$stage/cells")
      codesNew.write.parquet(s"$stage/codes")
      drift.withColumn("batch_id", lit(batchId)).write.parquet(s"$stage/drift")
    }
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
    val batches = BatchStore.seeded(grown(indexDir).dir)
    EventStreams.drainEach(EventStreams.fileStream(spark, srcDir, vecSchema)) { (batch, batchId) =>
      ingestBatchFrozen(batch, batchId, indexDir, cents, books, baseline,
        m, dim, threshold, minBatchPerCell)
    }
    // a drain that found nothing to drain is a no-op, not an error
    batches.all(spark, "drift", ifEmpty = Some(StructType.fromDDL(
      "cell BIGINT, n_batch BIGINT, drift_ratio DOUBLE, rebuild BOOLEAN, batch_id BIGINT")))
  }
}
