package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Continuous release-governance maintenance — the streaming twin of
  * [[graft.pipeline.GovernanceMaintenance]]: each arriving
  * micro-batch lands its additive sufficient statistic under
  * `run=b<batchId>`, so the k-anonymity release verdicts (q171) and
  * the bootstrap confidence intervals (q172) are servable at any
  * moment at O(batch) absorbed cost — the governance posture an
  * always-ingesting feed needs (the moment a delivery creates a
  * singleton QI cell is exactly when the suppress flag must flip,
  * not at the next nightly scan).
  *
  * Delivery semantics: foreachBatch is at-least-once; each absorb is
  * a dynamic partition overwrite keyed on the batch id, so a
  * re-delivered batch rewrites its own partition instead of
  * double-counting (the [[DedupScreenStream]] discipline).
  * [[graft.pipeline.GovernanceMaintenance]]'s compactors fold the
  * accumulated runs at a quiescent point.
  */
object GovernanceStream {

  /** One checkpointed pass over whatever QI-record parquet files
    * (nationkey, segment, band, sensitive) are new in `inDir`
    * (Trigger.AvailableNow); safe to call repeatedly as files land. */
  def runQiOnce(spark: SparkSession, inDir: String, storeDir: String,
                checkpointDir: String, schema: StructType): Unit =
    FileIngest.runOnce(spark, inDir, checkpointDir, schema) {
      (batch, batchId) =>
        graft.pipeline.GovernanceMaintenance
          .absorbQi(spark, batch, storeDir, s"b$batchId")
    }

  /** Same pass over raw document parquet (doc_id, source, text) for
    * the bootstrap partials. */
  def runBootOnce(spark: SparkSession, inDir: String, storeDir: String,
                  checkpointDir: String, schema: StructType): Unit =
    FileIngest.runOnce(spark, inDir, checkpointDir, schema) {
      (batch, batchId) =>
        graft.pipeline.GovernanceMaintenance
          .absorbBoot(spark, batch, storeDir, s"b$batchId")
    }
}
