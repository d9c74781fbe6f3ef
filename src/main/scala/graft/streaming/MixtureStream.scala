package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.pipeline.MixtureMaintenance

/** Continuous mixture maintenance: each arriving micro-batch of
  * documents folds its per-domain count delta into the persisted
  * [[MixtureMaintenance]] store — the streaming twin of
  * [[MixtureMaintenance.absorb]], with [[DedupScreenStream]]'s
  * delivery discipline: the delta lands keyed `run=b<batchId>`
  * (dynamic partition overwrite), so an at-least-once re-delivery replaces
  * its own rows instead of double-counting the batch. A training
  * snapshot cut at any point reads rates that reflect every batch
  * committed so far.
  */
object MixtureStream {

  /** One checkpointed pass over whatever document files are new in
    * `inDir` (Trigger.AvailableNow). Schema: (doc_id long, lang
    * string, text string). */
  def runOnce(spark: SparkSession, inDir: String, storeDir: String,
              checkpointDir: String, schema: StructType): Unit = {
    FileIngest.runOnce(spark, inDir, checkpointDir, schema) {
      (batch, batchId) =>
        MixtureMaintenance.absorb(spark,
          batch.select(col("doc_id"), col("lang"), col("text")),
          storeDir, s"b$batchId")
    }
  }
}
