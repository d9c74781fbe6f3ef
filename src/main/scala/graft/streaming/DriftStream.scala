package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.pipeline.DriftMonitor

/** Continuous drift monitoring: each arriving micro-batch of
  * documents folds its per-(lang, bucket) hashed-unigram count
  * delta into the persisted [[DriftMonitor]] store — the streaming
  * twin of [[DriftMonitor.absorb]], with [[MixtureStream]]'s
  * delivery discipline: the delta lands keyed `run=b<batchId>`
  * (dynamic partition overwrite), so an at-least-once re-delivery replaces
  * its own rows instead of double-counting. A drift report cut at
  * any point compares the reference against every batch committed
  * so far; `rebase` remains a quiescent-point operator, not part of
  * the stream.
  */
object DriftStream {

  /** One checkpointed pass over whatever document files are new in
    * `inDir` (Trigger.AvailableNow). Schema: (lang string, text
    * string) at minimum. */
  def runOnce(spark: SparkSession, inDir: String, storeDir: String,
              checkpointDir: String, schema: StructType): Unit = {
    FileIngest.runOnce(spark, inDir, checkpointDir, schema) {
      (batch, batchId) =>
        DriftMonitor.absorb(spark,
          batch.select(col("lang"), col("text")),
          storeDir, s"b$batchId")
    }
  }
}
