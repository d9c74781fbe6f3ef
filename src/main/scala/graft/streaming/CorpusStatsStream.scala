package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.types.StructType

/** Continuous corpus-statistics maintenance — the streaming twin of
  * [[graft.pipeline.CorpusStatsMaintenance]]: each arriving
  * micro-batch of documents is tokenized ONCE and its (lang, term)
  * counts plus (source, length) histogram absorbed under
  * `run=b<batchId>`, so the lexical audit tables (q139/q140/q152/
  * q162) and the q159 length-drift alarm are servable at any moment
  * without ever re-tokenizing the corpus — the monitoring posture a
  * 100 TB feed needs (a nightly full-corpus tokenize is the thing
  * this store exists to delete).
  *
  * Delivery semantics: foreachBatch is at-least-once; the absorb is
  * a dynamic partition overwrite keyed on the batch id, so a
  * re-delivered batch rewrites its own partition instead of
  * double-counting (the [[DedupScreenStream]] discipline — the spec
  * re-delivers to prove the served integers don't move).
  * [[graft.pipeline.CorpusStatsMaintenance.compact]] folds the
  * accumulated runs at a quiescent point.
  */
object CorpusStatsStream {

  /** One checkpointed pass over whatever document parquet files are
    * new in `inDir` (Trigger.AvailableNow); the store at `storeDir`
    * need not exist (the first batch creates it). Safe to call
    * repeatedly as files land. */
  def runOnce(spark: SparkSession, inDir: String, storeDir: String,
              checkpointDir: String, schema: StructType): Unit =
    FileIngest.runOnce(spark, inDir, checkpointDir, schema) {
      (batch, batchId) =>
        graft.pipeline.CorpusStatsMaintenance
          .absorb(spark, batch, storeDir, s"b$batchId")
    }
}
