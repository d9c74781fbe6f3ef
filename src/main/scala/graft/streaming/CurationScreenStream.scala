package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Continuous curation screen — the streaming twin of
  * [[graft.pipeline.CurationExport]]'s heuristic-gate (stage 2c) and
  * PII-scrub (stage 5b) stages, applied AT INGEST: each arriving
  * micro-batch of documents runs the q134 rule family (the SAME
  * [[graft.queries.Quality.heuristicFlagged]] derivation the batch
  * report rolls up), rule-violating docs land with their per-rule
  * flag columns under `rejectDir/batch=<id>` (the audit / repair
  * queue — a gate that discards invisibly is how corpora rot), and
  * surviving docs land under `goodDir/batch=<id>` — BOTH copies
  * PII-SCRUBBED (q124's masks, per-doc `n_pii` lineage). The reject
  * queue is itself a long-lived downstream persistence, so it gets
  * the same scrub as the good store: the audit
  * signal survives in the flags and `n_pii`, the raw bytes do not
  * outlive the screen anywhere. A production feed gates junk and
  * strips PII before anything downstream persists raw bytes; the
  * batch export then runs its remaining stages (dedup, floor,
  * mixture) over the pre-screened store.
  *
  * Delivery semantics: foreachBatch is at-least-once; BOTH sinks are
  * keyed on the batch id and written mode=overwrite, so a
  * re-delivered batch rewrites its own partitions instead of
  * duplicating them (the [[DedupScreenStream]] discipline; the spec
  * re-delivers to prove it). The reject partition is written FIRST:
  * a crash between the writes leaves a repair queue whose docs are
  * not yet accepted — an operator sees too much, never too little
  * (the [[JsonlIngestStream]] ordering argument).
  *
  * Scale shape: everything is per-batch and narrow — one codegen
  * tokenize pass for the flags, one regexp pass for the masks, no
  * joins, no shuffle beyond the two writes. Nothing is O(store).
  */
object CurationScreenStream {

  /** One checkpointed pass over whatever document parquet files are
    * new in `inDir` (Trigger.AvailableNow); safe to call repeatedly
    * as files land. */
  def runOnce(spark: SparkSession, inDir: String, goodDir: String,
              rejectDir: String, checkpointDir: String,
              schema: StructType): Unit =
    FileIngest.runOnce(spark, inDir, checkpointDir, schema)(
      deliver(_, _, goodDir, rejectDir))

  /** One delivery of one micro-batch — factored out of foreachBatch
    * so the at-least-once contract is directly testable: calling
    * this twice with the same batchId must leave identical stores. */
  private[graft] def deliver(batch: DataFrame, batchId: Long,
                             goodDir: String, rejectDir: String): Unit = {
    val flagged = graft.queries.Quality
      .heuristicFlagged(batch.select(col("doc_id"), col("lang"), col("text")))
      .cache()
    try {
      val fail = col("f_short") || col("f_long") || col("f_len") || col("f_stop")
      flagged.filter(fail)
        .select(col("doc_id"), col("lang"),
          graft.queries.Cleaning.piiMasked(col("text")).as("text"),
          col("f_short"), col("f_long"), col("f_len"), col("f_stop"),
          graft.queries.Cleaning.piiCount(col("text")).as("n_pii"))
        .write.mode("overwrite").parquet(s"$rejectDir/batch=$batchId")
      flagged.filter(!fail)
        .select(col("doc_id"), col("lang"),
          graft.queries.Cleaning.piiMasked(col("text")).as("text"),
          graft.queries.Cleaning.piiCount(col("text")).as("n_pii"))
        .write.mode("overwrite").parquet(s"$goodDir/batch=$batchId")
    } finally flagged.unpersist()
  }

  /** Accepted rows across every absorbed batch (run column first) —
    * the readback accessor mirroring [[JsonlIngestStream.goodRows]];
    * empty or in-flight store reads empty, not a crash. */
  def accepted(spark: SparkSession, goodDir: String): DataFrame =
    if (!graft.ops.StoreCompaction.hasParquetData(spark, goodDir))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType.fromDDL(
          "batch STRING, doc_id LONG, lang STRING, text STRING, n_pii LONG"))
    else spark.read.parquet(goodDir)
      .select(col("batch").cast("string").as("batch"), col("doc_id"),
        col("lang"), col("text"), col("n_pii"))
}
