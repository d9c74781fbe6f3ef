package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ops.{TextOps, WeightedAvgVec}

/** EP2 as a Structured Streaming job — the reference's checkpointed
  * micro-batch embed loop (`run.py:121-156`, `run_extra.py:109-215`)
  * done right: the file source + checkpoint dir replace the manual
  * `(batch_id, line_num)` bookkeeping (which never actually resumed,
  * L4), and per-batch idempotent `batch=<id>` overwrite sinks make
  * re-delivery safe. All of a document's chunks arrive in its own
  * input row, so pooling is a plain per-batch aggregation — no
  * cross-batch state, no watermark needed (contrast EventSessions,
  * where state IS cross-batch).
  */
object DocEmbedStream {

  /** One checkpointed run over whatever files are new in `inDir`
    * (Trigger.AvailableNow): chunk → embed → length-weighted pool →
    * append exactly once. Safe to call repeatedly as files land. */
  def runOnce(spark: SparkSession, inDir: String, outDir: String,
              checkpointDir: String, schema: StructType,
              maxTokens: Int, dim: Int): Unit =
    FileIngest.runOnce(spark, inDir, checkpointDir, schema) {
      (batch, batchId) =>
        val pooled = batch
          .select(col("doc_id").as("id"), TextOps.tokens(col("text")).as("toks"))
          // outer: a zero-token doc still reaches the sink (the
          // row-loss class EmbedPipeline regression-tests)
          .select(col("id"),
            posexplode_outer(TextOps.chunksOf(col("toks"), maxTokens))
              .as(Seq("pos", "chunk")))
          .withColumn("emb", graft.ops.expressions.HashEmbed(col("chunk"), dim))
          .withColumn("w", coalesce(length(col("chunk")), lit(0)).cast("double"))
          .groupBy(col("id"))
          .agg(WeightedAvgVec.asUdaf(col("emb"), col("w")).as("embedding"))
        FileIngest.batchSink(outDir)(pooled, batchId)
    }
}
