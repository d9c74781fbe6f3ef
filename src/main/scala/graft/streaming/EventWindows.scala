package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** M4 — the honest Structured-Streaming version of the reference's
  * hand-rolled micro-batch loop (SURVEY.md §2.8 L1–L5,
  * `run.py:121-156`): file source → event-time tumbling windows with
  * a watermark → checkpointed sink. The checkpoint dir replaces the
  * reference's `(batch_id, line_num)` pickle (K2) — and unlike the
  * reference (L4: state saved but never applied on resume), restart
  * genuinely resumes from the last committed batch.
  */
object EventWindows {

  /** Tumbling event-time window counts with a watermark. Late rows
    * beyond `delay` are dropped once their window closes — the
    * principled version of the reference's "second full pass over
    * the missed subset" (L5). */
  def windowedCounts(events: DataFrame, windowDur: String,
                     delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .groupBy(window(col("ts"), windowDur), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

  /** Streaming ingestion dedup: each event id is emitted AT MOST
    * once across all micro-batches and runs, with state bounded by
    * the watermark (ids older than the delay are evicted — a
    * replayed shard inside the horizon dedups, one outside it is
    * dropped as late). This is the guard the reference lacks when a
    * shard is re-delivered/re-processed (its backfill pass can
    * double-embed, `run_extra.py:162`). */
  def dedupStream(spark: SparkSession, inDir: String, outDir: String,
                  checkpointDir: String, schema: StructType,
                  delay: String = "1 hour"): Unit = {
    val stream = FileIngest.source(spark, inDir, schema)
      .withWatermark("ts", delay)
      .dropDuplicatesWithinWatermark("event_id")
    FileIngest.drain(stream, checkpointDir)(FileIngest.batchSink(outDir))
  }

  /** Stream-static enrichment join: each micro-batch broadcast-joins
    * a STATIC dimension (re-read per batch if its files change, no
    * streaming state at all — contrast EventJoin's stream-stream
    * state) and aggregates per enrichment key. The canonical "tag
    * events with their segment/tenant/experiment arm" shape: at
    * scale the dim is the broadcast side and the stream never
    * shuffles before the windowed agg. */
  def enrichedCounts(events: DataFrame, dim: DataFrame, joinKey: String,
                     segmentCol: String, windowDur: String,
                     delay: String): DataFrame =
    events
      .withWatermark("ts", delay)
      .join(broadcast(dim), Seq(joinKey))
      .groupBy(window(col("ts"), windowDur), col(segmentCol))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col(segmentCol), col("n"))

  /** One checkpointed micro-batch run over whatever files are in
    * `inDir` (Trigger.AvailableNow ≙ one `run.py` invocation;
    * re-invoking with the same checkpoint resumes — L3). Append
    * output mode: only watermark-closed windows are emitted, each
    * exactly once across runs. */
  def runOnce(spark: SparkSession, inDir: String, outDir: String,
              checkpointDir: String, schema: StructType,
              windowDur: String = "1 day", delay: String = "1 hour"): Unit =
    FileIngest.drain(
      windowedCounts(FileIngest.source(spark, inDir, schema), windowDur, delay),
      checkpointDir)(FileIngest.batchSink(outDir))
}
