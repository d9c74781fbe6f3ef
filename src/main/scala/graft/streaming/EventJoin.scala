package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Stream-stream join (M4 extension): click attribution — each view
  * joins the same user's clicks that land within `maxLag` after it.
  *
  * This is the streaming operator class the reference's batch-only
  * loop cannot express at all (its "join" surface is positional
  * zip-merge, `process.py:119-129`): two UNBOUNDED inputs joined with
  * bounded state. Both sides carry a watermark and the join condition
  * carries the time band, so Spark can evict: a buffered view dies
  * once the watermark passes `view_ts + maxLag`, a buffered click
  * once it passes `click_ts`. Without the band the state would grow
  * forever — THE failure mode of naive stream joins at 100 TB/day.
  */
object EventJoin {

  /** Inner stream-stream join: (user, view, click) pairs with
    * `view_ts < click_ts <= view_ts + maxLag`. Works identically on
    * batch DataFrames (the differential spec runs it both ways). */
  def viewClicks(views: DataFrame, clicks: DataFrame,
                 delay: String, maxLag: String): DataFrame = {
    val v = views.select(col("event_id").as("view_id"), col("user_id"),
        col("ts").as("view_ts"))
      .withWatermark("view_ts", delay)
    val c = clicks.select(col("event_id").as("click_id"),
        col("user_id").as("click_user"), col("ts").as("click_ts"))
      .withWatermark("click_ts", delay)
    v.join(c, expr(
        s"""user_id = click_user
           |AND click_ts > view_ts
           |AND click_ts <= view_ts + interval $maxLag""".stripMargin))
      .select(col("user_id"), col("view_id"), col("click_id"),
        col("view_ts"), col("click_ts"))
  }

  /** One checkpointed micro-batch run: file-source the raw events
    * dir, split view/click branches off the one source, join, sink
    * idempotently (batchId-keyed overwrite — foreachBatch is
    * at-least-once). Re-invoking with the same checkpoint resumes;
    * join state persists across runs, so a click arriving a run
    * after its view still pairs (until the watermark retires the
    * view). */
  def runOnce(spark: SparkSession, inDir: String, outDir: String,
              checkpointDir: String, schema: StructType,
              delay: String = "2 hours", maxLag: String = "2 hours"): Unit = {
    val events = FileIngest.source(spark, inDir, schema)
    val joined = viewClicks(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "click"),
      delay, maxLag)
    FileIngest.drain(joined, checkpointDir)(FileIngest.batchSink(outDir))
  }
}
