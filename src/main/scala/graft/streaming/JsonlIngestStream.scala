package graft.streaming

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.sources.JsonlIngest

/** Continuous JSONL/CSV quarantine ingest — the streaming twin of
  * [[graft.sources.JsonlIngest]] for producers that DROP files
  * continuously rather than in named deliveries. Each arriving
  * micro-batch of raw lines runs the SHARED parser channel
  * (`jsonChannel`/`csvChannel` — one definition, so streamed and
  * batch ingest of the same delivery are the same parse by
  * construction): typed good rows land under `goodDir/run=b<id>`,
  * torn lines verbatim under `quarantineDir/run=b<id>`, both keyed
  * by the micro-batch id so an at-least-once re-execution replaces
  * its own partitions ([[FileIngest]]'s delivery discipline, over
  * [[FileIngest.textSource]] — a schema-pinned streaming reader
  * would swallow exactly the torn bytes the quarantine exists to
  * keep).
  *
  * The quarantine partition is written FIRST: a crash between the
  * two writes leaves a repair queue whose lines are not yet typed —
  * an operator sees too much, never too little — and the re-executed
  * batch overwrites both sides.
  */
object JsonlIngestStream {

  /** One checkpointed pass over whatever line files are new in
    * `inDir` (Trigger.AvailableNow). `csv = true` switches the
    * channel (with [[graft.sources.JsonlIngest.csvChannel]]'s
    * header contract). */
  def runOnce(spark: SparkSession, inDir: String, goodDir: String,
              quarantineDir: String, checkpointDir: String,
              schema: StructType, csv: Boolean = false,
              header: Boolean = true): Unit =
    FileIngest.drain(FileIngest.textSource(spark, inDir), checkpointDir) {
      (batch, batchId) =>
        val (good, bad) =
          if (csv) JsonlIngest.csvChannel(batch, schema, header)
          else JsonlIngest.jsonChannel(batch, schema)
        JsonlIngest.writeQuarantine(bad, quarantineDir, s"b$batchId")
        good.write.mode("overwrite").parquet(s"$goodDir/run=b$batchId")
    }

  /** Typed good rows across every absorbed micro-batch, tagged with
    * the batch they arrived in (`run` column first) — the readback
    * accessor mirroring [[JsonlIngest.quarantined]]; empty or
    * in-flight store reads empty, not a crash. */
  def goodRows(spark: SparkSession, goodDir: String,
               schema: StructType): org.apache.spark.sql.DataFrame =
    if (!graft.ops.StoreCompaction.hasParquetData(spark, goodDir))
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(org.apache.spark.sql.types.StructField("run",
          org.apache.spark.sql.types.StringType) +: schema.fields))
    else spark.read.parquet(goodDir)
      .select(col("run").cast("string").as("run") +:
        schema.fieldNames.toSeq.map(col): _*)
}
