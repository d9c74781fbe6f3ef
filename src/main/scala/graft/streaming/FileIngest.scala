package graft.streaming

import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType

/** The one place a streaming twin's query starts. A twin reads a
  * directory through [[source]] (schema-pinned parquet) or
  * [[textSource]] (raw lines), may put a watermark, join or stateful
  * operator on top, and hands the result to [[drain]].
  *
  * Contract:
  *  - one file per trigger (`maxFilesPerTrigger` 1), so a batch, and
  *    the state it adds, stays bounded however many files accumulated;
  *  - [[drain]] runs one checkpointed `Trigger.AvailableNow` pass over
  *    every file present at start and returns when it is done; calling
  *    it again with the same checkpoint resumes after the last
  *    committed batch;
  *  - `foreachBatch` is at-least-once: a crash between a batch's writes
  *    and its checkpoint commit replays the batch under the same id. So
  *    every batch body keys its writes on the batch id and overwrites
  *    (`batch=<id>` through [[batchSink]], or a store's `run=b<id>`
  *    absorb), and a replay replaces its own output instead of
  *    duplicating it.
  */
private[graft] object FileIngest {

  def source(spark: SparkSession, inDir: String, schema: StructType): DataFrame =
    spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)

  /** Raw lines, for sources whose unit of quarantine is the unparsed
    * line ([[JsonlIngestStream]]): a schema-pinned reader would
    * swallow exactly the torn bytes the absorb needs to keep. */
  def textSource(spark: SparkSession, inDir: String): DataFrame =
    spark.readStream.option("maxFilesPerTrigger", "1").text(inDir)

  def drain[T](stream: Dataset[T], checkpointDir: String)
              (onBatch: (Dataset[T], Long) => Unit): Unit =
    stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch(onBatch)
      .start()
      .awaitTermination()

  /** The idempotent sink: each batch overwrites `outDir/batch=<id>`. */
  def batchSink(outDir: String)(batch: Dataset[_], batchId: Long): Unit =
    batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")

  /** [[drain]] over [[source]]: the whole query of a stateless twin. */
  def runOnce(spark: SparkSession, inDir: String, checkpointDir: String,
              schema: StructType)(onBatch: (DataFrame, Long) => Unit): Unit =
    drain(source(spark, inDir, schema), checkpointDir)(onBatch)
}
