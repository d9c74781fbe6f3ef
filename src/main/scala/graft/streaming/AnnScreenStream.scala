package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import org.apache.spark.sql.types.StructType
import graft.pipeline.AnnIndex

/** Continuous SEMANTIC dedup screening — [[DedupScreenStream]]'s
  * screen-then-absorb loop for the embedding-space family: each
  * arriving micro-batch of vectors is screened against the persisted
  * [[AnnIndex]] ([[AnnIndex.screenSemantic]] — ADC probe + exact
  * refine + cosine verdict), its verdicts land in an idempotent
  * `batch=<id>` sink, and only the vectors that screened UNIQUE are
  * absorbed into the index, so later batches dedup against earlier
  * survivors.
  *
  * The screen needs the indexed corpus's RAW vectors for the exact
  * refine (codes alone rank, they cannot verify — the
  * [[AnnIndex.searchRefined]] contract), so this stream maintains a
  * raw-vector side store under the index dir: [[initRaw]] seeds it
  * with the built corpus, each delivery appends its unique vectors
  * under `run=b<id>` (dynamic overwrite — the delivery discipline of
  * every store in this repo), and [[compact]] folds both stores.
  *
  * Delivery contract (at-least-once safe, spec-gated): the screen
  * EXCLUDES the batch's own `run=` from the probed index, so a
  * re-delivered batch sees exactly the index state of its first
  * delivery — identical verdicts — and its three sinks (verdict
  * parquet, code append, raw append) each overwrite their own keyed
  * partition. Batch-INTERNAL semantic duplicates are out of scope by
  * design, as in [[DedupScreenStream]]: the batch-vs-index screen
  * cannot see them on first delivery, and a caller wanting them runs
  * the q104 within-batch pass first.
  */
object AnnScreenStream {

  /** The raw-vector side store (shared with tests). */
  private[graft] def rawDir(indexDir: String): String = s"$indexDir/raw"

  /** Seed the raw store with the INDEXED corpus's vectors — call
    * once, right after [[AnnIndex.build]], with the same frame. */
  def initRaw(spark: SparkSession, vectors: DataFrame, indexDir: String): Unit = {
    graft.ops.StoreCompaction.reset(spark, rawDir(indexDir))
    vectors.select(col("vec_id"), col("vec"))
      .withColumn("run", lit("base"))
      .write.partitionBy("run").mode("overwrite").parquet(rawDir(indexDir))
  }

  /** Fold the accumulated `run=` partitions of BOTH stores this
    * stream appends to — codes (+ tombstones, [[AnnIndex.compact]])
    * and the raw side store. Quiescent-point contract as everywhere. */
  def compact(spark: SparkSession, indexDir: String): Unit = {
    AnnIndex.compact(spark, indexDir)
    val rd = rawDir(indexDir)
    graft.ops.StoreCompaction.fold(spark, rd, "run", "base",
      spark.read.schema(AnnIndex.RawSchema).parquet(rd).drop("run"))
  }

  /** One checkpointed pass over whatever vector files are new in
    * `inDir` (Trigger.AvailableNow). The index at `indexDir` must
    * exist ([[AnnIndex.build]] + [[initRaw]]). Schema: (vec_id long,
    * vec array<double>). Verdicts land under
    * `outDir/batch=<id>/`. */
  def runOnce(spark: SparkSession, inDir: String, indexDir: String,
              outDir: String, checkpointDir: String, schema: StructType,
              tau: Double): Unit = {
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(inDir)
    val q = stream.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(Trigger.AvailableNow())
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        deliver(spark, batch, batchId, indexDir, outDir, tau)
      }
      .start()
    q.awaitTermination()
  }

  /** One delivery of one micro-batch — factored out of foreachBatch
    * so the at-least-once contract is directly testable: calling
    * this twice with the same batchId must produce identical
    * verdicts, index state, and raw-store state. */
  private[graft] def deliver(spark: SparkSession, batch: DataFrame,
                             batchId: Long, indexDir: String,
                             outDir: String, tau: Double): Unit = {
    val b = batch.select(col("vec_id"), col("vec")).cache()
    try {
      graft.ops.StoreCompaction.heal(spark, rawDir(indexDir), "run")
      val raw = spark.read.schema(AnnIndex.RawSchema).parquet(rawDir(indexDir))
        .select(col("vec_id"), col("vec"))
      val verdicts = AnnIndex.screenSemantic(spark, b, indexDir, raw, tau,
        excludeRun = Some(s"b$batchId")).cache()
      try {
        verdicts.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
        val uniques = b.join(
          verdicts.filter(!col("is_dup")).select("vec_id"), Seq("vec_id"))
        // raw store FIRST, codes second: a crash between the two
        // writes must leave an orphan that is HARMLESS until the
        // batch re-delivers. An orphan raw row is never shortlisted
        // (search shortlists from codes), but an orphan CODE row's
        // vec_id would silently drop out of searchRefined's raw
        // inner-join — a later duplicate of the absorbed vector
        // would screen as unique inside the crash window. Both
        // writes are run-partitioned overwrites, so re-delivery
        // replaces the orphan idempotently either way.
        uniques.withColumn("run", lit(s"b$batchId"))
          .write.partitionBy("run").mode("overwrite")
          .option("partitionOverwriteMode", "dynamic")
          .parquet(rawDir(indexDir))
        AnnIndex.append(spark, uniques, indexDir, s"b$batchId")
      } finally verdicts.unpersist()
    } finally b.unpersist()
  }
}
