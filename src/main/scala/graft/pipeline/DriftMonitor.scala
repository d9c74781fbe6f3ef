package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental distribution-drift monitoring: q116 answers "did the
  * distribution move between two snapshots I can scan"; the
  * production question is "has TODAY'S corpus drifted from the
  * distribution we trained on" — asked per ingest, where a 100 TB
  * rescan per answer is not on the table. The store absorbs each
  * batch's per-(lang, bucket) hashed-unigram count DELTA (one
  * aggregated ≤ langs·B row set per run — nothing O(corpus)), and
  * [[report]] computes the per-lang Jensen–Shannon divergence
  * between the CURRENT folded counts and a REBASEABLE reference
  * snapshot through the exact q116 stage
  * ([[graft.queries.Corpus.jsdFromCounts]] — ONE formula, so the
  * monitor and the from-scratch query can never drift apart). This
  * is the [[MixtureMaintenance]] operating mode applied to the
  * drift gate.
  *
  * Lifecycle: [[absorb]] per batch (idempotent — re-running a runId
  * REPLACES that run, so at-least-once delivery is safe);
  * [[rebase]] freezes the current totals as the new reference (the
  * "we retrained — this is the new normal" operation; a crash leaves
  * the old reference or the new one); [[report]] is pure for a fixed
  * store state; [[compact]] folds count runs at a quiescent point.
  * A store with no reference yet reports EMPTY — monitoring begins
  * at the first rebase (ClusterMaintenance's empty-init discipline:
  * an unasked question, not a crash).
  *
  * Store layout: two [[graft.ops.RunStore]] groups of one table
  * each — `dir/bucket_counts` (lang, b, n) delta rows, and
  * `dir/reference` the frozen reference totals, same shape.
  */
object DriftMonitor {

  import graft.ops.RunStore

  private val Buckets =
    RunStore.Table("bucket_counts", "lang STRING, b BIGINT, n BIGINT", "lang", "b")
  private val Reference =
    RunStore.Table("reference", "lang STRING, b BIGINT, n BIGINT", "lang", "b")
  private[graft] val Counts = new RunStore("", Buckets)
  private[graft] val Ref = new RunStore("reference", Reference)

  /** Absorb one ingest batch: one scan of the BATCH aggregates its
    * (lang, bucket) token counts through the SHARED q116 count
    * stage and lands them under `run=<runId>`. A zero-count ROSTER
    * row (b = −1) per batch lang rides along: a lang whose documents
    * produced no tokens leaves no count row, but q116's from-scratch
    * stage derives its lang grid from the DOCUMENT frames and
    * reports such a lang at (0, 0, 0) — the store must preserve that
    * membership or the monitor silently diverges from the query on
    * degenerate input. Roster rows never join the bucket grid
    * (b ∈ [0, B)) and carry zero mass; they only widen the lang
    * union [[report]] covers. */
  def absorb(spark: SparkSession, docs: DataFrame, dir: String,
             runId: String): Unit =
    Counts.absorb(spark, dir, runId, graft.queries.Corpus.bucketCounts(docs, "n")
      .unionByName(docs.select(col("lang")).distinct()
        .select(col("lang"), lit(-1L).as("b"), lit(0L).as("n"))))

  /** Freeze the CURRENT folded totals as the new reference.
    * Quiescent-point contract as every fold: no in-flight absorb. */
  def rebase(spark: SparkSession, dir: String): Unit =
    Ref.rebuild(spark, dir, Counts.read(spark, dir)(Buckets))

  /** Per-lang drift report (lang, n_old, n_new, jsd_nano): the
    * reference distribution vs the current folded counts, through
    * the exact q116 divergence stage (persistGrid = false — here the
    * doubly-consumed grid subtree is two tiny aggregated-parquet
    * folds, not q116's corpus scans, so a monitoring endpoint polled
    * in a long-lived session carries no cache obligation). Old =
    * reference, new = current; roster rows widen the lang union so
    * token-less langs still report. No reference yet → empty report. */
  def report(spark: SparkSession, dir: String): DataFrame = {
    val ref = Ref.read(spark, dir)(Reference).withColumnRenamed("n", "co")
    val cur = Counts.read(spark, dir)(Buckets).withColumnRenamed("n", "cn")
    // no reference yet: monitoring has not started, no lang reports
    val langs = if (Ref.runCount(spark, dir) == 0) ref.select(col("lang"))
      else ref.select(col("lang")).union(cur.select(col("lang"))).distinct()
    graft.queries.Corpus.jsdFromCounts(ref, cur, langs, persistGrid = false)
  }

  /** Fold all count-run deltas into one `run=base`
    * (crash-recoverable; quiescent-point contract). */
  def compact(spark: SparkSession, dir: String): Unit = Counts.fold(spark, dir)

  /** How many `run=` partitions the count store holds (spec hook). */
  private[graft] def runCount(spark: SparkSession, dir: String): Int =
    Counts.runCount(spark, dir)
}
