package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental numeric-feed forensics — the [[CorpusStatsMaintenance]]
  * doctrine applied to q164's Benford audit. The audit's whole input
  * is the leading-digit histogram, which is additive across disjoint
  * deliveries, so a feed owner gets the per-digit χ² screen after
  * EVERY delivery at O(batch) cost — the continuous posture a fraud /
  * truncated-export alarm actually needs (a nightly full-table digit
  * scan answers yesterday's question) — while the gated q164 chain
  * stays the from-scratch truth the store is specced against.
  *
  * Store layout: one [[graft.ops.RunStore]] table,
  * `dir/digitcounts` (digit, n_obs). Serving goes through the SAME
  * `Relational.benfordFromCounts` derivation the gated query runs —
  * served ≡ batch is structural. The store is ≤ 10 rows per run
  * regardless of feed size.
  */
object NumericAuditMaintenance {

  import graft.ops.RunStore

  private val Digits = RunStore.Table("digitcounts", "digit BIGINT, n_obs BIGINT", "digit")
  private[graft] val Store = new RunStore("", Digits)

  /** Full rebuild from a snapshot → `run=base`. */
  def build(spark: SparkSession, prices: DataFrame, dir: String): Unit =
    Store.rebuild(spark, dir, graft.queries.Relational.digitCounts(prices))

  /** Absorb one delivery under `run=<runId>` — O(batch), idempotent
    * under re-delivery. */
  def absorb(spark: SparkSession, prices: DataFrame, dir: String,
             runId: String): Unit =
    Store.absorb(spark, dir, runId, graft.queries.Relational.digitCounts(prices))

  /** Fold every run into one summed partition (crash-recoverable;
    * run at a quiescent point — the store family's contract). */
  def compact(spark: SparkSession, dir: String): Unit = Store.fold(spark, dir)

  /** The q164 table from the store. */
  def benford(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Relational.benfordFromCounts(Store.read(spark, dir)(Digits))
}
