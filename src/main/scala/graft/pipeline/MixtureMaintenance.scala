package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.TextOps

/** Incremental domain-mixture maintenance: keep q99's tempered
  * sampling rates CURRENT as the corpus grows, without rescanning
  * the corpus. The batch query (q99) derives per-domain token
  * counts from a full scan; at 100 TB a daily ingest cannot re-count
  * everything to refresh the mixture, so this store absorbs each
  * batch's per-domain count DELTA (one tiny aggregated row set per
  * run) and cutting a training snapshot becomes O(domains):
  * `currentRates` folds the deltas and applies the identical
  * tempered-rate formula, and [[decide]] screens any doc set against
  * those rates with the same content-hash integer compare — the
  * [[DedupIndex]]/[[ClusterMaintenance]] operating mode applied to
  * the mixing stage.
  *
  * Epoch semantics (documented contract): rates DRIFT as batches
  * land, so a document's keep verdict is a function of (doc,
  * rates-at-snapshot-time), not a permanent property — exactly how
  * tempered sampling behaves when a corpus is re-cut per training
  * run. Determinism: for a FIXED store state, `currentRates` and
  * `decide` are pure (exact integer count sums; the q99 micro-
  * rounded rate; content-hash compare), so re-cutting the same
  * snapshot reproduces the same corpus bit-for-bit.
  *
  * Store layout: one [[graft.ops.RunStore]] table,
  * `dir/domain_counts` (lang, n_docs, n_tokens) — one aggregated
  * delta per absorbed batch.
  */
object MixtureMaintenance {

  import graft.ops.RunStore

  private val Counts = RunStore.Table("domain_counts",
    "lang STRING, n_docs BIGINT, n_tokens BIGINT", "lang")
  private[graft] val Store = new RunStore("", Counts)

  /** Absorb one ingest batch: one scan of the BATCH aggregates its
    * per-domain (n_docs, n_tokens) and lands it under
    * `run=<runId>`. Nothing O(corpus). */
  def absorb(spark: SparkSession, docs: DataFrame, dir: String,
             runId: String): Unit =
    Store.absorb(spark, dir, runId, docs
      .select(col("lang"), TextOps.tokenCount(col("text")).cast("long").as("n_tok"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")))

  /** Fold per-domain counts across every absorbed run and apply the
    * tempered-rate formula — IDENTICAL to q99's
    * ([[graft.queries.Learn.temperedRates]]), so maintained rates
    * and the from-scratch query can never drift. Returns
    * (lang, n_docs, n_tokens, rate_micro). A store with no absorbed
    * runs yet (fresh deployment, or a screening job racing the first
    * ingest) has EVERY domain unseen: an empty rate table, so
    * decide's unseen-domain default keeps everything. */
  def currentRates(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Learn.temperedRates(Store.read(spark, dir)(Counts))

  /** Keep/drop verdicts for any (doc_id, lang, text) frame under
    * the CURRENT rates: (doc_id, lang, keep). The rate table is
    * O(domains) — broadcast; the doc side is one narrow pass
    * (content hash + integer compare), no text shuffle. */
  def decide(spark: SparkSession, docs: DataFrame, dir: String): DataFrame =
    decideWith(docs,
      currentRates(spark, dir).select(col("lang"), col("rate_micro")))

  /** The keep decision under a GIVEN (lang, rate_micro) table — the
    * ONE formula shared by [[decide]] (persisted-store rates) and
    * self-contained consumers that derive rates from the corpus at
    * hand ([[CurationExport]] without a store): content-hash integer
    * compare, rate table broadcast, no text shuffle. */
  def decideWith(docs: DataFrame, rates: DataFrame): DataFrame =
    docs
      .select(col("doc_id"), col("lang"),
        TextOps.fingerprint(col("text")).as("h"))
      .join(broadcast(rates.select(col("lang"), col("rate_micro"))),
        Seq("lang"), "left")
      .select(col("doc_id"), col("lang"),
        // a domain never absorbed has no rate: keep (rate 1) — a
        // brand-new domain is by definition the smallest
        coalesce(pmod(col("h"), lit(1000000L)) < col("rate_micro"),
          lit(true)).as("keep"))

  /** Fold all `run=` deltas into one `run=base` (crash-recoverable;
    * run at a quiescent point — [[DedupIndex.compact]]'s contract). */
  def compact(spark: SparkSession, dir: String): Unit = Store.fold(spark, dir)

  /** How many `run=` partitions the store currently holds (spec
    * hook for the compaction contract). */
  private[graft] def runCount(spark: SparkSession, dir: String): Int =
    Store.runCount(spark, dir)
}
