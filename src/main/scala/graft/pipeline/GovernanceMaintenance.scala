package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Incremental release-governance maintenance — the
  * [[CorpusStatsMaintenance]] doctrine applied to the
  * governance/uncertainty pair:
  *
  *  - **q171 k-anonymity / l-diversity**: the audit's whole input is
  *    the per-(QI cell, sensitive value) record count — additive
  *    across disjoint deliveries — so a data owner re-checks the
  *    release verdicts after EVERY ingest at O(batch) cost (the
  *    moment a delivery creates a singleton QI cell is exactly when
  *    the suppress flag must flip, not at the next nightly scan).
  *  - **q172 Poisson-bootstrap CI**: the replicate weight is a pure
  *    function of (doc_id, replicate), so the per-(source, replicate)
  *    weighted sums and the point-estimate sums are BOTH additive —
  *    the full-corpus confidence interval tightens delivery by
  *    delivery without ever resampling the corpus (the incremental
  *    posture Chamandy et al.'s streaming formulation was built for).
  *
  * Store layout: one root, two [[graft.ops.RunStore]] groups —
  * `dir/qicounts` (nationkey, segment, band, sensitive, n) alone,
  * and the bootstrap pair `dir/bootreps` (source, b, s, wsum) +
  * `dir/bootpoint` (source, n_docs, lsum), which one delivery writes
  * and acknowledges together so a crash between the two writes can
  * never skew the CI against its own point estimate. The QI group
  * keeps its acks inside `qicounts`, apart from the pair's at the
  * root: a QI delivery `bX` never approves a half-landed bootstrap
  * `bX`. Serving goes through the SAME `FromCounts` derivations the
  * gated queries run — served ≡ batch is structural
  * (GovernanceMaintenanceSpec proves it over the union).
  *
  * Store sizes are corpus-free: O(occupied QI cells × sensitive
  * values) and O(sources × B) per run.
  */
object GovernanceMaintenance {

  import graft.ops.RunStore

  private val QiCounts = RunStore.Table("qicounts",
    "nationkey BIGINT, segment STRING, band BIGINT, sensitive DOUBLE, n BIGINT",
    "nationkey", "segment", "band", "sensitive")
  private[graft] val Qi = new RunStore("qicounts", QiCounts)
  private val Reps =
    RunStore.Table("bootreps", "source STRING, b INT, s BIGINT, wsum BIGINT", "source", "b")
  private val Points =
    RunStore.Table("bootpoint", "source STRING, n_docs BIGINT, lsum BIGINT", "source")
  private[graft] val Boot = new RunStore("", Reps, Points)

  // ---- q171: k-anonymity / l-diversity --------------------------

  /** Full rebuild from a records snapshot → `run=base`. `rows` is
    * the q171 input shape (nationkey, segment, band, sensitive). */
  def buildQi(spark: SparkSession, rows: DataFrame, dir: String): Unit =
    Qi.rebuild(spark, dir, graft.queries.Cleaning.qiCounts(rows))

  /** Absorb one delivery under `run=<runId>` — O(batch), idempotent
    * under re-delivery. */
  def absorbQi(spark: SparkSession, rows: DataFrame, dir: String,
               runId: String): Unit =
    Qi.absorb(spark, dir, runId, graft.queries.Cleaning.qiCounts(rows))

  /** Fold every run into one summed partition (crash-recoverable;
    * run at a quiescent point — the store family's contract). */
  def compactQi(spark: SparkSession, dir: String): Unit = Qi.fold(spark, dir)

  /** The q171 release audit from the store. */
  def kAnonymity(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Cleaning.kAnonymityFromCounts(Qi.read(spark, dir)(QiCounts))

  // ---- q172: Poisson-bootstrap CI --------------------------------

  private def withPartials[T](docs: DataFrame)(f: Seq[DataFrame] => T): T = {
    val in = graft.queries.Sketch.bootInput(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(Seq(graft.queries.Sketch.bootRepPartials(in),
      graft.queries.Sketch.bootPointPartials(in)))
    finally in.unpersist()
  }

  /** Full rebuild from a documents snapshot → `run=base`. `docs` is
    * a raw (doc_id, source, text) document frame. */
  def buildBoot(spark: SparkSession, docs: DataFrame, dir: String): Unit =
    withPartials(docs)(Boot.rebuild(spark, dir, _: _*))

  /** Absorb one document delivery under `run=<runId>` — O(batch·B)
    * map work, O(sources·B) rows written, idempotent; both
    * sub-stores land before the delivery is acknowledged. */
  def absorbBoot(spark: SparkSession, docs: DataFrame, dir: String,
                 runId: String): Unit =
    withPartials(docs)(Boot.absorb(spark, dir, runId, _: _*))

  /** Fold both bootstrap sub-stores; a half-landed (unacknowledged)
    * run is dropped, not merged — its delivery will be retried whole
    * under the at-least-once contract. */
  def compactBoot(spark: SparkSession, dir: String): Unit = Boot.fold(spark, dir)

  /** The q172 CI table from the store — both sub-stores read under
    * one snapshot of the acks. */
  def bootstrapCi(spark: SparkSession, dir: String): DataFrame = {
    val counts = Boot.read(spark, dir)
    graft.queries.Sketch.bootstrapCiFromCounts(counts(Reps), counts(Points))
  }
}
