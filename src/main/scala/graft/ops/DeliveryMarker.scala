package graft.ops

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Per-run delivery acknowledgement of every [[RunStore]] delivery
  * (the five count stores, [[graft.pipeline.DedupIndex]] and
  * [[graft.pipeline.HybridRetrieval]]). It exists for the stores
  * whose ONE logical delivery spans SEVERAL parquet sub-store writes:
  * two (or three, or four) parquet writes are not atomic together,
  * so a crash between them leaves `run=<id>`
  * present in some sub-stores and absent from others. Served
  * statistics that JOIN across sub-stores (q172's CI against its own
  * point estimate; q154's H2 − H1 across term and bigram counts;
  * dedup screening's bands against fingerprints) would then compute
  * over inconsistent corpora — and a compaction before the retry
  * folds the inconsistency into `run=base` permanently.
  *
  * Protocol (one marker file per run in the `root` a store names —
  * the store root, beside the sub-store dirs, unless two groups
  * share that root):
  *   - the absorb/append path writes ALL sub-stores, then [[mark]]s
  *     — the commit point;
  *   - every read path filters partitioned reads through
  *     [[approvedOnly]]: `run=base` (full rebuild / fold target) is
  *     implicitly approved, any other run id must carry a marker —
  *     an unacknowledged half-landed delivery is invisible (the
  *     filter hits the `run` partition column, so reads stay
  *     pruned);
  *   - compaction folds approved runs only and DROPS unmarked
  *     partitions (correct under the family's at-least-once
  *     contract: an unacknowledged delivery is retried whole, and
  *     the retry's per-run overwrite replaces every half together
  *     before re-marking), then [[clear]]s the folded markers AFTER
  *     the last sub-store fold — a crash between folds leaves the
  *     not-yet-folded sub-stores' approved partitions readable
  *     through the same filter, so serving stays consistent across
  *     every window;
  *   - a full rebuild [[clear]]s stale markers first (a marker that
  *     outlives its data would approve a future half-landed retry of
  *     a reused run id).
  *
  * Marker deletes VERIFY the FileSystem result (Hadoop reports
  * failure by returning false, not throwing) — the
  * [[StoreCompaction]] discipline. */
object DeliveryMarker {

  private def markerPath(root: String, runId: String) =
    new Path(root, s".run-$runId.ok")

  private def fs(spark: SparkSession, root: String): FileSystem =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Acknowledge `runId`: every sub-store write of the delivery is
    * durable. Overwrites (idempotent under re-delivery). */
  def mark(spark: SparkSession, root: String, runId: String): Unit = {
    val f = fs(spark, root)
    val p = markerPath(root, runId)
    f.mkdirs(p.getParent)
    f.create(p, true).close()
  }

  /** Run ids whose delivery committed every sub-store. */
  def approved(spark: SparkSession, root: String): Set[String] = {
    val f = fs(spark, root)
    val r = new Path(root)
    if (!f.exists(r)) Set.empty
    else f.listStatus(r).map(_.getPath.getName)
      .collect { case n if n.startsWith(".run-") && n.endsWith(".ok") =>
        n.stripPrefix(".run-").stripSuffix(".ok") }
      .toSet
  }

  /** Keep `run=base` plus marker-approved runs of a partitioned
    * read; a half-landed (unacknowledged) delivery is invisible. */
  def approvedOnly(df: DataFrame, approvedRuns: Set[String],
                   runCol: String = "run"): DataFrame =
    df.where(col(runCol) === lit("base") ||
      col(runCol).isin(approvedRuns.toSeq: _*))

  /** Delete the named markers, verifying each delete — a silently
    * surviving marker would approve a future half-landed retry of
    * the same run id. */
  def clear(spark: SparkSession, root: String, runIds: Set[String]): Unit = {
    val f = fs(spark, root)
    runIds.foreach { r =>
      val p = markerPath(root, r)
      if (f.exists(p) && !f.delete(p, false))
        throw new IllegalStateException(
          s"delivery marker: failed to delete $p")
    }
  }

  /** Delete every marker under `root` (full-rebuild reset). */
  def clearAll(spark: SparkSession, root: String): Unit =
    clear(spark, root, approved(spark, root))
}
