package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Crash-recoverable partition-folding shared by every
  * run/epoch-accumulating store ([[RunStore]] — the five count
  * stores, [[graft.pipeline.DedupIndex]] and
  * [[graft.pipeline.HybridRetrieval]] — plus
  * [[graft.pipeline.AnnIndex]] and
  * [[graft.pipeline.ClusterMaintenance]]) — one implementation so the
  * crash semantics cannot diverge (the first cut had three
  * hand-rolled variants with three different failure windows).
  *
  * Protocol, for folding every `<prefix>=` dir under `path` into one
  * `<prefix>=<target>`:
  *   1. write the merged snapshot to `.compact-tmp` (a dot-dir —
  *      parquet readers ignore it);
  *   2. create the `.compact-commit` marker naming the target
  *      (atomic create — the commit point: from here the snapshot is
  *      authoritative);
  *   3. delete the old partition dirs;
  *   4. rename the snapshot to `<prefix>=<target>`;
  *   5. delete the marker.
  * A crash before 2 changes nothing readable (a stale tmp is
  * discarded by the next fold). A crash after 2 is completed by
  * [[heal]], which the stores' read entry points call first — every
  * window self-heals on the next touch instead of requiring manual
  * recovery. Folds must still run at a QUIESCENT point (no in-flight
  * appends): an append landing between 3 and 4 is not protected —
  * that is the stores' documented operational contract, not a crash
  * concern.
  */
object StoreCompaction {

  private val TmpName = ".compact-tmp"
  private val MarkerName = ".compact-commit"

  /** Fold the `<prefix>=` partitions of `path` into `<prefix>=<target>`
    * holding `merged` (already stripped of the partition column).
    * No-op when the store has ≤ 1 partition dir, unless `force` —
    * callers whose merged snapshot DIFFERS from the single partition
    * (AnnIndex folding tombstones into a compacted store) need the
    * rewrite to run regardless. */
  def fold(spark: SparkSession, path: String, prefix: String, target: String,
           merged: => DataFrame, partitionCols: Seq[String] = Nil,
           force: Boolean = false): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    heal(spark, path, prefix)
    if (!force && partDirs(fs, root, prefix).length <= 1) return
    val tmp = new Path(root, TmpName)
    fs.delete(tmp, true)
    val w = merged.write.mode("overwrite")
    (if (partitionCols.nonEmpty) w.partitionBy(partitionCols: _*) else w)
      .parquet(tmp.toString)
    val marker = fs.create(new Path(root, MarkerName), true)
    try marker.write(target.getBytes("UTF-8")) finally marker.close()
    // every step between marker and marker-removal must VERIFY its fs
    // result (Hadoop FileSystem reports failure by returning false,
    // not throwing): on failure we abort with the marker in place so
    // heal can finish the job — silently proceeding to delete the
    // marker after a failed rename would strand the snapshot in the
    // dot-dir with no recovery path
    partDirs(fs, root, prefix).foreach(p => mustDelete(fs, p))
    mustRename(fs, tmp, new Path(root, s"$prefix=$target"))
    fs.delete(new Path(root, MarkerName), false)
  }

  /** Remove any in-flight protocol state (marker + temp snapshot)
    * WITHOUT completing it — for rebuild/init paths that are about
    * to destroy the store's contents anyway: healing there would
    * resurrect the previous deployment's data over the fresh one. */
  def reset(spark: SparkSession, path: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    // same verification discipline as fold/heal: a silently-failed
    // marker delete here would leave the old marker for the next
    // read's heal, which would resurrect the PREVIOUS deployment's
    // snapshot over the fresh store — the exact scenario reset exists
    // to prevent
    mustDelete(fs, new Path(root, MarkerName))
    mustDelete(fs, new Path(root, TmpName))
  }

  private def mustDelete(fs: org.apache.hadoop.fs.FileSystem, p: Path): Unit =
    if (fs.exists(p) && !fs.delete(p, true))
      throw new IllegalStateException(
        s"compaction: failed to delete $p (commit marker left for heal)")

  private def mustRename(fs: org.apache.hadoop.fs.FileSystem,
                         from: Path, to: Path): Unit =
    if (!fs.rename(from, to))
      throw new IllegalStateException(
        s"compaction: failed to rename $from -> $to (commit marker left for heal)")

  /** Complete an interrupted [[fold]]: while the commit marker
    * exists the temp snapshot is authoritative — delete leftover
    * partition dirs, rename the snapshot into place (skipped if the
    * crash already renamed it), drop the marker. No-op without the
    * marker, so calling this from every read path costs one
    * existence check. */
  def heal(spark: SparkSession, path: String, prefix: String): Unit = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    val markerPath = new Path(root, MarkerName)
    if (!fs.exists(markerPath)) return
    val in = fs.open(markerPath)
    val target =
      try scala.io.Source.fromInputStream(in, "UTF-8").mkString.trim
      finally in.close()
    val tmp = new Path(root, TmpName)
    if (target.nonEmpty && fs.exists(tmp)) {
      partDirs(fs, root, prefix).foreach(p => mustDelete(fs, p))
      mustRename(fs, tmp, new Path(root, s"$prefix=$target"))
    }
    fs.delete(markerPath, false)
  }

  private def partDirs(fs: org.apache.hadoop.fs.FileSystem, root: Path,
                       prefix: String): Array[Path] =
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith(prefix + "="))

  /** Whether `path` holds ANY committed parquet data file — the
    * empty-store probe shared by JsonlIngest's quarantine, the
    * screened-good stores and the hybrid store's codebooks. Two empty
    * shapes, neither a crash: no dir at all, and a dir whose first
    * write is still in flight (only `_temporary` exists — spark.read
    * would fail schema inference), so the probe walks for a committed
    * `.parquet` file, not fs.exists. */
  private[graft] def hasParquetData(spark: SparkSession, path: String): Boolean = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def walk(p: Path): Boolean =
      fs.exists(p) && fs.listStatus(p).exists { st =>
        val n = st.getPath.getName
        if (st.isDirectory) !n.startsWith("_") && !n.startsWith(".") && walk(st.getPath)
        else n.endsWith(".parquet")
      }
    walk(root)
  }

  /** How many `<prefix>=` partitions a store currently holds, after
    * healing any interrupted fold — the compaction-contract spec
    * hook of every [[RunStore]]. */
  private[graft] def runCount(spark: SparkSession, path: String,
                              prefix: String): Int = {
    heal(spark, path, prefix)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0 else partDirs(fs, root, prefix).length
  }

  /** Compaction-cadence telemetry of one `<prefix>=`-partitioned
    * store: accumulated partitions, committed data files, bytes. */
  case class StoreStats(partitions: Int, files: Long, bytes: Long)

  /** Default absorb-count threshold for [[needsCompaction]]: every
    * read of a run-partitioned store lists all partitions and opens
    * every file's footer, so planning cost grows linearly with
    * absorbed deliveries while the data does not — a month of daily
    * appends is the documented tolerance before an operator should
    * schedule a quiescent [[fold]] (the measured fold-equivalence
    * contract means WHEN is purely a read-latency trade, never a
    * correctness one). The same number serves every store in the
    * family (DedupIndex, AnnIndex codes/raw, HybridRetrieval,
    * MixtureMaintenance, DriftMonitor, JsonlIngest quarantine) —
    * AnnIndex's cell-balance telemetry answers the orthogonal
    * question of when to RE-TRAIN, not when to fold. */
  val CompactAfterRuns = 32

  /** Walk the store (healing any interrupted fold first) and report
    * [[StoreStats]] — the metric an operator watches to schedule
    * compaction, the fold twin of AnnIndex's `cellStats`. */
  def stats(spark: SparkSession, path: String, prefix: String): StoreStats = {
    heal(spark, path, prefix)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return StoreStats(0, 0L, 0L)
    var files = 0L; var bytes = 0L
    def walk(p: Path): Unit = fs.listStatus(p).foreach { st =>
      val n = st.getPath.getName
      if (st.isDirectory) { if (!n.startsWith("_") && !n.startsWith(".")) walk(st.getPath) }
      else if (n.endsWith(".parquet")) { files += 1; bytes += st.getLen }
    }
    val parts = partDirs(fs, root, prefix)
    parts.foreach(walk)
    StoreStats(parts.length, files, bytes)
  }

  /** True once the store has absorbed more than `threshold` runs —
    * the operator's cue to schedule a quiescent [[fold]]. */
  def needsCompaction(spark: SparkSession, path: String, prefix: String,
                      threshold: Int = CompactAfterRuns): Boolean =
    stats(spark, path, prefix).partitions > threshold
}
