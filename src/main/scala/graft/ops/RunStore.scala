package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The `run=`-partitioned stores' one protocol: a group of
  * [[RunStore.Table]]s under one store root that one delivery writes
  * together. The five count stores
  * ([[graft.pipeline.CorpusStatsMaintenance]],
  * [[graft.pipeline.GovernanceMaintenance]],
  * [[graft.pipeline.NumericAuditMaintenance]],
  * [[graft.pipeline.MixtureMaintenance]],
  * [[graft.pipeline.DriftMonitor]]) and the two serving stores
  * ([[graft.pipeline.DedupIndex]], [[graft.pipeline.HybridRetrieval]])
  * reach their tables only through here.
  *
  * Layout: table `t` lives at `<dir>/<t.name>/run=<id>/`, below that
  * `<bucket>=<b>/` for a bucketed table, `run=base` holding the
  * rebuilt or folded contents. A summed table is additive: its reads
  * and folds sum the non-key columns over the keys, so an uncompacted
  * store serves the same integers as a compacted one. A row table's
  * fold concatenates its runs.
  *
  *   - [[rebuild]] clears the group's acks, then replaces every table
  *     with one `run=base` through the [[StoreCompaction]] fold: a
  *     failed rebuild leaves each table's old contents or its new
  *     ones, never an empty table;
  *   - [[absorb]] heals, overwrites `run=<id>` of every table
  *     (dynamic partition overwrite: re-delivery replaces, never
  *     doubles, and a failed re-delivery leaves the old run in
  *     place) and only then acknowledges the delivery through
  *     [[DeliveryMarker]]. A table that receives no rows gets no
  *     `run=<id>` directory;
  *   - [[read]] heals once and lists the acks once, and every read of
  *     the returned [[Snapshot]] is under the declared schema (no
  *     schema-inference job; a numeric run id stays a string) and
  *     keeps `run=base` plus the acknowledged runs;
  *   - [[fold]] compacts acknowledged runs (summed or concatenated),
  *     drops unacknowledged ones and clears the folded acks after the
  *     last table (quiescent-point contract, as every fold).
  *
  * `acks` is the directory under the store root that holds the
  * group's delivery markers ("" = the root): two groups that share a
  * root keep their acks apart, so one group's ack never approves
  * another group's half-landed run of the same id.
  */
final class RunStore(acks: String, private[graft] val tables: RunStore.Table*) {
  import RunStore.Table

  private def ackDir(dir: String) = s"$dir/$acks"

  private def heal(spark: SparkSession, dir: String): Unit =
    tables.foreach(t => StoreCompaction.heal(spark, t.path(dir), "run"))

  /** Replace every table with `frames` (table order) as `run=base`. */
  def rebuild(spark: SparkSession, dir: String, frames: DataFrame*): Unit = {
    DeliveryMarker.clearAll(spark, ackDir(dir))
    paired(frames).foreach { case (t, df) =>
      val root = new Path(t.path(dir))
      root.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(root)
      StoreCompaction.fold(spark, t.path(dir), "run", "base", df, t.bucket.toSeq, force = true)
    }
  }

  /** Land one delivery's `frames` (table order) under `run=<runId>`
    * and acknowledge it once the last table is durable. */
  def absorb(spark: SparkSession, dir: String, runId: String,
             frames: DataFrame*): Unit = {
    heal(spark, dir)
    paired(frames).foreach { case (t, df) =>
      df.withColumn("run", lit(runId)).write.partitionBy("run" +: t.bucket.toSeq: _*)
        .mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .parquet(t.path(dir))
    }
    DeliveryMarker.mark(spark, ackDir(dir), runId)
  }

  /** The group under ONE snapshot of the acks, so reads that join two
    * tables see the same deliveries. */
  def read(spark: SparkSession, dir: String): Snapshot = {
    heal(spark, dir)
    new Snapshot(spark, dir, DeliveryMarker.approved(spark, ackDir(dir)))
  }

  /** Fold every table's acknowledged runs into `run=base`. `derived`
    * then folds state derived from the tables under the same acks,
    * before they clear. */
  def fold(spark: SparkSession, dir: String,
           derived: Set[String] => Unit = _ => ()): Unit = {
    val snap = new Snapshot(spark, dir, DeliveryMarker.approved(spark, ackDir(dir)))
    tables.foreach(t => StoreCompaction.fold(spark, t.path(dir), "run", "base",
      if (t.summed) snap(t) else snap.rows(t).drop("run"), t.bucket.toSeq))
    derived(snap.approved)
    DeliveryMarker.clear(spark, ackDir(dir), snap.approved)
  }

  /** How many `run=` partitions the group's first table holds. */
  def runCount(spark: SparkSession, dir: String): Int =
    StoreCompaction.runCount(spark, tables.head.path(dir), "run")

  private def paired(frames: Seq[DataFrame]): Seq[(Table, DataFrame)] = {
    require(frames.size == tables.size, s"${frames.size} frames for ${tables.size} tables")
    tables.zip(frames)
  }

  /** One listing of the acks: `approved` run ids, plus `run=base`. */
  final class Snapshot private[RunStore] (spark: SparkSession, private[graft] val dir: String,
                                          val approved: Set[String]) {

    def isApproved(run: String): Boolean = run == "base" || approved(run)

    /** Table `t`'s approved rows, `run` included, minus `excludeRun`.
      * A row table is written by its build: reading one that never
      * was fails with PATH_NOT_FOUND rather than serving nothing. */
    def rows(t: Table, excludeRun: Option[String] = None): DataFrame = {
      require(tables.contains(t), s"${t.name} is not a table of this store")
      val df = DeliveryMarker.approvedOnly(
        spark.read.schema(t.schema).parquet(t.path(dir)), approved)
      excludeRun.fold(df)(r => df.filter(col("run") =!= lit(r)))
    }

    /** Summed table `t` over its keys (and bucket); a table with no
      * committed data reads as an empty table. */
    def apply(t: Table): DataFrame = {
      val root = new Path(t.path(dir))
      val all =
        if (root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root)) rows(t)
        else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], t.schema)
      val sums = t.sums.map(c => sum(col(c)).as(c))
      all.groupBy((t.keys ++ t.bucket).map(col): _*).agg(sums.head, sums.tail: _*)
    }
  }
}

object RunStore {

  /** One table: its directory `name` under the store root, its
    * declared columns (`run STRING`, the partition column, is
    * appended, then the INT `bucket` column partitioned below it, if
    * any) and, for a summed table, its key columns: every other
    * column is a count summed over the keys and the bucket.
    * StoreSchemaSpec pins each declaration against what the writers
    * land. */
  final class Table private (val name: String, columns: String, val keys: Seq[String],
                             val summed: Boolean, val bucket: Option[String]) {
    val schema: StructType =
      StructType.fromDDL(s"$columns, run STRING" + bucket.fold("")(b => s", $b INT"))
    private[graft] val sums: Seq[String] =
      schema.fieldNames.toSeq.filterNot(c => c == "run" || keys.contains(c) || bucket.contains(c))
    private[graft] def path(dir: String): String = s"$dir/$name"

    /** This table with `b` (derived by the writer) partitioned below `run`. */
    def bucketedBy(b: String): Table = new Table(name, columns, keys, summed, Some(b))
  }

  object Table {
    /** A summed table keyed on `keys`. */
    def apply(name: String, columns: String, keys: String*): Table =
      new Table(name, columns, keys, summed = true, None)

    /** A row table: its fold concatenates the runs. */
    def rows(name: String, columns: String): Table =
      new Table(name, columns, Nil, summed = false, None)
  }
}
