package graft.ops

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** The additive count stores' one protocol: a group of count
  * [[CountStore.Table]]s under one store root that one delivery
  * writes together ([[graft.pipeline.CorpusStatsMaintenance]],
  * [[graft.pipeline.GovernanceMaintenance]],
  * [[graft.pipeline.NumericAuditMaintenance]],
  * [[graft.pipeline.MixtureMaintenance]],
  * [[graft.pipeline.DriftMonitor]] reach their stores only through
  * here).
  *
  * Layout: table `t` lives at `<dir>/<t.name>/run=<id>/`, `run=base`
  * holding the rebuilt or folded totals. Every table is additive, so
  * every read sums the summed columns over the keys and an
  * uncompacted store serves the same integers as a compacted one.
  *
  *   - [[rebuild]] replaces every table with one `run=base` through
  *     the [[StoreCompaction]] fold (a crash leaves the old store or
  *     the new one, never neither) after clearing the group's acks;
  *   - [[absorb]] heals, overwrites `run=<id>` of every table
  *     (dynamic partition overwrite: re-delivery replaces, never
  *     doubles) and only then acknowledges the delivery through
  *     [[DeliveryMarker]];
  *   - [[read]] heals and reads under the declared schema — no
  *     schema-inference job, and a numeric run id stays a string —
  *     keeping `run=base` plus acknowledged runs; a store with no
  *     committed data reads as an empty table;
  *   - [[fold]] compacts acknowledged runs with the same sum, drops
  *     unacknowledged ones and clears the folded acks after the last
  *     table (quiescent-point contract, as every fold).
  *
  * `acks` is the directory under the store root that holds the
  * group's delivery markers ("" = the root): two groups that share a
  * root keep their acks apart, so one group's ack never approves
  * another group's half-landed run of the same id.
  */
final class CountStore(acks: String, private[graft] val tables: CountStore.Table*) {
  import CountStore.Table

  private def ackDir(dir: String) = s"$dir/$acks"

  private def heal(spark: SparkSession, dir: String): Unit =
    tables.foreach(t => StoreCompaction.heal(spark, t.path(dir), "run"))

  /** Replace every table with `frames` (table order) as `run=base`. */
  def rebuild(spark: SparkSession, dir: String, frames: DataFrame*): Unit = {
    DeliveryMarker.clearAll(spark, ackDir(dir))
    paired(frames).foreach { case (t, df) =>
      val root = new Path(t.path(dir))
      root.getFileSystem(spark.sparkContext.hadoopConfiguration).mkdirs(root)
      StoreCompaction.fold(spark, t.path(dir), "run", "base", df, force = true)
    }
  }

  /** Land one delivery's `frames` (table order) under `run=<runId>`
    * and acknowledge it once the last table is durable. */
  def absorb(spark: SparkSession, dir: String, runId: String,
             frames: DataFrame*): Unit = {
    heal(spark, dir)
    paired(frames).foreach { case (t, df) =>
      df.withColumn("run", lit(runId)).write.partitionBy("run")
        .mode("overwrite").option("partitionOverwriteMode", "dynamic")
        .parquet(t.path(dir))
    }
    DeliveryMarker.mark(spark, ackDir(dir), runId)
  }

  /** The summed tables of the group under ONE snapshot of the acks,
    * so statistics that join two tables see the same deliveries. */
  def read(spark: SparkSession, dir: String): Table => DataFrame = {
    heal(spark, dir)
    val ap = DeliveryMarker.approved(spark, ackDir(dir))
    t => summed(spark, dir, t, ap)
  }

  /** Fold every table's acknowledged runs into `run=base`. */
  def fold(spark: SparkSession, dir: String): Unit = {
    val ap = DeliveryMarker.approved(spark, ackDir(dir))
    tables.foreach(t => StoreCompaction.fold(spark, t.path(dir), "run", "base",
      summed(spark, dir, t, ap)))
    DeliveryMarker.clear(spark, ackDir(dir), ap)
  }

  /** How many `run=` partitions the group's first table holds. */
  def runCount(spark: SparkSession, dir: String): Int =
    StoreCompaction.runCount(spark, tables.head.path(dir), "run")

  private def paired(frames: Seq[DataFrame]): Seq[(Table, DataFrame)] = {
    require(frames.size == tables.size, s"${frames.size} frames for ${tables.size} tables")
    tables.zip(frames)
  }

  private def summed(spark: SparkSession, dir: String, t: Table,
                     ap: Set[String]): DataFrame = {
    require(tables.contains(t), s"${t.name} is not a table of this store")
    val root = new Path(t.path(dir))
    val all =
      if (root.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(root))
        spark.read.schema(t.schema).parquet(root.toString)
      else spark.createDataFrame(spark.sparkContext.emptyRDD[Row], t.schema)
    val sums = t.sums.map(c => sum(col(c)).as(c))
    DeliveryMarker.approvedOnly(all, ap)
      .groupBy(t.keys.map(col): _*).agg(sums.head, sums.tail: _*)
  }
}

object CountStore {

  /** One additive table: its directory `name` under the store root,
    * its declared columns (`run STRING`, the partition column, is
    * appended) and its key columns; every other column is a count
    * summed over the keys. StoreSchemaSpec pins each declaration
    * against what the writers land. */
  final case class Table(name: String, columns: String, keys: String*) {
    val schema: StructType = StructType.fromDDL(s"$columns, run STRING")
    private[graft] val sums: Seq[String] =
      schema.fieldNames.toSeq.filterNot(c => c == "run" || keys.contains(c))
    private[graft] def path(dir: String): String = s"$dir/$name"
  }
}
