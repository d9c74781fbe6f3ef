package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.NumericAuditMaintenance

/** NumericAuditMaintenance — the incremental digit store must serve
  * q164's Benford table EXACTLY (same integers as the batch chain
  * over the union of everything absorbed), stay idempotent under
  * re-delivery, and be invisible to consumers across compaction.
  */
class NumericAuditSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("incremental digit store serves q164 exactly, re-delivery idempotent, compaction invisible") {
    val dir = tmp("numaudit") + "/store"
    // a never-written store serves an empty table, not PATH_NOT_FOUND
    assert(NumericAuditMaintenance.benford(spark, dir).collect().isEmpty,
      "a fresh digit store must serve an empty table")
    val prices = Tables.lineitem(spark, sf)
      .select($"l_orderkey", $"l_extendedprice")
    val part0 = prices.filter(pmod($"l_orderkey", lit(3L)) === 0L)
    val part1 = prices.filter(pmod($"l_orderkey", lit(3L)) === 1L)
    val part2 = prices.filter(pmod($"l_orderkey", lit(3L)) === 2L)

    NumericAuditMaintenance.build(spark, part0, dir)
    NumericAuditMaintenance.absorb(spark, part1, dir, "b1")
    NumericAuditMaintenance.absorb(spark, part2, dir, "b2")

    def served = NumericAuditMaintenance.benford(spark, dir).collect().toSeq
    val batch = graft.queries.Relational.benfordDigits(prices).collect().toSeq
    assert(batch.nonEmpty, "fixture served nothing")
    assert(served == batch,
      "served Benford table diverges from the batch chain")

    // at-least-once: a re-delivered batch overwrites its own run
    NumericAuditMaintenance.absorb(spark, part1, dir, "b1")
    assert(served == batch, "re-delivery changed the served table")

    // compaction folds runs without changing a single served integer
    val root = new org.apache.hadoop.fs.Path(s"$dir/digitcounts")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def runDirs = fs.listStatus(root)
      .count(s => s.isDirectory && s.getPath.getName.startsWith("run="))
    assert(runDirs == 3, s"expected 3 run partitions, got $runDirs")
    // a crash between a delivery's write and its ack: an all-leading-9
    // run=bX lands unacknowledged — invisible to serving, and the
    // fold below must drop it rather than fold it into run=base
    graft.queries.Relational.digitCounts(
        (1L to 50L).map(i => (800000L + i, 9.5)).toDF("l_orderkey", "l_extendedprice"))
      .withColumn("run", lit("bX"))
      .write.partitionBy("run").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(s"$dir/digitcounts")
    assert(served == batch, "an unacknowledged run must be invisible to serving")
    NumericAuditMaintenance.compact(spark, dir)
    assert(runDirs == 1, "compaction must fold to one partition")
    assert(served == batch, "compaction changed the served table")

    // the store keeps absorbing after a fold — a skewed synthetic
    // delivery (all leading-9 prices) shifts the served χ² exactly
    // like the batch chain over the union
    val fresh = (1L to 50L).map(i => (900000L + i, 9.99))
      .toDF("l_orderkey", "l_extendedprice")
    NumericAuditMaintenance.absorb(spark, fresh, dir, "b3")
    assert(served ==
      graft.queries.Relational.benfordDigits(prices.unionByName(fresh))
        .collect().toSeq,
      "post-compaction absorb diverges from the batch chain")
  }
}
