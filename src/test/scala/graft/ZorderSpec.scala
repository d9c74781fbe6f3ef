package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.ZorderLayout

/** ZorderLayout (graft.pipeline) — the write→skip round trip: a
  * z-ordered layout plus recorded spans must let a selective 2-D box
  * query open only a fraction of the files while returning exactly
  * the full-scan answer.
  */
class ZorderSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("a 2-D box query prunes files via the recorded spans and matches the full scan") {
    val dir = tmp("zorder") + "/orders_z"
    val orders = Tables.orders(spark, "/root/testdata/sf0.001")
    // q80's buckets: customer bucket × order-day bucket
    val x = pmod($"o_custkey", lit(256L))
    val y = pmod(datediff(to_date($"o_orderdate"), to_date(lit("1970-01-01")))
      .cast("long"), lit(256L))
    ZorderLayout.write(orders, x, y, dir)

    val totalFiles = spark.read.parquet(dir)
      .select(input_file_name()).distinct().count()
    assert(totalFiles > 16, s"layout produced only $totalFiles files — too few to prove pruning")

    // a 16×16 box = 1/256 of the key space
    val pruned = ZorderLayout.prunedScan(spark, dir, 0L, 15L, 0L, 15L)
    val readFiles = pruned.select(input_file_name()).distinct().count()
    assert(readFiles < totalFiles / 4,
      s"box read $readFiles of $totalFiles files — z-order should prune most")

    // equality against the naive full-scan filter on the source table
    val expected = orders.select($"o_orderkey", x.as("zx"), y.as("zy"))
      .filter($"zx".between(0, 15) && $"zy".between(0, 15))
      .select($"o_orderkey").as[Long].collect().sorted
    val got = pruned.select($"o_orderkey").as[Long].collect().sorted
    assert(got.length > 0, "empty box result — the planted box should match rows")
    assert(got.sameElements(expected),
      s"pruned scan result diverges: got ${got.length} rows, want ${expected.length}")

    // and the partition filter actually reaches the scan: the pruned
    // plan's file scan carries zfile partition filters
    val plan = pruned.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [") && plan.contains("zfile"),
      s"no partition filter in pruned scan plan:\n$plan")
  }
}
