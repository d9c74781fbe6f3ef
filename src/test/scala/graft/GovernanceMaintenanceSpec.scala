package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.GovernanceMaintenance
import java.nio.file.Files

/** GovernanceMaintenance — the incremental QI and bootstrap stores
  * must serve q171/q172 EXACTLY (same integers as the batch chains
  * over the union of everything absorbed), stay idempotent under
  * re-delivery, and be invisible to consumers across compaction;
  * the streaming twin must land the same statistics.
  */
class GovernanceMaintenanceSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def runDirs(store: String): Int = {
    val root = new org.apache.hadoop.fs.Path(store)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.listStatus(root)
      .count(s => s.isDirectory && s.getPath.getName.startsWith("run="))
  }

  test("incremental QI store serves q171 exactly, re-delivery idempotent, compaction invisible") {
    val dir = tmp("gov") + "/store"
    val cust = Tables.customer(spark, sf)
    // a never-written store serves an empty audit, not PATH_NOT_FOUND
    assert(GovernanceMaintenance.kAnonymity(spark, dir).collect().isEmpty,
      "a fresh QI store must serve an empty audit")
    val part0 = cust.filter(pmod($"c_custkey", lit(3L)) === 0L)
    val part1 = cust.filter(pmod($"c_custkey", lit(3L)) === 1L)
    val part2 = cust.filter(pmod($"c_custkey", lit(3L)) === 2L)

    GovernanceMaintenance.buildQi(spark,
      graft.queries.Cleaning.qiInput(part0), dir)
    GovernanceMaintenance.absorbQi(spark,
      graft.queries.Cleaning.qiInput(part1), dir, "b1")
    GovernanceMaintenance.absorbQi(spark,
      graft.queries.Cleaning.qiInput(part2), dir, "b2")

    def served = GovernanceMaintenance.kAnonymity(spark, dir).collect().toSeq
    val batch = SparkEntry.queries("q171_k_anonymity")(spark, sf)
      .collect().toSeq
    assert(batch.nonEmpty, "fixture served nothing")
    assert(served == batch, "served release audit diverges from the batch chain")

    // at-least-once: a re-delivered batch overwrites its own run
    GovernanceMaintenance.absorbQi(spark,
      graft.queries.Cleaning.qiInput(part1), dir, "b1")
    assert(served == batch, "re-delivery changed the served audit")

    // compaction folds runs without changing a single served integer
    assert(runDirs(s"$dir/qicounts") == 3)
    GovernanceMaintenance.compactQi(spark, dir)
    assert(runDirs(s"$dir/qicounts") == 1, "compaction must fold to one run")
    assert(served == batch, "compaction changed the served audit")

    // the store keeps absorbing after a fold — a delivery that
    // creates a fresh singleton QI cell must flip suppress ON for
    // exactly that cell, like the batch chain over the union
    val fresh = Seq((999999L, 99, 123.45, "AUTOMOBILE"))
      .toDF("c_custkey", "c_nationkey", "c_acctbal", "c_mktsegment")
    GovernanceMaintenance.absorbQi(spark,
      graft.queries.Cleaning.qiInput(fresh), dir, "b3")
    val unionBatch = graft.queries.Cleaning.kAnonymity(
      graft.queries.Cleaning.qiInput(
        cust.select($"c_custkey", $"c_nationkey", $"c_acctbal",
          $"c_mktsegment").unionByName(fresh))).collect().toSeq
    assert(served == unionBatch,
      "post-compaction absorb diverges from the batch chain")
    val cell = served.find(r => r.getLong(0) == 99L)
    assert(cell.exists(r => r.getLong(3) == 1L && r.getLong(7) == 1L),
      s"fresh singleton cell must report k=1, suppress=1: $cell")
  }

  test("incremental bootstrap store serves q172 exactly, re-delivery idempotent, compaction invisible") {
    val dir = tmp("gov") + "/store"
    assert(GovernanceMaintenance.bootstrapCi(spark, dir).collect().isEmpty,
      "a fresh bootstrap store must serve an empty CI table")
    val docs = Tables.documents(spark, sf)
    val part0 = docs.filter(pmod($"doc_id", lit(3L)) === 0L)
    val part1 = docs.filter(pmod($"doc_id", lit(3L)) === 1L)
    val part2 = docs.filter(pmod($"doc_id", lit(3L)) === 2L)

    GovernanceMaintenance.buildBoot(spark, part0, dir)
    GovernanceMaintenance.absorbBoot(spark, part1, dir, "b1")
    GovernanceMaintenance.absorbBoot(spark, part2, dir, "b2")

    def served = GovernanceMaintenance.bootstrapCi(spark, dir).collect().toSeq
    val batch = SparkEntry.queries("q172_bootstrap_ci")(spark, sf)
      .collect().toSeq
    assert(batch.nonEmpty, "fixture served nothing")
    assert(served == batch, "served CI table diverges from the batch chain")

    GovernanceMaintenance.absorbBoot(spark, part1, dir, "b1")
    assert(served == batch, "re-delivery changed the served CI table")

    assert(runDirs(s"$dir/bootreps") == 3 && runDirs(s"$dir/bootpoint") == 3)
    GovernanceMaintenance.compactBoot(spark, dir)
    assert(runDirs(s"$dir/bootreps") == 1 && runDirs(s"$dir/bootpoint") == 1,
      "compaction must fold both sub-stores to one run")
    assert(served == batch, "compaction changed the served CI table")

    // post-compaction absorb: a fresh delivery (new source) lands a
    // new CI row and tightens nothing else — exactly the batch chain
    // over the union
    val fresh = (9000L to 9029L).map(i =>
      (i, s"word$i text body here", "en", "srcNew", 18L))
      .toDF("doc_id", "text", "lang", "source", "n_chars")
    GovernanceMaintenance.absorbBoot(spark, fresh, dir, "b3")
    val unionBatch = graft.queries.Sketch.bootstrapCi(
      graft.queries.Sketch.bootInput(
        docs.select($"doc_id", $"text", $"lang", $"source", $"n_chars")
          .unionByName(fresh))).collect().toSeq
    assert(served == unionBatch,
      "post-compaction absorb diverges from the batch chain")
    assert(served.exists(_.getString(0) == "srcNew"),
      "fresh source must land its own CI row")
  }

  test("half-landed bootstrap delivery: invisible to reads, dropped by compaction, healed by retry") {
    // The round-16 advisor's crash window: a delivery spans two
    // sub-store writes, and a crash between them used to leave
    // run=<id> in bootreps but not bootpoint — served CIs then
    // disagreed with their own point estimate, and a compaction
    // before the retry folded the inconsistency into run=base
    // permanently. The per-run commit marker closes all three exits.
    val dir = tmp("gov") + "/store"
    val docs = Tables.documents(spark, sf)
    val part0 = docs.filter(pmod($"doc_id", lit(2L)) === 0L)
    val part1 = docs.filter(pmod($"doc_id", lit(2L)) === 1L)
    GovernanceMaintenance.buildBoot(spark, part0, dir)
    val base = GovernanceMaintenance.bootstrapCi(spark, dir).collect().toSeq

    // simulate the crash: the reps half of run=bX lands (exactly
    // absorbBoot's first write), the points half and the marker never do
    graft.queries.Sketch.bootRepPartials(graft.queries.Sketch.bootInput(part1))
      .withColumn("run", lit("bX"))
      .write.partitionBy("run").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(s"$dir/bootreps")
    assert(GovernanceMaintenance.bootstrapCi(spark, dir).collect().toSeq == base,
      "an unacknowledged half-landed run must be invisible to serving")

    // a QI delivery under the same id acknowledges only its own
    // group: its ack must not approve the half-landed bootstrap run
    GovernanceMaintenance.absorbQi(spark,
      graft.queries.Cleaning.qiInput(Tables.customer(spark, sf)), dir, "bX")
    assert(GovernanceMaintenance.bootstrapCi(spark, dir).collect().toSeq == base,
      "a QI ack approved a half-landed bootstrap run of the same id")

    // compaction before the retry DROPS the half-landed partitions
    // instead of folding them into base
    GovernanceMaintenance.compactBoot(spark, dir)
    assert(GovernanceMaintenance.bootstrapCi(spark, dir).collect().toSeq == base,
      "compaction must drop, not fold, an unacknowledged run")

    // the at-least-once retry re-delivers the run whole; the store
    // converges on the batch chain over the full corpus
    GovernanceMaintenance.absorbBoot(spark, part1, dir, "bX")
    val batch = SparkEntry.queries("q172_bootstrap_ci")(spark, sf)
      .collect().toSeq
    assert(GovernanceMaintenance.bootstrapCi(spark, dir).collect().toSeq == batch,
      "retried delivery must converge the store on the batch chain")
  }

  test("streamed governance absorb ≡ batch (bootstrap store via GovernanceStream)") {
    val root = tmp("govstream")
    val in = s"$root/in"; val store = s"$root/store"; val ck = s"$root/ck"
    val f1 = Seq((1L, "srcA", "alpha beta alpha gamma"),
      (2L, "srcB", "gamma gamma delta"))
      .toDF("doc_id", "source", "text")
    val f2 = Seq((3L, "srcA", "beta beta delta epsilon zeta"),
      (4L, "srcB", "one two"))
      .toDF("doc_id", "source", "text")
    Files.createDirectories(java.nio.file.Paths.get(in))
    f1.coalesce(1).write.mode("append").parquet(in)
    f2.coalesce(1).write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, source STRING, text STRING")
    graft.streaming.GovernanceStream.runBootOnce(spark, in, store, ck, schema)

    val served = GovernanceMaintenance.bootstrapCi(spark, store)
      .collect().toSeq
    val batch = graft.queries.Sketch.bootstrapCi(
      graft.queries.Sketch.bootInput(f1.unionByName(f2))).collect().toSeq
    assert(batch.nonEmpty)
    assert(served == batch,
      "stream-maintained CI table diverges from the batch chain")

    // a replayed runOnce (no new files) must not move the integers
    graft.streaming.GovernanceStream.runBootOnce(spark, in, store, ck, schema)
    assert(GovernanceMaintenance.bootstrapCi(spark, store)
      .collect().toSeq == batch, "replay changed the served table")
  }

  test("streamed governance absorb ≡ batch (QI store via GovernanceStream)") {
    val root = tmp("govstream")
    val in = s"$root/in"; val store = s"$root/store"; val ck = s"$root/ck"
    val f1 = Seq((1L, "A", 0L, 10.0), (2L, "A", 0L, 20.0),
      (3L, "A", 0L, 30.0), (4L, "B", 1L, 5.0))
      .toDF("nationkey", "segment", "band", "sensitive")
    val f2 = Seq((1L, "A", 0L, 10.0), (5L, "A", 0L, 40.0),
      (6L, "B", 1L, 5.0))
      .toDF("nationkey", "segment", "band", "sensitive")
    Files.createDirectories(java.nio.file.Paths.get(in))
    f1.coalesce(1).write.mode("append").parquet(in)
    f2.coalesce(1).write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "nationkey LONG, segment STRING, band LONG, sensitive DOUBLE")
    graft.streaming.GovernanceStream.runQiOnce(spark, in, store, ck, schema)

    val served = GovernanceMaintenance.kAnonymity(spark, store)
      .collect().toSeq
    val batch = graft.queries.Cleaning.kAnonymity(f1.unionByName(f2))
      .collect().toSeq
    assert(batch.nonEmpty)
    assert(served == batch,
      "stream-maintained release audit diverges from the batch chain")

    graft.streaming.GovernanceStream.runQiOnce(spark, in, store, ck, schema)
    assert(GovernanceMaintenance.kAnonymity(spark, store)
      .collect().toSeq == batch, "replay changed the served audit")
  }
}
