package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.types.{ArrayType, DataType, StructField, StructType}

/** The persisted stores are read under DECLARED schemas
  * (`spark.read.schema(...)`), so a writer that changes a column
  * without changing its declaration would be read back wrong rather
  * than fail. This spec builds, appends to and compacts every store
  * and pins each declaration against the schema parquet inference
  * finds on disk: names, order and types (nullability ignored). */
class StoreSchemaSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._
  import graft.pipeline.{AnnIndex, DedupIndex, HybridRetrieval}

  /** The type with every nullability flag set, at any depth. */
  private def shape(t: DataType): DataType = t match {
    case a: ArrayType => ArrayType(shape(a.elementType), containsNull = true)
    case s: StructType =>
      StructType(s.fields.map(f => StructField(f.name, shape(f.dataType))))
    case other => other
  }

  private def pin(stage: String, path: String, declared: StructType): Unit = {
    val inferred = spark.read.parquet(path).schema
    assert(shape(inferred) == shape(declared),
      s"$stage: $path lands\n  ${inferred.toDDL}\nbut is declared\n  ${declared.toDDL}")
  }

  test("every declared store schema matches what its writers land, through build, append and compact") {
    val root = java.nio.file.Files.createTempDirectory("graft-schemas").toString
    val docs = (0L until 40L)
      .map(i => (i, s"schema pin document $i words w$i w${i % 5} shared tail"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "an appended document alpha beta"),
      (101L, "schema pin document 3 words w3 w3 shared tail")).toDF("doc_id", "text")

    val hybrid = s"$root/hybrid"
    val dedup = s"$root/dedup"
    val screen = s"$root/screen"
    def pinAll(stage: String, tombstones: Boolean): Unit = {
      Seq("postings" -> HybridRetrieval.PostingsSchema,
        "termstats" -> HybridRetrieval.TermstatsSchema,
        "stats" -> HybridRetrieval.StatsSchema,
        "raw" -> AnnIndex.RawSchema,
        "ann/codebooks" -> AnnIndex.CodebooksSchema,
        "ann/codes" -> AnnIndex.CodesSchema)
        .foreach { case (s, schema) => pin(stage, s"$hybrid/$s", schema) }
      if (tombstones) pin(stage, s"$hybrid/ann/tombstones", AnnIndex.TombstonesSchema)
      DedupIndex.Schemas.foreach { case (t, schema) => pin(stage, s"$dedup/$t", schema) }
      pin(stage, graft.streaming.AnnScreenStream.rawDir(screen), AnnIndex.RawSchema)
      pin(stage, s"$screen/codes", AnnIndex.CodesSchema)
    }

    // build: the hybrid store (with its ANN), the dedup index, and a
    // screened ANN index with its raw side store
    HybridRetrieval.build(spark, docs, hybrid)
    DedupIndex.build(spark, docs, dedup)
    val vecs = spark.read.schema(AnnIndex.RawSchema).parquet(s"$hybrid/raw")
      .select($"vec_id", $"vec")
    AnnIndex.build(spark, vecs, screen)
    graft.streaming.AnnScreenStream.initRaw(spark, vecs, screen)
    pinAll("build", tombstones = false)

    // append: one delivery into every store, plus a tombstone
    HybridRetrieval.append(spark, batch, hybrid, "b1")
    DedupIndex.append(spark, batch, dedup, "b1")
    val batchVecs = batch.select($"doc_id".as("vec_id"),
      HybridRetrieval.unitEmbed($"text").as("vec"))
    graft.streaming.AnnScreenStream.deliver(spark, batchVecs, 1L, screen,
      s"$root/verdicts", tau = 0.95)
    AnnIndex.delete(spark, Seq(3L), s"$hybrid/ann")
    pinAll("append", tombstones = true)

    // compact: every fold rewrites its store from the declared read
    HybridRetrieval.compact(spark, hybrid)
    DedupIndex.compact(spark, dedup)
    graft.streaming.AnnScreenStream.compact(spark, screen)
    pinAll("compact", tombstones = false)
    assert(DedupIndex.runCount(spark, dedup) == 1 && AnnIndex.runCount(spark, screen) == 1,
      "compaction did not fold the appended runs")
  }
}
