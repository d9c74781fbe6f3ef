package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
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
  import graft.pipeline.{AnnIndex, CorpusStatsMaintenance, DedupIndex, DriftMonitor,
    GovernanceMaintenance, HybridRetrieval, MixtureMaintenance, NumericAuditMaintenance}

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
    val root = tmp("schemas")
    val docs = (0L until 40L)
      .map(i => (i, s"schema pin document $i words w$i w${i % 5} shared tail"))
      .toDF("doc_id", "text")
    val batch = Seq((100L, "an appended document alpha beta"),
      (101L, "schema pin document 3 words w3 w3 shared tail")).toDF("doc_id", "text")

    val hybrid = s"$root/hybrid"
    val dedup = s"$root/dedup"
    val screen = s"$root/screen"
    // the count stores, on a corpus with sources and langs
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"source", $"lang", $"text")
    val prices = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_extendedprice")
    val qi = graft.queries.Cleaning.qiInput(Tables.customer(spark, sf))
    val (stats, gov, num, mix, drift) =
      (s"$root/stats", s"$root/gov", s"$root/num", s"$root/mix", s"$root/drift")
    val built = Seq(CorpusStatsMaintenance.Store -> stats, GovernanceMaintenance.Qi -> gov,
      GovernanceMaintenance.Boot -> gov, NumericAuditMaintenance.Store -> num)
    val counted = built ++ Seq(MixtureMaintenance.Store -> mix,
      DriftMonitor.Counts -> drift, DriftMonitor.Ref -> drift)
    // `run` is a count table's only partition column, declared STRING;
    // inference would type the numeric run ids below as INT
    def pinCountStores(stage: String, stores: Seq[(graft.ops.RunStore, String)]): Unit = {
      val key = "spark.sql.sources.partitionColumnTypeInference.enabled"
      spark.conf.set(key, "false")
      try for ((store, dir) <- stores; t <- store.tables) pin(stage, s"$dir/${t.name}", t.schema)
      finally spark.conf.unset(key)
    }
    def pinAll(stage: String, tombstones: Boolean): Unit = {
      // every table of the two serving stores, so a table added later
      // is pinned too (their run ids are not numeric: default inference)
      for ((store, dir) <- Seq(HybridRetrieval.Store -> hybrid, DedupIndex.Store -> dedup);
           t <- store.tables) pin(stage, s"$dir/${t.name}", t.schema)
      Seq("ann/codebooks" -> AnnIndex.CodebooksSchema, "ann/codes" -> AnnIndex.CodesSchema)
        .foreach { case (s, schema) => pin(stage, s"$hybrid/$s", schema) }
      if (tombstones) pin(stage, s"$hybrid/ann/tombstones", AnnIndex.TombstonesSchema)
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
    CorpusStatsMaintenance.build(spark, corpus, stats)
    GovernanceMaintenance.buildQi(spark, qi, gov)
    GovernanceMaintenance.buildBoot(spark, corpus, gov)
    NumericAuditMaintenance.build(spark, prices, num)
    pinCountStores("build", built)

    // append: one delivery into every store, plus a tombstone
    HybridRetrieval.append(spark, batch, hybrid, "b1")
    DedupIndex.append(spark, batch, dedup, "b1")
    val batchVecs = batch.select($"doc_id".as("vec_id"),
      HybridRetrieval.unitEmbed($"text").as("vec"))
    graft.streaming.AnnScreenStream.deliver(spark, batchVecs, 1L, screen,
      s"$root/verdicts", tau = 0.95)
    AnnIndex.delete(spark, Seq(3L), s"$hybrid/ann")
    pinAll("append", tombstones = true)
    // count stores absorb under numeric run ids: the mixture and drift
    // count stores then hold no `run=base`, so only the declared `run
    // STRING` keeps their ack filter comparing strings
    for ((runId, part) <- Seq("1" -> 0L, "2" -> 1L)) {
      val d = corpus.filter(pmod($"doc_id", lit(2L)) === part)
      CorpusStatsMaintenance.absorb(spark, d, stats, runId)
      GovernanceMaintenance.absorbQi(spark, qi, gov, runId)
      GovernanceMaintenance.absorbBoot(spark, d, gov, runId)
      NumericAuditMaintenance.absorb(spark, prices, num, runId)
      MixtureMaintenance.absorb(spark, d, mix, runId)
      DriftMonitor.absorb(spark, d, drift, runId)
    }
    DriftMonitor.rebase(spark, drift)
    pinCountStores("append", counted)
    val served = MixtureMaintenance.currentRates(spark, mix)
      .agg(sum($"n_docs")).as[Long].head()
    assert(MixtureMaintenance.runCount(spark, mix) == 2 && served == corpus.count(),
      s"numeric runs served $served docs")

    // compact: every fold rewrites its store from the declared read
    HybridRetrieval.compact(spark, hybrid)
    DedupIndex.compact(spark, dedup)
    graft.streaming.AnnScreenStream.compact(spark, screen)
    pinAll("compact", tombstones = false)
    assert(DedupIndex.runCount(spark, dedup) == 1 && AnnIndex.runCount(spark, screen) == 1,
      "compaction did not fold the appended runs")
    CorpusStatsMaintenance.compact(spark, stats)
    GovernanceMaintenance.compactQi(spark, gov)
    GovernanceMaintenance.compactBoot(spark, gov)
    NumericAuditMaintenance.compact(spark, num)
    MixtureMaintenance.compact(spark, mix)
    DriftMonitor.compact(spark, drift)
    pinCountStores("compact", counted)
    assert(counted.forall { case (store, dir) => store.runCount(spark, dir) == 1 },
      "compaction did not fold the absorbed count-store runs")
  }
}
