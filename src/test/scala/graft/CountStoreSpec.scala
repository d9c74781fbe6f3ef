package graft

import java.nio.file.Files

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** [[graft.ops.RunStore]] — the five additive count stores and the
  * two serving stores (DedupIndex, HybridRetrieval) reach their
  * stores only through it, and its declared-schema reads serve
  * without a schema-inference job. The served-≡-batch, re-delivery,
  * crash-window, half-landed and fresh-store contracts are each
  * module's own spec. */
class CountStoreSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("serving a statistic from each count store runs no parquet schema-inference stage") {
    import graft.pipeline.{CorpusStatsMaintenance, DriftMonitor, GovernanceMaintenance,
      MixtureMaintenance, NumericAuditMaintenance}
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = tmp("count-meta")
    val docs = Tables.documents(spark, sf).select($"doc_id", $"source", $"lang", $"text")
    val d0 = docs.filter(pmod($"doc_id", lit(2L)) === 0L)
    val d1 = docs.filter(pmod($"doc_id", lit(2L)) === 1L)
    val prices = Tables.lineitem(spark, sf).select($"l_orderkey", $"l_extendedprice")
    val (stats, gov, num, mix, drift) =
      (s"$root/stats", s"$root/gov", s"$root/num", s"$root/mix", s"$root/drift")
    CorpusStatsMaintenance.build(spark, d0, stats)
    CorpusStatsMaintenance.absorb(spark, d1, stats, "b1")
    GovernanceMaintenance.buildBoot(spark, d0, gov)
    GovernanceMaintenance.absorbBoot(spark, d1, gov, "b1")
    NumericAuditMaintenance.build(spark, prices, num)
    NumericAuditMaintenance.absorb(spark, prices, num, "b1")
    MixtureMaintenance.absorb(spark, d0, mix, "b0")
    MixtureMaintenance.absorb(spark, d1, mix, "b1")
    DriftMonitor.absorb(spark, d0, drift, "b0")
    DriftMonitor.rebase(spark, drift)
    DriftMonitor.absorb(spark, d1, drift, "b1")

    val stages = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        j.stageInfos.foreach(s => stages.add(s.name))
    }
    spark.sparkContext.addSparkListener(listener)
    val served = try {
      val n = Seq(CorpusStatsMaintenance.entropyRate(spark, stats),
        GovernanceMaintenance.bootstrapCi(spark, gov),
        NumericAuditMaintenance.benford(spark, num),
        MixtureMaintenance.currentRates(spark, mix),
        DriftMonitor.report(spark, drift)).map(_.collect().length)
      org.apache.spark.ListenerShim.flush(spark.sparkContext)
      n
    } finally {
      spark.sparkContext.removeSparkListener(listener)
      spark.catalog.clearCache()
    }
    import scala.jdk.CollectionConverters._
    assert(served.forall(_ > 0), s"a store served nothing: $served")
    val inference = stages.asScala.toSeq.filter(_.startsWith("parquet at"))
    assert(inference.isEmpty, s"serving ran parquet schema-inference stages: $inference")
  }

  test("only CountStore touches the count-store protocol: no count-store module reads, overwrites, folds or acks by hand") {
    import scala.jdk.CollectionConverters._
    // read from the project root, where the suite runs
    val root = java.nio.file.Paths.get("src", "main", "scala", "graft")
    val store = root.resolve("ops/RunStore.scala")
    def modules(names: String*) = names.map(m => root.resolve(s"pipeline/$m.scala"))
    val counts = modules("CorpusStatsMaintenance", "GovernanceMaintenance",
      "NumericAuditMaintenance", "MixtureMaintenance", "DriftMonitor")
    // the serving stores keep derived ANN state on StoreCompaction and
    // read their raw side store by hand, so their pattern is narrower
    val serving = modules("DedupIndex", "HybridRetrieval")
    (store +: (counts ++ serving)).foreach(p =>
      assert(Files.isRegularFile(p), s"no $p under ${root.toAbsolutePath}"))
    val countProtocol =
      """read\.parquet\(|partitionOverwriteMode|StoreCompaction\.|DeliveryMarker\.""".r
    val runProtocol =
      """partitionOverwriteMode|DeliveryMarker\.|StoreCompaction\.fold|withColumn\("run"""".r
    def uses(protocol: scala.util.matching.Regex)(p: java.nio.file.Path): Seq[String] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if protocol.findFirstIn(line).isDefined =>
          s"$p:${i + 1}: ${line.trim}"
      }
    // RunStore still holds the protocol, so the patterns cannot go stale
    for (protocol <- Seq(countProtocol, runProtocol))
      assert(uses(protocol)(store).nonEmpty, s"$store no longer matches $protocol")
    val byHand = counts.flatMap(uses(countProtocol)) ++ serving.flatMap(uses(runProtocol))
    assert(byHand.isEmpty,
      s"run stores must reach their store through RunStore:\n${byHand.mkString("\n")}")
  }
}
