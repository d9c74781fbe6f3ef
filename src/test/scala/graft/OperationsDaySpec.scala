package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline._

/** ONE session through a full operations day (round-17 verdict #5):
  * every maintenance store has its own served ≡ batch spec, but a
  * production deployment runs them TOGETHER — ingest deliveries into
  * every store, compact everything, export the audit pack, and
  * certify the pack against the live queries in one flow. This spec
  * chains the existing pieces on sf0.001 exactly in that shape, so a
  * regression in any store's interaction with the others (shared
  * session state, cache contracts, stage memos) fails HERE even when
  * each isolated spec stays green.
  */
class OperationsDaySpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def sortedRows(df: org.apache.spark.sql.DataFrame): Seq[String] =
    df.collect().map(_.toString).sorted.toSeq

  test("operations day: ingest → absorb → compact → serve ≡ batch → audit pack certifies vs live queries") {
    val root = tmp("opsday")

    // ---- the day's three uneven deliveries, per feed ----
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"text")
    val d = (0 to 2).map(i => docs.filter(pmod($"doc_id", lit(3L)) === i))
    val prices = Tables.lineitem(spark, sf)
    val p = (0 to 2).map(i => prices.filter(pmod($"l_orderkey", lit(3L)) === i))
    val cust = Tables.customer(spark, sf)
      .select($"c_custkey", $"c_nationkey", $"c_acctbal", $"c_mktsegment")
    val c = (0 to 2).map(i => cust.filter(pmod($"c_custkey", lit(3L)) === i))
    val vecs = Tables.embeddings(spark, sf)
      .select($"vec_id", transform($"embedding", v => v.cast("double")).as("vec"))
    val v = (0 to 2).map(i => vecs.filter(pmod($"vec_id", lit(3L)) === i))

    // ---- ingest: build on delivery 0, absorb 1 and 2, into EVERY
    // maintenance store of the deployment ----
    val statsDir = s"$root/stats"
    CorpusStatsMaintenance.build(spark, d(0), statsDir)
    CorpusStatsMaintenance.absorb(spark, d(1), statsDir, "b1")
    CorpusStatsMaintenance.absorb(spark, d(2), statsDir, "b2")

    val mixDir = s"$root/mixture"
    (0 to 2).foreach(i => MixtureMaintenance.absorb(spark, d(i), mixDir, s"b$i"))

    val driftDir = s"$root/drift"
    DriftMonitor.absorb(spark, d(0), driftDir, "r1")
    DriftMonitor.rebase(spark, driftDir) // reference := the day's start
    DriftMonitor.absorb(spark, d(1), driftDir, "r2")
    DriftMonitor.absorb(spark, d(2), driftDir, "r3")

    val numDir = s"$root/numeric"
    NumericAuditMaintenance.build(spark, p(0), numDir)
    NumericAuditMaintenance.absorb(spark, p(1), numDir, "b1")
    NumericAuditMaintenance.absorb(spark, p(2), numDir, "b2")

    val govDir = s"$root/governance"
    GovernanceMaintenance.buildQi(spark, graft.queries.Cleaning.qiInput(c(0)), govDir)
    GovernanceMaintenance.absorbQi(spark, graft.queries.Cleaning.qiInput(c(1)), govDir, "b1")
    GovernanceMaintenance.absorbQi(spark, graft.queries.Cleaning.qiInput(c(2)), govDir, "b2")
    GovernanceMaintenance.buildBoot(spark, d(0), govDir)
    GovernanceMaintenance.absorbBoot(spark, d(1), govDir, "b1")
    GovernanceMaintenance.absorbBoot(spark, d(2), govDir, "b2")

    val dedupDir = s"$root/dedup"
    DedupIndex.build(spark, d(0).select($"doc_id", $"text"), dedupDir)
    DedupIndex.append(spark, d(1).select($"doc_id", $"text"), dedupDir, "b1")
    DedupIndex.append(spark, d(2).select($"doc_id", $"text"), dedupDir, "b2")

    val annDir = s"$root/ann"
    AnnIndex.build(spark, v(0), annDir)
    AnnIndex.append(spark, v(1), annDir, "b1")
    AnnIndex.append(spark, v(2), annDir, "b2")

    val hybDir = s"$root/hybrid"
    HybridRetrieval.build(spark, d(0).select($"doc_id", $"text"), hybDir)
    HybridRetrieval.append(spark, d(1).select($"doc_id", $"text"), hybDir, "b1")
    HybridRetrieval.append(spark, d(2).select($"doc_id", $"text"), hybDir, "b2")

    // ---- end-of-day compaction, every store at its quiescent point ----
    CorpusStatsMaintenance.compact(spark, statsDir)
    MixtureMaintenance.compact(spark, mixDir)
    DriftMonitor.compact(spark, driftDir)
    NumericAuditMaintenance.compact(spark, numDir)
    GovernanceMaintenance.compactQi(spark, govDir)
    GovernanceMaintenance.compactBoot(spark, govDir)
    DedupIndex.compact(spark, dedupDir)
    AnnIndex.compact(spark, annDir)
    HybridRetrieval.compact(spark, hybDir)

    // ---- serve: every store answer ≡ the LIVE gated query over the
    // full corpus, after the whole day of absorbs + compaction ----
    def live(q: String) = SparkEntry.queries(q)(spark, sf).collect().toSeq
    val servedStats = Seq(
      CorpusStatsMaintenance.zipfSlope(spark, statsDir) -> "q139_zipf_slope",
      CorpusStatsMaintenance.lexicalDiversity(spark, statsDir) -> "q140_lexical_diversity",
      CorpusStatsMaintenance.goodTuring(spark, statsDir) -> "q152_good_turing",
      CorpusStatsMaintenance.chaoRichness(spark, statsDir) -> "q162_chao_richness",
      CorpusStatsMaintenance.lengthDrift(spark, statsDir) -> "q159_length_drift",
      CorpusStatsMaintenance.entropyRate(spark, statsDir) -> "q154_entropy_rate",
      CorpusStatsMaintenance.pmiBigrams(spark, statsDir) -> "q125_pmi_bigrams",
      CorpusStatsMaintenance.sourceKl(spark, statsDir) -> "q153_source_kl",
      CorpusStatsMaintenance.doremiWeights(spark, statsDir) -> "q151_doremi_weights",
      CorpusStatsMaintenance.looNovelty(spark, statsDir) -> "q177_loo_novelty",
      CorpusStatsMaintenance.stylometry(spark, statsDir) -> "q179_stylometry",
      NumericAuditMaintenance.benford(spark, numDir) -> "q164_benford_digits",
      GovernanceMaintenance.kAnonymity(spark, govDir) -> "q171_k_anonymity",
      GovernanceMaintenance.bootstrapCi(spark, govDir) -> "q172_bootstrap_ci")
    servedStats.foreach { case (servedDf, q) =>
      assert(servedDf.collect().toSeq == live(q),
        s"store-served $q diverges from the live query after the full day")
    }
    spark.catalog.clearCache()

    // mixture rates ≡ q99 (rate_micro is the exact integer form)
    val mixServed = MixtureMaintenance.currentRates(spark, mixDir)
      .select($"lang", $"n_docs", $"n_tokens",
        ($"rate_micro".cast("double") / 1e6).as("rate"))
      .as[(String, Long, Long, Double)].collect().toSet
    val mixLive = SparkEntry.queries("q99_domain_mixture")(spark, sf)
      .select($"lang", $"n_docs", $"n_tokens", $"rate")
      .as[(String, Long, Long, Double)].collect().toSet
    assert(mixServed == mixLive, "mixture store diverges from q99")

    // drift report ≡ the from-scratch divergence stage (reference =
    // the day's first delivery, current = the whole day)
    val driftServed =
      try DriftMonitor.report(spark, driftDir)
        .as[(String, Long, Long, Long)].collect().toSeq.sorted
      finally spark.catalog.clearCache()
    val driftBatch =
      try graft.queries.Corpus.distDrift(d(0), docs)
        .as[(String, Long, Long, Long)].collect().toSeq.sorted
      finally spark.catalog.clearCache()
    assert(driftServed == driftBatch,
      "drift monitor diverges from the from-scratch stage")

    // dedup screen: re-delivering day-2's docs against the full index
    // must flag every one as an exact duplicate of itself
    val screened = DedupIndex.screen(spark, d(1).select($"doc_id", $"text"),
      dedupDir).collect()
    assert(screened.nonEmpty && screened.forall(r =>
      r.getString(1) == "exact" && r.getLong(2) == r.getLong(0)),
      "re-delivered docs must screen as exact self-duplicates")

    // ---- dedup rebuild-after-refusal (r18 verdict #6): the day's
    // delivery lands against a (simulated) index persisted BEFORE
    // the 128-bit fingerprint widening — the layout guard refuses
    // every operator path with the rebuild diagnosis instead of
    // NULL-keying the old rows and silently screening exact dups as
    // unique; the operator rebuilds from the corpus snapshot at the
    // next quiescent point, re-lands the delivery, and screening
    // resumes — the dedup twin of the ANN drift→rebuild story below
    val legacyDir = s"$root/dedup-legacy"
    LegacyDedupStore.write(spark, d(0).select($"doc_id", $"text"), legacyDir)
    val delivery = d(1).select($"doc_id", $"text")
    graft.pipeline.DedupIndex.resetLayoutMemo()
    val mAppend = intercept[IllegalStateException](
      DedupIndex.append(spark, delivery, legacyDir, "b1")).getMessage
    val mScreen = intercept[IllegalStateException](
      DedupIndex.screen(spark, delivery, legacyDir).collect()).getMessage
    Seq(mAppend, mScreen).foreach(m =>
      assert(m.contains("re-run DedupIndex.build"),
        s"legacy-store refusal lost the rebuild diagnosis: $m"))
    DedupIndex.build(spark, d(0).select($"doc_id", $"text"), legacyDir)
    DedupIndex.append(spark, delivery, legacyDir, "b1")
    val relanded = DedupIndex.screen(spark, delivery, legacyDir).collect()
    assert(relanded.nonEmpty && relanded.forall(r =>
      r.getString(1) == "exact" && r.getLong(2) == r.getLong(0)),
      "screening did not resume after the legacy-store rebuild")

    // ANN: queries from all three deliveries find themselves in the
    // top-5 of the compacted index (build-trained codebooks, two
    // appended runs, tombstone-free compaction)
    val annOut = AnnIndex.search(spark,
      vecs.filter($"vec_id" < 3L).select($"vec_id".as("query_id"),
        $"vec".as("qvec")), annDir, k = 5).collect()
    assert(annOut.length == 15, s"3 queries × top-5, got ${annOut.length}")
    (0L to 2L).foreach { q =>
      assert(annOut.exists(r => r.getLong(0) == q && r.getLong(1) == q),
        s"query $q does not find itself in the compacted index")
    }

    // ---- drift → rebuild → re-serve (r17 verdict #5): a fourth,
    // distribution-SHIFTED delivery lands in the ANN store; the
    // cell-occupancy telemetry trips needsRebuild; the operator
    // re-trains from the raw vectors at the next quiescent point;
    // serving is proven equivalent after — the full lifecycle the
    // class doc promises, driven inside the operations day rather
    // than only in AnnIndexSpec's isolated scenario ----
    // the periodic end-of-day re-train the class doc promises: the
    // day-0 codebooks were trained on one delivery (few cells, loose
    // threshold); retraining on the full day's raw store widens the
    // cell count to the corpus and is the posture a drift trigger
    // actually monitors in steady state
    AnnIndex.build(spark, vecs, annDir)
    val sHealthy = AnnIndex.cellStats(spark, annDir)
    assert(!AnnIndex.needsRebuild(sHealthy),
      s"the day's own corpus should not trip the drift trigger: $sHealthy")
    // the AnnIndexSpec drift device: a +0.5 direction cone under ±1
    // deterministic spread — new enough that the FROZEN codebooks
    // funnel it into few cells, wide enough that a re-train can
    // subdivide it (AnnIndexSpec's measured regimes: ~1.3× balanced
    // fresh, ≥3.3× frozen-drifted, ~2.2× re-trained, vs the 3.0×
    // threshold)
    val dim = vecs.select($"vec").as[Seq[Double]].head().length
    val driftRows = (10000L until 10500L).map { i =>
      (i, (0 until dim).map(d =>
        0.5 + ((i * 31 + d) * 2654435761L % 1000L) / 1000.0 * 2.0 - 1.0))
    }
    val driftBatchDf = driftRows.toDF("vec_id", "vec")
    AnnIndex.append(spark, driftBatchDf, annDir, "b3-shift")
    val sDrifted = AnnIndex.cellStats(spark, annDir)
    assert(AnnIndex.needsRebuild(sDrifted),
      s"distribution-shifted delivery did not trip the trigger: $sDrifted")
    // quiescent re-train from the raw vector store (day's corpus +
    // the shifted batch — the side store an ingest pipeline keeps)
    AnnIndex.build(spark, vecs.unionByName(driftBatchDf), annDir)
    val sRebuilt = AnnIndex.cellStats(spark, annDir)
    assert(!AnnIndex.needsRebuild(sRebuilt),
      s"re-build did not restore cell balance: $sRebuilt")
    // serving equivalence after the cycle: the ORIGINAL day queries
    // still self-hit in the re-trained index, and so do queries from
    // the shifted batch — the store serves both corpora
    val annOut2 = AnnIndex.search(spark,
      vecs.filter($"vec_id" < 3L).select($"vec_id".as("query_id"),
        $"vec".as("qvec")), annDir, k = 5).collect()
    (0L to 2L).foreach { q =>
      assert(annOut2.exists(r => r.getLong(0) == q && r.getLong(1) == q),
        s"query $q lost its self-hit after the drift rebuild")
    }
    val shiftedOut = AnnIndex.search(spark,
      driftBatchDf.filter($"vec_id" < 10003L).select(
        $"vec_id".as("query_id"), $"vec".as("qvec")), annDir, k = 5).collect()
    (10000L to 10002L).foreach { q =>
      assert(shiftedOut.exists(r => r.getLong(0) == q && r.getLong(1) == q),
        s"shifted query $q does not find itself after the rebuild")
    }

    // hybrid: a two-token query from a real day-1 document retrieves
    // non-empty fused results with a #1 hit
    val probe = docs.orderBy($"doc_id").limit(1)
      .select($"doc_id", $"text").as[(Long, String)].head()
    val qtext = probe._2.split("\\s+").take(2).mkString(" ")
    val hybOut = HybridRetrieval.search(spark,
      Seq((0L, qtext)).toDF("query_id", "qtext"), hybDir).collect()
    assert(hybOut.nonEmpty, "hybrid store served nothing for a corpus-drawn query")

    // ---- audit-pack export: the full pack lands, and EVERY table
    // certifies against its live gated query, row for row ----
    assert(CorpusAudit.Tables.size == 46, "the pack should hold 46 tables")
    val report = s"$root/report"
    val manifest = CorpusAudit.run(spark, sf, report)
      .as[(String, String, Long, String)].collect().toSeq
    assert(manifest.map(_._1) == CorpusAudit.Tables.keys.toSeq.sorted)
    manifest.foreach { case (table, query, n, _) =>
      val disk = sortedRows(CorpusAudit.readBack(spark, report, table))
      val liveRows = sortedRows(SparkEntry.queries(query)(spark, sf))
      assert(disk.size == n.toInt, s"$table: manifest count drifted from disk")
      assert(disk == liveRows,
        s"$table: exported table diverges from the live query $query")
      spark.catalog.clearCache()
    }
  }
}
