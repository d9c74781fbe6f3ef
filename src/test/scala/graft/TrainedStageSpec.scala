package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.ops.{ParquetStage, SessionStage}
import graft.queries.Stages

/** The trained-stage memos of [[graft.queries.Stages]]: each builds
  * ONCE however many of its consumers run, and every consumer records
  * the stage it read, memo hits included, which is how Bench derives
  * `trained_stages` (ClusterSpec, BpeSpec and GraphSpec pin the
  * near-dup labels, BPE and citation stages; this covers the rest).
  */
class TrainedStageSpec extends AnyFunSuite {
  import TestSpark._

  /** Runs each consumer, asserting it records `stage`. */
  private def consume(stage: String, qs: String*): Unit = qs.foreach { q =>
    val read = stagesRead(q)
    assert(read.contains(stage), s"$q read $read, not $stage")
  }

  test("probe weights train once for its four consumers (q98, q113, q132, q174)") {
    Stages.probeWeights.reset()
    consume("probe_weights", "q98_linear_probe", "q113_probe_calibration",
      "q132_threshold_sweep", "q174_label_noise")
    assert(Stages.probeWeights.buildCount == 1,
      s"probe trained ${Stages.probeWeights.buildCount} times")
    spark.catalog.clearCache()
  }

  test("the verified pair set builds once for q147, q157, and the label stage") {
    Stages.nearDupPairs.reset()
    Stages.nearDupLabels.reset()
    consume("near_dup_pairs", "q147_editdist_verify", "q157_containment")
    consume("near_dup_labels", "q63_dedup_clusters")
    assert(Stages.nearDupPairs.buildCount == 1,
      s"pair chain ran ${Stages.nearDupPairs.buildCount} times")
    // q24 derives the pairs itself and q01 is relational: neither
    // builder reads a stage, so neither may be reported as trained
    for (q <- Seq("q01_pricing_summary", "q24_near_dup")) {
      val read = SessionStage.readsIn(SparkEntry.queries(q)(spark, sf))._2
      assert(read.isEmpty, s"$q read $read")
    }
    spark.catalog.clearCache()
  }

  test("ParquetStage materializes at a deterministic scratch path and reset deletes it") {
    // deterministic path per (stage, data dir), dir exists while
    // cached, dir GONE after reset — and after resetAll, which also
    // zeroes every stage's build count
    val path = ParquetStage.stagePath(spark, "near_dup_pairs", sf)
    val fs = path.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val resets = Seq[(String, () => Unit)](
      "reset" -> (() => Stages.nearDupPairs.reset()),
      "resetAll" -> (() => SessionStage.resetAll()))
    for ((how, reset) <- resets) {
      Stages.nearDupPairs.reset()
      Stages.nearDupPairs.get(spark, sf).foreach(_ => ())
      Stages.pcFit.get(spark, sf)
      assert(fs.exists(path), s"pair memo should materialize at $path")
      reset()
      assert(!fs.exists(path),
        s"$how must delete the memo dir, $path still exists")
    }
    assert(Stages.nearDupPairs.buildCount == 0 && Stages.pcFit.buildCount == 0,
      s"resetAll left build counts ${Stages.nearDupPairs.buildCount}, " +
        s"${Stages.pcFit.buildCount}")
    spark.catalog.clearCache()
  }

  test("stage scratch paths are isolated per session (no cross-session overwrite)") {
    // The memo cache is keyed per (session, dir), so the path must be
    // too: two live sessions (or two driver processes sharing the
    // default tmpdir) resolving to ONE directory overwrite / delete
    // each other's parquet mid-scan. A sibling session of the SAME
    // context gets a different path, and the path carries the
    // applicationId so separate processes cannot collide on a shared
    // scratch root either.
    val sibling = spark.newSession()
    val a = ParquetStage.stagePath(spark, "near_dup_pairs", sf)
    val b = ParquetStage.stagePath(sibling, "near_dup_pairs", sf)
    assert(a != b, s"sibling sessions must not share a stage dir: $a")
    assert(a.toString.contains(spark.sparkContext.applicationId),
      s"stage path must carry the applicationId: $a")
    // still deterministic for ONE session: rebuilds overwrite in place
    assert(a == ParquetStage.stagePath(spark, "near_dup_pairs", sf))
  }

  test("the PC fit builds once for its two consumers (q129, q130)") {
    Stages.pcFit.reset()
    consume("pc_fit", "q129_top_pc", "q130_whiten")
    assert(Stages.pcFit.buildCount == 1,
      s"PC fit ran ${Stages.pcFit.buildCount} times")
    spark.catalog.clearCache()
  }

  test("the source-term count table builds once for q177 and q179") {
    // scoping the count table's cache per call stopped a long-lived
    // session from pinning one dataset per audit export but made each
    // invocation pay the full tokenize + combine; this parquet memo
    // is one pass however many of the two consumers run
    Stages.sourceTermCounts.reset()
    consume("source_term_counts", "q177_loo_novelty", "q179_stylometry")
    assert(Stages.sourceTermCounts.buildCount == 1,
      s"count pass ran ${Stages.sourceTermCounts.buildCount} times")
    // and the memoed path still serves the oracle-gated rows: both
    // queries stay non-empty and source-sorted off the parquet scan
    val rows = SparkEntry.queries("q177_loo_novelty")(spark, sf)
      .select("source").collect().map(_.getString(0)).toSeq
    assert(rows.nonEmpty && rows == rows.sorted,
      "memo-served q177 lost its total order")
    spark.catalog.clearCache()
  }

  test("stage builds record wall seconds under their trainedStageQueries key") {
    // The builds run in Bench's UNTIMED warmup, so their cost shows
    // in no timed number; SessionStage records cumulative build
    // seconds per stage name and Bench emits them as
    // trained_stage_build_secs. Pin that (a) a build records a
    // positive time under the name its readers record, (b) a memo
    // HIT records nothing new, (c) reset clears.
    SessionStage.resetBuildSecs()
    Stages.pcFit.reset()
    val read = stagesRead("q129_top_pc")
    val t1 = SessionStage.buildSecs
    assert(t1.keySet == read && t1.get(Stages.pcFit.name).exists(_ > 0.0),
      s"pc_fit build time not recorded under the name q129 read ($read): $t1")
    SparkEntry.queries("q130_whiten")(spark, sf).foreach(_ => ())
    assert(SessionStage.buildSecs("pc_fit") == t1("pc_fit"),
      "a memo hit must not add build time")
    SessionStage.resetBuildSecs()
    assert(SessionStage.buildSecs.isEmpty)
    spark.catalog.clearCache()
  }

  test("the shared quantizer trains once for its three consumers (q104, q108, q115)") {
    Stages.ivfQuantizer.reset()
    consume("ivf_quantizer", "q104_semdedup", "q108_embed_outliers",
      "q115_corpus_map")
    assert(Stages.ivfQuantizer.buildCount == 1,
      s"quantizer trained ${Stages.ivfQuantizer.buildCount} times")
    spark.catalog.clearCache()
  }
}
