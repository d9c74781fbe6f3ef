package graft

import org.scalatest.funsuite.AnyFunSuite

/** Whole-catalog plan audit (the 100-TB review the builder brief
  * asks for, mechanized): every declared query's physical plan is
  * checked for the failure shapes that kill large-scale runs. Runs
  * on sf0.001 — plan SHAPE, not timing.
  */
class PlanAuditSpec extends AnyFunSuite {
  import TestSpark._

  private lazy val built: Map[String, (String, org.apache.spark.sql.execution.SparkPlan)] =
    try SparkEntry.queries.map { case (name, fn) =>
      val qe = fn(spark, sf).queryExecution
      // executedPlan for the string checks; sparkPlan (pre-AQE, a
      // traversable tree — the adaptive wrapper hides its children)
      // for the structural window audit
      name -> (qe.executedPlan.toString, qe.sparkPlan)
    } finally spark.catalog.clearCache() // SparkEntry.queries cache contract

  private lazy val plans: Map[String, String] = built.view.mapValues(_._1).toMap

  // The window DISCOVERY must descend like the bounded() checks do: a
  // WindowExec planned inside a persisted frame hangs off the
  // InMemoryRelation's cachedPlan (InMemoryTableScanExec is a LEAF),
  // so a plain plan.collect never sees it — and the catalog persists
  // many derived frames. AQE wrappers hide subtrees the same way. A
  // persisted frame scanned twice is descended once: each scan holds
  // its own InMemoryRelation copy, but the copies share one
  // CachedRDDBuilder, so that is the identity deduped on.
  private def collectWindows(p: org.apache.spark.sql.execution.SparkPlan)
      : Seq[org.apache.spark.sql.execution.window.WindowExec] = {
    val seen = java.util.Collections.newSetFromMap(
      new java.util.IdentityHashMap[AnyRef, java.lang.Boolean])
    def go(p: org.apache.spark.sql.execution.SparkPlan)
        : Seq[org.apache.spark.sql.execution.window.WindowExec] = p.collect {
      case w: org.apache.spark.sql.execution.window.WindowExec => Seq(w)
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
          if seen.add(im.relation.cacheBuilder) =>
        go(im.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        go(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        go(q.plan)
    }.flatten
    go(p)
  }

  // q25 broadcasts a 3-row query-vector set against the scan with an
  // always-true condition — an intentional BroadcastNestedLoopJoin
  // (the "join" is really a per-row constant lookup). q43 and q72
  // broadcast their ONE-row corpus-statistics aggregate the same way.
  private val intendedBnlj =
    Set("q25_topk_cosine", "q43_bm25", "q72_unigram_surprisal", "q78_pq_ann",
      "q85_chi2_mix", "q91_pq_trained", "q99_domain_mixture",
      "q100_curation_funnel", "q102_bigram_surprisal",
      "q103_dsir_select", // q103: 1-row (nt, nr) totals broadcast
      "q106_dedup_eval",  // q106: bounded-sample pair join + 1-row metrics
      "q109_late_interaction", // q109: tiny query-chunk set vs the scan
      "q111_hybrid_rrf", // q111: 1-row stats + 3-row query set, both broadcast
      "q112_ann_eval", // q112: 8-row eval query set vs the scan (exact truth)
      "q115_corpus_map", // q115: 1-row corpus total broadcast
      "q117_hard_negatives", // q117: 3-row query set vs the scan
      "q119_tfidf_keywords", // q119: 1-row doc-count broadcast
      "q120_perplexity_split", // q120: q102's 1-row LM totals broadcast
      "q136_token_alloc", // q136: 1-row (a_cap, k) broadcast over O(sources)
      "q151_doremi_weights", // q151: 1-row corpus total/loss/denominator broadcasts
      "q153_source_kl", // q153: 1-row corpus-total broadcast over token-width rows
      "q158_rank_overlap", // q158: q111's ranker broadcasts + the O(queries·k) depth spine
      "q163_temperature_mix", // q163: two 1-row totals broadcast over O(langs) rows
      "q164_benford_digits", // q164: 1-row total broadcast over the 9-digit rollup
      "q167_semantic_contam", // q167: 3-row derived benchmark vs the scan (q117's shape)
      "q168_kn_xent", // q168: 1-row (N1++(..), V) total broadcast (q102's shape)
      "q165_label_agreement", // q165: 1-row total broadcast over O(classes) rows
      "q174_label_noise", // q174: 1-row matrix-total broadcast over ≤ K² rows
      "q177_loo_novelty", // q177: 1-row (N, V) total broadcast over token-width
                          // rows (returned plan is a checkpoint projection since
                          // the r18 scoped-persist fix — internals audited via
                          // CorpusStatSpec's planted/differential replays)
      "q159_length_drift", // q159: O(sources) totals × O(distinct-lengths) histogram spine
      "q160_term_dispersion", // q160: O(sources) totals × top-K terms × 1-row corpus total
      "q179_stylometry", // q179: O(sources) totals × the ≤ F=32 marker set
                         // (q160's spine; checkpoint projection since r18 —
                         // see the q177 note)
      "q181_syndication", // q181: 1-row source-cardinality guard (in-plan
                          // raise_error tripwire) crossed into the pair join
      "q138_source_overlap") // q138: O(sources)² pair generator over the
                             // distinct-source list — both sides tiny by
                             // construction; the corpus-scale pass is the
                             // TopK.perKey sketch, never this join

  test("no query plans a cartesian product") {
    for ((name, plan) <- plans)
      assert(!plan.contains("CartesianProduct"), s"$name plans a cartesian product")
  }

  test("nested-loop joins appear only where a tiny broadcast side makes them intentional") {
    for ((name, plan) <- plans if !intendedBnlj(name))
      assert(!plan.contains("BroadcastNestedLoopJoin"),
        s"$name plans an unintended nested-loop join")
  }

  test("no interpreted Scala UDF reaches any hot path") {
    for ((name, plan) <- plans)
      assert(!plan.contains("BatchEvalPython") && !plan.contains("Scala UDF"),
        s"$name evaluates a UDF outside codegen")
  }

  test("column pruning reaches the scan: queries read only the columns they use") {
    // contract examples (ReadSchema is the scan's pruned schema):
    // q23 needs only doc_id+text of documents' 5 columns
    val q23Scan = plans("q23_dedup_exact").linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(q23Scan.contains("doc_id") && q23Scan.contains("text") &&
      !q23Scan.contains("lang") && !q23Scan.contains("n_chars"),
      s"q23 scan is not pruned to (doc_id, text): $q23Scan")
    // q14 reads customer name/address fields, never the comment-ish rest
    val q03Scans = plans("q03_top_orders").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(!q03Scans.contains("o_comment") && !q03Scans.contains("o_clerk"),
      s"q03 reads columns it never uses:\n$q03Scans")
    // (q101's returned plan is a checkpoint projection — its
    // scan-bearing edge derivation is audited in GraphSpec)
    // q98 scores vectors: label + embedding only, never a text-ish column
    val q98Scan = plans("q98_linear_probe").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q98Scan.contains("embedding") && q98Scan.contains("label"),
      s"q98 scan missing its columns:\n$q98Scan")
    // q102 needs doc_id + text of documents' 5 columns
    val q102Scan = plans("q102_bigram_surprisal").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q102Scan.contains("text") && !q102Scan.contains("lang") &&
      !q102Scan.contains("n_chars"),
      s"q102 scan not pruned to (doc_id, text):\n$q102Scan")
    // q103 needs doc_id + lang + text, never source/n_chars
    val q103Scan = plans("q103_dsir_select").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q103Scan.contains("text") && !q103Scan.contains("source") &&
      !q103Scan.contains("n_chars"),
      s"q103 scan not pruned to (doc_id, lang, text):\n$q103Scan")
    // q104 clusters vectors: vec_id + embedding, never label
    val q104Scan = plans("q104_semdedup").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q104Scan.contains("embedding") && !q104Scan.contains("label"),
      s"q104 scan not pruned to (vec_id, embedding):\n$q104Scan")
    // q105 needs lang + text only
    val q105Scan = plans("q105_bpe_fertility").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q105Scan.contains("text") && !q105Scan.contains("doc_id") &&
      !q105Scan.contains("n_chars"),
      s"q105 scan not pruned to (lang, text):\n$q105Scan")
    // q114 aggregates vectors per class: label + embedding, never vec_id
    val q114Scan = plans("q114_embed_diversity").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q114Scan.contains("embedding") && !q114Scan.contains("vec_id"),
      s"q114 scan not pruned to (label, embedding):\n$q114Scan")
    // q116 needs doc_id + lang + text, never source/n_chars
    val q116Scan = plans("q116_dist_drift").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q116Scan.contains("text") && !q116Scan.contains("source") &&
      !q116Scan.contains("n_chars"),
      s"q116 scan not pruned to (doc_id, lang, text):\n$q116Scan")
    // q159 histograms lengths per source: source + text only
    val q159Scan = plans("q159_length_drift").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q159Scan.contains("source") && q159Scan.contains("text") &&
      !q159Scan.contains("lang") && !q159Scan.contains("n_chars"),
      s"q159 scan not pruned to (source, text):\n$q159Scan")
    // q165 confuses labels: lang + text only, never source
    val q165Scan = plans("q165_label_agreement").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q165Scan.contains("lang") && q165Scan.contains("text") &&
      !q165Scan.contains("source") && !q165Scan.contains("n_chars"),
      s"q165 scan not pruned to (lang, text):\n$q165Scan")
    // q166 scatters vectors per label: label + embedding, never vec_id
    val q166Scan = plans("q166_fisher_ratio").linesIterator
      .filter(_.contains("ReadSchema")).mkString("\n")
    assert(q166Scan.contains("embedding") && q166Scan.contains("label") &&
      !q166Scan.contains("vec_id"),
      s"q166 scan not pruned to (label, embedding):\n$q166Scan")
  }

  test("content-key per-group state never plans a window over a content-key partition") {
    // q75/q93's first occurrence is a min(struct) hash aggregate and
    // q68/q70's document frequency is a groupBy + join-back; a
    // Window reappearing in any of these plans means a skew-unsafe
    // over-(hash/fingerprint/term) formulation crept back — a
    // boilerplate key would funnel its whole occurrence set onto one
    // reducer, and AQE cannot split a window partition
    for (name <- Seq("q75_paragraph_dedup", "q93_span_dedup",
        "q68_winnow_overlap", "q70_inverted_index", "q119_tfidf_keywords",
        "q121_decontamination", "q123_ngram_novelty", "q125_pmi_bigrams",
        "q126_boilerplate_grams"))
      assert(!plans(name).contains("Window"),
        s"$name plans a window — per-content-key state must stay a skew-immune aggregate:\n${plans(name)}")
  }

  test("every unpartitioned window sits above an aggregate that bounds its input") {
    // An unpartitioned Window funnels its ENTIRE input through one
    // task — fine over a frame an aggregate has already reduced to
    // O(sources)/O(distinct-scores) rows (q132/q136's documented
    // shape), a scale-killer over anything corpus-sized. The bench
    // log's WindowExec warnings were all justified by inspection;
    // this turns that inspection into an invariant: below every
    // empty-partition-spec WindowExec there must be an aggregate (or
    // an explicit limit) bounding the rows the single task sees.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    def bounded(p: SparkPlan): Boolean = p.collect {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      // Same descent rules as the low-cardinality companion below: a
      // persisted bounding aggregate plans as a cache scan whose
      // lineage hangs off the InMemoryRelation (q136's O(sources)
      // availability table), and AQE wrappers are leaf nodes whose
      // real subtree is a field. Descend and re-apply the invariant —
      // a cached corpus-sized projection still fails.
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        bounded(im.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        bounded(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        bounded(q.plan)
    }.exists(identity)
    for ((name, (_, plan)) <- built;
         w <- collectWindows(plan) if w.partitionSpec.isEmpty)
      assert(bounded(w.child),
        s"$name plans an unpartitioned window over an unbounded input:\n$w")
  }

  test("every low-cardinality-partitioned window sits above an aggregate that bounds its input") {
    // Companion invariant to the unpartitioned-window audit, closing
    // the round-14 verdict's "hand-enumerated list" gap: a WindowExec
    // partitioned ONLY by lang/source-class columns has O(langs) ≈
    // dozens of partitions, so a corpus-sized input funnels ~1/langs
    // of the corpus through each task — same scale-killer as the
    // unpartitioned case, just divided by a constant. The four
    // current such windows (q133/q135/q144/q146/q54 shapes) all run
    // over frames an aggregate has already collapsed to histogram
    // size; this asserts that structurally for EVERY query, so a
    // future query can't silently plan a per-document window
    // partitioned by lang or source alone.
    import org.apache.spark.sql.execution.SparkPlan
    import org.apache.spark.sql.execution.window.WindowExec
    val lowCard = Set("lang", "source", "kind", "label", "split", "band", "domain")
    def bounded(p: SparkPlan): Boolean = p.collect {
      case _: org.apache.spark.sql.execution.aggregate.BaseAggregateExec => true
      case _: org.apache.spark.sql.execution.GlobalLimitExec => true
      case _: org.apache.spark.sql.execution.TakeOrderedAndProjectExec => true
      // A persisted frame plans as a cache scan whose lineage lives in
      // the InMemoryRelation's cachedPlan — descend into it and apply
      // the same invariant, so a cached aggregate output (PrefixSum's
      // per-(key, bucket) totals) passes structurally while a cached
      // corpus-sized projection does NOT. No blanket RDD/cache-scan
      // acceptance: the round-15 advisor flagged exactly that hatch.
      // AdaptiveSparkPlanExec / QueryStageExec are LEAF nodes whose
      // real subtree hangs off a field, not children — unwrap both.
      case im: org.apache.spark.sql.execution.columnar.InMemoryTableScanExec =>
        bounded(im.relation.cachedPlan)
      case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
        bounded(a.executedPlan)
      case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
        bounded(q.plan)
    }.exists(identity)
    for ((name, (_, plan)) <- built;
         w <- collectWindows(plan)
         if w.partitionSpec.nonEmpty &&
           w.partitionSpec.flatMap(_.references.map(_.name.toLowerCase))
             .forall(lowCard))
      assert(bounded(w.child),
        s"$name plans a window partitioned only by low-cardinality columns " +
          s"(${w.partitionSpec.flatMap(_.references.map(_.name)).distinct.mkString(", ")}) " +
          s"over an un-aggregated input:\n$w")
  }

  test("every query ends in a deterministic total order (oracle-comparable output)") {
    // q02/q85 are keys=[] global aggregates (one row — trivially
    // ordered); q32 is the rows-only multimodal summary (3 rows,
    // sorted anyway)
    val singleRow =
      Set("q02_forecast_revenue", "q32_media_features", "q85_chi2_mix",
        "q106_dedup_eval") // one-row metric report
    for ((name, plan) <- plans if !singleRow(name))
      assert(plan.contains("Sort ") || plan.contains("TakeOrderedAndProject"),
        s"$name has no final sort — hash compare would be order-dependent")
  }
}
