package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import graft.ops.RunStore

/** Persisted hybrid retrieval — the SERVED form of q111: build the
  * two ranker indexes once, absorb ingest batches incrementally,
  * and answer (query_id, qtext) batches by RRF-fusing ranks read
  * from the stores, never rescanning the corpus. q111 is the
  * from-scratch query twin (brute-force semantic scan, in-plan
  * BM25); this is what a retrieval consumer of the engine actually
  * deploys, with [[AnnIndex]] supplying the semantic ranker exactly
  * where q111's class doc declares the plug point.
  *
  * Layout (parquet under `dir`, every store `run=`-partitioned —
  * re-delivered batches replace their own partition; postings,
  * termstats, stats and raw are one [[graft.ops.RunStore]] group):
  *   - `postings/` (th, doc_id, tf, dl), hive-partitioned on
  *     (run, tb = th mod TermBuckets) — a query batch touches only
  *     its terms' buckets (static partition pruning, the
  *     inverted-list discipline `AnnIndex` applies to cells);
  *   - `termstats/` (th, df) per-run DELTAS, same (run, tb) layout —
  *     document frequency folds as an integer sum over runs, so the
  *     serve-time df of a query's terms is EXACT at any append
  *     count (read pruned to the same buckets);
  *   - `stats/` (n, sumdl) per-run deltas — corpus size and total
  *     document length fold the same way (dl is integral, so the
  *     folded sums are exact);
  *   - `ann/` — an [[AnnIndex]] over the per-doc bag-of-words
  *     embeddings; `raw/` — the run-partitioned raw embedding side
  *     store its refine joins ([[graft.streaming.AnnScreenStream]]'s
  *     discipline, including raw-BEFORE-codes append ordering).
  *
  * Embeddings are L2-NORMALIZED at build and query time, so the
  * ANN's L2 ranking coincides with q111's cosine ranking (for unit
  * vectors, ‖a−b‖² = 2−2·cos — monotone), instead of approximating
  * it. The asymmetric freshness trade is explicit: the LEXICAL
  * ranker is exactly incremental (df/stats fold as integer deltas —
  * a fresh build and any append sequence serve identical BM25
  * scores), while the ANN side encodes appends against FROZEN
  * codebooks ([[AnnIndex]]'s documented trade, monitored by its
  * `cellStats`/`needsRebuild` telemetry).
  *
  * Scale shape: build/append is one batch pass (tokens + embedding)
  * with map-side-combined per-batch aggregates — nothing O(corpus)
  * per append; serving moves O(query-term postings) + O(nprobe
  * cells) rows, ranks both sides on the bounded-heap
  * TopKPerKey/refine machinery, and fuses two O(queries·depth)
  * id-width rank tables with [[graft.queries.Search.rrfFuse]] — the
  * ONE fusion definition shared with q111. Serving reads every store
  * under its declared schema (no schema-inference job) and lists only
  * the query batch's `run=/tb=` bucket directories, so a search's
  * metadata work follows the buckets it probes, not how many the
  * store holds. */
object HybridRetrieval {

  private[graft] val TermBuckets = 64

  // The four serving-visible stores, one [[graft.ops.RunStore]] group
  // whose acks sit at `dir` (the ANN stores' schemas live in
  // [[AnnIndex]]): every read goes through their declarations and
  // never runs a parquet schema-inference job.
  private val Postings = RunStore.Table.rows("postings",
    "th BIGINT, doc_id BIGINT, dl DOUBLE, tf BIGINT").bucketedBy("tb")
  private val Termstats = RunStore.Table("termstats", "th BIGINT, df BIGINT", "th")
    .bucketedBy("tb")
  private val Stats = RunStore.Table("stats", "n BIGINT, sumdl BIGINT")
  private val Raw = RunStore.Table.rows("raw", "vec_id BIGINT, vec ARRAY<DOUBLE>")
  private[graft] val Store = new RunStore("", Postings, Termstats, Stats, Raw)

  private def tokenHashes(c: Column) =
    array_distinct(graft.ops.expressions.TokenHashes(c))

  /** Unit-normalized bag-of-words embedding of a text column
    * (sorted-distinct-hash FeatureEmbed, q111's encoder, scaled to
    * ‖v‖=1 so stored-L2 rank ≡ cosine rank). NULL for a zero-norm
    * embedding (astronomically rare for non-empty hash sets, but
    * under ANSI mode an unguarded 0.0/0.0 THROWS rather than
    * yielding NaN — the VectorOps.cosine lesson); callers filter
    * nulls out of the vector stores. */
  private[graft] def unitEmbed(c: Column) = {
    val v = graft.queries.Search.bowEmbed(c) // the ONE encoder (q111's)
    val norm = sqrt(aggregate(transform(v, x => x * x),
      lit(0.0), (a, b) => a + b))
    when(norm > lit(0.0), transform(v, x => x / norm))
      .otherwise(lit(null))
  }

  /** One narrow pass over a (doc_id, text) batch: dl, unit
    * embedding, token hashes. Token-less docs are out of retrieval
    * scope (q111's contract). */
  private def prepare(docs: DataFrame): DataFrame =
    docs
      .repartition(col("doc_id"))
      .select(col("doc_id"), col("text"),
        graft.ops.TextOps.tokens(col("text")).as("toks"))
      .filter(size(col("toks")) > 0)
      .select(col("doc_id"),
        size(col("toks")).cast("double").as("dl"),
        unitEmbed(col("text")).as("vec"),
        graft.ops.expressions.TokenHashes(col("text")).as("ths"))

  private def vecsOf(prepared: DataFrame): DataFrame =
    prepared.filter(col("vec").isNotNull)
      .select(col("doc_id").as("vec_id"), col("vec"))

  /** `land` one batch's four store frames (table order): postings,
    * df deltas, the (n, sumdl) delta and the raw vectors. All are
    * per-batch aggregates of THIS batch only (map-side combined; the
    * df delta is a groupBy count — q70's skew-free shape, no
    * content-key window anywhere). */
  private def withStoreRows(prepared: DataFrame)(land: Seq[DataFrame] => Unit): Unit = {
    val postings = prepared
      .select(col("doc_id"), col("dl"), explode(col("ths")).as("th"))
      .groupBy(col("th"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .withColumn("tb", pmod(col("th"), lit(TermBuckets.toLong)))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try land(Seq(postings,
      postings.groupBy(col("th"), col("tb")).agg(count(lit(1)).as("df")),
      prepared.agg(count(lit(1)).as("n"), sum(col("dl")).cast("bigint").as("sumdl"))
        .coalesce(1),
      vecsOf(prepared)))
    finally postings.unpersist()
  }

  /** Build all stores from scratch (every run replaced by `run=base`,
    * the [[AnnIndex.build]] contract). */
  def build(spark: SparkSession, docs: DataFrame, dir: String): Unit = {
    val prepared = prepare(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      withStoreRows(prepared)(Store.rebuild(spark, dir, _: _*))
      // a corpus can be ENTIRELY token-less (a fresh deployment whose
      // first delivery is boilerplate): the ANN store is DEFERRED
      // until vectors exist ([[append]] bootstraps it), and a REBUILD
      // over such a corpus clears any stale ANN state a prior build
      // left (serving would otherwise shortlist phantom ids —
      // harmless after the raw refine join, but dead weight every
      // probe)
      val vecs = vecsOf(prepared)
      if (vecs.isEmpty) {
        val ann = new org.apache.hadoop.fs.Path(s"$dir/ann")
        val fs = ann.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(ann)) fs.delete(ann, true)
      } else AnnIndex.build(spark, vecs, s"$dir/ann")
    } finally prepared.unpersist()
  }

  /** Absorb one ingest batch under `run=<runId>` — idempotent under
    * re-delivery (every store partition-overwrites itself), nothing
    * O(corpus). Lexical df/stats stay EXACT (integer deltas); the
    * ANN side encodes against frozen codebooks (class doc trade).
    * Raw store lands BEFORE codes: a crash between the writes leaves
    * an orphan raw partition — never orphan codes whose shortlisted
    * ids would silently drop from the refine join — and the NEXT
    * append's heal loop encodes that orphan from the raw store, so
    * the crash costs recall only until the next delivery. */
  def append(spark: SparkSession, docs: DataFrame, dir: String,
             runId: String): Unit = {
    val prepared = prepare(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try {
      // one delivery spans FOUR serving-visible writes (postings +
      // termstats + stats + raw) that BM25 joins across, acknowledged
      // together. The ANN encode below is DERIVED state with its own
      // heal-on-append recovery, so the ack lands before it: a crash
      // mid-encode heals on the next delivery, it does not
      // un-acknowledge this one.
      withStoreRows(prepared)(Store.absorb(spark, dir, runId, _: _*))
      val vecs = vecsOf(prepared)
      // DEFERRED BOOTSTRAP: the store was built before any vectors
      // existed ([[build]]'s token-less-corpus posture) — train the
      // codebooks on the first vectored batch. Train ONLY: build's
      // run=base codes would need a delete-and-re-key to this
      // delivery's run id, and a crash between the delete and the
      // re-append strands a codebooks store with zero codes that
      // every later append treats as bootstrapped — the first
      // batch's vectors silently never encode.
      if (!vecs.isEmpty &&
          !graft.ops.StoreCompaction.hasParquetData(spark, s"$dir/ann/codebooks"))
        AnnIndex.train(spark, vecs, s"$dir/ann")
      // HEAL-ON-APPEND (the store family's heal-on-read discipline,
      // applied to the raw→codes invariant): encode every raw run
      // the codes store lacks, from the raw side store. This single
      // loop IS the encode of the current delivery (its raw run
      // landed above, codes can't have it yet) AND the repair of any
      // prior delivery whose encode crashed after its raw write —
      // codebooks-present-but-run-unencoded is no longer a terminal
      // state. Gated on the CODEBOOKS store, not on this delivery's
      // vectors: an orphan raw run must heal on the next delivery of
      // ANY kind, or a vector-less ingest stream leaves it unencoded
      // indefinitely. O(missing runs): steady state re-reads one
      // run's vectors from parquet instead of the in-memory frame;
      // the uniform read path is what makes the crash recovery free.
      if (graft.ops.StoreCompaction.hasParquetData(spark, s"$dir/ann/codebooks")) {
        val missing = runsOf(spark, s"$dir/raw") --
          runsOf(spark, s"$dir/ann/codes")
        missing.toSeq.sorted.foreach { r =>
          AnnIndex.append(spark,
            spark.read.schema(Raw.schema).parquet(s"$dir/raw").where(col("run") === r)
              .select(col("vec_id"), col("vec")),
            s"$dir/ann", r)
        }
      }
    } finally prepared.unpersist()
  }

  /** The `run=` partition values present under `path` (directory
    * listing only — no data read). Heals first so a crashed
    * compaction's staging state never masks or duplicates a run. */
  private def runsOf(spark: SparkSession, path: String): Set[String] = {
    graft.ops.StoreCompaction.heal(spark, path, "run")
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) Set.empty
    else fs.listStatus(root).iterator.map(_.getPath.getName)
      .filter(_.startsWith("run=")).map(_.stripPrefix("run=")).toSet
  }

  /** Fold every store's `run=` partitions to one (daily appends
    * otherwise accumulate a partition per batch forever — the
    * [[DedupIndex.compact]] discipline; run at a quiescent point).
    * Delta stores (termstats/stats) fold by their integer sums, so
    * serving reads identically before and after. */
  def compact(spark: SparkSession, dir: String): Unit =
    Store.fold(spark, dir, { ap =>
      // an UNAPPROVED raw run was just dropped, but the heal-on-append
      // loop may already have encoded it into codes — delete those
      // code runs BEFORE the codes fold, or the retry's re-encode
      // would duplicate the ids alongside the folded copy
      val codesPath = s"$dir/ann/codes"
      val stray = runsOf(spark, codesPath) -- ap - "base"
      if (stray.nonEmpty) {
        val root = new org.apache.hadoop.fs.Path(codesPath)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        stray.foreach { r =>
          val pth = new org.apache.hadoop.fs.Path(root, s"run=$r")
          if (fs.exists(pth) && !fs.delete(pth, true))
            throw new IllegalStateException(
              s"hybrid compact: failed to drop unapproved code run $pth")
        }
      }
      // folded before the acks clear, like the four stores
      AnnIndex.compact(spark, s"$dir/ann")
    })

  /** Serve a query batch: (query_id LONG, qtext STRING) →
    * (query_id, doc_id, rrf_nano, rn), top-`k` fused per query.
    *
    * Lexical: the approved runs' `stats` rows (one per run) fold on
    * the driver into (n, sumdl); the batch's (query_id, th) rows
    * collect once (bounded — a query batch is human-sized), name the
    * `tb` buckets the postings AND termstats scans open, and are the
    * broadcast side of the postings join; df folds by summing the
    * pruned deltas; matched postings score the shared bm25Contrib
    * formula, micro-rounded PER TERM so the per-doc BIGINT sum is
    * shuffle-order-free, and rank on TopKPerKey. Semantic: unit
    * query embeddings through [[AnnIndex.searchRefined]] against the
    * stored codes + raw side store — for unit vectors the exact-L2
    * refine rank IS the cosine rank; its probe rows collect once in
    * the same way. Fusion: [[graft.queries.Search.rrfFuse]].
    *
    * Before the result job a search runs four driver-side collects,
    * each once: the stats rows, the query terms, the codebooks and
    * the probe rows. Invariant: a search collects only rows its plan
    * broadcasts anyway (or folds into literals), so driver memory
    * stays on the order of what the broadcasts need.
    *
    * A query whose terms none of the corpus contains simply has no
    * lexical pool — the semantic ranker still serves it (q111's
    * paraphrase law, held by the served path too). A query absent
    * from BOTH pools (token-less qtext: no lexical terms AND a
    * null-filtered embedding) returns ZERO rows rather than a marker
    * row — rrfFuse's documented no-results convention; left-join to
    * the query set for per-query accounting. */
  def search(spark: SparkSession, queries: DataFrame, dir: String,
             k: Int = 10, denseExact: Boolean = false): DataFrame = {
    // ONE store snapshot per search (one heal pass, one ack listing)
    // threaded to every store read below: each ack listing is a
    // FileSystem.listStatus, several remote-FS round-trips per query
    // batch if every sub-store scan paid its own. Acks only change on
    // absorb/compact (not mid-search), so one listing is sound.
    val snap = Store.read(spark, dir)
    // pool depth scales with the requested k: fixed RrfDepth pools
    // would silently cap the fusion at 2·RrfDepth distinct docs per
    // query however large a k the caller asked for
    val depth = math.max(graft.queries.Search.RrfDepth, k)
    val lex = lexRanks(spark, queries, dir, depth, Some(snap))
    val qv = queries.select(col("query_id"), unitEmbed(col("qtext")).as("qvec"))
      .filter(col("qvec").isNotNull)
    // a store with no vectored delivery yet has NO ann state (build's
    // token-less posture) — an empty semantic pool, lexical-only
    // fusion, never a missing-path crash
    val sem =
      if (!graft.ops.StoreCompaction.hasParquetData(spark, s"$dir/ann/codebooks"))
        qv.select(col("query_id"), col("query_id").as("doc_id"),
          lit(1).as("srank")).filter(lit(false))
      else if (denseExact) {
        // EXACT dense mode: brute cosine over the persisted raw
        // vectors with q111's ranking device (raw-double cosine,
        // doc_id tiebreak, bounded-heap TopKPerKey) — one pass over
        // the VECTOR store, the text is still never rescanned. This
        // is the mode a recall-evaluation harness runs next to the
        // ANN default: served-exact RRF reproduces q111's rows
        // (HybridRetrievalSpec pins row equivalence on the gate
        // corpus), so any serving divergence is attributable to the
        // ANN ranker alone.
        val semAll = snap.rows(Raw)
          .select(col("vec_id").as("doc_id"), col("vec"))
          .crossJoin(broadcast(qv))
          .select(col("query_id"), col("doc_id"),
            graft.ops.expressions.CosineSim(col("qvec"), col("vec")).as("cos"))
        graft.plans.TopK.perKey(semAll, Seq("query_id"),
          Seq("cos" -> false, "doc_id" -> true), depth, rankCol = "srank")
      } else {
        AnnIndex.searchRefined(spark, qv, s"$dir/ann", snap.rows(Raw), k = depth)
          .select(col("query_id"), col("vec_id").as("doc_id"),
            col("rn").cast("int").as("srank"))
      }
    graft.queries.Search.rrfFuse(lex, sem, topN = k)
  }

  /** Store-served hard-negative mining — q117's DPR/ANCE miner with
    * its candidate generator routed through the persisted
    * [[AnnIndex]] (the upgrade path q117's class doc declares): per
    * query, the top-`k` docs by shared-encoder cosine among docs
    * sharing ZERO query terms.
    *
    * Three store reads, no corpus rescan:
    *   - zero-shared-term exclusion: answered by the POSTINGS store
    *     (a doc sharing a query term owns a postings row under that
    *     term's hash — id-width rows off the term-pruned scan, the
    *     document text is never re-tokenized) and pushed INTO the
    *     candidate stage via [[AnnIndex.search]]'s per-query
    *     `exclude` anti-join. Pushing it matters structurally: hard
    *     negatives are BY DEFINITION not the query's nearest
    *     neighbors — under a lexical-overlap encoder the cosine HEAD
    *     is exactly the term-sharing docs — so a post-filtered
    *     pool returns fewer than k however deep the pool (measured
    *     on the gate corpus: 464–485 of 500 docs share a term;
    *     post-filtering a depth-200 pool kept 2/10 of the brute
    *     top-k; excluding before the rank keeps the floor);
    *   - candidates: exhaustive-ADC over the COMPRESSED codes
    *     (`nprobe` defaults to every cell — mining is an offline,
    *     recall-sensitive batch job, and an all-cell ADC pass still
    *     reads PqM-byte codes instead of raw vectors and never
    *     touches text; serving-style cell pruning remains available
    *     through `nprobe` for latency-bound callers), shortlisted at
    *     `depth` (default 5·k), `keepVec` so the refine join's raw
    *     vectors feed the rerank for free;
    *   - exact-cosine rerank on the bounded-heap TopKPerKey over the
    *     NANO-ROUNDED cosine (q117's total-order discipline).
    *
    * Output contract = q117's (query_id, doc_id, cos_nano, rn); cos
    * here is over the store's UNIT-normalized vectors —
    * rank-identical to q117's unnormalized cosine (scale
    * invariance), nano values differ by the normalization. Cost per
    * query set: one codes pass + bounded refine instead of q117's
    * full-text scan — the shape a 10⁵-query production miner needs
    * (HybridRetrievalSpec pins planted-corpus equivalence to the
    * brute miner and a recall floor on the gate corpus). */
  def hardNegatives(spark: SparkSession, queries: DataFrame, dir: String,
                    k: Int = graft.queries.Search.HnTopK,
                    depth: Int = 0, nprobe: Int = Int.MaxValue): DataFrame = {
    val d = if (depth > 0) depth else 5 * k
    // one store snapshot per mining call (the search() note)
    val snap = Store.read(spark, dir)
    val (qt, _, pruned) = prunedPostings(spark, queries, snap)
    val qv = queries.select(col("query_id"), unitEmbed(col("qtext")).as("qvec"))
      .filter(col("qvec").isNotNull)
    val sharers = pruned.select(col("th"), col("doc_id"))
      .join(broadcast(qt), "th")
      .select(col("query_id"), col("doc_id").as("vec_id")).distinct()
    // ack-filtered like EVERY raw read: were an unacknowledged
    // half-landed delivery's vectors visible while its postings are
    // filtered out of the term-sharing exclusion, a doc sharing query
    // terms could be emitted as a "zero-shared-term" hard negative,
    // contaminating training data
    val cand = AnnIndex.searchRefined(spark, qv, s"$dir/ann", snap.rows(Raw),
        k = d, nprobe = nprobe, keepVec = true, exclude = Some(sharers))
      .select(col("query_id"), col("vec_id").as("doc_id"), col("cand_vec"))
    val scored = cand
      .join(broadcast(qv), "query_id")
      .select(col("query_id"), col("doc_id"),
        floor(graft.ops.expressions.CosineSim(col("qvec"), col("cand_vec")) *
          lit(1e9) + lit(0.5)).cast("bigint").as("cos_nano"))
    graft.plans.TopK.perKey(scored, Seq("query_id"),
      Seq("cos_nano" -> false, "doc_id" -> true), k, rankCol = "rn")
      .select(col("query_id"), col("doc_id"), col("cos_nano"),
        col("rn").cast("bigint").as("rn"))
      .orderBy(col("query_id"), col("rn"))
  }

  /** The served lexical rank table (query_id, doc_id, score_u,
    * lrank) — the half of [[search]] whose scores are EXACTLY
    * incremental (spec hook: a fresh build and any append sequence
    * over the same corpus must produce identical rows). */
  private[graft] def lexRanks(spark: SparkSession, queries: DataFrame,
                              dir: String,
                              depth: Int = graft.queries.Search.RrfDepth,
                              snapshot: Option[Store.Snapshot] = None): DataFrame = {
    // None = standalone call (spec hooks): take the snapshot here. It
    // heals BEFORE the first read: the stats read below is EAGER, and
    // a compaction of the stats store interrupted in the committed
    // window (run dirs deleted, snapshot still in the hidden tmp dir)
    // would otherwise read n = 0 and silently serve semantic-only
    // fusion
    val snap = snapshot.getOrElse(Store.read(spark, dir))
    // one row per approved run, folded on the driver (a scan, no
    // aggregate shuffle). Nulls count as 0: a store built/appended
    // from ONLY empty or token-less batches wrote null sum(dl)
    // aggregates (and n = 0), and n = 0 would NaN every BM25 idf — so
    // the lexical ranker short-circuits to an EMPTY pool and search()
    // degrades to semantic-only fusion (the q111 paraphrase law's
    // posture: absent ranker pools weaken ranking, never crash it)
    val runStats = snap.rows(Stats).select(col("n"), col("sumdl")).collect()
    def total(i: Int) = runStats.iterator.filterNot(_.isNullAt(i)).map(_.getLong(i)).sum
    val (n, sumdl) = (total(0).toDouble, total(1).toDouble)
    if (n == 0)
      return graft.plans.TopK.perKey(
        queries.select(col("query_id"), lit(0L).as("doc_id"),
          lit(0L).as("score_u")).filter(lit(false)),
        Seq("query_id"), Seq("score_u" -> false, "doc_id" -> true),
        depth, rankCol = "lrank")
    val (qt, terms, pruned) = prunedPostings(spark, queries, snap)
    val dfs = prunedScan(spark, terms, snap, Termstats)
      .groupBy(col("th")).agg(sum(col("df")).as("df"))
    val matched = pruned
      .join(broadcast(qt), "th")
      .join(broadcast(dfs), "th")
    val contrib = graft.queries.Search.bm25Contrib(
      col("tf").cast("double"), col("df").cast("double"),
      lit(n), lit(sumdl), col("dl"))
    val lexAll = matched
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(floor(contrib * lit(1e6) + lit(0.5)).cast("bigint")).as("score_u"))
      .filter(col("score_u") > 0)
    graft.plans.TopK.perKey(lexAll, Seq("query_id"),
      Seq("score_u" -> false, "doc_id" -> true), depth, rankCol = "lrank")
  }

  /** ONE definition of the term-pruned store read (lexRanks AND the
    * plan-pin spec hook go through it, so the pinned scan shape IS
    * the serving shape): filter a `tb`-partitioned store down to the
    * query batch's terms. Takes the term array [[prunedPostings]]
    * derives from its one collect of the batch's (query_id, th) rows,
    * so the postings and termstats scans prune on the terms the
    * postings join broadcasts (a collect per scan would re-execute
    * the query batch's upstream plan per store, and a
    * non-deterministic batch could even prune the two stores
    * inconsistently, silently dropping terms' df rows).
    *
    * The scan reads under the store's declared `schema` and opens only
    * the batch's bucket directories: one Hadoop `listStatus` of
    * the root names the `run=` directories, one per approved run names
    * its `tb=` directories, and only the query buckets' are read
    * (`basePath` keeps `run` and `tb` as partition columns). Nothing
    * lists the other buckets, and no directory matching yields an
    * empty frame of the declared schema. Past Spark's 32-path
    * threshold a batch's directories list in Spark's own parallel
    * job, as a whole-store read did. The bucket and term filters
    * below still apply. */
  private def prunedScan(spark: SparkSession, terms: Array[Long],
                         snap: Store.Snapshot, t: RunStore.Table): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    val buckets = terms.map(_ % TermBuckets).distinct
    val wanted = buckets.map(b => s"tb=$b").toSet
    val path = t.path(snap.dir)
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def subdirs(p: Path) = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
    def approved(runDir: String) = runDir.startsWith("run=") &&
      snap.isApproved(unescapePathName(runDir.stripPrefix("run=")))
    val leaves = subdirs(root).filter(p => approved(p.getName))
      .flatMap(subdirs).filter(p => wanted(p.getName))
    val scan =
      if (leaves.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), t.schema)
      else spark.read.schema(t.schema).option("basePath", path)
        .parquet(leaves.map(_.toString).toIndexedSeq: _*)
    scan.filter(col("tb").isin(buckets: _*) && col("th").isin(terms: _*))
  }

  /** The batch's (query_id, th) table, its distinct terms and the
    * postings scan pruned to them. The batch is tokenized and its
    * (query_id, th) rows collected ONCE: the terms come from those
    * rows on the driver (sorted, so the pruning predicate reads the
    * same for the same batch), and the same rows come back as a
    * local relation, the broadcast side of the `th` joins downstream.
    * The snapshot healed the stores once; healing here too would
    * double the remote-FS existence checks on the hot path. */
  private def prunedPostings(spark: SparkSession, queries: DataFrame,
                             snap: Store.Snapshot): (DataFrame, Array[Long], DataFrame) = {
    val qtPlan = queries
      .select(col("query_id"), explode(tokenHashes(col("qtext"))).as("th"))
    val qtRows = qtPlan.collect()
    val qt = spark.createDataFrame(java.util.Arrays.asList(qtRows: _*), qtPlan.schema)
    val terms = qtRows.map(_.getLong(1)).distinct.sorted
    (qt, terms, prunedScan(spark, terms, snap, Postings))
  }

  /** The lexical-ranker scan over the stores (spec hook: partition
    * pruning — the postings scan must read only the query terms'
    * `tb` buckets; same heal + pruning code path as serving). */
  private[graft] def lexPlan(spark: SparkSession, queries: DataFrame,
                             dir: String): DataFrame =
    prunedPostings(spark, queries, Store.read(spark, dir))._3
}
