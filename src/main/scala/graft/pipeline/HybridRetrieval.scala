package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persisted hybrid retrieval — the SERVED form of q111: build the
  * two ranker indexes once, absorb ingest batches incrementally,
  * and answer (query_id, qtext) batches by RRF-fusing ranks read
  * from the stores, never rescanning the corpus. q111 is the
  * from-scratch query twin (brute-force semantic scan, in-plan
  * BM25); this is what a retrieval consumer of the engine actually
  * deploys, with [[AnnIndex]] supplying the semantic ranker exactly
  * where q111's class doc declares the plug point.
  *
  * Layout (parquet under `dir`, every store `run=`-partitioned on
  * the [[DedupIndex]]/[[AnnIndex]] idempotency discipline —
  * re-delivered batches replace their own partition):
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

  // Declared store schemas, one per store [[writeLexical]] lands
  // (the raw and ANN stores' live in [[AnnIndex]]): every read goes
  // through `spark.read.schema(...)` and never runs a parquet
  // schema-inference job. Partition columns come last, where
  // partition discovery appends them; StoreSchemaSpec pins each
  // declaration against the writers.
  private[graft] val PostingsSchema = StructType.fromDDL(
    "th BIGINT, doc_id BIGINT, dl DOUBLE, tf BIGINT, run STRING, tb INT")
  private[graft] val TermstatsSchema =
    StructType.fromDDL("th BIGINT, df BIGINT, run STRING, tb INT")
  private[graft] val StatsSchema =
    StructType.fromDDL("n BIGINT, sumdl BIGINT, run STRING")

  private def readRaw(spark: SparkSession, dir: String): DataFrame =
    spark.read.schema(AnnIndex.RawSchema).parquet(s"$dir/raw")

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

  /** Land one batch's lexical stores under `run=<runId>`. All three
    * writes are per-batch aggregates of THIS batch only (map-side
    * combined; the df delta is a groupBy count — q70's skew-free
    * shape, no content-key window anywhere). */
  private def writeLexical(prepared: DataFrame, dir: String,
                           runId: String, dynamic: Boolean): Unit = {
    val mode = if (dynamic) "dynamic" else "static"
    val postings = prepared
      .select(col("doc_id"), col("dl"), explode(col("ths")).as("th"))
      .groupBy(col("th"), col("doc_id"), col("dl"))
      .agg(count(lit(1)).as("tf"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    postings
      .withColumn("run", lit(runId))
      .withColumn("tb", pmod(col("th"), lit(TermBuckets.toLong)))
      .write.partitionBy("run", "tb").mode("overwrite")
      .option("partitionOverwriteMode", mode).parquet(s"$dir/postings")
    postings.groupBy(col("th")).agg(count(lit(1)).as("df"))
      .withColumn("run", lit(runId))
      .withColumn("tb", pmod(col("th"), lit(TermBuckets.toLong)))
      .write.partitionBy("run", "tb").mode("overwrite")
      .option("partitionOverwriteMode", mode).parquet(s"$dir/termstats")
    postings.unpersist()
    prepared
      .agg(count(lit(1)).as("n"),
        sum(col("dl")).cast("bigint").as("sumdl"))
      .withColumn("run", lit(runId))
      .coalesce(1)
      .write.partitionBy("run").mode("overwrite")
      .option("partitionOverwriteMode", mode).parquet(s"$dir/stats")
  }

  private def vecsOf(prepared: DataFrame): DataFrame =
    prepared.filter(col("vec").isNotNull)
      .select(col("doc_id").as("vec_id"), col("vec"))

  /** Build all stores from scratch (static overwrite — a re-build
    * replaces any prior runs, the [[AnnIndex.build]] contract). */
  def build(spark: SparkSession, docs: DataFrame, dir: String): Unit = {
    // rebuild: stale delivery markers must not approve reused run ids
    graft.ops.DeliveryMarker.clearAll(spark, dir)
    val prepared = prepare(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeLexical(prepared, dir, "base", dynamic = false)
    val vecs = vecsOf(prepared)
    vecs.withColumn("run", lit("base"))
      .write.partitionBy("run").mode("overwrite").parquet(s"$dir/raw")
    // a corpus can be ENTIRELY token-less (a fresh deployment whose
    // first delivery is boilerplate): the raw store still lands
    // (zero-row but schema-bearing — the house write convention), the
    // ANN store is DEFERRED until vectors exist ([[append]]
    // bootstraps it), and a REBUILD over such a corpus clears any
    // stale ANN state a prior build left (serving would otherwise
    // shortlist phantom ids — harmless after the raw refine join,
    // but dead weight every probe)
    if (vecs.isEmpty) {
      val ann = new org.apache.hadoop.fs.Path(s"$dir/ann")
      val fs = ann.getFileSystem(spark.sparkContext.hadoopConfiguration)
      if (fs.exists(ann)) fs.delete(ann, true)
    } else AnnIndex.build(spark, vecs, s"$dir/ann")
    prepared.unpersist()
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
    Seq("postings", "termstats", "stats", "raw")
      .foreach(s => graft.ops.StoreCompaction.heal(spark, s"$dir/$s", "run"))
    val prepared = prepare(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    writeLexical(prepared, dir, runId, dynamic = true)
    val vecs = vecsOf(prepared)
    vecs.withColumn("run", lit(runId))
      .write.partitionBy("run").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(s"$dir/raw")
    // commit point (r17 DeliveryMarker sweep): one delivery spans
    // FOUR serving-visible writes (postings + termstats + stats +
    // raw) that BM25 joins across — a crash between them must stay
    // invisible to serving and be dropped (not folded) by compaction
    // until the retry lands the run whole. The ANN encode below is
    // DERIVED state with its own heal-on-append recovery, so the
    // marker lands before it: a crash mid-encode heals on the next
    // delivery, it does not un-acknowledge this one.
    graft.ops.DeliveryMarker.mark(spark, dir, runId)
    // DEFERRED BOOTSTRAP: the store was built before any vectors
    // existed ([[build]]'s token-less-corpus posture) — train the
    // codebooks on the first vectored batch. Train ONLY: build's
    // run=base codes would need a delete-and-re-key to this
    // delivery's run id, and a crash between the delete and the
    // re-append strands a codebooks store with zero codes that
    // every later append treats as bootstrapped — the first
    // batch's vectors silently never encode (round-13 advisor).
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
    // vectors (round-14 advisor): an orphan raw run must heal on the
    // next delivery of ANY kind, or a vector-less ingest stream
    // leaves it unencoded indefinitely. O(missing runs): steady
    // state re-reads one run's vectors from parquet instead of the
    // in-memory frame; the uniform read path is what makes the
    // crash recovery free.
    if (graft.ops.StoreCompaction.hasParquetData(spark, s"$dir/ann/codebooks")) {
      val missing = runsOf(spark, s"$dir/raw") --
        runsOf(spark, s"$dir/ann/codes")
      missing.toSeq.sorted.foreach { r =>
        AnnIndex.append(spark,
          readRaw(spark, dir).where(col("run") === r)
            .select(col("vec_id"), col("vec")),
          s"$dir/ann", r)
      }
    }
    prepared.unpersist()
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
    * Delta stores (termstats/stats) fold by CONCATENATION — the
    * serve-time integer sums read identically before and after. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val ap = graft.ops.DeliveryMarker.approved(spark, dir)
    def read(store: String, schema: StructType) = graft.ops.DeliveryMarker
      .approvedOnly(spark.read.schema(schema).parquet(s"$dir/$store"), ap).drop("run")
    graft.ops.StoreCompaction.fold(spark, s"$dir/postings", "run", "base",
      read("postings", PostingsSchema), Seq("tb"))
    graft.ops.StoreCompaction.fold(spark, s"$dir/termstats", "run", "base",
      read("termstats", TermstatsSchema)
        .groupBy(col("th"), col("tb")).agg(sum(col("df")).as("df"))
        .select(col("th"), col("df"), col("tb")), Seq("tb"))
    graft.ops.StoreCompaction.fold(spark, s"$dir/stats", "run", "base",
      read("stats", StatsSchema)
        .agg(sum(col("n")).as("n"), sum(col("sumdl")).as("sumdl")),
      Nil)
    graft.ops.StoreCompaction.fold(spark, s"$dir/raw", "run", "base",
      read("raw", AnnIndex.RawSchema), Nil)
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
    AnnIndex.compact(spark, s"$dir/ann")
    // markers clear only after the LAST fold (unfolded stores'
    // approved partitions stay readable through the filter)
    graft.ops.DeliveryMarker.clear(spark, dir, ap)
  }

  /** Serve a query batch: (query_id LONG, qtext STRING) →
    * (query_id, doc_id, rrf_nano, rn), top-`k` fused per query.
    *
    * Lexical: the batch's term hashes collect to the driver (bounded
    * — a query batch is human-sized) and prune the postings AND
    * termstats scans to their `tb` buckets; df folds by summing the
    * pruned deltas; matched postings score the shared bm25Contrib
    * formula, micro-rounded PER TERM so the per-doc BIGINT sum is
    * shuffle-order-free, and rank on TopKPerKey. Semantic: unit
    * query embeddings through [[AnnIndex.searchRefined]] against the
    * stored codes + raw side store — for unit vectors the exact-L2
    * refine rank IS the cosine rank. Fusion:
    * [[graft.queries.Search.rrfFuse]]. A query whose terms none of
    * the corpus contains simply has no lexical pool — the semantic
    * ranker still serves it (q111's paraphrase law, held by the
    * served path too). A query absent from BOTH pools (token-less
    * qtext: no lexical terms AND a null-filtered embedding) returns
    * ZERO rows rather than a marker row — rrfFuse's documented
    * no-results convention; left-join to the query set for
    * per-query accounting. */
  def search(spark: SparkSession, queries: DataFrame, dir: String,
             k: Int = 10, denseExact: Boolean = false): DataFrame = {
    // the approved-run set is listed ONCE per search and threaded to
    // every store read below (r17 advisor note): each
    // DeliveryMarker.approved is a FileSystem.listStatus, and the
    // hot serving path was paying one per sub-store scan — several
    // remote-FS round-trips per query batch. Markers only change on
    // absorb/compact (not mid-search), so one listing is sound.
    val ap = graft.ops.DeliveryMarker.approved(spark, dir)
    // pool depth scales with the requested k: fixed RrfDepth pools
    // would silently cap the fusion at 2·RrfDepth distinct docs per
    // query however large a k the caller asked for
    val depth = math.max(graft.queries.Search.RrfDepth, k)
    val lex = lexRanks(spark, queries, dir, depth, Some(ap))
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
        val semAll = graft.ops.DeliveryMarker.approvedOnly(readRaw(spark, dir), ap)
          .select(col("vec_id").as("doc_id"), col("vec"))
          .crossJoin(broadcast(qv))
          .select(col("query_id"), col("doc_id"),
            graft.ops.expressions.CosineSim(col("qvec"), col("vec")).as("cos"))
        graft.plans.TopK.perKey(semAll, Seq("query_id"),
          Seq("cos" -> false, "doc_id" -> true), depth, rankCol = "srank")
      } else {
        val raw = graft.ops.DeliveryMarker.approvedOnly(readRaw(spark, dir), ap)
        AnnIndex.searchRefined(spark, qv, s"$dir/ann", raw, k = depth)
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
    // one marker listing + one heal pass per mining call (the
    // search() note)
    val ap = graft.ops.DeliveryMarker.approved(spark, dir)
    healStores(spark, dir)
    val (qt, _, pruned) = prunedPostings(spark, queries, dir, ap)
    val qv = queries.select(col("query_id"), unitEmbed(col("qtext")).as("qvec"))
      .filter(col("qvec").isNotNull)
    val sharers = pruned.select(col("th"), col("doc_id"))
      .join(broadcast(qt), "th")
      .select(col("query_id"), col("doc_id").as("vec_id")).distinct()
    // marker-filtered like EVERY raw read (r18 review find): an
    // unacknowledged half-landed delivery's vectors were visible to
    // mining while its postings were filtered out of the term-sharing
    // exclusion — a doc sharing query terms could be emitted as a
    // "zero-shared-term" hard negative, contaminating training data
    val raw = graft.ops.DeliveryMarker.approvedOnly(readRaw(spark, dir), ap)
    val cand = AnnIndex.searchRefined(spark, qv, s"$dir/ann", raw,
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
                              approvedRuns: Option[Set[String]] = None): DataFrame = {
    // None = standalone call (spec hooks): list markers here, once
    val ap = approvedRuns.getOrElse(
      graft.ops.DeliveryMarker.approved(spark, dir))
    // heal BEFORE the first read (r18): the stats aggregate below is
    // EAGER (.head()), and it used to run before prunedPostings'
    // heal pass — a compaction of the stats store interrupted in the
    // committed window (run dirs deleted, snapshot still in the
    // hidden tmp dir) would read n = 0 and silently serve
    // semantic-only fusion instead of healing first
    healStores(spark, dir)
    // coalesced: a store built/appended from ONLY empty or token-less
    // batches wrote null sum(dl) aggregates (and n = 0); getLong on
    // that null is an NPE, and n = 0 would NaN every BM25 idf — so
    // the lexical ranker short-circuits to an EMPTY pool and search()
    // degrades to semantic-only fusion (the q111 paraphrase law's
    // posture: absent ranker pools weaken ranking, never crash it)
    val st = graft.ops.DeliveryMarker.approvedOnly(
        spark.read.schema(StatsSchema).parquet(s"$dir/stats"), ap)
      .agg(coalesce(sum(col("n")), lit(0L)).as("n"),
        coalesce(sum(col("sumdl")), lit(0L)).as("sumdl")).head()
    val (n, sumdl) = (st.getLong(0).toDouble, st.getLong(1).toDouble)
    if (n == 0)
      return graft.plans.TopK.perKey(
        queries.select(col("query_id"), lit(0L).as("doc_id"),
          lit(0L).as("score_u")).filter(lit(false)),
        Seq("query_id"), Seq("score_u" -> false, "doc_id" -> true),
        depth, rankCol = "lrank")
    val (qt, terms, pruned) = prunedPostings(spark, queries, dir, ap)
    val dfs = prunedScan(spark, terms, s"$dir/termstats", TermstatsSchema, ap)
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
    * query batch's terms. Takes the ALREADY-COLLECTED term array —
    * the one driver-side collect in [[prunedPostings]] feeds both
    * the postings and the termstats scans (a collect per scan would
    * re-execute the query batch's upstream plan per store, and a
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
    * job, as a whole-store read did. The marker and partition filters
    * below still apply. */
  private def prunedScan(spark: SparkSession, terms: Array[Long], path: String,
                         schema: StructType, ap: Set[String]): DataFrame = {
    import org.apache.hadoop.fs.Path
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils.unescapePathName
    val buckets = terms.map(_ % TermBuckets).distinct
    val wanted = buckets.map(b => s"tb=$b").toSet
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def subdirs(p: Path) = fs.listStatus(p).filter(_.isDirectory).map(_.getPath)
    def approved(runDir: String) = runDir.startsWith("run=") && {
      val r = unescapePathName(runDir.stripPrefix("run="))
      r == "base" || ap(r)
    }
    val leaves = subdirs(root).filter(p => approved(p.getName))
      .flatMap(subdirs).filter(p => wanted(p.getName))
    val scan =
      if (leaves.isEmpty)
        spark.createDataFrame(java.util.Collections.emptyList[Row](), schema)
      else spark.read.schema(schema).option("basePath", path)
        .parquet(leaves.map(_.toString).toIndexedSeq: _*)
    graft.ops.DeliveryMarker.approvedOnly(scan, ap)
      .filter(col("tb").isin(buckets: _*) && col("th").isin(terms: _*))
  }

  /** Complete any interrupted compaction of the four lexical/raw
    * sub-stores — every serving entry point calls this before its
    * FIRST store read (idempotent: four hidden-marker existence
    * checks when nothing is in flight). */
  private def healStores(spark: SparkSession, dir: String): Unit =
    Seq("postings", "termstats", "stats", "raw")
      .foreach(s => graft.ops.StoreCompaction.heal(spark, s"$dir/$s", "run"))

  /** Callers MUST [[healStores]] before this (every serving entry
    * point — lexRanks, hardNegatives, lexPlan — does, exactly once;
    * healing here too would double the remote-FS existence checks on
    * the hot path). */
  private def prunedPostings(spark: SparkSession, queries: DataFrame,
                             dir: String, ap: Set[String])
      : (DataFrame, Array[Long], DataFrame) = {
    import spark.implicits._
    val qt = queries
      .select(col("query_id"), explode(tokenHashes(col("qtext"))).as("th"))
    val terms = qt.select(col("th")).distinct().as[Long].collect()
    (qt, terms, prunedScan(spark, terms, s"$dir/postings", PostingsSchema, ap))
  }

  /** The lexical-ranker scan over the stores (spec hook: partition
    * pruning — the postings scan must read only the query terms'
    * `tb` buckets; same heal + pruning code path as serving). */
  private[graft] def lexPlan(spark: SparkSession, queries: DataFrame,
                             dir: String): DataFrame = {
    healStores(spark, dir)
    prunedPostings(spark, queries, dir,
      graft.ops.DeliveryMarker.approved(spark, dir))._3
  }
}
