package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TextOps

/** Corpus-maintenance operators (round 6): the storage/index side of
  * a training-data pipeline, complementing the dedup/similarity
  * families in [[TextVector]] and the curation ops in [[Quality]]:
  *
  *  - q68 winnowing fingerprint overlap (MOSS span-overlap
  *    detection — the fingerprint family's positional member, next
  *    to minhash (q24) / simhash (q29) / embedding-cosine (q34)
  *    which are all bag-of-features);
  *  - q69 deterministic re-shard (content-hash training order +
  *    fixed shard assignment — the K3 re-shard analog as a query);
  *  - q70 inverted-index posting lists (term → (doc, tf, positions)
  *    with document frequency — the retrieval-index build that q43's
  *    BM25 scoring would read at scale);
  *  - q71 content-defined chunking dedup (rsync/LBFS-style: chunk
  *    boundaries are a pure function of content, so shared spans
  *    chunk identically in every document that contains them —
  *    storage-level exact dedup of repeated spans, robust to
  *    insertions unlike fixed-size blocks).
  *
  * Oracle strategy: same as TextVector — the kernels' DuckDB twins
  * are built from the shared constants (TextOps.TokenPattern,
  * HashKernel modulus) via [[TextVector.Sql]]; winnowing's window
  * minima are stated with SQL window functions and pinned to the
  * O(m) deque kernel by WinnowSpec.
  */
object Corpus extends graft.QueryPack {

  import TextVector.Sql

  // q68: 5-token shingles (rare enough that fingerprint collisions
  // mean real shared spans — 3-shingles on this vocab are too
  // common), window 4 (density 2/(w+1) ≈ 0.4, guarantee on shared
  // runs of w+k-1 = 8 tokens). MaxDf is the STOP-FINGERPRINT cap:
  // a fingerprint in > MaxDf docs generates O(df²) candidate pairs
  // (one 871-doc cluster = 378k pairs from a single value), so
  // high-df fingerprints are dropped before the pair join — the
  // standard index-pruning move that bounds the self-join output at
  // any corpus size (measured df at sf0.1 caps at 4; the guard is
  // for the 100-TB tail).
  private val WinnowK         = 5
  private val WinnowW         = 4
  private val WinnowMaxDf     = 20
  private val WinnowMinShared = 2

  // q69: 8 shards, 5 head slots shown per shard.
  private val NShards   = 8L
  private val HeadSlots = 5

  // q70: deterministic 1-in-7 term sample (by token hash) keeps the
  // demonstration index small; df is computed on the sampled terms.
  private val IdxSampleMod = 7L

  // q133: token budget per training shard (the engine's 512 motif;
  // ~3 shards per source at the gate scales, ~26 at sf0.1).
  private val PackTokens = 512L

  // q71: expected chunk length = CdcMod tokens (boundary when
  // tokenhash % CdcMod == 0).
  private val CdcMod = 16L

  // q92: how many BPE merge rounds the oracle replays (each round is
  // one unrolled CTE block; the trainer itself is unbounded)
  private[queries] val BpeRounds = 6

  // q119: keywords kept per document.
  private val TfidfTopK = 3

  private val P = 1000000007L

  // q72: surprisal output rounding (micro-units inside the exact
  // sum; 6 decimals on the emitted mean).
  private val XentDecimals = 6

  // q102: Stupid Backoff score weight (Brants et al. 2007's
  // published α — the large-LM backoff that skips normalization).
  private val SbAlpha = 0.4

  /** The q102 chain (spec hook: planted reference/target splits
    * that force the backoff branch): bigram Stupid-Backoff
    * surprisal — the CCNet-style perplexity filter one level up
    * from q72's unigram. The LM trains on a REFERENCE predicate
    * over the scored frame (q102 wires the even-doc_id half — the
    * "curated side"; CCNet trains on Wikipedia and scores the
    * crawl) and scores every target position: first token and
    * backed-off positions score the Laplace-smoothed unigram
    * (c+1)/(N+V) (so out-of-vocabulary tokens get finite
    * surprisal), seen bigrams score count(prev,cur)/count(prev),
    * and unseen bigrams multiply the unigram by α — per-doc mean
    * surprisal plus a visible n_backoff diagnostic. Scale: the
    * position frame tokenizes ONCE (persisted; the reference rows
    * are a filter of it, mirroring the oracle's refpos CTE); the
    * UNIGRAM model broadcasts (Heaps-bounded, q72's argument) but
    * the BIGRAM table joins by key with no broadcast hint — its
    * distinct-pair count grows with an open reference and AQE picks
    * broadcast only when it measures small; ln micro-rounds through
    * avgExact (q72's cross-engine argument). */
  private[graft] def stupidBackoffSurprisal(docs: DataFrame,
                                            refPred: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.ops.Determinism.{avgExact, roundFix}
    val pos = docs
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id", $"toks", posexplode($"toks").as(Seq("pos", "cur")))
      .select($"doc_id", $"cur",
        when($"pos" === 0, lit(null).cast("string"))
          .otherwise(element_at($"toks", $"pos")).as("prev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val refPos = pos.filter(refPred)
    val uni = refPos.groupBy($"cur").agg(count(lit(1)).as("cu"))
    val tot = uni.agg(sum($"cu").as("n"), count(lit(1)).as("v"))
    val bi = refPos.filter($"prev".isNotNull)
      .groupBy($"prev", $"cur").agg(count(lit(1)).as("cb"))
    val puni = (coalesce($"cu", lit(0L)).cast("double") + lit(1.0)) /
      ($"n".cast("double") + $"v".cast("double"))
    pos
      .join(broadcast(uni), Seq("cur"), "left")
      .join(broadcast(uni.select($"cur".as("prev"), $"cu".as("cp"))),
        Seq("prev"), "left")
      .join(bi, Seq("prev", "cur"), "left")
      .crossJoin(broadcast(tot))
      .select($"doc_id",
        (-log(
          when($"prev".isNull, puni)
            .when($"cb".isNotNull, $"cb".cast("double") / $"cp".cast("double"))
            .otherwise(lit(SbAlpha) * puni))).as("surp"),
        when($"prev".isNotNull && $"cb".isNull, 1L).otherwise(0L).as("bo"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"),
        sum($"bo").as("n_backoff"),
        roundFix(avgExact($"surp"), XentDecimals).as("xent"))
      .orderBy($"doc_id")
  }

  // q168: the KN absolute discount (Kneser & Ney 1995; 0.75 is Chen
  // & Goodman 1998's fixed-discount default). 3/4 is exactly
  // representable in binary, so c − D is an EXACT double for any
  // integer count below 2⁵¹.
  private val KnD = 0.75

  /** The q168 chain (spec hook: planted train/eval splits with every
    * branch hand-scored — LmSpec): interpolated Kneser–Ney bigram
    * cross-entropy on the held-out half. The q102 position device
    * and split; the model is the KN smoother instead of Stupid
    * Backoff:
    *
    *   p(w|v) = (max(c(vw) − D, 0) + D·N₁₊(v·)·p_cont(w)) / c(v·)
    *   p_cont(w) = (N₁₊(·w) + 1) / (N₁₊(··) + V + 1)
    *
    * — the continuation distribution is add-one smoothed (one
    * documented deviation from the textbook form, which reserves an
    * <unk> type instead: it keeps every OOV and unseen-context
    * position finite without a vocabulary decision the corpus can't
    * make). Positions with no usable context (first token, or a
    * context never seen in training) score p_cont alone. Output is
    * per-LANG (n_pos, n_oov, xent) — the held-out predictability
    * table read next to q154's entropy rate (that one is the
    * corpus's own conditional entropy; this one is what a COUNT
    * MODEL trained on half the corpus achieves on the other half,
    * and the gap is the overfit/sparsity signal).
    *
    * Determinism: all five count tables are exact integers; p is ONE
    * fixed-order double expression over them (c − 3/4 exact, the
    * rest exact-rounded IEEE on identical inputs); ln micro-rounds
    * through avgExact (q72/q102's cross-engine argument). Scale
    * shape: ONE tokenize/posexplode pass (persisted — train rows are
    * a filter of it); unigram/context/continuation tables broadcast
    * (Heaps-bounded); the bigram table joins by key with no hint
    * (q102's rationale); the 1-row (N₁₊(··), V) total broadcasts
    * (intendedBnlj). */
  private[graft] def knCrossEntropy(docs: DataFrame,
                                    refPred: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.ops.Determinism.{avgExact, roundFix}
    val pos = docs
      .select($"lang", $"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"lang", $"doc_id", $"toks",
        posexplode($"toks").as(Seq("pos", "cur")))
      .select($"lang", $"doc_id", $"cur",
        when($"pos" === 0, lit(null).cast("string"))
          .otherwise(element_at($"toks", $"pos")).as("prev"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val refPos = pos.filter(refPred)
    val evalPos = pos.filter(!refPred)
    val uni = refPos.groupBy($"cur").agg(count(lit(1)).as("cu"))
    // bi feeds FOUR consumers (ctx, continuation, the 1-row total,
    // and the scoring join) — persisted so the train half aggregates
    // ONCE instead of once per derived table (the q165 lesson)
    val bi = refPos.filter($"prev".isNotNull)
      .groupBy($"prev", $"cur").agg(count(lit(1)).as("cb"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val ctx = bi.groupBy($"prev")
      .agg(sum($"cb").as("cv"), count(lit(1)).as("n1p"))
    val contw = bi.groupBy($"cur").agg(count(lit(1)).as("n1w"))
    val tot = bi.agg(count(lit(1)).as("nbb"))
      .crossJoin(uni.agg(count(lit(1)).as("v"))) // 1 row — intendedBnlj
    val pcont = (coalesce($"n1w", lit(0L)).cast("double") + lit(1.0)) /
      ($"nbb".cast("double") + $"v".cast("double") + lit(1.0))
    evalPos
      .join(broadcast(contw), Seq("cur"), "left")
      .join(broadcast(ctx), Seq("prev"), "left")
      .join(bi, Seq("prev", "cur"), "left")
      .join(broadcast(uni), Seq("cur"), "left")
      .crossJoin(broadcast(tot))
      .select($"lang",
        (-log(
          when($"cv".isNotNull,
            (greatest(coalesce($"cb", lit(0L)).cast("double") - lit(KnD),
              lit(0.0)) + lit(KnD) * $"n1p".cast("double") * pcont)
              / $"cv".cast("double"))
            .otherwise(pcont))).as("surp"),
        when($"cu".isNull, 1L).otherwise(0L).as("oov"))
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_pos"), sum($"oov").as("n_oov"),
        roundFix(avgExact($"surp"), XentDecimals).as("xent"))
      .orderBy($"lang")
  }

  // q116: distribution-drift bucket count (q103's fixed-size
  // hashed-unigram device — the model is B counters per side
  // regardless of vocabulary). Shared with the incremental store
  // ([[graft.pipeline.DriftMonitor]]).
  private[graft] val DriftBuckets = 256L

  /** The q116 bucket-count stage over any (lang, text) frame — ONE
    * definition for the query's two sides AND the incremental
    * store's [[graft.pipeline.DriftMonitor.absorb]], so maintained
    * counts and the from-scratch query can never drift. Output:
    * (lang, b, `as`). */
  private[graft] def bucketCounts(docs: DataFrame, as: String): DataFrame =
    docs
      .select(col("lang"),
        explode(graft.ops.expressions.TokenHashes(col("text"))).as("th"))
      .select(col("lang"), pmod(col("th"), lit(DriftBuckets)).as("b"))
      .groupBy(col("lang"), col("b")).agg(count(lit(1)).as(as))

  /** The q116 chain over two (lang, text) snapshot frames (spec
    * hook: planted identical halves ⇒ exactly 0, disjoint-vocab
    * halves ⇒ near ln 2). Per-lang Jensen–Shannon divergence
    * between the snapshots' hashed-unigram distributions — the
    * monitor that answers "did the ingest distribution SHIFT", the
    * question q107's row-level diff cannot (a million routine edits
    * and a topical shift both show as "changed"). JSD (Lin 1991)
    * over Laplace-smoothed B-bucket distributions:
    *   JSD = ½·Σ_b [ p_b·ln(p_b/m_b) + q_b·ln(q_b/m_b) ],
    *   m = ½(p+q) — symmetric, bounded by ln 2, defined even for
    * disjoint support (where KL diverges). Cross-engine: counts are
    * exact integers over the FULL lang×B grid (absent buckets still
    * carry Laplace mass — dropping them would understate the
    * divergence), p/q/m are identical expression trees over those
    * integers, and each bucket's term nano-rounds to int64 BEFORE
    * the per-lang sum (the q102/q103 ln discipline). Scale shape:
    * one fused tokenize+hash kernel pass per side map-side-combined
    * into ≤ langs·B rows, a tiny grid join, broadcast totals —
    * document text never shuffles and the model state is B counters
    * per (lang, side) FOREVER. */
  private[graft] def distDrift(prev: DataFrame, cur: DataFrame): DataFrame = {
    val s = prev.sparkSession
    import s.implicits._
    jsdFromCounts(bucketCounts(prev, "co"), bucketCounts(cur, "cn"),
      prev.select($"lang").union(cur.select($"lang")).distinct())
  }

  /** The q116 divergence stage over already-aggregated bucket
    * counts — ONE formula shared by [[distDrift]] (which derives
    * both sides from document scans) and the incremental store
    * ([[graft.pipeline.DriftMonitor.report]], which folds persisted
    * deltas). `co`/`cn` are (lang, b, co)/(lang, b, cn); `langs`
    * names every domain the report must cover (a lang absent from
    * one side's counts still reports — its distribution is all
    * Laplace mass). `persistGrid` caches the doubly-consumed grid
    * frame: true for distDrift, whose grid subtree holds the two
    * tokenize+hash CORPUS scans; false for the incremental store,
    * where it is two tiny aggregated-parquet folds and the persist
    * would only saddle a polled monitoring endpoint with a
    * cache-lifecycle obligation. */
  private[graft] def jsdFromCounts(co: DataFrame, cn: DataFrame,
                                   langs: DataFrame,
                                   persistGrid: Boolean = true): DataFrame = {
    val s = co.sparkSession
    import s.implicits._
    val grid = langs.select($"lang",
      explode(sequence(lit(0L), lit(DriftBuckets - 1))).as("b"))
    // persisted: the totals aggregate AND the final join both read
    // this frame, and its subtree holds the two tokenize+hash corpus
    // scans (no DAG-level CSE — without the persist each scan plans
    // twice); the cached frame itself is ≤ langs·B id-width rows
    // (clearCache lifecycle as everywhere)
    val joinedRaw = grid
      .join(co, Seq("lang", "b"), "left")
      .join(cn, Seq("lang", "b"), "left")
      .select($"lang", $"b",
        coalesce($"co", lit(0L)).as("co"), coalesce($"cn", lit(0L)).as("cn"))
    val joined =
      if (persistGrid)
        joinedRaw.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else joinedRaw
    val tot = joined.groupBy($"lang")
      .agg(sum($"co").as("no"), sum($"cn").as("nn"))
    val po = ($"co" + lit(1L)).cast("double") /
      ($"no" + lit(DriftBuckets)).cast("double")
    val pn = ($"cn" + lit(1L)).cast("double") /
      ($"nn" + lit(DriftBuckets)).cast("double")
    val m = (po + pn) / lit(2.0)
    val term = (po * log(po / m) + pn * log(pn / m)) * lit(0.5)
    joined.join(broadcast(tot), Seq("lang"))
      .select($"lang", $"no", $"nn",
        floor(term * lit(1e9) + lit(0.5)).as("tn"))
      .groupBy($"lang")
      .agg(max($"no").as("n_old"), max($"nn").as("n_new"),
        sum($"tn").as("jsd_nano"))
      .orderBy($"lang")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Winnowing fingerprint overlap (SIGMOD'03 / MOSS): per-doc
    // fingerprints = distinct window-minima of positional 5-shingle
    // hashes (WinnowFingerprints — O(m) deque kernel, density
    // 2/(w+1)), then a fingerprint-equality self-join counts shared
    // fingerprints per pair. Any shared run of w+k-1 tokens shares
    // ≥ 1 fingerprint (the winnowing guarantee), so recall on long
    // overlaps is 1.0 with a ~2.5× smaller index than all-shingles.
    // Scale: the join partitions by fingerprint value; the df cap
    // drops degenerate hot fingerprints before pair expansion
    // (bounding output at O(n_fp · MaxDf²) regardless of corpus
    // size); the fingerprint table (2 longs/row) is the only
    // shuffled state.
    "q68_winnow_overlap" -> { (s, d) =>
      import s.implicits._
      // fan out past the single-file scan split for the kernel pass;
      // persist the raw (doc_id, fp) table — referenced by the df
      // aggregate AND the keep join below (no DAG-level CSE), and
      // it is 2 longs/row
      val fps = Tables.documents(s, d)
        .repartition($"doc_id")
        .select($"doc_id",
          explode(graft.ops.expressions.WinnowFingerprints($"text", WinnowK, WinnowW))
            .as("fp"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      // document frequency via groupBy + join-back (the q75/q93
      // skew device), NOT count().over(Window.partitionBy(fp)): the
      // aggregate map-side-combines a hot fingerprint to one row per
      // input partition before the shuffle, and an over-cap fp's
      // occurrence rows are DROPPED as they stream through the inner
      // join (keepFps excludes the fp) — no reducer ever holds a hot
      // fingerprint's occurrence set, and AQE can split the join
      // where a window partition cannot be split.
      val keepFps = fps.groupBy($"fp")
        .agg(count(lit(1)).as("df"))
        .filter($"df" <= WinnowMaxDf)
        .select($"fp")
      // cache the surviving (doc_id, fp) table — referenced 3× below
      // (both pair-join sides + per-doc counts)
      val kept = fps.join(keepFps, "fp")
        .select($"doc_id", $"fp")
        .cache()
      val cnt = kept.groupBy($"doc_id").agg(count(lit(1)).as("n_fp"))
      val pairs = kept.as("x")
        .join(kept.as("y"), $"x.fp" === $"y.fp" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"))
        .groupBy($"id_a", $"id_b")
        .agg(count(lit(1)).as("n_shared"))
        .filter($"n_shared" >= WinnowMinShared)
      pairs
        .join(cnt.select($"doc_id".as("id_a"), $"n_fp".as("n_a")), "id_a")
        .join(cnt.select($"doc_id".as("id_b"), $"n_fp".as("n_b")), "id_b")
        .select($"id_a", $"id_b", $"n_shared",
          ($"n_shared".cast("double") / least($"n_a", $"n_b").cast("double"))
            .as("overlap"))
        .orderBy($"id_a", $"id_b")
    },

    // Deterministic re-shard (K3 analog as a query): training order
    // and shard assignment as a pure function of CONTENT hash —
    // stable under re-partitioning and incremental re-runs (the q38
    // device, extended from split labels to a physical layout).
    // Within-shard order is (hash, doc_id); the row_number+filter is
    // rewritten onto the bounded-heap TopKPerKey operator by
    // WindowTopKRewrite, and the 8-row shard-totals side is a
    // broadcast join. At scale this IS the re-shard plan: shuffle
    // once on shard_id, sortWithinPartitions(h), write with
    // maxRecordsPerFile.
    // Range audit (r17): MODULO shard bucket (q38's device) —
    // range-independent, no scaling assumption (MixRangeSpec sweep).
    "q69_shard_assign" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
        .select($"doc_id", TextOps.fingerprint($"text").as("h"),
          TextOps.tokenCount($"text").cast("long").as("n_tok"))
        .withColumn("shard_id", pmod($"h", lit(NShards)))
      val totals = docs.groupBy($"shard_id")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      docs
        .withColumn("slot", row_number().over(
          Window.partitionBy($"shard_id").orderBy($"h", $"doc_id")))
        .filter($"slot" <= HeadSlots)
        .join(broadcast(totals), Seq("shard_id"))
        .select($"shard_id", $"slot".cast("bigint").as("slot"),
          $"doc_id", $"h", $"n_docs", $"n_tokens")
        .orderBy($"shard_id", $"slot")
    },

    // Token-budget shard packing — the export layout job that turns
    // a curated corpus into ~equal-token training shards (K3's
    // re-shard op at token granularity; q69 is its hash-balanced
    // sibling — that one balances COUNTS destroying locality, this
    // one preserves within-source order and balances TOKENS, which
    // is what a sequential training reader wants). Contract: a doc
    // belongs to the shard where its token OFFSET starts (running
    // sum per source, doc_id order), so a shard can exceed the
    // budget by at most its last document — the standard packing
    // discipline. Output: one row per (source, shard) with doc/token
    // totals and the id span — the shard manifest.
    //
    // Scale shape: one tokenize pass; the running sum is a window
    // PARTITIONED BY source (parallel across sources, sorted within
    // — the shape a 100-TB export already needs for deterministic
    // shard content); manifest rows aggregate map-side to
    // O(sources · shards). Integer-exact throughout.
    "q133_token_packing" -> { (s, d) =>
      tokenPacking(Tables.documents(s, d))
    },

    // Inverted-index build (retrieval side of the engine): term →
    // posting list (doc_id, tf, ordered positions) + document
    // frequency — what q43's BM25 would SCAN at serving time,
    // materialized here as a build job. Positions come from one
    // fused posexplode(TokenHashes) pass; postings group by
    // (term, doc) with map-side partial aggregation; df comes from a
    // groupBy(term) aggregate joined back onto the postings (the
    // q75/q93 skew device — a window over partitionBy(th) would
    // funnel a stop-term's whole posting list to one reducer, and
    // AQE cannot split a window partition; the join-back aggregate
    // map-side-combines and the equi-join is AQE skew-splittable).
    // O(postings) state, partitioned by term, which is exactly how a
    // 100-TB index build shards. The 1-in-7 term sample is
    // deterministic (hash mod), not a rand() — re-runs and engines
    // agree.
    "q70_inverted_index" -> { (s, d) =>
      import s.implicits._
      // persisted: the posting table feeds the df aggregate AND the
      // join-back (no DAG-level CSE); lifecycle is the Verify/Bench
      // clearCache contract
      val postings = Tables.documents(s, d)
        .repartition($"doc_id")
        .select($"doc_id",
          posexplode(graft.ops.expressions.TokenHashes($"text")).as(Seq("pos", "th")))
        .filter(pmod($"th", lit(IdxSampleMod)) === 0)
        .groupBy($"th", $"doc_id")
        .agg(count(lit(1)).as("tf"),
          concat_ws(",",
            transform(sort_array(collect_list($"pos")), _.cast("string")))
            .as("positions"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfs = postings.groupBy($"th").agg(count(lit(1)).as("df"))
      postings.join(dfs, "th")
        .select($"th", $"doc_id", $"tf", $"df", $"positions")
        .orderBy($"th", $"doc_id")
    },

    // Content-defined chunking dedup (rsync/LBFS): a token closes a
    // chunk when its hash ≡ 0 mod CdcMod, so boundaries — and hence
    // chunk identity — are pure functions of content: a span shared
    // by two documents chunks identically in both regardless of
    // position (robust to insertions, unlike fixed-size blocks).
    // chunk_id = exclusive prefix count of boundaries (one window
    // pass per doc, the natural partition); chunk hash folds token
    // hashes in position order; the corpus-level groupBy(chunk_hash)
    // finds spans stored more than once — the storage-dedup measure.
    "q71_cdc_chunks" -> { (s, d) =>
      import s.implicits._
      val wDoc = Window.partitionBy($"doc_id").orderBy($"pos")
        .rowsBetween(Window.unboundedPreceding, -1)
      Tables.documents(s, d)
        .repartition($"doc_id")
        .select($"doc_id",
          posexplode(graft.ops.expressions.TokenHashes($"text")).as(Seq("pos", "th")))
        .withColumn("b", when(pmod($"th", lit(CdcMod)) === 0, 1L).otherwise(0L))
        .withColumn("chunk_id", coalesce(sum($"b").over(wDoc), lit(0L)))
        .groupBy($"doc_id", $"chunk_id")
        .agg(sort_array(collect_list(struct($"pos", $"th"))).as("arr"))
        .select(
          size($"arr").cast("long").as("n_tok"),
          aggregate($"arr", lit(0L),
            (acc, x) => (acc * lit(31L) + x.getField("th")) % lit(P))
            .as("chunk_hash"))
        .groupBy($"chunk_hash")
        .agg(count(lit(1)).as("n_copies"), min($"n_tok").as("n_tokens"))
        .filter($"n_copies" >= 2)
        .orderBy($"chunk_hash")
    },

    // TF-IDF keyword extraction: each document's top-TfidfTopK terms
    // by tf · ln(N/df) — the classic salience score (Spärck Jones
    // 1972) that powers topic labels, facet browsing, and the
    // lightweight doc descriptors curation dashboards key on. Scale
    // shape: term frequencies come from one map-side-combined
    // groupBy over the exploded scan; document frequency is the
    // groupBy + join-back device (q70's argument verbatim — a
    // count().over(partitionBy(tok)) window would funnel a stop
    // word's whole posting set onto one reducer, and AQE cannot
    // split a window partition; the equi-join back IS splittable);
    // N broadcasts as one row; ranking is the bounded-heap
    // TopKPerKey over the MICRO-ROUNDED score (exact int64 both
    // engines — rank agreement needs no ulp argument). A stop word
    // in every doc scores ln(1) = 0 and sinks by construction.
    "q119_tfidf_keywords" -> { (s, d) =>
      import s.implicits._
      // persisted: the tf table feeds the df aggregate AND the
      // score join (no DAG-level CSE); Verify/Bench clearCache
      // lifecycle as everywhere
      val tf = Tables.documents(s, d)
        .repartition($"doc_id")
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
        .groupBy($"doc_id", $"tok").agg(count(lit(1)).as("tf"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val dfs = tf.groupBy($"tok").agg(count(lit(1)).as("df"))
      val nDocs = broadcast(
        Tables.documents(s, d).agg(count(lit(1)).cast("double").as("n")))
      val scored = tf.join(dfs, "tok").crossJoin(nDocs)
        .select($"doc_id", $"tok",
          floor($"tf".cast("double") * log($"n" / $"df".cast("double"))
            * lit(1e6) + lit(0.5)).cast("bigint").as("tfidf_micro"))
      graft.plans.TopK.perKey(scored, Seq("doc_id"),
          Seq("tfidf_micro" -> false, "tok" -> true), TfidfTopK, rankCol = "rn")
        .select($"doc_id", $"tok", $"tfidf_micro", $"rn".cast("bigint").as("rn"))
        .orderBy($"doc_id", $"rn")
    },

    // Unigram-LM surprisal scoring (statistical quality filter, next
    // to TextStats' heuristic one): train a unigram model ON the
    // corpus itself (token → count, one map-side-combined groupBy),
    // then score every document by its mean surprisal
    // -avg ln p(token) — the cheap cross-entropy outlier signal real
    // pipelines run before anything model-based. The vocabulary is
    // tiny relative to the corpus (Heaps' law), so the trained model
    // BROADCASTS and scoring is one shuffle-free pass + per-doc agg.
    // ln is micro-rounded through the exact-sum convention (shared
    // per-term constants, q43's argument: adjacent-doc score gaps
    // dwarf 1-ulp cross-engine ln differences).
    "q72_unigram_surprisal" -> { (s, d) =>
      import s.implicits._
      import graft.ops.Determinism.{avgExact, roundFix}
      val toks = Tables.documents(s, d)
        .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      // r19: vocab feeds its own broadcast AND the total's — the
      // unpersisted plan tokenized the corpus a third time just to
      // count the model's mass. Persisting the O(types) model keeps
      // the inherent two passes (train + score) and no more.
      // 0.89 → 0.46 s clean at sf0.1.
      val vocab = toks.groupBy($"tok").agg(count(lit(1)).as("c"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val total = vocab.agg(sum($"c").as("n"))
      toks
        .join(broadcast(vocab), "tok")
        .crossJoin(broadcast(total))
        .select($"doc_id",
          (-log($"c".cast("double") / $"n".cast("double"))).as("surp"))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_tok"),
          roundFix(avgExact($"surp"), XentDecimals).as("xent"))
        .orderBy($"doc_id")
    },

    // Bigram Stupid-Backoff surprisal (class doc on
    // [[stupidBackoffSurprisal]]): the reference LM is the even-
    // doc_id half; every document — reference and crawl side alike —
    // gets (n_tok, n_backoff, xent).
    "q102_bigram_surprisal" -> { (s, d) =>
      import s.implicits._
      stupidBackoffSurprisal(Tables.documents(s, d),
        pmod($"doc_id", lit(2L)) === 0)
    },

    // BPE merge-pair counting — the TRAINING step of byte-pair
    // tokenizer induction (count adjacent symbol pairs, merge the
    // winner, repeat): one full round of pair statistics with the
    // top candidates ranked deterministically (count desc, pair
    // asc). The engine's tokenizer is a fixed stand-in (T1), so
    // this is the capability a team would use to TRAIN the real
    // one from their corpus. Character bigrams only — the UNMARKED
    // seeding (BpeTrainer's markEow=false twin; the full q92 loop
    // adds the </w> end-of-word symbol, whose pairs a 2-char substr
    // cannot express). Scale: the pair space is bounded by
    // alphabet² regardless of corpus size, so the global rank sorts
    // a tiny aggregate — the heavy part is the narrow explode,
    // which pipelines on the scan.
    "q87_bpe_pairs" -> { (s, d) =>
      import s.implicits._
      val w = Window.orderBy($"n".desc, $"pair")
      // r20 (guide §2.3 aggregate-before-shuffle): pair statistics are
      // a pure function of the TYPE distribution — a pair's count is
      // Σ over distinct tokens of (token count × occurrences of the
      // pair inside that token) — so fold the token stream to (tok, n)
      // FIRST (map-side-combined, id-width) and run the char-pair
      // explode over O(types) rows instead of O(corpus tokens). The
      // same multiset of (pair, weight) reaches the pair aggregate
      // (a token containing a pair twice still emits two rows, each
      // weighted n), so counts are bit-identical.
      Tables.documents(s, d)
        .select(explode(TextOps.tokens($"text")).as("tok"))
        .filter(length($"tok") > 1)
        .groupBy($"tok").agg(count(lit(1)).as("tn"))
        .select($"tn", explode(transform(sequence(lit(1), length($"tok") - 1),
          i => substr($"tok", i, lit(2)))).as("pair"))
        .groupBy($"pair").agg(sum($"tn").as("n"))
        .withColumn("rn", row_number().over(w).cast("bigint"))
        .filter($"rn" <= 20)
        .orderBy($"rn")
    },

    // Iterative BPE TRAINING, oracle-gated (q87 is one round of pair
    // stats; this is the induction loop itself): the first BpeRounds
    // merge decisions (round, pair, weighted count) of
    // graft.pipeline.BpeTrainer over the corpus. Words come from the
    // GPT-2 regex pre-tokenizer (TextOps.PreTokenPattern — the
    // DuckDB twin runs the SAME pattern in the words CTE), each
    // seeding its characters + the </w> end-of-word marker
    // (GPT-2/Sennrich convention — public-tokenizer-
    // interchangeable; contraction splits spec-gated in BpeSpec
    // since the corpus text is apostrophe-free). The trainer
    // executes its distributed rounds eagerly (q63's precedent for
    // eager stages); the DuckDB twin replays every round — pair
    // count, argmax (count desc, pair asc), and the greedy
    // skip-past merge apply as a struct-accumulator left fold
    // (list_reduce state machine) — so the full training dynamics,
    // not just round 1, are hash-checked cross-engine.
    "q92_bpe_vocab" -> { (s, d) =>
      import s.implicits._
      val merges = Stages.bpeMerges.get(s, d)
      merges.zipWithIndex
        .map { case (m, i) => ((i + 1).toLong, m.a, m.b, m.n) }
        .toDF("rn", "a", "b", "n")
        .orderBy($"rn")
    },

    // Tokenizer fertility report (the mBERT/XLM-R-era comparison
    // metric: average sub-word pieces per word, per language —
    // fertility near 1 means the vocabulary fits the language;
    // high fertility means its words shatter and the model pays
    // sequence length for it). Trains the q92 merge table, then
    // ENCODES the whole corpus with it (BpeTrainer.encode's
    // BpeApply kernel — the serving path q92's training loop
    // produces a table FOR, here oracle-gated end-to-end: the
    // DuckDB twin replays training and reads each word's piece
    // count off the final vocab state, which equals merges-in-order
    // re-application — the invariant BpeSpec pins). Scale: one
    // regex pass (the word array materializes once and feeds both
    // the word count and the encode kernel — the chunksOf PERF
    // contract), narrow per-doc arithmetic, then a 5-row lang
    // aggregate; the fertility division micro-rounds over exact
    // BIGINT sums.
    "q105_bpe_fertility" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      val merges = Stages.bpeMerges.get(s, d)
      // r20 (guide §2.3 aggregate-before-shuffle / §1.2 per-task work):
      // BPE encoding is per-word independent (encodePieces maps each
      // word through BpeApply and flattens), so the corpus piece count
      // is Σ over distinct (lang, word) of count × pieces(word). Fold
      // the pre-token stream to (lang, w, nw) first — map-side
      // combined — and run the merge-replay kernel once per TYPE
      // instead of once per occurrence (the encode kernel dominated
      // the scoring pass: 0.84 s → 0.33 s clean at sf0.1). Integer
      // sums are exact, so the per-lang totals are bit-identical.
      docs
        .select($"lang", explode(TextOps.preTokens($"text")).as("w"))
        .groupBy($"lang", $"w").agg(count(lit(1)).as("nw"))
        .select($"lang", $"nw",
          size(graft.pipeline.BpeTrainer.encodePieces(array($"w"), merges))
            .cast("long").as("np"))
        .groupBy($"lang")
        .agg(sum($"nw").as("n_words"), sum($"nw" * $"np").as("n_pieces"))
        .filter($"n_words" > 0L)
        .select($"lang", $"n_words", $"n_pieces",
          floor($"n_pieces".cast("double") / $"n_words".cast("double")
            * lit(1e6) + lit(0.5)).cast("long").as("fertility_micro"))
        .orderBy($"lang")
    },

    // Corpus snapshot diff — the release-audit report of a versioned
    // dataset (what changed between corpus v1 and v2: the Delta/
    // Iceberg table-history question answered engine-side): FULL
    // OUTER join of two snapshots on doc_id, rows classified
    // added / removed / changed / unchanged by content FINGERPRINT
    // compare (never text compare — ids join, fingerprints decide),
    // rolled up per (lang, status). The two snapshots are derived
    // in-query from the documents table with engine-portable integer
    // arithmetic (the q73/q74/q101 derive-dirty-input convention):
    // v1 drops doc_id ≡ 3 (mod 7) ("added later"), v2 drops
    // doc_id ≡ 2 (mod 5) ("removed since") and edits the text of
    // doc_id ≡ 0 (mod 11) ("changed"). Scale shape: both sides scan
    // once, fingerprint in the scan pass, co-partition on doc_id —
    // the full outer join is an AQE-splittable sort-merge; only
    // (doc_id, lang, fp) ever shuffles, and the rollup is a tiny
    // map-side-combined aggregate. This is also the pack's
    // oracle-gated FULL OUTER JOIN (the pipeline's cogroup merge
    // uses one spec-gated; q16/q17 cover except/intersect).
    // Fingerprint-width audit (the r18 q23 doctrine): this compare is
    // PER-DOC-ID equality — false-equal probability is 2^-30 per doc,
    // LINEAR in corpus size (≈1 missed change per 10^9 docs), not the
    // birthday bound that forced q23/q41/q100's keeper keys to 128
    // bits. A deployment diffing snapshots where a missed change is
    // unacceptable swaps in fingerprintHi/Lo; the narrow key is kept
    // here as the documented cheap variant.
    "q107_snapshot_diff" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"text")
      val prev = docs.filter(pmod($"doc_id", lit(7L)) =!= 3L)
        .select($"doc_id", $"lang",
          TextOps.fingerprint($"text").as("fp_a"))
      val cur = docs.filter(pmod($"doc_id", lit(5L)) =!= 2L)
        .select($"doc_id", $"lang".as("lang_b"),
          TextOps.fingerprint(
            when(pmod($"doc_id", lit(11L)) === 0L,
              concat($"text", lit(" [v2]"))).otherwise($"text")).as("fp_b"))
      prev.join(cur, Seq("doc_id"), "full_outer")
        .select(coalesce($"lang", $"lang_b").as("lang"),
          when($"fp_a".isNull, lit("added"))
            .when($"fp_b".isNull, lit("removed"))
            .when($"fp_a" === $"fp_b", lit("unchanged"))
            .otherwise(lit("changed")).as("status"))
        .groupBy($"lang", $"status").agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"status")
    },

    // Distribution drift between q107's derived snapshots (class doc
    // on [[distDrift]]): q107 reports WHICH docs changed; q116
    // reports whether the corpus DISTRIBUTION moved — the release
    // gate a training-data team actually sets thresholds on.
    "q116_dist_drift" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d).select($"doc_id", $"lang", $"text")
      val prev = docs.filter(pmod($"doc_id", lit(7L)) =!= 3L)
        .select($"lang", $"text")
      val cur = docs.filter(pmod($"doc_id", lit(5L)) =!= 2L)
        .select($"lang",
          when(pmod($"doc_id", lit(11L)) === 0L,
            concat($"text", lit(" [v2]"))).otherwise($"text").as("text"))
      distDrift(prev, cur)
    },

    // n-gram NOVELTY profile (memorization-risk report): per doc,
    // how many of its distinct NovK-grams appear in at least one
    // OTHER document — the repeated-text exposure statistic behind
    // memorization analyses (Lee et al. 2022's dedup paper measures
    // exactly this overlap class; Carlini et al. 2022 ties
    // extraction risk to training-data repetition). A doc scoring
    // low novelty is boilerplate/template mass the dedup family
    // (q23/q24/q93) should be catching — this is the AUDIT view of
    // the same signal, published next to the funnel rather than
    // acted on. Output 1:1 with the corpus (the q93 convention):
    // (doc_id, n_grams, n_shared, novelty_micro), novelty null for
    // docs too short to carry a NovK-gram.
    //
    // Scale shape: ONE shingle pass (the q24/q93/q121 kernel)
    // persisted for its two consumers; the gram document-frequency
    // is a map-side-combined groupBy and the per-doc rollup is the
    // q70/q119 JOIN-BACK device — never a window over a content-key
    // partition (a corpus-wide boilerplate gram puts every doc in
    // one partition; the hash join + AQE absorb that skew, a window
    // cannot). Everything after the scan is id/hash-width.
    "q123_ngram_novelty" -> { (s, d) =>
      ngramNovelty(Tables.documents(s, d))
    },

    // PMI collocation extraction (Church & Hanks 1990 — the corpus
    // phrase table): top bigrams per language by pointwise mutual
    // information ln(p(ab)/(p(a)p(b))) with a minimum-count floor
    // (rare pairs have unboundedly noisy PMI — the published
    // mitigation). What a curation team reads to spot templated
    // collocations and to seed tokenizer merge candidates (BPE's
    // q92 objective IS frequent-pair compression). Determinism: the
    // PMI ratio is ONE double expression with a fixed association
    // order in both engines (exact int operands cast to double, ln
    // last — the q43 libm-ulp argument), micro-rounded BEFORE the
    // rank with (w1, w2) tie order.
    //
    // Scale shape: one tokenize pass explodes to (lang, w1, w2)
    // bigram rows that map-side combine; unigram counts and the two
    // per-lang totals are the same shape; the joins move
    // token-width count rows only, and ranking is bounded-heap
    // TopKPerKey per lang. Nothing after the scan is O(corpus) but
    // the count shuffles themselves.
    "q125_pmi_bigrams" -> { (s, d) =>
      pmiBigrams(Tables.documents(s, d))
    },

    // Zipf rank-frequency slope per language (Zipf 1949; Piantadosi
    // 2014 reviews the law's use as a corpus-health diagnostic): a
    // natural corpus fits ln(freq) ≈ c + s·ln(rank) with s ≈ −1;
    // machine-generated or template-flooded text bends the tail, so
    // the fitted slope per provider/language is a cheap generation-
    // artifact screen. Least squares over the top-K terms, closed
    // form. Determinism: each rank's ln terms micro-quantize BEFORE
    // the int64 sums (order-free — the q137 quantize-then-sum
    // contract); the slope/intercept are ONE fixed-order double
    // expression over those exact integers (the q43 libm-ulp
    // argument applies to the ln calls, micro-granularity absorbs
    // the ulp).
    //
    // Scale shape: term frequencies map-side combine to token-width
    // (lang, term) rows; the top-K is bounded-heap TopKPerKey (≤ K
    // rows per lang cross the wire — skew-immune); the regression
    // aggregates O(langs·K) rows. Nothing after the scan is
    // O(corpus) but the count shuffle itself.
    "q139_zipf_slope" -> { (s, d) =>
      zipfSlope(Tables.documents(s, d))
    },

    // Lexical-diversity table per language: type/token ratio, hapax
    // and dis legomena fractions, Herdan's C = ln V / ln N (the
    // classic vocabulary-richness statistics — Herdan 1960; hapax
    // rate is the standard OCR-garbage / boilerplate-flood tell:
    // clean natural text keeps ~40-60% hapax types, template floods
    // crash it, OCR noise inflates it). Integer-exact ratios via
    // micro div; Herdan is one double expression over exact integer
    // counts. Scale shape: ONE groupBy(lang, term) count (map-side
    // combined) then an O(types)-row rollup per lang.
    "q140_lexical_diversity" -> { (s, d) =>
      lexicalDiversity(Tables.documents(s, d))
    },

    // Distinct-n diversity (Li et al. 2016's distinct-1/2/3,
    // corpus-level): unique n-grams / total n-grams per language for
    // n = 1..3 — the repetitiveness score model-output audits read
    // next to q51's within-doc repetition (this one is CROSS-doc:
    // a corpus of individually-diverse near-copies scores low).
    // Totals are closed-form off token counts (Σ max(len−n+1, 0));
    // distincts count the same shingle hashes q24/q138 dedup on —
    // deterministic, so the oracle replays them (the auditable-
    // sketch doctrine). Scale shape: TWO corpus passes total — one
    // tokenize pass emits all three totals as n-tagged rows, one
    // shingle pass explodes all three hash families into a two-phase
    // distinct count keyed by hash (the per-n-separate form scanned
    // the corpus six times) — map-side partials, no corpus-width
    // collect, no window.
    "q141_distinct_ngrams" -> { (s, d) =>
      distinctNgrams(Tables.documents(s, d))
    },

    // Term burstiness table (Church & Gale 1995: content words are
    // BURSTY — high collection frequency concentrated in few docs —
    // while function words spread evenly; cf/df is the classic
    // burstiness ratio): top bursty terms per language above a df
    // floor (df < floor makes the ratio meaningless — the q125
    // min-count mitigation). What a curation team reads to spot
    // navigation chrome and SEO keyword stuffing: pathological
    // burstiness = one template repeating a term hundreds of times
    // per page. Integer-exact: burst_micro = cf·1e6 div df.
    //
    // Scale shape: (lang, term, doc) counts map-side combine, fold
    // to (lang, term) stats, bounded-heap TopKPerKey per lang — the
    // q126 report discipline (term text shuffles only post-floor
    // count rows, never positions).
    "q142_burstiness" -> { (s, d) =>
      burstiness(Tables.documents(s, d))
    },

    // Language-label confusion matrix: the corpus's lang column vs
    // the n-gram/stopword language-ID heuristic (q26's predictor,
    // one definition) — the LABEL-NOISE audit a curation team runs
    // before trusting per-lang statistics (CCNet/OSCAR ship exactly
    // this cross-tab; a provider whose 'en' rows predict 'de' at 30%
    // is mislabeled upstream and poisons every per-lang threshold
    // derived from it, q110/q135's inputs). Integer-exact row
    // fractions. Scale shape: one codegen langId pass map-side-
    // combines to O(langs²) cells; the per-label total is a window
    // over that AGGREGATED frame (the q132 device).
    "q144_lang_confusion" -> { (s, d) =>
      langConfusion(Tables.documents(s, d))
    },

    // Doc-length tail index per source (Hill 1975 estimator over the
    // top-k order statistics): how heavy each provider's length tail
    // is — α ≈ 1–2 means a few documents dominate the token mass
    // (chunk them before shard packing or one worker inherits a
    // monster), large α means a benign tail. Complements q135: MAD
    // fences flag INDIVIDUAL outliers, the tail index says whether
    // outliers are a population. Determinism: the top-(k+1) order
    // statistics are TopKPerKey-selected under a (n_tok desc,
    // doc_id) tie order, each ln(x_i/x_ref) term micro-quantizes
    // before the integer sum, and the estimator is integer division.
    //
    // Scale shape: token counts map-side-reduce per doc, bounded-heap
    // TopKPerKey (≤ k+1 rows per source cross the wire); everything
    // after runs on O(sources·k) rows.
    "q145_length_tail" -> { (s, d) =>
      lengthTail(Tables.documents(s, d))
    },

    // Gini coefficient of token mass over documents, per language —
    // the corpus-inequality audit (a Gini near 0 = uniform docs,
    // near 1 = a few docs carry the corpus; data-governance reports
    // ship this next to the source-mixture table). Computed EXACTLY
    // from the per-lang length histogram: with ties grouped, the
    // rank-weighted mass Σᵢ i·xᵢ collapses to len·(c·F_prev +
    // c(c+1)/2) per histogram row — all integer, summed in
    // DECIMAL(38,0) (the q136 device; n·S crosses int64 at corpus
    // scale), one double expression at the end. Scale shape: ONE
    // tokenize pass map-side-combines to O(langs × distinct
    // lengths) histogram rows; the cumulative window runs over that
    // aggregated frame (q135's shape), never the corpus.
    "q146_gini_lengths" -> { (s, d) =>
      giniLengths(Tables.documents(s, d))
    },

    // Heaps'-law vocabulary-growth fit per language (Heaps 1978;
    // Herdan 1960): across a language's SOURCES, each provider is a
    // (N tokens, V types) point and natural text fits V ≈ k·N^β with
    // β ≈ 0.4–0.6 — a provider family whose fitted β collapses is
    // template-flooded (vocabulary stops growing with volume), one
    // whose β ≈ 1 is ID-like noise (every token new). The
    // cross-source fit avoids the classic within-corpus Heaps curve's
    // order dependence (cumulative V(n) depends on doc order; points
    // across sources don't). Same least-squares device as q139:
    // ln terms micro-quantize before the int64 sums, the closed form
    // is one fixed-order double expression over exact integers.
    //
    // Scale shape: one groupBy(lang, source, term) count (map-side
    // combined, token-width keys), fold to O(langs·sources) points,
    // regression over that tiny frame. Nothing after the scan is
    // O(corpus) but the count shuffle.
    "q149_heaps_fit" -> { (s, d) =>
      heapsFit(Tables.documents(s, d))
    },

    // Z-order (Morton) layout keys: interleave the bits of two
    // dimension buckets so range scans on EITHER dimension touch few
    // z-ranges — the data-layout move behind multi-dimensional file
    // skipping (Delta/Iceberg OPTIMIZE ZORDER; a plain sort gives
    // min/max locality on one leading column only). The query
    // computes z = interleave(custkey bucket, day bucket) over
    // orders, groups into z-range "files", and reports each file's
    // per-dimension min/max span — the bounded spans ARE the
    // file-skipping stats a scan would prune on. Pure int
    // arithmetic: bit-identical in any engine; at scale this is
    // `repartitionByRange(z).sortWithinPartitions(z)` before the
    // parquet write.
    "q80_zorder_layout" -> { (s, d) =>
      import s.implicits._
      val x = (pmod($"o_custkey", lit(256L))).as("x")
      val y = (pmod(datediff(to_date($"o_orderdate"), to_date(lit("1970-01-01")))
        .cast("long"), lit(256L))).as("y")
      val z = (0 until 8).map { b =>
        shiftleft(shiftright($"x", b).bitwiseAND(lit(1L)), 2 * b) +
          shiftleft(shiftright($"y", b).bitwiseAND(lit(1L)), 2 * b + 1)
      }.reduce(_ + _)
      Tables.orders(s, d)
        .select(x, y)
        .select($"x", $"y", z.as("z"))
        .groupBy(shiftright($"z", 10).as("zfile"))
        .agg(count(lit(1)).as("n"),
          min($"x").as("x_min"), max($"x").as("x_max"),
          min($"y").as("y_min"), max($"y").as("y_max"))
        .orderBy($"zfile")
    },

    // Simple Good–Turing unseen-mass estimate per language (Good
    // 1953; Gale & Sampson 1995): the hapax fraction N₁/N estimates
    // the probability mass of UNSEEN vocabulary — how much of the
    // language the corpus still misses, the coverage number a
    // tokenizer/vocab decision reads next to q140's richness ratios
    // — plus the Good–Turing discounted counts r* = (r+1)·N_{r+1}/N_r
    // for r = 1..3 (the smoothing every count-based LM applies to
    // its rare rows). All-integer micro divisions over exact
    // frequency-of-frequency counts. Scale shape: ONE groupBy(lang,
    // term) count (map-side combined), then an O(types)-row rollup.
    "q152_good_turing" -> { (s, d) =>
      goodTuring(Tables.documents(s, d))
    },

    // Per-source unigram KL drift against the whole corpus
    // (Kullback & Leibler 1951; Moore & Lewis 2010 use exactly this
    // cross-entropy difference for domain data selection): KL(P_s ‖
    // P_corpus) per provider — the drift score that flags a feed
    // whose language shifted from the blend it is mixed into.
    // Per-term contributions micro-quantize before the int64 sum.
    // Scale shape: (source, term) counts map-side combine; the
    // corpus table derives from the SAME frame (no second corpus
    // pass); joins move token-width count rows; the 1-row total
    // broadcasts (intendedBnlj).
    "q153_source_kl" -> { (s, d) =>
      sourceKl(Tables.documents(s, d))
    },

    // Bigram entropy rate per language (Shannon 1951's estimate of
    // the entropy of printed English; Brown et al. 1992 the corpus
    // formulation): unigram entropy H₁, adjacent-pair entropy H₂,
    // and the conditional rate H₂ − H₁ = H(wᵢ | wᵢ₋₁) — the
    // predictability number that separates natural prose (~2-4
    // nats) from template floods (→ 0) and shuffled/garbage text
    // (→ H₁). Scale shape: two map-side-combined count passes over
    // the same tokenize (unigrams, in-doc adjacent pairs), then
    // O(types)-row quantize-then-sum rollups; the per-lang totals
    // join keyed on lang.
    "q154_entropy_rate" -> { (s, d) =>
      entropyRate(Tables.documents(s, d))
    },

    // Token-mass concentration over providers and languages
    // (Simpson 1949's index; 1/Σs² is the Herfindahl–Hirschman
    // effective-group count): how many EFFECTIVE sources/languages
    // the corpus really has once token mass is weighed — the
    // one-glance number behind q136's allocation table (a corpus
    // that is 90% one provider has eff ≈ 1.2 no matter how many
    // provider names it lists). Scale shape: one token-count pass,
    // two O(groups) rollups, share squares micro-quantize-then-sum.
    "q155_concentration" -> { (s, d) =>
      concentration(Tables.documents(s, d))
    },

    // Per-source length-distribution drift against the corpus blend:
    // the exact 1-D Wasserstein-1 distance (Kantorovich 1942;
    // Vaserstein 1969; the CDF-difference form is Ramdas, García
    // Trillos & Cuturi 2017 eq. 2: W₁ = ∫|F_s − F_c| dx) plus the
    // Kolmogorov–Smirnov statistic max|F_s − F_c| (Kolmogorov 1933) —
    // the two standard drift numbers over the SAME cumulative frame.
    // KL (q153) is over the term axis and blows up on
    // disjoint support; W₁ over doc length is finite, in token
    // units, and is the "this feed's documents got shorter" alarm a
    // mixture owner reads next to q145's tail index. Exactness: CDF
    // differences cross-multiply as DECIMAL(38,0) integers (q146's
    // device — |cum_s·n_c − cum_c·n_s|, never a rounded division),
    // step-width weighted, summed exactly, ONE double conversion at
    // the end. Scale shape: one token-count pass collapses to an
    // O(sources × distinct-lengths) histogram (map-side combined);
    // the source×support spine, cumulative windows (partitioned by
    // source ABOVE the aggregate — the PlanAudit invariant) and the
    // final rollup all run over that aggregated frame; the tiny
    // source-totals side broadcasts (intendedBnlj).
    "q159_length_drift" -> { (s, d) =>
      lengthDrift(Tables.documents(s, d))
    },

    // Dispersion of the corpus's top terms across sources (Gries
    // 2008's DP, "deviation of proportions"; Lijffijt & Gries 2012:
    // DP = ½ Σᵢ |vᵢ − sᵢ| with sᵢ = source i's share of corpus
    // tokens, vᵢ = the term's share of its occurrences in source i):
    // a high-frequency term with DP → 1 lives in ONE provider —
    // boilerplate or domain jargon — while DP → 0 is a true
    // function word; the cross-SOURCE complement of q142's
    // within-document burstiness, and the review table that says
    // WHICH provider q126's boilerplate n-grams come from.
    // Exactness: per-source deviations cross-multiply as
    // DECIMAL(38,0) integers (|c_ti·N − nᵢ·c_t|), sum exactly, one
    // double conversion at the end. Scale shape: ONE (source, term)
    // count pass (map-side combined); top-K terms come off the
    // O(types) rollup; the K×sources spine joins back token-width
    // count rows; 1-row corpus total broadcasts (intendedBnlj).
    "q160_term_dispersion" -> { (s, d) =>
      termDispersion(Tables.documents(s, d))
    },

    // Code-switching / language-mixing report per source (Gambäck &
    // Das 2016's code-mixing index CMI = 1 − max_lang/n over units;
    // Gullifer & Titone 2020's language entropy H = −Σ p ln p over
    // the same label distribution): sentence-level langId over each
    // document, then per-doc mixing scores rolled up per provider —
    // the ingest-hygiene view that separates a feed of genuinely
    // multilingual documents (high entropy WITHIN docs — splits and
    // lang quotas q38/q39 mislabel them) from a feed that merely
    // concatenates monolingual docs. A doc counts mixed when its
    // sentences carry ≥ 2 distinct labels ('und' counts — an
    // unidentifiable sentence inside an 'en' doc IS a mixing signal
    // at curation time). Docs with zero sentences carry no label
    // evidence and are out of scope (documented, like q26's
    // token-less rows). Exactness: per-(doc, lang) −p·ln p terms
    // micro-quantize before the int64 sums (the q154 device); the
    // source rollup is integer division. Scale shape: one
    // sentence-explode pass (O(corpus sentences)), codegen langId,
    // counts map-side combine to O(docs × langs-per-doc) rows; all
    // joins are keyed on doc_id — never a low-cardinality window.
    "q161_code_switch" -> { (s, d) =>
      codeSwitch(Tables.documents(s, d))
    },

    // Vocabulary-richness estimators per language (Chao 1984's
    // bias-corrected Chao1, V + N₁(N₁−1)/(2(N₂+1)), and Burnham &
    // Overton 1978's first-order jackknife V + N₁): how many types
    // the language HAS, where q152's Good–Turing says how much
    // probability mass the unseen ones carry — together they answer
    // "is this corpus slice big enough to train a tokenizer for
    // lang X, and how far is its vocabulary from saturating" (the
    // forward-looking complement of q149's Heaps backfit). Exactness:
    // all-integer off the exact frequency spectrum; the Chao1
    // correction multiplies as DECIMAL(38,0) under an integral
    // division. Scale shape: the SAME one map-side-combined (lang,
    // term) count pass as q152, then an O(types) rollup — and the
    // statistic is additive, so CorpusStatsMaintenance serves it
    // incrementally off its term-count store.
    "q162_chao_richness" -> { (s, d) =>
      chaoRichness(Tables.documents(s, d))
    },

    // Chance-corrected label agreement (Cohen 1960's κ; Artstein &
    // Poesio 2008 for the computational-linguistics framing): the
    // supplied `lang` labels vs the engine's langId, as per-class
    // one-vs-rest binary κ — the chance-corrected score q144's raw
    // confusion fractions DON'T give (a 95%-majority class scores
    // 95% raw agreement by always guessing it; κ scores that 0).
    // This is the number that says whether provider labels are
    // trustworthy enough to drive q38/q39's splits and quotas.
    // κ < 0 (worse than chance) is reported with its sign. Degenerate
    // single-class frames (pₑ = 1) report 0 — documented, guarded.
    // Exactness: pₒ/pₑ/κ are exact rationals cross-multiplied in
    // DECIMAL(38,0) (n² crosses int64 past ~3 billion docs); the
    // sign splits off so the integral division runs on nonnegative
    // operands (truncation ≡ floor in both engines — negative `div`
    // truncates toward zero in Spark but floors in DuckDB, so signed
    // division NEVER crosses the gate). Scale shape: one codegen
    // langId pass collapses to the O(langs²) confusion; everything
    // after is O(classes) rows; the 1-row total broadcasts
    // (intendedBnlj).
    "q165_label_agreement" -> { (s, d) =>
      labelAgreement(Tables.documents(s, d))
    },

    // Interpolated Kneser–Ney bigram cross-entropy on the held-out
    // half (class doc on [[knCrossEntropy]]): the canonical count-LM
    // smoother (Kneser & Ney 1995; Chen & Goodman 1998's definitive
    // comparison crowned it) next to q102's Stupid Backoff — KN's
    // continuation probability asks "how many CONTEXTS does this
    // word complete", which is exactly what separates genuinely
    // productive vocabulary from boilerplate tokens that are
    // frequent in one template only. The per-lang held-out table is
    // the sparsity/coverage gauge a mixture owner reads next to
    // q154's entropy rate before trusting per-lang LM-based filters
    // (q110/q120) on a thin slice.
    "q168_kn_xent" -> { (s, d) =>
      import s.implicits._
      knCrossEntropy(Tables.documents(s, d), pmod($"doc_id", lit(2L)) === 0)
    },

    // TextTiling topic segmentation (Hearst 1997, "TextTiling:
    // Segmenting Text into Multi-paragraph Subtopic Passages") — the
    // DISCOURSE-structure member of the text-analysis family: q26
    // says what a document is made of, q161 what languages it
    // mixes; this says where its subject CHANGES. Lexical cohesion
    // between adjacent fixed-width token blocks (multiset overlap —
    // exact integers, where Hearst's cosine would drag doubles
    // through the gate for no analytical gain at constant block
    // width), then a boundary fires at every gap that is a STRICT
    // local cohesion minimum sitting strictly below the document's
    // mean gap cohesion (integer cross-multiply — no division).
    // Output: one row per detected boundary with its token offset
    // and the cohesion evidence; single-block and uniformly-cohesive
    // documents emit nothing (documented, like q26's zero-evidence
    // note). Long-doc chunkers (q21/q56) cut at arbitrary 512-token
    // walls; these boundaries are where a topic-aware chunker WOULD
    // cut — the retrieval-quality upgrade RAG pipelines buy.
    //
    // Scale shape: one tokenize/posexplode pass map-side-combines to
    // (doc, block, token) counts; gap cohesion is ONE self-
    // equi-join keyed (doc_id, gap, token) between a block and its
    // successor (never all block pairs); the gap spine explodes off
    // the O(docs) block-count rollup; the minimum/mean windows
    // partition by doc_id — bounded rows per partition, corpus-
    // cardinality keys (the audited low-cardinality-window hazard
    // does not apply).
    "q175_text_tiling" -> { (s, d) =>
      import s.implicits._
      textTiling(Tables.documents(s, d).select($"doc_id", $"text"))
    },

    // Leave-one-source-out novelty (the cross-validation member of
    // the data-valuation family — Ghorbani & Zou 2019's Data Shapley
    // asks this with models; the unigram-LM version is closed-form):
    // score each provider's OWN tokens under the LM trained on
    // EVERYONE ELSE (add-one smoothed over the corpus vocabulary).
    // High held-out cross-entropy = the source contributes text the
    // rest of the corpus cannot predict (novel — or garbage, which
    // q134/q110's quality gates disambiguate); low = redundant with
    // what other providers already deliver. The complement of q153
    // (KL of source vs corpus INCLUDING itself — a big source looks
    // like the corpus by construction; LOO removes that self-mass)
    // and of q128 (near-dup redundancy sees only verbatim copies;
    // this sees distributional redundancy). n_unique_terms (terms NO
    // other source has) rides as the vocabulary-exclusivity
    // diagnostic. Determinism: per-(source, term) contributions
    // micro-quantize before the int64 sum (q151's device; ln's ulp
    // absorbed by the rounding, q151's argument); the per-token mean
    // is one integral floor division.
    //
    // Scale shape: ONE tokenize pass map-side-combines to the
    // (source, term) count table; cw is its O(types) rollup joined
    // back BY KEY (token-width rows, no broadcast assumption on the
    // vocabulary); the O(sources) totals and the 1-row (N, V) frame
    // broadcast (intendedBnlj). Everything is the q151/q153 shape —
    // with the count pass served from the `Stages.sourceTermCounts`
    // parquet memo (one build per (session, dir) shared with q179;
    // the per-call cache scoping stays for the spec-hook/export
    // paths that take arbitrary frames).
    "q177_loo_novelty" -> { (s, d) =>
      looNoveltyFromCounts(Stages.sourceTermCounts.get(s, d))
    },

    // Burrows' Delta stylometric fingerprint per source (Burrows
    // 2002, "'Delta': a Measure of Stylistic Difference"; Evert et
    // al. 2017's DH evaluation): z-standardize each provider's
    // relative frequency of the corpus's F most frequent terms —
    // the function-word profile authorship attribution runs on —
    // and report each source's mean |z| plus its single most
    // deviant marker. The PROVENANCE-forensics member of the
    // source-mixture family: q153's full-vocab KL says a source's
    // topics differ, Delta says its GRAMMAR does — the signal that
    // separates machine-generated/spam/template feeds (function-word
    // profiles collapse) and spoofed provenance (two "different"
    // providers with identical profiles) from honest topical
    // variation. reference `run.py`-style per-source reports are the
    // surface this extends (SURVEY §2 family).
    //
    // Exactness: relative frequencies micro-quantize per (source,
    // marker) BEFORE the cross-source integer sums; μ and σ come off
    // exact int64 (Σf, Σf²) in fixed-order double arithmetic (sqrt
    // is correctly-rounded IEEE in both engines — the q163 device);
    // |z| micro-quantizes before the per-source sum; zero-variance
    // markers (single source, or all sources at one rate) score 0 by
    // the shared guard. Range audit (r17 doctrine): no hash at all.
    //
    // Scale shape: the SAME (source, term) count pass as q151/q153/
    // q177 (map-side combined — and served incrementally off the
    // CorpusStatsMaintenance store); markers are a bounded
    // TakeOrdered top-F off the O(types) rollup; the O(sources × F)
    // spine LEFT-joins the count table BY KEY; everything after runs
    // on O(sources × F) rows. Count pass served from the shared
    // `Stages.sourceTermCounts` memo (the q177 note).
    "q179_stylometry" -> { (s, d) =>
      stylometryFromCounts(Stages.sourceTermCounts.get(s, d))
    }
  )

  /** The q177 chain over any (source, text) frame (spec hook:
    * planted two-source corpus with hand-computed smoothed LOO
    * probabilities — CorpusStatSpec). The count-table persist is
    * SCOPED: the O(sources)-row result
    * materializes eagerly (localCheckpoint — final table, nothing
    * joins it, so the q147 stats concern does not apply) and the
    * cache releases in finally — a long-lived session invoking this
    * per audit export no longer accretes one pinned dataset per call. */
  private[graft] def looNovelty(docs: DataFrame): DataFrame = {
    val tf = sourceTermCounts(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // re-sorted after the checkpoint: the materialized rows keep
    // their order, but the RETURNED plan must still end in a visible
    // Sort (the PlanAuditSpec total-order contract) — O(sources) rows
    try looNoveltyFromCounts(tf).localCheckpoint().orderBy(col("source"))
    finally tf.unpersist()
  }

  /** q177 over the pre-aggregated (source, w, csw) count table. */
  private[graft] def looNoveltyFromCounts(tf0: DataFrame): DataFrame = {
    val spark = tf0.sparkSession
    import spark.implicits._
    val tf = tf0.select($"source", $"w", $"csw".as("tf"))
    val cw = tf.groupBy($"w").agg(sum($"tf").as("cw"))
    val ns = tf.groupBy($"source")
      .agg(sum($"tf").as("n_s"), count(lit(1)).as("n_terms"))
    val tot = cw.agg(sum($"cw").as("n"), count(lit(1)).as("v"))
    tf.join(cw, Seq("w"))
      .join(broadcast(ns), Seq("source"))
      .crossJoin(broadcast(tot))
      .withColumn("tterm", floor(-$"tf".cast("double")
        * log(($"cw" - $"tf" + lit(1L)).cast("double")
          / ($"n" - $"n_s" + $"v").cast("double"))
        * lit(1e6) + lit(0.5)).cast("long"))
      .withColumn("uniq", when($"cw" === $"tf", 1L).otherwise(0L))
      .groupBy($"source", $"n_s", $"n_terms")
      .agg(sum($"uniq").as("n_unique_terms"), sum($"tterm").as("st"))
      .select($"source", $"n_s".as("n_tokens"), $"n_terms",
        $"n_unique_terms",
        floor($"st".cast("double") / $"n_s".cast("double") + lit(0.5))
          .cast("long").as("xent_loo_micro"))
      .orderBy($"source")
  }

  /** q179: marker-word count F — Burrows used the 150 most frequent
    * words of a novel corpus; 32 fits the testdata's vocabulary while
    * keeping the marker set dominated by true function words. */
  private[graft] val DeltaMarkers = 32

  /** The q179 chain over any (source, text) frame (spec hook:
    * planted three-source corpus with hand-computed z-scores —
    * CorpusStatSpec). Scoped persist + eager O(sources)-row result:
    * the [[looNovelty]] lifecycle note. */
  private[graft] def stylometry(docs: DataFrame): DataFrame = {
    val tf = sourceTermCounts(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try stylometryFromCounts(tf).localCheckpoint().orderBy(col("source"))
    finally tf.unpersist()
  }

  /** q179 over the pre-aggregated (source, w, csw) count table (the
    * source-term store's fifth consumer).
    *
    * Plan shape (r19 — the memo recovery exposed the consumer as
    * pure stage overhead at gate scale: 16 exchanges + one SMJ for a
    * 640-row result): after the two token-width rollups (markers
    * TakeOrdered, ns), EVERYTHING is O(sources × F ≤ 32) or smaller
    * and rides explicit broadcast joins — the moments need no
    * zero-spine (an absent (source, marker) pair contributes exactly
    * 0 to Σf and Σf², and its divisor is the TOTAL source count, a
    * 1-row broadcast), the spine materializes once for the z rows,
    * and the rank-1 window is a min_by((−zq, w)) aggregate riding
    * the final per-source groupBy (same values, same tie-break, one
    * fewer sort — the PlanAuditSpec no-window doctrine). */
  private[graft] def stylometryFromCounts(tf: DataFrame): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    // markers: bounded top-F off the O(types) rollup (TakeOrdered)
    val markers = tf.groupBy($"w").agg(sum($"csw").as("ct"))
      .orderBy($"ct".desc, $"w").limit(DeltaMarkers)
      .select($"w")
    val ns = tf.groupBy($"source").agg(sum($"csw").as("n_s"))
    val nSources = ns.agg(count(lit(1)).as("sc"))
    // restrict the token-width count table to the F markers FIRST
    // (broadcast semi-filter): O(sources × F) present pairs with
    // their micro relative frequency — the only rows that carry mass
    val fqp = tf.join(broadcast(markers), Seq("w"))
      .join(broadcast(ns), Seq("source"))
      .select($"source", $"w",
        floor($"csw".cast("double") / $"n_s".cast("double") * lit(1e6)
          + lit(0.5)).cast("long").as("fq"))
    // cross-source moments off exact int64 sums, present pairs only:
    // absent pairs are exact zeros in Σf and Σf², and every marker's
    // divisor is the total source count (1-row broadcast) — the
    // zero-spine the moments used to join is algebraically free
    val stats = fqp.groupBy($"w")
      .agg(sum($"fq").as("sf"), sum($"fq" * $"fq").as("sf2"))
      .crossJoin(broadcast(nSources))
    val mu = $"sf".cast("double") / $"sc".cast("double")
    val varr = $"sf2".cast("double") / $"sc".cast("double") - mu * mu
    val zq = when(varr <= 0.0, lit(0L)).otherwise(
      floor(abs(($"fq".cast("double") - mu) / sqrt(varr)) * lit(1e6)
        + lit(0.5)).cast("long"))
    // O(sources × F) spine (zero-count markers still score |0−μ|/σ),
    // z in the same pass — every join side here is bounded (markers
    // ≤ F, fqp ≤ sources × F, stats ≤ F rows) and broadcast
    val z = ns.crossJoin(broadcast(markers))
      .join(broadcast(fqp), Seq("source", "w"), "left")
      .select($"source", $"n_s", $"w", coalesce($"fq", lit(0L)).as("fq"))
      .join(broadcast(stats), Seq("w"))
      .select($"source", $"n_s", $"w", zq.as("zq"))
    // top deviating marker = min over (−zq, w): highest z, ties to
    // the lexicographically smaller marker — the rank-1 window's
    // exact rule as ONE deterministic aggregate
    z.groupBy($"source", $"n_s")
      .agg(floor(sum($"zq").cast("double") / count(lit(1)).cast("double")
          + lit(0.5)).cast("long").as("delta_micro"),
        min_by(struct($"w", $"zq"), struct(negate($"zq"), $"w")).as("top"))
      .select($"source", $"n_s".as("n_tokens"), $"delta_micro",
        $"top.w".as("top_term"), $"top.zq".as("top_z_micro"))
      .orderBy($"source")
  }

  /** q175: tokens per cohesion block (Hearst's w — her 20-token
    * pseudosentences at the testdata's 10–99-token documents would
    * leave most docs a single block; 10 keeps 1–10 blocks per doc
    * and the same arithmetic at any width). */
  private val TileBlock = 10

  /** The q175 chain over any (doc_id, text) frame (spec hook:
    * planted two-topic and uniform documents with hand-computed
    * overlaps — CorpusStatSpec). */
  private[graft] def textTiling(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val cnt = docs
      .select($"doc_id", posexplode(TextOps.tokens($"text")).as(Seq("pos", "tok")))
      .select($"doc_id", ($"pos".cast("long") / lit(TileBlock)).cast("long").as("blk"),
        $"tok")
      .groupBy($"doc_id", $"blk", $"tok").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nblk = cnt.groupBy($"doc_id").agg((max($"blk") + 1L).as("n_blocks"))
    // multiset overlap at gap g = Σ_tok min(count in block g, block g+1).
    // r20 (guide §2.3/§2.4, the d6cc19e grouped-pass device): was a
    // (doc_id, g, tok)-keyed SELF-JOIN of cnt against its blk−1 shift
    // — token-width rows moved twice (broadcast of the whole count
    // table at test SFs, a corpus-width broadcast that cannot exist
    // at scale; double-shuffled SMJ once it tips). ONE
    // groupBy(doc_id, tok) pass now collects each token's sorted
    // (blk, c) run — bounded by the doc's own block count — and
    // emits min(c_g, c_{g+1}) for each adjacent pair present on both
    // sides, exactly the rows the inner join produced (absent pairs
    // were dropped there, never emitted here). Same multiset reaches
    // the (doc_id, g) sum — integer-exact, oracle-pinned.
    val sim = cnt.groupBy($"doc_id", $"tok")
      .agg(sort_array(collect_list(struct($"blk", $"c"))).as("bs"))
      .select($"doc_id", explode(filter(
        zip_with(
          slice($"bs", lit(1), size($"bs") - 1),
          slice($"bs", lit(2), size($"bs") - 1),
          (a, b) => when(b.getField("blk") === a.getField("blk") + 1L,
            struct(a.getField("blk").as("g"),
              least(a.getField("c"), b.getField("c")).as("m")))),
        x => x.isNotNull)).as("gm"))
      .select($"doc_id", $"gm.g".as("g"), $"gm.m".as("m"))
      .groupBy($"doc_id", $"g").agg(sum($"m").as("overlap"))
    // full gap spine — zero-overlap gaps (total topic shifts) must
    // exist as rows, not vanish from the join
    val spine = nblk.filter($"n_blocks" >= 2L)
      .select($"doc_id", $"n_blocks",
        explode(sequence(lit(0L), $"n_blocks" - 2L)).as("g"))
    val gaps = spine.join(sim, Seq("doc_id", "g"), "left")
      .select($"doc_id", $"n_blocks", $"g",
        coalesce($"overlap", lit(0L)).as("overlap"))
    val w = Window.partitionBy($"doc_id").orderBy($"g")
    val doc = Window.partitionBy($"doc_id")
    gaps
      .withColumn("prv", lag($"overlap", 1).over(w))
      .withColumn("nxt", lead($"overlap", 1).over(w))
      .withColumn("n_gaps", count(lit(1)).over(doc))
      .withColumn("tot", sum($"overlap").over(doc))
      // strict local minimum (missing neighbor = edge, counts as
      // higher) AND strictly below the doc mean: overlap·n < Σ
      .filter(($"prv".isNull || $"overlap" < $"prv") &&
        ($"nxt".isNull || $"overlap" < $"nxt") &&
        $"overlap" * $"n_gaps" < $"tot")
      .select($"doc_id", $"n_blocks", $"g".as("gap"),
        (($"g" + 1L) * TileBlock).as("token_offset"),
        $"overlap", coalesce($"prv", lit(-1L)).as("prev_overlap"),
        coalesce($"nxt", lit(-1L)).as("next_overlap"))
      .orderBy($"doc_id", $"gap")
  }

  /** The q133 chain over any (source, doc_id, text) frame (spec
    * hook: planted token counts with closed-form shard boundaries —
    * LmSpec, including multi-bucket ≡ single-window equality). The
    * running sum is PrefixSum.exclusive's two-phase scan, NOT a
    * single `Window.partitionBy(source)` — a production corpus is
    * dominated by one provider, whose billions of rows would
    * otherwise prefix-sum serially in one task (see PrefixSum's
    * scaladoc for the shape).
    * Same integers: the oracle SQL stays the plain-window semantic
    * definition. */
  private[graft] def tokenPacking(docs: DataFrame,
      bucketWidth: Long = graft.ops.PrefixSum.DefaultBucketWidth): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counted = docs
      .select($"source", $"doc_id",
        TextOps.tokenCount($"text").cast("long").as("n_tok"))
    graft.ops.PrefixSum.exclusive(counted,
        "source", "doc_id", "n_tok", "off", bucketWidth)
      .select($"source", $"doc_id", $"n_tok",
        floor($"off".cast("double") / lit(PackTokens.toDouble)).as("shard"))
      .groupBy($"source", $"shard")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"source", $"shard")
  }

  /** q125: minimum bigram count (PMI noise floor) and per-lang
    * report size. */
  private val PmiMinCount = 5
  private val PmiTopK = 5

  /** The q125 chain over any (lang, text) frame (spec hook: planted
    * collocation corpus — LmSpec). See the q125 entry comment. */
  private[graft] def pmiBigrams(docs: DataFrame): DataFrame =
    { val (uni, bi) = uniBiCounts(docs); pmiFromCounts(uni, bi) }

  /** Per-(lang, term) occurrence counts — the additive sufficient
    * statistic behind q139/q140/q152/q154/q162/q125 and the
    * [[graft.pipeline.CorpusStatsMaintenance]] term store (counts sum
    * across disjoint deliveries, so the store absorbs batches and the
    * FromCounts derivations serve without a corpus re-scan). */
  /** The shared tokenized projection behind every count statistic:
    * (source, lang, toks). Chains that need several statistics off
    * one corpus/batch pass persist THIS frame and feed the FromToks
    * derivations below ([[uniBiCounts]],
    * [[graft.pipeline.CorpusStatsMaintenance]]'s absorb). */
  private[graft] def tokenized(docs: DataFrame): DataFrame = {
    def opt(c: String) =
      if (docs.columns.contains(c)) col(c) else lit(null).cast("string")
    docs.select(opt("source").as("source"), opt("lang").as("lang"),
      TextOps.tokens(col("text")).as("toks"))
  }

  private[graft] def unigramCountsFromToks(tk: DataFrame): DataFrame =
    tk.select(col("lang"), explode(col("toks")).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))

  /** Fused batch form (the sourceTermCounts generator-inlining
    * note; FromToks is for persisted-frame consumers only). */
  private[graft] def unigramCounts(docs: DataFrame): DataFrame =
    docs.select(col("lang"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("lang"), col("w")).agg(count(lit(1)).as("c"))

  /** Per-(lang, adjacent-pair) RAW counts — the second additive
    * sufficient statistic ([[CorpusStatsMaintenance]]'s bigram store;
    * q154's H₂ and q125's PMI are both pure functions of it). RAW is
    * load-bearing: the table's per-lang sum IS the total bigram mass
    * Σ_docs(len−1), so consumers reconstruct their normalizers from
    * the table alone — a count-floored table would lose the mass of
    * the rare pairs and the PMI denominator with it. Adjacent pairs
    * zip the token array with its own tail — one narrow map, no
    * positional explode-then-self-join. */
  private[graft] def bigramCountsFromToks(tk: DataFrame): DataFrame =
    tk.filter(size(col("toks")) >= 2)
      .select(col("lang"), explode(zip_with(
        slice(col("toks"), lit(1), size(col("toks")) - 1),
        slice(col("toks"), lit(2), size(col("toks")) - 1),
        (a, b) => struct(a.as("w1"), b.as("w2")))).as("p"))
      .groupBy(col("lang"), col("p.w1"), col("p.w2"))
      .agg(count(lit(1)).as("c"))

  private[graft] def bigramCounts(docs: DataFrame): DataFrame =
    bigramCountsFromToks(tokenized(docs))

  /** Both count statistics off ONE tokenize AND one aggregation pass
    * (r20, guide §2.3/§2.4 — the r19 form persisted the corpus-width
    * token frame and then ran SEPARATE explode+aggregate passes over
    * it for every uni/bi reference: q125's chain re-aggregated the
    * cached tokens 3×, q154's 4×, plans/r20/q*_before.txt). One
    * explode emits each token occurrence as (w1, null) and each
    * adjacent pair as (w1, w2); ONE map-side-combined hash aggregate
    * groups both families through a single exchange, and the
    * persisted result is the O(types + pair types) count table — the
    * sufficient statistic, not the corpus — which every downstream
    * reference filters for free. Unigram rows are exactly the w2-null
    * group (tokens are never null, so no bigram can collide into it);
    * counts are bit-identical to the two-pass form because the same
    * multiset of rows reaches each grouping key.
    * Skew note (§2.2/§2.5): a hot token ("the") is collapsed by the
    * partial aggregate to ≤ one row per map task per key before the
    * exchange — measured at sf0.1: top-token share 4.9 % of
    * occurrences but post-combine every key ships ≤ #map-task rows;
    * no salt needed (receipt in OPTIMIZATION_r20.md). */
  private[graft] def uniBiCounts(docs: DataFrame): (DataFrame, DataFrame) = {
    val tk = tokenized(docs)
    val fused = tk
      .select(col("lang"), explode(concat(
        transform(col("toks"),
          w => struct(w.as("w1"), lit(null).cast("string").as("w2"))),
        zip_with(
          slice(col("toks"), lit(1), size(col("toks")) - 1),
          slice(col("toks"), lit(2), size(col("toks")) - 1),
          (a, b) => struct(a.as("w1"), b.as("w2"))))).as("p"))
      .groupBy(col("lang"), col("p.w1"), col("p.w2"))
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    (fused.filter(col("w2").isNull)
        .select(col("lang"), col("w1").as("w"), col("c")),
      fused.filter(col("w2").isNotNull))
  }

  /** q125 over the pre-aggregated sufficient statistics (the
    * goodTuringFromCounts sharing convention): `uni` = (lang, w, c),
    * `bi` = RAW (lang, w1, w2, c). The PMI noise floor applies to the
    * MERGED counts (a pair seen 3+3 times across two deliveries is a
    * ≥5 pair), which is why the store keeps raw counts. */
  private[graft] def pmiFromCounts(uni0: DataFrame, biRaw: DataFrame): DataFrame = {
    val spark = uni0.sparkSession
    import spark.implicits._
    val bi = biRaw.withColumnRenamed("c", "n_ab")
      .filter($"n_ab" >= PmiMinCount)
    val uni = uni0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val totals = uni.groupBy($"lang").agg(sum($"c").as("n_uni"))
    // total bigram mass per lang = the raw table's per-lang sum
    // (= Σ_docs (len−1) over the >1-token docs — p(ab) must be a
    // probability over ALL bigram occurrences, not just the ≥5 ones)
    val nbi = biRaw.groupBy($"lang").agg(sum($"c").as("n_bi"))
    val scored = bi
      .join(uni.select($"lang", $"w".as("w1"), $"c".as("c_a")), Seq("lang", "w1"))
      .join(uni.select($"lang", $"w".as("w2"), $"c".as("c_b")), Seq("lang", "w2"))
      .join(broadcast(totals), Seq("lang"))
      .join(broadcast(nbi), Seq("lang"))
      .select($"lang", $"w1", $"w2", $"n_ab",
        floor(log(($"n_ab".cast("double") * $"n_uni".cast("double") *
          $"n_uni".cast("double")) /
          ($"n_bi".cast("double") * $"c_a".cast("double") *
            $"c_b".cast("double"))) * lit(1e6) + lit(0.5))
          .cast("bigint").as("pmi_micro"))
    graft.plans.TopK.perKey(scored, Seq("lang"),
      Seq("pmi_micro" -> false, "w1" -> true, "w2" -> true), PmiTopK,
      rankCol = "rn")
      .select($"lang", $"w1", $"w2", $"n_ab", $"pmi_micro",
        $"rn".cast("bigint").as("rn"))
      .orderBy($"lang", $"rn")
  }

  /** q139 fit width: top-100 ranks per lang. The published fits use
    * the head of the distribution (the tail needs the Zipf-Mandelbrot
    * correction); 100 ranks is deep enough for a stable slope and
    * shallow enough that ties stay rare. */
  private val ZipfTopK = 100

  /** The q139 chain over any (lang, text) frame (spec hook: planted
    * exact power-law frequencies recover slope −1 — CorpusStatSpec). */
  private[graft] def zipfSlope(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    zipfSlopeFromCounts(docs
      .select($"lang", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("freq")))
  }

  /** q139 over a pre-aggregated (lang, w, freq) term-count frame —
    * the shared derivation [[graft.pipeline.CorpusStatsMaintenance]]
    * serves from its incremental store, so the served statistic and
    * the gated query cannot diverge. */
  private[graft] def zipfSlopeFromCounts(tf: DataFrame): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val top = graft.plans.TopK.perKey(tf, Seq("lang"),
      Seq("freq" -> false, "w" -> true), ZipfTopK, rankCol = "rn")
    val lx = log($"rn".cast("double"))
    val ly = log($"freq".cast("double"))
    def micro(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("bigint")
    val g = top
      .select($"lang", micro(lx).as("x"), micro(ly).as("y"),
        micro(lx * ly).as("xy"), micro(lx * lx).as("xx"))
      .groupBy($"lang").agg(count(lit(1)).as("n_terms"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"xy").as("sxy"), sum($"xx").as("sxx"))
    // ONE fixed-order double expression over the exact integer sums
    // — identical text in the oracle
    val kd = $"n_terms".cast("double")
    def d(c: Column) = c.cast("double") / lit(1e6)
    val den = kd * d($"sxx") - d($"sx") * d($"sx")
    val slope = (kd * d($"sxy") - d($"sx") * d($"sy")) / den
    g.select($"lang", $"n_terms",
        when(den =!= 0.0, micro(slope)).otherwise(lit(0L)).as("slope_micro"),
        when(den =!= 0.0, micro((d($"sy") - slope * d($"sx")) / kd))
          .otherwise(lit(0L)).as("icept_micro"))
      .orderBy($"lang")
  }

  /** The q140 chain over any (lang, text) frame (spec hook: planted
    * counts with hand-computed ratios — CorpusStatSpec). Token-less
    * languages have no type table and are out of scope. */
  private[graft] def lexicalDiversity(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    lexicalDiversityFromCounts(docs
      .select($"lang", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("c")))
  }

  /** q140 over a pre-aggregated (lang, w, c) term-count frame (the
    * [[zipfSlopeFromCounts]] sharing note). */
  private[graft] def lexicalDiversityFromCounts(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    counts
      .groupBy($"lang").agg(
        sum($"c").as("n_tokens"), count(lit(1)).as("n_types"),
        sum(when($"c" === 1L, 1L).otherwise(0L)).as("n_hapax"),
        sum(when($"c" === 2L, 1L).otherwise(0L)).as("n_dis"))
      .select($"lang", $"n_tokens", $"n_types", $"n_hapax", $"n_dis",
        expr("(n_types * 1000000) div n_tokens").as("ttr_micro"),
        expr("(n_hapax * 1000000) div n_types").as("hapax_micro"),
        when($"n_tokens" > 1L,
          floor(log($"n_types".cast("double")) /
            log($"n_tokens".cast("double")) * lit(1e6) + lit(0.5))
            .cast("bigint"))
          .otherwise(lit(0L)).as("herdan_micro"))
      .orderBy($"lang")
  }

  /** q141 widths: distinct-1/2/3, the published convention. */
  private val DistinctNMax = 3

  /** The q141 chain over any (lang, text) frame (spec hook: planted
    * gram counts — CorpusStatSpec). Every (lang, n) reports; a lang
    * whose docs are all shorter than n reports zeros (keep-zero). */
  private[graft] def distinctNgrams(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // TWO corpus passes total (one for totals, one for distincts),
    // each emitting all three n values as n-tagged rows — the
    // per-n-separate form scanned the corpus six times
    val ns = 1 to DistinctNMax
    val tot = docs
      .select($"lang", TextOps.tokens($"text").as("toks"))
      .select($"lang", explode(array(ns.map(n =>
        struct(lit(n.toLong).as("n"),
          greatest(size($"toks") - lit(n - 1), lit(0)).cast("long")
            .as("t"))): _*)).as("p"))
      .groupBy($"lang", $"p.n").agg(sum($"p.t").as("n_total"))
    val dis = docs
      .select($"lang", explode(array(ns.map(n =>
        struct(lit(n.toLong).as("n"),
          graft.ops.expressions.ShingleHashes($"text", n).as("hs"))): _*))
        .as("p"))
      .select($"lang", $"p.n".as("n"), explode($"p.hs").as("h"))
      .groupBy($"lang", $"n").agg(count_distinct($"h").as("n_distinct"))
    tot.join(dis, Seq("lang", "n"), "left")
      .select($"lang", $"n", $"n_total",
        coalesce($"n_distinct", lit(0L)).as("n_distinct"))
      .withColumn("distinct_micro",
        when($"n_total" > 0L, expr("(n_distinct * 1000000) div n_total"))
          .otherwise(lit(0L)))
      .orderBy($"lang", $"n")
  }

  /** q142 floor and report depth: a term in < MinDf docs has a
    * meaningless cf/df ratio; 10 rows per lang is the report grade. */
  private val BurstMinDf = 5L
  private val BurstTopK = 10

  /** The q142 chain over any (lang, doc_id, text) frame (spec hook:
    * planted bursty/even/rare terms — CorpusStatSpec). */
  private[graft] def burstiness(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stats = docs
      .select($"lang", $"doc_id", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"lang", $"w", $"doc_id").agg(count(lit(1)).as("c"))
      .groupBy($"lang", $"w")
      .agg(sum($"c").as("cf"), count(lit(1)).as("df"))
      .filter($"df" >= BurstMinDf)
      .withColumn("burst_micro", expr("(cf * 1000000) div df"))
    graft.plans.TopK.perKey(stats, Seq("lang"),
        Seq("burst_micro" -> false, "cf" -> false, "w" -> true), BurstTopK,
        rankCol = "rn")
      .select($"lang", $"w", $"cf", $"df", $"burst_micro",
        $"rn".cast("bigint").as("rn"))
      .orderBy($"lang", $"rn")
  }

  /** The q149 chain over any (lang, source, text) frame (spec hook:
    * planted exact power-law (N, V) points recover (β, ln k) —
    * CorpusStatSpec). Languages with < 2 source points report
    * zeros (no fit). */
  private[graft] def heapsFit(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val pts = docs
      .select($"lang", $"source", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"lang", $"source", $"w").agg(count(lit(1)).as("c"))
      .groupBy($"lang", $"source")
      .agg(sum($"c").as("n_tok"), count(lit(1)).as("n_typ"))
    val lx = log($"n_tok".cast("double"))
    val ly = log($"n_typ".cast("double"))
    def micro(c: Column) = floor(c * lit(1e6) + lit(0.5)).cast("bigint")
    val g = pts
      .select($"lang", micro(lx).as("x"), micro(ly).as("y"),
        micro(lx * ly).as("xy"), micro(lx * lx).as("xx"))
      .groupBy($"lang").agg(count(lit(1)).as("n_points"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"xy").as("sxy"), sum($"xx").as("sxx"))
    val kd = $"n_points".cast("double")
    def d(c: Column) = c.cast("double") / lit(1e6)
    val den = kd * d($"sxx") - d($"sx") * d($"sx")
    val beta = (kd * d($"sxy") - d($"sx") * d($"sy")) / den
    g.select($"lang", $"n_points",
        when(den =!= 0.0, micro(beta)).otherwise(lit(0L)).as("beta_micro"),
        when(den =!= 0.0, micro((d($"sy") - beta * d($"sx")) / kd))
          .otherwise(lit(0L)).as("lnk_micro"))
      .orderBy($"lang")
  }

  /** The q144 chain over any (lang, text) frame (spec hook: planted
    * mislabeled docs — CorpusStatSpec). */
  private[graft] def langConfusion(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"lang", TextOps.langId($"text").as("lang_pred"))
      .groupBy($"lang", $"lang_pred").agg(count(lit(1)).as("n_docs"))
      .withColumn("total",
        sum($"n_docs").over(Window.partitionBy($"lang")))
      .select($"lang", $"lang_pred", $"n_docs",
        expr("(n_docs * 1000000) div total").as("frac_micro"))
      .orderBy($"lang", $"lang_pred")
  }

  /** q145 tail depth: the estimator uses the top-HillK order
    * statistics against the (HillK+1)-th (Hill's x_{k+1} reference
    * convention), clamped to n−1 for small sources. */
  private val HillK = 50

  /** The q145 chain over any (source, doc_id, text) frame (spec
    * hook: planted Pareto-exact lengths — CorpusStatSpec). Sources
    * with < 2 positive-length docs report zeros (no tail). */
  private[graft] def lengthTail(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val lens = docs
      .select($"source", $"doc_id",
        TextOps.tokenCount($"text").cast("long").as("n_tok"))
      .filter($"n_tok" > 0L)
    // r19: three consumers below (counts, the x_ref pick, the term
    // sums) reference this subtree, and the plan re-ran the corpus
    // tokenCount pass for each (5 scans,
    // plans/r19/q145_length_tail_before.txt — the runtime exchange
    // reuse the old comment counted on does not collapse re-planned
    // scan subtrees, the q151 lesson). A lazy persist of the
    // O(sources·K) top table serves all three from ONE pass — unlike
    // the eager localCheckpoint variant the old note measured slower
    // (the blocking materialization job was the cost, not the reuse).
    // Isolated clean A/B at sf0.1: 1.03 → 0.51 s (control-normalized;
    // raw passes 1.33 → 0.51 with the before window ~1.25× loaded).
    val top = graft.plans.TopK.perKey(lens, Seq("source"),
      Seq("n_tok" -> false, "doc_id" -> true), HillK + 1, rankCol = "rn")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val cnt = top.groupBy($"source").agg(count(lit(1)).as("m"))
      .withColumn("k", least($"m" - 1L, lit(HillK.toLong)))
    val ref = top.join(cnt, Seq("source"))
      .filter($"rn" === $"k" + 1L)
      .select($"source", $"n_tok".as("x_ref"))
    val sums = top.join(cnt, Seq("source")).join(ref, Seq("source"))
      .filter($"rn" <= $"k" && $"k" > 0L)
      .select($"source", $"k",
        floor(log($"n_tok".cast("double") / $"x_ref".cast("double"))
          * lit(1e6) + lit(0.5)).cast("bigint").as("term"))
      .groupBy($"source", $"k").agg(sum($"term").as("t"))
    // r20 (§3.1): sums is an O(sources·K) aggregate — the same
    // footprint class as the persisted frame it derives from —
    // broadcast it instead of sort-merging the (source, k) tail
    cnt.select($"source", $"k").join(broadcast(sums), Seq("source", "k"), "left")
      .select($"source", greatest($"k", lit(0L)).as("k_tail"),
        coalesce(expr("t div k"), lit(0L)).as("hill_inv_micro"),
        coalesce(when($"t" > 0L, expr("(k * 1000000000000) div t")),
          lit(0L)).as("alpha_micro"))
      .orderBy($"source")
  }

  /** The q146 chain over any (lang, text) frame (spec hook: planted
    * uniform/concentrated corpora with closed-form Ginis —
    * CorpusStatSpec). Zero-length docs count in n but carry no
    * mass; a lang with zero total mass reports 0. */
  private[graft] def giniLengths(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val hist = docs
      .select($"lang", TextOps.tokenCount($"text").cast("long").as("n_tok"))
      .groupBy($"lang", $"n_tok").agg(count(lit(1)).as("c"))
    val w = Window.partitionBy($"lang").orderBy($"n_tok")
      .rowsBetween(Window.unboundedPreceding, -1)
    // doubled rank-weighted mass per tie run: 2·Σᵢ i·len over ranks
    // (F_prev+1 .. F_prev+c) = len·c·(2·F_prev + c + 1) — every
    // PRODUCT in decimal (int64 crosses 2^63 near 10^10 docs per
    // bucket), only bounded sums stay int64
    val g = hist
      .withColumn("fprev", coalesce(sum($"c").over(w), lit(0L)))
      .select($"lang", $"c",
        expr("CAST(n_tok AS DECIMAL(38,0)) * c * (2 * fprev + c + 1)")
          .as("t2"),
        expr("CAST(n_tok AS DECIMAL(38,0)) * c").as("m"))
      .groupBy($"lang").agg(sum($"c").as("n_docs"),
        sum($"m").as("s"), sum($"t2").as("t2"))
    g.select($"lang", $"n_docs", $"s".cast("bigint").as("n_tokens"),
        when($"s" > 0L, floor(($"t2".cast("double")
            / ($"n_docs".cast("double") * $"s".cast("double"))
            - ($"n_docs" + 1L).cast("double") / $"n_docs".cast("double"))
          * lit(1e6) + lit(0.5)).cast("bigint"))
          .otherwise(lit(0L)).as("gini_micro"))
      .orderBy($"lang")
  }

  /** q123: n-gram width of the novelty profile (matches q121's
    * decontamination gram and q93's span threshold — one boilerplate
    * granularity across the repeated-text family). */
  private val NovK = 8

  /** The q123 chain over any (doc_id, text) frame (spec hook:
    * planted template/unique docs — LmSpec). See the q123 entry
    * comment for the recipe and scale shape. */
  private[graft] def ngramNovelty(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val sh = docs.select($"doc_id",
        explode(graft.ops.expressions.ShingleHashes($"text", NovK)).as("sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val dfs = sh.groupBy($"sh").agg(count(lit(1)).as("df"))
    val per = sh.join(dfs, Seq("sh"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_grams"),
        sum(when($"df" > 1L, 1L).otherwise(0L)).as("n_shared"))
    docs.select($"doc_id").join(per, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_grams", lit(0L)).as("n_grams"),
        coalesce($"n_shared", lit(0L)).as("n_shared"),
        when(coalesce($"n_grams", lit(0L)) > 0L,
          floor((lit(1.0) - $"n_shared".cast("double") /
            $"n_grams".cast("double")) * lit(1e6) + lit(0.5)).cast("bigint"))
          .as("novelty_micro"))
      .orderBy($"doc_id")
  }

  /** q92's oracle: unrolled BPE training rounds. Words seed as their
    * characters plus the `</w>` end-of-word symbol (BpeTrainer's
    * GPT-2/Sennrich convention). Words live as
    * BRACKETED STRINGS — every symbol wrapped in chr(31) markers
    * (`␟s1␟␟s2␟…`), a character absent from the corpus — because
    * DuckDB 1.0's list_reduce cannot carry struct state. The greedy
    * skip-past merge apply is then ONE string replace:
    * `␟a␟␟b␟ → ␟ab␟` replaces left-to-right non-overlapping, each
    * symbol keeps its own bracket pair, so neighbors stay intact and
    * "aaaa" → [aa][aa] exactly like BpeMergeKernel's cursor scan.
    * Per round: unwrap → split → adjacent-pair counts weighted by
    * word freq → winner (count desc, pair asc) → replace. */
  private val BpeDelim = "chr(31)"

  /** '␟s1␟␟s2␟…' → [s1, s2, …]: strip the outer brackets, split on
    * the inner double-bracket seams. */
  private def bpeSyms(wstr: String) =
    s"string_split($wstr[2:length($wstr) - 1], $BpeDelim || $BpeDelim)"

  /** The shared BPE training-replay CTE chain (q92 reads the
    * per-round winners w1..wR; q105 reads the final vocab state vR —
    * which carries `word`, so encode-time piece counts are a lookup,
    * the merges-in-order ≡ training-state invariant BpeSpec pins).
    * Ends with words/v0/…/v$BpeRounds in scope. */
  private def bpeTrainCtes: String = {
    val D = BpeDelim
    val rounds = (1 to BpeRounds).map { t =>
      s"""sy$t AS (SELECT freq, ${bpeSyms("wstr")} AS syms FROM v${t - 1}),
         |pr$t AS (
         |  SELECT syms[CAST(u.i AS INTEGER)] AS a,
         |         syms[CAST(u.i AS INTEGER) + 1] AS b,
         |         CAST(sum(freq) AS BIGINT) AS n
         |  FROM sy$t, unnest(range(1, len(syms))) u(i)
         |  GROUP BY 1, 2),
         |w$t AS (SELECT a, b, n FROM pr$t ORDER BY n DESC, a, b LIMIT 1),
         |v$t AS (SELECT word, freq,
         |          replace(wstr, $D || w.a || $D || $D || w.b || $D,
         |                  $D || w.a || w.b || $D) AS wstr
         |        FROM v${t - 1}, w$t w)""".stripMargin
    }.mkString(",\n")
    s"""words AS (
       |  SELECT w AS word, count(*) AS freq
       |  FROM (SELECT unnest(${Sql.preToks("text")}) AS w FROM documents)
       |  GROUP BY 1),
       |v0 AS (
       |  SELECT word, freq,
       |    array_to_string(list_transform(range(1, length(word) + 1),
       |      i -> $D || word[i:i] || $D), '')
       |      || $D || '${graft.pipeline.BpeTrainer.EowMarker}' || $D AS wstr
       |  FROM words),
       |$rounds""".stripMargin
  }

  private def bpeOracle: String = {
    val out = (1 to BpeRounds)
      .map(t => s"SELECT $t AS rn, a, b, n FROM w$t")
      .mkString("\nUNION ALL\n")
    // NB: composed WITHOUT an outer stripMargin — bpeTrainCtes is
    // already stripped, and a second pass would eat the leading `|`
    // of its `||` string-concat continuation lines
    s"WITH $bpeTrainCtes\n" +
      s"SELECT CAST(rn AS BIGINT) AS rn, a, b, n FROM (\n$out\n) ORDER BY rn"
  }

  /** The q152 chain over any (lang, text) frame (spec hook: planted
    * frequency spectra with hand-computed discounts —
    * CorpusStatSpec). All-integer: micro divisions over exact
    * frequency-of-frequency counts. */
  private[graft] def goodTuring(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    goodTuringFromCounts(docs
      .select($"lang", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("c")))
  }

  /** q152 over a pre-aggregated (lang, w, c) term-count frame (the
    * [[zipfSlopeFromCounts]] sharing note). */
  private[graft] def goodTuringFromCounts(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    def nr(r: Int) = sum(when($"c" === r.toLong, 1L).otherwise(0L)).as(s"n$r")
    counts
      .groupBy($"lang").agg(sum($"c").as("n_tokens"),
        count(lit(1)).as("n_types"), nr(1), nr(2), nr(3), nr(4))
      .select($"lang", $"n_tokens", $"n_types",
        $"n1", $"n2", $"n3", $"n4",
        expr("(n1 * 1000000) div n_tokens").as("p0_micro"),
        when($"n1" > 0L, expr("(2 * n2 * 1000000) div n1"))
          .otherwise(lit(0L)).as("rstar1_micro"),
        when($"n2" > 0L, expr("(3 * n3 * 1000000) div n2"))
          .otherwise(lit(0L)).as("rstar2_micro"),
        when($"n3" > 0L, expr("(4 * n4 * 1000000) div n3"))
          .otherwise(lit(0L)).as("rstar3_micro"))
      .orderBy($"lang")
  }

  /** The q162 chain over any (lang, text) frame (spec hook: planted
    * frequency spectra with hand-computed estimates —
    * CorpusStatSpec). All-integer: the Chao1 correction term is a
    * DECIMAL(38,0) product under an integral division (n₁² crosses
    * int64 around a billion hapaxes). */
  private[graft] def chaoRichness(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    chaoRichnessFromCounts(docs
      .select($"lang", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"lang", $"w").agg(count(lit(1)).as("c")))
  }

  /** q162 over a pre-aggregated (lang, w, c) term-count frame (the
    * [[goodTuringFromCounts]] sharing note —
    * [[graft.pipeline.CorpusStatsMaintenance]] serves this off its
    * store). */
  private[graft] def chaoRichnessFromCounts(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    counts
      .groupBy($"lang").agg(sum($"c").as("n_tokens"),
        count(lit(1)).as("n_types"),
        sum(when($"c" === 1L, 1L).otherwise(0L)).as("n1"),
        sum(when($"c" === 2L, 1L).otherwise(0L)).as("n2"))
      .select($"lang", $"n_tokens", $"n_types", $"n1", $"n2",
        ($"n_types" * lit(1000000L) +
          expr("CAST((CAST(n1 AS DECIMAL(38,0)) * (n1 - 1) * 1000000)" +
            " div (2 * (n2 + 1)) AS BIGINT)")).as("chao1_micro"),
        ($"n_types" + $"n1").as("jack1"))
      .orderBy($"lang")
  }

  /** The q153 chain over any (source, text) frame (spec hook:
    * planted two-source corpora with closed-form divergences —
    * CorpusStatSpec). Per-term contributions micro-quantize before
    * the int64 sum (order-free — the q137 contract); each ln runs
    * over exact integer counts (the q43 libm-ulp note). */
  private[graft] def sourceKl(docs: DataFrame): DataFrame =
    // r19: four lineages reference the count table inside FromCounts
    // (cw, ns, the term join, tot) — unpersisted, q153 re-ran the
    // corpus tokenize four times. The persist (SparkEntry cache
    // contract) makes it one pass; the q151 note has the plan diff.
    sourceKlFromCounts(sourceTermCounts(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** The (source, term) count table — the additive sufficient
    * statistic behind the whole source-mixture family (q151 DoReMi,
    * q153 KL, q177 LOO novelty), maintained incrementally by
    * [[graft.pipeline.CorpusStatsMaintenance]] as its fourth store. */
  /** Over a pre-tokenized (persisted) frame — the maintenance
    * absorb path, where the materialized toks column is the point.
    * The batch form below keeps the FUSED explode(tokens(text))
    * instead: exploding a PROJECTED array column blocks the
    * generator from inlining into the scan and costs ~2.3× at the
    * 10× probe (measured on q153 — 5.3 s fused vs 12.1 s through
    * the projection). */
  private[graft] def sourceTermCountsFromToks(tk: DataFrame): DataFrame =
    tk.select(col("source"), explode(col("toks")).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("csw"))

  private[graft] def sourceTermCounts(docs: DataFrame): DataFrame =
    docs.select(col("source"), explode(TextOps.tokens(col("text"))).as("w"))
      .groupBy(col("source"), col("w")).agg(count(lit(1)).as("csw"))

  /** q153 over the pre-aggregated (source, w, csw) count table (the
    * [[goodTuringFromCounts]] sharing convention). */
  private[graft] def sourceKlFromCounts(tf: DataFrame): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val cw = tf.groupBy($"w").agg(sum($"csw").as("cw"))
    val ns = tf.groupBy($"source")
      .agg(sum($"csw").as("n_s"), count(lit(1)).as("n_types"))
    val tot = ns.agg(sum($"n_s").as("n")) // 1 row — intendedBnlj
    val term = tf.join(cw, Seq("w")).join(ns, Seq("source")).crossJoin(tot)
      .select($"source", $"n_s", $"n_types",
        floor(($"csw".cast("double") / $"n_s".cast("double")) *
          log(($"csw".cast("double") * $"n".cast("double")) /
            ($"n_s".cast("double") * $"cw".cast("double")))
          * lit(1e6) + lit(0.5)).cast("bigint").as("t"))
    term.groupBy($"source", $"n_s", $"n_types")
      .agg(sum($"t").as("kl_micro"))
      .select($"source", $"n_s".as("n_tokens"), $"n_types", $"kl_micro")
      .orderBy($"source")
  }

  /** The q154 chain over any (lang, text) frame (spec hook: planted
    * uniform and deterministic-chain corpora with closed-form
    * entropies — CorpusStatSpec). */
  private[graft] def entropyRate(docs: DataFrame): DataFrame =
    { val (uni, bi) = uniBiCounts(docs); entropyRateFromCounts(uni, bi) }

  /** q154 over the pre-aggregated sufficient statistics (the
    * [[pmiFromCounts]] twin): both entropies are pure functions of
    * the merged count tables — plogp terms quantize to int64 BEFORE
    * the per-lang sums, so the served result is bit-identical to the
    * batch chain regardless of how counts were accumulated. */
  private[graft] def entropyRateFromCounts(uni: DataFrame,
                                           bi: DataFrame): DataFrame = {
    val spark = uni.sparkSession
    import spark.implicits._
    def plogp(c: Column, n: Column) =
      floor(-(c.cast("double") / n.cast("double")) *
        log(c.cast("double") / n.cast("double")) * lit(1e6) + lit(0.5))
        .cast("bigint")
    val nuni = uni.groupBy($"lang")
      .agg(sum($"c").as("n_unigrams"), count(lit(1)).as("n_types"))
    val h1 = uni.join(nuni, Seq("lang"))
      .select($"lang", plogp($"c", $"n_unigrams").as("t"))
      .groupBy($"lang").agg(sum($"t").as("h1_micro"))
    val nbi = bi.groupBy($"lang")
      .agg(sum($"c").as("n_bigrams"), count(lit(1)).as("n_bigram_types"))
    val h2 = bi.join(nbi, Seq("lang"))
      .select($"lang", plogp($"c", $"n_bigrams").as("t"))
      .groupBy($"lang").agg(sum($"t").as("h2_micro"))
    // nbi/h2 LEFT-joined: a language whose
    // documents are all single-token has unigram evidence but zero
    // bigrams — it must still report its H1 row, with n_bigrams 0 and
    // null h2/cond (undefined over an empty distribution), not vanish.
    nuni.join(nbi, Seq("lang"), "left").join(h1, Seq("lang"))
      .join(h2, Seq("lang"), "left")
      .select($"lang", $"n_unigrams", $"n_types",
        coalesce($"n_bigrams", lit(0L)).as("n_bigrams"),
        coalesce($"n_bigram_types", lit(0L)).as("n_bigram_types"),
        $"h1_micro", $"h2_micro",
        ($"h2_micro" - $"h1_micro").as("cond_micro"))
      .orderBy($"lang")
  }

  /** The q155 chain over any (source, lang, text) frame (spec hook:
    * planted uniform/concentrated corpora with closed-form indices —
    * CorpusStatSpec). One token-count pass; both rollups and the
    * share squares run over O(groups) rows. */
  private[graft] def concentration(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // r19: both rollups are marginals of ONE (source, lang) cell
    // table — the old per-dimension groupBys each re-ran the corpus
    // tokenCount scan (4 scans with the totals' re-references,
    // plans/r19/q155_concentration_before.txt). Aggregate the
    // additive cell table once, persist it (O(sources·langs) rows,
    // SparkEntry cache contract), and take integer-exact marginal
    // sums. 0.41 → 0.35 s clean at sf0.1.
    val cell = docs.select($"source", $"lang",
        TextOps.tokenCount($"text").cast("long").as("n_tok"))
      .groupBy($"source", $"lang").agg(sum($"n_tok").as("cn"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val bySrc = cell.groupBy($"source".as("grp"))
      .agg(sum($"cn").as("n")).withColumn("dim", lit("source"))
    val byLang = cell.groupBy($"lang".as("grp"))
      .agg(sum($"cn").as("n")).withColumn("dim", lit("lang"))
    val groups = bySrc.unionByName(byLang)
    val tot = groups.groupBy($"dim")
      .agg(sum($"n").as("nt"), count(lit(1)).as("n_groups"))
    val sq = groups.join(tot, Seq("dim"))
      .select($"dim", $"nt", $"n_groups",
        floor(($"n".cast("double") / $"nt".cast("double")) *
          ($"n".cast("double") / $"nt".cast("double"))
          * lit(1e6) + lit(0.5)).cast("bigint").as("s2"))
    sq.groupBy($"dim", $"nt", $"n_groups").agg(sum($"s2").as("hhi_micro"))
      .select($"dim", $"n_groups", $"nt".as("n_tokens"), $"hhi_micro",
        when($"hhi_micro" > 0L,
          floor(lit(1e12) / $"hhi_micro".cast("double") + lit(0.5))
            .cast("bigint")).otherwise(lit(0L)).as("eff_micro"))
      .orderBy($"dim")
  }

  /** The q165 chain over any (lang, text) frame (spec hook: planted
    * confusions with closed-form κ — CorpusStatSpec). Classes are
    * the union of observed actual and predicted labels, so a pure
    * prediction artifact like 'und' still gets its row. */
  private[graft] def labelAgreement(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // conf is O(langs²) but feeds FOUR consumers (rows/cols/diag/
    // total) — without the persist each replans the whole corpus
    // langId scan (measured 6 scans, no exchange reuse; the
    // SparkEntry cache contract covers the release). The label comes
    // from the fused TextStats kernel (codegen; PropertySpec pins
    // lang_pred ≡ TextOps.langIdOf on random and real corpora).
    val conf = docs.select($"lang",
        graft.ops.expressions.TextStats($"text")
          .getField("lang_pred").as("pred"))
      .groupBy($"lang", $"pred").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val rows = conf.groupBy($"lang").agg(sum($"c").as("n_act"))
    val cols = conf.groupBy($"pred").agg(sum($"c").as("n_prd"))
    val diag = conf.filter($"lang" === $"pred").select($"lang", $"c".as("tp"))
    val tot = rows.agg(sum($"n_act").as("n")) // 1 row — intendedBnlj
    val classes = rows.select($"lang")
      .unionByName(cols.select($"pred".as("lang"))).distinct()
    classes
      .join(rows, Seq("lang"), "left")
      .join(cols.withColumnRenamed("pred", "lang"), Seq("lang"), "left")
      .join(diag, Seq("lang"), "left")
      .crossJoin(tot)
      .select($"lang", coalesce($"n_act", lit(0L)).as("n_actual"),
        coalesce($"n_prd", lit(0L)).as("n_pred"),
        coalesce($"tp", lit(0L)).as("tp"), $"n")
      .withColumn("tn", $"n" - $"n_actual" - $"n_pred" + $"tp")
      .withColumn("a", expr("CAST(tp + tn AS DECIMAL(38,0)) * n"))
      .withColumn("b",
        expr("CAST(n_actual AS DECIMAL(38,0)) * n_pred" +
          " + CAST(n - n_actual AS DECIMAL(38,0)) * (n - n_pred)"))
      .withColumn("nn", expr("CAST(n AS DECIMAL(38,0)) * n"))
      .select($"lang", $"n_actual", $"n_pred", $"tp",
        expr("CAST((CAST(tp + tn AS DECIMAL(38,0)) * 1000000) div n" +
          " AS BIGINT)").as("po_micro"),
        expr("CAST((b * 1000000) div nn AS BIGINT)").as("pe_micro"),
        when(expr("nn > b"),
          expr("CAST(CASE WHEN a >= b THEN 1 ELSE -1 END" +
            " * ((abs(a - b) * 1000000) div (nn - b)) AS BIGINT)"))
          .otherwise(lit(0L)).as("kappa_micro"))
      .orderBy($"lang")
  }

  /** The q159 chain over any (source, text) frame (spec hook:
    * planted two-source length sets with closed-form W₁/KS —
    * CorpusStatSpec). The corpus histogram and every total derive
    * from the ONE aggregated (source, len) histogram — no second
    * corpus pass. The trailing support row has no step width (gap
    * null) and both CDFs at 1 there (cross-difference exactly 0), so
    * excluding it from the W₁ sum is the integral's own boundary,
    * not an approximation. */
  private[graft] def lengthDrift(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // r19: FromHist references the histogram three times (corpus
    // marginal, per-source totals, the spine join) — unpersisted the
    // batch path re-ran the tokenCount scan each time (the q135
    // note). Persisted: one corpus pass. 0.63 s → 0.47 s clean.
    lengthDriftFromHist(docs
      .select($"source", TextOps.tokenCount($"text").cast("long").as("len"))
      .groupBy($"source", $"len").agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** q159 over a pre-aggregated (source, len, c) histogram — the
    * additive sufficient statistic
    * [[graft.pipeline.CorpusStatsMaintenance]] maintains per
    * delivery (the [[goodTuringFromCounts]] sharing note). */
  private[graft] def lengthDriftFromHist(hist: DataFrame): DataFrame = {
    val spark = hist.sparkSession
    import spark.implicits._
    val corpus = hist.groupBy($"len").agg(sum($"c").as("cc"))
    val ns = hist.groupBy($"source").agg(sum($"c").as("n_s"))
    // O(sources) × O(distinct lengths) spine — both sides aggregate
    // outputs, the small side broadcasts (intendedBnlj)
    val spine = ns.crossJoin(corpus)
    val j = spine.join(hist, Seq("source", "len"), "left")
      .select($"source", $"n_s", $"len", $"cc",
        coalesce($"c", lit(0L)).as("c"))
    val w = Window.partitionBy($"source").orderBy($"len")
    val cum = j
      .withColumn("cum_s", sum($"c").over(w))
      .withColumn("cum_c", sum($"cc").over(w))
      .withColumn("n_c", sum($"cc").over(Window.partitionBy($"source")))
      .withColumn("gap", lead($"len", 1).over(w) - $"len")
      .withColumn("d",
        expr("abs(CAST(cum_s AS DECIMAL(38,0)) * n_c" +
          " - CAST(cum_c AS DECIMAL(38,0)) * n_s)"))
    cum.groupBy($"source", $"n_s", $"n_c")
      .agg(sum(expr("d * gap")).as("s_w1"), max($"d").as("ks_d"))
      .select($"source", $"n_s".as("n_docs"),
        floor(coalesce($"s_w1", lit(0).cast("decimal(38,0)")).cast("double")
          / ($"n_s".cast("double") * $"n_c".cast("double"))
          * lit(1e6) + lit(0.5)).cast("bigint").as("w1_micro"),
        floor($"ks_d".cast("double")
          / ($"n_s".cast("double") * $"n_c".cast("double"))
          * lit(1e6) + lit(0.5)).cast("bigint").as("ks_micro"))
      .orderBy($"source")
  }

  /** q160: how many top-frequency terms the dispersion table
    * reports. */
  private val DispTopK = 20

  /** The q160 chain over any (source, text) frame (spec hook:
    * planted concentrated/even terms with closed-form DP —
    * CorpusStatSpec). */
  private[graft] def termDispersion(docs: DataFrame,
                                    topK: Int = DispTopK): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // r19: the count table feeds the top-K rank, the per-source
    // totals AND the spine join — unpersisted, four corpus tokenize
    // passes (the q151 note). Persisted: one. 0.58 → 0.50 s clean.
    val tf = docs.select($"source", explode(TextOps.tokens($"text")).as("w"))
      .groupBy($"source", $"w").agg(count(lit(1)).as("csw"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = tf.groupBy($"w").agg(sum($"csw").as("ct"))
      .orderBy($"ct".desc, $"w").limit(topK)
    val ns = tf.groupBy($"source").agg(sum($"csw").as("n_i"))
    val tot = ns.agg(sum($"n_i").as("n")) // 1 row — intendedBnlj
    val spine = ns.crossJoin(broadcast(top)).crossJoin(tot)
    spine.join(tf, Seq("source", "w"), "left")
      .select($"w", $"ct", $"n", $"n_i",
        coalesce($"csw", lit(0L)).as("c_ti"))
      .withColumn("dev",
        expr("abs(CAST(c_ti AS DECIMAL(38,0)) * n" +
          " - CAST(n_i AS DECIMAL(38,0)) * ct)"))
      .groupBy($"w", $"ct", $"n").agg(sum($"dev").as("s"))
      .select($"w", $"ct".as("c"),
        floor($"s".cast("double")
          / (lit(2.0) * $"ct".cast("double") * $"n".cast("double"))
          * lit(1e6) + lit(0.5)).cast("bigint").as("dp_micro"))
      .orderBy($"c".desc, $"w")
  }

  /** The q161 chain over any (source, doc_id, text) frame (spec
    * hook: planted mixed/monolingual docs with closed-form CMI and
    * entropy — CorpusStatSpec). Sentence labels come from the SAME
    * langId argmax q26/q144 gate on (fixed tie order, 'und'
    * fallback); the per-doc label-count frame feeds both the CMI
    * majority and the entropy quantize-then-sum. */
  private[graft] def codeSwitch(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // per-sentence label via the fused TextStats kernel (one codegen
    // scan per sentence; PropertySpec pins lang_pred ≡ the HOF)
    val sl = docs
      .select($"source", $"doc_id",
        explode(TextOps.sentences($"text")).as("sent"))
      .select($"source", $"doc_id",
        graft.ops.expressions.TextStats($"sent")
          .getField("lang_pred").as("sl"))
    // cnt feeds TWO consumers (per-doc stats + the entropy terms) —
    // persisted so the sentence-explode langId pass runs ONCE (the
    // q165 lesson; SparkEntry cache contract covers the release)
    val cnt = sl.groupBy($"source", $"doc_id", $"sl")
      .agg(count(lit(1)).as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val per = cnt.groupBy($"source", $"doc_id")
      .agg(sum($"c").as("n_sent"), count(lit(1)).as("n_langs"),
        max($"c").as("c_max"))
    val ent = cnt.join(per.select($"doc_id", $"n_sent"), Seq("doc_id"))
      .select($"doc_id",
        floor(-($"c".cast("double") / $"n_sent".cast("double")) *
          log($"c".cast("double") / $"n_sent".cast("double")) *
          lit(1e6) + lit(0.5)).cast("bigint").as("t"))
      .groupBy($"doc_id").agg(sum($"t").as("ent_micro"))
    per.join(ent, Seq("doc_id"))
      .select($"source", $"n_langs", $"ent_micro",
        floor((lit(1.0) - $"c_max".cast("double") / $"n_sent".cast("double"))
          * lit(1e6) + lit(0.5)).cast("bigint").as("cmi_micro"))
      .groupBy($"source")
      .agg(count(lit(1)).as("n_docs"),
        sum(when($"n_langs" >= 2L, 1L).otherwise(0L)).as("n_mixed"),
        sum($"ent_micro").as("sum_ent"), sum($"cmi_micro").as("sum_cmi"))
      .select($"source", $"n_docs", $"n_mixed",
        expr("(n_mixed * 1000000) div n_docs").as("mixed_micro"),
        expr("sum_ent div n_docs").as("mean_ent_micro"),
        expr("sum_cmi div n_docs").as("mean_cmi_micro"))
      .orderBy($"source")
  }

  def oracles: Map[String, String] = Map(

    // Twin of q152: exact frequency-of-frequency counts, micro
    // integer divisions.
    "q152_good_turing" ->
      s"""WITH t AS (SELECT lang, unnest(${Sql.toks("text")}) AS w FROM documents),
         |f AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
         |      FROM t GROUP BY lang, w),
         |g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         |        CAST(count(*) AS BIGINT) AS n_types,
         |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |        CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2,
         |        CAST(sum(CASE WHEN c = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n3,
         |        CAST(sum(CASE WHEN c = 4 THEN 1 ELSE 0 END) AS BIGINT) AS n4
         |      FROM f GROUP BY lang)
         |SELECT lang, n_tokens, n_types, n1, n2, n3, n4,
         |  (n1 * 1000000) // n_tokens AS p0_micro,
         |  CASE WHEN n1 > 0 THEN (2 * n2 * 1000000) // n1
         |    ELSE 0 END AS rstar1_micro,
         |  CASE WHEN n2 > 0 THEN (3 * n3 * 1000000) // n2
         |    ELSE 0 END AS rstar2_micro,
         |  CASE WHEN n3 > 0 THEN (4 * n4 * 1000000) // n3
         |    ELSE 0 END AS rstar3_micro
         |FROM g ORDER BY lang""".stripMargin,

    // Twin of q153: same per-term micro-quantize-then-BIGINT-sum,
    // same fixed-order double expression inside the floor.
    "q153_source_kl" ->
      s"""WITH t AS (SELECT source, unnest(${Sql.toks("text")}) AS w
         |           FROM documents),
         |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS csw
         |       FROM t GROUP BY source, w),
         |cw AS (SELECT w, CAST(sum(csw) AS BIGINT) AS cw FROM tf GROUP BY w),
         |ns AS (SELECT source, CAST(sum(csw) AS BIGINT) AS n_s,
         |         CAST(count(*) AS BIGINT) AS n_types
         |       FROM tf GROUP BY source),
         |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM ns),
         |term AS (SELECT tf.source, ns.n_s, ns.n_types,
         |    CAST(floor((CAST(tf.csw AS DOUBLE) / CAST(ns.n_s AS DOUBLE))
         |      * ln((CAST(tf.csw AS DOUBLE) * CAST(tot.n AS DOUBLE))
         |           / (CAST(ns.n_s AS DOUBLE) * CAST(cw.cw AS DOUBLE)))
         |      * 1000000.0 + 0.5) AS BIGINT) AS t
         |  FROM tf JOIN cw ON cw.w = tf.w
         |  JOIN ns ON ns.source = tf.source CROSS JOIN tot)
         |SELECT source, n_s AS n_tokens, n_types,
         |  CAST(sum(t) AS BIGINT) AS kl_micro
         |FROM term GROUP BY source, n_s, n_types ORDER BY source""".stripMargin,

    // Twin of q154: the q102 pos device for adjacent pairs, per-term
    // −p·ln p micro-quantized before the BIGINT sums.
    "q154_entropy_rate" ->
      s"""WITH t AS (SELECT lang, ${Sql.toks("text")} AS toks FROM documents),
         |u AS (SELECT lang, unnest(toks) AS w FROM t),
         |uni AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
         |        FROM u GROUP BY lang, w),
         |nuni AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_unigrams,
         |           CAST(count(*) AS BIGINT) AS n_types
         |         FROM uni GROUP BY lang),
         |h1 AS (SELECT uni.lang, CAST(sum(CAST(floor(
         |           -(CAST(c AS DOUBLE) / CAST(n_unigrams AS DOUBLE))
         |           * ln(CAST(c AS DOUBLE) / CAST(n_unigrams AS DOUBLE))
         |           * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h1_micro
         |       FROM uni JOIN nuni ON nuni.lang = uni.lang GROUP BY uni.lang),
         |p AS (SELECT lang, toks[CAST(u.i AS INTEGER)] AS w1,
         |        toks[CAST(u.i AS INTEGER) + 1] AS w2
         |      FROM t, unnest(range(1, len(toks))) u(i)),
         |bi AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS c
         |       FROM p GROUP BY 1, 2, 3),
         |nbi AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_bigrams,
         |          CAST(count(*) AS BIGINT) AS n_bigram_types
         |        FROM bi GROUP BY lang),
         |h2 AS (SELECT bi.lang, CAST(sum(CAST(floor(
         |           -(CAST(c AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
         |           * ln(CAST(c AS DOUBLE) / CAST(n_bigrams AS DOUBLE))
         |           * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS h2_micro
         |       FROM bi JOIN nbi ON nbi.lang = bi.lang GROUP BY bi.lang)
         |SELECT nuni.lang, n_unigrams, n_types,
         |  coalesce(n_bigrams, CAST(0 AS BIGINT)) AS n_bigrams,
         |  coalesce(n_bigram_types, CAST(0 AS BIGINT)) AS n_bigram_types,
         |  h1_micro, h2_micro, h2_micro - h1_micro AS cond_micro
         |FROM nuni LEFT JOIN nbi ON nbi.lang = nuni.lang
         |JOIN h1 ON h1.lang = nuni.lang LEFT JOIN h2 ON h2.lang = nuni.lang
         |ORDER BY nuni.lang""".stripMargin,

    // Twin of q155: one token-count pass, two rollups, share squares
    // micro-quantized before the BIGINT sum.
    "q155_concentration" ->
      s"""WITH d AS (SELECT source, lang,
         |             CAST(len(${Sql.toks("text")}) AS BIGINT) AS n_tok
         |           FROM documents),
         |g AS (SELECT 'source' AS dim, source AS grp,
         |        CAST(sum(n_tok) AS BIGINT) AS n FROM d GROUP BY source
         |      UNION ALL
         |      SELECT 'lang' AS dim, lang AS grp,
         |        CAST(sum(n_tok) AS BIGINT) AS n FROM d GROUP BY lang),
         |tot AS (SELECT dim, CAST(sum(n) AS BIGINT) AS nt,
         |          CAST(count(*) AS BIGINT) AS n_groups FROM g GROUP BY dim),
         |sq AS (SELECT g.dim, tot.nt, tot.n_groups,
         |         CAST(floor((CAST(g.n AS DOUBLE) / CAST(tot.nt AS DOUBLE))
         |           * (CAST(g.n AS DOUBLE) / CAST(tot.nt AS DOUBLE))
         |           * 1000000.0 + 0.5) AS BIGINT) AS s2
         |       FROM g JOIN tot ON tot.dim = g.dim),
         |h AS (SELECT dim, nt, n_groups, CAST(sum(s2) AS BIGINT) AS hhi_micro
         |      FROM sq GROUP BY 1, 2, 3)
         |SELECT dim, n_groups, nt AS n_tokens, hhi_micro,
         |  CASE WHEN hhi_micro > 0
         |    THEN CAST(floor(1000000000000.0 / CAST(hhi_micro AS DOUBLE) + 0.5)
         |      AS BIGINT)
         |    ELSE 0 END AS eff_micro
         |FROM h ORDER BY dim""".stripMargin,

    // Twin of q162: same frequency spectrum as the q152 twin, HUGEINT
    // ≡ DECIMAL(38,0) for the Chao1 correction product, integral
    // division.
    "q162_chao_richness" ->
      s"""WITH t AS (SELECT lang, unnest(${Sql.toks("text")}) AS w
         |           FROM documents),
         |f AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
         |      FROM t GROUP BY lang, w),
         |g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         |        CAST(count(*) AS BIGINT) AS n_types,
         |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n1,
         |        CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n2
         |      FROM f GROUP BY lang)
         |SELECT lang, n_tokens, n_types, n1, n2,
         |  n_types * 1000000
         |    + CAST((CAST(n1 AS HUGEINT) * (n1 - 1) * 1000000)
         |        // (2 * (n2 + 1)) AS BIGINT) AS chao1_micro,
         |  n_types + n1 AS jack1
         |FROM g ORDER BY lang""".stripMargin,

    // Twin of q168: the q102 position/split CTEs, the KN count
    // tables, one fixed-order double expression per branch, the
    // favg/fround pair.
    "q168_kn_xent" -> {
      val pcont = "(CAST(coalesce(w.n1w, 0) AS DOUBLE) + 1.0) / " +
        "(CAST(tot.nbb AS DOUBLE) + CAST(tot.v AS DOUBLE) + 1.0)"
      s"""WITH t AS (SELECT lang, doc_id, ${Sql.toks("text")} AS toks
         |           FROM documents),
         |pos AS (
         |  SELECT lang, doc_id, toks[CAST(u.i AS INTEGER)] AS cur,
         |    CASE WHEN u.i = 1 THEN NULL
         |         ELSE toks[CAST(u.i AS INTEGER) - 1] END AS prev
         |  FROM t, unnest(range(1, len(toks) + 1)) u(i)),
         |refpos AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
         |evalpos AS (SELECT * FROM pos WHERE doc_id % 2 <> 0),
         |uni AS (SELECT cur, CAST(count(*) AS BIGINT) AS cu
         |        FROM refpos GROUP BY 1),
         |bi AS (SELECT prev, cur, CAST(count(*) AS BIGINT) AS cb
         |       FROM refpos WHERE prev IS NOT NULL GROUP BY 1, 2),
         |ctx AS (SELECT prev, CAST(sum(cb) AS BIGINT) AS cv,
         |          CAST(count(*) AS BIGINT) AS n1p
         |        FROM bi GROUP BY 1),
         |contw AS (SELECT cur, CAST(count(*) AS BIGINT) AS n1w
         |          FROM bi GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(count(*) AS BIGINT) FROM bi) AS nbb,
         |               (SELECT CAST(count(*) AS BIGINT) FROM uni) AS v),
         |s AS (
         |  SELECT p.lang,
         |    CASE WHEN c.cv IS NOT NULL THEN
         |      -ln((greatest(CAST(coalesce(b.cb, 0) AS DOUBLE) - 0.75, 0.0)
         |         + 0.75 * CAST(c.n1p AS DOUBLE) * ($pcont))
         |        / CAST(c.cv AS DOUBLE))
         |    ELSE -ln($pcont) END AS surp,
         |    CASE WHEN u.cu IS NULL THEN 1 ELSE 0 END AS oov
         |  FROM evalpos p
         |  LEFT JOIN contw w ON w.cur = p.cur
         |  LEFT JOIN ctx c ON c.prev = p.prev
         |  LEFT JOIN bi b ON b.prev = p.prev AND b.cur = p.cur
         |  LEFT JOIN uni u ON u.cur = p.cur
         |  CROSS JOIN tot)
         |SELECT lang, count(*) AS n_pos, CAST(sum(oov) AS BIGINT) AS n_oov,
         |  ${graft.ops.Determinism.Oracles.fround(
                graft.ops.Determinism.Oracles.favg("surp"), XentDecimals)} AS xent
         |FROM s GROUP BY lang ORDER BY lang""".stripMargin
    },

    // Twin of q165: the q26/q144 langid argmax device, the same
    // one-vs-rest integer arithmetic with HUGEINT ≡ DECIMAL(38,0)
    // and the sign split off the integral division.
    "q165_label_agreement" -> {
      def hits(dict: Seq[String]): String = {
        val lits = dict.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, t -> list_contains($lits, t)))"
      }
      val scores = TextOps.LangDicts.map { case (l, dct) => l -> hits(dct) }
      val best = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
      val langCase = scores
        .map { case (l, sc) => s"WHEN best > 0 AND $sc = best THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH p AS (SELECT lang, $langCase AS pred
         |           FROM (SELECT *, $best AS best
         |                 FROM (SELECT lang, ${Sql.toks("text")} AS toks
         |                       FROM documents))),
         |conf AS (SELECT lang, pred, CAST(count(*) AS BIGINT) AS c
         |         FROM p GROUP BY 1, 2),
         |r AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_act
         |      FROM conf GROUP BY lang),
         |cl AS (SELECT pred, CAST(sum(c) AS BIGINT) AS n_prd
         |       FROM conf GROUP BY pred),
         |dg AS (SELECT lang, c AS tp FROM conf WHERE lang = pred),
         |tot AS (SELECT CAST(sum(n_act) AS BIGINT) AS n FROM r),
         |cls AS (SELECT lang FROM r UNION SELECT pred AS lang FROM cl),
         |j AS (SELECT cls.lang,
         |        coalesce(r.n_act, CAST(0 AS BIGINT)) AS n_actual,
         |        coalesce(cl.n_prd, CAST(0 AS BIGINT)) AS n_pred,
         |        coalesce(dg.tp, CAST(0 AS BIGINT)) AS tp, tot.n
         |      FROM cls LEFT JOIN r ON r.lang = cls.lang
         |      LEFT JOIN cl ON cl.pred = cls.lang
         |      LEFT JOIN dg ON dg.lang = cls.lang CROSS JOIN tot),
         |k AS (SELECT lang, n_actual, n_pred, tp, n,
         |        n - n_actual - n_pred + tp AS tn,
         |        CAST(tp + (n - n_actual - n_pred + tp) AS HUGEINT) * n AS a,
         |        CAST(n_actual AS HUGEINT) * n_pred
         |          + CAST(n - n_actual AS HUGEINT) * (n - n_pred) AS b,
         |        CAST(n AS HUGEINT) * n AS nn
         |      FROM j)
         |SELECT lang, n_actual, n_pred, tp,
         |  CAST((CAST(tp + tn AS HUGEINT) * 1000000) // n AS BIGINT)
         |    AS po_micro,
         |  CAST((b * 1000000) // nn AS BIGINT) AS pe_micro,
         |  CASE WHEN nn > b
         |    THEN CAST((CASE WHEN a >= b THEN 1 ELSE -1 END)
         |      * ((abs(a - b) * 1000000) // (nn - b)) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS kappa_micro
         |FROM k ORDER BY lang""".stripMargin
    },

    // Twin of q159: same aggregated histogram, HUGEINT ≡ the Spark
    // side's DECIMAL(38,0) cross-multiplied CDF differences, one
    // double conversion at the end (the q146 convention). Window
    // defaults match (RANGE UNBOUNDED PRECEDING — identical on the
    // unique len ordering key).
    "q159_length_drift" ->
      s"""WITH l AS (SELECT source,
         |             CAST(len(${Sql.toks("text")}) AS BIGINT) AS len
         |           FROM documents),
         |h AS (SELECT source, len, CAST(count(*) AS BIGINT) AS c
         |      FROM l GROUP BY 1, 2),
         |corpus AS (SELECT len, CAST(sum(c) AS BIGINT) AS cc
         |           FROM h GROUP BY len),
         |ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_s
         |       FROM h GROUP BY source),
         |spine AS (SELECT ns.source, ns.n_s, corpus.len, corpus.cc
         |          FROM ns CROSS JOIN corpus),
         |j AS (SELECT spine.source, spine.n_s, spine.len, spine.cc,
         |        coalesce(h.c, CAST(0 AS BIGINT)) AS c
         |      FROM spine LEFT JOIN h
         |        ON h.source = spine.source AND h.len = spine.len),
         |cum AS (SELECT source, n_s,
         |          sum(c) OVER (PARTITION BY source ORDER BY len) AS cum_s,
         |          sum(cc) OVER (PARTITION BY source ORDER BY len) AS cum_c,
         |          sum(cc) OVER (PARTITION BY source) AS n_c,
         |          lead(len, 1) OVER (PARTITION BY source ORDER BY len) - len
         |            AS gap
         |        FROM j),
         |dd AS (SELECT source, n_s, n_c,
         |         abs(CAST(cum_s AS HUGEINT) * n_c
         |           - CAST(cum_c AS HUGEINT) * n_s) AS d, gap
         |       FROM cum),
         |g AS (SELECT source, n_s, n_c, sum(d * gap) AS s_w1,
         |        max(d) AS ks_d
         |      FROM dd GROUP BY 1, 2, 3)
         |SELECT source, n_s AS n_docs,
         |  CAST(floor(CAST(coalesce(s_w1, 0) AS DOUBLE)
         |    / (CAST(n_s AS DOUBLE) * CAST(n_c AS DOUBLE))
         |    * 1000000.0 + 0.5) AS BIGINT) AS w1_micro,
         |  CAST(floor(CAST(ks_d AS DOUBLE)
         |    / (CAST(n_s AS DOUBLE) * CAST(n_c AS DOUBLE))
         |    * 1000000.0 + 0.5) AS BIGINT) AS ks_micro
         |FROM g ORDER BY source""".stripMargin,

    // Twin of q160: same top-K off the O(types) rollup, HUGEINT
    // cross-multiplied deviations, one double conversion at the end.
    "q160_term_dispersion" ->
      s"""WITH t AS (SELECT source, unnest(${Sql.toks("text")}) AS w
         |           FROM documents),
         |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS csw
         |       FROM t GROUP BY 1, 2),
         |top AS (SELECT w, CAST(sum(csw) AS BIGINT) AS ct
         |        FROM tf GROUP BY w ORDER BY ct DESC, w LIMIT $DispTopK),
         |ns AS (SELECT source, CAST(sum(csw) AS BIGINT) AS n_i
         |       FROM tf GROUP BY source),
         |tot AS (SELECT CAST(sum(n_i) AS BIGINT) AS n FROM ns),
         |spine AS (SELECT ns.source, ns.n_i, top.w, top.ct, tot.n
         |          FROM ns CROSS JOIN top CROSS JOIN tot),
         |j AS (SELECT spine.w, spine.ct, spine.n,
         |        abs(CAST(coalesce(tf.csw, 0) AS HUGEINT) * spine.n
         |          - CAST(spine.n_i AS HUGEINT) * spine.ct) AS dev
         |      FROM spine LEFT JOIN tf
         |        ON tf.source = spine.source AND tf.w = spine.w),
         |g AS (SELECT w, ct, n, sum(dev) AS s FROM j GROUP BY 1, 2, 3)
         |SELECT w, ct AS c,
         |  CAST(floor(CAST(s AS DOUBLE)
         |    / (2.0 * CAST(ct AS DOUBLE) * CAST(n AS DOUBLE))
         |    * 1000000.0 + 0.5) AS BIGINT) AS dp_micro
         |FROM g ORDER BY c DESC, w""".stripMargin,

    // Twin of q161: the q26 oracle's langid argmax device applied
    // per sentence, the q154 −p·ln p quantize-then-sum, integer
    // divisions for the rollup means.
    "q161_code_switch" -> {
      def hits(dict: Seq[String]): String = {
        val lits = dict.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(stoks, t -> list_contains($lits, t)))"
      }
      val scores = TextOps.LangDicts.map { case (l, dct) => l -> hits(dct) }
      val best = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
      val langCase = scores
        .map { case (l, sc) => s"WHEN best > 0 AND $sc = best THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH s AS (SELECT source, doc_id,
         |             unnest(list_filter(string_split_regex(text,
         |               '${TextOps.SentencePattern}'),
         |               x -> len(trim(x)) > 0)) AS sent
         |           FROM documents),
         |sl AS (SELECT source, doc_id, $langCase AS sl
         |       FROM (SELECT *, $best AS best
         |             FROM (SELECT source, doc_id,
         |                     ${Sql.toks("sent")} AS stoks FROM s))),
         |cnt AS (SELECT source, doc_id, sl, CAST(count(*) AS BIGINT) AS c
         |        FROM sl GROUP BY 1, 2, 3),
         |per AS (SELECT source, doc_id, CAST(sum(c) AS BIGINT) AS n_sent,
         |          CAST(count(*) AS BIGINT) AS n_langs,
         |          CAST(max(c) AS BIGINT) AS c_max
         |        FROM cnt GROUP BY 1, 2),
         |ent AS (SELECT cnt.doc_id, CAST(sum(CAST(floor(
         |            -(CAST(c AS DOUBLE) / CAST(n_sent AS DOUBLE))
         |            * ln(CAST(c AS DOUBLE) / CAST(n_sent AS DOUBLE))
         |            * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ent_micro
         |        FROM cnt JOIN per ON per.doc_id = cnt.doc_id
         |        GROUP BY cnt.doc_id),
         |pd AS (SELECT per.source, per.n_langs, ent.ent_micro,
         |         CAST(floor((1.0 - CAST(c_max AS DOUBLE)
         |             / CAST(n_sent AS DOUBLE))
         |           * 1000000.0 + 0.5) AS BIGINT) AS cmi_micro
         |       FROM per JOIN ent ON ent.doc_id = per.doc_id),
         |g AS (SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(CASE WHEN n_langs >= 2 THEN 1 ELSE 0 END)
         |          AS BIGINT) AS n_mixed,
         |        CAST(sum(ent_micro) AS BIGINT) AS sum_ent,
         |        CAST(sum(cmi_micro) AS BIGINT) AS sum_cmi
         |      FROM pd GROUP BY source)
         |SELECT source, n_docs, n_mixed,
         |  (n_mixed * 1000000) // n_docs AS mixed_micro,
         |  sum_ent // n_docs AS mean_ent_micro,
         |  sum_cmi // n_docs AS mean_cmi_micro
         |FROM g ORDER BY source""".stripMargin
    },

    "q92_bpe_vocab" -> bpeOracle,

    // Twin of q107: same derived snapshots, FULL JOIN, fingerprint
    // classification, per-(lang, status) rollup.
    "q107_snapshot_diff" ->
      s"""WITH d AS (SELECT doc_id, lang, text FROM documents),
         |a AS (SELECT doc_id, lang, ${Sql.polyHash("text")} AS fp_a
         |      FROM d WHERE doc_id % 7 <> 3),
         |b AS (SELECT doc_id, lang AS lang_b,
         |        ${Sql.polyHash(
                    "(CASE WHEN doc_id % 11 = 0 THEN text || ' [v2]' ELSE text END)")}
         |          AS fp_b
         |      FROM d WHERE doc_id % 5 <> 2),
         |j AS (SELECT coalesce(a.lang, b.lang_b) AS lang,
         |        CASE WHEN fp_a IS NULL THEN 'added'
         |             WHEN fp_b IS NULL THEN 'removed'
         |             WHEN fp_a = fp_b THEN 'unchanged'
         |             ELSE 'changed' END AS status
         |      FROM a FULL JOIN b ON a.doc_id = b.doc_id)
         |SELECT lang, status, count(*) AS n FROM j
         |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

    // Twin of q116: q107's snapshot derivations, per-token
    // hash-bucket counts (the q103 position device), the FULL
    // lang×B grid, and the identical p/q/m expression trees with
    // each bucket's JS term nano-rounded before the BIGINT sum.
    "q116_dist_drift" -> {
      val B = DriftBuckets
      s"""WITH d AS (SELECT doc_id, lang, text FROM documents),
         |o AS (SELECT lang, (${Sql.polyHash("toks[u.i+1]")}) % $B AS b
         |      FROM (SELECT lang, ${Sql.toks("text")} AS toks
         |            FROM d WHERE doc_id % 7 <> 3) t,
         |           unnest(range(0, len(toks))) u(i)),
         |nw AS (SELECT lang, (${Sql.polyHash("toks[u.i+1]")}) % $B AS b
         |       FROM (SELECT lang, ${Sql.toks(
                   "(CASE WHEN doc_id % 11 = 0 THEN text || ' [v2]' ELSE text END)")}
         |               AS toks
         |             FROM d WHERE doc_id % 5 <> 2) t,
         |            unnest(range(0, len(toks))) u(i)),
         |co AS (SELECT lang, b, count(*) AS co FROM o GROUP BY 1, 2),
         |cn AS (SELECT lang, b, count(*) AS cn FROM nw GROUP BY 1, 2),
         |langs AS (SELECT DISTINCT lang FROM (
         |            SELECT lang FROM d WHERE doc_id % 7 <> 3
         |            UNION ALL SELECT lang FROM d WHERE doc_id % 5 <> 2)),
         |grid AS (SELECT l.lang, t.b FROM langs l, range(0, $B) t(b)),
         |j AS (SELECT g.lang, g.b,
         |        coalesce(co.co, CAST(0 AS BIGINT)) AS co,
         |        coalesce(cn.cn, CAST(0 AS BIGINT)) AS cn
         |      FROM grid g LEFT JOIN co ON co.lang = g.lang AND co.b = g.b
         |                  LEFT JOIN cn ON cn.lang = g.lang AND cn.b = g.b),
         |tt AS (SELECT lang, CAST(sum(co) AS BIGINT) AS no,
         |         CAST(sum(cn) AS BIGINT) AS nn
         |       FROM j GROUP BY 1),
         |pq AS (SELECT j.lang, tt.no, tt.nn,
         |         CAST(j.co + 1 AS DOUBLE) / CAST(tt.no + $B AS DOUBLE) AS po,
         |         CAST(j.cn + 1 AS DOUBLE) / CAST(tt.nn + $B AS DOUBLE) AS pn
         |       FROM j JOIN tt ON tt.lang = j.lang),
         |tm AS (SELECT lang, no, nn,
         |         CAST(floor((po * ln(po / m) + pn * ln(pn / m)) * 0.5
         |           * 1000000000.0 + 0.5) AS BIGINT) AS tn
         |       FROM (SELECT *, (po + pn) / 2.0 AS m FROM pq))
         |SELECT lang, max(no) AS n_old, max(nn) AS n_new,
         |  CAST(sum(tn) AS BIGINT) AS jsd_nano
         |FROM tm GROUP BY 1 ORDER BY 1""".stripMargin
    },

    // Twin of q105: replay training ([[bpeTrainCtes]]), read each
    // distinct word's final piece count off the trained vocab state,
    // weight by per-lang word-instance counts. The inner join is
    // total — the vocab IS the corpus's word set — so a lang appears
    // iff it has at least one word (the Spark side's n_words > 0
    // filter).
    "q105_bpe_fertility" -> {
      // composed without an outer stripMargin (bpeOracle's note)
      val post =
        s"""fin AS (SELECT word, CAST(len(${bpeSyms("wstr")}) AS BIGINT) AS np
           |        FROM v$BpeRounds),
           |lw AS (SELECT lang, w AS word, count(*) AS c
           |       FROM (SELECT lang, unnest(${Sql.preToks("text")}) AS w
           |             FROM documents)
           |       GROUP BY 1, 2),
           |agg AS (SELECT lang,
           |          CAST(sum(c) AS BIGINT) AS n_words,
           |          CAST(sum(c * np) AS BIGINT) AS n_pieces
           |        FROM lw JOIN fin ON fin.word = lw.word GROUP BY 1)
           |SELECT lang, n_words, n_pieces,
           |  CAST(floor(CAST(n_pieces AS DOUBLE) / CAST(n_words AS DOUBLE)
           |    * 1000000.0 + 0.5) AS BIGINT) AS fertility_micro
           |FROM agg ORDER BY lang""".stripMargin
      s"WITH $bpeTrainCtes,\n$post"
    },

    "q87_bpe_pairs" ->
      s"""WITH t AS (SELECT unnest(${Sql.toks("text")}) AS tok FROM documents),
         |p AS (SELECT substr(tok, CAST(u.i AS INTEGER), 2) AS pair
         |      FROM t, unnest(range(1, length(tok))) u(i)
         |      WHERE length(tok) > 1),
         |c AS (SELECT pair, count(*) AS n FROM p GROUP BY 1),
         |r AS (SELECT pair, n, row_number() OVER (ORDER BY n DESC, pair) AS rn
         |      FROM c)
         |SELECT pair, n, rn FROM r WHERE rn <= 20 ORDER BY rn""".stripMargin,

    "q80_zorder_layout" -> {
      val interleave = (0 until 8).map { b =>
        s"(((x >> $b) & 1) << ${2 * b}) + (((y >> $b) & 1) << ${2 * b + 1})"
      }.mkString(" + ")
      s"""WITH p AS (SELECT o_custkey % 256 AS x,
         |             CAST(date_diff('day', DATE '1970-01-01',
         |                            CAST(o_orderdate AS DATE)) AS BIGINT) % 256 AS y
         |           FROM orders),
         |z AS (SELECT x, y, ($interleave) AS z FROM p)
         |SELECT z >> 10 AS zfile, count(*) AS n,
         |  min(x) AS x_min, max(x) AS x_max,
         |  min(y) AS y_min, max(y) AS y_max
         |FROM z GROUP BY 1 ORDER BY zfile""".stripMargin
    },

    "q68_winnow_overlap" ->
      s"""WITH t AS (SELECT doc_id, ${Sql.toks("text")} AS toks FROM documents),
         |s AS (SELECT doc_id, len(toks)-${WinnowK - 1} AS m, toks
         |      FROM t WHERE len(toks) >= $WinnowK),
         |g AS (SELECT doc_id, m, CAST(u.i AS INT) AS pos,
         |        ${Sql.polyHash(s"array_to_string(toks[u.i+1 : u.i+$WinnowK], ' ')")} AS h
         |      FROM s, unnest(range(0, m)) u(i)),
         |w AS (SELECT doc_id, m, pos,
         |        min(h) OVER (PARTITION BY doc_id ORDER BY pos
         |          ROWS BETWEEN CURRENT ROW AND ${WinnowW - 1} FOLLOWING) AS wm
         |      FROM g),
         |f AS (SELECT DISTINCT doc_id, wm AS fp FROM w
         |      WHERE pos <= m - $WinnowW OR (m < $WinnowW AND pos = 0)),
         |kept AS (SELECT doc_id, fp FROM
         |           (SELECT doc_id, fp, count(*) OVER (PARTITION BY fp) AS df FROM f)
         |         WHERE df <= $WinnowMaxDf),
         |cnt AS (SELECT doc_id, count(*) AS n_fp FROM kept GROUP BY doc_id),
         |pairs AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b, count(*) AS n_shared
         |          FROM kept x JOIN kept y ON x.fp = y.fp AND x.doc_id < y.doc_id
         |          GROUP BY x.doc_id, y.doc_id
         |          HAVING count(*) >= $WinnowMinShared)
         |SELECT p.id_a, p.id_b, p.n_shared,
         |  CAST(p.n_shared AS DOUBLE) / CAST(least(ca.n_fp, cb.n_fp) AS DOUBLE) AS overlap
         |FROM pairs p
         |JOIN cnt ca ON p.id_a = ca.doc_id
         |JOIN cnt cb ON p.id_b = cb.doc_id
         |ORDER BY id_a, id_b""".stripMargin,

    "q69_shard_assign" ->
      s"""WITH d AS (SELECT doc_id, ${Sql.polyHash("text")} AS h,
         |             CAST(len(${Sql.toks("text")}) AS BIGINT) AS n_tok
         |           FROM documents),
         |sh AS (SELECT doc_id, h, n_tok, h % $NShards AS shard_id FROM d),
         |tot AS (SELECT shard_id, count(*) AS n_docs,
         |          CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |        FROM sh GROUP BY shard_id),
         |r AS (SELECT shard_id, doc_id, h,
         |        row_number() OVER (PARTITION BY shard_id ORDER BY h, doc_id) AS slot
         |      FROM sh)
         |SELECT r.shard_id, CAST(r.slot AS BIGINT) AS slot, r.doc_id, r.h,
         |  t.n_docs, t.n_tokens
         |FROM r JOIN tot t ON r.shard_id = t.shard_id
         |WHERE r.slot <= $HeadSlots
         |ORDER BY r.shard_id, slot""".stripMargin,

    // Twin of q133: same per-source running sum (ROWS UNBOUNDED
    // PRECEDING, doc_id order), same start-offset shard rule, all
    // integer except the one floor-div both engines share.
    "q133_token_packing" ->
      s"""WITH t AS (SELECT source, doc_id,
         |             CAST(len(${Sql.toks("text")}) AS BIGINT) AS n_tok
         |           FROM documents),
         |o AS (SELECT source, doc_id, n_tok,
         |        sum(n_tok) OVER (PARTITION BY source ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) - n_tok AS off
         |      FROM t),
         |a AS (SELECT source,
         |        CAST(floor(CAST(off AS DOUBLE) / $PackTokens.0) AS BIGINT) AS shard,
         |        doc_id, n_tok
         |      FROM o)
         |SELECT source, shard, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM a GROUP BY 1, 2 ORDER BY source, shard""".stripMargin,

    "q70_inverted_index" ->
      s"""WITH t AS (SELECT doc_id, ${Sql.toks("text")} AS toks FROM documents),
         |p AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
         |        ${Sql.polyHash("toks[u.i+1]")} AS th
         |      FROM t, unnest(range(0, len(toks))) u(i)),
         |g AS (SELECT th, doc_id, count(*) AS tf,
         |        string_agg(CAST(pos AS VARCHAR), ',' ORDER BY pos) AS positions
         |      FROM p WHERE th % $IdxSampleMod = 0
         |      GROUP BY th, doc_id)
         |SELECT th, doc_id, tf,
         |  CAST(count(*) OVER (PARTITION BY th) AS BIGINT) AS df, positions
         |FROM g ORDER BY th, doc_id""".stripMargin,

    "q71_cdc_chunks" ->
      s"""WITH t AS (SELECT doc_id, ${Sql.toks("text")} AS toks FROM documents),
         |p AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
         |        ${Sql.polyHash("toks[u.i+1]")} AS th
         |      FROM t, unnest(range(0, len(toks))) u(i)),
         |c AS (SELECT doc_id, pos, th,
         |        COALESCE(CAST(sum(CASE WHEN th % $CdcMod = 0 THEN 1 ELSE 0 END)
         |          OVER (PARTITION BY doc_id ORDER BY pos
         |                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |          AS BIGINT), 0) AS chunk_id
         |      FROM p),
         |h AS (SELECT doc_id, chunk_id, count(*) AS n_tok,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT), list(th ORDER BY pos)),
         |          (a, x) -> (a*31 + x) % $P) AS chunk_hash
         |      FROM c GROUP BY doc_id, chunk_id)
         |SELECT chunk_hash, count(*) AS n_copies,
         |  CAST(min(n_tok) AS BIGINT) AS n_tokens
         |FROM h GROUP BY chunk_hash HAVING count(*) >= 2
         |ORDER BY chunk_hash""".stripMargin,

    // Twin of q119: tf/df as exact counts, ln micro-rounded into the
    // ranked score, row_number ranks (the TopKPerKey contract —
    // TopKSpec pins rank equivalence).
    // Twin of q125: identical association order inside the ln (the
    // operands are exact integers cast to double; ln's 1-ulp libm
    // divergence is absorbed by the micro rounding — q43's note).
    "q125_pmi_bigrams" ->
      s"""WITH t AS (SELECT lang, ${Sql.toks("text")} AS toks FROM documents
         |           WHERE len(${Sql.toks("text")}) > 1),
         |bi0 AS (SELECT lang, toks[u.i + 1] AS w1, toks[u.i + 2] AS w2
         |        FROM t, unnest(range(0, len(toks) - 1)) u(i)),
         |bi AS (SELECT lang, w1, w2, CAST(count(*) AS BIGINT) AS n_ab
         |       FROM bi0 GROUP BY lang, w1, w2 HAVING count(*) >= $PmiMinCount),
         |uni AS (SELECT lang, unnest(${Sql.toks("text")}) AS w FROM documents),
         |u1 AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c FROM uni GROUP BY lang, w),
         |tot AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_uni FROM u1 GROUP BY lang),
         |nb AS (SELECT lang, CAST(sum(len(toks)) - count(*) AS BIGINT) AS n_bi
         |       FROM t GROUP BY lang),
         |sc AS (SELECT bi.lang, bi.w1, bi.w2, bi.n_ab,
         |         CAST(floor(ln(
         |           (CAST(bi.n_ab AS DOUBLE) * CAST(tot.n_uni AS DOUBLE)
         |              * CAST(tot.n_uni AS DOUBLE))
         |           / (CAST(nb.n_bi AS DOUBLE) * CAST(a.c AS DOUBLE)
         |              * CAST(b.c AS DOUBLE)))
         |           * 1000000.0 + 0.5) AS BIGINT) AS pmi_micro
         |       FROM bi
         |       JOIN u1 a ON a.lang = bi.lang AND a.w = bi.w1
         |       JOIN u1 b ON b.lang = bi.lang AND b.w = bi.w2
         |       JOIN tot ON tot.lang = bi.lang
         |       JOIN nb ON nb.lang = bi.lang),
         |r AS (SELECT lang, w1, w2, n_ab, pmi_micro,
         |        CAST(row_number() OVER (PARTITION BY lang
         |          ORDER BY pmi_micro DESC, w1, w2) AS BIGINT) AS rn
         |      FROM sc)
         |SELECT lang, w1, w2, n_ab, pmi_micro, rn FROM r
         |WHERE rn <= $PmiTopK ORDER BY lang, rn""".stripMargin,

    // Twin of q139: same micro-quantize-then-BIGINT-sum regression
    // terms (ranks via row_number under the TopKPerKey tie order),
    // same fixed-order closed-form slope over the exact integer sums.
    "q139_zipf_slope" ->
      s"""WITH t AS (SELECT lang, unnest(${Sql.toks("text")}) AS w FROM documents),
         |f AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS freq
         |      FROM t GROUP BY lang, w),
         |r AS (SELECT lang, freq, row_number() OVER (PARTITION BY lang
         |        ORDER BY freq DESC, w) AS rn FROM f),
         |k AS (SELECT lang,
         |        CAST(floor(ln(CAST(rn AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
         |        CAST(floor(ln(CAST(freq AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y,
         |        CAST(floor(ln(CAST(rn AS DOUBLE)) * ln(CAST(freq AS DOUBLE))
         |          * 1000000.0 + 0.5) AS BIGINT) AS xy,
         |        CAST(floor(ln(CAST(rn AS DOUBLE)) * ln(CAST(rn AS DOUBLE))
         |          * 1000000.0 + 0.5) AS BIGINT) AS xx
         |      FROM r WHERE rn <= $ZipfTopK),
         |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_terms,
         |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |        CAST(sum(xy) AS BIGINT) AS sxy, CAST(sum(xx) AS BIGINT) AS sxx
         |      FROM k GROUP BY lang),
         |s AS (SELECT lang, n_terms,
         |        CAST(n_terms AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1000000.0)
         |          - (CAST(sx AS DOUBLE) / 1000000.0)
         |            * (CAST(sx AS DOUBLE) / 1000000.0) AS den,
         |        CAST(n_terms AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1000000.0)
         |          - (CAST(sx AS DOUBLE) / 1000000.0)
         |            * (CAST(sy AS DOUBLE) / 1000000.0) AS num,
         |        CAST(sx AS DOUBLE) / 1000000.0 AS sxd,
         |        CAST(sy AS DOUBLE) / 1000000.0 AS syd
         |      FROM g)
         |SELECT lang, n_terms,
         |  CASE WHEN den <> 0.0
         |    THEN CAST(floor(num / den * 1000000.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS slope_micro,
         |  CASE WHEN den <> 0.0
         |    THEN CAST(floor((syd - (num / den) * sxd)
         |      / CAST(n_terms AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS icept_micro
         |FROM s ORDER BY lang""".stripMargin,

    // Twin of q149: the q139 regression device over per-(lang,
    // source) (ln N, ln V) points.
    "q149_heaps_fit" ->
      s"""WITH t AS (SELECT lang, source, unnest(${Sql.toks("text")}) AS w
         |           FROM documents),
         |f AS (SELECT lang, source, w, CAST(count(*) AS BIGINT) AS c
         |      FROM t GROUP BY lang, source, w),
         |p AS (SELECT lang, source, CAST(sum(c) AS BIGINT) AS n_tok,
         |        CAST(count(*) AS BIGINT) AS n_typ
         |      FROM f GROUP BY lang, source),
         |k AS (SELECT lang,
         |        CAST(floor(ln(CAST(n_tok AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS x,
         |        CAST(floor(ln(CAST(n_typ AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT) AS y,
         |        CAST(floor(ln(CAST(n_tok AS DOUBLE)) * ln(CAST(n_typ AS DOUBLE))
         |          * 1000000.0 + 0.5) AS BIGINT) AS xy,
         |        CAST(floor(ln(CAST(n_tok AS DOUBLE)) * ln(CAST(n_tok AS DOUBLE))
         |          * 1000000.0 + 0.5) AS BIGINT) AS xx
         |      FROM p),
         |g AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_points,
         |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
         |        CAST(sum(xy) AS BIGINT) AS sxy, CAST(sum(xx) AS BIGINT) AS sxx
         |      FROM k GROUP BY lang),
         |s AS (SELECT lang, n_points,
         |        CAST(n_points AS DOUBLE) * (CAST(sxx AS DOUBLE) / 1000000.0)
         |          - (CAST(sx AS DOUBLE) / 1000000.0)
         |            * (CAST(sx AS DOUBLE) / 1000000.0) AS den,
         |        CAST(n_points AS DOUBLE) * (CAST(sxy AS DOUBLE) / 1000000.0)
         |          - (CAST(sx AS DOUBLE) / 1000000.0)
         |            * (CAST(sy AS DOUBLE) / 1000000.0) AS num,
         |        CAST(sx AS DOUBLE) / 1000000.0 AS sxd,
         |        CAST(sy AS DOUBLE) / 1000000.0 AS syd
         |      FROM g)
         |SELECT lang, n_points,
         |  CASE WHEN den <> 0.0
         |    THEN CAST(floor(num / den * 1000000.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS beta_micro,
         |  CASE WHEN den <> 0.0
         |    THEN CAST(floor((syd - (num / den) * sxd)
         |      / CAST(n_points AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS lnk_micro
         |FROM s ORDER BY lang""".stripMargin,

    // Twin of q140: exact integer counts, micro int division, ln
    // ratio over exact integers (q43's libm note).
    "q140_lexical_diversity" ->
      s"""WITH t AS (SELECT lang, unnest(${Sql.toks("text")}) AS w FROM documents),
         |f AS (SELECT lang, w, CAST(count(*) AS BIGINT) AS c
         |      FROM t GROUP BY lang, w),
         |g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_tokens,
         |        CAST(count(*) AS BIGINT) AS n_types,
         |        CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
         |        CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_dis
         |      FROM f GROUP BY lang)
         |SELECT lang, n_tokens, n_types, n_hapax, n_dis,
         |  (n_types * 1000000) // n_tokens AS ttr_micro,
         |  (n_hapax * 1000000) // n_types AS hapax_micro,
         |  CASE WHEN n_tokens > 1
         |    THEN CAST(floor(ln(CAST(n_types AS DOUBLE))
         |      / ln(CAST(n_tokens AS DOUBLE)) * 1000000.0 + 0.5) AS BIGINT)
         |    ELSE 0 END AS herdan_micro
         |FROM g ORDER BY lang""".stripMargin,

    // Twin of q141: totals closed-form off token counts, distincts
    // over the same shingle polyhashes the kernel computes (the
    // q138 device); LEFT JOIN keeps the zero rows.
    "q141_distinct_ngrams" -> {
      def grams(n: Int) =
        s"""SELECT lang, $n AS n, unnest(list_transform(
           |        ${Sql.shingleSet("text", n)}, t -> ${Sql.polyHash("t")})) AS h
           |      FROM documents""".stripMargin
      s"""WITH d AS (SELECT lang, ${Sql.toks("text")} AS toks FROM documents),
         |tot AS (SELECT lang, u.n, CAST(sum(greatest(
         |          len(toks) - (u.n - 1), 0)) AS BIGINT) AS n_total
         |        FROM d, unnest([1, 2, 3]) u(n) GROUP BY lang, u.n),
         |gs AS (${grams(1)}
         |       UNION ALL ${grams(2)}
         |       UNION ALL ${grams(3)}),
         |dis AS (SELECT lang, n, CAST(count(DISTINCT h) AS BIGINT) AS n_distinct
         |        FROM gs GROUP BY lang, n)
         |SELECT tot.lang, CAST(tot.n AS BIGINT) AS n, tot.n_total,
         |  coalesce(dis.n_distinct, 0) AS n_distinct,
         |  CASE WHEN tot.n_total > 0
         |    THEN (coalesce(dis.n_distinct, 0) * 1000000) // tot.n_total
         |    ELSE 0 END AS distinct_micro
         |FROM tot LEFT JOIN dis ON dis.lang = tot.lang AND dis.n = tot.n
         |ORDER BY tot.lang, n""".stripMargin
    },

    // Twin of q142: exact cf/df integers, micro int division,
    // row_number under the TopKPerKey tie order.
    "q142_burstiness" ->
      s"""WITH t AS (SELECT lang, doc_id, unnest(${Sql.toks("text")}) AS w
         |           FROM documents),
         |pd AS (SELECT lang, w, doc_id, CAST(count(*) AS BIGINT) AS c
         |       FROM t GROUP BY lang, w, doc_id),
         |st AS (SELECT lang, w, CAST(sum(c) AS BIGINT) AS cf,
         |         CAST(count(*) AS BIGINT) AS df
         |       FROM pd GROUP BY lang, w),
         |fl AS (SELECT *, (cf * 1000000) // df AS burst_micro
         |       FROM st WHERE df >= $BurstMinDf),
         |r AS (SELECT *, CAST(row_number() OVER (PARTITION BY lang
         |        ORDER BY burst_micro DESC, cf DESC, w) AS BIGINT) AS rn
         |      FROM fl)
         |SELECT lang, w, cf, df, burst_micro, rn FROM r
         |WHERE rn <= $BurstTopK ORDER BY lang, rn""".stripMargin,

    // Twin of q144: the q26 oracle's langid argmax device (same
    // dicts, same fixed tie order), cross-tab + micro fractions.
    "q144_lang_confusion" -> {
      def hits(dict: Seq[String]): String = {
        val lits = dict.map(w => s"'$w'").mkString("[", ", ", "]")
        s"len(list_filter(toks, t -> list_contains($lits, t)))"
      }
      val scores = TextOps.LangDicts.map { case (l, dct) => l -> hits(dct) }
      val best = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
      val langCase = scores
        .map { case (l, sc) => s"WHEN best > 0 AND $sc = best THEN '$l'" }
        .mkString("CASE ", " ", " ELSE 'und' END")
      s"""WITH d AS (SELECT lang, ${Sql.toks("text")} AS toks FROM documents),
         |b AS (SELECT lang, toks, $best AS best FROM d),
         |p AS (SELECT lang, $langCase AS lang_pred FROM b),
         |cm AS (SELECT lang, lang_pred, CAST(count(*) AS BIGINT) AS n_docs
         |       FROM p GROUP BY lang, lang_pred),
         |tt AS (SELECT lang, CAST(sum(n_docs) AS BIGINT) AS total
         |       FROM cm GROUP BY lang)
         |SELECT cm.lang, cm.lang_pred, cm.n_docs,
         |  (cm.n_docs * 1000000) // tt.total AS frac_micro
         |FROM cm JOIN tt USING (lang)
         |ORDER BY cm.lang, cm.lang_pred""".stripMargin
    },

    // Twin of q145: row_number under the TopKPerKey tie order, the
    // same micro-quantized ln ratios and integer divisions.
    "q145_length_tail" ->
      s"""WITH l AS (SELECT source, doc_id,
         |             CAST(len(${Sql.toks("text")}) AS BIGINT) AS n_tok
         |           FROM documents),
         |p AS (SELECT source, doc_id, n_tok, row_number() OVER (
         |        PARTITION BY source ORDER BY n_tok DESC, doc_id) AS rn
         |      FROM l WHERE n_tok > 0),
         |top AS (SELECT * FROM p WHERE rn <= ${HillK + 1}),
         |c AS (SELECT source, least(CAST(count(*) AS BIGINT) - 1,
         |        CAST($HillK AS BIGINT)) AS k
         |      FROM top GROUP BY source),
         |rf AS (SELECT top.source, top.n_tok AS x_ref
         |       FROM top JOIN c USING (source) WHERE top.rn = c.k + 1),
         |sm AS (SELECT top.source, CAST(sum(CAST(floor(
         |         ln(CAST(top.n_tok AS DOUBLE) / CAST(rf.x_ref AS DOUBLE))
         |         * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS t
         |       FROM top JOIN c USING (source) JOIN rf USING (source)
         |       WHERE top.rn <= c.k AND c.k > 0 GROUP BY top.source)
         |SELECT c.source, greatest(c.k, CAST(0 AS BIGINT)) AS k_tail,
         |  CASE WHEN c.k > 0 AND sm.t IS NOT NULL THEN sm.t // c.k
         |    ELSE CAST(0 AS BIGINT) END AS hill_inv_micro,
         |  CASE WHEN coalesce(sm.t, 0) > 0
         |    THEN (c.k * 1000000000000) // sm.t
         |    ELSE CAST(0 AS BIGINT) END AS alpha_micro
         |FROM c LEFT JOIN sm ON sm.source = c.source
         |ORDER BY c.source""".stripMargin,

    // Twin of q146: same histogram device, same doubled tie-run
    // rank mass (HUGEINT here ≡ the Spark side's DECIMAL(38,0) —
    // both exact, both convert once to double at the end).
    "q146_gini_lengths" ->
      s"""WITH l AS (SELECT lang,
         |             CAST(len(${Sql.toks("text")}) AS BIGINT) AS n_tok
         |           FROM documents),
         |h AS (SELECT lang, n_tok, CAST(count(*) AS BIGINT) AS c
         |      FROM l GROUP BY lang, n_tok),
         |f AS (SELECT lang, n_tok, c,
         |        coalesce(sum(c) OVER (PARTITION BY lang ORDER BY n_tok
         |          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
         |          0) AS fprev
         |      FROM h),
         |g AS (SELECT lang, CAST(sum(c) AS BIGINT) AS n_docs,
         |        sum(CAST(n_tok AS HUGEINT) * c) AS s,
         |        sum(CAST(n_tok AS HUGEINT) * c * (2 * fprev + c + 1)) AS t2
         |      FROM f GROUP BY lang)
         |SELECT lang, n_docs, CAST(s AS BIGINT) AS n_tokens,
         |  CASE WHEN s > 0 THEN CAST(floor((CAST(t2 AS DOUBLE)
         |      / (CAST(n_docs AS DOUBLE) * CAST(s AS DOUBLE))
         |      - CAST(n_docs + 1 AS DOUBLE) / CAST(n_docs AS DOUBLE))
         |    * 1000000.0 + 0.5) AS BIGINT)
         |  ELSE CAST(0 AS BIGINT) END AS gini_micro
         |FROM g ORDER BY lang""".stripMargin,

    // Twin of q123: same distinct-shingle-hash device as the q24/
    // q121 oracles, df + join-back in plain SQL.
    "q123_ngram_novelty" ->
      s"""WITH s AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         ${Sql.shingleSet("text", NovK)}, t -> ${Sql.polyHash("t")}))) AS sh
         |       FROM documents),
         |dfs AS (SELECT sh, count(*) AS df FROM s GROUP BY sh),
         |per AS (SELECT doc_id,
         |          CAST(count(*) AS BIGINT) AS n_grams,
         |          CAST(sum(CASE WHEN dfs.df > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_shared
         |        FROM s JOIN dfs USING (sh) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  coalesce(per.n_grams, CAST(0 AS BIGINT)) AS n_grams,
         |  coalesce(per.n_shared, CAST(0 AS BIGINT)) AS n_shared,
         |  CASE WHEN coalesce(per.n_grams, CAST(0 AS BIGINT)) > 0 THEN
         |    CAST(floor((CAST(1.0 AS DOUBLE)
         |        - CAST(per.n_shared AS DOUBLE) / CAST(per.n_grams AS DOUBLE))
         |      * 1000000.0 + 0.5) AS BIGINT) END AS novelty_micro
         |FROM documents d LEFT JOIN per ON per.doc_id = d.doc_id
         |ORDER BY d.doc_id""".stripMargin,

    "q119_tfidf_keywords" ->
      s"""WITH t AS (SELECT doc_id, unnest(${Sql.toks("text")}) AS tok
         |           FROM documents),
         |tf AS (SELECT doc_id, tok, count(*) AS tf FROM t GROUP BY 1, 2),
         |dfs AS (SELECT tok, count(*) AS df FROM tf GROUP BY 1),
         |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM documents),
         |sc AS (SELECT doc_id, tf.tok,
         |         CAST(floor(CAST(tf.tf AS DOUBLE)
         |             * ln(n.n / CAST(dfs.df AS DOUBLE))
         |           * 1000000.0 + 0.5) AS BIGINT) AS tfidf_micro
         |       FROM tf JOIN dfs ON dfs.tok = tf.tok CROSS JOIN n),
         |r AS (SELECT doc_id, tok, tfidf_micro,
         |        CAST(row_number() OVER (PARTITION BY doc_id
         |          ORDER BY tfidf_micro DESC, tok) AS BIGINT) AS rn
         |      FROM sc)
         |SELECT doc_id, tok, tfidf_micro, rn FROM r WHERE rn <= $TfidfTopK
         |ORDER BY doc_id, rn""".stripMargin,

    "q72_unigram_surprisal" -> {
      import graft.ops.Determinism.Oracles
      s"""WITH t AS (SELECT doc_id, ${Sql.toks("text")} AS toks FROM documents),
         |p AS (SELECT doc_id, unnest(toks) AS tok FROM t),
         |v AS (SELECT tok, count(*) AS c FROM p GROUP BY tok),
         |n AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM v),
         |s AS (SELECT p.doc_id,
         |        -ln(CAST(v.c AS DOUBLE) / CAST(n.n AS DOUBLE)) AS surp
         |      FROM p JOIN v ON p.tok = v.tok CROSS JOIN n)
         |SELECT doc_id, count(*) AS n_tok,
         |  ${Oracles.fround(Oracles.favg("surp"), XentDecimals)} AS xent
         |FROM s GROUP BY doc_id ORDER BY doc_id""".stripMargin
    },

    "q102_bigram_surprisal" ->
      // composed without an outer stripMargin (bpeOracle's note)
      (s"WITH $sbOracleCtes\n" +
        "SELECT doc_id, n_tok, n_backoff, xent FROM sb ORDER BY doc_id"),

    // Twin of q175: same block split (integer floor division), the
    // same adjacent-block multiset overlap via least(), the same
    // strict-local-minimum + below-mean cross-multiply filter.
    "q175_text_tiling" ->
      s"""WITH t AS (SELECT doc_id, ${Sql.toks("text")} AS toks FROM documents),
         |c AS (SELECT doc_id, u.i // $TileBlock AS blk, toks[u.i + 1] AS tok
         |      FROM t, unnest(range(0, len(toks))) u(i)),
         |cc AS (SELECT doc_id, blk, tok, CAST(count(*) AS BIGINT) AS c
         |       FROM c GROUP BY 1, 2, 3),
         |nb AS (SELECT doc_id, CAST(max(blk) + 1 AS BIGINT) AS n_blocks
         |       FROM cc GROUP BY 1),
         |sim AS (SELECT a.doc_id, a.blk AS g,
         |          CAST(sum(least(a.c, b.c)) AS BIGINT) AS overlap
         |        FROM cc a JOIN cc b ON b.doc_id = a.doc_id
         |          AND b.blk = a.blk + 1 AND b.tok = a.tok
         |        GROUP BY 1, 2),
         |sp AS (SELECT nb.doc_id, n_blocks, u.g AS g
         |       FROM nb, unnest(range(0, n_blocks - 1)) u(g)
         |       WHERE n_blocks >= 2),
         |gp AS (SELECT sp.doc_id, n_blocks, sp.g,
         |         coalesce(sim.overlap, CAST(0 AS BIGINT)) AS overlap
         |       FROM sp LEFT JOIN sim ON sim.doc_id = sp.doc_id
         |         AND sim.g = sp.g),
         |sc AS (SELECT doc_id, n_blocks, g, overlap,
         |         lag(overlap) OVER (PARTITION BY doc_id ORDER BY g) AS prv,
         |         lead(overlap) OVER (PARTITION BY doc_id ORDER BY g) AS nxt,
         |         CAST(count(*) OVER (PARTITION BY doc_id) AS BIGINT) AS n_gaps,
         |         CAST(sum(overlap) OVER (PARTITION BY doc_id) AS BIGINT) AS tot
         |       FROM gp)
         |SELECT doc_id, n_blocks, g AS gap,
         |  CAST((g + 1) * $TileBlock AS BIGINT) AS token_offset, overlap,
         |  coalesce(prv, CAST(-1 AS BIGINT)) AS prev_overlap,
         |  coalesce(nxt, CAST(-1 AS BIGINT)) AS next_overlap
         |FROM sc
         |WHERE (prv IS NULL OR overlap < prv)
         |  AND (nxt IS NULL OR overlap < nxt)
         |  AND overlap * n_gaps < tot
         |ORDER BY doc_id, gap""".stripMargin,

    // Twin of q177: the q151-family count CTEs, the same add-one
    // LOO probability (integer arithmetic, one cast each side of
    // ONE division), micro-quantize-then-sum, integral mean.
    "q177_loo_novelty" ->
      s"""WITH t AS (SELECT source, unnest(${Sql.toks("text")}) AS w
         |           FROM documents),
         |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS tf
         |       FROM t GROUP BY 1, 2),
         |cw AS (SELECT w, CAST(sum(tf) AS BIGINT) AS cw FROM tf GROUP BY 1),
         |ns AS (SELECT source, CAST(sum(tf) AS BIGINT) AS n_s,
         |         CAST(count(*) AS BIGINT) AS n_terms
         |       FROM tf GROUP BY 1),
         |tot AS (SELECT CAST(sum(cw) AS BIGINT) AS n,
         |          CAST(count(*) AS BIGINT) AS v FROM cw),
         |sc AS (SELECT tf.source, ns.n_s, ns.n_terms,
         |         CAST(floor(-CAST(tf.tf AS DOUBLE)
         |           * ln(CAST(cw.cw - tf.tf + 1 AS DOUBLE)
         |               / CAST(tot.n - ns.n_s + tot.v AS DOUBLE))
         |           * 1000000.0 + 0.5) AS BIGINT) AS tterm,
         |         CASE WHEN cw.cw = tf.tf THEN 1 ELSE 0 END AS uniq
         |       FROM tf JOIN cw ON cw.w = tf.w
         |            JOIN ns ON ns.source = tf.source CROSS JOIN tot)
         |SELECT source, n_s AS n_tokens, n_terms,
         |  CAST(sum(uniq) AS BIGINT) AS n_unique_terms,
         |  CAST(floor(CAST(sum(tterm) AS DOUBLE) / CAST(n_s AS DOUBLE)
         |    + 0.5) AS BIGINT) AS xent_loo_micro
         |FROM sc GROUP BY source, n_s, n_terms ORDER BY source""".stripMargin,

    // Twin of q179: the same count CTEs, top-F marker LIMIT with the
    // (ct DESC, w) tie-break, micro frequencies, exact-int moments,
    // fixed-order double z (sqrt correctly rounded both engines),
    // rank-1 window for the top marker.
    "q179_stylometry" ->
      s"""WITH t AS (SELECT source, unnest(${Sql.toks("text")}) AS w
         |           FROM documents),
         |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS csw
         |       FROM t GROUP BY 1, 2),
         |mk AS (SELECT w FROM (SELECT w, CAST(sum(csw) AS BIGINT) AS ct
         |                      FROM tf GROUP BY w
         |                      ORDER BY ct DESC, w LIMIT $DeltaMarkers)),
         |ns AS (SELECT source, CAST(sum(csw) AS BIGINT) AS n_s
         |       FROM tf GROUP BY source),
         |fq AS (SELECT ns.source, ns.n_s, mk.w,
         |         CAST(floor(CAST(coalesce(tf.csw, 0) AS DOUBLE)
         |           / CAST(ns.n_s AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS fq
         |       FROM ns CROSS JOIN mk
         |       LEFT JOIN tf ON tf.source = ns.source AND tf.w = mk.w),
         |st AS (SELECT w, CAST(sum(fq) AS BIGINT) AS sf,
         |         CAST(sum(fq * fq) AS BIGINT) AS sf2,
         |         CAST(count(*) AS BIGINT) AS sc
         |       FROM fq GROUP BY w),
         |z AS (SELECT fq.source, fq.n_s, fq.w,
         |        CASE WHEN CAST(st.sf2 AS DOUBLE) / CAST(st.sc AS DOUBLE)
         |               - (CAST(st.sf AS DOUBLE) / CAST(st.sc AS DOUBLE))
         |               * (CAST(st.sf AS DOUBLE) / CAST(st.sc AS DOUBLE)) <= 0.0
         |             THEN CAST(0 AS BIGINT)
         |             ELSE CAST(floor(abs((CAST(fq.fq AS DOUBLE)
         |               - CAST(st.sf AS DOUBLE) / CAST(st.sc AS DOUBLE))
         |               / sqrt(CAST(st.sf2 AS DOUBLE) / CAST(st.sc AS DOUBLE)
         |                 - (CAST(st.sf AS DOUBLE) / CAST(st.sc AS DOUBLE))
         |                 * (CAST(st.sf AS DOUBLE) / CAST(st.sc AS DOUBLE))))
         |               * 1000000.0 + 0.5) AS BIGINT) END AS zq
         |      FROM fq JOIN st ON st.w = fq.w),
         |r AS (SELECT source, n_s, w, zq,
         |        row_number() OVER (PARTITION BY source
         |                           ORDER BY zq DESC, w ASC) AS rn
         |      FROM z)
         |SELECT source, n_s AS n_tokens,
         |  CAST(floor(CAST(sum(zq) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    + 0.5) AS BIGINT) AS delta_micro,
         |  max(CASE WHEN rn = 1 THEN w END) AS top_term,
         |  max(CASE WHEN rn = 1 THEN zq END) AS top_z_micro
         |FROM r GROUP BY source, n_s ORDER BY source""".stripMargin
  )

  /** The q102 scoring replay (t → pos → refpos → uni → tot → bi →
    * s → sb), ending with sb(doc_id, n_tok, n_backoff, xent) in
    * scope — ONE definition for the q102 oracle and q120's split
    * replay (a one-sided tweak would silently break the LM-scoring
    * twins' agreement). Already stripped — compose with plain
    * concatenation (bpeOracle's note). */
  private[queries] def sbOracleCtes: String = {
    import graft.ops.Determinism.Oracles
    val puni = "(CAST(coalesce(u.cu, 0) AS DOUBLE) + 1.0) / " +
      "(CAST(tot.n AS DOUBLE) + CAST(tot.v AS DOUBLE))"
    s"""t AS (SELECT doc_id, ${Sql.toks("text")} AS toks FROM documents),
       |pos AS (
       |  SELECT doc_id, toks[CAST(u.i AS INTEGER)] AS cur,
       |    CASE WHEN u.i = 1 THEN NULL
       |         ELSE toks[CAST(u.i AS INTEGER) - 1] END AS prev
       |  FROM t, unnest(range(1, len(toks) + 1)) u(i)),
       |refpos AS (SELECT * FROM pos WHERE doc_id % 2 = 0),
       |uni AS (SELECT cur, count(*) AS cu FROM refpos GROUP BY 1),
       |tot AS (SELECT CAST(sum(cu) AS BIGINT) AS n,
       |          CAST(count(*) AS BIGINT) AS v FROM uni),
       |bi AS (SELECT prev, cur, count(*) AS cb FROM refpos
       |       WHERE prev IS NOT NULL GROUP BY 1, 2),
       |s AS (
       |  SELECT p.doc_id,
       |    CASE WHEN p.prev IS NULL THEN -ln($puni)
       |         WHEN b.cb IS NOT NULL THEN
       |           -ln(CAST(b.cb AS DOUBLE) / CAST(u2.cu AS DOUBLE))
       |         ELSE -ln(0.4 * ($puni)) END AS surp,
       |    CASE WHEN p.prev IS NOT NULL AND b.cb IS NULL
       |         THEN 1 ELSE 0 END AS bo
       |  FROM pos p
       |  LEFT JOIN uni u ON u.cur = p.cur
       |  LEFT JOIN uni u2 ON u2.cur = p.prev
       |  LEFT JOIN bi b ON b.prev = p.prev AND b.cur = p.cur
       |  CROSS JOIN tot),
       |sb AS (SELECT doc_id, count(*) AS n_tok,
       |         CAST(sum(bo) AS BIGINT) AS n_backoff,
       |         ${Oracles.fround(Oracles.favg("surp"), XentDecimals)} AS xent
       |       FROM s GROUP BY doc_id)""".stripMargin
  }
}
