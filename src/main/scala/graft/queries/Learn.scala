package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Learned-curation queries: the stages that decide WHAT a training
  * corpus contains, run on the engine itself (after heuristic
  * quality scores — q26/q51 — and before corpus-wide filtering).
  *
  * q98 trains a 10-class softmax linear probe on the embeddings
  * table's (embedding, label) pairs — Rounds full-batch GD steps from
  * zero init — then scores every vector with the trained weights
  * (see [[graft.pipeline.ProbeTrainer]] for the op and its 100-TB
  * shape). The DuckDB oracle replays the ENTIRE training trajectory
  * (per-round logits, softmax, micro-quantized gradient sums,
  * weight updates) as unrolled CTEs, so the hash gate certifies the
  * training DYNAMICS cross-engine, not just a final projection —
  * the q92 BPE-loop device applied to gradient descent.
  *
  * q99 is temperature-based domain-mixture resampling — the
  * mT5/XLM-R convention for balancing a multi-domain corpus:
  * sample domain i proportional to (n_i)^τ with τ < 1, which
  * upweights small domains relative to their raw share. Realized as
  * deterministic DOWNSAMPLING: rate_i = (n_i/n_min)^(τ−1) ≤ 1, so
  * the smallest domain is kept whole and larger domains thin toward
  * the tempered mixture; the keep decision hashes document CONTENT
  * (the q38 split device), so it is reproducible under
  * re-partitioning and incremental re-runs. Scale shape: one
  * map-side-combined count pass, a broadcast of the tiny per-domain
  * rate table back over the corpus, one narrow filter — nothing
  * shuffles document text.
  */
object Learn extends graft.QueryPack {

  import graft.pipeline.ProbeTrainer

  private val K = ProbeTrainer.NumClasses
  private val R = ProbeTrainer.Rounds
  private val D = 65 // bias + 64 embedding dims

  /** Mixture temperature (mT5's published sampling exponent). The
    * SQL twin interpolates `TauM1`'s exact double so both engines
    * raise to the identical exponent (0.7 − 1 is NOT the double
    * nearest -0.3). */
  private val Tau = 0.7
  private val TauM1 = Tau - 1.0

  /** The tempered-rate stage over any per-domain count table
    * (lang, n_docs, n_tokens): appends `rate_micro` =
    * floor((n_i/n_min)^(τ−1)·1e6 + 0.5). ONE definition shared by
    * q99 and the incremental store
    * ([[graft.pipeline.MixtureMaintenance]]), so maintained rates
    * and the from-scratch query can never drift. */
  private[graft] def temperedRates(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    val minTok = counts.agg(min($"n_tokens").as("n_min"))
    counts.crossJoin(broadcast(minTok))
      .select($"lang", $"n_docs", $"n_tokens",
        floor(pow($"n_tokens".cast("double") / $"n_min".cast("double"),
          lit(TauM1)) * lit(1e6) + lit(0.5)).cast("long").as("rate_micro"))
  }

  // q103: DSIR hashed-unigram importance resampling (Xie et al.,
  // NeurIPS 2023 — "Data Selection for Language Models via
  // Importance Resampling"). Features are token hashes folded into
  // DsirBuckets buckets, so the learned importance model is a
  // FIXED-SIZE table regardless of vocabulary (the paper's hashed
  // n-gram device); DsirTopN is the per-domain selection budget.
  private val DsirBuckets = 256L
  private val DsirTopN    = 8

  // q113: reliability-diagram binning (Guo et al. 2017's ECE
  // convention — 10 equal-width confidence bins; the top edge folds
  // into the last bin). Width in micro-units so binning is integer.
  private val CalibBins     = 10
  private val BinWidthMicro = 100000L

  /** q136 training token budget as a fraction of the corpus
    * (budget = total·19 div 20 — integer, so both engines agree
    * exactly). 19/20 is chosen so the gate corpora exercise BOTH
    * branches: 7–8 of the 20 near-equal sources cap at sf0.01/0.001
    * (measured) — a high budget relative to supply is exactly the
    * regime where caps bind (the LLaMA table's >1-epoch sources). */
  private val BudgetNum = 19L
  private val BudgetDen = 20L

  /** The q103 chain over any (doc_id, lang, text) frame (spec hook:
    * planted target-affine/junk docs). DSIR scores each candidate
    * document by how much more likely its hashed-unigram features
    * are under a TARGET distribution than under the RAW pool, then
    * keeps the top-budget docs per domain:
    *
    *   lw(doc) = Σ_positions ln( p̂_t[b] / p̂_r[b] ),
    *   p̂[b] = (c[b]+1) / (N+B)   (Laplace over B buckets)
    *
    * `isTarget` marks the curated side (the paper scores Pile docs
    * against Wikipedia+books; q103 wires the even-doc_id half — the
    * q102 reference-slice device); only NON-target docs are scored
    * and selected. Cross-engine contract: bucket counts are exact
    * integers, every p̂-ratio is a division of two EXACTLY
    * representable double products ON THE GATED CORPORA (factors
    * < 2^26 there, so (c+1)·(N+B) stays under 2^53 and is
    * integer-exact in double — at production token counts beyond
    * ~2^26 the products round and the ratio inputs lose bit-exact
    * cross-engine agreement, though the micro-rounded ln absorbs
    * everything short of a value sitting within 1 ulp of a
    * 0.5e-6 rounding boundary), and the per-bucket log-ratio
    * micro-rounds to int64 BEFORE the per-doc sum — the one ln()
    * call per BUCKET is the only libm touch (1-ulp divergence
    * absorbed by the rounding, q99's pow argument), and every
    * per-doc score is a pure BIGINT sum both engines order
    * identically.
    *
    * Scale shape: the position frame is a narrow fused
    * tokenize+hash kernel pass persisted once for its two consumers
    * (count pass + scoring pass — the q102 device); bucket counts
    * map-side-combine to ≤ B rows per partition; the B-row
    * log-ratio table BROADCASTS back; scoring shuffles one partial
    * sum per (doc, partition); the per-lang budget rank rides
    * WindowTopKRewrite onto the bounded-heap TopKPerKey operator.
    * Document text never shuffles. */
  private[graft] def dsirSelect(docs: DataFrame, isTarget: Column): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // persisted for its two consumers (count pass + scoring pass —
    // the q102 device; lifecycle is the Verify/Bench clearCache
    // contract). Scale note: the persist wins at demo scale (the
    // fused tokenize+hash kernel dominates), but the frame is
    // O(corpus tokens) — at 100 TB drop the persist and let BOTH
    // consumers re-run the narrow kernel scan, which is cheaper than
    // materializing 1.5x the corpus to disk.
    val pos = docs
      .select($"doc_id", isTarget.as("tgt"),
        explode(graft.ops.expressions.TokenHashes($"text")).as("th"))
      .select($"doc_id", $"tgt", pmod($"th", lit(DsirBuckets)).as("b"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // BOTH sides' bucket counts in one map-side-combined pass
    val bc = pos.groupBy($"b").agg(
      sum(when($"tgt", 1L).otherwise(0L)).as("ct"),
      sum(when(!$"tgt", 1L).otherwise(0L)).as("cr"))
    val tot = bc.agg(sum($"ct").as("nt"), sum($"cr").as("nr"))
    // log-ratio over RAW buckets only: every scored position's bucket
    // is a raw bucket by construction, so the table is closed over
    // what scoring can look up
    val lr = bc.filter($"cr" > 0L)
      .crossJoin(broadcast(tot))
      .select($"b",
        floor(log(
          (($"ct" + lit(1L)).cast("double") *
            ($"nr" + lit(DsirBuckets)).cast("double")) /
          (($"cr" + lit(1L)).cast("double") *
            ($"nt" + lit(DsirBuckets)).cast("double"))) * lit(1e6) + lit(0.5))
          .cast("long").as("lr_micro"))
    val scored = pos.filter(!$"tgt")
      .join(broadcast(lr), Seq("b"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tok"), sum($"lr_micro").as("lw_micro"))
    // roster join restores token-less candidates at their true
    // neutral score 0 (an empty doc is evidence for neither side)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"lang").orderBy($"lw_micro".desc, $"doc_id")
    docs.filter(isTarget === false).select($"doc_id", $"lang")
      .join(scored, Seq("doc_id"), "left")
      .select($"doc_id", $"lang",
        coalesce($"n_tok", lit(0L)).as("n_tok"),
        coalesce($"lw_micro", lit(0L)).as("lw_micro"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= DsirTopN)
      .select($"lang", $"rn".cast("bigint").as("rn"), $"doc_id",
        $"n_tok", $"lw_micro")
      .orderBy($"lang", $"rn")
  }

  // q100 quality floor: sits near the corpus's p15-p20 for each
  // metric so the stage demonstrably drops SOMETHING on clean
  // testdata (p25 n_tok = 32, p25 distinct-ratio = 0.36 at sf0.01)
  // while any real junk — empty, one-token, fully-repetitive docs —
  // is far below either threshold.
  private val MinTokens = 25L
  private val MinDistinctRatio = 0.34

  /** The q100 chain over any (doc_id, lang, text) frame (spec hook:
    * planted duplicates/junk). The C4/FineWeb curation FUNNEL as one
    * query — each stage reuses a device already oracle-gated on its
    * own: exact dedup keeps the min-doc_id copy per content
    * fingerprint (q23's aggregate, never a window); the quality
    * floor is two cheap per-doc metrics computed in the same scan
    * pass; temperature resampling (q99's device, τ and the
    * micro-rounded integer-compare keep) runs on the SURVIVORS'
    * per-domain token counts, so the tempered mixture reflects what
    * dedup+quality left, not the raw crawl. Output is the per-domain
    * funnel report (raw → deduped → quality → kept), which is what a
    * curation run actually publishes. Scale shape: one tokenize
    * scan; the dedup keeper join shuffles (fp, doc_id) pairs only
    * (AQE-splittable); rates broadcast back; nothing shuffles text. */
  private[graft] def curationFunnel(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // persisted: the keeper aggregate and the join both consume the
    // tokenized frame, and the flagged frame feeds THREE aggregates
    // (raw funnel, survivor counts, kept stats) — without the caches
    // the scan → tokenize → distinct-ratio chain ran ~6x (the q93
    // device; lifecycle is the Verify/Bench clearCache contract)
    // dedup keeper key is the 128-bit (fp_hi, fp_lo) pair — the q23
    // doctrine (r18): a keeper chosen under a birthday-colliding
    // narrow key silently drops the colliding doc from the published
    // corpus. The narrow fp survives ONLY as the rate-sampling
    // bucket (pmod 1e6 — range-audited in MixRangeSpec's sweep).
    val t = docs
      .select($"doc_id", $"lang",
        graft.ops.TextOps.fingerprint($"text").as("fp"),
        graft.ops.TextOps.fingerprintHi($"text").as("fp_hi"),
        graft.ops.TextOps.fingerprintLo($"text").as("fp_lo"),
        graft.ops.TextOps.tokens($"text").as("toks"))
      .select($"doc_id", $"lang", $"fp", $"fp_hi", $"fp_lo",
        size($"toks").cast("long").as("n_tok"),
        when(size($"toks") === 0, 0.0)
          .otherwise(size(array_distinct($"toks")).cast("double") /
            size($"toks").cast("double")).as("dr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val keepers = t.groupBy($"fp_hi", $"fp_lo").agg(min($"doc_id").as("keeper_id"))
    val flagged = t.join(keepers, Seq("fp_hi", "fp_lo"))
      .select($"doc_id", $"lang", $"fp", $"n_tok",
        ($"doc_id" === $"keeper_id").as("is_keeper"),
        ($"n_tok" >= MinTokens && $"dr" >= MinDistinctRatio).as("is_quality"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val surv = flagged.filter($"is_keeper" && $"is_quality")
    // the SHARED tempered-rate stage ([[temperedRates]] — one
    // formula for q99, q100 and the incremental store), fed the
    // survivors' counts under its (n_docs, n_tokens) contract
    val rates = temperedRates(surv.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens")))
      .select($"lang", $"n_docs".as("n_quality"), $"rate_micro")
    val kept = surv
      .join(broadcast(rates.select($"lang", $"rate_micro")), Seq("lang"))
      .filter(pmod($"fp", lit(1000000L)) < $"rate_micro")
      .groupBy($"lang")
      .agg(count(lit(1)).as("n_kept"), sum($"n_tok").as("kept_tokens"))
    val raw = flagged.groupBy($"lang").agg(
      count(lit(1)).as("n_raw"),
      sum(when($"is_keeper", 1L).otherwise(0L)).as("n_dedup"))
    // r20 (§3.1): both report tables are O(langs) aggregates —
    // broadcast instead of sort-merging the lang-keyed tail
    raw
      .join(broadcast(rates.select($"lang", $"n_quality", $"rate_micro")),
        Seq("lang"), "left")
      .join(broadcast(kept), Seq("lang"), "left")
      .select($"lang", $"n_raw", $"n_dedup",
        coalesce($"n_quality", lit(0L)).as("n_quality"),
        coalesce($"rate_micro".cast("double") / lit(1e6), lit(0.0)).as("rate"),
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"kept_tokens", lit(0L)).as("kept_tokens"))
      .orderBy($"lang")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q98_linear_probe" -> { (s, d) =>
      import s.implicits._
      // training executes eagerly during construction (q63/q92's
      // precedent for driver-looped stages) — ONCE per (session,
      // corpus) via the shared stage; scoring is the returned lazy
      // plan
      val wm = Stages.probeWeights.get(s, d)
      ProbeTrainer.score(Tables.embeddings(s, d), wm).orderBy($"vec_id")
    },

    // Temperature resampling to a tempered domain mixture (class
    // doc). rate_micro is the cross-engine contract: pow() may
    // differ by 1 ulp between libms, absorbed by the micro
    // rounding; every downstream keep decision compares INTEGERS
    // (content-hash bucket < rate_micro), so both engines keep
    // exactly the same documents.
    "q99_domain_mixture" -> { (s, d) =>
      import s.implicits._
      import graft.ops.TextOps
      // r19: this token-width frame feeds the rate table AND the
      // keep pass, and `rates` is itself referenced twice — the
      // unpersisted plan re-ran the tokenCount+fingerprint scan five
      // times (plans/r19/q99_domain_mixture_before.txt). Persisted
      // (the q102 token-width-frame device, SparkEntry cache
      // contract), the corpus scans once. 0.77 s → 0.43 s clean.
      // Footprint caveat: unlike the O(sources)/O(types)
      // sufficient-statistic persists elsewhere, this one is O(docs)
      // — 4 narrow columns per document, NOT per token, but it still
      // scales with the corpus. At production scale drop the persist
      // (recompute the two passes) or spill it to disk-only storage;
      // MEMORY_AND_DISK keeps the bench honest at test SFs.
      val docs = Tables.documents(s, d).select($"doc_id", $"lang",
        TextOps.tokenCount($"text").cast("long").as("n_tok"),
        TextOps.fingerprint($"text").as("h"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val counts = docs.groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
      // tiny per-domain rate table: one row per lang (shared with
      // the incremental store — [[temperedRates]])
      val rates = temperedRates(counts)
      val kept = docs
        .join(broadcast(rates.select($"lang", $"rate_micro")), Seq("lang"))
        .filter(pmod($"h", lit(1000000L)) < $"rate_micro")
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_kept"), sum($"n_tok").as("kept_tokens"))
      // r20 (§3.1): kept is an O(langs) aggregate — broadcast it
      rates.join(broadcast(kept), Seq("lang"), "left")
        .select($"lang", $"n_docs", $"n_tokens",
          ($"rate_micro".cast("double") / lit(1e6)).as("rate"),
          coalesce($"n_kept", lit(0L)).as("n_kept"),
          coalesce($"kept_tokens", lit(0L)).as("kept_tokens"))
        .orderBy($"lang")
    },

    // End-to-end curation funnel (class doc on [[curationFunnel]]).
    "q100_curation_funnel" -> { (s, d) =>
      curationFunnel(Tables.documents(s, d)) },

    // Token-budget allocation across sources — the "epochs per
    // source" table (the LLaMA/RedPajama data-mixture decision):
    // given a training budget (19/20 of the corpus here), give every
    // source an equal share, capped at what it HAS; freed budget
    // redistributes among the uncapped — max-min fair allocation
    // (water-filling). Solved in CLOSED FORM, no iteration: sort
    // sources by availability ascending; source i is capped iff
    // avail_i·(remaining sources) ≤ remaining budget — with prefix
    // sums this is one window pass, the standard greedy proof.
    // epochs_micro = alloc·1e6 div avail reads as how many passes
    // over the source the budget implies (1e6 = exactly one epoch).
    //
    // Scale shape: ONE corpus tokenize pass map-side-combining to
    // O(sources) rows; every window after that runs over the
    // O(sources) table (single partition of ≤ thousands of rows —
    // the q132 aggregated-window argument). Integer-exact
    // throughout: integer budget, integer cross-multiplied cap
    // test, integer div allocations — no float anywhere.
    "q136_token_alloc" -> { (s, d) =>
      tokenAlloc(Tables.documents(s, d))
    },

    // DSIR importance selection (class doc on [[dsirSelect]]): the
    // even-doc_id half is the curated target, the odd half is the
    // scored candidate pool.
    "q103_dsir_select" -> { (s, d) =>
      import s.implicits._
      dsirSelect(Tables.documents(s, d), pmod($"doc_id", lit(2L)) === 0L) },

    // Probe-calibration report (q106/q112's sampled-QA device turned
    // on the LEARNED scorer itself): reliability bins over q98's
    // trained head — the diagram (Guo et al. 2017, "On Calibration
    // of Modern Neural Networks") a curation team reads before
    // gating documents at a confidence threshold; an over-confident
    // probe silently floods the kept set with misclassified docs.
    // Integerized cross-engine: confidence recovers the EXACT micro
    // integer from q98's 6-dp score (both engines hold the
    // bit-identical double, so floor(score·1e6+0.5) agrees), bins by
    // floor over width 1e5 (quotients at bin boundaries are exact
    // integers, representable in double, so IEEE division hits them
    // exactly — no boundary drift), and per-bin accuracy / mean
    // confidence are integer-ratio floors both engines compute on
    // identical operands. ECE is one further fold the consumer does
    // over the 10 rows. Scale shape: the scoring kernel pass (probe
    // weights are broadcast literals, memoized driver state —
    // `Stages.probeWeights`) plus ONE map-side-combined aggregate into
    // ≤ CalibBins groups; nothing else moves.
    "q113_probe_calibration" -> { (s, d) =>
      val wm = Stages.probeWeights.get(s, d)
      calibrationBins(ProbeTrainer.score(Tables.embeddings(s, d), wm))
    },

    // Top principal component of the embedding table by FIXED-STEP
    // power iteration — the statistic behind embedding whitening
    // ("All-but-the-top", Mu & Viswanath 2018: subtracting the mean
    // and the top PCs measurably improves similarity search; the
    // q108/q115 geometry family's missing diagnostic). Output: one
    // row per dimension with the per-dim mean, the unit top-PC
    // coordinate, and the PC's variance (Rayleigh estimate) riding
    // as a constant column — what a retrieval team inspects before
    // deciding to whiten, and the direction the whitening transform
    // subtracts. The result is DEFINED as the PcIters-step iterate
    // from the fixed start (1/√64,…) — like q92's BPE rounds and
    // q98's GD trajectory, the oracle replays the whole dynamics
    // (per-iteration matvec, micro-quantized term sums, fixed-order
    // norm fold, micro-rounded re-normalization), so the gate
    // certifies the iteration itself, not just a final projection.
    //
    // Determinism: the mean comes from q114's per-dim int64 micro
    // sums; each matvec's row dot folds in dimension order (the
    // VectorOps.dot convention); the z-accumulation quantizes every
    // (row, dim) term to int64 micro BEFORE the order-free sum; the
    // iterate re-normalizes to MICRO-ROUNDED coordinates each step
    // so both engines carry identical v into the next round.
    //
    // Scale shape (the ProbeTrainer argument): each iteration is ONE
    // map-side-combined aggregation collecting exactly 64 longs to
    // the driver; the iterate rides back as a broadcast literal;
    // nothing in the loop is O(corpus) driver state. Cost: PcIters
    // passes over an (n × 64) table.
    "q129_top_pc" -> { (s, d) =>
      pcFrame(s, Stages.pcFit.get(s, d))
    },

    // Johnson–Lindenstrauss projection-distortion audit (Johnson &
    // Lindenstrauss 1984; Achlioptas 2003's database-friendly ±1
    // matrix — the seeded-sign variant every sketch library ships):
    // project the 64-dim embeddings to 16 dims through a
    // deterministic hash-signed ±1/√16 matrix and report, per fixed
    // id-stride pair family, how well squared distances survive —
    // the "can I run the ANN candidate stage in 1/4 the dimensions"
    // number read BEFORE paying for q33/q90's quantizers (q129 says
    // where variance lives, q131 what int8 rounding costs; this
    // says what DIMENSION CUT costs). Two strides (adjacent ids and
    // id+17) give near/far pair mixes without an all-pairs join.
    // Determinism: the sign matrix is integer parity of the house
    // k·Mult mod P hash; projected coordinates are fixed-order
    // double folds; both squared distances micro-quantize per dim
    // before int64 sums (the q150 device); the ratio is ONE double
    // division micro-rounded. Identical-vector pairs (d² = 0) are
    // excluded — a ratio needs a denominator (documented, like
    // q154's zero-evidence note).
    //
    // Scale shape: projection is a narrow per-row map (persisted —
    // both join sides read it); pairs come from TWO id-keyed
    // equi-joins (explicit key column, O(n) pairs per stride, never
    // a cross join); everything after is a 2-row aggregate.
    "q176_jl_distortion" -> { (s, d) =>
      import s.implicits._
      jlDistortion(Tables.embeddings(s, d).select($"vec_id", $"embedding"))
    },

    // Whitening APPLIED — the transform q129 diagnoses: per vector,
    // subtract the corpus mean and remove the top-PC component
    // ("all-but-the-top", Mu & Viswanath 2018). Output per vec_id:
    // the original norm, the projection onto the top PC (the
    // coordinate the transform deletes), and the residual norm —
    // the before/after geometry a retrieval team reads to see how
    // much of each vector the common direction owned. The fit comes
    // from the SAME memoized `Stages.pcFit` as q129 (one training pass,
    // two readers — the trained-stage convention).
    //
    // Determinism: no cross-row float sums at all — every fold is
    // per-row in dimension order (norm, projection, residual), the
    // fit enters as micro-rounded literals, outputs micro-round at
    // the boundary; the DuckDB twin replays the trajectory CTEs and
    // the identical fold chain.
    //
    // Scale shape: ONE narrow pass over the embedding table with the
    // fit broadcast as literals — no shuffle, no explode; the
    // whitened-corpus write is this select with the arithmetic kept
    // and the rounding dropped.
    "q130_whiten" -> { (s, d) =>
      whitenWith(Tables.embeddings(s, d), Stages.pcFit.get(s, d))
    },

    // Classifier-threshold sweep — the curve a curation team reads
    // before fixing the probe-score cutoff (the FineWeb-Edu
    // ablation table): for every OCCUPIED 6-dp score value, how
    // many documents and tokens survive a "keep score ≥ s"
    // filter. One row per distinct score with exact cumulative
    // docs/tokens from the top — pick any row, and its cum_* IS
    // the corpus you'd train on at that threshold. Consumes the
    // memoized probe weights (third reader next to q98/q113) and
    // the shared tokenizer's counts.
    //
    // Scale shape: token counting is the only corpus-scale pass
    // (map-side-combined agg keyed by the 6-dp score — ≤ 1e6+1
    // distinct keys FOREVER, no skew risk: a hot score value still
    // combines map-side); the running sum then runs over the
    // aggregated table, so the single-partition window touches
    // O(distinct scores) rows, never O(corpus). Integer-exact
    // everywhere (counts and token sums — no float aggregation).
    "q132_threshold_sweep" -> { (s, d) =>
      thresholdSweep(
        ProbeTrainer.score(Tables.embeddings(s, d), Stages.probeWeights.get(s, d)),
        Tables.documents(s, d))
    },

    // Confident-learning label-noise matrix (Northcutt, Jiang & Chuang
    // 2021, "Confident Learning: Estimating Uncertainty in Dataset
    // Labels") — the label-QUALITY audit over the probe family: q98
    // trains on the given labels, q113 asks whether its confidence is
    // calibrated; this asks whether the LABELS THEMSELVES are wrong,
    // and where. Per class j, the self-confidence threshold t_j is
    // the mean predicted probability of j among examples LABELED j;
    // an example is confidently class j when p_j ≥ t_j, and lands in
    // matrix cell (noisy = given label, assigned = argmax over its
    // confident classes). Off-diagonal mass estimates the label-flip
    // rates a relabeling/pruning pass would act on (fourth consumer
    // of the memoized probe weights). Examples confident in NO class
    // drop — the CL convention for ambiguous items. Determinism:
    // probabilities micro-quantize per (example, class) BEFORE the
    // threshold mean (exact int64 sum / one rounded division), so
    // every ≥ comparison is integer vs integer.
    //
    // Scale shape: scoring is the q98 narrow scan fanned K× (K a
    // constant); thresholds are a K-row broadcast; the confident
    // argmax is a bounded-heap top-1 per example (TopKPerKeyExec —
    // map-side partial reduction, no per-example window sort); the
    // matrix is a ≤ K² map-side-combined aggregate. Nothing
    // O(corpus) shuffles but the K-fanned id-width rows.
    "q174_label_noise" -> { (s, d) =>
      labelNoise(ProbeTrainer.probs(
        Tables.embeddings(s, d), Stages.probeWeights.get(s, d)))
    },

    // Stratified annotation-batch sampler: k docs PER DOMAIN by the
    // engine's seeded hash permutation (graft.ops.SeededSample's
    // rank — deterministic across engines and re-runs, unbiased
    // w.r.t. id order). This is the sampler that feeds q98's probe
    // trainer its labeled slice: labels are the expensive part of
    // learned curation (FineWeb-Edu annotates ~500k of billions),
    // and an UNstratified sample of a skewed corpus starves minority
    // domains of labels exactly where the classifier needs them —
    // the q110/q120 per-domain discipline applied to sample
    // selection. Output: (lang, doc_id, rn ≤ SampleK), the
    // annotation worklist.
    //
    // Scale shape: one narrow projection (lang, doc_id, hash rank)
    // into the bounded-heap TopKPerKey — per-partition heaps of k,
    // never a window over a domain partition (a 90%-English corpus
    // would put 90% of rows in one window partition; the heap's
    // partial aggregation absorbs exactly that skew). Nothing else
    // moves; text is never read.
    // Range audit (r17): RANK-based per stratum (order by hash, keep
    // k) — membership depends on hash order only, no range scaling to
    // drift (MixRangeSpec's site sweep).
    "q122_stratified_sample" -> { (s, d) =>
      import s.implicits._
      val ph = pmod($"doc_id", lit(graft.ops.SeededSample.Mod)) *
        lit(graft.ops.SeededSample.Mult) % lit(graft.ops.SeededSample.Mod)
      graft.plans.TopK.perKey(
        Tables.documents(s, d).select($"lang", $"doc_id", ph.as("ph")),
        Seq("lang"), Seq("ph" -> true, "doc_id" -> true), SampleK,
        rankCol = "rn")
        .select($"lang", $"doc_id", $"rn".cast("bigint").as("rn"))
        .orderBy($"lang", $"rn")
    },

    // DoReMi-style domain reweighting (Xie et al. 2023, "DoReMi:
    // Optimizing Data Mixtures Speeds Up Language Model
    // Pretraining"): upweight the domains a reference model finds
    // HARD (excess loss), via multiplicative weights. The engine's
    // reference loss proxy is per-source mean token surprisal under
    // the corpus unigram LM (deterministic, no model dependency —
    // the q72/q102 surprisal device at source granularity); with a
    // STATIC reference the K-step linearized MW update collapses to
    // the closed form wₛ ∝ (1 + η·excessₛ)^K, which both engines
    // evaluate exactly (pow's libm ulp absorbed by micro rounding,
    // the q99 argument). Per-term surprisal contributions
    // micro-quantize before the int64 sums; raw weights quantize to
    // micro BEFORE the normalizing sum, so the denominator is an
    // exact integer and the final share is ONE fixed-order double
    // division.
    //
    // Scale shape: (source, term) counts map-side combine off one
    // tokenize pass; the corpus table derives from the SAME frame;
    // everything after is O(sources·types-width) count rows, the
    // 1-row corpus total broadcasts (intendedBnlj).
    "q151_doremi_weights" -> { (s, d) =>
      doremiWeights(Tables.documents(s, d))
    },

    // Temperature-damped language sampling (Lample & Conneau 2019's
    // XLM multinomial rebalancing: sample language ℓ with probability
    // ∝ pℓ^α — α < 1 lifts low-resource languages without drowning
    // the head): per-language token mass → damped sampling weights
    // plus the per-language EPOCH multiplier at a one-corpus token
    // budget (wℓ·N/cℓ — the "how many times does each slice repeat"
    // number from the data-constrained scaling discussion,
    // Muennighoff et al. 2023; a weight table alone hides that a
    // 100× upweight of a tiny language means 100 epochs of it).
    // α = 1/2 EXACTLY — not a style choice: p^(1/2) is ONE IEEE
    // sqrt (correctly rounded, bit-identical in both engines), so
    // unlike a generic pow-based temperature no libm ulp argument is
    // needed anywhere; damped masses quantize to nano BEFORE the
    // normalizing sum (the q151 denominator device), every division
    // after is integral over DECIMAL(38,0)/HUGEINT. Scale shape: one
    // token-count pass to O(langs) rows; both totals are 1-row
    // broadcasts (intendedBnlj).
    "q163_temperature_mix" -> { (s, d) =>
      temperatureMix(Tables.documents(s, d))
    }
  )

  /** The q163 chain over any (lang, text) frame (spec hook: planted
    * dyadic masses with hand-replayed integers — LearnSpec). */
  private[graft] def temperatureMix(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    import graft.ops.TextOps
    // r19: the O(langs) mass table feeds the total AND the damped
    // table (which the final projection references again) —
    // unpersisted, four corpus tokenCount passes (the q151 note).
    // Persisted: one. 0.42 → 0.23 s clean at sf0.1.
    val m = docs
      .select($"lang", TextOps.tokenCount($"text").cast("long").as("n_tok"))
      .groupBy($"lang").agg(sum($"n_tok").as("c"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val tot = m.agg(sum($"c").as("n")) // 1 row — intendedBnlj
    val q = m.crossJoin(tot)
      .select($"lang", $"c", $"n",
        floor(sqrt($"c".cast("double") / $"n".cast("double"))
          * lit(1e9) + lit(0.5)).cast("bigint").as("q"))
    val qs = q.agg(sum($"q").as("qs")) // 1 row — intendedBnlj
    q.crossJoin(qs)
      .select($"lang", $"c".as("n_tokens"),
        expr("CAST((CAST(c AS DECIMAL(38,0)) * 1000000) div n AS BIGINT)")
          .as("share_micro"),
        expr("(q * 1000000) div qs").as("w_micro"),
        when($"c" > 0L,
          expr("CAST((CAST(q AS DECIMAL(38,0)) * n * 1000000)" +
            " div (CAST(qs AS DECIMAL(38,0)) * c) AS BIGINT)"))
          .otherwise(lit(0L)).as("epochs_micro"))
      .orderBy($"lang")
  }

  /** q151: MW step size (per nat of excess loss) and step count.
    * η·K sets how aggressively excess loss tilts the mixture; 0.1×8
    * keeps the closed form well inside double range for any real
    * excess (a 5-nat excess maps to 1.5⁸ ≈ 26× upweight). */
  private val DoremiEta = 0.1
  private val DoremiSteps = 8

  /** The q151 chain over any (source, text) frame (spec hook:
    * planted two-source corpora with closed-form excess and weights
    * — LearnSpec). */
  private[graft] def doremiWeights(docs: DataFrame): DataFrame =
    // r19: the count table feeds SIX lineages inside FromCounts (cw
    // twice, ns, sterm, and the totals) — unpersisted, the q151 plan
    // re-ran the corpus tokenize + combine FOURTEEN times
    // (plans/r19/q151_doremi_weights_before.txt: 14 parquet scans,
    // 34 exchanges; AQE exchange reuse does not collapse them
    // because each lineage re-plans the scan subtree). Persisting
    // the token-width sufficient statistic here, plus the O(sources)
    // weight table at the denominator split below, makes it ONE
    // corpus pass (after: 1 scan — see the _after plan). Measured
    // 1.13 s → 0.53 s clean at sf0.1.
    doremiWeightsFromCounts(graft.queries.Corpus.sourceTermCounts(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))

  /** q151 over the pre-aggregated (source, w, csw) count table (the
    * Corpus.sourceKlFromCounts sharing convention — the fourth
    * CorpusStatsMaintenance store serves this incrementally). */
  private[graft] def doremiWeightsFromCounts(tf: DataFrame): DataFrame = {
    val spark = tf.sparkSession
    import spark.implicits._
    val cw = tf.groupBy($"w").agg(sum($"csw").as("cw"))
    val ns = tf.groupBy($"source").agg(sum($"csw").as("n_s"))
    val tot = ns.agg(sum($"n_s").as("n")) // 1 row — intendedBnlj
    // per-source loss: Σ_w c_sw·(−ln(c_w/N)) micro-summed, then one
    // fixed-order division by N_s; corpus loss: the same device over
    // the corpus counts
    val sterm = tf.join(cw, Seq("w")).crossJoin(tot)
      .select($"source",
        floor(-$"csw".cast("double") *
          log($"cw".cast("double") / $"n".cast("double"))
          * lit(1e6) + lit(0.5)).cast("bigint").as("t"))
      .groupBy($"source").agg(sum($"t").as("st"))
    val loss = sterm.join(ns, Seq("source")).crossJoin(tot)
      .select($"source", $"n_s",
        floor($"st".cast("double") / $"n_s".cast("double") + lit(0.5))
          .cast("bigint").as("loss_micro"), $"n")
    val cterm = cw.crossJoin(tot)
      .select(floor(-$"cw".cast("double") *
        log($"cw".cast("double") / $"n".cast("double"))
        * lit(1e6) + lit(0.5)).cast("bigint").as("t"), $"n")
      .groupBy($"n").agg(sum($"t").as("ct"))
      .select(floor($"ct".cast("double") / $"n".cast("double") + lit(0.5))
        .cast("bigint").as("corpus_micro")) // 1 row — intendedBnlj
    val exc = loss.crossJoin(cterm)
      .select($"source", $"n_s".as("n_tokens"), $"loss_micro",
        greatest($"loss_micro" - $"corpus_micro", lit(0L)).as("excess_micro"))
    // r19: BOTH the normalizing denominator and the final projection
    // reference `raw` — unpersisted, the split re-ran the ENTIRE
    // upper chain (tf → cw/ns → loss → excess) twice, which is where
    // most of the old plan's 14 corpus scans multiplied from.
    // Persisting the O(sources) weight table halves the plan above
    // this point (SparkEntry cache contract).
    val raw = exc.withColumn("r_micro",
      floor(pow(lit(1.0) + lit(DoremiEta) *
          ($"excess_micro".cast("double") / lit(1e6)),
        lit(DoremiSteps.toDouble)) * lit(1e6) + lit(0.5)).cast("bigint"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val denom = raw.agg(sum($"r_micro").as("rsum")) // 1 row — intendedBnlj
    raw.crossJoin(denom)
      .select($"source", $"n_tokens", $"loss_micro", $"excess_micro",
        floor($"r_micro".cast("double") * lit(1e6) /
          $"rsum".cast("double") + lit(0.5)).cast("bigint")
          .as("weight_micro"))
      .orderBy($"source")
  }

  /** q122: per-domain annotation-batch size. */
  private val SampleK = 20

  /** q129: power-iteration steps and embedding width. 8 steps from
    * the fixed uniform start separate the testdata's top eigenvalue
    * cleanly (LearnSpec's planted-direction case converges to
    * |cos| > 0.999); the output is DEFINED as the 8-step iterate. */
  private val PcIters = 8
  private val PcDims = 64

  /** The fitted q129 state: row count, per-dim mean (exact doubles
    * derived from int64 micro sums), the micro-rounded top-PC
    * iterate, and the Rayleigh variance estimate. Shared by q129
    * (the diagnostic table) and q130 (the applied whitening) via
    * [[Stages.pcFit]] — the fit is the trained artifact, the queries are
    * its two readers. */
  private[graft] final case class PcFit(
      n: Long, mu: Array[Double], vm: Array[Long], lambdaMicro: Long)

  /** The q129 power iteration over any (embedding) frame (spec hook:
    * planted dominant-direction table — LearnSpec). See the q129
    * entry comment for the determinism and scale story. */
  private[graft] def pcFit(emb: DataFrame): PcFit = {
    val spark = emb.sparkSession
    import spark.implicits._
    val x = emb.select(graft.ops.VectorOps.toDouble(col("embedding")).as("x"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val n = x.count()
    require(n > 0, "topPc on an empty embedding table")
    val dsums = x.select(posexplode($"x").as(Seq("dim", "xv")))
      .select($"dim", floor($"xv" * lit(1e6) + lit(0.5)).cast("bigint").as("xm"))
      .groupBy($"dim").agg(sum($"xm").as("dsum"))
      .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val mu = Array.tabulate(PcDims)(d0 =>
      dsums.getOrElse(d0, 0L).toDouble / (n * 1e6))
    // v0 = (1/√64, …): 0.125 is exactly representable, ‖v0‖ = 1
    var vm = Array.fill(PcDims)(125000L)
    var lambdaMicro = 0L
    for (_ <- 1 to PcIters) {
      val muLit = typedLit(mu.toSeq)
      val vLit = typedLit(vm.map(_.toDouble / 1e6).toSeq)
      val cCol = zip_with($"x", muLit, (a, b) => a - b)
      val yCol = aggregate(zip_with(cCol, vLit, (a, b) => a * b),
        lit(0.0), (acc, p) => acc + p)
      val zs = x.select(yCol.as("y"), cCol.as("c"))
        .select($"y", posexplode($"c").as(Seq("dim", "cv")))
        .select($"dim",
          floor($"y" * $"cv" * lit(1e6) + lit(0.5)).cast("bigint").as("t"))
        .groupBy($"dim").agg(sum($"t").as("zs"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
      val z = Array.tabulate(PcDims)(d0 => zs.getOrElse(d0, 0L).toDouble / 1e6)
      val norm = math.sqrt(z.foldLeft(0.0)((acc, zd) => acc + zd * zd))
      // fail loudly on a zero-variance table (all vectors identical
      // after centering): a principal DIRECTION does not exist, and
      // silently iterating on NaN would surface as an unrelated
      // downstream error (ProbeTrainer's empty-set posture)
      require(norm > 0.0, "topPc: zero-variance embeddings — no principal direction")
      lambdaMicro = math.floor(norm / n * 1e6 + 0.5).toLong
      vm = z.map(zd => math.floor(zd / norm * 1e6 + 0.5).toLong)
    }
    x.unpersist()
    PcFit(n, mu, vm, lambdaMicro)
  }

  /** The q129 output frame from a fit. */
  private def pcFrame(spark: SparkSession, fit: PcFit): DataFrame = {
    import spark.implicits._
    (0 until PcDims).map { d0 =>
      (d0.toLong, math.floor(fit.mu(d0) * 1e6 + 0.5).toLong, fit.vm(d0),
        fit.lambdaMicro)
    }.toDF("dim", "mean_micro", "pc_micro", "lambda_micro")
      .coalesce(1).orderBy($"dim")
  }

  /** The q129 chain over any (embedding) frame (spec hook —
    * LearnSpec's planted-direction case). */
  private[graft] def topPc(emb: DataFrame): DataFrame =
    pcFrame(emb.sparkSession, pcFit(emb))

  /** The q130 transform over any (vec_id, embedding) frame given a
    * fit (spec hook: LearnSpec's planted corpus, where the residual
    * must vanish). Pure per-row arithmetic: every fold runs in
    * dimension order (the VectorOps.dot convention), outputs
    * micro-round at the boundary — bit-identical to the DuckDB
    * twin's list_reduce chain. */
  private[graft] def whitenWith(emb: DataFrame, fit: PcFit): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    val muLit = typedLit(fit.mu.toSeq)
    val vLit = typedLit(fit.vm.map(_.toDouble / 1e6).toSeq)
    val x = graft.ops.VectorOps.toDouble(col("embedding"))
    emb.select($"vec_id", x.as("x"), zip_with(x, muLit, (a, b) => a - b).as("c"))
      .select($"vec_id", $"x", $"c",
        aggregate(zip_with($"c", vLit, (a, b) => a * b),
          lit(0.0), (acc, p) => acc + p).as("proj"))
      .select($"vec_id",
        floor(sqrt(aggregate(transform($"x", a => a * a),
          lit(0.0), (acc, t) => acc + t)) * lit(1e6) + lit(0.5))
          .cast("bigint").as("norm_micro"),
        floor($"proj" * lit(1e6) + lit(0.5)).cast("bigint").as("proj_micro"),
        floor(sqrt(aggregate(
          zip_with($"c", vLit, (cv, vv) =>
            (cv - $"proj" * vv) * (cv - $"proj" * vv)),
          lit(0.0), (acc, t) => acc + t)) * lit(1e6) + lit(0.5))
          .cast("bigint").as("resid_micro"))
      .orderBy($"vec_id")
  }

  /** Un-memoized q130 chain (spec hook). */
  private[graft] def whitenReport(emb: DataFrame): DataFrame =
    whitenWith(emb, pcFit(emb))

  /** The q132 sweep over any scored frame (vec_id, score — the
    * ProbeTrainer.score 6-dp contract) joined to any (doc_id, text)
    * corpus (spec hook: planted scores/token counts with closed-form
    * cumulatives — LearnSpec). Inner join: the sweep covers the
    * scored ∩ textful population, the corpus the filter would
    * actually run on. */
  private[graft] def thresholdSweep(scored: DataFrame, docs: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val toks = docs.select($"doc_id",
      graft.ops.TextOps.tokenCount($"text").cast("bigint").as("n_tok"))
    val byScore = scored
      .select($"vec_id", floor($"score" * lit(1e6) + lit(0.5)).as("sm"))
      .join(toks, $"vec_id" === $"doc_id")
      .groupBy($"sm")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"))
    // the running sum sees the AGGREGATED table — single-partition
    // window over ≤ 1e6+1 rows regardless of corpus size
    val w = Window.orderBy($"sm".desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    byScore.select($"sm".as("score_micro"), $"n_docs", $"n_tokens",
        sum($"n_docs").over(w).as("cum_docs"),
        sum($"n_tokens").over(w).as("cum_tokens"))
      .orderBy($"score_micro".desc)
  }

  /** The q136 allocation over any (source, text) frame (spec hook:
    * planted availabilities with a hand-computed water level —
    * LearnSpec). Cap test: with sources sorted ascending by
    * (avail, source), source i is capped iff
    * avail_i·(S−i+1) ≤ B−(cum_a−avail_i). Every cross-
    * multiplication (the cap test, the budget fraction, the
    * epochs_micro scale-up) runs in DECIMAL(38,0) — an int64
    * product overflows (ANSI throw) once avail·sources or
    * alloc·10^6 crosses 2^63, i.e. around 10^12–10^13 tokens per
    * source, squarely inside production-corpus range (round-13
    * advisor). Decimal keeps the same integers at every scale a
    * BIGINT avail can represent; the quotients fold back to BIGINT.
    * Zero-avail sources cap at 0 and report 0 epochs (the CASE
    * guard keeps ANSI div-by-zero out of the plan). */
  private[graft] def tokenAlloc(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // r19: allocOf references the availability table twice — the
    // unpersisted plan ran the corpus tokenCount pass for each (the
    // q151 note). Persisted O(sources) rows: one pass. Isolated
    // clean A/B at sf0.1: 0.89 → 0.33 s (2 scans → 1).
    allocOf(docs
      .select($"source",
        graft.ops.TextOps.tokenCount($"text").cast("long").as("n"))
      .groupBy($"source").agg(sum($"n").as("avail"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK))
  }

  /** The allocation over an already-aggregated (source, avail)
    * frame — split out so LearnSpec can plant petatoken-range
    * availabilities (unreachable through literal text) and pin the
    * decimal arithmetic against closed-form water levels. */
  private[graft] def allocOf(avail: DataFrame): DataFrame = {
    val spark = avail.sparkSession
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    // O(sources) rows from here on — the single-partition windows
    // never see the corpus
    val wOrd = Window.orderBy($"avail", $"source")
    val wAll = Window.partitionBy()
    val g = avail
      .withColumn("cum_a",
        sum($"avail").over(wOrd
          .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("total", sum($"avail").over(wAll))
      .withColumn("s", count(lit(1)).over(wAll))
      .withColumn("i", row_number().over(wOrd).cast("long"))
      .withColumn("b", expr(
        s"CAST((CAST(total AS DECIMAL(38,0)) * $BudgetNum) DIV $BudgetDen AS BIGINT)"))
      .withColumn("capped", expr(
        "CAST(avail AS DECIMAL(38,0)) * (s - i + 1)" +
          " <= CAST(b AS DECIMAL(38,0)) - cum_a + avail"))
    val caps = g.agg(
      coalesce(sum(when($"capped", $"avail")), lit(0L)).as("a_cap"),
      coalesce(sum(when($"capped", 1L)), lit(0L)).as("k"))
    g.crossJoin(broadcast(caps))
      .withColumn("alloc",
        when($"capped", $"avail")
          .otherwise(expr("(b - a_cap) div (s - k)")))
      .select($"source", $"avail".as("avail_tokens"),
        $"alloc".as("alloc_tokens"), $"capped",
        when($"avail" > 0L, expr(
            "CAST((CAST(alloc AS DECIMAL(38,0)) * 1000000) DIV avail AS BIGINT)"))
          .otherwise(lit(0L)).as("epochs_micro"))
      .orderBy($"source")
  }

  /** Shared WITH-body of the q129/q130 oracles: the centered table
    * (e/cnt/ed/dm/mu/c), the fixed start v0, and the full
    * PcIters-step trajectory — v$PcIters is the fitted iterate both
    * queries consume. Composed by plain concatenation downstream
    * (NB nested stripMargin — see bpeOracle). */
  private def pcChainSql: String = {
    val iters = (1 to PcIters).map { k =>
      s"""y$k AS (SELECT vec_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |          list(cv * v ORDER BY dim)), (a, b) -> a + b) AS y
         |        FROM c JOIN v${k - 1} USING (dim) GROUP BY vec_id),
         |z$k AS (SELECT dim,
         |          CAST(sum(CAST(floor(y * cv * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS zs
         |        FROM c JOIN y$k USING (vec_id) GROUP BY dim),
         |nr$k AS (SELECT sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |           list((CAST(zs AS DOUBLE) / 1000000.0) * (CAST(zs AS DOUBLE) / 1000000.0)
         |             ORDER BY dim)), (a, b) -> a + b)) AS nrm FROM z$k),
         |v$k AS (SELECT dim,
         |          CAST(CAST(floor(CAST(zs AS DOUBLE) / 1000000.0
         |            / (SELECT nrm FROM nr$k) * 1000000.0 + 0.5) AS BIGINT) AS DOUBLE)
         |            / 1000000.0 AS v FROM z$k)""".stripMargin
    }.mkString(",\n")
    s"""e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
       |cnt AS (SELECT CAST(count(*) AS BIGINT) AS n FROM e),
       |ed AS (SELECT vec_id, CAST(u.d AS INTEGER) AS dim, x[u.d + 1] AS xv
       |       FROM e, unnest(range(0, $PcDims)) u(d)),
       |dm AS (SELECT dim,
       |         CAST(sum(CAST(floor(xv * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS dsum
       |       FROM ed GROUP BY dim),
       |mu AS (SELECT dim, CAST(dsum AS DOUBLE)
       |         / (CAST((SELECT n FROM cnt) AS DOUBLE) * 1000000.0) AS m
       |       FROM dm),
       |c AS (SELECT ed.vec_id, ed.dim, ed.xv - mu.m AS cv
       |      FROM ed JOIN mu USING (dim)),
       |v0 AS (SELECT CAST(u.d AS INTEGER) AS dim, CAST(0.125 AS DOUBLE) AS v
       |       FROM unnest(range(0, $PcDims)) u(d)),
       |""".stripMargin + iters
  }

  /** The q113 binning stage over any (label, pred, score) frame
    * (spec hook: hand-built scored frames with known bin accuracy /
    * confidence — LearnSpec). `score` is a 6-dp micro-rounded
    * double per the ProbeTrainer.score contract. */
  private[graft] def calibrationBins(scored: DataFrame): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    scored
      .select($"label", $"pred",
        floor($"score" * lit(1e6) + lit(0.5)).as("sm"))
      .select($"label", $"pred", $"sm",
        least(floor($"sm" / lit(BinWidthMicro.toDouble)),
          lit((CalibBins - 1).toLong)).as("bin"))
      .groupBy($"bin")
      .agg(count(lit(1)).as("n"),
        sum(when($"pred" === $"label", 1L).otherwise(0L)).as("n_correct"),
        sum($"sm").as("conf_sum"))
      .select($"bin", $"n", $"n_correct",
        floor($"conf_sum".cast("double") / $"n".cast("double") + lit(0.5))
          .as("mean_conf_micro"),
        floor($"n_correct".cast("double") / $"n".cast("double") * lit(1e6)
          + lit(0.5)).as("acc_micro"))
      .orderBy($"bin")
  }

  /** The q98 oracle: R unrolled GD rounds. Weights live as int64
    * micro-units in per-round (k, j, wm) tables; each round
    * rebuilds the weight matrix as an ordered list-of-lists (list
    * aggregation with explicit ORDER BY — never an engine-ordered
    * SUM), folds per-row logits and softmax denominators in fixed
    * index order via list_reduce (the exact twin of the Spark
    * side's zip_with + aggregate), micro-quantizes each gradient
    * term before the order-independent BIGINT sum, and applies the
    * same left-assoc floor(lr·g/n + 0.5) update. */
  /** The q174 chain over any (vec_id, label, j, pm) per-(example,
    * class) micro-probability frame (spec hook: planted
    * probabilities with hand-computed thresholds and matrix —
    * LearnSpec). Threshold mean rounds floor(+0.5) on the exact
    * integer sum (pm ≤ 1e6, so the int64 sum holds to ~9e12
    * examples per class); argmax ties break on the smaller class
    * id; examples with no confident class drop (the CL convention). */
  private[graft] def labelNoise(px0: DataFrame): DataFrame = {
    val spark = px0.sparkSession
    import spark.implicits._
    // thresholds and candidates both read the probability frame —
    // persist (id-width × K rows) so the embedding scan + softmax
    // kernel run once
    val px = px0
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val th = px.filter($"label" === $"j").groupBy($"j")
      .agg(floor(sum($"pm").cast("double") / count(lit(1)).cast("double")
        + lit(0.5)).cast("long").as("tm"))
    val cand = px.join(broadcast(th), Seq("j")).filter($"pm" >= $"tm")
    val asg = graft.plans.TopK.perKey(cand, Seq("vec_id"),
      Seq("pm" -> false, "j" -> true), 1)
    val m = asg.groupBy($"label".as("noisy"), $"j".as("assigned"))
      .agg(count(lit(1)).as("n"))
    m.crossJoin(broadcast(m.agg(sum($"n").as("tot"))))
      .select($"noisy", $"assigned", $"n",
        floor($"n".cast("double") / $"tot".cast("double") * lit(1e6)
          + lit(0.5)).cast("long").as("frac_micro"))
      .orderBy($"noisy", $"assigned")
  }

  /** q176: target dimension (64 → 16; 1/√16 = 1/4 is exact in
    * binary, so the scale step is one exact division) and the house
    * hash constants for the sign matrix. */
  private val JlDim    = 16
  private val JlSrcDim = 64
  private val JlMult   = 2654435761L
  private val JlP      = 1000000007L
  private val JlStrides = Seq(1L, 17L)

  /** The q176 chain over any (vec_id, embedding) frame (spec hook:
    * Scala replay of the exact fold arithmetic on seeded vectors —
    * LearnSpec). */
  private[graft] def jlDistortion(emb: DataFrame): DataFrame = {
    val spark = emb.sparkSession
    import spark.implicits._
    // ±1 from the parity of the house hash at flat index j·64+i+1.
    // Range audit (r17): PARITY of the affine hash — bit-level,
    // range-free (MixRangeSpec's site sweep).
    def sign(i: Column, j: Column): Column =
      when((j * lit(JlSrcDim.toLong) + i + lit(1L)) * lit(JlMult)
        % lit(JlP) % lit(2L) === 0L, lit(1.0)).otherwise(lit(-1.0))
    val proj = transform(sequence(lit(0L), lit(JlDim - 1L)), j =>
      aggregate(
        zip_with($"v", sequence(lit(0L), lit(JlSrcDim - 1L)),
          (x, i) => x * sign(i, j)),
        lit(0.0), (a, t) => a + t) / lit(4.0))
    val d2 = (a: Column, b: Column) => aggregate(
      zip_with(a, b, (x, y) =>
        floor((x - y) * (x - y) * lit(1e6) + lit(0.5)).cast("bigint")),
      lit(0L), (acc, t) => acc + t)
    val wp = emb
      .select($"vec_id", $"embedding".cast("array<double>").as("v"))
      .withColumn("p", proj)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val lhs = wp.select($"vec_id", $"v", $"p",
        explode(typedLit(JlStrides)).as("stride"))
      .withColumn("k", $"vec_id" + $"stride")
    val pairs = lhs.join(
      wp.select($"vec_id".as("k"), $"v".as("v2"), $"p".as("p2")), Seq("k"))
    pairs
      .select($"stride", d2($"v", $"v2").as("d2o"), d2($"p", $"p2").as("d2p"))
      .filter($"d2o" > 0L)
      .withColumn("ratio_micro",
        floor($"d2p".cast("double") / $"d2o".cast("double") * lit(1e6)
          + lit(0.5)).cast("long"))
      .groupBy($"stride")
      .agg(count(lit(1)).as("n_pairs"),
        floor(sum($"ratio_micro").cast("double")
          / count(lit(1)).cast("double") + lit(0.5)).cast("long")
          .as("mean_ratio_micro"),
        min($"ratio_micro").as("min_ratio_micro"),
        max($"ratio_micro").as("max_ratio_micro"))
      .orderBy($"stride")
  }

  /** Softmax denominator over the `sc` CTE's ez column (fold in
    * class order from 0.0 — the kernel contract). */
  private val EzDen = "list_reduce(list_prepend(0.0, ez), (a, b) -> a + b)"

  /** The q98 full-training-replay CTE chain, ending at
    * `sc AS (vec_id, y, ez)` (per-class exp-logits under the final
    * weights) — shared verbatim by the q98/q113/q132 oracles and
    * q174's noise-matrix oracle. */
  private def probeChainCtes: String = {
    // exp(w_k · xb) per class, in class order, from a one-row wll
    // (list-of-lists) CTE joined alongside
    val ez =
      "list_transform(wll, wl -> exp(list_reduce(list_prepend(0.0, " +
        "list_transform(range(1, " + (D + 1) + "), i -> " +
        "wl[CAST(i AS INTEGER)] * xb[CAST(i AS INTEGER)])), " +
        "(a, b) -> a + b)))"
    val den = EzDen
    val rounds = (1 to R).map { t =>
      s"""wl$t AS (SELECT k, list(wm / 1000000.0 ORDER BY j) AS wl
         |         FROM w${t - 1} GROUP BY k),
         |wll$t AS (SELECT list(wl ORDER BY k) AS wll FROM wl$t),
         |p$t AS (SELECT vec_id, y, xb, $ez AS ez FROM e, wll$t),
         |g$t AS (
         |  SELECT CAST(u.k AS INTEGER) AS k, CAST(v.j AS INTEGER) AS j,
         |    SUM(CAST(floor((ez[CAST(u.k AS INTEGER) + 1] / den
         |        - CASE WHEN y = u.k THEN 1.0 ELSE 0.0 END)
         |        * xb[CAST(v.j AS INTEGER) + 1] * 1000000.0 + 0.5)
         |      AS BIGINT)) AS gm
         |  FROM (SELECT *, $den AS den FROM p$t),
         |       range(0, $K) u(k), range(0, $D) v(j)
         |  GROUP BY 1, 2),
         |w$t AS (
         |  SELECT w.k, w.j,
         |    w.wm - CAST(floor(${ProbeTrainer.Lr} * g.gm / n.n + 0.5)
         |      AS BIGINT) AS wm
         |  FROM w${t - 1} w JOIN g$t g ON g.k = w.k AND g.j = w.j, n)"""
        .stripMargin
    }.mkString(",\n")
    s"""e AS (
       |  SELECT vec_id, CAST(label AS INTEGER) AS y,
       |    list_prepend(1.0, list_transform(embedding,
       |      v -> CAST(v AS DOUBLE))) AS xb
       |  FROM embeddings),
       |n AS (SELECT CAST(count(*) AS DOUBLE) AS n FROM e),
       |w0 AS (SELECT CAST(t.k AS INTEGER) AS k, CAST(u.j AS INTEGER) AS j,
       |         CAST(0 AS BIGINT) AS wm
       |       FROM range(0, $K) t(k), range(0, $D) u(j)),
       |$rounds,
       |wlF AS (SELECT k, list(wm / 1000000.0 ORDER BY j) AS wl
       |        FROM w$R GROUP BY k),
       |wllF AS (SELECT list(wl ORDER BY k) AS wll FROM wlF),
       |sc AS (SELECT vec_id, y, $ez AS ez FROM e, wllF)""".stripMargin
  }

  private def probeOracle: String = {
    val maxEz = "list_reduce(ez, (p, q) -> CASE WHEN q > p THEN q ELSE p END)"
    s"""WITH $probeChainCtes
       |SELECT vec_id, y AS label,
       |  CAST(list_position(ez, $maxEz) - 1 AS INTEGER) AS pred,
       |  ${graft.ops.Determinism.Oracles.fround(s"$maxEz / ($EzDen)", 6)} AS score
       |FROM sc ORDER BY vec_id""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q98_linear_probe" -> graft.ops.Determinism.Oracles.materializeCtes(probeOracle),

    // Twin of q151: same per-term micro-quantize-then-BIGINT-sum
    // surprisal device, the closed-form MW weight with eta/steps
    // interpolated from the shared constants, explicit parens so
    // the double expressions associate exactly as the Spark column.
    "q151_doremi_weights" ->
      s"""WITH t AS (SELECT source, unnest(${graft.queries.TextVector.Sql.toks("text")}) AS w
         |           FROM documents),
         |tf AS (SELECT source, w, CAST(count(*) AS BIGINT) AS csw
         |       FROM t GROUP BY source, w),
         |cw AS (SELECT w, CAST(sum(csw) AS BIGINT) AS cw FROM tf GROUP BY w),
         |ns AS (SELECT source, CAST(sum(csw) AS BIGINT) AS n_s
         |       FROM tf GROUP BY source),
         |tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM ns),
         |sterm AS (SELECT tf.source, CAST(sum(CAST(floor(
         |      -CAST(tf.csw AS DOUBLE)
         |      * ln(CAST(cw.cw AS DOUBLE) / CAST(tot.n AS DOUBLE))
         |      * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS st
         |    FROM tf JOIN cw ON cw.w = tf.w CROSS JOIN tot
         |    GROUP BY tf.source),
         |loss AS (SELECT sterm.source, ns.n_s,
         |    CAST(floor(CAST(st AS DOUBLE) / CAST(ns.n_s AS DOUBLE) + 0.5)
         |      AS BIGINT) AS loss_micro
         |  FROM sterm JOIN ns ON ns.source = sterm.source),
         |cterm AS (SELECT CAST(floor(CAST(ct AS DOUBLE) / CAST(n AS DOUBLE)
         |      + 0.5) AS BIGINT) AS corpus_micro
         |  FROM (SELECT tot.n, CAST(sum(CAST(floor(
         |        -CAST(cw.cw AS DOUBLE)
         |        * ln(CAST(cw.cw AS DOUBLE) / CAST(tot.n AS DOUBLE))
         |        * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS ct
         |      FROM cw CROSS JOIN tot GROUP BY tot.n)),
         |exc AS (SELECT source, n_s AS n_tokens, loss_micro,
         |    greatest(loss_micro - corpus_micro, CAST(0 AS BIGINT))
         |      AS excess_micro
         |  FROM loss CROSS JOIN cterm),
         |raw AS (SELECT *, CAST(floor(power(
         |      1.0 + $DoremiEta * (CAST(excess_micro AS DOUBLE) / 1000000.0),
         |      ${DoremiSteps.toDouble}) * 1000000.0 + 0.5) AS BIGINT) AS r_micro
         |  FROM exc),
         |den AS (SELECT CAST(sum(r_micro) AS BIGINT) AS rsum FROM raw)
         |SELECT source, n_tokens, loss_micro, excess_micro,
         |  CAST(floor(CAST(r_micro AS DOUBLE) * 1000000.0
         |    / CAST(rsum AS DOUBLE) + 0.5) AS BIGINT) AS weight_micro
         |FROM raw CROSS JOIN den ORDER BY source""".stripMargin,

    // Twin of q163: same token-mass rollup, the ONE IEEE sqrt
    // (correctly rounded both engines — no pow), nano-quantized
    // damped masses, HUGEINT ≡ DECIMAL(38,0) integral divisions.
    "q163_temperature_mix" ->
      s"""WITH d AS (SELECT lang,
         |             CAST(len(${graft.queries.TextVector.Sql.toks("text")})
         |               AS BIGINT) AS n_tok
         |           FROM documents),
         |m AS (SELECT lang, CAST(sum(n_tok) AS BIGINT) AS c
         |      FROM d GROUP BY lang),
         |tot AS (SELECT CAST(sum(c) AS BIGINT) AS n FROM m),
         |q AS (SELECT lang, c, n,
         |        CAST(floor(sqrt(CAST(c AS DOUBLE) / CAST(n AS DOUBLE))
         |          * 1000000000.0 + 0.5) AS BIGINT) AS q
         |      FROM m CROSS JOIN tot),
         |qs AS (SELECT CAST(sum(q) AS BIGINT) AS qs FROM q)
         |SELECT lang, c AS n_tokens,
         |  CAST((CAST(c AS HUGEINT) * 1000000) // n AS BIGINT) AS share_micro,
         |  (q * 1000000) // qs AS w_micro,
         |  CASE WHEN c > 0
         |    THEN CAST((CAST(q AS HUGEINT) * n * 1000000)
         |      // (CAST(qs AS HUGEINT) * c) AS BIGINT)
         |    ELSE CAST(0 AS BIGINT) END AS epochs_micro
         |FROM q CROSS JOIN qs ORDER BY lang""".stripMargin,

    // Twin of q113: the FULL q98 training replay as a derived table
    // (so the calibration gate certifies the same trajectory), then
    // the identical integer binning. NB: composed by concatenation —
    // probeOracle is already margin-stripped (the double-stripMargin
    // trap, see bpeOracle's note in Corpus.scala).
    // NB: the outer CTE is `scm`, NOT `sc` — the embedded
    // probeOracle already defines a CTE named `sc`, and reusing the
    // name would lean on nested-WITH innermost-binding resolution (a
    // silent-rebind hazard if anyone ever flattens the subquery).
    "q113_probe_calibration" -> graft.ops.Determinism.Oracles.materializeCtes(
      "WITH scm AS (SELECT label, pred, " +
        "CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS sm " +
        "FROM (\n" + probeOracle + "\n) p0),\n" +
        s"b AS (SELECT least(CAST(floor(CAST(sm AS DOUBLE) / $BinWidthMicro.0) " +
        s"AS BIGINT), ${CalibBins - 1}) AS bin, " +
        "CASE WHEN pred = label THEN 1 ELSE 0 END AS ok, sm FROM scm),\n" +
        "g AS (SELECT bin, count(*) AS n, CAST(sum(ok) AS BIGINT) AS n_correct, " +
        "CAST(sum(sm) AS BIGINT) AS conf_sum FROM b GROUP BY 1)\n" +
        "SELECT bin, n, n_correct, " +
        "CAST(floor(CAST(conf_sum AS DOUBLE) / CAST(n AS DOUBLE) + 0.5) " +
        "AS BIGINT) AS mean_conf_micro, " +
        "CAST(floor(CAST(n_correct AS DOUBLE) / CAST(n AS DOUBLE) " +
        "* 1000000.0 + 0.5) AS BIGINT) AS acc_micro " +
        "FROM g ORDER BY bin"),

    // Twin of q132: the full q98 training replay as a derived table
    // (the q113 device — concatenation-composed, outer CTE names
    // disjoint from the embedded chain's e/n/w*/wl*/wll*/p*/g*/sc),
    // the shared tokenizer's counts, then integer-exact grouping and
    // the top-down running sum over the aggregated score table.
    "q132_threshold_sweep" -> graft.ops.Determinism.Oracles.materializeCtes(
      "WITH tkc AS (SELECT doc_id, CAST(len(" +
        TextVector.Sql.toks("text") + ") AS BIGINT) AS n_tok FROM documents),\n" +
        "jn AS (SELECT CAST(floor(score * 1000000.0 + 0.5) AS BIGINT) AS sm, " +
        "n_tok FROM (\n" + probeOracle + "\n) p0 " +
        "JOIN tkc ON tkc.doc_id = p0.vec_id),\n" +
        "gb AS (SELECT sm, count(*) AS n_docs, " +
        "CAST(sum(n_tok) AS BIGINT) AS n_tokens FROM jn GROUP BY 1)\n" +
        "SELECT sm AS score_micro, n_docs, n_tokens, " +
        "CAST(sum(n_docs) OVER (ORDER BY sm DESC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum_docs, " +
        "CAST(sum(n_tokens) OVER (ORDER BY sm DESC ROWS UNBOUNDED PRECEDING) " +
        "AS BIGINT) AS cum_tokens " +
        "FROM gb ORDER BY score_micro DESC"),

    // Twin of q174: the shared training-replay chain, per-class
    // micro probabilities off sc's ez list, the same integer
    // self-confidence thresholds, rank-1 confident argmax
    // (pm DESC, j — the smaller-class tie-break), ≤ K² matrix.
    "q174_label_noise" -> graft.ops.Determinism.Oracles.materializeCtes(
      s"""WITH $probeChainCtes,
         |px AS (SELECT vec_id, y, CAST(u.j AS INTEGER) AS j,
         |         CAST(floor(ez[CAST(u.j AS INTEGER) + 1] / ($EzDen)
         |           * 1000000.0 + 0.5) AS BIGINT) AS pm
         |       FROM sc, range(0, $K) u(j)),
         |th AS (SELECT j, CAST(floor(CAST(sum(pm) AS DOUBLE)
         |           / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS tm
         |       FROM px WHERE y = j GROUP BY j),
         |cf AS (SELECT vec_id, y, px.j, pm
         |       FROM px JOIN th ON th.j = px.j AND pm >= tm),
         |asg AS (SELECT vec_id, y, j,
         |          row_number() OVER (PARTITION BY vec_id
         |                             ORDER BY pm DESC, j) AS rn
         |        FROM cf),
         |m AS (SELECT y AS noisy, j AS assigned,
         |        CAST(count(*) AS BIGINT) AS n
         |      FROM asg WHERE rn = 1 GROUP BY 1, 2),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS tot FROM m)
         |SELECT noisy, assigned, n,
         |  CAST(floor(CAST(n AS DOUBLE) / CAST(tot AS DOUBLE)
         |    * 1000000.0 + 0.5) AS BIGINT) AS frac_micro
         |FROM m, t ORDER BY noisy, assigned""".stripMargin),

    // Twin of q176: same parity-signed projection (fixed ascending-i
    // fold per target dim, one exact /4.0), same per-dim
    // micro-quantized squared distances, same single-division ratio.
    "q176_jl_distortion" -> {
      val signCase = s"CASE WHEN (j*$JlSrcDim + i + 1) * $JlMult" +
        s" % $JlP % 2 = 0 THEN 1.0 ELSE -1.0 END"
      def d2(a: String, b: String): String =
        s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
          s"list_transform(list_zip($a, $b), q -> " +
          "CAST(floor((q[1]-q[2])*(q[1]-q[2])*1000000.0 + 0.5) AS BIGINT)))," +
          " (x, y) -> x + y)"
      s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
         |           FROM embeddings),
         |pj AS (SELECT vec_id, v,
         |         list_transform(range(0, $JlDim), j ->
         |           list_reduce(list_prepend(0.0,
         |             list_transform(range(0, $JlSrcDim), i ->
         |               v[CAST(i AS INTEGER) + 1] * $signCase)),
         |             (a, b) -> a + b) / 4.0) AS p
         |       FROM e),
         |ls AS (SELECT a.v, a.p, CAST(u.s AS BIGINT) AS stride,
         |         a.vec_id + u.s AS k
         |       FROM pj a, unnest([1, 17]) u(s)),
         |pr AS (SELECT ls.stride, ls.v, ls.p, b.v AS v2, b.p AS p2
         |       FROM ls JOIN pj b ON b.vec_id = ls.k),
         |dd AS (SELECT stride, ${d2("v", "v2")} AS d2o,
         |         ${d2("p", "p2")} AS d2p FROM pr),
         |rt AS (SELECT stride,
         |         CAST(floor(CAST(d2p AS DOUBLE) / CAST(d2o AS DOUBLE)
         |           * 1000000.0 + 0.5) AS BIGINT) AS ratio_micro
         |       FROM dd WHERE d2o > 0)
         |SELECT stride, CAST(count(*) AS BIGINT) AS n_pairs,
         |  CAST(floor(CAST(sum(ratio_micro) AS DOUBLE)
         |    / CAST(count(*) AS DOUBLE) + 0.5) AS BIGINT) AS mean_ratio_micro,
         |  min(ratio_micro) AS min_ratio_micro,
         |  max(ratio_micro) AS max_ratio_micro
         |FROM rt GROUP BY stride ORDER BY stride""".stripMargin
    },

    "q99_domain_mixture" -> {
      import TextVector.Sql
      s"""WITH docs AS (
         |  SELECT doc_id, lang,
         |    CAST(len(${Sql.toks("text")}) AS BIGINT) AS n_tok,
         |    ${Sql.polyHash("text")} AS h
         |  FROM documents),
         |c AS (SELECT lang, count(*) AS n_docs,
         |        CAST(sum(n_tok) AS BIGINT) AS n_tokens
         |      FROM docs GROUP BY 1),
         |m AS (SELECT min(n_tokens) AS n_min FROM c),
         |r AS (SELECT lang, n_docs, n_tokens,
         |        CAST(floor(power(CAST(n_tokens AS DOUBLE) /
         |            CAST(n_min AS DOUBLE), $TauM1) * 1000000.0 + 0.5)
         |          AS BIGINT) AS rate_micro
         |      FROM c, m),
         |k AS (SELECT d.lang, count(*) AS n_kept,
         |        CAST(sum(d.n_tok) AS BIGINT) AS kept_tokens
         |      FROM docs d JOIN r ON r.lang = d.lang
         |      WHERE (d.h % 1000000) < r.rate_micro GROUP BY 1)
         |SELECT r.lang, r.n_docs, r.n_tokens,
         |  CAST(r.rate_micro AS DOUBLE) / 1000000.0 AS rate,
         |  coalesce(k.n_kept, CAST(0 AS BIGINT)) AS n_kept,
         |  coalesce(k.kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens
         |FROM r LEFT JOIN k ON k.lang = r.lang ORDER BY r.lang""".stripMargin
    },

    // Twin of q136: same prefix-sum cap test (pure int64
    // cross-multiplication), same integer div allocations.
    "q136_token_alloc" ->
      s"""WITH t AS (SELECT source,
         |             CAST(len(${TextVector.Sql.toks("text")}) AS BIGINT) AS n
         |           FROM documents),
         |a AS (SELECT source, CAST(sum(n) AS BIGINT) AS avail
         |      FROM t GROUP BY 1),
         |g AS (SELECT source, avail,
         |        CAST(sum(avail) OVER (ORDER BY avail, source
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_a,
         |        CAST(sum(avail) OVER () AS BIGINT) AS total,
         |        CAST(count(*) OVER () AS BIGINT) AS s,
         |        CAST(row_number() OVER (ORDER BY avail, source)
         |          AS BIGINT) AS i
         |      FROM a),
         |c AS (SELECT *, (total * $BudgetNum) // $BudgetDen AS b FROM g),
         |f AS (SELECT *,
         |        (avail * (s - i + 1) <= b - (cum_a - avail)) AS capped
         |      FROM c),
         |x AS (SELECT
         |  CAST(coalesce(sum(CASE WHEN capped THEN avail END), 0)
         |    AS BIGINT) AS a_cap,
         |  CAST(coalesce(sum(CASE WHEN capped THEN 1 END), 0)
         |    AS BIGINT) AS k FROM f),
         |al AS (SELECT source, avail, capped, b, s, k,
         |         CASE WHEN capped THEN avail
         |           ELSE (b - a_cap) // (s - k) END AS alloc
         |       FROM f, x)
         |SELECT source, avail AS avail_tokens, alloc AS alloc_tokens,
         |  capped,
         |  CASE WHEN avail > 0 THEN (alloc * 1000000) // avail
         |    ELSE CAST(0 AS BIGINT) END AS epochs_micro
         |FROM al ORDER BY source""".stripMargin,

    "q100_curation_funnel" -> {
      import TextVector.Sql
      s"""WITH t AS (
         |  SELECT doc_id, lang, ${Sql.polyHash("text")} AS fp,
         |    ${Sql.fpHi("text")} AS fp_hi, ${Sql.fpLo("text")} AS fp_lo,
         |    CAST(len(${Sql.toks("text")}) AS BIGINT) AS n_tok,
         |    CASE WHEN len(${Sql.toks("text")}) = 0 THEN 0.0
         |         ELSE CAST(len(list_distinct(${Sql.toks("text")})) AS DOUBLE)
         |              / CAST(len(${Sql.toks("text")}) AS DOUBLE) END AS dr
         |  FROM documents),
         |kk AS (SELECT fp_hi, fp_lo, min(doc_id) AS keeper_id
         |       FROM t GROUP BY 1, 2),
         |f AS (SELECT t.doc_id, t.lang, t.fp, t.n_tok,
         |        t.doc_id = kk.keeper_id AS is_keeper,
         |        t.n_tok >= $MinTokens AND t.dr >= $MinDistinctRatio AS is_quality
         |      FROM t JOIN kk ON kk.fp_hi = t.fp_hi AND kk.fp_lo = t.fp_lo),
         |s AS (SELECT * FROM f WHERE is_keeper AND is_quality),
         |sc AS (SELECT lang, count(*) AS n_quality,
         |         CAST(sum(n_tok) AS BIGINT) AS q_tokens
         |       FROM s GROUP BY 1),
         |m AS (SELECT min(q_tokens) AS n_min FROM sc),
         |r AS (SELECT lang, n_quality,
         |        CAST(floor(power(CAST(q_tokens AS DOUBLE) /
         |            CAST(n_min AS DOUBLE), $TauM1) * 1000000.0 + 0.5)
         |          AS BIGINT) AS rate_micro
         |      FROM sc, m),
         |kp AS (SELECT s.lang, count(*) AS n_kept,
         |         CAST(sum(s.n_tok) AS BIGINT) AS kept_tokens
         |       FROM s JOIN r ON r.lang = s.lang
         |       WHERE (s.fp % 1000000) < r.rate_micro GROUP BY 1),
         |raw AS (SELECT lang, count(*) AS n_raw,
         |          CAST(sum(CASE WHEN is_keeper THEN 1 ELSE 0 END) AS BIGINT)
         |            AS n_dedup
         |        FROM f GROUP BY 1)
         |SELECT raw.lang, raw.n_raw, raw.n_dedup,
         |  coalesce(r.n_quality, CAST(0 AS BIGINT)) AS n_quality,
         |  coalesce(CAST(r.rate_micro AS DOUBLE) / 1000000.0, 0.0) AS rate,
         |  coalesce(kp.n_kept, CAST(0 AS BIGINT)) AS n_kept,
         |  coalesce(kp.kept_tokens, CAST(0 AS BIGINT)) AS kept_tokens
         |FROM raw LEFT JOIN r ON r.lang = raw.lang
         |LEFT JOIN kp ON kp.lang = raw.lang
         |ORDER BY raw.lang""".stripMargin
    },

    // Twin of [[dsirSelect]]: per-token polyhash (q70's position
    // device) → bucket counts → the same
    // exactly-representable-product ratio, ln micro-rounded per
    // BUCKET, BIGINT-summed per doc, ranked per lang.
    "q103_dsir_select" -> {
      import TextVector.Sql
      val B = DsirBuckets
      s"""WITH pos AS (
         |  SELECT doc_id, (doc_id % 2 = 0) AS tgt,
         |    (${Sql.polyHash("toks[u.i+1]")}) % $B AS b
         |  FROM (SELECT doc_id, ${Sql.toks("text")} AS toks FROM documents) t,
         |       unnest(range(0, len(toks))) u(i)),
         |ct AS (SELECT b, count(*) AS ct FROM pos WHERE tgt GROUP BY 1),
         |cr AS (SELECT b, count(*) AS cr FROM pos WHERE NOT tgt GROUP BY 1),
         |tot AS (SELECT (SELECT CAST(sum(ct) AS BIGINT) FROM ct) AS nt,
         |               (SELECT CAST(sum(cr) AS BIGINT) FROM cr) AS nr),
         |lr AS (
         |  SELECT cr.b,
         |    CAST(floor(ln(
         |      (CAST(coalesce(ct.ct, 0) + 1 AS DOUBLE) * CAST(nr + $B AS DOUBLE))
         |      / (CAST(cr.cr + 1 AS DOUBLE) * CAST(nt + $B AS DOUBLE)))
         |      * 1000000.0 + 0.5) AS BIGINT) AS lr_micro
         |  FROM cr LEFT JOIN ct ON ct.b = cr.b, tot),
         |sc AS (
         |  SELECT p.doc_id, count(*) AS n_tok,
         |    CAST(sum(lr.lr_micro) AS BIGINT) AS lw_micro
         |  FROM pos p JOIN lr ON lr.b = p.b WHERE NOT p.tgt GROUP BY 1),
         |r AS (
         |  SELECT d.lang, d.doc_id,
         |    coalesce(sc.n_tok, CAST(0 AS BIGINT)) AS n_tok,
         |    coalesce(sc.lw_micro, CAST(0 AS BIGINT)) AS lw_micro,
         |    row_number() OVER (PARTITION BY d.lang
         |      ORDER BY coalesce(sc.lw_micro, CAST(0 AS BIGINT)) DESC, d.doc_id) AS rn
         |  FROM documents d LEFT JOIN sc ON sc.doc_id = d.doc_id
         |  WHERE d.doc_id % 2 = 1)
         |SELECT lang, CAST(rn AS BIGINT) AS rn, doc_id, n_tok, lw_micro
         |FROM r WHERE rn <= $DsirTopN ORDER BY lang, rn""".stripMargin
    },

    // Twin of q129: the full power-iteration trajectory as unrolled
    // materialized CTEs (the q98 device). Per iteration: row dots
    // fold in dim order over (cv·v) lists, z terms micro-quantize to
    // int64 before the order-free sum, the norm folds squared
    // coordinates in dim order, and the iterate re-enters as
    // micro-rounded doubles — operand-for-operand the Spark loop.
    "q129_top_pc" -> graft.ops.Determinism.Oracles.materializeCtes(
      "WITH " + pcChainSql + ",\n" +
      s"""pc AS (SELECT dim,
         |         CAST(floor(CAST(zs AS DOUBLE) / 1000000.0
         |           / (SELECT nrm FROM nr$PcIters) * 1000000.0 + 0.5) AS BIGINT) AS pc_micro
         |       FROM z$PcIters),
         |lam AS (SELECT CAST(floor((SELECT nrm FROM nr$PcIters)
         |          / CAST((SELECT n FROM cnt) AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) AS lambda_micro)
         |SELECT CAST(mu.dim AS BIGINT) AS dim,
         |  CAST(floor(mu.m * 1000000.0 + 0.5) AS BIGINT) AS mean_micro,
         |  pc.pc_micro, lam.lambda_micro
         |FROM mu JOIN pc USING (dim) CROSS JOIN lam
         |ORDER BY dim""".stripMargin),

    // Twin of q130: the trajectory chain fixes v$PcIters, then the
    // per-row folds (norm over xv², projection over cv·v, residual
    // over (cv − proj·v)²) run ORDER BY dim through list_reduce —
    // the exact operand tree of the Spark transform/zip_with chain.
    "q130_whiten" -> graft.ops.Determinism.Oracles.materializeCtes(
      "WITH " + pcChainSql + ",\n" +
      s"""pr AS (SELECT vec_id, list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list(cv * v ORDER BY dim)), (a, b) -> a + b) AS proj
         |      FROM c JOIN v$PcIters USING (dim) GROUP BY vec_id),
         |n0 AS (SELECT vec_id, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list(xv * xv ORDER BY dim)), (a, b) -> a + b)) AS nrm0
         |      FROM ed GROUP BY vec_id),
         |rs AS (SELECT c.vec_id, sqrt(list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |        list((cv - pr.proj * v) * (cv - pr.proj * v) ORDER BY dim)),
         |        (a, b) -> a + b)) AS nrmr
         |      FROM c JOIN v$PcIters USING (dim) JOIN pr ON pr.vec_id = c.vec_id
         |      GROUP BY c.vec_id)
         |SELECT n0.vec_id,
         |  CAST(floor(nrm0 * 1000000.0 + 0.5) AS BIGINT) AS norm_micro,
         |  CAST(floor(proj * 1000000.0 + 0.5) AS BIGINT) AS proj_micro,
         |  CAST(floor(nrmr * 1000000.0 + 0.5) AS BIGINT) AS resid_micro
         |FROM n0 JOIN pr USING (vec_id) JOIN rs USING (vec_id)
         |ORDER BY vec_id""".stripMargin),

    // Twin of q122: SeededSample's documented SQL replay, one
    // row_number per domain (fine in the oracle engine — the
    // skew argument is about the Spark plan, not DuckDB).
    "q122_stratified_sample" ->
      s"""SELECT lang, doc_id, rn FROM (
         |  SELECT lang, doc_id,
         |    row_number() OVER (PARTITION BY lang
         |      ORDER BY (doc_id % ${graft.ops.SeededSample.Mod}) *
         |        ${graft.ops.SeededSample.Mult} % ${graft.ops.SeededSample.Mod},
         |        doc_id) AS rn
         |  FROM documents)
         |WHERE rn <= $SampleK ORDER BY lang, rn""".stripMargin
  )
}
