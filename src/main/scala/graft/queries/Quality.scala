package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.TextOps
import graft.queries.TextVector.{Sql => TSql}

/** Corpus-quality / privacy / decontamination extensions — the
  * curation steps a training-data pipeline runs between the
  * reference's embed jobs (`/root/reference/run.py`) and training:
  * intra-document repetition statistics (the public Gopher-style
  * repetition filters: top-token and top-2-gram mass fractions),
  * PII masking with stable pseudonymization, benchmark-contamination
  * detection via shingle-hash overlap, token-budget sequence
  * packing, and the correlated-subquery SQL face.
  *
  * Same contract as the other packs: every query has a DuckDB oracle
  * twin with identical IEEE arithmetic (graft.ops.Determinism /
  * TextVector.Sql conventions — int64 counts, exact-rounded double
  * division, shared polynomial-hash constants).
  */
object Quality extends graft.QueryPack {

  /** Gopher-style repetition thresholds (public heuristics; the
    * exact cut points are corpus-tuned parameters, not magic). */
  private val TopBigramFracMax = 0.18
  private val TopTokenFracMax  = 0.3

  /** Contamination shingle width. The testdata vocabulary is tiny
    * (~40 words), so 3-grams already give a meaningful overlap
    * signal; real corpora use 8–13-gram windows — the plan shape
    * (broadcast benchmark set, hash equi-join) is width-independent. */
  private val ContamK = 3

  /** Sequence-packing token budget per training sequence. */
  private val PackBudget = 512

  /** q134 heuristic-gate cut points (C4/Gopher-style; public rule
    * FAMILY, corpus-tuned values — Gopher's 50..100k word band and
    * ≥2-stopword floor scale to this corpus's 10–99-token docs as
    * below; measured fail rates at both gate scales: 105/106 short,
    * 47/43 long, 59/66 length-band, 150/165 stopword, ~52% pass).
    * The mean-token-length band is in TENTHS of a char so every rule
    * comparison stays integer (sum_len·10 vs bound·n — no float
    * boundary anywhere). */
  private val GateMinTok  = 30L
  private val GateMaxTok  = 90L
  private val GateLenLo   = 42L // mean token length ≥ 4.2 chars
  private val GateLenHi   = 48L // mean token length ≤ 4.8 chars
  private val GateMinStop = 5L

  /** Chunk width for the generator-form chunker (same as q21's). */
  private val ChunkN = 16

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Intra-document repetition statistics (the quality signal the
    // dedup family — q23/q24/q29/q34 — cannot see: repetition INSIDE
    // one document). Per doc: mass fraction of the most frequent
    // token and of the most frequent 2-gram, plus the distinct-token
    // ratio; flag docs over the Gopher-style cut points. Plan: two
    // explode→count aggregations keyed by (doc_id, gram) — state is
    // bounded per doc's vocabulary, keys are (doc × gram) so the
    // shuffle scales linearly with corpus tokens; no per-row O(n²)
    // lambda counting (the HOF formulation interprets |toks|² evals
    // per row — measured against at sf0.1 before choosing this
    // shape).
    // Flesch reading-ease profile per language (Flesch 1948; the
    // readability score ships as a feature in published quality
    // classifiers and data-audit dashboards): 206.835 − 1.015·(W/S)
    // − 84.6·(syllables/W), syllables by the standard vowel-group
    // heuristic (maximal [aeiouy]+ runs per word, floor 1 — the
    // public approximation; both engines run the same regex).
    // Determinism: per-doc score is ONE fixed-order double
    // expression over exact integer counts, micro-quantized per doc
    // BEFORE the order-free integer sum; the mean divides once in
    // double with the same floor(+0.5) in both engines (integer div
    // truncates toward zero vs DuckDB's floor — they diverge on
    // negative sums, and Flesch goes negative on dense text).
    // Scale shape: one narrow codegen pass per doc (tokens +
    // sentence split + vowel-group HOF), map-side-combined rollup to
    // O(langs) rows. Sentence-less or token-less docs are out of a
    // readability score's scope.
    "q148_readability" -> { (s, d) =>
      readability(Tables.documents(s, d))
    },

    "q51_repetition" -> { (s, d) =>
      import s.implicits._
      // Single pass on the TokenHashes codegen kernel (no regex, no
      // token strings): grams become LONG ids — a 1-gram is h·2, a
      // 2-gram is ((h_i·31 + h_{i+1}) mod P)·2 + 1 (kind in the low
      // bit, all values < 2^32 so no overflow) — then one
      // explode→count→conditional-agg. Counting hashed grams ≡
      // counting strings up to polyhash collisions, which both
      // engines compute identically (q24's argument). vs the
      // two-branch string+struct+join formulation: one scan instead
      // of two, one count shuffle of longs instead of three of
      // strings (measured 1.85 s → 1.19 s at sf0.1; the string
      // form's dominant cost was interpreted struct/string lambdas).
      val P = lit(1000000007L)
      // r19 audit note: the q126 pre-partition device was TRIED here
      // (repartition(doc_id) satisfies both aggregates' clustered
      // distributions, dropping two exchanges) and measured 0.90 →
      // 1.62 s at sf0.1 — reverted. Unlike q126's span-width gram
      // strings, these exchanges carry 8-byte gram IDs, so the wire
      // bytes saved (~2 longs/token) roughly equal the text bytes
      // the repartition adds, and the fused four-aggregate stage
      // lost the pipeline split. Left in the exchange-per-aggregate
      // shape deliberately.
      val base = Tables.documents(s, d)
        .select($"doc_id",
          graft.ops.expressions.TokenHashes($"text").as("hs"))
        .filter(size($"hs") >= 2)
        .select($"doc_id", $"hs", size($"hs").cast("long").as("n_tok"))
      val gids = concat(
        transform($"hs", h => h * 2),
        zip_with(
          slice($"hs", lit(1), size($"hs") - 1),
          slice($"hs", lit(2), size($"hs") - 1),
          (a, b) => ((a * 31 + b) % P) * 2 + 1))
      val stats = base
        .select($"doc_id", $"n_tok", explode(gids).as("gid"))
        .groupBy($"doc_id", $"n_tok", $"gid").agg(count(lit(1)).as("c"))
        .groupBy($"doc_id", $"n_tok")
        .agg(max(when($"gid" % 2 === 0, $"c")).as("top_tok"),
          count(when($"gid" % 2 === 0, lit(1))).as("n_distinct"),
          max(when($"gid" % 2 === 1, $"c")).as("top_bigram"))
      stats
        .select($"doc_id", $"n_tok",
          ($"top_tok".cast("double") / $"n_tok".cast("double"))
            .as("top_tok_frac"),
          ($"n_distinct".cast("double") / $"n_tok".cast("double"))
            .as("distinct_frac"),
          ($"top_bigram".cast("double") / ($"n_tok" - 1).cast("double"))
            .as("top_bigram_frac"))
        .withColumn("repetitive",
          $"top_bigram_frac" > TopBigramFracMax ||
            $"top_tok_frac" > TopTokenFracMax)
        .orderBy($"doc_id")
    },

    // PII scrub: digit masking + stable pseudonymization over the
    // natural-key column (c_name carries an embedded numeric id —
    // exactly the "identifier inside free text" case). The mask is a
    // narrow per-row map (no shuffle — at 100 TB this pipelines
    // inside the scan stage); the pseudonym is the shared
    // polynomial-hash kernel, so the same entity always maps to the
    // same opaque token across jobs (what downstream joins need
    // after redaction).
    "q52_pii_scrub" -> { (s, d) =>
      import s.implicits._
      Tables.customer(s, d)
        .filter($"c_custkey" <= 200)
        .select($"c_custkey",
          regexp_replace($"c_name", "[0-9]", "#").as("masked_name"),
          (length($"c_name") - length(regexp_replace($"c_name", "[0-9]", "")))
            .cast("long").as("n_masked"),
          concat(lit("cust_"), TextOps.fingerprint($"c_name").cast("string"))
            .as("pseudonym"))
        .orderBy($"c_custkey")
    },

    // Benchmark-contamination check: which training docs share
    // verbatim k-grams with a held-out benchmark set (here: the
    // doc_id % 97 == 0 slice — a stand-in for an eval suite)?
    // Shingle-hash sets come from the fused codegen kernel (q24's);
    // the benchmark side is tiny by construction, so it broadcasts —
    // the contaminated-doc scan never shuffles its text, only
    // (doc_id, hash) pairs into the count-distinct. At 100 TB the
    // benchmark side stays broadcast-sized (eval suites are MBs) and
    // the train side streams through map-side hash probes.
    "q53_contamination" -> { (s, d) =>
      import s.implicits._
      val sh = Tables.documents(s, d)
        .select($"doc_id",
          graft.ops.expressions.ShingleHashes($"text", ContamK).as("hs"))
        .filter(size($"hs") > 0)
      val bench = sh.filter($"doc_id" % 97 === 0)
        .select($"doc_id".as("bench_id"), explode($"hs").as("h"))
      val train = sh.filter($"doc_id" % 97 =!= 0)
        .select($"doc_id", explode($"hs").as("h"))
      train.join(broadcast(bench), Seq("h"))
        .groupBy($"doc_id")
        .agg(countDistinct($"h").as("n_shared"),
          countDistinct($"bench_id").as("n_bench_docs"))
        .orderBy($"n_shared".desc, $"doc_id")
        .limit(15)
    },

    // Token-budget sequence packing: assign documents (in stable
    // doc_id order, per language) to fixed-budget training sequences
    // by exclusive-prefix-sum binning — the deterministic,
    // shuffle-once analog of greedy sequence packing (a doc whose
    // tokens straddle a boundary opens the next sequence; budget
    // overflow within a sequence is the concat-and-split convention).
    // The prefix sum is PrefixSum.exclusive's two-phase scan (q133
    // shares it): a dominant language must never funnel the raw
    // corpus through ONE window partition. Then a groupBy on
    // (lang, seq_id) that AQE coalesces; no driver-side loop.
    "q54_seq_pack" -> { (s, d) =>
      seqPack(Tables.documents(s, d))
    },

    // The chunker as a Catalyst Generator (UDTF): one (pos, chunk)
    // row per ≤16-token window, emitted lazily by ChunkExplode —
    // row-identical to q21's posexplode(chunksOf(...)) stage but
    // without materializing per-row token/chunk arrays (the
    // long-document scale path; see ChunkExplode's scaladoc). Plans
    // as GenerateExec feeding the sort directly.
    "q56_chunk_explode" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id",
          graft.ops.expressions.ChunkExplode($"text", ChunkN)
            .as(Seq("pos", "chunk")))
        .orderBy($"doc_id", $"pos")
    },

    // NULL-discipline surface: null-safe equality (<=> ≡ DuckDB's
    // IS NOT DISTINCT FROM), NULL-producing CASE, count(col) vs
    // count(*), count(DISTINCT nullable), and coalesce — the
    // semantics corner every engine must get right and engines
    // disagree on by default (e.g. Spark sorts NULLS FIRST asc,
    // DuckDB NULLS LAST — aggregation here sidesteps ordering;
    // comparisons are pinned by the null-safe operator).
    "q60_null_semantics" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"c_nationkey").orderBy($"c_custkey")
      val banded = Tables.customer(s, d)
        .select($"c_nationkey", $"c_custkey",
          when($"c_acctbal" >= 0, floor($"c_acctbal" / lit(1000.0)).cast("long"))
            .as("band"))
      banded
        .select($"c_nationkey", $"band",
          ($"band" <=> lag($"band", 1).over(w)).as("same_as_prev"))
        .groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n"), count($"band").as("n_banded"),
          countDistinct($"band").as("n_bands"),
          count(when($"same_as_prev", lit(1))).as("n_nullsafe_eq"),
          max(coalesce($"band", lit(-1L))).as("max_band_or_neg1"))
        .orderBy($"c_nationkey")
    },

    // Statistical aggregates with the engine's determinism
    // discipline: population variance and Pearson correlation from
    // integer-exact moment sums (cents-quantized balances × per-
    // customer order counts). The built-in stddev/corr fold doubles
    // in shuffle-arrival order (non-deterministic bits); these
    // compute every Σ, Σx², Σxy in int64 — overflow-checked by ANSI
    // mode, with ~9e18 headroom at any realistic group size — and
    // defer ALL floating-point to identical final expressions
    // (sqrt is IEEE correctly-rounded, so it's bit-safe cross-
    // engine). Zero-variance groups yield NULL via the same CASE
    // both sides (ANSI double x/0 would throw, not inf).
    // Chi-squared independence of the corpus mix (lang × source
    // contingency): observed cell counts vs the independence
    // expectation rt·ct/t, χ² = Σ (o-e)²/e. The QA check behind
    // "is my source mix language-balanced" — a skewed mix biases
    // every downstream quota (q39/q40). Per-cell contributions are
    // doubles, but the Σ runs through sumExact (commutative int64
    // micro-units), so the statistic is shuffle-order-free and
    // hash-matches the oracle. The margins are three tiny aggregates
    // joined back broadcast-style; nothing big shuffles twice.
    "q85_chi2_mix" -> { (s, d) =>
      import s.implicits._
      import graft.ops.Determinism.sumExact
      val obs = Tables.documents(s, d)
        .groupBy($"lang", $"source").agg(count(lit(1)).as("o"))
      val rows = obs.groupBy($"lang").agg(sum($"o").as("rt"))
      val cols = obs.groupBy($"source").agg(sum($"o").as("ct"))
      val tot = obs.agg(sum($"o").as("t"))
      val e = $"rt".cast("double") * $"ct".cast("double") / $"t".cast("double")
      val od = $"o".cast("double")
      obs.join(rows, "lang").join(cols, "source").crossJoin(tot)
        .select($"lang", $"source", od.as("od"), e.as("e"))
        .agg(count(lit(1)).as("n_cells"),
          countDistinct($"lang").as("n_langs"),
          countDistinct($"source").as("n_sources"),
          ((countDistinct($"lang") - 1) * (countDistinct($"source") - 1))
            .as("dof"),
          sumExact(($"od" - $"e") * ($"od" - $"e") / $"e").as("chi2"))
    },

    // Cohort retention (the standard growth-analytics matrix): users
    // grouped by first-active day, counted on each later active day
    // offset. distinct (user, day) first, so the count per (cohort,
    // offset) IS distinct users — no count-distinct shuffle after
    // the join. The first-seen aggregate and the join both hash on
    // user_id: one partitioning reused across stages.
    "q86_cohort_retention" -> { (s, d) =>
      import s.implicits._
      val daily = Tables.events(s, d)
        .select($"user_id", to_date(date_trunc("DAY", $"ts")).as("day"))
        .distinct()
      val first = daily.groupBy($"user_id").agg(min($"day").as("cohort"))
      daily.join(first, "user_id")
        .select($"cohort", datediff($"day", $"cohort").as("offset"))
        .groupBy($"cohort", $"offset").agg(count(lit(1)).as("n_users"))
        .orderBy($"cohort", $"offset")
    },

    // Per-group OLS regression (regr_slope/regr_intercept analog) on
    // exact integer moments: x = epoch day of the order date, y =
    // price in cents — the five sums stay bigint-exact through the
    // shuffle (like q61); the built-in regr_slope folds doubles in
    // partition order and can't bit-match. Only the FINAL slope /
    // intercept expressions touch floating point, in a fixed shape
    // both engines evaluate identically. n*Sxy would overflow int64
    // at scale, so the final arithmetic casts each exact sum to
    // double first (same deterministic rounding both sides).
    "q79_ols_regression" -> { (s, d) =>
      import s.implicits._
      val pts = Tables.orders(s, d)
        .select($"o_orderpriority",
          datediff(to_date($"o_orderdate"), to_date(lit("1970-01-01")))
            .cast("long").as("x"),
          floor($"o_totalprice" * 100 + lit(0.5)).cast("long").as("y"))
      val a = pts.groupBy($"o_orderpriority").agg(
        count(lit(1)).as("n"),
        sum($"x").as("sx"), sum($"y").as("sy"),
        sum($"x" * $"x").as("sxx"), sum($"x" * $"y").as("sxy"))
      def D(c: Column): Column = c.cast("double")
      val slope = (D($"n") * D($"sxy") - D($"sx") * D($"sy")) /
        (D($"n") * D($"sxx") - D($"sx") * D($"sx"))
      val intercept = (D($"sy") - slope * D($"sx")) / D($"n")
      a.select($"o_orderpriority", $"n",
        floor(slope * lit(1000000.0) + lit(0.5)).cast("bigint").as("slope_u"),
        floor(intercept * lit(1000000.0) + lit(0.5)).cast("bigint").as("intercept_u"))
        .orderBy($"o_orderpriority")
    },

    // Heuristic quality-gate ablation report (the C4 — Raffel et
    // al. 2020 — and Gopher — Rae et al. 2021 — rule family): for
    // each rule, how many docs/tokens it would drop, plus the
    // surviving corpus under ALL rules — the table a curation team
    // reads before enabling a rule set (overlaps included: each
    // rule's row counts its own failures independently, the
    // standard ablation reading; the pass_all row is the
    // conjunction). Rules here: token count in [30,90], mean token
    // length in [4.2,4.8] chars, ≥5 stopword hits (the shared en
    // dict). Complements q26 (per-doc raw stats) and q51
    // (repetition): this is the RULE-level rollup.
    //
    // Scale shape: ONE narrow pass — token HOFs inside whole-stage
    // codegen (no explode, no token shuffle), global sums map-side
    // combine to a single row, stack() unpivots to O(rules) rows at
    // the driver boundary. Every comparison is INTEGER (tenths
    // trick), so the oracle is exact by construction.
    "q134_heuristic_gate" -> { (s, d) =>
      heuristicGate(Tables.documents(s, d))
    },

    // Character-distribution entropy per document — the cheap
    // repetition/degeneracy signal real pipelines compute as a
    // compression-ratio proxy (a doc whose chars concentrate on few
    // symbols compresses well and reads as boilerplate/degenerate;
    // cf. RefinedWeb/Dolma's compression-based filters, which this
    // approximates without a codec dependency). Per doc:
    // H = -Σ p ln p over the code-point histogram in micro-nats,
    // via the [[graft.ops.expressions.CharEntropy]] codegen kernel
    // — ONE narrow pass, no explode, no shuffle (the per-string
    // histogram lives inside the kernel; the declarative explode→
    // groupBy form would shuffle corpus CHARACTERS). Low values =
    // repetitive; 'aaaa…' scores exactly 0.
    "q137_char_entropy" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", length($"text").cast("long").as("n_chars"),
          graft.ops.expressions.CharEntropy($"text").as("entropy_micro"))
        .orderBy($"doc_id")
    },

    "q61_exact_stats" -> { (s, d) =>
      import s.implicits._
      val cust = Tables.customer(s, d)
        .select($"c_custkey", $"c_nationkey",
          floor($"c_acctbal" * 100 + lit(0.5)).cast("long").as("bal_c"))
      val ord = Tables.orders(s, d)
        .groupBy($"o_custkey").agg(count(lit(1)).as("n_ord"))
      val j = cust
        .join(ord, $"c_custkey" === $"o_custkey", "left")
        .select($"c_nationkey", $"bal_c",
          coalesce($"n_ord", lit(0L)).as("n_ord"))
      val a = j.groupBy($"c_nationkey").agg(
        count(lit(1)).as("n"),
        sum($"bal_c").as("sx"), sum($"bal_c" * $"bal_c").as("sxx"),
        sum($"n_ord").as("sy"), sum($"n_ord" * $"n_ord").as("syy"),
        sum($"bal_c" * $"n_ord").as("sxy"))
      val vx = $"n" * $"sxx" - $"sx" * $"sx"
      val vy = $"n" * $"syy" - $"sy" * $"sy"
      a.select($"c_nationkey", $"n",
        (vx.cast("double") / ($"n" * $"n").cast("double") / lit(10000.0))
          .as("var_pop_bal"),
        when(vx > 0 && vy > 0,
          ($"n" * $"sxy" - $"sx" * $"sy").cast("double") /
            (sqrt(vx.cast("double")) * sqrt(vy.cast("double"))))
          .as("corr_bal_orders"))
        .orderBy($"c_nationkey")
    },

    // Correlated-subquery SQL face: EXISTS / NOT EXISTS / correlated
    // scalar COUNT — Catalyst decorrelates all three into
    // semi/anti/aggregate joins (no per-row re-execution, unlike the
    // tuple-at-a-time reading). Integer-only comparisons and counts,
    // so the oracle replay is exact by construction.
    "q55_subqueries" -> { (s, d) =>
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(SubquerySql)
    },

    // Padded-batch waste audit — the OTHER sequence-shaping regime
    // next to q54/q133's concatenate-and-split packing: encoder-
    // style training (and every inference server) pads each example
    // to its LENGTH BUCKET's width instead of packing, and the
    // padding is pure wasted compute. One row per (lang, bucket):
    // how many documents land in the power-of-two bucket, the real
    // vs padded token totals, and the waste fraction — the table
    // that says whether the bucket ladder needs another rung (a
    // 40% waste row IS the finding). Buckets 16/32/64/128/256/512
    // (512 = the engine's max-length motif; docs above it would
    // truncate upstream, q20's gate).
    //
    // Scale shape: tokenize-count + CASE ladder fuse into the scan
    // (narrow map, whole-stage codegen), then ONE map-side-combined
    // aggregate to O(langs × 6) rows. Nothing else moves.
    "q173_padding_waste" -> { (s, d) =>
      import s.implicits._
      paddingWaste(Tables.documents(s, d)
        .select($"lang", TextOps.tokenCount($"text").cast("long").as("len")))
    }
  )

  /** q173: the power-of-two bucket ladder (min rung 16, max 512 —
    * the engine-wide max-sequence motif). */
  private val PadBuckets = Seq(16L, 32L, 64L, 128L, 256L, 512L)

  /** The q173 chain over any (lang, len) frame (spec hook: planted
    * lengths on the rung boundaries — CorpusStatSpec). Zero-token
    * documents are excluded (they have no batch slot; both engines
    * drop them identically); documents past the top rung truncate
    * to it (the standard max-length cut — keeps the waste fraction
    * in [0, 1] by construction). */
  private[graft] def paddingWaste(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val bucket = PadBuckets.init.foldRight(lit(PadBuckets.last)) {
      case (b, rest) => when($"len" <= b, lit(b)).otherwise(rest)
    }
    docs
      .filter($"len" > 0L)
      .withColumn("len", least($"len", lit(PadBuckets.last)))
      .withColumn("bucket", bucket)
      .groupBy($"lang", $"bucket")
      .agg(count(lit(1)).as("n_docs"), sum($"len").as("real_tokens"))
      .withColumn("padded_tokens", $"bucket" * $"n_docs")
      .withColumn("waste_micro",
        floor(($"padded_tokens" - $"real_tokens").cast("double")
          / $"padded_tokens".cast("double") * lit(1e6) + lit(0.5))
          .cast("long"))
      .orderBy($"lang", $"bucket")
  }

  /** The q54 chain over any (doc_id, lang, text) frame (spec hook:
    * LmSpec's multi-bucket ≡ single-window equality plant). Token-
    * budget sequence packing by exclusive-prefix-sum binning; the
    * running sum is the two-phase skew-free scan (see PrefixSum). */
  private[graft] def seqPack(docs: DataFrame,
      bucketWidth: Long = graft.ops.PrefixSum.DefaultBucketWidth): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val counted = docs
      .select($"doc_id", $"lang",
        TextOps.tokenCount($"text").cast("long").as("n_tok"))
    graft.ops.PrefixSum.exclusive(counted,
        "lang", "doc_id", "n_tok", "off", bucketWidth)
      .withColumn("seq_id",
        floor($"off".cast("double") / lit(PackBudget.toDouble)).cast("long"))
      .groupBy($"lang", $"seq_id")
      .agg(count(lit(1)).as("n_docs"), sum($"n_tok").as("n_tokens"),
        min($"doc_id").as("first_doc"), max($"doc_id").as("last_doc"))
      .orderBy($"lang", $"seq_id")
  }

  /** The q148 chain over any (lang, text) frame (spec hook: planted
    * syllable/sentence counts with a hand-computed score —
    * CorpusStatSpec).
    *
    * Deviation from textstat-style Flesch, stated here rather than
    * only in the parity test: the word count W is
    * the engine's whitespace token count, so punctuation/symbol
    * tokens ("--", "&") count as words and floor to 1 syllable,
    * where standard implementations count only alphabetic words.
    * Scores are therefore engine-consistent (the same tokenizer as
    * every other query, oracle-replayed exactly) but systematically
    * offset from textstat on symbol-heavy text — compare q148 scores
    * only against q148 scores. */
  private[graft] def readability(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // one fused TextStats scan for (wc, sc) + one SyllableCount scan
    // — replaces three interpreted HOF pipelines (tokenize twice +
    // per-token regexp lambda) with two codegen kernels; comparable
    // at sf0.1 (~0.9 s either way, the scan dominates) but the
    // lambda's per-token regexp cost scaled with TOKENS, the
    // kernel's with bytes — the 100-TB direction. Kernel ≡ HOF
    // pinned by CorpusStatSpec's parity case
    val counted = docs
      .withColumn("st", graft.ops.expressions.TextStats($"text"))
      .withColumn("wc", $"st".getField("n_tokens"))
      .withColumn("sc", $"st".getField("n_sentences"))
      .withColumn("syl", graft.ops.expressions.SyllableCount($"text"))
      .filter($"wc" > 0L && $"sc" > 0L)
    val f = lit(206.835) -
      lit(1.015) * ($"wc".cast("double") / $"sc".cast("double")) -
      lit(84.6) * ($"syl".cast("double") / $"wc".cast("double"))
    counted
      .select($"lang", floor(f * lit(1e6) + lit(0.5)).cast("bigint").as("fm"))
      .groupBy($"lang").agg(count(lit(1)).as("n_docs"), sum($"fm").as("sf"),
        min($"fm").as("min_flesch_micro"), max($"fm").as("max_flesch_micro"))
      .select($"lang", $"n_docs",
        floor($"sf".cast("double") / $"n_docs".cast("double") + lit(0.5))
          .cast("bigint").as("mean_flesch_micro"),
        $"min_flesch_micro", $"max_flesch_micro")
      .orderBy($"lang")
  }

  /** The q134 rule family at ROW level: appends the per-doc flag
    * columns (f_short, f_long, f_len, f_stop) plus `__n_tok` to
    * `docs`, every other column passing through — shared by the
    * [[heuristicGate]] rollup and
    * [[graft.pipeline.CurationExport]]'s gate stage, so the report
    * and the artifact apply the SAME rules by construction. */
  private[graft] def heuristicFlagged(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val stop = TextOps.LangDicts.head._2
    docs
      .withColumn("__toks", TextOps.tokens($"text"))
      .withColumn("__n_tok", size($"__toks").cast("long"))
      .withColumn("__sum_len",
        aggregate($"__toks", lit(0L), (acc, x) => acc + length(x).cast("long")))
      .withColumn("__n_stop",
        size(filter($"__toks", x => x.isInCollection(stop))).cast("long"))
      .withColumn("f_short", $"__n_tok" < GateMinTok)
      .withColumn("f_long", $"__n_tok" > GateMaxTok)
      .withColumn("f_len",
        $"__sum_len" * 10 < lit(GateLenLo) * $"__n_tok" ||
          $"__sum_len" * 10 > lit(GateLenHi) * $"__n_tok")
      .withColumn("f_stop", $"__n_stop" < GateMinStop)
      .drop("__toks", "__sum_len", "__n_stop")
  }

  private[graft] def heuristicGate(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val f = heuristicFlagged(docs.select($"text"))
      .withColumnRenamed("__n_tok", "n_tok")
      .select($"n_tok", $"f_short", $"f_long", $"f_len", $"f_stop")
    def cnt(c: Column) = sum(when(c, 1L).otherwise(0L))
    def tok(c: Column) = sum(when(c, $"n_tok").otherwise(0L))
    val pass = !$"f_short" && !$"f_long" && !$"f_len" && !$"f_stop"
    f.agg(
        cnt($"f_short").as("c1"), tok($"f_short").as("t1"),
        cnt($"f_long").as("c2"), tok($"f_long").as("t2"),
        cnt($"f_len").as("c3"), tok($"f_len").as("t3"),
        cnt($"f_stop").as("c4"), tok($"f_stop").as("t4"),
        cnt(pass).as("c5"), tok(pass).as("t5"))
      .selectExpr(
        "stack(5, '1_min_tokens', c1, t1, '2_max_tokens', c2, t2, " +
          "'3_mean_token_len', c3, t3, '4_stopword_min', c4, t4, " +
          "'5_pass_all', c5, t5) AS (rule, n_docs, n_tokens)")
      .orderBy($"rule")
  }

  /** Runs verbatim in both engines (ANSI subset — the Spark side
    * executes this exact text too). */
  private val SubquerySql =
    """SELECT c_custkey, c_name,
      |  (SELECT count(*) FROM orders o
      |   WHERE o.o_custkey = c.c_custkey) AS n_orders
      |FROM customer c
      |WHERE EXISTS (SELECT 1 FROM orders o
      |              WHERE o.o_custkey = c.c_custkey
      |                AND o.o_totalprice > 300000)
      |  AND NOT EXISTS (SELECT 1 FROM orders o
      |                  WHERE o.o_custkey = c.c_custkey
      |                    AND o.o_orderstatus = 'F'
      |                    AND o.o_totalprice < 50000)
      |ORDER BY c_custkey""".stripMargin

  val oracles: Map[String, String] = Map(

    // Twin of q148: the same vowel-group syllable heuristic, the
    // identical fixed-order Flesch expression micro-quantized per
    // doc, and the mean as ONE double division with floor(+0.5)
    // (never integer //, which floors where Spark's div truncates —
    // they disagree on the negative sums dense text produces).
    "q148_readability" ->
      s"""WITH d AS (SELECT lang, ${TextVector.Sql.toks("text")} AS toks,
         |             len(list_filter(string_split_regex(text,
         |               '${TextOps.SentencePattern}'),
         |               x -> len(trim(x)) > 0)) AS sc0
         |           FROM documents),
         |w AS (SELECT lang, CAST(len(toks) AS BIGINT) AS wc,
         |        CAST(sc0 AS BIGINT) AS sc,
         |        list_reduce(list_prepend(CAST(0 AS BIGINT),
         |          list_transform(toks, t -> greatest(
         |            CAST(len(regexp_extract_all(lower(t), '[aeiouy]+'))
         |              AS BIGINT), CAST(1 AS BIGINT)))),
         |          (a, b) -> a + b) AS syl
         |      FROM d),
         |f AS (SELECT lang, CAST(floor((206.835
         |        - 1.015 * (CAST(wc AS DOUBLE) / CAST(sc AS DOUBLE))
         |        - 84.6 * (CAST(syl AS DOUBLE) / CAST(wc AS DOUBLE)))
         |        * 1000000.0 + 0.5) AS BIGINT) AS fm
         |      FROM w WHERE wc > 0 AND sc > 0)
         |SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         |  CAST(floor(CAST(sum(fm) AS DOUBLE) / CAST(count(*) AS DOUBLE)
         |    + 0.5) AS BIGINT) AS mean_flesch_micro,
         |  CAST(min(fm) AS BIGINT) AS min_flesch_micro,
         |  CAST(max(fm) AS BIGINT) AS max_flesch_micro
         |FROM f GROUP BY lang ORDER BY lang""".stripMargin,

    "q51_repetition" -> {
      val toks = TSql.toks("text")
      s"""WITH b AS (SELECT doc_id,
         |             list_transform($toks, t -> ${TSql.polyHash("t")}) AS hs,
         |             CAST(len($toks) AS BIGINT) AS n_tok
         |           FROM documents WHERE len($toks) >= 2),
         |g AS (SELECT doc_id, n_tok, u.gid FROM b, unnest(list_concat(
         |        list_transform(hs, h -> h * 2),
         |        list_transform(range(1, len(hs)),
         |          i -> ((hs[i] * 31 + hs[i+1]) % 1000000007) * 2 + 1))) u(gid)),
         |gc AS (SELECT doc_id, n_tok, gid, count(*) AS c
         |       FROM g GROUP BY 1, 2, 3),
         |agg AS (SELECT doc_id, n_tok,
         |          max(CASE WHEN gid % 2 = 0 THEN c END) AS top_tok,
         |          count(CASE WHEN gid % 2 = 0 THEN 1 END) AS n_distinct,
         |          max(CASE WHEN gid % 2 = 1 THEN c END) AS top_bigram
         |        FROM gc GROUP BY 1, 2)
         |SELECT doc_id, n_tok,
         |  CAST(top_tok AS DOUBLE) / CAST(n_tok AS DOUBLE) AS top_tok_frac,
         |  CAST(n_distinct AS DOUBLE) / CAST(n_tok AS DOUBLE) AS distinct_frac,
         |  CAST(top_bigram AS DOUBLE) / CAST(n_tok - 1 AS DOUBLE) AS top_bigram_frac,
         |  (CAST(top_bigram AS DOUBLE) / CAST(n_tok - 1 AS DOUBLE) > $TopBigramFracMax
         |   OR CAST(top_tok AS DOUBLE) / CAST(n_tok AS DOUBLE) > $TopTokenFracMax) AS repetitive
         |FROM agg ORDER BY doc_id""".stripMargin
    },

    // Twin of q134: same token HOFs, same integer tenths-band rules,
    // single-row sums unpivoted by UNION ALL.
    "q134_heuristic_gate" -> {
      val stopLits = TextOps.LangDicts.head._2
        .map(w => s"'$w'").mkString("[", ", ", "]")
      s"""WITH t AS (SELECT ${TSql.toks("text")} AS toks FROM documents),
         |f AS (SELECT CAST(len(toks) AS BIGINT) AS n_tok,
         |        CAST(list_reduce(list_prepend(0, list_transform(toks,
         |          x -> len(x))), (a, b) -> a + b) AS BIGINT) AS sum_len,
         |        CAST(len(list_filter(toks,
         |          x -> list_contains($stopLits, x))) AS BIGINT) AS n_stop
         |      FROM t),
         |g AS (SELECT n_tok,
         |        n_tok < $GateMinTok AS f_short,
         |        n_tok > $GateMaxTok AS f_long,
         |        (sum_len*10 < $GateLenLo*n_tok
         |         OR sum_len*10 > $GateLenHi*n_tok) AS f_len,
         |        n_stop < $GateMinStop AS f_stop
         |      FROM f),
         |a AS (SELECT
         |  CAST(sum(CASE WHEN f_short THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         |  CAST(sum(CASE WHEN f_short THEN n_tok ELSE 0 END) AS BIGINT) AS t1,
         |  CAST(sum(CASE WHEN f_long THEN 1 ELSE 0 END) AS BIGINT) AS c2,
         |  CAST(sum(CASE WHEN f_long THEN n_tok ELSE 0 END) AS BIGINT) AS t2,
         |  CAST(sum(CASE WHEN f_len THEN 1 ELSE 0 END) AS BIGINT) AS c3,
         |  CAST(sum(CASE WHEN f_len THEN n_tok ELSE 0 END) AS BIGINT) AS t3,
         |  CAST(sum(CASE WHEN f_stop THEN 1 ELSE 0 END) AS BIGINT) AS c4,
         |  CAST(sum(CASE WHEN f_stop THEN n_tok ELSE 0 END) AS BIGINT) AS t4,
         |  CAST(sum(CASE WHEN NOT f_short AND NOT f_long AND NOT f_len
         |    AND NOT f_stop THEN 1 ELSE 0 END) AS BIGINT) AS c5,
         |  CAST(sum(CASE WHEN NOT f_short AND NOT f_long AND NOT f_len
         |    AND NOT f_stop THEN n_tok ELSE 0 END) AS BIGINT) AS t5
         |  FROM g)
         |SELECT '1_min_tokens' AS rule, c1 AS n_docs, t1 AS n_tokens FROM a
         |UNION ALL SELECT '2_max_tokens', c2, t2 FROM a
         |UNION ALL SELECT '3_mean_token_len', c3, t3 FROM a
         |UNION ALL SELECT '4_stopword_min', c4, t4 FROM a
         |UNION ALL SELECT '5_pass_all', c5, t5 FROM a
         |ORDER BY rule""".stripMargin
    },

    // Twin of q137: explicit histogram replay — each p·ln p term
    // micro-quantized BEFORE the per-doc integer sum (order-free,
    // the kernel's contract), docs driven from the corpus via left
    // join so a theoretical zero-char doc reports 0 instead of
    // vanishing (the q112 keep-zero convention).
    "q137_char_entropy" ->
      s"""WITH ch AS (SELECT doc_id, u.ch FROM
         |  (SELECT doc_id, regexp_extract_all(text, '(?s).') AS cs
         |   FROM documents) t, unnest(cs) u(ch)),
         |n AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n
         |      FROM ch GROUP BY 1),
         |h AS (SELECT doc_id, ch, CAST(count(*) AS BIGINT) AS c
         |      FROM ch GROUP BY 1, 2),
         |e AS (SELECT h.doc_id,
         |        CAST(sum(CAST(floor(
         |          -((CAST(c AS DOUBLE)/CAST(n AS DOUBLE))
         |            * ln(CAST(c AS DOUBLE)/CAST(n AS DOUBLE)))*1000000.0
         |          + 0.5) AS BIGINT)) AS BIGINT) AS entropy_micro
         |      FROM h JOIN n USING (doc_id) GROUP BY 1)
         |SELECT d.doc_id, CAST(len(d.text) AS BIGINT) AS n_chars,
         |  coalesce(e.entropy_micro, CAST(0 AS BIGINT)) AS entropy_micro
         |FROM documents d LEFT JOIN e USING (doc_id)
         |ORDER BY doc_id""".stripMargin,

    "q52_pii_scrub" ->
      s"""SELECT c_custkey,
         |  regexp_replace(c_name, '[0-9]', '#', 'g') AS masked_name,
         |  length(c_name) - length(regexp_replace(c_name, '[0-9]', '', 'g'))
         |    AS n_masked,
         |  'cust_' || CAST(${TSql.polyHash("c_name")} AS VARCHAR) AS pseudonym
         |FROM customer WHERE c_custkey <= 200
         |ORDER BY c_custkey""".stripMargin,

    "q53_contamination" ->
      s"""WITH h AS (SELECT doc_id,
         |             list_distinct(list_transform(
         |               ${TSql.shingleSet("text", ContamK)},
         |               t -> ${TSql.polyHash("t")})) AS hs
         |           FROM documents),
         |e AS (SELECT doc_id, u.h FROM h, unnest(hs) u(h)
         |      WHERE len(hs) > 0),
         |b AS (SELECT doc_id AS bench_id, h FROM e WHERE doc_id % 97 = 0),
         |tr AS (SELECT doc_id, h FROM e WHERE doc_id % 97 != 0)
         |SELECT tr.doc_id, count(DISTINCT tr.h) AS n_shared,
         |  count(DISTINCT b.bench_id) AS n_bench_docs
         |FROM tr JOIN b ON tr.h = b.h
         |GROUP BY tr.doc_id
         |ORDER BY n_shared DESC, doc_id LIMIT 15""".stripMargin,

    "q54_seq_pack" -> {
      val nTok = s"CAST(len(${TSql.toks("text")}) AS BIGINT)"
      s"""WITH t AS (SELECT doc_id, lang, $nTok AS n_tok FROM documents),
         |c AS (SELECT doc_id, lang, n_tok,
         |        CAST(sum(n_tok) OVER (PARTITION BY lang ORDER BY doc_id)
         |          AS BIGINT) AS cum FROM t),
         |s AS (SELECT doc_id, lang, n_tok,
         |        CAST(floor(CAST(cum - n_tok AS DOUBLE) / $PackBudget.0)
         |          AS BIGINT) AS seq_id FROM c)
         |SELECT lang, seq_id, count(*) AS n_docs,
         |  CAST(sum(n_tok) AS BIGINT) AS n_tokens,
         |  min(doc_id) AS first_doc, max(doc_id) AS last_doc
         |FROM s GROUP BY lang, seq_id
         |ORDER BY lang, seq_id""".stripMargin
    },

    "q56_chunk_explode" ->
      s"""WITH c AS (SELECT doc_id, ${TSql.chunks("text", ChunkN)} AS chs
         |           FROM documents)
         |SELECT doc_id, CAST(u.i AS INTEGER) AS pos, chs[u.i + 1] AS chunk
         |FROM c, unnest(range(0, len(chs))) u(i)
         |ORDER BY doc_id, pos""".stripMargin,

    "q60_null_semantics" ->
      """WITH b AS (SELECT c_nationkey, c_custkey,
        |             CASE WHEN c_acctbal >= 0
        |               THEN CAST(floor(c_acctbal / 1000.0) AS BIGINT) END AS band
        |           FROM customer),
        |r AS (SELECT c_nationkey, band,
        |        (band IS NOT DISTINCT FROM lag(band) OVER
        |          (PARTITION BY c_nationkey ORDER BY c_custkey)) AS same_as_prev
        |      FROM b)
        |SELECT c_nationkey, count(*) AS n, count(band) AS n_banded,
        |  count(DISTINCT band) AS n_bands,
        |  count(CASE WHEN same_as_prev THEN 1 END) AS n_nullsafe_eq,
        |  max(coalesce(band, -1)) AS max_band_or_neg1
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin,

    "q85_chi2_mix" -> {
      import graft.ops.Determinism.Oracles.fsum
      s"""WITH o AS (SELECT lang, source, CAST(count(*) AS BIGINT) AS n
         |           FROM documents GROUP BY 1, 2),
         |r AS (SELECT lang, CAST(sum(n) AS BIGINT) AS rt FROM o GROUP BY 1),
         |c AS (SELECT source, CAST(sum(n) AS BIGINT) AS ct FROM o GROUP BY 1),
         |t AS (SELECT CAST(sum(n) AS BIGINT) AS t FROM o),
         |x AS (SELECT o.lang, o.source, CAST(o.n AS DOUBLE) AS od,
         |        CAST(rt AS DOUBLE)*CAST(ct AS DOUBLE)/CAST(t AS DOUBLE) AS e
         |      FROM o JOIN r ON o.lang = r.lang
         |             JOIN c ON o.source = c.source, t)
         |SELECT count(*) AS n_cells,
         |  count(DISTINCT lang) AS n_langs,
         |  count(DISTINCT source) AS n_sources,
         |  CAST((count(DISTINCT lang) - 1) * (count(DISTINCT source) - 1) AS BIGINT) AS dof,
         |  ${fsum("(od - e)*(od - e)/e")} AS chi2
         |FROM x""".stripMargin
    },

    "q86_cohort_retention" ->
      """WITH daily AS (SELECT DISTINCT user_id,
        |                 CAST(date_trunc('day', ts) AS DATE) AS day
        |               FROM events),
        |f AS (SELECT user_id, min(day) AS cohort FROM daily GROUP BY 1)
        |SELECT cohort, CAST(date_diff('day', cohort, day) AS INTEGER) AS "offset",
        |  count(*) AS n_users
        |FROM daily JOIN f ON daily.user_id = f.user_id
        |GROUP BY 1, 2 ORDER BY cohort, "offset"""".stripMargin,

    "q79_ols_regression" ->
      """WITH p AS (SELECT o_orderpriority,
        |             CAST(date_diff('day', DATE '1970-01-01',
        |                            CAST(o_orderdate AS DATE)) AS BIGINT) AS x,
        |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS y
        |           FROM orders),
        |a AS (SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
        |        CAST(sum(x * x) AS BIGINT) AS sxx,
        |        CAST(sum(x * y) AS BIGINT) AS sxy
        |      FROM p GROUP BY 1),
        |f AS (SELECT o_orderpriority, n,
        |        (CAST(n AS DOUBLE)*CAST(sxy AS DOUBLE)
        |           - CAST(sx AS DOUBLE)*CAST(sy AS DOUBLE))
        |        / (CAST(n AS DOUBLE)*CAST(sxx AS DOUBLE)
        |           - CAST(sx AS DOUBLE)*CAST(sx AS DOUBLE)) AS slope,
        |        sx, sy
        |      FROM a)
        |SELECT o_orderpriority, n,
        |  CAST(floor(slope*1000000.0 + 0.5) AS BIGINT) AS slope_u,
        |  CAST(floor(((CAST(sy AS DOUBLE) - slope*CAST(sx AS DOUBLE))
        |              / CAST(n AS DOUBLE))*1000000.0 + 0.5) AS BIGINT) AS intercept_u
        |FROM f ORDER BY o_orderpriority""".stripMargin,

    "q61_exact_stats" ->
      """WITH c AS (SELECT c_custkey, c_nationkey,
        |             CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT) AS bal_c
        |           FROM customer),
        |o AS (SELECT o_custkey, count(*) AS n_ord FROM orders GROUP BY 1),
        |j AS (SELECT c_nationkey, bal_c, coalesce(n_ord, 0) AS n_ord
        |      FROM c LEFT JOIN o ON c_custkey = o_custkey),
        |a AS (SELECT c_nationkey, CAST(count(*) AS BIGINT) AS n,
        |        CAST(sum(bal_c) AS BIGINT) AS sx,
        |        CAST(sum(bal_c * bal_c) AS BIGINT) AS sxx,
        |        CAST(sum(n_ord) AS BIGINT) AS sy,
        |        CAST(sum(n_ord * n_ord) AS BIGINT) AS syy,
        |        CAST(sum(bal_c * n_ord) AS BIGINT) AS sxy
        |      FROM j GROUP BY 1)
        |SELECT c_nationkey, n,
        |  CAST(n*sxx - sx*sx AS DOUBLE) / CAST(n*n AS DOUBLE) / 10000.0
        |    AS var_pop_bal,
        |  CASE WHEN (n*sxx - sx*sx) > 0 AND (n*syy - sy*sy) > 0 THEN
        |    CAST(n*sxy - sx*sy AS DOUBLE) /
        |      (sqrt(CAST(n*sxx - sx*sx AS DOUBLE)) * sqrt(CAST(n*syy - sy*sy AS DOUBLE)))
        |  END AS corr_bal_orders
        |FROM a ORDER BY c_nationkey""".stripMargin,

    "q55_subqueries" -> SubquerySql,

    // Twin of q173: same tokenizer length, same top-rung truncation
    // (least), same CASE ladder, one double division micro-rounded.
    "q173_padding_waste" -> {
      val ladder = "CASE " + PadBuckets.init.map(b =>
        s"WHEN len <= $b THEN $b").mkString(" ") +
        s" ELSE ${PadBuckets.last} END"
      s"""WITH l0 AS (SELECT lang,
         |    CAST(len(${TextVector.Sql.toks("text")}) AS BIGINT) AS raw_len
         |  FROM documents),
         |l AS (SELECT lang, least(raw_len, ${PadBuckets.last}) AS len
         |      FROM l0 WHERE raw_len > 0),
         |b AS (SELECT lang, len, CAST($ladder AS BIGINT) AS bucket FROM l),
         |g AS (SELECT lang, bucket, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(len) AS BIGINT) AS real_tokens
         |      FROM b GROUP BY 1, 2)
         |SELECT lang, bucket, n_docs, real_tokens,
         |  bucket * n_docs AS padded_tokens,
         |  CAST(floor(CAST(bucket * n_docs - real_tokens AS DOUBLE)
         |    / CAST(bucket * n_docs AS DOUBLE) * 1000000.0 + 0.5)
         |    AS BIGINT) AS waste_micro
         |FROM g ORDER BY lang, bucket""".stripMargin
    }
  )
}
