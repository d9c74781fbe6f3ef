package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.TextOps

/** Web-corpus cleaning operators (round 6): the ingest-side text
  * hygiene a training-data pipeline runs BEFORE the dedup/quality
  * families in [[TextVector]] / [[Quality]] ever see a document —
  * the reference embeds its text exactly as scraped
  * (`/root/reference/run.py:34` passes the raw column to the model),
  * so these are capability extensions in the C4/CCNet tradition:
  *
  *  - q73 markup normalization: HTML tag strip → entity decode →
  *    Unicode NFC (custom codegen expression, [[graft.ops.expressions.NfcNormalize]])
  *    → whitespace collapse — the canonical form that makes
  *    fingerprints (q23) and shingles (q24) mean what they say;
  *  - q74 URL extraction + blocklist: pull URLs out of text, parse
  *    registrable-domain-ish apex, drop blocklisted trackers via a
  *    tiny broadcast anti-join, report per-domain link stats — the
  *    provenance/robots-style filter every crawl pipeline runs;
  *  - q75 corpus-wide paragraph dedup (RefinedWeb-style): explode
  *    docs into fixed-token paragraphs, keep only each paragraph's
  *    FIRST occurrence in (doc_id, pos) order across the whole
  *    corpus, reassemble surviving paragraphs in order — exact
  *    span-level dedup, the aggressive sibling of whole-doc q23;
  *  - q93 cross-doc repeated-SPAN excision (round 8 — the
  *    exact-substring dedup family of Lee et al.'s ExactSubstr,
  *    realized Spark-first): q75 removes duplicates that ALIGN to
  *    paragraph boundaries; q93 removes repeated token spans at ANY
  *    offset — boilerplate, licenses, templated text — keeping only
  *    the corpus-wide first occurrence. Positional k-token shingles
  *    stand in for the suffix array: a span of ≥ SpanK tokens
  *    repeats iff all its interior k-shingles repeat, so the union
  *    of non-first repeated-shingle windows IS the excision set.
  *
  * The testdata text is deliberately clean (TESTDATA.md), so q73/q74
  * derive their dirty input in-query with engine-portable string
  * expressions (concat/replace over the real tables — same
  * derivation in the DuckDB oracle, same pattern as the q32
  * multimodal manifest). All regexes avoid `\s`/`\w` classes —
  * spelled-out character classes are the one dialect-safe form
  * (TextOps.WsClass rationale).
  *
  * Scale notes (100 TB): q73/q74 are pure narrow maps until the
  * final small aggregation — they pipeline inside whole-stage
  * codegen on the scan, no shuffle of document text at all (q74
  * shuffles only (domain, doc_id) pairs; the blocklist side is
  * broadcast). q75/q93 compute each content key's corpus-wide first
  * occurrence as a `min(struct(doc_id, pos))` HASH AGGREGATE (never
  * a window over a content-key partition — see [[paragraphDedup]] /
  * [[spanDedup]] for the skew rationale); all shuffles are plain
  * hash shuffles with map-side partial combine that scale linearly
  * with paragraph/shingle count and tolerate arbitrary key skew.
  */
object Cleaning extends graft.QueryPack {

  import TextVector.Sql

  // q73: the dirty-markup derivation below injects tags, entities, a
  // combining-accent footer (NFC-normalizes to precomposed é), and
  // tab/newline whitespace; cleaning must round-trip all of it.
  private val Ws = TextOps.WsClass // " \t\n\x0B\f\r" spelled out

  // q75: 3-token paragraphs — long enough to mean something, short
  // enough that the ~40-word testdata vocabulary actually produces
  // cross-document duplicates to drop.
  private val ParaTokens = 3

  // q74: apex domains dropped before aggregation (trackers).
  private val Blocklist = Seq("adsite.io", "spam.example.org")

  // q93: the minimum repeated-span length, in tokens. Repeats of
  // ≥ SpanK tokens are excised wherever they recur; shorter repeats
  // survive (they are content, not boilerplate). 8 is demo-scaled to
  // the testdata vocabulary; ExactSubstr's published threshold is 50
  // BPE tokens — a constant, not a structural change.
  private val SpanK = 8

  /** The q93 chain over any (doc_id, text) frame (spec hook: planted
    * spans). Scale shape: the corpus-wide first occurrence of each
    * shingle is a `min(struct(doc_id, pos))` HASH AGGREGATE, not a
    * window — the round-9 rewrite. The window formulation
    * (`row_number().over(partitionBy(hash, sh))`) sorted every
    * occurrence of a shingle on ONE reducer, and the key's skew grows
    * with exactly the duplication this query removes: a license
    * header in 1% of a 100 TB corpus puts ~10⁸ rows in one window
    * partition, and AQE cannot split a window. The aggregate computes
    * the same winner with map-side partial combine (each input
    * partition reduces a hot key to ONE candidate row before the
    * shuffle), so content-key skew cannot concentrate rows anywhere.
    * Non-first occurrences are then marked by joining occurrences
    * back to the 1-row-per-shingle winners — an equi-join AQE CAN
    * skew-split, with the 8-byte polyhash leading the join key so
    * sort-merge compares longs before string bytes. Both the winner
    * aggregate and the join-back's occurrence side read ONE persisted
    * copy of the exploded shingle frame (without the cache, Spark has no DAG-level CSE across the two consumers
    * and the scan → tokenize → explode chain ran twice — the priced
    * constant of the skew rewrite). The cache is deliberately NOT
    * repartitioned by the content key — that would concentrate a hot
    * shingle's whole occurrence set in one cached partition, undoing
    * the skew fix; it stays in scan-derived (doc_id) partitioning
    * where the hot key is spread across the corpus, and the
    * partial-combine / AQE-splittable shuffles downstream do the key
    * clustering. Lifecycle: session-scoped catalog cache, released
    * by the Verify/Bench `clearCache()` contract; at 100 TB this
    * stage runs once as a materialized pipeline artifact (the
    * [[graft.pipeline.DedupIndex]] pattern), not an in-query cache.
    * The winner side is also filtered to `cnt > 1` before the
    * join-back: only repeated shingles can produce excisions, so the
    * join's right side shrinks from every-distinct-shingle to the
    * repeated set (boilerplate — tiny by comparison) and unique
    * shingles' occurrences drop out of the inner join for free.
    * The window-to-token explode is SpanK× on REPEATED occurrences
    * only, and those drop-positions aggregate to one per-doc set —
    * so the only other shuffles are repeat-bounded, never
    * corpus-token-bounded. Excision itself is a NARROW pass: the
    * per-doc drop set joins back on doc_id and an index-filtered
    * array rebuild emits the cleaned text (no token-level anti-join,
    * no collect_list regroup — both cost a full corpus-token shuffle;
    * the per-token array_contains probe is bounded by the doc's own
    * repeated-span budget). Everything is linear in corpus tokens —
    * the suffix-array result without building a suffix array. */
  private[graft] def spanDedup(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // NULL text reads as empty (n_tok=0, clean_text='') — matching
    // the oracle's coalesce path; bare tokens(NULL) would
    // null-propagate into size()=-1 and a NULL rebuild
    // persisted: consumed by the shingle explode AND the final
    // rebuild join — one scan + tokenize + doc_id shuffle, not two
    // (class doc for the cache rationale and lifecycle)
    val toks = docs
      .repartition($"doc_id")
      .select($"doc_id",
        TextOps.tokens(coalesce($"text", lit(""))).as("toks"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // positional k-shingles: start offsets 0..m-k, the token text of
    // each shingle carried alongside its polyhash (collision safety,
    // exactly q75's key discipline). Persisted: the winner aggregate
    // and the join-back both pipeline from this one copy.
    val sh = toks.filter(size($"toks") >= SpanK)
      .select($"doc_id", posexplode(transform(
        sequence(lit(0), size($"toks") - SpanK),
        i => concat_ws(" ", slice($"toks", i + 1, lit(SpanK))))).as(Seq("pos", "sh")))
      .withColumn("h", graft.ops.expressions.TextPolyHash($"sh"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // skew-immune winner per shingle: lexicographic min of
    // (doc_id, pos) == the first occurrence in (doc_id, pos) order;
    // cnt rides along so the join-back can ignore unique shingles
    val first = sh
      .groupBy($"h", $"sh")
      .agg(min(struct($"doc_id", $"pos")).as("f"),
        count(lit(1)).as("cnt"))
    // every occurrence that is NOT the corpus-wide first marks its
    // SpanK-token window for excision; the union of marked windows —
    // one SET per doc, sized by the doc's repeated spans — is exactly
    // the repeated, non-canonical spans. Only repeated shingles
    // (cnt > 1) can produce a non-first occurrence, so the inner
    // join's right side is the repeated set only.
    val dropSets = sh
      .join(first.filter($"cnt" > 1).select($"h", $"sh", $"f"),
        Seq("h", "sh"))
      .filter(struct($"doc_id", $"pos") =!= $"f")
      .select($"doc_id", explode(sequence($"pos", $"pos" + (SpanK - 1))).as("p"))
      .groupBy($"doc_id").agg(collect_set($"p").as("drop"))
    toks
      .join(dropSets, Seq("doc_id"), "left")
      .select($"doc_id", $"toks",
        coalesce($"drop", array().cast("array<int>")).as("drop"))
      .select($"doc_id",
        size($"toks").cast("bigint").as("n_tok"),
        size($"drop").cast("bigint").as("n_removed"),
        array_join(filter($"toks",
          (_, i) => !array_contains($"drop", i)), " ").as("clean_text"))
      .orderBy($"doc_id")
  }

  /** The q75 chain over any (doc_id, text) frame (spec hook: planted
    * duplicates and skew). First occurrence in (doc_id, pos) order
    * wins — including repeats WITHIN a document (RefinedWeb's
    * exact-span semantics). The left joins keep empty docs and
    * fully-deduped docs as rows (n_kept = 0), so the output stays
    * 1:1 with the corpus.
    *
    * Skew-safe first occurrence (round-9 rewrite, same device as
    * [[spanDedup]]): keep-first needs no window and no join-back at
    * all — `min(struct(doc_id, pos))` per paragraph IS the surviving
    * occurrence, so the whole dedup is one hash aggregate with
    * map-side partial combine. A paragraph repeated across millions
    * of docs (boilerplate — exactly what this query removes) reduces
    * to one candidate row per input partition before the shuffle;
    * the old `row_number()` window sorted that paragraph's entire
    * occurrence set on one reducer, and AQE cannot split a window
    * partition. */
  private[graft] def paragraphDedup(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs.select($"doc_id")
    // persisted: the keep-first aggregate and the per-doc totals both
    // consume the exploded paragraphs — one scan + tokenize + explode
    // (same cache rationale/lifecycle as [[spanDedup]]; stays in
    // doc_id partitioning, never repartitioned by content key)
    val paras = docs
      .repartition($"doc_id")
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id",
        posexplode(TextOps.chunksOf($"toks", ParaTokens)).as(Seq("pos", "para")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the 8-byte polyhash joins the group key so hash-agg equality
    // checks compare longs before paragraph bytes; para stays in the
    // key for collision safety
    val kept = paras
      .groupBy(graft.ops.expressions.TextPolyHash($"para").as("h"), $"para")
      .agg(min(struct($"doc_id", $"pos")).as("f"))
      .select($"f.doc_id".as("doc_id"), $"f.pos".as("pos"), $"para")
    val totals = paras.groupBy($"doc_id").agg(count(lit(1)).as("n_paras"))
    val rebuilt = kept.groupBy($"doc_id").agg(
      count(lit(1)).as("n_kept"),
      array_join(
        transform(sort_array(collect_list(struct($"pos", $"para"))),
          p => p.getField("para")), " ").as("clean_text"))
    base
      .join(totals, Seq("doc_id"), "left")
      .join(rebuilt, Seq("doc_id"), "left")
      .select($"doc_id",
        coalesce($"n_paras", lit(0L)).as("n_paras"),
        coalesce($"n_kept", lit(0L)).as("n_kept"),
        coalesce($"clean_text", lit("")).as("clean_text"))
      .orderBy($"doc_id")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // Markup normalization chain. Order matters and is part of the
    // contract: tags strip BEFORE entity decode (else a decoded
    // "&lt;b&gt;" would fabricate a tag), NFC BEFORE whitespace
    // collapse (composition never creates whitespace), trim last.
    "q73_normalize" -> { (s, d) =>
      import s.implicits._
      val dirty = concat(
        lit("<p id=\""), $"doc_id".cast("string"), lit("\"> "),
        replace($"text", lit(" table "), lit(" &amp;\t<b>table</b>  ")),
        lit(" </p>\n<div class=\"footer\">café &lt;"), $"source",
        lit("&gt;</div>"))
      val stripped = regexp_replace(dirty, "<[^>]*>", " ")
      val decoded = replace(replace(replace(stripped,
        lit("&lt;"), lit("<")), lit("&gt;"), lit(">")), lit("&amp;"), lit("&"))
      val composed = graft.ops.expressions.NfcNormalize(decoded)
      val clean = trim(regexp_replace(composed, s"[$Ws]+", " "))
      Tables.documents(s, d)
        .select($"doc_id", dirty.as("dirty"), clean.as("clean"))
        .select($"doc_id",
          length($"dirty").as("n_raw"),
          length($"clean").as("n_clean"),
          $"clean")
        .orderBy($"doc_id")
    },

    // URL extraction + apex parse + blocklist anti-join + per-domain
    // stats. parse_url() exists in Spark but not DuckDB, so both
    // engines share the regexes instead (group-1 extract).
    "q74_url_extract" -> { (s, d) =>
      import s.implicits._
      val withUrls = concat(
        $"text",
        lit(" ref https://www."), $"source", lit(".example.com/d/"),
        $"doc_id".cast("string"),
        lit(" img http://cdn"), ($"doc_id" % 4).cast("string"),
        lit(".assets-cdn.net/i/"), $"doc_id".cast("string"), lit(".png"),
        when($"doc_id" % 5 === 0,
          concat(lit(" trk https://track"), ($"doc_id" % 2).cast("string"),
            lit(".adsite.io/p?id="), $"doc_id".cast("string")))
          .otherwise(lit("")))
      val blocked = Blocklist.toDF("apex")
      Tables.documents(s, d)
        .select($"doc_id", explode(
          regexp_extract_all(withUrls, lit("https?://[^ ]+"), lit(0))).as("url"))
        .select($"doc_id",
          regexp_extract($"url", "^https?://([^/]+)", 1).as("domain"))
        .withColumn("apex",
          regexp_extract($"domain", "([A-Za-z0-9-]+\\.[A-Za-z]+)$", 1))
        // tiny dim anti-join: broadcast, no shuffle of the fact side
        .join(broadcast(blocked), Seq("apex"), "left_anti")
        .groupBy($"domain", $"apex")
        .agg(count(lit(1)).as("n_urls"),
          countDistinct($"doc_id").as("n_docs"))
        .orderBy($"domain")
    },

    // Corpus-wide exact paragraph dedup with in-order reassembly
    // (class doc; [[paragraphDedup]] for the chain and its skew-safe
    // first-occurrence shape). Output stays 1:1 with the corpus.
    "q75_paragraph_dedup" -> { (s, d) => paragraphDedup(Tables.documents(s, d)) },

    // Cross-doc repeated-span excision (class doc; [[spanDedup]] for
    // the chain and its scale shape). Output stays 1:1 with the
    // corpus: (doc_id, n_tok, n_removed, clean_text).
    "q93_span_dedup" -> { (s, d) => spanDedup(Tables.documents(s, d)) },

    // Benchmark DECONTAMINATION scan (GPT-3's appendix-C recipe,
    // Brown et al. 2020; every serious pretraining run repeats it):
    // find every training document sharing a ≥ DecontK-token n-gram
    // with a held-out evaluation set, so those docs can be dropped
    // (or the eval items discarded) BEFORE training — a model
    // scoring a benchmark it memorized is the costliest silent
    // failure a data pipeline can ship. n-gram membership is the
    // q24/q93 shingle-hash device; the eval set derives
    // deterministically from the corpus (the q107/q118
    // derive-dirty-input convention — testdata ships no benchmark,
    // so the gate plants one whose contamination provably exists:
    // spans lifted from the three longest docs, which the scan must
    // then rediscover in their donors AND in any near-dup of a
    // donor). Output: (eval_id, doc_id, n_shared) — one row per
    // contaminated (eval item, training doc) pair with the shared
    // distinct-n-gram count.
    //
    // Scale shape: ONE shingle pass over the corpus (the q93
    // kernel), exploded to (hash, doc_id) and joined against the
    // BROADCAST eval-set hashes (an eval suite is thousands of
    // items — driver-bounded by construction); the count map-side
    // combines per (eval_id, doc_id); nothing is ever O(corpus²)
    // and the corpus text shuffles nowhere. A production run swaps
    // the derived eval frame for the real benchmark table — the
    // chain is [[decontamination]]'s, unchanged.
    "q121_decontamination" -> { (s, d) =>
      decontamination(Tables.documents(s, d))
    },

    // PII scrubbing (the BigScience/ROOTS + FineWeb hygiene stage —
    // regex detection and masking of emails/phone numbers before a
    // corpus ships): per doc, detected counts per PII class and the
    // polyhash of the MASKED text, so the oracle gates the exact
    // masked bytes without the output hauling the corpus. Testdata
    // is clean, so the gate derives its dirty input in-query (the
    // q73/q74 convention — same derivation in the oracle): a third
    // of docs gain an email, a third a phone number. Regexes use
    // spelled-out character classes only (TextOps.WsClass rationale
    // — the one dialect-safe form across java.util.regex and RE2).
    //
    // Scale shape: pure narrow map — detect + mask + hash pipeline
    // inside whole-stage codegen on the scan; output 1:1 id-width
    // with the corpus, no shuffle of document text at all (the q73
    // shape; a production run keeps the masked text column and
    // writes it instead of hashing).
    "q124_pii_scrub" -> { (s, d) =>
      piiScrub(withPii(Tables.documents(s, d)))
    },

    // Boilerplate n-gram table: the top spans by DOCUMENT frequency
    // corpus-wide — the review table an operator reads BEFORE
    // running q93's excision (is that repeated span a license
    // header, a nav bar, or load-bearing content?) and the audit
    // companion to q123's per-doc novelty score (q123 says HOW MUCH
    // of a doc is repeated text; this says WHICH text). Output:
    // top-BoilerK grams by (docs sharing it desc, gram asc) with
    // total occurrence count — the gram STRING itself rides in the
    // report, because a review table of hashes reviews nothing.
    //
    // Scale shape: one shingle pass explodes DISTINCT-per-doc gram
    // strings into a map-side-combined (gram → n_docs, n_occur)
    // aggregate (per-doc occurrence counts fold in the same pass);
    // the global top-K is a TakeOrdered over the aggregated gram
    // table, never a sort of the corpus. Gram strings shuffle —
    // span-width rows, the q75 paragraph trade — but only between
    // the scan and ONE combine.
    "q126_boilerplate_grams" -> { (s, d) =>
      boilerplateGrams(Tables.documents(s, d))
    },

    // k-anonymity / l-diversity release audit (Sweeney 2002;
    // Machanavajjhala et al. 2006) — the governance gate q124's
    // PII masking does NOT cover: masking hides direct identifiers,
    // but a released table still re-identifies people when a
    // quasi-identifier COMBINATION (here nation × market segment ×
    // coarse balance band) is rare enough to single someone out.
    // One row per occupied QI cell: k (cell size), l (distinct
    // sensitive values — the exact balance stands in for the
    // sensitive attribute), and the 0/1 release verdicts a
    // suppression pass would act on (k ≥ KAnonK AND l ≥ LDiversity
    // to publish). This is the record-level twin of q52/q124's
    // text-level PII family — data-release governance over the
    // metadata side of the corpus.
    //
    // Scale shape: ONE map-side-combined hash aggregate keyed by
    // the QI tuple (count + exact count-distinct expands to the
    // standard two-phase agg); output is O(occupied QI cells),
    // bounded by the QI domain product, never by row count. Nothing
    // else moves — at 100 TB this is a scan plus a combine.
    "q171_k_anonymity" -> { (s, d) =>
      kAnonymity(qiInput(Tables.customer(s, d)))
    },

    // High-entropy credential scan (the detect-secrets recipe:
    // Meli, McNiece & Reaves NDSS 2019 measured credential leakage
    // at scale; every modern code/crawl curation pipeline runs this
    // screen) — the third member of the privacy family: q52/q124
    // catch STRUCTURED identifiers (emails, phones) by pattern;
    // leaked API keys and tokens have no grammar, only SHAPE — long
    // single-token alnum runs mixing letters and digits across many
    // distinct characters. Detection: token length ≥ 20, at least
    // one digit AND one letter, ≥ 8 distinct characters — all
    // integer/regex predicates, no entropy float. Output: one row
    // per offending document with counts and a masked 6-char
    // example (a report of full secrets would itself be a leak).
    // Testdata ships no credentials, so the dirty input derives
    // in-query (the q73/q124 convention): every 5th doc gets a
    // 20-char hex-ish token appended, derived from doc_id via the
    // house hash so both engines plant the same bytes.
    //
    // Scale shape: one tokenize pass, flag predicates fuse into the
    // scan, ONE map-side-combined per-doc aggregate; only flagged
    // docs survive the HAVING. Nothing else moves.
    "q178_secret_scan" -> { (s, d) =>
      secretScan(withSecrets(Tables.documents(s, d)))
    }
  )

  /** q178: detection floors (detect-secrets-style shape heuristic). */
  private val SecretMinLen      = 20
  private val SecretMinDistinct = 8

  /** q178's dirty-input derivation (the [[withPii]] convention):
    * every doc_id ≡ 1 (mod 5) grows a deterministic 20-char
    * credential-shaped token — "sk" + two 9-hex-digit halves pinned
    * to [2^32, 2^32+2^30) so the hex width never varies. */
  private[graft] def withSecrets(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    def half(mult: Long) = lower(hex(
      pmod($"doc_id" * lit(mult), lit(1000000007L)) + lit(4294967296L)))
    docs.select($"doc_id", $"lang",
      when(pmod($"doc_id", lit(5L)) === 1L,
        concat($"text", lit(" key sk"), half(2654435761L), half(961748941L)))
        .otherwise($"text").as("text"))
  }

  /** The q178 chain over any (doc_id, text) frame (spec hook:
    * planted credential, long clean word, short hex — CleaningSpec). */
  private[graft] def secretScan(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val flag =
      (length($"tok") >= SecretMinLen &&
        $"tok".rlike("[0-9]") && $"tok".rlike("[A-Za-z]") &&
        size(array_distinct(split($"tok", ""))) >= SecretMinDistinct)
        .cast("long")
    docs
      .select($"doc_id", explode(TextOps.tokens($"text")).as("tok"))
      .select($"doc_id", $"tok", flag.as("flag"))
      .groupBy($"doc_id")
      .agg(count(lit(1)).as("n_tokens"), sum($"flag").as("n_secrets"),
        max(when($"flag" === 1L, length($"tok").cast("long")))
          .as("max_secret_len"),
        min(when($"flag" === 1L, $"tok")).as("first_secret"))
      .filter($"n_secrets" > 0L)
      .select($"doc_id", $"n_tokens", $"n_secrets", $"max_secret_len",
        concat(substring($"first_secret", 1, 6), lit("***"))
          .as("example_masked"))
      .orderBy($"doc_id")
  }

  /** q171's QI projection off a raw customer frame — shared by the
    * gated query and [[graft.pipeline.GovernanceMaintenance]]'s
    * absorb path (one banding definition). */
  private[graft] def qiInput(customers: DataFrame): DataFrame = {
    val spark = customers.sparkSession
    import spark.implicits._
    customers.select($"c_nationkey".cast("long").as("nationkey"),
      $"c_mktsegment".as("segment"),
      floor($"c_acctbal" / lit(1000.0)).cast("long").as("band"),
      $"c_acctbal".as("sensitive"))
  }

  /** q171: publishability floors — the textbook defaults (k=5 is
    * the census small-cell rule; l=3 guards attribute disclosure
    * inside a published cell). */
  private val KAnonK     = 5L
  private val LDiversity = 3L

  /** The q171 chain over any (nationkey, segment, band, sensitive)
    * frame (spec hook: planted cells with known k/l — CleaningSpec). */
  private[graft] def kAnonymity(rows: DataFrame): DataFrame =
    kAnonymityFromCounts(qiCounts(rows))

  /** q171's additive sufficient statistic: per-(QI cell, sensitive
    * value) record counts — disjoint deliveries sum, so
    * [[graft.pipeline.GovernanceMaintenance]] serves the release
    * audit incrementally off this exact frame. */
  private[graft] def qiCounts(rows: DataFrame): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    rows.groupBy($"nationkey", $"segment", $"band", $"sensitive")
      .agg(count(lit(1)).as("n"))
  }

  /** q171 over a pre-aggregated (QI, sensitive, n) count table: k is
    * the cell's record sum, l its occupied sensitive-value count. */
  private[graft] def kAnonymityFromCounts(counts: DataFrame): DataFrame = {
    val spark = counts.sparkSession
    import spark.implicits._
    counts
      .filter($"n" > 0L)
      .groupBy($"nationkey", $"segment", $"band")
      .agg(sum($"n").as("k"), count(lit(1)).as("l"))
      .select($"nationkey", $"segment", $"band", $"k", $"l",
        when($"k" >= KAnonK, 1L).otherwise(0L).as("k_anon"),
        when($"l" >= LDiversity, 1L).otherwise(0L).as("l_diverse"),
        when($"k" >= KAnonK && $"l" >= LDiversity, 0L).otherwise(1L)
          .as("suppress"))
      .orderBy($"nationkey", $"segment", $"band")
  }

  /** q126: report size. The gram width is q93's SpanK — one
    * boilerplate granularity across the repeated-text family. */
  private val BoilerK = 20

  /** The q126 chain over any (doc_id, text) frame (spec hook:
    * planted template corpus — CleaningSpec). */
  private[graft] def boilerplateGrams(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      // r19 audit note: a pre-shingle `.repartition($"doc_id")` was
      // TRIED here (guide §2.3 — hashpartitioning(doc_id) satisfies
      // the (doc_id, gram) aggregate's ClusteredDistribution, so the
      // first shuffle hop would carry 1× raw text instead of
      // ~SpanK×=8× gram-string partials; the plan-shape evidence is
      // committed as plans/r19/q126_boilerplate_grams_{before,after})
      // and REVERTED: in full-bench context at sf0.1 it measured a
      // consistent +0.4–0.6 s (0.83 → 1.19–1.82 kept across three
      // runs while neighbor queries tracked their baselines) —
      // local[32] shuffles are memory copies, so the byte asymmetry
      // prices at ~0 here while the extra full-text exchange and the
      // lost scan→partial-agg pipeline cost real time. On a real
      // network the trade may invert (guide §2.2); re-evaluate on a
      // cluster, not from local numbers.
      // toks MATERIALIZED before the shingle HOF (chunksOf's PERF
      // note: an inline tokens(text) re-tokenizes the whole text
      // once per window — measured here 6.4 s → 0.5 s at sf0.1)
      .select($"doc_id", TextOps.tokens($"text").as("toks"))
      .select($"doc_id", explode(TextOps.shinglesOf($"toks", SpanK)).as("gram"))
      .groupBy($"doc_id", $"gram").agg(count(lit(1)).as("occ"))
      .groupBy($"gram")
      .agg(count(lit(1)).as("n_docs"), sum($"occ").as("n_occur"))
      .filter($"n_docs" > 1)
      .orderBy($"n_docs".desc, $"gram")
      .limit(BoilerK)
  }

  // q124: detection patterns (email / NANP-style phone). Shared
  // constants so the Spark plan and the DuckDB twin compile the
  // SAME pattern strings.
  private val EmailRe = "[a-z0-9._]+@[a-z0-9.]+[a-z]"
  private val PhoneRe = "\\+[0-9]{1,2}-[0-9]{3}-[0-9]{2,6}"

  /** q124's dirty-input derivation (the testdata ships no PII). */
  private[graft] def withPii(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"), col("lang"),
      when(pmod(col("doc_id"), lit(4L)) === 1L,
        concat(col("text"), lit(" contact u"), col("doc_id").cast("string"),
          lit("@mail.example.com now")))
        .when(pmod(col("doc_id"), lit(4L)) === 2L,
          concat(col("text"), lit(" call +1-555-0"),
            pmod(col("doc_id"), lit(100L)).cast("string"), lit(" today")))
        .otherwise(col("text")).as("text"))

  /** Masked text at ROW level (emails then phones — the classes
    * cannot overlap, but a fixed order keeps the masked bytes
    * engine-independent by construction) — shared by the q124 report
    * and [[graft.pipeline.CurationExport]]'s scrub stage. */
  private[graft] def piiMasked(text: Column): Column =
    regexp_replace(regexp_replace(text, EmailRe, "<EMAIL>"),
      PhoneRe, "<PHONE>")

  /** Matched-span count at row level (the scrub stage's lineage). */
  private[graft] def piiCount(text: Column): Column =
    (size(regexp_extract_all(text, lit(EmailRe), lit(0))) +
      size(regexp_extract_all(text, lit(PhoneRe), lit(0)))).cast("bigint")

  /** The q124 chain over any (doc_id, text) frame (spec hook:
    * planted multi-PII docs — CleaningSpec). */
  private[graft] def piiScrub(docs: DataFrame): DataFrame =
    docs.select(col("doc_id"),
        size(regexp_extract_all(col("text"), lit(EmailRe), lit(0)))
          .cast("bigint").as("n_emails"),
        size(regexp_extract_all(col("text"), lit(PhoneRe), lit(0)))
          .cast("bigint").as("n_phones"),
        TextOps.fingerprint(piiMasked(col("text"))).as("clean_hash"))
      .orderBy(col("doc_id"))

  // q121: n-gram width (GPT-3 used 13-grams of its BPE stream; 8
  // word-grams is the same statistic at the testdata's vocabulary),
  // eval-set size, and the planted span (1-based token start/len)
  // lifted from each donor doc.
  private[graft] val DecontK = 8
  private[graft] val DecontEvalN = 3
  private[graft] val DecontSpanFrom = 4
  private[graft] val DecontSpanLen = 16

  /** The q121 chain over any (doc_id, text, n_chars) frame (spec
    * hook: planted donor/near-dup corpus — CleaningSpec). See the
    * q121 entry comment for the recipe and scale shape; the gate's
    * eval set derives from the corpus, the general scan is
    * [[decontaminationAgainst]]. */
  private[graft] def decontamination(docs: DataFrame): DataFrame =
    decontaminationAgainst(docs, decontEvalItems(docs))

  /** The gate's derived benchmark frame (eval_id, etext) — spans
    * lifted from the [[DecontEvalN]] longest docs (q121's planted
    * eval set; ONE definition, shared with q167's semantic screen so
    * both contamination views scan the SAME benchmark). */
  private[graft] def decontEvalItems(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.orderBy($"n_chars".desc, $"doc_id").limit(DecontEvalN)
      .select($"doc_id".as("eval_id"),
        array_join(
          slice(TextOps.tokens($"text"), DecontSpanFrom, DecontSpanLen), " ")
          .as("etext"))
  }

  /** The general scan: contaminated (eval_id, doc_id, n_shared)
    * pairs between any corpus and any (eval_id, etext) benchmark
    * frame — what a production run and
    * [[graft.pipeline.CurationExport]]'s decontamination stage
    * call. */
  private[graft] def decontaminationAgainst(docs: DataFrame,
                                            evalItems: DataFrame): DataFrame = {
    val eval = evalItems.select(col("eval_id"),
      explode(graft.ops.expressions.ShingleHashes(col("etext"), DecontK)).as("sh"))
    val corpus = docs.select(col("doc_id"),
      explode(graft.ops.expressions.ShingleHashes(col("text"), DecontK)).as("sh"))
    corpus.join(broadcast(eval), Seq("sh"))
      .groupBy(col("eval_id"), col("doc_id"))
      .agg(count(lit(1)).as("n_shared"))
      .orderBy(col("eval_id"), col("doc_id"))
  }

  def oracles: Map[String, String] = Map(

    "q73_normalize" -> {
      val dirty =
        """'<p id="' || CAST(doc_id AS VARCHAR) || '"> ' ||
          |  replace(text, ' table ', ' &amp;' || chr(9) || '<b>table</b>  ') ||
          |  ' </p>' || chr(10) || '<div class="footer">cafe' || chr(769) ||
          |  ' &lt;' || source || '&gt;</div>'""".stripMargin
      s"""WITH d AS (SELECT doc_id, $dirty AS dirty FROM documents),
         |c AS (SELECT doc_id, dirty,
         |        trim(regexp_replace(
         |          nfc_normalize(
         |            replace(replace(replace(
         |              regexp_replace(dirty, '<[^>]*>', ' ', 'g'),
         |              '&lt;', '<'), '&gt;', '>'), '&amp;', '&')),
         |          '[$Ws]+', ' ', 'g')) AS clean
         |      FROM d)
         |SELECT doc_id,
         |  CAST(length(dirty) AS INTEGER) AS n_raw,
         |  CAST(length(clean) AS INTEGER) AS n_clean,
         |  clean
         |FROM c ORDER BY doc_id""".stripMargin
    },

    "q74_url_extract" ->
      s"""WITH t AS (SELECT doc_id,
         |        text || ' ref https://www.' || source || '.example.com/d/' ||
         |        CAST(doc_id AS VARCHAR) ||
         |        ' img http://cdn' || CAST(doc_id % 4 AS VARCHAR) ||
         |        '.assets-cdn.net/i/' || CAST(doc_id AS VARCHAR) || '.png' ||
         |        CASE WHEN doc_id % 5 = 0
         |          THEN ' trk https://track' || CAST(doc_id % 2 AS VARCHAR) ||
         |               '.adsite.io/p?id=' || CAST(doc_id AS VARCHAR)
         |          ELSE '' END AS txt
         |      FROM documents),
         |u AS (SELECT doc_id, unnest(regexp_extract_all(txt, 'https?://[^ ]+')) AS url
         |      FROM t),
         |p AS (SELECT doc_id,
         |        regexp_extract(url, '^https?://([^/]+)', 1) AS domain,
         |        regexp_extract(regexp_extract(url, '^https?://([^/]+)', 1),
         |                       '([A-Za-z0-9-]+\\.[A-Za-z]+)$$', 1) AS apex
         |      FROM u)
         |SELECT domain, apex, count(*) AS n_urls,
         |  count(DISTINCT doc_id) AS n_docs
         |FROM p
         |WHERE apex NOT IN (${Blocklist.map("'" + _ + "'").mkString(", ")})
         |GROUP BY domain, apex
         |ORDER BY domain""".stripMargin,

    "q75_paragraph_dedup" ->
      s"""WITH c AS (SELECT doc_id, ${Sql.chunks("text", ParaTokens)} AS chs
         |           FROM documents),
         |p AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos, chs[u.i + 1] AS para
         |      FROM c, unnest(range(0, len(chs))) u(i)),
         |k AS (SELECT doc_id, pos, para,
         |        row_number() OVER (PARTITION BY para ORDER BY doc_id, pos) AS rn
         |      FROM p),
         |a AS (SELECT doc_id, count(*) AS n_paras FROM p GROUP BY doc_id),
         |r AS (SELECT doc_id, count(*) AS n_kept,
         |        array_to_string(list(para ORDER BY pos), ' ') AS clean_text
         |      FROM k WHERE rn = 1 GROUP BY doc_id)
         |SELECT c.doc_id,
         |  coalesce(a.n_paras, 0) AS n_paras,
         |  coalesce(r.n_kept, 0) AS n_kept,
         |  coalesce(r.clean_text, '') AS clean_text
         |FROM c
         |LEFT JOIN a ON c.doc_id = a.doc_id
         |LEFT JOIN r ON c.doc_id = r.doc_id
         |ORDER BY c.doc_id""".stripMargin,

    "q93_span_dedup" ->
      s"""WITH t AS (SELECT doc_id, ${Sql.toks("text")} AS toks FROM documents),
         |g AS (SELECT doc_id, CAST(u.i AS INTEGER) AS pos,
         |        array_to_string(toks[u.i + 1 : u.i + $SpanK], ' ') AS sh
         |      FROM t, unnest(range(0, len(toks) - ${SpanK - 1})) u(i)
         |      WHERE len(toks) >= $SpanK),
         |r AS (SELECT doc_id, pos,
         |        row_number() OVER (PARTITION BY ${Sql.polyHash("sh")}, sh
         |                           ORDER BY doc_id, pos) AS rn
         |      FROM g),
         |cov AS (SELECT DISTINCT doc_id, pos + CAST(u.j AS INTEGER) AS p
         |        FROM r, unnest(range(0, $SpanK)) u(j)
         |        WHERE rn > 1),
         |tok AS (SELECT doc_id, CAST(u.i AS INTEGER) AS p, toks[u.i + 1] AS tok
         |        FROM t, unnest(range(0, len(toks))) u(i)),
         |a AS (SELECT doc_id, count(*) AS n_tok FROM tok GROUP BY doc_id),
         |k AS (SELECT doc_id, p, tok FROM tok
         |      WHERE NOT EXISTS (SELECT 1 FROM cov
         |                        WHERE cov.doc_id = tok.doc_id AND cov.p = tok.p)),
         |rb AS (SELECT doc_id, count(*) AS n_kept,
         |         array_to_string(list(tok ORDER BY p), ' ') AS clean_text
         |       FROM k GROUP BY doc_id)
         |SELECT t.doc_id,
         |  coalesce(a.n_tok, 0) AS n_tok,
         |  coalesce(a.n_tok, 0) - coalesce(rb.n_kept, 0) AS n_removed,
         |  coalesce(rb.clean_text, '') AS clean_text
         |FROM t
         |LEFT JOIN a ON t.doc_id = a.doc_id
         |LEFT JOIN rb ON t.doc_id = rb.doc_id
         |ORDER BY t.doc_id""".stripMargin,

    // Twin of q121: same eval-set derivation (longest docs, fixed
    // token span), same distinct-shingle-hash device as the q24
    // oracle's h CTE.
    "q121_decontamination" ->
      s"""WITH ev0 AS (SELECT doc_id, text FROM documents
         |             ORDER BY n_chars DESC, doc_id LIMIT $DecontEvalN),
         |ev1 AS (SELECT doc_id AS eval_id,
         |          array_to_string((${Sql.toks("text")})
         |            [$DecontSpanFrom : ${DecontSpanFrom + DecontSpanLen - 1}], ' ')
         |            AS etext
         |        FROM ev0),
         |evs AS (SELECT eval_id, unnest(list_distinct(list_transform(
         |          ${Sql.shingleSet("etext", DecontK)}, t -> ${Sql.polyHash("t")}))) AS sh
         |        FROM ev1),
         |ds AS (SELECT doc_id, unnest(list_distinct(list_transform(
         |         ${Sql.shingleSet("text", DecontK)}, t -> ${Sql.polyHash("t")}))) AS sh
         |       FROM documents)
         |SELECT evs.eval_id, ds.doc_id, CAST(count(*) AS BIGINT) AS n_shared
         |FROM ds JOIN evs USING (sh)
         |GROUP BY evs.eval_id, ds.doc_id
         |ORDER BY evs.eval_id, ds.doc_id""".stripMargin,

    // Twin of q124: same dirty-input derivation, same pattern
    // strings, global-flag replaces, polyhash over the masked bytes.
    "q124_pii_scrub" -> {
      val masked =
        s"regexp_replace(regexp_replace(text, '$EmailRe', '<EMAIL>', 'g'), " +
          s"'$PhoneRe', '<PHONE>', 'g')"
      s"""WITH p AS (SELECT doc_id,
         |  CASE WHEN doc_id % 4 = 1 THEN text || ' contact u' ||
         |         CAST(doc_id AS VARCHAR) || '@mail.example.com now'
         |       WHEN doc_id % 4 = 2 THEN text || ' call +1-555-0' ||
         |         CAST(doc_id % 100 AS VARCHAR) || ' today'
         |       ELSE text END AS text
         |  FROM documents)
         |SELECT doc_id,
         |  CAST(len(regexp_extract_all(text, '$EmailRe', 0)) AS BIGINT) AS n_emails,
         |  CAST(len(regexp_extract_all(text, '$PhoneRe', 0)) AS BIGINT) AS n_phones,
         |  ${Sql.polyHash(masked)} AS clean_hash
         |FROM p ORDER BY doc_id""".stripMargin
    },

    // Twin of q126: non-distinct gram positions (q93's g CTE shape),
    // per-doc occurrence fold, doc-frequency rank.
    "q126_boilerplate_grams" ->
      s"""WITH t AS (SELECT doc_id, ${Sql.toks("text")} AS toks FROM documents),
         |g AS (SELECT doc_id, array_to_string(toks[u.i + 1 : u.i + $SpanK], ' ') AS gram
         |      FROM t, unnest(range(0, len(toks) - ${SpanK - 1})) u(i)
         |      WHERE len(toks) >= $SpanK),
         |p AS (SELECT doc_id, gram, CAST(count(*) AS BIGINT) AS occ
         |      FROM g GROUP BY doc_id, gram),
         |a AS (SELECT gram, CAST(count(*) AS BIGINT) AS n_docs,
         |        CAST(sum(occ) AS BIGINT) AS n_occur
         |      FROM p GROUP BY gram)
         |SELECT gram, n_docs, n_occur FROM a
         |WHERE n_docs > 1
         |ORDER BY n_docs DESC, gram LIMIT $BoilerK""".stripMargin,

    // Twin of q171: same QI banding (floor over DOUBLE division —
    // one IEEE op, bit-identical), count + exact count-distinct,
    // integer verdict flags.
    "q171_k_anonymity" ->
      s"""WITH b AS (
         |  SELECT CAST(c_nationkey AS BIGINT) AS nationkey,
         |    c_mktsegment AS segment,
         |    CAST(floor(c_acctbal / 1000.0) AS BIGINT) AS band,
         |    c_acctbal AS sensitive
         |  FROM customer),
         |g AS (SELECT nationkey, segment, band,
         |        CAST(count(*) AS BIGINT) AS k,
         |        CAST(count(DISTINCT sensitive) AS BIGINT) AS l
         |      FROM b GROUP BY 1, 2, 3)
         |SELECT nationkey, segment, band, k, l,
         |  CAST(CASE WHEN k >= $KAnonK THEN 1 ELSE 0 END AS BIGINT) AS k_anon,
         |  CAST(CASE WHEN l >= $LDiversity THEN 1 ELSE 0 END AS BIGINT) AS l_diverse,
         |  CAST(CASE WHEN k >= $KAnonK AND l >= $LDiversity
         |       THEN 0 ELSE 1 END AS BIGINT) AS suppress
         |FROM g ORDER BY nationkey, segment, band""".stripMargin,

    // Twin of q178: same doc_id-derived planted token (to_hex of the
    // same pinned-range halves), same shape predicates, same masked
    // 6-char example off the binary-min flagged token.
    "q178_secret_scan" -> {
      def half(mult: Long) =
        s"lower(to_hex(doc_id * $mult % 1000000007 + 4294967296))"
      s"""WITH d AS (
         |  SELECT doc_id,
         |    CASE WHEN doc_id % 5 = 1
         |      THEN text || ' key sk' || ${half(2654435761L)}
         |             || ${half(961748941L)}
         |      ELSE text END AS text
         |  FROM documents),
         |t AS (SELECT doc_id, unnest(${Sql.toks("text")}) AS tok FROM d),
         |f AS (SELECT doc_id, tok,
         |        CASE WHEN length(tok) >= $SecretMinLen
         |          AND regexp_matches(tok, '[0-9]')
         |          AND regexp_matches(tok, '[A-Za-z]')
         |          AND len(list_distinct(regexp_extract_all(tok, '.')))
         |                >= $SecretMinDistinct
         |        THEN 1 ELSE 0 END AS flag
         |      FROM t)
         |SELECT doc_id, CAST(count(*) AS BIGINT) AS n_tokens,
         |  CAST(sum(flag) AS BIGINT) AS n_secrets,
         |  CAST(max(CASE WHEN flag = 1 THEN length(tok) END) AS BIGINT)
         |    AS max_secret_len,
         |  substr(min(CASE WHEN flag = 1 THEN tok END), 1, 6) || '***'
         |    AS example_masked
         |FROM f GROUP BY doc_id HAVING sum(flag) > 0
         |ORDER BY doc_id""".stripMargin
    }
  )
}
