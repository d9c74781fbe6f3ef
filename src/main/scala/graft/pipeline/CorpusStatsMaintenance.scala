package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Incremental corpus-statistics maintenance — the lexical half of
  * the [[CorpusAudit]] report pack WITHOUT re-tokenizing the corpus
  * per delivery. At 100 TB the audit's term-statistics tables (Zipf
  * slope q139, lexical diversity q140, Good–Turing coverage q152,
  * Chao richness q162) each cost a full corpus tokenize; but all
  * four are pure functions of ONE sufficient statistic, the (lang,
  * term) count table, and counts are additive across disjoint
  * deliveries. So the store keeps per-run term counts ([[absorb]]
  * tokenizes only the arriving batch) in a [[graft.ops.RunStore]], and
  * serves the statistics through the SAME `FromCounts` derivations
  * the gated queries run — served ≡ batch is structural, not
  * aspirational (the [[MixtureMaintenance]]/[[HybridRetrieval]]
  * store doctrine).
  *
  * The store keeps a SECOND additive statistic alongside: the
  * (source, len) document-length histogram, which is the entire
  * input of q159's Wasserstein/KS length-drift table — so the drift
  * alarm a mixture owner reads per delivery costs O(batch) tokenize
  * plus an O(sources × distinct-lengths) derivation, never a corpus
  * re-scan. And a THIRD: the RAW (lang, w1, w2) adjacent-pair count
  * table, which carries q154's entropy rate and q125's PMI
  * collocations — raw (unfloored) counts are load-bearing for both
  * (q125's ≥5 noise floor must apply to the MERGED counts, and the
  * table's per-lang sum IS the bigram mass both normalizers need —
  * [[graft.queries.Corpus.bigramCounts]]'s doc). A FOURTH: the
  * (source, term) count table, which carries the whole
  * source-mixture family — q153's KL drift, q151's DoReMi weights
  * and q177's LOO novelty all serve off it through their
  * `FromCounts` derivations, so the mixture owner re-reads
  * recommended weights and data-valuation scores after every
  * delivery. All four statistics come off the one tokenize of the
  * arriving batch.
  *
  * Store layout: four [[graft.ops.RunStore]] tables under `dir`,
  * written and acknowledged together by each delivery —
  * `termcounts` (lang, w, c), `lenhist` (source, len, c), `bicounts`
  * (lang, w1, w2, c) and `srccounts` (source, w, csw). A token-less
  * batch still histograms its zero-length docs (length 0 is length
  * evidence even when no term arrives).
  *
  * Scale shape: absorb is O(batch); the store holds O(langs·vocab) +
  * O(sources·distinct-lengths) + O(langs·bigram-types) rows
  * regardless of corpus size (vocabulary grows ~N^β, q149's own
  * fit; bigram types grow the same way one power up — still
  * sublinear in tokens); serving aggregates the store, never the
  * corpus.
  */
object CorpusStatsMaintenance {

  import graft.ops.RunStore

  private val Terms =
    RunStore.Table("termcounts", "lang STRING, w STRING, c BIGINT", "lang", "w")
  private val Lens =
    RunStore.Table("lenhist", "source STRING, len BIGINT, c BIGINT", "source", "len")
  private val Bigrams = RunStore.Table("bicounts",
    "lang STRING, w1 STRING, w2 STRING, c BIGINT", "lang", "w1", "w2")
  private val Sources =
    RunStore.Table("srccounts", "source STRING, w STRING, csw BIGINT", "source", "w")
  private[graft] val Store = new RunStore("", Terms, Lens, Bigrams, Sources)

  private def lenhist(tk: DataFrame): DataFrame =
    tk.select(col("source"), size(col("toks")).cast("long").as("len"))
      .groupBy(col("source"), col("len")).agg(count(lit(1)).as("c"))

  // all four statistics derive from ONE tokenize of the batch — the
  // shared (source, lang, toks) frame persists for the four writes
  // and unpersists before absorb/build returns
  private def withTokenized[T](docs: DataFrame)(f: Seq[DataFrame] => T): T = {
    val tk = graft.queries.Corpus.tokenized(docs)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    try f(Seq(graft.queries.Corpus.unigramCountsFromToks(tk), lenhist(tk),
      graft.queries.Corpus.bigramCountsFromToks(tk),
      graft.queries.Corpus.sourceTermCountsFromToks(tk)))
    finally tk.unpersist()
  }

  /** Full rebuild from a corpus snapshot → `run=base` (all four
    * statistics). */
  def build(spark: SparkSession, docs: DataFrame, dir: String): Unit =
    withTokenized(docs)(Store.rebuild(spark, dir, _: _*))

  /** Absorb one delivery under `run=<runId>` — O(batch), idempotent
    * under re-delivery. The four statistics land under the same run
    * id and are acknowledged together, so a crash inside this method
    * can never skew a cross-table statistic (q154's H2 − H1 reads
    * term AND bigram counts; q125 likewise) or be folded into
    * run=base before the retry. */
  def absorb(spark: SparkSession, docs: DataFrame, dir: String,
             runId: String): Unit =
    withTokenized(docs)(Store.absorb(spark, dir, runId, _: _*))

  /** Fold every acknowledged run into one summed partition per
    * statistic (crash-recoverable; run at a quiescent point, the
    * store family's documented contract). */
  def compact(spark: SparkSession, dir: String): Unit = Store.fold(spark, dir)

  private def terms(spark: SparkSession, dir: String) = Store.read(spark, dir)(Terms)

  private def sources(spark: SparkSession, dir: String) = Store.read(spark, dir)(Sources)

  /** q140's table from the store — same derivation as the query. */
  def lexicalDiversity(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Corpus.lexicalDiversityFromCounts(terms(spark, dir))

  /** q152's table from the store. */
  def goodTuring(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Corpus.goodTuringFromCounts(terms(spark, dir))

  /** q139's table from the store. */
  def zipfSlope(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Corpus.zipfSlopeFromCounts(
      terms(spark, dir).withColumnRenamed("c", "freq"))

  /** q162's table from the store. */
  def chaoRichness(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Corpus.chaoRichnessFromCounts(terms(spark, dir))

  /** q159's length-drift table from the store — the per-delivery
    * drift alarm, served without touching the corpus. */
  def lengthDrift(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Corpus.lengthDriftFromHist(Store.read(spark, dir)(Lens))

  /** q154's entropy-rate table from the store — H₁/H₂/conditional
    * per language off the merged count tables, no corpus re-scan. */
  def entropyRate(spark: SparkSession, dir: String): DataFrame = {
    val counts = Store.read(spark, dir)
    graft.queries.Corpus.entropyRateFromCounts(counts(Terms), counts(Bigrams))
  }

  /** q125's PMI collocation table from the store — the ≥5 noise
    * floor applies to the MERGED bigram counts (the reason the store
    * keeps raw counts), so a pair crossing the floor across
    * deliveries surfaces exactly as the batch chain would rank it. */
  def pmiBigrams(spark: SparkSession, dir: String): DataFrame = {
    val counts = Store.read(spark, dir)
    graft.queries.Corpus.pmiFromCounts(counts(Terms), counts(Bigrams))
  }

  /** q153's source-KL drift table from the store. */
  def sourceKl(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Corpus.sourceKlFromCounts(sources(spark, dir))

  /** q151's DoReMi weight table from the store — the mixture owner
    * re-reads the recommended weights after every delivery. */
  def doremiWeights(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Learn.doremiWeightsFromCounts(sources(spark, dir))

  /** q177's LOO novelty table from the store — data valuation per
    * delivery (which provider still adds unpredictable text). */
  def looNovelty(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Corpus.looNoveltyFromCounts(sources(spark, dir))

  /** q179's Burrows-Delta stylometry table from the store — the
    * provenance-forensics read after every delivery (a provider
    * whose function-word profile jumps mid-stream changed its
    * upstream generator). Fifth consumer of the source-term store. */
  def stylometry(spark: SparkSession, dir: String): DataFrame =
    graft.queries.Corpus.stylometryFromCounts(sources(spark, dir))
}
