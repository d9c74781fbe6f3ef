package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType
import graft.ops.expressions.{MinHashSig, ShingleHashes}

/** Incremental dedup screening: dedup a NEW batch of documents
  * against a PRECOMPUTED corpus index, without touching the corpus
  * text again. This is the operating mode that matters at 100 TB —
  * a daily ingest cannot re-shingle and re-LSH the whole corpus; it
  * screens the day's documents against a persisted index and only
  * the index grows. (The batch queries q23/q24 are the from-scratch
  * formulation of the same two dedup families.)
  *
  * Index layout (parquet under `dir`, written by [[build]]):
  *   - `fingerprints/` (doc_id, fp_hi, fp_lo, fp_len) — exact-dup
  *     lookup on the 128-bit fingerprint + byte length (narrow keys
  *     silently drop docs at corpus scale; see [[withDerived]])
  *   - `shingles/`     (doc_id, hs)            — near-dup verification
  *   - `bands/`        (band_idx, band_hash, doc_id) — LSH candidates
  *
  * Scale shape of [[screen]]: the new batch (small) computes its own
  * fingerprints/signatures in one scan, then hash equi-joins the
  * band index on (band_idx, band_hash) — never the corpus — and
  * verifies exact Jaccard only against the candidate ids' shingle
  * rows. Everything shuffles on ids or band keys; nothing is
  * O(corpus). For steady-state production the three index tables
  * would be bucketed on their join keys (ScaleSpec's bucketBy
  * pattern) so repeated screenings skip even the index-side shuffle.
  * Measured, not just argued (ScaleProbe's `dedup_screen` mode, r18
  * verdict #4): screening the same fixed 500-doc batch against a
  * 30×-larger index costs 1.7× — exponent ≈ 0.16 in index size,
  * fixed-overhead dominated — where a corpus-rescanning screen
  * would track exponent ≈ 1 (README scaling notes, receipt table).
  *
  * Same LSH parameters as q24 (k=3 shingles, 16 perms, 8 bands × 2
  * rows): detection probability 1-(1-j²)^8 ≈ 0.995 at j=0.7.
  */
object DedupIndex {

  private val ShingleK = 3
  private val NumPerms = 16
  private val Bands = 8
  private val RowsPerBand = NumPerms / Bands
  private val JaccardMin = 0.5
  private val HashMod = 1000000007L

  // Probe-side broadcast budget for [[verifiedAgainst]]: the capped
  // probe plan broadcasts frames bounded by the BATCH's band count
  // (batchBands, bStats, smallB are all ≤ it). A daily batch fits
  // easily (8 band rows/doc → ~128k docs under this bound); a
  // catch-up FLOOD — the very scenario the index-side cap defends
  // against — could exceed driver/broadcast memory, so above the
  // bound the probe drops the hints and degrades to plain shuffle
  // joins: identical rows, cost linear in the batch (the pre-cap
  // plan shape). ~1M band rows ≈ tens of MB serialized.
  private val ProbeBroadcastMaxBands = 1L << 20

  private[graft] def withDerived(docs: DataFrame): DataFrame = {
    // the exact-dup key is 128 bits — (fp_hi, fp_lo), four
    // independent polyhash families packed two-per-long
    // (TextOps.fingerprintHi/Lo) — plus byte length for free. A
    // narrow key is a SILENT DATA-LOSS bug at corpus scale: a
    // ~2^30-range polyhash birthday-collides from ~10^4.5 docs and a
    // false "exact" verdict drops the colliding document; 2^123 puts
    // the first expected collision past 10^18 docs
    // (Fingerprint128Spec plants the narrow-key collision).
    val base = docs
      .select(col("doc_id"), col("text"),
        graft.ops.TextOps.fingerprintHi(col("text")).as("fp_hi"),
        graft.ops.TextOps.fingerprintLo(col("text")).as("fp_lo"),
        octet_length(col("text")).as("fp_len"),
        ShingleHashes(col("text"), ShingleK).as("hs"))
    base.select(col("doc_id"), col("fp_hi"), col("fp_lo"), col("fp_len"), col("hs"),
      when(size(col("hs")) > 0, MinHashSig(col("hs"), NumPerms))
        .otherwise(array().cast("array<bigint>")).as("sig"))
  }

  private def bandsOf(derived: DataFrame): DataFrame =
    derived.filter(size(col("sig")) > 0)
      .select(col("doc_id"),
        posexplode(transform(
          sequence(lit(0L), lit(Bands.toLong - 1)),
          b => aggregate(
            slice(col("sig"), (b * RowsPerBand + 1).cast("int"), lit(RowsPerBand)),
            lit(0L),
            (acc, v) => (acc * 31 + v) % lit(HashMod)))).as(Seq("band_idx", "band_hash")))

  // Declared schema of each index table [[write]] lands, `run` (the
  // partition column) last: screening and compaction read through
  // `spark.read.schema(...)` and never run a schema-inference job.
  // An old single-`fp` store would read `fp_hi` as NULL under this
  // declaration, which is why [[requireWideLayout]] still checks each
  // run directory's own footer before any of these reads.
  // StoreSchemaSpec pins each declaration against the writer.
  private[graft] val Schemas: scala.collection.immutable.ListMap[String, StructType] =
    scala.collection.immutable.ListMap(
      "fingerprints" -> "doc_id BIGINT, fp_hi BIGINT, fp_lo BIGINT, fp_len INT, run STRING",
      "shingles" -> "doc_id BIGINT, hs ARRAY<BIGINT>, run STRING",
      "bands" -> "doc_id BIGINT, band_idx INT, band_hash BIGINT, run STRING"
    ).map { case (t, ddl) => t -> StructType.fromDDL(ddl) }

  private val Tables = Schemas.keys.toSeq

  /** Table `t` of the index under its declared schema, restricted to
    * `run=base` and approved runs, minus `excludeRun`. */
  private def readRuns(spark: SparkSession, dir: String, t: String,
                       ap: Set[String], excludeRun: Option[String] = None): DataFrame = {
    val df = graft.ops.DeliveryMarker.approvedOnly(
      spark.read.schema(Schemas(t)).parquet(s"$dir/$t"), ap)
    excludeRun.fold(df)(r => df.filter(col("run") =!= lit(r)))
  }

  /** Build (or rebuild) the index for a corpus. One scan of the
    * corpus text computes fingerprint + shingle set + minhash
    * signature; bands derive from the signatures. The index is
    * hive-partitioned on a `run` label: build writes `run=base` and
    * clears every earlier run; [[append]] adds runs incrementally. */
  def build(spark: SparkSession, docs: DataFrame, dir: String): Unit = {
    // a REBUILD must also clear the screened-doc probe store a
    // DedupScreenStream left under this dir (graft.streaming
    // .DedupScreenStream.screenedDir): it holds the PREVIOUS
    // corpus's LSH state, and stale probe edges would otherwise fold
    // phantom doc_ids into the next deployment's label table
    val screened = new org.apache.hadoop.fs.Path(s"$dir/screened")
    val fs = screened.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (fs.exists(screened)) fs.delete(screened, true)
    write(spark, docs, dir, "base", clearOtherRuns = true)
  }

  /** Append one ingest batch's docs to the index under `run=<runId>`
    * (whole-dir overwrite of that run: re-running the same runId
    * REPLACES that run instead of duplicating it — which makes
    * at-least-once delivery, e.g. foreachBatch re-execution,
    * idempotent). Only the batch is scanned; the existing index is
    * untouched. */
  def append(spark: SparkSession, docs: DataFrame, dir: String,
             runId: String): Unit =
    write(spark, docs, dir, runId, clearOtherRuns = false)

  private def write(spark: SparkSession, docs: DataFrame, dir: String,
                    runId: String, clearOtherRuns: Boolean): Unit = {
    // complete any interrupted compaction BEFORE landing a run: a
    // later heal would otherwise restore the pre-compaction snapshot
    // over this write
    healAll(spark, dir)
    // an APPEND onto a pre-widening index would create the mixed-
    // layout store the requireWideLayout doc describes — refuse it at
    // the write, not just at the read (build clears the store, so the
    // rebuild path stays open)
    if (!clearOtherRuns) requireWideLayout(spark, dir)
    val derived = withDerived(docs).cache()
    // each run is written as an EXPLICIT `run=<id>` directory rather
    // than through partitionBy: same hive layout (readers still
    // discover and prune on `run`), same per-run idempotency as
    // dynamic partition overwrite — but a ZERO-ROW write still emits
    // one schema-bearing parquet file, so an empty corpus build or an
    // all-duplicates batch append leaves a READABLE index (a
    // partitionBy write of zero rows leaves only _SUCCESS and the
    // next read dies in schema inference)
    if (clearOtherRuns)
      // rebuild: stale markers must not approve reused run ids
      graft.ops.DeliveryMarker.clearAll(spark, dir)
    def out(df: DataFrame, path: String): Unit = {
      if (clearOtherRuns) {
        val root = new org.apache.hadoop.fs.Path(path)
        val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
        if (fs.exists(root))
          fs.listStatus(root).map(_.getPath)
            .filter(p => p.getName.startsWith("run=") && p.getName != s"run=$runId")
            .foreach(p => fs.delete(p, true))
      }
      df.write.mode("overwrite").parquet(s"$path/run=$runId")
    }
    try {
      out(derived.select(col("doc_id"), col("fp_hi"), col("fp_lo"), col("fp_len")),
        s"$dir/fingerprints")
      out(derived.select(col("doc_id"), col("hs")), s"$dir/shingles")
      out(bandsOf(derived), s"$dir/bands")
      // commit point (r17 DeliveryMarker sweep): one delivery spans
      // THREE sub-store writes, and screening JOINS across them
      // (bands nominate, fingerprints/shingles verify) — a
      // half-landed run must stay invisible until all three land
      graft.ops.DeliveryMarker.mark(spark, dir, runId)
    } finally derived.unpersist()
  }

  /** Fold every `run=` partition of each index table into a single
    * `run=base`, bounding what steady-state screenings list (daily
    * appends otherwise accumulate one partition per batch forever).
    * Crash-recoverable via [[graft.ops.StoreCompaction]] (snapshot
    * to a temp dir, commit marker, delete, rename — read entry
    * points heal an interrupted fold). Run at a QUIESCENT point (no
    * in-flight deliveries): a re-delivered batch appending its
    * `run=` after compaction would duplicate that batch's rows
    * alongside the folded copy. */
  def compact(spark: SparkSession, dir: String): Unit = {
    // a fold over a mixed-layout store would bake parquet's
    // arbitrarily-inferred schema into run=base (requireWideLayout's
    // doc) — refuse before touching anything
    requireWideLayout(spark, dir)
    val ap = graft.ops.DeliveryMarker.approved(spark, dir)
    Tables.foreach { t =>
      graft.ops.StoreCompaction.fold(spark, s"$dir/$t", "run", "base",
        readRuns(spark, dir, t, ap).drop("run"))
    }
    // markers clear only after the LAST table's fold (the unfolded
    // tables' approved partitions stay readable through the filter)
    graft.ops.DeliveryMarker.clear(spark, dir, ap)
  }

  private def healAll(spark: SparkSession, dir: String): Unit =
    Tables.foreach(t =>
      graft.ops.StoreCompaction.heal(spark, s"$dir/$t", "run"))

  // Run directories already verified wide (r18 advisor note): the
  // guard paid one parquet footer/schema read per run= dir on EVERY
  // screen/append/compact — O(uncompacted runs) on the hot screening
  // path. A run dir's layout cannot change once verified: only this
  // object writes index runs, build() clears the store first,
  // append() re-guards before writing, and every write is wide — so
  // the pass verdict memoizes per run-dir path (a FAILED dir is
  // never memoized: the rebuild that replaces it re-verifies).
  // Bounded against pathological store churn; resettable for specs.
  private val wideVerified =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
  private[graft] def resetLayoutMemo(): Unit = wideVerified.clear()

  /** Layout guard (r18 widening): an index persisted before the
    * 128-bit key carries a single `fp` column, and its hashes cannot
    * be widened in place (fp_hi/fp_lo derive from the TEXT, which
    * the index does not store) — the only sound migration is a
    * rebuild. Checked PER RUN DIRECTORY, not on the merged scan:
    * parquet schema inference (mergeSchema off) picks ONE file, so a
    * mixed store — an old index that took a post-widening append —
    * can present fp_hi at the merged level while every old-run row
    * would read it as NULL, and NULL keys never equi-join: exact
    * dups of the whole pre-widening corpus would silently screen as
    * near/unique, and a compact() would bake the arbitrary schema
    * into `run=base`. Screening, appending onto, and compacting such
    * a store all refuse with the rebuild diagnosis instead
    * (DedupIndexSpec's migration scenario drives all three plus the
    * rebuild and the fp_hi-hook agreement check end-to-end). */
  private def requireWideLayout(spark: SparkSession, dir: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(s"$dir/fingerprints")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return
    fs.listStatus(root).map(_.getPath)
      .filter(_.getName.startsWith("run="))
      .filter(p => !wideVerified.contains(p.toString)).foreach { p =>
        val cols = spark.read.parquet(p.toString).columns.toSet
        if (cols.contains("fp") || !cols.contains("fp_hi"))
          throw new IllegalStateException(
            s"dedup index partition $p uses the pre-128-bit fingerprint " +
              "layout (single `fp` column) — re-run DedupIndex.build from " +
              "the corpus snapshot; the old 2^30-range key false-merges " +
              "from ~10^4.5 docs and cannot be widened without the " +
              "original text")
        if (wideVerified.size > (1 << 16)) wideVerified.clear()
        wideVerified.add(p.toString)
      }
  }

  /** How many `run=` partitions a screening currently lists (spec
    * hook for the compaction contract). */
  private[graft] def runCount(spark: SparkSession, dir: String): Int =
    graft.ops.StoreCompaction.runCount(spark, s"$dir/fingerprints", "run")

  /** Screen a new batch against the index. Returns one row per new
    * document: (doc_id, verdict, match_id, jaccard) with verdict in
    * {exact, near, unique}; match_id = the smallest matching corpus
    * id (exact) or the best-Jaccard corpus id (near, ties to the
    * smaller id); jaccard is null unless verdict = near.
    * Exact beats near when both hold.
    *
    * `excludeRun`: skip one `run=` partition of the index — an
    * at-least-once caller that APPENDS the batch under a run id must
    * screen re-deliveries with its own run excluded, or the re-run
    * screens the batch against its previously-absorbed self and
    * every 'unique' verdict flips to an 'exact' self-match
    * (DedupScreenStream's contract). The filter is on the hive
    * partition column, so excluded runs prune at the scan — no data
    * read. */
  def screen(spark: SparkSession, newDocs: DataFrame, dir: String,
             excludeRun: Option[String] = None): DataFrame = {
    // NOT cached: the result is lazy, so a scoped cache would be
    // released before the caller executes — and the new batch is the
    // small side by definition, so recomputing its kernels per
    // reference costs less than materializing them would at scale
    val derived = withDerived(newDocs)
    // heal first, then refuse pre-widening layouts BEFORE paying the
    // eager band-probe work in verifiedAgainst (r18 advisor note:
    // the guard used to run after the localCheckpoint+count probe
    // had already executed — a late refusal on old-layout stores and
    // dead work before it); with the verdict memoized per run dir
    // this costs footer reads for NEW runs only
    healAll(spark, dir)
    requireWideLayout(spark, dir)
    // verifiedAgainst heals every table first — built BEFORE the
    // fingerprints read below so its heal precedes the eager file
    // listing spark.read.parquet performs at construction time
    val near = verifiedAgainst(spark, derived, dir, excludeRun)
        // best match: max jaccard, smaller corpus id on ties — via
        // max_by on a packed (jaccard, -id) struct, one aggregation
        .groupBy(col("doc_id"))
        .agg(max_by(struct(col("corpus_id"), col("jaccard")),
          struct(col("jaccard"), negate(col("corpus_id")))).as("best"))
        .select(col("doc_id"), col("best.corpus_id").as("near_id"),
          col("best.jaccard").as("near_jaccard"))
    val fps = readRuns(spark, dir, "fingerprints",
        graft.ops.DeliveryMarker.approved(spark, dir), excludeRun)
        .select(col("doc_id").as("corpus_id"),
          col("fp_hi"), col("fp_lo"), col("fp_len"))

      val exact = derived.join(fps, Seq("fp_hi", "fp_lo", "fp_len"))
        .groupBy(col("doc_id")).agg(min(col("corpus_id")).as("exact_id"))

      derived.select(col("doc_id"))
        .join(exact, Seq("doc_id"), "left")
        .join(near, Seq("doc_id"), "left")
        .select(col("doc_id"),
          when(col("exact_id").isNotNull, lit("exact"))
            .when(col("near_id").isNotNull, lit("near"))
            .otherwise(lit("unique")).as("verdict"),
          coalesce(col("exact_id"), col("near_id")).as("match_id"),
          when(col("exact_id").isNull, col("near_jaccard")).as("jaccard"))
  }

  /** Every Jaccard-verified (doc_id, corpus_id, jaccard) pair between
    * a derived batch and the indexed corpus — the shared candidate +
    * verify stage of [[screen]] (which then keeps only the best
    * match) and [[nearEdgesAgainst]] (which needs the FULL edge set:
    * cluster maintenance must see a batch doc that bridges TWO
    * existing clusters, not just its best match). */
  private[graft] def verifiedAgainst(spark: SparkSession, derived: DataFrame,
                              dir: String, excludeRun: Option[String],
                              broadcastMaxBands: Long = ProbeBroadcastMaxBands): DataFrame = {
    healAll(spark, dir) // complete any interrupted compaction first
    val ap = graft.ops.DeliveryMarker.approved(spark, dir)
    val shs = readRuns(spark, dir, "shingles", ap, excludeRun)
      .select(col("doc_id").as("corpus_id"), col("hs").as("corpus_hs"))
    val bands = readRuns(spark, dir, "bands", ap, excludeRun)
      .select(col("band_idx"), col("band_hash"), col("doc_id").as("corpus_id"))
    // Hard per-bucket cap on the INDEX side (q24/q29/q34's BucketCap
    // device, serving-probe form): a boilerplate flood puts ~10⁶
    // copies in one index bucket (build() indexes a corpus that may
    // legitimately hold them; the screened-doc probe store
    // accumulates every non-unique ever screened), and an uncapped
    // probe would emit bucket-size candidates PER MATCHING BATCH DOC
    // — per-batch cost linear in the flood. Over-cap buckets answer
    // with their min-id HUB only: the verify still decides the
    // verdict (an identical batch doc verifies against the hub at
    // jaccard ≈ 1) and a hub edge keeps cluster maintenance
    // connected to the family (spanning, not exhaustive — the
    // nearEdgesAgainst bridge contract degrades to one edge per
    // over-cap bucket, with the other bands still voting for mixed
    // buckets, q24's recall argument). Shape: bucket stats reduce
    // map-side over ONLY the batch's buckets (broadcast probe), the
    // over-cap bucket ids broadcast back, and the index bands are
    // never shuffled — two broadcast-probe streams over the same
    // scan the uncapped join already paid.
    // materialized (localCheckpoint, the bStats treatment): the
    // gating count below would otherwise compute the batch's
    // tokenize+minhash derivation once, then every downstream join
    // would RE-derive it — several band passes per probe
    val batchBands = bandsOf(derived).localCheckpoint()
    // broadcast-or-shuffle gate (ProbeBroadcastMaxBands): every
    // probe-side frame below is bounded by this count, so ONE
    // measurement decides the whole plan's join strategy
    val probeHint: DataFrame => DataFrame =
      if (batchBands.count() <= broadcastMaxBands) df => broadcast(df)
      else identity
    // materialized once (localCheckpoint — the frame is bounded by
    // the BATCH's bucket count): both the small-bucket and over-cap
    // broadcasts below derive from it, which would otherwise rescan
    // the index bands store per derivation
    val bStats = bands
      .join(probeHint(batchBands.select(col("band_idx"), col("band_hash")).distinct()),
        Seq("band_idx", "band_hash"))
      .groupBy(col("band_idx"), col("band_hash"))
      .agg(count(lit(1)).as("m"), min(col("corpus_id")).as("hub_id"))
      .localCheckpoint()
    val cap = graft.queries.TextVector.BucketCap
    val smallB = batchBands
      .join(probeHint(bStats.filter(col("m") <= cap)
        .select(col("band_idx"), col("band_hash"))),
        Seq("band_idx", "band_hash"))
    val candSmall = bands.join(probeHint(smallB), Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("corpus_id"))
    val candStar = batchBands
      .join(probeHint(bStats.filter(col("m") > cap)), Seq("band_idx", "band_hash"))
      .select(col("doc_id"), col("hub_id").as("corpus_id"))
    val cand = candSmall.unionByName(candStar).distinct()
    cand
      .join(derived.select(col("doc_id"), col("hs")), Seq("doc_id"))
      .join(shs, Seq("corpus_id"))
      .select(col("doc_id"), col("corpus_id"),
        (size(array_intersect(col("hs"), col("corpus_hs"))).cast("double") /
          size(array_union(col("hs"), col("corpus_hs"))).cast("double")).as("jaccard"))
      .filter(col("jaccard") >= JaccardMin)
  }

  /** All verified near-dup edges between a new batch and the indexed
    * corpus: (id_a = batch doc, id_b = corpus doc). Same LSH
    * candidates + exact-Jaccard verify as [[screen]]'s near path,
    * WITHOUT the best-match reduction. Over-cap index buckets
    * contribute their hub edge only (the BucketCap note in
    * `verifiedAgainst`) — spanning connectivity for cluster
    * maintenance, not the exhaustive pair set. */
  def nearEdgesAgainst(spark: SparkSession, newDocs: DataFrame, dir: String,
                       excludeRun: Option[String] = None): DataFrame =
    verifiedAgainst(spark, withDerived(newDocs), dir, excludeRun)
      .select(col("doc_id").as("id_a"), col("corpus_id").as("id_b"))

  /** Verified near-dup edges WITHIN one document set — the q24 chain
    * (shingle → minhash → LSH band self-join → exact-Jaccard verify)
    * over `docs` alone, as (id_a < id_b) pairs. Identical parameters
    * to the index build, so edges from this method and from
    * [[nearEdgesAgainst]] compose into one coherent graph. */
  def nearEdgesWithin(spark: SparkSession, docs: DataFrame): DataFrame = {
    val derived = withDerived(docs).cache()
    try {
      // intra-batch candidates through the SHARED capped device
      // (q24/q29/q34's star-edge rule): a catch-up delivery carrying
      // a boilerplate flood would otherwise expand one band bucket
      // into ~batch²/2 pairs; over-cap buckets emit min-id hub edges
      // only, which is all the downstream labeling needs
      val cand = graft.queries.TextVector.cappedBandCandidates(
        bandsOf(derived).select(col("doc_id"), col("band_idx"),
          col("band_hash").as("band_val")))
      cand
        .join(derived.select(col("doc_id").as("id_a"), col("hs").as("hs_a")), Seq("id_a"))
        .join(derived.select(col("doc_id").as("id_b"), col("hs").as("hs_b")), Seq("id_b"))
        .select(col("id_a"), col("id_b"),
          (size(array_intersect(col("hs_a"), col("hs_b"))).cast("double") /
            size(array_union(col("hs_a"), col("hs_b"))).cast("double")).as("jaccard"))
        .filter(col("jaccard") >= JaccardMin)
        .select(col("id_a"), col("id_b"))
        // materialize before unpersist: the caller gets a stable plan
        .localCheckpoint()
    } finally derived.unpersist()
  }
}
