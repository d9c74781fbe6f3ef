package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

/** Persisted IVF-PQ similarity index — the index LIFECYCLE around
  * q90's one-shot query, mirroring what [[DedupIndex]] is to q24:
  * train/encode once, append ingest batches incrementally, serve
  * top-k probes against the stored codes without ever rescanning
  * raw vectors.
  *
  * Layout (parquet under `dir`):
  *   - `codebooks/` (part, m, j, c) — the trained coarse quantizer
  *     (part='ivf': j-th centroid) and PQ codebooks (part='pq':
  *     sub-space m, centroid j), written once at [[build]];
  *   - `codes/` (vec_id, codes), hive-partitioned on (`run`, `cell`):
  *     the cell directories ARE the inverted lists — a probe opens
  *     nprobe directories and never touches the rest (the scan
  *     prunes on a static cell predicate, asserted in AnnIndexSpec).
  *     Build writes `run=base`, [[append]] adds runs with dynamic
  *     partition overwrite (re-delivered batches replace themselves —
  *     [[DedupIndex]]'s idempotency discipline; encode is
  *     deterministic, so a re-delivery lands in the same cells).
  *
  * Scale shape: codebooks are a few KB of driver state (read once
  * per job, broadcast inside the kernels); `codes/` is PqM bytes +
  * cell id per vector — the RAM-resident form a billion-vector
  * deployment serves from. [[append]] encodes ONLY the new batch
  * (one narrow kernel pass) against the FROZEN codebooks — the
  * standard production trade: cell balance drifts as the
  * distribution moves, and a periodic [[build]] re-trains, exactly
  * like `DedupIndex.build` vs `.append` ([[cellStats]] measures the
  * drift and [[needsRebuild]] is the re-train trigger — the
  * promise is monitored, not aspirational). [[search]] probes
  * nprobe cells per query (equi-join on cell) and ranks by ADC on a
  * `TopKPerKey`-planned rank filter — no crossJoin, no full scan.
  */
object AnnIndex {

  // Declared store schemas: every read goes through
  // `spark.read.schema(...)`, so it lists files but never runs a
  // parquet schema-inference job. Partition columns come last, where
  // partition discovery appends them; StoreSchemaSpec pins each
  // declaration against what the writers below land.
  private[graft] val CodebooksSchema =
    StructType.fromDDL("part STRING, m INT, j INT, c ARRAY<DOUBLE>")
  private[graft] val CodesSchema =
    StructType.fromDDL("vec_id BIGINT, codes ARRAY<INT>, run STRING, cell INT")
  private[graft] val TombstonesSchema = StructType.fromDDL("vec_id BIGINT")
  /** The run-partitioned raw-vector side store a refine joins
    * ([[searchRefined]]'s `vectors`), kept beside the index by
    * [[HybridRetrieval]] and [[graft.streaming.AnnScreenStream]]. */
  private[graft] val RawSchema =
    StructType.fromDDL("vec_id BIGINT, vec ARRAY<DOUBLE>, run STRING")

  private val IvfIters = 4
  // ranking fidelity (round 11, mirroring the q90 query's fix): 8
  // sub-spaces × 64 centroids — the 4×8 geometry this replaced left
  // ADC too coarse to ORDER candidates, so true neighbors fell off
  // any constant-depth shortlist. Codes are still PqM small ints per
  // occurrence; only the one-off train/encode cost scales with PqK.
  private val PqM = 8
  private val PqK = 64
  private val PqIters = 3
  // cell-count policy: nlist ≈ √N (the standard IVF sizing — cells
  // small enough to probe cheaply, numerous enough that nprobe/nlist
  // is a small corpus fraction), floored for tiny corpora and capped
  // so the codebook stays comfortable driver state. The training
  // sample scales with the cell count (≥ SamplePerCell vectors per
  // centroid); search never hard-codes either — it derives both from
  // the persisted codebooks.
  private val IvfKMin = 4
  private val IvfKMax = 4096
  private val SamplePerCell = 16
  private val SampleFloor = 256

  private[graft] def cellsFor(n: Long): Int =
    math.max(IvfKMin, math.min(IvfKMax, math.sqrt(n.toDouble).toInt))

  /** Probe-count policy (shared shape with the q90 query's
    * ivfNprobeFor): nprobe = max(4, 2·ceil(√nlist)), so the probed
    * FRACTION 2/√nlist shrinks as the index grows while small
    * indexes keep the multi-probe floor recall needs. [[search]]
    * applies it when the caller passes `nprobe = 0`. */
  private[graft] def nprobeFor(nlist: Int): Int =
    math.max(4, 2 * math.ceil(math.sqrt(nlist.toDouble)).toInt)

  /** Train codebooks on a seeded pseudo-random sample (the sample
    * vec_ids ranked first by the hash permutation — unbiased unlike
    * an id-prefix slice, deterministic across re-builds), encode the
    * corpus, persist both. Cell count and sample size scale with the
    * corpus ([[cellsFor]]). */
  def build(spark: SparkSession, vectors: DataFrame, dir: String): Unit = {
    train(spark, vectors, dir)
    val (ivf, pq) = codebooks(spark, dir)
    writeCodes(vectors, dir, "base", ivf, pq, dynamic = false)
  }

  /** Train + persist the codebooks WITHOUT encoding any codes — the
    * deferred-bootstrap half of [[build]]. A caller that wants the
    * first batch's codes under its own `run=` id (idempotent
    * re-delivery — [[HybridRetrieval.append]]) trains here and then
    * [[append]]s: build's own `run=base` codes would need a
    * delete-and-re-key whose crash window strands a codebooks store
    * with zero codes (the round-13 advisor's silent-recall-loss
    * hazard). After `train` alone the store is a valid
    * zero-vector index: searches return empty, appends encode. */
  def train(spark: SparkSession, vectors: DataFrame, dir: String): Unit = {
    import spark.implicits._
    val n = vectors.count()
    require(n > 0, "AnnIndex.train on an empty vector table")
    val ivfK = cellsFor(n)
    val sampleN = math.min(n, math.max(SampleFloor.toLong,
      ivfK.toLong * SamplePerCell)).toInt
    // getAs[Number]: callers may supply INT or LONG vec_ids — this is
    // a public pipeline API, unlike the schema-pinned query pack
    val sample = graft.ops.SeededSample
      .top(vectors.select(col("vec_id"), col("vec")), "vec_id", sampleN)
      .collect()
      .sortBy(_.getAs[Number](0).longValue)
      .map(_.getSeq[Double](1).toArray)
    val sub = sample.head.length / PqM
    val ivf0 = graft.ops.Kmeans.train(sample, math.min(ivfK, sample.length), IvfIters)
    // spill-to-2 indexing needs >= 2 cells (IvfCells2's constructor
    // require); a 1-vector corpus trains one centroid, so pad by
    // duplicating it — the vector indexes under both copies, probes
    // rank both, results are unchanged. A valid tiny deployment must
    // build, not crash (the PQ clamp's argument below).
    val ivf = if (ivf0.length < 2) ivf0 ++ ivf0.map(_.clone) else ivf0
    // PQ codebooks train on what they will encode: the sample's
    // RESIDUALS against the trained coarse quantizer (training on
    // raw vectors and encoding residuals measured recall@5 0.2 vs
    // 0.4 in the q90 oracle-gated twin)
    val normSq = ivf.map(c => c.foldLeft(0.0)((a, v) => a + v * v))
    val residSample = sample.map { x =>
      val cell = graft.ops.Kmeans.assignCell(x, ivf, normSq)
      x.zip(ivf(cell)).map { case (a, b) => a - b }
    }
    // clamp like the IVF cell count above: trainL2 requires
    // samples >= k, and a valid small corpus (< PqK vectors) must
    // build a smaller codebook, not crash
    val pqK = math.min(PqK, residSample.length)
    val pq = Array.tabulate(PqM) { m =>
      graft.ops.Kmeans.trainL2(
        residSample.map(_.slice(m * sub, (m + 1) * sub)), pqK, PqIters)
    }
    val cbRows =
      ivf.zipWithIndex.map { case (c, j) => ("ivf", 0, j, c.toSeq) } ++
        pq.zipWithIndex.flatMap { case (cs, m) =>
          cs.zipWithIndex.map { case (c, j) => ("pq", m, j, c.toSeq) }
        }
    cbRows.toSeq.toDF("part", "m", "j", "c")
      .coalesce(1).write.mode("overwrite").parquet(s"$dir/codebooks")
  }

  /** Encode one ingest batch against the FROZEN codebooks and append
    * it under `run=<runId>` (idempotent under re-delivery). */
  def append(spark: SparkSession, newVectors: DataFrame, dir: String,
             runId: String): Unit = {
    // complete any interrupted compaction BEFORE landing the run: a
    // later heal would otherwise restore the pre-compaction snapshot
    // over this append
    graft.ops.StoreCompaction.heal(spark, s"$dir/codes", "run")
    val (ivf, pq) = codebooks(spark, dir)
    writeCodes(newVectors, dir, runId, ivf, pq, dynamic = true)
  }

  /** Tombstone-delete `ids`: takedown / right-to-be-forgotten for
    * indexed vectors. Deletes are a PARTITION of ids under
    * `dir/tombstones/` — O(|ids|) to record, no touch of `codes/`;
    * [[search]] anti-joins them out, and the next [[compact]] folds
    * them away physically (the codes rows are dropped and the
    * tombstone store cleared). Re-deleting an id (re-delivered
    * takedown) is idempotent: duplicate tombstone rows change
    * nothing an anti-join can observe. Deleting an id not in the
    * index is a no-op by the same algebra. Re-INSERTING a deleted id
    * requires a [[compact]] call that RETURNED SUCCESSFULLY after
    * the delete — until then the tombstone outranks any occurrence
    * of the id. In particular a compact that CRASHED between its
    * fold commit and its tombstone clear must be re-run before any
    * re-insert: the leftover (already-applied) tombstones anti-join
    * nothing that exists and the re-run folds them away, but an
    * append of the same id UNDER a leftover tombstone would be
    * silently suppressed (AnnIndexSpec pins the re-run heal). */
  def delete(spark: SparkSession, ids: Seq[Long], dir: String): Unit = {
    import spark.implicits._
    ids.toDF("vec_id").coalesce(1)
      .write.mode("append").parquet(s"$dir/tombstones")
  }

  /** `codes` minus tombstoned ids (no-op when none exist). The
    * tombstone side is tiny relative to the index — Spark broadcasts
    * the anti-join; the codes scan's partition pruning is
    * unaffected (the filter is on vec_id, not cell). */
  private def notDeleted(spark: SparkSession, dir: String,
                         codes: DataFrame): DataFrame = {
    val t = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = t.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(t)) codes
    else codes.join(
      broadcast(spark.read.schema(TombstonesSchema).parquet(t.toString)
        .select(col("vec_id")).distinct()),
      Seq("vec_id"), "left_anti")
  }

  /** Fold every `run=` partition of `codes/` into a single
    * `run=base` (daily appends otherwise accumulate one partition
    * per batch forever — [[DedupIndex.compact]]'s discipline), and
    * fold TOMBSTONES away: the merged snapshot excludes deleted ids,
    * and the tombstone store is cleared after the swap commits (a
    * crash in between leaves ALREADY-APPLIED tombstones lingering:
    * they anti-join rows that no longer exist, and re-running
    * compact folds-and-clears them — but no append may re-insert a
    * deleted id until that re-run returns; see [[delete]]'s
    * lifecycle contract). The merged rows re-partition by `cell`, so the
    * inverted-list directory layout — and with it the probe-time
    * partition pruning — is preserved. Swap: write to a hidden temp
    * dir, delete old runs, rename into place. Run at a QUIESCENT
    * point (no in-flight ingest): a re-delivered batch appending its
    * `run=` after compaction would duplicate its vectors alongside
    * the folded copy. */
  def compact(spark: SparkSession, dir: String): Unit = {
    val path = s"$dir/codes"
    val tomb = new org.apache.hadoop.fs.Path(s"$dir/tombstones")
    val fs = tomb.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val hasTombs = fs.exists(tomb)
    // with tombstones pending the fold must run even over a single
    // run= partition — the rewrite IS the physical delete
    graft.ops.StoreCompaction.fold(spark, path, "run", "base",
      notDeleted(spark, dir, spark.read.schema(CodesSchema).parquet(path)).drop("run"),
      Seq("cell"), force = hasTombs)
    if (hasTombs && !fs.delete(tomb, true))
      throw new IllegalStateException(
        s"compaction: failed to clear tombstones at $tomb")
  }

  /** How many `run=` partitions a search currently lists (spec hook
    * for the compaction contract). */
  private[graft] def runCount(spark: SparkSession, dir: String): Int = {
    graft.ops.StoreCompaction.heal(spark, s"$dir/codes", "run")
    val root = new org.apache.hadoop.fs.Path(s"$dir/codes")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) 0
    else fs.listStatus(root).count(_.getPath.getName.startsWith("run="))
  }

  /** Drift trigger for [[needsRebuild]]: re-train when the fullest
    * cell holds more than DriftFactor× its balanced share of the
    * live code rows. At balance every cell holds ≈ 1/nlist of the
    * occurrences; a probe reads nprobe/nlist of the index. A cell at
    * F× balanced share makes any probe touching it pay F× the
    * balanced candidate cost, AND (the recall half of the trade)
    * means the frozen quantizer is splitting the drifted mass so
    * coarsely that ADC ordering inside the mega-cell degrades. The
    * measured regimes (AnnIndexSpec's drift case, gate corpus):
    * freshly trained on its own near-isotropic distribution ≈ 1.3×
    * balanced; re-trained on a corpus CONTAINING a hot direction
    * cone ≈ 2.2× (cosine k-means legitimately leaves lumpier cells
    * when the mass is lumpy); frozen codebooks fed a drifted ingest
    * ≥ 3.3× and growing with the drift volume. 3.0 sits between the
    * healthy-retrained and frozen-drifted regimes. */
  private[graft] val DriftFactor = 3.0

  /** Cell-occupancy telemetry over the LIVE codes (tombstones
    * excluded): (nRows, nCellsOccupied, nCellsTotal, maxCellShare).
    * One O(cells) map-side-combined aggregate on the id-width codes
    * table — never touches raw vectors, safe to run per ingest
    * batch. The class doc's "periodic [[build]] re-trains" promise
    * gets its trigger here: [[append]] encodes against FROZEN
    * codebooks, so a drifted ingest distribution concentrates into
    * few cells; [[needsRebuild]] says when that drift warrants the
    * re-train (from the raw-vector side store an ingest pipeline
    * keeps — [[graft.streaming.AnnScreenStream]]'s rawDir). */
  final case class CellStats(nRows: Long, nCellsOccupied: Long,
                             nCellsTotal: Int, maxCellShare: Double)

  def cellStats(spark: SparkSession, dir: String): CellStats = {
    graft.ops.StoreCompaction.heal(spark, s"$dir/codes", "run")
    val (ivf, _) = codebooks(spark, dir)
    val per = notDeleted(spark, dir, spark.read.schema(CodesSchema).parquet(s"$dir/codes"))
      .groupBy(col("cell")).agg(count(lit(1)).as("m"))
      .agg(coalesce(sum(col("m")), lit(0L)).as("n"),
        count(lit(1)).as("occ"), coalesce(max(col("m")), lit(0L)).as("mx"))
      .head()
    val n = per.getLong(0)
    CellStats(n, per.getLong(1), ivf.length,
      if (n == 0) 0.0 else per.getLong(2).toDouble / n)
  }

  /** True when cell balance has drifted past [[DriftFactor]]× the
    * balanced share — the documented signal to re-[[build]] from the
    * raw store at a quiescent point (same contract as [[compact]]).
    * Defined for indexes with more than [[DriftFactor]] cells: at
    * ≤ 3 cells the threshold share exceeds what spill-to-2
    * occupancy can produce, so the trigger never fires — which is
    * the right answer there, not a gap: a 2–3-cell index holds at
    * most a few hundred vectors, every probe reads most of it
    * regardless of balance, and a re-[[build]] costs nothing
    * whenever the operator wants one. */
  def needsRebuild(stats: CellStats): Boolean =
    stats.nRows > 0 &&
      stats.maxCellShare > DriftFactor / stats.nCellsTotal

  /** Top-k ADC search for a query set (query_id, qvec): rank cells
    * per query, probe the top `nprobe` inverted lists, rank
    * candidates by ADC. The rank filter plans onto TopKPerKeyExec
    * via the WindowTopKRewrite rule. */
  /** `exclude`: optional PER-QUERY exclusion set (query_id, vec_id)
    * anti-joined out BEFORE the rank filter — the structural form of
    * "top-k among eligible docs" (self-hit suppression, hard-negative
    * mining's term-sharer exclusion, already-labeled training docs).
    * Post-filtering a top-k can return FEWER than k however deep the
    * pool when the exclusion set crowds the metric's head; excluding
    * before the rank cannot. */
  def search(spark: SparkSession, queries: DataFrame, dir: String,
             k: Int, nprobe: Int = 0,
             excludeRun: Option[String] = None,
             exclude: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val (ivf, pq) = codebooks(spark, dir)
    // nprobe = 0 (default) applies the [[nprobeFor]] policy against
    // the PERSISTED cell count — search derives geometry from the
    // codebooks, never from build-time constants
    val np = if (nprobe > 0) nprobe else nprobeFor(ivf.length)
    val centsSeq: Seq[Seq[Double]] = ivf.map(_.toSeq).toSeq
    val pqSeq: Seq[Seq[Seq[Double]]] = pq.map(_.map(_.toSeq).toSeq).toSeq
    val wc = Window.partitionBy(col("query_id")).orderBy(col("sc").desc, col("cell"))
    val probePlan = queries
      .select(col("query_id"), col("qvec"),
        posexplode(typedLit(centsSeq)).as(Seq("cell", "cvec")))
      .select(col("query_id"), col("qvec"), col("cell"),
        graft.ops.VectorOps.cosine(col("qvec"), col("cvec")).as("sc"))
      .withColumn("cr", row_number().over(wc))
      .filter(col("cr") <= np)
      // the query's residual is PER PROBED CELL (IVFADC)
      .select(col("query_id"), col("cell"),
        zip_with(col("qvec"), centAt(ivf, col("cell")), (a, b) => a - b)
          .as("qrv"))
    // the cell ranking runs ONCE: its probe rows (query_id, cell, qrv;
    // ≤ queries·nprobe) are collected, name the probed cells, and come
    // back as the broadcast side of the codes join below. A search
    // collects only rows its plan broadcasts anyway, so driver memory
    // stays on the order of what the broadcast needs.
    val probeRows = probePlan.collect()
    val probes = broadcast(spark.createDataFrame(
      java.util.Arrays.asList(probeRows: _*), probePlan.schema))
    // the probed cells (bounded: ≤ IvfK distinct values): an isin on
    // the hive partition column prunes every other inverted-list
    // directory at the scan. A LARGE query batch probes most cells —
    // the isin then prunes nothing and degenerates to a full-scan row
    // filter — so past half the lists the predicate is dropped and
    // the cell equi-join below does the filtering alone (the join IS
    // the probe; rows of unprobed cells hash to no probe row and die
    // in the join).
    val cells = probeRows.map(_.getInt(1)).distinct.sorted.toSeq
    graft.ops.StoreCompaction.heal(spark, s"$dir/codes", "run")
    // excludeRun: a re-delivered screening batch probes the index
    // MINUS its own prior append (run= is a partition column, so the
    // exclusion prunes those directories at the scan) —
    // DedupIndex.screen's excludeRun discipline
    val codesBase = spark.read.schema(CodesSchema).parquet(s"$dir/codes")
    val codesRuns = excludeRun.fold(codesBase)(r =>
      codesBase.filter(col("run") =!= r))
    val codesAll = notDeleted(spark, dir, codesRuns)
    val codes =
      if (cells.length * 2 <= ivf.length) codesAll.filter(col("cell").isin(cells: _*))
      else codesAll
    val w = Window.partitionBy(col("query_id")).orderBy(col("adc"), col("vec_id"))
    // spill-to-2: a vector probed through BOTH its cells appears
    // twice — keep its best ADC (skew-safe partial agg) so the rank
    // sees one row per (query, vector) and top-k can't duplicate
    val adcRanked = codes
      .join(probes, Seq("cell"))
      .select(col("query_id"), col("vec_id"),
        adc(col("qrv"), col("codes"), pqSeq).as("adc0"))
      .groupBy(col("query_id"), col("vec_id")).agg(min(col("adc0")).as("adc"))
    exclude.fold(adcRanked)(ex =>
        adcRanked.join(ex.select(col("query_id"), col("vec_id")),
          Seq("query_id", "vec_id"), "left_anti"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(col("query_id"), col("vec_id"), col("adc"), col("rn"))
  }

  /** ADC search, then EXACT rerank of the top `shortlist` candidates
    * per query against caller-provided raw vectors (vec_id, vec) —
    * the refine step (FAISS IndexRefineFlat; DiskANN's SSD fetch;
    * the q90 query demonstrates the same shape one-shot). Compressed
    * codes do the ranking work in RAM; the true vectors are fetched
    * BY ID only for the shortlist·|queries| rows — a bounded
    * equi-join, never a rescan — and quantization error stops
    * capping recall. [[search]]'s codes-only guarantee is preserved
    * by keeping this a separate entry point that takes the vector
    * table explicitly.
    *
    * `shortlist = 0` (default) auto-sizes to `max(16·k, 128)` —
    * a shortlist that does not scale with the ask was measured (in
    * the q90 twin) collapsing recall 0.73 → 0.27 when cell
    * population quadrupled, because ADC noise pushes true neighbors
    * off a fixed-depth list. */
  /** `keepVec = true` appends the candidate's raw vector as
    * `cand_vec` — callers needing it (screenSemantic's cosine
    * verdict) then skip a SECOND join of the O(corpus) vector table
    * the refine already paid for. */
  def searchRefined(spark: SparkSession, queries: DataFrame, dir: String,
                    vectors: DataFrame, k: Int, nprobe: Int = 0,
                    shortlist: Int = 0,
                    excludeRun: Option[String] = None,
                    keepVec: Boolean = false,
                    exclude: Option[DataFrame] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val depth = if (shortlist > 0) shortlist else math.max(16 * k, 128)
    val sl = search(spark, queries, dir, depth, nprobe, excludeRun, exclude)
      .select(col("query_id"), col("vec_id"))
    val d2 = aggregate(
      zip_with(col("vec"), col("qvec"), (a, b) => (a - b) * (a - b)),
      lit(0.0), (acc, v) => acc + v)
    val w = Window.partitionBy(col("query_id")).orderBy(col("d2"), col("vec_id"))
    val vecCols = if (keepVec) Seq(col("vec").as("cand_vec")) else Seq.empty
    sl.join(vectors.select(col("vec_id"), col("vec")), "vec_id")
      .join(broadcast(queries.select(col("query_id"), col("qvec"))), "query_id")
      .select(Seq(col("query_id"), col("vec_id"), d2.as("d2")) ++ vecCols: _*)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= k)
      .select(Seq(col("query_id"), col("vec_id"), col("d2"), col("rn")) ++
        vecCols.map(_ => col("cand_vec")): _*)
  }

  /** Semantic near-dup screening of an ingest batch against the
    * persisted index — SemDeDup's decision applied INCREMENTALLY
    * (the q104 query is the from-scratch corpus form; this is what
    * a continuous-ingest pipeline actually runs, the
    * [[DedupIndex.screen]] verdict contract for the
    * no-shared-tokens case). Each batch vector (vec_id, vec)
    * fetches its refined L2 top-[[ScreenCands]] through the ADC
    * probe + exact refine ([[searchRefined]]'s bounded id-join
    * shape, tombstones already excluded); the VERDICT then re-ranks
    * those candidates by exact COSINE and keeps the best, so an
    * un-normalized magnitude mismatch within the shortlist
    * (L2-near but cosine-far, or the reverse) cannot flip the
    * decision. Like any ANN screen (DedupIndex's LSH bands
    * included) recall is bounded by the candidate stage — a
    * cosine-duplicate outside the L2 shortlist is missed; callers
    * needing the metrics to agree exactly normalize their vectors.
    * Returns every batch row as (vec_id, dup_of, cos_sim, is_dup)
    * — dup_of/cos_sim NULL when nothing was probed — so callers
    * drop `is_dup` and [[append]] the rest. Self-matches are
    * excluded (screening a vector already indexed under the same
    * id reports its nearest OTHER neighbor), so a re-delivered
    * screen after its append is still a meaningful verdict. A
    * zero-norm vector on either side has no cosine (NaN) and is
    * never flagged — upstream embedder failures surface instead of
    * silently dropping. Nothing O(corpus) per batch: nprobe
    * inverted lists per query, refine + verify by id. */
  def screenSemantic(spark: SparkSession, batch: DataFrame, dir: String,
                     vectors: DataFrame, tau: Double,
                     excludeRun: Option[String] = None): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // zero-norm batch vectors never reach the probe: search's cell
    // ranking divides by the query norm (an ANSI divide-by-zero, not
    // merely NaN), and a normless vector has no cosine to screen BY —
    // it falls through the left join below to the never-flagged
    // (NULL, NULL, false) verdict
    val queries = batch
      .filter(aggregate(col("vec"), lit(0.0), (a, v) => a + v * v) > 0.0)
      .select(col("vec_id").as("query_id"), col("vec").as("qvec"))
    // best-cosine-first among the shortlist; NaN cosines (a
    // zero-norm INDEXED candidate) would sort ABOVE all doubles in
    // Spark — and NaN >= tau is TRUE in a SQL compare — so they are
    // filtered before the rank and can neither win the verdict row
    // nor flag a duplicate
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cs").desc, col("cand_id"))
    // keepVec rides the candidate's raw vector out of the refine, so
    // the cosine verdict needs NO second join of the vector table
    val nn = searchRefined(spark, queries, dir, vectors, k = ScreenCands,
        excludeRun = excludeRun, keepVec = true)
      .select(col("query_id"), col("vec_id").as("cand_id"), col("cand_vec"))
      .filter(col("cand_id") =!= col("query_id"))
      .join(broadcast(queries), Seq("query_id"))
      .select(col("query_id"), col("cand_id"),
        graft.ops.expressions.CosineSim(col("qvec"), col("cand_vec")).as("cs"))
      .filter(!isnan(col("cs")))
      .withColumn("rr", row_number().over(w))
      .filter(col("rr") === 1)
    batch
      .join(nn.select(col("query_id").as("vec_id"), col("cand_id"), col("cs")),
        Seq("vec_id"), "left")
      .select(col("vec_id"), col("cand_id").as("dup_of"),
        col("cs").as("cos_sim"))
      .withColumn("is_dup", coalesce(col("cos_sim") >= tau, lit(false)))
  }

  /** [[screenSemantic]]'s cosine-verify shortlist depth: the L2
    * candidate stage hands this many refined neighbors to the exact
    * cosine verdict. */
  private val ScreenCands = 8

  private def codebooks(spark: SparkSession,
                        dir: String): (Array[Array[Double]], Array[Array[Array[Double]]]) = {
    val rows = spark.read.schema(CodebooksSchema).parquet(s"$dir/codebooks")
      .select(col("part"), col("m"), col("j"), col("c")).collect()
    val ivf = rows.filter(_.getString(0) == "ivf").sortBy(_.getInt(2))
      .map(_.getSeq[Double](3).toArray)
    val pqRows = rows.filter(_.getString(0) == "pq")
    // geometry derives from what was persisted — search never assumes
    // the build-time constants
    val pqM = pqRows.map(_.getInt(1)).max + 1
    val pq = Array.tabulate(pqM) { m =>
      pqRows.filter(_.getInt(1) == m).sortBy(_.getInt(2))
        .map(_.getSeq[Double](3).toArray)
    }
    (ivf, pq)
  }

  private def centAt(ivf: Array[Array[Double]],
                     cell: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    element_at(typedLit(ivf.map(_.toSeq).toSeq), (cell + 1).cast("int"))

  private def writeCodes(vectors: DataFrame, dir: String, runId: String,
                         ivf: Array[Array[Double]],
                         pq: Array[Array[Array[Double]]],
                         dynamic: Boolean): Unit =
    vectors
      // Redundant assignment (spill-to-2, round 11 — the q90 query's
      // recall fix ported to the persisted path): each vector is
      // indexed under BOTH of its two nearest cells, so a neighbor
      // whose best cell the probe misses still has a second chance.
      // Doubles the index (2 occurrence rows of PqM small ints each —
      // still far smaller than raw floats); encode stays one fused
      // kernel pass + a narrow explode, deterministic, so re-delivered
      // batches land in the same (run, cell) partitions and dynamic
      // overwrite keeps appends idempotent.
      .select(col("vec_id"), col("vec"), explode(
        graft.ops.expressions.IvfCells2(col("vec"), ivf)).as("cell"))
      // canonical IVFADC: codes quantize the RESIDUAL vec − centroid
      // of EACH assigned cell (lower variance → finer quantization at
      // the same code budget)
      .select(col("vec_id"), col("cell"),
        graft.ops.expressions.PqEncodeWith(
          zip_with(col("vec"), centAt(ivf, col("cell")), (a, b) => a - b),
          pq).as("codes"))
      .withColumn("run", lit(runId))
      .write.partitionBy("run", "cell").mode("overwrite")
      .option("partitionOverwriteMode", if (dynamic) "dynamic" else "static")
      .parquet(s"$dir/codes")

  /** ADC against a codebook literal — the shared codegen kernel
    * ([[graft.ops.expressions.PqAdcWith]]), bit-exact with the
    * nested-aggregate fold it replaced. */
  private def adc(qx: org.apache.spark.sql.Column,
                  codes: org.apache.spark.sql.Column,
                  cb: Seq[Seq[Seq[Double]]]): org.apache.spark.sql.Column =
    graft.ops.expressions.PqAdcWith(qx, codes,
      cb.map(_.map(_.toArray).toArray).toArray)
}
