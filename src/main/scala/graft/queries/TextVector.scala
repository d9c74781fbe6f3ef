package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables
import graft.ops.{TextOps, VectorOps}
import graft.ops.Determinism._

/** M1/M2 — text + vector operator queries over `documents` /
  * `embeddings` (SURVEY.md §2.6–2.7, §7.2; reference surface:
  * token-overflow filter `script512.py:11-24`, chunk+pool
  * `run_extra.py:46-78`, merge `process.py:119-129`; extensions:
  * dedup / near-dup / similarity / text analysis per the builder
  * brief).
  *
  * Oracle strategy: every UDF-free kernel in TextOps/VectorOps has an
  * exact DuckDB twin built from the SAME constants
  * (TextOps.TokenPattern, HashKernel modulus) via the Sql builders
  * below — one definition, two dialects, bit-identical results
  * (fixed left-to-right folds, double-only arithmetic; see
  * graft.ops.Determinism).
  */
object TextVector extends graft.QueryPack {

  /** DuckDB-SQL twins of the TextOps/VectorOps kernels. */
  object Sql {
    /** tokens(text) — twin of TextOps.tokens. */
    def toks(c: String): String =
      s"regexp_extract_all($c, '${TextOps.TokenPattern}', 1)"

    /** preTokens(text) — twin of TextOps.preTokens (GPT-2-style BPE
      * pre-tokenization; group 0 = the full alternation match). The
      * contraction alternatives carry apostrophes, so the pattern is
      * SQL-escaped by doubling them. */
    def preToks(c: String): String =
      s"regexp_extract_all($c, '${TextOps.PreTokenPattern.replace("'", "''")}', 0)"

    /** Polynomial rolling hash — twin of HashKernel.polyHash
      * (acc*31+codepoint mod 1e9+7, left fold over code points).
      * `(?s)` so RE2's `.` matches newlines too — HashKernel folds
      * EVERY code point. */
    def polyHash(c: String): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(regexp_extract_all($c, '(?s).'), ch -> CAST(unicode(ch) AS BIGINT))), " +
        s"(acc, cp) -> (acc*31 + cp) % 1000000007)"

    /** Generalized fold of [[polyHash]] — twin of
      * HashKernel.polyHashPacked's per-family accumulator. */
    private def polyHashW(c: String, base: Long, mod: Long): String =
      s"list_reduce(list_prepend(CAST(0 AS BIGINT), " +
        s"list_transform(regexp_extract_all($c, '(?s).'), ch -> CAST(unicode(ch) AS BIGINT))), " +
        s"(acc, cp) -> (acc*$base + cp) % $mod)"

    /** Packed double polyhash — twin of TextPolyHashPacked
      * (h1·mod2 + h2; all intermediates < 2⁶³, BIGINT-safe). */
    def polyHashPacked(c: String, base1: Long, mod1: Long,
                       base2: Long, mod2: Long): String =
      s"(${polyHashW(c, base1, mod1)}) * $mod2 + (${polyHashW(c, base2, mod2)})"

    /** fp_hi of the 128-bit exact-dup fingerprint — twin of
      * TextOps.fingerprintHi. */
    def fpHi(c: String): String =
      polyHashPacked(c, 31L, 1000000007L, 131L, TextOps.FpHiMod2)

    /** fp_lo — twin of TextOps.fingerprintLo. */
    def fpLo(c: String): String =
      polyHashPacked(c, 257L, TextOps.FpLoMod1, 65599L, TextOps.FpLoMod2)

    /** Seeded-hash embedding — twin of VectorOps.embed(c, dim). */
    def embed(c: String, dim: Int): String =
      s"list_transform(range(0, $dim), i -> " +
        s"CAST(((${polyHash(c)}) + (i+1)*2654435761) % 1000000007 AS DOUBLE)" +
        s"/1000000007.0*2.0-1.0)"

    /** Fixed-window token chunks — twin of TextOps.chunks(c, n). */
    def chunks(c: String, n: Int): String =
      s"list_transform(range(0, CAST(ceil(len(${toks(c)})/$n.0) AS BIGINT)), " +
        s"i -> array_to_string((${toks(c)})[i*$n+1 : i*$n+$n], ' '))"

    /** Word k-shingles, de-duplicated — twin of
      * array_distinct(TextOps.shingles(c, k)). */
    def shingleSet(c: String, k: Int): String =
      s"list_distinct(list_transform(range(1, len(${toks(c)})-${k - 1}+1), " +
        s"i -> array_to_string((${toks(c)})[i : i+${k - 1}], ' ')))"

    /** Sequential-fold dot product of two DOUBLE[] exprs — twin of
      * VectorOps.dot. */
    def dot(a: String, b: String): String =
      s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), " +
        s"list_transform(list_zip($a, $b), p -> p[1]*p[2])), (x, y) -> x + y)"

    /** Canonical scalar serialization of a DOUBLE[] — twin of
      * [[TextVector.vecCsv]]. */
    def vecCsv(l: String, scale: String): String =
      s"array_to_string(list_transform($l, " +
        s"x -> CAST(CAST(floor(x*$scale+0.5) AS BIGINT) AS VARCHAR)), ',')"

    /** Quality score over a tokens-list alias — twin of
      * TextStatsKernel's quality formula, ONE definition for the
      * q26/q39/q41 oracles (a one-sided tweak would silently break
      * the cross-query contract). */
    def quality(toks: String): String = {
      val stop = s"CAST(len(list_filter($toks, t -> list_contains(" +
        TextOps.LangDicts.head._2.map(w => s"'$w'").mkString("[", ", ", "]") +
        ", t))) AS DOUBLE)"
      val n = s"CAST(len($toks) AS DOUBLE)"
      val dist = s"CAST(len(list_distinct($toks)) AS DOUBLE)"
      s"0.4*least($n/100.0, 1.0) + 0.3*($dist/$n) + 0.3*($stop/$n)"
    }
  }

  /** Canonical scalar serialization of a double-vector column for the
    * driver's gate (array columns are unsortable/unhashable in its
    * pandas compare — ADVICE r3): quantize each element to int64
    * units with the Determinism floor(x·s+0.5) formula (pure double
    * arithmetic, identical both engines), render base-10, join as
    * CSV. Exact integer string equality ⇒ the hash compare works and
    * still proves element-wise equality to 1/scale. */
  private def vecCsv(v: Column, scale: Double): Column =
    concat_ws(",", transform(v,
      x => floor(x * lit(scale) + lit(0.5)).cast("bigint").cast("string")))

  // Demonstration-query parameters. The reference's own limits
  // (512-token chunks/threshold, `script512.py:23`, `run_extra.py:50`)
  // are parameters of the same operators; the testdata documents cap
  // at ~99 tokens (FIXTURES.md §B), so the wired queries use smaller
  // values to exercise non-trivial data. Pipeline code (graft.pipeline)
  // keeps the reference's 512.
  private val OverflowTokens = 64
  private val ChunkTokens    = 16
  private val EmbedDim       = 8
  private val MergeDim       = 64 // == embeddings.embedding dim

  // MinHash-LSH parameters: k-shingles, NumPerms permutations split
  // into Bands bands of RowsPerBand rows. b=8, r=2 ⇒ detection prob
  // 1-(1-j²)^8: 0.90 at j=0.5, 0.995 at j=0.7 — tuned for the 0.5
  // verification threshold below.
  private val ShingleK    = 3
  private val NumPerms    = 16
  private val Bands       = 8
  private val RowsPerBand = NumPerms / Bands
  private val JaccardMin  = 0.5
  private val HashMod     = 1000000007L
  private val PermMult    = 2654435761L

  // SRP-LSH (q30): 24 signature bits in 4 bands of 6.
  private val AnnBits  = 24
  private val AnnBands = 4
  // q112: ANN candidate-stage evaluation — the retrieval twin of
  // q106's dedup QA (sampled exact truth vs the LSH candidate set,
  // published as a per-query recall report).
  private val AnnEvalQueryN = 8
  private val AnnEvalTopK   = 5

  /** Shared SRP-LSH signature + candidate CTE chain (sig → q → qb →
    * cb → cand) for the q30/q112 twins — ONE definition of the
    * signature and band-join SQL (`qn` = query-vector count; a
    * one-sided tweak would silently break the two queries'
    * candidate-stage agreement). */
  private def srpCandCtes(qn: Int): String = {
    val r = AnnBits / AnnBands
    // Twin of VectorOps.srpBits + packBands over a DOUBLE[] `v`.
    val bandsSql =
      s"""list_transform(range(0, $AnnBands), b ->
         |  list_reduce(list_prepend(CAST(0 AS BIGINT),
         |    list_transform(range(0, $r), p -> bits[b*$r+p+1] * (CAST(1 AS BIGINT) << p))),
         |    (acc, v) -> acc + v))""".stripMargin
    val bitsSql =
      s"""list_transform(range(0, $AnnBits), i ->
         |  CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
         |    list_transform(range(0, $MergeDim), dd ->
         |      v[dd+1] * (CAST((i*$MergeDim+dd+1)*$PermMult % $HashMod AS DOUBLE)
         |                 /1000000007.0*2.0-1.0))),
         |    (acc, p) -> acc + p) > 0 THEN CAST(1 AS BIGINT) ELSE 0 END)""".stripMargin
    s"""sig AS (
       |  SELECT vec_id, v AS embedding, $bandsSql AS bands
       |  FROM (SELECT vec_id, v, $bitsSql AS bits
       |        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings))),
       |q AS (SELECT vec_id AS query_id, embedding AS q_emb, bands AS q_bands
       |      FROM sig WHERE vec_id < $qn),
       |qb AS (SELECT query_id, t.b AS band_idx, q_bands[t.b+1] AS band_val
       |       FROM q, generate_series(0, ${AnnBands - 1}) t(b)),
       |cb AS (SELECT vec_id, t.b AS band_idx, bands[t.b+1] AS band_val
       |       FROM sig, generate_series(0, ${AnnBands - 1}) t(b)),
       |cand AS (SELECT DISTINCT qb.query_id, cb.vec_id
       |         FROM cb JOIN qb ON cb.band_idx = qb.band_idx
       |                        AND cb.band_val = qb.band_val)""".stripMargin
  }

  /** Spark twin of [[srpCandCtes]] — ONE definition of the SRP
    * signature + band-join candidate chain on the ENGINE side too
    * (q30 serves top-k from it; q112 evaluates it — a tweak to the
    * candidate rule that reached only one of the two would silently
    * invalidate q112's premise that it measures q30's stage).
    * Returns (sig, qs, cand); `persist` caches sig and cand for
    * builders that reference them more than once (lifecycle: the
    * Verify/Bench clearCache contract documented on SparkEntry). */
  private def srpCandFrames(s: SparkSession, d: String, qn: Int,
                            persist: Boolean)
      : (DataFrame, DataFrame, DataFrame) = {
    import s.implicits._
    val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
    val sigRaw = Tables.embeddings(s, d)
      .select($"vec_id", $"embedding",
        graft.ops.expressions.SrpBands($"embedding", AnnBits, AnnBands).as("bands"))
    val sig = if (persist) sigRaw.persist(lvl) else sigRaw
    val qs = sig.filter($"vec_id" < qn)
      .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
        $"bands".as("q_bands"))
    val qBands = qs.select($"query_id",
      posexplode($"q_bands").as(Seq("band_idx", "band_val")))
    val cBands = sig.select($"vec_id",
      posexplode($"bands").as(Seq("band_idx", "band_val")))
    val candRaw = cBands.join(broadcast(qBands), Seq("band_idx", "band_val"))
      .select($"query_id", $"vec_id").distinct()
    val cand = if (persist) candRaw.persist(lvl) else candRaw
    (sig, qs, cand)
  }

  // IVF (q33, and q90's coarse stage): codebook TRAINED by
  // deterministic Lloyd's k-means (graft.ops.Kmeans) on a SEEDED
  // PSEUDO-RANDOM sample (the IvfSampleN vec_ids ranked first by the
  // hash permutation (vec_id·PermMult) mod HashMod — unbiased unlike
  // the id-prefix slice it replaced, yet fully oracle-replayable) —
  // bounded driver state regardless of corpus size; the oracle
  // replays training via IvfIters unrolled CTE rounds. q33 keeps the
  // fixed 16-cell demo codebook; q90 — the serving-shaped query —
  // sizes nlist ≈ √n like the persisted AnnIndex (ivfCellsFor), so
  // the probed fraction nprobe/nlist SHRINKS as the corpus grows
  // instead of the inverted lists growing linearly.
  private val IvfK       = 16
  private val IvfSampleN = 400
  private val IvfIters   = 4
  // q90 cell-count policy — nlist = clamp(√n) (AnnIndex.cellsFor's
  // sizing, mirrored here so the one-shot query demonstrates the
  // production geometry), sample scaled at ≥16 vectors/cell.
  private val IvfKMin         = 16
  private val IvfKMax         = 4096
  private val IvfSamplePerCell = 16
  private[graft] def ivfCellsFor(n: Long): Int =
    math.max(IvfKMin, math.min(IvfKMax, math.sqrt(n.toDouble).toInt))
  // q90 probe policy: nprobe = max(4, 2·ceil(√nlist)) — with
  // nlist=√n that is ~2·n^(1/4), so the PROBED FRACTION
  // nprobe/nlist = 2/√nlist shrinks with corpus size (FAISS practice: nprobe grows slowly
  // with nlist for a fixed recall target) while small corpora keep
  // the floor of 4 that multi-probe recall needs. nprobe=1 dies at
  // cell boundaries; spill-to-2 indexing (below) gives each neighbor
  // two chances to land in the probed set.
  // AnnRecallSpec sweeps explicit nprobe values (recall@5 monotone
  // within one-hit ADC-eviction tolerance).
  private val IvfNprobe  = 4
  private[graft] def ivfNprobeFor(nlist: Int): Int =
    math.max(IvfNprobe, 2 * math.ceil(math.sqrt(nlist.toDouble)).toInt)

  // q104 SemDeDup within-cluster duplicate threshold (a demo value —
  // see the q104 comment; the operator is threshold-parametric).
  private val SemTau = 0.42

  // q108: per-cluster outlier shortlist depth.
  private val OutlierK = 3

  // q109: late-interaction retrieval depth.
  private val LateTopK = 5

  // q106: sampled-ground-truth size for the dedup-quality report.
  // The evaluation cost is bounded by EvalSampleN² REGARDLESS of
  // corpus size — that bound is the point of sampled evaluation.
  private val EvalSampleN = 200

  /** The q104 chain over any (vec_id, embedding) frame (spec hook:
    * planted duplicate vectors). See the q104 comment for semantics
    * and scale shape. Cluster count scales with √n (ivfCellsFor —
    * q90/AnnIndex's production sizing): with c = n/nlist ≈ √n
    * members per cluster, the pairwise stage does n·√n/2 cosines
    * TOTAL and per-cluster work stays constant as the corpus grows;
    * a FIXED cluster count would make per-cluster pairwise O(n²) —
    * the degenerate-geometry class q90 also had to leave. One count() per build: index-lifecycle driver state, like
    * ivfPq's. */
  /** The dynamic-geometry trained coarse quantizer shared by
    * q104/q108 (nlist = ivfCellsFor(n), sample scaled at
    * IvfSamplePerCell per cell, k clamped to the sample — the
    * oracle twin is IvfOracleCtesDyn's kk/samp/c-chain). One
    * count() per build: index-lifecycle driver state, ivfPq's
    * argument. */
  private[graft] def trainedCentsDyn(emb: DataFrame): Array[Array[Double]] = {
    val n = emb.count()
    val ivfK = ivfCellsFor(n)
    val sampleN =
      math.min(n, math.max(IvfSampleN.toLong, IvfSamplePerCell.toLong * ivfK)).toInt
    graft.ops.Kmeans.train(ivfSampleSized(emb, sampleN),
      math.min(ivfK, sampleN), IvfIters)
  }

  /** Shared assign + own-centroid affinity stage (q108 AND q115 —
    * ONE definition of the IvfCell assignment, centroid lookup, and
    * the NaN→−2 sentinel; a one-sided tweak would silently diverge
    * the two reports' notion of affinity): appends (cell, cos) to
    * `emb`'s non-embedding columns. The sentinel is load-bearing: a
    * zero-norm vector (encoder failure) has NO affinity (NaN), and
    * NaN sorts ABOVE every real cosine in both engines, which would
    * hide the MOST corrupt vector class from q108's bottom-K
    * shortlist and inflate q115's cohesion. −2 (cosine lives in
    * [−1, 1]) ranks encoder failures FIRST in the review list. */
  private def ownCentroidAffinity(emb: DataFrame,
                                  cents: Array[Array[Double]]): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val centsSeq: Seq[Seq[Double]] = cents.map(_.toSeq).toSeq
    val keep = emb.columns.filterNot(_ == "embedding").map(col).toSeq
    emb
      .select(keep :+
        transform($"embedding", v => v.cast("double")).as("x") :+
        graft.ops.expressions.IvfCell($"embedding", cents).as("cell"): _*)
      .select(keep :+ $"cell" :+
        graft.ops.expressions.CosineSim($"x",
          element_at(typedLit(centsSeq), ($"cell" + 1).cast("int"))).as("cos0"): _*)
      .select(keep :+ $"cell" :+
        when(isnan($"cos0"), lit(-2.0)).otherwise($"cos0").as("cos"): _*)
  }

  /** The q108 chain over any (vec_id, embedding) frame (spec hook:
    * planted off-distribution vector). See the q108 entry doc. */
  private[graft] def embedOutliers(emb: DataFrame, k: Int,
                                   cents0: Option[Array[Array[Double]]] = None): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents = cents0.getOrElse(trainedCentsDyn(emb))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"cell").orderBy($"cos", $"vec_id")
    ownCentroidAffinity(emb.select($"vec_id", $"embedding"), cents)
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= k)
      .select($"cell".cast("bigint").as("cell"),
        $"rn".cast("bigint").as("rn"), $"vec_id",
        floor($"cos" * lit(1e6) + lit(0.5)).cast("bigint").as("cos_micro"))
      .orderBy($"cell", $"rn")
  }

  private[graft] def semDedup(emb: DataFrame, tau: Double,
                              cents0: Option[Array[Array[Double]]] = None): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents = cents0.getOrElse(trainedCentsDyn(emb))
    // persisted: both sides of the pair join + the rollup read it
    val assigned = emb.select($"vec_id", $"embedding",
      graft.ops.expressions.IvfCell($"embedding", cents).as("cell"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // the pair verify is the hot loop (≈ n·√n/2 cosines) — the fused
    // codegen kernel, not the interpreted HOF chain (q34's argument;
    // bit-exact twin, PropertySpec-pinned). Measured 6.8 → 0.9 s at
    // sf0.1. The isnan guard is load-bearing: a zero-norm embedding
    // (encoder failure) has NaN cosine to EVERY cellmate, and both
    // engines treat NaN as greater than any double — unguarded, one
    // corrupt low-id vector would flag its whole cell as duplicates
    // (the screenSemantic trap, AnnIndex's class doc; q108 surfaces
    // such vectors for review instead).
    val dropped = assigned.as("a")
      .join(assigned.as("b"),
        $"a.cell" === $"b.cell" && $"a.vec_id" < $"b.vec_id")
      .withColumn("cs", graft.ops.expressions.CosineSim(
        $"a.embedding", $"b.embedding"))
      .filter(!isnan($"cs") && $"cs" >= tau)
      .select($"b.vec_id".as("vec_id")).distinct()
    assigned
      .join(dropped.withColumn("is_dup", lit(1L)), Seq("vec_id"), "left")
      .groupBy($"cell")
      .agg(count(lit(1)).as("n_vecs"),
        sum(coalesce($"is_dup", lit(0L))).as("n_dropped"))
      .select($"cell".cast("bigint").as("cell"), $"n_vecs", $"n_dropped",
        ($"n_vecs" - $"n_dropped").as("n_kept"))
      .orderBy($"cell")
  }

  /** The q115 chain over any (vec_id, label, embedding) frame (spec
    * hook: planted pure/mixed/tied clusters against an explicit
    * codebook). See the q115 entry comment for semantics and scale
    * shape. */
  private[graft] def corpusMap(emb: DataFrame,
                               cents0: Option[Array[Array[Double]]] = None): DataFrame = {
    val s = emb.sparkSession
    import s.implicits._
    val cents = cents0.getOrElse(
      trainedCentsDyn(emb.select($"vec_id", $"embedding")))
    // ONE kernel pass (the SHARED ownCentroidAffinity stage — q108's
    // assignment and sentinel, one definition), persisted for its
    // two consumers (label counts + cohesion; clearCache lifecycle).
    // vec_id is deliberately NOT carried: no consumer reads it, and
    // the persisted frame is id-free (label, cell, cosm) width.
    val assigned = ownCentroidAffinity(
        emb.select($"label".cast("long").as("label"), $"embedding"), cents)
      .select($"label", $"cell",
        floor($"cos" * lit(1e6) + lit(0.5)).as("cosm"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val byLab = assigned.groupBy($"cell", $"label").agg(count(lit(1)).as("cnt"))
    // dominant label via the skew-immune min(struct) argmax (largest
    // count, ties to the smallest label) — never a window over rows
    val top = byLab.groupBy($"cell").agg(
      min(struct((-$"cnt").as("neg"), $"label".as("lab"))).as("m"),
      sum($"cnt").as("n"))
      .select($"cell", $"n", $"m.lab".as("top_label"), (-$"m.neg").as("n_top"))
    val coh = assigned.groupBy($"cell").agg(sum($"cosm").as("cos_sum"))
    // corpus total off the tiny per-cell frame, not a third scan
    val total = top.agg(sum($"n").as("total"))
    top.join(coh, Seq("cell"))
      .crossJoin(broadcast(total))
      .select($"cell".cast("bigint").as("cell"), $"n",
        floor($"n".cast("double") / $"total".cast("double") * lit(1e6)
          + lit(0.5)).as("share_micro"),
        $"top_label", $"n_top",
        floor($"n_top".cast("double") / $"n".cast("double") * lit(1e6)
          + lit(0.5)).as("purity_micro"),
        floor($"cos_sum".cast("double") / $"n".cast("double") + lit(0.5))
          .as("cohesion_micro"))
      .orderBy($"cell")
  }

  // q78/q90: product quantization — MergeDim (64) split into 8
  // subspaces × 8 dims. q78/q91 keep 16 centroids/subspace (the
  // demo-compression geometry); q90's RANKING codebook uses
  // PqKRank=64 centroids/subspace (6 bits × 8 = 48-bit codes):
  // round 10 measured the 16-centroid ADC too coarse to ORDER
  // candidates (true neighbors evicted from a fixed shortlist as
  // soon as the candidate pool outgrew it), and the fix is rank
  // fidelity, not a deeper shortlist. ADC arithmetic cost is
  // PqM·PqSub = MergeDim per candidate regardless of PqK (table
  // lookups); only the one-off codebook training and encode scale
  // with PqK.
  private val PqM     = 8
  private val PqK     = 16
  private val PqKRank = 64
  private val PqSub   = MergeDim / PqM

  // q90's refine stage: exact rerank of the top-`rerankDepthFor(k)`
  // ADC candidates per query (FAISS IndexRefineFlat / ScaNN reorder —
  // the standard serving answer when quantization noise, not cell
  // routing, caps recall). Cost shape: an id-equi-join of
  // depth·|queries| shortlist rows back to the raw vectors —
  // bounded, never a rescan. Sizing: a CONSTANT multiple of the ask
  // (20·k), NEVER a corpus fraction — the round-10 depth that
  // tracked the probed-candidate count reached n/2 at the registered
  // geometry, i.e. the "shortlist" pruned nothing and the rerank
  // join grew linearly with the corpus. With the finer PqKRank
  // codebook doing the ordering, 20·k holds the 0.85 recall floor at
  // both test scales while the rerank join stays O(k) per query.
  private val RerankMult = 20
  private[graft] def rerankDepthFor(k: Int): Int = RerankMult * k

  /** Deterministic PQ codebook shared by q78/q90 and their oracles:
    * integer formula → the exact double both engines compute. */
  private lazy val PqCodebook: Seq[Seq[Seq[Double]]] =
    (0 until PqM).map(m => (0 until PqK).map(j => (0 until PqSub).map { i =>
      val v = (((m * PqK + j) * PqSub + i + 1).toLong * PermMult) % HashMod
      v.toDouble / 1000000007.0 * 2.0 - 1.0
    }))

  /** PQ training sample depth per subspace (q91): the shared seeded
    * sample, IvfSampleN rows, PqIters Lloyd rounds. */
  private val PqIters = 3

  /** The shared codebook-training sample (q33/q90/q91): the
    * IvfSampleN vectors ranked first by the seeded hash permutation,
    * collected in vec_id order (the pinned init/fold order). Bounded
    * driver state — the standard index-build lifecycle. The
    * orderBy+limit plans as TakeOrderedAndProject (per-partition
    * top-N + driver merge — ScaleSpec pins it), NOT a global sort:
    * at 1e9 vectors the sample costs one scan, no shuffle. */
  private[graft] def ivfSampleDf(emb: DataFrame): DataFrame =
    graft.ops.SeededSample.top(
      emb.select(col("vec_id"), col("embedding")), "vec_id", IvfSampleN)

  private def ivfSample(emb: DataFrame): Array[Array[Double]] =
    ivfSampleSized(emb, IvfSampleN)

  /** [[ivfSample]] with a caller-sized depth (q90: the sample scales
    * with the cell count, ≥ IvfSamplePerCell vectors per centroid). */
  private def ivfSampleSized(emb: DataFrame, n: Int): Array[Array[Double]] =
    graft.ops.SeededSample.top(
      emb.select(col("vec_id"), col("embedding")), "vec_id", n)
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Float](1).map(_.toDouble).toArray)

  /** Oracle twin of [[ivfSample]]'s membership: e(vec_id, x) rows of
    * the seeded sample, in any order (folds re-pin with ORDER BY
    * vec_id). Constants interpolate from [[graft.ops.SeededSample]]
    * so the SQL twin can never drift from the engine's device. */
  private def sqlSamp(from: String): String =
    s"(SELECT vec_id, x FROM $from " +
      s"ORDER BY ((vec_id % ${graft.ops.SeededSample.Mod}) * " +
      s"${graft.ops.SeededSample.Mult}) % " +
      s"${graft.ops.SeededSample.Mod}, vec_id LIMIT $IvfSampleN)"

  /** ADC (asymmetric distance): query sub-vectors vs the candidate's
    * CODE centroids — the candidate's floats are never read at query
    * time. Fixed-order double folds; identical structure in the
    * q78/q90/q91 plans so the three queries can never drift. */
  private def pqAdc(qx: Column, codes: Column): Column =
    pqAdcWith(qx, codes, PqCodebook)

  // the codegen ADC kernel (bit-exact twin of the nested-aggregate
  // HOF it replaced — PropertySpec pins the equivalence; the HOF ran
  // interpreted lambdas per candidate row and ADC is the probe's
  // hot loop)
  private def pqAdcWith(qx: Column, codes: Column,
                        cb: Seq[Seq[Seq[Double]]]): Column =
    graft.ops.expressions.PqAdcWith(qx, codes,
      cb.map(_.map(_.toArray).toArray).toArray)

  // Embedding-cosine near-dup (q34): distinct 2-shingle hash set →
  // 32-dim random-feature embedding → SRP-LSH candidates → cosine
  // verify. Dim 32 keeps projection noise (~1/√32) well under the
  // 0.9 decision margin; every planted near-dup pair (jaccard ≥ 0.2)
  // sits above cosine 0.8 (measured at sf0.01), so 0.9 selects the
  // tight cluster. Band sizing is the n²-control: chance candidates
  // ≈ n²/2 · bands · 2^-rowsPerBand, so rowsPerBand must track
  // log2(n) — 6-bit bands cost 21 s at sf0.1 on chance collisions
  // alone, 12-bit bands cut them 64×; 16 bands keep recall
  // ≈ 1-(1-0.857^12)^16 ≈ 0.94 for cosine-0.9 pairs.
  private val DedupShingleK = 2
  private val DedupDim      = 32
  private val DedupBits     = 192
  private val DedupBands    = 16
  private val DedupCosMin   = 0.9

  // T5 instruction prefix (run.py:84-92 selects one per --type).
  private val EmbedPrompt = "Represent the document for retrieval:"

  // q24: hard per-bucket cap. A
  // degenerate corpus — 10⁶ byte-identical docs — lands its whole
  // population in ONE band bucket per band; uncapped all-pairs
  // expansion emits m(m-1)/2 ≈ 5·10¹¹ candidate pairs from that one
  // bucket, and the bucket-carry collect_list materializes all 10⁶
  // member payloads on one reducer. Over-cap buckets therefore
  // switch to STAR edges: every member pairs with the bucket's
  // minimum-doc_id member (the hub), whose shingle payload rides the
  // skew-immune `min(struct(doc_id, hs))` partial aggregate — m-1
  // pairs per bucket, no collect_list of the hot bucket anywhere,
  // and the member→hub equi-join is AQE skew-splittable. The star
  // keeps a genuine mega-cluster connected (every member verifies
  // against the hub at jaccard ≈ 1), which is all the downstream
  // connected-components labeling needs — spanning edges, not the
  // quadratic pair set. Recall trade on MIXED over-cap buckets
  // (dissimilar docs colliding into one giant bucket): a member only
  // gets this bucket's edge if it verifies against the hub — but a
  // bucket that large is band-hash degeneracy, the other Bands-1
  // bands still vote, and the cap is far above any non-adversarial
  // bucket (measured max 19 at sf0.1 vs cap 64).
  private[graft] val BucketCap = 64

  /** The Bands banded hashes of a MinHash signature column — ONE
    * definition for q24, q106 and the cap-headroom spec (a one-sided
    * tweak would silently break the query≡oracle contract). */
  private[graft] def bandHashes(sig: Column): Column =
    transform(
      sequence(lit(0L), lit(Bands.toLong - 1)),
      b => aggregate(
        slice(sig, (b * RowsPerBand + 1).cast("int"), lit(RowsPerBand)),
        lit(0L),
        (acc, v) => (acc * 31 + v) % lit(HashMod)))

  /** Largest band-bucket population of a corpus (spec hook:
    * ClusterSpec pins that the ORACLE-GATED corpora sit far below
    * [[BucketCap]], where capped and uncapped semantics coincide —
    * the q24 oracle replays the UNCAPPED all-pairs form, so its
    * validity is exactly this headroom; above the cap the planted
    * mega-bucket spec gates the star path instead). */
  private[graft] def maxBandBucket(docs: DataFrame): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id",
        graft.ops.expressions.ShingleHashes($"text", ShingleK).as("hs"))
      .filter(size($"hs") > 0)
      .select(posexplode(bandHashes(
        graft.ops.expressions.MinHashSig($"hs", NumPerms)))
        .as(Seq("band_idx", "band_hash")))
      .groupBy($"band_idx", $"band_hash").count()
      .agg(max($"count")).as[Long].head()
  }

  /** Largest band-bucket population of the q29 SimHash banding (spec
    * hook — unlike q24's [[maxBandBucket]] headroom contract, the
    * q29/q34 oracles replay the CAPPED rule, so this measures WHICH
    * regime the gate corpora exercise, not oracle validity:
    * ClusterSpec documents simhash buckets below the cap at gate
    * scales — the planted mega-bucket spec covers q29's star path —
    * while [[maxEmbedBucket]] shows q34's star path firing under
    * the oracle gate itself). */
  private[graft] def maxSimhashBucket(docs: DataFrame): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id", graft.ops.expressions.SimHashBands(
        graft.ops.expressions.TokenHashes($"text")).as("bands"))
      .select(posexplode($"bands").as(Seq("band_idx", "band_val")))
      .groupBy($"band_idx", $"band_val").count()
      .agg(max($"count")).as[Long].head()
  }

  /** Largest band-bucket population of the q34 SRP banding (spec
    * hook — regime telemetry, see [[maxSimhashBucket]]: gate-corpus
    * buckets measured ABOVE the cap here, which is what makes the
    * capped oracle twin, not a headroom argument, the q34
    * correctness contract). */
  private[graft] def maxEmbedBucket(docs: DataFrame): Long = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs
      .select($"doc_id",
        sort_array(graft.ops.expressions.ShingleHashes($"text", DedupShingleK)).as("hs"))
      .filter(size($"hs") > 0)
      .select($"doc_id",
        graft.ops.expressions.FeatureEmbed($"hs", DedupDim).as("v"))
      .select(posexplode(
        graft.ops.expressions.SrpBands($"v", DedupBits, DedupBands))
        .as(Seq("band_idx", "band_val")))
      .groupBy($"band_idx", $"band_val").count()
      .agg(max($"count")).as[Long].head()
  }

  /** The q24 [[BucketCap]] device for the JOIN-BACK band families
    * (q29 SimHash, q34 embed-cosine): candidates from a band
    * self-join restricted to buckets with ≤ cap members, plus STAR
    * edges (min-id hub → member) for over-cap buckets. Bucket size
    * and hub are ONE map-side-combined aggregate — a degenerate
    * mega-bucket (10⁶ identical docs in one band bucket) reduces to
    * one row per input partition before the shuffle, emits m−1 hub
    * edges instead of ~m²/2 pairs, and never funnels member payloads
    * to a reducer (the join-back fetches vectors AFTER the distinct,
    * so even the star edges shuffle as bare id pairs). The hub edge
    * then passes the family's own verify (hamming for q29, cosine
    * for q34), exactly as q24's star edges verify by Jaccard — a
    * genuine mega-cluster stays connected for downstream labeling,
    * while mixed degenerate buckets keep the other bands' votes
    * (the [[BucketCap]] recall note).
    *
    * `bands` = (doc_id, band_idx, band_val); returns distinct
    * (id_a, id_b) with id_a < id_b (hub = bucket min doc_id, so
    * star edges satisfy the invariant by construction). Shared with
    * [[graft.pipeline.DedupIndex.nearEdgesWithin]] — the intra-batch
    * edge set of the streaming screen takes the same cap. */
  private[graft] def cappedBandCandidates(bands: DataFrame): DataFrame = {
    val spark = bands.sparkSession
    import spark.implicits._
    val stats = bands
      .groupBy($"band_idx", $"band_val")
      .agg(count(lit(1)).as("m"), min($"doc_id").as("hub_id"))
      .filter($"m" > 1) // singleton buckets emit no pair
    val tagged = bands.join(stats, Seq("band_idx", "band_val"))
    // r20 (guide §2.4): the small-bucket pairs used to come from a
    // band-key SELF-JOIN of the tagged frame — two more references to
    // `bands` (recompute or cache reads) and a two-sided shuffle. One
    // grouped pass now collects each ≤cap bucket's member ids (id
    // width — bounded by cap, so the per-bucket quadratic expansion
    // is ≤ cap(cap−1)/2 rows) and explodes the ordered pairs: same
    // pair set, one pass, one exchange. (The r17 note that rejected
    // the bucket-carry form for q34 measured it CARRYING the
    // embedding payloads; members here are bare longs.)
    val smallCand = tagged.filter($"m" <= BucketCap)
      .groupBy($"band_idx", $"band_val")
      .agg(collect_list($"doc_id").as("members"))
      .select(explode(flatten(transform($"members", x =>
        transform(filter($"members", y => y > x),
          y => struct(x.as("id_a"), y.as("id_b")))))).as("p"))
      .select($"p.id_a", $"p.id_b")
    val starCand = tagged
      .filter($"m" > BucketCap && $"doc_id" =!= $"hub_id")
      .select($"hub_id".as("id_a"), $"doc_id".as("id_b"))
    smallCand.unionByName(starCand).distinct()
  }

  /** The q29 chain over any (doc_id, text) frame (spec hook: planted
    * mega-bucket). Banded SimHash candidates through
    * [[cappedBandCandidates]], exact-hamming verify; scale shape in
    * the q29 entry doc. Persist contract: caches the band table —
    * callers clear via the Verify/Bench clearCache contract. */
  private[graft] def simhashDupPairs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // TokenHashes fuses tokenize+hash in one codegen'd scan (no
    // regex, no intermediate token array) — property-tested equal
    // to transform(tokens(text), polyHash).
    val bandsDf = docs
      // fan out past the single-file scan split, and persist: the
      // band table (doc_id + 4 longs) is referenced 3× below and
      // each reference would otherwise re-run the fused scan
      // (q34 rationale)
      .repartition($"doc_id")
      .select($"doc_id", graft.ops.expressions.SimHashBands(
        graft.ops.expressions.TokenHashes($"text")).as("bands"))
      .cache()
    val exploded = bandsDf.select($"doc_id",
      posexplode($"bands").as(Seq("band_idx", "band_val")))
    cappedBandCandidates(exploded)
      .join(bandsDf.select($"doc_id".as("id_a"), $"bands".as("bands_a")), "id_a")
      .join(bandsDf.select($"doc_id".as("id_b"), $"bands".as("bands_b")), "id_b")
      .select($"id_a", $"id_b",
        aggregate(
          zip_with($"bands_a", $"bands_b",
            (x, y) => bit_count(x.bitwiseXOR(y)).cast("long")),
          lit(0L), (acc, v) => acc + v).as("hamming"))
      .filter($"hamming" <= 3)
      .orderBy($"id_a", $"id_b")
  }

  /** The q34 chain over any (doc_id, text) frame (spec hook: planted
    * mega-bucket). Shingle-hash random-feature embedding, SRP-band
    * candidates through [[cappedBandCandidates]], exact-cosine
    * verify; semantics and scale shape in the q34 entry doc. Persist
    * contract: caches the embedding table — callers clear via the
    * Verify/Bench clearCache contract. */
  private[graft] def embedDupPairs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val emb = docs
      // the demo corpus is one parquet file = ONE input split; the
      // shingle+embed stage is CPU-heavy per row, so fan it out
      // across cores first (at 100 TB the scan has plentiful
      // splits and this repartition is dropped)
      .repartition($"doc_id")
      // Shingle-less docs (<k tokens) are excluded EXPLICITLY: they
      // embed to the zero vector and their pairs score cosine NaN,
      // and Spark SQL (like DuckDB) sorts NaN ABOVE all doubles —
      // `NaN >= 0.9` is TRUE in a SQL filter — so without this
      // filter empty docs would pair with each other while the
      // oracle's `WHERE len(sh) > 0` drops them. The pushed copy of
      // this predicate at the scan is a cheap codegen kernel (q24's
      // note). The per-dim feature SUM is order-dependent in IEEE
      // doubles and list_distinct's output order is
      // engine-specific — sort the hash set so both engines fold
      // in the same order.
      .select($"doc_id",
        sort_array(graft.ops.expressions.ShingleHashes($"text", DedupShingleK)).as("hs"))
      .filter(size($"hs") > 0)
      .select($"doc_id",
        graft.ops.expressions.FeatureEmbed($"hs", DedupDim).as("v"))
      // the embedding table is referenced 4× below (both band-join
      // sides + both vector join-backs) and Spark has no DAG-level
      // CSE — persist it once. It is ~270 B/doc (id + 32 doubles),
      // 4 orders smaller than the text it derives from, so
      // MEMORY_AND_DISK holds it even at corpus scale — the same
      // stage a production pipeline would materialize.
      .cache()
    val bands = emb.select($"doc_id",
      posexplode(graft.ops.expressions.SrpBands($"v", DedupBits, DedupBands))
        .as(Seq("band_idx", "band_val")))
    // small-bucket candidates come from cappedBandCandidates' grouped
    // pass (r20). History note: an UNCAPPED bucket-carry form was once
    // rejected here — an 871-doc cluster meant ~12M single-threaded
    // lambda evals inside one bucket — but under BucketCap the
    // quadratic expansion is bounded by cap(cap−1)/2 per bucket and
    // the mega-buckets take the star path, so the grouped pass now
    // wins (one exchange vs the self-join's two-sided shuffle).
    cappedBandCandidates(bands)
      .join(emb.select($"doc_id".as("id_a"), $"v".as("v_a")), "id_a")
      .join(emb.select($"doc_id".as("id_b"), $"v".as("v_b")), "id_b")
      // codegen'd cosine (CosineSim ≡ VectorOps.cosine bit-for-bit)
      // — the verify stage touches every candidate pair, and three
      // interpreted HOF reductions per pair dominated the query
      .select($"id_a", $"id_b",
        graft.ops.expressions.CosineSim($"v_a", $"v_b").as("cos"))
      .filter($"cos" >= DedupCosMin)
      .orderBy($"id_a", $"id_b")
  }

  /** The q24 chain over any (doc_id, text) frame (spec hook: planted
    * mega-bucket). Semantics and scale shape in the q24 entry doc;
    * the over-cap star path in the [[BucketCap]] note. */
  private[graft] def nearDupPairs(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    // ShingleHashes fuses tokenize→shingle→hash→distinct and
    // MinHashSig fuses the 16 permutation minima, both one codegen
    // scan — the HOF forms were ~2 s of interpreted
    // array_join(slice(…)) and ~56M lambda evals at sf0.1. The
    // shingle SET survives as hashes only: Jaccard over distinct
    // hash sets equals Jaccard over the shingle strings up to hash
    // collisions, which both engines compute identically (standard
    // minhash practice — the verify never needs the strings).
    // persisted: the (doc_id, hs, sig) stage is ~2 KB/doc and feeds
    // the band machinery (2 references through the explode) plus both
    // verify join-backs — lifecycle is the Verify/Bench clearCache
    // contract
    val sh = docs
      // fan out past the single-file scan split (q34 rationale)
      .repartition($"doc_id")
      .select($"doc_id",
        graft.ops.expressions.ShingleHashes($"text", ShingleK).as("hs"))
      // shingle-less docs (<k tokens) are excluded both sides (the
      // pushed copy of this predicate at the scan is a cheap
      // codegen kernel, unlike the interpreted HOF it replaced)
      .filter(size($"hs") > 0)
      .select($"doc_id", $"hs",
        graft.ops.expressions.MinHashSig($"hs", NumPerms).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r20 (guide §2.3 shuffle keys, not payloads / §8): the r19 form
    // persisted the EXPLODED band table with every row carrying the
    // full shingle-hash array — Bands× (16×) the hs payload held in
    // cache and pushed through the bucket-stats exchange AND the
    // tagging join AND the pair-expansion groupBy (the 32-partition
    // shuffle-file churn priced that in, plans/r20/
    // q24_near_dup_before.txt). Now the band machinery sees id-width
    // (doc_id, band_idx, band_hash) rows only — the SAME
    // cappedBandCandidates operator q29/q34 ride — and the verify
    // re-attaches hs from the persisted narrow stage exactly once per
    // side. The r17 note that rejected a band self-join measured
    // RECOMPUTING the scan→minhash lineage per side; joining back
    // from the persisted stage recomputes nothing. Candidates are
    // identical (same expansion, hub = bucket-min doc_id either way,
    // distinct on the bare pair ≡ dropDuplicates on the carried one),
    // so the verified pair set is bit-identical.
    val bands = sh.select($"doc_id",
      posexplode(bandHashes($"sig")).as(Seq("band_idx", "band_val")))
    cappedBandCandidates(bands)
      .join(sh.select($"doc_id".as("id_a"), $"hs".as("hs_a")), "id_a")
      .join(sh.select($"doc_id".as("id_b"), $"hs".as("hs_b")), "id_b")
      .select($"id_a", $"id_b",
        (size(array_intersect($"hs_a", $"hs_b")).cast("double") /
          size(array_union($"hs_a", $"hs_b")).cast("double")).as("jaccard"))
      .filter($"jaccard" >= JaccardMin)
      .orderBy($"id_a", $"id_b")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // F1/T1 — token-count overflow filter (the `script512.py` job):
    // scan → codegen'd regexp token count → filter → sort. The
    // pushable cheap pre-filter on n_chars (SURVEY §4) is implied:
    // n_chars >= token_count, so n_chars > OverflowTokens is a
    // sound pushdown; included here so the parquet scan prunes.
    "q20_token_overflow" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .filter($"n_chars" > OverflowTokens) // pushable pre-filter
        .select($"doc_id", $"n_chars",
          TextOps.tokenCount($"text").cast("bigint").as("token_count"))
        .filter($"token_count" > OverflowTokens)
        .orderBy($"doc_id")
    },

    // Exact dedup (builder brief): content fingerprint → groupBy →
    // keep-first. Hash-partitioned by fingerprint — at 100 TB this is
    // one shuffle on a high-cardinality key, no skew (hash output).
    // The key is the 128-bit (fp_hi, fp_lo) pair — four independent
    // polyhash families in two single-pass codegen kernels — because
    // at corpus scale a narrow key's birthday collision is a SILENT
    // DROP: the colliding doc folds into a stranger's group and its
    // keeper never emits it. ~2³⁰ range collides from ~10^4.5 docs;
    // 2¹²³ pushes the first expected collision past 10¹⁸
    // (Fingerprint128Spec plants an old-key collision and proves the
    // wide key separates it).
    "q23_dedup_exact" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .groupBy(TextOps.fingerprintHi($"text").as("fp_hi"),
          TextOps.fingerprintLo($"text").as("fp_lo"))
        .agg(min($"doc_id").as("keeper_id"), count(lit(1)).as("n_copies"))
        .orderBy($"keeper_id")
    },

    // A1/V3 — the run_extra.py:46-78 pipeline as one query: chunk →
    // posexplode → embed each chunk → groupBy(doc).agg(weighted mean),
    // weights = chunk char length (run_extra.py:47). All of a doc's
    // chunks come from ONE input row, so the partial (map-side)
    // aggregate reduces them in chunk order before the shuffle — the
    // shuffle moves O(docs) buffers, not O(chunks) rows, which is the
    // property that scales this to 100 TB of chunked text. Output
    // quantized to micro-unit CSV (vecCsv — double-sum merge order
    // needs the 1e-6 quantization anyway).
    "q21_chunk_pool" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        // fan the CPU-heavy tokenize+chunk+embed stage out past the
        // single-file scan split (q34 has the full rationale)
        .repartition($"doc_id")
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        // zero-token docs: posexplode of an empty chunk list emits
        // nothing, which is the exclusion we want — an explicit
        // size(toks)>0 filter would be pushed below the repartition
        // and re-tokenize on the scan core. The oracle keeps its
        // explicit len>0 predicate (DuckDB would emit a NaN row).
        .select($"doc_id",
          posexplode(TextOps.chunksOf($"toks", ChunkTokens)).as(Seq("pos", "chunk")))
        // HashEmbed hashes each chunk ONCE (the HOF embed re-folds
        // the chunk text per dimension — kernel == HOF, unit-tested)
        .withColumn("emb", graft.ops.expressions.HashEmbed($"chunk", EmbedDim))
        .withColumn("w", length($"chunk").cast("double"))
        .groupBy($"doc_id")
        .agg(
          graft.ops.WeightedAvgVec.asUdaf($"emb", $"w").as("raw"),
          count(lit(1)).as("n_chunks"))
        .select($"doc_id",
          vecCsv($"raw", 1e6).as("pooled"),
          $"n_chunks")
        .orderBy($"doc_id")
    },

    // J1+V2 — the process.py:119-129 merge: title-side stand-in
    // embedding ⨝ abstract-side stored embedding on id, then
    // concat(title*0.2, abstract*0.8). The reference's equal-length /
    // equal-key asserts (process.py:120,124) become an in-plan left
    // join whose unmatched rows raise_error: every processed
    // embedding MUST have a raw document (raw docs without an
    // embedding are the reference's own "missing/backfill" set,
    // process.py:171-172 — allowed, handled by the q05 anti-join
    // pattern). No driver-side count pass.
    "q22_merge" -> { (s, d) =>
      import s.implicits._
      val t = Tables.documents(s, d)
        // HashEmbed folds the full text once, not once per dimension
        .select($"doc_id", graft.ops.expressions.HashEmbed($"text", MergeDim).as("t_emb"))
      val a = Tables.embeddings(s, d).select($"vec_id", $"embedding")
      a.join(t, $"vec_id" === $"doc_id", "left_outer")
        .select(
          when($"doc_id".isNull,
            raise_error(concat(lit("merge: embedding without document, id="),
              $"vec_id".cast("string"))))
            .otherwise($"vec_id").as("id"),
          // nano-unit CSV (1e-9 per element over the bit-exact
          // scaleConcat doubles) — scalar for the driver's gate
          vecCsv(VectorOps.scaleConcat($"t_emb", $"embedding", 0.2), 1e9)
            .as("merged"))
        .orderBy($"id")
    },

    // Near-duplicate detection via MinHash + LSH banding (builder
    // brief). Shingle → minhash signature → band hashes → shuffle-join
    // candidates on (band_idx, band_hash) → verify exact Jaccard
    // within buckets. NO all-pairs/cartesian join anywhere: the only
    // joins shuffle on band-hash equality (candidate pairs) and on
    // doc_id (signature lookup), both hash-partitioned — at 100 TB
    // the candidate set is O(colliding pairs), not O(n²), and a
    // degenerate hot bucket is hard-capped to star spanning edges
    // ([[nearDupPairs]] — the chain + the [[BucketCap]] rationale).
    // All hash arithmetic stays < 2^63 (a_j, h < 1e9+7 ⇒
    // a_j·h < ~1e18), so ANSI overflow checking never fires.
    // Exact edit-distance verification of the near-dup pairs (Lee
    // et al. 2022, "Deduplicating Training Data Makes Language
    // Models Better" — their NearDup verdict is edit similarity
    // 1 − lev/max(len) over candidate pairs, the character-level
    // ground truth a shingle-Jaccard screen approximates): q24's
    // confirmed pairs re-scored with true Levenshtein. What a
    // curation team samples before trusting the Jaccard threshold —
    // a pair family at high Jaccard but low edit similarity means
    // the shingle width is wrong for that corpus. Both engines ship
    // the SAME dynamic-programming levenshtein builtin (integer,
    // code-point based — identical on this corpus); the ratio is
    // integer micro division.
    //
    // Scale shape: the O(len²) distance runs ONLY on the bounded
    // pair set (q24's cap bounds it); texts reach the pairs by two
    // id equi-joins of the corpus scan against the tiny pair frame
    // (AQE broadcasts the pair side) — the corpus never self-joins.
    "q147_editdist_verify" -> { (s, d) =>
      import s.implicits._
      val p = Stages.nearDupPairs.get(s, d)
      // participant-id broadcast semi-prune (the q67 shape): the
      // text scan never shuffles, and only PAIRED documents reach
      // the O(len²) verify
      val ids = p
        .select(explode(array($"id_a", $"id_b")).as("doc_id")).distinct()
      val t = Tables.documents(s, d).select($"doc_id", $"text")
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
      p
        .join(t.select($"doc_id".as("id_a"), $"text".as("ta")), Seq("id_a"))
        .join(t.select($"doc_id".as("id_b"), $"text".as("tb")), Seq("id_b"))
        // CPU fan-out for the O(len²) verify with an EXPLICIT
        // partition count: the pair frame is a few MB, so AQE's
        // size-based coalescing folds a column-only repartition (and
        // the one-file scan split upstream) back to ONE task — but
        // the work here is per-cell CPU, not bytes (measured at the
        // 10× probe: 11 s single-task vs ~1 s fanned). A
        // user-specified numPartitions is the one fan-out AQE must
        // respect.
        .repartition(s.sparkContext.defaultParallelism, $"id_a", $"id_b")
        .select($"id_a", $"id_b",
          levenshtein($"ta", $"tb").cast("bigint").as("dist"),
          greatest(length($"ta"), length($"tb")).cast("bigint").as("max_len"))
        .withColumn("esim_micro",
          when($"max_len" > 0L,
            expr("((max_len - dist) * 1000000) div max_len"))
            .otherwise(lit(1000000L)))
        .orderBy($"id_a", $"id_b")
    },

    "q24_near_dup" -> { (s, d) =>
      nearDupPairs(Tables.documents(s, d)) },

    // Asymmetric shingle containment of the near-dup pairs (Broder
    // 1997, "On the resemblance and containment of documents" —
    // resemblance is q24's symmetric Jaccard, containment
    // |A∩B|/|A| is its DIRECTIONAL twin): for each confirmed pair,
    // how much of EACH side lives inside the other. A pair at
    // moderate Jaccard but one-sided containment ≈ 1 is a
    // quote/subset inclusion (boilerplate wrapper, excerpt, page
    // chrome around a shared article) — the curation decision is
    // "keep the superset, drop the fragment", which symmetric
    // Jaccard cannot tell apart from a genuine half-overlap edit
    // pair. Integer micro divisions over the same distinct shingle
    // hash sets q24 banded.
    //
    // Scale shape: the q147 device — pair set bounded by q24's
    // caps, shingle sets re-derived only via two id equi-joins of
    // the kernel scan against the tiny pair frame (AQE broadcasts
    // the pair side); the corpus never self-joins.
    "q157_containment" -> { (s, d) =>
      import s.implicits._
      val p = Stages.nearDupPairs.get(s, d)
      // q147's participant prune, one step earlier: the shingle
      // recompute itself runs only over PAIRED documents (the
      // corpus-wide ShingleHashes pass was the chain's whole cost)
      val ids = p
        .select(explode(array($"id_a", $"id_b")).as("doc_id")).distinct()
      val sh = Tables.documents(s, d).select($"doc_id", $"text")
        .join(broadcast(ids), Seq("doc_id"), "left_semi")
        .select($"doc_id",
          graft.ops.expressions.ShingleHashes($"text", ShingleK).as("hs"))
        .filter(size($"hs") > 0)
      p
        .join(sh.select($"doc_id".as("id_a"), $"hs".as("ha")), Seq("id_a"))
        .join(sh.select($"doc_id".as("id_b"), $"hs".as("hb")), Seq("id_b"))
        .select($"id_a", $"id_b",
          size($"ha").cast("bigint").as("n_a"),
          size($"hb").cast("bigint").as("n_b"),
          size(array_intersect($"ha", $"hb")).cast("bigint").as("n_common"))
        .withColumn("cont_ab_micro", expr("(n_common * 1000000) div n_a"))
        .withColumn("cont_ba_micro", expr("(n_common * 1000000) div n_b"))
        .orderBy($"id_a", $"id_b")
    },

    // Similarity search (builder brief): cosine top-k for a broadcast
    // query-vector set, computed as TWO-PHASE top-k — per (query,
    // salt-bucket) local top-k, then global top-k per query — so no
    // single reducer ever sees the whole candidate table (the naive
    // Window.partitionBy(query_id) would funnel all n candidates
    // through k reducers at 100 TB). The candidate side is scanned
    // once; the query side is broadcast (BroadcastNestedLoopJoin on
    // an always-true condition over 3 rows).
    "q25_topk_cosine" -> { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val qs = broadcast(
        emb.filter($"vec_id" < 3)
          .select($"vec_id".as("query_id"), $"embedding".as("q_emb")))
      val scored = emb.join(qs)
        .select($"query_id", $"vec_id",
          VectorOps.cosine($"q_emb", $"embedding").as("cos"),
          pmod($"vec_id", lit(32)).as("salt"))
      val wLocal = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id", $"salt").orderBy($"cos".desc, $"vec_id")
      val wGlobal = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
      scored
        .withColumn("rn_local", row_number().over(wLocal))
        .filter($"rn_local" <= 10) // ≤ 32·10 survivors per query
        .withColumn("rn", row_number().over(wGlobal))
        .filter($"rn" <= 10)
        .select($"query_id", $"vec_id", $"cos", $"rn".cast("bigint").as("rn"))
        .orderBy($"query_id", $"rn")
    },

    // Tumbling-window aggregation over the events stream table (the
    // batch twin of the Structured Streaming job in graft.streaming;
    // window() + groupBy shuffles once on (window, type)).
    "q27_event_windows" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy(window($"ts", "1 day"), $"event_type")
        .agg(count(lit(1)).as("n"), sumExact($"value").as("total_value"))
        .select(date_format($"window.start", "yyyy-MM-dd").as("win_day"),
          $"event_type", $"n", $"total_value")
        .orderBy($"win_day", $"event_type")
    },

    // Native session windows (batch form of the M4 streaming
    // sessionizer — graft.streaming.EventSessions holds the
    // custom-state variant): Spark's built-in session_window merges
    // events of a user with < 1h between neighbors; end = last+gap.
    // One shuffle on (user, session); DuckDB oracle re-derives the
    // sessions with lag + running sum (same strict-< merge rule).
    "q35_session_windows" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .groupBy(session_window($"ts", "1 hour"), $"user_id")
        .agg(count(lit(1)).as("n_events"))
        .select($"user_id",
          unix_millis($"session_window.start").as("start_ms"),
          unix_millis($"session_window.end").as("end_ms"),
          $"n_events")
        .orderBy($"user_id", $"start_ms")
    },

    // AS-OF JOIN (capability extension — the classic "operator Spark
    // lacks", composed per the brief's preference (a)): each event
    // joins the most recent order-day total of the same key at or
    // before its timestamp. NOT a range join (whose candidate set is
    // O(events × orders) per key): runs on the engine's custom
    // sort-merge AsOfJoinExec (graft.plans.AsOfJoin) — both sides
    // co-partitioned on the key and sorted (key, time) by
    // spill-capable SortExecs, then ONE streaming forward merge with
    // O(1) state per partition. Inclusive `<=` tie semantics — the
    // oracle is DuckDB's NATIVE ASOF LEFT JOIN (`e.t >= o.t`), and
    // AsOfSpec pins the operator against the tag+union+window
    // carry-forward formulation row for row.
    "q36_asof_join" -> { (s, d) =>
      import s.implicits._
      // r20 (guide §2.4 share one exchange): hash the orders side by
      // custkey BEFORE the day-total aggregate — HashPartitioning(
      // custkey) satisfies the aggregate's ClusteredDistribution(
      // custkey, orderdate) AND, through the alias, the as-of join's
      // ClusteredDistribution(user_id), so the aggregate and the join
      // share ONE exchange where the old plan paid two
      // (plans/r20/q36_asof_join_{before,after}.txt).
      val o = Tables.orders(s, d)
        .repartition($"o_custkey")
        .groupBy($"o_custkey", $"o_orderdate")
        .agg(sumExact($"o_totalprice").as("day_total"))
        // o_orderdate is parquet TIMESTAMP_NTZ; the UTC session makes
        // the cast's wall-clock reading == DuckDB's naive epoch_ms
        .select($"o_custkey".as("user_id"),
          unix_millis($"o_orderdate".cast("timestamp")).as("t"),
          $"day_total".as("asof_total"))
      val e = Tables.events(s, d)
        .select($"event_id", $"user_id", unix_millis($"ts").as("t"))
      graft.plans.AsOf.joinBackward(e, o, Seq("user_id"), "t")
        .select($"event_id", $"user_id", $"asof_total")
        .orderBy($"event_id")
    },

    // Forward as-of: each event joins the NEXT order-day total of
    // the same key at or after its timestamp (the "time-to-next-
    // state" direction q36 can't see). Same custom sort-merge
    // operator mirrored — time sorted descending on both sides, so
    // the last-consumed eligible right row is the smallest
    // time >= event time; still O(1) state per partition. Oracle =
    // DuckDB native forward ASOF (`e.t <= o.t`).
    "q66_asof_forward" -> { (s, d) =>
      import s.implicits._
      // r20: one exchange serves the aggregate and the join (q36 note)
      val o = Tables.orders(s, d)
        .repartition($"o_custkey")
        .groupBy($"o_custkey", $"o_orderdate")
        .agg(sumExact($"o_totalprice").as("day_total"))
        .select($"o_custkey".as("user_id"),
          unix_millis($"o_orderdate".cast("timestamp")).as("t"),
          $"day_total".as("next_total"))
      val e = Tables.events(s, d)
        .select($"event_id", $"user_id", unix_millis($"ts").as("t"))
      graft.plans.AsOf.joinForward(e, o, Seq("user_id"), "t")
        .select($"event_id", $"user_id", $"next_total")
        .orderBy($"event_id")
    },

    // RANGE JOIN (capability extension, the interval member of the
    // join family next to q36's as-of): per user and day, count the
    // events inside 6 hours of that day's first event (an interval
    // may cross midnight into the next bucket). NOT an inequality
    // join (O(intervals × events) per key): intervals explode into
    // the day buckets they cover, events hash to their single
    // containing bucket, and an EQUI-join on (key, day) meets each
    // true pair exactly once (a point lies in one bucket — no dedup
    // pass) before the exact range predicate. Work is linear in
    // data + interval spans; the bucket width trades explode factor
    // against join selectivity at scale.
    "q37_range_join" -> { (s, d) =>
      import s.implicits._
      val e = Tables.events(s, d)
        .select($"user_id".as("k"), unix_millis($"ts").as("t"))
        .withColumn("day", expr("t div 86400000"))
      val iv = e.groupBy($"k", $"day")
        .agg(min($"t").as("start_ms"))
        .withColumn("end_ms", $"start_ms" + lit(6L * 3600000L))
      val ivBuckets = iv.select($"k", $"day".as("iv_day"), $"start_ms", $"end_ms",
        explode(sequence(expr("start_ms div 86400000"),
          expr("(end_ms - 1) div 86400000"))).as("day"))
      ivBuckets.join(e, Seq("k", "day"))
        .filter($"t" >= $"start_ms" && $"t" < $"end_ms")
        .groupBy($"k", $"iv_day")
        .agg(count(lit(1)).as("n_events"))
        .select($"k".as("user_id"), $"iv_day".as("day"), $"n_events")
        .orderBy($"user_id", $"day")
    },

    // Exact grouped quantiles (order statistics — the one analytics
    // family not yet covered): p50/p95 of event value per type, via
    // per-group sorted arrays and the SAME interpolation expression
    // both engines (Spark's built-in `percentile` uses a different
    // IEEE association than DuckDB's quantile_cont, so the formula
    // is stated manually: v_lo + (v_hi − v_lo)·frac). The per-group
    // collect is the exact-quantile trade-off made explicit — at
    // 100 TB a group's values must fit a reducer; otherwise drop to
    // approx sketches or a two-pass count-then-select.
    "q42_quantiles" -> { (s, d) =>
      import s.implicits._
      def q(p: Double): Column = {
        val idx = ($"n" - 1).cast("double") * lit(p)
        val lo = floor(idx).cast("int")
        val hi = ceil(idx).cast("int")
        val vlo = element_at($"vs", lo + 1)
        val vhi = element_at($"vs", hi + 1)
        vlo + (vhi - vlo) * (idx - floor(idx))
      }
      Tables.events(s, d)
        // collect_list drops NULLs, so n must come from the array —
        // and the oracle filters NULLs explicitly to match (a NULL
        // value would otherwise desync index vs length and fault the
        // ANSI array access)
        .filter($"value".isNotNull)
        .groupBy($"event_type")
        .agg(sort_array(collect_list($"value")).as("vs"))
        .withColumn("n", size($"vs").cast("bigint"))
        .select($"event_type", $"n",
          roundFix(q(0.5), 6).as("p50"), roundFix(q(0.95), 6).as("p95"))
        .orderBy($"event_type")
    },

    // JSON property extraction (events.props) — semi-structured
    // column access stays codegen'd (GetJsonObject). The parse runs
    // twice (pushed filter copy + projection) and events is one
    // input split, so fan out first — props are small, the shuffle
    // is cheap (measured 1.26 s → 0.06 s at sf0.1).
    "q28_json_props" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .repartition($"event_id")
        .select($"event_id", $"event_type",
          get_json_object($"props", "$.k").cast("bigint").as("k"))
        .filter($"k" > 50)
        .orderBy($"event_id")
    },

    // SimHash near-dup (builder brief, second dedup family): 64-bit
    // simhash computed by a codegen'd Catalyst expression as 4×16-bit
    // band values; LSH candidates on band equality (pigeonhole: any
    // pair at hamming ≤ 3 shares a band — recall 1.0 below the
    // bucket cap, no all-pairs join); over-cap buckets take the q24
    // star-edge path (cappedBandCandidates); verify exact hamming
    // over the band arrays. Unlike q24 (whose headroom makes the
    // uncapped oracle valid), the q29/q34 twins replay the CAPPED
    // candidate rule CTE-for-CTE — the star path itself is
    // oracle-gated, no headroom precondition (measured gate-corpus
    // buckets: simhash 53/46, embed 86/89 at sf0.001/sf0.01 vs
    // cap 64 — q34's star path actually fires under the gate). Also
    // hand-replayed against the capped twins at sf0.1, where the
    // 483-member simhash and 871-member SRP buckets both take the
    // star path (1461/1370 output rows, hash-match).
    "q29_simhash_dedup" -> { (s, d) =>
      simhashDupPairs(Tables.documents(s, d))
    },

    // LSH-bucketed approximate similarity search (builder brief: the
    // scale path next to q25's exact scan): SRP signatures bucket the
    // candidate side; only vectors sharing a band with a query are
    // scored. The window top-k runs over the PRUNED candidate set —
    // that pruning, not salting, is what bounds the reducer here.
    "q30_ann_lsh" -> { (s, d) =>
      import s.implicits._
      val (sig, qs, cand) = srpCandFrames(s, d, 3, persist = false)
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
      cand
        .join(sig.select($"vec_id", $"embedding"), "vec_id")
        .join(broadcast(qs.select($"query_id", $"q_emb")), "query_id")
        .select($"query_id", $"vec_id",
          VectorOps.cosine($"q_emb", $"embedding").as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"query_id", $"vec_id", $"cos", $"rn".cast("bigint").as("rn"))
        .orderBy($"query_id", $"rn")
    },

    // ANN candidate-stage evaluation (q106's sampled-QA device for
    // the RETRIEVAL family): exact cosine top-AnnEvalTopK per sampled
    // query = TRUTH; q30's SRP-band candidate set = the stage under
    // test (srpCandFrames — ONE candidate-rule definition with q30);
    // per-query report (n_cand, n_hit, recall_micro) — the number a
    // team publishes next to its ANN serving config to justify
    // bands/bits choices. Standard recall@k semantics: the query
    // point is excluded from BOTH truth and candidates — self
    // matches every band trivially, so counting it would floor
    // recall at 1/k even for a band config that retrieves no real
    // neighbor. Cost: truth is one broadcast query-set pass over the
    // corpus (bounded by AnnEvalQueryN FOREVER — corpus growth
    // changes the scan length, not the output size); candidates and
    // both count joins are id-width. sig and cand are persisted
    // (each referenced twice; no DAG-level CSE) — lifecycle is the
    // Verify/Bench clearCache contract.
    "q112_ann_eval" -> { (s, d) =>
      import s.implicits._
      val (sig, qs, cand0) =
        srpCandFrames(s, d, AnnEvalQueryN, persist = true)
      val cand = cand0.filter($"vec_id" =!= $"query_id")
      val truth = graft.plans.TopK.perKey(
        sig.select($"vec_id", $"embedding")
          .join(broadcast(qs.select($"query_id", $"q_emb")))
          .filter($"vec_id" =!= $"query_id")
          .select($"query_id", $"vec_id",
            VectorOps.cosine($"q_emb", $"embedding").as("cos")),
        Seq("query_id"), Seq("cos" -> false, "vec_id" -> true),
        AnnEvalTopK, rankCol = "rn")
        .select($"query_id", $"vec_id")
      val nc = cand.groupBy($"query_id").agg(count(lit(1)).as("n_cand"))
      // r20 (§3.1): truth is ≤ AnnEvalQueryN·AnnEvalTopK rows — bounded
      // by CONSTANTS at any corpus size — so the hit join broadcasts it
      // and the candidate side (the one frame here that grows with the
      // corpus) is never re-shuffled by (query_id, vec_id); before,
      // this was a SortMergeJoin exchanging both sides.
      val nh = cand.join(broadcast(truth), Seq("query_id", "vec_id"))
        .groupBy($"query_id").agg(count(lit(1)).as("n_hit"))
      // report driven by the query set: with self excluded, a query
      // whose bands retrieve nothing has NO cand row — it must still
      // report (0, 0, 0), not vanish. The two count tables are
      // O(queries) rows — broadcast (§3.1), dropping the report
      // chain's two SortMergeJoin exchanges.
      qs.select($"query_id")
        .join(broadcast(nc), Seq("query_id"), "left")
        .join(broadcast(nh), Seq("query_id"), "left")
        .select($"query_id",
          coalesce($"n_cand", lit(0L)).as("n_cand"),
          coalesce($"n_hit", lit(0L)).as("n_hit"),
          floor(coalesce($"n_hit", lit(0L)).cast("double") /
            lit(AnnEvalTopK.toDouble) * lit(1e6) + lit(0.5))
            .cast("bigint").as("recall_micro"))
        .orderBy($"query_id")
    },

    // IVF-style approximate similarity search (builder brief's other
    // ANN scale path next to q30's LSH): a 16-centroid coarse
    // quantizer (codebook = small broadcast driver state, as in any
    // IVF index) assigns every vector to a cell in one narrow kernel
    // pass; queries search ONLY their own cell (nprobe=1). The join
    // is an equi-join on cell id — the inverted-list probe — never a
    // scan of the full candidate side per query. The codebook is
    // TRAINED: a bounded seeded-random sample collects to the driver
    // (≤ IvfSampleN rows — codebook training is driver state by
    // design) and runs IvfIters deterministic Lloyd rounds
    // (graft.ops.Kmeans), which the oracle replays CTE-for-round.
    "q33_ann_ivf" -> { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val cents = graft.ops.Kmeans.train(ivfSample(emb), IvfK, IvfIters)
      val assigned = emb.select($"vec_id", $"embedding",
        graft.ops.expressions.IvfCell($"embedding", cents).as("cell"))
      val qs = broadcast(assigned.filter($"vec_id" < 3)
        .select($"vec_id".as("query_id"), $"embedding".as("q_emb"),
          $"cell".as("q_cell")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"cos".desc, $"vec_id")
      assigned.join(qs, $"cell" === $"q_cell")
        .select($"query_id", $"vec_id",
          VectorOps.cosine($"q_emb", $"embedding").as("cos"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"query_id", $"vec_id", $"cos", $"rn".cast("bigint").as("rn"))
        .orderBy($"query_id", $"rn")
    },

    // Embedding-cosine near-dup (builder brief's last dedup family,
    // next to exact q23 / MinHash q24 / SimHash q29): each doc's
    // distinct shingle set → codegen'd random-feature embedding
    // (FeatureEmbed — cosine tracks shingle overlap) → SRP-band LSH
    // candidates → exact cosine verify. No all-pairs join anywhere.
    // This is the JOIN-BACK variant (q24's comment documents the
    // trade-off): the corpus has near-dup CLUSTERS (measured max
    // bucket 871 docs at sf0.1 ⇒ ~8M raw candidate pairs uncapped),
    // so pairs shuffle as bare (id_a, id_b) — the vectors rejoin
    // AFTER the distinct. Buckets past BucketCap now take the star
    // path (cappedBandCandidates), so that 871-doc degenerate bucket
    // emits 870 hub edges instead of ~380k pairs; the oracle replays
    // the CAPPED candidate rule (see the q29 entry note) — the gate
    // corpora hold 86/89-member buckets, so the star path is
    // exercised and oracle-gated at BOTH gate scales.
    "q34_embed_dup" -> { (s, d) =>
      embedDupPairs(Tables.documents(s, d))
    },

    // T5 (run.py:139): instruction prompt-pair construction — the
    // [[prompt, content], ...] rows the embedding model consumes.
    "q31_prompt_pairs" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .filter($"doc_id" < 10)
        .select($"doc_id",
          // the 2-element [prompt, content] array, serialized with a
          //  separator (never in the corpus) so the gate can
          // sort/hash it as a scalar
          concat_ws("\u0001", TextOps.promptPair(EmbedPrompt, $"text"))
            .as("pair"))
        .orderBy($"doc_id")
    },

    // Multimodal (builder brief): binary payload manifest → batched
    // stub decode/featurize (graft.multimodal) → relational summary.
    // The summary IS oracle-gated: kind, counts and byte totals are
    // deterministic functions of `documents`, and the inference
    // stage contributes only the (parameter) feature dim — the
    // feature VALUES, which SQL cannot express, are contract-tested
    // in MultimodalSpec instead.
    "q32_media_features" -> { (s, d) =>
      import s.implicits._
      val media = graft.multimodal.Multimodal.mediaFromDocuments(s, d)
      graft.multimodal.Multimodal.extractFeatures(s, media, dim = 16)
        .groupBy($"kind")
        .agg(count(lit(1)).as("n_items"),
          sum($"n_bytes").as("total_bytes"),
          max(size($"feature")).cast("bigint").as("dim"))
        .orderBy($"kind")
    },

    // The multimodal RESIZE stage's output manifest, oracle-gated
    // (q32 gates the feature stage): aspect-preserving fit into a
    // 256×240 box over the image-kind media rows. The stub resample
    // truncates the byte budget with int() — toward zero — which the
    // oracle states as floor() because DuckDB's CAST(double AS INT)
    // ROUNDS (a real cross-engine trap; both values are >= 0 so
    // floor ≡ trunc). All metadata arithmetic is the real resize
    // bookkeeping; only the pixel scaler is stubbed.
    "q88_media_resize" -> { (s, d) =>
      import s.implicits._
      val media = graft.multimodal.Multimodal.mediaFromDocuments(s, d)
      graft.multimodal.Multimodal.resizeImages(media, maxW = 256, maxH = 240)
        .select($"media_id", $"out_w", $"out_h",
          length($"payload").cast("bigint").as("n_out_bytes"))
        .orderBy($"media_id")
    },

    // Media exact dedup (class doc on Multimodal.dedupReport): the
    // multimodal member of the dedup family — same re-upload shared
    // byte-for-byte under several object ids, found by content hash.
    // The manifest derives re-uploads deterministically from the
    // documents table (the q107 derive-dirty-input convention: media
    // with media_id ≡ 0 mod 3 gains one extra copy, ≡ 0 mod 7
    // another — both ≡ 0 mod 21 means three copies of that object).
    "q118_media_dedup" -> { (s, d) =>
      import s.implicits._
      val manifest = graft.multimodal.Multimodal.mediaFromDocuments(s, d)
        .toDF()
        .select($"kind", $"payload",
          explode(sequence(lit(0L),
            when(pmod($"media_id", lit(3L)) === 0L, 1L).otherwise(0L) +
              when(pmod($"media_id", lit(7L)) === 0L, 1L).otherwise(0L)))
            .as("copy"))
      graft.multimodal.Multimodal.dedupReport(manifest)
    },

    // Deterministic train/val/test split (corpus-curation op): the
    // split is a pure function of CONTENT hash — stable under
    // re-partitioning, re-ordering, incremental re-runs, and engine
    // choice (the property that matters for dataset reproducibility;
    // a rand()-based split has none of them). 80/10/10 by
    // polyhash(text) mod 10.
    // Range audit (r17): MODULO bucket — range-independent; the
    // non-divisible modulus (P ≡ 7 mod 10) skews bucket occupancy by
    // ≤ 1 part in P/10 ≈ 1e-8, not a scaling assumption that can
    // drift (MixRangeSpec's site sweep).
    "q38_hash_split" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"n_chars",
          when(pmod(TextOps.fingerprint($"text"), lit(10L)) < 8, "train")
            .when(pmod(TextOps.fingerprint($"text"), lit(10L)) === 8, "val")
            .otherwise("test").as("split"))
        .groupBy($"split")
        .agg(count(lit(1)).as("n_docs"), sum($"n_chars").as("total_chars"))
        .orderBy($"split")
    },

    // Per-language quota selection (corpus curation): keep the top-3
    // docs of each language by quality score — the stratified-cap
    // pattern that stops one domain/language from dominating a
    // training mix. Runs on the custom TopKPerKey PHYSICAL operator
    // (graft.plans.TopKPerKey): bounded k-row heaps per key instead
    // of the row_number window's full per-group sort — O(n log k)
    // and k rows of reducer state per key, the property that
    // survives a dominant language at 100 TB. The oracle states the
    // window formulation; TopKSpec pins operator ≡ window besides.
    "q39_lang_quota" -> { (s, d) =>
      import s.implicits._
      val scored = Tables.documents(s, d)
        .select($"doc_id", $"lang",
          graft.ops.expressions.TextStats($"text").getField("quality").as("quality"))
      graft.plans.TopK.perKey(scored,
          Seq("lang"), Seq("quality" -> false, "doc_id" -> true), 3)
        .select($"doc_id", $"lang",
          roundFix($"quality", 6).as("quality"), $"rn".cast("bigint").as("rn"))
        .orderBy($"lang", $"rn")
    },

    // Weighted source mixing (corpus curation): down-sample each
    // source to a target rate with the same content-hash device as
    // q38 — the mixture is deterministic and composable with
    // incremental ingestion (a doc's keep/drop never changes as data
    // arrives). Narrow pass + one small aggregation.
    "q40_source_mix" -> { (s, d) =>
      import s.implicits._
      val rate = when($"source" === "src0", 100)
        .when($"source" === "src1", 50)
        .otherwise(10)
      Tables.documents(s, d)
        .filter(pmod(TextOps.fingerprint($"text"), lit(100L)) < rate)
        .groupBy($"source")
        .agg(count(lit(1)).as("n_kept"))
        .orderBy($"source")
    },

    // The curation FUNNEL — exact dedup → per-language quality quota
    // → deterministic split — composed as ONE query: the end-to-end
    // shape a corpus build actually runs, proving the ops stack.
    // Three shuffles total (dedup groupBy, quota window, final agg),
    // each on a key that scales (content hash / lang / split).
    "q41_curation_funnel" -> { (s, d) =>
      import s.implicits._
      val docs = Tables.documents(s, d)
      // 128-bit dedup keeper key (the q23 doctrine, r18): a keeper
      // chosen under a birthday-colliding narrow key silently DROPS
      // the colliding doc from the published corpus. The narrow fp
      // stays only where it is a SAMPLING bucket (the split pmod).
      val keepers = docs
        .groupBy(TextOps.fingerprintHi($"text").as("fp_hi"),
          TextOps.fingerprintLo($"text").as("fp_lo"))
        .agg(min($"doc_id").as("doc_id"))
        .select($"doc_id")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"lang").orderBy($"quality".desc, $"doc_id")
      val quota = docs
        .join(keepers, "doc_id") // dedup survivors only
        .select($"doc_id", $"lang", $"text",
          graft.ops.expressions.TextStats($"text").getField("quality").as("quality"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 50)
      quota
        .select($"lang",
          when(pmod(TextOps.fingerprint($"text"), lit(10L)) < 8, "train")
            .when(pmod(TextOps.fingerprint($"text"), lit(10L)) === 8, "val")
            .otherwise("test").as("split"))
        .groupBy($"split", $"lang")
        .agg(count(lit(1)).as("n_docs"))
        .orderBy($"split", $"lang")
    },

    // Text analysis (builder brief): language-ID heuristic, quality
    // Malformed-record quarantine (q28's JSON parse made total): a
    // deterministic 1-in-7 of the JSON payloads is TRUNCATED
    // in-query, and the pipeline must classify instead of crash —
    // at 100 TB poison records are a certainty and one throwing row
    // kills the job (the ANSI posture TextStats takes for text,
    // applied to JSON). Spark's lenient get_json_object yields NULL
    // on truncation, the oracle guards with json_valid; the two
    // agree on truncation, which is the corruption derived here
    // (they diverge on trailing garbage — Spark accepts, json_valid
    // rejects — so the quarantine rule is pinned to the parse the
    // engine actually runs). Narrow map + one small agg: nothing
    // shuffles but the per-type counters.
    "q84_json_quarantine" -> { (s, d) =>
      import s.implicits._
      Tables.events(s, d)
        .select($"event_id", $"event_type",
          when($"event_id" % 7 === 0,
            substr($"props", lit(1), length($"props") - 1))
            .otherwise($"props").as("pj"))
        .withColumn("k", get_json_object($"pj", "$.k").cast("bigint"))
        .groupBy($"event_type")
        .agg(count(lit(1)).as("n"),
          count($"k").as("n_good"),
          sum(when($"k".isNull, lit(1L)).otherwise(lit(0L))).as("n_quarantined"),
          sum($"k").as("sum_k"))
        .orderBy($"event_type")
    },

    // The multimodal FRAME-SAMPLE stage's manifest, oracle-gated
    // (completing the trio: q32 features, q88 resize): every 2nd
    // 256-byte block of each video payload as a stub frame — the
    // 1-row→N-frames explode shape a real decoder drives. Counts and
    // byte totals check against the oracle's text-substring twin
    // (payload := utf8 of ASCII text, so byte and char offsets
    // coincide).
    "q89_frame_sample" -> { (s, d) =>
      import s.implicits._
      val media = graft.multimodal.Multimodal.mediaFromDocuments(s, d)
      graft.multimodal.Multimodal.sampleFrames(media, everyK = 2)
        .groupBy($"media_id")
        .agg(count(lit(1)).as("n_frames"),
          sum(length($"frame_bytes")).cast("bigint").as("frame_bytes"))
        .orderBy($"media_id")
    },

    // Product-quantization ANN (third ANN scale path, next to q30's
    // LSH and q33's IVF): vectors encode to PqM sub-space centroid
    // codes (argmin L2 per sub-space against a deterministic
    // codebook — a stand-in for the k-means codebook a production
    // index trains), then queries rank candidates by asymmetric
    // distance (ADC: query sub-vector vs the candidate's CODE
    // centroid — the candidate's floats are never read at query
    // time). Scale story: the encoded table is PqM bytes/vector
    // instead of MergeDim floats (64× here) — the form in which a
    // billion-vector index fits in RAM; the codebook is driver
    // state, broadcast like q33's centroids. All arithmetic is
    // fixed-order double folds, so ranks hash-match the oracle.
    "q78_pq_ann" -> { (s, d) =>
      import s.implicits._
      val enc = Tables.embeddings(s, d)
        .select($"vec_id", transform($"embedding", v => v.cast("double")).as("x"))
        // codegen kernel (PqEncode ≡ the HOF argmin reference,
        // PropertySpec-pinned; first minimum on ties, matching
        // list_position in the oracle)
        .withColumn("codes",
          graft.ops.expressions.PqEncode($"x", PqM, PqK, PqSub))
      val qs = broadcast(enc.filter($"vec_id" < 3)
        .select($"vec_id".as("query_id"), $"x".as("qx")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"adc", $"vec_id")
      enc.select($"vec_id", $"codes")
        .crossJoin(qs)
        .select($"query_id", $"vec_id", pqAdc($"qx", $"codes").as("adc"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"query_id", $"vec_id",
          floor($"adc" * lit(1000000.0) + lit(0.5)).cast("bigint").as("adc_u"),
          $"rn".cast("bigint").as("rn"))
        .orderBy($"query_id", $"rn")
    },

    // IVF+PQ composed (the billion-vector serving shape q33 and q78
    // each demonstrate half of): the TRAINED coarse quantizer routes
    // every vector to an inverted list (cell), vectors store only
    // the PqM-byte PQ codes of their RESIDUAL x − centroid(cell)
    // (the canonical IVFADC form: residuals have far lower variance
    // than raw vectors, so the same code budget quantizes finer),
    // and a query probes its ivfNprobeFor best cells (cell ranking =
    // the same cosine the quantizer assigns by; the probe is an
    // equi-join on cell id, exactly q33's), shortlisting candidates
    // by ADC between the QUERY's residual against that cell and the
    // candidate's code centroids, then EXACT-reranking the CONSTANT
    // top rerankDepthFor(5) (the refine step — FAISS IndexRefineFlat
    // / ScaNN reorder; see ivfPq). At 100 TB this is the IVF-PQ layout FAISS
    // serves from RAM: codes far smaller than floats, probe cost
    // nprobe·|cell| not |corpus|, codebooks broadcast driver state,
    // refine a bounded id-join. Residual subtraction is elementwise
    // (zip_with ≡ the oracle's indexed list_transform — bit-exact).
    "q90_ivf_pq" -> { (s, d) => ivfPq(s, d) },

    // SemDeDup (Abbas et al. 2023, public): SEMANTIC deduplication
    // in embedding space — k-means clusters the corpus, and only
    // WITHIN-cluster pairs are compared, so the pairwise cosine work
    // is n·c/2 (c = cluster size) instead of n²/2: the published
    // way to near-dedup billion-example embedding corpora (LAION at
    // 50k clusters). Complements the TEXT near-dup family: q23/q24
    // /q29/q34 catch lexical overlap; SemDeDup catches semantic
    // duplicates that share no tokens. The cluster stage is exactly
    // q33's trained coarse quantizer (seeded-sample Lloyd's k-means,
    // oracle replays training CTE-for-round); the drop rule is
    // deterministic keep-first: v drops iff some u < v in its
    // cluster has cosine ≥ SemTau (the paper keeps per-pair
    // survivors too, choosing by centroid distance; min-id is the
    // tie-stable equivalent — documented deviation). Output is the
    // per-cluster dedup report. Scale shape: assignment is one
    // narrow kernel pass; the pair join equi-joins ON cell (cells
    // are independent — embarrassingly parallel, AQE-splittable);
    // the drop-set join back is id-only. nlist scales with √n
    // (ivfCellsFor — q90/AnnIndex's production sizing, and the
    // oracle derives the same geometry from the corpus in SQL), so
    // per-cluster pairwise work stays CONSTANT as the corpus grows
    // and the total is the published n·√n/2. SemTau is a demo
    // threshold: the
    // synthetic embeddings are near-isotropic (max pairwise cosine
    // 0.60 at sf0.1), so the "duplicate" band sits lower than the
    // 0.9+ a real embedding model would warrant (OverflowTokens'
    // testdata argument).
    "q104_semdedup" -> { (s, d) =>
      semDedup(Tables.embeddings(s, d), SemTau, Some(Stages.ivfQuantizer.get(s, d))) },

    // Semantic outlier detection — SemDeDup's companion filter (the
    // same paper prunes "semantically redundant" AND flags
    // low-cluster-affinity points; corrupt embeddings, encoder
    // failures, and out-of-distribution content all surface as
    // vectors far from every centroid). Reuses q104's trained
    // dynamic-geometry quantizer: each vector's cosine to its OWN
    // centroid is its cluster affinity, and the per-cell bottom-
    // OutlierK affinity list is the review shortlist a curation run
    // publishes. Scale shape: one narrow kernel pass (CosineSim
    // against the broadcast centroid literal), then a per-cell
    // bottom-k that WindowTopKRewrite plans onto the bounded-heap
    // TopKPerKey operator — no sort of the corpus, no shuffle of
    // vectors beyond the rank's (cell, cos, id) rows.
    "q108_embed_outliers" -> { (s, d) =>
      embedOutliers(Tables.embeddings(s, d), OutlierK,
        Some(Stages.ivfQuantizer.get(s, d))) },

    // Corpus cartography (the "what is IN my corpus" map a curation
    // team reads first — the Nomic-Atlas/embedding-atlas style
    // report, integerized): one row per trained-quantizer cell with
    // occupancy (n, share), the dominant class and its purity, and
    // cohesion (mean cosine affinity to the cell's own centroid).
    // Low-purity cells show class overlap; low-cohesion cells are
    // diffuse regions (q108's outliers tell you WHICH vectors);
    // share × cells is the same balance telemetry AnnIndex.stats
    // publishes for serving. Reuses the SHARED √n-cell quantizer
    // memo (`Stages.ivfQuantizer` — one training per corpus) and q108's NaN→−2 sentinel. Scale shape:
    // ONE kernel pass (assign + own-centroid cosine), two
    // map-side-combined aggregates over (cell[, label]) id-width
    // rows — ≤ nlist·classes intermediate rows FOREVER; the dominant
    // label is the skew-immune min(struct) argmax, never a per-row
    // window; the 1-row total broadcasts (intentional BNLJ, plan
    // audit allowlist).
    "q115_corpus_map" -> { (s, d) =>
      import s.implicits._
      corpusMap(Tables.embeddings(s, d)
        .select($"vec_id", $"label", $"embedding"),
        Some(Stages.ivfQuantizer.get(s, d)))
    },

    // Late-interaction (multi-vector) retrieval — ColBERT's MaxSim
    // scoring (Khattab & Zaharia 2020, public) over per-CHUNK
    // vectors: score(q, d) = Σ_{query chunks} max_{doc chunks}
    // cos(qc, dc). Single-vector retrieval (q25/q30/q33/q90) pools a
    // document to one point and loses which PART matched; late
    // interaction keeps a vector per chunk and lets each query chunk
    // pick its best-matching document chunk — the retrieval paradigm
    // between bi-encoders and cross-encoders. Chunk vectors reuse
    // q21's tokenize→chunk→HashEmbed device; queries are the first 3
    // documents' chunk sets (the q25/q33 query convention). Scale
    // shape: the tiny query-chunk set broadcasts against the chunk
    // scan (q25's intentional BNLJ — each doc-chunk row scores all
    // query chunks in one codegen pass); the MaxSim max and the
    // per-(query, doc) sum are BOTH map-side-combined hash
    // aggregates (each max micro-rounds to int64 BEFORE the sum, so
    // the double addition order never matters); the final rank rides
    // TopKPerKey. Nothing shuffles text or vectors — only
    // (query, doc, qi, cos-micro) rows.
    "q109_late_interaction" -> { (s, d) =>
      import s.implicits._
      val chunks = Tables.documents(s, d)
        .repartition($"doc_id")
        .select($"doc_id", TextOps.tokens($"text").as("toks"))
        .select($"doc_id",
          posexplode(TextOps.chunksOf($"toks", ChunkTokens)).as(Seq("pos", "chunk")))
        .select($"doc_id", $"pos",
          graft.ops.expressions.HashEmbed($"chunk", EmbedDim).as("v"))
      val qcs = broadcast(chunks.filter($"doc_id" < 3)
        .select($"doc_id".as("query_id"), $"pos".as("qi"), $"v".as("qv")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"score_micro".desc, $"doc_id")
      chunks
        .join(qcs) // every doc chunk scores every query chunk
        .select($"query_id", $"qi", $"doc_id",
          graft.ops.expressions.CosineSim($"v", $"qv").as("cos"))
        .groupBy($"query_id", $"doc_id", $"qi")
        .agg(max($"cos").as("mx"))
        .groupBy($"query_id", $"doc_id")
        .agg(sum(floor($"mx" * lit(1e6) + lit(0.5)).cast("bigint"))
          .as("score_micro"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= LateTopK)
        .select($"query_id", $"rn".cast("bigint").as("rn"), $"doc_id",
          $"score_micro")
        .orderBy($"query_id", $"rn")
    },

    // Dedup-quality evaluation on a SAMPLED ground truth — the QA
    // report a curation team publishes next to its dedup run: how
    // much of the true near-dup set does the LSH candidate stage
    // actually reach (candidate recall — banding is the lossy step;
    // the jaccard verify after it is exact), and how selective are
    // the candidates (precision of the band stage before
    // verification)? Ground truth = ALL pairs of a seeded
    // EvalSampleN-doc sample with true shingle-jaccard ≥ the q24
    // threshold, computed brute-force — tractable exactly BECAUSE it
    // is sampled: the pairwise stage is EvalSampleN² forever, corpus
    // size only changes which docs the seeded permutation picks.
    // Candidates = q24's banding restricted to the same sample. The
    // truth pair join broadcasts the (tiny, bounded) sample side —
    // the intendedBnlj pattern; nothing here scales with the corpus
    // except the one sample scan.
    "q106_dedup_eval" -> { (s, d) =>
      import s.implicits._
      val samp = graft.ops.SeededSample.top(
        Tables.documents(s, d).select($"doc_id", $"text"), "doc_id", EvalSampleN)
      val sh = samp.repartition($"doc_id")
        .select($"doc_id",
          graft.ops.expressions.ShingleHashes($"text", ShingleK).as("hs"))
        .filter(size($"hs") > 0)
        .select($"doc_id", $"hs",
          graft.ops.expressions.MinHashSig($"hs", NumPerms).as("sig"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val truth = sh.as("x")
        .join(broadcast(sh.as("y")), $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"),
          (size(array_intersect($"x.hs", $"y.hs")).cast("double") /
            size(array_union($"x.hs", $"y.hs")).cast("double")).as("j"))
        .filter($"j" >= JaccardMin)
        .select($"id_a", $"id_b")
      val bands = sh.select($"doc_id",
        posexplode(bandHashes($"sig")).as(Seq("band_idx", "band_hash")))
      val cand = bands.as("x")
        .join(bands.as("y"),
          $"x.band_idx" === $"y.band_idx" &&
            $"x.band_hash" === $"y.band_hash" && $"x.doc_id" < $"y.doc_id")
        .select($"x.doc_id".as("id_a"), $"y.doc_id".as("id_b"))
        .distinct()
      // r20 (§3.1): both sides are EvalSampleN²-bounded; broadcasting
      // the truth pairs keeps the candidate side un-shuffled (was a
      // two-sided SortMergeJoin exchange).
      val hit = cand.join(broadcast(truth), Seq("id_a", "id_b"))
      def micro(num: Column, den: Column): Column =
        when(den > 0, floor(num.cast("double") / den.cast("double")
          * lit(1e6) + lit(0.5)).cast("long"))
      truth.agg(count(lit(1)).as("n_truth"))
        .crossJoin(broadcast(cand.agg(count(lit(1)).as("n_cand"))))
        .crossJoin(broadcast(hit.agg(count(lit(1)).as("n_hit"))))
        .select($"n_truth", $"n_cand", $"n_hit",
          micro($"n_hit", $"n_truth").as("recall_micro"),
          micro($"n_hit", $"n_cand").as("precision_micro"))
    },

    // PQ with TRAINED codebooks (q78's upgrade to the codebook a
    // production index trains): per sub-space, the
    // seeded sample's sub-vectors train a k=PqK codebook by
    // deterministic L2 Lloyd rounds (Kmeans.trainL2 — the sub-space
    // L2 distance IS the quantization error PQ minimizes), then
    // encode + full ADC ranking exactly as q78. Training is bounded
    // driver state (PqM small codebooks); the oracle replays all
    // PqM sub-space trainings simultaneously in one CTE chain keyed
    // on m.
    "q91_pq_trained" -> { (s, d) =>
      import s.implicits._
      val emb = Tables.embeddings(s, d)
      val sample = ivfSample(emb)
      val cb: Array[Array[Array[Double]]] = Array.tabulate(PqM) { m =>
        graft.ops.Kmeans.trainL2(
          sample.map(_.slice(m * PqSub, (m + 1) * PqSub)), PqK, PqIters)
      }
      val cbSeq: Seq[Seq[Seq[Double]]] = cb.map(_.map(_.toSeq).toSeq).toSeq
      val enc = emb
        .select($"vec_id", transform($"embedding", v => v.cast("double")).as("x"))
        .withColumn("codes", graft.ops.expressions.PqEncodeWith($"x", cb))
      val qs = broadcast(enc.filter($"vec_id" < 3)
        .select($"vec_id".as("query_id"), $"x".as("qx")))
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy($"query_id").orderBy($"adc", $"vec_id")
      enc.select($"vec_id", $"codes")
        .crossJoin(qs)
        .select($"query_id", $"vec_id", pqAdcWith($"qx", $"codes", cbSeq).as("adc"))
        .withColumn("rn", row_number().over(w))
        .filter($"rn" <= 5)
        .select($"query_id", $"vec_id",
          floor($"adc" * lit(1000000.0) + lit(0.5)).cast("bigint").as("adc_u"),
          $"rn".cast("bigint").as("rn"))
        .orderBy($"query_id", $"rn")
    },

    // score, token/sentence counts — ONE fused codegen kernel pass
    // (TextStats ≡ the four HOF columns, unit-enforced). No
    // repartition: the full-text shuffle costs more than this single
    // narrow pass saves — fan-out only pays off above ~1 s/core of
    // kernels, and the fused pass is far under that.
    "q26_text_stats" -> { (s, d) =>
      import s.implicits._
      Tables.documents(s, d)
        .select($"doc_id", $"lang",
          graft.ops.expressions.TextStats($"text").as("st"))
        .select(
          $"doc_id", $"lang",
          $"st.n_tokens".as("n_tokens"),
          $"st.n_sentences".as("n_sentences"),
          $"st.lang_pred".as("lang_pred"),
          roundFix($"st.quality", 6).as("quality"))
        .orderBy($"doc_id")
    }
  )

  /** q90's builder, nprobe-parameterized (AnnRecallSpec sweeps it;
    * the registered query uses the ivfNprobeFor policy via nprobe=0;
    * `rerankDepth` > 0 overrides the constant shortlist for sweeps).
    * Stages: trained coarse quantizer with nlist = √n cells
    * (ivfCellsFor — the AnnIndex production sizing, so the probed
    * fraction shrinks with scale) → residual-PQ encode at PqKRank
    * centroids/subspace under BOTH of each vector's two nearest
    * cells (spill-to-2 redundant assignment) → nprobe inverted-list
    * probe → per-occurrence ADC, best-of per vector → CONSTANT
    * 20·k shortlist → EXACT rerank (the refine step: an id-equi-join
    * of 20·k·|queries| rows back to the raw vectors). Round-10/11
    * history: 16-centroid ADC couldn't order candidates, so round 10
    * held recall by deepening the shortlist until it reached n/2 —
    * the rerank was doing the index's job. Round 11 moved the work
    * where it belongs: a 64-centroid ranking codebook orders
    * candidates well enough that a depth that NEVER scales with the
    * corpus (rerankDepthFor) holds the 0.85 floors at both scales. */
  private[graft] def ivfPq(s: SparkSession, d: String, nprobe: Int = 0,
                           rerankDepth: Long = 0L): DataFrame = {
    import s.implicits._
    val emb = Tables.embeddings(s, d)
    // one count() per build — index-lifecycle driver state (sizes
    // nlist and the training sample), like the sample collect; the
    // persisted AnnIndex caches the same value at build time.
    val n = emb.count()
    val ivfK = ivfCellsFor(n)
    val np = if (nprobe > 0) nprobe else ivfNprobeFor(ivfK)
    val depth =
      if (rerankDepth > 0) rerankDepth else rerankDepthFor(5).toLong
    val sampleN =
      math.min(n, math.max(IvfSampleN.toLong, IvfSamplePerCell.toLong * ivfK)).toInt
    val sample = ivfSampleSized(emb, sampleN)
    // clamp like the PQ codebook below (and semDedup): a corpus
    // smaller than the IvfKMin floor must train a smaller quantizer,
    // not crash Kmeans' samples >= k require
    val cents = graft.ops.Kmeans.train(sample,
      math.min(ivfK, sample.length), IvfIters)
    val centsSeq: Seq[Seq[Double]] = cents.map(_.toSeq).toSeq
    def centAt(cell: Column): Column =
      element_at(typedLit(centsSeq), (cell + 1).cast("int"))
    def residual(x: Column, cell: Column): Column =
      zip_with(x, centAt(cell), (a, b) => a - b)
    // PQ codebooks train on the SAMPLE'S RESIDUALS (what they will
    // encode — q91's trainer on q90's geometry; the untrained
    // closed-form codebook measured recall@5 0.2 here, residual
    // k-means lifts it, AnnRecallSpec pins the ordering)
    val normSq = cents.map(c => c.foldLeft(0.0)((a, v) => a + v * v))
    val residSample = sample.map { x =>
      val cell = graft.ops.Kmeans.assignCell(x, cents, normSq)
      x.zip(cents(cell)).map { case (a, b) => a - b }
    }
    // RANKING codebook: PqKRank (64) centroids/subspace — the rank
    // fidelity that lets the constant 20·k shortlist hold recall.
    // Clamped to the sample size (trainL2 requires samples >= k) so
    // a tiny-but-valid corpus trains a smaller codebook instead of
    // crashing; at every gate scale the sample is >= 256.
    val pqCb: Array[Array[Array[Double]]] = Array.tabulate(PqM) { m =>
      graft.ops.Kmeans.trainL2(
        residSample.map(_.slice(m * PqSub, (m + 1) * PqSub)),
        math.min(PqKRank, residSample.length), PqIters)
    }
    val pqCbSeq: Seq[Seq[Seq[Double]]] = pqCb.map(_.map(_.toSeq).toSeq).toSeq
    val vecs = emb
      .select($"vec_id", transform($"embedding", v => v.cast("double")).as("x"))
    // Redundant assignment (spill-to-2): each vector is indexed under
    // its TWO nearest cells (ScaNN's SOAR / multi-assignment device,
    // public literature). On near-isotropic vectors the coarse
    // quantizer has little cluster structure, so single assignment
    // caps cell recall hard (measured 0.600/0.667/0.733 at nprobe
    // 2/4/8, sf0.1, depth-saturated) — a neighbor's cell simply
    // isn't probed. Spilling doubles the index (the standard trade:
    // PqM+1 small ints per copy, still ~32x smaller than raw floats)
    // and gives every neighbor two chances to land in the probed
    // set. One fused kernel pass computes both assignments
    // (IvfCells2) and a narrow explode emits the two occurrence
    // rows; codes quantize the residual wrt EACH assigned cell (the
    // IVFADC invariant). The oracle twins the runner-up as
    // argmax-after-masking-the-winner over the same score vector.
    val enc = vecs
      .select($"vec_id", $"x", explode(
        graft.ops.expressions.IvfCells2($"x", cents)).as("cell"))
      .withColumn("codes", graft.ops.expressions.PqEncodeWith(
        residual($"x", $"cell"), pqCb))
    // rank ALL cells per query by the assignment cosine, keep the
    // top nprobe — 3 queries × IvfK centroid rows, driver-free;
    // the query's residual is PER PROBED CELL
    val wc = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"sc".desc, $"cell")
    val qs = vecs.filter($"vec_id" < 3)
      .select($"vec_id".as("query_id"), $"x".as("qx"))
    val probes = broadcast(qs
      .select($"query_id", $"qx",
        posexplode(typedLit(centsSeq)).as(Seq("cell", "cvec")))
      .select($"query_id", $"qx", $"cell",
        VectorOps.cosine($"qx", $"cvec").as("sc"))
      .withColumn("cr", row_number().over(wc))
      .filter($"cr" <= np)
      .select($"query_id", $"cell", residual($"qx", $"cell").as("qrv")))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"adc", $"vec_id")
    // a vector probed through BOTH its cells appears twice — keep its
    // best ADC (skew-safe partial agg) so the shortlist rank sees one
    // row per (query, vector) and the final top-5 can't duplicate
    val shortlist = enc.select($"vec_id", $"cell", $"codes")
      .join(probes, Seq("cell")) // the inverted-list probe
      .select($"query_id", $"vec_id",
        pqAdcWith($"qrv", $"codes", pqCbSeq).as("adc0"))
      .groupBy($"query_id", $"vec_id").agg(min($"adc0").as("adc"))
      .withColumn("rn", row_number().over(w))
      .filter($"rn" <= depth)
      .select($"query_id", $"vec_id")
    // refine: exact L2 on the shortlist only (fixed-order fold —
    // dims ascending from 0.0, the oracle's list fold)
    def sq(c: Column): Column = c * c
    val d2 = aggregate(sequence(lit(0), lit(MergeDim - 1)), lit(0.0),
      (a, i) => a + sq(element_at($"x", (i + 1).cast("int")) -
        element_at($"qx", (i + 1).cast("int"))))
    val wr = org.apache.spark.sql.expressions.Window
      .partitionBy($"query_id").orderBy($"d2", $"vec_id")
    shortlist
      .join(vecs, "vec_id")
      .join(broadcast(qs), "query_id")
      .select($"query_id", $"vec_id", d2.as("d2"))
      .withColumn("rn", row_number().over(wr))
      .filter($"rn" <= 5)
      .select($"query_id", $"vec_id",
        floor($"d2" * lit(1000000.0) + lit(0.5)).cast("bigint").as("d2_u"),
        $"rn".cast("bigint").as("rn"))
      .orderBy($"query_id", $"rn")
  }

  /** Cosine in the engine's fixed operation order (dot folded over
    * dims ascending, then /sqrt/sqrt — VectorOps.cosine's twin). */
  private def sqlCos(a: String, b: String): String =
    s"${Sql.dot(a, b)} / sqrt(${Sql.dot(a, a)}) / sqrt(${Sql.dot(b, b)})"

  // shared oracle fragments for the PQ family (q78/q90/q91)
  private def sqlSqDiff(a: String, b: String) = s"($a - $b) * ($a - $b)"
  private def sqlFold(l: String) =
    s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (a, b) -> a + b)"
  private def sqlL2(v: String, c: String) = sqlFold(
    s"list_transform(range(0, $PqSub), i -> ${sqlSqDiff(s"$v[i + 1]", s"$c[i + 1]")})")
  private def sqlArgmin(scores: String) =
    s"list_position($scores, list_reduce($scores, " +
      s"(p, q) -> CASE WHEN q < p THEN q ELSE p END)) - 1"

  /** Force every CTE in `sql` to evaluate ONCE (`AS MATERIALIZED`):
    * DuckDB inlines plain CTEs per reference, and the unrolled Lloyd
    * chains reference each round from the next round AND its
    * assignment — 2^iters re-evaluations. Inlined, the PqKRank=64
    * trainer replay took minutes; materialized, the whole q90 oracle
    * runs in ~3 s. Purely an evaluation hint — results unchanged. */
  private def materializeCtes(sql: String): String =
    graft.ops.Determinism.Oracles.materializeCtes(sql)

  /** Oracle twin of Kmeans.trainL2 per subspace (q90/q91): expects a
    * CTE `subsamp(vec_id, m, sv)` of sample sub-vectors; emits
    * pc0 → pc$PqIters (all PqM trainings in one chain keyed on m,
    * first-k init, argmin-L2 first-wins, in-order mean folds,
    * emptied cell keeps its centroid). */
  private lazy val PqTrainOracleCtes: String = pqTrainOracleCtes(PqK)

  /** Parameterized on the per-subspace centroid count: q91 replays
    * the PqK=16 demo training, q90 the PqKRank=64 ranking
    * codebook. */
  private def pqTrainOracleCtes(pqK: Int): String = {
    val rounds = (1 to PqIters).map { t =>
      s"""pa$t AS (
         |  SELECT m, vec_id, sv, ${sqlArgmin("scores")} AS cell
         |  FROM (SELECT m, vec_id, sv,
         |          list_transform(cs, c -> ${sqlL2("sv", "c")}) AS scores
         |        FROM subsamp JOIN pc${t - 1} USING (m))),
         |pm$t AS (
         |  SELECT m, cell, count(*) AS n,
         |    list_reduce(list(sv ORDER BY vec_id),
         |      (u, v) -> list_transform(u, (e, i) -> e + v[i])) AS sv_sum
         |  FROM pa$t GROUP BY m, cell),
         |pc$t AS (
         |  SELECT pc.m,
         |    list(coalesce(list_transform(sv_sum, e -> e / n), cs[j + 1])
         |         ORDER BY j) AS cs
         |  FROM pc${t - 1} pc CROSS JOIN range(0, $pqK) r(j)
         |  LEFT JOIN pm$t ON pm$t.m = pc.m AND pm$t.cell = r.j
         |  GROUP BY pc.m, pc.cs)""".stripMargin
    }.mkString(",\n")
    s"""pc0 AS (SELECT m, (list(sv ORDER BY vec_id))[1:$pqK] AS cs
       |        FROM subsamp GROUP BY m),
       |$rounds""".stripMargin
  }

  /** Oracle twin of Kmeans.train + IvfCell, shared by q33/q90: c0 =
    * first-IvfK init (vec_id order) over the seeded sample, then IvfIters
    * unrolled Lloyd rounds (assign: argmax-cosine with first-wins
    * ties via list_reduce strict-> max + list_position first index;
    * update: in-order list_reduce elementwise sum, one divide —
    * Kmeans.train's exact fold; an emptied cell keeps its previous
    * centroid — LEFT JOIN + coalesce ↔ the trainer's mine.isEmpty
    * branch), ending at `asg(vec_id, v, cell)`: the FULL table
    * assigned against the trained codebook. */
  private lazy val IvfOracleCtes: String = {
    val rounds = (1 to IvfIters).map { t =>
      s"""a$t AS (
         |  SELECT vec_id, x,
         |    list_position(scores, list_reduce(scores,
         |      (p, q) -> CASE WHEN q > p THEN q ELSE p END)) - 1 AS cell
         |  FROM (SELECT vec_id, x,
         |          list_transform(cs, c -> ${sqlCos("x", "c")}) AS scores
         |        FROM samp, c${t - 1})),
         |m$t AS (
         |  SELECT cell, count(*) AS n,
         |    list_reduce(list(x ORDER BY vec_id),
         |      (u, v) -> list_transform(u, (e, i) -> e + v[i])) AS sv
         |  FROM a$t GROUP BY cell),
         |c$t AS (
         |  SELECT list(coalesce(list_transform(sv, e -> e / n), cs[j + 1])
         |              ORDER BY j) AS cs
         |  FROM c${t - 1} CROSS JOIN range(0, $IvfK) r(j)
         |  LEFT JOIN m$t ON m$t.cell = r.j)""".stripMargin
    }.mkString(",\n")
    s"""samp AS (
       |  SELECT vec_id, x FROM ${sqlSamp(
            "(SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings)")}),
       |c0 AS (SELECT (list(x ORDER BY vec_id))[1:$IvfK] AS cs FROM samp),
       |$rounds,
       |scored AS (
       |  SELECT vec_id, v,
       |    list_transform(cs, c -> ${sqlCos("v", "c")}) AS scores
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), c$IvfIters),
       |asg AS (
       |  SELECT vec_id, v,
       |    list_position(scores,
       |      list_reduce(scores, (x, y) -> CASE WHEN y > x THEN y ELSE x END)) - 1 AS cell
       |  FROM scored)""".stripMargin
  }

  /** q90's DYNAMIC-geometry twin of [[IvfOracleCtes]]: same Lloyd
    * chain, but nlist = clamp(√n) (ivfCellsFor), the sample scaled
    * at IvfSamplePerCell·nlist (ivfSampleSized), and nprobe =
    * max(4, 2·ceil(√nlist)) (ivfNprobeFor) are all DERIVED FROM THE
    * CORPUS inside SQL (`kk`), so the oracle replays the
    * production-sizing policy rather than a baked constant. `kk`
    * also clamps k to the sample size (least(k, sampn)), mirroring
    * the Spark side's min(ivfK, sample.length) — without it a
    * sub-IvfKMin corpus would grow NULL centroid slots over the
    * Lloyd rounds while Spark trains min(k, sample) centroids; np
    * stays derived from the UNCLAMPED k on both sides. `cellid`
    * stands in for range(0, nlist): a constant range over the k cap
    * filtered by the derived k (DuckDB table functions want constant
    * bounds). Ends at `asg` like the static chain. */
  private lazy val IvfOracleCtesDyn: String = {
    val rounds = (1 to IvfIters).map { t =>
      s"""a$t AS (
         |  SELECT vec_id, x,
         |    list_position(scores, list_reduce(scores,
         |      (p, q) -> CASE WHEN q > p THEN q ELSE p END)) - 1 AS cell
         |  FROM (SELECT vec_id, x,
         |          list_transform(cs, c -> ${sqlCos("x", "c")}) AS scores
         |        FROM samp, c${t - 1})),
         |m$t AS (
         |  SELECT cell, count(*) AS n,
         |    list_reduce(list(x ORDER BY vec_id),
         |      (u, v) -> list_transform(u, (e, i) -> e + v[i])) AS sv
         |  FROM a$t GROUP BY cell),
         |c$t AS (
         |  SELECT list(coalesce(list_transform(sv, e -> e / n), cs[j + 1])
         |              ORDER BY j) AS cs
         |  FROM c${t - 1} CROSS JOIN cellid r(j)
         |  LEFT JOIN m$t ON m$t.cell = r.j)""".stripMargin
    }.mkString(",\n")
    s"""nn AS (SELECT count(*) AS n FROM embeddings),
       |kk AS (SELECT least(k, sampn) AS k, sampn,
       |         greatest($IvfNprobe, 2 * CAST(ceil(sqrt(k)) AS INT)) AS np
       |       FROM (SELECT k,
       |               least(n, greatest($IvfSampleN, $IvfSamplePerCell * k)) AS sampn
       |             FROM (SELECT n, greatest($IvfKMin,
       |               least($IvfKMax, CAST(floor(sqrt(n)) AS INT))) AS k
       |             FROM nn))),
       |cellid AS (SELECT j FROM range(0, $IvfKMax) t(j)
       |           WHERE j < (SELECT k FROM kk)),
       |samp AS (
       |  SELECT vec_id, x FROM (
       |    SELECT vec_id, x, row_number() OVER (ORDER BY
       |        ((vec_id % ${graft.ops.SeededSample.Mod}) *
       |         ${graft.ops.SeededSample.Mult}) %
       |        ${graft.ops.SeededSample.Mod}, vec_id) AS rk
       |    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings))
       |  WHERE rk <= (SELECT sampn FROM kk)),
       |c0 AS (SELECT list_slice(list(x ORDER BY vec_id), 1,
       |               (SELECT k FROM kk)) AS cs FROM samp),
       |$rounds,
       |scored AS (
       |  SELECT vec_id, v,
       |    list_transform(cs, c -> ${sqlCos("v", "c")}) AS scores
       |  FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings), c$IvfIters),
       |asg AS (
       |  SELECT vec_id, v,
       |    list_position(scores,
       |      list_reduce(scores, (x, y) -> CASE WHEN y > x THEN y ELSE x END)) - 1 AS cell
       |  FROM scored)""".stripMargin
  }

  val oracles: Map[String, String] = {
    val toks = Sql.toks("text")
    Map(
      "q84_json_quarantine" ->
        s"""WITH d AS (SELECT event_id, event_type,
           |             CASE WHEN event_id % 7 = 0
           |               THEN substr(props, 1, length(props) - 1)
           |               ELSE props END AS pj
           |           FROM events),
           |p AS (SELECT event_type,
           |        CASE WHEN json_valid(pj)
           |          THEN CAST(json_extract_string(pj, '$$.k') AS BIGINT) END AS k
           |      FROM d)
           |SELECT event_type, count(*) AS n, count(k) AS n_good,
           |  CAST(sum(CASE WHEN k IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_quarantined,
           |  CAST(sum(k) AS BIGINT) AS sum_k
           |FROM p GROUP BY 1 ORDER BY 1""".stripMargin,

      "q78_pq_ann" -> {
        // (a-b)*(a-b) with the subtraction spelled twice — NOT
        // pow(a-b, 2): libm pow is not guaranteed bit-equal to the
        // explicit product
        def sqDiff(a: String, b: String) = s"($a - $b) * ($a - $b)"
        val fold = (l: String) =>
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (a, b) -> a + b)"
        s"""WITH cb AS (SELECT list_transform(range(0, $PqM), m ->
           |    list_transform(range(0, $PqK), j ->
           |      list_transform(range(0, $PqSub), i ->
           |        CAST(((m*$PqK + j)*$PqSub + i + 1) * $PermMult % $HashMod AS DOUBLE)
           |          / 1000000007.0 * 2.0 - 1.0))) AS cb),
           |e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
           |d AS (SELECT vec_id, x,
           |        list_transform(range(0, $PqM), m ->
           |          list_transform(range(0, $PqK), j ->
           |            ${fold(s"list_transform(range(0, $PqSub), i -> " +
                          sqDiff(s"x[m*$PqSub + i + 1]", "cb[m+1][j+1][i+1]") + ")")}))
           |          AS dd
           |      FROM e, cb),
           |enc AS (SELECT vec_id,
           |          list_transform(range(1, ${PqM + 1}), m ->
           |            list_position(dd[m], list_min(dd[m])) - 1) AS codes
           |        FROM d),
           |q AS (SELECT vec_id AS query_id, x AS qx FROM e WHERE vec_id < 3),
           |s AS (SELECT q.query_id, enc.vec_id,
           |        ${fold(s"list_transform(range(0, $PqM), m -> " +
                      fold(s"list_transform(range(0, $PqSub), i -> " +
                        sqDiff(s"qx[m*$PqSub + i + 1]",
                               s"cb[m+1][codes[m+1]+1][i+1]") + ")") + ")")} AS adc
           |      FROM enc, q, cb),
           |r AS (SELECT query_id, vec_id, adc,
           |        row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |      FROM s)
           |SELECT query_id, vec_id,
           |  CAST(floor(adc*1000000.0 + 0.5) AS BIGINT) AS adc_u, rn
           |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin
      },

      "q91_pq_trained" ->
        // Twin of Kmeans.trainL2 (PqTrainOracleCtes — per sub-space,
        // all PqM trainings in one CTE chain keyed on m) +
        // PqKernel.encodeWith + the ADC fold (per-subspace partials
        // folded in m order from 0.0 — pqAdcWith's nested-aggregate
        // structure).
        materializeCtes(s"""WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS x FROM embeddings),
           |samp AS (SELECT vec_id, x FROM ${sqlSamp("e")}),
           |subsamp AS (SELECT vec_id, r.m AS m,
           |              list_slice(x, r.m * $PqSub + 1, r.m * $PqSub + $PqSub) AS sv
           |            FROM samp CROSS JOIN range(0, $PqM) r(m)),
           |$PqTrainOracleCtes,
           |sube AS (SELECT vec_id, r.m AS m,
           |           list_slice(x, r.m * $PqSub + 1, r.m * $PqSub + $PqSub) AS sv
           |         FROM e CROSS JOIN range(0, $PqM) r(m)),
           |easg AS (
           |  SELECT m, vec_id, ${sqlArgmin("scores")} AS cell
           |  FROM (SELECT m, vec_id,
           |          list_transform(cs, c -> ${sqlL2("sv", "c")}) AS scores
           |        FROM sube JOIN pc$PqIters USING (m))),
           |q AS (SELECT vec_id AS query_id, x AS qx FROM e WHERE vec_id < 3),
           |part AS (
           |  SELECT q.query_id, a.vec_id, a.m,
           |    ${sqlFold(s"list_transform(range(0, $PqSub), i -> " +
                  sqlSqDiff(s"qx[a.m * $PqSub + i + 1]", "cs[a.cell + 1][i + 1]") + ")")} AS partial
           |  FROM easg a JOIN pc$PqIters USING (m) CROSS JOIN q),
           |s AS (SELECT query_id, vec_id,
           |        ${sqlFold("list(partial ORDER BY m)")} AS adc
           |      FROM part GROUP BY query_id, vec_id),
           |r AS (SELECT query_id, vec_id, adc,
           |        row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |      FROM s)
           |SELECT query_id, vec_id,
           |  CAST(floor(adc*1000000.0 + 0.5) AS BIGINT) AS adc_u, rn
           |FROM r WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin),

      "q20_token_overflow" ->
        s"""SELECT doc_id, n_chars, len($toks) AS token_count
           |FROM documents
           |WHERE n_chars > $OverflowTokens AND len($toks) > $OverflowTokens
           |ORDER BY doc_id""".stripMargin,

      "q23_dedup_exact" ->
        s"""SELECT ${Sql.fpHi("text")} AS fp_hi, ${Sql.fpLo("text")} AS fp_lo,
           |  min(doc_id) AS keeper_id, count(*) AS n_copies
           |FROM documents GROUP BY fp_hi, fp_lo ORDER BY keeper_id""".stripMargin,

      "q21_chunk_pool" -> {
        val sum = (l: String) =>
          s"list_reduce(list_prepend(CAST(0.0 AS DOUBLE), $l), (x, y) -> x + y)"
        val pooledList =
          s"list_transform(range(0, $EmbedDim), i -> " +
            s"${sum(s"list_transform(range(1, n_chunks+1), j -> embs[j][i+1]*ws[j])")} / ${sum("ws")})"
        s"""WITH c AS (SELECT doc_id, ${Sql.chunks("text", ChunkTokens)} AS chs FROM documents
           |           WHERE len(${Sql.toks("text")}) > 0),
           |e AS (SELECT doc_id,
           |        list_transform(chs, ch -> ${Sql.embed("ch", EmbedDim)}) AS embs,
           |        list_transform(chs, ch -> CAST(len(ch) AS DOUBLE)) AS ws,
           |        len(chs) AS n_chunks
           |      FROM c)
           |SELECT doc_id,
           |  ${Sql.vecCsv(pooledList, "1000000.0")} AS pooled,
           |  n_chunks
           |FROM e ORDER BY doc_id""".stripMargin
      },

      "q22_merge" ->
        // Literal weights mirror the Scala plan-build arithmetic:
        // lit(0.2) and lit(1.0 - 0.2) — the SQL computes the SAME
        // IEEE subtraction rather than parsing "0.8" (different bits).
        s"""SELECT d.doc_id AS id,
           |  ${Sql.vecCsv(
                s"""list_concat(
                   |    list_transform(${Sql.embed("d.text", MergeDim)}, x -> x*CAST(0.2 AS DOUBLE)),
                   |    list_transform(CAST(e.embedding AS DOUBLE[]),
                   |                   x -> x*(CAST(1.0 AS DOUBLE)-CAST(0.2 AS DOUBLE))))""".stripMargin,
                "1000000000.0")} AS merged
           |FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
           |ORDER BY id""".stripMargin,

      // NB: this twin replays the UNCAPPED all-pairs banding. Capped
      // (star-edge) and uncapped semantics coincide exactly while
      // every band bucket holds <= BucketCap members — ClusterSpec's
      // headroom case MEASURES the gate corpus against the cap (19
      // vs 64 at sf0.1), so the oracle's validity is checked, not
      // assumed; the over-cap star path is gated by the planted
      // mega-bucket spec instead (an over-cap corpus would also make
      // this replay's pair CTE quadratic — the exact cost the cap
      // exists to avoid).
      "q24_near_dup" ->
        s"""WITH s AS (SELECT doc_id, ${Sql.shingleSet("text", ShingleK)} AS sh FROM documents),
           |h AS (SELECT doc_id, list_distinct(list_transform(sh, t -> ${Sql.polyHash("t")})) AS hs
           |      FROM s WHERE len(sh) > 0),
           |g AS (SELECT doc_id, list_transform(range(0, $NumPerms), j ->
           |        list_min(list_transform(hs, h ->
           |          (((j+1)*$PermMult % $HashMod) * h + (j*40503+1) % $HashMod) % $HashMod))) AS sig
           |      FROM h),
           |b AS (SELECT doc_id, t.b AS band_idx,
           |        list_reduce(list_prepend(CAST(0 AS BIGINT),
           |          sig[t.b*$RowsPerBand+1 : t.b*$RowsPerBand+$RowsPerBand]),
           |          (acc, v) -> (acc*31+v) % $HashMod) AS band_hash
           |      FROM g, generate_series(0, ${Bands - 1}) t(b)),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |         FROM b x JOIN b y ON x.band_idx = y.band_idx
           |           AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id)
           |SELECT id_a, id_b,
           |  CAST(len(list_intersect(a.hs, b2.hs)) AS DOUBLE)
           |    / CAST(len(list_distinct(list_concat(a.hs, b2.hs))) AS DOUBLE) AS jaccard
           |FROM cand JOIN h a ON cand.id_a = a.doc_id JOIN h b2 ON cand.id_b = b2.doc_id
           |WHERE jaccard >= $JaccardMin
           |ORDER BY id_a, id_b""".stripMargin,

      // Twin of q147: the q24 replay's pair set, re-scored with
      // DuckDB's own levenshtein builtin (both engines implement the
      // standard integer DP edit distance) and the same micro ratio.
      "q147_editdist_verify" ->
        s"""WITH s AS (SELECT doc_id, ${Sql.shingleSet("text", ShingleK)} AS sh FROM documents),
           |h AS (SELECT doc_id, list_distinct(list_transform(sh, t -> ${Sql.polyHash("t")})) AS hs
           |      FROM s WHERE len(sh) > 0),
           |g AS (SELECT doc_id, list_transform(range(0, $NumPerms), j ->
           |        list_min(list_transform(hs, h ->
           |          (((j+1)*$PermMult % $HashMod) * h + (j*40503+1) % $HashMod) % $HashMod))) AS sig
           |      FROM h),
           |b AS (SELECT doc_id, t.b AS band_idx,
           |        list_reduce(list_prepend(CAST(0 AS BIGINT),
           |          sig[t.b*$RowsPerBand+1 : t.b*$RowsPerBand+$RowsPerBand]),
           |          (acc, v) -> (acc*31+v) % $HashMod) AS band_hash
           |      FROM g, generate_series(0, ${Bands - 1}) t(b)),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |         FROM b x JOIN b y ON x.band_idx = y.band_idx
           |           AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
           |pf AS (SELECT id_a, id_b
           |       FROM cand JOIN h a ON cand.id_a = a.doc_id
           |       JOIN h b2 ON cand.id_b = b2.doc_id
           |       WHERE CAST(len(list_intersect(a.hs, b2.hs)) AS DOUBLE)
           |         / CAST(len(list_distinct(list_concat(a.hs, b2.hs))) AS DOUBLE)
           |         >= $JaccardMin),
           |e AS (SELECT pf.id_a, pf.id_b,
           |        CAST(levenshtein(da.text, db.text) AS BIGINT) AS dist,
           |        CAST(greatest(length(da.text), length(db.text)) AS BIGINT) AS max_len
           |      FROM pf JOIN documents da ON da.doc_id = pf.id_a
           |      JOIN documents db ON db.doc_id = pf.id_b)
           |SELECT id_a, id_b, dist, max_len,
           |  CASE WHEN max_len > 0
           |    THEN ((max_len - dist) * 1000000) // max_len
           |    ELSE 1000000 END AS esim_micro
           |FROM e ORDER BY id_a, id_b""".stripMargin,

      // Twin of q157: the q24 replay's pair set, re-scored with the
      // shingle-set intersections against EACH side's size — the
      // same micro integer divisions.
      "q157_containment" ->
        s"""WITH s AS (SELECT doc_id, ${Sql.shingleSet("text", ShingleK)} AS sh FROM documents),
           |h AS (SELECT doc_id, list_distinct(list_transform(sh, t -> ${Sql.polyHash("t")})) AS hs
           |      FROM s WHERE len(sh) > 0),
           |g AS (SELECT doc_id, list_transform(range(0, $NumPerms), j ->
           |        list_min(list_transform(hs, h ->
           |          (((j+1)*$PermMult % $HashMod) * h + (j*40503+1) % $HashMod) % $HashMod))) AS sig
           |      FROM h),
           |b AS (SELECT doc_id, t.b AS band_idx,
           |        list_reduce(list_prepend(CAST(0 AS BIGINT),
           |          sig[t.b*$RowsPerBand+1 : t.b*$RowsPerBand+$RowsPerBand]),
           |          (acc, v) -> (acc*31+v) % $HashMod) AS band_hash
           |      FROM g, generate_series(0, ${Bands - 1}) t(b)),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |         FROM b x JOIN b y ON x.band_idx = y.band_idx
           |           AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
           |pf AS (SELECT id_a, id_b
           |       FROM cand JOIN h a ON cand.id_a = a.doc_id
           |       JOIN h b2 ON cand.id_b = b2.doc_id
           |       WHERE CAST(len(list_intersect(a.hs, b2.hs)) AS DOUBLE)
           |         / CAST(len(list_distinct(list_concat(a.hs, b2.hs))) AS DOUBLE)
           |         >= $JaccardMin)
           |SELECT pf.id_a, pf.id_b,
           |  CAST(len(a.hs) AS BIGINT) AS n_a,
           |  CAST(len(b2.hs) AS BIGINT) AS n_b,
           |  CAST(len(list_intersect(a.hs, b2.hs)) AS BIGINT) AS n_common,
           |  (CAST(len(list_intersect(a.hs, b2.hs)) AS BIGINT) * 1000000)
           |    // CAST(len(a.hs) AS BIGINT) AS cont_ab_micro,
           |  (CAST(len(list_intersect(a.hs, b2.hs)) AS BIGINT) * 1000000)
           |    // CAST(len(b2.hs) AS BIGINT) AS cont_ba_micro
           |FROM pf JOIN h a ON pf.id_a = a.doc_id
           |JOIN h b2 ON pf.id_b = b2.doc_id
           |ORDER BY id_a, id_b""".stripMargin,

      // Twin of q106: the q24 shingle/minhash/band chain restricted
      // to the seeded sample (SeededSample's ORDER BY twin), truth by
      // brute-force pairwise jaccard, one-row metric report.
      "q106_dedup_eval" ->
        s"""WITH samp AS (SELECT doc_id, text FROM documents
           |              ORDER BY (doc_id % ${graft.ops.SeededSample.Mod}) *
           |                ${graft.ops.SeededSample.Mult} %
           |                ${graft.ops.SeededSample.Mod}, doc_id
           |              LIMIT $EvalSampleN),
           |s AS (SELECT doc_id, ${Sql.shingleSet("text", ShingleK)} AS sh FROM samp),
           |h AS (SELECT doc_id, list_distinct(list_transform(sh, t -> ${Sql.polyHash("t")})) AS hs
           |      FROM s WHERE len(sh) > 0),
           |g AS (SELECT doc_id, list_transform(range(0, $NumPerms), j ->
           |        list_min(list_transform(hs, h ->
           |          (((j+1)*$PermMult % $HashMod) * h + (j*40503+1) % $HashMod) % $HashMod))) AS sig
           |      FROM h),
           |b AS (SELECT doc_id, t.b AS band_idx,
           |        list_reduce(list_prepend(CAST(0 AS BIGINT),
           |          sig[t.b*$RowsPerBand+1 : t.b*$RowsPerBand+$RowsPerBand]),
           |          (acc, v) -> (acc*31+v) % $HashMod) AS band_hash
           |      FROM g, generate_series(0, ${Bands - 1}) t(b)),
           |cand AS (SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
           |         FROM b x JOIN b y ON x.band_idx = y.band_idx
           |           AND x.band_hash = y.band_hash AND x.doc_id < y.doc_id),
           |truth AS (SELECT x.doc_id AS id_a, y.doc_id AS id_b
           |          FROM h x JOIN h y ON x.doc_id < y.doc_id
           |          WHERE CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)
           |            / CAST(len(list_distinct(list_concat(x.hs, y.hs))) AS DOUBLE)
           |            >= $JaccardMin),
           |hit AS (SELECT t.id_a FROM truth t
           |        JOIN cand c ON c.id_a = t.id_a AND c.id_b = t.id_b),
           |m AS (SELECT
           |        (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           |        (SELECT CAST(count(*) AS BIGINT) FROM cand) AS n_cand,
           |        (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit)
           |SELECT n_truth, n_cand, n_hit,
           |  CASE WHEN n_truth > 0 THEN CAST(floor(CAST(n_hit AS DOUBLE)
           |    / CAST(n_truth AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) END AS recall_micro,
           |  CASE WHEN n_cand > 0 THEN CAST(floor(CAST(n_hit AS DOUBLE)
           |    / CAST(n_cand AS DOUBLE) * 1000000.0 + 0.5) AS BIGINT) END AS precision_micro
           |FROM m""".stripMargin,

      "q25_topk_cosine" ->
        s"""WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv
           |           FROM embeddings WHERE vec_id < 3),
           |c AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS cv FROM embeddings),
           |sc AS (SELECT query_id, vec_id,
           |         ${Sql.dot("qv", "cv")} / sqrt(${Sql.dot("qv", "qv")})
           |           / sqrt(${Sql.dot("cv", "cv")}) AS cos
           |       FROM q, c),
           |r AS (SELECT query_id, vec_id, cos,
           |        row_number() OVER (PARTITION BY query_id
           |                           ORDER BY cos DESC, vec_id) AS rn
           |      FROM sc)
           |SELECT query_id, vec_id, cos, rn FROM r WHERE rn <= 10
           |ORDER BY query_id, rn""".stripMargin,

      "q27_event_windows" ->
        // Spark window("1 day").start == UTC midnight floor ==
        // DuckDB date_trunc under the UTC session.
        s"""SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS win_day, event_type,
           |  count(*) AS n, ${Oracles.fsum("value")} AS total_value
           |FROM events GROUP BY win_day, event_type
           |ORDER BY win_day, event_type""".stripMargin,

      "q35_session_windows" ->
        // Sessionize exactly as Spark's session_window does: a new
        // session starts when the gap to the previous event is
        // >= 1h (merge is strict <); end = last event + gap.
        s"""WITH e AS (SELECT user_id, CAST(epoch_ms(ts) AS BIGINT) AS ms FROM events),
           |x AS (SELECT user_id, ms,
           |        CASE WHEN lag(ms) OVER w IS NULL
           |               OR ms - lag(ms) OVER w >= 3600000 THEN 1 ELSE 0 END AS ns
           |      FROM e WINDOW w AS (PARTITION BY user_id ORDER BY ms)),
           |y AS (SELECT user_id, ms,
           |        sum(ns) OVER (PARTITION BY user_id ORDER BY ms
           |                      ROWS UNBOUNDED PRECEDING) AS sid
           |      FROM x)
           |SELECT user_id, min(ms) AS start_ms, max(ms) + 3600000 AS end_ms,
           |  count(*) AS n_events
           |FROM y GROUP BY user_id, sid
           |ORDER BY user_id, start_ms""".stripMargin,

      "q36_asof_join" ->
        s"""WITH oagg AS (SELECT o_custkey AS k,
           |    CAST(epoch_ms(o_orderdate) AS BIGINT) AS t,
           |    ${Oracles.fsum("o_totalprice")} AS day_total
           |  FROM orders GROUP BY 1, 2),
           |e AS (SELECT event_id, user_id AS k,
           |        CAST(epoch_ms(ts) AS BIGINT) AS t FROM events)
           |SELECT e.event_id, e.k AS user_id, o.day_total AS asof_total
           |FROM e ASOF LEFT JOIN oagg o ON e.k = o.k AND e.t >= o.t
           |ORDER BY event_id""".stripMargin,

      "q66_asof_forward" ->
        s"""WITH oagg AS (SELECT o_custkey AS k,
           |    CAST(epoch_ms(o_orderdate) AS BIGINT) AS t,
           |    ${Oracles.fsum("o_totalprice")} AS day_total
           |  FROM orders GROUP BY 1, 2),
           |e AS (SELECT event_id, user_id AS k,
           |        CAST(epoch_ms(ts) AS BIGINT) AS t FROM events)
           |SELECT e.event_id, e.k AS user_id, o.day_total AS next_total
           |FROM e ASOF LEFT JOIN oagg o ON e.k = o.k AND e.t <= o.t
           |ORDER BY event_id""".stripMargin,

      "q37_range_join" ->
        // the oracle states the range join DIRECTLY as an inequality
        // join — fine at oracle scale, and it proves the bucketed
        // rewrite loses/duplicates nothing
        s"""WITH e AS (SELECT user_id AS k, CAST(epoch_ms(ts) AS BIGINT) AS t FROM events),
           |iv AS (SELECT k, t // 86400000 AS day, min(t) AS start_ms,
           |         min(t) + 21600000 AS end_ms
           |       FROM e GROUP BY 1, 2)
           |SELECT iv.k AS user_id, iv.day, count(*) AS n_events
           |FROM iv JOIN e ON iv.k = e.k AND e.t >= iv.start_ms AND e.t < iv.end_ms
           |GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin,

      "q42_quantiles" -> {
        def q(p: String): String = {
          val idx = s"(CAST(n - 1 AS DOUBLE) * $p)"
          val vlo = s"vs[CAST(floor($idx) AS BIGINT) + 1]"
          val vhi = s"vs[CAST(ceil($idx) AS BIGINT) + 1]"
          s"$vlo + ($vhi - $vlo) * ($idx - floor($idx))"
        }
        s"""WITH g AS (SELECT event_type, list_sort(list(value)) AS vs,
           |             count(*) AS n
           |           FROM events WHERE value IS NOT NULL GROUP BY 1)
           |SELECT event_type, n,
           |  ${Oracles.fround(q("0.5"), 6)} AS p50,
           |  ${Oracles.fround(q("0.95"), 6)} AS p95
           |FROM g ORDER BY event_type""".stripMargin
      },

      "q28_json_props" ->
        s"""SELECT event_id, event_type,
           |  CAST(json_extract_string(props, '$$.k') AS BIGINT) AS k
           |FROM events
           |WHERE CAST(json_extract_string(props, '$$.k') AS BIGINT) > 50
           |ORDER BY event_id""".stripMargin,

      "q29_simhash_dedup" -> {
        // Twin of SimHashKernel.bands: bit i = band*16+pos set iff
        // Σ(((a_i·h+b_i) mod P) & 1)·2−1 > 0.
        val bandsSql =
          s"""list_transform(range(0, 4), b ->
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range(0, 16), p ->
             |      (CASE WHEN list_reduce(list_prepend(CAST(0 AS BIGINT),
             |        list_transform(hs, h ->
             |          ((((b*16+p+1)*$PermMult % $HashMod) * h
             |            + ((b*16+p)*40503+1) % $HashMod) % $HashMod & 1) * 2 - 1)),
             |        (acc, v) -> acc + v) > 0
             |       THEN (CAST(1 AS BIGINT) << p) ELSE 0 END))),
             |    (acc2, v2) -> acc2 + v2))""".stripMargin
        s"""WITH bsrc AS (
           |  SELECT doc_id, $bandsSql AS bands
           |  FROM (SELECT doc_id,
           |          list_transform(${Sql.toks("text")}, t -> ${Sql.polyHash("t")}) AS hs
           |        FROM documents)),
           |e AS (SELECT doc_id, t.b AS band_idx, bands[t.b+1] AS band_val
           |      FROM bsrc, generate_series(0, 3) t(b)),
           |stats AS (SELECT band_idx, band_val, count(*) AS m, min(doc_id) AS hub_id
           |          FROM e GROUP BY band_idx, band_val HAVING count(*) > 1),
           |small AS (SELECT e.doc_id, e.band_idx, e.band_val
           |          FROM e JOIN stats s ON e.band_idx = s.band_idx
           |            AND e.band_val = s.band_val
           |          WHERE s.m <= $BucketCap),
           |cand AS (SELECT DISTINCT id_a, id_b FROM (
           |          SELECT x.doc_id AS id_a, y.doc_id AS id_b
           |          FROM small x JOIN small y ON x.band_idx = y.band_idx
           |            AND x.band_val = y.band_val AND x.doc_id < y.doc_id
           |          UNION ALL
           |          SELECT s.hub_id AS id_a, e.doc_id AS id_b
           |          FROM e JOIN stats s ON e.band_idx = s.band_idx
           |            AND e.band_val = s.band_val
           |          WHERE s.m > $BucketCap AND e.doc_id <> s.hub_id))
           |SELECT id_a, id_b,
           |  list_reduce(list_prepend(CAST(0 AS BIGINT),
           |    list_transform(list_zip(a.bands, b2.bands),
           |      p -> CAST(bit_count(xor(p[1], p[2])) AS BIGINT))),
           |    (acc, v) -> acc + v) AS hamming
           |FROM cand JOIN bsrc a ON cand.id_a = a.doc_id
           |          JOIN bsrc b2 ON cand.id_b = b2.doc_id
           |WHERE hamming <= 3
           |ORDER BY id_a, id_b""".stripMargin
      },

      "q30_ann_lsh" ->
        s"""WITH ${srpCandCtes(3)},
           |sc AS (SELECT cand.query_id, cand.vec_id,
           |         ${Sql.dot("q.q_emb", "s.embedding")}
           |           / sqrt(${Sql.dot("q.q_emb", "q.q_emb")})
           |           / sqrt(${Sql.dot("s.embedding", "s.embedding")}) AS cos
           |       FROM cand JOIN sig s ON cand.vec_id = s.vec_id
           |                 JOIN q ON cand.query_id = q.query_id),
           |r AS (SELECT query_id, vec_id, cos,
           |        row_number() OVER (PARTITION BY query_id
           |                           ORDER BY cos DESC, vec_id) AS rn
           |      FROM sc)
           |SELECT query_id, vec_id, cos, rn FROM r WHERE rn <= 5
           |ORDER BY query_id, rn""".stripMargin,

      // Twin of q112: the q30 candidate chain at the eval query
      // count, exact truth by full-scan row_number, bounded-count
      // report joins. Self excluded from truth AND candidates
      // (standard recall@k — see the builder comment); report driven
      // by the query set so a zero-candidate query still reports.
      "q112_ann_eval" ->
        s"""WITH ${srpCandCtes(AnnEvalQueryN)},
           |cand2 AS (SELECT query_id, vec_id FROM cand
           |          WHERE vec_id <> query_id),
           |sc AS (SELECT q.query_id, s.vec_id,
           |         ${Sql.dot("q.q_emb", "s.embedding")}
           |           / sqrt(${Sql.dot("q.q_emb", "q.q_emb")})
           |           / sqrt(${Sql.dot("s.embedding", "s.embedding")}) AS cos
           |       FROM sig s, q WHERE s.vec_id <> q.query_id),
           |r AS (SELECT query_id, vec_id,
           |        row_number() OVER (PARTITION BY query_id
           |                           ORDER BY cos DESC, vec_id) AS rn
           |      FROM sc),
           |truth AS (SELECT query_id, vec_id FROM r WHERE rn <= $AnnEvalTopK),
           |nc AS (SELECT query_id, count(*) AS n_cand FROM cand2 GROUP BY 1),
           |nh AS (SELECT t.query_id, count(*) AS n_hit FROM truth t
           |       JOIN cand2 c ON c.query_id = t.query_id AND c.vec_id = t.vec_id
           |       GROUP BY 1)
           |SELECT q.query_id,
           |  coalesce(nc.n_cand, 0) AS n_cand,
           |  coalesce(nh.n_hit, 0) AS n_hit,
           |  CAST(floor(CAST(coalesce(nh.n_hit, 0) AS DOUBLE) / $AnnEvalTopK.0
           |    * 1000000.0 + 0.5) AS BIGINT) AS recall_micro
           |FROM q LEFT JOIN nc ON nc.query_id = q.query_id
           |       LEFT JOIN nh ON nh.query_id = q.query_id
           |ORDER BY q.query_id""".stripMargin,

      "q34_embed_dup" -> {
        val r = DedupBits / DedupBands
        // Twin of FeatureEmbed over the doc's distinct-shingle hashes.
        val fe =
          s"""list_transform(range(0, $DedupDim), i ->
             |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |    list_transform(hs, h ->
             |      CAST((h + (i+1)*$PermMult) % $HashMod AS DOUBLE)/1000000007.0*2.0-1.0)),
             |    (a, b) -> a + b))""".stripMargin
        // Twin of SrpBands (same structure as q30's, dim = DedupDim).
        val bitsSql =
          s"""list_transform(range(0, $DedupBits), i ->
             |  CASE WHEN list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
             |    list_transform(range(0, $DedupDim), dd ->
             |      v[dd+1] * (CAST((i*$DedupDim+dd+1)*$PermMult % $HashMod AS DOUBLE)
             |                 /1000000007.0*2.0-1.0))),
             |    (acc, p) -> acc + p) > 0 THEN CAST(1 AS BIGINT) ELSE 0 END)""".stripMargin
        val bandsSql =
          s"""list_transform(range(0, $DedupBands), b ->
             |  list_reduce(list_prepend(CAST(0 AS BIGINT),
             |    list_transform(range(0, $r), p -> bits[b*$r+p+1] * (CAST(1 AS BIGINT) << p))),
             |    (acc, v2) -> acc + v2))""".stripMargin
        s"""WITH s AS (SELECT doc_id, ${Sql.shingleSet("text", DedupShingleK)} AS sh FROM documents),
           |h AS (SELECT doc_id, list_sort(list_distinct(list_transform(sh, t -> ${Sql.polyHash("t")}))) AS hs
           |      FROM s WHERE len(sh) > 0),
           |e AS (SELECT doc_id, $fe AS v FROM h),
           |sig AS (SELECT doc_id, v, $bandsSql AS bands
           |        FROM (SELECT doc_id, v, $bitsSql AS bits FROM e)),
           |b AS (SELECT doc_id, t.b AS band_idx, bands[t.b+1] AS band_val
           |      FROM sig, generate_series(0, ${DedupBands - 1}) t(b)),
           |stats AS (SELECT band_idx, band_val, count(*) AS m, min(doc_id) AS hub_id
           |          FROM b GROUP BY band_idx, band_val HAVING count(*) > 1),
           |small AS (SELECT b.doc_id, b.band_idx, b.band_val
           |          FROM b JOIN stats s ON b.band_idx = s.band_idx
           |            AND b.band_val = s.band_val
           |          WHERE s.m <= $BucketCap),
           |cand AS (SELECT DISTINCT id_a, id_b FROM (
           |          SELECT x.doc_id AS id_a, y.doc_id AS id_b
           |          FROM small x JOIN small y ON x.band_idx = y.band_idx
           |            AND x.band_val = y.band_val AND x.doc_id < y.doc_id
           |          UNION ALL
           |          SELECT s.hub_id AS id_a, b.doc_id AS id_b
           |          FROM b JOIN stats s ON b.band_idx = s.band_idx
           |            AND b.band_val = s.band_val
           |          WHERE s.m > $BucketCap AND b.doc_id <> s.hub_id))
           |SELECT id_a, id_b,
           |  ${Sql.dot("a.v", "b2.v")} / sqrt(${Sql.dot("a.v", "a.v")})
           |    / sqrt(${Sql.dot("b2.v", "b2.v")}) AS cos
           |FROM cand JOIN sig a ON cand.id_a = a.doc_id
           |          JOIN sig b2 ON cand.id_b = b2.doc_id
           |WHERE cos >= $DedupCosMin
           |ORDER BY id_a, id_b""".stripMargin
      },

      "q31_prompt_pairs" ->
        s"""SELECT doc_id, array_to_string(['$EmbedPrompt', text], chr(1)) AS pair
           |FROM documents WHERE doc_id < 10 ORDER BY doc_id""".stripMargin,

      "q33_ann_ivf" ->
        materializeCtes(s"""WITH $IvfOracleCtes,
           |q AS (SELECT vec_id AS query_id, v AS q_emb, cell AS q_cell
           |      FROM asg WHERE vec_id < 3),
           |sc AS (SELECT q.query_id, asg.vec_id, ${sqlCos("q.q_emb", "asg.v")} AS cos
           |       FROM asg JOIN q ON asg.cell = q.q_cell),
           |r AS (SELECT query_id, vec_id, cos,
           |        row_number() OVER (PARTITION BY query_id
           |                           ORDER BY cos DESC, vec_id) AS rn
           |      FROM sc)
           |SELECT query_id, vec_id, cos, rn FROM r WHERE rn <= 5
           |ORDER BY query_id, rn""".stripMargin),

      // Twin of q104: the DYNAMIC-geometry training replay (nlist =
      // √n derived in SQL, q90's device) ends at asg(vec_id, v,
      // cell); within-cell pairs above SemTau mark the larger id
      // dropped; per-cell rollup.
      "q104_semdedup" ->
        materializeCtes(s"""WITH $IvfOracleCtesDyn,
           |dup AS (SELECT DISTINCT vec_id FROM (
           |          SELECT b.vec_id AS vec_id, ${sqlCos("a.v", "b.v")} AS cs
           |          FROM asg a JOIN asg b
           |            ON a.cell = b.cell AND a.vec_id < b.vec_id)
           |        WHERE NOT isnan(cs) AND cs >= $SemTau)
           |SELECT CAST(asg.cell AS BIGINT) AS cell,
           |  count(*) AS n_vecs,
           |  CAST(sum(CASE WHEN dup.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_dropped,
           |  CAST(count(*) - sum(CASE WHEN dup.vec_id IS NOT NULL THEN 1 ELSE 0 END)
           |    AS BIGINT) AS n_kept
           |FROM asg LEFT JOIN dup ON dup.vec_id = asg.vec_id
           |GROUP BY asg.cell ORDER BY cell""".stripMargin),

      // Twin of q109: same chunk/embed devices, MaxSim as
      // max-then-micro-rounded-integer-sum, per-query rank.
      "q109_late_interaction" ->
        s"""WITH t AS (SELECT doc_id, ${Sql.chunks("text", ChunkTokens)} AS cs
           |           FROM documents),
           |dv AS (SELECT doc_id, CAST(u.i AS INT) AS pos,
           |         ${Sql.embed("cs[u.i+1]", EmbedDim)} AS v
           |       FROM t, unnest(range(0, len(cs))) u(i)),
           |qv AS (SELECT doc_id AS query_id, pos AS qi, v AS qv
           |       FROM dv WHERE doc_id < 3),
           |sc AS (SELECT q.query_id, q.qi, d.doc_id,
           |         ${sqlCos("d.v", "q.qv")} AS cos
           |       FROM dv d, qv q),
           |mx AS (SELECT query_id, doc_id, qi, max(cos) AS mx
           |       FROM sc GROUP BY 1, 2, 3),
           |sm AS (SELECT query_id, doc_id,
           |         CAST(sum(CAST(floor(mx * 1000000.0 + 0.5) AS BIGINT))
           |           AS BIGINT) AS score_micro
           |       FROM mx GROUP BY 1, 2),
           |r AS (SELECT query_id, doc_id, score_micro,
           |        row_number() OVER (PARTITION BY query_id
           |          ORDER BY score_micro DESC, doc_id) AS rn
           |      FROM sm)
           |SELECT query_id, CAST(rn AS BIGINT) AS rn, doc_id, score_micro
           |FROM r WHERE rn <= $LateTopK ORDER BY query_id, rn""".stripMargin,

      // Twin of q108: the dynamic-geometry training replay, each
      // vector's cosine to its OWN centroid, per-cell bottom-K.
      "q108_embed_outliers" ->
        materializeCtes(s"""WITH $IvfOracleCtesDyn,
           |sc AS (SELECT vec_id, cell,
           |         CASE WHEN isnan(cos0) THEN -2.0 ELSE cos0 END AS cos
           |       FROM (SELECT vec_id, cell,
           |               ${sqlCos("v", "cs[cell + 1]")} AS cos0
           |             FROM asg, c$IvfIters)),
           |r AS (SELECT cell, vec_id, cos,
           |        row_number() OVER (PARTITION BY cell
           |                           ORDER BY cos, vec_id) AS rn
           |      FROM sc)
           |SELECT CAST(cell AS BIGINT) AS cell, CAST(rn AS BIGINT) AS rn,
           |  vec_id, CAST(floor(cos * 1000000.0 + 0.5) AS BIGINT) AS cos_micro
           |FROM r WHERE rn <= $OutlierK ORDER BY cell, rn""".stripMargin),

      // Twin of q115: the shared dynamic-quantizer chain, q108's
      // sentinel'd own-centroid cosine, label counts, and a
      // row_number argmax replaying the engine's (cnt DESC, label)
      // tie-break over the tiny per-(cell,label) frame.
      "q115_corpus_map" ->
        materializeCtes(s"""WITH $IvfOracleCtesDyn,
           |sc AS (SELECT a.vec_id, CAST(e.label AS BIGINT) AS label, a.cell,
           |         CAST(floor((CASE WHEN isnan(cos0) THEN -2.0 ELSE cos0 END)
           |           * 1000000.0 + 0.5) AS BIGINT) AS cosm
           |       FROM (SELECT vec_id, cell,
           |               ${sqlCos("v", "cs[cell + 1]")} AS cos0
           |             FROM asg, c$IvfIters) a
           |       JOIN embeddings e ON e.vec_id = a.vec_id),
           |bl AS (SELECT cell, label, count(*) AS cnt FROM sc GROUP BY 1, 2),
           |tp AS (SELECT cell, CAST(sum(cnt) AS BIGINT) AS n FROM bl GROUP BY 1),
           |tl AS (SELECT cell, label AS top_label, cnt AS n_top FROM (
           |         SELECT cell, label, cnt,
           |           row_number() OVER (PARTITION BY cell
           |                              ORDER BY cnt DESC, label) AS rn
           |         FROM bl) WHERE rn = 1),
           |co AS (SELECT cell, CAST(sum(cosm) AS BIGINT) AS cos_sum
           |       FROM sc GROUP BY 1),
           |tt AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM tp)
           |SELECT CAST(tp.cell AS BIGINT) AS cell, tp.n,
           |  CAST(floor(CAST(tp.n AS DOUBLE) / CAST(tt.total AS DOUBLE)
           |    * 1000000.0 + 0.5) AS BIGINT) AS share_micro,
           |  tl.top_label, tl.n_top,
           |  CAST(floor(CAST(tl.n_top AS DOUBLE) / CAST(tp.n AS DOUBLE)
           |    * 1000000.0 + 0.5) AS BIGINT) AS purity_micro,
           |  CAST(floor(CAST(co.cos_sum AS DOUBLE) / CAST(tp.n AS DOUBLE) + 0.5)
           |    AS BIGINT) AS cohesion_micro
           |FROM tp JOIN tl ON tl.cell = tp.cell
           |        JOIN co ON co.cell = tp.cell, tt
           |ORDER BY cell""".stripMargin),

      "q90_ivf_pq" -> {
        // The DYNAMIC-geometry trained-IVF CTEs (nlist=√n, scaled
        // sample, policy nprobe — all derived in `kk`) route vectors
        // to cells; PQ codebooks TRAIN on the sample's residuals
        // v − centroid(cell) (pqTrainOracleCtes at PqKRank over rsd's
        // sub-vectors — Kmeans.trainL2's twin), codes quantize every
        // vector's residual, and the probe joins ON cell (never a
        // cross join) ranking by ADC between the query's per-cell
        // residual and the trained code centroids. The shortlist is
        // the CONSTANT rerankDepthFor(5) — never a corpus fraction.
        val resid = (x: String) =>
          s"list_transform(range(0, $MergeDim), i -> $x[i + 1] - cs[cell + 1][i + 1])"
        materializeCtes(s"""WITH $IvfOracleCtesDyn,
           |rsd AS (SELECT vec_id, cell, ${resid("v")} AS rv
           |        FROM asg, c$IvfIters),
           |subsamp AS (SELECT vec_id, r.m AS m,
           |              list_slice(rv, r.m * $PqSub + 1, r.m * $PqSub + $PqSub) AS sv
           |            FROM rsd CROSS JOIN range(0, $PqM) r(m)
           |            WHERE vec_id IN (SELECT vec_id FROM samp)),
           |${pqTrainOracleCtes(PqKRank)},
           |asg2 AS (
           |  SELECT vec_id, v,
           |    list_position(ms, list_reduce(ms,
           |      (x, y) -> CASE WHEN y > x THEN y ELSE x END)) - 1 AS cell
           |  FROM (SELECT sc.vec_id, sc.v,
           |          list_transform(sc.scores,
           |            (e, i) -> CASE WHEN i - 1 = a.cell THEN -2.0 ELSE e END) AS ms
           |        FROM scored sc JOIN asg a USING (vec_id))),
           |occ AS (SELECT vec_id, v, cell FROM asg
           |        UNION ALL SELECT vec_id, v, cell FROM asg2),
           |rsde AS (SELECT vec_id, cell, ${resid("v")} AS rv
           |         FROM occ, c$IvfIters),
           |sube AS (SELECT vec_id, cell, r.m AS m,
           |           list_slice(rv, r.m * $PqSub + 1, r.m * $PqSub + $PqSub) AS sv
           |         FROM rsde CROSS JOIN range(0, $PqM) r(m)),
           |easg AS (
           |  SELECT m, vec_id, cell, ${sqlArgmin("scores")} AS code
           |  FROM (SELECT m, vec_id, cell,
           |          list_transform(cs, c -> ${sqlL2("sv", "c")}) AS scores
           |        FROM sube JOIN pc$PqIters USING (m))),
           |qc AS (SELECT vec_id AS query_id, v AS qx, r.j AS cell,
           |         scores[r.j + 1] AS sc
           |       FROM scored CROSS JOIN cellid r(j)
           |       WHERE vec_id < 3),
           |q AS (SELECT query_id, cell, ${resid("qx")} AS qrv FROM (
           |        SELECT query_id, qx, cell,
           |          row_number() OVER (PARTITION BY query_id
           |                             ORDER BY sc DESC, cell) AS cr
           |        FROM qc)
           |      CROSS JOIN c$IvfIters
           |      WHERE cr <= (SELECT np FROM kk)),
           |part AS (
           |  SELECT q.query_id, a.vec_id, a.cell, a.m,
           |    ${sqlFold(s"list_transform(range(0, $PqSub), i -> " +
                  sqlSqDiff(s"qrv[a.m * $PqSub + i + 1]", "cs[a.code + 1][i + 1]") + ")")} AS partial
           |  FROM easg a JOIN pc$PqIters USING (m)
           |  JOIN q ON a.cell = q.cell),
           |s AS (SELECT query_id, vec_id, cell,
           |        ${sqlFold("list(partial ORDER BY m)")} AS adc
           |      FROM part GROUP BY query_id, vec_id, cell),
           |smin AS (SELECT query_id, vec_id, min(adc) AS adc
           |         FROM s GROUP BY query_id, vec_id),
           |r AS (SELECT query_id, vec_id, adc,
           |        row_number() OVER (PARTITION BY query_id ORDER BY adc, vec_id) AS rn
           |      FROM smin),
           |sl AS (SELECT query_id, vec_id FROM r
           |       WHERE rn <= ${rerankDepthFor(5)}),
           |qv AS (SELECT vec_id AS query_id, v AS qx FROM asg WHERE vec_id < 3),
           |ex AS (SELECT sl.query_id, sl.vec_id,
           |         ${sqlFold(s"list_transform(range(0, $MergeDim), i -> " +
                        sqlSqDiff("a.v[i + 1]", "qv.qx[i + 1]") + ")")} AS d2
           |       FROM sl JOIN asg a ON a.vec_id = sl.vec_id
           |       JOIN qv ON qv.query_id = sl.query_id),
           |rr AS (SELECT query_id, vec_id, d2,
           |         row_number() OVER (PARTITION BY query_id ORDER BY d2, vec_id) AS rn
           |       FROM ex)
           |SELECT query_id, vec_id,
           |  CAST(floor(d2*1000000.0 + 0.5) AS BIGINT) AS d2_u, rn
           |FROM rr WHERE rn <= 5 ORDER BY query_id, rn""".stripMargin)
      },

      "q32_media_features" ->
        // Twin of mediaFromDocuments' manifest columns: kind is the
        // doc_id%3 round-robin, n_bytes the utf8 byte length of text
        // (payload := text.cast(binary)); dim is the stub stage's
        // parameter (16) — the only value SQL cannot derive.
        s"""SELECT kind, count(*) AS n_items,
           |  CAST(sum(octet_length(encode(text))) AS BIGINT) AS total_bytes,
           |  CAST(16 AS BIGINT) AS dim
           |FROM (SELECT CASE CAST(doc_id % 3 AS INT)
           |        WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           |        text
           |      FROM documents)
           |GROUP BY kind ORDER BY kind""".stripMargin,

      "q88_media_resize" ->
        // floor, NOT CAST(... AS INT): DuckDB's double→int cast
        // rounds, Spark's int() truncates — floor matches on the
        // non-negative byte budget
        s"""WITH m AS (SELECT doc_id AS media_id,
           |             CAST(doc_id % 4 * 256 + 256 AS INTEGER) AS width,
           |             CAST(doc_id % 3 * 240 + 240 AS INTEGER) AS height,
           |             octet_length(encode(text)) AS nb
           |           FROM documents WHERE doc_id % 3 = 0),
           |i AS (SELECT media_id, width, height, nb,
           |        least(CAST(256 AS DOUBLE) / width,
           |              CAST(240 AS DOUBLE) / height,
           |              CAST(1.0 AS DOUBLE)) AS scale
           |      FROM m)
           |SELECT media_id,
           |  CAST(floor(width * scale) AS INTEGER) AS out_w,
           |  CAST(floor(height * scale) AS INTEGER) AS out_h,
           |  CAST(greatest(CAST(floor(nb * scale * scale) AS BIGINT), 1) AS BIGINT)
           |    AS n_out_bytes
           |FROM i ORDER BY media_id""".stripMargin,

      "q89_frame_sample" ->
        s"""WITH m AS (SELECT doc_id AS media_id,
           |             octet_length(encode(text)) AS nb, text
           |           FROM documents WHERE doc_id % 3 = 2),
           |f AS (SELECT media_id,
           |        octet_length(encode(substr(text,
           |          CAST(u.i * 512 + 1 AS INTEGER), 256))) AS fb
           |      FROM m, unnest(range(0,
           |        greatest(CAST(floor(nb / 512.0) AS BIGINT), 1))) u(i))
           |SELECT media_id, count(*) AS n_frames,
           |  CAST(sum(fb) AS BIGINT) AS frame_bytes
           |FROM f GROUP BY 1 ORDER BY 1""".stripMargin,

      // Twin of q118 (Multimodal.dedupReport over the re-upload
      // manifest): the q32 manifest derivation + the mod-3/mod-7
      // copy rule, grouped by (kind, sha256) — DuckDB's sha256 over
      // the VARCHAR hashes its utf8 bytes, exactly the bytes
      // payload := text.cast(binary) carries on the Spark side. The
      // hash itself never reaches the output, so only group IDENTITY
      // must agree.
      "q118_media_dedup" ->
        s"""WITH m AS (SELECT doc_id,
           |             CASE CAST(doc_id % 3 AS INT) WHEN 0 THEN 'image'
           |               WHEN 1 THEN 'audio' ELSE 'video' END AS kind,
           |             text
           |           FROM documents),
           |u AS (SELECT kind, text FROM m,
           |        unnest(range(0, 1 + CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END
           |                          + CASE WHEN doc_id % 7 = 0 THEN 1 ELSE 0 END)) c(i)),
           |g AS (SELECT kind, sha256(text) AS h, count(*) AS cnt,
           |        max(octet_length(encode(text))) AS nb
           |      FROM u GROUP BY 1, 2)
           |SELECT kind, CAST(sum(cnt) AS BIGINT) AS n_objects,
           |  count(*) AS n_distinct,
           |  CAST(sum(CASE WHEN cnt >= 2 THEN 1 ELSE 0 END) AS BIGINT) AS dup_groups,
           |  CAST(sum((cnt - 1) * nb) AS BIGINT) AS reclaim_bytes
           |FROM g GROUP BY kind ORDER BY kind""".stripMargin,

      "q40_source_mix" ->
        s"""SELECT source, count(*) AS n_kept
           |FROM documents
           |WHERE (${Sql.polyHash("text")}) % 100 <
           |  CASE WHEN source = 'src0' THEN 100
           |       WHEN source = 'src1' THEN 50 ELSE 10 END
           |GROUP BY source ORDER BY source""".stripMargin,

      "q41_curation_funnel" -> {
        s"""WITH keepers AS (
           |  SELECT min(doc_id) AS doc_id FROM
           |    (SELECT doc_id, ${Sql.fpHi("text")} AS fp_hi,
           |            ${Sql.fpLo("text")} AS fp_lo FROM documents)
           |  GROUP BY fp_hi, fp_lo),
           |t AS (SELECT d.doc_id, d.lang, d.text, ${Sql.toks("d.text")} AS toks
           |      FROM documents d JOIN keepers k ON d.doc_id = k.doc_id),
           |q AS (SELECT doc_id, lang, text, ${Sql.quality("toks")} AS quality FROM t),
           |r AS (SELECT doc_id, lang, text,
           |        row_number() OVER (PARTITION BY lang
           |                           ORDER BY quality DESC, doc_id) AS rn
           |      FROM q)
           |SELECT CASE WHEN (${Sql.polyHash("text")}) % 10 < 8 THEN 'train'
           |            WHEN (${Sql.polyHash("text")}) % 10 = 8 THEN 'val'
           |            ELSE 'test' END AS split,
           |  lang, count(*) AS n_docs
           |FROM r WHERE rn <= 50
           |GROUP BY split, lang ORDER BY split, lang""".stripMargin
      },

      "q38_hash_split" ->
        s"""SELECT split, count(*) AS n_docs,
           |  CAST(sum(n_chars) AS BIGINT) AS total_chars
           |FROM (SELECT n_chars,
           |        CASE WHEN (${Sql.polyHash("text")}) % 10 < 8 THEN 'train'
           |             WHEN (${Sql.polyHash("text")}) % 10 = 8 THEN 'val'
           |             ELSE 'test' END AS split
           |      FROM documents)
           |GROUP BY split ORDER BY split""".stripMargin,

      "q39_lang_quota" -> {
        // Sql.quality == the TextStats kernel's formula, bit-exact
        s"""WITH t AS (SELECT doc_id, lang, ${Sql.toks("text")} AS toks FROM documents),
           |q AS (SELECT doc_id, lang, ${Sql.quality("toks")} AS quality FROM t),
           |r AS (SELECT doc_id, lang, quality,
           |        row_number() OVER (PARTITION BY lang
           |                           ORDER BY quality DESC, doc_id) AS rn
           |      FROM q)
           |SELECT doc_id, lang, ${Oracles.fround("quality", 6)} AS quality, rn
           |FROM r WHERE rn <= 3 ORDER BY lang, rn""".stripMargin
      },

      "q26_text_stats" -> {
        def hits(dict: Seq[String]): String = {
          val lits = dict.map(w => s"'$w'").mkString("[", ", ", "]")
          s"len(list_filter(toks, t -> list_contains($lits, t)))"
        }
        val scores = TextOps.LangDicts.map { case (l, dct) => l -> hits(dct) }
        val best = scores.map(_._2).reduce((a, b) => s"greatest($a, $b)")
        val langCase = scores
          .map { case (l, sc) => s"WHEN best > 0 AND $sc = best THEN '$l'" }
          .mkString("CASE ", " ", " ELSE 'und' END")
        s"""SELECT doc_id, lang, len(toks) AS n_tokens,
           |  len(list_filter(string_split_regex(text, '${TextOps.SentencePattern}'),
           |      s -> len(trim(s)) > 0)) AS n_sentences,
           |  $langCase AS lang_pred,
           |  ${Oracles.fround(Sql.quality("toks"), 6)} AS quality
           |FROM (SELECT *, $best AS best
           |      FROM (SELECT doc_id, lang, text, $toks AS toks FROM documents))
           |ORDER BY doc_id""".stripMargin
      }
    )
  }
}
