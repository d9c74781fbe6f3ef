package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.expressions.Window
import graft.Tables
import graft.ops.TextOps

/** Search & retrieval extensions over the curation surface: BM25
  * keyword retrieval (the inverted-index capability a training-data
  * curation stack needs next to ANN), blocked fuzzy matching, and
  * the remaining relational surface (grouping sets, pivot,
  * argmax/argmin aggregates, value-window functions).
  *
  * Same contract as the other packs: every query has a DuckDB oracle
  * twin with identical IEEE arithmetic (see graft.ops.Determinism
  * and TextVector.Sql).
  */
object Search extends graft.QueryPack {

  /** BM25 parameters (Robertson/Sparck Jones defaults). */
  private val K1 = 1.2
  private val B  = 0.75
  /** Fixed query-term set (mid-frequency words of the testdata
    * vocabulary; a real deployment would parameterize). */
  private val Terms = Seq("vector", "merge", "stream")

  /** Dirty catalog names with adjective typos for the fuzzy join;
    * the product noun (last word) is kept intact — it is the
    * blocking key. */
  private val DirtyNames =
    Seq("smal ring", "bleu bolt", "ho gear", "largee widget", "redd rod")
  private val FuzzyMaxDist = 2

  /** One BM25 term contribution — ONE definition for q43 and q111's
    * lexical ranker (and [[sqlBm25Contrib]] is its DuckDB twin; a
    * one-sided tweak would silently break the query≡oracle
    * contract). `n`/`sumdl` are the broadcast corpus stats, `dl` the
    * document length. */
  private[graft] def bm25Contrib(tf: Column, df: Column, n: Column,
                          sumdl: Column, dl: Column): Column = {
    val idf = log((n - df + lit(0.5)) / (df + lit(0.5)) + lit(1.0))
    when(tf > 0,
      idf * (tf * lit(K1 + 1.0)) /
        (tf + lit(K1) * (lit(1.0) - lit(B) + lit(B) * dl / (sumdl / n))))
      .otherwise(lit(0.0))
  }

  /** DuckDB twin of [[bm25Contrib]] over column names `tf`/`df` with
    * stats columns n/sumdl/dl in scope. */
  private def sqlBm25Contrib(tf: String, df: String): String =
    s"""CASE WHEN $tf > 0 THEN
       |  ln((n - $df + CAST(0.5 AS DOUBLE)) / ($df + CAST(0.5 AS DOUBLE)) + CAST(1.0 AS DOUBLE))
       |  * ($tf * CAST(${K1 + 1.0} AS DOUBLE))
       |  / ($tf + CAST($K1 AS DOUBLE) * (CAST(1.0 AS DOUBLE) - CAST($B AS DOUBLE)
       |       + CAST($B AS DOUBLE) * dl / (sumdl / n)))
       |ELSE CAST(0.0 AS DOUBLE) END""".stripMargin

  /** Hybrid retrieval (q111): RRF constant k=60 (Cormack, Clarke &
    * Buettcher, SIGIR 2009 — rank fusion is robust to the constant),
    * per-ranker pool depth, and fused result size. */
  private[graft] val RrfK     = 60
  private[graft] val RrfDepth = 20
  private val RrfTopN  = 10
  /** Dimension of the bag-of-words random-feature doc embedding the
    * semantic ranker scores against (q34's FeatureEmbed device over
    * DISTINCT token hashes — cosine tracks token-set overlap; the
    * public stand-in for a learned dense encoder, per SURVEY §7.1). */
  private[graft] val SemDim = 32

  /** The ONE bag-of-words encoder definition — q111's doc side,
    * q111's query side, q117's both sides, and
    * [[graft.pipeline.HybridRetrieval]]'s stores all embed through
    * here (sort_array: the per-dim feature fold is order-dependent in
    * IEEE doubles — q34's note); a one-sided tweak would silently
    * break the served-path ≡ q111 rank contract. */
  private[graft] def bowEmbed(c: Column): Column =
    graft.ops.expressions.FeatureEmbed(
      sort_array(array_distinct(graft.ops.expressions.TokenHashes(c))),
      SemDim)

  /** DuckDB twin of [[bowEmbed]]'s FeatureEmbed fold over a
    * sorted-hash-list alias — ONE definition for the q111 and q117
    * oracles (a one-sided tweak would silently break the two
    * retrieval twins' shared-encoder contract). */
  private def sqlFeatEmbed(hs: String): String =
    s"""list_transform(range(0, $SemDim), i ->
       |  list_reduce(list_prepend(CAST(0.0 AS DOUBLE),
       |    list_transform($hs, h ->
       |      CAST((h + (i+1)*2654435761) % 1000000007 AS DOUBLE)/1000000007.0*2.0-1.0)),
       |    (a, b) -> a + b))""".stripMargin
  /** Fixed query phrases (q43's Terms convention — mid-frequency
    * testdata vocabulary; a deployment would parameterize). */
  private[graft] val RrfQueries: Seq[(Int, String)] = Seq(
    (0, "vector merge"), (1, "stream filter key"), (2, "hash join order"))

  /** The q111 chain over any (doc_id, text) frame (spec hook:
    * planted-recall corpus). Reciprocal-rank fusion of the engine's
    * two retrieval families:
    *
    *   lexical  = q43's BM25 over each query's terms (shared
    *              [[bm25Contrib]] formula, micro-rounded int64);
    *   semantic = cosine against the bag-of-words FeatureEmbed
    *              (exact brute-force scan — q25's baseline; at scale
    *              the ranker swaps to AnnIndex.searchRefined, and
    *              the fusion below consumes (query_id, doc_id, rank)
    *              unchanged — ranker choice is a plug point);
    *   fused    = Σ_rankers 1/(RrfK + rank) over each ranker's
    *              top-RrfDepth pool, top-RrfTopN per query.
    *
    * Scale shape: ONE corpus pass computes dl, per-term tf and the
    * doc embedding (persisted for the two ranker consumers); corpus
    * stats are a 1-row broadcast; each ranker ends in the
    * bounded-heap TopKPerKey (never a whole-corpus window); the
    * fusion sums over the union of two O(queries·depth) id-width
    * rank tables — nothing downstream of the scan is O(corpus)
    * except the two ranker passes themselves. Determinism: ranks
    * come from (score desc, doc_id) total orders; the RRF sum is at
    * most two IEEE divisions of exact inputs (a two-addend IEEE sum
    * is order-free), then nano-rounded — both engines bit-agree. */
  private[graft] def hybridRrf(docs: DataFrame,
                               queries: Seq[(Int, String)] = RrfQueries): DataFrame = {
    val (lex, sem) = rrfRankers(docs, queries)
    rrfFuse(lex, sem)
  }

  /** The two rank tables q111 fuses — (lexical(query_id, doc_id,
    * lrank), semantic(query_id, doc_id, srank)), each top-RrfDepth
    * per query (spec hook: the recall law is stated over these). */
  private[graft] def rrfRankers(docs: DataFrame,
                                queries: Seq[(Int, String)]): (DataFrame, DataFrame) = {
    val spark = docs.sparkSession
    import spark.implicits._
    val terms = queries.flatMap(_._2.split(' ')).distinct
    // one scan pass: dl + per-term tf + sorted-distinct-token-hash
    // embedding (sort_array: the per-dim feature fold is
    // order-dependent in IEEE doubles — q34's note). Token-less docs
    // are out of retrieval scope both sides (zero-norm embeddings
    // score cosine NaN, and NaN sorts ABOVE all doubles in BOTH
    // engines' descending ranks — exclude, don't guard).
    val base = docs
      .repartition($"doc_id")
      .select($"doc_id", $"text", TextOps.tokens($"text").as("toks"))
      .filter(size($"toks") > 0)
      .select($"doc_id" +:
        size($"toks").cast("double").as("dl") +:
        bowEmbed($"text").as("v") +:
        terms.zipWithIndex.map { case (t, i) =>
          size(filter($"toks", x => x === lit(t))).cast("double").as(s"tf$i")
        }: _*)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val statCols = count(lit(1)).cast("double").as("n") +:
      sum($"dl").as("sumdl") +:
      terms.indices.map(i =>
        sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
    val stats = base.agg(statCols.head, statCols.tail: _*)
    val scored = base.crossJoin(broadcast(stats))
    val lexAll = queries.map { case (qid, phrase) =>
      val contrib = phrase.split(' ').toSeq.map { t =>
        val i = terms.indexOf(t)
        bm25Contrib(col(s"tf$i"), col(s"df$i"), $"n", $"sumdl", $"dl")
      }.reduce(_ + _)
      scored.select(lit(qid.toLong).as("query_id"), $"doc_id",
        floor(contrib * lit(1e6) + lit(0.5)).cast("bigint").as("score_u"))
        .filter($"score_u" > 0)
    }.reduce(_ unionByName _)
    val lex = graft.plans.TopK.perKey(lexAll, Seq("query_id"),
      Seq("score_u" -> false, "doc_id" -> true), RrfDepth, rankCol = "lrank")
    val qdf = broadcast(
      queries.map { case (q, p) => (q.toLong, p) }.toDF("query_id", "qtext")
        .select($"query_id", bowEmbed($"qtext").as("qv")))
    val semAll = base.select($"doc_id", $"v").crossJoin(qdf)
      .select($"query_id", $"doc_id",
        graft.ops.expressions.CosineSim($"qv", $"v").as("cos"))
    val sem = graft.plans.TopK.perKey(semAll, Seq("query_id"),
      Seq("cos" -> false, "doc_id" -> true), RrfDepth, rankCol = "srank")
    (lex, sem)
  }

  /** q117: hard negatives kept per query. */
  private[graft] val HnTopK = 10

  /** The q117 chain over any (doc_id, text) frame (spec hook:
    * planted term-sharing / lexically-blind corpora). Hard-negative
    * mining for contrastive retrieval training (the DPR/ANCE recipe,
    * Karpukhin et al. 2020; Xiong et al. 2021: train the dense
    * retriever on negatives that LOOK relevant to the current
    * scorer): for each query, the top-[[HnTopK]] docs by embedding
    * cosine among documents sharing ZERO query terms — semantically
    * close yet lexically blind, exactly the negatives a BM25-mined
    * training set never surfaces (any term-sharing doc is a
    * potential false negative, so it is excluded OUTRIGHT rather
    * than score-thresholded — the conservative published filter).
    *
    * Scale shape: ONE corpus pass computes tokens + the bag-of-words
    * embedding ([[bowEmbed]] — the shared encoder, so mined
    * negatives are hard for the SAME geometry q111/HybridRetrieval
    * serve); queries broadcast with their term sets; the term filter
    * drops candidates BEFORE the cosine kernel; ranking is the
    * bounded-heap TopKPerKey, never a whole-corpus window. Nothing
    * downstream of the scan is O(corpus) except the scoring pass
    * itself. At mining scale the store-served twin is
    * [[graft.pipeline.HybridRetrieval.hardNegatives]] — AnnIndex
    * candidates with the term-sharer set EXCLUDED INSIDE the rank
    * (a post-check filter returns under-full results when sharers
    * crowd the cosine head, which under this encoder they always
    * do); the emitted (query_id, doc_id, rank) contract is
    * unchanged, and this brute pass stays the truth its recall is
    * measured against.
    * Determinism: ranks order by the NANO-ROUNDED cosine (exact
    * int64 both engines) with doc_id tiebreak — a total order, so
    * cross-engine rank agreement needs no ulp argument at all. */
  private[graft] def hardNegatives(docs: DataFrame,
                                   queries: Seq[(Int, String)] = RrfQueries): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .repartition($"doc_id")
      .select($"doc_id", TextOps.tokens($"text").as("toks"),
        bowEmbed($"text").as("v"))
      .filter(size($"toks") > 0)
    val qdf = broadcast(
      queries.map { case (q, p) => (q.toLong, p) }.toDF("query_id", "qtext")
        .select($"query_id", bowEmbed($"qtext").as("qv"),
          array_distinct(TextOps.tokens($"qtext")).as("qtoks")))
    val cand = base.crossJoin(qdf)
      .filter(size(array_intersect($"toks", $"qtoks")) === 0)
      .select($"query_id", $"doc_id",
        floor(graft.ops.expressions.CosineSim($"qv", $"v") * lit(1e9) + lit(0.5))
          .cast("bigint").as("cos_nano"))
    graft.plans.TopK.perKey(cand, Seq("query_id"),
      Seq("cos_nano" -> false, "doc_id" -> true), HnTopK, rankCol = "rn")
      .select($"query_id", $"doc_id", $"cos_nano", $"rn".cast("bigint").as("rn"))
      .orderBy($"query_id", $"rn")
  }

  /** The q167 chain over any (doc_id, text) corpus and (eval_id,
    * etext) benchmark frame (spec hook: planted donor corpus — the
    * lifted span's donor must rank #1). The q117 scoring device with
    * the term filter REMOVED: contamination wants the term-sharing
    * docs (q117 excludes them because negatives must not be
    * positives; here they are exactly the finds). */
  private[graft] def semanticContam(docs: DataFrame, evalItems: DataFrame,
                                    topK: Int = HnTopK): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = docs
      .repartition($"doc_id")
      .select($"doc_id", TextOps.tokens($"text").as("toks"),
        bowEmbed($"text").as("v"))
      .filter(size($"toks") > 0)
      .select($"doc_id", $"v")
    val qdf = broadcast(evalItems
      .select($"eval_id", bowEmbed($"etext").as("qv")))
    val cand = base.crossJoin(qdf)
      .select($"eval_id", $"doc_id",
        floor(graft.ops.expressions.CosineSim($"qv", $"v") * lit(1e9) + lit(0.5))
          .cast("bigint").as("cos_nano"))
    graft.plans.TopK.perKey(cand, Seq("eval_id"),
      Seq("cos_nano" -> false, "doc_id" -> true), topK, rankCol = "rn")
      .select($"eval_id", $"doc_id", $"cos_nano", $"rn".cast("bigint").as("rn"))
      .orderBy($"eval_id", $"rn")
  }

  /** RRF fusion of the two rank tables (the plug point: any ranker
    * producing (query_id, doc_id, rank) fuses here unchanged —
    * [[graft.pipeline.HybridRetrieval]] feeds it store-served
    * rankers with its own fused size).
    *
    * Contract: a query_id absent from BOTH pools (e.g. a token-less
    * query — no lexical terms, null-filtered embedding) is OMITTED
    * from the fused output, the retrieval convention for "no
    * results" — deliberately unlike q112's evaluation report, which
    * left-joins back to the query set because an EVALUATION must
    * account for every query (a metric that silently drops
    * zero-candidate queries overstates recall; a result list with a
    * null-doc marker row would just be a sentinel API). Callers
    * needing per-query accounting left-join this output to their
    * query set (HybridRetrievalSpec pins the no-throw/zero-row
    * serving of a token-less query). */
  private[graft] def rrfFuse(lex: DataFrame, sem: DataFrame,
                             topN: Int = RrfTopN): DataFrame = {
    val spark = lex.sparkSession
    import spark.implicits._
    // one 1/(RrfK + rank) term per (ranker, query, doc) row, summed per
    // (query, doc): each ranker pools a doc at most once per query, so
    // a doc has one or two addends, and 0.0 + a + b is bit-exact in
    // either order (IEEE addition commutes; 0.0 + a == a)
    def terms(ranks: DataFrame, rank: String) = ranks
      .select($"query_id", $"doc_id", (lit(1.0) / (lit(RrfK) + col(rank))).as("t"))
    val fused = terms(lex, "lrank").unionByName(terms(sem, "srank"))
      .groupBy($"query_id", $"doc_id")
      .agg(floor(sum($"t") * lit(1e9) + lit(0.5)).cast("bigint").as("rrf_nano"))
    // O(queries·topN) rows: one sorted partition is a total order
    // without the range-partitioning sample job a global orderBy runs
    graft.plans.TopK.perKey(fused, Seq("query_id"),
      Seq("rrf_nano" -> false, "doc_id" -> true), topN, rankCol = "rn")
      .select($"query_id", $"doc_id", $"rrf_nano", $"rn".cast("bigint").as("rn"))
      .coalesce(1).sortWithinPartitions($"query_id", $"rn")
  }

  /** The q158 chain over the two rank tables (spec hook: planted
    * identical / disjoint / hand-overlapped lists with closed-form
    * scores). Per query at evaluation depth k:
    *
    *   X_d   = |top-d(lexical) ∩ top-d(semantic)|  (agreement depth
    *           profile — each common doc contributes from depth
    *           max(lrank, srank) on);
    *   AO    = (1/k) Σ_d X_d/d  (Fagin, Kumar & Sivakumar 2003's
    *           intersection metric — the unweighted precursor);
    *   RBO   = (1−p) Σ_d p^(d−1) · X_d/d at p = 1/2 (Webber, Moffat
    *           & Zobel 2010, truncated at k). p = 1/2 is chosen so
    *           every weight is an exact dyadic rational — X_d·10⁶ and
    *           d·2^d are both exact int64, their ONE double division
    *           is correctly rounded identically in both engines, and
    *           no libm pow() enters the formula at all (with p = 0.9
    *           the weights need pow, whose cross-engine ulp the gate
    *           would have to absorb).
    *
    * Per-term quantize-then-sum (the q137 contract). Scale shape:
    * everything downstream of the rankers is O(queries · k²) rows —
    * the pair join is two already-capped rank tables, the depth
    * spine broadcasts (intendedBnlj). */
  private[graft] def rankOverlap(lex: DataFrame, sem: DataFrame,
                                 queryIds: Seq[Int],
                                 depth: Int = RrfDepth): DataFrame = {
    val spark = lex.sparkSession
    import spark.implicits._
    // each capped rank table feeds TWO consumers (the pair join and
    // its own size count) — persisted so the ranker's corpus scoring
    // pass behind it executes ONCE per side (the q165 lesson;
    // O(queries·k) rows cached)
    val lexD = lex.select($"query_id", $"doc_id", $"lrank")
      .filter($"lrank" <= depth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val semD = sem.select($"query_id", $"doc_id", $"srank")
      .filter($"srank" <= depth)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // r20 (§3.1): both capped rank tables are O(queries·depth) rows —
    // bounded by constants — so the pair join broadcasts one side
    // instead of exchanging+sorting both (was a SortMergeJoin).
    val pairs = lexD.join(broadcast(semD), Seq("query_id", "doc_id"))
      .select($"query_id",
        greatest($"lrank", $"srank").cast("long").as("m"))
    val cm = pairs.groupBy($"query_id", $"m").agg(count(lit(1)).as("cm"))
    val spine = queryIds.map(_.toLong).toDF("query_id")
      .crossJoin(spark.range(1, depth + 1).toDF("d"))
    // cm is O(queries·k) too — broadcast the equi-key match with the
    // m ≤ d residual instead of sorting both sides (§3.1)
    val xd = spine.join(broadcast(cm),
        spine("query_id") === cm("query_id") && cm("m") <= spine("d"), "left")
      .groupBy(spine("query_id"), $"d")
      .agg(coalesce(sum($"cm"), lit(0L)).as("x"))
    val terms = xd.select($"query_id",
      when($"d" === depth.toLong, $"x").otherwise(lit(0L)).as("xk"),
      floor($"x".cast("double") * lit(1e6)
        / ($"d" * lit(depth.toLong)).cast("double") + lit(0.5))
        .cast("bigint").as("ao_t"),
      floor($"x".cast("double") * lit(1e6)
        / ($"d" * expr("shiftleft(cast(1 as bigint), cast(d as int))"))
          .cast("double") + lit(0.5))
        .cast("bigint").as("rbo_t"))
    val sc = terms.groupBy($"query_id")
      .agg(max($"xk").as("x_k"), sum($"ao_t").as("ao_micro"),
        sum($"rbo_t").as("rbo_micro"))
    val nl = lexD.groupBy($"query_id").agg(count(lit(1)).as("n_lex"))
    val nsm = semD.groupBy($"query_id").agg(count(lit(1)).as("n_sem"))
    // O(queries)-row report tables broadcast onto the query spine
    // (§3.1 — the q112 report device): three left BroadcastHashJoins
    // instead of three SortMergeJoin exchange+sort pairs.
    queryIds.map(_.toLong).toDF("query_id")
      .join(broadcast(nl), Seq("query_id"), "left")
      .join(broadcast(nsm), Seq("query_id"), "left")
      .join(broadcast(sc), Seq("query_id"), "left")
      .select($"query_id",
        coalesce($"n_lex", lit(0L)).as("n_lex"),
        coalesce($"n_sem", lit(0L)).as("n_sem"),
        coalesce($"x_k", lit(0L)).as("x_k"),
        coalesce($"ao_micro", lit(0L)).as("ao_micro"),
        coalesce($"rbo_micro", lit(0L)).as("rbo_micro"))
      .orderBy($"query_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // BM25 keyword retrieval, inverted-index style but expressed as
    // two scan passes (both pruned to doc_id+text):
    //   pass 1: corpus statistics (N, Σdl, per-term df) — one tiny
    //           row, broadcast back;
    //   pass 2: per-doc term frequencies → score → global top-10.
    // At 100 TB this is the plan you want: no per-token explode/
    // shuffle (term set is fixed and small, so tf is a per-row
    // column), stats are O(1) bytes moved, and the only wide op is
    // the final TakeOrdered over scored rows. Scoring emits
    // micro-rounded int64 (ln is the one non-exactly-rounded
    // function in the engine; the 1e-6 quantization absorbs any
    // sub-ulp libm divergence — every other term of the formula is
    // exact-rounded IEEE arithmetic on identical inputs).
    "q43_bm25" -> { (s, d) =>
      import s.implicits._
      def base: DataFrame = {
        val toks = Tables.documents(s, d)
          .select($"doc_id", TextOps.tokens($"text").as("toks"))
        val tfCols = Terms.zipWithIndex.map { case (t, i) =>
          size(filter($"toks", x => x === lit(t))).cast("double").as(s"tf$i")
        }
        toks.select($"doc_id" +: size($"toks").cast("double").as("dl") +: tfCols: _*)
      }
      val statCols = count(lit(1)).cast("double").as("n") +:
        sum($"dl").as("sumdl") +:
        Terms.indices.map(i =>
          sum(when(col(s"tf$i") > 0, 1).otherwise(0)).cast("double").as(s"df$i"))
      val stats = base.agg(statCols.head, statCols.tail: _*)
      val contribs = Terms.indices.map { i =>
        bm25Contrib(col(s"tf$i"), col(s"df$i"), $"n", $"sumdl", $"dl")
      }
      base.crossJoin(broadcast(stats))
        .select($"doc_id", $"dl".cast("bigint").as("dl"),
          floor(contribs.reduce(_ + _) * lit(1e6) + lit(0.5))
            .cast("bigint").as("score_u"))
        .filter($"score_u" > 0)
        .orderBy($"score_u".desc, $"doc_id")
        .limit(10)
    },

    // Blocked fuzzy join: dirty catalog names → part names within
    // levenshtein ≤ 2, blocked on the product noun (last word) so
    // the plan is a broadcast equi-join on the block key with the
    // edit distance evaluated only WITHIN blocks — never an
    // all-pairs theta join. (Blocking trades recall for scale by
    // construction: a typo in the blocking word escapes the block;
    // that is the documented contract of every blocked matcher.)
    "q44_fuzzy_join" -> { (s, d) =>
      import s.implicits._
      val dirty = DirtyNames.toDF("q_name")
        .withColumn("block", element_at(split($"q_name", " "), -1))
      val parts = Tables.part(s, d)
        .select($"p_name").distinct()
        .withColumn("block", element_at(split($"p_name", " "), -1))
      parts.join(broadcast(dirty), "block")
        .withColumn("dist", levenshtein($"q_name", $"p_name"))
        .filter($"dist" <= FuzzyMaxDist)
        .select($"q_name", $"p_name", $"dist")
        .orderBy($"q_name", $"dist", $"p_name")
    },

    // Grouping sets with explicit grouping flags (the general form
    // of q11's rollup / q12's cube): one expand + hash agg, the
    // same single-shuffle shape at any scale.
    "q45_grouping_sets" -> { (s, d) =>
      import s.implicits._
      import graft.ops.Determinism.sumExact
      Tables.lineitem(s, d)
        .groupingSets(
          Seq(Seq($"l_returnflag", $"l_linestatus"), Seq($"l_returnflag"), Seq()),
          $"l_returnflag", $"l_linestatus")
        .agg(count(lit(1)).as("n"), sumExact($"l_quantity").as("sum_qty"),
          grouping($"l_returnflag").cast("int").as("g_flag"),
          grouping($"l_linestatus").cast("int").as("g_status"))
        .select(coalesce($"l_returnflag", lit("ALL")).as("flag"),
          coalesce($"l_linestatus", lit("ALL")).as("status"),
          $"g_flag", $"g_status", $"n", $"sum_qty")
        .orderBy($"g_flag", $"g_status", $"flag", $"status")
    },

    // Pivot: long→wide with a fixed pivot-value list (the scalable
    // form — map-side conditional aggregation, one shuffle on the
    // group key, no distinct-values pre-pass).
    "q46_pivot" -> { (s, d) =>
      import s.implicits._
      val srcs = Seq("src1", "src2", "src3", "src4")
      val wide = Tables.documents(s, d)
        .groupBy($"lang").pivot("source", srcs).count()
      wide.select($"lang" +: srcs.map(c =>
          coalesce(col(c), lit(0L)).as(c)): _*)
        .orderBy($"lang")
    },

    // Argmax/argmin aggregates (max_by/min_by): per nation, the
    // customer holding the max/min balance. The order value packs
    // (cents, custkey) into one exactly-representable int64 so ties
    // on balance break deterministically on key — same packing on
    // both engines.
    "q47_argmax" -> { (s, d) =>
      import s.implicits._
      val ordval = (round($"c_acctbal" * 100).cast("bigint") * lit(100000000L) +
        $"c_custkey").as("ordval")
      Tables.customer(s, d)
        .select($"c_nationkey", $"c_name", ordval)
        .groupBy($"c_nationkey")
        .agg(max_by($"c_name", $"ordval").as("richest"),
          min_by($"c_name", $"ordval").as("poorest"),
          count(lit(1)).as("n_cust"))
        .orderBy($"c_nationkey")
    },

    // Sliding (hopping) event-time windows — the overlapping
    // complement of q27's tumbling day windows and q35's session
    // windows: 1-day width hopping every 12h, so each event lands in
    // exactly width/slide = 2 windows. Spark expands the window set
    // map-side (no self-join); the oracle derives the same two
    // epoch-aligned starts per event arithmetically.
    "q49_sliding_windows" -> { (s, d) =>
      import s.implicits._
      import graft.ops.Determinism.sumExact
      Tables.events(s, d)
        .groupBy(window($"ts", "1 day", "12 hours"), $"event_type")
        .agg(count(lit(1)).as("n"), sumExact($"value").as("total_value"))
        .select(date_format($"window.start", "yyyy-MM-dd HH:mm").as("win_start"),
          $"event_type", $"n", $"total_value")
        .orderBy($"win_start", $"event_type")
    },

    // SCD-2 history compression (slowly-changing-dimension build):
    // per user, keep only CHANGE POINTS of the tracked attribute
    // (event_type here), then stitch validity intervals with lead()
    // — the standard "compress an event log into versioned dimension
    // rows" warehouse operator. Two windows over the same (user_id →
    // time) partitioning: Spark plans them into ONE shuffle + sort
    // (both windows share the partition/order), so the log shuffles
    // once. Open intervals get a sentinel end; micros keep the
    // boundaries exact.
    "q83_scd2_intervals" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"user_id").orderBy($"ts_us", $"event_id")
      Tables.events(s, d)
        .select($"user_id", $"event_id", unix_micros($"ts").as("ts_us"),
          $"event_type")
        .withColumn("prev", lag($"event_type", 1).over(w))
        .filter($"prev".isNull || $"prev" =!= $"event_type")
        .withColumn("valid_to",
          coalesce(lead($"ts_us", 1).over(w), lit(Long.MaxValue)))
        .select($"user_id", $"event_type",
          $"ts_us".as("valid_from"), $"valid_to")
        .orderBy($"user_id", $"valid_from", $"event_id")
    },

    // Exponentially-decayed activity score (EMA-style recency
    // weighting, the standard feature-pipeline aggregate): per user,
    // fold events in time order with acc = acc·α + value, so the
    // newest event carries weight 1 and each step back decays by α.
    // The recursion IS the left fold — both engines run the same
    // (sort → fold) shape q50 established, bit-identical because the
    // sequence order is total (ms, event_id) and the arithmetic is
    // a fixed-order double chain. One shuffle on user_id; per-user
    // state bounded by that user's own events.
    "q81_decay_score" -> { (s, d) =>
      import s.implicits._
      import graft.ops.Determinism.roundFix
      val Alpha = 0.9
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(array_sort(collect_list(
          struct(unix_millis($"ts").as("ms"), $"event_id", $"value")))
          .as("seq"), count(lit(1)).as("n_events"))
        .select($"user_id", $"n_events",
          roundFix(
            aggregate(
              transform($"seq", e => e.getField("value")),
              lit(0.0),
              (acc, v) => acc * lit(Alpha) + v),
            6).as("decay_score"))
        .orderBy($"user_id")
    },

    // Time-series gap fill + forward fill: per-user daily event
    // counts, a generated date spine over each user's active range
    // (sequence + explode — map-side, no join against a calendar
    // table), left join of observed days, then last-non-null
    // forward fill. The missing-day rows keep n NULL so downstream
    // can tell observed zeros from filled values. Scale: the spine
    // is bounded by Σ per-user ranges (not users × global range);
    // one shuffle for the daily agg, one for the window.
    "q77_gap_fill" -> { (s, d) =>
      import s.implicits._
      val daily = Tables.events(s, d)
        .groupBy($"user_id", to_date(date_trunc("DAY", $"ts")).as("day"))
        .agg(count(lit(1)).as("n"))
      val spine = daily.groupBy($"user_id")
        .agg(min($"day").as("d0"), max($"day").as("d1"))
        .select($"user_id",
          explode(sequence($"d0", $"d1", expr("interval 1 day"))).as("day"))
      val w = Window.partitionBy($"user_id").orderBy($"day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      spine
        .join(daily, Seq("user_id", "day"), "left")
        .select($"user_id", $"day", $"n",
          last($"n", ignoreNulls = true).over(w).as("n_filled"))
        .orderBy($"user_id", $"day")
    },

    // CUSUM change detection over the per-type daily event stream
    // (Page 1954's cumulative-sum chart — the classic sequential
    // detector behind every "this feed's volume shifted" alarm;
    // where q116's JSD compares two SNAPSHOTS, CUSUM watches ONE
    // stream and accumulates small persistent deviations until they
    // cross a decision interval). The recursion gₜ = max(0, gₜ₋₁ +
    // xₜ − μ − k) is NOT a window primitive, but its closed form is:
    // gₜ = Sₜ − min(0, min_{j≤t} Sⱼ) with S the plain prefix sum of
    // deviations — so the whole detector is TWO stacked windows over
    // the aggregated daily frame (prefix sum + running min), never a
    // sequential driver loop. Self-baselined (μ = the type's own
    // mean daily count — the Phase-I convention), allowance k = 10%
    // of μ and decision interval h = 5k (the standard fast-initial-
    // response-free parameterization; both documented constants).
    // Exactness: deviations stay in count·days integer units
    // (n·D − T − T div 10) in DECIMAL(38,0)/HUGEINT — no division
    // touches the alarm decision, which compares exact integers;
    // only the REPORTED cusum normalizes to mean-day units through
    // one double division. Scale shape: one scan → O(types·days)
    // daily aggregate (map-side combined); both windows and the
    // baseline join run over that aggregated frame.
    "q169_cusum_drift" -> { (s, d) =>
      import s.implicits._
      cusumDrift(Tables.events(s, d))
    },

    // Behavioral funnel over per-user event sequences: how far does
    // each user get through view → click → purchase IN ORDER? One
    // shuffle on user_id; per-user state is that user's own events
    // (the sessionization shape — bounded by activity, not corpus).
    // The sequence is made deterministic by sorting (epoch_ms,
    // event_id) structs, then a left fold advances the stage counter
    // — the same transform+fold runs in DuckDB.
    "q50_funnel" -> { (s, d) =>
      import s.implicits._
      val steps = array(lit("view"), lit("click"), lit("purchase"))
      Tables.events(s, d)
        .groupBy($"user_id")
        .agg(array_sort(collect_list(
          struct(unix_millis($"ts").as("ms"), $"event_id", $"event_type")))
          .as("seq"), count(lit(1)).as("n_events"))
        .select($"user_id", $"n_events",
          aggregate(
            transform($"seq", e =>
              coalesce(array_position(steps, e.getField("event_type")), lit(0L))
                .cast("int")),
            lit(0),
            (acc, x) => when(x === acc + 1, acc + 1).otherwise(acc))
            .as("funnel_stage"))
        .orderBy($"user_id")
    },

    // Value-window functions: lag/lead/ntile/percent_rank over each
    // customer's order history (complements q09's rank filter and
    // q10's running sum). percent_rank divides two exact ints —
    // bit-identical cross-engine; prices emit as exact cents.
    "q48_order_deltas" -> { (s, d) =>
      import s.implicits._
      val w = Window.partitionBy($"o_custkey").orderBy($"o_orderdate", $"o_orderkey")
      def cents(c: Column): Column = floor(c * 100 + lit(0.5)).cast("bigint")
      Tables.orders(s, d)
        .filter($"o_custkey" <= 50)
        .select($"o_custkey", $"o_orderkey",
          date_format($"o_orderdate", "yyyy-MM-dd").as("order_date"),
          cents($"o_totalprice").as("price_c"),
          cents(lag($"o_totalprice", 1, 0.0).over(w)).as("prev_price_c"),
          date_format(lead($"o_orderdate", 1).over(w), "yyyy-MM-dd").as("next_date"),
          ntile(4).over(w).as("quartile"),
          percent_rank().over(w).as("pct_rank"))
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // Unpivot (wide → long): per-priority order metrics melted to
    // (priority, metric, value) rows — the Dataset.unpivot operator;
    // the oracle is the portable UNION ALL expansion (identical
    // semantics incl. NULL-dropping, which doesn't arise here).
    // Counts and micro-unit sums keep every value double-exact.
    "q57_unpivot" -> { (s, d) =>
      import s.implicits._
      Tables.orders(s, d)
        .groupBy($"o_orderpriority")
        .agg(count(lit(1)).cast("double").as("n_orders"),
          graft.ops.Determinism.sumExact($"o_totalprice").as("total_price"),
          max($"o_totalprice").as("max_price"))
        .unpivot(
          Array($"o_orderpriority"),
          Array($"n_orders", $"total_price", $"max_price"),
          "metric", "value")
        .orderBy($"o_orderpriority", $"metric")
    },

    // Bag (multiset) set ops — EXCEPT ALL / INTERSECT ALL keep
    // multiplicities (q16/q17 are the distinct forms). Spark plans
    // both as multiplicity arithmetic over a single hash aggregate
    // per side (generate+sum), not a join. Output is re-grouped to
    // (value, multiplicity) for a stable compare.
    "q58_bag_setops" -> { (s, d) =>
      import s.implicits._
      val a = Tables.customer(s, d)
        .filter($"c_mktsegment" === "BUILDING").select($"c_nationkey")
      val b = Tables.customer(s, d)
        .filter($"c_acctbal" > 1000).select($"c_nationkey")
      val ex = a.exceptAll(b).groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("except_all"))
      val in = a.intersectAll(b).groupBy($"c_nationkey")
        .agg(count(lit(1)).as("n")).withColumn("op", lit("intersect_all"))
      ex.union(in).orderBy($"op", $"c_nationkey")
    },

    // Bounded window frames — the frame vocabulary q09/q10/q48 don't
    // cover: a ROWS-frame moving sum, first/last_value over an
    // explicit full-partition frame (last_value under the DEFAULT
    // frame is the famous current-row trap — spelled explicitly
    // here), and nth_value. All money in exact cents.
    "q62_window_frames" -> { (s, d) =>
      import s.implicits._
      val cents = floor($"o_totalprice" * 100 + lit(0.5)).cast("bigint")
      val order = Window.partitionBy($"o_custkey")
        .orderBy($"o_orderdate", $"o_orderkey")
      val moving = order.rowsBetween(-2, Window.currentRow)
      val full = order.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
      Tables.orders(s, d)
        .filter($"o_custkey" <= 50)
        .select($"o_custkey", $"o_orderkey", $"o_orderdate", cents.as("price_c"))
        .withColumn("moving3_c", sum($"price_c").over(moving))
        .withColumn("first_c", first($"price_c").over(full))
        .withColumn("last_c", last($"price_c").over(full))
        .withColumn("second_c", nth_value($"price_c", 2).over(full))
        .drop("o_orderdate")
        .orderBy($"o_custkey", $"o_orderkey")
    },

    // LATERAL join: per-nation top-2 orders via a correlated,
    // ordered-and-limited lateral subquery — the SQL face of the
    // per-key top-k pattern (the Column-API/TopKPerKey forms are
    // q09/q39). Catalyst decorrelates the lateral into a window
    // rank over a domain join (no per-outer-row re-execution), and
    // the engine's WindowTopKRewrite then plans THAT onto the custom
    // TopKPerKeyExec — `graft.Explain q59_lateral_topk` shows
    // TopKPerKeyPartial feeding the shuffle. SQL text in, custom
    // operator out, with no hint anywhere.
    "q59_lateral_topk" -> { (s, d) =>
      Tables.nation(s, d).createOrReplaceTempView("nation")
      Tables.customer(s, d).createOrReplaceTempView("customer")
      Tables.orders(s, d).createOrReplaceTempView("orders")
      s.sql(LateralSql)
    },

    // Hybrid lexical+semantic retrieval (class doc on [[hybridRrf]]):
    // the fusion every retrieval consumer of a BM25 index (q43/q70)
    // plus an ANN path (q25/q90/AnnIndex) asks for first.
    "q111_hybrid_rrf" -> { (s, d) =>
      hybridRrf(Tables.documents(s, d))
    },

    // Hard-negative mining (class doc on [[hardNegatives]]): the
    // training-data product of the retrieval family — q111 serves
    // with the rankers; q117 mines the contrastive pairs that would
    // TRAIN the dense side.
    "q117_hard_negatives" -> { (s, d) =>
      hardNegatives(Tables.documents(s, d))
    },

    // Ranker agreement (class doc on [[rankOverlap]]): average
    // overlap + rank-biased overlap between q111's lexical and
    // semantic rank lists — the retrieval-stack diagnostic that says
    // whether hybrid fusion is WORTH its second ranker (RBO → 1: the
    // rankers are redundant, serve one; RBO → 0: they see disjoint
    // corpora slices, fusion is load-bearing). Same rankers q111
    // fuses, so the number describes exactly the shipped pair.
    "q158_rank_overlap" -> { (s, d) =>
      val (lex, sem) = rrfRankers(Tables.documents(s, d), RrfQueries)
      rankOverlap(lex, sem, RrfQueries.map(_._1))
    },

    // SEMANTIC benchmark decontamination (the embedding-similarity
    // screen next to q121's lexical n-gram scan — the recipe
    // phi/"Textbooks Are All You Need" (Gunasekar et al. 2023) and
    // Platypus (Lee et al. 2023) run because paraphrased
    // contamination carries ZERO shared n-grams and q121 is blind to
    // it): top-k training docs by embedding cosine against each eval
    // item, the review queue a decontamination pass hand-checks.
    // Scans the SAME derived benchmark as q121
    // (Cleaning.decontEvalItems — one definition), so the two
    // screens' outputs line up row-for-row for the same eval ids;
    // the planted spans are lifted from real donor docs, so the
    // semantic screen provably rediscovers each donor at rank 1.
    // Scale shape: one corpus embed pass (the q111/q117 stand-in
    // encoder — the ranker is a plug point for AnnIndex at scale),
    // eval set broadcasts, bounded-heap TopKPerKey — never a
    // whole-corpus window (intendedBnlj: the tiny eval frame).
    "q167_semantic_contam" -> { (s, d) =>
      val docs = Tables.documents(s, d)
      semanticContam(docs, Cleaning.decontEvalItems(docs))
    }
  )

  /** The q169 chain over any (event_type, ts) frame (spec hook:
    * planted level-shift series with hand-computed alarm days —
    * RelationalSpec). A monotone-decreasing S (steady stream) keeps
    * cusum at exactly 0 because the running min includes the current
    * row. */
  private[graft] def cusumDrift(events: DataFrame): DataFrame = {
    val spark = events.sparkSession
    import spark.implicits._
    val daily = events
      .select($"event_type", to_date(date_trunc("DAY", $"ts")).as("day"))
      .groupBy($"event_type", $"day").agg(count(lit(1)).as("n"))
    val base = daily.groupBy($"event_type")
      .agg(sum($"n").as("t"), count(lit(1)).as("d"))
    val w = Window.partitionBy($"event_type").orderBy($"day")
    daily.join(base, Seq("event_type"))
      .withColumn("step",
        expr("CAST(n AS DECIMAL(38,0)) * d - t - (t div 10)"))
      .withColumn("sa", sum($"step").over(w))
      .withColumn("smin", min($"sa").over(w))
      .withColumn("cusum",
        $"sa" - least($"smin", lit(0).cast("decimal(38,0)")))
      .select($"event_type", $"day", $"n".as("n_events"),
        floor($"cusum".cast("double") / $"t".cast("double")
          * lit(1e6) + lit(0.5)).cast("bigint").as("cusum_micro"),
        when(expr("cusum > 5 * (t div 10)"), 1L).otherwise(0L).as("alarm"))
      .orderBy($"event_type", $"day")
  }

  /** Runs verbatim in both engines. */
  private val LateralSql =
    """SELECT n.n_name, t.o_orderkey,
      |  CAST(floor(t.o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
      |FROM nation n
      |CROSS JOIN LATERAL (
      |  SELECT o.o_orderkey, o.o_totalprice
      |  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
      |  WHERE c.c_nationkey = n.n_nationkey
      |  ORDER BY o.o_totalprice DESC, o.o_orderkey
      |  LIMIT 2) t
      |ORDER BY n.n_name, t.o_orderkey""".stripMargin

  val oracles: Map[String, String] = {
    val toks = TextVector.Sql.toks("text")

    Map(
      // Twin of q169: same daily aggregate, HUGEINT ≡ DECIMAL(38,0)
      // deviation units, the same two stacked windows, the exact
      // integer alarm comparison, one double division for the
      // reported normalization.
      "q169_cusum_drift" ->
        """WITH daily AS (
          |  SELECT event_type, CAST(date_trunc('day', ts) AS DATE) AS day,
          |         CAST(count(*) AS BIGINT) AS n
          |  FROM events GROUP BY 1, 2),
          |base AS (SELECT event_type, CAST(sum(n) AS BIGINT) AS t,
          |           CAST(count(*) AS BIGINT) AS d
          |         FROM daily GROUP BY 1),
          |j AS (SELECT daily.event_type, daily.day, daily.n, base.t,
          |        CAST(daily.n AS HUGEINT) * base.d - base.t - (base.t // 10)
          |          AS step
          |      FROM daily JOIN base USING (event_type)),
          |s AS (SELECT *, sum(step) OVER (PARTITION BY event_type
          |        ORDER BY day) AS sa FROM j),
          |m AS (SELECT *, min(sa) OVER (PARTITION BY event_type
          |        ORDER BY day) AS smin FROM s),
          |c AS (SELECT event_type, day, n, t,
          |        sa - least(smin, CAST(0 AS HUGEINT)) AS cusum FROM m)
          |SELECT event_type, day, n AS n_events,
          |  CAST(floor(CAST(cusum AS DOUBLE) / CAST(t AS DOUBLE)
          |    * 1000000.0 + 0.5) AS BIGINT) AS cusum_micro,
          |  CAST(CASE WHEN cusum > 5 * (t // 10) THEN 1 ELSE 0 END AS BIGINT)
          |    AS alarm
          |FROM c ORDER BY event_type, day""".stripMargin,

      "q77_gap_fill" ->
        """WITH daily AS (
          |  SELECT user_id, CAST(date_trunc('day', ts) AS DATE) AS day,
          |         count(*) AS n
          |  FROM events GROUP BY 1, 2
          |),
          |bounds AS (SELECT user_id, min(day) AS d0, max(day) AS d1
          |           FROM daily GROUP BY 1),
          |spine AS (SELECT user_id,
          |            CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
          |          FROM bounds),
          |j AS (SELECT s.user_id, s.day, d.n
          |      FROM spine s LEFT JOIN daily d
          |        ON d.user_id = s.user_id AND d.day = s.day)
          |SELECT user_id, day, n,
          |  last_value(n IGNORE NULLS) OVER (PARTITION BY user_id ORDER BY day
          |    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS n_filled
          |FROM j ORDER BY user_id, day""".stripMargin,

      "q43_bm25" -> {
        val tfSelects = Terms.zipWithIndex.map { case (t, i) =>
          s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
        }.mkString(", ")
        val dfSelects = Terms.indices.map(i =>
          s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
          .mkString(", ")
        val contribs = Terms.indices.map(i =>
          sqlBm25Contrib(s"tf$i", s"df$i")).mkString(" + ")
        s"""WITH base AS (
           |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl, $tfSelects
           |  FROM (SELECT doc_id, $toks AS toks FROM documents)
           |), stats AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl, $dfSelects FROM base
           |)
           |SELECT doc_id, CAST(dl AS BIGINT) AS dl,
           |       CAST(floor(($contribs) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score_u
           |FROM base, stats
           |WHERE CAST(floor(($contribs) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) > 0
           |ORDER BY score_u DESC, doc_id LIMIT 10""".stripMargin
      },

      // Twin of q111 (hybridRrf): q43's BM25 per query phrase, the
      // q34-style FeatureEmbed cosine over sorted distinct token
      // hashes, row_number ranks (the TopKPerKey contract — TopKSpec
      // pins rank equivalence), and the RRF fold in fixed ranker
      // order.
      "q111_hybrid_rrf" -> {
        val terms = RrfQueries.flatMap(_._2.split(' ')).distinct
        val tfSelects = terms.zipWithIndex.map { case (t, i) =>
          s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
        }.mkString(", ")
        val dfSelects = terms.indices.map(i =>
          s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
          .mkString(", ")
        def fe(hs: String): String = sqlFeatEmbed(hs)
        val qVals = RrfQueries.map { case (q, p) => s"($q, '$p')" }.mkString(", ")
        val lexUnion = RrfQueries.map { case (qid, phrase) =>
          val c = phrase.split(' ').toSeq.map(t =>
            sqlBm25Contrib(s"tf${terms.indexOf(t)}", s"df${terms.indexOf(t)}"))
            .mkString(" + ")
          s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
             |  CAST(floor(($c) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score_u
             |FROM base, stats""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH base AS (
           |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
           |    list_sort(list_distinct(list_transform(toks, t -> ${TextVector.Sql.polyHash("t")}))) AS hs,
           |    $tfSelects
           |  FROM (SELECT doc_id, $toks AS toks FROM documents)
           |  WHERE len(toks) > 0
           |), stats AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl, $dfSelects FROM base
           |), docv AS (SELECT doc_id, ${fe("hs")} AS v FROM base),
           |qe AS (SELECT CAST(query_id AS BIGINT) AS query_id, ${fe("qhs")} AS qv
           |       FROM (SELECT query_id,
           |               list_sort(list_distinct(list_transform(${TextVector.Sql.toks("qtext")}, t -> ${TextVector.Sql.polyHash("t")}))) AS qhs
           |             FROM (VALUES $qVals) q(query_id, qtext))),
           |lexall AS ($lexUnion),
           |lex AS (SELECT query_id, doc_id,
           |          row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS lrank
           |        FROM lexall WHERE score_u > 0),
           |sem AS (SELECT query_id, doc_id,
           |          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS srank
           |        FROM (SELECT qe.query_id, docv.doc_id,
           |                ${TextVector.Sql.dot("qe.qv", "docv.v")}
           |                  / sqrt(${TextVector.Sql.dot("qe.qv", "qe.qv")})
           |                  / sqrt(${TextVector.Sql.dot("docv.v", "docv.v")}) AS cos
           |              FROM docv CROSS JOIN qe)),
           |fused AS (
           |  SELECT coalesce(l.query_id, s.query_id) AS query_id,
           |         coalesce(l.doc_id, s.doc_id) AS doc_id,
           |    CAST(floor((coalesce(1.0/($RrfK + l.lrank), 0.0)
           |      + coalesce(1.0/($RrfK + s.srank), 0.0)) * 1000000000.0 + 0.5) AS BIGINT) AS rrf_nano
           |  FROM (SELECT * FROM lex WHERE lrank <= $RrfDepth) l
           |  FULL OUTER JOIN (SELECT * FROM sem WHERE srank <= $RrfDepth) s
           |    ON l.query_id = s.query_id AND l.doc_id = s.doc_id),
           |r AS (SELECT query_id, doc_id, rrf_nano,
           |        CAST(row_number() OVER (PARTITION BY query_id ORDER BY rrf_nano DESC, doc_id) AS BIGINT) AS rn
           |      FROM fused)
           |SELECT query_id, doc_id, rrf_nano, rn FROM r WHERE rn <= $RrfTopN
           |ORDER BY query_id, rn""".stripMargin
      },

      // Twin of q158 (rankOverlap): the q111 ranker CTEs verbatim
      // through lex/sem, then the depth-profile arithmetic — X_d via
      // per-(query, max-rank) counts against a depth spine, AO and
      // RBO(p=1/2) terms as ONE exact double division each,
      // quantize-then-sum.
      "q158_rank_overlap" -> {
        val terms = RrfQueries.flatMap(_._2.split(' ')).distinct
        val tfSelects = terms.zipWithIndex.map { case (t, i) =>
          s"CAST(len(list_filter(toks, x -> x = '$t')) AS DOUBLE) AS tf$i"
        }.mkString(", ")
        val dfSelects = terms.indices.map(i =>
          s"CAST(sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS DOUBLE) AS df$i")
          .mkString(", ")
        def fe(hs: String): String = sqlFeatEmbed(hs)
        val qVals = RrfQueries.map { case (q, p) => s"($q, '$p')" }.mkString(", ")
        val qIds = RrfQueries.map { case (q, _) => s"($q)" }.mkString(", ")
        val lexUnion = RrfQueries.map { case (qid, phrase) =>
          val c = phrase.split(' ').toSeq.map(t =>
            sqlBm25Contrib(s"tf${terms.indexOf(t)}", s"df${terms.indexOf(t)}"))
            .mkString(" + ")
          s"""SELECT CAST($qid AS BIGINT) AS query_id, doc_id,
             |  CAST(floor(($c) * CAST(1000000.0 AS DOUBLE) + CAST(0.5 AS DOUBLE)) AS BIGINT) AS score_u
             |FROM base, stats""".stripMargin
        }.mkString("\nUNION ALL\n")
        s"""WITH base AS (
           |  SELECT doc_id, CAST(len(toks) AS DOUBLE) AS dl,
           |    list_sort(list_distinct(list_transform(toks, t -> ${TextVector.Sql.polyHash("t")}))) AS hs,
           |    $tfSelects
           |  FROM (SELECT doc_id, ${TextVector.Sql.toks("text")} AS toks FROM documents)
           |  WHERE len(toks) > 0
           |), stats AS (
           |  SELECT CAST(count(*) AS DOUBLE) AS n, sum(dl) AS sumdl, $dfSelects FROM base
           |), docv AS (SELECT doc_id, ${fe("hs")} AS v FROM base),
           |qe AS (SELECT CAST(query_id AS BIGINT) AS query_id, ${fe("qhs")} AS qv
           |       FROM (SELECT query_id,
           |               list_sort(list_distinct(list_transform(${TextVector.Sql.toks("qtext")}, t -> ${TextVector.Sql.polyHash("t")}))) AS qhs
           |             FROM (VALUES $qVals) q(query_id, qtext))),
           |lexall AS ($lexUnion),
           |lex AS (SELECT query_id, doc_id,
           |          row_number() OVER (PARTITION BY query_id ORDER BY score_u DESC, doc_id) AS lrank
           |        FROM lexall WHERE score_u > 0),
           |sem AS (SELECT query_id, doc_id,
           |          row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, doc_id) AS srank
           |        FROM (SELECT qe.query_id, docv.doc_id,
           |                ${TextVector.Sql.dot("qe.qv", "docv.v")}
           |                  / sqrt(${TextVector.Sql.dot("qe.qv", "qe.qv")})
           |                  / sqrt(${TextVector.Sql.dot("docv.v", "docv.v")}) AS cos
           |              FROM docv CROSS JOIN qe)),
           |pairs AS (SELECT l.query_id,
           |            CAST(greatest(l.lrank, s.srank) AS BIGINT) AS m
           |          FROM (SELECT * FROM lex WHERE lrank <= $RrfDepth) l
           |          JOIN (SELECT * FROM sem WHERE srank <= $RrfDepth) s
           |            ON s.query_id = l.query_id AND s.doc_id = l.doc_id),
           |cm AS (SELECT query_id, m, CAST(count(*) AS BIGINT) AS cm
           |       FROM pairs GROUP BY 1, 2),
           |spine AS (SELECT CAST(q.query_id AS BIGINT) AS query_id,
           |            CAST(d.d AS BIGINT) AS d
           |          FROM (VALUES $qIds) q(query_id),
           |            (SELECT unnest(range(1, ${RrfDepth + 1})) AS d) d),
           |xd AS (SELECT spine.query_id, spine.d,
           |         coalesce(CAST(sum(cm.cm) AS BIGINT), CAST(0 AS BIGINT)) AS x
           |       FROM spine LEFT JOIN cm
           |         ON cm.query_id = spine.query_id AND cm.m <= spine.d
           |       GROUP BY 1, 2),
           |terms AS (SELECT query_id,
           |    CASE WHEN d = $RrfDepth THEN x ELSE CAST(0 AS BIGINT) END AS xk,
           |    CAST(floor(CAST(x AS DOUBLE) * 1000000.0
           |      / CAST(d * $RrfDepth AS DOUBLE) + 0.5) AS BIGINT) AS ao_t,
           |    CAST(floor(CAST(x AS DOUBLE) * 1000000.0
           |      / CAST(d * (CAST(1 AS BIGINT) << CAST(d AS INTEGER)) AS DOUBLE)
           |      + 0.5) AS BIGINT) AS rbo_t
           |  FROM xd),
           |sc AS (SELECT query_id, CAST(max(xk) AS BIGINT) AS x_k,
           |         CAST(sum(ao_t) AS BIGINT) AS ao_micro,
           |         CAST(sum(rbo_t) AS BIGINT) AS rbo_micro
           |       FROM terms GROUP BY 1),
           |nl AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_lex
           |       FROM lex WHERE lrank <= $RrfDepth GROUP BY 1),
           |nsm AS (SELECT query_id, CAST(count(*) AS BIGINT) AS n_sem
           |        FROM sem WHERE srank <= $RrfDepth GROUP BY 1),
           |qs AS (SELECT CAST(query_id AS BIGINT) AS query_id
           |       FROM (VALUES $qIds) q(query_id))
           |SELECT qs.query_id,
           |  coalesce(nl.n_lex, CAST(0 AS BIGINT)) AS n_lex,
           |  coalesce(nsm.n_sem, CAST(0 AS BIGINT)) AS n_sem,
           |  coalesce(sc.x_k, CAST(0 AS BIGINT)) AS x_k,
           |  coalesce(sc.ao_micro, CAST(0 AS BIGINT)) AS ao_micro,
           |  coalesce(sc.rbo_micro, CAST(0 AS BIGINT)) AS rbo_micro
           |FROM qs LEFT JOIN nl ON nl.query_id = qs.query_id
           |LEFT JOIN nsm ON nsm.query_id = qs.query_id
           |LEFT JOIN sc ON sc.query_id = qs.query_id
           |ORDER BY qs.query_id""".stripMargin
      },

      // Twin of q167 (semanticContam): q121's derived-benchmark CTEs
      // (same constants), the q111/q117 embedding device, nano-
      // rounded cosine, row_number ranks (the TopKPerKey contract).
      "q167_semantic_contam" -> {
        val ph = TextVector.Sql.polyHash("t")
        s"""WITH ev0 AS (SELECT doc_id, text FROM documents
           |             ORDER BY n_chars DESC, doc_id LIMIT ${Cleaning.DecontEvalN}),
           |ev1 AS (SELECT doc_id AS eval_id,
           |          array_to_string((${TextVector.Sql.toks("text")})
           |            [${Cleaning.DecontSpanFrom} : ${Cleaning.DecontSpanFrom + Cleaning.DecontSpanLen - 1}], ' ')
           |            AS etext
           |        FROM ev0),
           |base AS (
           |  SELECT doc_id,
           |    list_sort(list_distinct(list_transform(toks, t -> $ph))) AS hs
           |  FROM (SELECT doc_id, ${TextVector.Sql.toks("text")} AS toks FROM documents)
           |  WHERE len(toks) > 0
           |), docv AS (SELECT doc_id, ${sqlFeatEmbed("hs")} AS v FROM base),
           |q AS (SELECT eval_id, ${sqlFeatEmbed("qhs")} AS qv
           |      FROM (SELECT eval_id,
           |              list_sort(list_distinct(list_transform(${TextVector.Sql.toks("etext")}, t -> $ph))) AS qhs
           |            FROM ev1)),
           |sc AS (SELECT q.eval_id, d.doc_id,
           |         CAST(floor((${TextVector.Sql.dot("q.qv", "d.v")}
           |             / sqrt(${TextVector.Sql.dot("q.qv", "q.qv")})
           |             / sqrt(${TextVector.Sql.dot("d.v", "d.v")}))
           |           * 1000000000.0 + 0.5) AS BIGINT) AS cos_nano
           |       FROM docv d CROSS JOIN q),
           |r AS (SELECT eval_id, doc_id, cos_nano,
           |        CAST(row_number() OVER (PARTITION BY eval_id
           |          ORDER BY cos_nano DESC, doc_id) AS BIGINT) AS rn
           |      FROM sc)
           |SELECT eval_id, doc_id, cos_nano, rn FROM r WHERE rn <= $HnTopK
           |ORDER BY eval_id, rn""".stripMargin
      },

      // Twin of q117 (hardNegatives): the q111 doc/query embedding
      // CTEs (shared sqlFeatEmbed twin), the zero-shared-term filter
      // as len(list_intersect) = 0, nano-rounded cosine, row_number
      // ranks (the TopKPerKey contract — TopKSpec pins rank
      // equivalence).
      "q117_hard_negatives" -> {
        val qVals = RrfQueries.map { case (q, p) => s"($q, '$p')" }.mkString(", ")
        val ph = TextVector.Sql.polyHash("t")
        s"""WITH base AS (
           |  SELECT doc_id, toks,
           |    list_sort(list_distinct(list_transform(toks, t -> $ph))) AS hs
           |  FROM (SELECT doc_id, $toks AS toks FROM documents)
           |  WHERE len(toks) > 0
           |), docv AS (SELECT doc_id, toks, ${sqlFeatEmbed("hs")} AS v FROM base),
           |q AS (SELECT CAST(query_id AS BIGINT) AS query_id,
           |        list_distinct(qtoks) AS qtoks, ${sqlFeatEmbed("qhs")} AS qv
           |      FROM (SELECT query_id, qtoks,
           |              list_sort(list_distinct(list_transform(qtoks, t -> $ph))) AS qhs
           |            FROM (SELECT query_id, ${TextVector.Sql.toks("qtext")} AS qtoks
           |                  FROM (VALUES $qVals) vq(query_id, qtext)))),
           |sc AS (SELECT q.query_id, d.doc_id,
           |         CAST(floor((${TextVector.Sql.dot("q.qv", "d.v")}
           |             / sqrt(${TextVector.Sql.dot("q.qv", "q.qv")})
           |             / sqrt(${TextVector.Sql.dot("d.v", "d.v")}))
           |           * 1000000000.0 + 0.5) AS BIGINT) AS cos_nano
           |       FROM docv d CROSS JOIN q
           |       WHERE len(list_intersect(d.toks, q.qtoks)) = 0),
           |r AS (SELECT query_id, doc_id, cos_nano,
           |        CAST(row_number() OVER (PARTITION BY query_id
           |          ORDER BY cos_nano DESC, doc_id) AS BIGINT) AS rn
           |      FROM sc)
           |SELECT query_id, doc_id, cos_nano, rn FROM r WHERE rn <= $HnTopK
           |ORDER BY query_id, rn""".stripMargin
      },

      "q44_fuzzy_join" -> {
        val vals = DirtyNames.map(n => s"('$n')").mkString(", ")
        s"""WITH dirty(q_name) AS (VALUES $vals),
           |     parts AS (SELECT DISTINCT p_name FROM part)
           |SELECT q_name, p_name, levenshtein(q_name, p_name) AS dist
           |FROM parts JOIN dirty
           |  ON str_split(p_name, ' ')[-1] = str_split(q_name, ' ')[-1]
           |WHERE levenshtein(q_name, p_name) <= $FuzzyMaxDist
           |ORDER BY q_name, dist, p_name""".stripMargin
      },

      "q45_grouping_sets" ->
        """SELECT coalesce(l_returnflag, 'ALL') AS flag,
          |       coalesce(l_linestatus, 'ALL') AS status,
          |       CAST(grouping(l_returnflag) AS INT) AS g_flag,
          |       CAST(grouping(l_linestatus) AS INT) AS g_status,
          |       count(*) AS n,
          |       CAST(sum(CAST(floor(l_quantity*1000000.0+0.5) AS BIGINT)) AS DOUBLE)/1000000.0 AS sum_qty
          |FROM lineitem
          |GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
          |ORDER BY g_flag, g_status, flag, status""".stripMargin,

      "q46_pivot" ->
        """SELECT lang,
          |       count(*) FILTER (WHERE source = 'src1') AS src1,
          |       count(*) FILTER (WHERE source = 'src2') AS src2,
          |       count(*) FILTER (WHERE source = 'src3') AS src3,
          |       count(*) FILTER (WHERE source = 'src4') AS src4
          |FROM documents GROUP BY lang ORDER BY lang""".stripMargin,

      "q47_argmax" ->
        """SELECT c_nationkey,
          |       arg_max(c_name, CAST(round(c_acctbal*100) AS BIGINT)*100000000 + c_custkey) AS richest,
          |       arg_min(c_name, CAST(round(c_acctbal*100) AS BIGINT)*100000000 + c_custkey) AS poorest,
          |       count(*) AS n_cust
          |FROM customer GROUP BY c_nationkey ORDER BY c_nationkey""".stripMargin,

      "q83_scd2_intervals" ->
        """WITH e AS (SELECT user_id, event_id, epoch_us(ts) AS ts_us, event_type
          |           FROM events),
          |c AS (SELECT user_id, event_id, ts_us, event_type,
          |        lag(event_type) OVER (PARTITION BY user_id ORDER BY ts_us, event_id) AS prev
          |      FROM e),
          |f AS (SELECT user_id, event_id, ts_us, event_type FROM c
          |      WHERE prev IS NULL OR prev <> event_type)
          |SELECT user_id, event_type, ts_us AS valid_from,
          |  coalesce(lead(ts_us) OVER (PARTITION BY user_id ORDER BY ts_us, event_id),
          |           9223372036854775807) AS valid_to
          |FROM f ORDER BY user_id, valid_from, event_id""".stripMargin,

      "q81_decay_score" ->
        // same (ordered list → left fold) shape as q50; the fold
        // arithmetic acc*0.9 + v is the identical double chain in
        // both engines because the order (ms, event_id) is total
        """SELECT user_id, count(*) AS n_events,
          |  floor(list_reduce(
          |    list_prepend(CAST(0.0 AS DOUBLE),
          |      list(value ORDER BY CAST(epoch_ms(ts) AS BIGINT), event_id)),
          |    (acc, v) -> acc * CAST(0.9 AS DOUBLE) + v) * 1000000.0 + 0.5) / 1000000.0
          |  AS decay_score
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q50_funnel" ->
        // list(x ORDER BY ...) gives the same deterministic sequence
        // the struct sort gives Spark; the step mapping + fold are
        // written identically (ints only — no float drift possible).
        """SELECT user_id, count(*) AS n_events,
          |  list_reduce(
          |    list_prepend(0, list_transform(
          |      list(event_type ORDER BY CAST(epoch_ms(ts) AS BIGINT), event_id),
          |      t -> CASE t WHEN 'view' THEN 1 WHEN 'click' THEN 2
          |                  WHEN 'purchase' THEN 3 ELSE 0 END)),
          |    (acc, x) -> CASE WHEN x = acc + 1 THEN acc + 1 ELSE acc END)
          |  AS funnel_stage
          |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin,

      "q49_sliding_windows" -> {
        // Spark's hopping windows are epoch-aligned: the two starts
        // covering ts are floor12h(ts) and floor12h(ts)-12h. epoch()
        // keeps ms as an exact double fraction; 43200 = 12h seconds.
        val fsum = graft.ops.Determinism.Oracles.fsum("value")
        s"""SELECT strftime(make_timestamp(CAST(((floor(epoch(ts)/43200.0) - k) * 43200.0) * 1000000.0 AS BIGINT)),
           |                '%Y-%m-%d %H:%M') AS win_start,
           |       event_type, count(*) AS n, $fsum AS total_value
           |FROM events CROSS JOIN (VALUES (0), (1)) AS hop(k)
           |GROUP BY win_start, event_type
           |ORDER BY win_start, event_type""".stripMargin
      },

      "q57_unpivot" -> {
        val fsum = graft.ops.Determinism.Oracles.fsum("o_totalprice")
        s"""WITH w AS (SELECT o_orderpriority,
           |             CAST(count(*) AS DOUBLE) AS n_orders,
           |             $fsum AS total_price,
           |             max(o_totalprice) AS max_price
           |           FROM orders GROUP BY 1)
           |SELECT o_orderpriority, 'n_orders' AS metric, n_orders AS value FROM w
           |UNION ALL
           |SELECT o_orderpriority, 'total_price', total_price FROM w
           |UNION ALL
           |SELECT o_orderpriority, 'max_price', max_price FROM w
           |ORDER BY o_orderpriority, metric""".stripMargin
      },

      "q58_bag_setops" ->
        """WITH a AS (SELECT c_nationkey FROM customer
          |           WHERE c_mktsegment = 'BUILDING'),
          |b AS (SELECT c_nationkey FROM customer WHERE c_acctbal > 1000),
          |e AS (SELECT c_nationkey FROM a EXCEPT ALL SELECT c_nationkey FROM b),
          |i AS (SELECT c_nationkey FROM a INTERSECT ALL SELECT c_nationkey FROM b)
          |SELECT c_nationkey, count(*) AS n, 'except_all' AS op
          |FROM e GROUP BY c_nationkey
          |UNION ALL
          |SELECT c_nationkey, count(*) AS n, 'intersect_all' AS op
          |FROM i GROUP BY c_nationkey
          |ORDER BY op, c_nationkey""".stripMargin,

      "q59_lateral_topk" -> LateralSql,

      "q62_window_frames" ->
        """WITH p AS (SELECT o_custkey, o_orderkey, o_orderdate,
          |             CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_c
          |           FROM orders WHERE o_custkey <= 50)
          |SELECT o_custkey, o_orderkey, price_c,
          |  CAST(sum(price_c) OVER (PARTITION BY o_custkey
          |    ORDER BY o_orderdate, o_orderkey
          |    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS BIGINT) AS moving3_c,
          |  first_value(price_c) OVER w AS first_c,
          |  last_value(price_c) OVER w AS last_c,
          |  nth_value(price_c, 2) OVER w AS second_c
          |FROM p
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
          |  ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
          |ORDER BY o_custkey, o_orderkey""".stripMargin,

      "q48_order_deltas" ->
        """SELECT o_custkey, o_orderkey,
          |  strftime(o_orderdate, '%Y-%m-%d') AS order_date,
          |  CAST(floor(o_totalprice*100 + 0.5) AS BIGINT) AS price_c,
          |  CAST(floor(lag(o_totalprice, 1, 0.0) OVER w * 100 + 0.5) AS BIGINT) AS prev_price_c,
          |  strftime(lead(o_orderdate, 1) OVER w, '%Y-%m-%d') AS next_date,
          |  ntile(4) OVER w AS quartile,
          |  percent_rank() OVER w AS pct_rank
          |FROM orders WHERE o_custkey <= 50
          |WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
          |ORDER BY o_custkey, o_orderkey""".stripMargin
    )
  }
}
