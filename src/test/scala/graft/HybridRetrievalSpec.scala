package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** q111 hybrid retrieval (graft.queries.Search.hybridRrf) — the RRF
  * law on a planted corpus: fusing the two rankers never loses the
  * recall of the better one, and strictly beats the lexical ranker
  * when a relevant doc shares NO query term (the paraphrase case
  * rank fusion exists for). Everything here is deterministic (hash
  * embeddings, fixed tie-breaks), so the planted ranks are stable.
  */
class HybridRetrievalSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // planted corpus for query "alpha beta":
  //   doc 1 (X): exactly the query's token set — top of BOTH rankers;
  //   doc 2 (L): both terms ×3 plus four pads — lexical #2; semantic
  //     scores it by set geometry (≈ 0.91), below doc 3;
  //   doc 3 (S): 30 tokens sharing NO query term — the paraphrase
  //     stand-in: lexical scores it ZERO (it cannot appear in the
  //     BM25 pool at all), while the set-geometry embedding puts it
  //     at ≈ 0.97, semantic #2;
  //   docs 100.. : 8-token noise (cosine ≈ 0.45, far below truth).
  private val query = Seq((0, "alpha beta"))
  private def noiseDoc(i: Long): (Long, String) =
    (i, (0 until 8).map(j => s"junk${i}x$j").mkString(" "))
  private val docs = (Seq(
    (1L, "alpha beta alpha beta"),
    (2L, "alpha alpha alpha beta beta beta sm0 sm1 sm2 sm3"),
    (3L, (0 until 30).map(j => s"mid$j").mkString(" "))) ++
    (100L until 140L).map(noiseDoc)
  ).toDF("doc_id", "text")
  private val truth = Set(1L, 2L, 3L)

  test("served store path (HybridRetrieval) reproduces the fusion law on the planted corpus") {
    // build-once/serve-many twin of q111: posting store + AnnIndex
    // replace the in-plan rankers; the fusion and its guarantees
    // must survive the swap
    val dir = tmp("hybrid") + "/idx"
    graft.pipeline.HybridRetrieval.build(spark, docs, dir)
    val qdf = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    val served = graft.pipeline.HybridRetrieval.search(spark, qdf, dir)
      .select($"doc_id", $"rn").as[(Long, Long)].collect().toMap
    assert(truth.subsetOf(served.keySet),
      s"served fusion missed a relevant doc: $served")
    assert(served(1L) == 1L,
      s"doc topping both rankers is not served #1: $served")
    // the paraphrase doc arrives through the SEMANTIC store (it has
    // no postings row for either query term by construction)
    val worstRelevant = truth.map(served).max
    val bestNoise = served.collect { case (id, rn) if !truth(id) => rn }
      .reduceOption(_ min _).getOrElse(Long.MaxValue)
    assert(worstRelevant < bestNoise, s"noise outranks relevant: $served")
  }

  test("search heals an interrupted stats-store compaction BEFORE its eager stats read") {
    // The r18 ordering fix: lexRanks' BM25 totals read executes
    // eagerly (a collect) and used to run before the heal pass — a
    // compaction of the stats store crashed in the COMMITTED window
    // (marker present, run dirs deleted, snapshot in the hidden tmp
    // dir) read n = 0 and silently served semantic-only fusion. The
    // serving path must heal first and return the same rows as the
    // healthy store.
    import graft.pipeline.HybridRetrieval
    import org.apache.hadoop.fs.Path
    val dir = tmp("hybrid-heal") + "/idx"
    HybridRetrieval.build(spark, docs, dir)
    val qdf = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    val healthy = HybridRetrieval.search(spark, qdf, dir)
      .select($"doc_id", $"rn").as[(Long, Long)].collect().toMap

    // replay the committed crash window on $dir/stats by hand:
    // snapshot run=base content to the hidden tmp, commit marker
    // naming the target, delete the run dirs (the StoreCompactionSpec
    // device)
    val stats = s"$dir/stats"
    val fs = new Path(stats).getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(stats).drop("run")
      .write.parquet(s"$stats/.compact-tmp")
    val out = fs.create(new Path(stats, ".compact-commit"), true)
    try out.write("base".getBytes("UTF-8")) finally out.close()
    fs.listStatus(new Path(stats)).map(_.getPath)
      .filter(_.getName.startsWith("run=")).foreach(p => fs.delete(p, true))

    // lexical pool must come back identical — doc 2 in particular is
    // lexical-only evidence (semantic ranks it below the paraphrase)
    val healed = HybridRetrieval.search(spark, qdf, dir)
      .select($"doc_id", $"rn").as[(Long, Long)].collect().toMap
    assert(healed == healthy,
      s"crashed-stats search diverged (heal did not precede the stats read): " +
        s"healthy $healthy vs $healed")
    assert(!fs.exists(new Path(stats, ".compact-commit")),
      "heal should have completed the fold and removed the marker")
    spark.catalog.clearCache()
  }

  test("append is exactly incremental for the lexical ranker, idempotent, and makes the batch searchable") {
    import graft.pipeline.HybridRetrieval
    val root = tmp("hybrid-inc")
    val batchB = Seq(
      (5000L, "alpha beta nova0 nova1"),
      (5001L, "nova2 nova3 nova4 nova5")).toDF("doc_id", "text")
    val qdf = Seq((0L, "alpha beta"), (1L, "nova2")).toDF("query_id", "qtext")

    // incremental vs from-scratch: the lexical rank tables must be
    // IDENTICAL rows (df/stats fold as integer deltas — the class
    // doc's exactness claim, which the frozen-codebook ANN side
    // deliberately does not make)
    HybridRetrieval.build(spark, docs, s"$root/inc")
    HybridRetrieval.append(spark, batchB, s"$root/inc", "b1")
    HybridRetrieval.build(spark, docs.unionByName(batchB), s"$root/fresh")
    def lexRows(dir: String) =
      HybridRetrieval.lexRanks(spark, qdf, dir)
        .select($"query_id", $"doc_id", $"score_u", $"lrank")
        .as[(Long, Long, Long, Int)].collect().toSet
    val inc = lexRows(s"$root/inc")
    assert(inc == lexRows(s"$root/fresh"),
      "appended lexical ranks diverge from a fresh build over the union")

    // re-delivered batch replaces itself
    HybridRetrieval.append(spark, batchB, s"$root/inc", "b1")
    assert(lexRows(s"$root/inc") == inc, "re-delivery changed the store")

    // the appended docs serve through BOTH rankers: doc 5000 scores
    // lexically for "alpha beta"; "nova2" matches only batch docs
    val fused = HybridRetrieval.search(spark, qdf, s"$root/inc")
      .select($"query_id", $"doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
    assert(fused(0L).contains(5000L), s"appended doc not fused for q0: $fused")
    assert(fused(1L).contains(5001L), s"nova-term doc not found: $fused")

    // compact folds every store to one run and serving is unchanged
    HybridRetrieval.compact(spark, s"$root/inc")
    assert(lexRows(s"$root/inc") == inc, "compaction changed lexical ranks")
    val fused2 = HybridRetrieval.search(spark, qdf, s"$root/inc")
      .select($"query_id", $"doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
    assert(fused2 == fused, "compaction changed the fused results")
  }

  test("a single-document store builds and serves (tiny-deployment floor)") {
    // the AnnIndex spill-2 centroid pad + clamped codebooks must
    // carry through the composed store: a fresh product's first doc
    // must index and be findable, not crash
    val dir = tmp("hybrid-one") + "/idx"
    val one = Seq((42L, "alpha beta gamma")).toDF("doc_id", "text")
    graft.pipeline.HybridRetrieval.build(spark, one, dir)
    val got = graft.pipeline.HybridRetrieval.search(spark,
        Seq((0L, "alpha")).toDF("query_id", "qtext"), dir)
      .select($"doc_id").as[Long].collect()
    assert(got.toSeq == Seq(42L), s"lone document not served: ${got.toSeq}")

    // a batch whose terms hash only to buckets the store never wrote:
    // the scan opens no directory, the lexical pool is empty, and the
    // semantic ranker alone serves the query
    import graft.pipeline.HybridRetrieval
    val present = new java.io.File(s"$dir/postings/run=base").list()
      .filter(_.startsWith("tb=")).map(_.stripPrefix("tb=").toLong).toSet
    val absent = (0 until 200).map(i => s"zq$i").toDF("w")
      .select($"w", explode(graft.ops.expressions.TokenHashes($"w")).as("th"))
      .as[(String, Long)].collect()
      .filter { case (_, th) => !present(th % HybridRetrieval.TermBuckets) }
      .take(2).map(_._1)
    assert(absent.length == 2, s"no absent-bucket terms among probes: $present")
    val qAbsent = Seq((0L, absent.mkString(" "))).toDF("query_id", "qtext")
    assert(HybridRetrieval.lexPlan(spark, qAbsent, dir).inputFiles.isEmpty,
      "absent buckets must open no postings directory")
    assert(HybridRetrieval.lexRanks(spark, qAbsent, dir).collect().isEmpty,
      "absent buckets must give an empty lexical pool")
    val semOnly = HybridRetrieval.search(spark, qAbsent, dir)
      .select($"doc_id").as[Long].collect()
    assert(semOnly.toSeq == Seq(42L),
      s"absent-bucket batch must fall back to semantic-only fusion: ${semOnly.toSeq}")
  }

  test("a token-less store serves empty (semantic-only degrade), and a token-less query returns zero rows") {
    import graft.pipeline.HybridRetrieval
    // EVERY delivery token-less: writeLexical's stats aggregate is
    // (n=0, sumdl=null) — serving must coalesce + short-circuit the
    // lexical ranker (empty pool), not NPE on getLong
    val dir = tmp("hybrid-empty") + "/idx"
    val tokenless = Seq((1L, ""), (2L, "   ")).toDF("doc_id", "text")
    HybridRetrieval.build(spark, tokenless, dir)
    val qdf = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    assert(HybridRetrieval.lexRanks(spark, qdf, dir).collect().isEmpty,
      "token-less store must serve an empty lexical pool")
    assert(HybridRetrieval.search(spark, qdf, dir).collect().isEmpty,
      "nothing indexed — the fused result is empty, not a crash")

    // deferred ANN bootstrap: the first VECTORED batch trains the
    // codebooks and serves through both rankers; re-delivery is
    // idempotent (the bootstrap codes are keyed to the delivery)
    val vectored = Seq(
      (10L, "alpha beta alpha beta"),
      (11L, (0 until 12).map(j => s"pad$j").mkString(" "))).toDF("doc_id", "text")
    HybridRetrieval.append(spark, vectored, dir, "b1")
    val served = HybridRetrieval.search(spark, qdf, dir)
      .select($"doc_id", $"rn").as[(Long, Long)].collect()
    assert(served.map(_._1).contains(10L),
      s"bootstrap batch not served: ${served.toSeq}")
    HybridRetrieval.append(spark, vectored, dir, "b1")
    val served2 = HybridRetrieval.search(spark, qdf, dir)
      .select($"doc_id", $"rn").as[(Long, Long)].collect()
    assert(served2.sorted.toSeq == served.sorted.toSeq,
      "re-delivered bootstrap batch changed serving")
    assert(served2.map(_._1).distinct.length == served2.length,
      s"duplicate doc in fused output: ${served2.toSeq}")

    // a REAL store + a token-less query: the query is absent from
    // both pools and is OMITTED (rrfFuse's documented no-results
    // convention) while the well-formed query still serves
    val dir2 = tmp("hybrid-noq") + "/idx"
    HybridRetrieval.build(spark, docs, dir2)
    val mixed = Seq((0L, "alpha beta"), (1L, " ")).toDF("query_id", "qtext")
    val byQ = HybridRetrieval.search(spark, mixed, dir2)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect()
      .groupBy(_._1)
    assert(byQ.contains(0L) && byQ(0L).nonEmpty, "well-formed query lost")
    assert(!byQ.contains(1L),
      "token-less query must be omitted per the no-results convention")
    // a batch of ONLY token-less queries prunes to no bucket at all
    // and serves zero rows
    val blank = Seq((0L, " "), (1L, "")).toDF("query_id", "qtext")
    assert(HybridRetrieval.lexPlan(spark, blank, dir2).inputFiles.isEmpty,
      "a token-less batch must open no postings directory")
    assert(HybridRetrieval.search(spark, blank, dir2).collect().isEmpty,
      "a token-less batch must serve zero rows")
  }

  test("a crashed encode heals on the next append (raw run missing from codes is re-encoded)") {
    import graft.pipeline.HybridRetrieval
    // Crash window: a delivery lands its raw run, then dies before
    // (or during) the ANN encode. The old bootstrap's delete-and-
    // re-key made this TERMINAL — codebooks present, run never
    // encoded, every later append down the normal path (round-13
    // advisor, silent recall loss). Now append's heal loop encodes
    // every raw run the codes store lacks.
    val dir = tmp("hybrid-heal") + "/idx"
    HybridRetrieval.build(spark, Seq((1L, "")).toDF("doc_id", "text"), dir)
    val b1 = Seq(
      (10L, "alpha beta alpha beta"),
      (11L, (0 until 12).map(j => s"pad$j").mkString(" "))).toDF("doc_id", "text")
    HybridRetrieval.append(spark, b1, dir, "b1")
    // simulate the crash: the raw run survives, its codes don't
    val codesB1 = new org.apache.hadoop.fs.Path(s"$dir/ann/codes/run=b1")
    val fs = codesB1.getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(fs.exists(codesB1), "precondition: b1 encoded")
    assert(fs.delete(codesB1, true))
    // a VECTOR-LESS delivery must heal the orphan too (round-14
    // advisor: the heal loop used to run only when the current batch
    // carried vectors, so a boilerplate-only ingest stream left the
    // orphan unencoded indefinitely)
    HybridRetrieval.append(spark, Seq((19L, "")).toDF("doc_id", "text"),
      dir, "bv")
    assert(fs.exists(codesB1),
      "a vector-less delivery must still heal the orphan raw run")
    // and a normal vectored delivery keeps the invariant
    assert(fs.delete(codesB1, true))
    val b2 = Seq((12L, "gamma delta gamma")).toDF("doc_id", "text")
    HybridRetrieval.append(spark, b2, dir, "b2")
    assert(fs.exists(codesB1), "heal loop must re-encode the orphan raw run")
    val semantic = graft.pipeline.AnnIndex.searchRefined(spark,
        Seq((0L, "alpha beta alpha beta")).toDF("query_id", "qtext")
          .select($"query_id", HybridRetrieval.unitEmbed($"qtext").as("qvec")),
        s"$dir/ann",
        spark.read.parquet(s"$dir/raw").select($"vec_id", $"vec"), 1)
      .select($"vec_id").as[Long].collect()
    assert(semantic.toSeq == Seq(10L),
      s"healed run must serve semantically: ${semantic.toSeq}")
  }

  test("streaming ingest: new document files index incrementally and serve exactly") {
    import graft.pipeline.HybridRetrieval
    val root = tmp("hybrid-s")
    val dir = s"$root/idx"; val inDir = s"$root/in"; val ck = s"$root/ck"
    HybridRetrieval.build(spark, docs, dir)
    val batch = Seq((6000L, "alpha beta wave0 wave1")).toDF("doc_id", "text")
    batch.coalesce(1).write.mode("append").parquet(inDir)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, text STRING")
    graft.streaming.HybridIngestStream.runOnce(spark, inDir, dir, ck, schema)
    val qdf = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    val fused = HybridRetrieval.search(spark, qdf, dir)
      .select($"doc_id").as[Long].collect().toSet
    assert(fused.contains(6000L), s"streamed doc not fused: $fused")
    // a second pass with no new files is a no-op (checkpoint holds)
    val lexBefore = HybridRetrieval.lexRanks(spark, qdf, dir)
      .select($"doc_id", $"score_u").as[(Long, Long)].collect().toSet
    graft.streaming.HybridIngestStream.runOnce(spark, inDir, dir, ck, schema)
    val lexAfter = HybridRetrieval.lexRanks(spark, qdf, dir)
      .select($"doc_id", $"score_u").as[(Long, Long)].collect().toSet
    assert(lexAfter == lexBefore, "no-op re-pass changed the store")
  }

  test("served lexical scan prunes to the query terms' postings buckets") {
    val dir = tmp("hybrid-p") + "/idx"
    graft.pipeline.HybridRetrieval.build(spark, docs, dir)
    val qdf = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    val plan = graft.pipeline.HybridRetrieval.lexPlan(spark, qdf, dir)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters") && plan.contains("tb#"),
      s"postings scan has no tb partition filter:\n$plan")
  }

  test("served fusion agrees with q111's in-memory fusion on the gate corpus") {
    // the ANN ranker is approximate where q111's is a brute-force
    // scan — unit-normalized vectors make the refine rank the cosine
    // rank, so on the gate corpus the served top-10 should agree
    // almost everywhere; pin a 0.7 overlap floor per query
    val dir = tmp("hybrid-g") + "/idx"
    val corpus = Tables.documents(spark, sf)
    graft.pipeline.HybridRetrieval.build(spark, corpus, dir)
    val rq = graft.queries.Search.RrfQueries
    val qdf = rq.map { case (q, p) => (q.toLong, p) }.toDF("query_id", "qtext")
    val served = graft.pipeline.HybridRetrieval.search(spark, qdf, dir)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
    val inMem = graft.queries.Search.hybridRrf(corpus, rq)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
    for ((q, _) <- rq.map(x => (x._1.toLong, x._2))) {
      val ov = (served(q) intersect inMem(q)).size.toDouble /
        math.max(served(q).size, inMem(q).size)
      info(f"query $q served-vs-q111 top-10 overlap $ov%.2f")
      assert(ov >= 0.7, f"query $q: served/in-memory overlap $ov%.2f below 0.7")
    }
    spark.catalog.clearCache() // hybridRrf persist contract
  }

  test("exact dense mode: store-served RRF reproduces q111's rows on the gate corpus") {
    // denseExact swaps the ANN ranker for a brute pass over the
    // persisted raw vectors with q111's exact ranking device — the
    // served fusion must then be ROW-equivalent to the from-scratch
    // q111 (query_id, doc_id, rrf_nano, rn all equal), which pins
    // the lexical store's BM25 as exactly q111's too and makes any
    // default-mode divergence attributable to the ANN ranker alone
    val dir = tmp("hybrid-x") + "/idx"
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
    graft.pipeline.HybridRetrieval.build(spark, corpus, dir)
    val rq = graft.queries.Search.RrfQueries
    val qdf = rq.map { case (q, p) => (q.toLong, p) }.toDF("query_id", "qtext")
    val served = graft.pipeline.HybridRetrieval
      .search(spark, qdf, dir, denseExact = true)
      .select($"query_id", $"doc_id", $"rrf_nano", $"rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    val q111 = graft.queries.Search.hybridRrf(corpus, rq)
      .select($"query_id", $"doc_id", $"rrf_nano", $"rn")
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(q111.nonEmpty && served == q111,
      s"only-served=${served -- q111}, only-q111=${q111 -- served}")
    spark.catalog.clearCache() // hybridRrf persist contract
  }

  test("hard-negative mining excludes every term-sharing doc and ranks the paraphrase first") {
    // q117 (Search.hardNegatives) on the q111 planted corpus: docs 1
    // and 2 share query terms — excluded OUTRIGHT no matter how high
    // they'd score; doc 3 (the no-term paraphrase, cosine ≈ 0.97 by
    // set geometry) must be the #1 mined negative over the ≈ 0.45
    // noise docs
    val mined = graft.queries.Search.hardNegatives(docs, query)
      .select($"doc_id", $"cos_nano", $"rn").as[(Long, Long, Long)].collect()
    val byDoc = mined.map(r => r._1 -> r._3).toMap
    assert(!byDoc.contains(1L) && !byDoc.contains(2L),
      s"term-sharing docs must never be mined as negatives: $byDoc")
    assert(byDoc(3L) == 1L, s"paraphrase doc should be the hardest negative: $byDoc")
    // the universal contract: NO mined negative contains a query term
    val qtoks = Set("alpha", "beta")
    val texts = docs.select($"doc_id", $"text").as[(Long, String)].collect().toMap
    for ((id, _, _) <- mined)
      assert(texts(id).split(' ').toSet.intersect(qtoks).isEmpty,
        s"doc $id shares a query term yet was mined")
    // dense ranks over descending nano-cosine, exactly HnTopK rows
    // (41 eligible docs > HnTopK)
    assert(mined.map(_._3).toSeq.sorted ==
      (1L to graft.queries.Search.HnTopK.toLong),
      s"ranks not dense 1..k: ${mined.map(_._3).toSeq.sorted}")
    assert(mined.sortBy(_._3).map(_._2).sliding(2).forall(p => p(0) >= p(1)),
      "mined negatives not in descending cosine order")
  }

  test("ANN-served hard negatives: planted-corpus equivalence to the brute miner, recall floor on the gate corpus") {
    import graft.pipeline.HybridRetrieval
    // planted corpus, depth >= corpus: the candidate generator sees
    // every doc, so the ONLY difference from the brute miner is the
    // store plumbing — exclusion set, ids and ranks must be IDENTICAL
    val dir = tmp("hn-ann") + "/idx"
    HybridRetrieval.build(spark, docs, dir)
    val qdf = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    val served = HybridRetrieval.hardNegatives(spark, qdf, dir, depth = 64)
      .select($"query_id", $"doc_id", $"rn")
      .as[(Long, Long, Long)].collect().toSet
    val brute = graft.queries.Search.hardNegatives(docs, Seq((0, "alpha beta")))
      .select($"query_id", $"doc_id", $"rn")
      .as[(Long, Long, Long)].collect().toSet
    assert(brute.nonEmpty && served == brute,
      s"only-served=${served -- brute}, only-brute=${brute -- served}")

    // gate corpus, default depth: the ANN path trades exactness for
    // O(probe) cost — it must keep a healthy share of the brute
    // miner's true top-k per query
    val dir2 = tmp("hn-gate") + "/idx"
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
    HybridRetrieval.build(spark, corpus, dir2)
    val qs = graft.queries.Search.RrfQueries
    val qdf2 = qs.map { case (q, p) => (q.toLong, p) }.toDF("query_id", "qtext")
    val servedG = HybridRetrieval.hardNegatives(spark, qdf2, dir2)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
    val bruteG = graft.queries.Search.hardNegatives(corpus, qs)
      .select($"query_id", $"doc_id").as[(Long, Long)].collect()
      .groupBy(_._1).map { case (q, r) => q -> r.map(_._2).toSet }
    val recalls = bruteG.toSeq.sortBy(_._1).map { case (q, truthSet) =>
      val got = servedG.getOrElse(q, Set.empty)
      q -> (got & truthSet).size.toDouble / truthSet.size
    }
    info(recalls.map { case (q, r) => f"q$q=$r%.2f" }
      .mkString("ANN-mined recall vs brute: ", "  ", ""))
    // measured 1.00/1.00/1.00 (exhaustive-ADC candidates + exact
    // refine leave only PQ shortlist noise); floor left with margin
    for ((q, recall) <- recalls)
      assert(recall >= 0.8, f"query $q ANN-mined recall $recall%.2f below floor")
  }

  test("fused recall >= max single-ranker recall, strictly beating the lexical ranker") {
    val (lexDf, semDf) = graft.queries.Search.rrfRankers(docs, query)
    val lex10 = lexDf.filter($"lrank" <= 10).select($"doc_id")
      .as[Long].collect().toSet
    val sem10 = semDf.filter($"srank" <= 10).select($"doc_id")
      .as[Long].collect().toSet
    val fused10 = graft.queries.Search.hybridRrf(docs, query)
      .select($"doc_id").as[Long].collect().toSet
    def recall(top: Set[Long]) = (top & truth).size.toDouble / truth.size
    assert(recall(fused10) >= math.max(recall(lex10), recall(sem10)),
      s"fusion lost recall: fused=$fused10 lex=$lex10 sem=$sem10")
    // the planted shape: lexical CANNOT see the no-term doc 3 (BM25
    // pools only score_u > 0), semantic ranks it #2 — so the fusion
    // strictly improves on lexical and recovers full recall
    assert(!lex10.contains(3L), "doc 3 shares no term — must be absent from the BM25 pool")
    assert(recall(lex10) < 1.0 && recall(fused10) == 1.0,
      s"expected fusion to rescue the paraphrase doc: lex=$lex10 fused=$fused10")
    val srank = semDf.select($"doc_id", $"srank").as[(Long, Int)].collect().toMap
    assert(srank(3L) < srank(2L),
      s"semantic should prefer the paraphrase doc 3 over the diluted doc 2: $srank")
    // agreement wins: the doc topping both rankers tops the fusion
    val lrank = lexDf.select($"doc_id", $"lrank").as[(Long, Int)].collect().toMap
    assert(lrank(1L) == 1 && srank(1L) == 1)
    val fusedRanks = graft.queries.Search.hybridRrf(docs, query)
      .select($"doc_id", $"rn").as[(Long, Long)].collect().toMap
    assert(fusedRanks(1L) == 1L, s"doc topping both rankers is not fused #1: $fusedRanks")
    // and no noise doc outranks any relevant doc in the fusion
    val worstRelevant = truth.map(fusedRanks).max
    val bestNoise = fusedRanks.collect { case (id, rn) if !truth(id) => rn }
      .reduceOption(_ min _).getOrElse(Long.MaxValue)
    assert(worstRelevant < bestNoise,
      s"a noise doc outranks a relevant doc: $fusedRanks")
    spark.catalog.clearCache() // hybridRrf persist contract
  }

  test("rrfFuse closed form: shared, lexical-only and semantic-only docs, a tie broken by doc_id") {
    // planted pools, query 0: doc 10 in both (lrank 1, srank 3), doc
    // 40 lexical-only (lrank 2), docs 50 and 20 semantic-only (srank
    // 1, 2) — docs 40 and 20 tie at 1/62 and doc_id orders them;
    // query 1 has a semantic pool only
    val lex = Seq((0L, 10L, 1), (0L, 40L, 2)).toDF("query_id", "doc_id", "lrank")
    val sem = Seq((0L, 50L, 1), (0L, 20L, 2), (0L, 10L, 3), (1L, 20L, 1))
      .toDF("query_id", "doc_id", "srank")
    def nano(x: Double) = math.floor(x * 1e9 + 0.5).toLong
    val expected = Seq(
      (0L, 10L, nano(1.0 / (60 + 1) + 1.0 / (60 + 3)), 1L),
      (0L, 50L, nano(1.0 / (60 + 1)), 2L),
      (0L, 20L, nano(1.0 / (60 + 2)), 3L),
      (0L, 40L, nano(1.0 / (60 + 2)), 4L),
      (1L, 20L, nano(1.0 / (60 + 1)), 1L))
    def fuse(topN: Int) = graft.queries.Search.rrfFuse(lex, sem, topN)
      .as[(Long, Long, Long, Long)].collect().toSeq
    // collected in (query_id, rn) order, values bit-exact
    assert(fuse(10) == expected, s"fused rows: ${fuse(10)}")
    assert(fuse(3) == expected.filterNot(_._4 > 3), s"top-3 rows: ${fuse(3)}")
  }

  test("q158 rank overlap: identical lists score AO 1 / RBO 1-2^-k, disjoint 0, hand-overlap exact") {
    import org.apache.spark.sql.DataFrame
    def ranks(col: String, ids: Seq[Long]): DataFrame =
      ids.zipWithIndex.map { case (d, i) => (0L, d, i + 1) }
        .toDF("query_id", "doc_id", col)
    def run(lex: Seq[Long], sem: Seq[Long]) =
      graft.queries.Search.rankOverlap(
        ranks("lrank", lex), ranks("srank", sem), Seq(0), depth = 4)
        .as[(Long, Long, Long, Long, Long, Long)].collect().head
    // identical depth-4 lists: X_d = d, so AO = Σ floor(10⁶/4 + ½) =
    // 10⁶ and RBO(p=½) = Σ_d floor(10⁶/2^d + ½) = 937500 = 10⁶(1−2⁻⁴)
    assert(run(Seq(10, 11, 12, 13), Seq(10, 11, 12, 13)) ==
      ((0L, 4L, 4L, 4L, 1000000L, 937500L)))
    // disjoint lists: every score 0
    assert(run(Seq(10, 11, 12, 13), Seq(20, 21, 22, 23)) ==
      ((0L, 4L, 4L, 0L, 0L, 0L)))
    // [a b c d] vs [c d e f]: common docs enter at max(lrank, srank)
    // → X = (0, 0, 1, 2); AO terms floor(10⁶/12+½)+floor(2·10⁶/16+½)
    // = 83333 + 125000; RBO terms floor(10⁶/24+½)+floor(2·10⁶/64+½)
    // = 41667 + 31250
    assert(run(Seq(1, 2, 3, 4), Seq(3, 4, 5, 6)) ==
      ((0L, 4L, 4L, 2L, 208333L, 72917L)))
    // lists shorter than the depth cap still profile correctly:
    // lex [7], sem [7, 8] → X_d = 1 at every d ≥ 1
    val short = run(Seq(7), Seq(7, 8))
    assert(short._2 == 1L && short._3 == 2L && short._4 == 1L,
      s"short-list counts diverge: $short")
  }

  test("randomized differential: q158 matches an in-memory overlap reference on random rank lists") {
    import org.apache.spark.sql.DataFrame
    val rnd = new scala.util.Random(20260820L)
    val depth = 6
    for (trial <- 1 to 3) {
      val qids = Seq(0, 1, 2)
      def lists() = qids.map { q =>
        q.toLong -> rnd.shuffle((1L to 12L).toVector)
          .take(1 + rnd.nextInt(depth))
      }.toMap
      val (lexL, semL) = (lists(), lists())
      def df(m: Map[Long, Vector[Long]], col: String): DataFrame =
        m.toSeq.flatMap { case (q, ds) =>
          ds.zipWithIndex.map { case (d, i) => (q, d, i + 1) } }
          .toDF("query_id", "doc_id", col)
      val got = graft.queries.Search.rankOverlap(
          df(lexL, "lrank"), df(semL, "srank"), qids, depth)
        .as[(Long, Long, Long, Long, Long, Long)].collect().toSeq
      spark.catalog.clearCache() // rankOverlap persist contract
      val want = qids.map(_.toLong).map { q =>
        val (l, s) = (lexL(q), semL(q))
        def x(d: Int) = l.take(d).toSet.intersect(s.take(d).toSet).size.toLong
        val ao = (1 to depth).map(d =>
          math.floor(x(d).toDouble * 1e6 / (d.toLong * depth).toDouble
            + 0.5).toLong).sum
        val rbo = (1 to depth).map(d =>
          math.floor(x(d).toDouble * 1e6 / (d.toLong * (1L << d)).toDouble
            + 0.5).toLong).sum
        (q, l.size.toLong, s.size.toLong, x(depth), ao, rbo)
      }
      assert(got == want, s"trial $trial: q158 diverges\n got $got\nwant $want")
    }
  }

  test("unacknowledged append is invisible to search, dropped by compaction, healed by retry") {
    // r17 DeliveryMarker sweep: one append spans four serving-visible
    // writes BM25 joins across (postings + termstats + stats + raw).
    // Simulate the crash-before-acknowledge window by appending and
    // then removing the marker.
    import graft.pipeline.HybridRetrieval
    val root = tmp("hybrid-marker") + "/idx"
    HybridRetrieval.build(spark, docs, root)
    val batchB = Seq((500L, "alpha beta alpha beta alpha beta"))
      .toDF("doc_id", "text")
    val qdf = Seq((0L, "alpha beta")).toDF("query_id", "qtext")
    val before = HybridRetrieval.search(spark, qdf, root)
      .select($"doc_id", $"rn").as[(Long, Long)].collect().toMap

    // a rebuild whose write job dies partway leaves every store as it
    // was: the postings may not vanish and degrade search to
    // semantic-only
    FailingWrites.during(HybridRetrieval.build(spark, docs, root))
    val afterFailedBuild = HybridRetrieval.search(spark, qdf, root)
      .select($"doc_id", $"rn").as[(Long, Long)].collect().toMap
    assert(afterFailedBuild == before,
      s"a failed rebuild changed search: $afterFailedBuild vs $before")

    HybridRetrieval.append(spark, batchB, root, "bX")
    graft.ops.DeliveryMarker.clear(spark, root, Set("bX"))
    val hidden = HybridRetrieval.search(spark, qdf, root)
      .select($"doc_id", $"rn").as[(Long, Long)].collect().toMap
    assert(hidden == before,
      s"unacknowledged run must be invisible to search: $hidden vs $before")
    // the bucket listing itself skips the unapproved run's directories
    def scanned(): Seq[String] =
      HybridRetrieval.lexPlan(spark, qdf, root).inputFiles.toSeq
    assert(scanned().exists(_.contains("/run=base/tb=")) &&
      !scanned().exists(_.contains("/run=bX/")),
      s"listing must read base buckets and skip the unapproved run: ${scanned()}")
    // ... and invisible to MINING too (r18 review find): doc 500
    // shares both query terms, but with its postings marker-filtered
    // and its raw vectors visible it would pass the zero-shared-term
    // exclusion and be emitted as a hard negative — training-data
    // contamination. The raw read must be marker-filtered like every
    // other store read.
    val mined = HybridRetrieval.hardNegatives(spark, qdf, root)
      .select($"doc_id").as[Long].collect().toSet
    assert(!mined.contains(500L),
      s"unacknowledged run leaked into hard-negative mining: $mined")

    HybridRetrieval.compact(spark, root)
    assert(HybridRetrieval.search(spark, qdf, root)
      .select($"doc_id", $"rn").as[(Long, Long)].collect().toMap == before,
      "compaction must drop, not fold, an unacknowledged run")

    // retry: the run lands whole and the new doc (top lexical AND
    // semantic match for the query) enters the fused ranking
    HybridRetrieval.append(spark, batchB, root, "bX")
    val after = HybridRetrieval.search(spark, qdf, root)
      .select($"doc_id", $"rn").as[(Long, Long)].collect().toMap
    assert(after.contains(500L),
      s"retried delivery must surface the appended doc: $after")
    // once approved, the run's bucket directories are listed too
    assert(scanned().exists(_.contains("/run=bX/tb=")) &&
      scanned().exists(_.contains("/run=base/tb=")),
      s"listing must include the approved run's buckets: ${scanned()}")
  }

  test("a search runs no store-metadata job: no leaf-listing job, no parquet schema inference") {
    // every store read is under a declared schema and the bucket scan
    // lists its own directories without a job, so the only jobs a
    // search runs are its own: one collect each of the stats rows, the
    // query terms, the codebooks and the probe rows, then the result's
    // query stages and broadcasts — never Spark's parallel leaf
    // listing nor a `parquet at` schema-inference stage
    import graft.pipeline.HybridRetrieval
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
    val root = tmp("hybrid-meta") + "/idx"
    HybridRetrieval.build(spark, docs, root)
    HybridRetrieval.append(spark,
      Seq((700L, "alpha gamma delta")).toDF("doc_id", "text"), root, "b1")
    val qdf = Seq((0L, "alpha beta"), (1L, "junk101x3 mid4")).toDF("query_id", "qtext")
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[String])]()
    val listener = new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit =
        jobs.add((Option(j.properties).flatMap(p =>
          Option(p.getProperty("spark.job.description"))).getOrElse(""),
          j.stageInfos.map(_.name)))
    }
    spark.sparkContext.addSparkListener(listener)
    val rows = try {
      val r = HybridRetrieval.search(spark, qdf, root).collect()
      org.apache.spark.ListenerShim.flush(spark.sparkContext)
      r
    } finally spark.sparkContext.removeSparkListener(listener)
    import scala.jdk.CollectionConverters._
    val seen = jobs.asScala.toSeq
    assert(rows.nonEmpty && seen.nonEmpty, s"search served nothing: $seen")
    val listing = seen.filter(_._1.contains("Listing leaf files"))
    assert(listing.isEmpty, s"search ran leaf-listing jobs: $listing")
    val inference = seen.flatMap(_._2).filter(_.startsWith("parquet at"))
    assert(inference.isEmpty, s"search ran parquet schema-inference stages: $inference")
    // each driver-side read runs once and fusion needs no sampling
    // job: one search runs 16 jobs on this fixture
    assert(seen.size <= 16, s"search ran ${seen.size} jobs: ${seen.map(_._2)}")
  }
}
