package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.streaming.{EventWindows, FileIngest}
import java.nio.file.Files

/** M4 — Structured Streaming analog of the reference's micro-batch
  * loop, tested as the reference is actually operated: one
  * `runOnce` per arrival of new files, same checkpoint dir (L3
  * resume), watermark dropping late rows (L5).
  */
class StreamingSpec extends AnyFunSuite {
  import TestSpark._

  test("checkpointed windowed stream: emitted windows match the batch twin; late rows dropped; no duplicates") {
    val events = Tables.events(spark, sf).select("ts", "event_type")
    val schema = events.schema
    val cut = "2024-01-20 00:00:00"

    val inDir = tmp("stream-in"); val outDir = tmp("stream-out")
    val ckDir = tmp("stream-ck")

    // run 1: early file only (days 1-19) — nothing can close yet
    events.filter(col("ts") < lit(cut))
      .coalesce(1).write.mode("append").parquet(inDir)
    EventWindows.runOnce(spark, inDir, outDir, ckDir, schema)

    // run 2: the rest arrives (days 20-30) — watermark sweeps past
    // the early windows, which must now be emitted exactly once
    events.filter(col("ts") >= lit(cut))
      .coalesce(1).write.mode("append").parquet(inDir)
    EventWindows.runOnce(spark, inDir, outDir, ckDir, schema)

    // drop the batch=<id> partition column the idempotent sink adds
    val out2 = spark.read.parquet(outDir).select("win_start", "event_type", "n")
    val batchTwin = events
      .groupBy(window(col("ts"), "1 day"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("event_type"), col("n"))

    // 1. every emitted row carries the FULL count for its window —
    //    no partial emissions (join on keys, compare counts)
    val mismatched = out2.as("o")
      .join(batchTwin.as("b"), Seq("win_start", "event_type"))
      .filter(col("o.n") =!= col("b.n")).count()
    assert(mismatched == 0, s"$mismatched windows emitted with partial counts")

    // 2. exactly-once: no (window, type) appears twice across runs
    val dups = out2.groupBy("win_start", "event_type").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, s"$dups duplicate window emissions")

    // 3. the early days are actually out (emission does happen):
    //    run 2's batch starts with watermark = max(early ts) - 1h,
    //    so at minimum days 1..18 are closed
    val early = out2.filter(col("win_start") < lit("2024-01-19 00:00:00")).count()
    val earlyExpected = batchTwin
      .filter(col("win_start") < lit("2024-01-19 00:00:00")).count()
    assert(early == earlyExpected,
      s"early windows: emitted $early of $earlyExpected")

    // run 3: a straggler from day 2 arrives — far behind the
    // watermark; its window is closed and it must be dropped
    val straggler = events.filter(col("ts") < lit("2024-01-03 00:00:00")).limit(1)
    straggler.coalesce(1).write.mode("append").parquet(inDir)
    EventWindows.runOnce(spark, inDir, outDir, ckDir, schema)

    val out3 = spark.read.parquet(outDir).select("win_start", "event_type", "n")
    // late row changed nothing: same rows for its window, count still
    // the on-time batch count, and still no duplicates
    val day2 = out3.filter(col("win_start") === lit("2024-01-02 00:00:00"))
      .groupBy("event_type").agg(sum("n").as("n"))
    val day2Batch = batchTwin.filter(col("win_start") === lit("2024-01-02 00:00:00"))
      .select(col("event_type"), col("n"))
    assert(day2.except(day2Batch).isEmpty && day2Batch.except(day2).isEmpty,
      "late straggler mutated an already-closed window")
  }

  test("streaming chunk-embed pipeline (EP2 analog): exactly-once, matches the batch job") {
    import graft.streaming.DocEmbedStream
    import graft.pipeline.EmbedPipeline
    val docs = Tables.documents(spark, sf).select(col("doc_id"), col("text"))
    val schema = docs.schema
    val inDir = tmp("embst-in"); val outDir = tmp("embst-out"); val ck = tmp("embst-ck")

    // files land in two deliveries; a third run sees nothing new
    docs.filter(col("doc_id") < 250).coalesce(1).write.mode("append").parquet(inDir)
    DocEmbedStream.runOnce(spark, inDir, outDir, ck, schema, maxTokens = 16, dim = 8)
    docs.filter(col("doc_id") >= 250).coalesce(1).write.mode("append").parquet(inDir)
    DocEmbedStream.runOnce(spark, inDir, outDir, ck, schema, maxTokens = 16, dim = 8)
    DocEmbedStream.runOnce(spark, inDir, outDir, ck, schema, maxTokens = 16, dim = 8)

    val streamed = spark.read.parquet(outDir).select("id", "embedding")
    // exactly-once: every doc pooled exactly once across the runs
    assert(streamed.count() == docs.count())
    assert(streamed.select("id").distinct().count() == docs.count())
    // and the streamed result IS the batch pipeline's result
    val batchOut = tmp("embst-batch")
    EmbedPipeline.chunkEmbedJob(spark, docs, batchOut, "doc_id", "text",
      maxTokens = 16, dim = 8)
    val batch = spark.read.parquet(batchOut).select("id", "embedding")
    assert(streamed.except(batch).isEmpty && batch.except(streamed).isEmpty,
      "streamed pooled embeddings differ from the batch twin")
  }

  test("streaming ingestion dedup: a re-delivered shard does not double-process") {
    val events = Tables.events(spark, sf).select("event_id", "ts", "event_type")
    val schema = events.schema
    val inDir = tmp("dedup-in"); val outDir = tmp("dedup-out"); val ck = tmp("dedup-ck")

    val shard = events.filter(col("ts") < lit("2024-01-05 00:00:00"))
    shard.coalesce(1).write.mode("append").parquet(inDir)
    EventWindows.dedupStream(spark, inDir, outDir, ck, schema)
    // the same shard arrives AGAIN (re-delivery / retry)
    shard.coalesce(1).write.mode("append").parquet(inDir)
    EventWindows.dedupStream(spark, inDir, outDir, ck, schema)

    val out = spark.read.parquet(outDir).select("event_id")
    assert(out.count() == shard.count(),
      s"re-delivered shard changed the output: ${out.count()} vs ${shard.count()}")
    assert(out.distinct().count() == shard.count())
  }

  test("stream-static enrichment join: per-batch broadcast dim, emitted windows match the batch twin") {
    import spark.implicits._
    val events = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type")
    val schema = events.schema
    // static dimension: user → segment (written once, read per batch)
    val dimDir = tmp("enr-dim")
    events.select($"user_id").distinct()
      .withColumn("segment", concat(lit("seg"), pmod($"user_id", lit(4L))))
      .write.mode("overwrite").parquet(dimDir)
    val dim = spark.read.parquet(dimDir)

    val inDir = tmp("enr-in"); val outDir = tmp("enr-out"); val ck = tmp("enr-ck")
    def runOnce(): Unit =
      FileIngest.drain(
        EventWindows.enrichedCounts(FileIngest.source(spark, inDir, schema),
          dim, "user_id", "segment", "1 day", "1 hour"),
        ck)(FileIngest.batchSink(outDir))
    val cut = "2024-01-20 00:00:00"
    events.filter(col("ts") < lit(cut)).coalesce(1).write.mode("append").parquet(inDir)
    runOnce()
    events.filter(col("ts") >= lit(cut)).coalesce(1).write.mode("append").parquet(inDir)
    runOnce()

    val out = spark.read.parquet(outDir).select("win_start", "segment", "n")
    val twin = events.join(dim, Seq("user_id"))
      .groupBy(window(col("ts"), "1 day"), col("segment"))
      .agg(count(lit(1)).as("n"))
      .select(col("window.start").as("win_start"), col("segment"), col("n"))
    // every emitted (window, segment) row carries the full enriched
    // count, exactly once; the closed early windows are all out
    val mismatched = out.as("o").join(twin.as("b"), Seq("win_start", "segment"))
      .filter(col("o.n") =!= col("b.n")).count()
    assert(mismatched == 0, s"$mismatched partially-counted windows")
    assert(out.groupBy("win_start", "segment").count()
      .filter(col("count") > 1).count() == 0, "duplicate emissions")
    val early = out.filter(col("win_start") < lit("2024-01-19 00:00:00")).count()
    val earlyExpected = twin.filter(col("win_start") < lit("2024-01-19 00:00:00")).count()
    assert(early == earlyExpected, s"early windows: $early of $earlyExpected")
  }

  test("streaming dedup screening: batches screen against the index, uniques absorb, re-delivery is idempotent") {
    import spark.implicits._
    import graft.pipeline.DedupIndex
    import graft.streaming.DedupScreenStream
    val idx = tmp("scr-idx"); val inDir = tmp("scr-in")
    val outDir = tmp("scr-out"); val ck = tmp("scr-ck")

    // base corpus: two documents
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"),
      (2L, "pack my box with five dozen liquor jugs for the long trip"))
      .toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, idx)
    val schema = corpus.schema

    // delivery 1: an exact copy of corpus doc 1 + a fresh doc
    Seq((100L, "the quick brown fox jumps over the lazy dog again and again"),
        (101L, "zzqx wholly novel streaming payload one two three four five"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    DedupScreenStream.runOnce(spark, inDir, idx, outDir, ck, schema)

    // delivery 2: an exact copy of delivery 1's UNIQUE doc — it must
    // match 101, proving the absorb closed the loop across batches
    Seq((200L, "zzqx wholly novel streaming payload one two three four five"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    DedupScreenStream.runOnce(spark, inDir, idx, outDir, ck, schema)
    // delivery 3: nothing new — a no-op run must not disturb state
    DedupScreenStream.runOnce(spark, inDir, idx, outDir, ck, schema)

    val out = spark.read.parquet(outDir)
      .select("doc_id", "verdict", "match_id").collect()
      .map(r => r.getLong(0) -> (r.getString(1),
        if (r.isNullAt(2)) -1L else r.getLong(2))).toMap
    assert(out.size == 3, s"expected 3 screened docs, got $out")
    assert(out(100L) == ("exact", 1L), s"copy of corpus doc: ${out(100L)}")
    assert(out(101L) == ("unique", -1L), s"fresh doc: ${out(101L)}")
    assert(out(200L) == ("exact", 101L),
      s"cross-batch dup must match the absorbed unique: ${out(200L)}")

    // index holds base + exactly the absorbed uniques, and re-running
    // a batch (simulated by re-appending run b0) does not duplicate
    val fps = spark.read.parquet(s"$idx/fingerprints")
    assert(fps.count() == 3 && fps.select("doc_id").distinct().count() == 3)
    DedupIndex.append(spark,
      Seq((101L, "zzqx wholly novel streaming payload one two three four five"))
        .toDF("doc_id", "text"), idx, "b0")
    val fps2 = spark.read.parquet(s"$idx/fingerprints")
    assert(fps2.count() == 3, "re-delivered absorb duplicated index rows")
  }

  test("dedup re-delivery of a FULL batch (post-absorb crash) reproduces the original verdicts") {
    import spark.implicits._
    import graft.pipeline.DedupIndex
    import graft.streaming.DedupScreenStream
    val idx = tmp("redel-idx"); val outDir = tmp("redel-out")
    val corpus = Seq(
      (1L, "the quick brown fox jumps over the lazy dog again and again"))
      .toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, idx)

    // batch 0: one exact dup of the corpus + one genuinely new doc
    val batch = Seq(
      (100L, "the quick brown fox jumps over the lazy dog again and again"),
      (101L, "zzqx wholly novel streaming payload one two three four five"))
      .toDF("doc_id", "text")
    DedupScreenStream.deliver(spark, batch, 0L, idx, outDir)
    val first = spark.read.parquet(s"$outDir/batch=0")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(first == Map(100L -> "exact", 101L -> "unique"))

    // simulate at-least-once: the engine crashed AFTER the absorb of
    // run=b0 but BEFORE the checkpoint commit, so the same batch id
    // is delivered again. The re-screen must exclude run=b0 — doc 101
    // would otherwise see its own absorbed copy and flip to 'exact',
    // silently dropping it downstream.
    DedupScreenStream.deliver(spark, batch, 0L, idx, outDir)
    val second = spark.read.parquet(s"$outDir/batch=0")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(second == first,
      s"re-delivered batch changed verdicts: $first -> $second")
    // and the index still holds exactly base + the one absorbed unique
    val fps = spark.read.parquet(s"$idx/fingerprints")
    assert(fps.count() == 2 && fps.select("doc_id").distinct().count() == 2)
  }

  test("incremental cluster maintenance: absorbed batches converge to the from-scratch labeling") {
    import spark.implicits._
    import graft.pipeline.{ClusterMaintenance, DedupIndex}
    import graft.streaming.DedupScreenStream
    val idx = tmp("cm-idx"); val inDir = tmp("cm-in")
    val outDir = tmp("cm-out"); val ck = tmp("cm-ck"); val lbl = tmp("cm-lbl")

    // word vocabulary: w1..w28; cluster A = w1..w20, cluster B =
    // w9..w28 (shingle jaccard 0.38 — verify keeps them SEPARATE),
    // bridge = w5..w24 (0.64 against each — near-dup of BOTH; LSH
    // detection prob ≈ 0.98 at that jaccard with the fixed 8×2
    // permutation family, and the outcome is deterministic)
    def words(a: Int, b: Int) = (a to b).map(i => s"w$i").mkString(" ")
    val tA = words(1, 20); val tB = words(9, 28)
    val corpus = Seq(
      (1L, tA), (2L, tA + " extra"),           // cluster A
      (10L, tB), (11L, tB + " more"),          // cluster B
      (30L, "totally separate island of text here"),
      (31L, "totally separate island of text here indeed"))
      .toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, idx)
    ClusterMaintenance.init(spark, corpus, lbl)
    val init = ClusterMaintenance.current(spark, lbl)
      .as[(Long, Long)].collect().toMap
    assert(init(1L) == 1L && init(2L) == 1L, s"cluster A: $init")
    assert(init(10L) == 10L && init(11L) == 10L, s"cluster B: $init")
    assert(init(30L) == 30L && init(31L) == 30L, s"cluster C: $init")

    val schema = corpus.schema
    // batch 0: a unique doc — absorbed into the index, no labels yet
    Seq((100L, "qq rr ss tt uu vv ww xx yy zz"))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    DedupScreenStream.runOnce(spark, inDir, idx, outDir, ck, schema, Some(lbl))

    // batch 1: 200 near-dups batch-0's absorbed doc (cross-batch
    // clustering); 201 is the bridge that MERGES clusters A and B
    Seq((200L, "qq rr ss tt uu vv ww xx yy aa"),
        (201L, words(5, 24)))
      .toDF("doc_id", "text").coalesce(1).write.mode("append").parquet(inDir)
    DedupScreenStream.runOnce(spark, inDir, idx, outDir, ck, schema, Some(lbl))

    val got = ClusterMaintenance.current(spark, lbl)
      .as[(Long, Long)].collect().toMap
    // the VERDICT criterion: a batch-N doc near-dupping a batch-1
    // doc lands in the SAME cluster
    assert(got(200L) == got(100L) && got(100L) == 100L,
      s"cross-batch near-dup not co-clustered: $got")
    // the bridge merged A and B into one component with min id 1
    assert(Seq(1L, 2L, 10L, 11L, 201L).forall(got(_) == 1L),
      s"bridge did not merge clusters A and B: $got")
    // untouched cluster C carried over verbatim
    assert(got(30L) == 30L && got(31L) == 30L, s"untouched cluster moved: $got")

    // full equivalence: labels == from-scratch connected components
    // over the union of every delivered doc's near-dup edges
    val union = corpus.union(Seq(
      (100L, "qq rr ss tt uu vv ww xx yy zz"),
      (200L, "qq rr ss tt uu vv ww xx yy aa"),
      (201L, words(5, 24))).toDF("doc_id", "text"))
    val scratch = graft.ops.ConnectedComponents
      .run(DedupIndex.nearEdgesWithin(spark, union), "id_a", "id_b")
      .as[(Long, Long)].collect().toMap
    assert(got == scratch,
      s"incremental labels diverge from from-scratch:\n$got\nvs\n$scratch")
  }

  test("cluster maintenance absorb is idempotent even after its own label snapshot landed") {
    import spark.implicits._
    import graft.pipeline.{ClusterMaintenance, DedupIndex}
    val idx = tmp("cmr-idx"); val lbl = tmp("cmr-lbl")
    val corpus = Seq(
      (1L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (2L, "alpha beta gamma delta epsilon zeta eta theta iota kappa mu"))
      .toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, idx)
    ClusterMaintenance.init(spark, corpus, lbl)

    val batch = Seq(
      (50L, "alpha beta gamma delta epsilon zeta eta theta iota nu"))
      .toDF("doc_id", "text")
    // first delivery: index absorb + label absorb both land
    DedupIndex.append(spark, batch, idx, "b0")
    ClusterMaintenance.absorb(spark, batch, idx, lbl, 0L, Some("b0"))
    val first = ClusterMaintenance.current(spark, lbl)
      .as[(Long, Long)].collect().toMap
    assert(first(50L) == 1L, s"batch doc not clustered: $first")

    // crash AFTER the epoch=1 snapshot, re-delivery of batch 0: the
    // re-run reads a label table that already contains doc 50 and
    // must converge to the identical labeling, same epoch replaced
    DedupIndex.append(spark, batch, idx, "b0")
    ClusterMaintenance.absorb(spark, batch, idx, lbl, 0L, Some("b0"))
    val second = ClusterMaintenance.current(spark, lbl)
      .as[(Long, Long)].collect().toMap
    assert(second == first, s"re-delivered absorb changed labels: $first -> $second")
    val epochs = spark.read.parquet(lbl)
      .select(col("epoch").cast("long")).distinct()
      .as[Long].collect().sorted
    assert(epochs.sameElements(Array(0L, 1L)),
      s"re-delivery must replace its epoch, not add one: ${epochs.mkString(",")}")
  }

  test("cluster maintenance reaches near-dups THROUGH screened-out docs (Jaccard non-transitivity)") {
    import spark.implicits._
    import graft.pipeline.{ClusterMaintenance, DedupIndex}
    import graft.streaming.DedupScreenStream
    val idx = tmp("sc-idx"); val inDir = tmp("sc-in")
    val outDir = tmp("sc-out"); val ck = tmp("sc-ck"); val lbl = tmp("sc-lbl")

    // the non-transitive chain: j(Y,Z) = j(X,Y) = 14/22 ≈ 0.64 (both
    // near-dup edges), but j(X,Z) = 10/26 ≈ 0.38 < 0.5 (NOT an edge).
    // Y screens out as a near-dup of Z, so X's only path into the
    // cluster is the edge X–Y — which exists only if screened-out
    // docs stay probe-able.
    def words(p: String, a: Int, b: Int) = (a to b).map(i => s"$p$i").mkString(" ")
    val tZ = words("a", 1, 16) + " " + words("c", 1, 4)
    val tY = words("a", 1, 16) + " " + words("d", 1, 4)
    val tX = words("a", 5, 16) + " " + words("d", 1, 4) + " " + words("e", 1, 4)

    // setup sanity: the planted chain must hold under the REAL
    // kernels (edges X–Y and Y–Z verified, X–Z absent)
    val scratchEdges = DedupIndex.nearEdgesWithin(
      spark, Seq((1L, tZ), (100L, tY), (200L, tX)).toDF("doc_id", "text"))
      .as[(Long, Long)].collect().toSet
    assert(scratchEdges == Set((1L, 100L), (100L, 200L)),
      s"planted chain does not hold under the kernels: $scratchEdges")

    // base corpus = {Z} alone: init also exercises the empty-label
    // path (no near-dup edges → empty epoch=0, which must stay
    // readable — a first-deploy corpus with no duplicates)
    val corpus = Seq((1L, tZ)).toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, idx)
    ClusterMaintenance.init(spark, corpus, lbl)
    assert(ClusterMaintenance.current(spark, lbl).count() == 0L,
      "no-duplicate corpus must init to an empty (readable) label table")

    val schema = corpus.schema
    // batch 0: Y — screened out as near-dup of Z, NOT absorbed into
    // the main index; the edge Y–Z clusters them
    Seq((100L, tY)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    DedupScreenStream.runOnce(spark, inDir, idx, outDir, ck, schema, Some(lbl))
    val v0 = spark.read.parquet(s"$outDir/batch=0")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(v0 == Map(100L -> "near"), s"Y must screen out as near: $v0")

    // batch 1: X — unique to the MAIN index (j(X,Z) < 0.5), but a
    // near-dup of the screened-out Y; a from-scratch clustering puts
    // X in the {X,Y,Z} cluster and the incremental labels must too
    Seq((200L, tX)).toDF("doc_id", "text")
      .coalesce(1).write.mode("append").parquet(inDir)
    DedupScreenStream.runOnce(spark, inDir, idx, outDir, ck, schema, Some(lbl))
    val v1 = spark.read.parquet(s"$outDir/batch=1")
      .select("doc_id", "verdict").as[(Long, String)].collect().toMap
    assert(v1 == Map(200L -> "unique"),
      s"X must screen unique (verdicts never consult the side index): $v1")

    val got = ClusterMaintenance.current(spark, lbl)
      .as[(Long, Long)].collect().toMap
    assert(got == Map(1L -> 1L, 100L -> 1L, 200L -> 1L),
      s"X did not reach the cluster through the screened-out Y: $got")

    // quiescent compaction folds BOTH stores this stream appends to
    // (main index runs: base + X's batch; screened probe index: Y's
    // batch) and changes nothing readable
    DedupScreenStream.compact(spark, idx)
    assert(DedupIndex.runCount(spark, idx) == 1,
      "main index must fold to one run")
    val after = ClusterMaintenance.current(spark, lbl)
      .as[(Long, Long)].collect().toMap
    assert(after == got, s"compaction changed labels: $got -> $after")
  }

  test("label deltas: absorbs write O(touched) rows, compact folds to one epoch, labels unchanged") {
    import spark.implicits._
    import graft.pipeline.{ClusterMaintenance, DedupIndex}
    val idx = tmp("cp-idx"); val lbl = tmp("cp-lbl")
    def t(tail: String) =
      s"alpha beta gamma delta epsilon zeta eta theta iota $tail"
    val corpus = Seq(
      (1L, t("kappa")), (2L, t("kappa mu")),
      (30L, "an unrelated island of text that stands alone fine"),
      (31L, "an unrelated island of text that stands alone fine too"))
      .toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, idx)
    ClusterMaintenance.init(spark, corpus, lbl)

    // two absorbs touching only cluster {1,2}
    for (i <- 0 to 1) {
      val batch = Seq((50L + i, t(s"nu$i"))).toDF("doc_id", "text")
      DedupIndex.append(spark, batch, idx, s"b$i")
      ClusterMaintenance.absorb(spark, batch, idx, lbl, i.toLong, Some(s"b$i"))
    }
    // the island cluster {30,31} was untouched: its rows must still
    // live ONLY in epoch=0 (deltas carry touched rows, not snapshots)
    val ep = spark.read.parquet(lbl)
      .select(col("doc_id"), col("epoch").cast("long").as("epoch"))
    assert(ep.filter(col("doc_id") >= 30L && col("doc_id") <= 31L &&
        col("epoch") > 0L).count() == 0L,
      "untouched rows were rewritten into a delta epoch")

    val before = ClusterMaintenance.current(spark, lbl)
      .as[(Long, Long)].collect().toMap
    assert(before == Map(1L -> 1L, 2L -> 1L, 50L -> 1L, 51L -> 1L,
      30L -> 30L, 31L -> 30L), s"pre-compact labels wrong: $before")
    assert(ClusterMaintenance.epochCount(spark, lbl) == 3)

    ClusterMaintenance.compact(spark, lbl)
    assert(ClusterMaintenance.epochCount(spark, lbl) == 1,
      "compact must fold every epoch into one")
    val after = ClusterMaintenance.current(spark, lbl)
      .as[(Long, Long)].collect().toMap
    assert(after == before, s"compact changed the labeling: $before -> $after")

    // absorbs keep working after a compact (epoch numbering resumes
    // past the folded snapshot)
    val batch2 = Seq((60L, t("xi"))).toDF("doc_id", "text")
    DedupIndex.append(spark, batch2, idx, "b2")
    ClusterMaintenance.absorb(spark, batch2, idx, lbl, 2L, Some("b2"))
    val resumed = ClusterMaintenance.current(spark, lbl)
      .as[(Long, Long)].collect().toMap
    assert(resumed == before + (60L -> 1L),
      s"post-compact absorb wrong: $resumed")

    // index-side compaction: base + 3 appended runs fold to one,
    // screening results unchanged
    assert(DedupIndex.runCount(spark, idx) == 4)
    val probe = Seq((99L, t("kappa"))).toDF("doc_id", "text")
    val sBefore = DedupIndex.screen(spark, probe, idx)
      .select("doc_id", "verdict", "match_id").as[(Long, String, Long)].collect().toSet
    DedupIndex.compact(spark, idx)
    assert(DedupIndex.runCount(spark, idx) == 1,
      "index compact must fold every run into one")
    val sAfter = DedupIndex.screen(spark, probe, idx)
      .select("doc_id", "verdict", "match_id").as[(Long, String, Long)].collect().toSet
    assert(sAfter == sBefore, s"index compact changed screening: $sBefore -> $sAfter")
  }

  test("session windows: out-of-order events above the watermark merge backward and bridge sessions") {
    import spark.implicits._
    import graft.streaming.EventSessions
    def ts(s: String) = java.sql.Timestamp.valueOf(s)
    def ms(s: String) = ts(s).getTime
    val gapMs = 3600000L // 1 hour; watermark delay 1 day admits the stragglers

    // file 1 — u1 one open session [12:00,12:30]; u2 two open
    // sessions [12:00] and [13:30] (1.5h apart ≥ gap)
    val f1 = Seq((1L, ts("2024-03-01 12:00:00")), (1L, ts("2024-03-01 12:30:00")),
                 (2L, ts("2024-03-01 12:00:00")), (2L, ts("2024-03-01 13:30:00")))
    // file 2 — ABOVE the watermark but earlier than open-session
    // state: u1's 11:40 precedes its session start (backward merge →
    // [11:40,12:30]); u2's 12:45 is within gap of BOTH its sessions
    // (bridge → [12:00,13:30])
    val f2 = Seq((1L, ts("2024-03-01 11:40:00")), (2L, ts("2024-03-01 12:45:00")))
    // file 3 — next-day sentinel pushes the watermark past every
    // Mar-1 session's end+gap, closing them
    val f3 = Seq((3L, ts("2024-03-02 18:00:00")))

    val inDir = tmp("ooo-in"); val outDir = tmp("ooo-out"); val ckDir = tmp("ooo-ck")
    val schema = f1.toDF("user_id", "ts").schema
    for (rows <- Seq(f1, f2, f3)) {
      rows.toDF("user_id", "ts").coalesce(1).write.mode("append").parquet(inDir)
      EventSessions.runOnce(spark, inDir, outDir, ckDir, schema, gapMs, delay = "1 day")
    }

    val emitted = spark.read.parquet(outDir)
      .select("user_id", "start_ms", "end_ms", "n_events")
      .as[EventSessions.Session].collect().toSet
    val all = (f1 ++ f2 ++ f3).toDF("user_id", "ts")
    val twinClosed = EventSessions.sessionsBatch(all, gapMs)
      .filter(col("end_ms") < ms("2024-03-02 00:00:00"))
      .collect().toSet
    assert(emitted == twinClosed,
      s"streaming sessions $emitted != batch twin $twinClosed")
    assert(emitted.contains(EventSessions.Session(1L,
      ms("2024-03-01 11:40:00"), ms("2024-03-01 12:30:00"), 3)),
      "backward merge must extend the session start")
    assert(emitted.contains(EventSessions.Session(2L,
      ms("2024-03-01 12:00:00"), ms("2024-03-01 13:30:00"), 3)),
      "a between-sessions event must bridge both into one")
  }

  test("stream-stream view→click join: cross-delivery pairs, exactly once, matches the batch twin") {
    import graft.streaming.EventJoin
    val events = Tables.events(spark, sf)
      .select("event_id", "ts", "user_id", "event_type")
    val schema = events.schema
    val inDir = tmp("ssj-in"); val outDir = tmp("ssj-out"); val ck = tmp("ssj-ck")
    // chosen so exactly one (view, click) pair SPANS the delivery
    // boundary — the click arrives a run after its view, proving the
    // join state survives the checkpoint between runs
    val cut = "2024-01-24 00:00:00"

    events.filter(col("ts") < lit(cut)).coalesce(1).write.mode("append").parquet(inDir)
    EventJoin.runOnce(spark, inDir, outDir, ck, schema)
    events.filter(col("ts") >= lit(cut)).coalesce(1).write.mode("append").parquet(inDir)
    EventJoin.runOnce(spark, inDir, outDir, ck, schema)

    val out = spark.read.parquet(outDir)
    // the batch twin is the SAME operator over batch frames
    // (withWatermark is a no-op in batch)
    val twin = EventJoin.viewClicks(
      events.filter(col("event_type") === "view"),
      events.filter(col("event_type") === "click"), "2 hours", "2 hours")
    val keys = Seq("user_id", "view_id", "click_id")
    assert(out.select(keys.head, keys.tail: _*).except(twin.select(keys.head, keys.tail: _*)).isEmpty &&
      twin.select(keys.head, keys.tail: _*).except(out.select(keys.head, keys.tail: _*)).isEmpty,
      "streamed join differs from the batch twin")
    val dups = out.groupBy("view_id", "click_id").count()
      .filter(col("count") > 1).count()
    assert(dups == 0, s"$dups duplicate pair emissions")
    val spanning = out.filter(col("view_ts") < lit(cut) && col("click_ts") >= lit(cut)).count()
    assert(spanning == 1,
      s"expected exactly 1 cross-delivery pair, got $spanning — state not carried across runs")

    // a re-delivered early shard is entirely below the watermark:
    // its rows are dropped as late and cannot re-pair
    events.filter(col("ts") < lit("2024-01-05 00:00:00"))
      .coalesce(1).write.mode("append").parquet(inDir)
    EventJoin.runOnce(spark, inDir, outDir, ck, schema)
    val out3 = spark.read.parquet(outDir)
    assert(out3.count() == out.count(),
      "re-delivered late shard must not add or duplicate pairs")
  }

  test("session windows via flatMapGroupsWithState match the batch twin, exactly once") {
    import spark.implicits._
    import graft.streaming.EventSessions
    val events = Tables.events(spark, sf).select(col("user_id"), col("ts"))
    val schema = events.schema
    val gapMs = 3600000L // 1 hour

    val inDir = tmp("sess-in"); val outDir = tmp("sess-out"); val ckDir = tmp("sess-ck")
    // feed in three time-ordered files (the source contract)
    for ((lo, hi) <- Seq(("2024-01-01", "2024-01-11"), ("2024-01-11", "2024-01-21"),
                         ("2024-01-21", "2024-02-01"))) {
      events.filter(col("ts") >= lit(s"$lo 00:00:00") && col("ts") < lit(s"$hi 00:00:00"))
        .coalesce(1).write.mode("append").parquet(inDir)
      EventSessions.runOnce(spark, inDir, outDir, ckDir, schema, gapMs)
    }

    val emitted = spark.read.parquet(outDir)
      .select("user_id", "start_ms", "end_ms", "n_events")
      .as[EventSessions.Session]
    val expected = EventSessions.sessionsBatch(events, gapMs)

    // every emitted session is exactly a batch-twin session
    val phantom = emitted.toDF().except(expected.toDF()).count()
    assert(phantom == 0, s"$phantom emitted sessions not in the batch twin")
    // exactly-once: no duplicate session emissions across the 3 runs
    val dups = emitted.groupBy("user_id", "start_ms").count()
      .filter(col("count") > 1).count()
    assert(dups == 0)
    // sessions fully inside the watermark-swept range are all out:
    // after run 3 the watermark is ≥ max(file2 ts) - 1h, so sessions
    // ending before Jan 20 must be emitted
    val cutMs = java.sql.Timestamp.valueOf("2024-01-20 00:00:00").getTime
    val nEarlyEmitted = emitted.filter(col("end_ms") < cutMs).count()
    val nEarlyExpected = expected.filter(col("end_ms") < cutMs).count()
    assert(nEarlyEmitted == nEarlyExpected,
      s"early sessions: $nEarlyEmitted emitted of $nEarlyExpected")
  }

  test("curation screen stream: rule-violating docs reject with flags, survivors land scrubbed, re-delivery idempotent") {
    import graft.streaming.CurationScreenStream
    import spark.implicits._
    val root = tmp("curscreen")
    val in = s"$root/in"; val good = s"$root/good"
    val rej = s"$root/reject"; val ck = s"$root/ck"
    def rep(w: String, n: Int) = Seq.fill(n)(w).mkString(" ")
    // two files -> two micro-batches (maxFilesPerTrigger = 1)
    val f1 = Seq(
      (1L, "en", "ping carol@mail.example.com now"), // f_short -> reject, carries PII
      (3L, "en", rep("value", 20) + " " + rep("fast", 20) +
        " contact bob@mail.example.com now")) // passes, email PII
      .toDF("doc_id", "lang", "text")
    val f2 = Seq(
      (2L, "en", rep("xxxx", 40)), // f_len + f_stop -> reject
      (4L, "en", rep("value", 30) + " " + rep("fast", 10) +
        " call +1-555-012 today"), // passes, phone PII
      (5L, "en", rep("value", 20) + " " + rep("fast", 20))) // clean pass
      .toDF("doc_id", "lang", "text")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    f1.coalesce(1).write.mode("append").parquet(in)
    f2.coalesce(1).write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, lang STRING, text STRING")
    CurationScreenStream.runOnce(spark, in, good, rej, ck, schema)

    val acc = CurationScreenStream.accepted(spark, good)
      .select($"doc_id", $"text", $"n_pii").as[(Long, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(acc.map(_._1) == Seq(3L, 4L, 5L), s"accepted set wrong: $acc")
    val byId = acc.map(r => r._1 -> r).toMap
    assert(byId(3L)._2.contains("<EMAIL>") &&
      !byId(3L)._2.contains("@mail.example.com") && byId(3L)._3 == 1L,
      s"doc 3 not scrubbed: ${byId(3L)}")
    assert(byId(4L)._2.contains("<PHONE>") &&
      !byId(4L)._2.contains("+1-555-") && byId(4L)._3 == 1L,
      s"doc 4 not scrubbed: ${byId(4L)}")
    assert(byId(5L)._3 == 0L, "clean doc counted PII")

    val rejected = spark.read.parquet(rej)
      .select($"doc_id", $"f_short", $"f_len", $"f_stop", $"text", $"n_pii")
      .as[(Long, Boolean, Boolean, Boolean, String, Long)]
      .collect().sortBy(_._1).toSeq
    assert(rejected.map(_._1) == Seq(1L, 2L), s"reject set wrong: $rejected")
    assert(rejected(0)._2, "doc 1 must flag f_short")
    assert(rejected(1)._3 && rejected(1)._4, "doc 2 must flag f_len+f_stop")
    // the reject queue is a long-lived store too: its copy is scrubbed,
    // with the PII count preserved as the audit signal
    assert(rejected(0)._5.contains("<EMAIL>") &&
      !rejected(0)._5.contains("carol@") && rejected(0)._6 == 1L,
      s"reject copy must be PII-scrubbed: ${rejected(0)}")
    assert(rejected(1)._6 == 0L, "clean reject counted PII")

    // at-least-once: re-deliver one batch with the same id directly
    // (the factored hook) — stores must not change
    val accBefore = CurationScreenStream.accepted(spark, good).count()
    val rejBefore = spark.read.parquet(rej).count()
    CurationScreenStream.deliver(f1, 0L, good, rej)
    CurationScreenStream.deliver(f2, 1L, good, rej)
    assert(CurationScreenStream.accepted(spark, good).count() == accBefore)
    assert(spark.read.parquet(rej).count() == rejBefore)

    // a second runOnce with no new files is a no-op
    CurationScreenStream.runOnce(spark, in, good, rej, ck, schema)
    assert(CurationScreenStream.accepted(spark, good).count() == accBefore)
  }

  test("corpus-stats stream: absorbed micro-batches serve the batch lexical statistics exactly, replays are no-ops") {
    import graft.streaming.CorpusStatsStream
    import graft.pipeline.CorpusStatsMaintenance
    import spark.implicits._
    val root = tmp("cstream")
    val in = s"$root/in"; val store = s"$root/store"; val ck = s"$root/ck"
    val f1 = Seq((1L, "srcA", "en", "alpha beta alpha"),
      (2L, "srcB", "fr", "gamma gamma"))
      .toDF("doc_id", "source", "lang", "text")
    val f2 = Seq((3L, "srcA", "en", "beta beta delta"),
      (4L, "srcB", "en", ""))
      .toDF("doc_id", "source", "lang", "text")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    f1.coalesce(1).write.mode("append").parquet(in)
    f2.coalesce(1).write.mode("append").parquet(in)
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, source STRING, lang STRING, text STRING")
    CorpusStatsStream.runOnce(spark, in, store, ck, schema)

    val all = f1.unionByName(f2)
    def served = (
      CorpusStatsMaintenance.lexicalDiversity(spark, store).collect().toSeq,
      CorpusStatsMaintenance.goodTuring(spark, store).collect().toSeq,
      CorpusStatsMaintenance.zipfSlope(spark, store).collect().toSeq,
      CorpusStatsMaintenance.chaoRichness(spark, store).collect().toSeq,
      CorpusStatsMaintenance.lengthDrift(spark, store).collect().toSeq)
    val batch = (
      graft.queries.Corpus.lexicalDiversity(all).collect().toSeq,
      graft.queries.Corpus.goodTuring(all).collect().toSeq,
      graft.queries.Corpus.zipfSlope(all).collect().toSeq,
      graft.queries.Corpus.chaoRichness(all).collect().toSeq,
      graft.queries.Corpus.lengthDrift(all).collect().toSeq)
    assert(batch._1.nonEmpty)
    assert(served == batch,
      "stream-maintained statistics diverge from the batch chains")

    // a replayed runOnce (no new files) and a re-delivered batch
    // (direct absorb with the same run id) both leave the integers
    CorpusStatsStream.runOnce(spark, in, store, ck, schema)
    CorpusStatsMaintenance.absorb(spark, f1, store, "b0")
    assert(served == batch, "replay changed the served statistics")
  }

  test("only the streaming runner starts a query: no other src/main file calls readStream or writeStream") {
    import scala.jdk.CollectionConverters._
    // read from the project root, where the suite runs
    val root = java.nio.file.Paths.get("src", "main", "scala")
    val runner = root.resolve("graft/streaming/FileIngest.scala")
    assert(Files.isRegularFile(runner), s"no $runner under ${root.toAbsolutePath}")
    val walk = Files.walk(root)
    val sources = try walk.iterator().asScala
        .filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    val call = """\.\s*(readStream|writeStream)\b""".r
    def calls(p: java.nio.file.Path): Seq[String] =
      Files.readAllLines(p).asScala.toSeq.zipWithIndex.collect {
        case (line, i) if call.findFirstIn(line).isDefined =>
          s"$p:${i + 1}: ${line.trim}"
      }
    // the runner still holds the calls, so the pattern cannot go stale
    assert(calls(runner).nonEmpty, s"$runner no longer matches $call")
    val elsewhere = sources.filter(_ != runner).flatMap(calls)
    assert(elsewhere.isEmpty,
      s"streaming queries must start through FileIngest:\n${elsewhere.mkString("\n")}")
  }
}
