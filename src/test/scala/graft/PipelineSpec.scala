package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.EmbedPipeline

/** E2E pipeline tests on sf0.001 (SURVEY §5.4, VERDICT r2 next#6):
  * EP1 embed job + sharded sink, S4/T6 shard source round-trip, J2
  * backfill, EP3 merge — including the regression test that the
  * reference's L2 tail-drop (54,198 lost rows, process.py:171-172)
  * cannot happen here.
  */
class PipelineSpec extends AnyFunSuite {
  import TestSpark._

  test("upsert-by-partition: only the updated partitions rewrite; re-running is a no-op") {
    import spark.implicits._
    val store = tmp("upsert") + "/store"
    val docs = Tables.documents(spark, sf).select($"doc_id", $"lang", $"text")
    docs.write.partitionBy("lang").parquet(store)

    def partitionFiles(): Map[String, Set[(String, Long)]] = {
      val root = new java.io.File(store)
      root.listFiles().filter(f => f.isDirectory && f.getName.startsWith("lang="))
        .map(d => d.getName ->
          d.listFiles().filter(_.getName.endsWith(".parquet"))
            .map(f => (f.getName, f.lastModified())).toSet)
        .toMap
    }
    val before = partitionFiles()
    assert(before.size > 1, "test needs several lang partitions")

    // repair: lang=en docs get re-processed text; every other
    // partition must not be touched
    val updates = docs.filter($"lang" === "en")
      .withColumn("text", concat($"text", lit(" [fixed]")))
    EmbedPipeline.upsertPartitions(spark, updates, store, "lang")

    val after = partitionFiles()
    assert(after.keySet == before.keySet)
    before.foreach { case (p, files) =>
      if (p == "lang=en")
        assert(after(p).map(_._1).intersect(files.map(_._1)).isEmpty,
          "updated partition must be replaced, not appended")
      else assert(after(p) == files, s"untouched partition $p was rewritten")
    }
    val readBack = spark.read.parquet(store)
    assert(readBack.count() == docs.count())
    assert(readBack.filter($"lang" === "en")
      .filter(!$"text".endsWith(" [fixed]")).count() == 0,
      "stale rows survived in the repaired partition")

    // idempotence: re-running the same repair changes nothing but mtimes
    EmbedPipeline.upsertPartitions(spark, updates, store, "lang")
    assert(spark.read.parquet(store).count() == docs.count())
    // and the session conf was restored both times
    assert(spark.conf.get("spark.sql.sources.partitionOverwriteMode",
      "STATIC").equalsIgnoreCase("static"))
  }

  test("EP1 embed job: sharded sink drops no rows (L2 regression) and shards are bounded") {
    val out = tmp("ep1")
    val n = EmbedPipeline.embedJob(spark, s"$sf/documents.parquet", out,
      "doc_id", "text", dim = 8, shardRows = 64)
    val in = spark.read.parquet(s"$sf/documents.parquet").count()
    assert(n == in, s"tail-drop: wrote $n of $in rows")

    val sharded = EmbedPipeline.readSharded(spark, out)
    assert(sharded.count() == in)
    // every shard ≤ shardRows (the K3 100k-rows-per-file contract)
    val maxShard = sharded.groupBy("shard_id").count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(maxShard <= 64, s"shard with $maxShard rows > 64")
    // id set preserved exactly
    val missing = spark.read.parquet(s"$sf/documents.parquet")
      .select(col("doc_id").as("id")).except(sharded.select("id")).count()
    assert(missing == 0)
  }

  test("shard source round-trip: ordered shard ids reconstruct the dataset (S4+T6)") {
    val out = tmp("shards")
    EmbedPipeline.embedJob(spark, s"$sf/documents.parquet", out,
      "doc_id", "text", dim = 4, shardRows = 100)
    val sharded = EmbedPipeline.readSharded(spark, out)
    val nShards = sharded.select("shard_id").distinct().count()
    assert(nShards >= 5, s"expected ≥5 shards of ≤100 rows for 500 docs, got $nShards")
    // shard ids are a contiguous 0..n-1 range (orderable, join.py:12 analog)
    val ids = sharded.select("shard_id").distinct()
      .collect().map(_.getInt(0)).sorted
    assert(ids.head == 0 && ids.last == nShards - 1)

    // F2 (join.py:11 filename predicate): path-glob selection at
    // read time — a glob over part files reads the same dataset
    val viaGlob = spark.read.parquet(s"$out/part-*").count()
    assert(viaGlob == sharded.count(), "glob read must match dir read")
  }

  test("EP3 backfill loop: anti-join finds exactly the unprocessed ids, chunk-embed repairs them") {
    val mainOut = tmp("main")
    // simulate the reference's lossy main pass: skip 50 ids
    val docs = spark.read.parquet(s"$sf/documents.parquet")
    docs.filter(col("doc_id") >= 50)
      .select(col("doc_id").as("id"), col("text"))
      .withColumn("embedding", graft.ops.VectorOps.embed(col("text"), 8))
      .write.mode("overwrite").parquet(mainOut)

    val raw = docs.select(col("doc_id").as("id"), col("text"))
    val processed = spark.read.parquet(mainOut)
    val missing = EmbedPipeline.missingIds(raw, processed.select("id"), "id")
    assert(missing.count() == 50)
    assert(missing.agg(max("id")).collect()(0).getLong(0) == 49)

    val backfillOut = tmp("backfill")
    val nBack = EmbedPipeline.chunkEmbedJob(spark, missing, backfillOut,
      "id", "text", maxTokens = 16, dim = 8)
    assert(nBack == 50)
    // union restores the full corpus — the count reconciliation of
    // process.py:131-173, with nothing lost
    val total = processed.select("id")
      .union(spark.read.parquet(backfillOut).select("id")).distinct().count()
    assert(total == 500)
  }

  test("EP3 merge job: 1:1 merge doubles the dim; misalignment raises") {
    val tDir = tmp("titles"); val aDir = tmp("abstracts"); val mDir = tmp("merged")
    EmbedPipeline.embedJob(spark, s"$sf/documents.parquet", tDir,
      "doc_id", "text", dim = 8, shardRows = 1000)
    EmbedPipeline.embedJob(spark, s"$sf/documents.parquet", aDir,
      "doc_id", "text", dim = 8, shardRows = 1000)
    val n = EmbedPipeline.mergeJob(spark, tDir, aDir, mDir, titleWeight = 0.2)
    assert(n == 500)
    val dim = spark.read.parquet(mDir)
      .select(size(col("embedding"))).distinct().collect().map(_.getInt(0))
    assert(dim.sameElements(Array(16)), s"merged dim ${dim.toSeq}, want 16")

    // misaligned inputs must fail loudly (process.py:120,124 assert)
    val aShort = tmp("abshort")
    spark.read.parquet(aDir).filter(col("id") < 400)
      .write.mode("overwrite").parquet(aShort)
    val e = intercept[Exception] {
      EmbedPipeline.mergeJob(spark, tDir, aShort, tmp("mbad"), 0.2)
    }
    assert(e.getMessage != null)
  }

  test("compaction job: many tiny shards → few bounded files, counts reconcile, throughput observed") {
    val tiny = tmp("tiny"); val compact = tmp("compact")
    // write with an absurdly small shard bound → many small files
    // (the checkpoint-cadence small-files problem, run.py:150-153)
    EmbedPipeline.embedJob(spark, s"$sf/documents.parquet", tiny,
      "doc_id", "text", dim = 4, shardRows = 10)
    val st = EmbedPipeline.compactJob(spark, tiny, compact, shardRows = 200)
    assert(st.rowsIn == 500 && st.rowsOut == 500)
    assert(st.filesIn > 10, s"expected many small files, got ${st.filesIn}")
    assert(st.filesOut <= 4, s"expected <= 4 compacted files, got ${st.filesOut}")
    // bounded: no compacted file exceeds the K3 bound
    val perFile = spark.read.parquet(compact)
      .groupBy(input_file_name()).count()
      .agg(max("count")).collect()(0).getLong(0)
    assert(perFile <= 200, s"file with $perFile rows > 200")
    // A3 metric: in-flight observe-count measured a positive rate
    val ws = graft.ops.Metrics.observedParquetWrite(
      spark.read.parquet(compact), tmp("rewrite"))
    assert(ws.rows == 500 && ws.seconds > 0 && ws.rowsPerSec > 0)
  }

  test("EP3 typed cogroup: merge + both-direction missing ids in one pass ≡ join formulation") {
    import spark.implicits._
    import graft.pipeline.{Embedded, Reconciled}
    val tDir = tmp("cg-titles"); val aDir = tmp("cg-abstracts")
    EmbedPipeline.embedJob(spark, s"$sf/documents.parquet", tDir,
      "doc_id", "text", dim = 8, shardRows = 1000)
    EmbedPipeline.embedJob(spark, s"$sf/documents.parquet", aDir,
      "doc_id", "text", dim = 8, shardRows = 1000)
    // title side missing ids >= 450, abstract side missing ids < 30:
    // both backfill directions present, 420 ids on both sides
    val titles = spark.read.parquet(tDir).filter($"id" < 450).as[Embedded]
    val abstracts = spark.read.parquet(aDir).filter($"id" >= 30).as[Embedded]

    val rec = EmbedPipeline.cogroupReconcile(titles, abstracts, titleWeight = 0.2)
      .collect()
    assert(rec.count(_.status == "both") == 420)
    assert(rec.count(_.status == "title_only") == 30)
    assert(rec.count(_.status == "abstract_only") == 50)
    assert(!rec.exists(_.status == "conflict"))

    // the merged vectors are BIT-equal to mergeJob's scaleConcat path
    val viaJoin = titles.toDF().select($"id", $"embedding".as("t_emb"))
      .join(abstracts.toDF().select($"id", $"embedding".as("a_emb")), Seq("id"))
      .select($"id", graft.ops.VectorOps.scaleConcat($"t_emb", $"a_emb", 0.2)
        .as("embedding"))
      .as[(Long, Seq[Double])].collect().toMap
    assert(rec.filter(_.status == "both")
      .forall(r => viaJoin(r.id) == r.embedding))

    // a duplicated id within one side is flagged, not silently zipped
    val dup = titles.union(titles.filter($"id" === 7L).as[Embedded])
    val conf = EmbedPipeline.cogroupReconcile(dup, abstracts, 0.2)
      .filter(_.status == "conflict").collect()
    assert(conf.map(_.id).toSeq == Seq(7L))
  }

  test("pluggable encoder seam: a non-hash model drives embed → merge → ANN build → search end-to-end (run.py:42's job with a swapped model)") {
    import spark.implicits._
    // a model-shaped object that is NOT the HashEmbed stand-in
    // (top-level fixture object — an inner class would capture the
    // non-Serializable suite)
    val batchSizes = spark.sparkContext.collectionAccumulator[Int]("bocBatches")
    def bagOfChars(s: String): Seq[Double] = BagOfCharsModel.vec(s)
    def newEnc = new BagOfCharsModel.Enc(batchSizes)

    // two "fields" per doc (the reference's title/abstract shape),
    // derived so the sides differ
    val base = tmp("plug")
    val in = s"$base/in"
    val docs = spark.read.parquet(s"$sf/documents.parquet")
      .select($"doc_id", substring($"text", 1, 60).as("title"),
        $"text".as("abstract"))
    docs.write.parquet(in)
    val n = docs.count()
    val inParts = spark.read.parquet(in).rdd.getNumPartitions

    // EP1 with the swapped model: no tail-drop, bounded batches
    val tOut = s"$base/titles"
    val wrote = EmbedPipeline.embedJobWith(spark, in, tOut,
      "doc_id", "title", batchSize = 32, shardRows = 200, newEnc)
    assert(wrote == n, s"tail-drop with a swapped encoder: $wrote of $n")
    val sizes = batchSizes.value
    import scala.jdk.CollectionConverters._
    val sz = sizes.asScala.toSeq
    assert(sz.sum == n, s"batches covered ${sz.sum} of $n rows")
    assert(sz.forall(_ <= 32), s"oversized batch: ${sz.max}")
    assert(sz.count(_ < 32) <= inParts,
      s"more short batches (${sz.count(_ < 32)}) than partitions ($inParts) — " +
        "tail batches must only occur at partition ends")

    // the vectors really came from the swapped model — driver replay
    val got = spark.read.parquet(tOut)
      .select($"id", $"content", $"embedding").as[(Long, String, Seq[Double])]
      .collect().sortBy(_._1)
    assert(got.forall { case (_, c, e) => e == bagOfChars(c) },
      "executor-side encoding diverges from the driver replay")

    // checkpoint/resume: the job is an idempotent overwrite — a crashed
    // run re-runs to the same bytes (the K2/L3 contract embedJob pins
    // for the hash model, re-proven for the seam)
    val firstRun = got.map { case (id, _, e) => (id, e) }
    assert(EmbedPipeline.embedJobWith(spark, in, tOut,
      "doc_id", "title", batchSize = 32, shardRows = 200, newEnc) == n)
    val secondRun = spark.read.parquet(tOut)
      .select($"id", $"embedding").as[(Long, Seq[Double])]
      .collect().sortBy(_._1)
    assert(secondRun.toSeq == firstRun.toSeq, "re-run is not idempotent")

    // merge (EP3) — same downstream as the hash model
    val aOut = s"$base/abstracts"
    EmbedPipeline.embedJobWith(spark, in, aOut,
      "doc_id", "abstract", batchSize = 32, shardRows = 200, newEnc)
    val mOut = s"$base/merged"
    assert(EmbedPipeline.mergeJob(spark, tOut, aOut, mOut, 0.2) == n)
    val merged = spark.read.parquet(mOut)
      .select($"id".as("vec_id"), $"embedding".as("vec"))
    assert(merged.limit(1).select(size($"vec")).as[Int].collect()(0) == 52,
      "merged dim must be title+abstract concat")

    // ANN build + refined search in the swapped model's space: query
    // docs whose vector is UNIQUE (the corpus plants exact-duplicate
    // texts, which any deterministic model maps to identical vectors
    // — those can't assert self-first) must retrieve themselves
    val dir = s"$base/ann"
    graft.pipeline.AnnIndex.build(spark, merged, dir)
    val uniqueIds = merged.groupBy($"vec").agg(collect_list($"vec_id").as("ids"))
      .filter(size($"ids") === 1)
      .select(element_at($"ids", 1).as("vec_id")).orderBy($"vec_id")
      .limit(3).as[Long].collect()
    assert(uniqueIds.length == 3, "fixture lost its unique-vector docs")
    val queries = merged.filter($"vec_id".isin(uniqueIds: _*))
      .select($"vec_id".as("query_id"), $"vec".as("qvec"))
    val hits = graft.pipeline.AnnIndex
      .searchRefined(spark, queries, dir, merged, k = 3)
      .filter($"rn" === 1)
      .select($"query_id", $"vec_id", $"d2").collect()
    assert(hits.length == 3)
    hits.foreach { r =>
      assert(r.getLong(0) == r.getLong(1) && r.getDouble(2) == 0.0,
        s"query ${r.getLong(0)} did not retrieve itself in the " +
          s"swapped model's space: got ${r.getLong(1)} at d2=${r.getDouble(2)}")
    }
  }
}

/** The pluggable-encoder spec's stand-in model: position-weighted
  * bag-of-chars (letter i accumulates 1 + pos mod 11, so word ORDER
  * matters and distinct texts map to distinct vectors) —
  * deterministic, Serializable, and nothing like HashEmbed. Lives at
  * top level because an encoder defined inside the suite would
  * capture the non-Serializable scalatest engine via $outer. */
private object BagOfCharsModel {
  def vec(s: String): Seq[Double] = {
    val v = new Array[Double](26)
    var j = 0
    while (j < s.length) {
      val c = Character.toLowerCase(s.charAt(j))
      if (c >= 'a' && c <= 'z') v(c - 'a') += 1.0 + (j % 11)
      j += 1
    }
    v.toSeq
  }
  class Enc(batchSizes: org.apache.spark.util.CollectionAccumulator[Int])
      extends graft.ops.BatchEncoder[String, Seq[Double]] {
    def encodeBatch(xs: Seq[String]): Seq[Seq[Double]] = {
      batchSizes.add(xs.length)
      xs.map(vec)
    }
  }
}
