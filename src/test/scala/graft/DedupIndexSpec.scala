package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.DedupIndex

/** Incremental dedup screening (graft.pipeline.DedupIndex): build a
  * corpus index once, then screen a synthetic ingest batch with
  * planted exact copies, near-dups, and fresh documents.
  */
class DedupIndexSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def storeDir(name: String): String =
    tmp(name) + "/idx"

  test("screen classifies planted exact / near / unique docs against the index") {
    val dir = storeDir("dedup-index")
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
    DedupIndex.build(spark, corpus, dir)

    // plant an ingest batch from the longest corpus docs (long docs
    // keep Jaccard high after a small perturbation): 5 exact copies,
    // 5 near-dups (one token appended), 5 fresh strings the corpus
    // vocabulary does not contain
    val donors = Tables.documents(spark, sf)
      .orderBy($"n_chars".desc, $"doc_id").limit(10)
      .select($"doc_id", $"text").as[(Long, String)].collect()
    val exacts = donors.take(5).zipWithIndex.map { case ((id, t), i) =>
      (10000L + i, t, "exact", id)
    }
    val nears = donors.drop(5).zipWithIndex.map { case ((id, t), i) =>
      (10100L + i, t + " perturbed", "near", id)
    }
    val fresh = (0 until 5).map { i =>
      (10200L + i.toLong, s"zzqx$i wholly novel ingest payload number $i", "unique", -1L)
    }
    val batch = (exacts ++ nears ++ fresh).toSeq
      .toDF("doc_id", "text", "expected", "donor_id")

    val out = DedupIndex.screen(spark, batch.select($"doc_id", $"text"), dir)
      .join(batch.select($"doc_id", $"expected", $"donor_id"), "doc_id")
      .collect()
    assert(out.length == 15)
    out.foreach { r =>
      val (id, verdict, expected) = (r.getLong(0), r.getString(1), r.getString(4))
      assert(verdict == expected, s"doc $id classified $verdict, want $expected")
      if (expected == "exact")
        assert(r.getLong(2) == r.getLong(5), s"doc $id matched wrong corpus doc")
      if (expected == "near") {
        assert(r.getLong(2) == r.getLong(5), s"doc $id matched wrong corpus doc")
        assert(r.getDouble(3) >= 0.5 && r.getDouble(3) < 1.0)
      }
      if (expected == "unique") assert(r.isNullAt(2) && r.isNullAt(3))
    }
  }

  test("screening joins the band index, never the corpus text; index grows incrementally") {
    val dir = storeDir("dedup-incr")
    val corpus = Tables.documents(spark, sf).select($"doc_id", $"text")
    DedupIndex.build(spark, corpus, dir)

    val batch = Seq((20000L, "another wholly novel zzqx ingest document"))
      .toDF("doc_id", "text")
    val plan = DedupIndex.screen(spark, batch, dir)
      .queryExecution.executedPlan.toString
    // the corpus TEXT is never reread: only the three index tables
    assert(!plan.contains("documents.parquet"),
      s"screen rescans the corpus text:\n$plan")
    assert(!plan.contains("CartesianProduct"), s"cartesian in screen plan:\n$plan")

    // ingest-then-extend: building the union's index lets yesterday's
    // batch match tomorrow's re-delivery as exact
    val extended = corpus.union(batch)
    DedupIndex.build(spark, extended, dir)
    val redelivery = DedupIndex.screen(spark, batch, dir).collect()
    assert(redelivery.length == 1 && redelivery(0).getString(1) == "exact" &&
      redelivery(0).getLong(2) == 20000L)
  }

  test("a flooded index bucket answers probes with its hub only; verdicts and connectivity survive") {
    // boilerplate flood: 200 byte-identical docs indexed (build()
    // indexes whatever the corpus holds; the screened-doc probe
    // store accumulates the same shape) — an uncapped probe of that
    // bucket would emit 200 candidates per matching batch doc and
    // grow linearly with the flood. The capped probe must answer
    // with the bucket's min-id hub, keep the verdict, and keep the
    // cluster bridge.
    val dir = storeDir("dedup-flood")
    val mega = (0L until 200L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val normal = Seq(
      (1000L, "one two three four five six seven eight nine ten"))
    DedupIndex.build(spark, (mega ++ normal).toDF("doc_id", "text"), dir)

    val batch = Seq(
      // same boilerplate — must flag against the flood, via the hub
      (9000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      // near-dup of the normal doc — the small-bucket path
      (9001L, "one two three four five six seven eight nine ten extra"),
      (9002L, "totally novel qqz wwx eey rrt yyu")).toDF("doc_id", "text")

    val edges = DedupIndex.nearEdgesAgainst(spark, batch, dir)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val floodEdges = edges.filter { case (a, b) => a == 9000L && b < 1000L }
    assert(floodEdges.nonEmpty, "boilerplate batch doc lost its bridge")
    assert(floodEdges.length <= 8,
      s"flooded bucket emitted ${floodEdges.length} edges — probe cap not applied")
    assert(floodEdges.forall(_._2 == 0L),
      s"over-cap bucket must answer with its min-id hub: ${floodEdges.toSeq}")
    assert(edges.contains((9001L, 1000L)), "small-bucket near edge lost")

    val verdicts = DedupIndex.screen(spark, batch, dir)
      .select($"doc_id", $"verdict", $"match_id")
      .as[(Long, String, Option[Long])].collect().map(r => r._1 -> r).toMap
    assert(verdicts(9000L)._2 == "exact" && verdicts(9000L)._3.contains(0L),
      s"boilerplate verdict wrong: ${verdicts(9000L)}")
    assert(verdicts(9001L)._2 == "near" && verdicts(9001L)._3.contains(1000L))
    assert(verdicts(9002L)._2 == "unique")
  }

  test("a flooded batch's intra-batch edges are hard-capped to spanning stars") {
    // a catch-up delivery carrying 200 identical docs: uncapped the
    // within-batch band self-join would verify 19 900 pairs; the
    // shared star device must emit O(batch) edges that still span
    // the family for labeling
    val mega = (0L until 200L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val singles = Seq(
      (1000L, "one two three four five six seven eight nine ten"))
    val edges = DedupIndex.nearEdgesWithin(spark,
        (mega ++ singles).toDF("doc_id", "text"))
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val megaEdges = edges.filter { case (a, b) => a < 1000L && b < 1000L }
    assert(megaEdges.length < 1000,
      s"flood batch emitted ${megaEdges.length} intra-batch edges — cap not applied")
    val labels = graft.ops.ConnectedComponents
      .run(megaEdges.toSeq.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap
    assert(labels.size == 200 && labels.values.forall(_ == 0L),
      "capped intra-batch edges no longer span the flood family")
  }

  test("probe broadcast fallback: shuffle-join plan emits identical verified pairs") {
    // a catch-up flood can carry more batch band rows than the
    // broadcast budget; above ProbeBroadcastMaxBands the probe drops
    // its broadcast hints and runs the same joins as shuffles. The
    // two plans must agree row-for-row — including the over-cap hub
    // edges — on a corpus that exercises BOTH bucket regimes.
    val dir = storeDir("dedup-fallback")
    val mega = (0L until 200L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val normal = Seq(
      (1000L, "one two three four five six seven eight nine ten"))
    DedupIndex.build(spark, (mega ++ normal).toDF("doc_id", "text"), dir)
    val batch = Seq(
      (9000L, "alpha beta gamma delta epsilon zeta eta theta iota kappa"),
      (9001L, "one two three four five six seven eight nine ten extra"),
      (9002L, "totally novel qqz wwx eey rrt yyu")).toDF("doc_id", "text")
    val derived = DedupIndex.withDerived(batch)
    def pairs(maxBands: Long) =
      DedupIndex.verifiedAgainst(spark, derived, DedupIndex.Store.read(spark, dir), None, maxBands)
        .select($"doc_id", $"corpus_id",
          floor($"jaccard" * lit(1e6) + lit(0.5)).cast("long"))
        .as[(Long, Long, Long)].collect().toSet
    val viaBroadcast = pairs(Long.MaxValue)
    val viaShuffle = pairs(0L)
    assert(viaBroadcast.nonEmpty && viaShuffle == viaBroadcast,
      s"fallback diverged: only-bcast=${viaBroadcast -- viaShuffle}, " +
        s"only-shuffle=${viaShuffle -- viaBroadcast}")
  }

  test("nearEdgesWithin reproduces q24's verified pair set exactly") {
    // ClusterMaintenance's equivalence-to-from-scratch argument rests
    // on the edge generators using q24's chain; pin it on real data
    val docs = Tables.documents(spark, sf).select($"doc_id", $"text")
    val edges = DedupIndex.nearEdgesWithin(spark, docs)
      .as[(Long, Long)].collect().toSet
    val q24 = SparkEntry.queries("q24_near_dup")(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect().toSet
    assert(q24.nonEmpty && edges == q24,
      s"edge sets differ: only-in-index=${edges -- q24}, only-in-q24=${q24 -- edges}")
  }

  test("unacknowledged append is invisible to screening, dropped by compaction, healed by retry") {
    // r17 DeliveryMarker sweep: one append spans three sub-store
    // writes screening JOINS across (bands nominate, fingerprints/
    // shingles verify). Simulate the crash-before-acknowledge window
    // by appending and then removing the marker — the run's data is
    // fully on disk but unacknowledged, exactly the state a crash
    // between the last write and the marker leaves.
    val dir = storeDir("dedup-marker")
    val corpus = (0L until 20L)
      .map(i => (i, s"base document number $i with words $i"))
      .toDF("doc_id", "text")
    DedupIndex.build(spark, corpus, dir)
    val batch = Seq((100L, "a wholly new ingest document payload"))
      .toDF("doc_id", "text")
    DedupIndex.append(spark, batch, dir, "bX")
    graft.ops.DeliveryMarker.clear(spark, dir, Set("bX"))

    // the batch doc is ON DISK under run=bX, but screening a copy of
    // it must not see the unacknowledged run: verdict stays unique
    val probe = Seq((200L, "a wholly new ingest document payload"))
      .toDF("doc_id", "text")
    def verdict(): String =
      DedupIndex.screen(spark, probe, dir).collect().head.getString(1)
    assert(verdict() == "unique",
      "unacknowledged run must be invisible to screening")

    // compaction drops (never folds) the unacknowledged run
    DedupIndex.compact(spark, dir)
    assert(verdict() == "unique",
      "compaction must drop, not fold, an unacknowledged run")

    // the at-least-once retry re-lands the run whole and acknowledges
    DedupIndex.append(spark, batch, dir, "bX")
    assert(verdict() == "exact",
      "retried delivery must make the run visible to screening")

    // a re-delivery of the acknowledged bX whose write job dies
    // partway leaves the landed run in place: its fingerprints may not
    // vanish while its ack and bands stay visible (the copy would read
    // near)
    FailingWrites.during(DedupIndex.append(spark, batch, dir, "bX"))
    assert(verdict() == "exact",
      "a failed re-delivery must not empty the acknowledged run's fingerprints")

    // a rebuild whose write job dies partway leaves the old base
    FailingWrites.during(DedupIndex.build(spark, corpus.unionByName(batch), dir))
    val baseCopy = Seq((201L, "base document number 3 with words 3")).toDF("doc_id", "text")
    val rebuilt = DedupIndex.screen(spark, baseCopy, dir).collect().head
    assert(rebuilt.getString(1) == "exact" && rebuilt.getLong(2) == 3L,
      s"a failed rebuild must not empty the base fingerprints: $rebuilt")

    // a directory that was never built fails to screen, never
    // screens everything unique
    val never = intercept[Exception](
      DedupIndex.screen(spark, probe, storeDir("dedup-never")).collect())
    assert(never.getMessage.contains("PATH_NOT_FOUND"), s"unexpected failure: $never")
  }

  test("pre-widening migration: screen/append/compact all refuse, rebuild restores screening, the fp_hi hook proves old-vs-new agreement") {
    // r18 verdict #3: the refuse-then-rebuild path existed but only
    // screen-side was spec'd and nothing exercised an actual old
    // store end-to-end. Full scenario: an operator holds an index
    // built before the 128-bit widening; every operator path refuses
    // with the rebuild diagnosis; the rebuild from the corpus
    // snapshot restores screening; and the documented migration
    // verification hook — fp_hi div FpHiMod2 recovers the classic
    // fingerprint — proves the new index agrees with the old key on
    // every document.
    val dir = storeDir("dedup-migrate")
    val corpus = (0L until 30L)
      .map(i => (i, s"legacy corpus document $i body words w$i extra w${i % 7}"))
      .toDF("doc_id", "text")
    LegacyDedupStore.write(spark, corpus, dir)
    val probe = Seq((500L, "legacy corpus document 7 body words w7 extra w0"))
      .toDF("doc_id", "text")

    graft.pipeline.DedupIndex.resetLayoutMemo()
    def diag(op: => Unit): String =
      intercept[IllegalStateException](op).getMessage
    val mScreen = diag(DedupIndex.screen(spark, probe, dir).collect())
    val mAppend = diag(DedupIndex.append(spark, probe, dir, "b1"))
    val mCompact = diag(DedupIndex.compact(spark, dir))
    Seq("screen" -> mScreen, "append" -> mAppend, "compact" -> mCompact)
      .foreach { case (op, m) =>
        assert(m.contains("pre-128-bit") && m.contains("re-run DedupIndex.build"),
          s"$op refusal lost the rebuild diagnosis: $m")
      }
    // the refused append must not have landed ANY partial state
    assert(DedupIndex.runCount(spark, dir) == 1,
      "a refused append landed run data on the legacy store")

    // capture the old store's keys, then rebuild from the snapshot
    val oldFp = spark.read.parquet(s"$dir/fingerprints")
      .select($"doc_id", $"fp").as[(Long, Long)].collect().toMap
    DedupIndex.build(spark, corpus, dir)

    // screening resumes: the probe is an exact duplicate of doc 7
    val v = DedupIndex.screen(spark, probe, dir).collect().head
    assert(v.getString(1) == "exact" && v.getLong(2) == 7L,
      s"screening did not resume after the rebuild: $v")

    // migration verification hook (TextOps: fp_hi's high word IS the
    // classic fingerprint): old-vs-new agreement on every doc
    val recovered = spark.read.parquet(s"$dir/fingerprints")
      .selectExpr("doc_id",
        s"fp_hi div ${graft.ops.TextOps.FpHiMod2}L as classic")
      .as[(Long, Long)].collect().toMap
    assert(recovered.keySet == oldFp.keySet,
      "rebuild changed the indexed document set")
    recovered.foreach { case (id, c) =>
      assert(c == oldFp(id),
        s"doc $id: fp_hi hook recovers $c, old store held ${oldFp(id)}")
    }
  }

  test("randomized differential: screen verdicts match an in-memory replay of the LSH contract") {
    // Guards the distributed JOIN/GROUP logic (exact 128-bit key
    // join, band-bucket candidate join, best-match max_by with the
    // smaller-id tie-break, exact-beats-near) against an independent
    // plain-Scala replay. The replay SHARES the hash kernels — those
    // are bit-pinned elsewhere — and re-implements everything on top
    // of them: the screen semantics are candidates THROUGH the
    // banding (a high-Jaccard pair the bands miss is 'unique' by
    // contract), so the replay computes bands too. Small vocabulary
    // forces heavy sharing; bucket sizes stay far under BucketCap so
    // the star-edge device never engages (asserted).
    import org.apache.spark.unsafe.types.UTF8String
    import graft.ops.expressions.{HashKernel, ShingleHashKernel, MinHashKernel}
    val P = 1000000007L
    val rnd = new scala.util.Random(20260816L)
    for (trial <- 1 to 3) {
      val vocab = (0 until 8).map(i => s"w$i")
      def randText(len: Int): String =
        Vector.fill(len)(vocab(rnd.nextInt(vocab.size))).mkString(" ")
      val corpus = (0L until 40L).map(i => (i, randText(4 + rnd.nextInt(10))))
      val batch = (100L until 115L).map { i =>
        rnd.nextInt(3) match {
          case 0 => (i, corpus(rnd.nextInt(corpus.size))._2)          // copy
          case 1 => (i, corpus(rnd.nextInt(corpus.size))._2 + " w9")  // perturbed
          case _ => (i, randText(3 + rnd.nextInt(8)))                 // fresh-ish
        }
      }
      val dir = storeDir(s"dedup-diff$trial")
      DedupIndex.build(spark, corpus.toDF("doc_id", "text"), dir)
      val got = DedupIndex.screen(spark, batch.toDF("doc_id", "text"), dir)
        .collect().map(r => r.getLong(0) ->
          (r.getString(1), if (r.isNullAt(2)) -1L else r.getLong(2))).toMap

      // ---- plain-Scala replay over the shared kernels ----
      def key(t: String) = (
        HashKernel.polyHashPacked(UTF8String.fromString(t), 31L, P, 131L, 2147483629L),
        HashKernel.polyHashPacked(UTF8String.fromString(t), 257L, 2147483647L, 65599L, 2147483587L),
        t.getBytes("UTF-8").length)
      def hs(t: String): Set[Long] =
        ShingleHashKernel.shingleHashes(UTF8String.fromString(t), 3).toLongArray().toSet
      def bands(set: Set[Long]): Set[(Int, Long)] =
        if (set.isEmpty) Set.empty
        else {
          val sig = MinHashKernel.signature(
            org.apache.spark.sql.catalyst.util.ArrayData.toArrayData(set.toArray), 16)
            .toLongArray()
          (0 until 8).map(b =>
            b -> ((sig(2 * b) * 31 + sig(2 * b + 1)) % P)).toSet
        }
      val cHs = corpus.map { case (id, t) => id -> hs(t) }.toMap
      val cBands = corpus.map { case (id, t) => id -> bands(cHs(id)) }
      // every index bucket far under the cap, so the plain rule is
      // the CORRECT semantics to replay (the q24 oracle's argument)
      val bucketSizes = cBands.flatMap { case (_, bs) => bs }
        .groupBy(identity).map(_._2.size)
      assert(bucketSizes.max <= graft.queries.TextVector.BucketCap / 2,
        s"trial $trial grew a near-cap bucket — shrink the corpus")
      val cKey = corpus.map { case (id, t) => id -> key(t) }.toMap
      val want = batch.map { case (id, t) =>
        val k = key(t)
        val exact = cKey.collect { case (cid, ck) if ck == k => cid }
        val myB = bands(hs(t))
        val nears = cBands.collect {
          case (cid, cb) if cb.exists(myB.contains) &&
            hs(t).nonEmpty && cHs(cid).nonEmpty &&
            (hs(t) & cHs(cid)).size.toDouble / (hs(t) | cHs(cid)).size >= 0.5 =>
            (cid, (hs(t) & cHs(cid)).size.toDouble / (hs(t) | cHs(cid)).size)
        }
        val v =
          if (exact.nonEmpty) ("exact", exact.min)
          else if (nears.nonEmpty) {
            val best = nears.minBy { case (cid, j) => (-j, cid) }
            ("near", best._1)
          } else ("unique", -1L)
        id -> v
      }.toMap
      assert(got == want, s"trial $trial screen differential:\n got $got\nwant $want")
      spark.catalog.clearCache()
    }
  }

  test("ScaleProbe screen-latency fixture: the fixed batch is id-disjoint and lands exact/near/unique work at the probe's 1× index scale") {
    // The dedup_screen receipt (r18 verdict #4) times screening the
    // SAME 500-doc batch against generator-built indexes of growing
    // size; this pins the two fixture invariants the receipt rides
    // on. (1) Batch ids sit past every generated corpus id (largest
    // probe corpus = 5 000×30 docs), so verdicts come from CONTENT,
    // never id coincidence. (2) Against the probe's own 1× index the
    // batch lands all three verdict classes with real mass — an
    // all-unique batch would let the verify join degenerate to empty
    // and the "flat latency" receipt would time nothing. The
    // generator is deterministic (hash-driven, no RNG), so these
    // counts are stable across runs and machines.
    val dir = storeDir("probe-fixture")
    DedupIndex.build(spark,
      ScaleProbe.docsDf(spark, 5000L).select($"doc_id", $"text"), dir)
    val batch = ScaleProbe.fixedScreenBatch(spark)
    assert(batch.agg(min($"doc_id")).head.getLong(0) >= 10000000L &&
      batch.count() == 500L)
    val verdicts = DedupIndex.screen(spark, batch, dir)
      .groupBy($"verdict").count().as[(String, Long)].collect().toMap
    assert(verdicts.getOrElse("exact", 0L) >= 10L,
      s"fixture lost its exact-copy hits: $verdicts")
    assert(verdicts.getOrElse("near", 0L) >= 10L,
      s"fixture lost its near-dup hits: $verdicts")
    assert(verdicts.getOrElse("unique", 0L) >= 300L,
      s"fixture lost its unique docs: $verdicts")
    assert(verdicts.values.sum == 500L)
  }
}
