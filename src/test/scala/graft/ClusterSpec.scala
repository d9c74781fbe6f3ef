package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

import graft.queries.Stages

/** ConnectedComponents (graft.ops) — correctness on known graphs,
  * including shapes the q63 oracle gate cannot exercise (long
  * chains needing many propagation rounds, the maxIter guard).
  */
class ClusterSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // the planted near-dup families and price spread the last two
  // tests rely on live in the gate-scale dir, not the smoke dir
  private val sf01 = "/root/testdata/sf0.01"

  private def resetNearDup(): Unit = {
    Stages.nearDupLabels.reset()
    Stages.nearDupPairs.reset()
  }

  private def cc(edges: Seq[(Long, Long)]): Map[Long, Long] =
    graft.ops.ConnectedComponents.run(edges.toDF("a", "b"), "a", "b")
      .as[(Long, Long)].collect().toMap

  test("disjoint components get their min-id labels") {
    // {1,2,3} triangle-ish, {10,11}, {20,21,22} star on 20
    val labels = cc(Seq((2L, 1L), (2L, 3L), (10L, 11L), (20L, 21L), (22L, 20L)))
    assert(labels == Map(
      1L -> 1L, 2L -> 1L, 3L -> 1L,
      10L -> 10L, 11L -> 10L,
      20L -> 20L, 21L -> 20L, 22L -> 20L))
  }

  test("a long chain converges in O(log diameter) rounds regardless of edge orientation") {
    // 0-1-2-…-150 as alternating orientations: diameter 150, so
    // plain neighbor-min propagation would need ~150 rounds — only
    // the pointer-jumping shortcut can finish inside maxIter=12
    // (≈ log2(150) + slack)
    val chain = (0L until 150L).map(i =>
      if (i % 2 == 0) (i, i + 1) else (i + 1, i))
    val labels = graft.ops.ConnectedComponents
      .run(chain.toDF("a", "b"), "a", "b", maxIter = 12)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(labels.size == 151 && labels.values.forall(_ == 0L))
  }

  test("randomized differential: labels match a union-find reference on random graphs") {
    val rnd = new scala.util.Random(20260812L)
    for (trial <- 1 to 5) {
      val n = 40 + trial * 30
      val edges = Seq.fill(n)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
        .filter(e => e._1 != e._2) // self-loops carry no information
      // driver-side union-find with path compression as the oracle
      val parent = scala.collection.mutable.Map[Long, Long]()
      def find(x: Long): Long = {
        val p = parent.getOrElseUpdate(x, x)
        if (p == x) x else { val r = find(p); parent(x) = r; r }
      }
      edges.foreach { case (a, b) =>
        val (ra, rb) = (find(a), find(b))
        if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
      }
      // canonical label = min member per root
      val members = parent.keys.toSeq.groupBy(find)
      val expected = members.flatMap { case (_, ms) =>
        val m = ms.min; ms.map(_ -> m)
      }.toMap
      val got = cc(edges)
      assert(got == expected, s"trial $trial (n=$n): labels diverge from union-find")
    }
  }

  test("the propagation round plans hash joins only: no cartesian, no nested loop, no UDF") {
    // run()'s checkpointing hides the loop's internals from the
    // whole-catalog plan audit, so audit one round's lazy plan here
    import org.apache.spark.sql.functions.col
    val edges = (0L until 50L).map(i => (i, i + 1)).toDF("a", "b")
    val sym = edges.select(col("a").as("src"), col("b").as("dst"))
      .union(edges.select(col("b").as("src"), col("a").as("dst")))
    val labels = sym.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
    val plan = graft.ops.ConnectedComponents.roundStep(sym, labels)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in CC round:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in CC round:\n$plan")
    assert(!plan.contains("BatchEvalPython") && !plan.toLowerCase.contains("scalaudf"),
      s"UDF in CC round:\n$plan")
  }

  test("maxIter guard throws instead of returning wrong labels") {
    val chain = (0L until 200L).map(i => (i, i + 1))
    val e = intercept[IllegalStateException] {
      graft.ops.ConnectedComponents.run(chain.toDF("a", "b"), "a", "b", maxIter = 2)
    }
    assert(e.getMessage.contains("no fixpoint"))
  }

  test("q63 clusters are consistent with q24 pairs: every pair lands in one cluster") {
    val out = SparkEntry.queries("q63_dedup_clusters")(spark, sf01)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    val pairs = SparkEntry.queries("q24_near_dup")(spark, sf01)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(out(a) == out(b), s"pair ($a,$b) split across clusters")
      assert(out(a) <= a && out(a) <= b, "cluster id must be the component min")
    }
  }

  test("q65 split is leakage-safe: near-dup docs never straddle splits") {
    val split = SparkEntry.queries("q65_leakage_split")(spark, sf01)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val pairs = SparkEntry.queries("q24_near_dup")(spark, sf01)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    assert(pairs.nonEmpty)
    pairs.foreach { case (a, b) =>
      assert(split(a) == split(b),
        s"near-dup pair ($a,$b) split across ${split(a)}/${split(b)}")
    }
    // and the split covers every document, roughly 80/10/10
    val n = split.size
    assert(n == Tables.documents(spark, sf01).count())
    val train = split.values.count(_ == "train").toDouble / n
    assert(train > 0.6 && train < 0.95, s"train fraction $train implausible")
  }

  test("q63/q65/q67 share one NearDupStage build: the LSH+CC chain executes once") {
    resetNearDup()
    for (q <- Seq("q63_dedup_clusters", "q65_leakage_split", "q67_dedup_keep")) {
      val read = stagesRead(q, sf01)
      assert(read.contains("near_dup_labels"), s"$q read $read")
    }
    assert(Stages.nearDupLabels.buildCount == 1,
      s"expected one shared chain build, got ${Stages.nearDupLabels.buildCount}")
    // and the shared labels are exactly q63's labeling
    val fromStage = Stages.nearDupLabels.get(spark, sf01)
      .as[(Long, Long)].collect().toMap
    val fromQ63 = SparkEntry.queries("q63_dedup_clusters")(spark, sf01)
      .select($"doc_id", $"cluster_id").as[(Long, Long)].collect().toMap
    assert(fromStage == fromQ63)
    assert(Stages.nearDupLabels.buildCount == 1, "re-reads must not rebuild")
  }

  test("gate-corpus band buckets sit far below the cap, so the uncapped q24 oracle is valid") {
    // the q24 DuckDB twin replays UNCAPPED all-pairs banding; capped
    // and uncapped semantics coincide exactly below BucketCap — this
    // MEASURES that precondition on the oracle-gated corpora instead
    // of assuming it (the planted mega-bucket case below gates the
    // over-cap star path)
    val cap = graft.queries.TextVector.BucketCap
    for (sfDir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")) {
      val m = graft.queries.TextVector.maxBandBucket(
        Tables.documents(spark, sfDir))
      assert(m <= cap / 2,
        s"$sfDir: max band bucket $m within 2x of the $cap cap — " +
          "the uncapped oracle replay is no longer safely equivalent")
    }
  }

  test("a planted mega-bucket is hard-capped to spanning star edges, labels still exact") {
    // 200 byte-identical docs land in ONE band bucket per band —
    // uncapped all-pairs would emit 200·199/2 = 19 900 verified
    // pairs; the BucketCap star path must emit O(m) spanning edges
    // that keep the family connected. A 2-doc identical family
    // exercises the normal small-bucket path beside it, and unique
    // singletons must produce no pairs at all.
    val mega = (0L until 200L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val pairFam = Seq(
      (1000L, "one two three four five six seven eight nine ten"),
      (1001L, "one two three four five six seven eight nine ten"))
    val singles = (2000L until 2004L).map(i =>
      (i, s"lonely${i}a lonely${i}b lonely${i}c lonely${i}d lonely${i}e"))
    val docs = (mega ++ pairFam ++ singles).toDF("doc_id", "text")
    val pairs = graft.queries.TextVector.nearDupPairs(docs)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()

    val megaPairs = pairs.filter { case (a, b) => a < 1000L && b < 1000L }
    // bounded: linear in family size, nowhere near quadratic
    assert(megaPairs.length < 1000,
      s"mega-bucket emitted ${megaPairs.length} pairs — cap not applied")
    assert(megaPairs.nonEmpty, "mega-bucket lost all its edges")
    // spanning: connected components over the SURVIVING edges must
    // still label every family member with the family min
    val labels = cc(megaPairs.toSeq)
    assert(labels.size == 200 && labels.values.forall(_ == 0L),
      "capped edges no longer span the mega-cluster")
    // the small-bucket path still verifies the normal pair
    assert(pairs.contains((1000L, 1001L)), "normal near-dup pair lost")
    // no cross-family or singleton edges appear
    assert(pairs.forall { case (a, b) =>
      (a < 1000L && b < 1000L) || (a >= 1000L && a < 2000L && b >= 1000L && b < 2000L)
    }, s"unexpected cross-family/singleton pair")
    spark.catalog.clearCache() // nearDupPairs persist contract
  }

  test("q29/q34 gate corpora exercise the regimes their capped oracles claim") {
    // The q29/q34 oracle twins replay the CAPPED candidate rule (no
    // headroom precondition, unlike q24). This pins the measured
    // regime facts the entry comments state: SimHash buckets sit
    // below the cap at gate scales (q29's star path is covered by
    // the planted case below, not the gate), while the SRP banding
    // holds over-cap buckets at BOTH gate scales — i.e. q34's star
    // path fires under, and is verified by, the oracle gate itself.
    val cap = graft.queries.TextVector.BucketCap
    for (sfDir <- Seq("/root/testdata/sf0.001", sf01)) {
      val docs = Tables.documents(spark, sfDir)
      val sh = graft.queries.TextVector.maxSimhashBucket(docs)
      assert(sh <= cap,
        s"$sfDir: simhash max bucket $sh crossed the $cap cap — q29's " +
          "gate now exercises the star path; update the entry comment")
      val em = graft.queries.TextVector.maxEmbedBucket(docs)
      assert(em > cap,
        s"$sfDir: embed max bucket $em no longer exceeds the $cap cap — " +
          "q34's star path is no longer oracle-exercised")
    }
  }

  test("q29: a planted mega-bucket is hard-capped to spanning star edges") {
    // 200 byte-identical docs share all 4 simhash bands — one
    // mega-bucket per band. Uncapped the band self-join emits
    // 200·199/2 = 19 900 verified pairs; the BucketCap star path
    // must emit O(m) hub edges that keep the family connected
    // (hamming 0 vs the hub, so every star edge verifies).
    val mega = (0L until 200L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val pairFam = Seq(
      (1000L, "one two three four five six seven eight nine ten"),
      (1001L, "one two three four five six seven eight nine ten"))
    val singles = (2000L until 2004L).map(i =>
      (i, s"lonely${i}a lonely${i}b lonely${i}c lonely${i}d lonely${i}e"))
    val docs = (mega ++ pairFam ++ singles).toDF("doc_id", "text")
    val pairs = graft.queries.TextVector.simhashDupPairs(docs)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val megaPairs = pairs.filter { case (a, b) => a < 1000L && b < 1000L }
    assert(megaPairs.length < 1000,
      s"mega-bucket emitted ${megaPairs.length} pairs — cap not applied")
    assert(megaPairs.nonEmpty, "mega-bucket lost all its edges")
    val labels = cc(megaPairs.toSeq)
    assert(labels.size == 200 && labels.values.forall(_ == 0L),
      "capped edges no longer span the mega-cluster")
    assert(pairs.contains((1000L, 1001L)), "normal near-dup pair lost")
    spark.catalog.clearCache() // simhashDupPairs persist contract
  }

  test("q34: a planted mega-bucket is hard-capped to spanning star edges") {
    // identical texts → identical shingle sets → identical feature
    // embeddings → all DedupBands SRP buckets collapse to one
    // mega-bucket each; star edges verify at cosine 1.0.
    val mega = (0L until 200L).map(i =>
      (i, "alpha beta gamma delta epsilon zeta eta theta iota kappa"))
    val pairFam = Seq(
      (1000L, "one two three four five six seven eight nine ten"),
      (1001L, "one two three four five six seven eight nine ten"))
    val singles = (2000L until 2004L).map(i =>
      (i, s"lonely${i}a lonely${i}b lonely${i}c lonely${i}d lonely${i}e"))
    val docs = (mega ++ pairFam ++ singles).toDF("doc_id", "text")
    val pairs = graft.queries.TextVector.embedDupPairs(docs)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    val megaPairs = pairs.filter { case (a, b) => a < 1000L && b < 1000L }
    assert(megaPairs.length < 1000,
      s"mega-bucket emitted ${megaPairs.length} pairs — cap not applied")
    assert(megaPairs.nonEmpty, "mega-bucket lost all its edges")
    val labels = cc(megaPairs.toSeq)
    assert(labels.size == 200 && labels.values.forall(_ == 0L),
      "capped edges no longer span the mega-cluster")
    assert(pairs.contains((1000L, 1001L)), "normal near-dup pair lost")
    spark.catalog.clearCache() // embedDupPairs persist contract
  }

  test("randomized soundness: every reported near-dup pair carries its exact Jaccard; identical docs always pair") {
    // phrase-built corpus: structural overlap at random offsets.
    // LSH recall is probabilistic, so the fuzz pins SOUNDNESS (a
    // reported pair's jaccard is the true distinct-3-shingle
    // jaccard and clears the threshold) plus the one guaranteed
    // recall case: identical shingle sets share every band.
    val rnd = new scala.util.Random(20260813L)
    val pool = Vector.tabulate(6)(_ =>
      Vector.fill(5 + rnd.nextInt(6))(s"w${rnd.nextInt(10)}"))
    val base = (0L until 25L).map { id =>
      (id, Vector.fill(2 + rnd.nextInt(3))(pool(rnd.nextInt(pool.size)))
        .flatten.mkString(" "))
    }
    val clones = Seq((100L, base(3)._2), (101L, base(7)._2)) // exact dups
    val docs = (base ++ clones).toDF("doc_id", "text")
    val got = graft.queries.TextVector.nearDupPairs(docs)
      .as[(Long, Long, Double)].collect()
    def shingles(t: String): Set[String] =
      t.split(" ").filter(_.nonEmpty).sliding(3).filter(_.length == 3)
        .map(_.mkString(" ")).toSet
    val sh = (base ++ clones).toMap.map { case (k, v) => k -> shingles(v) }
    got.foreach { case (a, b, j) =>
      val ref = sh(a).intersect(sh(b)).size.toDouble / sh(a).union(sh(b)).size
      assert(math.abs(j - ref) < 1e-9, s"pair ($a,$b): jaccard $j != exact $ref")
      assert(j >= 0.5, s"pair ($a,$b) below threshold: $j")
    }
    val found = got.map(p => (p._1, p._2)).toSet
    assert(found.contains((3L, 100L)) && found.contains((7L, 101L)),
      s"identical docs not detected: $found")
    spark.catalog.clearCache() // nearDupPairs persist contract
  }

  test("q64 weighted sampling favors heavy weights and is reproducible") {
    val one = SparkEntry.queries("q64_weighted_sample")(spark, sf01)
      .select($"stratum", $"rn", $"o_orderkey", $"prio_n")
      .collect()
    val two = SparkEntry.queries("q64_weighted_sample")(spark, sf01)
      .select($"stratum", $"rn", $"o_orderkey", $"prio_n")
      .collect()
    assert(one.sameElements(two), "same seed must draw the same sample")

    // selection probability rises with weight: the sampled orders'
    // mean price must sit clearly above the population mean
    val sampled = one.map(_.getLong(2)).toSet
    val prices = Tables.orders(spark, sf01)
      .select($"o_orderkey", $"o_totalprice").as[(Long, Double)].collect()
    val popMean = prices.map(_._2).sum / prices.length
    val inSample = prices.filter(p => sampled.contains(p._1))
    assert(inSample.length == one.length)
    val sampleMean = inSample.map(_._2).sum / inSample.length
    assert(sampleMean > popMean * 1.2,
      s"weighted sample mean $sampleMean not above population mean $popMean")
  }

  test("q180 spectrum is exactly q63's label table rolled up by cluster size") {
    resetNearDup()
    try {
      val labels = SparkEntry.queries("q63_dedup_clusters")(spark, sf01)
        .select($"cluster_id").as[Long].collect()
      val want = labels.groupBy(identity).values.map(_.length.toLong).toSeq
        .groupBy(identity).toSeq
        .map { case (sz, g) => (sz, g.size.toLong, sz * g.size.toLong) }
        .sortBy(_._1)
      val got = SparkEntry.queries("q180_dup_spectrum")(spark, sf01)
        .as[(Long, Long, Long)].collect().toSeq
      assert(got == want, s"spectrum diverges from q63's labels:\n got $got\nwant $want")
      assert(got.nonEmpty && got.forall(_._1 >= 2L),
        s"every near-dup cluster has >= 2 members: $got")
    } finally {
      resetNearDup()
      spark.catalog.clearCache()
    }
  }
}
