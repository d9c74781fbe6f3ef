package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.ops.PageRank

/** PageRank (graft.ops) + q101 — power iteration pinned against a
  * single-process reference with the identical micro-quantized
  * arithmetic, plus structural sanity on known graphs.
  */
class GraphSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  /** The op's exact integer-state arithmetic, single-process. */
  private def refRank(edges: Seq[(Long, Long)], rounds: Int = PageRank.Rounds,
                      damping: Double = PageRank.Damping): Map[Long, Long] = {
    val nodes = (edges.map(_._1) ++ edges.map(_._2)).distinct.sorted
    val n = nodes.length
    val outdeg = edges.groupBy(_._1).map { case (s, es) => s -> es.length.toLong }
    val baseMicro = math.floor((1 - damping) / n * 1e6 + 0.5).toLong
    var rm = nodes.map(_ -> math.floor(1e6 / n + 0.5).toLong).toMap
    for (_ <- 1 to rounds) {
      val inflow = scala.collection.mutable.Map[Long, Long]()
      edges.foreach { case (s, dst) =>
        val c = math.floor(
          rm(s).toDouble / 1e6 / outdeg(s).toDouble * 1e6 + 0.5).toLong
        inflow(dst) = inflow.getOrElse(dst, 0L) + c
      }
      rm = nodes.map(nd => nd -> (baseMicro +
        math.floor(damping * inflow.getOrElse(nd, 0L).toDouble + 0.5).toLong))
        .toMap
    }
    rm
  }

  test("distributed ranks match the single-process reference exactly") {
    val rnd = new scala.util.Random(20260814L)
    val n = 120
    val edges = (0L until n.toLong).flatMap { s =>
      Seq.fill(3)((s, rnd.nextInt(n).toLong)).filter(e => e._1 != e._2)
    }.distinct
    val got = PageRank.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    assert(got == refRank(edges), "rank trajectories diverge")
  }

  test("zero-inflow sources hold the constant base rank (sparse-state loop)") {
    // r19 optimization guard: run() now carries ONLY in-edge-
    // receiving nodes through the loop and folds pure sources into a
    // per-round constant default. A path + extra source graph makes
    // the folded class explicit: nodes 1 and 9 are never cited, so
    // every round leaves them at baseMicro — and the full frame must
    // still match the dense single-process reference exactly.
    val edges = Seq((1L, 2L), (2L, 3L), (3L, 2L), (9L, 2L))
    val got = PageRank.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    val ref = refRank(edges)
    assert(got == ref, "sparse-state loop diverged from dense reference")
    val n = ref.size
    val baseMicro = math.floor((1 - PageRank.Damping) / n * 1e6 + 0.5).toLong
    assert(got(1L) == baseMicro && got(9L) == baseMicro,
      "pure sources must sit at the constant base rank")
  }

  test("star graph: the hub out-ranks every spoke; rank mass conserved when dangling-free") {
    // spokes all cite the hub, hub cites every spoke back (no
    // dangling nodes -> total rank stays ~1 within micro rounding)
    val spokes = (1L to 30L)
    val edges = spokes.map(s => (s, 0L)) ++ spokes.map(s => (0L, s))
    val ranks = PageRank.run(edges.toDF("src", "dst"))
      .as[(Long, Long)].collect().toMap
    val hub = ranks(0L)
    spokes.foreach(s => assert(hub > ranks(s), s"hub must out-rank spoke $s"))
    val total = ranks.values.sum.toDouble / 1e6
    assert(math.abs(total - 1.0) < 0.01, s"rank mass $total drifted from 1")
  }

  test("a power-iteration round plans hash joins + partial aggregation only") {
    // run()'s checkpointing hides the loop's internals from the
    // whole-catalog plan audit (the ClusterSpec device): audit one
    // round's lazy plan here — the src joins must be hash
    // equi-joins and the dst inflow must partially aggregate before
    // its exchange (in-degree skew reduces map-side)
    import org.apache.spark.sql.functions._
    val edges = (0L until 50L).map(i => (i, (i * 7 + 3) % 50))
      .filter(e => e._1 != e._2).toDF("src", "dst")
    val ranks = edges.select(col("src").as("node")).distinct()
      .withColumn("rm", lit(1000L))
    val outdeg = edges.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
    val round = edges
      .join(ranks.withColumnRenamed("node", "src"), Seq("src"))
      .join(outdeg, Seq("src"))
      .select(col("dst"), floor(col("rm").cast("double") / lit(1e6) /
        col("outdeg").cast("double") * lit(1e6) + lit(0.5))
        .cast("long").as("c"))
      .groupBy(col("dst")).agg(sum(col("c")).as("infl"))
    val plan = round.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct"), s"cartesian in rank round:\n$plan")
    assert(!plan.contains("BroadcastNestedLoopJoin"), s"BNLJ in rank round:\n$plan")
    assert(plan.contains("partial_sum"),
      s"inflow aggregate lost its map-side combine:\n$plan")
    assert(!plan.toLowerCase.contains("scalaudf"), s"UDF in rank round:\n$plan")
  }

  test("the citation-edge derivation scans doc_id only — never text") {
    // q101's final plan is a checkpoint projection, so the
    // whole-catalog pruning audit cannot see its scan; audit the
    // edge stage directly — at 100 TB this is the difference
    // between a metadata pass and a corpus read
    val plan = graft.queries.Graph
      .citationEdges(Tables.documents(spark, "/root/testdata/sf0.001"))
      .queryExecution.executedPlan.toString
    val scan = plan.linesIterator.filter(_.contains("ReadSchema")).mkString("\n")
    assert(scan.contains("doc_id") && !scan.contains("text"),
      s"edge derivation reads more than doc_id:\n$scan")
  }

  test("q101 ranks the derived citation graph: full cover, positive ranks, total order") {
    val out = SparkEntry.queries("q101_pagerank")(spark, "/root/testdata/sf0.001")
      .as[(Long, Double)].collect()
    assert(out.length == Tables.documents(spark, "/root/testdata/sf0.001").count())
    assert(out.forall(_._2 > 0), "every page holds positive rank")
    // in-degree skew produces a real spread, not a uniform vector
    val rs = out.map(_._2)
    assert(rs.max > rs.min * 1.5, s"no rank spread: [${rs.min}, ${rs.max}]")
    assert(out.map(_._1).toSeq == out.map(_._1).toSeq.sorted, "output not node-ordered")
  }

  test("q170 triangles: K4 nodes count 3 each, path nodes none; reversed duplicates and self loops canonicalize") {
    import spark.implicits._
    // K4 over {1,2,3,4} (4 triangles, every vertex in 3) plus a
    // triangle-free path 5-6-7; edge list deliberately dirty —
    // reversed duplicates and a self loop must not change counts
    val k4 = for (a <- 1L to 4L; b <- 1L to 4L if a < b) yield (a, b)
    val edges = (k4 ++ Seq((2L, 1L), (4L, 3L), (5L, 5L),
      (5L, 6L), (7L, 6L))).toDF("src", "dst")
    val out = graft.queries.Graph.triangleCounts(edges)
      .as[(Long, Long)].collect().toSeq
    spark.catalog.clearCache() // edge-frame persist contract
    assert(out == Seq((1L, 3L), (2L, 3L), (3L, 3L), (4L, 3L)),
      s"q170 diverges: $out")
    // and the derived citation graph at the gate scale carries real
    // triangles (the community signal the query exists to surface)
    val real = graft.queries.Graph.triangleCounts(
      graft.queries.Graph.citationEdges(
        Tables.documents(spark, sf).select($"doc_id")))
      .as[(Long, Long)].collect().toSeq
    spark.catalog.clearCache()
    assert(real.nonEmpty && real.forall(_._2 >= 1L),
      s"gate-scale citation graph should carry triangles: $real")
  }

  test("q101 and q170 share ONE citation-edge materialization per (session, corpus)") {
    import spark.implicits._
    // The shared-stage contract: two graph analytics, one edge
    // derivation. Both queries must answer from the same
    // Stages.citationEdges build — a second build means a builder
    // regressed to deriving privately.
    val stage = graft.queries.Stages.citationEdges
    stage.reset()
    try {
      val (ranks, readR) = graft.ops.SessionStage.readsIn(
        graft.SparkEntry.queries("q101_pagerank")(spark, sf)
          .as[(Long, Double)].collect())
      val (tris, readT) = graft.ops.SessionStage.readsIn(
        graft.SparkEntry.queries("q170_triangles")(spark, sf)
          .as[(Long, Long)].collect())
      spark.catalog.clearCache()
      assert(ranks.nonEmpty && tris.nonEmpty)
      assert(Seq(readR, readT).forall(_.contains("citation_edges")),
        s"q101 read $readR, q170 read $readT")
      assert(stage.buildCount == 1,
        s"citation edges derived ${stage.buildCount} " +
          "times for two consumers — the shared stage is not shared")
    } finally stage.reset()
  }

  test("CitationStage memo is a stats-bearing parquet scan (round-17: no localCheckpoint)") {
    // q101/q170 JOIN against this frame — a checkpointed-RDD memo
    // carries no size statistics and blocks the consumers' adaptive
    // broadcast exactly when the graph grows (the hazard a 10× probe
    // measured on the pair memo). Pin both halves: the memo's
    // physical form is a file scan, and the optimizer sees real
    // (finite, nonzero) size stats for it.
    val stage = graft.queries.Stages.citationEdges
    stage.reset()
    try {
      val edges = stage.get(spark, sf)
      val scans = edges.queryExecution.executedPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec => f
      }
      assert(scans.nonEmpty &&
        scans.exists(_.metadata.get("Location").exists(_.contains("citation_edges"))),
        s"expected a parquet file scan over the citation_edges stage, got:\n" +
          edges.queryExecution.executedPlan.toString)
      val size = edges.queryExecution.optimizedPlan.stats.sizeInBytes
      assert(size > 0 && size < BigInt(Long.MaxValue),
        s"edge memo should carry real size statistics, got $size")
    } finally stage.reset()
  }
}
