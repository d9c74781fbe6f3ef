package graft.ops

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Distributed PageRank by power iteration — the crawl-authority
  * signal web-scale corpus pipelines rank domains/pages with when
  * deciding what to harvest and keep (CommonCrawl publishes exactly
  * this family of ranks for its corpus; RefinedWeb/CCNet-style
  * curation consumes URL-level authority as a quality prior). q101
  * exposes one ranking run over a derived citation graph as an
  * oracle-gated query.
  *
  * Distributed shape: one round = ONE hash equi-join on `src`
  * (pre-joined (edges, outdeg) ⨝ ranks — both sides arrive
  * hash-partitioned on the key, so no round ever re-shuffles the
  * edge frame; AQE-splittable; a viral page's in-links spread
  * across partitions) and one map-side-combined aggregation on
  * `dst` (a hot TARGET reduces to one partial per partition before
  * the shuffle — in-degree skew, the real-world skew of link
  * graphs, cannot concentrate). Rank state is one row per node;
  * the loop runs the [[ConnectedComponents]] device — per-round
  * localCheckpoint truncates lineage, superseded blocks release
  * immediately, and nothing O(graph) ever reaches the driver.
  *
  * Cross-engine determinism (graft.ops.Determinism conventions):
  * ranks live as int64 MICRO-UNITS. Per-edge contributions compute
  * in double with a fixed operation order
  * (((rm/1e6)/outdeg)·1e6, floored) and micro-quantize BEFORE the
  * order-independent integer sum; the update
  * base + floor(d·inflow + 0.5) is the same left-assoc double
  * arithmetic in both engines. No exp/ln — the arithmetic is
  * division and multiplication only, bit-identical cross-engine.
  *
  * Simplification (documented): dangling-node mass (out-degree 0)
  * is dropped rather than redistributed, the common sparse-graph
  * shortcut — total rank then undershoots 1 by the dangling share;
  * GraphSpec pins conservation on dangling-free graphs.
  */
object PageRank {

  val Damping = 0.85
  val Rounds = 6

  /** ONE power-iteration round body over the loop-invariant
    * (src, dst, outdeg) frame: contribute, micro-quantize, aggregate
    * inflow, apply the damped update. `ranks = None` is the uniform
    * init state (every source holds `defaultRm`). Extracted
    * so [[graft.ExplainPageRank]] explains the SAME expressions the
    * loop executes: the round plan it prints cannot drift from the
    * operator. */
  private[graft] def roundBody(ew: DataFrame, ranks: Option[DataFrame],
      defaultRm: Long, baseMicro: Long, damping: Double): DataFrame = {
    val spark = ew.sparkSession
    import spark.implicits._
    val (joined, rm) = ranks match {
      case None => (ew, lit(defaultRm))
      case Some(r) =>
        (ew.join(r.withColumnRenamed("node", "src"), Seq("src"), "left"),
          coalesce($"rm", lit(defaultRm)))
    }
    val contrib = joined
      .select($"dst", floor(rm.cast("double") / lit(1e6) /
        $"outdeg".cast("double") * lit(1e6) + lit(0.5))
        .cast("long").as("c"))
    contrib.groupBy($"dst").agg(sum($"c").as("infl"))
      .select($"dst".as("node"), (lit(baseMicro) +
        floor(lit(damping) * $"infl".cast("double")
          + lit(0.5)).cast("long")).as("rm"))
  }

  /** Rank every node of `edges(src, dst)`. Returns (node,
    * rank_micro) — one row per distinct endpoint. */
  def run(edges: DataFrame, rounds: Int = Rounds,
          damping: Double = Damping): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val e = edges
    val nodes = e.select($"src".as("node"))
      .union(e.select($"dst".as("node")))
      .distinct().localCheckpoint()
    // Loop shape, per round one join and ONE exchange (the inflow
    // aggregation), no O(nodes) join:
    //  (1) the (src, dst, outdeg) frame is loop-invariant and
    //      materializes once, before the loop;
    //  (2) the rank state holds only the nodes that receive in-edges
    //      (inflow's key set, static across rounds). A zero-inflow
    //      node's rank is the round's CONSTANT default (initMicro
    //      before round 1, baseMicro after), so sources missing from
    //      the state coalesce to it, and the full node spine joins
    //      back once after the loop.
    // The per-edge integer arithmetic is the dense-state form's:
    // GraphSpec's conservation/planted-geometry cases and the q101
    // oracle (which replays the dense-state rounds CTE-for-round) pin
    // it at both gate SFs. The round's plan prints with
    // graft.ExplainPageRank.
    val ew = e
      .join(e.groupBy($"src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .select($"src", $"dst", $"outdeg")
      .localCheckpoint()
    val n = nodes.count()
    require(n > 0, "pagerank: empty graph")
    // identical left-assoc double arithmetic to the SQL replay
    val baseMicro = math.floor((1 - damping) / n * 1e6 + 0.5).toLong
    val initMicro = math.floor(1e6 / n + 0.5).toLong
    // sparse rank state: nodes WITH in-edges only; everyone else
    // holds the round's constant default (initMicro at the start,
    // baseMicro after any update round)
    var ranks: Option[DataFrame] = None
    var defaultRm = initMicro
    for (_ <- 1 to rounds) {
      val next = roundBody(ew, ranks, defaultRm, baseMicro, damping)
        .localCheckpoint()
      ranks.foreach(ConnectedComponents.releaseCheckpoint)
      ranks = Some(next)
      defaultRm = baseMicro
    }
    // rejoin the full node spine ONCE: zero-inflow nodes report the
    // constant default their absence encoded all along (rounds == 0:
    // every node still sits at the dense init state)
    val out = ranks match {
      case None =>
        nodes.select($"node", lit(initMicro).as("rm")).localCheckpoint()
      case Some(r) => nodes
        .join(r, Seq("node"), "left")
        .select($"node", coalesce($"rm", lit(defaultRm)).as("rm"))
        .localCheckpoint()
    }
    // the returned frame is itself a checkpoint (LogicalRDD) — the
    // static node/edge tables' and the last round's blocks can
    // release now (the ConnectedComponents exit discipline;
    // clearCache() would NOT free these, they are not catalog cache)
    ConnectedComponents.releaseCheckpoint(nodes)
    ConnectedComponents.releaseCheckpoint(ew)
    ranks.foreach(ConnectedComponents.releaseCheckpoint)
    out
  }
}
