package graft

import org.apache.spark.sql.functions._

/** Dev tool (the [[Explain]] convention): print the formatted
  * physical plan of ONE PageRank power-iteration round — the loop
  * body [[graft.ops.PageRank.run]] executes `rounds` times, which
  * q101's own explain cannot show because ranking runs eagerly
  * during construction and the returned frame is just the final
  * rank projection. `runMain graft.ExplainPageRank <sfDir>` builds
  * the same citation edge frame q101 ranks, materializes the
  * loop-invariant (src, dst, outdeg) frame and sparse rank state as
  * run() does, and explains the first round's `next` frame (the
  * shape every round repeats). Committed as
  * plans/r19/q101_pagerank_round_after.txt.
  */
object ExplainPageRank {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val spark = GraftSession.local(GraftSession.envCpus)
    import spark.implicits._
    val e = graft.queries.Stages.citationEdges.get(spark, sfDir)
    val ew = e
      .join(e.groupBy($"src").agg(count(lit(1)).as("outdeg")), Seq("src"))
      .select($"src", $"dst", $"outdeg")
      .localCheckpoint()
    val ranks = ew.select($"dst".as("node")).distinct()
      .select($"node", lit(1000L).as("rm")).localCheckpoint()
    // the round is the real PageRank.roundBody, so the explained plan
    // cannot drift from run(); the placeholder micro constants stand
    // in for the computed initMicro/baseMicro — both are literals in
    // the plan either way
    val next = graft.ops.PageRank.roundBody(
      ew, Some(ranks), defaultRm = 900L, baseMicro = 100L, damping = 0.85)
    println("==== pagerank_round_after ====")
    next.explain("formatted")
    spark.stop()
  }
}
