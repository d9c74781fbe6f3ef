package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.Tables

/** Graph-analytics queries over the corpus: link-authority ranking
  * for crawl/keep prioritization ([[graft.ops.PageRank]] for the op
  * and its 100-TB shape; [[graft.ops.ConnectedComponents]] — the
  * other iterative graph op — lives with the dedup family it
  * serves).
  *
  * q101 ranks a derived CITATION GRAPH over the documents table:
  * the testdata corpus carries no link column (TESTDATA.md), so the
  * graph is derived in-query from doc ids with engine-portable
  * integer arithmetic — each document cites up to three EARLIER
  * documents `((doc_id · A_i + B_i) mod P) mod doc_id` (the mod-P
  * scramble rationale is on the constants below; self-citations
  * dropped; doc 0 cites nothing
  * and is the one dangling node), the same derivation the DuckDB
  * oracle replays (the q73/q74 derive-dirty-input-in-query
  * convention). Citing-backward gives the harmonic in-degree skew
  * of real citation/link graphs — early pages accumulate
  * ~3·ln(n/j) in-links — exactly the shape PageRank exists for (a
  * mod-n affine map would be a permutation: 3-regular, uniform
  * rank, nothing to measure; GraphSpec pins the realized spread). The oracle replays every power
  * iteration through micro-quantized int64 rank state, so the hash
  * gate certifies the ITERATION dynamics cross-engine (the
  * q92/q98 unrolled-loop device).
  */
object Graph extends graft.QueryPack {

  // citation derivation: dst_i = ((d·A_i + B_i) mod P) mod d — the
  // mod-P scramble is load-bearing: any POLYNOMIAL in d is ≡ its
  // constant term mod d (so "(d·a + b) mod d" degenerates to every
  // doc citing the same three ids), but d·A_i wraps P thousands of
  // times, making the residue pseudo-random per d and the final
  // mod-d draw ~uniform over earlier docs. A_i sized so d·A_i stays
  // < 2^63 (ANSI overflow) for corpora up to ~9k docs per the
  // testdata scales, while far exceeding P for every d ≥ 2.
  private val P = 1000000007L
  private val A = Seq(981274928374911L, 777321098765443L, 543210987654323L)
  private val B = Seq(17L, 23L, 31L)

  /** The derived (src, dst) edge frame (spec hook shares it with
    * the oracle's UNION ALL replay). Narrow map over the pruned
    * doc_id scan — no join, no shuffle. */
  private[graft] def citationEdges(docs: DataFrame): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    docs.select($"doc_id")
      .select($"doc_id".as("src"), explode(array(
        A.zip(B).map { case (a, b) =>
          (($"doc_id" * a + b) % P) % greatest($"doc_id", lit(1L))
        }: _*)).as("dst"))
      .filter($"dst" =!= $"src")
  }

  def queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q101_pagerank" -> { (s, d) =>
      import s.implicits._
      // ranking executes eagerly during construction (the q63/q92/
      // q98 precedent for driver-looped stages); the returned plan
      // is the final rank projection. Edges come from the shared
      // `Stages.citationEdges` memo (one materialization, two
      // consumers — also the shape PageRank.run's doc asks callers to provide:
      // each power round reads the checkpoint instead of re-running
      // the derivation scan).
      graft.ops.PageRank.run(Stages.citationEdges.get(s, d))
        .select($"node", ($"rm".cast("double") / lit(1e6)).as("rank"))
        .orderBy($"node")
    },

    // Triangle participation per node over the SAME citation graph
    // q101 ranks (one edge derivation, two analytics): the local
    // clustering signal — a node in many triangles sits inside a
    // tightly-linked community, a high-PageRank node in ZERO
    // triangles is a pure hub (spam farms and link rings separate
    // exactly on this axis). Degree-ORIENTED counting (Schank &
    // Wagner 2005's forward algorithm; Suri & Vassilvitskii 2011's
    // MapReduce formulation): orient every edge from its (deg, id)-
    // smaller endpoint, enumerate wedges only at each triangle's
    // unique minimum vertex, close against the undirected edge set —
    // each triangle found EXACTLY once, and the wedge fan-out is
    // bounded by oriented out-degree (≤ O(√E) on any graph — the
    // published bound that keeps a celebrity hub from exploding the
    // join; a naive wedge join at the hub is the graph analog of the
    // q24 mega-bucket). All-integer, exact. Scale shape: the edge
    // frame persists (read three times: degrees, wedges, closure);
    // everything is equi-joins on node ids — no window, no
    // cartesian; output is bounded top-K.
    "q170_triangles" -> { (s, d) =>
      triangleCounts(Stages.citationEdges.get(s, d))
    }
  )

  /** The q170 chain over any (src, dst) edge frame (spec hook:
    * planted K4 + path — GraphSpec). Reversed duplicates and self
    * loops canonicalize away; ties in the degree order break on the
    * smaller id (a total order, so the minimum vertex of every
    * triangle is unique). */
  private[graft] def triangleCounts(edges: DataFrame,
                                    topK: Int = 20): DataFrame = {
    val spark = edges.sparkSession
    import spark.implicits._
    val und = edges
      .select(least($"src", $"dst").as("a"), greatest($"src", $"dst").as("b"))
      .filter($"a" =!= $"b").distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val deg = und.select(explode(array($"a", $"b")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("deg"))
    val lower = $"da" < $"db" || ($"da" === $"db" && $"a" < $"b")
    val oriented = und
      .join(deg.select($"node".as("a"), $"deg".as("da")), Seq("a"))
      .join(deg.select($"node".as("b"), $"deg".as("db")), Seq("b"))
      .select(when(lower, $"a").otherwise($"b").as("u"),
        when(lower, $"b").otherwise($"a").as("v"))
    val wedges = oriented.select($"u", $"v".as("v1"))
      .join(oriented.select($"u", $"v".as("v2")), Seq("u"))
      .filter($"v1" < $"v2")
    val tri = wedges.join(und, $"v1" === $"a" && $"v2" === $"b")
      .select($"u", $"v1", $"v2")
    tri.select(explode(array($"u", $"v1", $"v2")).as("node"))
      .groupBy($"node").agg(count(lit(1)).as("n_tri"))
      .orderBy($"n_tri".desc, $"node").limit(topK)
  }

  /** q101's oracle: the same edge derivation as a UNION ALL, then
    * [[graft.ops.PageRank.Rounds]] unrolled power iterations with
    * identical micro-quantized arithmetic (class doc). */
  private def pagerankOracle: String = {
    val d = graft.ops.PageRank.Damping
    // (1 − d) PRECOMPUTED in Scala and interpolated: DuckDB parses
    // "1 - 0.85" in exact DECIMAL (= the double nearest 0.15) while
    // the Spark driver computes 1 - 0.85 in binary double
    // (0.15000000000000002) — Learn.TauM1's trap; a 1-micro flip at
    // boundary corpus sizes would fail the gate
    val oneMinusD = 1 - d
    val edges = A.zip(B).map { case (a, b) =>
      s"""SELECT doc_id AS src,
         |  ((doc_id * $a + $b) % $P) % greatest(doc_id, 1) AS dst
         |  FROM documents
         |  WHERE ((doc_id * $a + $b) % $P) % greatest(doc_id, 1) <> doc_id"""
        .stripMargin
    }.mkString("\nUNION ALL\n")
    val rounds = (1 to graft.ops.PageRank.Rounds).map { t =>
      s"""c$t AS (
         |  SELECT e.dst,
         |    CAST(floor(CAST(r.rm AS DOUBLE) / 1000000.0 /
         |        CAST(od.outdeg AS DOUBLE) * 1000000.0 + 0.5)
         |      AS BIGINT) AS c
         |  FROM e JOIN r${t - 1} r ON r.node = e.src
         |  JOIN od ON od.src = e.src),
         |i$t AS (SELECT dst, CAST(sum(c) AS BIGINT) AS infl
         |        FROM c$t GROUP BY 1),
         |r$t AS (
         |  SELECT nd.node,
         |    CAST(floor($oneMinusD / CAST(n.n AS DOUBLE) * 1000000.0 + 0.5)
         |      AS BIGINT)
         |    + CAST(floor($d * CAST(coalesce(i.infl, 0) AS DOUBLE) + 0.5)
         |      AS BIGINT) AS rm
         |  FROM nd LEFT JOIN i$t i ON i.dst = nd.node, n)""".stripMargin
    }.mkString(",\n")
    s"""WITH e AS (
       |$edges),
       |od AS (SELECT src, count(*) AS outdeg FROM e GROUP BY 1),
       |nd AS (SELECT DISTINCT node FROM
       |       (SELECT src AS node FROM e UNION ALL SELECT dst FROM e)),
       |n AS (SELECT CAST(count(*) AS BIGINT) AS n FROM nd),
       |r0 AS (SELECT node,
       |         CAST(floor(1000000.0 / CAST(n.n AS DOUBLE) + 0.5) AS BIGINT)
       |           AS rm
       |       FROM nd, n),
       |$rounds
       |SELECT node, CAST(rm AS DOUBLE) / 1000000.0 AS rank
       |FROM r${graft.ops.PageRank.Rounds} ORDER BY node""".stripMargin
  }

  def oracles: Map[String, String] = Map(
    "q101_pagerank" -> graft.ops.Determinism.Oracles.materializeCtes(pagerankOracle),

    // Twin of q170: the same edge derivation UNION ALL, the same
    // canonicalize → degree-orient → wedge → closure chain, all
    // exact integers.
    "q170_triangles" -> {
      val edges = A.zip(B).map { case (a, b) =>
        s"""SELECT doc_id AS src,
           |  ((doc_id * $a + $b) % $P) % greatest(doc_id, 1) AS dst
           |  FROM documents
           |  WHERE ((doc_id * $a + $b) % $P) % greatest(doc_id, 1) <> doc_id"""
          .stripMargin
      }.mkString("\nUNION ALL\n")
      s"""WITH e0 AS (
         |$edges),
         |und AS (SELECT DISTINCT least(src, dst) AS a,
         |          greatest(src, dst) AS b
         |        FROM e0 WHERE least(src, dst) <> greatest(src, dst)),
         |deg AS (SELECT node, CAST(count(*) AS BIGINT) AS deg
         |        FROM (SELECT a AS node FROM und
         |              UNION ALL SELECT b FROM und) GROUP BY 1),
         |o AS (SELECT
         |        CASE WHEN da.deg < db.deg
         |               OR (da.deg = db.deg AND und.a < und.b)
         |          THEN und.a ELSE und.b END AS u,
         |        CASE WHEN da.deg < db.deg
         |               OR (da.deg = db.deg AND und.a < und.b)
         |          THEN und.b ELSE und.a END AS v
         |      FROM und JOIN deg da ON da.node = und.a
         |      JOIN deg db ON db.node = und.b),
         |w AS (SELECT e1.u, e1.v AS v1, e2.v AS v2
         |      FROM o e1 JOIN o e2 ON e2.u = e1.u AND e1.v < e2.v),
         |tri AS (SELECT w.u, w.v1, w.v2
         |        FROM w JOIN und ON und.a = w.v1 AND und.b = w.v2),
         |pn AS (SELECT node, CAST(count(*) AS BIGINT) AS n_tri
         |       FROM (SELECT u AS node FROM tri
         |             UNION ALL SELECT v1 FROM tri
         |             UNION ALL SELECT v2 FROM tri) GROUP BY 1)
         |SELECT node, n_tri FROM pn ORDER BY n_tri DESC, node LIMIT 20"""
        .stripMargin
    }
  )
}
