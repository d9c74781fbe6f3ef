package graft

import org.scalatest.funsuite.AnyFunSuite

class RelationalSpec extends AnyFunSuite {
  import TestSpark._
  import org.apache.spark.sql.functions._

  test("every relational query runs and has a stable schema") {
    for ((name, fn) <- graft.queries.Relational.queries) {
      val df = fn(spark, sf)
      assert(df.columns.nonEmpty, s"$name has no columns")
      assert(df.count() >= 0, s"$name failed to execute")
    }
  }

  test("q01 pricing summary: one row per (returnflag, linestatus)") {
    val df = graft.queries.Relational.queries("q01_pricing_summary")(spark, sf)
    val n = df.count()
    assert(n >= 4 && n <= 8, s"unexpected group count $n")
    val row = df.filter(col("l_returnflag") === "N").limit(1).collect()(0)
    assert(row.getAs[Long]("count_order") > 0)
    assert(row.getAs[Double]("sum_disc_price") < row.getAs[Double]("sum_base_price"))
  }

  test("q05 anti-join and q06 semi-join partition the customer set sensibly") {
    val anti = graft.queries.Relational.queries("q05_customers_no_orders")(spark, sf).count()
    val total = Tables.customer(spark, sf).count()
    assert(anti <= total)
  }

  test("q19 salted agg equals direct groupBy") {
    import spark.implicits._
    val salted = graft.queries.Relational.queries("q19_salted_agg")(spark, sf)
    val direct = Tables.lineitem(spark, sf)
      .groupBy($"l_suppkey")
      .agg(sum($"l_quantity").as("sum_qty"), count(lit(1)).as("n_items"))
    assert(salted.except(direct).isEmpty && direct.except(salted).isEmpty)
  }

  test("q03 top-k is deterministically ordered") {
    val rows = graft.queries.Relational.queries("q03_top_orders")(spark, sf).collect()
    assert(rows.length == 10)
    val prices = rows.map(_.getAs[Double]("o_totalprice"))
    assert(prices.zip(prices.tail).forall { case (a, b) => a >= b })
  }

  test("q76 aggregated-levels builder equals the verbatim WITH RECURSIVE text") {
    // optimization guard: the builder no longer runs the
    // recursive CTE (it aggregates (node, paths) per level so the
    // edge derivation scans once instead of once per UnionLoop
    // iteration); the CTE text still defines the semantics and runs
    // verbatim in the DuckDB oracle. Equality of the full frame —
    // node, min distance AND path count — at two SFs pins the
    // rewrite exactly (all-integer arithmetic, so no tolerance).
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01")
         if new java.io.File(dir).exists) {
      val opt = graft.queries.Relational.queries("q76_recursive_bfs")(spark, dir)
      Tables.orders(spark, dir).createOrReplaceTempView("orders")
      val cte = spark.sql(graft.queries.Relational.RecursiveBfsSql)
      assert(opt.exceptAll(cte).isEmpty && cte.exceptAll(opt).isEmpty,
        s"$dir: aggregated-levels BFS diverged from the recursive CTE")
      spark.catalog.clearCache()
    }
  }

  test("q76 depth cap: seed eccentricity <= 3 at every shipped SF") {
    // q76's WITH RECURSIVE text caps `b.d < 3` and runs VERBATIM in
    // both engines, so the oracle gate cannot detect a dataset whose
    // BFS needs a 4th round (both sides would truncate identically).
    // This spec is the guard: replay the same edge derivation and run
    // an UNCAPPED driver-side fixpoint; a node at min distance > 3
    // fails. The node space after round 1 is ⊆ {0..96} (orderkey%97),
    // so the adjacency restricted to reachable sources is tiny at any
    // SF — the collect is bounded by 98·97 edges regardless of scale.
    for (dir <- Seq("/root/testdata/sf0.001", "/root/testdata/sf0.01",
                    "/root/testdata/sf0.1")
         if new java.io.File(dir).exists) {
      val edges = Tables.orders(spark, dir)
        .select(col("o_custkey").as("src"),
          (col("o_orderkey") % 97).cast("long").as("dst"))
        .filter(col("src") <= 96L) // reachable nodes are {1} ∪ {0..96}
        .distinct()
        .collect().map(r => (r.getLong(0), r.getLong(1)))
      val adj = edges.groupBy(_._1).map { case (k, v) => k -> v.map(_._2).toSet }
      var dist = Map(1L -> 0)
      var frontier = Set(1L)
      var d = 0
      while (frontier.nonEmpty) {
        d += 1
        val next = frontier.flatMap(n => adj.getOrElse(n, Set.empty[Long]))
          .filterNot(dist.contains)
        next.foreach(n => dist += n -> d)
        frontier = next
      }
      val ecc = dist.values.max
      assert(ecc <= 3,
        s"$dir: seed eccentricity $ecc > 3 — q76's depth cap would " +
          "silently truncate min distances on this dataset")
    }
  }

  test("q10 running revenue: the running totals of 0.1, 0.2, 0.3 are exactly 0.1, 0.3, 0.6") {
    import spark.implicits._
    // a raw double window sum gives 0.30000000000000004 for the second
    // row, and its rounding depends on the order of the adds
    val orders = Seq((1L, 1L, "1995-01-01", 0.1), (1L, 2L, "1995-01-02", 0.2),
      (1L, 3L, "1995-01-03", 0.3))
      .toDF("o_custkey", "o_orderkey", "d", "o_totalprice")
      .withColumn("o_orderdate", to_date($"d"))
    val out = graft.queries.Relational.runningRevenue(orders)
      .select($"running_total").as[Double].collect().toSeq
    assert(out == Seq(0.1, 0.3, 0.6), s"q10 running totals: $out")
  }

  test("q164 Benford: planted prices yield exact digit counts and the replayed expected/chi-square integers") {
    import spark.implicits._
    // cents 100, 150, 250, 999 → first digits 1, 1, 2, 9
    val prices = Seq(1.00, 1.50, 2.50, 9.99).toDF("l_extendedprice")
    val out = graft.queries.Relational.benfordDigits(prices)
      .as[(Long, Long, Long, Long)].collect().toSeq
    def micro(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong
    def e(d: Long): Double = 4.0 * math.log10(1.0 + 1.0 / d.toDouble)
    def chi(o: Long, d: Long): Long =
      micro((o.toDouble - e(d)) * (o.toDouble - e(d)) / e(d))
    assert(out == Seq(
      (1L, 2L, micro(e(1)), chi(2, 1)),
      (2L, 1L, micro(e(2)), chi(1, 2)),
      (9L, 1L, micro(e(9)), chi(1, 9))), s"q164 diverges: $out")
    // digit 1's observed 2/4 < Benford would flag nothing; digit 9's
    // 25% share vs 4.6% expected must carry the largest chi-square
    assert(out.maxBy(_._4)._1 == 9L)
  }

  test("q164 Benford: zero and negative prices surface as a digit-0 evidence row instead of poisoning the chi-square table") {
    import spark.implicits._
    // A malformed feed: two in-domain rows plus a zero-cents row and
    // a sign-flipped refund. The out-of-domain pair must land in ONE
    // digit-0 bucket with null expected/χ² (the row is the audit
    // signal), and the Benford expectation must be computed over the
    // 2 in-domain rows only — not 4 (without the guard, cents=0
    // produces digit 0 → log10(∞) garbage on the Spark side and a
    // cast fault in the DuckDB twin).
    val prices = Seq(1.00, 9.99, 0.0, -3.50).toDF("l_extendedprice")
    val out = graft.queries.Relational.benfordDigits(prices)
      .as[(Long, Long, Option[Long], Option[Long])].collect().toSeq
    def micro(v: Double): Long = math.floor(v * 1e6 + 0.5).toLong
    def e(d: Long): Double = 2.0 * math.log10(1.0 + 1.0 / d.toDouble)
    def chi(o: Long, d: Long): Long =
      micro((o.toDouble - e(d)) * (o.toDouble - e(d)) / e(d))
    assert(out == Seq(
      (0L, 2L, None, None),
      (1L, 1L, Some(micro(e(1))), Some(chi(1, 1))),
      (9L, 1L, Some(micro(e(9))), Some(chi(1, 9)))), s"q164 guard diverges: $out")
  }

  test("q169 CUSUM: a planted level shift accumulates to the exact alarm day, a steady stream stays at 0") {
    import spark.implicits._
    // type a: 10 days at 10 events, then 5 days at 20 — T 200, D 15,
    // allowance T div 10 = 20, decision interval 5·20 = 100.
    // step = n·15 − 220: −70 pre-shift (S keeps falling, running min
    // tracks it → cusum 0), +80 post-shift → cusum 80, 160, 240,
    // 320, 400; the alarm (> 100) fires on shift day 2, exactly.
    // type b: constant rate → negative steps forever → cusum 0.
    val rows = (1 to 10).flatMap(d => Seq.fill(10)(("a", f"2026-01-$d%02d 12:00:00"))) ++
      (11 to 15).flatMap(d => Seq.fill(20)(("a", f"2026-01-$d%02d 12:00:00"))) ++
      (1 to 5).flatMap(d => Seq.fill(4)(("b", f"2026-02-$d%02d 12:00:00")))
    val events = rows.toDF("event_type", "ts_s")
      .select($"event_type", to_timestamp($"ts_s").as("ts"))
    val out = graft.queries.Search.cusumDrift(events)
      .as[(String, java.sql.Date, Long, Long, Long)].collect().toSeq
    val a = out.filter(_._1 == "a")
    assert(a.take(10).forall(r => r._4 == 0L && r._5 == 0L),
      s"pre-shift days must sit at cusum 0: $a")
    // post-shift: cusum/T = 80/200, 160/200, ... in micro units
    assert(a.drop(10).map(r => (r._3, r._4, r._5)) == Seq(
      (20L, 400000L, 0L), (20L, 800000L, 1L), (20L, 1200000L, 1L),
      (20L, 1600000L, 1L), (20L, 2000000L, 1L)), s"shift days diverge: $a")
    assert(out.filter(_._1 == "b").forall(r => r._4 == 0L && r._5 == 0L),
      "a steady stream must never alarm")
  }
}
