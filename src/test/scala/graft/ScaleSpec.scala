package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._

/** Scale-pattern demonstrations with plan-shape assertions (the
  * 100-TB playbook, verified on local[4]): bucketed co-located
  * joins, broadcast dimension joins, salted aggregation equivalence
  * (RelationalSpec), LSH candidate pruning (verify skill probes).
  */
class ScaleSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("bucketed tables co-locate the join: zero exchanges in the plan") {
    // At 100 TB, fact⨝fact repeated across jobs amortizes via
    // bucketing: both sides pre-hashed into the same bucket layout →
    // the sort-merge join needs neither shuffle nor sort.
    // external tables at explicit paths — no warehouse involvement
    val wh = tmp("buckets")
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1") // force the SMJ path
    try {
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
      Tables.orders(spark, sf)
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .option("path", s"$wh/b_orders").saveAsTable("b_orders")
      Tables.lineitem(spark, sf)
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .option("path", s"$wh/b_lineitem").saveAsTable("b_lineitem")

      val joined = spark.table("b_orders")
        .join(spark.table("b_lineitem"), $"o_orderkey" === $"l_orderkey")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"),
        s"bucketed join still shuffles:\n${plan.take(800)}")
      assert(plan.contains("SortMergeJoin"))
      // and it computes the right thing
      assert(joined.count() == Tables.lineitem(spark, sf).count())
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP TABLE IF EXISTS b_orders")
      spark.sql("DROP TABLE IF EXISTS b_lineitem")
    }
  }

  test("dimension joins broadcast (q04); fact joins don't cartesian") {
    val plan = graft.queries.Relational.queries("q04_revenue_by_nation")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"), "nation join should broadcast")
    assert(!plan.contains("CartesianProduct"))
  }

  test("q20's cheap pre-filter reaches the parquet scan (pushdown)") {
    val plan = graft.queries.TextVector.queries("q20_token_overflow")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(n_chars"),
      "n_chars pre-filter must push into the scan")
  }

  test("DerivedTokenPrefilter rule injects the cheap length guard under a token-count predicate") {
    // a user query with NO manual pre-filter — the optimizer rule
    // must derive length(text) > 64 in front of the regex predicate
    val userQuery = Tables.documents(spark, sf)
      .filter(graft.ops.TextOps.tokenCount($"text") > 64)
    val optimized = userQuery.queryExecution.optimizedPlan.toString
    assert(optimized.contains("length(text"),
      s"derived guard missing from optimized plan:\n${optimized.take(600)}")
    // and the rewrite is semantics-preserving
    val n = userQuery.count()
    val manual = Tables.documents(spark, sf)
      .filter(length($"text") > 64)
      .filter(graft.ops.TextOps.tokenCount($"text") > 64).count()
    assert(n == manual)
  }

  test("near-dup and ANN plans stay bucketed: no cartesian, no nested loop on the data side") {
    for (q <- Seq("q24_near_dup", "q29_simhash_dedup")) {
      val plan = graft.queries.TextVector.queries(q)(spark, sf)
        .queryExecution.executedPlan.toString
      assert(!plan.contains("CartesianProduct"), s"$q has a cartesian")
      assert(!plan.contains("BroadcastNestedLoopJoin"), s"$q has a nested loop join")
    }
  }

  test("hive-style layout prunes partitions at planning: only matching directories are scanned") {
    // the 100-TB layout practice: land data partitioned by a coarse
    // key (date, lang, source) so selective reads never touch the
    // rest of the corpus
    val dir = tmp("part")
    Tables.documents(spark, sf)
      .write.partitionBy("lang").mode("overwrite").parquet(dir)
    val read = spark.read.parquet(dir).filter($"lang" === "en")
    val plan = read.queryExecution.executedPlan.toString
    assert(plan.contains("PartitionFilters: [isnotnull(lang"),
      s"lang filter must prune partitions, not scan rows:\n${plan.take(400)}")
    // the pruned scan touches only the lang=en directory
    val files = read.select(input_file_name()).distinct()
      .collect().map(_.getString(0))
    assert(files.nonEmpty && files.forall(_.contains("lang=en")),
      s"scan read outside lang=en: ${files.filterNot(_.contains("lang=en")).take(2).mkString}")
    val expected = Tables.documents(spark, sf).filter($"lang" === "en").count()
    assert(read.count() == expected)
  }

  test("runtime bloom filter prunes the fact side of a selective join before the shuffle") {
    // at 100 TB a selective dim filter should cut fact-scan output
    // BEFORE the join shuffle; Spark injects a bloom filter from the
    // filtered creation side into the fact scan (thresholds lowered
    // so local data qualifies — the defaults gate on 10 MB sides)
    val confs = Map(
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "10GB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1")
    // baseline count BEFORE the bloom confs — comparing two
    // bloom-rewritten plans to each other would be vacuous
    val li = Tables.lineitem(spark, sf)
    val ord = Tables.orders(spark, sf).filter($"o_totalprice" > 350000)
    val baseline = li.join(ord, $"l_orderkey" === $"o_orderkey").count()
    val prev = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val j = li.join(ord, $"l_orderkey" === $"o_orderkey")
      val plan = j.queryExecution.executedPlan.toString
      assert(plan.contains("might_contain"),
        s"no runtime bloom filter on the fact scan:\n${plan.take(400)}")
      // and the rewrite is semantics-preserving vs the un-bloomed plan
      assert(j.count() == baseline)
    } finally prev.foreach { case (k, vo) => vo.foreach(spark.conf.set(k, _)) }
  }

  test("AQE splits a skewed join partition (the runtime half of the skew playbook; q19 is the salting half)") {
    val prev = Seq("spark.sql.adaptive.enabled", "spark.sql.autoBroadcastJoinThreshold")
      .map(k => k -> spark.conf.get(k)).toMap
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    // thresholds scaled down so local test data counts as "skewed";
    // at 100 TB the defaults (256 MB advisory) play the same role
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "2")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes", "8KB")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "8KB")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // 90% of the left side lands on one key — the hot-key shape
      // that stalls a static sort-merge join on one reducer
      val left = spark.range(200000)
        .select(when($"id" % 10 < 9, lit(7L)).otherwise($"id" % 1000).as("k"),
          concat(lit("payload-"), $"id").as("pad"))
      val right = spark.range(1000).select($"id".as("k"), ($"id" * 2).as("v"))
      val joined = left.join(right, "k")
      assert(joined.collect().length == 200000)
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("isFinalPlan=true"))
      assert(plan.contains("SortMergeJoin(skew=true)"),
        s"AQE did not split the skewed partition:\n${plan.take(500)}")
    } finally prev.foreach { case (k, v) => spark.conf.set(k, v) }
  }

  test("skew probe: planted hot key owns ~40%, salted and plain variants row-equal") {
    // r20 (r19 verdict #5): the ScaleProbe skew receipt's fixture
    // invariants — the fact generator really plants a hot key (the
    // probe would otherwise measure nothing), and the salted variant
    // (q82's device) computes exactly the plain join's table, which
    // is what licenses comparing their times.
    val dir = tmp("skew")
    try {
      val n = 50000L
      ScaleProbe.skewFact(spark, n).write.mode("overwrite")
        .parquet(s"$dir/fact.parquet")
      ScaleProbe.skewDim(spark, n).write.mode("overwrite")
        .parquet(s"$dir/dim.parquet")
      val hot = spark.read.parquet(s"$dir/fact.parquet")
        .filter($"k" === 0L).count()
      assert(math.abs(hot.toDouble / n - 0.4) < 0.01,
        s"hot key owns $hot of $n rows — the planted share drifted")
      val plain = ScaleProbe.skewJoin(spark, dir, salted = false).collect().toSeq
      val salted = ScaleProbe.skewJoin(spark, dir, salted = true).collect().toSeq
      assert(plain == salted, s"variants disagree: $plain vs $salted")
      assert(plain.nonEmpty)
    } finally {
      org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(dir))
      ()
    }
  }

  test("q34 embed-dedup joins back by id: no cartesian, candidate shuffle carries ids only") {
    val df = graft.queries.TextVector.queries("q34_embed_dup")(spark, sf)
    val plan = df.queryExecution.executedPlan.toString
    assert(!plan.contains("CartesianProduct") && !plan.contains("NestedLoop"),
      "q34 must not all-pairs join")
    // the CPU-heavy shingle+embed stage must fan out past the
    // single-file scan: a repartition sits above the scan, and no
    // heavy text predicate leaks down into the scan's filters (a
    // pushed size(shingles)>0 re-ran the whole tokenize on one core)
    assert(plan.contains("REPARTITION_BY_COL"),
      "embed stage must repartition off the single-split scan")
    val scanLines = plan.linesIterator.filter(_.contains("FileScan")).toSeq
    assert(scanLines.nonEmpty && scanLines.forall(!_.contains("regexp")),
      s"text kernels must not run inside the scan:\n${scanLines.headOption.getOrElse("")}")
  }

  test("seeded codebook sampling plans as bounded top-N, not a global sort") {
    // the q33/q90/q91 training sample: orderBy(hash)+limit must plan
    // onto TakeOrderedAndProject (per-partition top-N, driver merge)
    // — a Sort+Exchange here would shuffle the full vector table just
    // to pick a 400-row sample
    val plan = graft.queries.TextVector
      .ivfSampleDf(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(plan.contains("TakeOrderedAndProject"),
      s"sample is not a bounded top-N:\n$plan")
    assert(!plan.contains("Exchange"),
      s"sample plan shuffles the vector table:\n$plan")
  }
}
