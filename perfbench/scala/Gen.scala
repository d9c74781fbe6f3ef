package graft.perfbench

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Seeded input generator. Every value is a hash of (seed, row id,
  * salt), so the same seed gives the same inputs and no RNG state is
  * involved. The text generator follows ScaleProbe.docsDf: a small
  * word pool, 1-in-20 exact copies of a 64-template family, 1-in-20
  * near duplicates (template plus one unique tail word), the rest
  * unique bodies — so dedup stages always have real work. */
final class Gen(seed: Long, spark: SparkSession) {

  private val Words = Seq(
    "a", "agg", "batch", "big", "column", "customer", "data", "dup",
    "fast", "filter", "group", "hash", "join", "key", "line", "merge",
    "order", "part", "query", "row", "scan", "slow", "small", "sort",
    "spark", "stream", "table", "the", "value", "vector", "window")
  private val Langs = Seq("en", "en", "zh", "es", "fr", "de")
  private val Templates = 64L

  /** Non-negative 63-bit hash of (seed, id, salt). */
  def h(id: Column, salt: Int): Column =
    xxhash64(lit(seed), id, lit(salt)).bitwiseAND(lit(Long.MaxValue))

  def u(id: Column, salt: Int, n: Long): Column = pmod(h(id, salt), lit(n))

  private def pick(xs: Seq[String], id: Column, salt: Int): Column =
    element_at(typedLit(xs), (u(id, salt, xs.length.toLong) + lit(1)).cast("int"))

  private def textOf(key: Column, nWords: Column): Column =
    concat_ws(" ", transform(sequence(lit(0L), nWords - lit(1)),
      i => pick(Words, key * lit(1000003L) + i, 1)))

  /** Document text at a doc_id: the planted-family layout above. The
    * template ids depend only on the seed, so documents at disjoint
    * ids still land exact and near hits against each other. */
  def text(docId: Column): Column = {
    val mode = u(docId, 2, 20L)
    val tid = u(docId, 3, Templates) - lit(Templates + 1) // negative: never a doc id
    val bodyLen = lit(20L) + u(docId, 4, 60L)
    val tmplLen = lit(20L) + u(tid, 4, 60L)
    when(mode === 7L, textOf(tid, tmplLen))
      .when(mode === 8L, concat(textOf(tid, tmplLen), lit(" "),
        pick(Words, docId, 5), pick(Words, docId, 6)))
      .otherwise(textOf(docId, bodyLen))
  }

  /** `n` documents at ids [first, first + n). */
  def docs(first: Long, n: Long): DataFrame =
    spark.range(first, first + n).select(col("id").as("doc_id"))
      .select(col("doc_id"), text(col("doc_id")).as("text"),
        pick(Langs, col("doc_id"), 7).as("lang"),
        concat(lit("src"), u(col("doc_id"), 8, 20L)).as("source"))
      .withColumn("n_chars", length(col("text")).cast("bigint"))

  /** A search batch: `n` queries of 2–4 pool words. */
  def queries(batch: Long, n: Int): DataFrame = {
    val id = col("id") + lit(batch * 1000L)
    spark.range(n).select(col("id").as("query_id"),
      textOf(id + lit(7919L), lit(2L) + u(id, 9, 3L)).as("qtext"))
  }

  private def money(id: Column, salt: Int, lo: Long, hi: Long): Column =
    ((lit(lo) + u(id, salt, hi - lo)).cast("double") / lit(100.0))

  private def day(id: Column, salt: Int, from: String, days: Long): Column =
    date_add(to_date(lit(from)), u(id, salt, days).cast("int"))
      .cast("timestamp_ntz")

  /** The testdata tables (FIXTURES.md §B) at the sf0.01 row
    * counts, seeded. Dates and timestamps are written without UTC
    * adjustment, the testdata's own layout. */
  def catalogTables(dir: String): Unit = {
    def k = col("id")
    val sizes = Map("region" -> 5L, "nation" -> 25L, "customer" -> 1500L,
      "supplier" -> 100L, "part" -> 2000L, "orders" -> 15000L,
      "lineitem" -> 60000L, "events" -> 10000L, "documents" -> 500L,
      "embeddings" -> 500L)
    def r(t: String) = spark.range(sizes(t))
    val regions = Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST")
    val tables: Map[String, DataFrame] = Map(
      "region" -> r("region").select(k.cast("int").as("r_regionkey"),
        element_at(typedLit(regions), (k + 1).cast("int")).as("r_name")),
      "nation" -> r("nation").select(k.cast("int").as("n_nationkey"),
        concat(lit("NATION_"), k).as("n_name"), pmod(k, lit(5L)).cast("int").as("n_regionkey")),
      "customer" -> r("customer").select(k.as("c_custkey"),
        format_string("Customer#%09d", k).as("c_name"),
        u(k, 10, 25L).cast("int").as("c_nationkey"),
        money(k, 11, -99999L, 1000000L).as("c_acctbal"),
        pick(Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"), k, 12)
          .as("c_mktsegment")),
      "supplier" -> r("supplier").select(k.as("s_suppkey"),
        format_string("Supplier#%09d", k).as("s_name"),
        u(k, 13, 25L).cast("int").as("s_nationkey"),
        money(k, 14, -99999L, 1000000L).as("s_acctbal")),
      "part" -> r("part").select(k.as("p_partkey"),
        concat(pick(Seq("blue", "cold", "hot", "large", "new", "old", "red", "small"), k, 15),
          lit(" "), pick(Seq("anvil", "bolt", "gear", "gizmo", "plate", "ring", "rod", "widget"), k, 16))
          .as("p_name"),
        concat(lit("Brand#"), lit(1L) + u(k, 17, 25L)).as("p_brand"),
        pick(Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"), k, 18).as("p_type"),
        (lit(1L) + u(k, 19, 50L)).cast("int").as("p_size"),
        (lit(90000L) + pmod(k, lit(2000L)) * 10).cast("double") / lit(100.0) as "p_retailprice"),
      "orders" -> r("orders").select(k.as("o_orderkey"),
        u(k, 20, 1500L).as("o_custkey"),
        pick(Seq("F", "O", "P"), k, 21).as("o_orderstatus"),
        money(k, 22, 100000L, 50000000L).as("o_totalprice"),
        day(k, 23, "1995-01-01", 2404L).as("o_orderdate"),
        pick(Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"), k, 24)
          .as("o_orderpriority")),
      "lineitem" -> r("lineitem").select((k / 4).cast("bigint").as("l_orderkey"),
        u(k, 25, 2000L).as("l_partkey"), u(k, 26, 100L).as("l_suppkey"),
        (pmod(k, lit(4L)) + 1).cast("int").as("l_linenumber"),
        (lit(1L) + u(k, 27, 50L)).cast("double").as("l_quantity"),
        money(k, 28, 90000L, 10500000L).as("l_extendedprice"),
        (u(k, 29, 11L).cast("double") / 100.0).as("l_discount"),
        (u(k, 30, 9L).cast("double") / 100.0).as("l_tax"),
        pick(Seq("A", "N", "R"), k, 31).as("l_returnflag"),
        pick(Seq("F", "O"), k, 32).as("l_linestatus"),
        day(k, 33, "1995-01-02", 2498L).as("l_shipdate")),
      "events" -> r("events").select(k.as("event_id"),
        (lit(1704067200000000L) + k * 259200000L + u(k, 34, 259200000L))
          .cast("bigint").as("us"),
        u(k, 35, 150L).as("user_id"),
        pick(Seq("click", "error", "purchase", "signup", "view"), k, 36).as("event_type"),
        money(k, 37, 1L, 49002L).as("value"),
        format_string("{\"k\": %d}", u(k, 38, 100L)).as("props"))
        .select(col("event_id"), timestamp_micros(col("us")).cast("timestamp_ntz").as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props")),
      "documents" -> docs(0L, sizes("documents")),
      "embeddings" -> r("embeddings").select(k.as("vec_id"),
        transform(sequence(lit(0L), lit(63L)), j =>
          ((u(k * 64 + j, 39, 1000000L).cast("double") / 1000000.0 - 0.5) * 0.6)
            .cast("float")).as("embedding"),
        u(k, 40, 10L).cast("int").as("label")))
    Gen.concurrently(tables.toSeq.map { case (t, df) =>
      () => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$t.parquet")
    })
  }
}

object Gen {
  /** Run independent driver-bound jobs (small writes, store builds)
    * side by side: each is mostly scheduling latency, so on four cores
    * they overlap well. */
  def concurrently(jobs: Seq[() => Unit]): Unit = {
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration.Duration
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try Await.result(Future.sequence(jobs.map(j => Future(j()))), Duration.Inf)
    finally pool.shutdown()
  }
}
