package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.MixtureMaintenance

/** MixtureMaintenance (graft.pipeline) + MixtureStream — the
  * incremental form of q99: absorbed per-batch deltas must
  * reproduce the from-scratch rates exactly, survive re-delivery
  * and compaction, and screen documents identically.
  */
class MixtureSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val sf2 = "/root/testdata/sf0.01"

  private def storeDir(name: String): String =
    tmp(name) + "/mix"

  /** q99's per-domain reference rows (lang, n_docs, n_tokens, rate). */
  private def fromScratch(sf: String): Map[String, (Long, Long, Double)] =
    SparkEntry.queries("q99_domain_mixture")(spark, sf)
      .select($"lang", $"n_docs", $"n_tokens", $"rate")
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

  private def storeRates(dir: String): Map[String, (Long, Long, Double)] =
    MixtureMaintenance.currentRates(spark, dir)
      .select($"lang", $"n_docs", $"n_tokens",
        ($"rate_micro".cast("double") / 1e6).as("rate"))
      .as[(String, Long, Long, Double)].collect()
      .map(r => r._1 -> (r._2, r._3, r._4)).toMap

  test("absorbed deltas reproduce the from-scratch q99 rates exactly") {
    val dir = storeDir("mix-eq")
    val docs = Tables.documents(spark, sf2)
    // three uneven ingest days
    MixtureMaintenance.absorb(spark, docs.filter($"doc_id" < 100), dir, "d1")
    MixtureMaintenance.absorb(spark,
      docs.filter($"doc_id" >= 100 && $"doc_id" < 350), dir, "d2")
    MixtureMaintenance.absorb(spark, docs.filter($"doc_id" >= 350), dir, "d3")
    assert(storeRates(dir) == fromScratch(sf2),
      "maintained rates diverge from the from-scratch query")

    // at-least-once: re-delivering day 2 replaces, never double-counts
    MixtureMaintenance.absorb(spark,
      docs.filter($"doc_id" >= 100 && $"doc_id" < 350), dir, "d2")
    assert(storeRates(dir) == fromScratch(sf2), "re-delivery double-counted")

    // compaction folds the runs and changes nothing observable
    assert(MixtureMaintenance.runCount(spark, dir) == 3)
    MixtureMaintenance.compact(spark, dir)
    assert(MixtureMaintenance.runCount(spark, dir) == 1)
    assert(storeRates(dir) == fromScratch(sf2), "compaction changed rates")
  }

  test("decide() screens exactly the documents q99 keeps; unseen domains default to keep") {
    val dir = storeDir("mix-decide")
    val docs = Tables.documents(spark, sf2)
    MixtureMaintenance.absorb(spark, docs, dir, "all")
    val kept = MixtureMaintenance.decide(spark, docs, dir)
      .filter($"keep").groupBy($"lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    val want = SparkEntry.queries("q99_domain_mixture")(spark, sf2)
      .select($"lang", $"n_kept").as[(String, Long)].collect().toMap
      .filter(_._2 > 0)
    assert(kept == want, "decide() keeps a different document set than q99")

    // a domain the store has never seen keeps everything
    val novel = Seq((9001L, "xx", "brand new domain text here")).toDF("doc_id", "lang", "text")
    val v = MixtureMaintenance.decide(spark, novel, dir)
      .select($"keep").as[Boolean].head()
    assert(v, "unseen domain must default to keep")
  }

  test("a fresh store (no absorbed runs) keeps everything instead of crashing") {
    // decide's own semantics: an unseen domain defaults to keep; a
    // store with NO runs has every domain unseen — the first-ingest
    // race must yield keep-all, not PATH_NOT_FOUND
    val dir = storeDir("mixture-fresh")
    val docs = Seq((1L, "en", "fresh corpus doc"), (2L, "de", "neues dokument"))
      .toDF("doc_id", "lang", "text")
    assert(MixtureMaintenance.currentRates(spark, dir).count() == 0)
    val verdicts = MixtureMaintenance.decide(spark, docs, dir)
      .select($"doc_id", $"keep").as[(Long, Boolean)].collect().toMap
    assert(verdicts == Map(1L -> true, 2L -> true),
      s"fresh store dropped documents: $verdicts")
  }

  test("currentRates self-heals a crash mid-compaction (the committed window)") {
    // replay the StoreCompaction protocol by hand to the worst
    // window — snapshot written, marker committed, old partitions
    // deleted, CRASH before the rename — then the next rates read
    // must heal and still match the from-scratch query
    val dir = storeDir("mix-crash")
    val docs = Tables.documents(spark, sf2)
    MixtureMaintenance.absorb(spark, docs.filter($"doc_id" < 200), dir, "d1")
    MixtureMaintenance.absorb(spark, docs.filter($"doc_id" >= 200), dir, "d2")
    val counts = s"$dir/domain_counts"
    val fs = new org.apache.hadoop.fs.Path(counts)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    spark.read.parquet(counts).drop("run")
      .write.parquet(s"$counts/.compact-tmp")
    val m = fs.create(
      new org.apache.hadoop.fs.Path(counts, ".compact-commit"), true)
    m.write("base".getBytes("UTF-8")); m.close()
    fs.delete(new org.apache.hadoop.fs.Path(counts, "run=d1"), true)
    fs.delete(new org.apache.hadoop.fs.Path(counts, "run=d2"), true)
    assert(storeRates(dir) == fromScratch(sf2),
      "rates after crash-window heal diverge")
    assert(MixtureMaintenance.runCount(spark, dir) == 1)
  }

  test("streaming: per-batch deltas fold in incrementally, re-runs are no-ops") {
    val base = tmp("mix-stream")
    val dir = s"$base/mix"; val inDir = s"$base/in"; val ck = s"$base/ck"
    val docs = Tables.documents(spark, sf2)
    val schema = docs.select($"doc_id", $"lang", $"text").schema
    docs.filter($"doc_id" < 250).select($"doc_id", $"lang", $"text")
      .coalesce(1).write.mode("append").parquet(inDir)
    docs.filter($"doc_id" >= 250).select($"doc_id", $"lang", $"text")
      .coalesce(1).write.mode("append").parquet(inDir)
    graft.streaming.MixtureStream.runOnce(spark, inDir, dir, ck, schema)
    assert(storeRates(dir) == fromScratch(sf2),
      "streamed deltas diverge from the from-scratch query")
    // nothing new: a second pass changes nothing
    graft.streaming.MixtureStream.runOnce(spark, inDir, dir, ck, schema)
    assert(storeRates(dir) == fromScratch(sf2), "idle re-run mutated the store")
  }
}
