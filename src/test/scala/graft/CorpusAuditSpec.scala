package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.CorpusAudit

/** CorpusAudit (graft.pipeline) — the materialized governance report
  * must be exactly the gated queries' answers, with a manifest that
  * certifies what landed on disk, and a run-id certificate protocol
  * that makes mid-pack crashes visible instead of silently serving a
  * mixed-run artifact.
  */
class CorpusAuditSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("audit pack: every table lands, manifest certifies disk counts, tables ≡ live queries, re-run idempotent") {
    val out = tmp("audit") + "/report"
    val manifest = CorpusAudit.run(spark, sf, out)
      .as[(String, String, Long, String)].collect().toSeq
    assert(manifest.map(_._1) == CorpusAudit.Tables.keys.toSeq.sorted,
      "manifest must list every table")
    assert(manifest.map(_._4).distinct.size == 1,
      "a full pack certifies every table under ONE run id")
    manifest.foreach { case (table, query, n, _) =>
      val disk = CorpusAudit.readBack(spark, out, table).count()
      assert(disk == n, s"$table: manifest $n != disk $disk")
      assert(n > 0, s"$table wrote an empty report")
      // the artifact IS the gated query's answer
      val live = SparkEntry.queries(query)(spark, sf).count()
      assert(n == live, s"$table: disk $n != live query $live")
    }
    spark.catalog.clearCache()
    // spot-check full-row equality on one table
    val disk = CorpusAudit.readBack(spark, out, "zipf_slope")
      .orderBy($"lang").collect().toSeq
    val live = SparkEntry.queries("q139_zipf_slope")(spark, sf)
      .collect().toSeq
    assert(disk == live, "zipf_slope artifact diverges from the query")
    spark.catalog.clearCache()

    // re-run reproduces the identical tables and counts (run id is
    // per-run certificate metadata, not content)
    val again = CorpusAudit.run(spark, sf, out)
      .as[(String, String, Long, String)].collect().toSeq
    assert(again.map(r => (r._1, r._2, r._3)) ==
      manifest.map(r => (r._1, r._2, r._3)), "re-run changed the manifest")

    // subset + typo guards
    val sub = CorpusAudit.run(spark, sf, out + "2",
      only = Some(Set("gini_lengths")))
      .as[(String, String, Long, String)].collect().toSeq
    assert(sub.map(_._1) == Seq("gini_lengths"))
    val e = intercept[IllegalArgumentException] {
      CorpusAudit.run(spark, sf, out + "3", only = Some(Set("nope")))
    }
    assert(e.getMessage.contains("nope"))
  }

  test("crash windows: uncertified or mixed-run tables refuse; subset re-runs keep the rest certified") {
    val out = tmp("audit-crash") + "/report"
    val twoTables = Some(Set("gini_lengths", "zipf_slope"))
    CorpusAudit.run(spark, sf, out, only = twoTables)

    // subset re-run into the SAME report dir: the rewritten table gets
    // a NEW run id, the untouched one keeps its original — and BOTH
    // stay readable because the manifest merged instead of overwrote
    // (the round-14 advisor's stale-table hazard)
    val first = CorpusAudit.readRunId(spark, s"$out/zipf_slope").get
    val merged = CorpusAudit.run(spark, sf, out,
        only = Some(Set("gini_lengths")))
      .as[(String, String, Long, String)].collect().toSeq
    assert(merged.map(_._1) == Seq("gini_lengths", "zipf_slope"),
      "subset re-run must merge, not shrink, the manifest")
    assert(merged.find(_._1 == "zipf_slope").get._4 == first,
      "untouched table must keep its original certificate")
    assert(merged.map(_._4).distinct.size == 2,
      "rewritten table must carry the new run id")
    assert(CorpusAudit.readBack(spark, out, "zipf_slope").count() > 0)
    assert(CorpusAudit.readBack(spark, out, "gini_lengths").count() > 0)
    spark.catalog.clearCache()

    // crash DURING a table write: the sidecar is deleted first, so the
    // table is visibly uncertified
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$out/gini_lengths/_runid"), false)
    val e1 = intercept[IllegalStateException] {
      CorpusAudit.readBack(spark, out, "gini_lengths")
    }
    assert(e1.getMessage.contains("no run certificate"))

    // crash BETWEEN table write and manifest write: the sidecar holds
    // a run id the manifest does not certify
    val o = fs.create(new org.apache.hadoop.fs.Path(s"$out/gini_lengths/_runid"), true)
    try o.write("crashed-run".getBytes("UTF-8")) finally o.close()
    val e2 = intercept[IllegalStateException] {
      CorpusAudit.readBack(spark, out, "gini_lengths")
    }
    assert(e2.getMessage.contains("crashed-run"))

    // the OTHER table is untouched by the simulated crash and still reads
    assert(CorpusAudit.readBack(spark, out, "zipf_slope").count() > 0)

    // a fresh subset run over the damaged table heals it
    CorpusAudit.run(spark, sf, out, only = Some(Set("gini_lengths")))
    assert(CorpusAudit.readBack(spark, out, "gini_lengths").count() > 0)
    spark.catalog.clearCache()
  }
}
