package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import org.apache.spark.unsafe.types.UTF8String
import graft.ops.TextOps
import graft.ops.expressions.HashKernel
import graft.pipeline.DedupIndex

/** The 128-bit exact-dup fingerprint (TextOps.fingerprintHi/Lo,
  * r18's widening of the single ~2³⁰-range polyhash).
  *
  * The planted collision: polyhash is a left fold
  * acc·31 + cp mod p, so swapping a trailing pair (c₁, c₂) for
  * (c₁+1, c₂−31) preserves BOTH the classic fingerprint AND the byte
  * length — the ENTIRE old exact-dup key (fp, fp_len) collides by
  * construction, at equal text lengths, with zero search. "…ba" vs
  * "…cB": 98·31+97 = 99·31+66 = 3135. Before the widening this pair
  * was a silent drop — q23 folded both docs into one group and kept
  * one keeper; DedupIndex.screen called the second doc an "exact"
  * copy of the first and downstream curation dropped it. These specs
  * pin that the wide key separates the pair while true exact dups
  * still collapse.
  */
class Fingerprint128Spec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  // shared prefix keeps the pair realistic-looking; the difference is
  // confined to the last two characters
  private val prefix = "the quick brown fox jumps over the lazy dog "
  private val textA = prefix + "ba"
  private val textB = prefix + "cB"

  private def u(s: String) = UTF8String.fromString(s)

  test("planted pair collides on the ENTIRE old key (fp, byte length)") {
    assert(textA != textB)
    assert(HashKernel.polyHash(u(textA)) == HashKernel.polyHash(u(textB)),
      "construction broke: classic polyhash must collide")
    assert(textA.getBytes("UTF-8").length == textB.getBytes("UTF-8").length,
      "construction broke: byte lengths must match")
  }

  test("the 128-bit key separates the planted pair; fp_hi's high word IS the classic fp") {
    val df = Seq(textA, textB).toDF("text")
      .select(TextOps.fingerprintHi($"text").as("fp_hi"),
        TextOps.fingerprintLo($"text").as("fp_lo"),
        graft.ops.expressions.TextPolyHash($"text").as("fp_old"))
    val rows = df.collect()
    val Array(a, b) = rows
    assert(a.getLong(0) != b.getLong(0) || a.getLong(1) != b.getLong(1),
      "128-bit fingerprint must separate the planted old-key collision")
    // migration contract: fp_hi div FpHiMod2 recovers the classic fp,
    // so an in-place index migration can verify old-vs-new agreement
    rows.foreach { r =>
      assert(r.getLong(0) / TextOps.FpHiMod2 == r.getLong(2),
        "fp_hi's high word must be the classic base-31 polyhash")
    }
    // and identical text still produces identical wide keys
    val dup = Seq(textA, textA).toDF("text")
      .select(TextOps.fingerprintHi($"text"), TextOps.fingerprintLo($"text"))
      .distinct().count()
    assert(dup == 1L)
  }

  test("q23 groups the planted pair separately (no false merge, no silent drop)") {
    // q23 reads documents from a dir; build a minimal parquet table
    // with the planted pair plus one true dup pair
    val dir = tmp("fp128-q23")
    val docs = Seq(
      (1L, textA, textA.length.toLong),
      (2L, textB, textB.length.toLong),
      (3L, "an honest duplicate document body", 33L),
      (4L, "an honest duplicate document body", 33L))
      .toDF("doc_id", "text", "n_chars")
    docs.write.mode("overwrite").parquet(s"$dir/documents.parquet")
    val out = graft.queries.TextVector.queries("q23_dedup_exact")(spark, dir)
      .collect()
    assert(out.length == 3,
      s"want 3 groups (planted pair split, true dups merged), got ${out.length}")
    val byKeeper = out.map(r => r.getLong(2) -> r.getLong(3)).toMap
    assert(byKeeper(1L) == 1L, "planted doc 1 must keep its own group")
    assert(byKeeper(2L) == 1L, "planted doc 2 must NOT fold into doc 1's group")
    assert(byKeeper(3L) == 2L, "true duplicates must still merge")
  }

  test("a pre-widening index layout fails screening with a rebuild diagnosis") {
    // simulate an r17-era index: fingerprints table with the single
    // narrow `fp` column — screening must name the migration path
    // (rebuild), not die in analysis resolution
    val root = tmp("fp128-old")
    val dir = s"$root/idx"
    DedupIndex.build(spark, Seq((1L, textA)).toDF("doc_id", "text"), dir)
    // stage the downgraded table beside the index, then swap it in
    // (a lazy read cannot overwrite its own input files)
    spark.read.parquet(s"$dir/fingerprints/run=base")
      .withColumnRenamed("fp_hi", "fp").drop("fp_lo")
      .write.parquet(s"$root/old-layout")
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(s"$dir/fingerprints/run=base"), true)
    fs.rename(new org.apache.hadoop.fs.Path(s"$root/old-layout"),
      new org.apache.hadoop.fs.Path(s"$dir/fingerprints/run=base"))
    val err = intercept[IllegalStateException] {
      DedupIndex.screen(spark, Seq((100L, textB)).toDF("doc_id", "text"), dir)
        .collect()
    }
    assert(err.getMessage.contains("re-run DedupIndex.build"),
      s"layout guard should prescribe a rebuild: ${err.getMessage}")
    // APPEND and COMPACT must refuse too (r18 review find): an append
    // onto the old layout creates a MIXED store whose merged schema
    // is whatever parquet inference picks — old-run rows would read
    // fp_hi as NULL, never equi-join, and exact dups of the whole
    // pre-widening corpus would silently screen as near/unique; a
    // compact would bake the arbitrary schema into run=base
    val errA = intercept[IllegalStateException] {
      DedupIndex.append(spark, Seq((101L, textA)).toDF("doc_id", "text"),
        dir, "b1")
    }
    assert(errA.getMessage.contains("re-run DedupIndex.build"))
    val errC = intercept[IllegalStateException] {
      DedupIndex.compact(spark, dir)
    }
    assert(errC.getMessage.contains("re-run DedupIndex.build"))
    // and a rebuild (the prescribed migration) clears the old layout
    // and restores service
    DedupIndex.build(spark, Seq((1L, textA)).toDF("doc_id", "text"), dir)
    val v = DedupIndex.screen(spark, Seq((100L, textA)).toDF("doc_id", "text"), dir)
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    assert(v(100L) == "exact", "rebuild should restore exact screening")
  }

  test("DedupIndex.screen does not call the planted collision 'exact'") {
    val dir = tmp("fp128-idx") + "/idx"
    DedupIndex.build(spark, Seq((1L, textA)).toDF("doc_id", "text"), dir)
    val verdicts = DedupIndex
      .screen(spark, Seq((100L, textB), (101L, textA)).toDF("doc_id", "text"), dir)
      .select($"doc_id", $"verdict").as[(Long, String)].collect().toMap
    // textB shares all but the trailing shingles with textA, so
    // "near" is correct and harmless (near-dups are clustered, not
    // dropped); "exact" would be the silent-drop bug
    assert(verdicts(100L) != "exact",
      s"old-key collision screened as exact: ${verdicts(100L)}")
    // a genuine copy must still screen exact against the index
    assert(verdicts(101L) == "exact",
      s"true exact dup lost by the widening: ${verdicts(101L)}")
  }
}
