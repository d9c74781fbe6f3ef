package graft

import org.scalatest.funsuite.AnyFunSuite

/** q116 distribution drift — closed-form behavior of the factored
  * [[graft.queries.Corpus.distDrift]] chain (the wired query runs
  * the same code over q107's derived snapshots and is oracle-gated).
  */
class DriftSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private def drift(prev: Seq[(String, String)],
                    cur: Seq[(String, String)]): Map[String, (Long, Long, Long)] =
    try graft.queries.Corpus.distDrift(
        prev.toDF("lang", "text"), cur.toDF("lang", "text"))
      .as[(String, Long, Long, Long)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    finally spark.catalog.clearCache() // distDrift persist contract

  test("identical snapshots diverge exactly zero; disjoint vocab approaches ln 2") {
    // lang "same": byte-identical halves — every bucket has
    // p == q == m (IEEE: (x+x)/2 = x), ln(1) = 0.0 exactly, so
    // jsd_nano is EXACTLY 0, not merely small. lang "shift":
    // disjoint vocabularies at n >> B (so the B Laplace
    // pseudo-counts don't damp the empirical mass — at n ≈ B the
    // smoothing dominates BY DESIGN, the tiny-snapshot regime where
    // a drift verdict would be noise anyway) — JSD must sit near
    // its ln 2 ≈ 0.6931 bound, strictly below it.
    val oldShift = ("alpha beta gamma " * 3000).trim
    val newShift = ("omega sigma theta " * 3000).trim
    val out = drift(
      prev = Seq(("same", "alpha beta gamma delta epsilon zeta"),
        ("shift", oldShift)),
      cur = Seq(("same", "alpha beta gamma delta epsilon zeta"),
        ("shift", newShift)))
    val (sameOld, sameNew, sameJsd) = out("same")
    assert(sameOld == 6L && sameNew == 6L, out.toString)
    assert(sameJsd == 0L, s"identical halves must diverge exactly 0: $out")
    val (_, _, shiftJsd) = out("shift")
    assert(shiftJsd > 600000000L && shiftJsd < 693147181L,
      s"disjoint vocab at n >> B should approach ln2 from below: $out")
  }

  test("divergence is symmetric and grows with the shifted mass") {
    val base = Seq(("l", "alpha beta gamma delta alpha beta gamma delta"))
    val mild = Seq(("l", "alpha beta gamma omega alpha beta gamma delta"))
    val wild = Seq(("l", "omega sigma theta psi omega sigma theta psi"))
    val dMild = drift(base, mild)("l")._3
    val dWild = drift(base, wild)("l")._3
    assert(dMild > 0L, s"a one-token shift must register: $dMild")
    assert(dWild > dMild,
      s"full replacement must out-diverge a one-token edit: $dMild vs $dWild")
    // symmetry (JSD property KL lacks): swapping old/new is identical
    assert(drift(mild, base)("l")._3 == dMild, "JSD must be symmetric")
  }

  test("a lang present on only one side still reports (Laplace-smoothed, no NaN)") {
    val out = drift(
      prev = Seq(("l", "alpha beta"), ("gone", "omega sigma")),
      cur = Seq(("l", "alpha beta")))
    assert(out.contains("gone"), out.toString)
    val (oldN, newN, jsd) = out("gone")
    assert(oldN == 2L && newN == 0L, out.toString)
    assert(jsd > 0L, s"one-sided lang must register positive drift: $out")
  }

  test("the staged divergence equals a literal single-process JSD") {
    // plain-Scala reimplementation of the whole chain (tokenize →
    // polyHash → bucket → Laplace → JSD over all 256 buckets) on
    // corpora that exercise shared AND disjoint vocab — the
    // distributed stage must agree to within the nano rounding of
    // its 256 per-bucket terms.
    import org.apache.spark.unsafe.types.UTF8String
    val B = 256
    val prev = Seq(("a", "alpha beta gamma delta alpha beta"),
      ("b", "eins zwei drei vier eins zwei drei"))
    val cur = Seq(("a", "alpha beta omega sigma alpha theta"),
      ("b", "eins zwei drei vier eins zwei drei"))
    def buckets(docs: Seq[(String, String)]): Map[(String, Int), Long] =
      docs.flatMap { case (lang, text) =>
        graft.ops.TextOps.TokenPattern.r.findAllMatchIn(text).map(m =>
          (lang, (graft.ops.expressions.HashKernel
            .polyHash(UTF8String.fromString(m.group(1))) % B).toInt))
      }.groupBy(identity).view.mapValues(_.size.toLong).toMap
    val (co, cn) = (buckets(prev), buckets(cur))
    val want = prev.map(_._1).distinct.sorted.map { lang =>
      val no = co.collect { case ((l, _), n) if l == lang => n }.sum
      val nn = cn.collect { case ((l, _), n) if l == lang => n }.sum
      val jsd = (0 until B).map { b =>
        val po = (co.getOrElse((lang, b), 0L) + 1).toDouble / (no + B)
        val pn = (cn.getOrElse((lang, b), 0L) + 1).toDouble / (nn + B)
        val m = (po + pn) / 2.0
        math.floor((po * math.log(po / m) + pn * math.log(pn / m)) * 0.5
          * 1e9 + 0.5).toLong
      }.sum
      lang -> jsd
    }.toMap
    val got = drift(prev, cur).map { case (l, (_, _, j)) => l -> j }
    assert(got == want, s"staged vs literal JSD:\n got: $got\nwant: $want")
    assert(got("a") > 0L && got("b") == 0L, got.toString)
  }

  // ---- DriftMonitor: the incremental form of q116 ----

  import graft.pipeline.DriftMonitor

  private def storeDir(name: String): String =
    tmp(name) + "/drift"

  private def rows(df: org.apache.spark.sql.DataFrame): Seq[(String, Long, Long, Long)] =
    try df.as[(String, Long, Long, Long)].collect().toSeq.sorted
    finally spark.catalog.clearCache() // jsdFromCounts persist contract

  test("monitor: absorbed deltas + rebase reproduce the from-scratch stage exactly") {
    val dir = storeDir("mon-eq")
    // "ws" is the degenerate membership case: whitespace-only text
    // yields NO tokens, so only the store's roster rows can keep the
    // lang in the report — q116's from-scratch stage derives langs
    // from the document frames and reports it at (0, 0, 0)
    val a1 = Seq(("en", "alpha beta gamma"), ("de", "eins zwei drei"),
      ("ws", "   ")).toDF("lang", "text")
    val a2 = Seq(("en", "alpha alpha delta epsilon")).toDF("lang", "text")
    val b3 = Seq(("en", "omega sigma theta omega"), ("fr", "un deux trois"))
      .toDF("lang", "text")
    DriftMonitor.absorb(spark, a1, dir, "r1")
    DriftMonitor.absorb(spark, a2, dir, "r2")
    DriftMonitor.rebase(spark, dir) // reference := a1 + a2
    DriftMonitor.absorb(spark, b3, dir, "r3")
    val got = rows(DriftMonitor.report(spark, dir))
    // integer counts → the folded store and the document scans feed
    // the SAME divergence stage identical inputs: every column must
    // match EXACTLY, not approximately
    val want = rows(graft.queries.Corpus.distDrift(
      a1.union(a2), a1.union(a2).union(b3)))
    assert(got == want, s"monitor diverged from q116:\n got: $got\nwant: $want")
    assert(got.exists(_._4 > 0L), s"the shifted batch must register: $got")
    assert(got.contains(("ws", 0L, 0L, 0L)),
      s"token-less lang must survive via roster rows: $got")
  }

  test("monitor: rebase zeroes the report; redelivery and compaction preserve it") {
    val dir = storeDir("mon-lifecycle")
    val a = Seq(("en", "alpha beta gamma alpha")).toDF("lang", "text")
    val b = Seq(("en", "omega sigma theta"), ("de", "eins zwei"))
      .toDF("lang", "text")
    DriftMonitor.absorb(spark, a, dir, "r1")
    DriftMonitor.rebase(spark, dir)
    DriftMonitor.absorb(spark, b, dir, "r2")
    val drifted = rows(DriftMonitor.report(spark, dir))
    assert(drifted.exists(_._4 > 0L), drifted.toString)
    // "we retrained — new normal": reference := current, divergence
    // is EXACTLY zero for every lang (p == q == m, ln(1) = 0.0)
    DriftMonitor.rebase(spark, dir)
    val rebased = rows(DriftMonitor.report(spark, dir))
    assert(rebased.nonEmpty && rebased.forall(_._4 == 0L), rebased.toString)
    assert(rebased.forall(r => r._2 == r._3), rebased.toString)
    // at-least-once delivery: re-running a runId replaces, not doubles
    DriftMonitor.absorb(spark, b, dir, "r2")
    assert(rows(DriftMonitor.report(spark, dir)) == rebased,
      "re-delivered batch changed the report")
    // compaction folds runs without changing any answer
    assert(DriftMonitor.runCount(spark, dir) == 2)
    DriftMonitor.compact(spark, dir)
    assert(DriftMonitor.runCount(spark, dir) == 1)
    assert(rows(DriftMonitor.report(spark, dir)) == rebased,
      "compaction changed the report")
  }

  test("streaming: per-batch deltas fold in incrementally, re-runs are no-ops") {
    val base = tmp("drift-stream")
    val dir = s"$base/drift"; val inDir = s"$base/in"; val ck = s"$base/ck"
    val ref = Seq(("en", "alpha beta gamma alpha"), ("de", "eins zwei"))
      .toDF("lang", "text")
    val s1 = Seq(("en", "alpha beta delta")).toDF("lang", "text")
    val s2 = Seq(("en", "omega sigma"), ("fr", "un deux")).toDF("lang", "text")
    DriftMonitor.absorb(spark, ref, dir, "seed")
    DriftMonitor.rebase(spark, dir)
    val schema = s1.schema
    s1.coalesce(1).write.mode("append").parquet(inDir)
    s2.coalesce(1).write.mode("append").parquet(inDir)
    graft.streaming.DriftStream.runOnce(spark, inDir, dir, ck, schema)
    val got = rows(DriftMonitor.report(spark, dir))
    // streamed store ≡ the from-scratch q116 stage over the same corpora
    val want = rows(graft.queries.Corpus.distDrift(
      ref, ref.union(s1).union(s2)))
    assert(got == want, s"streamed deltas diverge:\n got: $got\nwant: $want")
    // nothing new: a second pass changes nothing
    graft.streaming.DriftStream.runOnce(spark, inDir, dir, ck, schema)
    assert(rows(DriftMonitor.report(spark, dir)) == want,
      "idle re-run mutated the store")
  }

  test("monitor: no reference yet reports empty — monitoring starts at the first rebase") {
    val dir = storeDir("mon-fresh")
    DriftMonitor.absorb(spark,
      Seq(("en", "alpha beta")).toDF("lang", "text"), dir, "r1")
    assert(DriftMonitor.report(spark, dir).count() == 0L)
    spark.catalog.clearCache()
  }
}
