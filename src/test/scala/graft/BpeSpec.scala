package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.BpeTrainer

/** BpeTrainer (graft.pipeline) — the iterative tokenizer-induction
  * loop, pinned against a straightforward single-process reference
  * implementation run on the same text (the VERDICT's done
  * criterion), plus the q87 contract: round 1 of UNMARKED training
  * IS q87's top merge pair. Training seeds each word's characters
  * plus the `</w>` end-of-word marker (GPT-2/Sennrich convention),
  * so word-final pieces are distinct vocabulary entries from
  * identical word-internal prefixes.
  */
class BpeSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  private val Eow = BpeTrainer.EowMarker

  /** Naive in-memory BPE: same conventions as the trainer (character
    * (+ optional marker) seeding, count desc / pair asc argmax,
    * greedy left-to-right apply with skip-past-merge, minFreq stop). */
  private def refTrain(words: Map[String, Long], n: Int,
                       minFreq: Long = 2L,
                       markEow: Boolean = true): Seq[(String, String, Long)] = {
    var vocab: Seq[(Vector[String], Long)] =
      words.toSeq.map { case (w, f) =>
        val syms = w.split("").toVector
        (if (markEow) syms :+ Eow else syms, f)
      }
    val out = Seq.newBuilder[(String, String, Long)]
    var continue = true
    var round = 0
    while (round < n && continue) {
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      vocab.foreach { case (syms, f) =>
        syms.iterator.zip(syms.iterator.drop(1)).foreach { p =>
          counts(p) = counts.getOrElse(p, 0L) + f
        }
      }
      val best = counts.toSeq
        .sortBy { case ((a, b), c) => (-c, a, b) }.headOption
      best match {
        case Some(((a, b), c)) if c >= minFreq =>
          out += ((a, b, c))
          vocab = vocab.map { case (syms, f) => (applyMerge(syms, a, b), f) }
          round += 1
        case _ => continue = false
      }
    }
    out.result()
  }

  private def applyMerge(syms: Vector[String], a: String, b: String): Vector[String] = {
    val merged = Vector.newBuilder[String]
    var i = 0
    while (i < syms.length) {
      if (i + 1 < syms.length && syms(i) == a && syms(i + 1) == b) {
        merged += (a + b); i += 2
      } else { merged += syms(i); i += 1 }
    }
    merged.result()
  }

  test("trained merges match the single-process reference on a toy corpus") {
    val docs = Seq(
      "low low low low low",
      "lower lower newest newest newest",
      "newest newest newest widest widest").toDF("text")
    val got = BpeTrainer.train(spark, docs, "text", nMerges = 8)
      .map(m => (m.a, m.b, m.n))
    val words = docs.select(explode(graft.ops.TextOps.tokens($"text")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val want = refTrain(words, 8)
    assert(got == want, s"merge sequences diverge:\n$got\nvs\n$want")
    assert(got.nonEmpty && got.head._1 == "e" && got.head._2 == "s",
      s"'es' (freq 8 in newest/widest) must win round 1: $got")
  }

  test("trained merges match the reference on sf0.001 documents") {
    val docs = Tables.documents(spark, "/root/testdata/sf0.001")
    val got = BpeTrainer.train(spark, docs, "text", nMerges = 6)
      .map(m => (m.a, m.b, m.n))
    val words = docs.select(explode(graft.ops.TextOps.tokens($"text")).as("w"))
      .groupBy("w").count().as[(String, Long)].collect().toMap
    val want = refTrain(words, 6)
    assert(got == want, s"merge sequences diverge on real data:\n$got\nvs\n$want")
    assert(got.size == 6)
  }

  test("encode replays the merge table losslessly and fuses the trained pieces") {
    val docs = Seq(
      "low low low low low",
      "lower lower newest newest newest",
      "newest newest newest widest widest").toDF("text")
    val merges = BpeTrainer.train(spark, docs, "text", nMerges = 8)
    val out = BpeTrainer.encode(docs, "text", merges)
      .select($"text", $"bpe_tokens").as[(String, Seq[String])].collect()
    out.foreach { case (text, pieces) =>
      // every word contributes exactly one marker, and stripping the
      // markers reassembles the words in order (lossless)
      val wordCount = text.split(" ").length
      assert(pieces.count(_.endsWith(Eow)) == wordCount,
        s"'$text': expected $wordCount word-final pieces in $pieces")
      assert(pieces.mkString("").replace(Eow, "") ==
        text.split(" ").mkString(""),
        s"pieces of '$text' do not reassemble")
    }
    // the trained merges actually fuse: some multi-char piece from
    // the merge table appears in the encoded output
    val fused = merges.map(m => m.a + m.b).toSet
    val seen = out.flatMap(_._2).toSet
    assert(fused.exists(seen.contains),
      s"no trained piece of $fused appears in encode output $seen")
    // and encoding matches the reference dynamics: applying the same
    // merge list in order to each word's characters + marker
    val wordsOf = out.flatMap { case (t, _) => t.split(" ") }.distinct
    wordsOf.foreach { w =>
      var syms = w.split("").toVector :+ Eow
      merges.foreach(m => syms = applyMerge(syms, m.a, m.b))
      val enc = BpeTrainer.encode(Seq(w).toDF("text"), "text", merges)
        .select($"bpe_tokens").as[Seq[String]].head()
      assert(enc == syms, s"word '$w': kernel $enc != reference $syms")
    }
  }

  test("q92 and q105 share one trained merge table per (session, corpus)") {
    val stage = graft.queries.Stages.bpeMerges
    stage.reset()
    for (q <- Seq("q92_bpe_vocab", "q105_bpe_fertility")) {
      val (rows, read) = graft.ops.SessionStage.readsIn(
        SparkEntry.queries(q)(spark, "/root/testdata/sf0.001").collect())
      assert(rows.nonEmpty && read.contains("bpe_merges"), s"$q read $read")
    }
    assert(stage.buildCount == 1,
      s"expected ONE training run for both consumers, got ${stage.buildCount}")
    stage.reset() // test isolation
  }

  test("q105 fertility report: totals reconcile with an independent word count") {
    val sf = "/root/testdata/sf0.001"
    val out = SparkEntry.queries("q105_bpe_fertility")(spark, sf)
      .as[(String, Long, Long, Long)].collect()
    assert(out.length >= 3, s"expected several langs, got ${out.toSeq}")
    out.foreach { case (lang, nw, np, fm) =>
      // every word is at least one piece, so fertility >= 1.0
      assert(np >= nw && nw > 0, s"$lang: pieces $np < words $nw")
      assert(fm >= 1000000L, s"$lang: fertility $fm below 1.0")
      assert(fm == math.floor(np.toDouble / nw.toDouble * 1e6 + 0.5).toLong,
        s"$lang: fertility column inconsistent with its own sums")
    }
    // corpus-wide word total matches an independent pre-token count
    val total = Tables.documents(spark, sf)
      .select(size(graft.ops.TextOps.preTokens($"text")).cast("long"))
      .as[Long].collect().sum
    assert(out.map(_._2).sum == total,
      s"word totals ${out.map(_._2).sum} != independent count $total")
  }

  test("end-of-word marker keeps word-final pieces distinct from shared prefixes") {
    // "low" standalone vs "low" as a prefix of "lowest": with the
    // marker, the word-final piece trains as "low</w>" — merges
    // never leak across the word boundary, so encoding "low lowest"
    // yields a marker-terminated piece for the standalone word and
    // bare prefix pieces inside the longer one (vocabulary
    // interchangeable with public GPT-2-style tokenizers)
    val docs = Seq.fill(8)("low lowest").toDF("text")
    val merges = BpeTrainer.train(spark, docs, "text", nMerges = 10, minFreq = 1L)
    // "low" appears as often as "lowest"-prefix "low": both l+o and
    // lo+w merge, then low+</w> for the standalone form only
    assert(merges.exists(m => m.a + m.b == s"low$Eow"),
      s"no low$Eow merge trained: $merges")
    val enc = BpeTrainer.encode(Seq("low lowest").toDF("text"), "text", merges)
      .select($"bpe_tokens").as[Seq[String]].head()
    assert(enc.contains(s"low$Eow"),
      s"standalone 'low' must encode to the word-final piece: $enc")
    // the "low" inside "lowest" must NOT absorb the marker
    val idx = enc.indexOf(s"low$Eow")
    val rest = enc.drop(idx + 1)
    assert(rest.nonEmpty && rest.forall(p => !p.startsWith(s"low$Eow")),
      s"'lowest' leaked a word-final piece: $enc")
  }

  test("GPT-2 pre-tokenizer splits contractions; training/encode round-trip don't-class inputs") {
    // the public GPT-2 convention: contraction suffixes are their own
    // pre-tokens, so no merge can ever bridge the apostrophe
    val cases = Map(
      "don't stop" -> Seq("don", "'t", "stop"),
      "can't've" -> Seq("can", "'t", "'ve"),
      "it's 'quoted' -- x2y 3.14!" ->
        Seq("it", "'s", "'", "quoted", "'", "--", "x", "2", "y", "3", ".", "14", "!"),
      "O'Neill'll say yes" -> Seq("O", "'", "Neill", "'ll", "say", "yes"))
    val got = cases.keys.toSeq.toDF("text")
      .select($"text", graft.ops.TextOps.preTokens($"text").as("pt"))
      .as[(String, Seq[String])].collect().toMap
    cases.foreach { case (text, want) =>
      assert(got(text) == want, s"pre-tokens of '$text': ${got(text)} != $want")
    }

    // train on a contraction-heavy corpus and encode it back: every
    // pre-token contributes exactly one word-final marker, stripping
    // markers reassembles the original non-space text, and no piece
    // ever spans letters AND an apostrophe-suffix (the boundary holds
    // even though "n't" is the most frequent character sequence)
    val docs = Seq.fill(12)("don't won't can't shan't").toDF("text")
    val merges = BpeTrainer.train(spark, docs, "text", nMerges = 10, minFreq = 1L)
    assert(merges.nonEmpty)
    assert(merges.exists(m => m.a + m.b == s"'t$Eow"),
      s"the contraction piece 't$Eow must train as its own vocabulary entry: $merges")
    assert(!merges.exists(m => (m.a + m.b).matches("[A-Za-z]+'.*")),
      s"a merge bridged the pre-token boundary: $merges")
    val enc = BpeTrainer.encode(Seq("don't can't").toDF("text"), "text", merges)
      .select($"bpe_tokens").as[Seq[String]].head()
    assert(enc.count(_.endsWith(Eow)) == 4, // don | 't | can | 't
      s"expected 4 word-final pieces (2 pre-tokens per word): $enc")
    assert(enc.mkString("").replace(Eow, "") == "don'tcan't",
      s"pieces do not reassemble the pre-token stream: $enc")
    assert(enc.contains(s"'t$Eow"), s"'t must encode as the trained piece: $enc")
  }

  test("round 1 of UNMARKED training is exactly q87's top merge pair") {
    val sfDir = "/root/testdata/sf0.001"
    val first = BpeTrainer.train(spark, Tables.documents(spark, sfDir),
      "text", nMerges = 1, markEow = false).head
    val q87 = SparkEntry.queries("q87_bpe_pairs")(spark, sfDir)
      .filter($"rn" === 1).select($"pair", $"n").as[(String, Long)].head()
    assert(first.a + first.b == q87._1 && first.n == q87._2,
      s"trainer round 1 (${first.a}+${first.b}, ${first.n}) != q87 top $q87")
  }
}
