package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.CorpusStatsMaintenance

/** CorpusStatsMaintenance — the incremental term-count + length-
  * histogram store must serve the gated lexical statistics EXACTLY
  * (same integers as the batch chains over the union of everything
  * absorbed), stay idempotent under re-delivery, and be invisible to
  * consumers across compaction.
  */
class CorpusStatsMaintenanceSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("incremental store serves q139/q140/q152/q159/q162 exactly, re-delivery idempotent, compaction invisible, token-less length evidence") {
    val dir = tmp("cstats") + "/store"
    // a never-written store serves empty tables, not PATH_NOT_FOUND
    val empty = Seq(CorpusStatsMaintenance.lexicalDiversity _, CorpusStatsMaintenance.goodTuring _,
      CorpusStatsMaintenance.zipfSlope _, CorpusStatsMaintenance.chaoRichness _,
      CorpusStatsMaintenance.lengthDrift _, CorpusStatsMaintenance.entropyRate _,
      CorpusStatsMaintenance.pmiBigrams _, CorpusStatsMaintenance.sourceKl _,
      CorpusStatsMaintenance.doremiWeights _, CorpusStatsMaintenance.looNovelty _,
      CorpusStatsMaintenance.stylometry _).map(_(spark, dir).collect().length)
    assert(empty.forall(_ == 0), s"a fresh store served rows: $empty")
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"text")
    val part0 = docs.filter(pmod($"doc_id", lit(3L)) === 0L)
    val part1 = docs.filter(pmod($"doc_id", lit(3L)) === 1L)
    val part2 = docs.filter(pmod($"doc_id", lit(3L)) === 2L)

    CorpusStatsMaintenance.build(spark, part0, dir)
    CorpusStatsMaintenance.absorb(spark, part1, dir, "b1")
    CorpusStatsMaintenance.absorb(spark, part2, dir, "b2")

    def served = (
      CorpusStatsMaintenance.lexicalDiversity(spark, dir).collect().toSeq,
      CorpusStatsMaintenance.goodTuring(spark, dir).collect().toSeq,
      CorpusStatsMaintenance.zipfSlope(spark, dir).collect().toSeq,
      CorpusStatsMaintenance.chaoRichness(spark, dir).collect().toSeq)
    def servedLen =
      CorpusStatsMaintenance.lengthDrift(spark, dir).collect().toSeq
    // the bigram-store consumers (q154 entropy rate, q125 PMI — the
    // round-15 verdict's incremental-serving ask): both must replay
    // the batch chains' exact integers off the merged raw counts
    def servedBi = (
      CorpusStatsMaintenance.entropyRate(spark, dir).collect().toSeq,
      CorpusStatsMaintenance.pmiBigrams(spark, dir).collect().toSeq)
    // the source-term-store consumers (round 16's fourth statistic):
    // the whole mixture family must replay off the merged counts
    def servedSrc = (
      CorpusStatsMaintenance.sourceKl(spark, dir).collect().toSeq,
      CorpusStatsMaintenance.doremiWeights(spark, dir).collect().toSeq,
      CorpusStatsMaintenance.looNovelty(spark, dir).collect().toSeq)
    val batch = (
      graft.queries.Corpus.lexicalDiversity(docs).collect().toSeq,
      graft.queries.Corpus.goodTuring(docs).collect().toSeq,
      graft.queries.Corpus.zipfSlope(docs).collect().toSeq,
      graft.queries.Corpus.chaoRichness(docs).collect().toSeq)
    val batchBi = (
      graft.queries.Corpus.entropyRate(docs).collect().toSeq,
      graft.queries.Corpus.pmiBigrams(docs).collect().toSeq)
    val batchSrc = (
      graft.queries.Corpus.sourceKl(docs).collect().toSeq,
      graft.queries.Learn.doremiWeights(docs).collect().toSeq,
      graft.queries.Corpus.looNovelty(docs).collect().toSeq)
    assert(batch._1.nonEmpty && batch._3.nonEmpty, "fixture served nothing")
    assert(batchBi._1.nonEmpty && batchBi._2.nonEmpty,
      "bigram fixture served nothing")
    assert(served == batch,
      "served statistics diverge from the batch chains over the same docs")
    assert(servedLen ==
      graft.queries.Corpus.lengthDrift(docs).collect().toSeq,
      "served length drift diverges from the batch chain")
    assert(servedBi == batchBi,
      "served entropy-rate/PMI diverge from the batch chains")
    assert(batchSrc._1.nonEmpty, "source fixture served nothing")
    assert(servedSrc == batchSrc,
      "served KL/DoReMi/LOO diverge from the batch chains")

    // at-least-once: a re-delivered batch overwrites its own run
    CorpusStatsMaintenance.absorb(spark, part1, dir, "b1")
    assert(served == batch, "re-delivery changed the served statistics")
    assert(servedBi == batchBi,
      "re-delivery changed the served entropy-rate/PMI")

    // a token-less delivery adds no term counts — but a zero-length
    // document IS length evidence, so the drift table must see it
    val emptyDoc = Seq((999999L, "srcX", "en", ""))
      .toDF("doc_id", "source", "lang", "text")
    CorpusStatsMaintenance.absorb(spark, emptyDoc, dir, "b3")
    assert(served == batch, "token-less delivery changed the term store")
    val withEmpty = docs.unionByName(emptyDoc)
    assert(servedLen ==
      graft.queries.Corpus.lengthDrift(withEmpty).collect().toSeq,
      "zero-length doc missing from the served length histogram")

    // compaction folds the runs into one partition without changing
    // a single served integer
    val root = new org.apache.hadoop.fs.Path(s"$dir/termcounts")
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    def runDirs = fs.listStatus(root)
      .count(s => s.isDirectory && s.getPath.getName.startsWith("run="))
    assert(runDirs == 3, s"expected 3 run partitions before compaction, got $runDirs")
    CorpusStatsMaintenance.compact(spark, dir)
    assert(runDirs == 1, "compaction must fold to one partition")
    assert(served == batch, "compaction changed the served statistics")
    assert(servedBi == batchBi,
      "compaction changed the served entropy-rate/PMI")
    assert(servedSrc == batchSrc,
      "compaction changed the served mixture family")
    assert(servedLen ==
      graft.queries.Corpus.lengthDrift(withEmpty).collect().toSeq,
      "compaction changed the served length drift")

    // and the store keeps absorbing after a fold — both statistics
    val fresh = Seq((999998L, "srcF", "en", "freshword freshword"))
      .toDF("doc_id", "source", "lang", "text")
    CorpusStatsMaintenance.absorb(spark, fresh, dir, "b4")
    val extTerms = docs.unionByName(fresh)
    assert(served._2 ==
      graft.queries.Corpus.goodTuring(extTerms).collect().toSeq,
      "post-compaction absorb diverges from the batch chain")
    assert(served._4 ==
      graft.queries.Corpus.chaoRichness(extTerms).collect().toSeq,
      "post-compaction chao serving diverges from the batch chain")
    assert(servedLen ==
      graft.queries.Corpus.lengthDrift(withEmpty.unionByName(fresh))
        .collect().toSeq,
      "post-compaction length drift diverges from the batch chain")
    assert(servedBi == (
      graft.queries.Corpus.entropyRate(extTerms).collect().toSeq,
      graft.queries.Corpus.pmiBigrams(extTerms).collect().toSeq),
      "post-compaction entropy-rate/PMI diverge from the batch chains")
    assert(servedSrc == (
      graft.queries.Corpus.sourceKl(extTerms).collect().toSeq,
      graft.queries.Learn.doremiWeights(extTerms).collect().toSeq,
      graft.queries.Corpus.looNovelty(extTerms).collect().toSeq),
      "post-compaction mixture family diverges from the batch chains")
  }

  test("half-landed stats delivery: invisible to reads, dropped by compaction, healed by retry") {
    // the r17 DeliveryMarker sweep: one delivery spans FOUR parquet
    // writes, and q154/q125 JOIN across two of the sub-stores — a
    // crash between the writes must never skew them or be folded
    // into run=base before the retry
    val dir = tmp("cstats") + "/store"
    val docs = Tables.documents(spark, sf)
      .select($"doc_id", $"source", $"lang", $"text")
    val part0 = docs.filter(pmod($"doc_id", lit(2L)) === 0L)
    val part1 = docs.filter(pmod($"doc_id", lit(2L)) === 1L)
    CorpusStatsMaintenance.build(spark, part0, dir)
    def snapshot() = (
      CorpusStatsMaintenance.zipfSlope(spark, dir).collect().toSeq,
      CorpusStatsMaintenance.entropyRate(spark, dir).collect().toSeq,
      CorpusStatsMaintenance.sourceKl(spark, dir).collect().toSeq,
      CorpusStatsMaintenance.lengthDrift(spark, dir).collect().toSeq)
    val base = snapshot()

    // simulate the crash: ONLY the first sub-store write of run=bX
    // lands (exactly absorb's first write), no marker
    graft.queries.Corpus.unigramCountsFromToks(
        graft.queries.Corpus.tokenized(part1))
      .withColumn("run", lit("bX"))
      .write.partitionBy("run").mode("overwrite")
      .option("partitionOverwriteMode", "dynamic").parquet(s"$dir/termcounts")
    assert(snapshot() == base,
      "an unacknowledged half-landed run must be invisible to every served table")

    CorpusStatsMaintenance.compact(spark, dir)
    assert(snapshot() == base,
      "compaction must drop, not fold, an unacknowledged run")

    // the at-least-once retry re-delivers the run whole
    CorpusStatsMaintenance.absorb(spark, part1, dir, "bX")
    assert(snapshot() == (
      graft.queries.Corpus.zipfSlope(docs).collect().toSeq,
      graft.queries.Corpus.entropyRate(docs).collect().toSeq,
      graft.queries.Corpus.sourceKl(docs).collect().toSeq,
      graft.queries.Corpus.lengthDrift(docs).collect().toSeq),
      "retried delivery must converge the store on the batch chains")
  }
}
