package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.spark.sql.functions._
import graft.pipeline.CurationExport
import java.nio.file.Files

/** CurationExport (graft.pipeline) — the materialized end product
  * must agree with the queries that define its stages: the q100-style
  * funnel report, q67's dedup counts, q65's leakage-safety, the
  * adaptive floor + mixture stages, and idempotent re-runs.
  */
class CurationExportSpec extends AnyFunSuite {
  import TestSpark._
  import spark.implicits._

  test("export reconciles with its funnel report, is leakage-safe, and re-runs idempotently") {
    val outDir = tmp("export") + "/corpus"
    CurationExport.run(spark, sf, outDir)

    // the q100-style funnel over the same corpus: per-domain kept
    // counts on DISK must equal the report's n_kept, the dedup stage
    // must equal q67's published number, and the stages must be
    // monotone (raw ≥ dedup ≥ quality ≥ kept) with the adaptive
    // floor actually engaged
    val funnel = CurationExport.funnel(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    val got = spark.read.parquet(outDir)
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(got == funnel.map(f => f._1 -> f._8).toMap,
      s"written corpus diverges from funnel n_kept: $got vs ${funnel.toSeq}")
    val q67 = SparkEntry.queries("q67_dedup_keep")(spark, sf)
      .select($"lang", $"n_kept").as[(String, Long)].collect().toMap
    assert(funnel.map(f => f._1 -> f._3).toMap == q67,
      s"funnel n_dedup diverges from q67: ${funnel.toSeq} vs $q67")
    funnel.foreach { case (lang, raw, dedup, decontam, heur, quality, probe, kept) =>
      assert(raw >= dedup && dedup >= decontam && decontam >= heur &&
        heur >= quality && quality >= probe && probe >= kept,
        s"$lang funnel not monotone: $raw/$dedup/$decontam/$heur/$quality/$probe/$kept")
      assert(decontam == dedup,
        s"$lang: decontamination off must pass representatives through")
      assert(heur == decontam,
        s"$lang: heuristic gate off must pass decontam survivors through")
      assert(probe == quality,
        s"$lang: probe stage off must pass quality survivors through")
    }
    assert(funnel.map(_._6).sum < funnel.map(_._5).sum,
      "adaptive floor dropped nothing — stage not engaged")
    // probe stage off: the lineage column rides along as null
    assert(spark.read.parquet(outDir)
      .filter($"probe_score".isNotNull).count() == 0L)

    // leakage-safety: no near-dup pair straddles splits (q65's law,
    // re-checked on the WRITTEN artifact)
    val split = spark.read.parquet(outDir)
      .select($"doc_id", $"split").as[(Long, String)].collect().toMap
    val pairs = SparkEntry.queries("q24_near_dup")(spark, sf)
      .select($"id_a", $"id_b").as[(Long, Long)].collect()
    pairs.foreach { case (a, b) =>
      (split.get(a), split.get(b)) match {
        case (Some(sa), Some(sb)) =>
          assert(sa == sb, s"near-dup pair ($a,$b) straddles $sa/$sb")
        case _ => () // at most the representative survives — fine
      }
    }

    // idempotence: a second run rewrites the same artifact
    val first = spark.read.parquet(outDir).count()
    CurationExport.run(spark, sf, outDir)
    assert(spark.read.parquet(outDir).count() == first)

    // split covers all survivors roughly 80/10/10
    val n = split.size
    val train = split.values.count(_ == "train").toDouble / n
    assert(train > 0.6 && train < 0.95, s"train fraction $train implausible")
  }

  test("targetFileBytes sizes output files: small target splits, content unchanged") {
    // r20 (§6 output sizing): rows-per-file now derives from a BYTE
    // target over the input's measured parquet bytes/row, with a
    // rebalance-by-split hint on the write. Pin that (a) a tiny
    // target produces multiple bounded data files where the default
    // produced few, (b) no file wildly exceeds the target (slack for
    // footer + row-group minimums), (c) the exported rows are
    // byte-identical either way.
    val root = tmp("export-size")
    val outBig = s"$root/big"; val outSmall = s"$root/small"
    CurationExport.run(spark, sf, outBig)
    CurationExport.run(spark, sf, outSmall, targetFileBytes = Some(8L * 1024))
    def dataFiles(dir: String) =
      new java.io.File(dir).listFiles.filter(_.isDirectory)
        .flatMap(_.listFiles).filter(f =>
          f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
    val big = dataFiles(outBig); val small = dataFiles(outSmall)
    assert(small.length > big.length,
      s"8 KB target produced ${small.length} files vs ${big.length} at default")
    val worst = small.map(_.length).max
    assert(worst < 8L * 1024 * 6,
      s"a sized file blew past the target: $worst bytes")
    val a = CurationExport.readBack(spark, outBig).collect().toSet
    val b = CurationExport.readBack(spark, outSmall).collect().toSet
    assert(a == b, "sizing changed the exported rows")
    spark.catalog.clearCache()
  }

  test("mixtureDir plumbs maintained rates into the export") {
    val root = tmp("export-mix")
    // an EMPTY maintained store: every domain is unseen, so decide's
    // keep-all default applies — the export must keep every quality
    // survivor (n_kept == n_quality), unlike the self-contained path
    // where the corpus's own tempered rates throttle large domains
    val emptyStore = s"$root/store"
    CurationExport.run(spark, sf, s"$root/corpus", mixtureDir = Some(emptyStore))
    val viaStore = CurationExport.funnel(spark, sf, Some(emptyStore))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    viaStore.foreach { case (lang, _, _, _, _, quality, _, kept) =>
      assert(kept == quality,
        s"$lang: empty store must keep all quality survivors ($kept != $quality)")
    }
    val onDisk = spark.read.parquet(s"$root/corpus")
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(onDisk == viaStore.map(f => f._1 -> f._8).toMap)
    // a store absorbed from this corpus reproduces the
    // self-contained path's rates... up to the population they are
    // computed over (absorb sees the raw batch, self-contained sees
    // quality survivors) — so pin only that the stage THROTTLES:
    // after absorbing a heavily skewed synthetic count table the
    // export keeps fewer docs of the dominant domain
    graft.pipeline.MixtureMaintenance.absorb(spark,
      Seq.tabulate(4000)(i => (i.toLong, "en", s"filler text $i"))
        .toDF("doc_id", "lang", "text"),
      emptyStore, "seed")
    val throttled = CurationExport.funnel(spark, sf, Some(emptyStore))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(f => f._1 -> f._8).toMap
    val en = viaStore.find(_._1 == "en")
    assert(en.isEmpty || throttled("en") <= en.get._8,
      "absorbed skew did not throttle the dominant domain")
  }

  test("probe-score stage: classifier routes docs, funnel reconciles, lineage rides, re-run idempotent") {
    import graft.pipeline.{CurationExport, ProbeTrainer}
    val root = tmp("export-probe")
    val probeDir = s"$root/head"; val outDir = s"$root/corpus"
    // train q98's head on the corpus embeddings, persist, and verify
    // the store round-trips the weights exactly (micro-units on disk)
    val (w, _) = ProbeTrainer.train(Tables.embeddings(spark, sf))
    ProbeTrainer.save(spark, w, probeDir)
    assert(ProbeTrainer.load(spark, probeDir).map(_.toSeq).toSeq ==
      w.map(_.toSeq).toSeq, "persisted head diverges from the trained one")

    val stage = CurationExport.ProbeStage(probeDir, keepClasses = Set(0, 1, 2, 3, 4))
    CurationExport.run(spark, sf, outDir, probe = Some(stage))
    val funnel = CurationExport.funnel(spark, sf, probe = Some(stage))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    funnel.foreach { case (lang, raw, dedup, decontam, heur, quality, probe, kept) =>
      assert(raw >= dedup && dedup >= decontam && decontam >= heur &&
        heur >= quality && quality >= probe && probe >= kept,
        s"$lang funnel not monotone: $raw/$dedup/$decontam/$heur/$quality/$probe/$kept")
    }
    assert(funnel.map(_._7).sum < funnel.map(_._6).sum,
      "probe stage dropped nothing — not engaged")
    assert(funnel.map(_._7).sum > 0, "probe stage dropped everything")

    // routing: every written doc must be one the classifier predicts
    // into a keep class, and its lineage score must equal the
    // classifier's own confidence for that doc
    val expected = ProbeTrainer
      .score(Tables.embeddings(spark, sf).select($"vec_id", $"embedding"), w)
      .filter($"pred".isin(stage.keepClasses.toSeq.map(Int.box): _*) &&
        $"score" >= stage.minScore)
      .select($"vec_id".as("doc_id"), $"score")
      .as[(Long, Double)].collect().toMap
    val written = spark.read.parquet(outDir)
      .select($"doc_id", $"probe_score").as[(Long, Double)].collect()
    assert(written.nonEmpty)
    written.foreach { case (id, ps) =>
      assert(expected.contains(id), s"doc $id written but classifier rejects it")
      assert(expected(id) == ps, s"doc $id lineage score $ps != classifier ${expected(id)}")
    }
    // funnel n_probe == quality survivors the classifier keeps
    val qualityIds = CurationExport.funnel(spark, sf)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
      .map(f => f._1 -> f._6).toMap
    assert(funnel.map(f => f._1 -> f._7).toMap.values.sum <=
      qualityIds.values.sum)

    // re-run idempotent
    val first = spark.read.parquet(outDir).count()
    CurationExport.run(spark, sf, outDir, probe = Some(stage))
    assert(spark.read.parquet(outDir).count() == first)
  }

  test("decontamination stage: eval-contaminated docs drop visibly, funnel reconciles, None is pass-through") {
    import graft.pipeline.CurationExport
    val root = tmp("export-decon")
    // derive an eval set KNOWN to contaminate: q121's own derivation
    // (spans lifted from the three longest docs) — those donors (and
    // any doc sharing the span) must vanish from the artifact
    val contaminated = SparkEntry.queries("q121_decontamination")(spark, sf)
      .select($"doc_id").as[Long].collect().toSet
    assert(contaminated.nonEmpty)
    val evalSet = Tables.documents(spark, sf)
      .orderBy($"n_chars".desc, $"doc_id").limit(3)
      .select($"doc_id".as("eval_id"),
        array_join(slice(graft.ops.TextOps.tokens($"text"), 4, 16), " ")
          .as("etext"))
    CurationExport.run(spark, sf, s"$root/corpus", evalSet = Some(evalSet))
    val written = spark.read.parquet(s"$root/corpus")
      .select($"doc_id").as[Long].collect().toSet
    assert((written & contaminated).isEmpty,
      s"contaminated docs shipped: ${written & contaminated}")
    // funnel: the stage is engaged and the report reconciles with disk
    val funnel = CurationExport.funnel(spark, sf, evalSet = Some(evalSet))
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(funnel.map(_._4).sum < funnel.map(_._3).sum,
      "decontamination dropped nothing — stage not engaged")
    val onDisk = spark.read.parquet(s"$root/corpus")
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(onDisk == funnel.map(f => f._1 -> f._8).toMap.filter(_._2 > 0))
  }

  test("heuristic gate: rule-violating docs drop visibly, funnel reconciles, off is pass-through") {
    val root = tmp("export-heur")
    val outG = s"$root/gated"
    CurationExport.run(spark, sf, outG, heuristic = true)
    val funnel = CurationExport.funnel(spark, sf, heuristic = true)
      .as[(String, Long, Long, Long, Long, Long, Long, Long)].collect()
    assert(funnel.map(_._5).sum < funnel.map(_._4).sum,
      "heuristic gate dropped nothing — stage not engaged")
    assert(funnel.map(_._5).sum > 0, "heuristic gate dropped everything")
    // every written doc passes the rule family — checked with the
    // SAME shared flag derivation the q134 report rolls up
    val violators = graft.queries.Quality.heuristicFlagged(
        spark.read.parquet(outG).select($"doc_id", $"text"))
      .filter($"f_short" || $"f_long" || $"f_len" || $"f_stop")
      .select($"doc_id").as[Long].collect()
    assert(violators.isEmpty, s"rule-violating docs shipped: ${violators.toSeq}")
    // disk reconciles with the report
    val onDisk = spark.read.parquet(outG)
      .groupBy($"lang").agg(count(lit(1)).as("n"))
      .as[(String, Long)].collect().toMap
    assert(onDisk == funnel.map(f => f._1 -> f._8).toMap.filter(_._2 > 0))
    // re-run idempotent
    val first = spark.read.parquet(outG).count()
    CurationExport.run(spark, sf, outG, heuristic = true)
    assert(spark.read.parquet(outG).count() == first)
  }

  test("PII scrub: planted PII is masked and counted on disk, counts unchanged, off rides null") {
    val root = tmp("export-pii")
    // a corpus WITH PII (the testdata ships none): q124's planting
    // pattern — emails on doc_id%4==1, phones on %4==2
    val dirty = s"$root/dirty"
    Tables.documents(spark, sf)
      .withColumn("text",
        when(pmod($"doc_id", lit(4L)) === 1L,
          concat($"text", lit(" contact u"), $"doc_id".cast("string"),
            lit("@mail.example.com now")))
          .when(pmod($"doc_id", lit(4L)) === 2L,
            concat($"text", lit(" call +1-555-0"),
              pmod($"doc_id", lit(100L)).cast("string"), lit(" today")))
          .otherwise($"text"))
      .withColumn("n_chars", length($"text").cast("bigint"))
      .write.mode("overwrite").parquet(s"$dirty/documents.parquet")

    val outP = s"$root/scrubbed"
    val report = CurationExport.run(spark, dirty, outP, scrubPii = true).collect()
    // a scrub is a transform, not a drop: per-split counts match the
    // unscrubbed run of the same corpus
    val plainReport = CurationExport.run(spark, dirty, s"$root/plain").collect()
    assert(report.sameElements(plainReport),
      "scrub changed survivor counts — it must only mask")

    val rows = spark.read.parquet(outP)
      .select($"doc_id", $"text", $"n_pii").as[(Long, String, Long)].collect()
    assert(rows.nonEmpty)
    // no raw PII byte survives; planted-and-kept docs are masked AND
    // counted; untouched docs count zero
    rows.foreach { case (id, text, nPii) =>
      assert(!text.contains("@mail.example.com") && !text.contains("+1-555-"),
        s"doc $id shipped raw PII")
      if (id % 4 == 1) {
        assert(text.contains("<EMAIL>"), s"doc $id email not masked")
        assert(nPii >= 1L, s"doc $id masked but n_pii=$nPii")
      } else if (id % 4 == 2) {
        assert(text.contains("<PHONE>"), s"doc $id phone not masked")
        assert(nPii >= 1L, s"doc $id masked but n_pii=$nPii")
      } else assert(nPii == 0L, s"doc $id has no PII but n_pii=$nPii")
    }
    assert(rows.exists(_._3 >= 1L), "no PII doc survived — scrub untested")
    // off-switch: the lineage column rides along as null
    assert(spark.read.parquet(s"$root/plain")
      .filter($"n_pii".isNotNull).count() == 0L)
    // re-run idempotent
    CurationExport.run(spark, dirty, outP, scrubPii = true)
    assert(spark.read.parquet(outP).count() == rows.length.toLong)
  }

  test("heuristic gate and PII scrub compose in one run") {
    val root = tmp("export-both")
    val dirty = s"$root/dirty"
    Tables.documents(spark, sf)
      .withColumn("text",
        when(pmod($"doc_id", lit(4L)) === 1L,
          concat($"text", lit(" contact u"), $"doc_id".cast("string"),
            lit("@mail.example.com now")))
          .otherwise($"text"))
      .withColumn("n_chars", length($"text").cast("bigint"))
      .write.mode("overwrite").parquet(s"$dirty/documents.parquet")
    val out = s"$root/corpus"
    CurationExport.run(spark, dirty, out, heuristic = true, scrubPii = true)
    val rows = spark.read.parquet(out)
      .select($"doc_id", $"text", $"n_pii").as[(Long, String, Long)].collect()
    assert(rows.nonEmpty)
    // no rule violator shipped — checked with the shared flags over
    // the ORIGINAL text (the gate runs pre-scrub; masked text has
    // different token stats, so the written bytes are not the
    // gate's input)
    val violators = graft.queries.Quality.heuristicFlagged(
        spark.read.parquet(s"$dirty/documents.parquet")
          .join(spark.read.parquet(out).select($"doc_id"), Seq("doc_id"))
          .select($"doc_id", $"text"))
      .filter($"f_short" || $"f_long" || $"f_len" || $"f_stop")
      .select($"doc_id").as[Long].collect()
    assert(violators.isEmpty, s"gate skipped under compose: ${violators.toSeq}")
    // and no raw PII byte shipped
    rows.foreach { case (id, text, nPii) =>
      assert(!text.contains("@mail.example.com"), s"doc $id raw PII")
      if (id % 4 == 1) assert(nPii >= 1L, s"doc $id uncounted")
    }
  }

  test("screen-at-ingest then export ≡ all-batch export with gate+scrub on (stream/batch continuity)") {
    import graft.streaming.CurationScreenStream
    // The continuity contract, stated precisely. The screen's gate is
    // the SAME derivation as the export's stage 2c, so the two chains
    // gate identically on any corpus. Whole-corpus equality
    // ADDITIONALLY needs the scrub to commute with the content-fitted
    // middle stages — and it does not on PII-bearing text: masking
    // rewrites tokens ("bob@mail.example.com" is four tokens,
    // "<EMAIL>" is one), so dedup shingles and the adaptive floor's
    // quality quantiles are fit on different bytes and boundary docs
    // genuinely flip. Scrub-at-ingest and scrub-at-export are
    // different corpora at the margin; that is WHY the export keeps
    // its own scrub stage optional. Three pins: (1) on a PII-free
    // corpus (scrub = identity) the chains are byte-equal end to end;
    // (2) on a PII corpus the screen's reject set ≡ the batch gate's
    // drop set, across the foreachBatch boundary; (3) the export's
    // scrub over a pre-screened store is a byte no-op (double-scrub
    // idempotence), so leaving scrubPii on by habit costs nothing.
    val root = tmp("export-cont")
    val schema = org.apache.spark.sql.types.StructType.fromDDL(
      "doc_id LONG, lang STRING, text STRING")

    // ---- pin 1: PII-free corpus (the raw testdata — asserted so) ----
    assert(Tables.documents(spark, sf)
      .filter(graft.queries.Cleaning.piiCount($"text") > 0L).count() == 0L,
      "fixture assumption: raw testdata carries no PII")
    val outA = s"$root/batch"
    CurationExport.run(spark, sf, outA, heuristic = true, scrubPii = true)

    val in = s"$root/in"; val good = s"$root/good"; val rej = s"$root/rej"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in))
    Tables.documents(spark, sf).select($"doc_id", $"lang", $"text")
      .coalesce(1).write.mode("append").parquet(in)
    CurationScreenStream.runOnce(spark, in, good, rej, s"$root/ck", schema)
    // the batch export runs its REMAINING stages over the pre-screened
    // store: heuristic=false (the stream already gated), scrubPii=false
    // (the text is pre-scrubbed)
    val screened = s"$root/screened"
    Tables.documents(spark, sf).drop("text", "n_chars")
      .join(CurationScreenStream.accepted(spark, good)
        .select($"doc_id", $"text"), Seq("doc_id"))
      .withColumn("n_chars", length($"text").cast("bigint"))
      .write.mode("overwrite").parquet(s"$screened/documents.parquet")
    val outB = s"$root/streamed"
    CurationExport.run(spark, screened, outB)

    def corpus(dir: String) = spark.read.parquet(dir)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSet
    val a = corpus(outA); val b = corpus(outB)
    assert(a.nonEmpty, "continuity fixture exported an empty corpus")
    assert(a == b,
      s"screen-at-ingest chain diverged from the all-batch chain: " +
        s"only-batch=${(a -- b).take(3).map(_._1)}, " +
        s"only-stream=${(b -- a).take(3).map(_._1)}")

    // ---- pin 2: PII corpus — gate continuity across the stream ----
    val dirty = s"$root/dirty"
    Tables.documents(spark, sf)
      .withColumn("text",
        when(pmod($"doc_id", lit(4L)) === 1L,
          concat($"text", lit(" contact bob@mail.example.com now")))
          .otherwise($"text"))
      .withColumn("n_chars", length($"text").cast("bigint"))
      .write.mode("overwrite").parquet(s"$dirty/documents.parquet")
    val in2 = s"$root/in2"; val good2 = s"$root/good2"; val rej2 = s"$root/rej2"
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(in2))
    spark.read.parquet(s"$dirty/documents.parquet")
      .select($"doc_id", $"lang", $"text")
      .coalesce(1).write.mode("append").parquet(in2)
    CurationScreenStream.runOnce(spark, in2, good2, rej2, s"$root/ck2", schema)
    val streamRejected = spark.read.parquet(rej2)
      .select($"doc_id").as[Long].collect().toSet
    val batchDropped = graft.queries.Quality.heuristicFlagged(
        spark.read.parquet(s"$dirty/documents.parquet")
          .select($"doc_id", $"lang", $"text"))
      .filter($"f_short" || $"f_long" || $"f_len" || $"f_stop")
      .select($"doc_id").as[Long].collect().toSet
    assert(streamRejected == batchDropped,
      "the screen's reject set must equal the batch gate's drop set")
    assert(streamRejected.nonEmpty, "gate continuity fixture gated nothing")

    // ---- pin 3: double-scrub idempotence over the screened store ----
    val screened2 = s"$root/screened2"
    spark.read.parquet(s"$dirty/documents.parquet").drop("text", "n_chars")
      .join(CurationScreenStream.accepted(spark, good2)
        .select($"doc_id", $"text"), Seq("doc_id"))
      .withColumn("n_chars", length($"text").cast("bigint"))
      .write.mode("overwrite").parquet(s"$screened2/documents.parquet")
    val outP = s"$root/plain2"; val outD = s"$root/double2"
    CurationExport.run(spark, screened2, outP)
    CurationExport.run(spark, screened2, outD, scrubPii = true)
    assert(corpus(outD) == corpus(outP),
      "double scrub must be a byte no-op on masked text")
    assert(corpus(outP).exists(_._2.contains("<EMAIL>")),
      "a masked doc must survive to make the idempotence claim non-vacuous")
  }

  test("jsonl export round-trips the parquet artifact exactly (one document per line)") {
    val root = tmp("export-jsonl")
    val pq = s"$root/pq"; val jl = s"$root/jl"
    val rep1 = CurationExport.run(spark, sf, pq).collect()
    val rep2 = CurationExport.run(spark, sf, jl, format = "jsonl").collect()
    assert(rep1.sameElements(rep2), "per-split reports diverge across formats")
    // full-row equality: same docs, same text bytes, same lineage
    def rows(dir: String, fmt: String) =
      CurationExport.readBack(spark, dir, fmt)
        .select($"doc_id", $"lang", $"text", $"unit_id", $"quality", $"split")
        .as[(Long, String, String, Long, Double, String)]
        .collect().sortBy(_._1)
    val a = rows(pq, "parquet"); val b = rows(jl, "jsonl")
    assert(a.length == b.length && a.sameElements(b),
      "jsonl round-trip diverges from the parquet artifact")
    // the format contract: every data file is valid JSON Lines — as
    // many lines as rows, each parsing independently
    val files = new java.io.File(jl).listFiles().filter(_.getName.startsWith("split="))
      .flatMap(_.listFiles()).filter(_.getName.endsWith(".json"))
    assert(files.nonEmpty, "no .json part files written")
    val lineCount = files.map(f =>
      scala.io.Source.fromFile(f, "UTF-8").getLines().size).sum
    assert(lineCount == a.length,
      s"line count $lineCount != ${a.length} docs — a text newline leaked unescaped")
  }
}
