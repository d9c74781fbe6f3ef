package graft.pipeline

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** The curation END PRODUCT as a materialized artifact: one job that
  * composes the engine's dedup → quality → mixture → split stages
  * and WRITES the training corpus, instead of answering queries
  * about it (q67 reports the cleaned corpus, q65 the split, q110 the
  * floor, q99 the rates; a training run consumes files). Output
  * layout: parquet partitioned by `split` (train/val/test), one row
  * per surviving document with its near-dup cluster id and quality
  * score attached — the lineage columns an audit needs.
  *
  * Stage shapes (each individually proven by its query twin):
  *   1. near-dup clusters from [[graft.queries.Stages.nearDupLabels]] (the
  *      shared LSH → connected-components label table);
  *   2. keep = cluster representatives only (q67: broadcast drop-set
  *      anti-join — the corpus scan never shuffles);
  *  2b. OPTIONAL benchmark decontamination = q121's n-gram overlap
  *      scan ([[graft.queries.Cleaning.decontaminationAgainst]])
  *      against a caller-supplied (eval_id, etext) benchmark frame;
  *      contaminated docs drop VISIBLY (funnel n_decontam);
  *  2c. OPTIONAL heuristic rule gate = q134's C4/Gopher-style hard
  *      cuts ([[graft.queries.Quality.heuristicFlagged]]), applied
  *      BEFORE the statistical floor so the corpus's own quantiles
  *      are never fit on rule-violating junk; funnel n_heuristic;
  *   3. quality floor = the ADAPTIVE per-domain p20 threshold
  *      (q110's [[graft.queries.Sketch.adaptiveFloorThresholds]]
  *      stage — the corpus's own quantiles, not a fixed constant;
  *      token-less docs are out of scope of a quality floor and of a
  *      training corpus, so the quality stage drops them);
  *  3b. OPTIONAL probe score = the trained-classifier filter
  *      (FineWeb-Edu's actual curation step: a linear probe on
  *      frozen embeddings scores every doc and curation keeps the
  *      high scorers — q98's trained head, persisted via
  *      [[ProbeTrainer.save]]): score the corpus embeddings with
  *      the stored head, keep docs predicted into `keepClasses`
  *      with confidence ≥ `minScore`; a doc with no embedding row
  *      is OUT of a classifier stage's scope and drops VISIBLY
  *      (the funnel's n_probe accounts for it). The kept score
  *      rides along as the `probe_score` lineage column (null when
  *      the stage is off);
  *   4. mixture = [[MixtureMaintenance.decideWith]] keep verdicts —
  *      rates from the maintained store when `mixtureDir` is given
  *      (the production path: ingest maintains, export consumes), or
  *      derived from THIS corpus's own quality survivors through the
  *      shared [[graft.queries.Learn.temperedRates]] stage (the q100
  *      funnel semantics) when the export runs self-contained;
  *   5. split = hash of the CLUSTER id, 80/10/10 (q65: no near-dup
  *      pair ever straddles train/test);
  *  5b. OPTIONAL PII scrub = q124's masks applied to the text that
  *      lands on disk (a transform, not a drop — counts unchanged;
  *      the per-doc masked-span count exports as `n_pii`);
  *   6. write partitioned by split — static overwrite, so re-running
  *      the export is idempotent.
  *
  * [[funnel]] publishes the q100-style per-domain report (raw →
  * dedup → quality → kept) from the SAME stage chain, so the written
  * artifact and the run report cannot disagree — ExportSpec
  * reconciles the corpus on disk against it.
  *
  * At 100 TB: one corpus scan for the label stage (shared, not
  * per-consumer), one for the export; everything between is id-width
  * (thresholds and rates are O(domains) broadcasts, mixture verdicts
  * shuffle (doc_id, lang, hash) only). */
object CurationExport {

  private val HashMod = 1000000007L
  private val PermMult = 2654435761L

  /** Configuration of the optional stage-3b classifier filter: a
    * head persisted by [[ProbeTrainer.save]] under `dir`; keep docs
    * whose predicted class is in `keepClasses` with confidence
    * (predicted-class softmax probability, 6-dp) ≥ `minScore`. */
  case class ProbeStage(dir: String, keepClasses: Set[Int],
                        minScore: Double = 0.0)

  /** The shared stage chain. `reps` = cluster representatives with
    * quality/lineage columns (persisted — feeds the threshold
    * sample, the floor filter, and the funnel's dedup count);
    * `decon` = decontamination survivors (≡ reps when no eval set —
    * stage 2b below); `surv` = quality survivors (persisted — feeds
    * the write and the funnel); `probed` = probe-stage survivors
    * (≡ surv with a null probe_score when the stage is off; feeds
    * the rate aggregate and the verdict join — mixture rates are
    * computed over what actually ENTERS the mixture stage); `kept`
    * = mixture survivors. Callers release via [[Stages#unpersist]]. */
  private case class Stages(reps: DataFrame, decon: DataFrame,
                            gated: DataFrame, surv: DataFrame,
                            probed: DataFrame, kept: DataFrame) {
    def unpersist(): Unit = { reps.unpersist(); surv.unpersist() }
  }

  private def build(spark: SparkSession, sfDir: String,
                    mixtureDir: Option[String],
                    probe: Option[ProbeStage],
                    evalSet: Option[DataFrame],
                    heuristic: Boolean): Stages = {
    val labels = graft.queries.Stages.nearDupLabels.get(spark, sfDir)
    val drop = labels.filter(col("id") =!= col("label"))
      .select(col("id").as("doc_id"))
    val clusters = labels.select(col("id").as("doc_id"), col("label").as("cluster_id"))

    // cluster representatives, scored by the fused TextStats kernel
    // (one codegen pass)
    val reps = graft.Tables.documents(spark, sfDir)
      .join(drop, Seq("doc_id"), "left_anti")
      .join(clusters, Seq("doc_id"), "left")
      .withColumn("unit_id", coalesce(col("cluster_id"), col("doc_id")))
      .withColumn("st", graft.ops.expressions.TextStats(col("text")))
      .select(col("doc_id"), col("lang"), col("text"), col("unit_id"),
        col("st").getField("quality").as("quality"),
        col("st").getField("n_tokens").as("n_tok"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 2b: benchmark DECONTAMINATION (q121's scan — GPT-3
    // appendix C: a doc sharing a long n-gram with the eval suite is
    // dropped BEFORE training). One shingle pass over the
    // representatives against the broadcast eval hashes; the
    // contaminated id set is bounded by real contamination, so it
    // localCheckpoints (id-width) and anti-joins — visible in the
    // funnel as n_decontam, never a silent drop.
    val decon = evalSet match {
      case None => reps
      case Some(ev) =>
        val bad = graft.queries.Cleaning
          .decontaminationAgainst(reps.select(col("doc_id"), col("text")), ev)
          .select(col("doc_id")).distinct().localCheckpoint()
        reps.join(bad, Seq("doc_id"), "left_anti")
    }

    // stage 2c: OPTIONAL heuristic rule gate (q134's family — C4/
    // Gopher-style hard cuts BEFORE the statistical floor, the
    // production curation order: rules prune the junk the corpus's
    // own quantiles should never be fit on). Row-level flags from
    // the SAME shared derivation the q134 report rolls up, one
    // codegen pass, no shuffle; dropped docs stay visible as the
    // funnel's n_heuristic.
    val gated =
      if (!heuristic) decon
      else graft.queries.Quality.heuristicFlagged(decon)
        .filter(!col("f_short") && !col("f_long") &&
          !col("f_len") && !col("f_stop"))
        .drop("__n_tok", "f_short", "f_long", "f_len", "f_stop")

    val inScope = gated.filter(col("n_tok") > 0L)
    val thr = graft.queries.Sketch.adaptiveFloorThresholds(
      inScope.select(col("lang"), col("doc_id"), col("quality")))
    val surv = inScope
      .join(broadcast(thr), Seq("lang"))
      .filter(col("quality") >= col("thr"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

    // stage 3b: classifier filter over the corpus embeddings — an
    // id-width (doc_id, pred, score) pass joined back on doc_id; the
    // corpus text never reaches the probe
    val probed = probe match {
      case None => surv.withColumn("probe_score", lit(null).cast("double"))
      case Some(p) =>
        val w = ProbeTrainer.load(spark, p.dir)
        val scored = ProbeTrainer
          .score(graft.Tables.embeddings(spark, sfDir)
            .select(col("vec_id"), col("embedding")), w)
          .select(col("vec_id").as("doc_id"), col("pred"), col("score"))
        surv.join(scored, Seq("doc_id")) // unscored docs: out of scope
          .filter(col("pred").isin(p.keepClasses.toSeq.map(Int.box): _*) &&
            col("score") >= p.minScore)
          .withColumn("probe_score", col("score"))
          .drop("pred", "score")
    }

    val rates = mixtureDir match {
      case Some(d) => MixtureMaintenance.currentRates(spark, d)
      case None => graft.queries.Learn.temperedRates(
        probed.groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("n_tokens")))
    }
    val keep = MixtureMaintenance
      .decideWith(probed.select(col("doc_id"), col("lang"), col("text")), rates)
      .filter(col("keep")).select(col("doc_id"))
    Stages(reps, decon, gated, surv, probed, probed.join(keep, Seq("doc_id")))
  }

  /** Run the export; returns per-split counts (the run report).
    * `mixtureDir`: an existing [[MixtureMaintenance]] store to take
    * tempered rates from; None derives rates from this corpus's own
    * quality survivors (class doc, stage 4). `format`: "parquet"
    * (default — typed, splittable, the training stack's native
    * input) or "jsonl" (JSON Lines, one document per line — the
    * pretraining-corpus interchange format; Spark's json sink
    * escapes embedded newlines/quotes/unicode, so a document is
    * ALWAYS exactly one line and a round-trip read reproduces the
    * text byte-for-byte — ExportSpec pins it). Both lay out
    * `split=` partition dirs. */
  def run(spark: SparkSession, sfDir: String, outDir: String,
          mixtureDir: Option[String] = None,
          format: String = "parquet",
          probe: Option[ProbeStage] = None,
          evalSet: Option[DataFrame] = None,
          heuristic: Boolean = false,
          scrubPii: Boolean = false,
          targetFileBytes: Option[Long] = None): DataFrame = {
    require(format == "parquet" || format == "jsonl",
      s"unsupported export format '$format' (parquet | jsonl)")
    val st = build(spark, sfDir, mixtureDir, probe, evalSet, heuristic)
    val h = pmod(col("unit_id"), lit(HashMod)) * lit(PermMult) % lit(HashMod)
    // stage 5b: OPTIONAL PII scrub (q124's masks — emails/phones →
    // typed placeholders) applied to the text that lands on disk; a
    // scrub is a TRANSFORM, not a drop, so counts are unchanged and
    // the per-doc masked-span count rides along as the n_pii lineage
    // column (null when the stage is off — probe_score's convention).
    // Masking the KEPT rows only: every upstream stage (quality
    // score, dedup fingerprints, mixture hash) saw the original
    // bytes, and only the exported artifact is scrubbed.
    val scrubbed =
      if (scrubPii) st.kept
        .withColumn("n_pii", graft.queries.Cleaning.piiCount(col("text")))
        .withColumn("text", graft.queries.Cleaning.piiMasked(col("text")))
      else st.kept.withColumn("n_pii", lit(null).cast("bigint"))
    val kept = scrubbed
      .withColumn("split",
        when(pmod(h, lit(10L)) < 8, "train")
          .when(pmod(h, lit(10L)) === 8, "val")
          .otherwise("test"))
      .select(col("doc_id"), col("lang"), col("text"), col("unit_id"),
        col("quality"), col("probe_score"), col("n_pii"), col("split"))

    // §6 output sizing: a caller-set maxRecordsPerFile alone is a ROW
    // bound, blind to how many bytes a row costs, so file sizes drift
    // with the corpus. Target BYTES per file instead: rows-per-file derives from the
    // target divided by the input corpus's measured parquet
    // bytes/row (footer metadata + file lengths — no data pass), and
    // a REBALANCE-by-split hint lets AQE coalesce/split the write-side
    // partitions so small files don't multiply per task (guide §6:
    // aim 128 MB–1 GB; default target 128 MiB, override with
    // `spark.graft.export.targetFileBytes` or the parameter). The
    // estimate is parquet-to-parquet; jsonl files land larger by the
    // format's expansion factor — bound, not exact (documented).
    val target = targetFileBytes.getOrElse(
      spark.conf.getOption("spark.graft.export.targetFileBytes")
        .map(_.toLong).getOrElse(128L * 1024 * 1024))
    // floor of 16 rows/file: a degenerate bytes/row estimate (or a
    // toy target) must not shatter the export into near-empty files;
    // any production target (≥128 MiB) with real rows sits far above
    val rowsPerFile =
      math.max(16L, (target / parquetBytesPerRow(spark, sfDir)).toLong)
    val sized = kept.hint("rebalance", col("split"))
    val key = "spark.sql.files.maxRecordsPerFile"
    val prev = spark.conf.get(key, "0")
    spark.conf.set(key, rowsPerFile)
    try {
      val w = sized.write.partitionBy("split").mode("overwrite")
        .option("partitionOverwriteMode", "static")
      if (format == "jsonl") w.json(outDir) else w.parquet(outDir)
    } finally spark.conf.set(key, prev)
    st.unpersist()

    readBack(spark, outDir, format)
      .groupBy(col("split")).agg(count(lit(1)).as("n_docs"))
      .orderBy(col("split"))
  }

  /** The q100-style per-domain funnel report for an export
    * configuration: (lang, n_raw, n_dedup, n_decontam, n_heuristic,
    * n_quality, n_probe, n_kept), computed from the SAME stage chain
    * [[run]] writes with. n_raw counts the corpus, n_dedup the
    * cluster representatives (q67's number), n_decontam the
    * benchmark-decontamination survivors (≡ n_dedup when no eval
    * set), n_heuristic the rule-gate survivors (≡ n_decontam when
    * the gate is off), n_quality the adaptive-floor survivors,
    * n_probe the classifier-stage survivors (≡ n_quality when the
    * stage is off), n_kept the mixture survivors — what lands on
    * disk. */
  def funnel(spark: SparkSession, sfDir: String,
             mixtureDir: Option[String] = None,
             probe: Option[ProbeStage] = None,
             evalSet: Option[DataFrame] = None,
             heuristic: Boolean = false): DataFrame = {
    val st = build(spark, sfDir, mixtureDir, probe, evalSet, heuristic)
    val raw = graft.Tables.documents(spark, sfDir)
      .groupBy(col("lang")).agg(count(lit(1)).as("n_raw"))
    val out = raw
      .join(st.reps.groupBy(col("lang")).agg(count(lit(1)).as("n_dedup")),
        Seq("lang"), "left")
      .join(st.decon.groupBy(col("lang")).agg(count(lit(1)).as("n_decontam")),
        Seq("lang"), "left")
      .join(st.gated.groupBy(col("lang")).agg(count(lit(1)).as("n_heuristic")),
        Seq("lang"), "left")
      .join(st.surv.groupBy(col("lang")).agg(count(lit(1)).as("n_quality")),
        Seq("lang"), "left")
      .join(st.probed.groupBy(col("lang")).agg(count(lit(1)).as("n_probe")),
        Seq("lang"), "left")
      .join(st.kept.groupBy(col("lang")).agg(count(lit(1)).as("n_kept")),
        Seq("lang"), "left")
      .select(col("lang"),
        col("n_raw"),
        coalesce(col("n_dedup"), lit(0L)).as("n_dedup"),
        coalesce(col("n_decontam"), lit(0L)).as("n_decontam"),
        coalesce(col("n_heuristic"), lit(0L)).as("n_heuristic"),
        coalesce(col("n_quality"), lit(0L)).as("n_quality"),
        coalesce(col("n_probe"), lit(0L)).as("n_probe"),
        coalesce(col("n_kept"), lit(0L)).as("n_kept"))
      .orderBy(col("lang"))
    // materialize before releasing the stage persists the plan reads
    val rows = out.collect()
    st.unpersist()
    spark.createDataFrame(
      spark.sparkContext.parallelize(rows.toIndexedSeq), out.schema)
  }

  /** Measured parquet bytes per row of the corpus under `sfDir` —
    * the write-sizing denominator. Footer/row-count metadata and file
    * lengths only; the export's rows are the documents table's minus
    * drops plus a few narrow lineage columns, so the input's ratio is
    * the right order-of-magnitude estimator without a data pass. */
  private def parquetBytesPerRow(spark: SparkSession, sfDir: String): Double = {
    val path = s"$sfDir/documents.parquet"
    val df = spark.read.parquet(path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val bytes = df.inputFiles.map(f =>
      fs.getFileStatus(new org.apache.hadoop.fs.Path(new java.net.URI(f))).getLen).sum
    val rows = df.count() // parquet metadata read, no data scan
    if (rows <= 0L || bytes <= 0L) 1024.0 else bytes.toDouble / rows
  }

  /** Read a written export (the report path above; also the
    * consumer-side entry point — jsonl reads pin the export's schema
    * instead of inferring, so doc ids stay LONG and a corrupt line
    * fails loudly rather than widening every column to string). */
  def readBack(spark: SparkSession, outDir: String,
               format: String = "parquet"): DataFrame =
    if (format == "jsonl")
      spark.read
        .schema("doc_id LONG, lang STRING, text STRING, unit_id LONG, " +
          "quality DOUBLE, probe_score DOUBLE, n_pii LONG, split STRING")
        .option("mode", "FAILFAST").json(outDir)
    else spark.read.parquet(outDir)
}
