package graft.perfbench

import scala.collection.mutable
import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** `catalog`: batch analytics over one corpus snapshot — a fixed slice
  * of `SparkEntry.queries` plus the reference's curation pipeline
  * (`EmbedPipeline.embedJob`, then `compactJob`, then
  * `CurationExport.run`, inside which ingest, near-dup labels,
  * quality, mixture and export all run), over seeded testdata-shaped
  * tables. Each query is built, planned (forcing `executedPlan`) and
  * executed (`collect` on the same QueryExecution, so planning is timed
  * once), then the cache is cleared. The seed generates the tables and
  * sets the order of each pass. Whole passes only, so every run times
  * the same mix. */
final class Catalog(val spark: SparkSession, seed: Long, work: String,
                    full: Boolean = false) extends Workload {
  import Catalog._
  private val dir = s"$work/catalog"
  private val tables = s"$dir/tables"
  /** The slice, or with `full` every query of the catalog (the
    * profile run `slice.py` chooses the slice from). */
  private val queries = if (full) graft.SparkEntry.queries.keys.toSeq.sorted else Queries
  private var pass = 0
  private val firstRows = mutable.Map.empty[String, (Array[Row], StructType)]
  private val curations = mutable.ArrayBuffer.empty[Curation]
  // per query of the warm-up pass: wall ms and session-stage build s
  private val warm = mutable.LinkedHashMap.empty[String, (Double, Double)]

  def setup(): Unit = {
    step("generate tables") { new Gen(seed, spark).catalogTables(tables) }
    step("warm-up pass") { runPass(new Tracer(spark, enabled = false), keep = false) }
    curations.clear()
  }

  private def runPass(t: Tracer, keep: Boolean): Seq[Op] = {
    val order = new scala.util.Random(seed * 1000003L + pass).shuffle(queries :+ Curate)
    pass += 1
    order.flatMap(n => if (n == Curate) curate(t) else Seq(runQuery(t, n, keep)))
  }

  private def stageS = graft.ops.SessionStage.buildSecs.values.sum

  private def runQuery(t: Tracer, name: String, keep: Boolean): Op = {
    val stage0 = stageS
    val (ok, cpu) = measured {
      t.span("query", name) {
        try {
          val df = t.span("queries", name) { graft.SparkEntry.queries(name)(spark, tables) }
          val qe = df.asInstanceOf[org.apache.spark.sql.classic.Dataset[_]].queryExecution
          t.span("plans", name) { qe.executedPlan }
          val rows = t.span("exec", name) { df.collect() }
          if (keep && !firstRows.contains(name)) firstRows(name) = (rows, df.schema)
          true
        } catch { case e: Exception =>
          System.err.println(s"[perfbench] $name failed: $e")
          false
        }
      }
    }
    spark.catalog.clearCache()
    if (!keep) warm(name) = (cpu.ms, stageS - stage0)
    Op("read", name, cpu, ok)
  }

  /** One curation run: a write op (embed and export) and a compact op
    * (`compactJob`), each op's CPU taken around its own calls. The
    * near-dup labels are a session-stage memo like the queries' trained
    * stages: set-up's warm-up pass trains them once and every later run
    * reads them, the train-once shape the catalog's memo readers share. */
  private def curate(t: Tracer): Seq[Op] = {
    val fs = new Path(dir).getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$dir/curated"), true)
    def out(name: String) = s"$dir/curated/$name"
    val (c, ops) = t.span("query", Curate) {
      val (rows, embed) = measured(t.span("embed", Curate) {
        graft.pipeline.EmbedPipeline.embedJob(spark, s"$tables/documents.parquet",
          out("emb"), "doc_id", "text", 64, EmbedShardRows)
      })
      val (cs, compact) = measured(t.span("compact_job", Curate) {
        graft.pipeline.EmbedPipeline.compactJob(spark, out("emb"), out("emb_compact"),
          CompactRows)
      })
      val (split, export) = measured(t.span("export", Curate) {
        graft.pipeline.CurationExport.run(spark, tables, out("export")).collect()
      })
      (Curation(rows, cs, split.map(_.getLong(1)).sum, 0L, 0L), Seq(
        Op("write", Curate, embed + export, ok = true),
        Op("compact", Curate, compact, ok = true)))
    }
    spark.catalog.clearCache()
    val files = fs.listFiles(new Path(out("export")), true)
    var n, bytes = 0L
    while (files.hasNext) {
      val f = files.next()
      if (f.getPath.getName.endsWith(".parquet")) { n += 1; bytes += f.getLen }
    }
    curations += c.copy(exportFiles = n, exportBytes = bytes)
    ops
  }

  def loop(t: Tracer, seconds: Double): (Seq[Op], Double) =
    runFor(seconds)(runPass(t, keep = true))

  /** Query results are compared with DuckDB by run.py (a failed query
    * has no result, so its check fails too); here they are only
    * written out. Curation rows must be conserved through embed
    * and compaction, and the export's split counts must add up to the
    * funnel's kept count. */
  def check(): Seq[(String, Boolean)] = {
    Gen.concurrently(firstRows.toSeq.map { case (n, (rows, schema)) => () =>
      spark.createDataFrame(java.util.Arrays.asList(rows: _*), schema)
        .coalesce(1).write.mode("overwrite").parquet(s"$dir/results/$n")
    })
    val docs = spark.read.parquet(s"$tables/documents.parquet").count()
    val kept = graft.pipeline.CurationExport.funnel(spark, tables)
      .agg(sum(col("n_kept"))).collect()(0).getLong(0)
    curations.toSeq.zipWithIndex.flatMap { case (c, i) => Seq(
      s"embed_rows:$i" -> (c.embedRows == docs),
      s"compact_rows:$i" -> (c.compact.rowsIn == docs && c.compact.rowsOut == docs),
      s"export_kept:$i" -> (c.kept == kept)) }
  }

  override def oracle: Map[String, String] =
    queries.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap
  override def oracleTables: String = tables
  override def warmup: java.util.Map[String, Any] = Json.obj(warm.toSeq.map {
    case (n, (ms, stage)) => n -> Json.obj("ms" -> ms, "stage_s" -> stage) }: _*)

  def layers(t: Tracer, ops: Seq[Op], wallS: Double): Map[String, Double] = {
    val reads = ops.filter(_.kind == "read")
    val n = math.max(1, reads.size).toDouble
    val build = t.workOf("queries")
    val perOp = ops.groupBy(o => (o.kind, o.id)).map { case (q, os) => q -> Stats.median(os.map(_.ms)) }
    val packs = Packs.map { case (pack, qs) =>
      s"queries.$pack.ms" -> Stats.mean(reads.filter(o => qs(o.id)).map(_.ms)) }
    val fs = new Path(tables).getFileSystem(spark.sparkContext.hadoopConfiguration)
    val inBytes = fs.getContentSummary(new Path(s"$tables/documents.parquet")).getLength
    val c = curations.last
    val docs = c.embedRows.toDouble
    Map(
      "queries.build_ms" -> build.map(_._1.ms).sum / n,
      "queries.build_jobs" -> build.map(_._2.jobs).sum / n,
      "plans.plan_ms" -> spanMs(t, "plans").sum / n,
      "catalog.pass_s" -> perOp.values.sum / 1000.0,
      "embed.ms" -> Stats.mean(spanMs(t, "embed")),
      "embed.rows" -> docs,
      "compact_job.ms" -> Stats.mean(spanMs(t, "compact_job")),
      "compact_job.files_in" -> c.compact.filesIn.toDouble,
      "compact_job.files_out" -> c.compact.filesOut.toDouble,
      "export.ms" -> Stats.mean(spanMs(t, "export")),
      "export.kept_ratio" -> c.kept / docs,
      "export.files" -> c.exportFiles.toDouble,
      "export.bytes_per_input_byte" -> c.exportBytes.toDouble / inBytes,
      "curate.rows_per_s" -> docs /
        (ops.filter(_.id == Curate).map(_.ms).sum / math.max(1, curations.size) / 1000)
    ) ++ packs
  }
}

object Catalog {
  /** The op id of the curation pipeline within a pass. */
  val Curate = "curation_export"
  val EmbedShardRows = 50
  val CompactRows = 1000

  final case class Curation(embedRows: Long,
                            compact: graft.pipeline.EmbedPipeline.CompactStats,
                            kept: Long, exportFiles: Long, exportBytes: Long)

  /** The query packs, in `SparkEntry.queries` order. */
  val Packs: Seq[(String, Set[String])] = {
    import graft.queries._
    Seq("Relational" -> Relational.queries, "TextVector" -> TextVector.queries,
      "Search" -> Search.queries, "Quality" -> Quality.queries,
      "Clusters" -> Clusters.queries, "Corpus" -> Corpus.queries,
      "Cleaning" -> Cleaning.queries, "Sketch" -> Sketch.queries,
      "Learn" -> Learn.queries, "Graph" -> Graph.queries)
      .map { case (p, qs) => p -> qs.keySet }
  }

  /** A fixed slice of the catalog, one query per pack: the full 181
    * queries take over two minutes a pass on four cores, far more than
    * one benchmark run may take. `slice.py` chose it from a traced pass
    * over the full catalog, as the one-per-pack set whose profile (wall
    * and CPU per query, jobs per query, build / plan / execute shares)
    * is closest to the full catalog's within budgets of wall time and
    * of oracle-check time; see README.md for the comparison. q170
    * builds a session-stage memo in the warm-up pass, so that build
    * shows in `setup_s`. */
  val Queries: Seq[String] = Seq(
    "q15_orders_by_month", // Relational
    "q28_json_props", // TextVector
    "q59_lateral_topk", // Search
    "q56_chunk_explode", // Quality
    "q64_weighted_sample", // Clusters
    "q142_burstiness", // Corpus
    "q171_k_anonymity", // Cleaning
    "q110_adaptive_floor", // Sketch
    "q163_temperature_mix", // Learn
    "q170_triangles") // Graph
}

/** `serve`: closed loop, one client, against stores built in set-up —
  * a `DedupIndex` over a seeded corpus and a `HybridRetrieval` store
  * over a disjoint one. Each cycle drops one seeded delivery (about 5%
  * exact and 5% near duplicates of the corpus's template families)
  * and runs `DedupScreenStream.runOnce` on it (a write op), then one
  * `HybridRetrieval.search` of a fresh query batch (a read op), then
  * `DedupScreenStream.compact` of the index (a compact op). The timed
  * window runs at least `TimedCycles` cycles and a run reports the
  * median op of each kind. Deliveries are written to a staging
  * directory in set-up and only moved into the inbox, so no op counts
  * the client's own writes. */
final class Serve(val spark: SparkSession, seed: Long, work: String) extends Workload {
  import Serve._
  private val dir = s"$work/serve"
  private var root = ""
  private var cycle = 0
  private val delivered = mutable.ArrayBuffer.empty[Long] // delivery first ids
  private val searchOk = mutable.ArrayBuffer.empty[Boolean]
  private val schema = StructType(Seq(StructField("doc_id", LongType), StructField("text", StringType)))
  private def gen = new Gen(seed, spark)

  def setup(): Unit = {
    root = s"$dir/store"
    step("dedup index and hybrid store") {
      Gen.concurrently(Seq(
        () => graft.pipeline.DedupIndex.build(spark,
          gen.docs(0L, IndexDocs).select("doc_id", "text"), s"$root/dedup"),
        () => graft.pipeline.HybridRetrieval.build(spark,
          gen.docs(HybridFirst, HybridDocs).select("doc_id", "text"), s"$root/hybrid")))
    }
    step("stage the deliveries") { Gen.concurrently((0 to TimedCycles).map(c => () => stage(c))) }
    // one untimed cycle, so the timed ones run on warm code paths
    step("warm-up cycle") { runCycle(new Tracer(spark, enabled = false)) }
  }

  private def staged(c: Int) = new Path(s"$root/staged/$c")

  /** Write delivery `c` as one parquet file under the staging directory. */
  private def stage(c: Int): Unit =
    gen.docs(DeliveryFirst + c * DeliveryDocs, DeliveryDocs).select("doc_id", "text")
      .coalesce(1).write.parquet(staged(c).toString)

  private def runCycle(t: Tracer): Seq[Op] = {
    val c = cycle
    cycle += 1
    val fs = staged(c).getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(staged(c))) stage(c)
    val part = fs.listStatus(staged(c)).map(_.getPath).filter(_.getName.endsWith(".parquet"))
    fs.mkdirs(new Path(s"$root/inbox"))
    part.foreach(p => require(fs.rename(p, new Path(s"$root/inbox/delivery-$c-${p.getName}"))))
    delivered += DeliveryFirst + c * DeliveryDocs
    val id = c.toString
    val (_, deliver) = measured {
      t.span("deliver", id) {
        graft.streaming.DedupScreenStream.runOnce(spark, s"$root/inbox", s"$root/dedup",
          s"$root/verdicts", s"$root/checkpoint", schema)
      }
    }
    // the batch arrives as data, as a client's would: generating it
    // inside the op would time the generator's hashing, the client's work
    val queries = {
      val q = gen.queries(c, SearchBatch)
      spark.createDataFrame(java.util.Arrays.asList(q.collect(): _*), q.schema)
    }
    val (rows, search) = measured {
      t.span("search", id) {
        graft.pipeline.HybridRetrieval.search(spark, queries, s"$root/hybrid", k = K).collect()
      }
    }
    searchOk += rows.groupBy(_.getAs[Long]("query_id")).values.forall(_.length <= K)
    val (_, compact) = measured {
      t.span("compact", id) {
        graft.streaming.DedupScreenStream.compact(spark, s"$root/dedup")
      }
    }
    Seq(Op("write", id, deliver, ok = true), Op("read", id, search, ok = true),
      Op("compact", id, compact, ok = true))
  }

  def loop(t: Tracer, seconds: Double): (Seq[Op], Double) =
    runFor(seconds, atLeast = TimedCycles)(runCycle(t))

  /** The median: a run times a few ops of each kind, and one that meets
    * a JIT or GC burst must not move the run's figure. */
  override def cpuPerOp(ops: Seq[Op]): Double = Stats.median(ops.map(_.t.cpuMs))

  def check(): Seq[(String, Boolean)] = {
    val v = spark.read.parquet(s"$root/verdicts").groupBy(col("doc_id")).count()
    val perDoc = v.agg(count(lit(1)), max(col("count")), min(col("count"))).collect()(0)
    val expected = delivered.size.toLong * DeliveryDocs
    Seq("one_verdict_per_doc" -> (perDoc.getLong(0) == expected &&
      perDoc.getLong(1) == 1L && perDoc.getLong(2) == 1L)) ++
      searchOk.zipWithIndex.map { case (ok, i) => s"search_k:$i" -> ok }
  }

  def layers(t: Tracer, ops: Seq[Op], wallS: Double): Map[String, Double] = {
    def prog(k: String) = Stats.median(t.progress.toSeq.flatMap(m => Option(m.get(k)).map(_.toDouble)))
    val deliveries = t.workOf("deliver").map(_._2)
    val searches = t.workOf("search").map(_._2)
    val store = Seq("fingerprints", "shingles", "bands").map(s =>
      graft.ops.StoreCompaction.stats(spark, s"$root/dedup/$s", "run"))
    // the first delivery's hits depend only on the seed
    val hits = spark.read.parquet(s"$root/verdicts/batch=0")
      .filter(col("verdict") =!= "unique").count()
    Map(
      "stream.batch_ms" -> prog("triggerExecution"),
      "stream.planning_ms" -> prog("queryPlanning"),
      "stream.commit_ms" -> prog("commitOffsets"),
      "dedup.screen_jobs" -> Stats.mean(deliveries.map(_.jobs.toDouble)),
      "dedup.hits" -> hits.toDouble,
      "dedup.store_files" -> store.map(_.files).sum.toDouble,
      "dedup.store_bytes" -> store.map(_.bytes).sum.toDouble,
      "hybrid.search_jobs" -> Stats.mean(searches.map(_.jobs.toDouble)),
      "hybrid.search_cpu_ms" -> Stats.mean(searches.map(_.cpuNs / 1e6)),
      "serve.deliver_ms_p50" -> Stats.median(msOf(ops, "write")),
      "serve.search_ms_p50" -> Stats.median(msOf(ops, "read")),
      "serve.compact_s" -> Stats.median(msOf(ops, "compact")) / 1000.0)
  }
}

object Serve {
  val IndexDocs = 10000L
  val HybridFirst = 10000000L
  val HybridDocs = 1000L
  val DeliveryFirst = 20000000L
  val DeliveryDocs = 500L
  val SearchBatch = 10
  val TimedCycles = 3
  val K = 10
}
