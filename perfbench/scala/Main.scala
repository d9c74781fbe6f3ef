package graft.perfbench

import scala.collection.mutable
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

/** The benchmark's JVM side: sets up one workload from a seed, runs
  * it closed-loop with one client thread for a fixed time, and writes
  * a JSON record (metrics, attempted/failed counts, check results,
  * contamination telemetry) for `run.py`, which adds the DuckDB oracle
  * check and prints the result line.
  *
  * Usage: Main --workload W --seed N --seconds S --trace 0|1
  *             --work DIR --out FILE [--plant LAYER:MS]
  */
object Main {
  val Cores = 4

  /** `f`'s result and its wall time in ms. */
  def timed[A](f: => A): (A, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e6)
  }

  /** `f`'s result, its wall time, the program's CPU time while it ran
    * (every thread but the JIT, GC and VM threads), that of the whole
    * process, and the CPU time of the reference computation run just
    * before and just after it, all in ms. */
  def measured[A](f: => A): (A, Cpu) = {
    def sample() = (Telemetry.processCpuS(), Telemetry.jvmThreadCpuMs())
    val ref0 = Reference.cpuMs()
    val cpu0 = sample()
    val (r, ms) = timed(f)
    val cpu1 = sample()
    val ref1 = Reference.cpuMs()
    (r, Cpu(ms, Telemetry.programCpuMs(cpu0, cpu1), (cpu1._1 - cpu0._1) * 1000, Seq(ref0, ref1)))
  }

  def main(argv: Array[String]): Unit = {
    val a = argv.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    val workload = a("workload")
    val work = a("work")
    val tele0 = Telemetry.sample()
    val (spark, sessionMs) = timed(session(work))
    if (workload == "archive") return archive(spark, work)
    val sessionS = sessionMs / 1000
    val seed = a("seed").toLong
    val seconds = a("seconds").toDouble
    val trace = a("trace") == "1"
    val plant = a.get("plant").map { p =>
      val Array(l, ms) = p.split(':'); l -> ms.toLong }

    val w: Workload = workload match {
      case "catalog" => new Catalog(spark, seed, work, full = a.contains("full-catalog"))
      case "serve"   => new Serve(spark, seed, work)
      case other => throw new IllegalArgumentException(s"unknown workload $other")
    }
    val setupS = sessionS + timed(w.setup())._2 / 1000

    // a traced run is a separate run: its per-layer numbers, against
    // an untraced run's, also give the tracing overhead
    val tracer = new Tracer(spark, enabled = trace, plant)
    val (ops, loopS) = w.loop(tracer, seconds)
    tracer.drain()
    // the ops' own wall time: the loop's also has the reference
    // computations and the client's work between ops
    val wallS = ops.map(_.ms).sum / 1000

    // end-to-end: CPU per operation of each kind, each op's CPU taken
    // around its own call only, in units of the reference computation's
    // CPU in this run: the median of the samples taken beside the ops
    val refMs = Stats.median(ops.flatMap(_.t.refs))
    def cpuOf(kind: String) = w.cpuPerOp(ops.filter(_.kind == kind)) / refMs
    val metrics: Seq[(String, Double, String)] =
      if (!trace) ("setup_s", setupS, "s") +: Op.Kinds.map(k => (s"${k}_cpu_ref", cpuOf(k), "ref"))
      else {
        val got = w.common(tracer, ops, wallS) ++ w.layers(tracer, ops, wallS) +
          ("trace.op_ms" -> Stats.median(ops.map(_.ms)))
        val unknown = got.keySet -- Layers.All.map(_._1)
        require(unknown.isEmpty, s"layer metrics missing from Layers.All: $unknown")
        // a layer the workload does not exercise reports 0
        Layers.All.map { case (n, u) =>
          (n, got.get(n).filterNot(_.isNaN).getOrElse(0.0), u) }
      }
    // output checks run after the timed window and after its metrics
    val (checks, checkMs) = timed(w.check())
    System.err.println(f"[perfbench] output checks: ${checkMs / 1000}%.2f s")
    val failedOps = ops.count(!_.ok)
    val tele1 = Telemetry.sample()

    Json.write(a("out"), Json.obj(
      "workload" -> workload,
      "seed" -> seed,
      "ops" -> ops.size,
      "op_ms" -> Json.arr(ops.map(o => Json.obj("kind" -> o.kind, "id" -> o.id,
        "ms" -> o.ms, "cpu_ms" -> o.t.cpuMs, "process_cpu_ms" -> o.t.processCpuMs, "ref_ms" -> o.t.refMs))),
      "ref_ms_median" -> refMs,
      "failed_ops" -> failedOps,
      "session_s" -> sessionS,
      "loop_wall_s" -> loopS,
      "ops_wall_s" -> wallS,
      "metrics" -> Json.obj(metrics.map { case (n, v, u) =>
        n -> Json.obj("value" -> Json.num(v), "unit" -> u) }: _*),
      "checks" -> Json.obj(checks: _*),
      "oracle" -> Json.obj(w.oracle.toSeq.sortBy(_._1): _*),
      "oracle_tables" -> w.oracleTables,
      "warmup" -> w.warmup,
      "packs" -> Json.obj(Catalog.Packs.map { case (p, qs) => p -> Json.arr(qs.toSeq.sorted) }: _*),
      "telemetry" -> Json.obj("start" -> tele0.json, "end" -> tele1.json),
      "spans" -> Json.arr(tracer.records)))
    val (_, stopMs) = timed(spark.stop())
    System.err.println(f"[perfbench] session stop: ${stopMs / 1000}%.2f s")
  }

  def session(work: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$Cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", Cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.local.dir", s"$work/local")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    spark
  }

  /** The start-up run the class-data archive is recorded from: a
    * session plus a small parquet round trip, join and aggregate. */
  private def archive(spark: SparkSession, work: String): Unit = {
    val d = new Gen(0L, spark).docs(0L, 1000L)
    d.write.mode("overwrite").parquet(s"$work/docs")
    val r = spark.read.parquet(s"$work/docs")
    r.join(r.groupBy("lang").count(), "lang").groupBy("source").agg(sum("count")).collect()
    spark.stop()
  }
}

/** Wall time, program CPU time and process CPU time of one measured
  * call, and the CPU times of the reference computations run beside
  * it, in ms. */
final case class Cpu(ms: Double, cpuMs: Double, processCpuMs: Double, refs: Seq[Double]) {
  def +(o: Cpu): Cpu = Cpu(ms + o.ms, cpuMs + o.cpuMs, processCpuMs + o.processCpuMs, refs ++ o.refs)
  /** The reference's CPU ms around this call. */
  def refMs: Double = Stats.mean(refs)
}

/** One timed operation of a workload's loop. */
final case class Op(kind: String, id: String, t: Cpu, ok: Boolean) {
  def ms: Double = t.ms
}

object Op {
  /** The operation kinds every workload runs; each gives one
    * end-to-end metric, `<kind>_cpu_ref`. */
  val Kinds: Seq[String] = Seq("read", "write", "compact")
}

/** A workload: set-up, a timed closed loop, and output checks run
  * after the loop (outside the timed region). */
trait Workload {
  val spark: SparkSession
  def setup(): Unit
  /** Run operations until `seconds` have passed; returns the ops and
    * the loop's wall seconds. */
  def loop(t: Tracer, seconds: Double): (Seq[Op], Double)
  def check(): Seq[(String, Boolean)]
  /** The program CPU ms of one op kind from its ops in the timed
    * window: by default their mean (a catalog pass's queries are
    * distinct operations, so their mean is CPU per query). */
  def cpuPerOp(ops: Seq[Op]): Double = Stats.mean(ops.map(_.t.cpuMs))
  /** Per-layer metrics from a traced window. */
  def layers(t: Tracer, ops: Seq[Op], wallS: Double): Map[String, Double]
  /** Query name -> DuckDB SQL whose result must equal the dumped
    * Spark result (empty for workloads without an oracle). */
  def oracle: Map[String, String] = Map.empty
  def oracleTables: String = ""
  /** What set-up's warm-up measured, for the run record. */
  def warmup: java.util.Map[String, Any] = Json.obj()

  /** Run one set-up step, logging its wall time to stderr. */
  protected def step[A](name: String)(f: => A): A = {
    val (r, ms) = timed(f)
    System.err.println(f"[perfbench] set-up $name: ${ms / 1000}%.2f s")
    r
  }

  protected def timed[A](f: => A): (A, Double) = Main.timed(f)
  protected def measured[A](f: => A): (A, Cpu) = Main.measured(f)

  /** Call `next` until `seconds` have passed and it has run at least
    * `atLeast` times. */
  protected def runFor(seconds: Double, atLeast: Int = 1)(next: => Seq[Op]): (Seq[Op], Double) = {
    val ops = mutable.ArrayBuffer.empty[Op]
    val t0 = System.nanoTime()
    var n = 0
    do { ops ++= next; n += 1 }
    while (n < atLeast || (System.nanoTime() - t0) / 1e9 < seconds)
    (ops.toSeq, (System.nanoTime() - t0) / 1e9)
  }

  /** The layer metrics every workload reports: scheduler, executor
    * and shuffle counters per operation, and the session-stage
    * registry. Workload-specific layers fill in the rest; a layer a
    * workload does not exercise reports 0. */
  def common(t: Tracer, ops: Seq[Op], wallS: Double): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val all = t.total
    val stages = graft.ops.SessionStage.buildSecs
    Map(
      "tables.schema_jobs" -> t.tablesJobs / n,
      "tables.schema_ms" -> t.tablesJobMs / n,
      "plans.broadcast_bytes" -> t.broadcastBytes / n,
      "sched.jobs" -> all.jobs / n,
      "sched.stages" -> all.stages / n,
      "sched.tasks" -> all.tasks / n,
      "exec.task_cpu_ms" -> all.cpuNs / 1e6 / n,
      "exec.task_run_ms" -> all.runMs / n,
      "exec.gc_ms" -> all.gcMs / n,
      "exec.util" -> all.cpuNs / 1e9 / (wallS * Main.Cores),
      "shuffle.write_bytes" -> all.shuffleWrite / n,
      "shuffle.read_bytes" -> all.shuffleRead / n,
      "shuffle.fetch_wait_ms" -> all.fetchWaitMs / n,
      "spill.bytes" -> all.spill / n,
      "stage.build_s" -> stages.values.sum,
      "stage.builds" -> stages.size.toDouble,
      "mem.peak_rss_mb" -> Telemetry.peakRssMb())
  }

  protected def msOf(ops: Seq[Op], kind: String): Seq[Double] =
    ops.filter(_.kind == kind).map(_.ms)

  protected def spanMs(t: Tracer, layer: String): Seq[Double] =
    t.spans.filter(_.layer == layer).map(_.ms).toSeq
}

/** Every per-layer metric with its unit, in report order — the list
  * BENCHMARK.json's `per_layer` mirrors (selftest.py checks both
  * ways). "op" is one timed operation of any kind (`Op.Kinds`): a
  * query, a curation run's embed-and-export or its compaction
  * (catalog); a delivery, a search batch or the compaction (serve). */
object Layers {
  val All: Seq[(String, String)] = Seq(
    "tables.schema_jobs" -> "jobs/op", "tables.schema_ms" -> "ms/op",
    "queries.build_ms" -> "ms/query", "queries.build_jobs" -> "jobs/query") ++
    Catalog.Packs.map { case (p, _) => s"queries.$p.ms" -> "ms/query" } ++ Seq(
    "plans.plan_ms" -> "ms/query", "plans.broadcast_bytes" -> "B/op",
    "sched.jobs" -> "jobs/op", "sched.stages" -> "stages/op", "sched.tasks" -> "tasks/op",
    "exec.task_cpu_ms" -> "ms/op", "exec.task_run_ms" -> "ms/op", "exec.gc_ms" -> "ms/op",
    "exec.util" -> "ratio",
    "shuffle.write_bytes" -> "B/op", "shuffle.read_bytes" -> "B/op",
    "shuffle.fetch_wait_ms" -> "ms/op", "spill.bytes" -> "B/op",
    "stage.build_s" -> "s", "stage.builds" -> "count", "mem.peak_rss_mb" -> "MB",
    "embed.ms" -> "ms", "embed.rows" -> "rows",
    "compact_job.ms" -> "ms", "compact_job.files_in" -> "files",
    "compact_job.files_out" -> "files",
    "export.ms" -> "ms", "export.kept_ratio" -> "ratio", "export.files" -> "files",
    "export.bytes_per_input_byte" -> "ratio",
    "stream.batch_ms" -> "ms", "stream.planning_ms" -> "ms", "stream.commit_ms" -> "ms",
    "dedup.screen_jobs" -> "jobs/delivery", "dedup.hits" -> "docs",
    "dedup.store_files" -> "files", "dedup.store_bytes" -> "B",
    "hybrid.search_jobs" -> "jobs/search", "hybrid.search_cpu_ms" -> "ms/search",
    "catalog.pass_s" -> "s", "curate.rows_per_s" -> "1/s",
    "serve.deliver_ms_p50" -> "ms", "serve.search_ms_p50" -> "ms", "serve.compact_s" -> "s",
    "trace.op_ms" -> "ms")
}
