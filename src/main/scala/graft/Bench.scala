package graft

import scala.collection.immutable.ListMap
import scala.collection.mutable
import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.module.scala.DefaultScalaModule

/** Driver-run benchmark: per-query and total seconds over
  * SPARK_GRAFT_SF_DIR, printed as the two JSON lines of [[Report]].
  *
  * Methodology:
  *   - one untimed warmup pass over every query (JIT, codegen cache,
  *     parquet footer cache, SessionStage memos), so no query absorbs
  *     another's warmup;
  *   - then 3 timed passes per query, report the MEDIAN;
  *   - action = `foreach(_ => ())`: materializes every output row
  *     (unlike count(), which lets Spark skip project/sort work);
  *   - the [[Gate]] keeps a busy machine from being measured.
  */
object Bench {

  /** 1-minute load average, or -1 where /proc is unavailable. */
  private def loadAvg(): Double =
    try java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/loadavg"))
      .split("\\s+")(0).toDouble
    catch { case _: Throwable => -1.0 }

  /** Aggregate (total, steal) jiffies from /proc/stat's first line.
    * Steal is the contamination the loadavg CANNOT see: on a
    * virtualized host a busy neighbor steals guest cycles while guest
    * loadavg stays low — measured here as identical-code bench totals
    * swinging 45 → 60 s with load_before < 1.5. */
  private def cpuStat(): (Long, Long) =
    try {
      val f = java.nio.file.Files.readString(java.nio.file.Paths.get("/proc/stat"))
        .linesIterator.next().trim.split("\\s+").drop(1).map(_.toLong)
      (f.sum, if (f.length > 7) f(7) else 0L)
    } catch { case _: Throwable => (0L, 0L) }

  /** Steal percentage of the CPU time since a [[cpuStat]] reading, or
    * -1 when none elapsed. */
  private def stealPctSince(since: (Long, Long)): Double = {
    val (total, steal) = cpuStat()
    if (total > since._1) 100.0 * (steal - since._2) / (total - since._1) else -1.0
  }

  /** One measured query: median of its passes (-1 = failed), the
    * noisy flag, and the raw-pass min/max (its rep spread). */
  private[graft] case class Q(name: String, median: Double, noisy: Boolean,
                              lo: Double, hi: Double)

  /** One timed phase's measurements plus the contamination telemetry
    * bracketing it (steal fraction, 1-minute loadavg at phase
    * start/end). */
  private[graft] case class Attempt(results: Seq[Q],
      stealPct: Double, loadStart: Double, loadEnd: Double) {
    /** Failures excluded — a -1 sentinel must not make a partially
      * failing attempt look like the "cleaner" one. */
    def total: Double = results.collect { case q if q.median >= 0 => q.median }.sum
  }

  /** The contamination gate, before and after measuring. `force`
    * (--force or GRAFT_BENCH_FORCE=1) skips the waits; the recorded
    * load fields still expose the number's quality. */
  private[graft] case class Gate(waitSecs: Long = 600, force: Boolean = false,
      read: () => Double = () => loadAvg(), sleepMs: Long = 10000) {
    /** The 1-minute loadavg a phase may start at. The reading at JVM
      * start includes this process's own sbt/JVM start-up (a clean
      * run read 2.67), which decays while the process idles, so
      * [[admit]] waits for it rather than refusing outright. */
    val load = 2.0
    /** A timed phase whose loadavg rose by more than this, or ended
      * above `load` + 0.5, ran beside another workload. This process's
      * own local[4] work adds about 0.4 (a clean run: 1.99 → 2.37), so
      * a clean run trips neither; a mid-run co-tenant (2.55 → 5.21,
      * zero steal) inflated a total by 21%. */
    val rise = 1.0
    /** A timed phase above this steal percentage lost cycles to the
      * hypervisor (4.2% at load 1.98 inflated a total by 13%); the load
      * gate cannot see that coming. */
    val steal = 2.0

    /** Wait-or-refuse, for the start and for the noisy re-measure: idle
      * until the loadavg decays to `load`, giving up after `waitSecs`.
      * Right(reading) = go (also when forced, or when /proc is
      * unreadable: -1); Left(reading) = still busy at the deadline,
      * and `refusal` names what the caller does instead. */
    def admit(phase: String, refusal: String, first: Double = read()): Either[Double, Double] = {
      var l = first
      if (force || l <= load) return Right(l)
      System.err.println(f"[bench] $phase: loadavg $l%.2f > $load%.1f — waiting up to " +
        s"${waitSecs}s for the machine to go idle.")
      val deadline = System.nanoTime() + waitSecs * 1000000000L
      while (l > load && System.nanoTime() < deadline) {
        Thread.sleep(sleepMs)
        l = read()
      }
      if (l <= load) {
        System.err.println(f"[bench] $phase: loadavg decayed to $l%.2f — proceeding.")
        Right(l)
      } else {
        System.err.println(f"[bench] $phase: loadavg still $l%.2f after ${waitSecs}s — " +
          s"another workload is active; $refusal. Pass --force (or " +
          "GRAFT_BENCH_FORCE=1) to measure anyway.")
        Left(l)
      }
    }

    def stealDirty(a: Attempt): Boolean = a.stealPct > steal
    def loadDirty(a: Attempt): Boolean = a.loadStart >= 0 && a.loadEnd >= 0 &&
      (a.loadEnd - a.loadStart > rise || a.loadEnd > load + 0.5)
    /** A contaminated timed phase is re-measured once. */
    def dirty(a: Attempt): Boolean = stealDirty(a) || loadDirty(a)

    /** The attempt a re-measure keeps: the clean one over a dirty one,
      * and between equals the lower total (contamination only ever
      * inflates). */
    def keep(first: Attempt, second: Attempt): Attempt =
      if (dirty(first) != dirty(second)) { if (dirty(first)) second else first }
      else if (second.total < first.total) second else first
  }

  /** Best-of-2 re-measure of the noisy-flagged queries. Slot-local
    * contention can inflate all of a slot's passes together, so each
    * flagged query is measured once more at a different point in the
    * session and keeps the MIN of the two medians, with the union of
    * both slots' spreads. The gate runs FIRST — before `onStart`'s
    * telemetry bracket and before any re-measure — and a busy machine
    * SKIPS the whole phase, keeping the first-slot values (at worst
    * pessimistic, never flattering). No live noisy query → the gate
    * is not even consulted. Returns (results, first/second medians
    * per re-measured query, gateSkipped). */
  private[graft] def rerunNoisyPhase(results: Seq[Q], gate: Gate,
      onStart: () => Unit, measure: String => Q)
      : (Seq[Q], mutable.LinkedHashMap[String, (Double, Double)], Boolean) = {
    val rerun = mutable.LinkedHashMap[String, (Double, Double)]()
    if (!results.exists(q => q.noisy && q.median >= 0))
      return (results, rerun, false)
    if (gate.admit("noisy re-measure", "SKIPPING it and keeping the timed " +
        "phase's first-slot values").isLeft)
      return (results, rerun, true)
    onStart()
    val out = results.map { q =>
      if (!q.noisy || q.median < 0) q
      else {
        val r = measure(q.name)
        if (r.median < 0) q
        else {
          rerun(q.name) = (q.median, r.median)
          Q(q.name, math.min(q.median, r.median), r.noisy,
            math.min(q.lo, r.lo), math.max(q.hi, r.hi))
        }
      }
    }
    (out, rerun, false)
  }

  /** A finished run: the one record both output lines render from.
    *   - [[totalLine]] (`"metric":"total"`) is the complete artifact,
    *     also written to `$GRAFT_BENCH_OUT` (default bench_full.json):
    *     per-query medians, each query's raw-pass spread (bench_diff
    *     tells a regression, disjoint intervals, from slot noise,
    *     overlapping ones) and both readings of every re-measure.
    *   - [[summaryLine]] (`"metric":"total_summary"`) follows it. A
    *     captured output may keep only its tail, so the headline
    *     repeats there with the scalars LAST, where truncation of the
    *     name lists cannot reach them.
    * A failed query (median -1) is listed in `failed` and left out of
    * `value` and `spread`, so a partly failing run cannot look faster.
    * `trained_stages` names queries whose timed number is the consumer
    * path of a SessionStage memo built in the untimed warmup, and
    * `trained_stage_build_secs` what those builds cost. Jackson writes
    * doubles with Double.toString: no JVM locale can change a number.
    */
  private[graft] case class Report(results: Seq[Q],
      rerun: collection.Map[String, (Double, Double)],
      telemetry: Seq[(String, Any)], trainedStages: Seq[String],
      stageBuildSecs: Seq[(String, Double)], sf: String) {
    private val ok = results.filter(_.median >= 0)
    private val failed = results.filter(_.median < 0).map(_.name)
    val total: Double = ok.map(_.median).sum
    private val shared: Seq[(String, Any)] = Seq(
      "failed" -> failed,
      "noisy" -> results.filter(_.noisy).map(_.name),
      "trained_stages" -> trainedStages,
      "trained_stage_build_secs" -> ListMap(stageBuildSecs: _*),
    ) ++ telemetry :+ ("sf" -> sf)

    def totalLine: String = render(Seq(
      "metric" -> "total", "value" -> total, "unit" -> "sec",
      "queries" -> ListMap(results.map(q => q.name -> q.median): _*),
      "spread" -> ListMap(ok.map(q => q.name -> Seq(q.lo, q.hi)): _*),
      "noisy_rerun" -> ListMap(rerun.toSeq.map { case (n, (a, b)) =>
        n -> ListMap("first" -> a, "second" -> b) }: _*),
    ) ++ shared)

    def summaryLine: String = render(("metric" -> "total_summary") +: (shared ++ Seq(
      "unit" -> "sec", "value" -> total, "n_queries" -> results.length,
      "n_failed" -> failed.length, "n_noisy_rerun" -> rerun.size)))
  }

  private val json = new ObjectMapper().registerModule(DefaultScalaModule)
  private def render(fields: Seq[(String, Any)]): String =
    json.writeValueAsString(ListMap(fields: _*))

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // dev-loop filter (the driver never sets it): time only the named
    // queries, e.g. SPARK_GRAFT_BENCH_ONLY=q93_span_dedup,q75_...
    val names = GraftSession.only("bench", sys.env.get("SPARK_GRAFT_BENCH_ONLY"),
      SparkEntry.queries.keys.toSeq.sorted)
    val gate = Gate(
      waitSecs = sys.env.getOrElse("GRAFT_BENCH_WAIT_SECS", "600").toLong,
      force = args.contains("--force") || sys.env.get("GRAFT_BENCH_FORCE").contains("1"))
    // still busy at the deadline means another workload is running,
    // and any timing taken now would be inflated: exit 2, no JSON line
    val loadAtStart = loadAvg()
    val loadBefore = gate.admit("start", "REFUSING to run", loadAtStart)
      .fold(_ => sys.exit(2), identity)
    val spark = GraftSession.local(GraftSession.envCpus)

    def run(name: String): Unit =
      SparkEntry.queries(name)(spark, sfDir).foreach(_ => ())

    // warmup (untimed); it also builds every SessionStage memo, and
    // the queries that read one are reported as trained_stages
    val trainedStages = names.filter(n => graft.ops.SessionStage.readsIn(
      try run(n) catch { case _: Throwable => () })._2.nonEmpty)
    // One query's measurement: median of 3 passes, with the
    // transient-neighbor guard. On this VM class a single pass can
    // spike 2–4× from host contention the gate cannot see at query
    // granularity (a 12 s reading for a query whose clean cost is
    // 0.3 s). When the 3 passes disagree by >2× AND >0.3 s absolute,
    // take up to 4 extra passes and report the median of the 3
    // FASTEST, flagging the query noisy; on a quiet machine this never
    // triggers. A failing query reports -1, never a fast-looking
    // time-to-failure.
    def measureQuery(name: String): Q = {
      var failed = false
      def pass(): Double = {
        val t0 = System.nanoTime()
        try run(name) catch { case _: Throwable => failed = true }
        (System.nanoTime() - t0) / 1e9
      }
      val times = mutable.ArrayBuffer.fill(3)(pass())
      while (!failed && times.length < 7 &&
             times.max > 2 * times.min && times.max - times.min > 0.3)
        times += pass()
      // bound cache retention: a query's persisted stage (q29/q34)
      // serves its own warmup+timed passes, then releases before the
      // next query measures
      spark.catalog.clearCache()
      Q(name, if (failed) -1.0 else times.sorted.apply(1), times.length > 3,
        times.min, times.max)
    }
    def timedPhase(): Attempt = {
      val load0 = loadAvg()
      val cpu0 = cpuStat()
      val results = names.map(measureQuery)
      Attempt(results, stealPctSince(cpu0), load0, loadAvg())
    }
    // the start gate cannot see contention that arrives DURING the
    // run: a contaminated phase is measured once more
    val first = timedPhase()
    val attempt = if (!gate.dirty(first)) first else {
      System.err.println(
        f"[bench] contaminated timed run (steal ${first.stealPct}%.2f%%, " +
          f"load ${first.loadStart}%.2f -> ${first.loadEnd}%.2f) — " +
          "re-measuring once and keeping the cleaner attempt.")
      gate.keep(first, timedPhase())
    }
    var rerunLoad0 = -1.0
    var rerunCpu0 = (0L, 0L)
    val (results, rerun, rerunGateSkipped) = rerunNoisyPhase(
      attempt.results, gate,
      () => { rerunLoad0 = loadAvg(); rerunCpu0 = cpuStat() },
      measureQuery)
    val reran = rerun.nonEmpty
    // load_at_start is the pre-wait reading, load_before the one the
    // run started at; load_phase_start/load_after bracket the KEPT
    // timed phase, rerun_* the re-measure (-1 when nothing re-measured)
    val report = Report(results, rerun, Seq(
      "load_before" -> loadBefore, "load_at_start" -> loadAtStart,
      "load_phase_start" -> attempt.loadStart, "load_after" -> attempt.loadEnd,
      "steal_pct" -> attempt.stealPct,
      "steal_retried" -> gate.stealDirty(first), "load_retried" -> gate.loadDirty(first),
      "rerun_steal_pct" -> (if (reran) stealPctSince(rerunCpu0) else -1.0),
      "rerun_load_start" -> (if (reran) rerunLoad0 else -1.0),
      "rerun_load_end" -> (if (reran) loadAvg() else -1.0),
      "rerun_gate_skipped" -> rerunGateSkipped, "forced" -> gate.force),
      trainedStages.sorted, graft.ops.SessionStage.buildSecs.toSeq.sorted, sfDir)
    val (full, summary) = (report.totalLine, report.summaryLine)
    println(full)
    val outFile = sys.env.getOrElse("GRAFT_BENCH_OUT", "bench_full.json")
    try java.nio.file.Files.write(java.nio.file.Paths.get(outFile),
      (full + "\n").getBytes("UTF-8"))
    catch { case e: Throwable =>
      System.err.println(s"[bench] could not write $outFile: $e") }
    // Both lines go to stdout AND stderr, bare: through sbt the stdout
    // lines can arrive decorated with an "[info] " prefix, while forked
    // stderr passes through undecorated. The summary goes LAST on each
    // stream so a tail-truncated capture keeps it.
    System.err.println(full)
    println(summary)
    System.err.println(summary)
    spark.stop()
  }
}
