package graft

import com.fasterxml.jackson.databind.ObjectMapper
import org.scalatest.funsuite.AnyFunSuite
import scala.jdk.CollectionConverters._

/** Bench's contamination gate and output contract. The gate readings
  * come from committed bench runs: a clean run (load 1.99 → 2.37,
  * steal under 1%), a mid-run co-tenant (2.55 → 5.21, zero steal) and
  * hypervisor steal (4.2% at load 1.98). The rerun tests pin the gate
  * ORDER (gate strictly before any re-measure and before the
  * telemetry bracket) and the skip semantics (a busy gate keeps the
  * first-slot values untouched); the wait test pins the wait-or-refuse
  * routine the start and rerun gates share.
  */
class BenchGateSpec extends AnyFunSuite {
  import Bench.{Attempt, Gate, Q}

  private def attempt(steal: Double, l0: Double, l1: Double, total: Double = 10.0) =
    Attempt(Seq(Q("qa", total, noisy = false, total, total)), steal, l0, l1)

  test("admit proceeds once load decays, gives up at the deadline") {
    val decaying = Iterator(5.0, 3.0, 1.2)
    assert(Gate(waitSecs = 60, read = () => decaying.next(), sleepMs = 1)
      .admit("t", "refusing") == Right(1.2))
    // deadline already passed: the still-hot reading comes back for
    // the caller to refuse/skip on
    assert(Gate(waitSecs = 0, read = () => 7.0).admit("t", "refusing") == Left(7.0))
    // /proc unavailable (-1): returned after one reading, never spins
    var reads = 0
    assert(Gate(waitSecs = 60, read = () => { reads += 1; -1.0 })
      .admit("t", "refusing") == Right(-1.0))
    assert(reads == 1)
    // forced: no wait, the hot reading is what the run records
    assert(Gate(waitSecs = 60, force = true, read = () => 7.0)
      .admit("t", "refusing") == Right(7.0))
  }

  test("post-run gate: a clean run is kept, a co-tenant or steal re-measures") {
    val gate = Gate()
    assert(!gate.dirty(attempt(0.5, 1.99, 2.37)), "the committed clean run")
    assert(gate.loadDirty(attempt(0.0, 2.55, 5.21)) && gate.dirty(attempt(0.0, 2.55, 5.21)),
      "a mid-run co-tenant at zero steal")
    assert(gate.stealDirty(attempt(4.2, 1.98, 1.98)) && !gate.loadDirty(attempt(4.2, 1.98, 1.98)),
      "steal the load gate cannot see")
    assert(gate.dirty(attempt(4.2, 1.98, 1.98)))
    // an unreadable loadavg (-1) cannot make a run look contaminated
    assert(!gate.dirty(attempt(0.5, -1.0, 9.0)))
  }

  test("a re-measure keeps the clean attempt, and the lower total between equals") {
    val gate = Gate()
    val clean = attempt(0.5, 1.99, 2.37, total = 12.0)
    val dirty = attempt(4.2, 1.98, 1.98, total = 9.0)
    assert(gate.keep(dirty, clean) eq clean, "clean beats a faster dirty attempt")
    assert(gate.keep(clean, dirty) eq clean)
    val cleanFast = attempt(0.1, 1.5, 1.9, total = 11.0)
    assert(gate.keep(clean, cleanFast) eq cleanFast)
    assert(gate.keep(cleanFast, clean) eq cleanFast)
    val dirtySlow = attempt(0.0, 2.55, 5.21, total = 14.0)
    assert(gate.keep(dirty, dirtySlow) eq dirty, "both dirty: the lower total")
  }

  test("the rerun gate runs BEFORE the telemetry bracket and any re-measure; busy gate skips the phase whole") {
    val log = scala.collection.mutable.ArrayBuffer[String]()
    val rs = Seq(
      Q("qa", 1.0, noisy = true, 0.9, 3.0),
      Q("qb", 2.0, noisy = false, 1.9, 2.1))
    val (r1, m1, skipped1) = Bench.rerunNoisyPhase(rs,
      Gate(waitSecs = 0, read = () => { log += "gate"; 9.0 }),
      () => log += "bracket",
      n => { log += s"measure:$n"; Q(n, 0.5, noisy = false, 0.5, 0.5) })
    assert(skipped1, "busy gate must report the skip")
    assert(m1.isEmpty && r1 == rs,
      "a skipped phase must keep the first-slot values untouched")
    assert(log.toSeq == Seq("gate"),
      s"gate must be the ONLY thing that ran, got $log")
  }

  test("an idle gate re-measures: gate -> bracket -> measures, min kept, spread unioned") {
    val log = scala.collection.mutable.ArrayBuffer[String]()
    val rs = Seq(
      Q("qa", 1.0, noisy = true, 0.9, 3.0),
      Q("qb", 2.0, noisy = false, 1.9, 2.1))
    val (r2, m2, skipped2) = Bench.rerunNoisyPhase(rs,
      Gate(read = () => { log += "gate"; 1.0 }),
      () => log += "bracket",
      n => { log += s"measure:$n"; Q(n, 0.5, noisy = false, 0.4, 0.6) })
    assert(!skipped2 && m2("qa") == ((1.0, 0.5)))
    assert(log.toSeq == Seq("gate", "bracket", "measure:qa"),
      s"order must be gate, bracket, then measures only: $log")
    val qa = r2.find(_.name == "qa").get
    assert(qa.median == 0.5 && qa.lo == 0.4 && qa.hi == 3.0,
      s"min-of-medians + unioned spread expected, got $qa")
    assert(r2.find(_.name == "qb").get == rs(1),
      "non-noisy queries must pass through unchanged")
  }

  test("no (live) noisy query: the gate is never consulted and nothing re-measures") {
    // a FAILED noisy query (median -1) must not trigger the phase
    // either — there is nothing to re-keep for it
    val rs = Seq(
      Q("qb", 2.0, noisy = false, 1.9, 2.1),
      Q("qf", -1.0, noisy = true, 0.0, 0.0))
    val (r, m, skipped) = Bench.rerunNoisyPhase(rs,
      Gate(read = () => fail("gate consulted with no noisy query")),
      () => fail("telemetry bracket started"),
      _ => fail("re-measured"))
    assert(!skipped && m.isEmpty && r == rs)
  }

  test("both JSON lines render from one record: today's fields, shared values equal, scalars last") {
    val results = Seq(
      Q("q01_ok", 0.25, noisy = false, 0.2, 0.3),
      Q("q02_failed", -1.0, noisy = false, 0.1, 0.1),
      Q("q03_noisy", 0.125, noisy = true, 0.1, 1.5))
    val rerun = scala.collection.mutable.LinkedHashMap("q03_noisy" -> ((0.5, 0.125)))
    val telemetry = Seq(
      "load_before" -> 1.25, "load_at_start" -> 2.75, "load_phase_start" -> 1.5,
      "load_after" -> 1.75, "steal_pct" -> 0.375, "steal_retried" -> false,
      "load_retried" -> true, "rerun_steal_pct" -> 0.0625, "rerun_load_start" -> 1.0,
      "rerun_load_end" -> 1.125, "rerun_gate_skipped" -> false, "forced" -> false)
    val report = Bench.Report(results, rerun, telemetry, Seq("q03_noisy"),
      Seq("ivf" -> 1.5, "bpe" -> 0.001), "/data/sf0.1")
    val saved = java.util.Locale.getDefault
    java.util.Locale.setDefault(java.util.Locale.GERMANY)
    val (full, summary) =
      try (report.totalLine, report.summaryLine)
      finally java.util.Locale.setDefault(saved)
    val json = new ObjectMapper()
    val f = json.readTree(full)
    val s = json.readTree(summary)
    val shared = Seq("failed", "noisy", "trained_stages", "trained_stage_build_secs",
      "load_before", "load_at_start", "load_phase_start", "load_after", "steal_pct",
      "steal_retried", "load_retried", "rerun_steal_pct", "rerun_load_start",
      "rerun_load_end", "rerun_gate_skipped", "forced", "sf", "metric", "unit", "value")
    assert(f.fieldNames.asScala.toSet ==
      (shared ++ Seq("queries", "spread", "noisy_rerun")).toSet)
    assert(s.fieldNames.asScala.toSet ==
      (shared ++ Seq("n_queries", "n_failed", "n_noisy_rerun")).toSet)
    for (k <- shared if k != "metric") assert(f.get(k) == s.get(k), s"field $k differs")
    assert(f.get("metric").asText == "total" && s.get("metric").asText == "total_summary")
    assert(full.startsWith("""{"metric":"total",""") &&
      summary.startsWith("""{"metric":"total_summary","""))
    assert(s.fieldNames.asScala.toSeq.takeRight(4) ==
      Seq("value", "n_queries", "n_failed", "n_noisy_rerun"))
    // the failed query is out of value and spread, and named in failed
    assert(f.get("value").asDouble == 0.375)
    assert(f.get("spread").fieldNames.asScala.toSet == Set("q01_ok", "q03_noisy"))
    assert(f.get("failed").elements.asScala.map(_.asText).toSeq == Seq("q02_failed"))
    assert(f.get("queries").get("q02_failed").asDouble == -1.0)
    assert(f.get("noisy").elements.asScala.map(_.asText).toSeq == Seq("q03_noisy"))
    assert(f.get("noisy_rerun").get("q03_noisy").get("first").asDouble == 0.5 &&
      f.get("noisy_rerun").get("q03_noisy").get("second").asDouble == 0.125)
    assert(f.get("spread").get("q03_noisy").elements.asScala.map(_.asDouble).toSeq ==
      Seq(0.1, 1.5))
    assert(s.get("n_queries").asInt == 3 && s.get("n_failed").asInt == 1 &&
      s.get("n_noisy_rerun").asInt == 1)
    assert(f.get("load_retried").isBoolean && f.get("load_retried").asBoolean)
    // doubles keep Double.toString's form under a comma-decimal locale
    assert(summary.contains(""""value":0.375,""") &&
      full.contains(""""bpe":0.001""") && full.contains(""""q02_failed":-1.0"""))
  }

  test("the dev-loop query filter refuses unknown names and keeps a known subset") {
    val known = Seq("q01", "q02", "q03")
    assert(GraftSession.pick(None, known) == Right(known))
    assert(GraftSession.pick(Some("q03,q01"), known) == Right(Seq("q01", "q03")),
      "a known subset comes back as that subset, in the catalog's order")
    assert(GraftSession.pick(Some("q02,q9,q0"), known) == Left(Seq("q0", "q9")),
      "unknown names are refused, even beside known ones")
  }
}
