package graft.streaming

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}
import org.apache.spark.sql.types.StructType
import java.sql.Timestamp

/** M4 stretch (SURVEY §7.2): gap-based session windows with CUSTOM
  * state via `flatMapGroupsWithState` — the Spark construct for
  * per-key state the built-in windowed aggregates can't express
  * (the reference has no analog; its only "state" is the checkpoint
  * counter, `run.py:56`).
  *
  * A session = consecutive events of one user with < `gap` between
  * neighbors. Sessions are emitted when CLOSED: the watermark has
  * passed last_ts + gap, so no admissible event can ever extend them
  * (event-time timeout or a later arrival triggers the sweep).
  * Exactly-once across restarts via the checkpoint dir.
  *
  * Ordering note: the watermark ADMITS out-of-order events (any row
  * with ts ≥ watermark), including ones earlier than an open
  * session's start — so state is the LIST of open sessions and
  * insertion is by span distance, not append-only: an event merges
  * with every open session within `gap` of it (possibly bridging
  * two into one), else opens its own. A session only closes — and
  * only then is emitted — once the watermark proves no future row
  * can reach it, which is exactly the batch-twin semantics.
  */
object EventSessions {

  case class EventIn(user_id: Long, ts: Timestamp)
  case class SessionState(startMs: Long, lastMs: Long, n: Int)
  case class OpenState(sessions: Seq[SessionState])
  case class Session(user_id: Long, start_ms: Long, end_ms: Long, n_events: Int)

  def updateKey(gapMs: Long)(
      userId: Long, events: Iterator[EventIn],
      state: GroupState[OpenState]): Iterator[Session] = {
    val wm = state.getCurrentWatermarkMs()
    var open: Seq[SessionState] =
      state.getOption.map(_.sessions).getOrElse(Seq.empty)

    // flatMapGroupsWithState does NOT filter rows older than the
    // watermark — a straggler would regress lastMs (corrupting the
    // session end) and then setTimeoutTimestamp below the watermark
    // throws and kills the query. Drop them explicitly, the same
    // fate windowed aggregation gives late rows. (On a timeout
    // invocation the iterator is empty.)
    events.filter(_.ts.getTime >= wm).toSeq.sortBy(_.ts.getTime).foreach { e =>
      val t = e.ts.getTime
      // merge iff |distance to span| < gap — strict, matching the
      // batch twin's `ms - prev >= gapMs` new-session rule; covers
      // in-span, after-end, AND before-start (out-of-order) arrivals
      val (near, far) = open.partition(s =>
        t > s.startMs - gapMs && t < s.lastMs + gapMs)
      val merged =
        if (near.isEmpty) SessionState(t, t, 1)
        else SessionState(
          math.min(t, near.map(_.startMs).min),
          math.max(t, near.map(_.lastMs).max),
          near.map(_.n).sum + 1)
      open = far :+ merged
    }

    // closed ⇔ no admissible row (ts ≥ wm) satisfies ts < last+gap
    val (closed, stillOpen) = open.partition(_.lastMs + gapMs <= wm)
    if (stillOpen.nonEmpty) {
      state.update(OpenState(stillOpen))
      // earliest possible close; never below the watermark
      state.setTimeoutTimestamp(
        math.max(stillOpen.map(_.lastMs + gapMs).min, wm + 1))
    } else state.remove()
    closed.sortBy(_.startMs).iterator
      .map(s => Session(userId, s.startMs, s.lastMs, s.n))
  }

  /** One checkpointed micro-batch run (Trigger.AvailableNow), same
    * resume semantics as [[EventWindows.runOnce]]. */
  def runOnce(spark: SparkSession, inDir: String, outDir: String,
              checkpointDir: String, schema: StructType,
              gapMs: Long = 3600000L, delay: String = "1 hour"): Unit = {
    import spark.implicits._
    val sessions = FileIngest.source(spark, inDir, schema)
      .withWatermark("ts", delay)
      .select($"user_id", $"ts").as[EventIn]
      .groupByKey(_.user_id)
      .flatMapGroupsWithState(OutputMode.Append, GroupStateTimeout.EventTimeTimeout)(
        updateKey(gapMs))
    FileIngest.drain(sessions, checkpointDir)(FileIngest.batchSink(outDir))
  }

  /** Batch twin for differential testing: same session semantics
    * computed with sort + window (lag) + cumulative session ids —
    * pure DataFrame ops, usable as a DuckDB-oracle-style reference. */
  def sessionsBatch(events: Dataset[_], gapMs: Long): Dataset[Session] = {
    val spark = events.sparkSession
    import spark.implicits._
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"ms")
    // unix_millis, NOT cast(double)*1000 — the float round-trip is
    // off by 1 ms for some fractional-second timestamps, which the
    // exact differential against the streaming path would catch.
    events.toDF()
      .select($"user_id", unix_millis(col("ts")).as("ms"))
      .withColumn("prev", lag($"ms", 1).over(w))
      .withColumn("newSess",
        when($"prev".isNull || $"ms" - $"prev" >= gapMs, 1).otherwise(0))
      .withColumn("sess_id", sum($"newSess").over(
        w.rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding, 0)))
      .groupBy($"user_id", $"sess_id")
      .agg(min($"ms").as("start_ms"), max($"ms").as("end_ms"),
        count(lit(1)).cast("int").as("n_events"))
      .select($"user_id", $"start_ms", $"end_ms", $"n_events")
      .as[Session]
  }
}
