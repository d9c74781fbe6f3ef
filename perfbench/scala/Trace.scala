package graft.perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.BroadcastExchangeExec
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One recorded layer call: times are System.nanoTime, `parent` is
  * the enclosing span's id (-1 at the top), `op` names the operation
  * (query name, delivery number, search batch). */
final case class Span(id: Int, layer: String, op: String, parent: Int,
                      start: Long, end: Long) {
  def ms: Double = (end - start) / 1e6
}

/** Task-level counters summed over the tasks attributed to one span. */
final class Work {
  var jobs, stages, tasks = 0L
  var cpuNs, runMs, gcMs = 0L
  var shuffleWrite, shuffleRead, fetchWaitMs, spill = 0L
}

/** Spans around the calls the benchmark makes into each layer, plus
  * Spark's public listeners, all registered from outside the program.
  * Jobs are attributed to the innermost open span through a local
  * property set on the calling thread (streaming query threads
  * inherit it from the thread that starts them). Everything is kept
  * in memory and read after the listener bus drains.
  *
  * When disabled, [[span]] only runs its body: no listener is
  * registered and no property is set. `plant` adds a fixed sleep
  * inside every call of one layer, for the self-test that checks a
  * delay shows in that layer's self time only. */
final class Tracer(spark: SparkSession, val enabled: Boolean,
                   plant: Option[(String, Long)] = None) {
  private val sc = spark.sparkContext
  private val Key = "perfbench.span"
  private var nextId = 0
  private var stack: List[Int] = Nil
  val spans = mutable.ArrayBuffer.empty[Span]

  // listener-side state, written on the listener bus thread
  val work = mutable.Map.empty[Int, Work] // span id -> counters
  private val stageSpan = mutable.Map.empty[Int, Int]
  private val tablesStart = mutable.Map.empty[Int, Long] // job id -> start
  var tablesJobs = 0L
  var tablesJobMs = 0L
  var broadcastBytes = 0L
  val progress = mutable.ArrayBuffer.empty[java.util.Map[String, java.lang.Long]]

  private def w(span: Int): Work = work.getOrElseUpdate(span, new Work)

  private val jobs = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = Tracer.this.synchronized {
      val s = Option(e.properties).flatMap(p => Option(p.getProperty(Key)))
        .map(_.toInt).getOrElse(-1)
      // the short call site names the user frame that triggered the job
      val site = e.stageInfos.map(_.name).mkString(" ")
      if (site.contains("Tables.scala")) tablesStart(e.jobId) = e.time
      e.stageIds.foreach(stageSpan(_) = s)
      w(s).jobs += 1
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = Tracer.this.synchronized {
      tablesStart.remove(e.jobId).foreach { t0 =>
        tablesJobs += 1
        tablesJobMs += e.time - t0
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = Tracer.this.synchronized {
      w(stageSpan.getOrElse(e.stageInfo.stageId, -1)).stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Tracer.this.synchronized {
      val m = e.taskMetrics
      if (m != null) {
        val c = w(stageSpan.getOrElse(e.stageId, -1))
        c.tasks += 1
        c.cpuNs += m.executorCpuTime
        c.runMs += m.executorRunTime
        c.gcMs += m.jvmGCTime
        c.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        c.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        c.fetchWaitMs += m.shuffleReadMetrics.fetchWaitTime
        c.spill += m.memoryBytesSpilled + m.diskBytesSpilled
      }
    }
  }

  private val plans = new QueryExecutionListener with AdaptiveSparkPlanHelper {
    def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val bytes = collect(qe.executedPlan) { case b: BroadcastExchangeExec =>
        b.metrics.get("dataSize").map(_.value).getOrElse(0L)
      }.sum
      Tracer.this.synchronized { broadcastBytes += bytes }
    }
    def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private val streams = new StreamingQueryListener {
    def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      if (e.progress.numInputRows > 0)
        Tracer.this.synchronized { progress += e.progress.durationMs }
    def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }

  if (enabled) {
    sc.addSparkListener(jobs)
    spark.listenerManager.register(plans)
    spark.streams.addListener(streams)
  }

  /** Run `f` as one call into `layer` for operation `op`. */
  def span[A](layer: String, op: String)(f: => A): A =
    if (!enabled) f
    else {
      val id = nextId
      nextId += 1
      val parent = stack.headOption.getOrElse(-1)
      val prev = sc.getLocalProperty(Key)
      stack = id :: stack
      sc.setLocalProperty(Key, id.toString)
      val t0 = System.nanoTime()
      try {
        plant.foreach { case (l, ms) => if (l == layer) Thread.sleep(ms) }
        f
      } finally {
        spans += Span(id, layer, op, parent, t0, System.nanoTime())
        stack = stack.tail
        sc.setLocalProperty(Key, prev)
      }
    }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = if (enabled) org.apache.spark.PerfbenchBus.drain(sc)

  /** Each span's duration minus the part of it its children cover
    * (children run on the same thread, so they never overlap). */
  def selfMs: Map[Int, Double] = {
    val childMs = spans.groupBy(_.parent).map { case (p, cs) => p -> cs.map(_.ms).sum }
    spans.map(s => s.id -> (s.ms - childMs.getOrElse(s.id, 0.0))).toMap
  }

  /** Every span for the run record: its layer, operation, parent,
    * times, self time and the jobs and task CPU attributed to it. */
  def records: Seq[java.util.Map[String, Any]] = {
    val self = selfMs
    spans.toSeq.map { s =>
      val c = work.getOrElse(s.id, new Work)
      Json.obj("id" -> s.id, "layer" -> s.layer, "op" -> s.op, "parent" -> s.parent,
        "start_ns" -> s.start, "end_ns" -> s.end, "self_ms" -> Json.num(self(s.id)),
        "jobs" -> c.jobs, "task_cpu_ms" -> c.cpuNs / 1e6)
    }
  }

  /** Counters of the spans of one layer, excluding nested spans. */
  def workOf(layer: String): Seq[(Span, Work)] =
    spans.filter(_.layer == layer).map(s => s -> work.getOrElse(s.id, new Work)).toSeq

  /** Counters of every span; work outside all spans is the
    * benchmark client's own (writing a delivery) and is left out. */
  def total: Work = sum(work.collect { case (id, w) if id >= 0 => w }.toSeq)

  private def sum(ws: Seq[Work]): Work = {
    val t = new Work
    ws.foreach { c =>
      t.jobs += c.jobs; t.stages += c.stages; t.tasks += c.tasks
      t.cpuNs += c.cpuNs; t.runMs += c.runMs; t.gcMs += c.gcMs
      t.shuffleWrite += c.shuffleWrite; t.shuffleRead += c.shuffleRead
      t.fetchWaitMs += c.fetchWaitMs; t.spill += c.spill
    }
    t
  }
}
