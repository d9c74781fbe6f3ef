package graft.ops

import java.util.concurrent.atomic.AtomicInteger

import org.apache.spark.sql.{DataFrame, SparkSession}

/** A stage materialized ONCE per (session, corpus dir) and shared by
  * every consumer: a production pipeline builds its index/model state
  * once and every reader consumes it, so query builders must not
  * re-run training per invocation. The catalog's stages are the vals
  * of [[graft.queries.Stages]].
  *
  * Every stage has one `name`, registered at construction: it keys
  * [[SessionStage.buildSecs]], [[SessionStage.readsIn]] and, for a
  * [[ParquetStage]], the scratch path.
  *
  * Contract (shared by all instances, stated once here):
  *   - staleness: data under `dir` is IMMUTABLE for the session's
  *     lifetime — corpus snapshots are addressed by path, a new
  *     snapshot is a new dir (which is also what makes the key sound
  *     at 100 TB);
  *   - eviction: entries whose session has been stopped are dropped
  *     on the next access, releasing the session reference;
  *   - `buildCount`/`reset` are spec hooks (N consumers, one build;
  *     test isolation).
  */
final class SessionStage[T](val name: String,
                            build: (SparkSession, String) => T,
                            onDrop: T => Unit = (_: T) => ()) {
  SessionStage.register(this)

  private val cache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), T]
  private val builds = new AtomicInteger(0)

  def get(s: SparkSession, d: String): T = {
    SessionStage.recordRead(name)
    cache.keys.filter(_._1.sparkContext.isStopped).foreach { k =>
      cache.remove(k).foreach(onDrop)
    }
    cache.getOrElseUpdate((s, d), {
      builds.incrementAndGet()
      val t0 = System.nanoTime()
      val v = build(s, d)
      SessionStage.recordBuild(name, (System.nanoTime() - t0) / 1e9)
      v
    })
  }

  /** How many times the stage actually built (spec hook). */
  def buildCount: Int = builds.get()

  /** Drop cached entries (test isolation), releasing each through
    * `onDrop` — stages that own on-disk state (ParquetStage) delete
    * it here instead of leaking one directory per build. */
  def reset(): Unit = {
    cache.values.foreach(onDrop)
    cache.clear()
    builds.set(0)
  }
}

object SessionStage {

  private val registry =
    scala.collection.concurrent.TrieMap.empty[String, SessionStage[_]]

  private def register(stage: SessionStage[_]): Unit =
    require(registry.putIfAbsent(stage.name, stage).isEmpty,
      s"two stages named ${stage.name}")

  /** Reset every stage (ScaleProbe's per-rep cold start). */
  def resetAll(): Unit = registry.values.foreach(_.reset())

  // cumulative wall seconds per stage, across every build this JVM
  // ran: the builds happen in Bench's untimed warmup, so this is the
  // only place their cost shows (`trained_stage_build_secs`)
  private val buildTimes =
    scala.collection.concurrent.TrieMap.empty[String, Double]

  private def recordBuild(name: String, secs: Double): Unit = {
    buildTimes.updateWith(name) {
      case Some(t) => Some(t + secs)
      case None => Some(secs)
    }
    ()
  }

  /** Snapshot of cumulative build seconds per stage name. */
  def buildSecs: Map[String, Double] = buildTimes.toMap

  /** Spec/probe hook: forget recorded build times. */
  def resetBuildSecs(): Unit = buildTimes.clear()

  // names served on this thread inside readsIn (null outside it)
  private val reads = new ThreadLocal[Set[String]]

  private def recordRead(name: String): Unit =
    Option(reads.get).foreach(r => reads.set(r + name))

  /** `body`'s value and the names of the stages it read on this
    * thread, memo hits included (Bench's `trained_stages`). */
  def readsIn[A](body: => A): (A, Set[String]) = {
    reads.set(Set.empty)
    try { val a = body; (a, reads.get) } finally reads.remove()
  }
}

/** A [[SessionStage]] whose value materializes as PARQUET under a
  * deterministic scratch path instead of `localCheckpoint` — the
  * memo form for any stage OTHER QUERIES JOIN AGAINST: a
  * checkpointed-RDD scan carries no size statistics, so consumers
  * lose adaptive broadcast exactly when the stage grows (measured at
  * a 10× probe: q147 5.1 s → 26.6 s when its pair memo was
  * checkpoint-backed), while a parquet scan has file-size stats and
  * Catalyst/AQE keep choosing the same join shapes as the inline
  * chain at every scale. The file also outlives
  * `spark.catalog.clearCache()` like any other store.
  *
  * Path contract: the stage writes under
  * `<scratch root>/graft-stage/<app>-<session>/<name>-<dir token>`,
  * where the scratch root is `spark.graft.scratchDir` when set and
  * the local JVM tmpdir otherwise. ON A MULTI-NODE CLUSTER
  * `spark.graft.scratchDir` MUST point at the shared filesystem
  * (executors commit task files to the path they are given — a
  * driver-local tmpdir would scatter the commit across machines);
  * local-mode tests and the driver's single-JVM runs are correct
  * with the default. The path is DETERMINISTIC per (session, name,
  * data dir): rebuilds within a session overwrite in place rather
  * than accreting temp dirs, and [[reset]] (and stopped-session
  * eviction) deletes it. The `<app>-<session>` segment exists because
  * the cache is keyed per (session, dir): without it two live
  * sessions in one JVM, or two driver processes sharing the default
  * tmpdir (Verify running beside Bench), resolve to ONE directory,
  * one side's overwrite corrupts the other's mid-scan reads and
  * either side's reset() deletes the survivor's files. applicationId
  * + PID separates processes (two local-mode drivers started in the
  * same millisecond share the `local-<millis>` applicationId); a
  * JVM-unique session sequence separates sibling `newSession()`s
  * sharing a context. The cost is that a KILLED
  * process leaves its `<app>-<session>` dir behind (nothing
  * overwrites it in place anymore) — swept by
  * [[ParquetStage.sweepStale]]: automatically (dead-PID siblings,
  * once per JVM) when the scratch root is the local tmpdir, and on
  * demand with a resource-manager liveness predicate for shared-FS
  * deployments.
  *
  * Staleness/eviction contract: [[SessionStage]]. */
final class ParquetStage(name: String,
                         derive: (SparkSession, String) => DataFrame) {

  private val inner = new SessionStage[(DataFrame, () => Unit)](name,
    build = (s, d) => {
      // best-effort janitor pass (once per JVM, local tmpdir only):
      // sweep dead siblings' namespaces before adding our own
      ParquetStage.autoSweepLocal(s)
      val path = ParquetStage.stagePath(s, name, d)
      // FileSystem handle captured now: the drop thunk must work even
      // after the owning session stops (Hadoop FS outlives Spark)
      val fs = path.getFileSystem(s.sparkContext.hadoopConfiguration)
      derive(s, d).write.mode("overwrite").parquet(path.toString)
      (s.read.parquet(path.toString), () => { fs.delete(path, true); () })
    },
    onDrop = _._2())

  /** The materialized stage (first call per (session, dir) derives
    * and writes; later calls scan the parquet). */
  def get(s: SparkSession, d: String): DataFrame = inner.get(s, d)._1

  /** How many times the derivation actually executed (spec hook). */
  def buildCount: Int = inner.buildCount

  /** Drop cached entries AND their parquet dirs (test isolation). */
  def reset(): Unit = inner.reset()
}

object ParquetStage {

  /** Scratch root for stage materialization — `spark.graft.scratchDir`
    * (set it to a shared-FS path on any real cluster) falling back to
    * the JVM tmpdir (correct in local mode only). */
  private[graft] def scratchRoot(s: SparkSession): String =
    s.conf.getOption("spark.graft.scratchDir")
      .getOrElse(System.getProperty("java.io.tmpdir"))

  // Per-session sequence numbers, assigned at first stagePath use —
  // unlike System.identityHashCode (31-bit, reused after GC) a
  // counter cannot collide between live sessions of one JVM. Weak
  // keys: a dropped session's entry must not pin it.
  private val sessionSeq =
    java.util.Collections.synchronizedMap(
      new java.util.WeakHashMap[SparkSession, java.lang.Long]())
  private val nextSeq = new java.util.concurrent.atomic.AtomicLong(0L)
  private def seqOf(s: SparkSession): Long = sessionSeq.synchronized {
    Option(sessionSeq.get(s)).map(_.longValue()).getOrElse {
      val n = nextSeq.getAndIncrement(); sessionSeq.put(s, n); n
    }
  }

  // owner namespace layout: <appId>-p<pid>-s<sessionSeq> (appId may
  // itself contain dashes — parse from the right)
  private val OwnerDir = """^(.*)-p(\d+)-s(\d+)$""".r

  /** Janitor for dead stage namespaces: a KILLED or restarted driver
    * leaves its `graft-stage/<app>-p<pid>-s<n>` dir behind forever — live
    * processes overwrite in place and delete on `reset()`, but
    * nothing swept a dead sibling's, so repeated runs on one scratch
    * root accrete one owner dir per dead process. Lists the
    * `graft-stage` root ONCE (bounded: one listStatus + one delete
    * per dead namespace) and deletes every owner namespace whose
    * owner `isLive(appId, pid)` returns false — NEVER its own, even
    * under a predicate that lies (self-protection pinned in
    * ScratchJanitorSpec). The default predicate is local PID
    * liveness, which is only meaningful when the scratch root is
    * machine-local (the default tmpdir): on a shared filesystem,
    * PIDs from other hosts collide with local ones, so shared-FS
    * deployments MUST pass a resource-manager-backed predicate
    * (e.g. the YARN/K8s live-application set keyed on appId).
    * Returns the number of namespaces swept. */
  def sweepStale(s: SparkSession,
      isLive: (String, Long) => Boolean = (_, pid) => {
        val h = ProcessHandle.of(pid)
        h.isPresent && h.get().isAlive
      }): Int = {
    val root = new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(scratchRoot(s)), "graft-stage")
    val fs = root.getFileSystem(s.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return 0
    val self = ProcessHandle.current().pid()
    fs.listStatus(root).map(_.getPath).count { p =>
      p.getName match {
        case OwnerDir(app, pid, _) =>
          val pidL = pid.toLong
          pidL != self && !isLive(app, pidL) && fs.delete(p, true)
        case _ => false // not ours to judge — leave unknown dirs alone
      }
    }
  }

  // Auto-sweep arms once per JVM, and ONLY when no
  // spark.graft.scratchDir is set — exactly the local-tmpdir case
  // where the default PID-liveness predicate is sound. Best effort:
  // a janitor failure must never fail a stage build.
  private val autoSwept = new java.util.concurrent.atomic.AtomicBoolean(false)
  private[graft] def autoSweepLocal(s: SparkSession): Unit =
    if (s.conf.getOption("spark.graft.scratchDir").isEmpty &&
        autoSwept.compareAndSet(false, true))
      try { sweepStale(s); () } catch { case _: Throwable => () }

  /** Deterministic per-(session, stage, data dir) path: an owner
    * segment (applicationId + PID ⇒ no cross-process collision on a
    * shared scratch root, even between two local-mode drivers started
    * in the same millisecond whose applicationIds tie; a JVM-unique
    * session sequence ⇒ no collision between sibling sessions of one
    * context — identityHashCode was only probabilistically unique),
    * then readable basename + full-path hash token so distinct corpus
    * dirs with one basename cannot collide. */
  private[graft] def stagePath(s: SparkSession, name: String,
                               dir: String): org.apache.hadoop.fs.Path = {
    val owner = s"${s.sparkContext.applicationId}-" +
      s"p${ProcessHandle.current().pid()}-s${seqOf(s)}"
    val token =
      f"${new org.apache.hadoop.fs.Path(dir).getName}%s-${dir.hashCode & 0xffffffffL}%08x"
    new org.apache.hadoop.fs.Path(
      new org.apache.hadoop.fs.Path(
        new org.apache.hadoop.fs.Path(scratchRoot(s), "graft-stage"), owner),
      s"$name-$token")
  }
}
