package org.apache.spark

/** Test-only shim: SparkListener events are delivered async; specs
  * that assert on task metrics must drain the bus before reading
  * (listenerBus is private[spark], same access pattern as the main
  * sources' sql graftshim). */
object ListenerShim {
  def flush(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()
}

/** Test-only shim: Spark's own shutdown-delete hook (private[spark])
  * runs after the SparkContext's stop hook, so a scratch directory
  * registered here outlives every job of the session that used it
  * and is gone once the test JVM exits. */
object ScratchShim {
  def deleteOnExit(dir: java.io.File): Unit =
    util.ShutdownHookManager.registerShutdownDeleteDir(dir)
}
