package graft

import org.scalatest.funsuite.AnyFunSuite
import org.apache.hadoop.fs.Path

/** ParquetStage.sweepStale (r18 verdict #5): the runbook used to
  * tell operators to sweep dead `graft-stage/<app>-*` namespaces by
  * hand; this pins the utility that does it — dead-owner namespaces
  * are deleted, the caller's own namespace and unrecognized dirs
  * survive (even under a liveness predicate that lies), and the
  * count comes back for operator telemetry.
  */
class ScratchJanitorSpec extends AnyFunSuite {
  import TestSpark._

  // a PID no Linux box hands out (pid_max caps at 2^22): its
  // ProcessHandle is empty, so the default predicate reads it dead
  private val DeadPid = 2999999999L
  private val root = new Path(
    new Path(System.getProperty("java.io.tmpdir")), "graft-stage")
  private def fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def plant(name: String): Path = {
    val p = new Path(root, name)
    fs.mkdirs(p)
    fs.create(new Path(p, "stage-file.parquet"), true).close()
    p
  }

  test("sweepStale deletes dead-owner namespaces, keeps live/own/unknown dirs, and reports the count") {
    val dead1 = plant(s"app-old-1-p$DeadPid-s0")
    val dead2 = plant(s"local-123-p$DeadPid-s7")
    val own = plant(s"someapp-p${ProcessHandle.current().pid()}-s99")
    val unknown = plant("not-an-owner-namespace")
    // the default predicate is PID liveness: sbt's own JVM pid is a
    // live sibling and must survive
    val sibling = plant(s"other-p${ProcessHandle.current().pid()}-s3")

    val swept = graft.ops.ParquetStage.sweepStale(spark)
    assert(swept >= 2, s"expected at least the two planted dead dirs, swept $swept")
    assert(!fs.exists(dead1) && !fs.exists(dead2),
      "dead-owner namespaces must be deleted")
    assert(fs.exists(own) && fs.exists(sibling),
      "live-PID namespaces must survive")
    assert(fs.exists(unknown),
      "dirs that do not parse as owner namespaces are not ours to judge")

    // self-protection: even a predicate that declares EVERYTHING dead
    // must not delete this process's own namespaces
    graft.ops.ParquetStage.sweepStale(spark, (_, _) => false)
    assert(fs.exists(own),
      "own namespace deleted under a lying liveness predicate")
    assert(fs.exists(unknown))

    fs.delete(own, true); fs.delete(sibling, true); fs.delete(unknown, true)
  }

  test("sweepStale is a no-op on a missing scratch root") {
    val empty = spark.newSession()
    empty.conf.set("spark.graft.scratchDir",
      tmp("janitor-empty")
        + "/nonexistent")
    assert(graft.ops.ParquetStage.sweepStale(empty) == 0)
  }
}
