package graft

import org.apache.spark.sql.SparkSession

object TestSpark {
  lazy val spark: SparkSession = GraftSession.local(4)
  val sf = "/root/testdata/sf0.001"

  /** Runs query `q` over `dir`; returns the stages its builder read. */
  def stagesRead(q: String, dir: String = sf): Set[String] =
    graft.ops.SessionStage.readsIn(
      SparkEntry.queries(q)(spark, dir).foreach(_ => ()))._2

  /** A fresh `graft-<prefix>…` scratch directory in the JVM temp dir,
    * deleted with everything under it when the (forked) test JVM
    * exits, after the session has stopped. */
  def tmp(prefix: String): String = {
    val dir = java.nio.file.Files.createTempDirectory(s"graft-$prefix").toFile
    org.apache.spark.ScratchShim.deleteOnExit(dir)
    dir.toString
  }
}
