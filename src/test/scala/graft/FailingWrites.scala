package graft

import org.apache.hadoop.mapreduce.TaskAttemptContext
import org.apache.spark.sql.execution.datasources.SQLHadoopMapReduceCommitProtocol

/** Crash injection for the stores' write paths: while `during` runs,
  * every file-writing task of every parquet write dies as it starts,
  * so each write job fails partway — after whatever the writer did
  * before the job (an overwrite's delete of its target included). A
  * failure raised by a bad input row would not reach that window in
  * the stores that cache their derived batch: the cache is built,
  * and fails, before the write command runs. */
object FailingWrites {
  private val Key = "spark.sql.sources.commitProtocolClass"

  /** Runs `op`, which must throw, with every write job failing. */
  def during(op: => Unit): Throwable = {
    val spark = TestSpark.spark
    spark.conf.set(Key, classOf[FailingWrites.Protocol].getName)
    try {
      val failed = scala.util.Try(op).failed
      assert(failed.isSuccess, "the injected write failure did not fail the operation")
      failed.get
    } finally spark.conf.unset(Key)
  }

  class Protocol(jobId: String, path: String, dynamicPartitionOverwrite: Boolean)
      extends SQLHadoopMapReduceCommitProtocol(jobId, path, dynamicPartitionOverwrite) {
    override def setupTask(taskContext: TaskAttemptContext): Unit =
      throw new java.io.IOException("injected write-task failure")
  }
}
