package graft

import org.apache.spark.sql.SparkSession

/** The one place a session is built. Every driver tool (Verify, Bench,
  * ScaleProbe, Explain, ExplainPageRank, ExportSize) and the test
  * suite's `TestSpark` call [[local]], so the conventions the queries
  * and the DuckDB oracle rely on are decided once:
  *   - `local[cpus]` with `cpus` shuffle partitions;
  *   - UTC session zone: q27's `date_format` must not follow the
  *     machine's zone, and [[Tables.events]] requires it;
  *   - `nanosAsLong`: events.parquet may be TIMESTAMP(NANOS), see
  *     [[Tables.events]];
  *   - TIMESTAMP_MICROS parquet output: plain int64 micros that
  *     pyarrow and DuckDB read as written (INT96 is deprecated and
  *     reads differently);
  *   - [[graft.plans.GraftExtensions]]: the optimizer rules, planner
  *     strategies and SQL functions;
  *   - no UI and WARN logging.
  * `getOrCreate` makes a second call in the same JVM return the
  * running session, so the setup is idempotent.
  */
object GraftSession {

  /** The core count of the driver tools: SPARK_GRAFT_CPUS, default 4. */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  def local(cpus: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("graft")
      .config("spark.sql.shuffle.partitions", cpus.toLong)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.outputTimestampType", "TIMESTAMP_MICROS")
      .config("spark.sql.extensions", "graft.plans.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  /** `known` narrowed, in its own order, to the comma-separated names
    * of a dev-loop filter, or all of `known` without one. Left holds
    * the names `known` lacks. */
  private[graft] def pick(filter: Option[String],
                          known: Seq[String]): Either[Seq[String], Seq[String]] =
    filter.map(_.split(',').toSet) match {
      case None => Right(known)
      case Some(names) =>
        val unknown = (names -- known).toSeq.sorted
        if (unknown.nonEmpty) Left(unknown) else Right(known.filter(names))
    }

  /** [[pick]] for a driver tool's `main`: an unknown name refuses the
    * run (exit 2), because a typo would otherwise produce a
    * plausible-looking empty result. */
  def only(tool: String, filter: Option[String], known: Seq[String]): Seq[String] =
    pick(filter, known).fold({ unknown =>
      System.err.println(
        s"[$tool] REFUSING: unknown query names ${unknown.mkString(",")}")
      sys.exit(2)
    }, identity)
}
