package graft
import com.fasterxml.jackson.databind.ObjectMapper
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    // optional 3rd arg: comma-separated query-name filter (dev loop —
    // the driver always passes two)
    val (sfDir, outDir, filter) = args match {
      case Array(s, o)    => (s, o, None)
      case Array(s, o, f) => (s, o, Some(f))
      case _ =>
        System.err.println(
          "usage: graft.Verify <sfDir> <outDir> [queryFilter]\n" +
            "  queryFilter: comma-separated SparkEntry.queries names " +
            "(dev loop; the driver always passes two args)")
        sys.exit(2)
    }
    val queries = SparkEntry.queries
    val names = GraftSession.only("verify", filter, queries.keys.toSeq)
    val spark = GraftSession.local(GraftSession.envCpus)
    new java.io.File(outDir).mkdirs()
    names.foreach { name =>
      try queries(name)(spark, sfDir).coalesce(1).write.mode("overwrite")
        .parquet(s"$outDir/$name")
      catch { case e: Throwable =>
        System.err.println(s"[verify] $name failed: ${e.getMessage}")
      }
      // queries that persist a stage (q29/q34) must not retain it
      // across the rest of the catalog
      spark.catalog.clearCache()
    }
    // Jackson escapes every control character: a tab or CR in
    // builder-authored SQL must not break the driver's json.load
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"),
      new ObjectMapper().writeValueAsString(SparkEntry.oracleSql.asJava))
    spark.stop()
  }
}
