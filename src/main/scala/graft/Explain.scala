package graft

/** Dev tool: print the formatted physical plan of one or more
  * catalog queries (all of them with no names given) —
  * `runMain graft.Explain <sfDir> [query...]`. The session comes from
  * [[GraftSession]], as Verify's does, so what prints here is what
  * the gate executes.
  */
object Explain {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.01")
    val names =
      if (args.length > 1) args.drop(1).toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val spark = GraftSession.local(GraftSession.envCpus)
    names.foreach { n =>
      println(s"\n==== $n ====")
      SparkEntry.queries(n)(spark, sfDir).explain("formatted")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
