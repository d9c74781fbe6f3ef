package graft

/** Dev tool: run [[graft.pipeline.CurationExport]] over a corpus at a
  * given byte target and print the output file-size histogram — the
  * §6 output-sizing receipt (OPTIMIZATION_r20.md).
  * `runMain graft.ExportSize <sfDir> <outDir> [targetBytes]`.
  */
object ExportSize {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val outDir = args.lift(1).getOrElse("/tmp/graft-export-size")
    val target = args.lift(2).map(_.toLong)
    val spark = GraftSession.local(GraftSession.envCpus)
    graft.pipeline.CurationExport
      .run(spark, sfDir, outDir, targetFileBytes = target)
      .collect().foreach(r => println(s"[export] $r"))
    val files = new java.io.File(outDir).listFiles.filter(_.isDirectory)
      .flatMap(d => d.listFiles.map(f => (d.getName, f)))
      .filter { case (_, f) => f.getName.startsWith("part-") }
      .sortBy { case (d, f) => (d, f.getName) }
    println(s"[export] target=${target.getOrElse("default(128MiB)")} " +
      s"files=${files.length}")
    files.foreach { case (d, f) =>
      println(f"[export]   $d%-12s ${f.length}%10d B  ${f.getName.take(20)}...")
    }
    spark.stop()
  }
}
