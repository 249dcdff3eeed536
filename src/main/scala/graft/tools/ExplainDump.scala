package graft.tools

/** Writes `.explain("formatted")` output for registered queries to
  * files — the r14 optimization round's plan-evidence deliverable
  * (`plans/r14/<query>_{before,after}.txt`).
  *
  * Usage: runMain graft.tools.ExplainDump <outDir> <suffix> <sfDir> <q1> [q2 ...]
  *
  * Each query's DataFrame is built (not executed) and its formatted
  * physical plan written to `<outDir>/<name>_<suffix>.txt`. Queries
  * whose construction itself runs jobs (streaming lanes, store-building
  * lanes) still work — construction cost is paid, only the final plan
  * is dumped. */
object ExplainDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args(2)
    val names = args.drop(3)
    val spark = graft.SparkEntry.session(8, logLevel = "ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    names.foreach { name =>
      val df = graft.SparkEntry.queries(name)(spark, sfDir)
      val txt = df.queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
      java.nio.file.Files.writeString(
        java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), txt)
      println(s"[explain] wrote $outDir/${name}_$suffix.txt (${txt.length} chars)")
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
