package graft.tools

/** Dev tool: print a query's analyzed + AQE-final executed plan.
  * `runMain graft.tools.PlanDump <query> [sfDir]`.
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val name = args.head
    val sfDir = args.lift(1).getOrElse("/root/testdata/sf0.001")
    val spark = graft.SparkEntry.session(8, logLevel = "ERROR")
    val df = graft.SparkEntry.queries(name)(spark, sfDir)
    df.collect()
    println("==== optimized ====")
    println(df.queryExecution.optimizedPlan.toString.take(4000))
    println("==== executed ====")
    println(df.queryExecution.executedPlan.toString.take(4000))
    spark.stop()
  }
}
