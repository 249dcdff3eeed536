package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt.
  *
  * Every declared capability (SURVEY §2B) registers a [[QueryDef]] in
  * one of the module objects below; this object is only the aggregation
  * point the driver calls.
  */
object SparkEntry {

  /** All declared queries, in build order. Later waves append modules. */
  def allDefs: Seq[QueryDef] =
    Relational.defs ++ Sources.defs ++ Scalars.defs ++ Joins.defs ++
      Aggregations.defs ++ Windows.defs ++ SetOps.defs ++ Streaming.defs ++
      Dedup.defs ++ Similarity.defs ++ TextAnalysis.defs ++ MultimodalQ.defs ++
      Reshape.defs ++ TpchMore.defs ++ Curation.defs ++ TpchFull.defs ++
      SqlSurface.defs ++ Profiling.defs ++ Graph.defs ++ TimeSeries.defs ++
      DatasetPipeline.defs ++ Retrieval.defs

  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    Relational.q1Agg.fn(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2.
    *
    * Every lane is wrapped to register the native vector functions
    * up front: several builders use `expr("l2_dist_sq_at(...)")` etc.
    * in selects that are analyzed BEFORE their first registering helper
    * runs, which only worked when an alphabetically-earlier lane had
    * already registered the temp functions in the shared session
    * (ADVICE r14: q_sim_nprobe / q_sim_binary crashed when run alone in
    * a fresh session). Registration is a handful of hashmap lookups —
    * negligible per call.
    */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    allDefs.map { d =>
      d.name -> { (s: SparkSession, dir: String) =>
        graft.functions.VectorFunctions.register(s)
        d.fn(s, dir)
      }
    }.toMap

  /** The lanes whose names start with any of `prefixes`; every lane
    * when none is given. Fails on a filter that selects nothing, so a
    * mistyped name cannot pass as an empty run. */
  def lanes(prefixes: Seq[String]): Map[String, (SparkSession, String) => DataFrame] = {
    val picked = queries.filter { case (n, _) =>
      prefixes.isEmpty || prefixes.exists(n.startsWith) }
    require(picked.nonEmpty, s"no lane matches ${prefixes.mkString(" ")}")
    picked
  }

  /** The local session the mains and specs run on: `local[cpus]` with
    * as many shuffle partitions, UTC session time, no UI. */
  def session(cpus: Int, logLevel: String = "WARN"): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  /** Core count of Bench and Verify (`SPARK_GRAFT_CPUS`, default 4). */
  def envCpus: Int = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4").toInt

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omitted for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    allDefs.flatMap(d => d.oracle.map(d.name -> _)).toMap
}
