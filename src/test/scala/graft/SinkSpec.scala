package graft

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan, UnionExec}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.command.DataWritingCommandExec
import org.apache.spark.sql.execution.datasources.InsertIntoHadoopFsRelationCommand
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.sql.util.QueryExecutionListener
import graft.pipeline.{Messages, Pipeline, RowIsolatedJdbcSink}
import graft.queries.Scratch

/** Sink-boundary semantics: per-row failure isolation inside the JDBC
  * write, job-count scaling of the grouped parquet sink, and the grouped
  * sink's single pass checked against the per-target union it replaced. */
class SinkSpec extends SparkSpec {

  private def derbyUrl(name: String): String = {
    System.setProperty("derby.system.home", Scratch.path("derby_home"))
    new java.io.File(Scratch.path("derby_home")).mkdirs()
    s"jdbc:derby:${Scratch.path(name)};create=true"
  }

  private val props = {
    val p = new java.util.Properties()
    p.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    p
  }

  test("sink-time constraint violation dead-letters exactly one row, commit proceeds") {
    val url = derbyUrl("derby_sinkspec_db")
    val table = "SINK_" + graft.multimodal.Codecs
      .md5hex(Messages.lineSinkQuery.getBytes("UTF-8")).toUpperCase
    RowIsolatedJdbcSink.dropTable(url, table)
    RowIsolatedJdbcSink.ensureTable(url, table, Messages.lineSinkSchema,
      Seq("CHECK (L_QUANTITY <= 10)"))

    import spark.implicits._
    // 5 valid wire messages; orderkey 3 violates the table CHECK — a
    // failure only the database can see (the cast ladder passes it)
    val corpus = Seq(
      (1L, 1, 5.0, "N"), (2L, 1, 7.0, "A"), (3L, 1, 11.0, "R"),
      (4L, 1, 2.0, "N"), (5L, 1, 3.0, "A"))
      .toDF("l_orderkey", "l_linenumber", "l_quantity", "l_returnflag")
      .select(Messages.encode(Messages.lineSinkQuery, Seq(
        col("l_orderkey"), col("l_linenumber"),
        col("l_quantity"), col("l_returnflag"))).as("body"))
    val deadDir = Scratch.fresh("sinkspec_dead")

    Pipeline.sinkBatchJdbcIsolated(corpus, url, deadDir)

    val back = spark.read.jdbc(url, table, props)
    assert(back.count() == 4)
    assert(!back.select("L_ORDERKEY").as[Long].collect().contains(3L))

    val dead = spark.read.json(deadDir)
    assert(dead.count() == 1)
    val row = dead.select("reason", "body").head()
    assert(row.getString(0).startsWith("exec_error"))
    assert(row.getString(1).contains("\"3\"")) // original body verbatim
  }

  test("grouped parquet sink runs one good-write job regardless of group count") {
    import spark.implicits._
    val partQuery = "INSERT INTO default.part_sink (p_partkey, p_name) VALUES (?, ?);"
    val partSchema = StructType(Seq(
      StructField("p_partkey", LongType), StructField("p_name", StringType)))
    val schemas = Messages.targetSchemas + (partQuery -> partSchema)

    val lineMsgs = Seq((1L, 1, 5.0, "N"), (2L, 2, 7.0, "A"))
      .toDF("a", "b", "c", "d")
      .select(Messages.encode(Messages.lineSinkQuery,
        Seq(col("a"), col("b"), col("c"), col("d"))).as("body"))
    val partMsgs = Seq((10L, "bolt"), (11L, "nut"))
      .toDF("a", "b")
      .select(Messages.encode(partQuery, Seq(col("a"), col("b"))).as("body"))
    val corpus = lineMsgs.union(partMsgs)
    val out = Scratch.fresh("sinkspec_multigroup")

    // Count ACTIONS, not raw jobs: every job spawned by one write
    // action (including AQE re-plans, dynamic-partition commit jobs,
    // persist materialization) shares that action's SQL execution id,
    // so distinct execution ids == actions run by sinkBatch. Raw job
    // counts are fragile — incidental jobs from elsewhere on the
    // shared session, or a Spark version emitting an extra stage,
    // would flip an exact global count.
    val execIds = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
    val jobs = new AtomicInteger(0)
    val listener = new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet()
        val id = js.properties.getProperty("spark.sql.execution.id")
        if (id != null) execIds.add(id)
      }
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      Pipeline.sinkBatch(corpus, out, schemas)
      // listener delivery is async — wait for the count to settle
      var last = -1
      var settled = 0
      while (settled < 5) {
        Thread.sleep(100)
        val now = jobs.get()
        if (now == last) settled += 1 else { settled = 0; last = now }
      }
    } finally spark.sparkContext.removeSparkListener(listener)

    // 2 query groups but exactly 2 write actions: one dynamic-partition
    // good write + one dead-letter write (the old per-group loop ran 3)
    assert(execIds.size == 2, s"expected 2 write actions, saw ${execIds.size}")

    val good = spark.read.parquet(s"$out/good")
    assert(good.select(Pipeline.QueryTagCol).distinct().count() == 2)
    assert(good.count() == 4)
    val lineKey = graft.multimodal.Codecs.md5hex(Messages.lineSinkQuery.getBytes("UTF-8"))
    val line = good.filter(col(Pipeline.QueryTagCol) === lineKey)
    assert(line.select("l_orderkey").as[Long].collect().sorted.toSeq == Seq(1L, 2L))
    assert(line.select("p_partkey").collect().forall(_.isNullAt(0)))
  }

  /** Walks executed plans into AQE stages. */
  private object Plans extends AdaptiveSparkPlanHelper

  private def md5(q: String): String =
    graft.multimodal.Codecs.md5hex(q.getBytes("UTF-8"))

  /** A wire message in corrie's envelope. */
  private def body(q: String, cells: String*): String =
    s"""{"Query":"$q","Data":[${cells.map("\"" + _ + "\"").mkString(",")}]}"""

  test("grouped parquet sink writes what the per-target union wrote, in one scan") {
    import spark.implicits._
    val qA = "INSERT INTO t.a (id, qty, name) VALUES (?, ?, ?);"
    val qB = "INSERT INTO t.b (id, note) VALUES (?, ?);"
    val qC = "INSERT INTO t.c (qty, flag, id) VALUES (?, ?, ?);"
    // `id` BIGINT in every target; `qty` INT in a but BIGINT in c, so the
    // union widens it; `note` and `flag` each belong to one target
    val schemas = Map(
      qA -> StructType(Seq(StructField("id", LongType),
        StructField("qty", IntegerType), StructField("name", StringType))),
      qB -> StructType(Seq(StructField("id", LongType), StructField("note", StringType))),
      qC -> StructType(Seq(StructField("qty", LongType),
        StructField("flag", BooleanType), StructField("id", LongType))))
    val corpus = Seq(
      body(qA, "1", "10", "x"), body(qA, "2", "20", "y"),
      body(qB, "3", "hello"), body(qB, "4", "world"),
      body(qC, "5000000000", "true", "5"), body(qC, "6", "false", "6"),
      body(qA, "7", "not_an_int", "z"),                  // cast_error
      "{not json",                                        // decode_error
      body("INSERT INTO t.none (x) VALUES (?);", "8")     // unknown_query
    ).toDF("body")

    // the sink as it was: one filtered branch per target, md5-tagged and
    // joined by name
    val ref = Scratch.fresh("sinkspec_union_ref")
    val pinned = Pipeline.parseMaterialized(corpus, schemas = schemas)
    try {
      val batch = Pipeline.route(pinned, schemas)
      batch.groups.map { case (q, g) => g.good.withColumn(Pipeline.QueryTagCol, lit(md5(q))) }
        .reduce(_.unionByName(_, allowMissingColumns = true))
        .write.partitionBy(Pipeline.QueryTagCol).parquet(s"$ref/good")
      batch.dead.write.json(s"$ref/failed")
    } finally pinned.unpersist(blocking = true)

    val out = Scratch.fresh("sinkspec_single_pass")
    val plans = new ConcurrentLinkedQueue[SparkPlan]()
    val listener = new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        plans.add(qe.executedPlan)
      override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    spark.listenerManager.register(listener)
    try {
      Pipeline.sinkBatch(corpus, out, schemas)
      // listener delivery is async — wait for both write actions
      val deadline = System.currentTimeMillis() + 30000
      while (plans.size < 2 && System.currentTimeMillis() < deadline) Thread.sleep(50)
    } finally spark.listenerManager.unregister(listener)

    // schema: names, types (qty widened to BIGINT), order and nullability
    val got = spark.read.parquet(s"$out/good")
    val want = spark.read.parquet(s"$ref/good")
    assert(got.schema == want.schema)
    assert(got.schema.map(f => f.name -> f.dataType) == Seq(
      "id" -> LongType, "qty" -> LongType, "name" -> StringType,
      "note" -> StringType, "flag" -> BooleanType, Pipeline.QueryTagCol -> StringType))
    // one directory per target, named by the md5 of its query
    def tags(dir: String) = new java.io.File(dir).list().filter(_.contains("=")).toSet
    assert(tags(s"$out/good") == tags(s"$ref/good"))
    assert(tags(s"$out/good") == Set(qA, qB, qC).map(q => s"${Pipeline.QueryTagCol}=${md5(q)}"))
    def rows(df: org.apache.spark.sql.DataFrame) = df.collect().map(_.toString).sorted.toSeq
    assert(rows(got) == rows(want))
    assert(got.count() == 6)
    assert(got.filter(col("qty") === 5000000000L).count() == 1)

    val dead = spark.read.json(s"$out/failed").select("body", "reason")
    assert(rows(dead) == rows(spark.read.json(s"$ref/failed").select("body", "reason")))
    assert(dead.select("reason").as[String].collect().sorted.toSeq ==
      Seq("cast_error", "decode_error", "unknown_query"))

    // the good write reads the pinned batch once, with no union of branches
    val goodWrites = plans.asScala.toSeq.filter(_.collectFirst {
      case DataWritingCommandExec(c: InsertIntoHadoopFsRelationCommand, _)
        if c.partitionColumns.nonEmpty => c
    }.isDefined)
    assert(goodWrites.size == 1, s"expected one partitioned write, saw ${goodWrites.size}")
    val nodes = Plans.collect(goodWrites.head) { case p => p }
    assert(!nodes.exists(_.isInstanceOf[UnionExec]), goodWrites.head.treeString)
    assert(nodes.count(_.isInstanceOf[InMemoryTableScanExec]) == 1, goodWrites.head.treeString)
  }

  test("sinkBatchJdbc defaults batchsize on a copy, not on the caller's Properties") {
    import spark.implicits._
    val url = derbyUrl("derby_sinkspec_props_db")
    val table = "SINK_" + md5(Messages.lineSinkQuery).toUpperCase
    RowIsolatedJdbcSink.dropTable(url, table)
    val callerProps = new java.util.Properties()
    callerProps.setProperty("driver", "org.apache.derby.jdbc.EmbeddedDriver")
    val corpus = Seq(
      body(Messages.lineSinkQuery, "1", "1", "5.0", "N"),
      body(Messages.lineSinkQuery, "2", "1", "7.0", "A")).toDF("body")

    Pipeline.sinkBatchJdbc(corpus, url, callerProps, Scratch.fresh("sinkspec_props_dead"))

    assert(callerProps.getProperty("batchsize") == null,
      "the caller's Properties must come back as it was given")
    assert(spark.read.jdbc(url, table, props).count() == 2)
  }
}
