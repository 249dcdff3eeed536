package graft.pipeline

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

/** The corrie ingest pipeline, Spark-first (SURVEY §2A ops 2,3,4,8,10):
  * parse → poison-route → group by query → per-target cast ladder with
  * per-row failure isolation → grouped sink + dead-letter sink.
  *
  * All routing is declarative (filters over codegen'd `try_cast`
  * expressions), so Catalyst keeps the whole thing in one
  * WholeStageCodegen pass per sink — no driver loops, no RDD hops.
  * The grouped sink ([[sinkBatch]]) scans the pinned batch once for all
  * K targets: one projection CASE-selects each row's typed cells by its
  * query, so a micro-batch is two write actions (good rows, dead
  * letters) whatever K is.
  */
object Pipeline {

  /** Internal carried-column names. corrie's query strings and target
    * schemas are caller-controlled and unbounded, so a plain `body` /
    * `query` column would collide with a target field of the same name
    * (dropping both, or silently overwriting the user's data). The
    * double-underscore names are reserved and rejected in [[route]]
    * and [[sinkBatch]]; dead letters rename back to the external `body`
    * at the sink boundary. */
  val BodyCol = "__graft_body"
  val QueryTagCol = "__graft_query"
  private val reserved = Set(BodyCol, QueryTagCol)

  private def requireUnreserved(schemas: Map[String, StructType]): Unit =
    schemas.foreach { case (q, schema) =>
      val clash = schema.fieldNames.filter(reserved)
      require(clash.isEmpty,
        s"target schema for '$q' uses reserved column(s): ${clash.mkString(",")}")
    }

  /** The md5 of a query string: its sink key (a 32-bit hashCode can
    * collide and silently mix two targets' schemas in one place). */
  private def queryKey(q: String): String =
    graft.multimodal.Codecs.md5hex(q.getBytes("UTF-8"))

  private def sinkTable(q: String): String = "SINK_" + queryKey(q).toUpperCase

  /** Parse + tag: one unconditional projection that extracts the
    * envelope into plain columns (`query`, `data`, `decode_ok`).
    *
    * Why this shape: every from_json reference inside a later CASE
    * branch would re-run the parse (Spark's subexpression elimination
    * skips conditionally-evaluated exprs) — extracting here keeps
    * exactly ONE parse per row for the whole downstream routing tree.
    * A message without a Query is as dead as corrupt JSON. */
  def parse(raw: DataFrame, bodyCol: String = "body"): DataFrame = {
    raw
      .select(col(bodyCol).as(BodyCol), Messages.decode(col(bodyCol)).as("p"))
      .select(
        col(BodyCol),
        col("p.Query").as("query"),
        col("p.Data").as("data"),
        // corrupt JSON → null struct → null Query; a message without
        // a Query is equally dead, so one null check covers both
        col("p.Query").isNotNull.as("decode_ok"))
  }

  /** Per-cell coercion ladder for one target column (mirrors
    * makeCHArray, reference writer/writer.go:250-277): try the target
    * type; a null result from a non-null cell is a cast failure.
    * Missing cells (index beyond Data) are failures too. Returns the
    * (unnamed) typed value and its validity. */
  private def castCell(i: Int, f: StructField): (Column, Column) = {
    val cell = expr(s"try_element_at(data, ${i + 1})")
    val castV = f.dataType match {
      case StringType => cell
      // try_cast: never throws (ANSI-safe), null signals failure.
      case t => expr(s"try_cast(try_element_at(data, ${i + 1}) AS ${t.sql})")
    }
    val ok = cell.isNotNull && (f.dataType match {
      case StringType => lit(true)
      case _ => castV.isNotNull
    })
    (castV, ok)
  }

  /** Add the routing verdicts as plain columns — `known` (target
    * schema registered) and `cast_ok` (every cell of the row coerces
    * under its target's ladder, CASE-selected on the query string).
    *
    * Why up front: the try_cast conjunction tree is the single most
    * expensive expression in the pipeline, and CASE branches defeat
    * subexpression elimination across consumers — computing it once
    * into the materialized batch means both sink lanes (good filter,
    * dead-letter reason) read a cached boolean instead of re-running
    * the whole ladder per lane. */
  private def withVerdicts(
      parsed: DataFrame,
      schemas: Map[String, StructType]): DataFrame = {
    val known = schemas.keys.toSeq
    val castOkByQuery = schemas.foldLeft(lit(true)) {
      case (acc, (q, schema)) =>
        val rowOk = schema.fields.zipWithIndex
          .map { case (f, i) => castCell(i, f)._2 }.reduce(_ && _)
        when(col("query") === q, rowOk).otherwise(acc)
    }
    parsed
      .withColumn("known", col("query").isin(known: _*))
      .withColumn("cast_ok", castOkByQuery)
  }

  /** Dead letters of a verdict-tagged batch: the ORIGINAL body verbatim
    * (reference reader/reader.go:168-179 forwards raw m.Body) plus a
    * reason: decode_error | unknown_query (≙ prepare failure, whole
    * group) | cast_error (≙ row-level exec failure). */
  private def deadLetters(parsed: DataFrame): DataFrame = {
    val reason = when(!col("decode_ok"), "decode_error")
      .when(!col("known"), "unknown_query")
      .when(!col("cast_ok"), "cast_error")
    parsed
      .withColumn("reason", reason)
      .filter(col("reason").isNotNull)
      .select(col(BodyCol).as("body"), col("reason"))
  }

  /** Split one parsed batch into (typed good rows for `query`,
    * dead letters), one frame per query group. */
  def route(
      parsed0: DataFrame,
      schemas: Map[String, StructType] = Messages.targetSchemas): RoutedBatch = {
    requireUnreserved(schemas)
    val parsed =
      if (parsed0.columns.contains("cast_ok")) parsed0
      else withVerdicts(parsed0, schemas)

    // within a `query === q` filter the CASE-selected cast_ok IS that
    // target's row validity, so the lanes only re-evaluate the (cheap,
    // survivor-only) cast values — never the validity conjunction
    val perQuery = schemas.map { case (q, schema) =>
      val cells = schema.fields.zipWithIndex.map { case (f, i) => castCell(i, f)._1.as(f.name) }
      val matching = parsed.filter(col("decode_ok") && col("query") === q)
      val good = matching.filter(col("cast_ok")).select(col(BodyCol) +: cells: _*)
      q -> GroupResult(good, deadLetters(matching), schema)
    }
    RoutedBatch(perQuery, deadLetters(parsed))
  }

  /** `CASE WHEN query = q₁ THEN v₁ WHEN query = q₂ THEN v₂ … END`:
    * null for any query not listed. */
  private def byQuery(branches: Seq[(String, Column)]): Column =
    branches.tail.foldLeft(when(col("query") === branches.head._1, branches.head._2)) {
      case (acc, (q, v)) => acc.when(col("query") === q, v)
    }

  /** Every target's typed cells as one set of columns, one per distinct
    * field name, in `unionByName(allowMissingColumns = true)` order: the
    * first target's fields, then each later target's new names. Each is
    * a CASE over the targets that declare the name, so a row of a
    * target lacking it carries null. Where targets disagree on a name's
    * type, Spark's CASE coercion widens the branches with the rule a
    * union applies to its children (`findWiderCommonType`). */
  private def mergedCells(schemas: Map[String, StructType]): Seq[Column] = {
    val cells = schemas.toSeq.flatMap { case (q, schema) =>
      schema.fields.zipWithIndex.map { case (f, i) => (f.name, q, castCell(i, f)._1) }
    }
    cells.map(_._1).distinct.map { name =>
      byQuery(cells.collect { case (`name`, q, v) => q -> v }).as(name)
    }
  }

  /** Parse and pin one micro-batch in executor memory (spilling to
    * disk) — the exact analogue of corrie's in-memory per-batch
    * buffers (reference writer/types.go:24-25). Without this, every
    * downstream lane re-runs the (non-codegen, CSE-resistant)
    * from_json per column reference; with it, JSON is parsed exactly
    * once and routing runs over primitive columns. */
  def parseMaterialized(
      raw: DataFrame, bodyCol: String = "body",
      schemas: Map[String, StructType] = Messages.targetSchemas): DataFrame =
    withVerdicts(parse(raw, bodyCol), schemas)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)

  /** Batched grouped JDBC sink — the literal corrie shape (§2A-9:
    * per-group batched INSERT into the target database, reference
    * writer/writer.go:195-248) with the same write-failures-first
    * ordering and retry policy as the parquet sink. Each query group
    * appends to its own table (md5-keyed, ≙ the INSERT's target);
    * Spark's JDBC writer batches 1000-row executeBatch rounds per
    * partition, the driver-side analogue of the block-based insert.
    *
    * One Spark job per group is inherent to the JDBC lane (each group
    * targets a different table over one connection pool) — at corrie's
    * unbounded dynamic-query cardinality the group count must be capped
    * upstream; the parquet lane ([[sinkBatch]]) has no such limit. */
  def sinkBatchJdbc(
      raw: DataFrame, url: String, props: java.util.Properties,
      deadDir: String,
      schemas: Map[String, StructType] = Messages.targetSchemas): Unit = {
    val parsed = parseMaterialized(raw, schemas = schemas)
    try {
      val batch = route(parsed, schemas)
      // executeBatch round size for Spark's JDBC writer — the
      // reference's CORRIE_BATCH=1000 (Dockerfile:35); callers may
      // override via props. Defaulted on a copy: callers reuse one
      // Properties across batches.
      val writeProps = new java.util.Properties()
      writeProps.putAll(props)
      if (writeProps.getProperty("batchsize") == null)
        writeProps.setProperty("batchsize", "1000")
      batch.groups.foreach { case (q, g) =>
        // Derby folds unquoted identifiers to uppercase; the JDBC read
        // side restores the original names
        val up = g.good.select(g.good.columns.map(c => col(c).as(c.toUpperCase)): _*)
        Retry.withBackoff() {
          up.write.mode("append").jdbc(url, sinkTable(q), writeProps)
        }
      }
      Retry.withBackoff() {
        LocalFs.write(batch.dead).mode("append").json(deadDir)
      }
    } finally parsed.unpersist(blocking = false)
  }

  /** [[sinkBatchJdbc]] with sink-time per-row failure isolation — the
    * reference's signature write behavior (writer/writer.go:218-233: a
    * row whose `Exec` fails inside the database dead-letters alone and
    * the commit proceeds for the rest). Good rows stream through
    * [[RowIsolatedJdbcSink.writeIsolated]]; its lazily-evaluated
    * failure dataset is materialized by an eager `localCheckpoint` —
    * the one action that drives the inserts, exactly once — and only
    * the dead-letter JSON append sits inside the retry loop, so a
    * transient failure of the dead-letter write can never re-execute
    * the (non-idempotent) JDBC inserts. Inserts still commit before
    * the batch is declared done (ack-after-commit ordering). Target
    * tables must already exist ([[RowIsolatedJdbcSink.ensureTable]]) —
    * their constraints are exactly the failures this sink isolates, so
    * DDL is the caller's. */
  def sinkBatchJdbcIsolated(
      raw: DataFrame, url: String, deadDir: String,
      schemas: Map[String, StructType] = Messages.targetSchemas,
      chunkSize: Int = 1000): Unit =
    sinkBatchJdbcIsolated(raw, Seq(url), deadDir, schemas,
      FailoverJdbc.InOrder, chunkSize)

  /** Failover variant (§2A-13, reference etc/corrie.yml:16
    * `alt_hosts`): the sink is a list of equivalent JDBC endpoints;
    * each partition connects via [[FailoverJdbc]] under `strategy`.
    * `chunkSize` = executeBatch round size (reference CORRIE_BATCH,
    * Dockerfile:35, default 1000). */
  def sinkBatchJdbcIsolated(
      raw: DataFrame, urls: Seq[String], deadDir: String,
      schemas: Map[String, StructType],
      strategy: FailoverJdbc.Strategy,
      chunkSize: Int): Unit = {
    val parsed = parseMaterialized(raw, schemas = schemas)
    var execDead: Option[DataFrame] = None
    try {
      val batch = route(parsed, schemas)
      // eager + lineage-severing: the checkpoint IS the insert action,
      // and the checkpointed blocks can never be recomputed (a lost
      // block fails the job instead of silently re-inserting)
      execDead = batch.groups.map { case (q, g) =>
        RowIsolatedJdbcSink
          .writeIsolated(g.goodWithBody, g.schema, urls, sinkTable(q), chunkSize, strategy)
          .toDF()
      }.reduceOption(_ union _).map(_.localCheckpoint(eager = true))
      val allDead = execDead.fold(batch.dead)(batch.dead.union)
      Retry.withBackoff() {
        LocalFs.write(allDead).mode("append").json(deadDir)
      }
    } finally {
      // a localCheckpoint's pinned RDD is not in the relation cache, so
      // Dataset.unpersist would leave it pinned
      execDead.foreach(graft.queries.Fixpoint.release)
      parsed.unpersist(blocking = false)
    }
  }

  /** Batched grouped parquet sink (§2A-9), in one pass over the pinned
    * batch for all K targets (≙ corrie's single flush over its buffer,
    * writer/writer.go:177-248). The good rows are one projection:
    * [[mergedCells]] CASE-selects each row's typed cells by its query,
    * and `__graft_query` CASE-selects the md5 of the query string. ONE
    * dynamic-partition append (`partitionBy(__graft_query)`) writes
    * every group, so a micro-batch is 2 write actions (good + dead) and
    * one scan of P tasks regardless of group cardinality. corrie's query
    * strings are unbounded (SURVEY §1.3) — a job or a scan per group
    * would make the batch's cost scale with data, the classic driver
    * bottleneck. Heterogeneous target schemas merge by name (absent
    * columns null), which parquet partition discovery reassembles on
    * read. Dead letters are written before the batch is declared done,
    * mirroring ack-after-commit ordering (writer/writer.go:177-186);
    * writes are wrapped in the corrie retry policy and go through
    * [[LocalFs.write]], so a local sink sets file modes without forking
    * a `chmod` per created file; the pinned batch is released afterwards
    * (≙ buffers cleared post-flush). */
  def sinkBatch(
      raw: DataFrame, outDir: String,
      schemas: Map[String, StructType] = Messages.targetSchemas): Unit = {
    requireUnreserved(schemas)
    val parsed = parseMaterialized(raw, schemas = schemas)
    try {
      if (schemas.nonEmpty) {
        val tag = byQuery(schemas.keys.toSeq.map(q => q -> lit(queryKey(q))))
        val good = parsed
          .filter(col("decode_ok") && col("known") && col("cast_ok"))
          .select(mergedCells(schemas) :+ tag.as(QueryTagCol): _*)
        Retry.withBackoff() {
          LocalFs.write(good).mode("append").partitionBy(QueryTagCol).parquet(s"$outDir/good")
        }
      }
      Retry.withBackoff() {
        LocalFs.write(deadLetters(parsed)).mode("append").json(s"$outDir/failed")
      }
    } finally parsed.unpersist(blocking = false)
  }
}

/** One routed query group. `goodWithBody` keeps the original wire body
  * alongside the typed cells so a sink-time failure can dead-letter the
  * verbatim message; `good` is the typed-cells-only view sinks append. */
final case class GroupResult(
    goodWithBody: DataFrame, dead: DataFrame, schema: StructType) {
  def good: DataFrame = goodWithBody.drop(Pipeline.BodyCol)
}

final case class RoutedBatch(
    groups: Map[String, GroupResult],
    dead: DataFrame)

/** Jittered-backoff retry (reference writer/writer.go:60 +
  * vendor/git.aqq.me/go/retrier/retrier.go:108-119: interval/2 + rand
  * jitter, INFINITE for transient sink errors). Default here is
  * bounded at 5 — a Spark job that permanently can't write should
  * surface, and task retries (`spark.task.maxFailures`) already cover
  * transient executor faults — but the reference's never-drop contract
  * is available: `attempts = Retry.Unbounded` (or any value <= 0)
  * retries transient errors forever.
  */
object Retry {
  /** The reference's infinite transient-retry policy (retrier.go:
    * 108-119 loops until `ErrStopped`). */
  val Unbounded: Int = 0

  def withBackoff[T](
      attempts: Int = 5,
      baseMillis: Long = 200L,
      jitter: Long => Long = ms => ms / 2 + scala.util.Random.nextLong(ms / 2 + 1))(
      f: => T): T = {
    val infinite = attempts <= 0
    var last: Throwable = null
    var i = 0
    while (infinite || i < attempts) {
      try return f
      catch {
        case t: InterruptedException =>
          Thread.currentThread().interrupt(); throw t
        case scala.util.control.NonFatal(t) =>
          last = t
          if (i < Int.MaxValue) i += 1
          if (infinite || i < attempts) // no dead sleep after the final attempt
            Thread.sleep(jitter(baseMillis * (1L << math.min(i - 1, 4))))
      }
    }
    throw last
  }
}
