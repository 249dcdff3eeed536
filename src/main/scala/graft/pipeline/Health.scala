package graft.pipeline

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQueryListener

/** Health/status probe surface (reference main.go:31-69).
  *
  * The reference exposes two HTTP probes: `/healthcheck` (static
  * liveness, main.go:31-33) and `/status` (main.go:46-69: reader and
  * writer pinged CONCURRENTLY, both must pass; the writer ping retries
  * 10× at 1 s, writer/writer.go:148-161). Spark-first re-expression:
  * the probes are plain functions over the engine's own source/sink
  * abstractions, and the continuously-updated "status body" is a
  * [[HealthMonitor]] — a `StreamingQueryListener` materializing every
  * query state transition into a DataFrame, so operational state is
  * queryable with the same engine the pipeline runs on.
  */
object Health {

  sealed abstract class State(val wire: String)
  case object Passing extends State("passing")
  case object Warning extends State("warning")

  /** `/healthcheck` (main.go:31-33): static liveness — reachable
    * process ⇒ passing "ok". */
  def healthcheck(): (State, String) = (Passing, "ok")

  /** Reader probe ≙ reader.go:156-160 (`IsAccessible`). The reference
    * TODOs the actual ping and returns true unconditionally; here the
    * source is a real check: the path must exist and be listable
    * through the session's Hadoop filesystem (covers local and
    * distributed stores alike). */
  def readerAccessible(spark: SparkSession, path: String): Boolean =
    try {
      val p = new org.apache.hadoop.fs.Path(path)
      val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
      fs.exists(p)
    } catch { case scala.util.control.NonFatal(_) => false }

  /** Writer probe ≙ writer/writer.go:148-161: ping the JDBC sink,
    * retried up to `attempts` times (reference: 10 × 1 s). */
  def writerAccessible(
      url: String, attempts: Int = 10, pingIntervalMillis: Long = 1000L): Boolean = {
    var i = 0
    while (i < attempts) {
      try {
        val conn = java.sql.DriverManager.getConnection(url)
        try { if (conn.isValid(5)) return true } finally conn.close()
      } catch { case scala.util.control.NonFatal(_) => () }
      i += 1
      if (i < attempts) Thread.sleep(pingIntervalMillis)
    }
    false
  }

  /** `/status` (main.go:46-69): reader and writer probed concurrently
    * (the reference forks two goroutines and joins on a WaitGroup);
    * both pass → (passing, "ok") else (warning, "nok"). */
  def status(
      spark: SparkSession, sourcePath: String, sinkUrl: String,
      attempts: Int = 10, pingIntervalMillis: Long = 1000L): (State, String) = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.ExecutionContext.Implicits.global
    import scala.concurrent.duration.Duration
    val rs = Future(readerAccessible(spark, sourcePath))
    val ws = Future(writerAccessible(sinkUrl, attempts, pingIntervalMillis))
    if (Await.result(rs, Duration.Inf) && Await.result(ws, Duration.Inf))
      (Passing, "ok")
    else (Warning, "nok")
  }
}

/** One recorded query state transition. `batchId`/`numInputRows` are
  * -1 for lifecycle events (started/terminated); `error` carries the
  * terminating exception message, if any. */
final case class QueryEvent(
    ts: java.sql.Timestamp, name: String, runId: String, event: String,
    batchId: Long, numInputRows: Long, error: Option[String])

/** The queryable status table (reference main.go's `/status` body,
  * re-expressed): every started / progress / terminated transition of
  * every streaming query on the session, recorded in arrival order.
  *
  * Events are buffered in a lock-free queue (listener callbacks fire
  * on Spark's listener-bus thread — they must never block) and lifted
  * to a DataFrame on demand. Attach once per session; state survives
  * query restarts, so a monitor sees `started → progress* →
  * terminated` per run, keyed by runId.
  */
final class HealthMonitor(spark: SparkSession) extends StreamingQueryListener {

  private val events = new ConcurrentLinkedQueue[QueryEvent]()
  // runId → query name for runs not yet terminated: Spark's terminated
  // event carries no name
  private val names = new ConcurrentHashMap[String, String]()

  private def now() = new java.sql.Timestamp(System.currentTimeMillis())

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = {
    Option(e.name).foreach(names.put(e.runId.toString, _))
    events.add(QueryEvent(now(), e.name, e.runId.toString, "started", -1L, -1L, None))
  }

  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
    events.add(QueryEvent(now(), e.progress.name, e.progress.runId.toString,
      "progress", e.progress.batchId, e.progress.numInputRows, None))

  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit =
    events.add(QueryEvent(now(), names.remove(e.runId.toString), e.runId.toString,
      "terminated", -1L, -1L, e.exception))

  def attach(): this.type = { spark.streams.addListener(this); this }
  def detach(): Unit = spark.streams.removeListener(this)

  /** Snapshot of recorded transitions as a queryable table. */
  def statusTable(): DataFrame = {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    events.iterator().asScala.toSeq.toDF()
  }

  /** Latest recorded event name for `runId` (e.g. "progress",
    * "terminated") — the per-query health verdict. */
  def lastEvent(runId: String): Option[String] = {
    import scala.jdk.CollectionConverters._
    events.iterator().asScala.filter(_.runId == runId)
      .foldLeft(Option.empty[String])((_, e) => Some(e.event))
  }
}
