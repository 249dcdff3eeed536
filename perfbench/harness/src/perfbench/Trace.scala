package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener

/** One clock for the whole harness: seconds since the harness started,
  * with wall-clock listener timestamps mapped onto the same axis. */
object Clock {
  private val t0 = System.nanoTime()
  private val wall0 = System.currentTimeMillis()
  def now(): Double = (System.nanoTime() - t0) / 1e9
  def fromEpochMs(ms: Long): Double = (ms - wall0) / 1000.0
}

/** A span: one call across a layer boundary, with the span that caused
  * it. Jobs become child spans of the span named by the local property
  * [[Tracer.SpanProp]] of the thread that submitted them. */
final case class Span(id: String, name: String, parent: String, start: Double, end: Double)

/** The traced run's instruments: a SparkListener, a
  * QueryExecutionListener, a StreamingQueryListener, CodegenMetrics
  * and GC deltas, and the benchmark's own spans. Everything is kept in
  * memory and read once, after [[stop]]. Untraced phases never build
  * one, so they pay only for setting the span local property. */
final class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  val spans = new ConcurrentLinkedQueue[Span]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Double, String)]()
  private val jobsBySpan = new java.util.concurrent.ConcurrentHashMap[String, AtomicInteger]()
  private val jobs = new AtomicInteger
  private val stages = new AtomicInteger
  private val actions = new AtomicInteger
  private val planNanos = new AtomicLong
  private val taskMs = new AtomicLong
  private val shuffleRead = new AtomicLong
  private val shuffleWrite = new AtomicLong
  private val spill = new AtomicLong
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()

  private def gcMs(): Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime.max(0L)).sum
  private def compileCount(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  private var t0 = 0.0
  private var t1 = 0.0
  private var gc0 = 0L
  private var gc1 = 0L
  private var cc0 = 0L
  private var cc1 = 0L
  private var compileMeanMs = 0.0

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val span = Option(e.properties).flatMap(p => Option(p.getProperty(Tracer.SpanProp))).getOrElse("")
      jobStart.put(e.jobId, (Clock.fromEpochMs(e.time), span))
      jobs.incrementAndGet()
      jobsBySpan.computeIfAbsent(span, _ => new AtomicInteger).incrementAndGet()
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit =
      Option(jobStart.get(e.jobId)).foreach { case (s, span) =>
        spans.add(Span(s"job:${e.jobId}", "spark.job", span, s, Clock.fromEpochMs(e.time)))
      }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = stages.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Option(e.taskMetrics).foreach { m =>
      taskMs.addAndGet(m.executorRunTime)
      shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
      spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  private val qeListener = new QueryExecutionListener {
    private def planned(qe: QueryExecution): Unit = {
      actions.incrementAndGet()
      planNanos.addAndGet(qe.tracker.phases.values.map(_.durationMs).sum * 1000000L)
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = planned(qe)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = planned(qe)
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryIdle(e: StreamingQueryListener.QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> (v.longValue / 1000.0) }.toMap
      progress.add(Map("batch" -> p.batchId, "rows" -> p.numInputRows, "duration_s" -> d))
    }
  }

  def start(): Unit = {
    org.apache.spark.PerfbenchBus.drain(sc)
    sc.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
    gc0 = gcMs(); cc0 = compileCount(); t0 = Clock.now()
  }

  def stop(): Unit = {
    t1 = Clock.now()
    org.apache.spark.PerfbenchBus.drain(sc)
    gc1 = gcMs(); cc1 = compileCount()
    compileMeanMs = CodegenMetrics.METRIC_COMPILATION_TIME.getSnapshot.getMean
    sc.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }

  def span[T](name: String, parent: String, id: String = null)(body: => T): T = {
    val sid = Option(id).getOrElse(name)
    val s = Clock.now()
    try body finally spans.add(Span(sid, name, parent, s, Clock.now()))
  }

  def jobsOf(span: String): Int = Option(jobsBySpan.get(span)).map(_.get).getOrElse(0)

  /** Wall seconds of [t0, t1] that no job covers: work outside the
    * executors, such as planning, file listing, commits and loops in the
    * application's own threads. */
  private def outsideJobSeconds(): Double = {
    val iv = spans.asScala.filter(_.name == "spark.job")
      .map(s => (s.start.max(t0), s.end.min(t1))).filter(x => x._2 > x._1).toSeq.sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (s, e) =>
      if (curS.isNaN || s > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = s; curE = e
      } else curE = curE.max(e)
    }
    if (!curS.isNaN) covered += curE - curS
    (t1 - t0) - covered
  }

  /** Self time per span name: a span's duration minus the part of it
    * that its child spans cover. */
  def selfSeconds(): Map[String, Double] = {
    val all = spans.asScala.toSeq
    val kids = all.groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      name -> ss.map { s =>
        val iv = kids.getOrElse(s.id, Nil).map(c => (c.start.max(s.start), c.end.min(s.end)))
          .filter(x => x._2 > x._1).sortBy(_._1)
        var covered = 0.0
        var curE = s.start
        iv.foreach { case (a, b) =>
          val from = a.max(curE)
          if (b > from) { covered += b - from; curE = b }
        }
        (s.end - s.start) - covered
      }.sum
    }
  }

  def summary(cpus: Int): Map[String, Any] = {
    val wall = t1 - t0
    val compiles = cc1 - cc0
    Map(
      "wall_s" -> wall,
      "spark.jobs" -> jobs.get,
      "spark.stages" -> stages.get,
      "spark.actions" -> actions.get,
      "spark.plan_s" -> planNanos.get / 1e9,
      "spark.codegen_compiles" -> compiles,
      // CodegenMetrics keeps a sampled histogram, not a sum: count × mean
      "spark.codegen_compile_s" -> compiles * compileMeanMs / 1000.0,
      "spark.outside_job_s" -> outsideJobSeconds(),
      "spark.task_s" -> taskMs.get / 1000.0,
      "spark.task_busy_ratio" -> (if (wall > 0) taskMs.get / 1000.0 / (wall * cpus) else 0.0),
      "spark.shuffle_read_mb" -> shuffleRead.get / 1048576.0,
      "spark.shuffle_write_mb" -> shuffleWrite.get / 1048576.0,
      "spark.spill_mb" -> spill.get / 1048576.0,
      "spark.gc_s" -> (gc1 - gc0) / 1000.0,
      "self_s" -> selfSeconds(),
      "progress" -> progress.asScala.toSeq)
  }
}

object Tracer {
  val SpanProp = "perfbench.span"
}
