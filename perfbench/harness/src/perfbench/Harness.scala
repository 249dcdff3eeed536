package perfbench

import java.io.File
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import org.apache.spark.sql.types.StructType

import graft.pipeline.Pipeline

/** The JVM side of the benchmark: drives the program's public entry
  * points (`Pipeline.sinkBatch`, `SparkEntry.queries`) on inputs that
  * perfbench/run.py generated, and writes raw timings to a JSON file.
  * run.py checks outputs and turns the timings into metrics.
  *
  * Arguments are `key=value` pairs; see run.py for the keys. One
  * process runs one workload: set-up (warm-up), then one untraced
  * phase, or with trace=1 an untraced and a traced phase of half the
  * length each, so the tracing overhead can be read off. */
object Harness {

  def main(args: Array[String]): Unit = {
    val conf = args.map { a => val i = a.indexOf('='); a.substring(0, i) -> a.substring(i + 1) }.toMap
    val work = conf("work")
    val cpus = conf("cpus").toInt
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      // the reader gets its own fair-share pool, so a read beside a
      // running write job shares the cores instead of queueing behind it
      .config("spark.scheduler.mode", "FAIR")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val bringUp = ManagementFactory.getRuntimeMXBean.getUptime / 1000.0
    val workload: Workload = conf("workload") match {
      case "ingest_paced" => new Paced(spark, conf)
      case "lanes_kernel" => new Lanes(spark, conf)
      case w => throw new IllegalArgumentException(s"unknown workload $w")
    }
    val seconds = conf("seconds").toDouble
    val traced = conf("trace") == "1"
    val w0 = Clock.now()
    workload.setup()
    val warmup = Clock.now() - w0
    val phases =
      if (!traced) Seq(workload.phase(0, seconds, None))
      else {
        val plain = workload.phase(0, seconds / 2, None)
        val tracer = new Tracer(spark)
        tracer.start()
        val rec = workload.phase(1, seconds / 2, Some(tracer))
        tracer.stop()
        Files.writeString(Paths.get(work, "spans.jsonl"),
          tracer.spans.asScala.map(s => Json(Map("id" -> s.id, "name" -> s.name,
            "parent" -> s.parent, "start" -> s.start, "end" -> s.end))).mkString("", "\n", "\n"))
        Seq(plain, rec ++ Map("trace" -> tracer.summary(cpus)))
      }
    // the least heap in use over a few forced collections: one collection
    // can leave garbage that a concurrent cleanup had not yet released
    val heapMb = (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(200)
      ManagementFactory.getMemoryMXBean.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    val pinned = spark.sparkContext.getPersistentRDDs.size
    val out = Map(
      "bring_up_s" -> bringUp, "warmup_s" -> warmup, "phases" -> phases,
      "heap_after_gc_mb" -> heapMb, "pinned_rdds_end" -> pinned) ++ workload.extra()
    Files.writeString(Paths.get(conf("out")), Json(out) + "\n")
    spark.stop()
  }
}

trait Workload {
  def setup(): Unit
  def phase(n: Int, seconds: Double, tracer: Option[Tracer]): Map[String, Any]
  def extra(): Map[String, Any] = Map.empty
}

/** Wraps a call in a span when tracing and always tags its jobs with
  * the span id, so untraced and traced phases run the same code. */
final class Spans(spark: SparkSession, tracer: Option[Tracer]) {
  def apply[T](id: String, name: String, parent: String)(body: => T): T = {
    val sc = spark.sparkContext
    val before = sc.getLocalProperty(Tracer.SpanProp)
    sc.setLocalProperty(Tracer.SpanProp, id)
    try tracer.fold(body)(_.span(name, parent, id)(body))
    finally sc.setLocalProperty(Tracer.SpanProp, before)
  }
}

object Reads {
  /** One timed read, recorded as start, end, success and its result. */
  def once(spans: Spans, id: String, query: () => String): Map[String, Any] = {
    val s = Clock.now()
    val (ok, result) =
      try (true, spans(id, "reader.query", "phase")(query()))
      catch { case NonFatal(e) => (false, String.valueOf(e.getMessage).take(300)) }
    Map("start" -> s, "end" -> Clock.now(), "ok" -> ok, "result" -> result)
  }

  /** `n` back-to-back reads once the workload's phase is over: the read
    * cost of what the workload left behind, with nothing running
    * beside it. */
  def burst(spark: SparkSession, spans: Spans, query: () => String, n: Int = 15): Seq[Map[String, Any]] = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reader")
    try (0 until n).map(k => once(spans, s"burst:$k", query))
    finally spark.sparkContext.setLocalProperty("spark.scheduler.pool", null)
  }
}

/** The benchmark's single closed-loop reader: runs `query` every
  * `thinkMs` while the workload runs, and records each call. `ready`
  * says whether there is anything to read yet. */
final class Reader(
    spark: SparkSession, thinkMs: Long, spans: Spans,
    ready: () => Boolean, query: () => String) extends Thread("perfbench-reader") {
  setDaemon(true)
  private val done = new java.util.concurrent.CountDownLatch(1)
  val calls = new ConcurrentLinkedQueue[Map[String, Any]]()
  override def run(): Unit = {
    spark.sparkContext.setLocalProperty("spark.scheduler.pool", "reader")
    var k = 0
    while (done.getCount > 0) {
      if (ready()) {
        calls.add(Reads.once(spans, s"read:$k", query))
        k += 1
      }
      done.await(thinkMs, java.util.concurrent.TimeUnit.MILLISECONDS)
    }
  }
  def finish(): Seq[Map[String, Any]] = {
    done.countDown()
    join()
    calls.asScala.toSeq
  }
}

/** `ingest_paced`: an open loop. One generator thread publishes staged
  * shard files (renames them into the source directory) at fixed due
  * times while a ProcessingTime file-source stream hands each
  * micro-batch to `Pipeline.sinkBatch` and the reader queries the live
  * sink. The first staged file primes the query: it is published at
  * once, and the schedule starts after its batch commits, so a query's
  * one-off first-batch cost stays out of the figures. */
final class Paced(spark: SparkSession, conf: Map[String, String]) extends Workload {
  private val work: String = conf("work")
  private val schemas: Map[String, StructType] =
    Files.readAllLines(Paths.get(conf("schemas"))).asScala.filter(_.nonEmpty).map { l =>
      val i = l.indexOf('\t')
      l.substring(0, i) -> StructType.fromDDL(l.substring(i + 1))
    }.toMap

  private case class Run(query: StreamingQuery, batches: ConcurrentLinkedQueue[Map[String, Any]])

  private def startStream(
      name: String, src: String, sink: String, trigger: Trigger,
      maxFiles: Option[Int], spans: Spans): Run = {
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    val reader = spark.readStream
    maxFiles.foreach(n => reader.option("maxFilesPerTrigger", n.toLong))
    val sinkFn: (DataFrame, Long) => Unit = { (df, id) =>
      val s = Clock.now()
      try spans(s"batch:$name:$id", "pipeline.sink_batch", name) {
        Pipeline.sinkBatch(df.withColumnRenamed("value", "body"), sink, schemas)
      } catch {
        case NonFatal(e) =>
          batches.add(Map("id" -> id, "start" -> s, "end" -> Clock.now(), "ok" -> false,
            "error" -> String.valueOf(e.getMessage).take(300)))
          throw e
      }
      batches.add(Map("id" -> id, "start" -> s, "end" -> Clock.now(), "ok" -> true))
    }
    val q = reader.text(src).writeStream
      .queryName(name)
      .option("checkpointLocation", s"$work/ckpt/$name")
      .trigger(trigger)
      .foreachBatch(sinkFn)
      .start()
    Run(q, batches)
  }

  /** One aggregate over the sink's good rows: rows and id sum per
    * target, as `tag=count:sum` pairs in tag order. */
  private def readSink(sink: String): String =
    spark.read.parquet(s"$sink/good")
      .groupBy(col(Pipeline.QueryTagCol))
      .agg(count(lit(1)), sum(col("id")))
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}:${r.getLong(2)}")
      .sorted.mkString(",")

  private def committed(sink: String): Boolean = new File(s"$sink/good/_SUCCESS").exists()

  private val periodMs = conf("period_ms").toLong
  private val triggerMs = conf("trigger_ms").toLong
  private val thinkMs = conf("think_ms").toLong

  def setup(): Unit = {
    val spans = new Spans(spark, None)
    val sink = s"$work/sink/warm"
    val r = startStream("warm", conf("warm_src"), sink, Trigger.AvailableNow(),
      Some(conf("warm_files_per_trigger").toInt), spans)
    r.query.awaitTermination()
    readSink(sink)
  }

  def phase(n: Int, seconds: Double, tracer: Option[Tracer]): Map[String, Any] = {
    val spans = new Spans(spark, tracer)
    val name = s"paced$n"
    val stage = new File(s"$work/stage/$name")
    val src = new File(s"$work/src/$name")
    src.mkdirs()
    val sink = s"$work/sink/$name"
    val files = Option(stage.listFiles()).getOrElse(Array.empty[File]).map(_.getName).sorted
    def publish(f: String): Unit =
      Files.move(new File(stage, f).toPath, new File(src, f).toPath, StandardCopyOption.ATOMIC_MOVE)
    val run = startStream(name, src.getAbsolutePath, sink,
      Trigger.ProcessingTime(triggerMs), None, spans)
    publish(files.head)
    val primeBy = Clock.now() + 120
    while (run.batches.isEmpty && run.query.isActive && Clock.now() < primeBy) Thread.sleep(20)
    val reader = new Reader(spark, thinkMs, spans, () => committed(sink), () => readSink(sink))
    reader.start()
    // ProcessingTime fires at multiples of the interval since the epoch.
    // Files fall due from half a period after such a boundary (and at
    // least half a second after the query starts), so every run cuts the
    // same files into the same batches; with a free phase the batch count
    // changed between runs, and every per-batch figure with it.
    val wall = System.currentTimeMillis()
    val boundary = (wall + 500) / triggerMs * triggerMs + triggerMs
    val t0 = Clock.now() + (boundary + periodMs / 2 - wall) / 1000.0
    val published = files.tail.zipWithIndex.map { case (f, i) =>
      val due = t0 + i * periodMs / 1000.0
      val wait = ((due - Clock.now()) * 1000).toLong
      if (wait > 0) Thread.sleep(wait)
      publish(f)
      Map("file" -> f, "due" -> due, "published" -> Clock.now())
    }
    val genEnd = Clock.now()
    val err =
      try { run.query.processAllAvailable(); "" }
      catch { case NonFatal(e) => String.valueOf(e.getMessage).take(300) }
    run.query.stop()
    val reads = reader.finish()
    Map("name" -> name, "sink" -> sink, "ckpt" -> s"$work/ckpt/$name", "files" -> published.toSeq,
      "gen_end" -> genEnd, "batches" -> run.batches.asScala.toSeq, "error" -> err,
      "reads" -> reads, "burst" -> Reads.burst(spark, spans, () => readSink(sink)))
  }
}

/** `lanes_kernel`: a closed loop with one client
  * making passes over a fixed lane list (order chosen by run.py from
  * the seed). Each lane is timed with a `noop` write, which consumes
  * every output column; the checked results come from the warm-up pass,
  * written as parquet outside any timed interval. */
final class Lanes(spark: SparkSession, conf: Map[String, String]) extends Workload {
  private val data = conf("data")
  private val lanes = conf("lanes").split(",").toSeq
  private val queries = graft.SparkEntry.queries
  private val setupErrors = scala.collection.mutable.Map[String, String]()

  private def compiles(): Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  def setup(): Unit = {
    val oracle = graft.SparkEntry.oracleSql
    Files.writeString(Paths.get(conf("work"), "oracle.json"),
      Json(lanes.map(l => l -> oracle.getOrElse(l, "")).toMap) + "\n")
    lanes.foreach { l =>
      try queries(l)(spark, data).write.mode("overwrite").parquet(s"${conf("check")}/$l")
      catch { case NonFatal(e) => setupErrors(l) = String.valueOf(e.getMessage).take(300) }
      spark.catalog.clearCache()
    }
    // without a second, untimed pass the first timed one is still warming
    lanePass(-1, 0, new Spans(spark, None), None)
    readLineitem()
  }

  /** The reader's aggregate: rows and quantity per return flag. */
  private def readLineitem(): String =
    spark.read.parquet(s"$data/lineitem.parquet")
      .groupBy(col("l_returnflag"))
      .agg(count(lit(1)), sum(col("l_quantity").cast("decimal(18,2)")))
      .collect().map(r => s"${r.getString(0)}=${r.getLong(1)}:${r.getDecimal(2).toPlainString}")
      .sorted.mkString(",")

  /** One pass over the lanes, each timed with a `noop` write. */
  private def lanePass(n: Int, p: Int, spans: Spans, tracer: Option[Tracer]): Map[String, Any] = {
    val ps = Clock.now()
    val calls = lanes.map { l =>
      val id = s"lane:$n:$p:$l"
      val c0 = compiles()
      val s = Clock.now()
      val err =
        try { spans(id, s"lane.$l", s"pass:$p")(
          queries(l)(spark, data).write.format("noop").mode("overwrite").save()); "" }
        catch { case NonFatal(e) => String.valueOf(e.getMessage).take(300) }
      val e = Clock.now()
      spark.catalog.clearCache()
      Map("lane" -> l, "start" -> s, "end" -> e, "ok" -> err.isEmpty, "error" -> err,
        "jobs" -> tracer.map(_.jobsOf(id)).getOrElse(0), "compiles" -> (compiles() - c0))
    }
    Map("start" -> ps, "end" -> Clock.now(), "calls" -> calls)
  }

  /** Passes while another one is expected to end nearer `seconds` than
    * stopping now would. */
  def phase(n: Int, seconds: Double, tracer: Option[Tracer]): Map[String, Any] = {
    val spans = new Spans(spark, tracer)
    val t0 = Clock.now()
    var passes = Vector(lanePass(n, 0, spans, tracer))
    while (Clock.now() - t0 + (Clock.now() - t0) / passes.size / 2 < seconds)
      passes :+= lanePass(n, passes.size, spans, tracer)
    Map("passes" -> passes, "burst" -> Reads.burst(spark, spans, () => readLineitem()))
  }

  override def extra(): Map[String, Any] = Map("setup_errors" -> setupErrors.toMap)
}

/** Minimal JSON writer for the harness's result maps. */
object Json {
  private def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    (b += '"').toString
  }
  def apply(v: Any): String = v match {
    case null | None => "null"
    case Some(x) => apply(x)
    case s: String => str(s)
    case b: Boolean => b.toString
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case n: Number => n.toString
    case m: Map[_, _] => m.map { case (k, x) => str(k.toString) + ":" + apply(x) }.mkString("{", ",", "}")
    case xs: Iterable[_] => xs.map(apply).mkString("[", ",", "]")
    case xs: Array[_] => xs.map(apply).mkString("[", ",", "]")
    case x => str(x.toString)
  }
}
