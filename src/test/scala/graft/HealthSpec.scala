package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.Trigger
import graft.pipeline.{Health, HealthMonitor}
import graft.queries.Scratch

/** Health/status probe semantics (reference main.go:31-69): static
  * healthcheck, concurrent reader+writer status probe with writer
  * retry, and the listener-backed status table recording per-query
  * state transitions across micro-batches.
  */
class HealthSpec extends SparkSpec {
  import spark.implicits._

  private def derbyUrl(name: String): String = {
    System.setProperty("derby.system.home", Scratch.path("derby_home"))
    new java.io.File(Scratch.path("derby_home")).mkdirs()
    s"jdbc:derby:${Scratch.path(name)};create=true"
  }

  test("healthcheck is static liveness (main.go:31-33)") {
    assert(Health.healthcheck() == ((Health.Passing, "ok")))
  }

  test("status passes when source and sink are both reachable, warns otherwise") {
    val src = Scratch.fresh("health_src")
    Seq("x").toDF("body").write.mode("overwrite").text(src)
    val goodUrl = derbyUrl("derby_health_db")

    assert(Health.status(spark, src, goodUrl) == ((Health.Passing, "ok")))
    // dead sink: bootPassword on a non-encrypted db fails fast; 2
    // attempts at 10 ms keep the negative probe cheap
    val badUrl = s"jdbc:derby:${Scratch.path("no_such_db")};bootPassword=wrong"
    assert(Health.status(spark, src, badUrl, attempts = 2,
      pingIntervalMillis = 10L) == ((Health.Warning, "nok")))
    // dead source
    assert(Health.status(spark, Scratch.path("health_never_written"),
      goodUrl) == ((Health.Warning, "nok")))
  }

  test("writer probe retries: a sink that comes up mid-probe passes (writer.go:148-161)") {
    // attempt 1 hits a missing db (create=false → boot failure); the
    // db is created between attempts, so a later attempt succeeds —
    // the reference's ping loop behavior
    val dbPath = Scratch.path("derby_lateboot_db")
    val lateUrl = s"jdbc:derby:$dbPath"
    val creator = new Thread(() => {
      Thread.sleep(300)
      val c = java.sql.DriverManager.getConnection(lateUrl + ";create=true")
      c.close()
    })
    creator.start()
    try assert(Health.writerAccessible(lateUrl, attempts = 10, pingIntervalMillis = 200L))
    finally creator.join()
  }

  test("status table records started → progress per batch → terminated") {
    val src = Scratch.fresh("health_stream_src")
    // 2 files × maxFilesPerTrigger=1 → exactly 2 micro-batches
    Seq("a", "b").toDF("v").repartition(2)
      .write.mode("overwrite").text(src)

    val mon = new HealthMonitor(spark).attach()
    try {
      val q = spark.readStream.option("maxFilesPerTrigger", "1").text(src)
        .writeStream.format("memory").queryName("graft_health_probe")
        .option("checkpointLocation", Scratch.fresh("health_stream_ckpt"))
        .trigger(Trigger.AvailableNow())
        .start()
      q.awaitTermination()
      val runId = q.runId.toString

      // listener delivery is async — poll until the terminal event lands
      val deadline = System.currentTimeMillis() + 30000
      while (!mon.lastEvent(runId).contains("terminated") &&
        System.currentTimeMillis() < deadline) Thread.sleep(100)

      val rows = mon.statusTable()
        .filter(col("runId") === runId)
        .select("event", "batchId", "error").collect()
      val events = rows.map(_.getString(0)).toSeq
      assert(events.head == "started", s"first transition must be started: $events")
      assert(events.last == "terminated", s"must end terminated: $events")
      val batches = rows.filter(_.getString(0) == "progress").map(_.getLong(1)).toSet
      assert(Set(0L, 1L).subsetOf(batches),
        s"both micro-batches must report progress, saw $batches")
      assert(rows.forall(_.isNullAt(2)), "clean run must carry no error")
      assert(mon.lastEvent(runId).contains("terminated"))
      val names = mon.statusTable().filter(col("runId") === runId)
        .select("name").collect().map(_.getString(0)).toSeq
      assert(names.forall(_ == "graft_health_probe"),
        s"every transition must carry the query name: $names")
    } finally mon.detach()
  }
}
