package graft

import graft.streaming.EventPipeline
import graft.sources.JdbcSink
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  case class Ev(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
                value: Double, props: String)

  test("streaming classify+dedup+import is exactly-once under duplicate input") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val tableDir = tempDir("graft-stream-table")
    val ckpt = tempDir("graft-stream-ckpt")

    val classified = EventPipeline.classifyStream(mem.toDF())
    val deduped = EventPipeline.dedupStream(classified)
    var broadcasts = Vector.empty[(Long, Set[Long])]
    val q = EventPipeline.startImport(deduped, tableDir, ckpt,
      (bid, ids) => broadcasts :+= (bid, ids.toSet))

    // batch 1: events 0,1 plus a duplicate of 0 (staging tables tolerate dups)
    mem.addData(
      Ev(0L, ts("2024-01-01 10:00:00"), 1L, "purchase", 150.0, """{"k": 2}"""),
      Ev(0L, ts("2024-01-01 10:00:00"), 1L, "purchase", 150.0, """{"k": 2}"""),
      Ev(1L, ts("2024-01-01 10:01:00"), 2L, "click", 5.0, """{"k": 3}""")
    )
    q.processAllAvailable()
    // batch 2: replayed event 1 (same watermark window) + new event 2
    mem.addData(
      Ev(1L, ts("2024-01-01 10:01:00"), 2L, "click", 5.0, """{"k": 3}"""),
      Ev(2L, ts("2024-01-01 10:02:00"), 1L, "error", 1.0, """{"k": 4}""")
    )
    q.processAllAvailable()
    q.stop()

    val table = spark.read.parquet(tableDir)
    assert(table.select("event_id").as[Long].collect().sorted.toSeq == Seq(0L, 1L, 2L))
    val cls = table.where($"event_id" === 0L).select("classification").as[String].collect()(0)
    assert(cls == "HighValue,Purchase,EvenProp")
    assert(broadcasts.flatMap(_._2).toSet == Set(0L, 1L, 2L))
  }

  test("import stream resumes from checkpoint without duplicating imported rows") {
    implicit val sqlCtx = spark.sqlContext
    val tableDir = tempDir("graft-restart-table")
    val ckpt = tempDir("graft-restart-ckpt")

    // phase 1: import events 0,1 then stop (simulated crash/redeploy)
    val mem1 = MemoryStream[Ev]
    val q1 = EventPipeline.startImport(
      EventPipeline.dedupStream(EventPipeline.classifyStream(mem1.toDF())), tableDir, ckpt)
    mem1.addData(
      Ev(0L, ts("2024-01-01 10:00:00"), 1L, "purchase", 10.0, "{}"),
      Ev(1L, ts("2024-01-01 10:01:00"), 1L, "click", 1.0, "{}"))
    q1.processAllAvailable()
    q1.stop()

    // phase 2: new query, SAME checkpoint. The replayable source re-serves
    // the old rows (offsets must line up); the engine resumes from the
    // committed offset — old rows are NOT reprocessed, only the new event.
    val mem2 = MemoryStream[Ev]
    val q2 = EventPipeline.startImport(
      EventPipeline.dedupStream(EventPipeline.classifyStream(mem2.toDF())), tableDir, ckpt)
    mem2.addData(
      Ev(0L, ts("2024-01-01 10:00:00"), 1L, "purchase", 10.0, "{}"),
      Ev(1L, ts("2024-01-01 10:01:00"), 1L, "click", 1.0, "{}"))
    mem2.addData(Ev(2L, ts("2024-01-01 10:02:00"), 2L, "error", 1.0, "{}"))
    q2.processAllAvailable()
    q2.stop()

    val ids = spark.read.parquet(tableDir).select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 1L, 2L))
  }

  test("windowed throughput aggregates per hour/type with bounded state") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val agg = EventPipeline.windowedThroughput(mem.toDF())
    val q = agg.writeStream.format("memory").queryName("wt").outputMode("update").start()
    mem.addData(
      Ev(0L, ts("2024-01-01 10:05:00"), 1L, "purchase", 1.0, "{}"),
      Ev(1L, ts("2024-01-01 10:55:00"), 1L, "purchase", 1.0, "{}"),
      Ev(2L, ts("2024-01-01 11:05:00"), 1L, "click", 1.0, "{}")
    )
    q.processAllAvailable()
    q.stop()
    val r = spark.table("wt").select("window_start", "event_type", "n_events")
      .as[(Timestamp, String, Long)].collect().toSet
    assert(r.contains((ts("2024-01-01 10:00:00"), "purchase", 2L)))
    assert(r.contains((ts("2024-01-01 11:00:00"), "click", 1L)))
  }

  test("reorg reimportFrom truncates the table at the reorg point") {
    val tableDir = tempDir("graft-reorg-table")
    Seq(
      (0L, ts("2024-01-01 10:00:00"), "a"),
      (1L, ts("2024-01-01 10:01:00"), "b"),
      (2L, ts("2024-01-02 10:02:00"), "c")
    ).toDF("event_id", "ts", "v")
      .withColumn("day", to_date($"ts"))
      .write.mode("append").partitionBy("day").parquet(tableDir)

    EventPipeline.reimportFrom(spark, tableDir, fromEventId = 1L)
    val left = spark.read.parquet(tableDir).select("event_id").as[Long].collect().toSeq
    assert(left == Seq(0L))
  }

  test("live file source feeds the same pipeline as bulk (new files per batch)") {
    val srcDir = tempDir("graft-live-src")
    val outDir = tempDir("graft-live-out")
    val ckpt = tempDir("graft-live-ckpt")
    val mkBatch = (ids: Seq[Long], sub: String) =>
      ids.map(i => (i, ts(s"2024-01-01 10:0$i:00"), 1L, "purchase", 1.0, "{}"))
        .toDF("event_id", "ts", "user_id", "event_type", "value", "props")
        .write.parquet(s"$srcDir/$sub")
    mkBatch(Seq(0L, 1L), "b1")

    val schema = org.apache.spark.sql.Encoders.product[Ev].schema
    val stream = graft.sources.EventSource.live(spark, s"$srcDir/*", schema)
    val q = EventPipeline.startImport(
      EventPipeline.dedupStream(EventPipeline.classifyStream(stream)), outDir, ckpt)
    q.processAllAvailable()
    mkBatch(Seq(2L), "b2") // a new file lands → next micro-batch picks it up
    q.processAllAvailable()
    q.stop()
    val ids = spark.read.parquet(outDir).select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == Seq(0L, 1L, 2L))
  }

  test("gap monitor re-requests missing key ranges after import") {
    val dir = tempDir("graft-gapmon")
    Seq((0L, "a"), (1L, "b"), (4L, "c"), (7L, "d"))
      .toDF("event_id", "v").write.mode("overwrite").parquet(dir)
    var requested = Array.empty[(Long, Long)]
    EventPipeline.checkGaps(spark, dir)(gaps => requested = gaps)
    assert(requested.toSeq == Seq((2L, 3L), (5L, 6L)))
  }

  test("pipeline health reflects an active, advancing query and a stopped one") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val q = EventPipeline.classifyStream(mem.toDF())
      .writeStream.format("memory").queryName("health_t").outputMode("append").start()
    mem.addData(Ev(0L, ts("2024-01-01 10:00:00"), 1L, "purchase", 1.0, "{}"))
    q.processAllAvailable()
    val live = graft.streaming.PipelineHealth.status(q)
    assert(live.running && live.healthy && live.batchesCompleted >= 1)
    assert(live.exception.isEmpty)
    q.stop()
    val stopped = graft.streaming.PipelineHealth.status(q)
    assert(!stopped.running && !stopped.healthy)
  }

  test("import_from_staging SQL generation pins the idempotent upsert shape") {
    val sql = JdbcSink.importFromStagingSql("_tx_staging", "transaction_2", "hash",
      Seq("hash", "block_number", "value"))
    assert(sql.contains("SELECT DISTINCT ON (hash)"))
    assert(sql.contains("WHERE NOT EXISTS (SELECT 1 FROM transaction_2 t WHERE t.hash = s.hash)"))
    assert(sql.contains("DELETE FROM _tx_staging s USING transaction_2 t"))
  }
}
