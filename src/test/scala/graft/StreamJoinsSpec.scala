package graft

import java.sql.Timestamp

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.streaming.OutputMode

import graft.streaming.StreamJoins

case class JEv(user_id: Long, ts: Timestamp)

class StreamJoinsSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String) = Timestamp.valueOf(s)
  private val H = 3600000L // 1h horizon

  test("stream-stream interval join matches the batch join on the same data") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[JEv]
    val views = MemoryStream[JEv]
    val ckpt = tempDir("graft-ssj")

    val joined = StreamJoins.attributeWithin(
      clicks.toDF(), views.toDF(), "user_id", H)
    val q = joined.writeStream.format("memory").queryName("ssj")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()

    // anchor at 10:00; in-horizon clicks at 10:30/11:00; out at 11:01 & 09:59
    views.addData(JEv(1L, ts("2024-01-01 10:00:00")), JEv(2L, ts("2024-01-01 10:00:00")))
    clicks.addData(
      JEv(1L, ts("2024-01-01 10:30:00")), JEv(1L, ts("2024-01-01 11:00:00")),
      JEv(1L, ts("2024-01-01 11:00:01")), JEv(1L, ts("2024-01-01 09:59:59")),
      JEv(3L, ts("2024-01-01 10:30:00"))) // no anchor for user 3
    q.processAllAvailable()
    // a second anchor arriving later still catches the already-seen click
    // (both sides buffer within the watermark)
    views.addData(JEv(3L, ts("2024-01-01 10:15:00")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ssj").as[(Long, Timestamp, Timestamp)].collect().toSet
    val want = Set(
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:30:00")),
      (1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 11:00:00")),
      (3L, ts("2024-01-01 10:15:00"), ts("2024-01-01 10:30:00")))
    assert(got == want)

    // batch parity: the same frames through the same operator
    val cb = Seq(JEv(1L, ts("2024-01-01 10:30:00")), JEv(1L, ts("2024-01-01 11:00:00")),
      JEv(1L, ts("2024-01-01 11:00:01")), JEv(1L, ts("2024-01-01 09:59:59")),
      JEv(3L, ts("2024-01-01 10:30:00"))).toDF()
    val vb = Seq(JEv(1L, ts("2024-01-01 10:00:00")), JEv(2L, ts("2024-01-01 10:00:00")),
      JEv(3L, ts("2024-01-01 10:15:00"))).toDF()
    val batch = StreamJoins.attributeWithin(cb, vb, "user_id", H)
      .as[(Long, Timestamp, Timestamp)].collect().toSet
    assert(batch == want)
  }

  test("events later than the watermark delay are dropped, state stays bounded") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[JEv]
    val views = MemoryStream[JEv]
    val ckpt = tempDir("graft-ssj-late")
    val q = StreamJoins.attributeWithin(clicks.toDF(), views.toDF(), "user_id", H,
      delay = "5 minutes")
      .writeStream.format("memory").queryName("ssj_late")
      .outputMode(OutputMode.Append()).option("checkpointLocation", ckpt).start()

    views.addData(JEv(1L, ts("2024-01-01 10:00:00")))
    clicks.addData(JEv(1L, ts("2024-01-01 10:10:00")))
    q.processAllAvailable()
    // advance both watermarks far past the horizon + delay
    views.addData(JEv(9L, ts("2024-01-02 10:00:00")))
    clicks.addData(JEv(9L, ts("2024-01-02 10:00:00")))
    q.processAllAvailable()
    // a click whose event time is a day behind the watermark: dropped,
    // even though an anchor for it once existed
    clicks.addData(JEv(1L, ts("2024-01-01 10:20:00")))
    q.processAllAvailable()
    q.stop()

    val got = spark.table("ssj_late").as[(Long, Timestamp, Timestamp)].collect().toSet
    assert(got == Set((1L, ts("2024-01-01 10:00:00"), ts("2024-01-01 10:10:00")),
      (9L, ts("2024-01-02 10:00:00"), ts("2024-01-02 10:00:00"))))
  }
}
