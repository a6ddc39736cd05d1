package graft

import graft.streaming.{EventPipeline, ReorgLoop}
import org.apache.spark.sql.functions._
import java.sql.Timestamp

case class ReorgEv(event_id: Long, ts: Timestamp, user_id: Long, event_type: String,
                   value: Double, props: String)

class ReorgLoopSpec extends SparkSpec {
  import spark.implicits._

  private def ev(id: Long, day: Int, props: String = "{}") =
    ReorgEv(id, Timestamp.valueOf(f"2024-01-$day%02d 10:00:00"), id % 3, "purchase", 1.0, props)

  private def writeTable(dir: String, rows: Seq[ReorgEv]): Unit =
    rows.toDF.withColumn("day", to_date(col("ts")))
      .write.mode("overwrite").partitionBy("day").parquet(dir)

  test("a mutated block triggers truncation + re-import from the OLDEST mismatch") {
    val dir = tempDir("graft-reorg-loop") + "/table"
    val chain = (1L to 20L).map(i => ev(i, (i / 8).toInt + 1))
    writeTable(dir, chain)

    // the chain reorgs: blocks 17 and 19 get rewritten (17 is the oldest)
    val reorged = chain.map {
      case e if e.event_id == 17L => e.copy(props = """{"reorged":1}""")
      case e if e.event_id == 19L => e.copy(props = """{"reorged":2}""")
      case e => e
    }
    var announced = Vector.empty[Long]
    val res = ReorgLoop.checkAndRepair(spark, dir, reorged.toDF, lastN = 16,
      onReorg = announced :+= _)

    assert(res.contains(17L) && announced == Vector(17L))
    // table now equals the authoritative chain: 1-16 untouched, 17+ re-imported
    val got = spark.read.parquet(dir)
      .select("event_id", "props").as[(Long, String)].collect().sortBy(_._1).toSeq
    assert(got.map(_._1) == (1L to 20L))
    assert(got(16)._2 == """{"reorged":1}""" && got(18)._2 == """{"reorged":2}""")
    assert(got.count(_._2 == "{}") == 18)

    // second round: everything matches again → no repair, no announcement
    assert(ReorgLoop.checkAndRepair(spark, dir, reorged.toDF, lastN = 16).isEmpty)
  }

  test("a vanished tail block counts as a mismatch (shortened chain)") {
    val dir = tempDir("graft-reorg-short") + "/table"
    writeTable(dir, (1L to 10L).map(i => ev(i, 1)))
    // the source no longer has block 10 at all
    val shorter = (1L to 9L).map(i => ev(i, 1))
    val res = ReorgLoop.checkAndRepair(spark, dir, shorter.toDF, lastN = 4)
    assert(res.contains(10L))
    val ids = spark.read.parquet(dir).select("event_id").as[Long].collect().sorted.toSeq
    assert(ids == (1L to 9L))
  }
}
