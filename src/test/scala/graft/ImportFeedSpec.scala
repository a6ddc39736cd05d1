package graft

import graft.streaming.ImportFeed
import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.functions.lit
import org.apache.spark.sql.types.LongType

/** Feed chunks written on the driver: no Spark job, no visible torn file,
  * and one feed with the chunks Spark wrote before.
  */
class ImportFeedSpec extends SparkSpec {
  import spark.implicits._

  private def fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)

  private def poll(dir: String) =
    ImportFeed.recentlyImported(spark, dir).as[(Long, Long)].collect().toSet

  /** A chunk as the Spark-job subscriber wrote it. */
  private def sparkChunk(dir: String, batchId: Long, ids: Long*): Unit =
    ids.toDF("event_id").withColumn("b", lit(batchId))
      .coalesce(1).write.mode("append").partitionBy("b").parquet(dir)

  test("a chunk write runs no Spark job") {
    val sub = ImportFeed.subscriber(spark, tempDir("graft-feed-nojob") + "/feed")
    assert(jobsOf(sub(0L, Iterator(1L, 2L, 3L))) == 0)
  }

  test("a writer that throws mid-chunk leaves no file the poll sees") {
    val dir = tempDir("graft-feed-torn") + "/feed"
    val sub = ImportFeed.subscriber(spark, dir)
    sub(0L, Iterator(1L, 2L))
    val torn = Iterator(3L, 4L) ++ Iterator.single(5L).map(_ => throw new RuntimeException("torn"))
    intercept[RuntimeException](sub(1L, torn))
    assert(poll(dir) == Set((0L, 1L), (0L, 2L)))
    assert(fs.listStatus(new Path(s"$dir/b=1")).isEmpty, "the in-progress file is deleted")
    // a writer killed mid-chunk leaves only its hidden file, which the
    // poll skips even when it is all the feed holds
    val only = tempDir("graft-feed-killed") + "/feed"
    fs.mkdirs(new Path(s"$only/b=0"))
    fs.create(new Path(s"$only/b=0/.part-x.snappy.parquet.inprogress")).close()
    assert(poll(only).isEmpty)
    // the replay of the torn chunk lands whole
    sub(1L, Iterator(3L, 4L, 5L))
    assert(poll(dir) == Set((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L), (1L, 5L)))
  }

  test("chunks written by Spark and by the driver read, compact and poll together") {
    val dir = tempDir("graft-feed-mixed") + "/feed"
    val sub = ImportFeed.subscriber(spark, dir)
    sparkChunk(dir, 0L, 1L, 2L)
    sub(0L, Iterator(3L))
    sparkChunk(dir, 1L, 4L)
    sub(1L, Iterator(4L, 5L)) // a replayed id under the same batch
    sub(2L, Iterator(6L))
    sparkChunk(dir, 2L, 7L)
    assert(spark.read.parquet(dir).schema("event_id").dataType == LongType)
    assert(ImportFeed.recentlyImported(spark, dir).schema("event_id").dataType == LongType)
    val want = Set((0L, 1L), (0L, 2L), (0L, 3L), (1L, 4L), (1L, 5L), (2L, 6L), (2L, 7L))
    assert(poll(dir) == want)
    ImportFeed.compact(spark, dir, beforeBatch = 2L)
    def parts(b: Long) =
      fs.listStatus(new Path(s"$dir/b=$b")).count(_.getPath.getName.startsWith("part-"))
    assert(parts(0L) == 1 && parts(1L) == 1 && parts(2L) == 2)
    assert(poll(dir) == want, "compaction keeps the poll")
  }
}
