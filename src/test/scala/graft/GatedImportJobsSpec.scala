package graft

import graft.streaming.{EventPipeline, ImportFeed}

/** Job-count guard for the gated import: on small live batches its cost is
  * the number of Spark jobs it runs per micro-batch, not data, so the count
  * is pinned directly.
  */
class GatedImportJobsSpec extends SparkSpec {
  import spark.implicits._

  /** Jobs the earlier job chain ran for the call below (the spill-per-side
    * plan, with a feed subscriber that repartitioned each chunk), counted
    * by this spec on that code.
    */
  private val EarlierJobs = 21

  /** Jobs a later chain ran for the same call (one spill, the feed pass,
    * a Spark write per feed chunk and an append that re-read the spill),
    * counted by this spec on that code.
    */
  private val AppendJobs = 10

  /** This chain: the summary (3), the spill (4) and the feed pass (1);
    * the feed chunk and the table append write no Spark job.
    */
  private val Jobs = 8

  private def row(id: Long, block: Long, declared: Long) =
    GatedRow(id, java.sql.Timestamp.valueOf("2024-01-01 10:00:00"), block, declared, s"p$id")

  /** Rows of blocks `from until to`, two per block, plus the first row of
    * block `to`, which stays held until the next batch.
    */
  private def blocks(from: Long, to: Long) =
    (from until to).flatMap(b => Seq(row(b * 10, b, 2), row(b * 10 + 1, b, 2))) :+ row(to * 10, to, 2)

  test("one gated-import micro-batch runs at most half the earlier job count") {
    val (tableDir, stagingDir) = (tempDir("graft-gated-jobs-table"), tempDir("graft-gated-jobs-staging"))
    val feed = ImportFeed.subscriber(spark, tempDir("graft-feed-jobs") + "/feed")
    var landed = Vector.empty[Long]
    def importBlocks(batchId: Long, from: Long, to: Long): Unit =
      EventPipeline.importGatedBatch(blocks(from, to).toDF(), batchId, tableDir, stagingDir,
        groupCol = "block", declaredCol = "declared", onImported = feed,
        onGroupsImported = (_, gs) => landed ++= gs)
    // warm: the table exists and staging holds block 10's first row
    importBlocks(0L, 1L, 10L)
    importBlocks(1L, 10L, 10L) // completes nothing new: block 10 stays held
    val batch = (blocks(11L, 20L) :+ row(101, 10, 2)).toDF()
    landed = Vector.empty
    val jobs = jobsOf(EventPipeline.importGatedBatch(batch, 2L, tableDir, stagingDir,
      groupCol = "block", declaredCol = "declared", onImported = feed,
      onGroupsImported = (_, gs) => landed ++= gs))
    info(s"$jobs Spark jobs for one micro-batch")
    assert(landed.sorted == (10L until 20L), "the batch completes blocks 10..19")
    assert(jobs <= Jobs,
      s"$jobs jobs for one micro-batch; the append chain ran $AppendJobs, the earlier one $EarlierJobs")
  }
}
