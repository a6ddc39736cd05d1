package graft

import graft.streaming.EventPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import java.sql.Timestamp
import org.scalacheck.{Gen, Prop}

case class GatedRow(event_id: Long, ts: Timestamp, block: Long, declared: Long, payload: String)

/** A gated-import row whose group may be null (the property's input). */
case class MaybeGroupedRow(event_id: Long, ts: Timestamp, block: Option[Long], declared: Long,
                           payload: String)

/** Complete-block gating (reference ImportProcedure.cs step 1.1): a
  * micro-batch imports ONLY rows whose group is complete; incomplete groups
  * stay staged until later batches complete them.
  */
class GatedImportSpec extends SparkSpec {
  import spark.implicits._

  private def ts(s: String): Timestamp = Timestamp.valueOf(s)

  private def row(id: Long, block: Long, declared: Long) =
    GatedRow(id, ts("2024-01-01 10:00:00"), block, declared, s"p$id")

  test("streaming: partial groups are held back, then import once completed") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[GatedRow]
    val tableDir = tempDir("graft-gated-table")
    val stagingDir = tempDir("graft-gated-staging")
    val ckpt = tempDir("graft-gated-ckpt")

    var broadcasts = Vector.empty[(Long, Set[Long])]
    val q = EventPipeline.startGatedImport(mem.toDF(), tableDir, stagingDir, ckpt,
      groupCol = "block", declaredCol = "declared",
      onImported = (bid, ids) => broadcasts :+= (bid, ids.toSet))

    // batch 1: block 100 complete (2/2), block 101 partial (1/2)
    mem.addData(row(1, 100, 2), row(2, 100, 2), row(3, 101, 2))
    q.processAllAvailable()
    assert(spark.read.parquet(tableDir).select("event_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L), "only the complete block imports")

    // batch 2: block 101's missing row arrives (plus a duplicate of an
    // already-imported row, which the main anti-join must discard)
    mem.addData(row(4, 101, 2), row(1, 100, 2))
    q.processAllAvailable()
    q.stop()

    val imported = spark.read.parquet(tableDir).select("event_id").as[Long].collect().sorted.toSeq
    assert(imported == Seq(1L, 2L, 3L, 4L), "held-back group imports exactly once on completion")
    assert(broadcasts.flatMap(_._2).toSet == Set(1L, 2L, 3L, 4L))
    // the completed group's rows left staging
    val stagedNow = spark.read.schema(mem.toDF().schema)
      .parquet(s"$stagingDir/v=1").count()
    assert(stagedNow == 0, "staging snapshot is empty once every group completed")
  }

  test("batch replay is idempotent: same batch twice appends nothing twice") {
    val tableDir = tempDir("graft-gated2-table")
    val stagingDir = tempDir("graft-gated2-staging")
    val batch = Seq(row(1, 100, 2), row(2, 100, 2), row(3, 101, 2)).toDF

    EventPipeline.importGatedBatch(batch, 0L, tableDir, stagingDir,
      groupCol = "block", declaredCol = "declared")
    EventPipeline.importGatedBatch(batch, 0L, tableDir, stagingDir,
      groupCol = "block", declaredCol = "declared") // replay after crash-before-checkpoint

    assert(spark.read.parquet(tableDir).select("event_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    val staged = spark.read.schema(batch.schema).parquet(s"$stagingDir/v=0")
      .select("event_id").as[Long].collect().toSeq
    assert(staged == Seq(3L), "incomplete group still staged after replay")
  }

  test("empty micro-batches are harmless no-ops at any point in the flow") {
    val tableDir = tempDir("graft-gated4-table")
    val stagingDir = tempDir("graft-gated4-staging")
    val empty = Seq.empty[GatedRow].toDF
    // empty batch against an empty table
    EventPipeline.importGatedBatch(empty, 0L, tableDir, stagingDir,
      groupCol = "block", declaredCol = "declared")
    // real batch, then another empty one
    EventPipeline.importGatedBatch(Seq(row(1, 100, 2), row(2, 100, 2), row(3, 101, 2)).toDF,
      1L, tableDir, stagingDir, groupCol = "block", declaredCol = "declared")
    EventPipeline.importGatedBatch(empty, 2L, tableDir, stagingDir,
      groupCol = "block", declaredCol = "declared")
    assert(spark.read.parquet(tableDir).select("event_id").as[Long].collect().sorted.toSeq
      == Seq(1L, 2L))
    // the held row survived both empty batches
    val staged = spark.read.schema(empty.schema).parquet(s"$stagingDir/v=2")
      .select("event_id").as[Long].collect().toSeq
    assert(staged == Seq(3L))
  }

  test("ImportFeed: subscriber poll sees exactly the imported ids per batch, replay-safe") {
    import graft.streaming.ImportFeed
    val tableDir = tempDir("graft-feed-table")
    val stagingDir = tempDir("graft-feed-staging")
    val feedDir = tempDir("graft-feed-log") + "/feed"
    val sub = ImportFeed.subscriber(spark, feedDir)

    // batch 0: block 100 complete, block 101 partial → feed gets {1,2}
    EventPipeline.importGatedBatch(Seq(row(1, 100, 2), row(2, 100, 2), row(3, 101, 2)).toDF,
      0L, tableDir, stagingDir, groupCol = "block", declaredCol = "declared",
      onImported = sub)
    // replay of batch 0 (crash before checkpoint): gated import appends
    // nothing, so the subscriber gets no ids — but even a feed-side torn
    // write would dedup away because the partition key is the batch id
    EventPipeline.importGatedBatch(Seq(row(1, 100, 2), row(2, 100, 2), row(3, 101, 2)).toDF,
      0L, tableDir, stagingDir, groupCol = "block", declaredCol = "declared",
      onImported = sub)
    // batch 1 completes block 101 → feed gets {3,4}
    EventPipeline.importGatedBatch(Seq(row(4, 101, 2)).toDF,
      1L, tableDir, stagingDir, groupCol = "block", declaredCol = "declared",
      onImported = sub)

    val feed = ImportFeed.recentlyImported(spark, feedDir)
      .as[(Long, Long)].collect().toSet
    assert(feed == Set((0L, 1L), (0L, 2L), (1L, 3L), (1L, 4L)),
      "feed is exactly the per-batch imported sets")
    // each batch handed over one chunk, and each chunk is one part file
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    for (b <- Seq(0L, 1L))
      assert(fs.listStatus(new org.apache.hadoop.fs.Path(s"$feedDir/b=$b"))
        .count(_.getPath.getName.startsWith("part-")) == 1, s"one part file in b=$b")
    // a torn chunk replayed under the same batch id dedups away
    sub(1L, Iterator(3L, 4L))
    assert(ImportFeed.recentlyImported(spark, feedDir)
      .as[(Long, Long)].collect().toSet == feed, "duplicate chunk is invisible")
    // the since-cut serves the poll and prunes old batches
    assert(ImportFeed.recentlyImported(spark, feedDir, sinceBatch = 1L)
      .as[(Long, Long)].collect().toSet == Set((1L, 3L), (1L, 4L)))
    // retention: pruned batches disappear; newer feed rows survive
    ImportFeed.prune(spark, feedDir, beforeBatch = 1L)
    assert(ImportFeed.recentlyImported(spark, feedDir)
      .as[(Long, Long)].collect().toSet == Set((1L, 3L), (1L, 4L)))
  }

  test("ImportFeed: feed leads the table — a crash in the subscriber loses no ids") {
    import graft.streaming.ImportFeed
    val tableDir = tempDir("graft-feedord-table") + "/t"
    val stagingDir = tempDir("graft-feedord-staging")
    val feedDir = tempDir("graft-feedord-log") + "/feed"
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)

    // a subscriber that crashes BEFORE writing: because broadcastIds runs
    // before the table append, the batch must abort with NOTHING appended —
    // the old after-append ordering would have left the rows in the table
    // and the replay would then broadcast nothing (permanent feed loss)
    intercept[RuntimeException] {
      EventPipeline.importGatedBatch(Seq(row(1, 100, 2), row(2, 100, 2)).toDF,
        0L, tableDir, stagingDir, groupCol = "block", declaredCol = "declared",
        onImported = (_, _) => sys.error("subscriber crash"))
    }
    assert(!fs.exists(new org.apache.hadoop.fs.Path(tableDir)),
      "crash in the feed hook must abort before the table append")
    // replay under the same batch id with a working subscriber: both the
    // table and the feed see the batch — no loss, no duplicates
    EventPipeline.importGatedBatch(Seq(row(1, 100, 2), row(2, 100, 2)).toDF,
      0L, tableDir, stagingDir, groupCol = "block", declaredCol = "declared",
      onImported = ImportFeed.subscriber(spark, feedDir))
    assert(spark.read.parquet(tableDir).select("event_id").as[Long]
      .collect().sorted.toSeq == Seq(1L, 2L))
    assert(ImportFeed.recentlyImported(spark, feedDir)
      .as[(Long, Long)].collect().toSet == Set((0L, 1L), (0L, 2L)))
  }

  test("ImportFeed: empty/pruned/foreign dirs are a schema-stable empty feed") {
    import graft.streaming.ImportFeed
    val feedDir = tempDir("graft-feedempty") + "/feed"
    // nonexistent dir
    assert(ImportFeed.recentlyImported(spark, feedDir).collect().isEmpty)
    assert(ImportFeed.recentlyImported(spark, feedDir).columns.toSeq
      == Seq("batch_id", "event_id"))
    // a foreign/stray entry is ignored by both poll and prune
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$feedDir/b=notanumber"))
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$feedDir/stray"))
    ImportFeed.prune(spark, feedDir, beforeBatch = Long.MaxValue) // must not throw
    assert(ImportFeed.recentlyImported(spark, feedDir).collect().isEmpty)
    // real data, then prune EVERYTHING: the poll degrades to empty, not to
    // a schema-inference failure on a partitionless root
    ImportFeed.subscriber(spark, feedDir)(0L, Iterator(1L, 2L))
    assert(ImportFeed.recentlyImported(spark, feedDir).count() == 2)
    ImportFeed.prune(spark, feedDir, beforeBatch = Long.MaxValue)
    assert(ImportFeed.recentlyImported(spark, feedDir).collect().isEmpty)
  }

  test("ImportFeed + ParquetCompactor: compaction preserves the poll, GCs slivers") {
    import graft.streaming.ImportFeed
    val feedDir = tempDir("graft-feedcomp") + "/feed"
    val sub = ImportFeed.subscriber(spark, feedDir)
    // 3 batches × several chunk appends each → many sliver files
    for (b <- 0L to 2L; c <- 0 until 3)
      sub(b, Iterator(b * 10 + c * 2, b * 10 + c * 2 + 1))
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    def partFiles(b: Long) =
      fs.listStatus(new org.apache.hadoop.fs.Path(s"$feedDir/b=$b"))
        .count(_.getPath.getName.startsWith("part-"))
    assert(partFiles(0L) == 3 && partFiles(1L) == 3)
    val before = ImportFeed.recentlyImported(spark, feedDir)
      .as[(Long, Long)].collect().toSet
    // compact everything below the live frontier (batch 2 still appending)
    ImportFeed.compact(spark, feedDir, beforeBatch = 2L)
    assert(partFiles(0L) == 1 && partFiles(1L) == 1, "slivers folded")
    assert(partFiles(2L) == 3, "the live partition is untouched")
    assert(ImportFeed.recentlyImported(spark, feedDir)
      .as[(Long, Long)].collect().toSet == before,
      "poll identical across compaction")
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$feedDir/_compact")),
      "tmp generation GC'd")
    // crash-mid-swap recovery: a verified copy in _compact whose partition
    // is missing is renamed into place by the next poll
    val p0 = new org.apache.hadoop.fs.Path(s"$feedDir/b=0")
    val tmp = new org.apache.hadoop.fs.Path(s"$feedDir/_compact/b=0")
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$feedDir/_compact"))
    org.apache.hadoop.fs.FileUtil.copy(fs, p0, fs, tmp, false,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(p0, true) // the crash window: partition gone, copy pending
    assert(ImportFeed.recentlyImported(spark, feedDir)
      .as[(Long, Long)].collect().toSet == before,
      "mid-swap crash recovered on poll")
    assert(fs.exists(p0) &&
      !fs.exists(new org.apache.hadoop.fs.Path(s"$feedDir/_compact")))

    // retention vs mid-swap crash: prune must complete the pending swap
    // BEFORE deleting, or the next poll's recovery would resurrect a
    // partition retention already dropped
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$feedDir/_compact"))
    org.apache.hadoop.fs.FileUtil.copy(fs, p0, fs, tmp, false,
      spark.sparkContext.hadoopConfiguration)
    fs.delete(p0, true) // crash window again: b=0 pending in _compact
    ImportFeed.prune(spark, feedDir, beforeBatch = 1L) // retention takes b=0
    assert(ImportFeed.recentlyImported(spark, feedDir)
      .as[(Long, Long)].collect().forall(_._1 >= 1L),
      "pruned partition must not resurrect from a pending compaction copy")
  }

  test("deleteIncompleteBlocks: truncates every store from the oldest incomplete group") {
    import graft.operators.Integrity
    import org.apache.spark.sql.functions.{col, to_date}
    // blocks 100 (complete 2/2), 101 (INCOMPLETE 1/2), 102 (complete 1/1):
    // the cut is 101 and must also take complete-but-later 102 with it
    val rows = Seq(row(1, 100, 2), row(2, 100, 2), row(3, 101, 2), row(5, 102, 1))
    val tableA = tempDir("graft-dib-a") + "/t"
    val tableB = tempDir("graft-dib-b") + "/t"
    rows.toDF.withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(tableA)
    rows.toDF.withColumn("day", to_date(col("ts")))
      .write.partitionBy("day").parquet(tableB)

    val cut = EventPipeline.deleteIncompleteBlocks(spark, Seq(tableA, tableB),
      spark.read.parquet(tableA), groupCol = "block", declaredCol = "declared")
    assert(cut.contains(101L))
    for (t <- Seq(tableA, tableB))
      assert(spark.read.parquet(t).select("event_id").as[Long].collect().sorted.toSeq
        == Seq(1L, 2L), s"$t truncated from block 101 onward")

    // all groups complete → no-op, stores untouched
    val cut2 = EventPipeline.deleteIncompleteBlocks(spark, Seq(tableA, tableB),
      spark.read.parquet(tableA), groupCol = "block", declaredCol = "declared")
    assert(cut2.isEmpty)
    assert(spark.read.parquet(tableA).count() == 2)

    // the standalone view: 1-row min over the short groups
    val fi = Integrity.firstIncomplete(rows.toDF, "block", "declared")
      .as[Option[Long]].collect().toSeq
    assert(fi == Seq(Some(101L)))
  }

  test("a torn staging snapshot (no _SUCCESS) is ignored; held rows survive") {
    val tableDir = tempDir("graft-gated3-table")
    val stagingDir = tempDir("graft-gated3-staging")

    EventPipeline.importGatedBatch(Seq(row(3, 101, 2)).toDF, 0L, tableDir, stagingDir,
      groupCol = "block", declaredCol = "declared")
    // simulate a crash mid-write of the NEXT snapshot: v=1 exists without
    // its _SUCCESS marker — the committed snapshot is still v=0
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    fs.mkdirs(new org.apache.hadoop.fs.Path(s"$stagingDir/v=1"))

    // the replayed batch completes block 101 together with the held row
    EventPipeline.importGatedBatch(Seq(row(4, 101, 2)).toDF, 1L, tableDir, stagingDir,
      groupCol = "block", declaredCol = "declared")
    assert(spark.read.parquet(tableDir).select("event_id").as[Long].collect().sorted.toSeq
      == Seq(3L, 4L), "held-back row was not lost to the torn snapshot")
  }

  /** Random gated-import batch sequences. Every sequence holds: groups cut
    * across batches, duplicate rows within and across batches, a final
    * batch re-sending rows whose blocks landed, a replayed batch id, empty
    * batches, a key shared by two groups and a null group.
    *
    * The shared key belongs to group `A`, whose rows arrive in one batch,
    * and to group `S`, which declares one row more than it can ever have.
    * So while the key is unimported, its two rows sit on different sides
    * of the gate (A imports, S is held) and each implementation keeps
    * both; the property never depends on which of two different rows a
    * per-key dedup keeps, which neither implementation defines.
    */
  private val batchSequences: Gen[Seq[(Long, Seq[MaybeGroupedRow])]] = {
    def r(id: Long, block: Option[Long], declared: Long) =
      MaybeGroupedRow(id, ts("2024-01-01 10:00:00"), block, declared, s"p$id")
    for {
      declared <- Gen.listOfN(4, Gen.choose(1, 3))
      nNull <- Gen.choose(1, 2)
      cuts <- Gen.choose(2, 5)
      seed <- Gen.choose(0L, Long.MaxValue)
    } yield {
      val rng = new scala.util.Random(seed)
      // groups 100..103; group 100 is A and arrives whole
      val groups = declared.zipWithIndex.map { case (d, j) =>
        val g = 100L + j
        (0 until d).map(i => r(g * 10 + i, Some(g), d.toLong))
      }
      val shared = groups.head.head.event_id
      val s = Seq(r(2000, Some(200L), 3), r(shared, Some(200L), 3))
      val nulls = (0 until nNull).map(i => r(9000L + i, None, nNull.toLong))
      val units = rng.shuffle(
        Seq(groups.head) ++ groups.tail.flatMap(_.map(Seq(_))) ++ s.map(Seq(_)) ++ nulls.map(Seq(_)))
      val ends = (rng.shuffle((1 until units.size).toList).take(cuts - 1).sorted :+ units.size)
      val cut = (0 +: ends).sliding(2).map { case Seq(a, b) => units.slice(a, b).flatten }.toVector
      // duplicates: copies of rows already sent, in this batch or before
      val seen = cut.scanLeft(Seq.empty[MaybeGroupedRow])(_ ++ _).tail
      val withDups = cut.zip(seen).map { case (b, sent) =>
        rng.shuffle(b ++ Seq.fill(rng.nextInt(3))(sent(rng.nextInt(sent.size))))
      }
      // the last batch re-sends rows whose blocks have all landed by then
      val resend = rng.shuffle(groups.flatten).take(2)
      val all = (Seq.empty[MaybeGroupedRow] +: withDups :+ resend)
        .patch(1 + rng.nextInt(withDups.size + 1), Seq(Seq.empty), 0)
      val replayAt = rng.nextInt(all.size)
      all.zipWithIndex.flatMap { case (b, i) =>
        if (i == replayAt) Seq(i.toLong -> b, i.toLong -> b) else Seq(i.toLong -> b)
      }
    }
  }

  test("property: importGatedBatch matches GatedImportRef on random batch sequences") {
    type Import = (DataFrame, Long, String, String, (Long, Iterator[Long]) => Unit,
      (Long, Iterator[Long]) => Unit) => Unit
    // table rows, ids per call, groups per call, committed snapshot
    def run(seq: Seq[(Long, Seq[MaybeGroupedRow])], imp: Import) = {
      val (tableDir, stagingDir) = (tempDir("graft-gated-prop-table"), tempDir("graft-gated-prop-staging"))
      val calls = seq.map { case (batchId, rows) =>
        val (ids, groups) = (Vector.newBuilder[Long], Vector.newBuilder[Long])
        imp(rows.toDF(), batchId, tableDir, stagingDir, (_, it) => ids ++= it, (_, it) => groups ++= it)
        (batchId, ids.result().sorted, groups.result().sorted)
      }
      def sortedRows(df: DataFrame) = df.collect().map(_.toSeq.mkString(",")).sorted.toSeq
      val table =
        if (!EventPipeline.committedParquetExists(spark, tableDir)) Seq.empty
        else sortedRows(spark.read.parquet(tableDir))
      val snapshot = EventPipeline.latestStagingVersion(spark, stagingDir).map(v =>
        v -> sortedRows(spark.read.schema(Seq.empty[MaybeGroupedRow].toDF().schema)
          .parquet(s"$stagingDir/v=$v")))
      (table, calls, snapshot)
    }
    val prop = Prop.forAllNoShrink(batchSequences) { seq =>
      val got = run(seq, (b, id, t, st, onIds, onGroups) => EventPipeline.importGatedBatch(
        b, id, t, st, groupCol = "block", declaredCol = "declared",
        onImported = onIds, onGroupsImported = onGroups))
      val want = run(seq, (b, id, t, st, onIds, onGroups) => GatedImportRef.importGatedBatch(
        b, id, t, st, groupCol = "block", declaredCol = "declared",
        onImported = onIds, onGroupsImported = onGroups))
      Prop(got == want) :| s"batches: $seq\n got: $got\nwant: $want"
    }
    val result = org.scalacheck.Test.check(
      org.scalacheck.Test.Parameters.default.withMinSuccessfulTests(8)
        .withInitialSeed(org.scalacheck.rng.Seed(20241017L)), prop)
    assert(result.passed, org.scalacheck.util.Pretty.pretty(result))
  }
}
