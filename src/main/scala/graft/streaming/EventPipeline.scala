package graft.streaming

import org.apache.hadoop.fs.{FileSystem, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.operators.Classify

/** Structured-Streaming re-expression of the reference's live pipeline.
  *
  * Reference flow (`Indexer.cs:107`, README "How it works"):
  * `[BlockSource] → download → classify → extract → staging → import`.
  * The Akka stream polls/pushes block numbers, classifies each transaction,
  * appends to duplicate-tolerant staging tables, and periodically runs the
  * idempotent `import_from_staging()` (dedup + insert, Serializable txn);
  * a websocket broadcasts each imported batch's tx hashes
  * (`Api/TransactionHashBroadcastService.cs`).
  *
  * Spark-first equivalents used here:
  *  - BlockSource            → any streaming DataFrame source (file source
  *    picking up new parquet drops, rate source, or Kafka in production).
  *  - classify+extract       → the SAME batch expressions (Classify.*) —
  *    Structured Streaming runs identical declarative plans incrementally.
  *  - staging dedup          → `withWatermark` + `dropDuplicates(event_id)`:
  *    state-bounded exactly-once dedup instead of staging tables.
  *  - import_from_staging    → `foreachBatch` sink keyed by (batchId): the
  *    sink write is idempotent per batch, which under Spark's at-least-once
  *    batch replay yields exactly-once table contents — the same
  *    staging→confirmed contract the reference builds by hand.
  *  - websocket broadcast    → each micro-batch's imported ids are exposed to
  *    a caller-supplied callback in `foreachBatch` (transport-agnostic).
  *  - reorg delete+reimport  → [[reimportFrom]]: dynamic partition overwrite
  *    of the affected block range, then the stream re-reads from the source.
  *
  * Scale: stateful stages are keyed by event_id with a watermark — state size
  * is bounded by (watermark window × event rate), independent of total data;
  * the sink write is append-only parquet partitioned by a time bucket so
  * reorg rewrites touch only affected partitions.
  */
object EventPipeline {

  /** The reference broadcasts this magic "hash" to websocket subscribers
    * when a reorg invalidates previously-announced transactions
    * (README "Websocket server"). Callers of [[reimportFrom]] should emit it
    * through the same channel as [[startImport]]'s onImported ids.
    */
  val ReorgMagicHash = "0xdeadbeef00000000000000000000000000000000000000000000000000000000"

  /** Incremental classify+extract over a streaming events frame. The plan is
    * the batch `Classify.classify` minus the global sort (streams cannot
    * sort; ordering is the sink's concern).
    */
  def classifyStream(events: DataFrame): DataFrame = {
    val flagCols = Classify.eventFlags.map { case (name, pred) => when(pred, lit(name)) }
    events.select(
      col("event_id"), col("ts"), col("user_id"), col("event_type"), col("value"),
      coalesce(nullif(concat_ws(",", flagCols: _*), lit("")), lit("Unknown")).as("classification")
    )
  }

  /** Watermarked dedup — the staging-tables contract (duplicates in, unique
    * rows out) with bounded state.
    */
  def dedupStream(classified: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    classified
      .withWatermark("ts", watermarkDelay)
      .dropDuplicates("event_id")

  /** Tumbling-window throughput (the streaming twin of
    * StateOps.windowedCounts / reference `Statistics.cs`).
    */
  def windowedThroughput(events: DataFrame, watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(window(col("ts"), "1 hour"), col("event_type"))
      .agg(count(lit(1)).as("n_events"))
      .select(col("window.start").as("window_start"), col("event_type"), col("n_events"))

  /** Built-in session windows (the simple case; `Sessionizer` is the
    * custom-state path for semantics this can't express). State per
    * (user, open window), merged on overlap, reaped by the watermark.
    */
  def sessionWindows(events: DataFrame, gap: String = "30 minutes",
                     watermarkDelay: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermarkDelay)
      .groupBy(col("user_id"), session_window(col("ts"), gap))
      .agg(min("event_id").as("session_start_id"), count(lit(1)).as("n_events"))
      .select(col("user_id"), col("session_window.start").as("session_start"),
        col("session_start_id"), col("n_events"))

  /** Default `onImported`: a named no-op so [[startImport]] can tell "nobody
    * is listening" apart from a real subscriber and skip id materialization
    * entirely.
    */
  val NoOpOnImported: (Long, Iterator[Long]) => Unit = (_, _) => ()

  /** Ids per `onImported` call — each chunk is MATERIALIZED before the
    * callback fires, so peak driver memory is O(chunk), and the handed-over
    * iterator stays valid after the callback returns (a deferring
    * subscriber, e.g. a websocket broadcast queue, may retain it; nothing
    * references the batch DataFrame). A batch larger than one chunk means
    * several calls with the same batchId.
    */
  val IdChunkSize = 65536

  /** Hands `batch`'s `key` ids to `onImported` in chunks of at most
    * [[IdChunkSize]] and, given a `groupCol`, returns the distinct groups
    * (cast to long) seen on the way — one pass, and no job when there is
    * nothing to feed or gather.
    */
  private[graft] def broadcastIds(batch: DataFrame, batchId: Long, key: String,
      onImported: (Long, Iterator[Long]) => Unit, groupCol: Option[String] = None): Set[Long] = {
    val feeding = onImported ne NoOpOnImported
    if (!feeding && groupCol.isEmpty) return Set.empty
    import scala.jdk.CollectionConverters._
    val groups = scala.collection.mutable.HashSet.empty[Long]
    val ids = batch.select(col(key) +: groupCol.map(col(_).cast("long")).toSeq: _*)
      .toLocalIterator().asScala
      .map { r => if (groupCol.nonEmpty) groups += r.getLong(1); r.getLong(0) }
    if (feeding) ids.grouped(IdChunkSize).foreach(chunk => onImported(batchId, chunk.iterator))
    else ids.foreach(_ => ())
    groups.toSet
  }

  /** Idempotent micro-batch import: write the batch to `tableDir` (append,
    * partitioned by day), then surface the imported ids — the
    * `import_from_staging` + websocket-broadcast step. `onImported` receives
    * (batchId, importedEventIds) in bounded chunks (≤ [[IdChunkSize]] per
    * call, each safe to consume after the callback returns — see
    * [[broadcastIds]]); a backfill micro-batch of millions of rows never
    * materializes on the driver. When no callback is supplied the id job is
    * skipped altogether.
    */
  def startImport(
      deduped: DataFrame,
      tableDir: String,
      checkpointDir: String,
      onImported: (Long, Iterator[Long]) => Unit = NoOpOnImported
  ) =
    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        // feed BEFORE table: a crash between the two replays the batch and
        // re-broadcasts the same ids (feed dedups on (batch_id, id)); the
        // reverse order would lose the batch's ids when the replay finds
        // the rows already appended (see ImportFeed's replay-safety doc)
        broadcastIds(batch, batchId, "event_id", onImported)
        val withDay = batch.withColumn("day", to_date(col("ts")))
        withDay.write.mode("append").partitionBy("day").parquet(tableDir)
        ()
      }
      .start()

  // ---- complete-block-gated import (import_from_staging step 1.1) --------

  /** Latest committed staging snapshot version under `stagingDir` (dirs
    * named `v=<batchId>`, committed iff their _SUCCESS marker exists).
    */
  private[graft] def latestStagingVersion(spark: SparkSession, stagingDir: String): Option[Long] = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val dir = new org.apache.hadoop.fs.Path(stagingDir)
    if (!fs.exists(dir)) None
    else fs.listStatus(dir).toSeq
      .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
      .map(_.getPath.getName.stripPrefix("v=").toLong)
      .filter(v => fs.exists(new org.apache.hadoop.fs.Path(s"$stagingDir/v=$v/_SUCCESS")))
      .sorted.lastOption
  }

  /** Partition column of the gated import's spill: `import` rows land in
    * the table, `held` rows become the next staging snapshot.
    */
  private val Gate = "graft_gate"

  /** The main table's partition column, `to_date(ts)`. */
  private val Day = "day"

  /** The data files of one spill side, each with its `day=` dir. */
  private def spillFiles(fs: FileSystem, side: Path): Seq[(Path, Path)] =
    fs.listStatus(side).toSeq.filter(_.isDirectory).flatMap { d =>
      fs.listStatus(d.getPath).toSeq
        .filter(f => f.isFile && !f.getPath.getName.startsWith("_") && !f.getPath.getName.startsWith("."))
        .map(f => d.getPath -> f.getPath)
    }

  /** Renames `from` to `to`, or throws. A local rename replaces an
    * existing file without a word, so a taken target is an error too.
    */
  private def move(fs: FileSystem, from: Path, to: Path): Unit = {
    if (fs.exists(to)) throw new java.io.IOException(s"gated import: $to already exists")
    if (!fs.rename(from, to)) throw new java.io.IOException(s"gated import: rename $from -> $to failed")
  }

  /** One micro-batch of the complete-block-gated import — the reference's
    * full `import_from_staging()` contract (Persistence/ImportProcedure.cs):
    *
    *  1.1 only rows whose group is COMPLETE import (distinct `key` count
    *      reaches the group's declared total — the staging→block_total
    *      check); incomplete groups are HELD BACK, not half-imported;
    *  1.2 already-imported keys are skipped (anti-join against the main
    *      table), so replays insert nothing twice;
    *  2   the held-back remainder becomes the next staging snapshot and
    *      re-enters consideration when later batches complete its groups.
    *
    * Exposed standalone so specs and batch backfills can drive it without
    * streaming machinery; [[startGatedImport]] wires it into foreachBatch.
    *
    * Job plan. `combined` (the batch plus the committed staging snapshot)
    * is persisted — a caller's batch may be a download that must not run
    * twice — and every step below reads it or the spill. The spill is the
    * call's only Spark write; the rest is one collect, one id pass and
    * driver-side renames:
    *
    *  1. Summary: one grouped aggregate of `combined`, collected (one row
    *     per group of the batch and the snapshot): each group's distinct
    *     key count against its declared total, and its min/max key. The
    *     complete groups and the key range of the main-table check come
    *     from this one collect (3 jobs: the cache, the shuffle, the result).
    *  2. Spill: `combined` joined to the complete-group set — a broadcast
    *     relation, so a catch-up batch of 10^5 blocks plans as a live one
    *     does — tags each row `import` or `held`; one anti-join against
    *     the main table, read only inside the summary's key range, drops
    *     keys already imported from both sides; rows are deduplicated per
    *     side by key and written once, in the batch's column order,
    *     partitioned by the tag and by `day` (`to_date(ts)`), to
    *     `stagingDir/spill` (4 jobs: two broadcasts, the shuffle, the
    *     write).
    *  3. Feed: one `toLocalIterator` pass over the import side hands the
    *     ids to `onImported` in chunks of at most [[IdChunkSize]] and
    *     gathers the landed groups for `onGroupsImported` (1 job;
    *     [[ImportFeed.subscriber]] writes its chunks on the driver).
    *  4. Move: the import side's files are renamed into
    *     `tableDir/day=<d>/` — the spill already has the table's layout,
    *     so there is no append job and no re-read; then `onGroupsImported`
    *     fires. The held side's files are renamed out of their `day=` dirs
    *     (the day goes into the file name: one write task names its files
    *     alike in every dir), it gets its `_SUCCESS` marker and is renamed
    *     to `v=<batchId>`, the new committed snapshot; older snapshots and
    *     the spill are deleted. Every rename that fails, or whose target
    *     exists, throws.
    *
    * Crash safety follows from that order. Every plan that reads
    * `tableDir` runs in step 2, before any file moves into it (adding
    * files to a path a live plan reads would refresh its file index
    * mid-scan). The feed leads the table: a crash after step 3 replays
    * the batch, whose ids the feed already holds. A crash in the middle
    * of the moves is the case of a crash in the middle of a committer's
    * job commit: some files have landed, and the replay — which deletes
    * the old spill first — re-derives an import side from which the
    * anti-join drops what already landed; a group stays complete, since
    * the summary counts `combined`, not the table. A crash before the
    * snapshot rename leaves the previous `v=` snapshot committed — a new
    * snapshot is written, then renamed, never overwritten in place — so
    * held-back rows are never lost, and under Spark's at-least-once batch
    * replay the main-table anti-join keeps the import idempotent.
    *
    * Scale: the summary and the landed groups are bounded by the groups of
    * one batch; ids reach the driver a chunk at a time; the main-table
    * anti-join reads only the `key` column inside the batch's key range
    * (parquet column pruning and row-group pruning), as the reference
    * bounds its NOT EXISTS with the staging block range.
    */
  def importGatedBatch(batch: DataFrame, batchId: Long, tableDir: String,
      stagingDir: String, key: String = "event_id", groupCol: String,
      declaredCol: String,
      onImported: (Long, Iterator[Long]) => Unit = NoOpOnImported,
      onGroupsImported: (Long, Iterator[Long]) => Unit = NoOpOnImported): Unit = {
    val spark = batch.sparkSession
    val fs = FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val staged = latestStagingVersion(spark, stagingDir) match {
      case Some(v) => spark.read.schema(batch.schema).parquet(s"$stagingDir/v=$v")
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    }
    val combined = batch.unionByName(staged).persist()
    try {
      // 1. summary — hash-partitioning by group first lets the distinct
      // count and the group aggregate share one shuffle
      val summary = combined.repartition(col(groupCol)).groupBy(col(groupCol))
        .agg((count_distinct(col(key)) === max(col(declaredCol))).as("complete"),
          min(col(key)), max(col(key)))
        .collect()
      val completeSet = summary.filter(r => !r.isNullAt(0) && !r.isNullAt(1) && r.getBoolean(1))
        .map(r => org.apache.spark.sql.Row(r.get(0)))
      val keyOrder: Ordering[Any] = (a, b) => a.asInstanceOf[Comparable[Any]].compareTo(b)
      val bounds = summary.flatMap(r => Seq(r.get(2), r.get(3))).filter(_ != null)
      // 2. spill
      val completeGroups = broadcast(spark.createDataFrame(
        java.util.Arrays.asList(completeSet: _*),
        org.apache.spark.sql.types.StructType(Seq(combined.schema(groupCol).copy(name = Gate)))))
      val gated = combined.join(completeGroups, combined(groupCol) === completeGroups(Gate), "left")
        .select(combined.columns.toSeq.map(combined(_)) :+
          when(completeGroups(Gate).isNotNull, "import").otherwise("held").as(Gate): _*)
      val unseen =
        if (bounds.isEmpty || !fs.exists(new Path(tableDir))) gated
        else gated.join(spark.read.schema(batch.schema).parquet(tableDir)
          .where(col(key).between(bounds.min(keyOrder), bounds.max(keyOrder)))
          .select(key), Seq(key), "left_anti")
      val spill = new Path(s"$stagingDir/spill")
      fs.delete(spill, true) // a crashed call's leftovers
      val deduped = unseen.dropDuplicates(Gate, key)
      deduped.select(batch.columns.toSeq.map(deduped(_)) :+ deduped(Gate) :+
          to_date(deduped("ts")).as(Day): _*)
        .write.mode("overwrite").partitionBy(Gate, Day).parquet(spill.toString)
      // 3. feed, then 4. move — both only when some group completed
      val importSide = new Path(spill, s"$Gate=import")
      if (fs.exists(importSide)) {
        val landed = broadcastIds(spark.read.schema(batch.schema).parquet(importSide.toString),
          batchId, key, onImported, Option.when(onGroupsImported ne NoOpOnImported)(groupCol))
        spillFiles(fs, importSide).foreach { case (dayDir, file) =>
          val target = new Path(tableDir, dayDir.getName)
          fs.mkdirs(target)
          move(fs, file, new Path(target, file.getName))
        }
        // the per-block "written" signal (Statistics.cs:24
        // TrackBlockWritten), fired after the move so its duration
        // covers the full enter→written arc; replays re-fire, which the
        // consumer's remove-once semantics absorb
        if (landed.nonEmpty) onGroupsImported(batchId, landed.iterator)
      }
      // flatten the held side out of its day dirs (one write task names
      // its file alike in every day dir, so the day goes into the name),
      // commit it as the new snapshot by rename (atomic), then prune older
      // ones; with no held rows the snapshot is empty
      val heldSide = new Path(spill, s"$Gate=held")
      fs.mkdirs(heldSide)
      spillFiles(fs, heldSide).groupBy(_._1).foreach { case (dayDir, files) =>
        val day = dayDir.getName.stripPrefix(s"$Day=")
        files.foreach { case (_, file) =>
          move(fs, file, new Path(heldSide, s"part-$day-${file.getName.stripPrefix("part-")}"))
        }
        fs.delete(dayDir, true)
      }
      fs.create(new Path(heldSide, "_SUCCESS"), true).close()
      val committed = new Path(s"$stagingDir/v=$batchId")
      fs.delete(committed, true) // replay leftovers
      move(fs, heldSide, committed)
      fs.listStatus(new Path(stagingDir)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .filter(_.getPath.getName.stripPrefix("v=").toLong < batchId)
        .foreach(s => fs.delete(s.getPath, true))
      fs.delete(spill, true)
      ()
    } finally { combined.unpersist(); () }
  }

  /** Streaming wrapper for [[importGatedBatch]] — the micro-batch twin of
    * the reference's poll-loop `import_from_staging()` call.
    */
  def startGatedImport(
      deduped: DataFrame,
      tableDir: String,
      stagingDir: String,
      checkpointDir: String,
      groupCol: String,
      declaredCol: String,
      key: String = "event_id",
      onImported: (Long, Iterator[Long]) => Unit = NoOpOnImported,
      onGroupsImported: (Long, Iterator[Long]) => Unit = NoOpOnImported
  ) =
    deduped.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        importGatedBatch(batch, batchId, tableDir, stagingDir, key, groupCol,
          declaredCol, onImported, onGroupsImported)
      }
      .start()

  /** Post-import gap monitor (`Sources/GapSource.cs:14`): after imports,
    * diff the imported key sequence against its contiguous span and hand the
    * missing ranges to a re-request callback — the reference re-emits these
    * block numbers into the download pipeline. Uses the scalable anti-join
    * gap operator, not a global window.
    */
  def checkGaps(spark: SparkSession, tableDir: String)(reRequest: Array[(Long, Long)] => Unit): Unit = {
    val imported = spark.read.parquet(tableDir).select("event_id")
    val gaps = graft.operators.Integrity.gaps(imported, "event_id")
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    if (gaps.nonEmpty) reRequest(gaps)
  }

  /** Does `dir` hold at least one COMMITTED parquet part file (recursing
    * into partition dirs; in-flight temp/hidden files don't count)? The
    * nothing-imported-yet probe for [[reimportFrom]] and the import loop's
    * resume frontier: a reorg can land while the FIRST append is still in
    * flight, leaving the dir with only temp files and no committed footer.
    * Probing the FS directly (instead of catching AnalysisException off
    * the read) keeps a genuinely unreadable/corrupt table LOUD — the r12
    * ADVICE find: the broad catch silenced corruption during a reorg and
    * served stale reorged rows with no signal.
    */
  private[graft] def committedParquetExists(spark: SparkSession, dir: String): Boolean = {
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val root = new org.apache.hadoop.fs.Path(dir)
    if (!fs.exists(root)) return false
    // manual walk SKIPPING _/. entries: a recursive listFiles would descend
    // into a live writer's _temporary dirs, whose files vanish mid-listing
    // (a probe racing an append must never throw on the writer's scratch)
    val stack = scala.collection.mutable.Stack(root)
    while (stack.nonEmpty) {
      val children =
        try fs.listStatus(stack.pop())
        catch { case _: java.io.FileNotFoundException => Array.empty[org.apache.hadoop.fs.FileStatus] }
      children.foreach { st =>
        val name = st.getPath.getName
        if (!name.startsWith("_") && !name.startsWith(".")) {
          if (st.isDirectory) stack.push(st.getPath)
          else if (name.endsWith(".parquet")) return true
        }
      }
    }
    false
  }

  /** Reorg handling (`Sources/ReorgSource.cs` + README "Reorgs"): delete all
    * data from the reorged key onward and let re-ingest repopulate. With a
    * day-partitioned table this is a partition-scoped overwrite, not a table
    * rewrite.
    */
  def reimportFrom(spark: SparkSession, tableDir: String, fromEventId: Long,
                   keyCol: String = "event_id"): Unit = {
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    // nothing committed means nothing to truncate; anything else that makes
    // the table unreadable must THROW, not silently keep stale reorged rows
    if (!committedParquetExists(spark, tableDir)) return
    val current = spark.read.parquet(tableDir)
    // Partitions holding any reorged row. Collecting *days* is a bounded
    // driver-side list (≈ reorg depth), not data.
    val affectedDays = current.where(col(keyCol) >= fromEventId)
      .select(col("day").cast("string")).distinct().collect().map(_.getString(0))
    if (affectedDays.isEmpty) return
    val survivors = current
      .where(col("day").cast("string").isin(affectedDays.toSeq: _*) && col(keyCol) < fromEventId)
      .cache()
    val survivorDays = survivors.select(col("day").cast("string")).distinct()
      .collect().map(_.getString(0)).toSet
    // Dynamic overwrite rewrites only partitions present in `survivors`...
    survivors.write.mode("overwrite").partitionBy("day").parquet(tableDir)
    // ...so partitions whose every row was reorged away must be dropped
    // explicitly (a metadata-only FS delete).
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    affectedDays.filterNot(survivorDays).foreach { d =>
      fs.delete(new org.apache.hadoop.fs.Path(s"$tableDir/day=$d"), true)
    }
    survivors.unpersist()
    ()
  }

  /** delete_incomplete_blocks (0.0.64.sql:1652): find the oldest group whose
    * imported child count is short of its declared total
    * ([[graft.operators.Integrity.firstIncomplete]]), then truncate every
    * stored table from that key onward so re-ingest repopulates a clean
    * prefix — the reference's cross-table DELETE cascade, expressed as one
    * [[reimportFrom]] (partition-scoped overwrite, never a table rewrite)
    * per store. Returns the cut, or None when every group is complete
    * (no-op, like the procedure's null `first_corrupt_block`).
    *
    * Note the complete-block GATED import makes this cleanup largely
    * preventive here (incomplete blocks never reach main); the procedure
    * exists for stores populated by the ungated path, exactly as in the
    * reference.
    */
  def deleteIncompleteBlocks(spark: SparkSession, tableDirs: Seq[String],
      children: DataFrame, groupCol: String, declaredCol: String): Option[Long] = {
    val cut = graft.operators.Integrity
      .firstIncomplete(children, groupCol, declaredCol).collect()(0) // 1 row
    if (cut.isNullAt(0)) None
    else {
      val c = cut.getLong(0)
      tableDirs.foreach(reimportFrom(spark, _, c, keyCol = groupCol))
      Some(c)
    }
  }
}
