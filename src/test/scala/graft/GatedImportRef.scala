package graft

import graft.streaming.EventPipeline
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-only parity reference for [[EventPipeline.importGatedBatch]]: the
  * earlier job chain, kept verbatim so `GatedImportSpec` can drive both
  * implementations over the same batch sequences and compare the table,
  * the feed, the landed groups and the staging snapshot.
  *
  * It runs each step as its own plan: a key-range collect, the
  * complete-group aggregate twice (once for the import side, once for the
  * held side), two spill writes that each anti-join the main table, the
  * id pass, the append and a `distinct().collect()` of the landed groups —
  * about twice the Spark jobs of the production path.
  */
object GatedImportRef {

  def importGatedBatch(batch: DataFrame, batchId: Long, tableDir: String,
      stagingDir: String, key: String = "event_id", groupCol: String,
      declaredCol: String,
      onImported: (Long, Iterator[Long]) => Unit = EventPipeline.NoOpOnImported,
      onGroupsImported: (Long, Iterator[Long]) => Unit = EventPipeline.NoOpOnImported): Unit = {
    val spark = batch.sparkSession
    val fs = org.apache.hadoop.fs.FileSystem.get(spark.sparkContext.hadoopConfiguration)
    val staged = EventPipeline.latestStagingVersion(spark, stagingDir) match {
      case Some(v) => spark.read.schema(batch.schema).parquet(s"$stagingDir/v=$v")
      case None => spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], batch.schema)
    }
    val combined = batch.unionByName(staged).persist()
    try {
      val completeKeys = combined.groupBy(col(groupCol))
        .agg(count_distinct(col(key)).as("_n"), max(col(declaredCol)).as("_declared"))
        .where(col("_n") === col("_declared"))
        .select(groupCol)
      val candidates = combined.join(completeKeys, Seq(groupCol), "left_semi")
        .dropDuplicates(key)
      // bound the already-imported check to this batch's key range, like
      // the reference bounds its NOT EXISTS to the staging block range
      // (ImportProcedure.cs): keys outside [lo, hi] cannot collide, and the
      // range predicate pushes down to the parquet scan (row-group pruning)
      // so the anti-join never reads the whole key frontier
      val bounds = combined.agg(min(col(key)).as("lo"), max(col(key)).as("hi")).collect()(0)
      val mainKeys =
        if (fs.exists(new org.apache.hadoop.fs.Path(tableDir)) && !bounds.isNullAt(0))
          Some(spark.read.schema(batch.schema).parquet(tableDir)
            .where(col(key).between(bounds.get(0), bounds.get(1)))
            .select(key))
        else None
      val toImport = mainKeys.fold(candidates)(mk =>
        candidates.join(mk, Seq(key), "left_anti"))
      // Both writes below are staged OUTSIDE the table first: the anti-joins
      // read tableDir, and appending to a path a live plan reads refreshes
      // its cached file index mid-flight (the relation was resolved against
      // the pre-write partition layout — Spark then fails the scan). Every
      // tableDir-reading plan therefore executes BEFORE the append.
      val spillImport = s"$stagingDir/_import_spill"
      val spillHeld = s"$stagingDir/_held_spill"
      toImport.write.mode("overwrite").parquet(spillImport)
      val stable = spark.read.schema(batch.schema).parquet(spillImport)
      // held = rows of incomplete groups, minus anything already imported
      // (the reference purges imported staging rows — a re-received copy of
      // an imported row must not sit in staging forever; its siblings live
      // in main, so its group can never complete from staging alone)
      val held = combined.join(completeKeys, Seq(groupCol), "left_anti")
        .dropDuplicates(key)
      mainKeys.fold(held)(mk => held.join(mk, Seq(key), "left_anti"))
        .write.mode("overwrite").parquet(spillHeld)
      // feed BEFORE the table append: a crash anywhere after this line
      // replays the batch, re-derives the same toImport set (or an empty
      // one if the append landed) — either way the feed already holds the
      // batch's ids, and a re-broadcast only adds dedupable duplicates.
      // Broadcasting AFTER the append would open the loss window the feed
      // contract forbids (append lands → crash → replay broadcasts nothing)
      EventPipeline.broadcastIds(stable, batchId, key, onImported)
      // append AFTER the staging spill is on disk: if we crash here, the
      // previous v= snapshot is still committed and a replay re-derives
      // everything (the main anti-join discards what the append landed)
      stable.withColumn("day", to_date(col("ts")))
        .write.mode("append").partitionBy("day").parquet(tableDir)
      // the groups whose rows just LANDED — the per-block "written" signal
      // (Statistics.cs:24 TrackBlockWritten). Bounded: distinct groups of
      // one micro-batch. Fired after the append so the duration covers the
      // full enter→written arc; replays re-fire, which the consumer's
      // remove-once semantics absorb.
      if (onGroupsImported ne EventPipeline.NoOpOnImported) {
        val groups = stable.select(col(groupCol).cast("long"))
          .distinct().collect().map(_.getLong(0))
        if (groups.nonEmpty) onGroupsImported(batchId, groups.iterator)
      }
      // commit the new snapshot by rename (atomic), then prune older ones
      val committed = new org.apache.hadoop.fs.Path(s"$stagingDir/v=$batchId")
      fs.delete(committed, true) // replay leftovers
      fs.rename(new org.apache.hadoop.fs.Path(spillHeld), committed)
      fs.listStatus(new org.apache.hadoop.fs.Path(stagingDir)).toSeq
        .filter(s => s.isDirectory && s.getPath.getName.startsWith("v="))
        .filter(_.getPath.getName.stripPrefix("v=").toLong < batchId)
        .foreach(s => fs.delete(s.getPath, true))
      fs.delete(new org.apache.hadoop.fs.Path(spillImport), true)
      ()
    } finally { combined.unpersist(); () }
  }
}
