package graft.operators

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.DataFrame

/** Lineage-cut policy for the iterative operators. The DataFrame loops
  * use [[cut]] on frames: [[Graph]]'s widestPaths, hits, kCore, bfsHops,
  * labelPropagation, hyperBallBoth, betweenness and randomWalks, the
  * [[Fixpoint.minDelta]] loops (stronglyConnectedComponents,
  * temporalReach and [[Dedup.dupClusters]]), [[Ann]]'s labelPropagation
  * and kCenterSample, and [[Node2Vec.trainSgns]]. The PageRank family
  * uses the RDD arm.
  *
  * A DataFrame cut is EAGER in both modes: every row is materialized when
  * [[cut]] returns, so a loop may read an accumulator its projection
  * ticked, or [[release]] the previous round, right after the cut.
  *
  * Default (no `checkpointDir`): eager `localCheckpoint` per round — flat
  * plans (the 2^n-lineage rule), zero external storage. The blocks live in
  * EXECUTOR storage though, and localCheckpoint TRUNCATES lineage, so at
  * cluster scale one lost executor mid-iteration kills the job — fine on
  * local[32] and for short loops, not for a 1000-executor hour-long run.
  *
  * With `checkpointDir` set (an HDFS/object-store path at cluster scale):
  * every `every`-th cut is a RELIABLE eager `checkpoint()` to that
  * directory, and the cuts in between are `persist()` plus a `count()`
  * that fills the cache, with lineage intact, so a lost executor
  * recomputes from the last reliable checkpoint instead of failing the
  * job. The cost: one distributed write per `every` rounds, and lineage
  * that grows for up to `every` rounds between reliable cuts (bounded —
  * for a loop that references its state twice per round the recompute
  * tree is ≤ 2^every nodes, so keep `every` modest; 5 ≈ 32-node plans).
  *
  * The RDD arm serves loops whose state is co-partitioned pair RDDs, so
  * that a round adds one shuffle and no job ([[Graph.pageRank]],
  * [[Graph.pageRankWeighted]], [[Graph.personalizedPageRank]]). By
  * default it cuts only the loop-invariant frame (round 0) and leaves the
  * rounds to run as one lineage in the consumer's job; with a directory it
  * checkpoints that frame and every `every`-th round reliably.
  *
  * Results are knob-INDEPENDENT (spec'd in CheckpointKnobSpec): the policy
  * changes where blocks live, never what is computed.
  */
object Checkpoints {

  /** Cut `df`'s lineage per the policy and return it MATERIALIZED, in
    * both modes. `round` 0 is the pre-loop frame (always reliably
    * checkpointed when a dir is set — everything chains from it); rounds
    * 1.. are loop iterations.
    */
  def cut(df: DataFrame, round: Int, checkpointDir: Option[String],
          every: Int = 5): DataFrame = {
    require(every >= 1, s"checkpoint every < 1: $every")
    checkpointDir match {
      case Some(dir) =>
        useDir(df.sparkSession.sparkContext, dir)
        if (round % every == 0) df.checkpoint(true)
        else { val out = df.persist(); out.count(); out }
      case None => df.localCheckpoint(true)
    }
  }

  /** The RDD arm of [[cut]]. `round` 0 is the loop-invariant RDD the
    * rounds join against; rounds 1.. are loop states.
    *
    * Default: round 0 is marked for a `localCheckpoint` and the rounds are
    * left alone, so their lineage grows by one shuffle a round and no job.
    * A mark lands with the first action over the RDD: the caller runs one
    * (its set-up count) right after cutting round 0.
    *
    * With `checkpointDir`: round 0 and every `every`-th round are persisted
    * and marked for a reliable `checkpoint()`. Rounds 1.. are materialized
    * at once by a count, because a cut that waited for the consumer's job
    * would not shorten that job's lineage.
    */
  def cut[T](rdd: RDD[T], round: Int, checkpointDir: Option[String],
             every: Int): RDD[T] = {
    require(every >= 1, s"checkpoint every < 1: $every")
    checkpointDir match {
      case Some(dir) if round % every == 0 =>
        useDir(rdd.sparkContext, dir)
        rdd.persist().checkpoint()
        if (round > 0) rdd.count()
      case None if round == 0 => rdd.localCheckpoint()
      case _ =>
    }
    rdd
  }

  private def useDir(sc: SparkContext, dir: String): Unit =
    if (!sc.getCheckpointDir.contains(dir)) sc.setCheckpointDir(dir)

  /** Free the storage behind a frame [[cut]] returned, once it is
    * SUPERSEDED — the new round's frame is materialized with no lineage
    * back to this one. Without this, a long loop's executor-storage
    * footprint grows linearly with round count (one sketch/arrival frame
    * per round). localCheckpoint frames are invisible to the CacheManager
    * (`Dataset.unpersist` is a no-op on them), so the backing RDD inside
    * the LogicalRDD is unpersisted directly; CacheManager-persisted
    * frames go through the normal unpersist path; reliable-checkpoint
    * frames keep their files (unpersisting the wrapper RDD is harmless).
    * NEVER call this on a frame a live plan still depends on: a
    * localCheckpoint's lineage is truncated, so its blocks cannot be
    * recomputed.
    */
  def release(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case lr: org.apache.spark.sql.execution.LogicalRDD =>
        lr.rdd.unpersist(blocking = false)
      case _ => df.unpersist(blocking = false)
    }
}
