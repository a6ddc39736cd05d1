package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** The min-value DELTA loop behind [[Dedup.dupClusters]] (and so
  * [[Graph.connectedComponents]]), the forward/backward label loops of
  * [[Graph.stronglyConnectedComponents]], and [[Graph.temporalReach]].
  *
  * Each state row (key, v) only ever decreases, so a row whose value did
  * not improve last round already delivered that value to every
  * neighbor: messages flow only out of the rows that improved (the
  * delta), and late rounds shuffle frontier-sized message sets instead
  * of the whole state while every merge equals the all-rows spelling.
  *
  * One round is one merge of the state with the delta's messages, cut
  * eagerly by the caller's [[Checkpoints.cut]] closure. Each round
  * references the previous state twice (the message step and the merge),
  * so without the cut the plan tree doubles per round. The convergence
  * probe rides a per-call `LongAccumulator` ticked by the merge
  * projection for every improved row during that one materialization, so
  * there is no separate count job per round; a task retry can only
  * over-tick, which costs one extra, then truly empty, round and never
  * misses a change. Once a round is materialized the previous round's
  * frame is superseded and released, so executor storage stays flat in
  * the round count. Running out of `maxIters` fails loud: a partial
  * fixpoint is a silently wrong answer.
  *
  * The loop keeps no state between calls: SCC runs two of them at once on
  * two driver threads.
  */
object Fixpoint {

  /** Iterate `init` to its fixpoint and return the final (key, v) frame.
    *
    * @param init     the (key, v) state before round 1, not yet cut
    * @param step     delta ⇒ (key, cand): the messages sent by the rows
    *                 that improved last round
    * @param how      the merge's join type: "left" when every key is in
    *                 `init`, "full_outer" when messages can reach new keys
    * @param value    the merged value, over the state's `v` column and
    *                 the message's candidate column
    * @param improved true where the merge lowered (or first set) `v`
    * @param cut      the caller's lineage cut; must materialize on return
    */
  def minDelta(init: DataFrame, step: DataFrame => DataFrame, how: String,
               value: Column, improved: Column, maxIters: Int, name: String,
               cut: DataFrame => DataFrame): DataFrame = {
    val Array(key, v) = init.columns
    val sc = init.sparkSession.sparkContext
    var state = cut(init)
    var delta = state
    var prevCut = state
    var changed = -1L // unknown until the first probe
    var i = 0
    while (changed != 0 && i < maxIters) {
      i += 1
      val acc = sc.longAccumulator(s"graft-$name-delta")
      val tick = udf { () => { acc.add(1L); true } }.asNondeterministic()
      val merged = cut(state.join(step(delta), Seq(key), how)
        .select(col(key), value.as(v),
          when(improved, tick()).otherwise(lit(false)).as("ch")))
      changed = acc.value
      // the final round's frame stays: it IS the result
      Checkpoints.release(prevCut)
      prevCut = merged
      if (changed != 0) delta = merged.where(col("ch")).select(key, v)
      state = merged.select(key, v)
    }
    if (changed != 0) sys.error(
      s"$name: did not converge within maxIters=$maxIters rounds " +
        "(the propagation depth exceeds the budget)")
    state
  }
}
