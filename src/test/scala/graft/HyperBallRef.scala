package graft

import graft.operators.{Checkpoints, Graph}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Test-only parity reference for [[graft.operators.Graph.hyperBallBoth]]:
  * the two standalone HyperBall sweeps it fuses, kept so `HyperBallSpec`
  * can compare the fused sweep's two outputs with them bit for bit.
  *
  * The bodies are the earlier `src/main` operators unchanged, except that
  * harmonicCentrality's private eager cut is now plain [[Checkpoints.cut]],
  * which materializes in both modes.
  */
object HyperBallRef {

  /** Approximate NEIGHBORHOOD FUNCTION — NF(t) = Σᵤ |ball(u, t)|, the
    * number of (source, reachable) pairs within t hops — via per-node
    * HyperLogLog registers merged along edges: the HyperBall algorithm
    * (Boldi–Vigna WWW'11; Palmer et al. KDD'02's ANF is the same algebra
    * over FM bitmasks). This is the SCALE PATH next to [[reachCounts]]'s
    * exact frontier sets: the exact operator shuffles the reachable-set
    * *members* (O(Σ|ball|) rows — fine for bounded hops, quadratic on a
    * dense giant component), while a sketch here is `numRegs` small ints
    * (64 B/node at the default) no matter how big the ball gets, and a
    * round is ONE (dst-keyed join + per-register max partial agg). From
    * NF(t) fall out the classic distance summaries: effective diameter
    * (smallest t with NF(t) ≥ 0.9·NF(∞)), average distance, connectivity
    * growth — on graphs where any exact method drowns.
    *
    * Round t: reg_j(u,t) = max(reg_j(u,t−1), max over out-neighbors) —
    * element-wise max is associative/commutative/idempotent, so partial
    * aggs are exact and the fixpoint is partition-independent; with the
    * xxhash64-derived registers the whole run is bit-deterministic (same
    * estimates every rerun, any partitioning). Estimates use the standard
    * HLL pipeline: raw = α·m²/Σ2^{−M_j} with the linear-counting
    * small-range correction m·ln(m/V) (raw ≤ 2.5m, V = empty registers) —
    * tiny balls come out near-exact instead of FM's ~1.8× small-set bias.
    * Expected HLL error ~1.04/√numRegs per ball (spec'd vs exact BFS).
    * Per-t NF and the convergence probe share ONE 1-row agg job on the
    * just-materialized registers — no separate count() action (the SCC
    * lesson).
    */
  def neighborhoodFunction(edges: DataFrame, maxT: Int = 16, numRegs: Int = 16,
                           checkpointDir: Option[String] = None,
                           checkpointEvery: Int = 5): DataFrame = {
    require(numRegs >= 16 && (numRegs & (numRegs - 1)) == 0,
      s"numRegs must be a power of two >= 16: $numRegs")
    val m = numRegs
    val spark = edges.sparkSession
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    val e = cut(edges.where(col("src") =!= col("dst"))
      .select("src", "dst").distinct(), 0).persist()
    val regs = (0 until m).map(j => s"r$j")
    var sketches = cut(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
        .select(col("node") +: Graph.hllInitRegs(regs, m): _*), 1)
    val estCol: Column = Graph.hllEst(regs.map(col), m)
    def stats(df: DataFrame, chCol: Column): (Double, Long, Long) = {
      val r = df.agg(sum(estCol).as("nf"), sum(chCol.cast("long")).as("ch"),
        count(lit(1)).as("n")).head()
      if (r.isNullAt(0)) (0.0d, 0L, 0L) // empty graph
      else (r.getDouble(0), r.getLong(1), r.getLong(2))
    }
    val buf = scala.collection.mutable.ArrayBuffer.empty[(Int, Double, Long)]
    val (nf0, _, n) = stats(sketches, lit(0))
    buf += ((0, nf0, n))
    var prevCut = sketches // the frame cut() last returned; superseded rounds release
    var t = 0
    var converged = false
    while (!converged && t < maxT) {
      t += 1
      val msgs = e
        .join(sketches.withColumnRenamed("node", "dst"), "dst")
        .groupBy(col("src").as("node"))
        .agg(max(col(regs.head)).as(regs.head),
          regs.tail.map(r => max(col(r)).as(r)): _*)
      val merged = cut(sketches.as("a")
        .join(msgs.as("b"), Seq("node"), "left")
        .select(col("node") +: regs.map(r =>
          greatest(col(s"a.$r"), coalesce(col(s"b.$r"), lit(0))).as(r)) :+
          regs.map(r => col(s"a.$r") <
            coalesce(col(s"b.$r"), lit(0))).reduce(_ || _).as("ch"): _*),
        t + 1)
      val (nf, ch, _) = stats(merged, col("ch"))
      // merged is materialized (stats just ran on it), so round t−1's
      // sketch blocks are dead — release them or executor storage grows
      // linearly with rounds
      Checkpoints.release(prevCut)
      prevCut = merged
      buf += ((t, nf, ch))
      sketches = merged.drop("ch")
      converged = ch == 0L
    }
    e.unpersist()
    // the NF curve lives in `buf` (driver rows) — the final sketch frame
    // has no consumer either
    Checkpoints.release(prevCut)
    import spark.implicits._
    // an empty graph has no NF curve — emit NO rows (empty-input totality),
    // not a t=0 summary of nothing
    val rows = if (n == 0L) Seq.empty[(Int, Double, Long)] else buf.toSeq
    rows.toDF("t", "nf_raw", "changed_nodes")
      .select(col("t"), round(col("nf_raw"), 4).as("nf_est"),
        round(col("nf_raw") / lit(math.max(n, 1L).toDouble), 4).as("avg_ball_est"),
        col("changed_nodes"))
      .orderBy("t")
  }

  /** Approximate HARMONIC CENTRALITY per node via the same HyperBall sweep
    * as [[neighborhoodFunction]]: h(u) = Σ_{v reachable, v≠u} 1/d(u,v),
    * folded incrementally as Σ_t (|B(u,t)|−|B(u,t−1)|)/t — each round's
    * ball GROWTH is the shell of new nodes at exactly distance t (Boldi–
    * Vigna's centrality pass). The "who is close to everything" score
    * that, unlike closeness, is total on disconnected graphs (unreachable
    * nodes contribute 0, not ∞). NOTE on direction: this scores u by the
    * set u REACHES along src→dst; classic harmonic centrality ("who can
    * reach u") is the same call on the REVERSED edge list — the caller
    * picks the orientation, exactly as the HyperBall paper does.
    *
    * Same scale shape as the NF sweep — per round ONE dst-keyed join +
    * per-register max partial agg, sketches 64 B/node + one running
    * double — with the shell delta computed IN the merge projection (old
    * and new registers are both in the join row, so no extra pass); the
    * delta clamps at 0 where the HLL estimate's linear-counting boundary
    * would locally dip (max-merge registers are monotone, the corrected
    * estimate is not perfectly so). Deterministic like the sweep; ~26%
    * per-ball error at m=16 — ranking quality spec'd, not hash-free.
    */
  def harmonicCentrality(edges: DataFrame, maxT: Int = 16, numRegs: Int = 16,
                         checkpointDir: Option[String] = None,
                         checkpointEvery: Int = 5): DataFrame = {
    require(numRegs >= 16 && (numRegs & (numRegs - 1)) == 0,
      s"numRegs must be a power of two >= 16: $numRegs")
    val m = numRegs
    val sc = edges.sparkSession.sparkContext
    val cutRound = new java.util.concurrent.atomic.AtomicInteger(0)
    def cut(df: DataFrame): DataFrame =
      Checkpoints.cut(df, cutRound.incrementAndGet(), checkpointDir, checkpointEvery)
    val e = cut(edges.where(col("src") =!= col("dst"))
      .select("src", "dst").distinct()).persist()
    val regs = (0 until m).map(j => s"r$j")
    var sketches = cut(
      e.select(col("src").as("node"))
        .unionByName(e.select(col("dst").as("node"))).distinct()
        .select((col("node") +: Graph.hllInitRegs(regs, m)) :+ lit(0.0d).as("h"): _*))
    var prevCut = sketches // superseded rounds release (linear-growth guard)
    var t = 0
    var converged = false
    while (!converged && t < maxT) {
      t += 1
      // ONE job per round: the merge materialization carries the shell
      // fold AND the convergence probe (accumulator ticked per grown row
      // — the SCC lesson: no separate agg/count action; a task retry can
      // only over-tick, costing one extra, then truly empty, round)
      val acc = sc.longAccumulator("graft-harmonic-delta")
      val tick = udf { () => { acc.add(1L); true } }.asNondeterministic()
      val msgs = e
        .join(sketches.withColumnRenamed("node", "dst").drop("h"), "dst")
        .groupBy(col("src").as("node"))
        .agg(max(col(regs.head)).as(regs.head),
          regs.tail.map(r => max(col(r)).as(r)): _*)
      val mergedRegs = regs.map(r =>
        greatest(col(s"a.$r"), coalesce(col(s"b.$r"), lit(0))))
      val shell = greatest(
        Graph.hllEst(mergedRegs, m) - Graph.hllEst(regs.map(r => col(s"a.$r")), m),
        lit(0.0d))
      val grew = regs.map(r => col(s"a.$r") <
        coalesce(col(s"b.$r"), lit(0))).reduce(_ || _)
      val merged = cut(sketches.as("a")
        .join(msgs.as("b"), Seq("node"), "left")
        .select((col("node") +:
          mergedRegs.zip(regs).map { case (c, r) => c.as(r) }) ++ Seq(
          (col("a.h") + shell / lit(t.toDouble)).as("h"),
          when(grew, tick()).otherwise(lit(false)).as("ch")): _*))
      // merged was eagerly materialized (the probe read its accumulator),
      // so round t−1's sketch blocks are dead — the final round's frame
      // stays (it IS the result)
      Checkpoints.release(prevCut)
      prevCut = merged
      sketches = merged.drop("ch")
      converged = acc.value == 0L
    }
    e.unpersist()
    sketches.select(col("node"), round(col("h"), 4).as("harmonic_est"))
      .orderBy(col("harmonic_est").desc, col("node"))
  }
}
