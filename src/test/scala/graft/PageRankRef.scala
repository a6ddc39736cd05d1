package graft

import graft.operators.Checkpoints
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Test-only parity reference for the PageRank family of
  * [[graft.operators.Graph]]: the earlier DataFrame loops, kept verbatim so
  * `PageRankParitySpec` can drive both implementations over the same graphs
  * and compare the collected rows exactly.
  *
  * Each round is a DataFrame plan cut by an eager [[Checkpoints.cut]]: an
  * edges⋈ranks join, a partial-agg sum and a left join back to the node
  * set, about six Spark jobs a round, against none for the production
  * power iteration (`PageRankJobsSpec`).
  */
object PageRankRef {

  /** PageRank over the trust graph — the "who does the network vouch for"
    * centrality a social-currency UI ranks accounts by (trust edges are
    * endorsements; rank flows along them). Fixed-iteration power method:
    *
    *   r_{t+1}(v) = (1−d)/N + d·Σ_{u→v} r_t(u)/outdeg(u)
    *
    * Dangling-node mass is dropped (not redistributed) — the deterministic
    * variant an unrolled SQL twin can express; ranks then sum to < 1,
    * which only rescales the ordering. Ranks are rounded to 12 decimals
    * EVERY iteration on both engines, so cross-engine double-sum ulp drift
    * cannot compound across rounds.
    *
    * Scale shape, per iteration: one join of edges⋈ranks on src (edges
    * pre-partitioned by src once, outside the loop), one partial-agg sum
    * shuffle on dst, one co-partitioned left join back to the node set —
    * payload is (node, double) pairs regardless of graph size. Eager
    * localCheckpoint per round keeps the plan flat (the 2^n-lineage rule);
    * iteration count is a fixed knob, not data-dependent. Hub skew lives
    * in the dst-sum, which partial-aggregates map-side — the hot key
    * arrives at its reducer once per map partition.
    *
    * Input `edges`: (src, dst, cap) — cap>0/self-loop normalization as
    * [[widestPaths]]; parallel edges collapse to one.
    */
  def pageRank(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
               checkpointDir: Option[String] = None,
               checkpointEvery: Int = 5): DataFrame = {
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    val e = cut(edges
      .where(col("cap") > 0 && col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .repartition(col("src")), 0)
    val nodes = cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(), 0)
    // degree is loop-INVARIANT: join it onto the edge frame once, outside
    // the loop (one materialized (src, dst, deg) frame), instead of
    // re-joining e⋈outdeg every iteration — one shuffle join per
    // iteration gone, same contributions
    val eDeg = cut(e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src"), 0)
    val n = nodes.count() // bounded driver aggregate: one long
    var ranks = nodes.select(col("node"), round(lit(1.0d / n), 12).as("r"))
    for (it <- 1 to iters) {
      val contribs = eDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("r") / col("deg")).as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = cut(nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          round(lit((1.0d - damping) / n) +
            lit(damping) * coalesce(col("s"), lit(0.0d)), 12).as("r")), it)
    }
    ranks.orderBy(col("r").desc, col("node"))
  }

  /** WEIGHTED PageRank: rank flows proportional to edge WEIGHT instead of
    * uniformly over out-edges — on the trust graph the weight is the
    * trust LIMIT (capacity), so an account vouched for with 100%-limit
    * edges outranks one collecting many 1%-limit edges the unweighted
    * variant treats identically. The capacity-aware reading of 4j, over
    * exactly the edge frame the capacity views produce.
    *
    *   r_{t+1}(v) = (1−d)/N + d·Σ_{u→v} r_t(u)·w(u,v)/W(u),  W(u) = Σ_v w(u,v)
    *
    * Determinism contract as [[pageRank]] plus the HITS sum rule: each
    * edge's contribution rounds to 12 dp and sums as decimal(28,14)
    * (cross-engine exact), ranks round to 12 dp per iteration. Scale
    * shape identical to [[pageRank]] — the weight rides the edge row;
    * parallel edges collapse to max weight (the capacity-graph
    * convention).
    */
  def pageRankWeighted(edges: DataFrame, iters: Int = 5, damping: Double = 0.85,
                       checkpointDir: Option[String] = None,
                       checkpointEvery: Int = 5): DataFrame = {
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    val e = cut(edges
      .where(col("cap") > 0 && col("src") =!= col("dst"))
      .groupBy("src", "dst").agg(max(col("cap")).as("w"))
      .repartition(col("src")), 0)
    val nodes = cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(), 0)
    // loop-invariant weight total joined onto the edges ONCE (the
    // [[pageRank]] eDeg discipline)
    val eW = cut(e.join(e.groupBy("src").agg(sum(col("w")).as("wout")), "src"), 0)
    val n = nodes.count() // bounded driver aggregate: one long
    var ranks = nodes.select(col("node"), round(lit(1.0d / n), 12).as("r"))
    for (it <- 1 to iters) {
      val contribs = eW
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"),
          round(col("r") * col("w") / col("wout"), 12)
            .cast("decimal(28,14)").as("c"))
        .groupBy("node").agg(sum("c").cast("double").as("s"))
      ranks = cut(nodes.join(contribs, Seq("node"), "left")
        .select(col("node"),
          round(lit((1.0d - damping) / n) +
            lit(damping) * coalesce(col("s"), lit(0.0d)), 12).as("r")), it)
    }
    ranks.orderBy(col("r").desc, col("node"))
  }

  /** Personalized PageRank (random walk with restart): rank mass restarts
    * at a SEED set instead of uniformly — "who does the network vouch for,
    * as seen from these safes". The pathfinder-adjacent relevance ranking:
    * a wallet UI ranks candidate counterparties by PPR from the user's own
    * safe, and sybil clusters score near zero because the walk restarts
    * outside them.
    *
    *   r_{t+1}(v) = (1−d)·[v ∈ S]/|S| + d·Σ_{u→v} r_t(u)/outdeg(u)
    *
    * Same determinism contract as [[pageRank]]: dangling mass dropped (the
    * unrolled-SQL-expressible variant), ranks rounded to 12 decimals every
    * iteration so cross-engine ulp drift cannot compound. Scale shape is
    * identical — per iteration one edges⋈ranks join on pre-partitioned
    * src, one partial-agg dst sum, one co-partitioned join back; the seed
    * set rides as a broadcast flag join computed ONCE outside the loop
    * ((node, is_seed) pairs), and |S| is one bounded driver count.
    *
    * Input `edges`: (src, dst, cap), normalized as [[pageRank]]; `seeds`:
    * one `node` column (ids absent from the graph contribute restart mass
    * nowhere — they are dropped, matching the SQL twin's semi-join).
    */
  def personalizedPageRank(edges: DataFrame, seeds: DataFrame,
                           iters: Int = 5, damping: Double = 0.85,
                           checkpointDir: Option[String] = None,
                           checkpointEvery: Int = 5): DataFrame = {
    def cut(df: DataFrame, round: Int) =
      Checkpoints.cut(df, round, checkpointDir, checkpointEvery)
    val e = cut(edges
      .where(col("cap") > 0 && col("src") =!= col("dst"))
      .select("src", "dst").distinct()
      .repartition(col("src")), 0)
    val nodes = cut(e.select(col("src").as("node"))
      .union(e.select(col("dst").as("node"))).distinct(), 0)
    // loop-invariant degree joined onto the edges ONCE (the [[pageRank]]
    // eDeg discipline)
    val eDeg = cut(e.join(e.groupBy("src").agg(count(lit(1)).as("deg")), "src"), 0)
    val seedNodes = cut(nodes.join(seeds.select("node").distinct(),
      Seq("node"), "left_semi"), 0)
    val nSeeds = seedNodes.count() // bounded driver aggregate: one long
    if (nSeeds == 0) {
      // an empty graph has no ranks (total on empty input); seeds missing
      // from a NON-empty graph is caller error
      require(nodes.isEmpty, "personalizedPageRank: no seed intersects the graph")
      return nodes.select(col("node"), lit(0.0d).as("r"))
    }
    val flagged = cut(nodes
      .join(broadcast(seedNodes.withColumn("is_seed", lit(true))), Seq("node"), "left")
      .select(col("node"), coalesce(col("is_seed"), lit(false)).as("is_seed")), 0)
    val restart = when(col("is_seed"), lit(1.0d / nSeeds)).otherwise(lit(0.0d))
    var ranks = flagged.select(col("node"), round(restart, 12).as("r"))
    for (it <- 1 to iters) {
      val contribs = eDeg
        .join(ranks.withColumnRenamed("node", "src"), "src")
        .select(col("dst").as("node"), (col("r") / col("deg")).as("c"))
        .groupBy("node").agg(sum("c").as("s"))
      ranks = cut(flagged.join(contribs, Seq("node"), "left")
        .select(col("node"), col("is_seed"),
          round(lit(1.0d - damping) * restart +
            lit(damping) * coalesce(col("s"), lit(0.0d)), 12).as("r")), it)
    }
    ranks.select("node", "r").orderBy(col("r").desc, col("node"))
  }

}
